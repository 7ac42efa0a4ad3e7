"""Key-value store seam under the Zarr layer (IO10).

The reference reaches file/GCS/S3 through TensorStore's kvstore abstraction
(dataset.h:101-127; driver inference zarr_driver.h:225-274). This module is
that seam for our engine: every byte ZarrStore touches goes through a
``KVStore``, selected from the path's scheme:

  * bare paths / ``file://``  → ``LocalKVStore`` (os-level, atomic publish)
  * ``memory://<bucket>/…``   → ``MemoryKVStore`` (process-local dict; the
    fake filesystem the cloud-path unit tests run against)
  * ``http://`` / ``https://``  → ``HttpKVStore`` (stdlib urllib; real
    network GET/HEAD/PUT/DELETE with RFC 9110 ranged reads — no wheels;
    wrapped in RetryingKVStore by default like the cloud schemes)
  * ``gs://`` / ``s3://`` /
    any fsspec scheme          → ``FsspecKVStore`` when the ``fsspec`` wheel
    (plus gcsfs/s3fs) is importable; otherwise a clear NotImplementedError
    naming the missing wheel. Nothing else in the engine changes — the same
    chunk keys resolve over the cloud filesystem.

Instances are cheap and picklable-by-construction: executors rebuild them
from the root string (scan/write closures ship only (root, version)), so no
file handles or clients cross the serialization boundary.
"""

from __future__ import annotations

import itertools
import os
import threading

CLOUD_SCHEMES = ("gs://", "s3://", "gcs://", "s3a://", "abfs://", "abfss://", "az://")


class KVPreconditionFailed(Exception):
    """A conditional write (``write_if_match``) lost the race: the key's
    version tag changed since the caller read it. PERMANENT from the retry
    layer's point of view — re-sending the same stale payload can never
    succeed; the caller must re-read and re-derive."""


def _content_tag(data: bytes) -> str:
    """Deterministic version tag for backends that tag by content (local
    files have no server-assigned generation)."""
    import hashlib

    return '"' + hashlib.md5(data).hexdigest() + '"'


class KVStore:
    """Minimal store interface: string keys, bytes values, one-level listing."""

    root: str

    def read(self, key: str) -> bytes | None:
        raise NotImplementedError

    # -------------------------------------------------- conditional writes
    def read_with_tag(self, key: str) -> tuple:
        """``(value, version_tag)`` — the tag is an opaque string naming
        THIS version of the value (HTTP ETag / GCS generation / S3
        versionId analog), for later ``write_if_match``. Backends without
        version tracking return ``(value, None)``: read-modify-write on
        them stays last-writer-wins."""
        return self.read(key), None

    def write_if_match(self, key: str, data: bytes, tag) -> None:
        """Compare-and-swap publish: write only if the key's CURRENT
        version tag equals ``tag`` (``None`` = the key must not exist yet).
        Raises :class:`KVPreconditionFailed` when the tag is stale — the
        guard that turns a two-writer lost update on a read-modify-write
        document into a loud conflict. Backends that cannot check raise
        ``NotImplementedError`` and callers fall back to a plain write
        (documented last-writer-wins)."""
        raise NotImplementedError(
            f"{type(self).__name__} has no conditional-write support")

    def generation(self, key: str):
        """A cheap stamp of the key's current version, comparable with
        ``==``, or None. A stamp that differs from an earlier one means the
        value may have changed; None means the key is absent or this
        backend has no stamp, and tells ``ZarrStore`` never to cache the
        key's decoded chunk or parsed metadata. Only ``LocalKVStore``
        stamps: HTTP, memory and fsspec stores return None, so their reads
        are the same as without a cache."""
        return None

    def size(self, key: str) -> int | None:
        """Value size in bytes; None if absent. Object stores answer this
        with a HEAD request — no byte transfer."""
        data = self.read(key)
        return None if data is None else len(data)

    def read_range(self, key: str, start: int, length: int) -> bytes | None:
        """``length`` bytes from ``start`` (negative start = from the end,
        HTTP suffix-range style); None if the key is absent. Base fallback
        reads the whole value — subclasses override with real range I/O
        (seek locally, range GET via fsspec) so shard-index and inner-chunk
        fetches never pull the full shard object."""
        data = self.read(key)
        if data is None:
            return None
        if start < 0:
            start = max(0, len(data) + start)
        return data[start : start + length]

    def write(self, key: str, data: bytes) -> None:
        raise NotImplementedError

    def exists(self, key: str) -> bool:
        raise NotImplementedError

    def delete(self, key: str) -> bool:
        """Delete one key; False if absent."""
        raise NotImplementedError

    def list_dir(self, prefix: str = "") -> list[str]:
        """Sorted immediate child names under ``prefix`` (dirs and keys)."""
        raise NotImplementedError

    def delete_all(self) -> None:
        """Remove the whole store (kvstore::DeleteRange analog)."""
        raise NotImplementedError


# process-wide sequence for temp file names: next() on a C counter is
# atomic under the GIL, so no two writes of one process share a name
_TMP_SEQ = itertools.count()


class LocalKVStore(KVStore):
    def __init__(self, root: str):
        self.root = root

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key) if key else self.root

    def read(self, key: str) -> bytes | None:
        # four system calls (open, fstat, read, close) and no buffered file
        # object: each call drops and retakes the GIL, which the chunk
        # pool's threads contend for
        try:
            fd = os.open(self._path(key), os.O_RDONLY)
        except (FileNotFoundError, NotADirectoryError):
            return None
        try:
            size = os.fstat(fd).st_size
            data = os.read(fd, size)
            while len(data) < size:  # one read returns at most ~2 GiB
                more = os.read(fd, size - len(data))
                if not more:
                    break
                data += more
            return data
        finally:
            os.close(fd)

    def generation(self, key: str):
        """``os.stat`` → (device, inode, size, mtime_ns, ctime_ns), the
        kind of stamp TensorStore's file kvstore uses as its storage
        generation. ``write`` publishes by rename, so a write through this
        class gives the key a new inode; a rewrite in place moves mtime and
        ctime. What the stamp cannot see is a change that keeps the size,
        lands within one file-timestamp tick of the stamped version and
        keeps (or reuses) its inode number."""
        try:
            st = os.stat(self._path(key))
        except (FileNotFoundError, NotADirectoryError):
            return None
        return st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns

    def size(self, key: str) -> int | None:
        path = self._path(key)
        try:
            return os.path.getsize(path)
        except OSError:
            return None

    def read_range(self, key: str, start: int, length: int) -> bytes | None:
        path = self._path(key)
        try:
            with open(path, "rb") as f:
                if start < 0:
                    # Clamp a suffix read larger than the object to the whole
                    # object (HTTP Range suffix semantics). Without this, a
                    # present-but-truncated shard would hit OSError on the
                    # negative seek and read as ABSENT, silently synthesizing
                    # fill values where the whole-object path raises
                    # "shorter than its index".
                    size = os.fstat(f.fileno()).st_size
                    f.seek(max(-size, start), os.SEEK_END)
                else:
                    f.seek(start, os.SEEK_SET)
                return f.read(length)
        except (FileNotFoundError, NotADirectoryError):
            # absent, as in read(); any other OSError (a directory at the
            # key, EIO, EACCES) raises rather than reading as fill
            return None

    def write(self, key: str, data: bytes) -> None:
        path = self._path(key)
        os.makedirs(os.path.dirname(path) or self.root, exist_ok=True)
        # Unique tmp name per write: a speculative/zombie retry of the same
        # chunk task, or another thread writing the same key, must not
        # interleave into a shared tmp file and publish a torn chunk.
        # os.replace of a private tmp is last-writer-wins, atomic.
        tmp = f"{path}.{os.getpid()}.{next(_TMP_SEQ)}.tmp"
        try:
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):  # pragma: no cover - only on error paths
                try:
                    os.remove(tmp)
                except OSError:
                    pass

    def exists(self, key: str) -> bool:
        return os.path.exists(self._path(key))

    def read_with_tag(self, key: str) -> tuple:
        data = self.read(key)
        return data, (None if data is None else _content_tag(data))

    def write_if_match(self, key: str, data: bytes, tag) -> None:
        """Content-hash CAS. Best-effort locally: the compare and the
        rename are not one atomic step (no OS primitive for
        compare-content-and-swap), so a writer landing in that microsecond
        window is not caught — the authoritative backends for multi-writer
        stores are memory:// (locked) and HTTP (server-checked If-Match);
        this catches every interleaving coarser than the window, which is
        what local single-box concurrency produces."""
        current = self.read(key)
        current_tag = None if current is None else _content_tag(current)
        if current_tag != tag:
            raise KVPreconditionFailed(
                f"{self.root}/{key}: expected tag {tag!r}, "
                f"found {current_tag!r}")
        self.write(key, data)

    def delete(self, key: str) -> bool:
        try:
            os.remove(self._path(key))
            return True
        except FileNotFoundError:
            return False

    def list_dir(self, prefix: str = "") -> list[str]:
        path = self._path(prefix)
        if not os.path.isdir(path):
            return []
        return sorted(os.listdir(path))

    def delete_all(self) -> None:
        import shutil

        shutil.rmtree(self.root)


class MemoryKVStore(KVStore):
    """Shared in-process fake filesystem, addressed as ``memory://bucket/…``.
    Used by the cloud-path unit tests: exercises every non-local code path
    (scheme routing, prefix listing, no os.path anywhere) without a cloud
    SDK. Executor-side rebuild from the root string sees the same bucket
    only within one process — fine for local[n] Spark, which is where the
    tests run."""

    _buckets: dict[str, dict[str, bytes]] = {}
    _bucket_gens: dict[str, dict[str, int]] = {}
    _lock = threading.Lock()

    def __init__(self, root: str):
        self.root = root
        name = root[len("memory://"):].strip("/")
        with MemoryKVStore._lock:
            self._data = MemoryKVStore._buckets.setdefault(name, {})
            self._gens = MemoryKVStore._bucket_gens.setdefault(name, {})

    def read(self, key: str) -> bytes | None:
        return self._data.get(key)

    def write(self, key: str, data: bytes) -> None:
        with MemoryKVStore._lock:
            self._data[key] = bytes(data)
            # plain writes bump the generation too, so a CAS holding a tag
            # from before an unconditional overwrite correctly loses
            self._gens[key] = self._gens.get(key, 0) + 1

    def read_with_tag(self, key: str) -> tuple:
        with MemoryKVStore._lock:
            data = self._data.get(key)
            if data is None:
                return None, None
            return data, str(self._gens.get(key, 0))

    def write_if_match(self, key: str, data: bytes, tag) -> None:
        """Real CAS: compare and publish under one lock (the object-store
        generation-match semantics, GCS ifGenerationMatch analog)."""
        with MemoryKVStore._lock:
            current = (str(self._gens.get(key, 0))
                       if key in self._data else None)
            if current != tag:
                raise KVPreconditionFailed(
                    f"{self.root}/{key}: expected tag {tag!r}, "
                    f"found {current!r}")
            self._data[key] = bytes(data)
            self._gens[key] = self._gens.get(key, 0) + 1

    def exists(self, key: str) -> bool:
        if key in self._data:
            return True
        pref = key.rstrip("/") + "/"
        return any(k.startswith(pref) for k in self._data)

    def delete(self, key: str) -> bool:
        with MemoryKVStore._lock:
            return self._data.pop(key, None) is not None

    def list_dir(self, prefix: str = "") -> list[str]:
        pref = prefix.rstrip("/") + "/" if prefix else ""
        out: set[str] = set()
        for k in self._data:
            if k.startswith(pref):
                out.add(k[len(pref):].split("/", 1)[0])
        return sorted(out)

    def delete_all(self) -> None:
        with MemoryKVStore._lock:
            self._data.clear()


class FsspecKVStore(KVStore):
    """Cloud store via fsspec (gs://, s3://, …). Selected automatically when
    the wheel is importable; each executor builds its own filesystem client
    lazily from the root string."""

    def __init__(self, root: str):
        import fsspec  # gated at open_kvstore; re-import is cheap (cached)

        self.root = root.rstrip("/")
        self._fs, self._base = fsspec.core.url_to_fs(self.root)

    def _path(self, key: str) -> str:
        return f"{self._base}/{key}" if key else self._base

    def read(self, key: str) -> bytes | None:
        try:
            with self._fs.open(self._path(key), "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def size(self, key: str) -> int | None:
        try:
            return int(self._fs.size(self._path(key)))
        except FileNotFoundError:
            return None

    def read_range(self, key: str, start: int, length: int) -> bytes | None:
        try:
            if start < 0:  # suffix range: resolve against the object size
                sz = int(self._fs.size(self._path(key)))
                start = max(0, sz + start)
            return self._fs.cat_file(self._path(key), start=start,
                                     end=start + length)
        except FileNotFoundError:
            return None

    def write(self, key: str, data: bytes) -> None:
        # object stores publish atomically on close; no tmp-rename dance
        with self._fs.open(self._path(key), "wb") as f:
            f.write(data)

    def exists(self, key: str) -> bool:
        return self._fs.exists(self._path(key))

    def delete(self, key: str) -> bool:
        try:
            self._fs.rm_file(self._path(key))
            return True
        except FileNotFoundError:
            return False

    def list_dir(self, prefix: str = "") -> list[str]:
        base = self._path(prefix)
        try:
            entries = self._fs.ls(base, detail=False)
        except FileNotFoundError:
            return []
        return sorted(e.rstrip("/").rsplit("/", 1)[-1] for e in entries)

    def delete_all(self) -> None:
        self._fs.rm(self._base, recursive=True)


class HttpKVStore(KVStore):
    """KVStore over plain HTTP(S) via stdlib urllib — REAL network ranged
    GETs with zero wheels (the loopback twin of gcs_test.cc / s3_test.cc:
    both cloud drivers speak HTTP under their SDKs; this is the same verb
    set against any HTTP endpoint, including tests' 127.0.0.1 server).

      read        GET         (404 → None)
      size/exists HEAD        (no byte transfer)
      read_range  GET + Range (206 → window; 200 → server ignored Range,
                               slice locally; 416 → b"", matching
                               LocalKVStore's past-EOF read)
      write       PUT         (what object-store uploads are)
      delete      DELETE      (404 → False)
      delete_all  DELETE on the store root
      list_dir    GET of the prefix → parse the HTML index's href entries
                  (stdlib http.server format); raises NotImplementedError
                  for non-index responses — plain HTTP has no LIST verb
                  (TensorStore's http kvstore has the same hole), which is
                  exactly why consolidated metadata is the designed open
                  path over HTTP.

    Non-2xx other than the mapped statuses raise — open_kvstore wraps HTTP
    stores in RetryingKVStore by default, so transient 5xx/throttling
    retries with backoff like the reference's cloud drivers. Instances
    hold only the root URL: picklable-by-construction for executor
    closures, one connection per request (HTTP/1.1 keep-alive pooling is
    deliberately not managed here — Python workers are short-lived and
    per-request urlopen keeps the store stateless)."""

    TIMEOUT = 30.0

    # per-process SSL context cache, keyed by CA-bundle path. Module state,
    # NOT instance state: HttpKVStore must stay picklable-by-root-string
    # for executor closures, and each Python worker builds its context once
    # instead of re-reading the CA file per chunk GET.
    _ssl_contexts: dict = {}

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def _url(self, key: str) -> str:
        import urllib.parse

        if not key:
            return self.root
        return f"{self.root}/{urllib.parse.quote(key)}"

    @classmethod
    def _https_context(cls):
        """Verification policy for ``https://`` stores: the system trust
        store by default; ``MDIO_SPARK_CA_BUNDLE`` pins an explicit CA
        bundle (private/self-signed deployments — how the TLS loopback
        tests trust their own cert). There is deliberately NO verify-off
        mode: an unverifiable peer fails loudly. On a cluster, ship the
        variable to executors with
        ``spark.executorEnv.MDIO_SPARK_CA_BUNDLE`` (Python workers read
        it per process; local[n] inherits the driver env)."""
        import ssl

        cafile = os.environ.get("MDIO_SPARK_CA_BUNDLE") or ""
        ctx = cls._ssl_contexts.get(cafile)
        if ctx is None:
            ctx = ssl.create_default_context(cafile=cafile or None)
            cls._ssl_contexts[cafile] = ctx
        return ctx

    def _request(self, key: str, method: str, data: bytes | None = None,
                 headers: dict | None = None):
        import urllib.request

        url = self._url(key)
        req = urllib.request.Request(
            url, data=data, method=method, headers=headers or {})
        kwargs = {}
        if url.startswith("https://"):
            kwargs["context"] = self._https_context()
        return urllib.request.urlopen(req, timeout=self.TIMEOUT, **kwargs)

    @staticmethod
    def _status(err) -> int:
        return getattr(err, "code", 0)

    @staticmethod
    def _verify_length(key: str, body: bytes, declared) -> None:
        """A reply whose byte count disagrees with its own headers is a
        TRANSIENT fault (truncated transfer, header/body race on a mutating
        object) and must surface as an error the retry layer re-attempts —
        never as silently short data handed to a codec."""
        if declared is not None and len(body) != declared:
            raise IOError(
                f"short/overlong HTTP read for {key!r}: got {len(body)} "
                f"bytes, headers declared {declared}")

    def read(self, key: str) -> bytes | None:
        import urllib.error

        try:
            with self._request(key, "GET") as r:
                body = r.read()
                cl = r.headers.get("Content-Length")
                self._verify_length(
                    key, body, int(cl) if cl and cl.isdigit() else None)
                return body
        except urllib.error.HTTPError as e:
            if self._status(e) in (404, 410):
                return None
            raise

    def size(self, key: str) -> int | None:
        import urllib.error

        try:
            with self._request(key, "HEAD") as r:
                cl = r.headers.get("Content-Length")
                if cl is not None:
                    return int(cl)
        except urllib.error.HTTPError as e:
            if self._status(e) in (404, 410):
                return None
            raise
        # 2xx HEAD without Content-Length (legal for chunked/compressed
        # responses): None here would read as ABSENT to callers like the
        # SEG-Y geometry probe. Ask for one byte and parse the total from
        # Content-Range ("bytes 0-0/753"); fall back to a full GET length.
        try:
            with self._request(key, "GET", headers={"Range": "bytes=0-0"}) as r:
                cr = r.headers.get("Content-Range", "")
                if r.status == 206 and "/" in cr:
                    total = cr.rsplit("/", 1)[1]
                    if total.isdigit():
                        return int(total)
                body = r.read()  # 200: server ignored Range
                return len(body)
        except urllib.error.HTTPError as e:
            if self._status(e) in (404, 410):
                return None
            if self._status(e) == 416:  # zero-byte object
                return 0
            raise

    def read_range(self, key: str, start: int, length: int) -> bytes | None:
        import urllib.error

        if length <= 0:
            # "bytes=N-(N-1)" / "bytes=-0" are malformed per RFC 9110 —
            # answer locally like LocalKVStore does (b"" when the object
            # exists, None when absent; one HEAD, no byte transfer)
            return b"" if self.exists(key) else None
        if start < 0:
            # HTTP suffix range; server clamps to the object when shorter
            rng = f"bytes=-{-start}"
            want = length
        else:
            rng = f"bytes={start}-{start + length - 1}"
            want = None
        try:
            with self._request(key, "GET", headers={"Range": rng}) as r:
                body = r.read()
                if r.status == 206:
                    # Trust nothing: the body must match the Content-Range
                    # window, and the window must be the one we asked for.
                    # A truncated 206, a lying Content-Range, or a total
                    # that contradicts the window all raise here — IOError
                    # carries no .code, so the retry layer treats it as
                    # transient and re-fetches.
                    import re as _re

                    cr = r.headers.get("Content-Range", "")
                    m = _re.match(r"bytes (\d+)-(\d+)/(\d+|\*)", cr)
                    if not m:
                        raise IOError(
                            f"206 without parseable Content-Range for "
                            f"{key!r}: {cr!r}")
                    c_start, c_end = int(m.group(1)), int(m.group(2))
                    total = m.group(3)
                    self._verify_length(key, body, c_end - c_start + 1)
                    if start >= 0 and c_start != start:
                        raise IOError(
                            f"range mismatch for {key!r}: asked {rng}, "
                            f"server answered {cr}")
                    if total != "*" and c_end >= int(total):
                        raise IOError(
                            f"inconsistent Content-Range for {key!r}: {cr}")
                    return body[:want] if want is not None else body
                # 200: server ignored Range — slice to LocalKVStore semantics
                cl = r.headers.get("Content-Length")
                self._verify_length(
                    key, body, int(cl) if cl and cl.isdigit() else None)
                if start < 0:
                    s = max(0, len(body) + start)
                    return body[s : s + length]
                return body[start : start + length]
        except urllib.error.HTTPError as e:
            code = self._status(e)
            if code in (404, 410):
                return None
            if code == 416:  # range past EOF on an existing object
                return b""
            raise

    def write(self, key: str, data: bytes) -> None:
        with self._request(key, "PUT", data=data):
            pass

    def read_with_tag(self, key: str) -> tuple:
        import urllib.error

        try:
            with self._request(key, "GET") as r:
                body = r.read()
                cl = r.headers.get("Content-Length")
                self._verify_length(
                    key, body, int(cl) if cl and cl.isdigit() else None)
                return body, r.headers.get("ETag")
        except urllib.error.HTTPError as e:
            if self._status(e) in (404, 410):
                return None, None
            raise

    def write_if_match(self, key: str, data: bytes, tag) -> None:
        """Conditional PUT: ``If-Match: <etag>`` (or ``If-None-Match: *``
        for create-if-absent); the server's 412 maps to
        KVPreconditionFailed. A server that never emits ETags yields
        ``tag=None`` reads, whose If-None-Match precondition then fails on
        any existing key — a loud (over-)conservative outcome, never a
        silent lost update."""
        import urllib.error

        hdrs = ({"If-Match": tag} if tag is not None
                else {"If-None-Match": "*"})
        try:
            with self._request(key, "PUT", data=data, headers=hdrs):
                pass
        except urllib.error.HTTPError as e:
            if self._status(e) == 412:
                raise KVPreconditionFailed(
                    f"{self.root}/{key}: server rejected conditional PUT "
                    f"(tag {tag!r} is stale)") from e
            raise

    def exists(self, key: str) -> bool:
        import urllib.error

        try:
            with self._request(key, "HEAD"):
                return True
        except urllib.error.HTTPError as e:
            if self._status(e) in (404, 410):
                return False
            raise

    def delete(self, key: str) -> bool:
        import urllib.error

        try:
            with self._request(key, "DELETE"):
                return True
        except urllib.error.HTTPError as e:
            if self._status(e) in (404, 410):
                return False
            raise

    def delete_all(self) -> None:
        self.delete("")

    def list_dir(self, prefix: str = "") -> list[str]:
        import re
        import urllib.parse

        raw = self.read(f"{prefix}/" if prefix else "")
        if raw is None:
            return []
        text = raw.decode("utf-8", errors="replace")
        if "<a href=" not in text:
            low = text.lower()
            if "<html" in low or "<!doctype" in low:
                return []  # a real index page that is legitimately empty
            raise NotImplementedError(
                f"{self.root}: server returned no HTML index for "
                f"{prefix!r} — plain HTTP has no LIST; publish consolidated "
                "metadata (ZarrStore.consolidate) so opens need no listing"
            )
        names: list[str] = []
        for href in re.findall(r'<a href="([^"]+)"', text):
            href = urllib.parse.unquote(href)
            # The parser is scoped to the index formats it claims to support
            # (stdlib http.server / nginx emit RELATIVE child hrefs only);
            # query/fragment links, parent links, absolute URLs and
            # absolute-PATH links (Apache fancy-index's href="/parent/") are
            # navigation, not children — an absolute parent link would
            # otherwise report its last segment as a spurious child entry.
            if href.startswith(("?", "#", "../", "/")) or "://" in href:
                continue
            names.append(href.rstrip("/").split("/")[-1])
        return sorted(set(names))


def open_kvstore(path: str, retries: int | None = None) -> KVStore:
    """Scheme-routed store factory (zarr_driver.h:225-274 analog).

    ``retries``: wrap the store in RetryingKVStore. Defaults to 4 attempts
    for cloud schemes (object stores throttle; TensorStore's drivers retry
    too) and no wrapping for local/memory paths (local EIO is not
    transient). Pass an explicit count to override either way."""
    def _wrap(store: KVStore, default_on: bool) -> KVStore:
        n = retries if retries is not None else (4 if default_on else 0)
        return RetryingKVStore(store, attempts=n) if n and n > 1 else store

    if path.startswith("memory://"):
        return _wrap(MemoryKVStore(path), False)
    if path.startswith(("http://", "https://")):
        # network path → retry by default, like the cloud schemes (5xx and
        # connection resets are transient; 404 is a RESULT and never retried)
        return _wrap(HttpKVStore(path), True)
    if path.startswith("file://"):
        return _wrap(LocalKVStore(path[len("file://"):]), False)
    for scheme in CLOUD_SCHEMES:
        if path.startswith(scheme):
            try:
                import fsspec  # noqa: F401
            except ImportError:
                raise NotImplementedError(
                    f"{scheme} stores need the fsspec wheel (plus gcsfs/s3fs); "
                    "not installed in this environment — install fsspec or use "
                    "a local path. The engine's store layer is scheme-routed, "
                    "so no other change is needed."
                ) from None
            return _wrap(FsspecKVStore(path), True)
    if "://" in path:
        raise ValueError(
            f"unrecognized store scheme in {path!r}; supported: file://, "
            f"memory://, http://, https://, {', '.join(CLOUD_SCHEMES)} — "
            "a URL must not fall through to a relative local directory"
        )
    return _wrap(LocalKVStore(path), False)


class RetryingKVStore(KVStore):
    """Transient-failure retry decorator over any KVStore — the resilience
    layer cloud object stores need (throttling / 5xx / connection resets).
    TensorStore retries inside its gcs/s3 drivers; this is that behavior at
    our seam, applied uniformly to every backend.

    Exponential backoff with deterministic jitter derived from the key (no
    RNG state — retries are reproducible). ``None`` reads (key absent) are a
    RESULT, not a failure, and return immediately. PERMANENT failures are
    not retried: an HTTP status < 500 other than 408/429 (auth denials,
    malformed requests — a 403 will be a 403 on attempt 4 too) and
    ``NotImplementedError`` (a capability hole like LIST-less plain HTTP,
    not a transient fault) propagate on the first attempt instead of paying
    three backoff sleeps; everything else (5xx, throttling, connection
    resets, truncated reads) retries."""

    def __init__(self, inner: KVStore, attempts: int = 4, base_delay: float = 0.05):
        self.inner = inner
        self.root = inner.root
        self.attempts = max(1, attempts)
        self.base_delay = base_delay

    @staticmethod
    def _transient(e: Exception) -> bool:
        if isinstance(e, (NotImplementedError, KVPreconditionFailed)):
            # a capability hole / a lost CAS race: re-sending the same
            # request can never change the outcome
            return False
        code = getattr(e, "code", None)  # urllib.error.HTTPError carries .code
        if isinstance(code, int) and code < 500 and code not in (408, 429):
            return False
        return True

    def _retry(self, fn, key: str = ""):
        import time as _time

        last: Exception | None = None
        for i in range(self.attempts):
            try:
                return fn()
            except Exception as e:  # noqa: BLE001 — seam-level catch is the point
                last = e
                if not self._transient(e) or i + 1 == self.attempts:
                    break
                jitter = (hash((key, i)) & 0xFF) / 1024.0
                _time.sleep(self.base_delay * (2**i) + jitter)
        raise last  # type: ignore[misc]

    def read(self, key: str) -> bytes | None:
        return self._retry(lambda: self.inner.read(key), key)

    def size(self, key: str) -> int | None:
        return self._retry(lambda: self.inner.size(key), key)

    def read_range(self, key: str, start: int, length: int) -> bytes | None:
        return self._retry(lambda: self.inner.read_range(key, start, length), key)

    def generation(self, key: str):
        return self._retry(lambda: self.inner.generation(key), key)

    def write(self, key: str, data: bytes) -> None:
        return self._retry(lambda: self.inner.write(key, data), key)

    def read_with_tag(self, key: str) -> tuple:
        return self._retry(lambda: self.inner.read_with_tag(key), key)

    def write_if_match(self, key: str, data: bytes, tag) -> None:
        return self._retry(
            lambda: self.inner.write_if_match(key, data, tag), key)

    def exists(self, key: str) -> bool:
        return self._retry(lambda: self.inner.exists(key), key)

    def delete(self, key: str) -> bool:
        return self._retry(lambda: self.inner.delete(key), key)

    def list_dir(self, prefix: str = "") -> list[str]:
        return self._retry(lambda: self.inner.list_dir(prefix), prefix)

    def delete_all(self) -> None:
        return self._retry(self.inner.delete_all)
