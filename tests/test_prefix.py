"""bucketed_prefix (operators/prefix.py): every monoid, with and without
keys, equals one unpartitioned window over the same rows — including ties
on the order column (count numbers tied rows densely), empty buckets, null
values, a one-row input and a one-bucket input."""

from __future__ import annotations

import random
from pathlib import Path

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mdio_cpp_spark.operators import prefix
from mdio_cpp_spark.operators.prefix import bucketed_prefix

_SCHEMA = "rid long, k string, b long, o long, v long, lv long"


def _rows(spec):
    """(rid, k, b, o, v, lv) rows. Rows tied on (b, o) run in an arbitrary
    order, so their values are a function of (b, o): equal, or all null.
    Bucket 3 holds only nulls; v mixes signs."""
    def v(b, o):
        return None if b == 3 or (b + o) % 4 == 0 else (b * 13 + o * 7) % 41 - 20

    def lv(b, o):
        return None if b == 3 or (b + o) % 3 == 0 else b * 100 + o

    return [(rid, k, b, o, v(b, o), lv(b, o)) for rid, (k, b, o) in enumerate(spec)]


def _mixed_spec():
    """Ties on o; key x never has bucket 1, and bucket 2 is empty for both."""
    rng = random.Random(5)
    spec = []
    for _ in range(80):
        k = rng.choice("xy")
        spec.append((k, rng.choice([0, 3, 4] if k == "x" else [0, 1, 3, 4]), rng.randint(0, 5)))
    return spec


_CASES = {
    "mixed": _rows(_mixed_spec()),
    "one_row": _rows([("x", 7, 1)]),
    "one_bucket": _rows([("xy"[i % 2], 0, i // 3) for i in range(12)]),
    "leading_nulls": _rows([("x", 3 + i // 4, i) for i in range(12)]),
}

# (monoid, value column, the reference window aggregate)
_MONOIDS = [
    ("count", None, lambda: F.count(F.lit(1))),
    ("sum", "v", lambda: F.sum("v")),
    ("max", "v", lambda: F.max("v")),
    ("last", "lv", lambda: F.last("lv", ignorenulls=True)),
]


def _by_tie_group(rows, keys, col):
    """Each (keys, b, o) tie group's sorted values of ``col``."""
    groups: dict[tuple, list] = {}
    for r in rows:
        groups.setdefault((*(r[k] for k in keys), r["b"], r["o"]), []).append(r[col])
    return {g: sorted(vs, key=lambda x: (x is None, x)) for g, vs in groups.items()}


@pytest.mark.parametrize("keys", [(), ("k",)], ids=["keyless", "keyed"])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_prefix_matches_unpartitioned_window(spark, case, keys):
    df = spark.createDataFrame(_CASES[case], _SCHEMA)
    got = df
    for monoid, value, _ in _MONOIDS:
        got = bucketed_prefix(got, f"out_{monoid}", monoid, buckets=["b"], order=["o"],
                              keys=keys, value=value)
    outs = [f"out_{m}" for m, _, _ in _MONOIDS]
    assert got.columns == df.columns + outs
    ref_w = Window.partitionBy(*keys).orderBy("b", "o").rowsBetween(Window.unboundedPreceding, 0)
    ref = df.select("*", *[agg().over(ref_w).alias(f"out_{m}") for m, _, agg in _MONOIDS])
    got_rows, ref_rows = got.collect(), ref.collect()
    assert sorted(r["rid"] for r in got_rows) == list(range(len(_CASES[case])))
    for col in outs:
        assert _by_tie_group(got_rows, keys, col) == _by_tie_group(ref_rows, keys, col), col


def test_prefix_rejects_unknown_monoid(spark):
    df = spark.createDataFrame(_CASES["one_row"], _SCHEMA)
    with pytest.raises(ValueError, match="monoid"):
        bucketed_prefix(df, "out", "min", buckets=["b"], order=["o"], value="v")


def test_carry_alias_stays_in_prefix_module():
    """The plan-quality gate accepts a global window by its output alias,
    so only ``operators/prefix.py`` may name it: any other window carrying
    that alias would be waved through unchecked."""
    home = Path(prefix.__file__)
    package = home.parents[1]
    offenders = [
        f"{path.relative_to(package.parent)}:{n}"
        for path in sorted(package.rglob("*.py")) if path != home
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if prefix.CARRY in line
    ]
    assert offenders == []
