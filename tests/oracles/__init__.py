"""Pure-Python lz4, snappy and zstd codecs: differential test oracles for
the native (pyarrow) kernels the engine runs, and readers of every stream
the engine's earlier pure-Python encoders wrote."""
