"""Numpy codec kernels — the semantic core, mirroring parquet-cpp's
``src/parquet/encoding-internal.h``. Pure numpy/CPython, no Spark imports:
these run inside the ``mapInArrow`` operator tasks on executors."""
