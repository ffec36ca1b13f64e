"""parquet_cpp_spark — a PySpark-native per-column lightweight-compression engine.

Reproduces the encoding semantics of wesm/parquet-cpp (the Apache Parquet C++
reference implementation) as an idiomatic Spark pipeline:

- numpy codec kernels (``kernels/``): PLAIN, RLE/bit-packed hybrid, dictionary,
  DELTA_BINARY_PACKED, DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY, FSST.
- level coding (``levels.py``): Dremel definition/repetition levels for the
  ``tokens: array<int32>`` column.
- chunk framing (``chunk.py``): self-describing binary chunk blobs mirroring the
  reference's page/column-chunk layout.
- codec auto-selector (``selector.py``): sampled cardinality / run-rate / span
  cost model generalizing the reference's dictionary->PLAIN fallback rule.
- Spark operators (``operators/``): Arrow-native ``mapInArrow`` encode/decode.
- job plans (``plans/``): repartition -> encode -> manifest pipeline with
  checkpoint/resume via manifest anti-join, skew salting.

All heavy work happens inside ``mapInArrow`` tasks that read and build Arrow
buffers directly; everything around them is declarative DataFrame API so
Catalyst handles pruning/pushdown.
"""

__version__ = "0.1.0"
