"""lucene_mapreduce_spark — a PySpark-native inverted-index + BM25 engine.

A from-scratch re-expression of the capabilities of the reference system
henryzhao81/Lucene-MapReduce (a 2015 Hadoop-MapReduce + Lucene 4.10 pipeline,
surveyed in SURVEY.md) as an idiomatic Spark DataFrame engine:

- posting-list construction (delta + varbyte + skip pointers + block-max
  metadata) over hash-partitioned, docid-chunked segments,
- hierarchical, checkpoint-resumable segment merging with latest-wins upsert
  semantics (reference: IndexBuilderReducer.java:159 ``updateDocument``),
- corpus-stat-driven BM25 top-k query answering (distributed DataFrame path
  and a low-latency vectorized serving path), rank-identical to a brute-force
  float64 oracle,
- the reference's surrounding operator inventory (generation-fallback lookup
  join, TTL anti-join, latest-per-key, pair symmetrization, ...) re-expressed
  Spark-first, plus large-scale training-data pipeline operators
  (dedup families, similarity search, text analysis).

Everything is DataFrame / vectorized-Arrow-UDF based; no per-row Python UDFs.
"""

__version__ = "0.1.0"
