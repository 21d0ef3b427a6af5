"""giraffe_etl_spark — a PySpark-native CDC / incremental-ingest engine.

Brand-new engine (NOT a port) with the capability set of the reference
weblog-ETL dataflow engine (giraffe-etl, see SURVEY.md): declarative
transform chains, typed conversions with error capture, conditional /
error routing, key-based memoized (idempotent) apply, resumable
checkpoints, per-node metrics — re-expressed Spark-first:

- change batches are DataFrames; the apply stage is a key-partitioned
  dedup-then-MERGE over one bucket-aligned exchange (a row_number()
  window; hot keys detected -> one map-side-combined max_by aggregate),
- per-record transform chains are vectorized pandas/Arrow UDFs,
- error routes are quarantine table writes,
- the BDB state store is a snapshot-isolated lake table (``lake.Table``)
  with a transactional offset log in snapshot properties (exactly-once),
- metrics/lineage land in a per-(batch, partition) metrics table.

Layout:
    lake/       snapshot-isolated bucketed parquet table (Iceberg-style
                semantics: atomic commits, MERGE, schema ids, properties)
    functions/  pure transform library + pandas_udf wrappers
    cdc/        generators, skew planner + dedup, batch apply, replay,
                pandas oracle
    operators/  dedup (exact/minhash/simhash/jaccard), similarity (ANN),
                text stats, multimodal plumbing
    streaming/  structured-streaming wrapper (foreachBatch -> apply)
"""

__version__ = "0.1.0"
