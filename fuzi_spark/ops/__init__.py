"""Training-data pipeline operators: dedup, similarity search, text stats,
multimodal plumbing. All Spark-first — built-in JVM expressions where
possible, Arrow-batched Python where not, zero per-row UDF calls. A
per-row operator goes through `udfs.map_rows` / `doc_column` /
`dom_column`; only whole-batch numpy kernels write their own batch loop."""
