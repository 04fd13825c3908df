/** graft — a Spark-native analytics engine with the query and
  * data-processing capabilities of the reference Movies-ETL pipeline
  * (SURVEY.md) plus the LLM-training-data operators mandated by
  * BASELINE.json, designed for 100 TB scale (SCALE.md).
  *
  * Architecture (Spark-first, per the SURVEY §4.2 decision ladder):
  *  - Everything is a declarative `DataFrame`/`Dataset` plan — Catalyst
  *    owns pushdown, pruning, join selection, AQE; nothing is
  *    hand-scheduled.
  *  - All scalar logic is native `Column` expressions (zero UDFs in the
  *    hot path); the one custom Catalyst `Expression`
  *    ([[graft.plans.RollingHash]]) exists because no built-in computes
  *    an order-sensitive rolling hash without a shuffle.
  *  - Determinism is a first-class constraint: exact decimal /
  *    fixed-point integer arithmetic, total-order sorts, timezone-free
  *    integer event-time math — every declared result is bit-reproducible
  *    across engines, partition counts, and cluster sizes.
  *
  * Map of the library:
  *  - [[graft.Queries]] / [[graft.SparkEntry]] — the declared-query
  *    contract: each declared query and its DuckDB oracle SQL.
  *  - [[graft.Tables]] — testdata loaders incl. the TIMESTAMP(NANOS)
  *    shim.
  *  - `graft.functions.Cleaning` — the reference's money/date/runtime
  *    cleaning grammar as Column combinators.
  *  - `graft.operators.*` — Relational (joins incl. as-of/band, windows,
  *    pivot, salting, hash-splits), EventOps (sessionization, buckets),
  *    TextOps (wordcount/tf-idf/quality/lang-id), DedupOps (exact,
  *    MinHash+LSH, SimHash, Jaccard sparse+dense, n-gram), SimilarityOps
  *    (brute/fixed-point-exact/sign-LSH/IVF top-k).
  *  - `graft.etl.MoviesEtl` — the reference pipeline end-to-end.
  *  - `graft.multimodal.MultimodalOps` — binary payload columns with
  *    typed metadata, per-partition perceptual hashes and near-dup
  *    pairs.
  */
package object graft
