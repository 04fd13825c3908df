package graft

import graft.operators._
import graft.operators.Lineage.LineageOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The declared-query contract (SURVEY.md §2): every operator the engine
  * claims is exposed here as a `(SparkSession, sfDir) => DataFrame`
  * builder plus, where SQL-expressible, an equivalent DuckDB oracle
  * query. The driver hash-compares both on the same parquet at sf0.01.
  *
  * Determinism rules applied to every query (SURVEY §7.4): total-order
  * ORDER BY on a unique key; no raw-double aggregates (exact decimal or
  * fixed-point integer arithmetic instead); explicit pivot values;
  * RE2-safe regexes in oracle-checked queries; event-time math on raw
  * epoch nanos (timezone-free); `row_number` outputs cast to long to
  * match DuckDB's BIGINT.
  *
  * Oracle building blocks are defined once, in the "oracle building
  * blocks" section above `all`: the brute-force Jaccard join, the
  * recursive components closure, the Lloyd/assignment chain, the DSIR
  * posterior, the pack prefix sum, the 3-gram shingle, the curation
  * chain and the rest. An oracle composes them by name instead of
  * carrying a pasted copy, and two keys that share an oracle share one
  * `val`. QueriesContractSpec keeps each block's text unique in this
  * file.
  */
object Queries {

  final case class Declared(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private val Dec18_2 = DecimalType(18, 2)
  private def dec(c: org.apache.spark.sql.Column) = c.cast(Dec18_2)

  /** The probe set q_semdedup_buckets passes to
    * [[graft.operators.SimilarityOps.semDedupBuckets]] — defined ONCE so
    * the oracle SQL's IN-list and positional bit-weight CASE are
    * interpolated from the same sequence the engine receives (ADVICE r7:
    * engine packs bits by probe POSITION; an oracle shifting by id VALUE
    * only coincides while the ids equal their indices).
    */
  private val semDedupProbeIds: Seq[Long] = Seq(0L, 1L, 2L, 3L)

  /** The literal keyword queries q_bm25_topk scores — defined ONCE so
    * the oracle's VALUES list interpolates the exact (query_id, term)
    * rows the engine receives. 'dup' is the corpus's one genuinely rare
    * word (df ≈ 5% vs ≈ 77% for everything else in the 31-word
    * synthetic vocabulary), so the three queries exercise the idf
    * spread: rare-dominated, common-only, and mixed.
    */
  private val bm25Queries: Seq[(String, Seq[String])] = Seq(
    "q_rare" -> Seq("dup", "merge"),
    "q_common" -> Seq("spark", "join", "window"),
    "q_mixed" -> Seq("dup", "the"))

  /** DuckDB replay of [[graft.operators.RetrievalOps.bm25TopK]] —
    * generated once and shared VERBATIM by `q_bm25_topk` (in-plan) and
    * `q_bm25_stored` (served from the persisted postings/df/scalars
    * artifacts): identical parameters ⇒ identical oracle, so
    * hash-equality between the two declared rows IS the stored-vs-fresh
    * parity contract (the q_simsearch_ivfpq_stored pattern).
    */
  /** `corpus` (round 16, default preserves the r15 string): the
    * (doc_id, text) relation being indexed — the postings-upsert key
    * passes the base ∪ appended-batch union.
    */
  private def bm25Oracle(k: Int, corpus: String = "documents"): String =
    s"""WITH tf AS (SELECT doc_id, word, COUNT(*)::BIGINT AS tf
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                     FROM $corpus)
               GROUP BY doc_id, word),
        dl AS (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
               FROM $corpus),
        dfq AS (SELECT word, COUNT(*)::BIGINT AS df FROM tf GROUP BY word),
        scs AS (SELECT COUNT(*)::BIGINT AS n_docs,
                  CAST(SUM(dl) AS BIGINT) AS l_total,
                  (CAST(SUM(dl) AS BIGINT) * 256) // COUNT(*) AS a_q8
                FROM dl),
        q(query_id, word) AS (VALUES ${bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => s"('$qid', '$t')") }
      .mkString(", ")}),
        t AS (SELECT q.query_id, tf.doc_id,
                (1000000 * 22 * scs.a_q8 * tf.tf) //
                  (10 * scs.a_q8 * tf.tf + 3 * scs.a_q8 + 2304 * dl.dl)
                  AS tf_sat,
                least(1000000000, (1000000 *
                  (2 * scs.n_docs - 2 * dfq.df + 1)) // (2 * dfq.df + 1))
                  AS idf
              FROM tf JOIN q USING (word) JOIN dfq USING (word)
                   JOIN dl USING (doc_id) CROSS JOIN scs),
        sm AS (SELECT query_id, doc_id,
                 CAST(SUM(idf * tf_sat // 1000000) AS BIGINT) AS score_ppm,
                 COUNT(*)::BIGINT AS n_terms
               FROM t GROUP BY query_id, doc_id)
        SELECT query_id, rn, doc_id, score_ppm, n_terms FROM (
          SELECT query_id, doc_id, score_ppm, n_terms,
            CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rn
          FROM sm) WHERE rn <= $k
        ORDER BY query_id, rn"""

  /** DuckDB replay of [[graft.operators.DedupOps.decontaminate]] —
    * shared VERBATIM by `q_decontaminate` (in-plan) and `q_decon_stored`
    * (served from the persisted benchmark-shingle artifact): identical
    * parameters ⇒ identical oracle, so hash-equality between the two
    * declared rows IS the stored-vs-fresh parity contract (the
    * q_bm25_stored pattern). The oracle joins on the shingle STRING;
    * the engine joins on its xxhash64 — same result absent a cross-side
    * 64-bit collision (see the decontaminate Scaladoc).
    */
  private def deconOracleFor(benchSql: String): String =
    s"""WITH c AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents WHERE doc_id % 100 <> 0),
        b AS ($benchSql),
        ${shingleCte("cs", "doc_id", "c")},
        ${shingleCte("bs", "bench_id", "b")}
        SELECT cs.doc_id, bs.bench_id, COUNT(*)::BIGINT AS n_shared
        FROM cs JOIN bs USING (sh)
        GROUP BY cs.doc_id, bs.bench_id
        HAVING COUNT(*) >= 3
        ORDER BY doc_id, bench_id"""

  private val deconOracle: String = deconOracleFor(
    """SELECT doc_id AS bench_id, string_split(text, ' ') AS w
              FROM documents WHERE doc_id % 100 = 0""")

  /** The post-upsert benchmark suite as oracle SQL — MUST mirror the
    * q_decon_index_upsert fixture: %300=0 benchmarks retired, the
    * %100=50 slice arriving as NEW benchmarks under +40000000 ids.
    */
  private val deconUpsertOracle: String = deconOracleFor(
    """SELECT doc_id AS bench_id, string_split(text, ' ') AS w
              FROM documents WHERE doc_id % 100 = 0 AND doc_id % 300 <> 0
            UNION ALL
            SELECT doc_id + 40000000 AS bench_id,
              string_split(text, ' ') AS w
              FROM documents WHERE doc_id % 100 = 50""")

  /** DuckDB replay of [[graft.operators.TextOps.domainReweight]] —
    * `iters` unrolled multiplicative-weight rounds over the per-source
    * unigram-loss table (the q_surprisal bits CTEs rolled up by source
    * instead of doc), each round a (weighted-avg, raw-update,
    * renormalize) CTE triple. Generated in code so the round count and
    * step constants provably match the declared query's.
    */
  /** The CTE body alone (per-source loss + `iters` MW rounds) — ends
    * with CTE `i{iters}(source, loss_q8, w_ppm)`, shared by the
    * trajectory oracle and the mixture-schedule oracle.
    */
  /** `corpus` (round 16, default preserves the prior string modulo the
    * harmless alias forms): the (source, text) relation the loss table
    * derives from — the drift key refits on a different corpus. `p`
    * prefixes every CTE name so the frozen and refit chains can share
    * one WITH clause (the churn-oracle namespacing trick).
    */
  private def domainReweightCtes(iters: Int, scaleQ: Long, etaQ: Long,
                                 corpus: String = "documents",
                                 p: String = ""): String = {
    val iterCtes = (1 to iters).map { t =>
      s"""${p}a$t AS (SELECT CAST(SUM(w_ppm * loss_q8) // SUM(w_ppm) AS BIGINT) AS avg_q8
               FROM ${p}i${t - 1}),
        ${p}r$t AS (SELECT source, loss_q8,
                 w_ppm * ($scaleQ + $etaQ * greatest(0, loss_q8 - avg_q8)) AS wr
               FROM ${p}i${t - 1} CROSS JOIN ${p}a$t),
        ${p}i$t AS (SELECT source, loss_q8,
                 CAST(wr * 1000000 // SUM(wr) OVER () AS BIGINT) AS w_ppm
               FROM ${p}r$t)"""
    }.mkString(",\n        ")
    s"""${p}w AS (SELECT source, unnest(string_split(text, ' ')) AS word
                FROM $corpus),
        ${p}wc AS (SELECT word, COUNT(*)::BIGINT AS cnt FROM ${p}w
               GROUP BY word),
        ${p}tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM ${p}wc),
        ${p}wb AS (SELECT word,
                 CAST(length(bin(t // cnt)) - 1 AS BIGINT) AS bits
               FROM ${p}wc CROSS JOIN ${p}tot),
        ${p}dom AS (SELECT w.source,
                 CAST(SUM(wb.bits) * 256 // COUNT(*) AS BIGINT) AS loss_q8
               FROM ${p}w w JOIN ${p}wb wb USING (word) GROUP BY w.source),
        ${p}nd AS (SELECT COUNT(*)::BIGINT AS d FROM ${p}dom),
        ${p}i0 AS (SELECT source, loss_q8,
                 CAST(1000000 // d AS BIGINT) AS w_ppm
               FROM ${p}dom CROSS JOIN ${p}nd),
        $iterCtes"""
  }

  private def domainReweightOracle(iters: Int, scaleQ: Long,
                                   etaQ: Long): String = {
    val unions = (0 to iters)
      .map(t => s"SELECT $t AS it, source, loss_q8, w_ppm FROM i$t")
      .mkString("\n          UNION ALL ")
    s"""WITH ${domainReweightCtes(iters, scaleQ, etaQ)}
        SELECT CAST(it AS BIGINT) AS iter, source, loss_q8, w_ppm FROM (
          $unions)
        ORDER BY iter, source"""
  }

  /** DuckDB replay of [[graft.operators.SimilarityOps.ivfTopKExact]]:
    * `iterations` unrolled integer Lloyd rounds (seed → assign →
    * truncating-mean update, emptied cells carried via COALESCE), then
    * full-corpus assignment, integer probe ranking (the final-centroid
    * dot table serves both assignment argmax and probe rank), and the
    * probe-limited exact top-k. Generated in code so the round count,
    * sample modulus, and probe/k parameters provably match the
    * declared query's.
    */
  /** `candFilter` (round 15, q_simsearch_filtered): a SQL predicate
    * over `lab.label` restricting which assigned corpus rows become
    * candidates — the metadata-filtered search case. None ⇒ the
    * original unfiltered chain byte-for-byte.
    */
  private def ivfExactOracle(k: Int, iterations: Int, mod: Int,
                             nProbe: Int, topK: Int,
                             candFilter: Option[String] = None): String = {
    s"""WITH ${fixedPointExplode()},
        ${lloydCtes("", "tr", "e", mod, k, iterations, member = "e")},
        ${assignCtes("dful", "af", "e", s"c$iterations")},
        pc AS (${rankCells("dful WHERE vec_id < 8", s"rn <= $nProbe", id = "q_id")}),
        cand AS (SELECT pc.q_id, af.vec_id AS n_id
             FROM pc JOIN af ON af.cell = pc.cell${candFilter
               .map(f => s"""
             JOIN (SELECT vec_id, label FROM embeddings) lab
               ON lab.vec_id = af.vec_id
             WHERE $f""").getOrElse("")}),
        s AS (SELECT c.q_id, c.n_id,
               CAST(SUM(a.vi * b.vi) AS BIGINT) AS score_s14
             FROM cand c JOIN e a ON a.vec_id = c.q_id
                         JOIN e b ON b.vec_id = c.n_id AND a.pos = b.pos
             GROUP BY c.q_id, c.n_id)
        ${topKByScore("s", topK)}"""
  }

  /** The hyperplane set q_simsearch_lsh passes to
    * [[graft.operators.SimilarityOps.lshBucketTopKExact]] — same
    * define-once discipline as [[semDedupProbeIds]] (the oracle's
    * IN-list and positional bit-weight CASE interpolate from it).
    * 8 planes → 256 buckets; multi-probe hamming ≤ 1 probes 9.
    */
  private val lshProbeIds: Seq[Long] = (0L until 8L)

  /** DuckDB replay of [[graft.operators.SimilarityOps.knnGraphExact]]
    * (round 15): the q_simsearch_lsh sign-bucket CTEs with the query
    * side widened to the WHOLE corpus (every vector probes its own
    * bucket plus the |planes| one-bit flips), self-pairs excluded, and
    * the per-vector integer-dot ranking cut at `k`. Generated in code so
    * the three kNN-graph consumers (`q_knn_join`, `q_knn_label`,
    * `q_knn_mutual_cc`) provably share one candidate/ranking definition
    * with the engine's.  Ends with CTE `g(q_id, rn, n_id, score_s14)`.
    */
  /** `corpus`/`planes` (round 16, defaults preserve the r15 strings
    * byte-for-byte): `corpus` is the relation being graphed; `planes`
    * the relation whose probe-id vectors serve as hyperplanes. They
    * differ only for the upsert keys, where the index buckets the
    * POST-upsert corpus under the planes the BASE build froze. `p`
    * prefixes every CTE name so TWO graph instantiations (old/new in
    * the churn oracle) can share one WITH clause without collision.
    */
  private def knnGraphCtes(k: Int, corpus: String = "embeddings",
                           planes: String = "embeddings",
                           p: String = ""): String = {
    val planeCtes =
      if (planes == corpus)
        s"""${p}pr AS (SELECT vec_id AS p_id, vi AS pvi, pos FROM ${p}e
               WHERE vec_id IN (${lshProbeIds.mkString(", ")}))"""
      else
        s"""${fixedPointExplode(s"${p}pe", planes)},
        ${p}pr AS (SELECT vec_id AS p_id, vi AS pvi, pos FROM ${p}pe
               WHERE vec_id IN (${lshProbeIds.mkString(", ")}))"""
    s"""${fixedPointExplode(s"${p}e", corpus)},
        $planeCtes,
        ${p}dp AS (SELECT e.vec_id, pr.p_id, SUM(e.vi * pr.pvi) AS dt
               FROM ${p}e e JOIN ${p}pr pr USING (pos)
               GROUP BY e.vec_id, pr.p_id),
        ${p}bkt AS (SELECT vec_id,
                CAST(SUM(CASE WHEN dt <= 0 THEN 0 ${lshProbeIds.zipWithIndex
      .map { case (pid, i) => s"WHEN p_id = $pid THEN ${1L << i}" }
      .mkString(" ")}
                         ELSE 0 END) AS BIGINT) AS bucket
              FROM ${p}dp GROUP BY vec_id),
        ${p}qb AS (SELECT q.vec_id AS q_id,
                 CASE WHEN f.f = 0 THEN q.bucket
                      ELSE xor(q.bucket, (1::BIGINT << (f.f - 1))) END AS bucket
               FROM ${p}bkt q
               CROSS JOIN (SELECT unnest(range(${lshProbeIds.size + 1})) AS f) f),
        ${p}cand AS (SELECT qb.q_id, b.vec_id AS n_id
                 FROM ${p}qb qb JOIN ${p}bkt b ON qb.bucket = b.bucket
                 WHERE b.vec_id <> qb.q_id),
        ${p}sc AS (SELECT c.q_id, c.n_id,
                CAST(SUM(a.vi * b.vi) AS BIGINT) AS score_s14
              FROM ${p}cand c JOIN ${p}e a ON a.vec_id = c.q_id
                          JOIN ${p}e b ON b.vec_id = c.n_id AND a.pos = b.pos
              GROUP BY c.q_id, c.n_id),
        ${p}g AS (SELECT q_id, rn, n_id, score_s14 FROM (
          SELECT q_id, n_id, score_s14,
                 CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY score_s14 DESC, n_id) AS BIGINT) AS rn
          FROM ${p}sc) WHERE rn <= $k)"""
  }

  /** DuckDB replay of
    * [[graft.operators.SimilarityOps.knnPlanesRetrainRecall]] — the
    * merged-corpus fixed-point table, a brute-force exact top-k for the
    * drifted query slice, and TWO plane configurations (stale = BASE
    * content of the frozen probe ids, retrained = post-ingest content
    * of live probe ids) pushed through the identical
    * bucket/hamming≤1/top-k chain of [[knnGraphCtes]], each joined
    * against the exact set for per-query hit counts.
    */
  private def knnPlanesRetrainOracle(k: Int, staleIds: Seq[Long],
                                     freshIds: Seq[Long],
                                     queryIds: Seq[Long],
                                     corpus: String): String = {
    // (vec_id, bucket) under planes `prCte` over content table `eSrc`
    def bktCte(p: String, eSrc: String, prCte: String,
               ids: Seq[Long]): String = {
      val bits = ids.zipWithIndex
        .map { case (pid, i) => s"WHEN p_id = $pid THEN ${1L << i}" }
        .mkString(" ")
      s"""${p}dp AS (SELECT e.vec_id, pr.p_id, SUM(e.vi * pr.pvi) AS dt
               FROM $eSrc e JOIN $prCte pr USING (pos)
               GROUP BY e.vec_id, pr.p_id),
        ${p}bkt AS (SELECT vec_id,
                CAST(SUM(CASE WHEN dt <= 0 THEN 0 $bits
                         ELSE 0 END) AS BIGINT) AS bucket
              FROM ${p}dp GROUP BY vec_id)"""
    }
    // hamming≤1 search of bucket table `${p}bkt` with merged content +
    // hit count vs the exact set
    def searchCte(p: String, nPlanes: Int): String =
      s"""${p}qb AS (SELECT q.vec_id AS q_id,
                 CASE WHEN f.f = 0 THEN q.bucket
                      ELSE xor(q.bucket, (1::BIGINT << (f.f - 1))) END AS bucket
               FROM ${p}bkt q
               CROSS JOIN (SELECT unnest(range(${nPlanes + 1})) AS f) f
               WHERE q.vec_id IN (${queryIds.mkString(", ")})),
        ${p}cand AS (SELECT qb.q_id, b.vec_id AS n_id
                 FROM ${p}qb qb JOIN ${p}bkt b ON qb.bucket = b.bucket
                 WHERE b.vec_id <> qb.q_id),
        ${p}sc AS (SELECT c.q_id, c.n_id,
                CAST(SUM(a.vi * b.vi) AS BIGINT) AS s
              FROM ${p}cand c JOIN me a ON a.vec_id = c.q_id
                          JOIN me b ON b.vec_id = c.n_id AND a.pos = b.pos
              GROUP BY c.q_id, c.n_id),
        ${p}tk AS (SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY s DESC, n_id) AS rn
            FROM ${p}sc) WHERE rn <= $k),
        ${p}h AS (SELECT t.q_id, COUNT(*)::BIGINT AS hits
               FROM ${p}tk t JOIN xs ON xs.q_id = t.q_id AND xs.n_id = t.n_id
               GROUP BY t.q_id)"""
    s"""WITH ${fixedPointExplode("me", corpus)},
        ${fixedPointExplode("be")},
        ql AS (SELECT CAST(unnest([${queryIds.mkString(", ")}]) AS BIGINT)
                 AS q_id),
        xq AS (SELECT vec_id AS q_id, vi, pos FROM me
               WHERE vec_id IN (${queryIds.mkString(", ")})),
        xsc AS (SELECT q.q_id, c.vec_id AS n_id,
                  CAST(SUM(q.vi * c.vi) AS BIGINT) AS s
                FROM xq q JOIN me c ON q.pos = c.pos
                WHERE c.vec_id <> q.q_id
                GROUP BY q.q_id, c.vec_id),
        xs AS (SELECT q_id, n_id FROM (
            SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY s DESC, n_id) AS rn FROM xsc) WHERE rn <= $k),
        spr AS (SELECT vec_id AS p_id, vi AS pvi, pos FROM be
                WHERE vec_id IN (${staleIds.mkString(", ")})),
        ${bktCte("sa", "be", "spr", staleIds)},
        ${bktCte("sc0", "me", "spr", staleIds)},
        sbkt AS (SELECT m.vec_id,
                   COALESCE(a.bucket, c.bucket) AS bucket
                 FROM (SELECT DISTINCT vec_id FROM me) m
                 LEFT JOIN sabkt a USING (vec_id)
                 LEFT JOIN sc0bkt c USING (vec_id)),
        ${searchCte("s", staleIds.size)},
        fpr AS (SELECT vec_id AS p_id, vi AS pvi, pos FROM me
                WHERE vec_id IN (${freshIds.mkString(", ")})),
        ${bktCte("f", "me", "fpr", freshIds)},
        ${searchCte("f", freshIds.size)}
        SELECT config, q_id, hits FROM (
          SELECT 'retrained' AS config, ql.q_id,
            CAST(COALESCE(fh.hits, 0) AS BIGINT) AS hits
          FROM ql LEFT JOIN fh USING (q_id)
          UNION ALL
          SELECT 'stale', ql.q_id, CAST(COALESCE(sh.hits, 0) AS BIGINT)
          FROM ql LEFT JOIN sh USING (q_id))
        ORDER BY config, q_id"""
  }

  /** DuckDB replay of [[graft.operators.SimilarityOps.mutualKnnClusters]]
    * — [[knnGraphCtes]] + mutuality + transitive closure + min-label —
    * shared VERBATIM by `q_knn_mutual_cc` (in-plan graph) and
    * `q_knn_graph_stored` (the graph served from the persisted edge
    * artifact): identical parameters ⇒ identical oracle, so
    * hash-equality between the two declared rows IS the stored-vs-fresh
    * parity contract (the q_bm25_stored pattern).
    */
  /** [[knnGraphCtes]] + mutuality + both-direction edges — ends with
    * CTE `ed(src, dst)`, the shared graph base of the mutual-CC,
    * BFS-depth, and purity oracles.
    */
  private def knnMutualEdgeCtes(k: Int, corpus: String = "embeddings",
                                planes: String = "embeddings"): String =
    s"""${knnGraphCtes(k, corpus, planes)},
        m AS (SELECT a.q_id AS a_id, a.n_id AS b_id
              FROM g a JOIN g b ON a.q_id = b.n_id AND a.n_id = b.q_id
              WHERE a.q_id < a.n_id),
        ${symEdgesCte("m", "ed")}"""

  /** [[knnMutualEdgeCtes]] + transitive closure — adds CTE
    * `cl(vec_id, cluster_id)`, the per-vector cluster assignment.
    */
  private def knnMutualClusterCtes(k: Int, corpus: String = "embeddings",
                                   planes: String = "embeddings"): String =
    s"""${knnMutualEdgeCtes(k, corpus, planes)},
        ${reachCte("ed")},
        cl AS (SELECT v.vec_id,
                 LEAST(v.vec_id, COALESCE(MIN(r.dst), v.vec_id))::BIGINT
                   AS cluster_id
               FROM (SELECT vec_id FROM $corpus) v
               LEFT JOIN reach r ON r.src = v.vec_id
               GROUP BY v.vec_id)"""

  private def knnMutualOracle(k: Int, corpus: String = "embeddings",
                              planes: String = "embeddings"): String =
    s"""WITH RECURSIVE ${knnMutualClusterCtes(k, corpus, planes)}
        SELECT vec_id, cluster_id FROM cl ORDER BY vec_id"""

  /** The kNN-upsert ingest fixture (round 16), defined ONCE for the two
    * upsert keys AND the oracle corpus below so engine and oracle
    * provably ingest the same batch: %10=0 re-crawled with new content
    * (element-reversed, same id — except ids also taken down), %7=3
    * inserted under +10⁶ ids (original content, unconditionally — a
    * copy of a taken-down row under a new id is a legitimate insert).
    */
  private def knnUpsertBatch(emb: DataFrame): DataFrame =
    emb.filter(pmod(col("vec_id"), lit(9)) =!= 5 &&
        pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      .unionByName(emb.filter(pmod(col("vec_id"), lit(7)) === 3)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          col("embedding")))

  /** The takedown set (%9=5) as a RELATION — at 100 TB a takedown list
    * is itself a table, so it enters the upsert as a distributed
    * anti-join side, never a collected literal (VERDICT r17 #2; plane
    * id 5 is on it, so the frozen-plane distinction is exercised).
    */
  private def knnUpsertDeletes(emb: DataFrame): DataFrame =
    emb.filter(pmod(col("vec_id"), lit(9)) === 5).select("vec_id")

  /** The post-upsert corpus as oracle SQL — MUST mirror
    * [[knnUpsertBatch]]/[[knnUpsertDeletes]] applied through
    * [[graft.operators.SimilarityOps.upsertedCorpus]].
    */
  private val knnUpsertCorpusSql: String =
    """(SELECT vec_id, embedding FROM embeddings
         WHERE vec_id % 9 <> 5 AND vec_id % 10 <> 0
       UNION ALL
       SELECT vec_id, list_reverse(embedding) AS embedding FROM embeddings
         WHERE vec_id % 9 <> 5 AND vec_id % 10 = 0
       UNION ALL
       SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
         WHERE vec_id % 7 = 3)"""

  /** Output-boundary convention (round-2 fix, VERDICT r1 §W1): money/sum
    * math stays in exact decimal INTERNALLY (order-independent), but every
    * DECLARED output column is cast to DOUBLE at the boundary — the driver
    * comparator reads Spark parquet decimals as `Decimal` objects and
    * DuckDB oracle decimals as float64, hash-mismatching numerically
    * identical values. An exact decimal casts to the identical nearest
    * double in both engines (integer-scaled value and power-of-ten divisor
    * are both exact, IEEE division is correctly rounded), so DOUBLE
    * outputs hash-match. Oracle SQL mirrors with a final CAST(.. AS
    * DOUBLE). No declared query may output DECIMAL/ARRAY/MAP/STRUCT —
    * enforced by QueriesContractSpec.
    *
    * BOUND: the "identical nearest double" argument needs the UNSCALED
    * integer to fit in 2^53 — above that, DuckDB's int128→double-then-
    * divide (two roundings) can differ from BigDecimal.doubleValue
    * (correctly rounded) by 1 ulp. Scale-2 sums stay safe to ~9e12 in
    * magnitude (well past sf100 for these tables); scale-4/6 products
    * (e.g. sum_charge-shaped columns) approach the bound much sooner, so
    * those are emitted as scaled BIGINT (`_s3`/`_s7` columns), never
    * through outD. When adding a query: any sum whose unscaled value
    * could exceed 2^53 at the target SF must use a scaled-BIGINT output.
    */
  private def outD(c: org.apache.spark.sql.Column) = c.cast(DoubleType)

  import Tables._

  /** Shared CTE chain replaying [[DedupOps.simHash]] with the portable
    * 60-bit md5 hash in DuckDB: per-word hash decode, per-bit ±1 sums
    * over the word multiset, sign-packed signature. Generated in code so
    * the 60 bit positions stay literal (and provably in sync between the
    * two oracles below).
    */
  private def simHashSigCtes(src: String): String = {
    val bitSums = (0 until 60).map(j =>
      s"SUM(CASE WHEN (hw >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b_$j").mkString(", ")
    val pack = (0 until 60).map(j =>
      s"CASE WHEN b_$j > 0 THEN (1::BIGINT << $j) ELSE 0 END").mkString(" + ")
    s"""t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM $src),
       h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS hw FROM t),
       b AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
       sig AS (SELECT doc_id, CAST($pack AS BIGINT) AS simhash FROM b)"""
  }

  private def simHashOracle(src: String): String =
    s"WITH ${simHashSigCtes(src)} SELECT doc_id, simhash FROM sig ORDER BY doc_id"

  /** Shared CTE chain replaying the SYNTHETIC-MEDIA fingerprints
    * ([[graft.multimodal.MultimodalOps.syntheticImages]] /
    * [[syntheticAudio]] → [[ImageCodec.dHash]] /
    * [[AudioCodec.fingerprint]]) in DuckDB — possible because the
    * fixtures are constructed so the codec pipelines collapse to
    * replayable integer arithmetic: a 9×8 gray PNG makes every dHash
    * box-average cell one pixel whose Rec.601 luma is its own byte
    * value, and a 65-sample mono WAV makes every envelope frame one
    * sample. The md5-derived pixel/sample values are the same string
    * hashes both engines compute; the perturbation CASEs mirror the
    * generators'. Bit 63 (a legal dHash/envelope bit) lands on the
    * BIGINT sign — packed via the two's-complement identity
    * (sum of bits 0..62) + (bit63 ? −2⁶³ : 0), exact in both engines.
    * ONE definition feeds both media oracles below so the fingerprint
    * and pair replays can never drift.
    */
  private def mediaSigCtes: String = {
    // the packed-long rollup is identical for both modalities — only
    // the per-bit source CTE differs
    def pack(bitCte: String, alias: String) =
      s"""$alias AS (SELECT i.media_id,
             CAST(COALESCE(SUM(CASE WHEN b.j < 63
                      THEN (1::BIGINT << b.j) ELSE 0 END), 0)
               + CASE WHEN COUNT(CASE WHEN b.j = 63 THEN 1 END) > 0
                      THEN -9223372036854775807 - 1 ELSE 0 END AS BIGINT) AS fp
           FROM ids i LEFT JOIN $bitCte b ON i.media_id = b.media_id
           GROUP BY i.media_id)"""
    s"""ids AS (SELECT doc_id AS media_id, doc_id // 50 AS g,
               (doc_id // 25) % 2 AS variant
             FROM documents WHERE doc_id % 25 = 0),
      px0 AS (SELECT i.media_id, i.variant, x.x, y.y,
               ('0x' || substr(md5('px:' || CAST(i.g AS VARCHAR) || ':' ||
                  CAST(x.x AS VARCHAR) || ':' || CAST(y.y AS VARCHAR)),
                  1, 2))::BIGINT AS v0
             FROM ids i
             CROSS JOIN (SELECT unnest(range(9)) AS x) x
             CROSS JOIN (SELECT unnest(range(8)) AS y) y),
      px AS (SELECT media_id, x, y,
               CASE WHEN variant = 1 AND x = 3 AND y = 4
                    THEN 255 - v0 ELSE v0 END AS v
             FROM px0),
      ibit AS (SELECT a.media_id, CAST(a.y * 8 + a.x AS BIGINT) AS j
             FROM px a JOIN px b ON a.media_id = b.media_id AND a.y = b.y
                                AND b.x = a.x + 1
             WHERE a.x < 8 AND a.v > b.v),
      ${pack("ibit", "img")},
      sm0 AS (SELECT i.media_id, i.variant, s.j,
               ('0x' || substr(md5('au:' || CAST(i.g AS VARCHAR) || ':' ||
                  CAST(s.j AS VARCHAR)), 1, 4))::BIGINT % 32768 AS s0
             FROM ids i CROSS JOIN (SELECT unnest(range(65)) AS j) s),
      sm AS (SELECT media_id, j,
               CASE WHEN variant = 1 AND j = 10 THEN 32767 - s0 ELSE s0 END AS s
             FROM sm0),
      abit AS (SELECT a.media_id, a.j
             FROM sm a JOIN sm b ON a.media_id = b.media_id AND b.j = a.j + 1
             WHERE a.j < 64 AND b.s > a.s),
      ${pack("abit", "aud")}"""
  }

  /** DuckDB replay of [[DedupOps.kCoreFixedRounds]] over the %10-slice
    * jaccard-80 graph (the q_triangles base CTEs): each peel round is
    * one generated CTE pair (degree rollup + surviving-edge filter), so
    * the SQL has the same statically-known round count as the engine
    * plan. Generated in code so round CTEs provably match `rounds`.
    */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""d$r AS (SELECT id, COUNT(*) AS deg
              FROM (SELECT a_id AS id FROM e${r - 1}
                    UNION ALL SELECT b_id FROM e${r - 1})
              GROUP BY id),
        e$r AS (SELECT e.a_id, e.b_id FROM e${r - 1} e
              JOIN d$r da ON e.a_id = da.id
              JOIN d$r db ON e.b_id = db.id
              WHERE da.deg >= $k AND db.deg >= $k)"""
    }.mkString(",\n        ")
    s"""WITH docs AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 10 = 0),
        ${jaccardPairCtes("docs", 80, pairs = "e0")},
        $roundCtes
        SELECT id AS doc_id, COUNT(*)::BIGINT AS deg
        FROM (SELECT a_id AS id FROM e$rounds
              UNION ALL SELECT b_id FROM e$rounds)
        GROUP BY id ORDER BY doc_id"""
  }

  /** `r`/`regs([day,] register, max_rho)`: the m = 64 HLL registers of
    * the 60-bit hashes `h([day,] h)`; `byDay` keys them per epoch-day.
    */
  private def hllRegisterCtes(byDay: Boolean): String = {
    val (m, p, k) = (64, 55, if (byDay) "day, " else "")
    s"""r AS (SELECT ${k}h % $m AS register,
                $p - length(ltrim(bin(h // $m), '0')) AS rho FROM h),
        regs AS (SELECT ${k}register, MAX(rho) AS max_rho FROM r
                 GROUP BY ${k}register)"""
  }

  /** The HLL estimator over `regs([day,] register, max_rho)` at m = 64.
    * Every double constant is emitted via `Double.toString` from the
    * SAME Scala values the engine uses (`hllAlpha`/`hllLinearCountLut`),
    * wrapped in CAST(.. AS DOUBLE) (a bare decimal literal is DECIMAL in
    * DuckDB; string→double parsing is correctly rounded, so the
    * round-trip is bit-exact). The harmonic sum is the integer
    * Σ 2^(55−rho) with absent registers contributing 2^55 — exact int64
    * both engines.
    */
  private def hllEstimateSelect(regs: String, byDay: Boolean): String = {
    val (m, p) = (64, 55)
    def d(x: Double) = s"CAST('${java.lang.Double.toString(x)}' AS DOUBLE)"
    val num = SketchOps.hllAlpha(m) * m.toDouble * m.toDouble * math.pow(2.0, p)
    val lutCase = SketchOps.hllLinearCountLut(m).zipWithIndex
      .map { case (x, i) => s"WHEN ${i + 1} THEN ${d(x)}" }
      .mkString(" ")
    val (k, groupBy, orderBy) =
      if (byDay) ("day, ", " GROUP BY day", " ORDER BY day") else ("", "", "")
    s"""a AS (SELECT ${k}COALESCE(CAST(SUM(1::BIGINT << ($p - max_rho))
                       AS BIGINT), 0) AS s_obs,
                     COUNT(*)::BIGINT AS n_obs FROM $regs$groupBy),
        s AS (SELECT ${k}s_obs + ($m - n_obs) * (1::BIGINT << $p)
                       AS s_scaled,
                     $m - n_obs AS v FROM a),
        e AS (SELECT ${k}s_scaled, v,
                ${d(num)} / CAST(s_scaled AS DOUBLE) AS est_raw FROM s)
        SELECT ${k}s_scaled, v, est_raw,
          CASE WHEN est_raw <= ${d(2.5 * m)} AND v > 0
               THEN CASE v $lutCase END
               ELSE est_raw END AS est
        FROM e$orderBy"""
  }

  /** `h(day, h)`: the 60-bit user-id hash of each `events` row (`where`
    * filters them) with its epoch-day.
    */
  private def hllUserDayCte(where: String = ""): String =
    s"""h AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
                ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                  AS h
              FROM events$where)"""

  /** DuckDB replay of [[SketchOps.hllEstimate]] at m = 64 over the
    * documents word stream ([[hllEstimateSelect]]).
    */
  private def hllEstimateOracle: String =
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word
                FROM documents),
        h AS (SELECT ('0x' || substr(md5(word), 1, 15))::BIGINT AS h
              FROM tok),
        ${hllRegisterCtes(byDay = false)},
        ${hllEstimateSelect("regs", byDay = false)}"""

  /** DuckDB replay of [[SketchOps.hllRegistersBy]] ∘ [[SketchOps
    * .hllEstimateBy]] at m = 64: one HLL sketch PER epoch-day over the
    * event stream's user ids — the grouped COUNT(DISTINCT) sketch, the
    * grouping key threaded through every CTE.
    */
  private def hllDailyUsersOracle: String =
    s"""WITH ${hllUserDayCte()},
        ${hllRegisterCtes(byDay = true)},
        ${hllEstimateSelect("regs", byDay = true)}"""

  /** DuckDB replay of the ROLLING 7-day sketch union
    * ([[SketchOps.hllRollingRegisters]] ∘ [[SketchOps.hllEstimateBy]]):
    * per-day registers, max-rho over each trailing window, then the
    * same bit-deterministic estimator — the WAU shape, sketch-merged.
    */
  private def hllRollingUsersOracle(windowDays: Int): String =
    s"""WITH ${hllUserDayCte(" WHERE event_id % 7 = 0")},
        ${hllRegisterCtes(byDay = true)},
        dd AS (SELECT DISTINCT day AS w_day FROM regs),
        mrg AS (SELECT dd.w_day AS day, regs.register,
                MAX(regs.max_rho) AS max_rho
              FROM regs JOIN dd
                ON regs.day BETWEEN dd.w_day - ${windowDays - 1}
                               AND dd.w_day
              GROUP BY dd.w_day, regs.register),
        ${hllEstimateSelect("mrg", byDay = true)}"""

  /** (maxHamming+1)-band banding + bit_count(xor) verify — the DuckDB
    * replay of [[DedupOps.simHashPairs]] (portable hash, 60 bits).
    */
  private def simHashPairsOracle(src: String, maxHamming: Int): String = {
    val bands = maxHamming + 1
    val width = 60 / bands
    val mask = (1L << width) - 1
    s"""WITH ${simHashSigCtes(src)},
      bands AS (SELECT doc_id, simhash, t.b AS band_idx,
                  (simhash >> (CAST(t.b AS INTEGER) * $width)) & $mask AS band_key
                FROM sig CROSS JOIN range($bands) t(b)),
      p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                   a.simhash AS sa, b.simhash AS sb
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                 AND a.doc_id < b.doc_id)
      SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
      FROM p WHERE bit_count(xor(sa, sb)) <= $maxHamming ORDER BY a_id, b_id"""
  }

  /** DuckDB replay of [[graft.operators.SimilarityOps.pqTopKExact]]:
    * the IVF-Lloyd oracle with the subspace id `j = pos // subDim`
    * riding through every CTE — one joint chain trains all `m`
    * per-subspace codebooks at once (components only ever join within
    * their own subspace because equal `pos` implies equal `j`), final
    * codes are per-(vector, subspace) argmaxes, and the ADC score is
    * Σ over matched positions of query components × the CHOSEN
    * codeword's components — the same Σⱼ qⱼ·c[j][codeⱼ] identity the
    * engine evaluates as one reconstructed dot.
    */
  private def pqExactOracle(m: Int, kSub: Int, iterations: Int, mod: Int,
                            topK: Int, nQueries: Int, dim: Int = 64,
                            refine: Option[Int] = None): String = {
    val subDim = dim / m
    s"""WITH ${fixedPointExplode("e", "embeddings", dim, subDim = Some(subDim))},
        ${lloydCtes("", "tr", "e", mod, kSub, iterations, perSubspace = true)},
        ${assignCtes("dful", "code", "e", s"c$iterations", perSubspace = true)},
        q AS (SELECT vec_id AS q_id, pos, vi FROM e
             WHERE vec_id < $nQueries),
        sc AS (SELECT q.q_id, n.vec_id AS n_id,
               CAST(SUM(q.vi * c.c) AS BIGINT) AS score_s14
             FROM code n
             JOIN c$iterations c
               ON c.cell = n.cell AND c.pos // $subDim = n.j
             JOIN q ON q.pos = c.pos
             GROUP BY q.q_id, n.vec_id)${refine.map(c => s""",
        cand AS (SELECT q_id, n_id FROM (
             SELECT q_id, n_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY score_s14 DESC, n_id) AS rn
             FROM sc) WHERE rn <= $c),
        rer AS (SELECT cd.q_id, cd.n_id,
               CAST(SUM(q.vi * b.vi) AS BIGINT) AS score_s14
             FROM cand cd JOIN e b ON b.vec_id = cd.n_id
                          JOIN q ON q.q_id = cd.q_id AND q.pos = b.pos
             GROUP BY cd.q_id, cd.n_id)""").getOrElse("")}
        ${topKByScore(if (refine.isDefined) "rer" else "sc", topK)}"""
  }

  /** DuckDB replay of [[graft.operators.SimilarityOps.ivfPqTopKExact]]:
    * the IVF coarse-Lloyd chain (c0..cN), full-corpus cell assignment,
    * RESIDUAL components (v − coarse centroid), the PQ subspace-Lloyd
    * chain over the residuals (pc0..pcN, subspace id riding through),
    * per-(vector, subspace) codes, probe-cell selection per query, the
    * two-term ADC score q·c[cell] + q·recon(code), the candidate cut,
    * and the exact re-rank — each stage the already-proven CTE shape of
    * the IVF and PQ oracles, composed.
    */
  private def ivfPqExactOracle(kIvf: Int, nProbe: Int, m: Int, kSub: Int,
                               iterations: Int, mod: Int, topK: Int,
                               nQueries: Int, refineC: Int,
                               dim: Int = 64): String = {
    val subDim = dim / m
    s"""WITH ${fixedPointExplode("e", "embeddings", dim, subDim = Some(subDim))},
        ${lloydCtes("", "tr", "e", mod, kIvf, iterations)},
        ${assignCtes("dful", "af", "e", s"c$iterations")},
        ${residualCte("res", "e", "af", s"c$iterations")},
        ${lloydCtes("p", "rtr", "res", mod, kSub, iterations,
          perSubspace = true, seedAl = "r", member = "r2")},
        ${assignCtes("pdful", "code", "res", s"pc$iterations", perSubspace = true)},
        ${ivfPqServe(nQueries, nProbe, refineC, topK, s"c$iterations", s"pc$iterations", subDim)}"""
  }

  /** DuckDB replay of [[graft.operators.SimilarityOps.ivfDriftMatrix]]:
    * TWO independent coarse-Lloyd chains (prefixed o/n) differing only
    * in their training sample modulus, full-corpus assignment under
    * each, and the (old_cell, new_cell) transition rollup — each chain
    * the already-proven ivfExactOracle shape.
    */
  private def ivfDriftOracle(k: Int, iterations: Int, modOld: Int,
                             modNew: Int): String = {
    def chain(p: String, mod: Int): String =
      s"""${lloydCtes(p, s"${p}tr", "e", mod, k, iterations, prev = "q")},
        ${assignCtes(s"${p}dful", s"${p}af", "e", s"${p}c$iterations")}"""
    s"""WITH ${fixedPointExplode()},
        ${chain("o", modOld)},
        ${chain("n", modNew)}
        SELECT CAST(o.cell AS BIGINT) AS old_cell,
               CAST(n.cell AS BIGINT) AS new_cell,
               COUNT(*)::BIGINT AS n_vecs
        FROM oaf o JOIN naf n USING (vec_id)
        GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  /** The drifted-corpus CTE shared by the round-15 ANN maintenance
    * oracles (q_ann_codes_upsert, q_index_retrain): the base embeddings
    * with every vec_id % 10 = 0 row REPLACED by its element-reversed
    * vector (the re-crawl/new-version case — same id, new content) and
    * every vec_id % 7 = 3 row re-ingested under a shifted NEW id. Both
    * engines construct the identical relation (Spark `reverse` ↔ DuckDB
    * `list_reverse`), so the declared queries' batch is defined ONCE
    * here for the oracle and mirrored in the builders.
    */
  private val driftedCorpusCte: String =
    """corpus AS (
         SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0
         UNION ALL
         SELECT vec_id, list_reverse(embedding) FROM embeddings
         WHERE vec_id % 10 = 0
         UNION ALL
         SELECT vec_id + 1000000, embedding FROM embeddings
         WHERE vec_id % 7 = 3)"""

  /** DuckDB replay of [[graft.operators.SimilarityOps.ivfPqTopKUpserted]]
    * — the ivfPqExactOracle chain SPLIT at the train/serve boundary:
    * codebooks (coarse Lloyd, residuals, PQ Lloyd) fit on the BASE
    * corpus sample only (`eb`/`tr`/`bres`/`rtr` — the frozen-codebook
    * economics of codesUpsert), while assignment, coding, probing, ADC
    * and the exact refine all run over the MERGED corpus
    * ([[driftedCorpusCte]] — stored rows minus replacements, plus the
    * batch). Upsert ≡ re-code-from-scratch because coding is per-row
    * deterministic under frozen codebooks, so this from-scratch replay
    * IS the upsert oracle.
    */
  private def ivfPqUpsertOracle(kIvf: Int, nProbe: Int, m: Int, kSub: Int,
                                iterations: Int, mod: Int, topK: Int,
                                nQueries: Int, refineC: Int,
                                dim: Int = 64): String = {
    val subDim = dim / m
    s"""WITH ${fixedPointExplode("eb", "embeddings", dim, subDim = Some(subDim))},
        $driftedCorpusCte,
        ${fixedPointExplode("e", "corpus", dim, subDim = Some(subDim))},
        ${lloydCtes("", "tr", "eb", mod, kIvf, iterations)},
        ${assignCtes("bdful", "baf", "eb", s"c$iterations")},
        ${residualCte("bres", "eb", "baf", s"c$iterations")},
        ${lloydCtes("p", "rtr", "bres", mod, kSub, iterations,
          perSubspace = true, seedAl = "r", member = "r2")},
        ${assignCtes("dful", "af", "e", s"c$iterations")},
        ${residualCte("res", "e", "af", s"c$iterations")},
        ${assignCtes("pdful", "code", "res", s"pc$iterations", perSubspace = true)},
        ${ivfPqServe(nQueries, nProbe, refineC, topK, s"c$iterations", s"pc$iterations", subDim)}"""
  }

  /** DuckDB replay of [[graft.operators.SimilarityOps.ivfRetrainRecall]]:
    * TWO independent coarse-Lloyd chains — "stale" trained on the BASE
    * embeddings sample, "retrained" on the DRIFTED corpus sample (the
    * [[driftedCorpusCte]] relation both declared maintenance queries
    * share) — each running the probe-limited integer search of
    * ivfExactOracle against the DRIFTED corpus, scored per query as the
    * overlap with the exact-scan top-k.
    */
  private def ivfRetrainOracle(k: Int, iterations: Int, mod: Int,
                               nProbe: Int, topK: Int,
                               nQueries: Int): String = {
    // the request batch is the RE-CRAWLED vectors themselves (the %10
    // replaced slice) — the queries whose content actually drifted, so
    // the stale-vs-retrained recall gap is the audit's signal, not an
    // average over untouched queries that dilutes it
    val qPred = s"vec_id % 10 = 0 AND vec_id < ${10 * nQueries}"
    // search runs over the DRIFTED corpus (e) regardless of where the
    // chain trained — that is the whole point of the audit
    def chain(p: String, trainSrc: String): String =
      s"""${lloydCtes(p, s"${p}tr", trainSrc, mod, k, iterations,
          seedAl = "src", prev = "q")},
        ${assignCtes(s"${p}dful", s"${p}af", "e", s"${p}c$iterations")},
        ${p}pc AS (${rankCells(s"${p}dful WHERE $qPred", s"rn <= $nProbe", id = "q_id")}),
        ${p}cand AS (SELECT pc.q_id, af.vec_id AS n_id
             FROM ${p}pc pc JOIN ${p}af af ON af.cell = pc.cell),
        ${p}s AS (SELECT c.q_id, c.n_id,
               CAST(SUM(a.vi * b.vi) AS BIGINT) AS sc
             FROM ${p}cand c JOIN e a ON a.vec_id = c.q_id
                         JOIN e b ON b.vec_id = c.n_id AND a.pos = b.pos
             GROUP BY c.q_id, c.n_id),
        ${p}topk AS (SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY sc DESC, n_id) AS rn
          FROM ${p}s) WHERE rn <= $topK)"""
    s"""WITH ${fixedPointExplode("eb")},
        $driftedCorpusCte,
        ${fixedPointExplode("e", "corpus")},
        ${chain("o", "eb")},
        ${chain("n", "e")},
        xs AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
               CAST(SUM(a.vi * b.vi) AS BIGINT) AS sc
             FROM (SELECT * FROM e WHERE $qPred) a
             JOIN e b ON a.pos = b.pos
             GROUP BY a.vec_id, b.vec_id),
        xtopk AS (SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY sc DESC, n_id) AS rn
          FROM xs) WHERE rn <= $topK),
        qs AS (SELECT DISTINCT q_id FROM xs),
        hits AS (
          SELECT 'retrained' AS config, qs.q_id,
            (SELECT COUNT(*) FROM ntopk t JOIN xtopk x
               ON t.q_id = x.q_id AND t.n_id = x.n_id
             WHERE t.q_id = qs.q_id)::BIGINT AS n_hits
          FROM qs
          UNION ALL
          SELECT 'stale', qs.q_id,
            (SELECT COUNT(*) FROM otopk t JOIN xtopk x
               ON t.q_id = x.q_id AND t.n_id = x.n_id
             WHERE t.q_id = qs.q_id)::BIGINT
          FROM qs)
        SELECT config, q_id, n_hits FROM hits ORDER BY config, q_id"""
  }

  /** The three quality-signal CTE bodies proven under
    * q_quality_agreement — heuristic keep `qual` (30 words / <10%
    * stopwords), unigram-surprisal keep `sup` (bits_q8 ≤ 1040), DSIR
    * md5-gate keep `dsir` — over the full documents table.
    */
  private def qualityFlagCtes: String =
    s"""${unigramBitsCtes("s")},
        sup AS (SELECT w.doc_id,
                  CASE WHEN SUM(swb.bits) * 256 // COUNT(*) <= 1040
                    THEN 1 ELSE 0 END::BIGINT AS k_surprisal
                FROM w JOIN swb USING (word) GROUP BY w.doc_id),
        qual AS (SELECT doc_id,
                   CASE WHEN nw >= 30 AND sc * 1000000 // nw < 100000
                     THEN 1 ELSE 0 END::BIGINT AS k_quality
                 FROM (SELECT doc_id,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                         CAST(len(list_filter(string_split(text, ' '),
                           x -> x = 'a' OR x = 'the' OR x = 'of' OR x = 'and' OR x = 'in')) AS BIGINT) AS sc
                       FROM documents)),
        tok AS (SELECT doc_id,
                  $dsirBucket AS b
                FROM w),
        ${dsirPostCtes("documents")},
        wts AS (SELECT doc_id, CAST(SUM(post_ppm) // COUNT(*) AS BIGINT) AS dsir_ppm
                FROM tok JOIN post USING (b) GROUP BY doc_id),
        dsir AS (SELECT doc_id,
                   CASE WHEN $dsirGate < dsir_ppm
                     THEN 1 ELSE 0 END::BIGINT AS k_dsir
                 FROM wts)"""

  /** [[qualityFlagCtes]] joined into the per-document flag frame `f`:
    * the agreement key and the round-15 ensemble keys
    * (q_quality_ensemble, q_budget_ensemble).
    */
  private val qualityVotesCtes: String =
    s"""$qualityFlagCtes,
        f AS (SELECT q.doc_id, k_quality, k_surprisal, k_dsir
              FROM qual q JOIN sup USING (doc_id) JOIN dsir USING (doc_id))"""

  /** The LSH band-parameter S-curve relation shared by
    * q_lsh_calibration and q_lsh_autoconfig: catch probability
    * p = 1 − (1 − τ^r)^b for the production configs and nearby
    * alternatives, as exact truncating fixed-point ppm integers (both
    * engines replay the identical power chain — Spark via codegen'd
    * `aggregate(sequence(...))` folds, DuckDB via recursive CTEs).
    * Pure arithmetic, no table read — SF-invariant by construction.
    */
  private def lshCalibration(s: SparkSession): DataFrame = {
    import s.implicits._
    val rows = for {
      (nh, rpb) <- Seq((12, 3), (16, 2), (32, 2), (32, 4), (64, 4))
      t <- Seq(500000L, 700000L, 800000L, 900000L)
    } yield (nh.toLong, rpb.toLong, (nh / rpb).toLong, t)
    rows.toDF("num_hashes", "rows_per_band", "num_bands", "tau_ppm")
      .withColumn("tau_pow_r_ppm",
        expr("aggregate(sequence(1L, rows_per_band), 1000000L, " +
          "(acc, i) -> (acc * tau_ppm) div 1000000L)"))
      .withColumn("catch_ppm",
        expr("1000000L - aggregate(sequence(1L, num_bands), 1000000L, " +
          "(acc, i) -> (acc * (1000000L - tau_pow_r_ppm)) div 1000000L)"))
  }

  /** The recursive-CTE DuckDB replay of [[lshCalibration]] — the shared
    * prefix of the q_lsh_calibration and q_lsh_autoconfig oracles,
    * ending in a `cal` CTE with the same six columns.
    */
  private val lshCalibrationCtes: String =
    """grid(num_hashes, rows_per_band, tau_ppm) AS (
          SELECT g.nh, g.rpb, t.tau
          FROM (VALUES (12, 3), (16, 2), (32, 2), (32, 4), (64, 4)) g(nh, rpb)
          CROSS JOIN (VALUES (500000), (700000), (800000), (900000)) t(tau)),
        pr(num_hashes, rows_per_band, tau_ppm, i, x) AS (
          SELECT num_hashes, rows_per_band, tau_ppm, 0, CAST(1000000 AS BIGINT) FROM grid
          UNION ALL
          SELECT num_hashes, rows_per_band, tau_ppm, i + 1, x * tau_ppm // 1000000
          FROM pr WHERE i < rows_per_band),
        sr AS (SELECT num_hashes, rows_per_band, tau_ppm, x AS tau_pow_r_ppm
               FROM pr WHERE i = rows_per_band),
        pb(num_hashes, rows_per_band, tau_ppm, tau_pow_r_ppm, j, y) AS (
          SELECT num_hashes, rows_per_band, tau_ppm, tau_pow_r_ppm, 0,
                 CAST(1000000 AS BIGINT) FROM sr
          UNION ALL
          SELECT num_hashes, rows_per_band, tau_ppm, tau_pow_r_ppm, j + 1,
                 y * (1000000 - tau_pow_r_ppm) // 1000000
          FROM pb WHERE j < num_hashes // rows_per_band),
        cal AS (SELECT CAST(num_hashes AS BIGINT) AS num_hashes,
               CAST(rows_per_band AS BIGINT) AS rows_per_band,
               CAST(num_hashes // rows_per_band AS BIGINT) AS num_bands,
               CAST(tau_ppm AS BIGINT) AS tau_ppm,
               CAST(tau_pow_r_ppm AS BIGINT) AS tau_pow_r_ppm,
               CAST(1000000 - y AS BIGINT) AS catch_ppm
        FROM pb WHERE j = num_hashes // rows_per_band)"""

  /** DuckDB replay of [[graft.operators.TextOps.bpeFit]]: `rounds`
    * unrolled merge rounds (the IVF-Lloyd generated-oracle precedent —
    * the round count and vocabulary cap provably match the declared
    * query's). Per round: adjacent-pair counts weighted by word
    * frequency → best pair by (count DESC, left, right) → merge applied
    * relationally with the gaps-and-islands parity rule that equals the
    * engine's leftmost-nonoverlapping fold (see
    * [[graft.plans.BpeMergePair]] for the equivalence argument).
    */
  private def bpeOracle(rounds: Int, topWords: Int): String = {
    val rows = (1 to rounds).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS merge_round, b$t.l AS lsym,
          b$t.r AS rsym, b$t.cnt AS pair_count,
          (SELECT CAST(SUM(freq * len(syms)) AS BIGINT) FROM s$t)
            AS corpus_symbols,
          (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT)
           FROM (SELECT unnest(syms) AS sym FROM s$t) u) AS vocab_symbols
        FROM b$t"""
    }.mkString("\n      UNION ALL\n      ")
    s"""WITH ${bpeOracleCtes(rounds, topWords)}
      $rows
      ORDER BY merge_round"""
  }

  /** The shared CTE chain of the BPE oracles: word counts, the
    * character-split s0, and `rounds` unrolled (pairs → best → merge)
    * rounds ending in s`rounds`.
    */
  private def bpeOracleCtes(rounds: Int, topWords: Int,
                            corpus: String = "documents"): String = {
    val roundCtes = (1 to rounds).map { t =>
      s"""p$t AS (
        SELECT u.l AS l, u.r AS r, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM (SELECT freq, unnest([{'l': syms[i], 'r': syms[i+1]}
                for i in range(1, len(syms))]) AS u FROM s${t - 1})
        GROUP BY u.l, u.r),
      b$t AS (SELECT l, r, cnt FROM p$t ORDER BY cnt DESC, l, r LIMIT 1),
      e$t AS (SELECT word, freq, u.pos AS pos, u.sym AS sym
        FROM (SELECT word, freq, unnest([{'pos': i, 'sym': syms[i]}
                for i in range(1, len(syms) + 1)]) AS u FROM s${t - 1})),
      c$t AS (SELECT e.word, e.freq, e.pos, e.sym, b.l, b.r,
          (e.sym = b.l AND
           lead(e.sym) OVER (PARTITION BY e.word ORDER BY e.pos) = b.r) AS cand
        FROM e$t e CROSS JOIN b$t b),
      g$t AS (SELECT *, CASE WHEN cand THEN
            pos - ROW_NUMBER() OVER (PARTITION BY word, cand ORDER BY pos)
          END AS isl FROM c$t),
      k$t AS (SELECT *, cand AND
            (pos - MIN(pos) OVER (PARTITION BY word, isl)) % 2 = 0 AS strt
        FROM g$t),
      s$t AS (SELECT word, any_value(freq) AS freq,
          list(sym2 ORDER BY pos) FILTER (sym2 IS NOT NULL) AS syms
        FROM (SELECT word, freq, pos,
                CASE WHEN strt THEN l || r
                     WHEN lag(strt) OVER (PARTITION BY word ORDER BY pos)
                       THEN NULL
                     ELSE sym END AS sym2
              FROM k$t)
        GROUP BY word)"""
    }.mkString(",\n      ")
    s"""wc AS (
        SELECT word, COUNT(*)::BIGINT AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM $corpus)
        WHERE len(word) > 0
        GROUP BY word ORDER BY freq DESC, word LIMIT $topWords),
      s0 AS (SELECT word, freq,
        [substr(word, i, 1) for i in range(1, len(word) + 1)] AS syms
        FROM wc),
      $roundCtes"""
  }

  // ================= oracle building blocks ===========================
  // Every SQL fragment more than one oracle needs is written ONCE below
  // and composed by name (the bm25Oracle / knnGraphCtes pattern).
  // Whitespace is free — `normalize` collapses it — so a fragment
  // composes into any oracle's layout without changing its text.

  /** `name(vec_id[, label], vi, pos[, j])`: `src`'s embeddings exploded
    * to one row per component on the engine's fixed-point ×10⁷ integer
    * grid; `label` carries the BIGINT class label, `subDim` adds the PQ
    * subspace id `j = pos // subDim`.
    */
  private def fixedPointExplode(name: String = "e",
                                src: String = "embeddings", dim: Int = 64,
                                subDim: Option[Int] = None,
                                label: Boolean = false): String = {
    val (lab, labSrc) =
      if (label) (" CAST(label AS BIGINT) AS label,", " label,") else ("", "")
    s"""$name AS (SELECT vec_id,$lab
             CAST(round(CAST(v AS DOUBLE) * 10000000) AS BIGINT) AS vi,
             pos${subDim.map(d => s", pos // $d AS j").getOrElse("")}
           FROM (SELECT vec_id,$labSrc unnest(embedding) AS v,
                   unnest(range($dim)) AS pos FROM $src))"""
  }

  /** Each vector's cells (with `perSubspace`, each vector-subspace's)
    * from `from(vec_id[, j], cell, dt)`, ranked by dot descending with
    * ties to the lower cell, kept where `keep`: the Lloyd assignment
    * step (`rn = 1`) and the IVF probe list (`rn <= nProbe`). `id`
    * renames vec_id on the way out.
    */
  private def rankCells(from: String, keep: String = "rn = 1",
                        perSubspace: Boolean = false,
                        id: String = "vec_id"): String = {
    val cols = if (perSubspace) "j, cell" else "cell"
    val inId = if (id == "vec_id") id else s"vec_id AS $id"
    s"""SELECT $id, $cols FROM (
             SELECT $inId, $cols,
               ROW_NUMBER() OVER (PARTITION BY vec_id${if (perSubspace) ", j" else ""}
                                  ORDER BY dt DESC, cell) AS rn
             FROM $from) WHERE $keep"""
  }

  /** `dist`: the dot of every component row of `src` (aliased `al`)
    * with every centroid of `centroids(cell, pos, c)`; `assign`: each
    * row's nearest cell.
    */
  private def assignCtes(dist: String, assign: String, src: String,
                         centroids: String, perSubspace: Boolean = false,
                         al: String = "v"): String = {
    val j = if (perSubspace) s"$al.j, " else ""
    s"""$dist AS (SELECT $al.vec_id, ${j}c.cell, SUM($al.vi * c.c) AS dt
             FROM $src $al JOIN $centroids c ON $al.pos = c.pos
             GROUP BY $al.vec_id, ${j}c.cell),
        $assign AS (${rankCells(dist, perSubspace = perSubspace)})"""
  }

  /** Each query's `k` best (q_id, n_id) rows of `from` by integer
    * score, ties to the lower n_id — the declared top-k output shape.
    */
  private def topKByScore(from: String, k: Int): String =
    s"""SELECT q_id, rn, n_id, score_s14 FROM (
          SELECT q_id, n_id, score_s14,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY score_s14 DESC, n_id) AS rn
          FROM $from) WHERE rn <= $k
        ORDER BY q_id, rn"""

  /** Integer Lloyd over `src`'s `vec_id % mod = 0` sample (CTE `train`):
    * the first `k` sampled vectors seed `${prefix}c0`, then `iterations`
    * unrolled rounds (assign → truncating-mean update, emptied cells
    * carried via COALESCE) end in `${prefix}c$iterations`.
    * `perSubspace` trains every PQ subspace at once (j rides along).
    * `seedAl`, `member` and `prev` alias the seed rows, the update's
    * member rows and the carried centroids.
    */
  private def lloydCtes(prefix: String, train: String, src: String,
                        mod: Int, k: Int, iterations: Int,
                        perSubspace: Boolean = false, seedAl: String = "e",
                        member: String = "e2", prev: String = "p"): String = {
    val rounds = (1 to iterations).map { i =>
      val (c, a) = (s"${prefix}c${i - 1}", s"${prefix}a${i - 1}")
      val sameJ = if (perSubspace) s" AND $member.j = a.j" else ""
      s"""${assignCtes(s"${prefix}d${i - 1}", a, train, c, perSubspace, "t")},
        ${prefix}u$i AS (SELECT a.cell, $member.pos,
               CAST(SUM($member.vi) // COUNT(*) AS BIGINT) AS c
             FROM $a a JOIN $train $member ON $member.vec_id = a.vec_id$sameJ
             GROUP BY a.cell, $member.pos),
        ${prefix}c$i AS (SELECT $prev.cell, $prev.pos, COALESCE(u.c, $prev.c) AS c
             FROM $c $prev
             LEFT JOIN ${prefix}u$i u ON $prev.cell = u.cell AND $prev.pos = u.pos)"""
    }
    val seedSrc = if (seedAl == src) src else s"$src $seedAl"
    s"""$train AS (SELECT * FROM $src WHERE vec_id % $mod = 0),
        ${prefix}seed AS (SELECT vec_id, rn - 1 AS cell FROM (
             SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
             FROM (SELECT DISTINCT vec_id FROM $train)) WHERE rn <= $k),
        ${prefix}c0 AS (SELECT s.cell, $seedAl.pos, $seedAl.vi AS c
             FROM ${prefix}seed s JOIN $seedSrc ON $seedAl.vec_id = s.vec_id),
        ${rounds.mkString(",\n        ")}"""
  }

  /** The IVF-PQ serving half over the corpus `e` with its `af` cells
    * and `code` PQ codes: the first `nQueries` vectors probe
    * their `nProbe` nearest coarse cells, the two-term ADC score
    * q·c[cell] + q·recon(code) cuts `refineC` candidates, and the exact
    * re-rank keeps the top `topK`.
    */
  private def ivfPqServe(nQueries: Int, nProbe: Int, refineC: Int,
                         topK: Int, coarse: String, pq: String,
                         subDim: Int): String =
    s"""q AS (SELECT vec_id AS q_id, pos, vi FROM e
             WHERE vec_id < $nQueries),
        qprobe AS (SELECT q_id, cell FROM (
             SELECT q.q_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                                  ORDER BY SUM(q.vi * c.c) DESC, c.cell) AS rn
             FROM q JOIN $coarse c ON q.pos = c.pos
             GROUP BY q.q_id, c.cell) WHERE rn <= $nProbe),
        tcoarse AS (SELECT p.q_id, n.vec_id AS n_id,
               CAST(SUM(q.vi * cc.c) AS BIGINT) AS t1
             FROM af n JOIN qprobe p ON p.cell = n.cell
             JOIN $coarse cc ON cc.cell = n.cell
             JOIN q ON q.q_id = p.q_id AND q.pos = cc.pos
             GROUP BY p.q_id, n.vec_id),
        tres AS (SELECT p.q_id, n.vec_id AS n_id,
               CAST(SUM(q.vi * pc.c) AS BIGINT) AS t2
             FROM code n
             JOIN af a ON a.vec_id = n.vec_id
             JOIN qprobe p ON p.cell = a.cell
             JOIN $pq pc
               ON pc.cell = n.cell AND pc.pos // $subDim = n.j
             JOIN q ON q.q_id = p.q_id AND q.pos = pc.pos
             GROUP BY p.q_id, n.vec_id),
        cand AS (SELECT q_id, n_id FROM (
             SELECT t.q_id, t.n_id,
               ROW_NUMBER() OVER (PARTITION BY t.q_id
                                  ORDER BY t.t1 + r.t2 DESC, t.n_id) AS rn
             FROM tcoarse t JOIN tres r USING (q_id, n_id))
             WHERE rn <= $refineC),
        rer AS (SELECT cd.q_id, cd.n_id,
               CAST(SUM(q.vi * b.vi) AS BIGINT) AS score_s14
             FROM cand cd JOIN e b ON b.vec_id = cd.n_id
                          JOIN q ON q.q_id = cd.q_id AND q.pos = b.pos
             GROUP BY cd.q_id, cd.n_id)
        ${topKByScore("rer", topK)}"""

  /** `name(vec_id, pos, j, vi)`: `src`'s components minus their cell's
    * coarse centroid — the PQ training and coding input.
    */
  private def residualCte(name: String, src: String, assign: String,
                          centroids: String): String =
    s"""$name AS (SELECT v.vec_id, v.pos, v.j, v.vi - cc.c AS vi
             FROM $src v JOIN $assign a ON v.vec_id = a.vec_id
             JOIN $centroids cc ON cc.cell = a.cell AND cc.pos = v.pos)"""

  /** `name(source, shard, doc_id, n, cb)`: each doc's token count `n`
    * from `src(source, shard, doc_id, n)` with `cb`, the tokens before
    * it in its (source, shard) — the concat-then-chunk packer's offset.
    */
  private def packCumCte(name: String, src: String): String =
    s"""$name AS (SELECT source, shard, doc_id, n,
                CAST(COALESCE(SUM(n) OVER (PARTITION BY source, shard
                  ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cb
              FROM $src)"""

  /** The regex tokenizer's token count of `text` (TextOps' pack and
    * mixture pricing).
    */
  private def regexTokens: String =
    "CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)"

  /** `name(source, shard, doc_id, n)`: `src`'s docs in 100-doc shards,
    * priced by [[regexTokens]].
    */
  private def regexTokCte(name: String, src: String): String =
    s"""$name AS (SELECT source, doc_id // 100 AS shard, doc_id,
                $regexTokens AS n
              FROM $src)"""

  /** After [[bpeOracleCtes]]: `wt` per-word token counts of the fitted
    * s6 vocabulary, `wtok(doc_id, n)` the per-doc totals over `docs`
    * (OOV words count their characters).
    */
  private def bpeDocTokCtes(docs: String): String =
    s"""wt AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_bpe FROM s6),
        wtok AS (SELECT doc_id,
                   CAST(SUM(COALESCE(wt.n_bpe, len(w.word))) AS BIGINT) AS n
                 FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                       FROM $docs) w
                 LEFT JOIN wt ON w.word = wt.word
                 GROUP BY doc_id)"""

  /** The BPE-priced pack over `docs`: [[bpeDocTokCtes]], `t` 100-doc
    * shards and `cpk` the [[packCumCte]] offsets.
    */
  private def bpePackCtes(docs: String): String =
    s"""${bpeDocTokCtes(docs)},
        t AS (SELECT d.source, d.doc_id // 100 AS shard, d.doc_id,
                COALESCE(wtok.n, 0) AS n
              FROM $docs d LEFT JOIN wtok USING (doc_id)),
        ${packCumCte("cpk", "t")}"""

  /** The BPE pack shards over `docs`: [[bpePackCtes]] bins plus each
    * doc's tok_offset in its bin and the md5 of its BPE symbol sequence
    * (`dstr`: the doc re-spelled under the fitted s6 vocabulary, OOV
    * words split into characters).
    */
  private def bpePackShards(docs: String): String =
    s"""${bpePackCtes(docs)},
        ww AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                 unnest(range(len(string_split(text, ' ')))) AS wpos
               FROM $docs),
        wtk AS (SELECT ww.doc_id, ww.wpos,
                  COALESCE(s6.syms,
                    list_filter(string_split(ww.word, ''),
                      x -> x <> '')) AS syms
                FROM ww LEFT JOIN s6 ON ww.word = s6.word),
        flat AS (SELECT doc_id, wpos, unnest(syms) AS sym,
                   unnest(range(len(syms))) AS spos
                 FROM wtk),
        dstr AS (SELECT doc_id,
                   COALESCE(string_agg(sym, ' ' ORDER BY wpos, spos), '')
                     AS str
                 FROM flat GROUP BY doc_id)
        SELECT cpk.source, cpk.shard, cpk.cb // 128 AS bin, cpk.doc_id,
          cpk.n AS n_tokens,
          CAST(cpk.cb - MIN(cpk.cb) OVER (PARTITION BY cpk.source,
            cpk.shard, cpk.cb // 128) AS BIGINT) AS tok_offset,
          COALESCE(md5(dstr.str), md5('')) AS tok_md5
        FROM cpk LEFT JOIN dstr USING (doc_id)
        ORDER BY source, shard, bin, doc_id"""

  /** `w(doc_id, word)`: every word occurrence of the documents;
    * `${p}wb(word, bits)`: each word's integer surprisal
    * floor(log2(total / count)) via the portable `length(bin(x)) - 1`
    * identity — the unigram LM-bits quality signal.
    */
  private def unigramBitsCtes(p: String = ""): String =
    s"""w AS (SELECT doc_id,
                unnest(string_split(text, ' ')) AS word FROM documents),
        ${p}wc AS (SELECT word, COUNT(*)::BIGINT AS cnt FROM w GROUP BY word),
        ${p}tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM ${p}wc),
        ${p}wb AS (SELECT word,
                 CAST(length(bin(t // cnt)) - 1 AS BIGINT) AS bits
               FROM ${p}wc CROSS JOIN ${p}tot)"""

  /** `sess(user_id, tsn, session_id)`: every event (µs time `tsn`)
    * with its per-user session number under a 30-minute inactivity gap.
    */
  private def sessionCtes: String =
    """e AS (SELECT user_id, event_id, epoch_us(ts) AS tsn FROM events),
        g AS (SELECT user_id, tsn, event_id,
                CASE WHEN lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) IS NULL
                       OR tsn - lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
              FROM e),
        sess AS (SELECT user_id, tsn,
                CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tsn, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM g)"""

  /** The 600-word per-source budget pick: documents ranked by
    * distinct-word ratio (ppm) within their source, kept while the
    * source's running word count fits. `keepOnly` restricts the
    * candidates to a preceding `keep(doc_id)` CTE.
    */
  private def tokenBudgetSelect(keepOnly: Boolean = false): String =
    s"""q AS (SELECT source, doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                  * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT)
                  AS score_ppm
              FROM documents${if (keepOnly)
                "\n              WHERE doc_id IN (SELECT doc_id FROM keep)" else ""}),
        r AS (SELECT source, doc_id, score_ppm, n_words,
                CAST(SUM(n_words) OVER (PARTITION BY source
                  ORDER BY score_ppm DESC, doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
              FROM q)
        SELECT source, doc_id, score_ppm, n_words, cum_tokens
        FROM r WHERE cum_tokens <= 600
        ORDER BY source, doc_id"""

  /** DSIR's hashed-unigram bucket of `word` (1024 buckets; the engine's
    * `TextOps.importanceWeights` hashes the same md5 prefix).
    */
  private def dsirBucket: String =
    "('0x' || substr(md5(word), 1, 8))::BIGINT % 1024"

  /** DSIR's deterministic keep gate: a doc survives when this ppm draw
    * is below its posterior score.
    */
  private def dsirGate: String =
    "('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000"

  /** DSIR posterior per bucket, given `tok(doc_id, b)`: raw counts in
    * CTE `raw`, counts over `target`'s en slice in `tgt`, and the
    * add-one smoothed `post(b, post_ppm)`, truncated in HUGEINT.
    */
  private def dsirPostCtes(target: String, raw: String = "rawc"): String =
    s"""$raw AS (SELECT b, COUNT(*)::BIGINT AS r_c FROM tok GROUP BY b),
        tgt AS (SELECT b, COUNT(*)::BIGINT AS t_c
                FROM (SELECT $dsirBucket AS b
                      FROM (SELECT unnest(string_split(text, ' ')) AS word
                            FROM $target WHERE lang = 'en')) GROUP BY b),
        tot AS (SELECT (SELECT SUM(r_c) FROM $raw) AS r_tot,
                       (SELECT COALESCE(SUM(t_c), 0) FROM tgt) AS t_tot),
        bt AS (SELECT $raw.b,
                 CAST(COALESCE(t_c, 0) + 1 AS HUGEINT) * (r_tot + 1024) AS num,
                 CAST(r_c + 1 AS HUGEINT) * (t_tot + 1024) AS den
               FROM $raw LEFT JOIN tgt ON $raw.b = tgt.b CROSS JOIN tot),
        post AS (SELECT b, CAST(num * 1000000 // (num + den) AS BIGINT) AS post_ppm FROM bt)"""

  /** `name(ids…, col)`: the distinct space-joined word 3-grams of the
    * word array `arr` of `src`, over rows with at least three words —
    * the shingle unit of decontamination, boilerplate and novelty.
    */
  private def shingleCte(name: String, ids: String, src: String,
                         arr: String = "w", col: String = "sh"): String =
    s"""$name AS (SELECT DISTINCT $ids, $col
               FROM (SELECT $ids,
                       unnest([array_to_string($arr[i:i+2], ' ') for i in range(1, len($arr) - 1)]) AS $col
                     FROM $src WHERE len($arr) >= 3))"""

  /** `w(doc_id, word)`: the distinct words of `src(doc_id, text)`;
    * `sz`: per-doc set sizes; `c(a_id, b_id, common)`: the shared-word
    * count of every doc pair a < b — the brute-force Jaccard join.
    */
  private def wordOverlapCtes(src: String): String =
    s"""w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM $src),
        sz AS (SELECT doc_id, COUNT(*)::BIGINT AS set_size FROM w GROUP BY doc_id),
        c AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*)::BIGINT AS common
              FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)"""

  /** [[wordOverlapCtes]] + `pairs(a_id, b_id)`: the pairs at Jaccard
    * ≥ `pct` % — the exact answer every near-dup oracle starts from.
    */
  private def jaccardPairCtes(src: String, pct: Int,
                              pairs: String = "p"): String =
    s"""${wordOverlapCtes(src)},
        $pairs AS (SELECT c.a_id, c.b_id
              FROM c JOIN sz sa ON c.a_id = sa.doc_id JOIN sz sb ON c.b_id = sb.doc_id
              WHERE c.common * 100 >= (sa.set_size + sb.set_size - c.common) * $pct)"""

  /** `edges(src, dst)`: both directions of the pair CTE `pairs(a, b)`. */
  private def symEdgesCte(pairs: String = "p", edges: String = "e",
                          a: String = "a_id", b: String = "b_id"): String =
    s"""$edges AS (SELECT $a AS src, $b AS dst FROM $pairs
              UNION SELECT $b, $a FROM $pairs)"""

  /** `reach(src, dst)`: the transitive closure of `edges(src, dst)`
    * (needs WITH RECURSIVE). The min-label component of `src` is
    * `LEAST(src, MIN(dst))`, order-free in both engines.
    */
  private def reachCte(edges: String = "e"): String =
    s"""reach(src, dst) AS (
          SELECT src, dst FROM $edges
          UNION
          SELECT r.src, $edges.dst FROM reach r JOIN $edges ON r.dst = $edges.src)"""

  /** [[symEdgesCte]] + [[reachCte]] over the pair CTE `p(a_id, b_id)`. */
  private def componentCtes: String =
    s"""${symEdgesCte()},
        ${reachCte()}"""

  /** The composed curation chain of q_pipeline_curate and
    * q_pipeline_curate_bpe: docs0 (the %4 slice plus re-inserted %200
    * dupes) → d1 exact dedup → d2 near-dup canonical keepers → d3
    * decontaminated vs the %100=50 bench slice → d4 quality filter →
    * d5 DSIR select → `bins` pack. `keeper` names the exact-dedup
    * keeper CTE (the BPE key's fit chain already owns `k1`).
    */
  private def curationChainCtes(keeper: String): String =
    s"""docs0 AS MATERIALIZED (
          SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 4 = 0
          UNION ALL
          SELECT doc_id + 10000000, text, lang, source FROM documents
          WHERE doc_id % 200 = 0),
        $keeper AS (SELECT MIN(doc_id) AS doc_id FROM docs0 GROUP BY md5(text)),
        d1 AS MATERIALIZED (SELECT d.* FROM docs0 d JOIN $keeper USING (doc_id)),
        ${jaccardPairCtes("d1", 80)},
        $componentCtes,
        m AS MATERIALIZED (SELECT src AS doc_id,
               LEAST(src, MIN(dst))::BIGINT AS cluster_id
             FROM reach GROUP BY src),
        t1 AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM d1),
        keep2 AS (SELECT arg_max(m.doc_id,
                    CAST(t1.n AS HUGEINT) * 18446744073709551616::HUGEINT - m.doc_id) AS doc_id
                  FROM m JOIN t1 USING (doc_id) GROUP BY m.cluster_id),
        d2 AS MATERIALIZED (SELECT d.* FROM d1 d
             WHERE d.doc_id NOT IN (SELECT doc_id FROM m)
                OR d.doc_id IN (SELECT doc_id FROM keep2)),
        bench AS (SELECT doc_id AS bench_id, string_split(text, ' ') AS ws
                  FROM documents WHERE doc_id % 100 = 50),
        ${shingleCte("cs", "doc_id", "(SELECT doc_id, string_split(text, ' ') AS ws FROM d2)", arr = "ws")},
        ${shingleCte("bs", "bench_id", "bench", arr = "ws")},
        flag AS (SELECT DISTINCT doc_id FROM (
                   SELECT cs.doc_id FROM cs JOIN bs USING (sh)
                   GROUP BY cs.doc_id, bs.bench_id HAVING COUNT(*) >= 3)),
        d3 AS MATERIALIZED (SELECT * FROM d2
             WHERE doc_id NOT IN (SELECT doc_id FROM flag)),
        q AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                CAST(len(list_filter(string_split(text, ' '),
                  x -> x = 'a' OR x = 'the' OR x = 'of' OR x = 'and' OR x = 'in')) AS BIGINT) AS sc
              FROM d3),
        d4 AS MATERIALIZED (SELECT d.* FROM d3 d JOIN q USING (doc_id)
             WHERE q.nw >= 30 AND q.sc * 1000000 // q.nw < 100000),
        tok AS MATERIALIZED (
          SELECT doc_id, $dsirBucket AS b
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM d4)),
        ${dsirPostCtes("d4")},
        wts AS (SELECT doc_id, CAST(SUM(post_ppm) // COUNT(*) AS BIGINT) AS dsir_ppm
                FROM tok JOIN post USING (b) GROUP BY doc_id),
        sel AS (SELECT doc_id FROM wts
                WHERE $dsirGate < dsir_ppm),
        d5 AS MATERIALIZED (SELECT d.* FROM d4 d JOIN sel USING (doc_id)),
        ${regexTokCte("pt", "d5")},
        ${packCumCte("pc", "pt")},
        bins AS (SELECT source, shard, cb // 128 AS bin, COUNT(*)::BIGINT AS n_docs,
                   CAST(SUM(n) AS BIGINT) AS bin_tokens FROM pc GROUP BY 1, 2, 3)"""

  /** The per-stage accounting over [[curationChainCtes]]: one (rows_in,
    * rows_out, tokens_out) row per stage. `bpe` adds each stage's
    * BPE-token total over the fitted vocabulary CTE `wt(word, n_bpe)`
    * (OOV words count their characters); the pack row repeats d5's,
    * since packing drops no document.
    */
  private def curationAcct(bpe: Boolean): String = {
    val stages = Seq(("exact_dedup", "docs0", "d1"),
      ("neardup_canonical", "d1", "d2"), ("decontaminate", "d2", "d3"),
      ("quality_filter", "d3", "d4"), ("dsir_select", "d4", "d5"),
      ("pack", "d5", "bins"))
    val names = Seq("stage_idx", "stage", "rows_in", "rows_out",
      "tokens_out", "bpe_tokens_out")
    val rows = stages.zipWithIndex.map { case ((stage, in, out), i) =>
      val tokens =
        if (out == "bins") "(SELECT COALESCE(SUM(bin_tokens), 0) FROM bins)"
        else s"(SELECT COALESCE(SUM(len(string_split(text, ' '))), 0) FROM $out)"
      val cols = Seq(s"${i + 1}", s"'$stage'", s"(SELECT COUNT(*) FROM $in)",
        s"(SELECT COUNT(*) FROM $out)", tokens) ++
        (if (bpe) Seq(s"(SELECT btok FROM bpe${math.min(i + 1, 5)})") else Nil)
      if (i == 0) cols.zip(names).map { case (c, n) => s"$c AS $n" }
        .mkString("SELECT ", ",\n            ", "")
      else cols.mkString("UNION ALL SELECT ", ",\n            ", "")
    }
    val bpeCtes = if (!bpe) "" else (1 to 5).map { i =>
      s"""bpe$i AS (SELECT CAST(COALESCE(SUM(COALESCE(wt.n_bpe, len(wx.word))), 0) AS BIGINT) AS btok
                 FROM (SELECT unnest(string_split(text, ' ')) AS word FROM d$i) wx
                 LEFT JOIN wt USING (word)),
        """
    }.mkString
    s"""${bpeCtes}acct AS (
          ${rows.mkString("\n          ")})
        SELECT ${names.take(if (bpe) 6 else 5).map {
          case "stage" => "stage"
          case n => s"$n::BIGINT AS $n"
        }.mkString(", ")}
        FROM acct ORDER BY stage_idx"""
  }

  /** The brute-force pair answer of q_neardup_jaccard and
    * q_neardup_lsh_verified.
    */
  private val neardupJaccardOracle: String =
    s"""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        ${wordOverlapCtes("docs")}
        SELECT c.a_id, c.b_id, c.common,
               sa.set_size + sb.set_size - c.common AS union_size,
               c.common * 1000000 // (sa.set_size + sb.set_size - c.common) AS jaccard_ppm
        FROM c JOIN sz sa ON c.a_id = sa.doc_id JOIN sz sb ON c.b_id = sb.doc_id
        WHERE c.common * 100 >= (sa.set_size + sb.set_size - c.common) * 80
        ORDER BY c.a_id, c.b_id"""

  /** Min-label components over the exact pairs: q_neardup_clusters
    * and q_neardup_clusters_star.
    */
  private val neardupClustersOracle: String =
    s"""WITH RECURSIVE docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        ${jaccardPairCtes("docs", 80)},
        $componentCtes
        SELECT src AS doc_id,
               LEAST(src, MIN(dst))::BIGINT AS cluster_id,
               (LEAST(src, MIN(dst)) = src) AS is_keeper
        FROM reach GROUP BY src ORDER BY doc_id"""

  /** q_containment and q_containment_prefix: two engine plans, one
    * answer.
    */
  private val containmentOracle: String =
    s"""WITH docs AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 10 = 0),
        ${wordOverlapCtes("docs")},
        cs AS (SELECT c.a_id, c.b_id, c.common,
                 sa.set_size AS n_a, sb.set_size AS n_b
               FROM c JOIN sz sa ON c.a_id = sa.doc_id
                      JOIN sz sb ON c.b_id = sb.doc_id),
        dir AS (SELECT a_id AS src_id, b_id AS dst_id, common,
                  n_a AS n_src, n_b AS n_dst FROM cs
                UNION ALL
                SELECT b_id, a_id, common, n_b, n_a FROM cs)
        SELECT src_id, dst_id, common, n_src, n_dst,
          common * 1000000 // n_src AS cont_ppm
        FROM dir WHERE common * 100 >= n_src * 90
        ORDER BY src_id, dst_id"""

  /** q_tfidf_cosine and q_tfidf_cosine_prefix: two engine plans, one
    * answer.
    */
  private val tfidfCosineOracle: String =
    """WITH docs AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 10 = 0),
        tf AS (SELECT doc_id, word, COUNT(*)::BIGINT AS tf
               FROM (SELECT doc_id, unnest(string_split(text, ' '))
                       AS word FROM docs)
               GROUP BY doc_id, word),
        dfq AS (SELECT word, COUNT(*)::BIGINT AS df FROM tf GROUP BY word),
        wt AS (SELECT tf.doc_id, tf.word, tf.tf * (1000000 // dfq.df) AS w
               FROM tf JOIN dfq USING (word)),
        n AS (SELECT doc_id, SUM(w * w)::BIGINT AS norm_s FROM wt
              GROUP BY doc_id),
        d AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                SUM(a.w * b.w)::BIGINT AS dot_s
              FROM wt a JOIN wt b ON a.word = b.word
                                 AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
        SELECT d.a_id, d.b_id, d.dot_s,
               na.norm_s AS a_norm_s, nb.norm_s AS b_norm_s
        FROM d JOIN n na ON d.a_id = na.doc_id
               JOIN n nb ON d.b_id = nb.doc_id
        WHERE d.dot_s > 0
          AND CAST(d.dot_s AS DOUBLE) * CAST(d.dot_s AS DOUBLE) * 10000.0 >=
              CAST(na.norm_s AS DOUBLE) * CAST(nb.norm_s AS DOUBLE) * 6400.0
        ORDER BY d.a_id, d.b_id"""

  /** q_simsearch_topk and q_simsearch_fast: two engine plans, one
    * answer.
    */
  private val simsearchTopkOracle: String =
    """WITH q AS (SELECT vec_id AS q_id, unnest(embedding) AS qv,
                     unnest(range(64)) AS pos
              FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id AS n_id, unnest(embedding) AS cv, unnest(range(64)) AS pos
              FROM embeddings),
        s AS (SELECT q.q_id, c.n_id,
                SUM(CAST(round(CAST(q.qv AS DOUBLE) * 10000000) AS BIGINT)
                    * CAST(round(CAST(c.cv AS DOUBLE) * 10000000) AS BIGINT)) AS score_s14
              FROM q JOIN c ON q.pos = c.pos GROUP BY q.q_id, c.n_id)
        SELECT q_id, rn, n_id, score_s14 FROM (
          SELECT q_id, n_id, CAST(score_s14 AS BIGINT) AS score_s14,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY score_s14 DESC, n_id) AS rn
          FROM s) WHERE rn <= 5
        ORDER BY q_id, rn"""

  val all: Seq[Declared] = Seq(

    // ================= 2.A / 2.F — scans, sorts, limits =================

    // NB (l_orderkey, l_linenumber) is NOT unique in the synthetic
    // lineitem — every lineitem row-output query orders by ALL output
    // columns so any remaining ties are full-row duplicates
    // (interchangeable under positional compare).
    Declared("q_scan_limit",
      (s, d) => lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .limit(25),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag
        LIMIT 25""")),

    Declared("q_topk",
      (s, d) => lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
        .limit(10),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""")),

    // ================= 2.B — projection / filter / predicates ==========

    Declared("q_filter_conj",
      (s, d) => orders(s, d)
        .filter((col("o_orderstatus") === "O" || col("o_orderpriority") === "1-URGENT")
          && col("o_totalprice") > 250000.0)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
        FROM orders
        WHERE (o_orderstatus = 'O' OR o_orderpriority = '1-URGENT')
          AND o_totalprice > 250000.0
        ORDER BY o_orderkey""")),

    Declared("q_filter_notnull",
      (s, d) => orders(s, d)
        .withColumn("status_nn", expr("nullif(o_orderstatus, 'O')"))
        .filter(col("status_nn").isNotNull)
        .select("o_orderkey", "status_nn")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS status_nn
        FROM orders WHERE NULLIF(o_orderstatus, 'O') IS NOT NULL
        ORDER BY o_orderkey""")),

    Declared("q_filter_eq",
      (s, d) => lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        FROM lineitem WHERE l_returnflag = 'R'
        ORDER BY l_orderkey, l_linenumber, l_quantity""")),

    Declared("q_filter_range",
      (s, d) => lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast(TimestampNTZType)
          && col("l_shipdate") < lit("1998-01-01 00:00:00").cast(TimestampNTZType))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast(DateType).as("ship_date"))
        .orderBy("l_orderkey", "l_linenumber", "ship_date"),
      Some("""SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        ORDER BY l_orderkey, l_linenumber, ship_date""")),

    Declared("q_filter_rlike",
      (s, d) => documents(s, d)
        .filter(col("text").rlike("^(scan|join) .*merge"))
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
        WHERE regexp_matches(text, '^(scan|join) .*merge')
        ORDER BY doc_id""")),

    Declared("q_null_ratio",
      (s, d) => Relational.nullProfile(
        orders(s, d).withColumn("status_nn", expr("nullif(o_orderstatus, 'O')")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority", "status_nn")),
      Some("""WITH t AS (SELECT *, NULLIF(o_orderstatus, 'O') AS status_nn FROM orders),
        n AS (SELECT COUNT(*)::BIGINT AS n_rows FROM t)
        SELECT c.col_name, c.n_nulls, n.n_rows,
               c.n_nulls * 1000000 // n.n_rows AS null_ppm
        FROM (
          SELECT 'o_orderkey' AS col_name, SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls FROM t
          UNION ALL SELECT 'o_custkey', SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT FROM t
          UNION ALL SELECT 'o_orderstatus', SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT FROM t
          UNION ALL SELECT 'o_totalprice', SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT FROM t
          UNION ALL SELECT 'o_orderdate', SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT FROM t
          UNION ALL SELECT 'o_orderpriority', SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT FROM t
          UNION ALL SELECT 'status_nn', SUM(CASE WHEN status_nn IS NULL THEN 1 ELSE 0 END)::BIGINT FROM t
        ) c, n
        ORDER BY c.col_name""")),

    // ================= 2.C — joins ======================================

    Declared("q_join_inner",
      (s, d) => orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_custkey", "c_name", "c_mktsegment", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, c_custkey, c_name, c_mktsegment, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
        ORDER BY o_orderkey""")),

    Declared("q_join_left",
      (s, d) => {
        val agg = orders(s, d).groupBy("o_custkey")
          .agg(count(lit(1)).as("order_cnt"), sum(dec(col("o_totalprice"))).as("ts"))
        customer(s, d).join(agg, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey"), col("c_name"),
            coalesce(col("order_cnt"), lit(0L)).as("order_cnt"),
            outD(dec(coalesce(col("ts"), lit(0)))).as("total_spent"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, COALESCE(o.cnt, 0)::BIGINT AS order_cnt,
               CAST(CAST(COALESCE(o.ts, 0) AS DECIMAL(18,2)) AS DOUBLE) AS total_spent
        FROM customer LEFT JOIN (
          SELECT o_custkey, COUNT(*) AS cnt,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS ts
          FROM orders GROUP BY o_custkey) o
        ON c_custkey = o.o_custkey
        ORDER BY c_custkey""")),

    Declared("q_join_3way",
      (s, d) => orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("order_cnt"),
          outD(sum(dec(col("o_totalprice")))).as("total_value"))
        .orderBy("n_name"),
      Some("""SELECT n_name, COUNT(*)::BIGINT AS order_cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name""")),

    Declared("q_join_semi",
      (s, d) => customer(s, d)
        .join(orders(s, d).filter(col("o_totalprice") > 400000.0),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        ORDER BY c_custkey""")),

    Declared("q_join_anti",
      (s, d) => customer(s, d)
        .join(orders(s, d).filter(col("o_totalprice") > 400000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        ORDER BY c_custkey""")),

    // As-of join (time-series): each event matched to the most recent
    // order (day granularity) of the same key — union+window linear
    // pattern (Relational.asOfJoin); oracle is the brute-force rank.
    Declared("q_join_asof",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"),
          expr(s"ts div ${Nanos.PerDay}").as("day"), col("event_id"))
        val ord = orders(s, d).select(col("o_custkey").as("user_id"),
          datediff(col("o_orderdate").cast(DateType), lit("1970-01-01").cast(DateType))
            .cast(LongType).as("day"),
          col("o_orderkey"), col("o_totalprice"))
        Relational.asOfJoin(ev, ord, "user_id", "day", "event_id", "o_orderkey",
          Seq("o_orderkey", "o_totalprice"))
          .orderBy("event_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_id,
                CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day FROM events),
        od AS (SELECT o_custkey AS user_id,
                CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
                o_orderkey, o_totalprice FROM orders),
        j AS (SELECT ev.user_id, ev.event_id, ev.day, od.o_orderkey, od.o_totalprice,
                ROW_NUMBER() OVER (PARTITION BY ev.event_id
                                   ORDER BY od.day DESC, od.o_orderkey DESC) AS rn
              FROM ev LEFT JOIN od ON ev.user_id = od.user_id AND od.day <= ev.day)
        SELECT user_id, day, event_id, o_orderkey, o_totalprice
        FROM j WHERE rn = 1 ORDER BY event_id""")),

    // Full outer join — unmatched rows survive from BOTH sides (the one
    // join type the inner/left/semi/anti family doesn't cover). The
    // >400k price filter leaves BOTH directions non-vacuous (36
    // cust-only / 1032 orders-only / 266 matched at sf0.01). Both sides
    // are unique on the key, so the output key is unique and the ORDER
    // BY is total.
    Declared("q_join_full",
      (s, d) => {
        val custSeg = customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"), col("c_name"))
        val ordCnt = orders(s, d)
          .filter(col("o_totalprice") > 400000)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
        custSeg.join(ordCnt, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            col("c_custkey").isNotNull.cast(LongType).as("has_cust"),
            col("o_custkey").isNotNull.cast(LongType).as("has_orders"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"))
          .orderBy("custkey")
      },
      Some("""WITH cs AS (SELECT c_custkey, c_name FROM customer
                WHERE c_mktsegment = 'BUILDING'),
        oc AS (SELECT o_custkey, COUNT(*)::BIGINT AS n_orders
               FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey)
        SELECT COALESCE(c_custkey, o_custkey) AS custkey,
          CAST(c_custkey IS NOT NULL AS BIGINT) AS has_cust,
          CAST(o_custkey IS NOT NULL AS BIGINT) AS has_orders,
          COALESCE(n_orders, 0) AS n_orders
        FROM cs FULL OUTER JOIN oc ON c_custkey = o_custkey
        ORDER BY custkey""")),

    // Forward as-of: for each click, the user's next purchase at-or-after
    // it (time-to-conversion) — clicks and purchases interleave within
    // every user's stream, so matches AND no-match tails are both
    // exercised (the reviewed-away first formulation pointed events at
    // the orders table, whose date range ends decades earlier — every
    // row was a vacuous NULL).
    Declared("q_join_asof_fwd",
      (s, d) => {
        // ts truncates to µs BEFORE the join (not just at the output
        // boundary): the oracle matches on epoch_us, so matching on raw
        // nanos would be a latent cross-engine divergence masked only by
        // the corpus having no same-µs click/purchase collisions
        val ev = events(s, d).withColumn("ts_us", expr("ts div 1000"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_us"), col("event_id"))
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"),
            col("event_id").as("buy_id"),
            round(col("value") * 100).cast(LongType).as("buy_cents"))
        Relational.asOfJoinForward(clicks, buys, "user_id", "ts_us",
          "event_id", "buy_id", Seq("buy_id", "buy_cents"))
          .select(col("user_id"), col("ts_us"), col("event_id"),
            col("buy_id"), col("buy_cents"))
          .orderBy("event_id")
      },
      Some("""WITH c AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
                FROM events WHERE event_type = 'click'),
        b AS (SELECT user_id, epoch_us(ts) AS ts_us,
                event_id AS buy_id,
                CAST(round(value * 100) AS BIGINT) AS buy_cents
              FROM events WHERE event_type = 'purchase'),
        j AS (SELECT c.user_id, c.ts_us, c.event_id, b.buy_id, b.buy_cents,
                ROW_NUMBER() OVER (PARTITION BY c.event_id
                                   ORDER BY b.ts_us ASC, b.buy_id ASC) AS rn
              FROM c LEFT JOIN b ON c.user_id = b.user_id
                                AND b.ts_us >= c.ts_us)
        SELECT user_id, ts_us, event_id, buy_id, buy_cents
        FROM j WHERE rn = 1 ORDER BY event_id""")),

    // Range (band) join: fact side against broadcast price bands.
    Declared("q_join_range",
      (s, d) => {
        import s.implicits._
        val bands = Seq(
          (1, 0.0, 500.0), (2, 500.0, 1000.0), (3, 1000.0, 1500.0),
          (4, 1500.0, 2000.0), (5, 2000.0, 1000000.0))
          .toDF("band_id", "band_lo", "band_hi")
        Relational.bandJoin(part(s, d), bands, "p_retailprice")
          .select("p_partkey", "p_retailprice", "band_id")
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, p_retailprice, b.band_id
        FROM part
        JOIN (VALUES (1, 0.0, 500.0), (2, 500.0, 1000.0), (3, 1000.0, 1500.0),
                     (4, 1500.0, 2000.0), (5, 2000.0, 1000000.0))
             AS b(band_id, band_lo, band_hi)
          ON p_retailprice >= b.band_lo AND p_retailprice < b.band_hi
        ORDER BY p_partkey""")),

    // ================= 2.D — aggregations ===============================

    Declared("q_agg_count2key",
      (s, d) => events(s, d)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"), outD(sum(dec(col("value")))).as("sum_value"))
        .orderBy("user_id", "event_type"),
      Some("""SELECT user_id, event_type, COUNT(*)::BIGINT AS cnt,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY user_id, event_type
        ORDER BY user_id, event_type""")),

    Declared("q_pivot",
      (s, d) => Relational.pivotCounts(events(s, d), "user_id", "event_type",
        Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("user_id"),
      Some("""SELECT user_id,
          COUNT(*) FILTER (WHERE event_type = 'click')::BIGINT AS click,
          COUNT(*) FILTER (WHERE event_type = 'error')::BIGINT AS error,
          COUNT(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS purchase,
          COUNT(*) FILTER (WHERE event_type = 'signup')::BIGINT AS signup,
          COUNT(*) FILTER (WHERE event_type = 'view')::BIGINT AS view
        FROM events GROUP BY user_id ORDER BY user_id""")),

    Declared("q_pivot_sum",
      (s, d) => {
        val values = Seq("click", "error", "purchase", "signup", "view")
        val pivoted = events(s, d).groupBy("user_id")
          .pivot("event_type", values)
          .agg(sum(dec(col("value"))))
        values.foldLeft(pivoted)((df, v) =>
          df.withColumn(v, outD(dec(coalesce(col(v), lit(0))))))
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
          CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'click'), 0) AS DOUBLE) AS click,
          CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'error'), 0) AS DOUBLE) AS error,
          CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase'), 0) AS DOUBLE) AS purchase,
          CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'signup'), 0) AS DOUBLE) AS signup,
          CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'view'), 0) AS DOUBLE) AS view
        FROM events GROUP BY user_id ORDER BY user_id""")),

    Declared("q_window_firstlast",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("best_order"),
          last(col("o_orderkey")).over(w).as("worst_order"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
          first_value(o_orderkey) OVER w AS best_order,
          last_value(o_orderkey) OVER w AS worst_order,
          nth_value(o_orderkey, 2) OVER w AS second_order
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_orderkey""")),

    Declared("q_value_counts",
      (s, d) => Relational.valueCounts(lineitem(s, d), "l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(*)::BIGINT AS cnt FROM lineitem
        GROUP BY l_returnflag ORDER BY cnt DESC, l_returnflag""")),

    Declared("q_agg_multi",
      (s, d) => qAggMulti(s, d),
      Some("""SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
          CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
          MIN(l_quantity) AS min_qty,
          MAX(l_extendedprice) AS max_price,
          COUNT(*)::BIGINT AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    Declared("q_agg_global",
      (s, d) => lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        outD(sum(dec(col("l_quantity")))).as("sum_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        countDistinct(col("l_partkey")).as("nd_part")),
      Some("""SELECT COUNT(*)::BIGINT AS n_rows,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          MIN(l_extendedprice) AS min_price,
          MAX(l_extendedprice) AS max_price,
          COUNT(DISTINCT l_partkey)::BIGINT AS nd_part
        FROM lineitem""")),

    // pandas .describe() analog (reference notebook E2): long-form
    // per-column stats from one aggregate pass
    Declared("q_describe",
      (s, d) => Relational.describeStats(lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount")),
      Some("""WITH a AS (SELECT COUNT(*)::BIGINT AS n,
            MIN(l_quantity) AS q_min, MAX(l_quantity) AS q_max,
            CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS q_sum,
            MIN(l_extendedprice) AS p_min, MAX(l_extendedprice) AS p_max,
            CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS p_sum,
            MIN(l_discount) AS d_min, MAX(l_discount) AS d_max,
            CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS d_sum
          FROM lineitem)
        SELECT 'l_discount' AS col_name, n AS n_rows, d_min AS min_val, d_max AS max_val,
               d_sum AS sum_val, d_sum / n AS avg_val FROM a
        UNION ALL
        SELECT 'l_extendedprice', n, p_min, p_max, p_sum, p_sum / n FROM a
        UNION ALL
        SELECT 'l_quantity', n, q_min, q_max, q_sum, q_sum / n FROM a
        ORDER BY col_name""")),

    // unpivot / melt (wide → long): passthrough values, no arithmetic
    Declared("q_unpivot",
      (s, d) => lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "measure", "val"),
      Some("""SELECT l_orderkey, l_linenumber, measure, val
        FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
                       FROM lineitem)
              ON l_quantity, l_discount, l_tax INTO NAME measure VALUE val)
        ORDER BY l_orderkey, l_linenumber, measure, val""")),

    Declared("q_agg_distinct",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey)::BIGINT AS nd_part,
          COUNT(DISTINCT l_suppkey)::BIGINT AS nd_supp, COUNT(*)::BIGINT AS cnt
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Declared("q_rollup",
      (s, d) => lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), outD(sum(dec(col("l_quantity")))).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*)::BIGINT AS cnt,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // grouping()/grouping_id() disambiguate "NULL because subtotal" from
    // "NULL in the data" on rollup rows — DuckDB's multi-arg GROUPING is
    // the same bitmask as Spark's grouping_id().
    Declared("q_grouping_id",
      (s, d) => lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping(col("l_returnflag")).cast(LongType).as("g_flag"),
          grouping(col("l_linestatus")).cast(LongType).as("g_status"),
          grouping_id().cast(LongType).as("gid"),
          count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
          CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
          CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
          CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          COUNT(*)::BIGINT AS cnt
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    Declared("q_cube",
      (s, d) => lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), outD(sum(dec(col("l_quantity")))).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*)::BIGINT AS cnt,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    Declared("q_grouping_sets",
      (s, d) => lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), outD(sum(dec(col("l_quantity")))).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*)::BIGINT AS cnt,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // D-x3 — exact percentiles WITHOUT engine interpolation: built-in
    // `percentile`/`quantile_cont` interpolate in doubles, so a last-ulp
    // difference between engines can flip the hash (VERDICT r1 §W4).
    // Instead: values on an integer grid (quantity · 100), linear-
    // interpolation rank k = (n-1)·p/10 carried as (k div 10, k mod 10),
    // and the interpolated value emitted as the exact integer
    // (10-frac)·v_lo + frac·v_hi — i.e. the percentile scaled ×1000,
    // pure int64 arithmetic end to end.
    Declared("q_median",
      (s, d) => {
        val base = lineitem(s, d).select(col("l_returnflag"),
          round(col("l_quantity") * 100).cast(LongType).as("qi"))
        val ranked = base.withColumn("rn",
          row_number().over(Window.partitionBy("l_returnflag").orderBy("qi"))
            .cast(LongType))
        val counts = base.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        def interp(pTenths: Int): org.apache.spark.sql.Column = {
          val k = (col("n") - 1) * pTenths
          val lo = expr(s"(n - 1) * $pTenths div 10") + 1
          val fr = pmod(k, lit(10L))
          sum(
            when(col("rn") === lo, (lit(10L) - fr) * col("qi")).otherwise(0L) +
            when(fr > 0 && col("rn") === lo + 1, fr * col("qi")).otherwise(0L))
        }
        ranked.join(counts, "l_returnflag")
          .groupBy("l_returnflag")
          .agg(interp(5).as("median_qty_s3"), interp(9).as("p90_qty_s3"))
          .orderBy("l_returnflag")
      },
      Some("""WITH b AS (SELECT l_returnflag,
                CAST(round(l_quantity * 100) AS BIGINT) AS qi FROM lineitem),
        r AS (SELECT l_returnflag, qi,
                ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY qi) AS rn
              FROM b),
        n AS (SELECT l_returnflag, COUNT(*)::BIGINT AS n FROM b GROUP BY l_returnflag)
        SELECT r.l_returnflag,
          SUM(CASE WHEN rn = (n-1)*5//10 + 1 THEN (10 - (n-1)*5%10) * qi ELSE 0 END
            + CASE WHEN (n-1)*5%10 > 0 AND rn = (n-1)*5//10 + 2 THEN (n-1)*5%10 * qi ELSE 0 END)::BIGINT AS median_qty_s3,
          SUM(CASE WHEN rn = (n-1)*9//10 + 1 THEN (10 - (n-1)*9%10) * qi ELSE 0 END
            + CASE WHEN (n-1)*9%10 > 0 AND rn = (n-1)*9//10 + 2 THEN (n-1)*9%10 * qi ELSE 0 END)::BIGINT AS p90_qty_s3
        FROM r JOIN n USING (l_returnflag)
        GROUP BY r.l_returnflag ORDER BY r.l_returnflag""")),

    // ================= 2.E — window functions ===========================

    Declared("q_string_agg",
      (s, d) => orders(s, d)
        .groupBy("o_orderstatus")
        .agg(concat_ws(",", sort_array(collect_set(col("o_orderpriority"))))
          .as("priorities"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
          string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
          COUNT(*)::BIGINT AS cnt
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Array functions with scalar-only declared outputs (VERDICT r1 §W2:
    // an array output column crashes the driver's pandas lexsort). The
    // float elements go through the proven fixed-point s7 convention;
    // the slice is serialized to a string.
    Declared("q_array_funcs",
      (s, d) => {
        def s7(c: org.apache.spark.sql.Column) =
          round(c.cast(DoubleType) * 10000000).cast(LongType)
        embeddings(s, d)
          .select(col("vec_id"),
            size(col("embedding")).as("dim"),
            s7(element_at(col("embedding"), 1)).as("first_elem_s7"),
            s7(array_max(col("embedding"))).as("max_elem_s7"),
            s7(array_min(col("embedding"))).as("min_elem_s7"),
            array_join(transform(slice(col("embedding"), 2, 3), e => s7(e)), ",")
              .as("mid_slice_s7"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
          CAST(round(CAST(embedding[1] AS DOUBLE) * 10000000) AS BIGINT) AS first_elem_s7,
          CAST(round(CAST(list_max(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS max_elem_s7,
          CAST(round(CAST(list_min(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS min_elem_s7,
          array_to_string(list_transform(list_slice(embedding, 2, 4),
            x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)), ',') AS mid_slice_s7
        FROM embeddings ORDER BY vec_id""")),

    Declared("q_window_range",
      (s, d) => {
        val wRange = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"))
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast(DateType).as("order_date"),
          // RANGE frame: tied order dates share one frame, so the sum is
          // well-defined for ties without a unique tie-break
          outD(sum(dec(col("o_totalprice"))).over(wRange)).as("range_sum"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS range_sum
        FROM orders ORDER BY o_custkey, o_orderkey""")),

    Declared("q_window_rank_variants",
      (s, d) => {
        val byPrice = Window.partitionBy("o_orderstatus").orderBy(desc("o_totalprice"))
        val unique = Window.partitionBy("o_orderstatus")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        orders(s, d).select(col("o_orderstatus"), col("o_orderkey"),
          rank().over(byPrice).cast(LongType).as("rnk"),
          dense_rank().over(byPrice).cast(LongType).as("drnk"),
          percent_rank().over(byPrice).as("prnk"),
          ntile(4).over(unique).cast(LongType).as("quartile"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderstatus, o_orderkey,
          rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC) AS rnk,
          dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC) AS drnk,
          percent_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC) AS prnk,
          ntile(4) OVER (PARTITION BY o_orderstatus
                         ORDER BY o_totalprice DESC, o_orderkey) AS quartile
        FROM orders ORDER BY o_orderkey""")),

    Declared("q_window_lead_cume",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val byPrice = Window.partitionBy("o_orderstatus")
          .orderBy("o_totalprice", "o_orderkey")
        orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          lead(col("o_orderkey"), 2).over(w).as("next2_key"),
          cume_dist().over(byPrice).as("cume"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
          LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS next_price,
          LEAD(o_orderkey, 2) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS next2_key,
          cume_dist() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_totalprice, o_orderkey) AS cume
        FROM orders ORDER BY o_orderkey""")),

    Declared("q_window_rank",
      (s, d) => Relational.topNPerGroup(orders(s, d),
        Seq(col("o_custkey")), Seq(desc("o_totalprice"), asc("o_orderkey")), 3)
        .select(col("o_custkey"), col("rn").cast(LongType).as("rn"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rn"),
      Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 3
        ORDER BY o_custkey, rn""")),

    Declared("q_window_running",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        orders(s, d).select(
          col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast(DateType).as("order_date"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          outD(sum(dec(col("o_totalprice"))).over(wRun)).as("run_sum"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
          LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS prev_price,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS run_sum
        FROM orders ORDER BY o_custkey, o_orderkey""")),

    // I2 — batch sliding windows (1 h window / 15 min slide): each event
    // lands in 4 windows, enumerated with explode over the offset range;
    // pure integer µs bucket math on both sides.
    Declared("q_window_sliding",
      (s, d) => events(s, d)
        .select(col("event_type"),
          expr("ts div 1000 div 900000000").as("base"),
          explode(sequence(lit(0L), lit(3L))).as("j"))
        .withColumn("window_start", (col("base") - col("j")) * 900)
        .groupBy("window_start", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("window_start", "event_type"),
      Some("""SELECT (b.base - j.j) * 900 AS window_start, b.event_type,
          COUNT(*)::BIGINT AS cnt
        FROM (SELECT event_type, epoch_us(ts) // 900000000 AS base FROM events) b
        CROSS JOIN (SELECT unnest(range(4)) AS j) j
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Row-level upsert (SCD type-1): updated rows replace same-key
    // current rows. The doubled price is exact (×2 is a power of two),
    // so the merged values hash-match.
    Declared("q_upsert",
      (s, d) => {
        val o = orders(s, d).select("o_orderkey", "o_totalprice")
        val updates = o.filter(pmod(col("o_orderkey"), lit(100)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        Relational.upsert(o, updates, "o_orderkey")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
          CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 2
               ELSE o_totalprice END AS o_totalprice
        FROM orders ORDER BY o_orderkey""")),

    // Data-quality constraint validation (the dbt/deequ staple): one row
    // per check with its violation count — PK uniqueness, FK integrity,
    // accepted ranges, accepted values — all computable as plain
    // aggregates, so the whole audit is a handful of scans at any scale.
    Declared("q_quality_checks",
      (s, d) => {
        val o = orders(s, d)
        val l = lineitem(s, d)
        def row(name: String, n: org.apache.spark.sql.Column) =
          (df: DataFrame) => df.agg(n.as("n"))
            .select(lit(name).as("check_name"), col("n").cast(LongType).as("n_violations"))
        val pkDup = o.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1)
          .agg(coalesce(sum(col("c")), lit(0L)).as("n"))
          .select(lit("orders_pk_duplicate_rows").as("check_name"),
            col("n").cast(LongType).as("n_violations"))
        val fkOrphan = row("lineitem_fk_orphans", count(lit(1)))(
          l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti"))
        val qtyRange = row("lineitem_qty_out_of_range", count(lit(1)))(
          l.filter(col("l_quantity") < 0 || col("l_quantity") > 100))
        val statusVals = row("orders_status_unexpected", count(lit(1)))(
          o.filter(!col("o_orderstatus").isin("O", "F", "P")))
        // an outlier rule that FIRES on the clean corpus (2978 rows at
        // sf0.01) — without it every check returns 0 and the counting
        // path is never exercised (audit finding)
        val priceOutlier = row("orders_totalprice_above_400k", count(lit(1)))(
          o.filter(col("o_totalprice") > 400000))
        pkDup.unionByName(fkOrphan).unionByName(qtyRange)
          .unionByName(statusVals).unionByName(priceOutlier)
          .orderBy("check_name")
      },
      Some("""SELECT * FROM (
          SELECT 'orders_pk_duplicate_rows' AS check_name,
                 COALESCE(SUM(c), 0)::BIGINT AS n_violations
          FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
          UNION ALL
          SELECT 'lineitem_fk_orphans', COUNT(*)::BIGINT FROM lineitem
          WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
          UNION ALL
          SELECT 'lineitem_qty_out_of_range', COUNT(*)::BIGINT FROM lineitem
          WHERE l_quantity < 0 OR l_quantity > 100
          UNION ALL
          SELECT 'orders_status_unexpected', COUNT(*)::BIGINT FROM orders
          WHERE o_orderstatus NOT IN ('O', 'F', 'P')
          UNION ALL
          SELECT 'orders_totalprice_above_400k', COUNT(*)::BIGINT FROM orders
          WHERE o_totalprice > 400000)
        ORDER BY check_name""")),

    // pandas fillna(method='ffill') parity: carry the last non-null
    // value forward per user in event-time order. Values pass through
    // untouched (no arithmetic), so the hash compare is exact.
    Declared("q_forward_fill",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, d)
          .withColumn("ts_us", expr("ts div 1000"))
          .withColumn("v_nn",
            when(col("event_type") === "error", lit(null).cast(DoubleType))
              .otherwise(col("value")))
          .select(col("user_id"), col("event_id"), col("ts_us"), col("v_nn"),
            last(col("v_nn"), ignoreNulls = true).over(w).as("v_filled"))
          .orderBy("event_id")
      },
      Some("""SELECT user_id, event_id, ts_us, v_nn,
          last_value(v_nn IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v_nn
              FROM events)
        ORDER BY event_id""")),

    // ================= 2.G — set operations =============================

    Declared("q_union",
      (s, d) => {
        val o = orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
        o.filter(col("o_orderstatus") === "O")
          .unionByName(o.filter(col("o_orderstatus") === "F"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'O'
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'
        ORDER BY o_orderkey""")),

    Declared("q_except",
      (s, d) => orders(s, d).select("o_custkey")
        .exceptAll(orders(s, d).filter(col("o_totalprice") > 400000.0)
          .select("o_custkey"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey FROM orders
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
        ORDER BY o_custkey""")),

    Declared("q_intersect",
      (s, d) => customer(s, d).select("c_custkey")
        .intersect(orders(s, d).select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer
        INTERSECT
        SELECT o_custkey FROM orders
        ORDER BY c_custkey""")),

    // ================= 2.H — scalar functions ===========================

    Declared("q_regexp_extract",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          regexp_extract(col("text"), "^(\\w+) (\\w+)", 2).as("second_word"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, regexp_extract(text, '^(\w+) (\w+)', 2) AS second_word
        FROM documents ORDER BY doc_id""")),

    Declared("q_regexp_replace",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          substring(regexp_replace(col("text"), "[aeiou]", ""), 1, 40).as("devoweled"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
          substr(regexp_replace(text, '[aeiou]', '', 'g'), 1, 40) AS devoweled
        FROM documents ORDER BY doc_id""")),

    Declared("q_date_parse",
      (s, d) => {
        val ds = when(pmod(col("o_orderkey"), lit(3)) === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .when(pmod(col("o_orderkey"), lit(3)) === 1, date_format(col("o_orderdate"), "yyyy/MM/dd"))
          .otherwise(date_format(col("o_orderdate"), "dd.MM.yyyy"))
        orders(s, d).withColumn("date_str", ds)
          .select(col("o_orderkey"), col("date_str"),
            coalesce(
              try_to_timestamp(col("date_str"), lit("yyyy-MM-dd")),
              try_to_timestamp(col("date_str"), lit("yyyy/MM/dd")),
              try_to_timestamp(col("date_str"), lit("dd.MM.yyyy"))
            ).cast(DateType).as("parsed_date"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, date_str,
          CAST(COALESCE(try_strptime(date_str, '%Y-%m-%d'),
                        try_strptime(date_str, '%Y/%m/%d'),
                        try_strptime(date_str, '%d.%m.%Y')) AS DATE) AS parsed_date
        FROM (SELECT o_orderkey,
                CASE CAST(o_orderkey % 3 AS INT)
                  WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
                  WHEN 1 THEN strftime(o_orderdate, '%Y/%m/%d')
                  ELSE strftime(o_orderdate, '%d.%m.%Y') END AS date_str
              FROM orders)
        ORDER BY o_orderkey""")),

    // NB the oracle side: DuckDB sees the events ts column at µs
    // resolution under EITHER parquet encoding the harness has shipped
    // (it truncates TIMESTAMP(NANOS) to µs at read time; µs data it
    // reads natively), so oracle-compared event-time outputs use µs
    // (`ts div 1000` ≡ `epoch_us`); the engine-internal contract stays
    // epoch-nanos LONG either way (Tables.events normalizes).
    Declared("q_ts_convert",
      (s, d) => events(s, d)
        .select(col("event_id"), expr("ts div 1000").as("ts_us"),
          expr(s"date_add(DATE '1970-01-01', CAST(ts div ${Nanos.PerDay} AS INT))").as("event_date"),
          expr(s"ts div ${Nanos.PerHour} % 24").as("hour_utc"))
        .orderBy("event_id"),
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, CAST(ts AS DATE) AS event_date,
          (epoch_us(ts) // 3600000000) % 24 AS hour_utc
        FROM events ORDER BY event_id""")),

    // calendar-function surface: trunc-to-month, month arithmetic,
    // end-of-month, day-of-week (Spark is 1-based Sunday=1, DuckDB
    // 0-based Sunday=0 — normalized to the DuckDB convention)
    Declared("q_date_funcs",
      (s, d) => orders(s, d)
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).cast(DateType).as("month_start"),
          add_months(col("o_orderdate").cast(DateType), 3).as("plus3m"),
          last_day(col("o_orderdate")).as("month_end"),
          (dayofweek(col("o_orderdate")) - 1).cast(LongType).as("dow"),
          dayofmonth(col("o_orderdate")).cast(LongType).as("dom"),
          quarter(col("o_orderdate")).cast(LongType).as("qtr"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
          CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
          CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
          last_day(CAST(o_orderdate AS DATE)) AS month_end,
          CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
          CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
          CAST(quarter(o_orderdate) AS BIGINT) AS qtr
        FROM orders ORDER BY o_orderkey""")),

    Declared("q_cast",
      (s, d) => orders(s, d)
        .withColumn("num_str",
          when(pmod(col("o_orderkey"), lit(5)) === 0,
            concat(lit("x"), col("o_orderkey").cast(StringType)))
            .otherwise(col("o_orderkey").cast(StringType)))
        .select(col("o_orderkey"), col("num_str"),
          expr("try_cast(num_str AS BIGINT)").as("parsed_key"),
          outD(dec(col("o_totalprice"))).as("price_dec"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, num_str, TRY_CAST(num_str AS BIGINT) AS parsed_key,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec
        FROM (SELECT o_orderkey, o_totalprice,
                CASE WHEN o_orderkey % 5 = 0 THEN 'x' || CAST(o_orderkey AS VARCHAR)
                     ELSE CAST(o_orderkey AS VARCHAR) END AS num_str
              FROM orders)
        ORDER BY o_orderkey""")),

    Declared("q_coalesce_zero",
      (s, d) => {
        val k = when(pmod(col("o_orderkey"), lit(3)) === 0, lit(0.0))
          .otherwise(col("o_totalprice"))
        val w = col("o_totalprice") / 2
        orders(s, d)
          .select(col("o_orderkey"),
            graft.functions.Cleaning.fillZeroSentinel(k, w)
              .cast(DecimalType(18, 4)).cast(DoubleType).as("filled_val"),
            (k === 0).as("used_fallback"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
          CAST(CAST(CASE WHEN kv = 0 OR kv IS NULL THEN wv ELSE kv END AS DECIMAL(18,4)) AS DOUBLE) AS filled_val,
          (kv = 0) AS used_fallback
        FROM (SELECT o_orderkey,
                CASE WHEN o_orderkey % 3 = 0 THEN CAST(0.0 AS DOUBLE)
                     ELSE o_totalprice END AS kv,
                o_totalprice / 2 AS wv
              FROM orders)
        ORDER BY o_orderkey""")),

    Declared("q_json_extract",
      (s, d) => events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k_val"))
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        FROM events ORDER BY event_id""")),

    Declared("q_from_json",
      (s, d) => events(s, d)
        .select(col("event_id"),
          from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
            .getField("k").as("k_val"))
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        FROM events ORDER BY event_id""")),

    Declared("q_explode_words",
      (s, d) => documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("doc_id", "word")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "word"),
      Some("""SELECT doc_id, word, COUNT(*)::BIGINT AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents WHERE doc_id < 100)
        GROUP BY doc_id, word ORDER BY doc_id, word""")),

    Declared("q_string_funcs",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          upper(substring(col("text"), 1, 10)).as("up10"),
          lpad(col("lang"), 5, "_").as("lang_pad"),
          substring_index(col("text"), " ", 1).as("first_word"),
          concat_ws("|", col("lang"), col("source")).as("lang_source"),
          length(col("text")).as("text_len"),
          reverse(col("lang")).as("lang_rev"),
          substring(regexp_replace(col("text"), " ", "_"), 1, 20).as("snaked"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, upper(substr(text, 1, 10)) AS up10,
          lpad(lang, 5, '_') AS lang_pad,
          split_part(text, ' ', 1) AS first_word,
          concat_ws('|', lang, source) AS lang_source,
          CAST(length(text) AS INT) AS text_len,
          reverse(lang) AS lang_rev,
          substr(replace(text, ' ', '_'), 1, 20) AS snaked
        FROM documents ORDER BY doc_id""")),

    Declared("q_math_funcs",
      (s, d) => lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_disc_delta"),
          ceil(col("l_quantity") / 7).as("ceil_q7"),
          floor(col("l_quantity") / 7).as("floor_q7"),
          round(col("l_tax") * 100).as("tax_pct"),
          greatest(col("l_quantity"), col("l_discount") * 100).as("gmax"),
          least(col("l_quantity"), col("l_discount") * 100).as("lmin"),
          (col("l_orderkey") % 7).as("key_mod7"),
          signum(col("l_discount") - 0.05).as("disc_sign"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("abs_disc_delta"),
          col("ceil_q7"), col("floor_q7"), col("tax_pct"), col("gmax"),
          col("lmin"), col("disc_sign")),
      Some("""SELECT l_orderkey, l_linenumber,
          abs(l_discount - 0.05) AS abs_disc_delta,
          CAST(ceil(l_quantity / 7) AS BIGINT) AS ceil_q7,
          CAST(floor(l_quantity / 7) AS BIGINT) AS floor_q7,
          round(l_tax * 100) AS tax_pct,
          greatest(l_quantity, l_discount * 100) AS gmax,
          least(l_quantity, l_discount * 100) AS lmin,
          l_orderkey % 7 AS key_mod7,
          CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, abs_disc_delta, ceil_q7,
                 floor_q7, tax_pct, gmax, lmin, disc_sign""")),

    Declared("q_quality_filter",
      (s, d) => TextOps.textQuality(documents(s, d), Seq("a", "the", "of", "and", "in"))
        .filter(col("n_words") >= 30 && col("stopword_ppm") < 100000)
        .select("doc_id", "n_words", "stopword_ppm")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, nw AS n_words, sc * 1000000 // nw AS stopword_ppm
        FROM (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                CAST(len(list_filter(string_split(text, ' '),
                  x -> x = 'a' OR x = 'the' OR x = 'of' OR x = 'and' OR x = 'in')) AS BIGINT) AS sc
              FROM documents)
        WHERE nw >= 30 AND sc * 1000000 // nw < 100000
        ORDER BY doc_id""")),

    // ================= 2.I — event-time windows =========================

    Declared("q_window_tumbling",
      (s, d) => EventOps.tumblingHourly(events(s, d)),
      Some("""SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_start, event_type,
          COUNT(*)::BIGINT AS cnt,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    Declared("q_window_session",
      (s, d) => EventOps.sessionizeOn(events(s, d), expr("ts div 1000"),
        30L * 60L * 1000L * 1000L)
        .withColumnRenamed("session_start", "session_start_us")
        .withColumnRenamed("session_end", "session_end_us"),
      Some(s"""WITH ${sessionCtes}
        SELECT user_id, session_id, COUNT(*)::BIGINT AS n_events,
               MIN(tsn) AS session_start_us, MAX(tsn) AS session_end_us
        FROM sess GROUP BY user_id, session_id
        ORDER BY user_id, session_id""")),

    // Funnel: furthest view→click→purchase stage per user, strictly
    // increasing µs timestamps. Oracle = the nested-min formulation
    // (equivalent to the greedy state-machine fold).
    // The %5 event slice spreads users across ALL four funnel stages
    // (7/32/38/73 at sf0.01) — on the full stream every user converts
    // and the stage logic is vacuously constant-3.
    Declared("q_funnel",
      (s, d) => EventOps.funnelStages(
        events(s, d).filter(pmod(col("event_id"), lit(5)) === 0),
        expr("ts div 1000"), Seq("view", "click", "purchase")),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type
                FROM events WHERE event_id % 5 = 0),
        s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (SELECT e.user_id, MIN(t) AS t2 FROM e JOIN s1 USING (user_id)
               WHERE event_type = 'click' AND t > t1 GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, MIN(t) AS t3 FROM e JOIN s2 USING (user_id)
               WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id),
        u AS (SELECT DISTINCT user_id FROM e)
        SELECT u.user_id,
          CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                    WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS funnel_stage
        FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
               LEFT JOIN s3 USING (user_id)
        ORDER BY user_id""")),

    // Retention cohorts: first-activity-day cohort × day offset →
    // distinct active users.
    Declared("q_retention",
      (s, d) => EventOps.retentionCohorts(events(s, d),
        expr(s"ts div ${Nanos.PerDay}")),
      Some("""WITH d AS (SELECT DISTINCT user_id,
                epoch_ns(ts) // 86400000000000 AS day FROM events),
        c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id)
        SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
               COUNT(DISTINCT d.user_id)::BIGINT AS n_users
        FROM d JOIN c USING (user_id)
        GROUP BY c.cohort_day, d.day - c.cohort_day
        ORDER BY cohort_day, day_offset""")),

    // ================= 2.K — LLM-data-pipeline operators ================

    // The raw corpus has NO exact duplicates (every md5 group is a
    // singleton — audit-verified), so the declared query re-inserts the
    // %50 slice under shifted ids: the merge path and min-id keeper are
    // actually exercised (dup_cnt=2 groups), deterministically.
    Declared("q_dedup_exact",
      (s, d) => {
        val base = documents(s, d).select("doc_id", "text")
        val dupes = base.filter(pmod(col("doc_id"), lit(50)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(10000000L))
        DedupOps.exactDedup(base.unionByName(dupes))
      },
      Some("""WITH docs AS (SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 50 = 0)
        SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*)::BIGINT AS dup_cnt
        FROM docs GROUP BY md5(text) ORDER BY keep_doc_id""")),

    Declared("q_dedup_first",
      (s, d) => DedupOps.keepFirstPerKey(
        events(s, d).withColumn("ts_us", expr("ts div 1000")),
        Seq("user_id", "event_type"), Seq("ts_us", "event_id"))
        .select("user_id", "event_type", "event_id", "ts_us")
        .orderBy("user_id", "event_type"),
      Some("""SELECT user_id, event_type, event_id, ts_us
        FROM (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
                ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY epoch_us(ts), event_id) AS rn
              FROM events) WHERE rn = 1
        ORDER BY user_id, event_type""")),

    // Declared plan = the inverted-index path (equi-join on word): the
    // %10 slice is a fixed FRACTION of the corpus, so its pair set grows
    // with the data — an all-pairs non-equi self-join over it would be
    // O(n²) at 100× (round-3 verdict). The inverted index stays linear
    // in index size (AQE handles this corpus's 31-key word skew); the
    // merge-walk kernel (DedupOps.verifyJaccard) verifies only BOUNDED
    // candidate sets (LSH buckets, index probes).
    Declared("q_neardup_jaccard",
      (s, d) => DedupOps.jaccardPairs(
        documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0), 80),
      Some(neardupJaccardOracle)),

    Declared("q_neardup_cosine",
      (s, d) => SimilarityOps.cosinePairsExact(
        embeddings(s, d).filter(pmod(col("vec_id"), lit(5)) === 0), 30),
      Some(s"""WITH ${fixedPointExplode("e", "embeddings WHERE vec_id % 5 = 0")},
        n AS (SELECT vec_id, SUM(vi * vi)::BIGINT AS norm_s FROM e GROUP BY vec_id),
        d AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, SUM(a.vi * b.vi)::BIGINT AS dot_s
              FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
              GROUP BY a.vec_id, b.vec_id)
        SELECT d.a_id, d.b_id, d.dot_s, na.norm_s AS a_norm_s, nb.norm_s AS b_norm_s
        FROM d JOIN n na ON d.a_id = na.vec_id JOIN n nb ON d.b_id = nb.vec_id
        WHERE d.dot_s > 0
          AND (CAST(d.dot_s AS DOUBLE) * CAST(d.dot_s AS DOUBLE)) * 10000.0 >=
              (CAST(na.norm_s AS DOUBLE) * CAST(nb.norm_s AS DOUBLE)) * 900.0
        ORDER BY d.a_id, d.b_id""")),

    Declared("q_simsearch_topk",
      (s, d) => SimilarityOps.topKDotExact(embeddings(s, d), (0L until 8L), 5),
      Some(simsearchTopkOracle)),

    Declared("q_wordcount",
      (s, d) => TextOps.wordCounts(documents(s, d)),
      Some("""SELECT lang, word, COUNT(*)::BIGINT AS cnt
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
        GROUP BY lang, word ORDER BY lang, word""")),

    Declared("q_tfidf_topterms",
      (s, d) => TextOps.tfIdfTopTerms(documents(s, d), 3)
        .select(col("doc_id"), col("rn").cast(LongType).as("rn"), col("word"),
          col("tf"), col("df"), col("score_ppm")),
      Some("""WITH tf AS (SELECT doc_id, word, COUNT(*)::BIGINT AS tf
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
              GROUP BY doc_id, word),
        dfq AS (SELECT word, COUNT(*)::BIGINT AS df FROM tf GROUP BY word),
        s AS (SELECT tf.doc_id, tf.word, tf.tf, dfq.df,
                tf.tf * 1000000 // dfq.df AS score_ppm
              FROM tf JOIN dfq USING (word))
        SELECT doc_id, rn, word, tf, df, score_ppm FROM (
          SELECT doc_id, word, tf, df, score_ppm,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score_ppm DESC, tf DESC, word) AS rn
          FROM s) WHERE rn <= 3
        ORDER BY doc_id, rn""")),

    Declared("q_text_quality",
      (s, d) => TextOps.textQuality(documents(s, d), Seq("a", "the", "of", "and", "in")),
      Some("""SELECT doc_id, nw AS n_words,
          (n_chars - (nw - 1)) * 1000000 // nw AS chars_per_word_ppm,
          sc * 1000000 // nw AS stopword_ppm,
          n_chars
        FROM (SELECT doc_id, n_chars,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                CAST(len(list_filter(string_split(text, ' '),
                  x -> x = 'a' OR x = 'the' OR x = 'of' OR x = 'and' OR x = 'in')) AS BIGINT) AS sc
              FROM documents)
        ORDER BY doc_id""")),

    Declared("q_token_count",
      (s, d) => TextOps.tokenCounts(documents(s, d)),
      Some(s"""SELECT doc_id,
          $regexTokens AS n_tokens,
          n_chars
        FROM documents ORDER BY doc_id""")),

    // The raw corpus contains ZERO urls/emails (audit: both counts were
    // constant 0 — the masking regexes never fired in the declared
    // query; only the fixture test exercised them). Deterministic
    // augmentation from real columns makes the counts vary 0/1 by
    // doc_id residue, so the regex path is genuinely oracle-checked.
    Declared("q_scrub_pii",
      (s, d) => TextOps.scrubPii(documents(s, d).withColumn("text",
        concat(col("text"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit(" see https://"), col("source"), lit(".example.org/p")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" mail "), col("source"), lit("@example.com")))
            .otherwise(lit(""))))),
      Some("""WITH aug AS (SELECT doc_id,
                text || CASE WHEN doc_id % 2 = 0
                  THEN ' see https://' || source || '.example.org/p' ELSE '' END
                     || CASE WHEN doc_id % 3 = 0
                  THEN ' mail ' || source || '@example.com' ELSE '' END AS text
              FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
          CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          substr(regexp_replace(regexp_replace(text, 'https?://[^ ]+', '<URL>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 1, 60) AS scrubbed_prefix
        FROM aug ORDER BY doc_id""")),

    Declared("q_repetition",
      (s, d) => TextOps.repetitionStats(documents(s, d)),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        tf AS (SELECT doc_id, word, COUNT(*)::BIGINT AS tf FROM t GROUP BY doc_id, word),
        agg AS (SELECT doc_id, SUM(tf)::BIGINT AS n_words, COUNT(*)::BIGINT AS distinct_words,
                       MAX(tf)::BIGINT AS top_word_cnt
                FROM tf GROUP BY doc_id),
        bgt AS (SELECT doc_id, bg, COUNT(*)::BIGINT AS cnt
                FROM (SELECT doc_id,
                        unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS bg
                      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
                      WHERE len(w) >= 2)
                GROUP BY doc_id, bg),
        bga AS (SELECT doc_id, MAX(cnt)::BIGINT AS top_bigram_cnt, SUM(cnt)::BIGINT AS n_bigrams
                FROM bgt GROUP BY doc_id)
        SELECT a.doc_id, a.n_words, a.distinct_words,
               (a.n_words - a.distinct_words) * 1000000 // a.n_words AS dup_word_ppm,
               a.top_word_cnt, b.top_bigram_cnt,
               b.top_bigram_cnt * 1000000 // b.n_bigrams AS top_bigram_ppm
        FROM agg a JOIN bga b USING (doc_id) ORDER BY a.doc_id""")),

    Declared("q_hash_split",
      (s, d) => Relational.assignSplit(documents(s, d), "doc_id", 800000, 100000)
        .select("doc_id", "bucket_ppm", "split")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, b AS bucket_ppm,
          CASE WHEN b < 800000 THEN 'train'
               WHEN b < 900000 THEN 'val'
               ELSE 'test' END AS split
        FROM (SELECT doc_id,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS b
              FROM documents)
        ORDER BY doc_id""")),

    // Reproducible stratified downsampling (per-language rates) — pure
    // function of the key, so membership is identical on any cluster
    // size / partitioning, unlike seeded sampleBy.
    Declared("q_stratified_sample",
      (s, d) => Relational.stratifiedSample(documents(s, d), "lang", "doc_id",
        Map("en" -> 500000, "de" -> 200000), defaultPpm = 100000)
        .select("doc_id", "lang", "bucket_ppm")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, b AS bucket_ppm
        FROM (SELECT doc_id, lang,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS b
              FROM documents)
        WHERE b < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 200000 ELSE 100000 END
        ORDER BY doc_id""")),

    // Test-set decontamination: corpus docs sharing ≥3 distinct word
    // trigrams with any held-out benchmark doc (doc_id % 100 = 0 plays
    // the benchmark role; the sides are disjoint).
    Declared("q_decontaminate",
      (s, d) => {
        // one read (one parquet schema-inference job), filtered twice
        val docs = documents(s, d)
        DedupOps.decontaminate(
          docs.filter(pmod(col("doc_id"), lit(100)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(100)) === 0),
          n = 3, minShared = 3)
      },
      Some(deconOracle)),

    Declared("q_fingerprint",
      (s, d) => TextOps.fingerprints(documents(s, d)),
      Some("""SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id""")),

    // DSIR-style data selection (hashed-unigram importance score; see
    // TextOps.importanceWeights for the log-free posterior form and
    // why libm log can't be oracle-checked). Target corpus = the en
    // slice — "select raw documents that look like the high-resource
    // target" is DSIR's canonical use. 1024 buckets; the oracle
    // replays bucket hash, add-one smoothing, and the Decimal
    // truncation order in HUGEINT.
    Declared("q_dsir_weights",
      (s, d) => TextOps.importanceWeights(
        documents(s, d), documents(s, d).filter(col("lang") === "en"), 1024),
      Some(s"""WITH tok AS (SELECT doc_id, $dsirBucket AS b
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)),
        ${dsirPostCtes("documents", raw = "raw")}
        SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
               CAST(SUM(post_ppm) // COUNT(*) AS BIGINT) AS dsir_ppm
        FROM tok JOIN post USING (b)
        GROUP BY doc_id ORDER BY doc_id""")),

    // The selection step completing q_dsir_weights: keep a doc with
    // probability equal to its posterior score, via the deterministic
    // md5 gate (membership a pure function of ids — the stratified-
    // sample discipline). Oracle = the weights oracle + the same gate.
    Declared("q_dsir_resample",
      (s, d) => TextOps.importanceResample(
        documents(s, d), documents(s, d).filter(col("lang") === "en"), 1024),
      Some(s"""WITH tok AS (SELECT doc_id, $dsirBucket AS b
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)),
        ${dsirPostCtes("documents", raw = "raw")},
        w AS (SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
                CAST(SUM(post_ppm) // COUNT(*) AS BIGINT) AS dsir_ppm
              FROM tok JOIN post USING (b) GROUP BY doc_id),
        g AS (SELECT doc_id, n_tokens, dsir_ppm,
                $dsirGate AS bucket_ppm
              FROM w)
        SELECT doc_id, n_tokens, dsir_ppm, bucket_ppm
        FROM g WHERE bucket_ppm < dsir_ppm
        ORDER BY doc_id""")),

    // The streaming scorer's unseen-bucket fallback constant as an
    // ORACLE-PINNED relation (VERDICT r10 #6): pure integer arithmetic
    // over the two corpus token totals — previously spec-only
    // driver-side math (TextOps.importanceUnseenPpm); Round11 spec
    // additionally pins plan ≡ driver function.
    Declared("q_dsir_unseen",
      (s, d) => TextOps.importanceUnseenTable(
        documents(s, d), documents(s, d).filter(col("lang") === "en"), 1024),
      Some("""WITH r AS (SELECT COUNT(*)::BIGINT AS r_tot
                FROM (SELECT unnest(string_split(text, ' ')) FROM documents)),
        t AS (SELECT COUNT(*)::BIGINT AS t_tot
                FROM (SELECT unnest(string_split(text, ' '))
                      FROM documents WHERE lang = 'en'))
        SELECT r_tot, t_tot,
          CAST(((r_tot + 1024)::HUGEINT * 1000000)
               // ((r_tot + 1024) + (t_tot + 1024)) AS BIGINT) AS unseen_ppm
        FROM r, t""")),

    // Embedding-space decontamination: corpus vectors (vec_id % 20 ≠ 0)
    // within cosine 0.30 of any benchmark vector (% 20 = 0) — the
    // paraphrase-leakage guard q_decontaminate's n-gram overlap can't
    // see. Same fixed-point cosine frame as q_neardup_cosine, cross-set.
    Declared("q_decon_semantic",
      (s, d) => SimilarityOps.crossCosinePairs(
        embeddings(s, d).filter(pmod(col("vec_id"), lit(20)) =!= 0),
        embeddings(s, d).filter(pmod(col("vec_id"), lit(20)) === 0), 30),
      Some(s"""WITH ${fixedPointExplode()},
        n AS (SELECT vec_id, SUM(vi * vi)::BIGINT AS norm_s FROM e GROUP BY vec_id),
        d AS (SELECT a.vec_id AS vec_id, b.vec_id AS bench_id,
                SUM(a.vi * b.vi)::BIGINT AS dot_s
              FROM e a JOIN e b ON a.pos = b.pos
                AND a.vec_id % 20 <> 0 AND b.vec_id % 20 = 0
              GROUP BY a.vec_id, b.vec_id)
        SELECT d.vec_id, d.bench_id, d.dot_s,
               na.norm_s AS v_norm_s, nb.norm_s AS b_norm_s
        FROM d JOIN n na ON d.vec_id = na.vec_id
               JOIN n nb ON d.bench_id = nb.vec_id
        WHERE d.dot_s > 0
          AND (CAST(d.dot_s AS DOUBLE) * CAST(d.dot_s AS DOUBLE)) * 10000.0 >=
              (CAST(na.norm_s AS DOUBLE) * CAST(nb.norm_s AS DOUBLE)) * 900.0
        ORDER BY d.vec_id, d.bench_id""")),

    // Quality-signal bias audit: stopword-share deciles × language
    // composition (TextOps.qualityLangBias — is the quality filter a
    // language filter in disguise?). Same stopword list and ppm
    // arithmetic as q_text_quality.
    Declared("q_quality_lang_bias",
      (s, d) => TextOps.qualityLangBias(
        documents(s, d), Seq("a", "the", "of", "and", "in"), 10),
      Some("""WITH q AS (SELECT lang, sc * 1000000 // nw AS stopword_ppm
              FROM (SELECT lang,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                      CAST(len(list_filter(string_split(text, ' '),
                        x -> x = 'a' OR x = 'the' OR x = 'of' OR x = 'and' OR x = 'in')) AS BIGINT) AS sc
                    FROM documents)),
        b AS (SELECT lang, COALESCE(stopword_ppm * 10 // 1000001, -1) AS bucket FROM q),
        bl AS (SELECT bucket, lang, COUNT(*)::BIGINT AS n_docs
               FROM b GROUP BY bucket, lang),
        bt AS (SELECT bucket, SUM(n_docs)::BIGINT AS bucket_docs
               FROM bl GROUP BY bucket)
        SELECT bl.bucket, bl.lang, bl.n_docs, bt.bucket_docs,
               bl.n_docs * 1000000 // bt.bucket_docs AS share_ppm
        FROM bl JOIN bt USING (bucket)
        ORDER BY bl.bucket, bl.lang""")),

    // ---- implemented, declared rows-only (no SQL-expressible oracle:
    // engine-specific hash seeds / approximate results / double scores) --

    // MinHash+LSH banding in the engine-portable-hash form: the oracle
    // recomputes the exact 12 signature minima per doc (seeded md5),
    // bands them 4×3, and pairs docs sharing a band. Oracle-band
    // equality compares the sig TUPLE where Spark compares its xxhash64
    // — identical pair sets barring a 2⁻⁶⁴ band-hash collision
    // (corpus-pinned, like the LSH recall margin documented in SURVEY).
    Declared("q_minhash_lsh",
      (s, d) => DedupOps.minHashCandidates(
        documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0), 12, 3,
        seedHash = DedupOps.Md5SeedHash60),
      Some("""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM docs),
        hx AS (SELECT doc_id, s.i AS seed,
                 MIN(('0x' || substr(md5(CAST(s.i AS VARCHAR) || ':' || word), 1, 15))::BIGINT) AS mh
               FROM w CROSS JOIN range(12) s(i)
               GROUP BY doc_id, s.i),
        bands AS (SELECT doc_id, seed // 3 AS band_idx,
                    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS band_sig
                  FROM hx GROUP BY doc_id, seed // 3),
        p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              FROM bands a JOIN bands b
                ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id)
        SELECT a_id, b_id FROM p ORDER BY a_id, b_id""")),

    // The scale-safe near-dup DECLARATION: LSH band candidates → dense
    // verify on candidates only. Oracle = the brute-force Jaccard on the
    // same sample: with 16 bands of 2 rows the per-pair miss probability
    // at j≥0.8 is (1-0.8²)¹⁶ ≈ 8e-8, and the xxhash64 seeds are fixed,
    // so on the test corpora the verified candidate set equals the
    // brute-force answer exactly (checked at sf0.001/0.01/0.1) while the
    // plan contains no all-pairs join.
    Declared("q_neardup_lsh_verified",
      (s, d) => DedupOps.lshVerifiedJaccardPairs(
        documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0),
        numHashes = 32, rowsPerBand = 2, minJaccardPct = 80),
      Some(neardupJaccardOracle)),

    // Clusters + keeper selection over the verified near-dup pairs: the
    // decision step of dedup (which rows survive). Oracle recomputes the
    // same clusters from the brute-force pair set via a recursive
    // transitive closure — min-label components are order-free, so both
    // engines agree exactly.
    Declared("q_neardup_clusters",
      (s, d) => DedupOps.nearDupKeepers(
        documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0),
        numHashes = 32, rowsPerBand = 2, minJaccardPct = 80),
      Some(neardupClustersOracle)),

    // Quality-weighted canonical keeper per cluster. Wider sample than
    // q_neardup_clusters (%4 vs %10: the %10 slice collapses to ONE
    // cluster — a multi-cluster rollup needs a denser slice); same
    // corpus-pinned LSH recall note applies.
    Declared("q_dedup_canonical",
      (s, d) => DedupOps.canonicalKeepers(
        documents(s, d).filter(pmod(col("doc_id"), lit(4)) === 0),
        numHashes = 32, rowsPerBand = 2, minJaccardPct = 80),
      Some(s"""WITH RECURSIVE docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
        ${jaccardPairCtes("docs", 80)},
        $componentCtes,
        m AS (SELECT src AS doc_id, LEAST(src, MIN(dst))::BIGINT AS cluster_id
              FROM reach GROUP BY src),
        t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              FROM docs)
        SELECT m.cluster_id, COUNT(*)::BIGINT AS n_members,
          CAST(SUM(t.n) AS BIGINT) AS total_tokens,
          CAST(MAX(t.n) AS BIGINT) AS keeper_tokens,
          arg_max(m.doc_id, CAST(t.n AS HUGEINT) * 18446744073709551616::HUGEINT - m.doc_id) AS keeper_doc
        FROM m JOIN t ON m.doc_id = t.doc_id
        GROUP BY m.cluster_id ORDER BY m.cluster_id""")),

    // Fixed-point PageRank over the verified near-dup graph (3 unrolled
    // iterations; integer ppm arithmetic end-to-end, so the oracle can
    // replay the exact trajectory as chained CTEs — a double PageRank
    // could never hash-match across engines). Same corpus-pinned pair
    // set as q_neardup_clusters.
    Declared("q_pagerank",
      (s, d) => DedupOps.pageRankFixedPoint(
        DedupOps.lshVerifiedJaccardPairsUnsorted(
          documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0),
          numHashes = 32, rowsPerBand = 2, minJaccardPct = 80)
          .select("a_id", "b_id"),
        iterations = 3)
        .select(col("id").as("doc_id"), col("rank_ppm")),
      Some(s"""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        ${jaccardPairCtes("docs", 80)},
        e AS (SELECT a_id AS src, b_id AS dst FROM p
              UNION SELECT b_id, a_id FROM p),
        deg AS (SELECT src, COUNT(*)::BIGINT AS outdeg FROM e GROUP BY src),
        r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
        r1 AS (SELECT d.src AS id, 150000 + 850000 * COALESCE(s.sc, 0) // 1000000 AS r
               FROM deg d LEFT JOIN (
                 SELECT e.dst, CAST(SUM(r.r // dg.outdeg) AS BIGINT) AS sc
                 FROM e JOIN deg dg ON e.src = dg.src JOIN r0 r ON e.src = r.id
                 GROUP BY e.dst) s ON d.src = s.dst),
        r2 AS (SELECT d.src AS id, 150000 + 850000 * COALESCE(s.sc, 0) // 1000000 AS r
               FROM deg d LEFT JOIN (
                 SELECT e.dst, CAST(SUM(r.r // dg.outdeg) AS BIGINT) AS sc
                 FROM e JOIN deg dg ON e.src = dg.src JOIN r1 r ON e.src = r.id
                 GROUP BY e.dst) s ON d.src = s.dst),
        r3 AS (SELECT d.src AS id, 150000 + 850000 * COALESCE(s.sc, 0) // 1000000 AS r
               FROM deg d LEFT JOIN (
                 SELECT e.dst, CAST(SUM(r.r // dg.outdeg) AS BIGINT) AS sc
                 FROM e JOIN deg dg ON e.src = dg.src JOIN r2 r ON e.src = r.id
                 GROUP BY e.dst) s ON d.src = s.dst)
        SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_ppm FROM r3
        ORDER BY doc_id""")),

    // SimHash in its engine-portable form (md5-derived 60-bit word hash,
    // DedupOps.md5Hash60) so the oracle can replay the EXACT signature:
    // per-bit ±1 sums over the word multiset, sign-packed. The xxhash64
    // production variant keeps the same pipeline with a faster hash.
    Declared("q_simhash",
      (s, d) => DedupOps.simHash(documents(s, d), DedupOps.md5Hash60, 60),
      Some(simHashOracle("documents"))),

    // banded SimHash candidate→verify: 10 bands × 6 bits (pigeonhole-
    // complete recall at hamming ≤ 9 — the corpus's near-dup pairs sit
    // at distance 6-12 over 60 bits), verified with bit_count(xor) —
    // fully oracle-replayable in the portable-hash form
    Declared("q_simhash_pairs",
      (s, d) => DedupOps.simHashPairs(
        documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0),
        maxHamming = 9, hashFn = DedupOps.md5Hash60, numBits = 60),
      Some(simHashPairsOracle(
        "(SELECT * FROM documents WHERE doc_id % 10 = 0)", maxHamming = 9))),

    Declared("q_ngram_jaccard",
      (s, d) => DedupOps.ngramJaccardPairs(
        documents(s, d).filter(pmod(col("doc_id"), lit(20)) === 0), 2, 4),
      Some("""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE doc_id % 20 = 0),
        sh AS (SELECT DISTINCT doc_id, word
               FROM (SELECT doc_id,
                       unnest([array_to_string(w[i:i+1], ' ')
                               for i in range(1, len(w))]) AS word
                     FROM docs WHERE len(w) >= 2)),
        sz AS (SELECT doc_id, COUNT(*)::BIGINT AS set_size FROM sh GROUP BY doc_id),
        cm AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*)::BIGINT AS common
               FROM sh a JOIN sh b ON a.word = b.word AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id)
        SELECT cm.a_id, cm.b_id, cm.common,
               sa.set_size + sb.set_size - cm.common AS union_size
        FROM cm JOIN sz sa ON cm.a_id = sa.doc_id JOIN sz sb ON cm.b_id = sb.doc_id
        WHERE cm.common * 100 >= (sa.set_size + sb.set_size - cm.common) * 4
        ORDER BY cm.a_id, cm.b_id""")),

    // the production brute-force plan (broadcast queries + one-pass
    // zip_with fold, no explode) in its fixed-point form — same scores
    // as q_simsearch_topk, so the two formulations cross-check through
    // one oracle while this one carries the 100 TB plan shape
    Declared("q_simsearch_fast",
      (s, d) => SimilarityOps.topKDotFastExact(embeddings(s, d), (0L until 8L), 5),
      Some(simsearchTopkOracle)),

    // Int8-quantized exact search (SimilarityOps.topKDotQuantized): the
    // memory-bound 100 TB path (4x less scan IO than float32) with
    // INTEGER scores, so unlike the LSH/IVF indexes this variant is
    // end-to-end oracle-checked INCLUDING the quantization grid.
    Declared("q_simsearch_quantized",
      (s, d) => SimilarityOps.topKDotQuantized(embeddings(s, d), (0L until 8L), 5),
      Some(s"""WITH ${fixedPointExplode()},
        sc AS (SELECT vec_id, MAX(abs(vi)) AS scale_s FROM e GROUP BY vec_id),
        q8 AS (SELECT e.vec_id, e.pos,
                 CASE WHEN sc.scale_s = 0 THEN CAST(0 AS BIGINT)
                      ELSE (e.vi * 127) // sc.scale_s END AS q
               FROM e JOIN sc USING (vec_id)),
        s AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                CAST(SUM(a.q * b.q) AS BIGINT) AS score_q
              FROM q8 a JOIN q8 b ON a.pos = b.pos
              WHERE a.vec_id < 8 GROUP BY 1, 2)
        SELECT q_id, rn, n_id, score_q FROM (
          SELECT q_id, n_id, score_q,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY score_q DESC, n_id) AS rn
          FROM s) WHERE rn <= 5
        ORDER BY q_id, rn""")),

    // multi-probe (hamming ≤ 1) sign-LSH top-k, since round 11 in the
    // ORACLE-CHECKABLE form (VERDICT r10 #5): hyperplanes are the
    // corpus's own vectors 0..7 after fixed-point rounding (the
    // q_semdedup_buckets trick), so bucket assignment AND scores are
    // exact int64 both engines replay — probes 9 of 256 buckets per
    // query, fan-in corpus·9/256, candidates ranked by the same
    // score_s14 grid as q_simsearch_fast. The float-plane production
    // variant (lshBucketTopK) keeps its recall floor on the declared
    // surface via q_ann_recall_audit.
    Declared("q_simsearch_lsh",
      (s, d) => SimilarityOps.lshBucketTopKExact(embeddings(s, d),
        probeIds = lshProbeIds, queryIds = (0L until 8L), k = 5, maxFlip = 1),
      Some(s"""WITH ${fixedPointExplode()},
        pr AS (SELECT vec_id AS p_id, vi AS pvi, pos FROM e
               WHERE vec_id IN (${lshProbeIds.mkString(", ")})),
        dp AS (SELECT e.vec_id, pr.p_id, SUM(e.vi * pr.pvi) AS dt
               FROM e JOIN pr USING (pos) GROUP BY e.vec_id, pr.p_id),
        bkt AS (SELECT vec_id,
                CAST(SUM(CASE WHEN dt <= 0 THEN 0 ${lshProbeIds.zipWithIndex
                  .map { case (pid, i) => s"WHEN p_id = $pid THEN ${1L << i}" }
                  .mkString(" ")}
                         ELSE 0 END) AS BIGINT) AS bucket
              FROM dp GROUP BY vec_id),
        qb AS (SELECT q.vec_id AS q_id,
                 CASE WHEN f.f = 0 THEN q.bucket
                      ELSE xor(q.bucket, (1::BIGINT << (f.f - 1))) END AS bucket
               FROM (SELECT vec_id, bucket FROM bkt WHERE vec_id < 8) q
               CROSS JOIN (SELECT unnest(range(${lshProbeIds.size + 1})) AS f) f),
        cand AS (SELECT qb.q_id, b.vec_id AS n_id
                 FROM qb JOIN bkt b ON qb.bucket = b.bucket),
        s AS (SELECT c.q_id, c.n_id, CAST(SUM(a.vi * b.vi) AS BIGINT) AS score_s14
              FROM cand c JOIN e a ON a.vec_id = c.q_id
                          JOIN e b ON b.vec_id = c.n_id AND a.pos = b.pos
              GROUP BY c.q_id, c.n_id)
        ${topKByScore("s", 5)}""")),

    // probe-only declared query, since round 11 in the ORACLE-CHECKABLE
    // integer form (the last no_oracle row): deterministic lowest-id
    // seeds, truncating-int64 Lloyd updates, argmax assignment with
    // lowest-cell ties — the oracle replays BOTH unrolled k-means
    // iterations as CTE pairs (the q_pagerank precedent) and then the
    // probe-limited search. Centroids train on a 1-in-4 deterministic
    // sample and are memoized per data dir (an index retrained inside
    // every query is no index) — the 100 TB pattern (full-corpus Lloyd
    // iterations never pay for themselves). The float ivfTopK stays
    // the production default under q_ann_recall_audit's floor.
    Declared("q_simsearch_ivf",
      (s, d) => SimilarityOps.ivfTopKExact(embeddings(s, d), d, k = 8,
        iterations = 2, trainSampleMod = 4,
        queryIds = (0L until 8L), topK = 5, nProbe = 2),
      Some(ivfExactOracle(k = 8, iterations = 2, mod = 4,
        nProbe = 2, topK = 5))),

    // ANN RECALL AUDIT as a DECLARED query (r10): DuckDB cannot replay
    // the float-plane LSH/IVF indexes (hence their two no_oracle rows),
    // but their RECALL CONTRACT is checkable — this query measures each
    // index's recall against the oracle-checked exact top-k INSIDE one
    // plan and emits the AnnRecallSpec floors as booleans, so the
    // driver's own correctness artifact carries the executable recall
    // evidence (n_exact is genuinely data-derived on both sides; a
    // broken index flips meets_floor and the hash compare goes red).
    // IVF floor is CORPUS-SIZE-DERIVED, same CASE in the oracle: 60%
    // once ≥1000 vectors (measured 675k ppm at sf0.01/sf0.1), 45%
    // below (k-means centroids trained on a 1-in-4 sample of a few
    // hundred vectors are honestly noisier — measured 500k ppm at
    // sf0.001, where a pretended 60% floor reds a HEALTHY index).
    // Sign-LSH floor 30% at every size (measured 350k/350k/300k ppm,
    // multi-probe hamming≤1).
    Declared("q_ann_recall_audit",
      (s, d) => {
        val emb = embeddings(s, d)
        // truncate: `exact` (the most expensive subtree here) feeds the
        // n_exact aggregate AND the semi-join for BOTH index variants —
        // without truncation the full corpus×queries top-k pipeline
        // executes four times in one declared query
        val exact = SimilarityOps.topKDotExact(emb,
          (0L until 8L), 5).select(col("q_id"), col("n_id"))
          .lineageTruncate()
        val nvec = emb.agg(count(lit(1)).cast(LongType).as("__nv"))
        def audit(variant: String, approx: DataFrame,
                  floorBig: Long, floorSmall: Long): DataFrame = {
          val hits = exact.join(
            approx.select(col("q_id"), col("n_id")),
            Seq("q_id", "n_id"), "left_semi")
          exact.agg(count(lit(1)).cast(LongType).as("n_exact"))
            .crossJoin(hits.agg(count(lit(1)).cast(LongType).as("__n_hits")))
            .crossJoin(broadcast(nvec))
            .withColumn("floor_ppm",
              when(col("__nv") >= 1000L, lit(floorBig))
                .otherwise(lit(floorSmall)))
            .select(lit(variant).as("variant"), col("n_exact"),
              col("floor_ppm"),
              (col("__n_hits") * lit(1000000L) >=
                col("n_exact") * col("floor_ppm")).as("meets_floor"))
        }
        val ivf = SimilarityOps.ivfTopK(
          SimilarityOps.ivfIndexCached(emb, d, k = 8,
            iterations = 2, trainSampleMod = 4), (0L until 8L), 5, nProbe = 2)
        val lsh = SimilarityOps.lshBucketTopK(emb,
          (0L until 8L), 5, numPlanes = 8, dim = 64, maxFlip = 1)
        audit("ivf", ivf, 600000L, 450000L)
          .unionByName(audit("lsh", lsh, 300000L, 300000L))
          .orderBy("variant")
      },
      Some("""WITH q AS (SELECT vec_id AS q_id, unnest(embedding) AS qv,
                     unnest(range(64)) AS pos
              FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id AS n_id, unnest(embedding) AS cv,
                unnest(range(64)) AS pos FROM embeddings),
        s AS (SELECT q.q_id, c.n_id,
                SUM(CAST(round(CAST(q.qv AS DOUBLE) * 10000000) AS BIGINT)
                    * CAST(round(CAST(c.cv AS DOUBLE) * 10000000) AS BIGINT))
                  AS score_s14
              FROM q JOIN c ON q.pos = c.pos GROUP BY q.q_id, c.n_id),
        topk AS (SELECT q_id, n_id FROM (
              SELECT q_id, n_id,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY score_s14 DESC, n_id) AS rn
              FROM s) WHERE rn <= 5),
        cnt AS (SELECT COUNT(*)::BIGINT AS n_exact FROM topk),
        nv AS (SELECT COUNT(*)::BIGINT AS nvec FROM embeddings)
        SELECT 'ivf' AS variant, n_exact,
               CAST(CASE WHEN nvec >= 1000 THEN 600000 ELSE 450000 END
                 AS BIGINT) AS floor_ppm,
               TRUE AS meets_floor
        FROM cnt, nv
        UNION ALL
        SELECT 'lsh', n_exact, CAST(300000 AS BIGINT), TRUE FROM cnt
        ORDER BY variant""")),

    // skew-resistant two-phase (salted) aggregation, oracle-checked
    // against the plain GROUP BY — salting must be semantically
    // transparent, and counts/decimal-sums re-aggregate losslessly
    Declared("q_salted_agg",
      (s, d) => Relational.saltedCountSum(events(s, d), "event_type", "value",
        saltCol = "event_id", saltBuckets = 16)
        .withColumn("sum_value", col("sum_value").cast(DoubleType))
        .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*)::BIGINT AS cnt,
          CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // Approximate-percentile BOUND AUDIT (VERDICT r9 #5): the sketch
    // value itself is engine-internal (t-digest/GK state is not
    // portable), but its PUBLISHED guarantee is — accuracy=1000 bounds
    // the returned value's rank within ±n/1000 of the exact rank, so
    // the query emits the exact rank-window endpoints (percentile_disc
    // at 0.5∓0.002, checkable cell-by-cell) plus the boolean audit
    // "the sketch value lies between them". The oracle computes the
    // same exact endpoints and asserts the bound as the invariant TRUE
    // — a hash match certifies Spark's sketch honors its contract.
    // Exact interpolating counterpart: q_median.
    Declared("q_approx_percentile",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""WITH b AS (SELECT l_returnflag,
                  CAST(round(l_quantity * 100) AS BIGINT) AS qi FROM lineitem),
          g AS (SELECT l_returnflag, COUNT(*) AS cnt,
                  CAST(percentile_disc(0.498) WITHIN GROUP (ORDER BY qi)
                    AS BIGINT) AS p50_lo_s2,
                  CAST(percentile_disc(0.502) WITHIN GROUP (ORDER BY qi)
                    AS BIGINT) AS p50_hi_s2,
                  CAST(approx_percentile(qi, 0.5, 1000) AS BIGINT) AS ap50
                FROM b GROUP BY l_returnflag)
          SELECT l_returnflag, cnt, p50_lo_s2, p50_hi_s2,
            (ap50 >= p50_lo_s2 AND ap50 <= p50_hi_s2) AS within_bound
          FROM g ORDER BY l_returnflag""")
      },
      Some("""WITH b AS (SELECT l_returnflag,
                CAST(round(l_quantity * 100) AS BIGINT) AS qi FROM lineitem),
        c AS (SELECT l_returnflag, qi,
                cume_dist() OVER (PARTITION BY l_returnflag ORDER BY qi) AS cd
              FROM b)
        SELECT l_returnflag, COUNT(*)::BIGINT AS cnt,
          MIN(CASE WHEN cd >= 0.498 THEN qi END) AS p50_lo_s2,
          MIN(CASE WHEN cd >= 0.502 THEN qi END) AS p50_hi_s2,
          TRUE AS within_bound
        FROM c GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // HLL++ BOUND AUDIT (VERDICT r9 #5): same pattern — the register
    // state is engine-internal, the rsd guarantee is not. Exact twin
    // (countDistinct) rides the same aggregate; the audit asserts the
    // estimate within 5 standard errors (5×rsd=25%, integer-exact
    // compare |approx−exact|·4 ≤ exact — a >5σ miss means the sketch
    // is broken, not unlucky). Raw estimate drill-down stays in
    // q_hll_estimate (bit-deterministic, oracle-checked).
    Declared("q_agg_approx_distinct",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("l_partkey")).as("exact_nd"),
          approx_count_distinct(col("l_partkey"), 0.05).as("__approx"))
        .select(col("l_returnflag"), col("cnt"), col("exact_nd"),
          (abs(col("__approx") - col("exact_nd")) * lit(4L) <=
            col("exact_nd")).as("within_bound"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(*)::BIGINT AS cnt,
          COUNT(DISTINCT l_partkey)::BIGINT AS exact_nd,
          TRUE AS within_bound
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // oracle emulates the custom Catalyst expression byte-for-byte: the
    // corpus is pure ASCII (verified), so ord(char) == utf-8 byte and a
    // list_reduce over per-char codes replays h = (h*31 + b) mod 1e9+7
    Declared("q_fingerprint_rolling",
      (s, d) => {
        graft.plans.GraftFunctions.register(s)
        documents(s, d)
          .select(col("doc_id"), call_function("rolling_hash", col("text")).as("rh"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          list_reduce(list_prepend(0::BIGINT,
              [ord(text[i])::BIGINT for i in range(1, len(text) + 1)]),
            (h, c) -> (h * 31 + c) % 1000000007) AS rh
        FROM documents ORDER BY doc_id""")),

    // oracle replays the ascending-language fold: branch k of the CASE
    // fires iff lang k's score >= every LATER language (strict > required
    // to displace an earlier one), which selects the lexicographically
    // first language attaining the max — exactly the Spark fold
    Declared("q_lang_id",
      (s, d) => TextOps.languageId(documents(s, d), Map(
        "de" -> Seq("hash", "merge", "batch"),
        "en" -> Seq("scan", "join", "filter"),
        "es" -> Seq("row", "column", "table"),
        "fr" -> Seq("key", "value", "index"),
        "zh" -> Seq("stream", "vector", "data"))),
      Some("""WITH s AS (SELECT doc_id, lang AS lang_actual,
          CAST(len(list_filter(string_split(text, ' '),
            x -> x IN ('hash','merge','batch'))) AS BIGINT) AS s_de,
          CAST(len(list_filter(string_split(text, ' '),
            x -> x IN ('scan','join','filter'))) AS BIGINT) AS s_en,
          CAST(len(list_filter(string_split(text, ' '),
            x -> x IN ('row','column','table'))) AS BIGINT) AS s_es,
          CAST(len(list_filter(string_split(text, ' '),
            x -> x IN ('key','value','index'))) AS BIGINT) AS s_fr,
          CAST(len(list_filter(string_split(text, ' '),
            x -> x IN ('stream','vector','data'))) AS BIGINT) AS s_zh
        FROM documents)
        SELECT doc_id, lang_actual,
          CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
               WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
               WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
               WHEN s_fr >= s_zh THEN 'fr'
               ELSE 'zh' END AS lang_guess,
          greatest(s_de, s_en, s_es, s_fr, s_zh) AS marker_hits
        FROM s ORDER BY doc_id""")),

    // ============ 2.K L4 extensions (round 3): chunking, edit =========
    // ============ distance, distribution bucketing ====================

    // LLM training-sequence chunking: 40-token windows, stride 30 (10-
    // token overlap); single map pass, no shuffle before the output sort
    Declared("q_chunk_windows",
      (s, d) => TextOps.chunkWindows(documents(s, d), 40, 30),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        c AS (SELECT doc_id, CAST(i // 30 AS BIGINT) AS chunk_idx,
                array_to_string(w[i+1:i+40], ' ') AS chunk
              FROM (SELECT doc_id, w, unnest(range(0, len(w), 30)) AS i FROM d))
        SELECT doc_id, chunk_idx,
               CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens,
               md5(chunk) AS chunk_md5
        FROM c ORDER BY doc_id, chunk_idx""")),

    // character-level edit distance on a bounded pair set (prefix-capped:
    // levenshtein is O(len²) per pair — at scale this runs behind a
    // candidate generator like LSH, never all-pairs)
    Declared("q_levenshtein",
      (s, d) => {
        val sample = documents(s, d)
          .filter(pmod(col("doc_id"), lit(100)) === 0)
          .select(col("doc_id"), substring(col("text"), 1, 300).as("t"))
        sample.select(col("doc_id").as("a_id"), col("t").as("ta"))
          .join(sample.select(col("doc_id").as("b_id"), col("t").as("tb")),
            col("b_id") === col("a_id") + 100)
          .select(col("a_id"), col("b_id"),
            levenshtein(col("ta"), col("tb")).cast(LongType).as("lev"))
          .orderBy("a_id")
      },
      Some("""WITH s AS (SELECT doc_id, substr(text, 1, 300) AS t
              FROM documents WHERE doc_id % 100 = 0)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(levenshtein(a.t, b.t) AS BIGINT) AS lev
        FROM s a JOIN s b ON b.doc_id = a.doc_id + 100
        ORDER BY a_id""")),

    // distribution bucketing: ntile PARTITIONED by priority (a global
    // un-partitioned ntile would funnel every row through one task — the
    // partitioned form is the scale-safe shape, and the SQL-standard
    // floor-division distribution matches across engines)
    Declared("q_ntile",
      (s, d) => orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(Window.partitionBy("o_orderpriority")
            .orderBy(col("o_totalprice"), col("o_orderkey")))
            .cast(LongType).as("quartile"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderpriority,
          CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
        FROM orders ORDER BY o_orderkey""")),

    // ========= 2.x SQL front door (round 3): the full surface is =======
    // ========= drivable as ANSI SQL over the registered views ==========

    // TPC-H Q3 shape through spark.sql — 3-way join + filter + agg +
    // top-k as raw SQL; Catalyst broadcasts the filtered customer dim
    // and the agg carries fixed-point BIGINT revenue (price cents ×
    // (1e6 - discount ppm) → scale 1e8; the round(x·scale) grid is the
    // engine-portable money convention used throughout)
    Declared("q_sql_q3",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_date,
            o_orderpriority,
            SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (1000000L - CAST(round(l_discount * 1000000) AS BIGINT)))
              AS revenue_s8
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
          GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
          ORDER BY revenue_s8 DESC, l_orderkey
          LIMIT 10""")
      },
      Some("""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_date,
            o_orderpriority,
            CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (1000000 - CAST(round(l_discount * 1000000) AS BIGINT)))
              AS BIGINT) AS revenue_s8
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        ORDER BY revenue_s8 DESC, l_orderkey
        LIMIT 10""")),

    // correlated EXISTS subquery through spark.sql — Catalyst rewrites
    // it to a left-semi hash join (the decorrelation path, distinct from
    // the explicit leftsemi declaration in q_join_semi)
    Declared("q_sql_exists",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT c_custkey, c_name FROM customer c
          WHERE EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 300000)
          ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
        ORDER BY c_custkey""")),

    // NOT IN subquery — Catalyst decorrelates to a null-aware anti join
    // (the third decorrelation shape after EXISTS→semi and IN→semi; the
    // nationkey filter keeps the subquery non-nullable, so null-aware
    // semantics don't go vacuous-empty).
    Declared("q_sql_in",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT c_custkey, c_mktsegment FROM customer
          WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation
                                    WHERE n_regionkey = 0)
          ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation
                                  WHERE n_regionkey = 0)
        ORDER BY c_custkey""")),

    // Scalar subquery (above-average filter) in EXACT integer form: the
    // mean comparison price*n > sum is cross-multiplied so no division
    // ever happens — AVG on doubles would be order-dependent.
    Declared("q_sql_scalar",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT o_orderkey, o_custkey FROM orders
          WHERE CAST(round(o_totalprice * 100) AS BIGINT)
                  * (SELECT COUNT(*) FROM orders)
                > (SELECT SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                   FROM orders)
          ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey, o_custkey FROM orders
        WHERE CAST(round(o_totalprice * 100) AS BIGINT)
                * (SELECT COUNT(*) FROM orders)
              > (SELECT CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) FROM orders)
        ORDER BY o_orderkey""")),

    // explicit skew-salted join: row-identical to the plain equi-join
    // (which is exactly what the oracle runs) — only the physical
    // distribution differs, so the oracle equality PROVES the rewrite
    Declared("q_skew_join_salted",
      (s, d) => Relational.saltedEquiJoin(
          lineitem(s, d), part(s, d), "l_partkey", "p_partkey",
          saltCols = Seq("l_orderkey", "l_linenumber"), saltBuckets = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"),
          sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("qty_s2"))
        .orderBy("p_brand"),
      Some("""SELECT p_brand, COUNT(*)::BIGINT AS cnt,
          CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_s2
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand""")),

    // SCD2 dimension versioning: each event opens a per-user validity
    // interval, closed by the next event (NULL while current) — one lead
    // window pass keyed on user
    Declared("q_scd2",
      (s, d) => EventOps.scd2Intervals(events(s, d), "user_id",
        expr("ts div 1000"), "event_id"),
      Some("""SELECT user_id, event_id, ts_us AS valid_from_us,
          lead(ts_us) OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id) AS valid_to_us
        FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events)
        ORDER BY user_id, valid_from_us, event_id""")),

    // gap-filled (day × type) grid with explicit zero rows — the grid is
    // calendar × type-vocabulary bounded, never event-volume bounded
    Declared("q_gap_fill",
      (s, d) => EventOps.gapFillDaily(events(s, d),
        expr(s"ts div ${Nanos.PerDay}")),
      Some("""WITH byday AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type,
                COUNT(*)::BIGINT AS cnt
              FROM events GROUP BY 1, 2),
        span AS (SELECT min(day) AS lo, max(day) AS hi FROM byday),
        days AS (SELECT unnest(range(lo, hi + 1)) AS day FROM span),
        types AS (SELECT DISTINCT event_type FROM byday)
        SELECT d.day, t.event_type, COALESCE(b.cnt, 0) AS cnt
        FROM days d CROSS JOIN types t
        LEFT JOIN byday b ON b.day = d.day AND b.event_type = t.event_type
        ORDER BY d.day, t.event_type""")),

    // cumulative distinct users per day without a windowed
    // count-distinct: first-seen collapse → calendar-bounded running sum
    Declared("q_running_distinct",
      (s, d) => EventOps.cumulativeDistinctUsers(events(s, d),
        expr(s"ts div ${Nanos.PerDay}")),
      Some("""SELECT first_day, new_users,
          CAST(SUM(new_users) OVER (ORDER BY first_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_users
        FROM (SELECT first_day, COUNT(*)::BIGINT AS new_users
              FROM (SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS first_day
                    FROM events GROUP BY user_id)
              GROUP BY first_day)
        ORDER BY first_day""")),

    // fixed-width histogram: bucket = min(floor(x / width), nb-1) — one
    // IEEE double division + floor, identical in both engines; a single
    // map-side-combined groupBy (the profile pass you run before picking
    // salting/partitioning strategies at scale)
    Declared("q_histogram",
      (s, d) => orders(s, d)
        .select(least(floor(col("o_totalprice") / 50000), lit(11))
          .cast(LongType).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("bucket"),
      Some("""SELECT LEAST(CAST(floor(o_totalprice / 50000) AS BIGINT), 11) AS bucket,
          COUNT(*)::BIGINT AS cnt
        FROM orders GROUP BY 1 ORDER BY bucket""")),

    // exact second-moment statistics: covar_pop/corr on raw doubles is
    // summation-order-dependent (never hash-reproducible); instead the
    // moments accumulate as fixed-point int64 sums (exact, order-free)
    // and the covariance derives from them through a FIXED double
    // expression tree — int64→double conversion and each IEEE op are
    // correctly rounded, so both engines produce the identical double.
    // Internal sums stay under int64 through ~sf1; beyond that the
    // accumulators move to DECIMAL(38,0) (documented bound, not silent).
    Declared("q_stats_exact",
      (s, d) => lineitem(s, d)
        .select(col("l_returnflag"),
          expr("CAST(round(l_quantity * 100) AS BIGINT)").as("x"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("x").as("sx_s2"), sum("y").as("sy_s2"),
          sum(expr("x * y")).as("sxy_s4"))
        .withColumn("cov_pop_s4",
          col("sxy_s4").cast(DoubleType) / col("n") -
            (col("sx_s2").cast(DoubleType) / col("n")) *
              (col("sy_s2").cast(DoubleType) / col("n")))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, n, sx_s2, sy_s2, sxy_s4,
          CAST(sxy_s4 AS DOUBLE) / n
            - (CAST(sx_s2 AS DOUBLE) / n) * (CAST(sy_s2 AS DOUBLE) / n)
            AS cov_pop_s4
        FROM (SELECT l_returnflag, COUNT(*)::BIGINT AS n,
                CAST(SUM(x) AS BIGINT) AS sx_s2, CAST(SUM(y) AS BIGINT) AS sy_s2,
                CAST(SUM(x * y) AS BIGINT) AS sxy_s4
              FROM (SELECT l_returnflag,
                      CAST(round(l_quantity * 100) AS BIGINT) AS x,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                    FROM lineitem)
              GROUP BY l_returnflag)
        ORDER BY l_returnflag""")),

    // ============ round-3b — SQL-surface aggregate breadth ==============

    // min_by/max_by (argmin/argmax). The ordering key is o_orderkey —
    // UNIQUE, so the selected row is deterministic (argmax over a
    // non-unique key is engine-defined on ties and can't be oracle'd).
    Declared("q_minmax_by",
      (s, d) => orders(s, d)
        .groupBy("o_orderstatus")
        .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("last_pri"),
          min_by(col("o_orderpriority"), col("o_orderkey")).as("first_pri"),
          max_by(col("o_custkey"), col("o_orderkey")).as("last_cust"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
          arg_max(o_orderpriority, o_orderkey) AS last_pri,
          arg_min(o_orderpriority, o_orderkey) AS first_pri,
          arg_max(o_custkey, o_orderkey) AS last_cust,
          COUNT(*)::BIGINT AS cnt
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Bitwise aggregates — AND/OR/XOR folds are commutative+associative,
    // so they partial-aggregate map-side like any sum (one shuffle of
    // 3 longs per group at any scale).
    Declared("q_bit_agg",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(bit_and(col("l_orderkey")).as("key_and"),
          bit_or(col("l_orderkey")).as("key_or"),
          bit_xor(col("l_orderkey")).as("key_xor"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
          CAST(bit_and(l_orderkey) AS BIGINT) AS key_and,
          CAST(bit_or(l_orderkey) AS BIGINT) AS key_or,
          CAST(bit_xor(l_orderkey) AS BIGINT) AS key_xor,
          COUNT(*)::BIGINT AS cnt
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Boolean aggregates (bool_and/bool_or/count_if). Booleans are cast
    // to BIGINT at the output boundary — same rationale as outD: don't
    // hand the comparator a type it hasn't proven round-trip-stable.
    // Thresholds chosen to DIFFERENTIATE groups (audit: >0 / >100 were
    // constant across all five event types — a vacuous green).
    Declared("q_bool_agg",
      (s, d) => events(s, d)
        .groupBy("event_type")
        .agg(bool_and(col("value") > 0.02).cast(LongType).as("all_over_2c"),
          bool_or(col("value") > 400).cast(LongType).as("any_over_400"),
          count_if(col("value") > 50).as("n_over50"),
          count(lit(1)).as("cnt"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
          CAST(bool_and(value > 0.02) AS BIGINT) AS all_over_2c,
          CAST(bool_or(value > 400) AS BIGINT) AS any_over_400,
          CAST(COUNT(*) FILTER (WHERE value > 50) AS BIGINT) AS n_over50,
          COUNT(*)::BIGINT AS cnt
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // Deterministic mode: built-in `mode()` is engine-defined on ties,
    // so the declared plan derives it — value-counts then rank by
    // (count DESC, value ASC). Two shuffles of (group, value) pairs;
    // the second is on already-aggregated rows (tiny at any scale).
    Declared("q_mode",
      (s, d) => {
        val counted = lineitem(s, d)
          .select(col("l_returnflag"),
            round(col("l_quantity") * 100).cast(LongType).as("qi"))
          .groupBy("l_returnflag", "qi").agg(count(lit(1)).as("cnt"))
        counted
          .withColumn("rn", row_number().over(
            Window.partitionBy("l_returnflag")
              .orderBy(col("cnt").desc, col("qi"))))
          .filter(col("rn") === 1)
          .select(col("l_returnflag"), col("qi").as("mode_qty_s2"),
            col("cnt").as("mode_cnt"))
          .orderBy("l_returnflag")
      },
      Some("""WITH c AS (SELECT l_returnflag,
                CAST(round(l_quantity * 100) AS BIGINT) AS qi,
                COUNT(*)::BIGINT AS cnt
              FROM lineitem GROUP BY 1, 2),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                ORDER BY cnt DESC, qi) AS rn FROM c)
        SELECT l_returnflag, qi AS mode_qty_s2, cnt AS mode_cnt
        FROM r WHERE rn = 1 ORDER BY l_returnflag""")),

    // ANSI-safe arithmetic: Spark 4 runs ANSI mode by default, where
    // plain division by zero THROWS mid-pipeline; try_divide returns
    // NULL — the form a 100 TB batch job survives. The division itself
    // is exact-int-to-double (correctly rounded identically in both
    // engines); the oracle replays the null-guard as CASE.
    Declared("q_try_arith",
      (s, d) => lineitem(s, d)
        .select(col("l_orderkey"),
          col("l_linenumber").cast(LongType).as("l_linenumber"),
          expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qi"))
        .withColumn("per_prev_line",
          expr("try_divide(qi, l_linenumber - 1)"))
        .orderBy("l_orderkey", "l_linenumber", "qi"),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
          CAST(round(l_quantity * 100) AS BIGINT) AS qi,
          CASE WHEN l_linenumber = 1 THEN NULL
               ELSE CAST(round(l_quantity * 100) AS BIGINT) / (l_linenumber - 1)
          END AS per_prev_line
        FROM lineitem ORDER BY l_orderkey, l_linenumber, qi""")),

    // Map-typed intermediates (map_from_arrays / map_concat / element_at
    // / map_keys) with the usual scalar-only output boundary; the oracle
    // replays the extracted values directly. (l_orderkey, l_linenumber)
    // is NOT unique in the synthetic lineitem — order by ALL columns.
    Declared("q_map_funcs",
      (s, d) => lineitem(s, d)
        .select(col("l_orderkey"),
          col("l_linenumber").cast(LongType).as("l_linenumber"),
          map_from_arrays(
            array(lit("qty"), lit("price")),
            array(round(col("l_quantity") * 100).cast(LongType),
              round(col("l_extendedprice") * 100).cast(LongType))).as("m"),
          round(col("l_discount") * 100).cast(LongType).as("disc"))
        .withColumn("m2",
          map_concat(col("m"), map(lit("disc"), col("disc"))))
        .select(col("l_orderkey"), col("l_linenumber"),
          element_at(col("m"), "qty").as("qty_s2"),
          element_at(col("m2"), "disc").as("disc_s2"),
          size(col("m2")).cast(LongType).as("m_size"),
          concat_ws(",", map_keys(col("m"))).as("keys"))
        .orderBy("l_orderkey", "l_linenumber", "qty_s2", "disc_s2"),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
          CAST(round(l_quantity * 100) AS BIGINT) AS qty_s2,
          CAST(round(l_discount * 100) AS BIGINT) AS disc_s2,
          CAST(3 AS BIGINT) AS m_size,
          'qty,price' AS keys
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, qty_s2, disc_s2""")),

    // ANSI percentile_disc WITHIN GROUP (the discrete quantile — returns
    // an ACTUAL data value, so it's deterministic where interpolating
    // percentile_cont is double-rounding-hazardous; q_median covers the
    // interpolating variant in fixed point). Values sit on the ×100
    // integer grid; the oracle replays the ANSI definition (smallest
    // value with cume_dist >= p) via a window, because DuckDB's
    // quantile_disc uses a different rank rule.
    Declared("q_percentile_disc",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT l_returnflag,
            CAST(percentile_disc(0.25) WITHIN GROUP
              (ORDER BY CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
              AS p25_s2,
            CAST(percentile_disc(0.5) WITHIN GROUP
              (ORDER BY CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
              AS p50_s2,
            CAST(percentile_disc(0.75) WITHIN GROUP
              (ORDER BY CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
              AS p75_s2
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
      },
      Some("""WITH b AS (SELECT l_returnflag,
                CAST(round(l_quantity * 100) AS BIGINT) AS qi FROM lineitem),
        c AS (SELECT l_returnflag, qi,
                cume_dist() OVER (PARTITION BY l_returnflag ORDER BY qi) AS cd
              FROM b)
        SELECT l_returnflag,
          MIN(CASE WHEN cd >= 0.25 THEN qi END) AS p25_s2,
          MIN(CASE WHEN cd >= 0.5 THEN qi END) AS p50_s2,
          MIN(CASE WHEN cd >= 0.75 THEN qi END) AS p75_s2
        FROM c GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Explicit cartesian product (crossJoin API — Catalyst plans
    // BroadcastNestedLoopJoin with the 5-row side broadcast; the only
    // sane cross-join shape at scale is exactly this tiny×huge form).
    Declared("q_cross_join",
      (s, d) => region(s, d).crossJoin(nation(s, d))
        .select(col("r_name"), col("n_name"),
          (col("r_regionkey") === col("n_regionkey")).cast(LongType)
            .as("is_home"))
        .orderBy("r_name", "n_name"),
      Some("""SELECT r_name, n_name,
          CAST(r_regionkey = n_regionkey AS BIGINT) AS is_home
        FROM region CROSS JOIN nation ORDER BY r_name, n_name""")),

    // Simple linear regression (price ~ quantity) from exact integer
    // moment sums — the q_stats_exact recipe extended to slope/intercept.
    // The int64 sums are converted to DOUBLE before multiplying (n·Σxy
    // overflows int64), with IDENTICAL expression shape in the oracle so
    // both engines execute the same IEEE op sequence.
    Declared("q_regr",
      (s, d) => {
        val moments = lineitem(s, d)
          .select(col("l_returnflag"),
            expr("CAST(round(l_quantity * 100) AS BIGINT)").as("x"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
        val nD = col("n").cast(DoubleType)
        val sxD = col("sx").cast(DoubleType)
        val syD = col("sy").cast(DoubleType)
        val slope = (nD * col("sxy").cast(DoubleType) - sxD * syD) /
          (nD * col("sxx").cast(DoubleType) - sxD * sxD)
        moments
          .withColumn("regr_slope", slope)
          .withColumn("regr_intercept",
            (col("sy").cast(DoubleType) - col("regr_slope") * sxD) / nD)
          .select(col("l_returnflag"), col("n"), col("regr_slope"),
            col("regr_intercept"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (SELECT l_returnflag, COUNT(*)::BIGINT AS n,
                CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                CAST(SUM(x * y) AS BIGINT) AS sxy,
                CAST(SUM(x * x) AS BIGINT) AS sxx
              FROM (SELECT l_returnflag,
                      CAST(round(l_quantity * 100) AS BIGINT) AS x,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                    FROM lineitem)
              GROUP BY l_returnflag),
        s AS (SELECT *,
                (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS regr_slope
              FROM m)
        SELECT l_returnflag, n, regr_slope,
          (CAST(sy AS DOUBLE) - regr_slope * CAST(sx AS DOUBLE))
            / CAST(n AS DOUBLE) AS regr_intercept
        FROM s ORDER BY l_returnflag""")),

    // L4 — corpus-boilerplate share (TextOps.boilerplateShare): trigrams
    // in ≥4 docs are boilerplate (p99 of the df distribution here).
    Declared("q_boilerplate",
      (s, d) => TextOps.boilerplateShare(documents(s, d), 3, 4),
      Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        ${shingleCte("g", "doc_id", "d")},
        hot AS (SELECT sh FROM g GROUP BY sh HAVING COUNT(*) >= 4)
        SELECT g.doc_id, COUNT(*)::BIGINT AS n_grams,
          CAST(COUNT(*) FILTER (WHERE hot.sh IS NOT NULL) AS BIGINT) AS n_boiler,
          CAST(COUNT(*) FILTER (WHERE hot.sh IS NOT NULL) * 1000000 // COUNT(*)
            AS BIGINT) AS boiler_ppm
        FROM g LEFT JOIN hot ON g.sh = hot.sh
        GROUP BY g.doc_id ORDER BY g.doc_id""")),

    // L4 — n-gram novelty curve (TextOps.ngramNovelty): each doc's
    // share of trigrams never seen in any EARLIER doc (doc_id =
    // arrival order) — the marginal-contribution feed-health metric
    // that catches re-served near-dups and boilerplate before
    // tokenization. Two gram-keyed bounded shuffles; bodies never move.
    Declared("q_ngram_novelty",
      (s, d) => TextOps.ngramNovelty(documents(s, d), 3),
      Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        ${shingleCte("g", "doc_id", "d")},
        f AS (SELECT sh, MIN(doc_id) AS first_doc FROM g GROUP BY sh)
        SELECT g.doc_id, COUNT(*)::BIGINT AS n_grams,
          CAST(COUNT(*) FILTER (WHERE f.first_doc = g.doc_id) AS BIGINT)
            AS n_novel,
          CAST(COUNT(*) FILTER (WHERE f.first_doc = g.doc_id) * 1000000
            // COUNT(*) AS BIGINT) AS novel_ppm
        FROM g JOIN f ON g.sh = f.sh
        GROUP BY g.doc_id ORDER BY g.doc_id""")),

    // L4 — feed-level novelty rollup (TextOps.noveltyBySource): each
    // distinct gram credits the source of its globally first doc —
    // the keep-crawling signal pairing with q_dup_rate_by_source's
    // stop-crawling one. Same map-side-combined aggregate pair as
    // q_ngram_novelty plus one vocab⋈docs equi-join for the source.
    Declared("q_novelty_by_source",
      (s, d) => TextOps.noveltyBySource(documents(s, d), 3),
      Some(s"""WITH dd AS (SELECT doc_id, source, string_split(text, ' ') AS w
                FROM documents),
        ${shingleCte("g", "doc_id, source", "dd")},
        occ AS (SELECT source, COUNT(*) AS n_occ FROM g GROUP BY source),
        fd AS (SELECT sh, MIN(doc_id) AS doc_id FROM g GROUP BY sh),
        fs AS (SELECT d2.source, COUNT(*) AS n_first
               FROM fd JOIN (SELECT DISTINCT doc_id, source FROM dd) d2
                 USING (doc_id)
               GROUP BY d2.source)
        SELECT occ.source, n_occ::BIGINT AS n_occ,
          CAST(COALESCE(n_first, 0) AS BIGINT) AS n_first,
          CAST(COALESCE(n_first, 0) * 1000000 // n_occ AS BIGINT)
            AS novel_ppm
        FROM occ LEFT JOIN fs USING (source)
        ORDER BY source""")),

    // L4 — OOV quality signal (TextOps.oovRate): vocab = top-20 words
    // (the synthetic corpus has ~31 distinct words, so a 20-word vocab
    // yields a non-vacuous oov distribution).
    Declared("q_oov_rate",
      (s, d) => TextOps.oovRate(documents(s, d), 20),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                FROM documents),
        v AS (SELECT word FROM (
                SELECT word, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) AS rk
                FROM tok GROUP BY word) WHERE rk <= 20)
        SELECT t.doc_id, COUNT(*)::BIGINT AS n_tokens,
          CAST(COUNT(*) FILTER (WHERE v.word IS NULL) AS BIGINT) AS n_oov,
          CAST(COUNT(*) FILTER (WHERE v.word IS NULL) * 1000000 // COUNT(*)
            AS BIGINT) AS oov_ppm
        FROM tok t LEFT JOIN v ON t.word = v.word
        GROUP BY t.doc_id ORDER BY t.doc_id""")),

    // L4 — sequence packing (TextOps.packSequences): budget 128 tokens,
    // 100-doc shards.
    Declared("q_pack_sequences",
      (s, d) => TextOps.packSequences(documents(s, d), 128L, 100L),
      Some(s"""WITH ${regexTokCte("t", "documents")},
        ${packCumCte("c", "t")}
        SELECT source, shard, cb // 128 AS bin, COUNT(*)::BIGINT AS n_docs,
          CAST(SUM(n) AS BIGINT) AS bin_tokens,
          MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // ================= round-5 additions ================================

    // Runtime bloom-filter join pruning (Relational
    // .bloomPrefilteredSemiJoin): lineitem semi-joined against high-value
    // orders with a Bloom pre-filter ahead of the shuffle. The oracle is
    // the PLAIN semi-join — bloom filters have no false negatives, and
    // the exact verify join removes false positives, so prune+verify must
    // be row-identical to it (which is precisely what the hash compare
    // proves; the xxhash64 bloom internals never need replaying).
    Declared("q_bloom_join",
      (s, d) => Relational.bloomPrefilteredSemiJoin(
          lineitem(s, d),
          orders(s, d).filter(col("o_totalprice") > 450000),
          "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          outD(sum(dec(col("l_extendedprice")))).as("sum_price"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(*)::BIGINT AS cnt,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM lineitem
        WHERE l_orderkey IN
          (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Exact-integer z-score anomaly filter (EventOps.zscoreOutliers,
    // k = 3): |x−μ| > 3σ rewritten as (n·x−S)² > 9(n·Q−S²) — integers
    // end to end (Decimal(38,0) ↔ HUGEINT), so no float μ/σ ulp can
    // diverge between engines. ~190 outlier events at sf0.01
    // (non-vacuous, differentiating across event types).
    Declared("q_zscore_outliers",
      // the engine keeps the normalized ns column; the declared output
      // is µs (`ts div 1000` ≡ DuckDB epoch_us — DuckDB sees the column
      // at µs resolution under either encoding, so raw ns can't match)
      (s, d) => EventOps.zscoreOutliers(events(s, d), 3)
        .select(col("event_type"), expr("ts_ns div 1000").as("ts_us"),
          col("value_c"), col("group_n"))
        .orderBy("event_type", "ts_us", "value_c"),
      Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us,
                CAST(round(value * 100) AS BIGINT) AS value_c FROM events),
        g AS (SELECT event_type, COUNT(*)::BIGINT AS n,
                SUM(CAST(value_c AS HUGEINT)) AS s,
                SUM(CAST(value_c AS HUGEINT) * value_c) AS q
              FROM e GROUP BY event_type)
        SELECT e.event_type, ts_us, value_c, n AS group_n
        FROM e JOIN g USING (event_type)
        WHERE (n * CAST(value_c AS HUGEINT) - s)
                * (n * CAST(value_c AS HUGEINT) - s) > 9 * (n * q - s * s)
        ORDER BY event_type, ts_us, value_c""")),

    // Word co-occurrence within a 4-token forward window (TextOps
    // .cooccurrence), top 100 pairs — the PMI/embedding-training count
    // matrix. Oracle builds the same forward pairs by list slicing.
    Declared("q_cooccur",
      (s, d) => TextOps.cooccurrence(documents(s, d), 4, 100),
      Some("""WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
        p AS (SELECT ws, unnest(range(1, len(ws) + 1)) AS i FROM t),
        pr AS (SELECT ws[i] AS w1, unnest(ws[i+1:i+4]) AS w2 FROM p)
        SELECT w1, w2, COUNT(*)::BIGINT AS cnt FROM pr GROUP BY w1, w2
        ORDER BY cnt DESC, w1, w2 LIMIT 100""")),

    // CCNet-style passage-level dedup (DedupOps.passageDedup, 10-token
    // passages): per-doc total/dup/kept passage counts, first occurrence
    // by (doc_id, passage_idx) kept. 278 of 2949 passages are corpus-wide
    // dups at sf0.01 (non-vacuous). Oracle replays the chunking and plays
    // the keeper rule as a row_number window — identical semantics to the
    // engine's min(struct) argmin.
    Declared("q_passage_dedup",
      (s, d) => DedupOps.passageDedup(documents(s, d), 10),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents),
        c AS (SELECT doc_id, unnest(range(0, (len(ws)-1)//10 + 1)) AS ci, ws
              FROM t),
        k AS (SELECT doc_id, ci,
                md5(array_to_string(ws[ci*10+1:ci*10+10], ' ')) AS h FROM c),
        r AS (SELECT doc_id, ci, CASE WHEN ROW_NUMBER() OVER
                (PARTITION BY h ORDER BY doc_id, ci) > 1 THEN 1 ELSE 0 END
                AS is_dup FROM k)
        SELECT doc_id, COUNT(*)::BIGINT AS n_passages,
          CAST(SUM(is_dup) AS BIGINT) AS n_dup,
          CAST(COUNT(*) - SUM(is_dup) AS BIGINT) AS n_kept
        FROM r GROUP BY doc_id ORDER BY doc_id""")),

    // Temperature-sampled language weights, α = 1/2 (TextOps
    // .languageSamplingWeights): multilingual rebalancing. sqrt is the
    // one power function IEEE 754 requires correctly rounded, so
    // floor(sqrt(n)·10⁶) is bit-identical across engines (unlike
    // pow/ln-based temperatures, which are libm-specific).
    Declared("q_lang_weights",
      (s, d) => TextOps.languageSamplingWeights(documents(s, d)),
      Some("""WITH c AS (SELECT lang, COUNT(*)::BIGINT AS n_docs
                FROM documents GROUP BY lang),
        sc AS (SELECT lang, n_docs,
                 CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT)
                   AS sqrt_s6 FROM c)
        SELECT lang, n_docs, sqrt_s6,
          CAST(sqrt_s6 * 1000000 // SUM(sqrt_s6) OVER () AS BIGINT)
            AS weight_ppm
        FROM sc ORDER BY lang""")),

    // Domain-mixture epoch planner (TextOps.mixtureEpochs): per-source
    // repeat factors to hit a token budget at a declared mixture — the
    // q_lang_weights companion at SOURCE grain, with the budget math in
    // Decimal(38,0) (a 100 TB budget × 10⁶ would wrap a Long). The
    // declared weights are hash-derived per source (md5-bucket 1..9,
    // ppm-normalized) so rates vary and DuckDB replays them exactly;
    // every weighted source is observed, so the unservable-mixture
    // loud-guard stays dormant here (it's spec-pinned instead).
    Declared("q_mixture_epochs",
      (s, d) => {
        val docs = documents(s, d)
        val all = Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        val w = docs.select(col("source")).distinct()
          .withColumn("raw", pmod(DedupOps.md5Hash60(
            concat(lit("w:"), col("source"))), lit(9L)) + lit(1L))
          .withColumn("__tot", sum("raw").over(all))
          .select(col("source"),
            expr("raw * 1000000L div __tot").as("weight_ppm"))
        TextOps.mixtureEpochs(docs, w, budgetTokens = 250000L)
      },
      Some(s"""WITH tok AS (SELECT source,
                $regexTokens AS n_tok
              FROM documents),
        sup AS (SELECT source, SUM(n_tok)::BIGINT AS tokens_have
                FROM tok GROUP BY source),
        w0 AS (SELECT source,
                 ('0x' || substr(md5('w:' || source), 1, 15))::BIGINT % 9 + 1
                   AS raw
               FROM (SELECT DISTINCT source FROM documents)),
        w AS (SELECT source,
                CAST(raw * 1000000 // SUM(raw) OVER () AS BIGINT)
                  AS weight_ppm FROM w0),
        t AS (SELECT s.source, s.tokens_have, w.weight_ppm,
                CAST(250000 * w.weight_ppm // 1000000 AS BIGINT)
                  AS target_tokens
              FROM sup s JOIN w USING (source))
        SELECT source, tokens_have, weight_ppm, target_tokens,
          CAST(target_tokens * 1000000 // tokens_have AS BIGINT)
            AS epochs_ppm
        FROM t ORDER BY source""")),

    // First-order Markov transition matrix of the event stream
    // (EventOps.transitionCounts): per-user lead window on the
    // (ts_us, event_id) total order, then a |types|²-key count.
    Declared("q_transitions",
      (s, d) => EventOps.transitionCounts(events(s, d)),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                event_type FROM events),
        t AS (SELECT event_type AS from_type,
                LEAD(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts_us, event_id) AS to_type FROM e)
        SELECT from_type, to_type, COUNT(*)::BIGINT AS cnt FROM t
        WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type ORDER BY from_type, to_type""")),

    // Per-user TIME-weighted mean value (EventOps.timeWeightedValue):
    // centi-scaled values × µs interval lengths, Decimal(38,0) ↔ HUGEINT
    // weighted sums, integral-division quotient — no float anywhere.
    Declared("q_time_weighted",
      (s, d) => EventOps.timeWeightedValue(events(s, d)),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                CAST(round(value * 100) AS BIGINT) AS value_c FROM events),
        iv AS (SELECT user_id, value_c,
                 LEAD(ts_us) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) - ts_us AS dt_us FROM e),
        a AS (SELECT user_id, COUNT(*)::BIGINT AS n_intervals,
                SUM(dt_us)::BIGINT AS sum_dt_us,
                SUM(CAST(value_c AS HUGEINT) * dt_us) AS num
              FROM iv WHERE dt_us IS NOT NULL GROUP BY user_id)
        SELECT user_id, n_intervals, sum_dt_us,
          CAST(num // sum_dt_us AS BIGINT) AS twavg_c
        FROM a WHERE sum_dt_us > 0 ORDER BY user_id""")),

    // 2-D Pareto frontier / skyline (Relational.paretoFrontier) over the
    // per-day max order price: the days not dominated by any earlier day
    // with an equal-or-higher price. Sorted running-max pass in the
    // engine; the oracle states dominance declaratively (NOT EXISTS) —
    // two independent formulations that must agree row-for-row.
    Declared("q_pareto_frontier",
      (s, d) => {
        val daily = orders(s, d)
          .groupBy(col("o_orderdate").cast(DateType).as("order_date"))
          .agg(max(round(col("o_totalprice") * 100).cast("long"))
            .as("max_price_c"))
        Relational.paretoFrontier(daily, "order_date", "max_price_c")
          .orderBy("order_date")
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS order_date,
                MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_price_c
              FROM orders GROUP BY 1)
        SELECT order_date, max_price_c FROM daily d
        WHERE NOT EXISTS (SELECT 1 FROM daily e
          WHERE e.order_date < d.order_date
            AND e.max_price_c >= d.max_price_c)
        ORDER BY order_date""")),

    // Vocabulary coverage curve (TextOps.vocabCoverage): ranks needed to
    // cover 50% / 90% / 99% of token occurrences. The global sort is a
    // TakeOrderedAndProject over the aggregated vocab (plan-asserted),
    // bounded by maxRank; cumulative products in Decimal(38,0) ↔ HUGEINT.
    Declared("q_vocab_coverage",
      (s, d) => TextOps.vocabCoverage(documents(s, d),
        Seq(500000L, 900000L, 990000L), 100000),
      Some("""WITH wc AS (SELECT word, COUNT(*)::BIGINT AS cnt
                FROM (SELECT unnest(string_split(text, ' ')) AS word
                      FROM documents) GROUP BY word),
        tot AS (SELECT SUM(cnt)::BIGINT AS total_tokens FROM wc),
        top_w AS (SELECT word, cnt FROM wc ORDER BY cnt DESC, word
                  LIMIT 100000),
        r AS (SELECT CAST(ROW_NUMBER() OVER
                       (ORDER BY cnt DESC, word) AS BIGINT) AS rank,
                CAST(SUM(cnt) OVER (ORDER BY cnt DESC, word
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_cnt
              FROM top_w),
        th AS (SELECT unnest([500000, 900000, 990000]::BIGINT[])
                 AS threshold_ppm)
        SELECT th.threshold_ppm, MIN(r.rank) AS rank_needed,
          CAST(arg_min(r.cum_cnt, r.rank) AS BIGINT) AS cum_cnt,
          MIN(tot.total_tokens) AS total_tokens
        FROM th, r, tot
        WHERE CAST(r.cum_cnt AS HUGEINT) * 1000000 >=
              CAST(th.threshold_ppm AS HUGEINT) * tot.total_tokens
        GROUP BY th.threshold_ppm ORDER BY th.threshold_ppm""")),

    // Directed word-set containment ≥90% (DedupOps.containmentPairs) on
    // the %10 slice — the asymmetric quote/subset relation Jaccard
    // misses. One inverted-index pair count, both directions derived.
    Declared("q_containment",
      (s, d) => DedupOps.containmentPairs(
        documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0), 90),
      Some(containmentOracle)),

    // The SAME containment relation through the bounded 100 TB plan
    // (DedupOps.containmentPairsPrefix): PPJoin prefix filtering —
    // candidates from each doc's (1−t)·n+1 globally-RAREST tokens
    // (pigeonhole-exact recall), codegen'd merge-walk verify. Shares
    // q_containment's oracle verbatim: two independent engine plans and
    // one declarative DuckDB formulation must agree row-for-row.
    Declared("q_containment_prefix",
      (s, d) => DedupOps.containmentPairsPrefix(
        documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0), 90),
      Some(containmentOracle)),

    // Incremental dedup (DedupOps.dedupAgainstCorpus): flag batch docs
    // (%10 slice) sharing any MinHash/LSH band with the remaining 90%
    // corpus — the new-crawl-vs-kept-corpus shape. Portable md5 seeds so
    // the oracle replays the exact signature minima; band equality via
    // the sig tuple where the engine compares xxhash64 (same 2⁻⁶⁴
    // collision caveat as q_minhash_lsh).
    // 12 hashes × 6-row bands (r6; was 4 × 3-row bands): at sf0.01 the
    // loose bands matched EVERY batch doc — a constant matched_corpus=1
    // column the vacuity audit rightly flagged (the unmatched branch was
    // never oracle-exercised). Two strict bands yield 47 matched / 3
    // novel on the pinned corpus — both branches live.
    Declared("q_dedup_incremental",
      (s, d) => DedupOps.dedupAgainstCorpus(
        documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0),
        documents(s, d).filter(pmod(col("doc_id"), lit(10)) =!= 0),
        12, 6, seedHash = DedupOps.Md5SeedHash60),
      Some("""WITH batch AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 10 = 0),
        corpus AS (SELECT doc_id, text FROM documents
                   WHERE doc_id % 10 <> 0),
        bw AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' '))
                 AS word FROM batch),
        cw AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' '))
                 AS word FROM corpus),
        bh AS (SELECT doc_id, s.i AS seed,
                 MIN(('0x' || substr(md5(CAST(s.i AS VARCHAR) || ':' || word), 1, 15))::BIGINT) AS mh
               FROM bw CROSS JOIN range(12) s(i) GROUP BY doc_id, s.i),
        ch AS (SELECT doc_id, s.i AS seed,
                 MIN(('0x' || substr(md5(CAST(s.i AS VARCHAR) || ':' || word), 1, 15))::BIGINT) AS mh
               FROM cw CROSS JOIN range(12) s(i) GROUP BY doc_id, s.i),
        bb AS (SELECT doc_id, seed // 6 AS band_idx,
                 string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS band_sig
               FROM bh GROUP BY doc_id, seed // 6),
        cb AS (SELECT DISTINCT seed // 6 AS band_idx,
                 string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS band_sig
               FROM ch GROUP BY doc_id, seed // 6),
        m AS (SELECT DISTINCT bb.doc_id FROM bb
              JOIN cb ON bb.band_idx = cb.band_idx
                     AND bb.band_sig = cb.band_sig)
        SELECT batch.doc_id,
          CASE WHEN m.doc_id IS NULL THEN 0 ELSE 1 END::BIGINT
            AS matched_corpus
        FROM batch LEFT JOIN m USING (doc_id) ORDER BY doc_id""")),

    // Count-min sketch (SketchOps): depth-2 × width-16 counter table over
    // all word occurrences, point-queried for every distinct word and
    // joined to the exact counts. Portable md5Hash60 cells, so the oracle
    // replays the EXACT counter table — a fully hash-checked sketch
    // (unlike HLL/t-digest, whose internals are engine-specific). The
    // tiny width is deliberate: 22 of the 31 vocab words over-estimate at
    // sf0.01, so the est ≥ true sketch regime is genuinely exercised, not
    // a collision-free echo of the truth.
    Declared("q_cms_counts",
      (s, d) => {
        val tok = documents(s, d)
          .select(explode(TextOps.words(col("text"))).as("word"))
        val truth = tok.groupBy("word").agg(count(lit(1)).as("true_cnt"))
        SketchOps.cmsLookup(SketchOps.cmsBuild(tok, "word", 2, 16),
            truth, "word", 2, 16)
          .select(col("word"), col("est_cnt"), col("true_cnt"))
          .orderBy("word")
      },
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word
                FROM documents),
        wc AS (SELECT word, COUNT(*)::BIGINT AS true_cnt FROM tok
               GROUP BY word),
        slots AS (SELECT d.i AS d,
                    ('0x' || substr(md5(CAST(d.i AS VARCHAR) || ':' || word), 1, 15))::BIGINT % 16 AS slot,
                    COUNT(*)::BIGINT AS cnt
                  FROM tok CROSS JOIN range(2) d(i) GROUP BY 1, 2),
        est AS (SELECT w.word, MIN(s.cnt)::BIGINT AS est_cnt
                FROM wc w CROSS JOIN range(2) d(i)
                JOIN slots s ON s.d = d.i
                 AND s.slot = ('0x' || substr(md5(CAST(d.i AS VARCHAR) || ':' || w.word), 1, 15))::BIGINT % 16
                GROUP BY w.word)
        SELECT w.word, e.est_cnt, w.true_cnt
        FROM wc w JOIN est e USING (word) ORDER BY word""")),

    // HyperLogLog register table (SketchOps.hllRegisters) over all word
    // occurrences, m = 64: the verifiable portable twin of
    // approx_count_distinct's rows-only sketch — the oracle replays the
    // exact registers via the shared bin()/ltrim rho formula (both
    // engines render BIGINT binary without leading zeros). No distinct
    // pass: max-rho is duplicate-idempotent, so the plan is one map pass
    // + a 64-key rollup.
    Declared("q_hll_registers",
      (s, d) => SketchOps.hllRegisters(
        documents(s, d).select(explode(TextOps.words(col("text"))).as("word")),
        "word", 64),
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word
                FROM documents),
        h AS (SELECT ('0x' || substr(md5(word), 1, 15))::BIGINT AS h
              FROM tok),
        r AS (SELECT h % 64 AS register,
                55 - length(ltrim(bin(h // 64), '0')) AS rho FROM h)
        SELECT CAST(register AS BIGINT) AS register,
               CAST(MAX(rho) AS BIGINT) AS max_rho
        FROM r GROUP BY register ORDER BY register""")),

    // HLL cardinality ESTIMATE (SketchOps.hllEstimate) computed from the
    // oracle-verified register table above — closes the last sketch
    // whose OUTPUT (not just state) was unverified (VERDICT r6 #3).
    // Bit-determinism: integer-scaled harmonic sum (exact int64),
    // exact-double numerator (alpha scaled by powers of two only), one
    // correctly-rounded division, and a PRECOMPUTED ln lookup table for
    // the linear-counting branch — the oracle embeds the identical
    // double literals via Double.toString round-trip, so est hash-
    // matches bit-for-bit. Production estimator remains
    // approx_count_distinct; Round7OpsSpec cross-checks est against the
    // exact distinct within documented HLL error (1.04/√m).
    Declared("q_hll_estimate",
      (s, d) => SketchOps.hllEstimate(
        SketchOps.hllRegisters(
          documents(s, d).select(explode(TextOps.words(col("text"))).as("word")),
          "word", 64),
        64),
      Some(hllEstimateOracle)),

    // Per-node triangle counts (DedupOps.triangleCounts) over the exact
    // 80%-Jaccard near-dup graph on the %10 slice — near-dup clique
    // density. Engine: degree-oriented wedge closure (three bounded
    // shuffles, hub-safe); oracle: the naive id-ordered three-way join —
    // two independent counting strategies that must agree per node.
    Declared("q_triangles",
      (s, d) => DedupOps.triangleCounts(
        DedupOps.jaccardPairs(
          documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0), 80)
          .select("a_id", "b_id")),
      Some(s"""WITH docs AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 10 = 0),
        ${jaccardPairCtes("docs", 80)},
        tri AS (SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
                FROM p e1 JOIN p e2 ON e1.b_id = e2.a_id
                JOIN p e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id)
        SELECT doc_id, COUNT(*)::BIGINT AS n_triangles
        FROM (SELECT x AS doc_id FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri)
        GROUP BY doc_id ORDER BY doc_id""")),

    // Sparse TF-IDF cosine near-dup pairs (DedupOps.tfidfCosinePairs) on
    // the %10 slice at cos ≥ 80% — 41 of 1225 sharing-a-word candidate
    // pairs qualify at sf0.01 (both branches live). Integer tf·(10⁶ div
    // df) weights; threshold replayed with identical IEEE double products
    // per the q_neardup_cosine precedent.
    Declared("q_tfidf_cosine",
      (s, d) => DedupOps.tfidfCosinePairs(
        documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0), 80),
      Some(tfidfCosineOracle)),

    // Temperature-rebalanced corpus sampling: the α=½ language weights
    // (q_lang_weights) drive a COMPUTED-rate deterministic sample
    // (Relational.stratifiedSampleByRates) — the end-to-end multilingual
    // rebalancing step, where the per-stratum rates are data produced by
    // an upstream aggregation, not constants. Membership stays the pure
    // md5(doc_id) bucket function (partition/retry invariant).
    Declared("q_temperature_sample",
      (s, d) => {
        val docs = documents(s, d)
        Relational.stratifiedSampleByRates(docs, "lang", "doc_id",
            TextOps.languageSamplingWeights(docs)
              .select(col("lang"), col("weight_ppm")), "weight_ppm")
          .select(col("doc_id"), col("lang"), col("bucket_ppm"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT lang, COUNT(*)::BIGINT AS n_docs
                FROM documents GROUP BY lang),
        sc AS (SELECT lang,
                 CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT)
                   AS sqrt_s6 FROM c),
        rates AS (SELECT lang,
                    CAST(sqrt_s6 * 1000000 // SUM(sqrt_s6) OVER () AS BIGINT)
                      AS weight_ppm FROM sc)
        SELECT d.doc_id, d.lang, d.b AS bucket_ppm
        FROM (SELECT doc_id, lang,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 1000000 AS b
              FROM documents) d
        JOIN rates USING (lang)
        WHERE d.b < rates.weight_ppm
        ORDER BY d.doc_id""")),

    // Snapshot-to-snapshot distribution drift (Relational
    // .distributionDrift): language mix of the even-doc_id half vs the
    // odd half — the corpus-monitoring diff a continuous-ingest pipeline
    // runs between days. Integer ppm shares + absolute deltas (TVD
    // metric needs no logarithms, unlike χ²/KL — cross-engine exact).
    Declared("q_dist_drift",
      (s, d) => Relational.distributionDrift(
        documents(s, d).filter(pmod(col("doc_id"), lit(2)) === 0),
        documents(s, d).filter(pmod(col("doc_id"), lit(2)) === 1),
        "lang"),
      Some("""WITH a AS (SELECT lang FROM documents WHERE doc_id % 2 = 0),
        b AS (SELECT lang FROM documents WHERE doc_id % 2 = 1),
        ca AS (SELECT lang, COUNT(*)::BIGINT AS n_a FROM a GROUP BY lang),
        cb AS (SELECT lang, COUNT(*)::BIGINT AS n_b FROM b GROUP BY lang),
        ta AS (SELECT COUNT(*)::BIGINT AS t FROM a),
        tb AS (SELECT COUNT(*)::BIGINT AS t FROM b),
        j AS (SELECT COALESCE(ca.lang, cb.lang) AS lang,
                COALESCE(n_a, 0)::BIGINT AS n_a,
                COALESCE(n_b, 0)::BIGINT AS n_b
              FROM ca FULL OUTER JOIN cb ON ca.lang = cb.lang)
        SELECT j.lang, j.n_a, j.n_b,
          CAST(j.n_a * 1000000 // ta.t AS BIGINT) AS share_a_ppm,
          CAST(j.n_b * 1000000 // tb.t AS BIGINT) AS share_b_ppm,
          CAST(abs(j.n_a * 1000000 // ta.t - j.n_b * 1000000 // tb.t)
            AS BIGINT) AS delta_ppm
        FROM j, ta, tb ORDER BY j.lang""")),

    // The SAME tf-idf cosine relation through the bounded 100 TB plan
    // (DedupOps.tfidfCosinePairsPrefix): AllPairs cosine prefix
    // filtering — every qualifying pair must share a feature in the
    // smaller-id side's rarest-first prefix (suffix-norm bound, exact
    // recall) — verified by the codegen'd sorted_kw_dot merge walk.
    // Shares q_tfidf_cosine's oracle verbatim: two independent engine
    // plans, one declarative formulation.
    Declared("q_tfidf_cosine_prefix",
      (s, d) => DedupOps.tfidfCosinePairsPrefix(
        documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0), 80),
      Some(tfidfCosineOracle)),

    // TPC-H Q18 shape (large-volume customers) via spark.sql: the
    // IN-(aggregated subquery WITH HAVING) form — Catalyst decorrelates
    // it to a semi-join against the grouped frame, the one SQL-front-door
    // shape (q3/exists/not-in/scalar) not yet covered. Quantities ride
    // the round(x·100) integer-cents grid (quantity sums in BIGINT are
    // order-free; a DOUBLE→BIGINT cast would round differently across
    // engines). LIMIT with a unique (price_c DESC, o_orderkey) total
    // order → TakeOrderedAndProject.
    Declared("q_sql_q18",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT c_name, o_custkey, o_orderkey,
            CAST(o_orderdate AS DATE) AS o_date,
            CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
            SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS sum_qty_c
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 20000)
          GROUP BY c_name, o_custkey, o_orderkey,
            CAST(o_orderdate AS DATE),
            CAST(round(o_totalprice * 100) AS BIGINT)
          ORDER BY price_c DESC, o_orderkey
          LIMIT 100""")
      },
      Some("""SELECT c_name, o_custkey, o_orderkey,
            CAST(o_orderdate AS DATE) AS o_date,
            CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
            CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
              AS sum_qty_c
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey
          HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 20000)
        GROUP BY c_name, o_custkey, o_orderkey,
          CAST(o_orderdate AS DATE),
          CAST(round(o_totalprice * 100) AS BIGINT)
        ORDER BY price_c DESC, o_orderkey
        LIMIT 100""")),

    // TPC-H Q17 shape (small-quantity-order revenue): a CORRELATED
    // SCALAR subquery — per-part "quantity below 0.2× that part's
    // average" — which Catalyst decorrelates into a per-part aggregate
    // joined back (never a per-row re-scan). Quantities ride the
    // integer-cents grid; the per-part average is the ONE scalar
    // `CAST(sum AS DOUBLE)/count` — exact int64 inputs < 2^53 and a
    // single correctly-rounded IEEE division, so both engines compare
    // against the bit-identical threshold.
    Declared("q_sql_q17",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT p_brand,
            CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS revenue_c,
            COUNT(*) AS n_lines
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE p_size <= 5
            AND CAST(CAST(round(l_quantity * 100) AS BIGINT) * 5
                  AS DOUBLE) < (
              SELECT CAST(SUM(CAST(round(l2.l_quantity * 100) AS BIGINT))
                       AS DOUBLE) / COUNT(*)
              FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
          GROUP BY p_brand
          ORDER BY p_brand""")
      },
      Some("""SELECT p_brand,
          CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS revenue_c,
          COUNT(*)::BIGINT AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_size <= 5
          AND CAST(CAST(round(l_quantity * 100) AS BIGINT) * 5
                AS DOUBLE) < (
            SELECT CAST(SUM(CAST(round(l2.l_quantity * 100) AS BIGINT))
                     AS DOUBLE) / COUNT(*)
            FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        GROUP BY p_brand
        ORDER BY p_brand""")),

    // TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    // this schema's columns: returnflag 'R' plays the late-delivery
    // marker. The decorrelation double-header — a correlated EXISTS
    // (another supplier touched the order) AND a correlated NOT EXISTS
    // (no OTHER supplier was late) over the same relation — planned as
    // a semi-join plus an anti-join against lineitem, never nested
    // re-scans. 4-table join with nation in the output.
    Declared("q_sql_q21",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT s_name, n_name, COUNT(*) AS numwait
          FROM supplier
          JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
          JOIN orders ON o_orderkey = l1.l_orderkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
            AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_returnflag = 'R')
          GROUP BY s_name, n_name
          ORDER BY numwait DESC, s_name""")
      },
      Some("""SELECT s_name, n_name, COUNT(*)::BIGINT AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
        GROUP BY s_name, n_name
        ORDER BY numwait DESC, s_name""")),

    // TPC-H Q7 shape (volume shipping between two nations): the
    // double-aliased dimension — nation joined TWICE (supplier's and
    // customer's) with the symmetric OR pair predicate. Both nation
    // sides broadcast; the 6-table join reduces to lineitem⋈orders⋈
    // customer keyed shuffles plus three broadcasts. Revenue rides the
    // scale-8 integer grid (cents × ppm-discount), year extracted from
    // l_shipdate and cast to INT on both engines.
    Declared("q_sql_q7",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
            CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
            SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (1000000L - CAST(round(l_discount * 1000000) AS BIGINT)))
              AS revenue_s8,
            COUNT(*) AS n_lines
          FROM supplier
          JOIN lineitem ON s_suppkey = l_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
          GROUP BY n1.n_name, n2.n_name,
            CAST(EXTRACT(YEAR FROM l_shipdate) AS INT)
          ORDER BY supp_nation, cust_nation, l_year""")
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
          CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (1000000 - CAST(round(l_discount * 1000000) AS BIGINT)))
            AS BIGINT) AS revenue_s8,
          COUNT(*)::BIGINT AS n_lines
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY n1.n_name, n2.n_name,
          CAST(EXTRACT(YEAR FROM l_shipdate) AS INT)
        ORDER BY supp_nation, cust_nation, l_year""")),

    // TPC-H Q12 shape (shipping-mode priority split), adapted to this
    // schema: no l_shipmode/l_commitdate columns exist, so l_linestatus
    // plays the mode and "shipped ≥ 60 days after order" plays the
    // late-receipt predicate (interval arithmetic on both engines).
    // The signature is the conditional CASE split inside one aggregate
    // pass — ONE scan, map-side partial aggregation, never two scans
    // for two counts.
    Declared("q_sql_q12",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT l_linestatus,
            SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS high_line_count,
            SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS low_line_count
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
          GROUP BY l_linestatus
          ORDER BY l_linestatus""")
      },
      Some("""SELECT l_linestatus,
          CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                   THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
        GROUP BY l_linestatus
        ORDER BY l_linestatus""")),

    // TPC-H Q13 shape (customer order-count distribution): the
    // OUTER-join-with-ON-filter signature — the priority predicate
    // lives in the LEFT JOIN's ON clause (filtering WHERE would turn
    // the outer join inner and silently drop zero-order customers),
    // then a second aggregation over the first's output. Two keyed
    // shuffles: custkey, then c_count.
    Declared("q_sql_q13",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT c_count, COUNT(*) AS custdist
          FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
                FROM customer LEFT JOIN orders
                  ON c_custkey = o_custkey
                 AND o_orderpriority <> '1-URGENT'
                GROUP BY c_custkey) c_orders
          GROUP BY c_count
          ORDER BY custdist DESC, c_count DESC""")
      },
      Some("""SELECT c_count, COUNT(*)::BIGINT AS custdist
        FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders
                ON c_custkey = o_custkey
               AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey) c_orders
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""")),

    // TPC-H Q22 shape (global sales opportunity), adapted: c_nationkey
    // plays the phone-prefix country code (no c_phone column), and the
    // anti-join is "no orders since 2000-01-01" (every customer has
    // SOME order in this synthetic data — the classic Q22 NOT EXISTS
    // would be vacuously empty, which the vacuity audit rejects).
    // Signature preserved: an UNCORRELATED scalar subquery (the
    // positive-balance average, computed once and broadcast) AND a
    // correlated NOT EXISTS decorrelated to an anti-join against the
    // date-filtered orders. The average is the one
    // CAST(sum AS DOUBLE)/count division — bit-identical per the Q17
    // discipline; balances ride the cents grid.
    Declared("q_sql_q22",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT c_nationkey AS cntry, COUNT(*) AS numcust,
            SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS totacctbal_c
          FROM customer c
          WHERE CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DOUBLE) > (
              SELECT CAST(SUM(CAST(round(c2.c_acctbal * 100) AS BIGINT))
                       AS DOUBLE) / COUNT(*)
              FROM customer c2 WHERE c2.c_acctbal > 0.0)
            AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
          GROUP BY c_nationkey
          ORDER BY cntry""")
      },
      Some("""SELECT c_nationkey AS cntry, COUNT(*)::BIGINT AS numcust,
          CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
            AS totacctbal_c
        FROM customer c
        WHERE CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DOUBLE) > (
            SELECT CAST(SUM(CAST(round(c2.c_acctbal * 100) AS BIGINT))
                     AS DOUBLE) / COUNT(*)
            FROM customer c2 WHERE c2.c_acctbal > 0.0)
          AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY c_nationkey
        ORDER BY cntry""")),

    // TPC-H Q8 shape (national market share): NATION_3's supplier share
    // of AMERICA-region PROMO volume by order year — the
    // ratio-of-conditional-aggregates signature computed in ONE pass
    // (never two scans, never a self-join of two aggregates). The
    // 8-table star broadcasts every dimension; only lineitem⋈orders
    // shuffles. Shares ride Q14's scale-4 grid (cents × percent —
    // scale-8 × the 10⁶ ppm multiplier would overflow int64) with ppm
    // truncating division, exact on both engines.
    Declared("q_sql_q8",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
            SUM(CASE WHEN n2.n_name = 'NATION_3'
                THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100L - CAST(round(l_discount * 100) AS BIGINT))
                ELSE 0L END) * 1000000L
              div SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100L - CAST(round(l_discount * 100) AS BIGINT)))
              AS share_ppm,
            COUNT(*) AS n_lines
          FROM lineitem
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          JOIN part ON p_partkey = l_partkey
          WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
          GROUP BY CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)
          ORDER BY o_year""")
      },
      Some("""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
          CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
              THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))
              ELSE 0 END) * 1000000
            // SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS share_ppm,
          COUNT(*)::BIGINT AS n_lines
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        JOIN part ON p_partkey = l_partkey
        WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
        GROUP BY CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)
        ORDER BY o_year""")),

    // TPC-H Q15 shape (top supplier): quarterly revenue per supplier
    // (the CTE standing in for Q15's view), then the suppliers hitting
    // the global maximum via an uncorrelated scalar MAX subquery — the
    // aggregate-of-aggregate + argmax-by-rescan signature. The revenue
    // CTE is referenced TWICE (join side and MAX side); Catalyst plans
    // the scalar side as a one-row subquery over the same aggregate,
    // evaluated once and broadcast into the filter, never per-row.
    // Exact scale-8 integer revenue makes "equal to the max" a safe
    // integer comparison — the floating-point argmax-equality trap
    // (ties lost to rounding) cannot occur.
    Declared("q_sql_q15",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""WITH rev AS (
            SELECT l_suppkey AS supplier_no,
              SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (1000000L - CAST(round(l_discount * 1000000) AS BIGINT)))
                AS total_rev_s8
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey)
          SELECT s_suppkey, s_name, total_rev_s8
          FROM supplier JOIN rev ON s_suppkey = supplier_no
          WHERE total_rev_s8 = (SELECT MAX(total_rev_s8) FROM rev)
          ORDER BY s_suppkey""")
      },
      Some("""WITH rev AS (
          SELECT l_suppkey AS supplier_no,
            CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (1000000 - CAST(round(l_discount * 1000000) AS BIGINT)))
              AS BIGINT) AS total_rev_s8
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_rev_s8
        FROM supplier JOIN rev ON s_suppkey = supplier_no
        WHERE total_rev_s8 = (SELECT MAX(total_rev_s8) FROM rev)
        ORDER BY s_suppkey""")),

    // Winsorization at exact discrete [P05, P95] per event_type
    // (EventOps.winsorize): cap-don't-drop robust cleaning. The bounds
    // come from a cume_dist window (the ANSI percentile_disc definition,
    // spillable external sort — not Spark's memory-buffering exact
    // percentile aggregate) and broadcast back over a single scan.
    Declared("q_winsorize",
      (s, d) => EventOps.winsorize(Tables.events(s, d), 5, 95),
      Some("""WITH b AS (SELECT event_id, event_type,
                CAST(round(value * 100) AS BIGINT) AS value_c FROM events),
        c AS (SELECT event_type, value_c,
                cume_dist() OVER (PARTITION BY event_type
                                  ORDER BY value_c) AS cd FROM b),
        bounds AS (SELECT event_type,
                MIN(CASE WHEN cd >= 0.05 THEN value_c END) AS lo_c,
                MIN(CASE WHEN cd >= 0.95 THEN value_c END) AS hi_c
              FROM c GROUP BY event_type)
        SELECT b.event_id, b.event_type, b.value_c, bounds.lo_c,
          bounds.hi_c,
          GREATEST(bounds.lo_c, LEAST(bounds.hi_c, b.value_c)) AS clamped_c
        FROM b JOIN bounds USING (event_type)
        ORDER BY event_id""")),

    // Median-absolute-deviation outliers (EventOps.madOutliers) at
    // k = 5: the robust sibling of q_zscore_outliers — a spike inflates
    // σ and hides outliers; it barely moves the median. Median and MAD
    // are ANSI-discrete percentiles (actual cents values); the flag
    // comparison is pure int64.
    Declared("q_mad_outliers",
      (s, d) => EventOps.madOutliers(Tables.events(s, d), 5),
      Some("""WITH b AS (SELECT event_id, event_type,
                CAST(round(value * 100) AS BIGINT) AS value_c FROM events),
        c AS (SELECT event_type, value_c,
                cume_dist() OVER (PARTITION BY event_type
                                  ORDER BY value_c) AS cd FROM b),
        med AS (SELECT event_type,
                MIN(CASE WHEN cd >= 0.5 THEN value_c END) AS med_c
              FROM c GROUP BY event_type),
        dev AS (SELECT b.event_id, b.event_type, b.value_c, med.med_c,
                abs(b.value_c - med.med_c) AS dev_c
              FROM b JOIN med USING (event_type)),
        c2 AS (SELECT event_type, dev_c,
                cume_dist() OVER (PARTITION BY event_type
                                  ORDER BY dev_c) AS cd FROM dev),
        mad AS (SELECT event_type,
                MIN(CASE WHEN cd >= 0.5 THEN dev_c END) AS mad_c
              FROM c2 GROUP BY event_type)
        SELECT dev.event_id, dev.event_type, dev.value_c, dev.med_c,
          mad.mad_c, dev.dev_c
        FROM dev JOIN mad USING (event_type)
        WHERE dev.dev_c > 5 * mad.mad_c
        ORDER BY event_id""")),

    // Fixed-round k-core peeling (DedupOps.kCoreFixedRounds, k=2, 3
    // rounds) over the SAME %10-slice jaccard-80 similarity graph as
    // q_triangles/q_pagerank: vertices surviving 3 peels with their
    // residual degree. The oracle replays each round as a nested CTE —
    // statically known plan depth in both engines.
    Declared("q_kcore",
      (s, d) => DedupOps.kCoreFixedRounds(
        DedupOps.jaccardPairs(
          documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0), 80)
          .select("a_id", "b_id"),
        k = 2, rounds = 3),
      Some(kCoreOracle(k = 2, rounds = 3))),

    // FUZZY decontamination (DedupOps.jaccardAgainstCorpus): corpus docs
    // whose word-set Jaccard vs any %100-slice benchmark doc ≥ 70% —
    // catches the paraphrased/lightly-edited eval leakage the verbatim
    // n-gram q_decontaminate misses. Cross-side inverted-index join,
    // benchmark side broadcast.
    Declared("q_decontaminate_fuzzy",
      (s, d) => DedupOps.jaccardAgainstCorpus(
        documents(s, d).filter(pmod(col("doc_id"), lit(100)) =!= 0),
        documents(s, d).filter(pmod(col("doc_id"), lit(100)) === 0),
        minJaccardPct = 70),
      Some("""WITH cw AS (SELECT DISTINCT doc_id,
                unnest(string_split(text, ' ')) AS word
              FROM documents WHERE doc_id % 100 <> 0),
        bw AS (SELECT DISTINCT doc_id AS bench_id,
                unnest(string_split(text, ' ')) AS word
              FROM documents WHERE doc_id % 100 = 0),
        cs AS (SELECT doc_id, COUNT(*)::BIGINT AS c_size FROM cw
               GROUP BY doc_id),
        bs AS (SELECT bench_id, COUNT(*)::BIGINT AS b_size FROM bw
               GROUP BY bench_id),
        cm AS (SELECT cw.doc_id, bw.bench_id, COUNT(*)::BIGINT AS common
               FROM cw JOIN bw USING (word)
               GROUP BY cw.doc_id, bw.bench_id)
        SELECT cm.doc_id, cm.bench_id, cm.common,
          cs.c_size + bs.b_size - cm.common AS union_size,
          cm.common * 1000000 // (cs.c_size + bs.b_size - cm.common)
            AS jaccard_ppm
        FROM cm JOIN cs USING (doc_id) JOIN bs USING (bench_id)
        WHERE cm.common * 100 >= (cs.c_size + bs.b_size - cm.common) * 70
        ORDER BY doc_id, bench_id""")),

    // ORACLE-CHECKED semantic dedup (SimilarityOps.semDedupBuckets):
    // sign-LSH buckets from the corpus's own vectors 0..3 as hyperplanes
    // — every dot is an exact int64 sum after 1e7 fixed-point rounding,
    // so the bucket partition (and therefore the whole bucketed-pair
    // relation) hash-matches across engines, unlike the float-plane
    // rows-only ANN paths. Within-bucket pairs at cos ≥ 30% via the
    // established square-free integer cosine test.
    Declared("q_semdedup_buckets",
      (s, d) => SimilarityOps.semDedupBuckets(
        embeddings(s, d), probeIds = semDedupProbeIds, minCosPct = 30),
      // Oracle GENERATED from the same probeIds the engine receives
      // (ADVICE r7): the engine packs bucket bit i by the POSITION of
      // p_id in probeIds, so the SQL must shift by position too — a
      // literal `1 << p_id` only coincides while probeIds == 0..n-1,
      // and breaks outright for ids ≥ 63. The interpolated CASE maps
      // each id VALUE to its positional bit weight, keeping oracle and
      // engine in lockstep under ANY future probe set.
      Some(s"""WITH ${fixedPointExplode()},
        n AS (SELECT vec_id, SUM(vi * vi)::BIGINT AS norm_s FROM e
              GROUP BY vec_id),
        pr AS (SELECT vec_id AS p_id, vi AS pvi, pos FROM e
               WHERE vec_id IN (${semDedupProbeIds.mkString(", ")})),
        dp AS (SELECT e.vec_id, pr.p_id, SUM(e.vi * pr.pvi) AS dt
               FROM e JOIN pr USING (pos) GROUP BY e.vec_id, pr.p_id),
        bkt AS (SELECT vec_id,
                CAST(SUM(CASE WHEN dt <= 0 THEN 0 ${semDedupProbeIds.zipWithIndex
                  .map { case (pid, i) => s"WHEN p_id = $pid THEN ${1L << i}" }
                  .mkString(" ")}
                         ELSE 0 END) AS BIGINT) AS bucket
              FROM dp GROUP BY vec_id),
        d AS (SELECT ba.bucket, a.vec_id AS a_id, b.vec_id AS b_id,
                SUM(a.vi * b.vi)::BIGINT AS dot_s
              FROM e a JOIN bkt ba ON a.vec_id = ba.vec_id
              JOIN bkt bb ON ba.bucket = bb.bucket
              JOIN e b ON b.vec_id = bb.vec_id AND a.pos = b.pos
                      AND a.vec_id < b.vec_id
              GROUP BY ba.bucket, a.vec_id, b.vec_id)
        SELECT d.bucket, d.a_id, d.b_id, d.dot_s,
          na.norm_s AS a_norm_s, nb.norm_s AS b_norm_s
        FROM d JOIN n na ON d.a_id = na.vec_id
               JOIN n nb ON d.b_id = nb.vec_id
        WHERE d.dot_s > 0
          AND CAST(d.dot_s AS DOUBLE) * CAST(d.dot_s AS DOUBLE)
                * 10000.0 >=
              CAST(na.norm_s AS DOUBLE) * CAST(nb.norm_s AS DOUBLE)
                * 900.0
        ORDER BY a_id, b_id""")),

    // TPC-H Q5 shape (local-supplier volume): the 6-table star —
    // region→nation broadcast dims, the c_nationkey = s_nationkey
    // "local" constraint riding the join, revenue on the q3 scale-8
    // integer grid. Plan: dims broadcast, one fact shuffle.
    Declared("q_sql_q5",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT n_name,
            SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (1000000L - CAST(round(l_discount * 1000000) AS BIGINT)))
              AS revenue_s8,
            COUNT(*) AS n_lines
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
                       AND c_nationkey = s_nationkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY n_name
          ORDER BY revenue_s8 DESC, n_name""")
      },
      Some("""SELECT n_name,
          CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (1000000 - CAST(round(l_discount * 1000000) AS BIGINT)))
            AS BIGINT) AS revenue_s8,
          COUNT(*)::BIGINT AS n_lines
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue_s8 DESC, n_name""")),

    // TPC-H Q10 shape (returned-item revenue, top customers): the
    // quarter's 'R'-flag losses per customer, top 20 by revenue —
    // TakeOrderedAndProject on the unique (revenue DESC, custkey)
    // total order, nation broadcast.
    Declared("q_sql_q10",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT c_custkey, c_name, n_name,
            SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (1000000L - CAST(round(l_discount * 1000000) AS BIGINT)))
              AS revenue_s8,
            COUNT(*) AS n_lines
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE l_returnflag = 'R'
            AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY c_custkey, c_name, n_name
          ORDER BY revenue_s8 DESC, c_custkey
          LIMIT 20""")
      },
      Some("""SELECT c_custkey, c_name, n_name,
          CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (1000000 - CAST(round(l_discount * 1000000) AS BIGINT)))
            AS BIGINT) AS revenue_s8,
          COUNT(*)::BIGINT AS n_lines
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue_s8 DESC, c_custkey
        LIMIT 20""")),

    // Daily-active-users via GROUPED HLL (SketchOps.hllRegistersBy ∘
    // hllEstimateBy): one 64-register sketch per epoch-day — the
    // 100 TB GROUP BY COUNT(DISTINCT) shape, shuffle ≤ |days|·64 cells
    // whatever the user cardinality. Bit-deterministic estimator over
    // the portable md5 hash, replayed exactly by the oracle.
    Declared("q_hll_daily_users",
      (s, d) => SketchOps.hllEstimateBy(
        SketchOps.hllRegistersBy(
          events(s, d).select(
            expr(s"ts div ${Tables.Nanos.PerDay}").as("day"),
            col("user_id").cast(StringType).as("uid")),
          "day", "uid", 64),
        "day", 64),
      Some(hllDailyUsersOracle)),

    // MinHash Jaccard estimates for the LSH candidates
    // (DedupOps.minHashEstJaccard): est_ppm = equal-minima fraction —
    // the estimator-triage stage between banding and exact verify,
    // priced from the signature frame alone. Same %10-slice portable-
    // seed setup as q_minhash_lsh; the oracle replays the 12 minima per
    // doc and counts equality per candidate pair.
    Declared("q_minhash_est",
      (s, d) => DedupOps.minHashEstJaccard(
        documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0), 12, 3,
        seedHash = DedupOps.Md5SeedHash60),
      Some("""WITH docs AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 10 = 0),
        w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' '))
                AS word FROM docs),
        hx AS (SELECT doc_id, s.i AS seed,
                 MIN(('0x' || substr(md5(CAST(s.i AS VARCHAR) || ':' || word),
                   1, 15))::BIGINT) AS mh
               FROM w CROSS JOIN range(12) s(i)
               GROUP BY doc_id, s.i),
        bands AS (SELECT doc_id, seed // 3 AS band_idx,
                    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)
                      AS band_sig
                  FROM hx GROUP BY doc_id, seed // 3),
        p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              FROM bands a JOIN bands b
                ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
               AND a.doc_id < b.doc_id),
        eq AS (SELECT p.a_id, p.b_id,
                 CAST(SUM(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_eq
               FROM p
               JOIN hx ha ON ha.doc_id = p.a_id
               JOIN hx hb ON hb.doc_id = p.b_id AND hb.seed = ha.seed
               GROUP BY p.a_id, p.b_id)
        SELECT a_id, b_id, n_eq, n_eq * 1000000 // 12 AS est_ppm
        FROM eq ORDER BY a_id, b_id""")),

    // Declared sibling of q_neardup_clusters, kept so the declared key
    // set stays stable: the same relation and the same
    // recursive-reachability oracle VERBATIM.
    Declared("q_neardup_clusters_star",
      (s, d) => DedupOps.nearDupKeepers(
        documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0),
        numHashes = 32, rowsPerBand = 2, minJaccardPct = 80),
      Some(neardupClustersOracle)),

    // Histogram-sketch quantile estimates (EventOps.histogramQuantiles):
    // the MERGEABLE quantile path — sketch state is |types|·12 bin
    // counters (per-shard histograms ADD, like CMS/HLL cells), estimate
    // = first bucket whose cumulative count reaches ⌈total·p/1000⌉ plus
    // the within-bucket offset in ppm, all integer arithmetic. Exact
    // percentiles stay with q_percentile_disc/q_winsorize; this is the
    // shape that survives when the data can't be sorted.
    Declared("q_hist_quantiles",
      (s, d) => EventOps.histogramQuantiles(Tables.events(s, d),
        binWidthCents = 2000L, numBins = 12, pPermille = Seq(500, 900)),
      Some("""WITH b AS (SELECT event_type,
                GREATEST(0, LEAST(CAST(floor(
                    CAST(round(value * 100) AS BIGINT) / 2000) AS BIGINT),
                  11)) AS bucket
              FROM events),
        h AS (SELECT event_type, bucket, COUNT(*)::BIGINT AS cnt
              FROM b GROUP BY event_type, bucket),
        c AS (SELECT event_type, bucket, cnt,
                CAST(SUM(cnt) OVER (PARTITION BY event_type
                  ORDER BY bucket) AS BIGINT) AS cum
              FROM h),
        t AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total
              FROM h GROUP BY event_type),
        j AS (SELECT c.*, t.total FROM c JOIN t USING (event_type)),
        hit AS (SELECT event_type, total,
                MIN(CASE WHEN cum * 1000 >= total * 500
                    THEN bucket END) AS b500,
                MIN(CASE WHEN cum * 1000 >= total * 900
                    THEN bucket END) AS b900
              FROM j GROUP BY event_type, total)
        SELECT hit.event_type, hit.total,
          hit.b500 AS b500,
          (LEAST((hit.total * 500 + 999) // 1000, j5.cum)
            - (j5.cum - j5.cnt)) * 1000000 // j5.cnt AS frac500_ppm,
          hit.b900 AS b900,
          (LEAST((hit.total * 900 + 999) // 1000, j9.cum)
            - (j9.cum - j9.cnt)) * 1000000 // j9.cnt AS frac900_ppm
        FROM hit
        JOIN j j5 ON j5.event_type = hit.event_type AND j5.bucket = hit.b500
        JOIN j j9 ON j9.event_type = hit.event_type AND j9.bucket = hit.b900
        ORDER BY hit.event_type""")),

    // Deterministic fixed-k sample per stratum (Relational
    // .sampleKPerGroup): the 20 lowest-hash events per type — the
    // "exactly k per class" eval-set/inspection shape; membership is a
    // pure function of the key set (partition/retry/cluster-size
    // invariant, removal-stable under deletions).
    Declared("q_sample_k_per_group",
      (s, d) => Relational.sampleKPerGroup(
        Tables.events(s, d), "event_type", "event_id", 20),
      Some("""SELECT event_type, event_id, rn FROM (
          SELECT event_type, event_id,
            ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY ('0x' || substr(md5('s:' ||
                CAST(event_id AS VARCHAR)), 1, 15))::BIGINT, event_id)
              AS rn
          FROM events)
        WHERE rn <= 20
        ORDER BY event_type, rn""")),

    // Per-label centroid table (SimilarityOps.labelCentroids): exact
    // integer class prototypes — Σvi div n per dimension, exploded to
    // scalar (label, pos, c) rows. Spark `div` and DuckDB `//` BOTH
    // truncate toward zero (verified on negatives), so the centroids
    // hash-match even where dimension sums go negative.
    Declared("q_label_centroids",
      (s, d) => SimilarityOps.labelCentroids(embeddings(s, d)),
      Some(s"""WITH ${fixedPointExplode(label = true)}
        SELECT label, pos,
          CAST(SUM(vi) AS BIGINT) // COUNT(*) AS c
        FROM e GROUP BY label, pos
        ORDER BY label, pos""")),

    // Nearest-centroid assignment (SimilarityOps.centroidAssign): each
    // embedding classified to its closest label prototype by exact
    // integer squared L2, ties to the smallest label — the standard
    // class-separability eval over the embedding space. Centroids
    // broadcast; the corpus never shuffles its vectors.
    Declared("q_centroid_assign",
      (s, d) => SimilarityOps.centroidAssign(embeddings(s, d)),
      Some(s"""WITH ${fixedPointExplode(label = true)},
        cent AS (SELECT label AS clabel, pos,
                CAST(SUM(vi) AS BIGINT) // COUNT(*) AS c
              FROM e GROUP BY label, pos),
        dist AS (SELECT e.vec_id, e.label, cent.clabel,
                CAST(SUM((e.vi - cent.c) * (e.vi - cent.c)) AS BIGINT)
                  AS dist
              FROM e JOIN cent USING (pos)
              GROUP BY e.vec_id, e.label, cent.clabel),
        ranked AS (SELECT vec_id, label, clabel,
                ROW_NUMBER() OVER (PARTITION BY vec_id
                  ORDER BY dist, clabel) AS rk
              FROM dist)
        SELECT vec_id, label, clabel AS pred_label,
          (label = clabel) AS correct
        FROM ranked WHERE rk = 1
        ORDER BY vec_id""")),

    // Label-agreement audit (SimilarityOps.labelAgreementKappa):
    // Cohen's kappa between stored labels and the nearest-centroid
    // assignment, exact integer ppm with oracle-mirrored truncation
    // order (po/pe truncated first, kappa from the truncated values).
    Declared("q_label_kappa",
      (s, d) => SimilarityOps.labelAgreementKappa(embeddings(s, d)),
      Some(s"""WITH ${fixedPointExplode(label = true)},
        cent AS (SELECT label AS clabel, pos,
                CAST(SUM(vi) AS BIGINT) // COUNT(*) AS c
              FROM e GROUP BY label, pos),
        dist AS (SELECT e.vec_id, e.label, cent.clabel,
                CAST(SUM((e.vi - cent.c) * (e.vi - cent.c)) AS BIGINT)
                  AS dist
              FROM e JOIN cent USING (pos)
              GROUP BY e.vec_id, e.label, cent.clabel),
        ranked AS (SELECT vec_id, label, clabel,
                ROW_NUMBER() OVER (PARTITION BY vec_id
                  ORDER BY dist, clabel) AS rk
              FROM dist),
        pred AS (SELECT label, clabel AS pred_label FROM ranked WHERE rk = 1),
        tot AS (SELECT COUNT(*)::BIGINT AS n,
                 CAST(COUNT(*) FILTER (WHERE label = pred_label) AS BIGINT)
                   AS agree FROM pred),
        rm AS (SELECT label AS k, COUNT(*)::BIGINT AS rcnt
               FROM pred GROUP BY 1),
        cm AS (SELECT pred_label AS k, COUNT(*)::BIGINT AS ccnt
               FROM pred GROUP BY 1),
        pe AS (SELECT CAST(SUM(COALESCE(rcnt, 0) * COALESCE(ccnt, 0))
                 AS BIGINT) AS pe_num
               FROM rm FULL JOIN cm USING (k)),
        pp AS (SELECT n, agree,
                 agree * 1000000 // n AS po_ppm,
                 pe_num * 1000000 // (n * n) AS pe_ppm
               FROM tot, pe)
        SELECT n, agree, CAST(po_ppm AS BIGINT) AS po_ppm,
          CAST(pe_ppm AS BIGINT) AS pe_ppm,
          CAST(CASE WHEN pe_ppm = 1000000 THEN 0
            ELSE (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm)
          END AS BIGINT) AS kappa_ppm
        FROM pp""")),

    // TPC-H Q6 shape (forecast revenue change): the pure
    // scan-filter-aggregate — every predicate must reach the parquet
    // scan (plan-asserted PushedFilters); revenue in exact cents·ppm.
    Declared("q_sql_q6",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT
            SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 1000000) AS BIGINT))
              AS revenue_s8,
            COUNT(*) AS n_lines
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
            AND CAST(round(l_quantity * 100) AS BIGINT) < 2400""")
      },
      Some("""SELECT
          CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
              * CAST(round(l_discount * 1000000) AS BIGINT))
            AS BIGINT) AS revenue_s8,
          COUNT(*)::BIGINT AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
          AND CAST(round(l_quantity * 100) AS BIGINT) < 2400""")),

    // TPC-H Q4 shape (order-priority checking): orders in one quarter
    // with ANY flagged lineitem ('R' plays the late marker) — the
    // EXISTS-decorrelated-to-semi-join + date-range combination,
    // counted per priority.
    Declared("q_sql_q4",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT o_orderpriority, COUNT(*) AS order_count
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
            AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, COUNT(*)::BIGINT AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // TPC-H Q14 shape (promotion effect): the conditional-share
    // aggregate — promo revenue share in ppm via integer division of
    // two exact sums. Revenue rides the SCALE-4 grid (price_c ×
    // (100−disc_c)) deliberately: the q3 scale-8 grid times the 10⁶
    // ppm share multiplier would overflow int64 on a month of revenue.
    Declared("q_sql_q14",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT
            SUM(CASE WHEN p_type = 'PROMO'
                THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100L - CAST(round(l_discount * 100) AS BIGINT))
                ELSE 0L END) * 1000000L
              div SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100L - CAST(round(l_discount * 100) AS BIGINT)))
              AS promo_share_ppm,
            COUNT(*) AS n_lines
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""")
      },
      Some("""SELECT
          CAST(SUM(CASE WHEN p_type = 'PROMO'
              THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))
              ELSE 0 END) * 1000000
            // SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS promo_share_ppm,
          COUNT(*)::BIGINT AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""")),

    // TPC-H Q19 shape (discounted revenue, OR-of-ANDs): three disjoint
    // brand/size/quantity bands OR'd together — the predicate-pushdown
    // stress shape (the part-side conjuncts must still prune the scan
    // even under the disjunction).
    Declared("q_sql_q19",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT
            SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (1000000L - CAST(round(l_discount * 1000000) AS BIGINT)))
              AS revenue_s8,
            COUNT(*) AS n_lines
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                 AND CAST(round(l_quantity * 100) AS BIGINT)
                     BETWEEN 100 AND 1100)
             OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                 AND CAST(round(l_quantity * 100) AS BIGINT)
                     BETWEEN 1000 AND 2000)
             OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                 AND CAST(round(l_quantity * 100) AS BIGINT)
                     BETWEEN 2000 AND 3000)""")
      },
      Some("""SELECT
          CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (1000000 - CAST(round(l_discount * 1000000) AS BIGINT)))
            AS BIGINT) AS revenue_s8,
          COUNT(*)::BIGINT AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND CAST(round(l_quantity * 100) AS BIGINT)
                   BETWEEN 100 AND 1100)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND CAST(round(l_quantity * 100) AS BIGINT)
                   BETWEEN 1000 AND 2000)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
               AND CAST(round(l_quantity * 100) AS BIGINT)
                   BETWEEN 2000 AND 3000)""")),

    // URL-canonicalization dedup (TextOps.urlDedup): crawl-frontier
    // dedup BEFORE fetch/tokenize — the cheapest tier. The corpus has
    // no URL column, so page URLs are derived deterministically
    // (q_scrub_pii's augmentation pattern): 7-doc blocks share a page,
    // each doc dressing it in a different recorded variant (scheme
    // case, www., tracking params, fragments, trailing slash) that
    // canonicalization must collapse.
    Declared("q_url_dedup",
      (s, d) => TextOps.urlDedup(documents(s, d).select(col("doc_id"),
        concat(
          when(pmod(col("doc_id"), lit(3)) === 0, lit("https://www."))
            .when(pmod(col("doc_id"), lit(3)) === 1, lit("HTTP://"))
            .otherwise(lit("https://")),
          lit("example.org/page/"),
          expr("doc_id div 7"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("?utm_source=x"))
            .when(pmod(col("doc_id"), lit(3)) === 1, lit("/"))
            .otherwise(lit("#section-2"))).as("url"))),
      Some("""WITH aug AS (SELECT doc_id,
                CASE doc_id % 3 WHEN 0 THEN 'https://www.'
                     WHEN 1 THEN 'HTTP://' ELSE 'https://' END
                || 'example.org/page/' || CAST(doc_id // 7 AS VARCHAR)
                || CASE doc_id % 3 WHEN 0 THEN '?utm_source=x'
                     WHEN 1 THEN '/' ELSE '#section-2' END AS url
              FROM documents),
        canon AS (SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(
                  regexp_replace(lower(url), '^[a-z]+://', ''),
                  '^www\.', ''), '[?#].*$', ''), '/$', '')
                  AS canonical_url
              FROM aug)
        SELECT canonical_url, MIN(doc_id)::BIGINT AS keep_doc_id,
               COUNT(*)::BIGINT AS dup_cnt
        FROM canon GROUP BY canonical_url
        ORDER BY keep_doc_id""")),

    // HLL shard-merge, ORACLE-CHECKED end to end: the engine builds
    // per-shard register tables (doc_id parity plays the shard key),
    // hllMerge-s them, and estimates; the oracle computes the estimate
    // over the UNDIVIDED corpus. Sharing hllEstimateOracle verbatim
    // makes merge(A,B) ≡ build(A ∪ B) — the property that lets 100 TB
    // of per-day sketches combine without re-reading raw data — a
    // hash-checked declared relation, not just a ScalaTest.
    Declared("q_hll_merge_shards",
      (s, d) => {
        def shard(m: Int) = SketchOps.hllRegisters(
          documents(s, d).filter(pmod(col("doc_id"), lit(2)) === m)
            .select(explode(TextOps.words(col("text"))).as("word")),
          "word", 64)
        SketchOps.hllEstimate(SketchOps.hllMerge(shard(0), shard(1)), 64)
      },
      Some(hllEstimateOracle)),

    // Month-over-month revenue growth: the agg→window composite every
    // analytics surface ships — monthly order revenue in exact cents,
    // lag, delta in ppm (truncating integer division, negative-safe:
    // Spark div ≡ DuckDB // toward zero). The lag window runs over the
    // |months|-sized aggregate, not the fact table.
    Declared("q_mom_growth",
      (s, d) => {
        val monthly = orders(s, d)
          .groupBy(date_trunc("month", col("o_orderdate"))
            .cast(DateType).as("month"))
          .agg(sum(round(col("o_totalprice") * 100).cast(LongType))
            .as("rev_c"))
        val w = Window.orderBy("month")
        monthly
          .withColumn("prev_c", lag(col("rev_c"), 1).over(w))
          .filter(col("prev_c").isNotNull)
          .select(col("month"), col("rev_c"), col("prev_c"),
            expr("(rev_c - prev_c) * 1000000L div prev_c")
              .as("delta_ppm"))
          .orderBy("month")
      },
      Some("""WITH m AS (SELECT CAST(date_trunc('month', o_orderdate)
                  AS DATE) AS month,
                CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
              FROM orders GROUP BY 1),
        l AS (SELECT month, rev_c,
                lag(rev_c) OVER (ORDER BY month) AS prev_c FROM m)
        SELECT month, rev_c, prev_c,
          (rev_c - prev_c) * 1000000 // prev_c AS delta_ppm
        FROM l WHERE prev_c IS NOT NULL
        ORDER BY month""")),

    // Lexical-rarity quality score (TextOps.rarityScores): mean corpus
    // frequency rank per document in ppm — the logarithm-free
    // perplexity proxy (rare-word text scores high, head-word
    // boilerplate low); vocabulary-bounded rank window, rank table
    // broadcast back.
    Declared("q_rarity_score",
      (s, d) => TextOps.rarityScores(documents(s, d)),
      Some("""WITH t AS (SELECT doc_id,
                unnest(string_split(text, ' ')) AS word FROM documents),
        f AS (SELECT word, COUNT(*)::BIGINT AS freq FROM t
              GROUP BY word),
        r AS (SELECT word,
                CAST(dense_rank() OVER (ORDER BY freq DESC, word)
                  AS BIGINT) AS rank
              FROM f)
        SELECT t.doc_id, COUNT(*)::BIGINT AS n_tokens,
          CAST(SUM(r.rank) AS BIGINT) * 1000000
            // COUNT(*) AS mean_rank_ppm
        FROM t JOIN r USING (word)
        GROUP BY t.doc_id
        ORDER BY doc_id""")),

    // Splice-overlap detection (TextOps.spliceOverlaps): pairs whose
    // 5-token seam matches (one doc's tail = another's head) — the
    // split/continued-page signature Jaccard dedup misses (disjoint
    // bodies, exact seam). The corpus has no natural splices (audited:
    // zero), so continuation docs are DERIVED deterministically (the
    // q_scrub_pii augmentation pattern): every %25 doc spawns
    // doc_id+10⁶ whose text starts with the parent's last 5 tokens.
    Declared("q_overlap_splice",
      (s, d) => {
        val ws = TextOps.words(col("text"))
        val base = documents(s, d)
        val continuations = base
          .filter(pmod(col("doc_id"), lit(25)) === 0 && size(ws) >= 5)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat_ws(" ",
              concat(slice(ws, -5, 5), slice(ws, 1, 10))).as("text"))
        TextOps.spliceOverlaps(
          base.select("doc_id", "text").unionByName(continuations), 5)
      },
      Some("""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents),
        cont AS (SELECT doc_id + 1000000 AS doc_id,
                array_to_string(
                  list_concat(ws[len(ws)-4:len(ws)], ws[1:10]), ' ')
                  AS text
              FROM w0 WHERE doc_id % 25 = 0 AND len(ws) >= 5),
        aug AS (SELECT doc_id, text FROM documents
                UNION ALL SELECT doc_id, text FROM cont),
        w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM aug),
        base AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 5),
        heads AS (SELECT doc_id AS head_doc,
                array_to_string(ws[1:5], ' ') AS gram FROM base),
        tails AS (SELECT doc_id AS tail_doc,
                array_to_string(ws[len(ws)-4:len(ws)], ' ') AS gram
              FROM base)
        SELECT tail_doc, head_doc, gram
        FROM tails JOIN heads USING (gram)
        WHERE tail_doc <> head_doc
        ORDER BY tail_doc, head_doc""")),

    // Local clustering coefficients (DedupOps.clusteringCoefficients)
    // over the %10 jaccard-80 graph: 2·tri·10⁶ div deg(deg−1) ppm —
    // separates true duplicate cliques (→ 10⁶) from boilerplate-hub
    // stars (high degree, low closure). Engine: degree-oriented wedge
    // closure + degree rollup; oracle: the naive 3-way triangle join.
    Declared("q_clustering_coeff",
      (s, d) => DedupOps.clusteringCoefficients(
        DedupOps.jaccardPairs(
          documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0), 80)
          .select("a_id", "b_id")),
      Some(s"""WITH docs AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 10 = 0),
        ${jaccardPairCtes("docs", 80)},
        deg AS (SELECT id AS doc_id, COUNT(*)::BIGINT AS deg
              FROM (SELECT a_id AS id FROM p
                    UNION ALL SELECT b_id FROM p)
              GROUP BY id),
        tri0 AS (SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
                FROM p e1 JOIN p e2 ON e1.b_id = e2.a_id
                JOIN p e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
        tri AS (SELECT doc_id, COUNT(*)::BIGINT AS n_triangles
              FROM (SELECT x AS doc_id FROM tri0
                    UNION ALL SELECT y FROM tri0
                    UNION ALL SELECT z FROM tri0)
              GROUP BY doc_id)
        SELECT deg.doc_id, deg.deg,
          COALESCE(tri.n_triangles, 0)::BIGINT AS n_triangles,
          CASE WHEN deg.deg < 2 THEN 0
               ELSE COALESCE(tri.n_triangles, 0) * 2000000
                    // (deg.deg * (deg.deg - 1)) END::BIGINT
            AS coeff_ppm
        FROM deg LEFT JOIN tri USING (doc_id)
        ORDER BY doc_id""")),

    // Rate-spike alarms (EventOps.rateSpikes): hourly counts exceeding
    // 3× their trailing-3-hour mean — division-free integer
    // cross-multiplication, cold-start hours (fewer than 3
    // predecessors) never alarm; the window runs over the
    // |types|·|hours| aggregate, never raw events.
    Declared("q_rate_spikes",
      (s, d) => EventOps.rateSpikes(Tables.events(s, d), 300),
      Some("""WITH h AS (SELECT event_type,
                epoch_ns(ts) // 3600000000000 AS hour,
                COUNT(*)::BIGINT AS cnt
              FROM events GROUP BY event_type, hour),
        t AS (SELECT event_type, hour, cnt,
                SUM(cnt) OVER (PARTITION BY event_type ORDER BY hour
                  RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING)
                  AS prev_sum,
                COUNT(cnt) OVER (PARTITION BY event_type ORDER BY hour
                  RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING) AS prev_n
              FROM h)
        SELECT event_type, hour, cnt,
          CAST(prev_sum AS BIGINT) AS prev_sum
        FROM t
        WHERE prev_n = 3 AND cnt * 100 * prev_n > 300 * prev_sum
        ORDER BY event_type, hour""")),

    // Point-in-time correct join: facts
    // enriched with the dimension VERSION valid at their timestamp —
    // the leak-free versioned enrichment (joining today's attributes
    // onto last year's facts is the classic training-data bug). The
    // %5 slice of each user's events plays the versioned dimension
    // (scd2Intervals), the rest are facts; equi hash join on user_id
    // with the interval test as a residual, pre-history survives null.
    Declared("q_pit_join",
      (s, d) => {
        val ev = events(s, d)
        val dim = EventOps.scd2Intervals(
          ev.filter(pmod(col("event_id"), lit(5)) === 0), "user_id",
          expr("ts div 1000"), "event_id")
          .select(col("user_id").as("d_user"),
            col("event_id").as("dim_version"),
            col("valid_from_us"), col("valid_to_us"))
        val facts = ev.filter(pmod(col("event_id"), lit(5)) =!= 0)
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("ts_us"))
        facts.join(dim,
            facts("user_id") === dim("d_user") &&
              facts("ts_us") >= dim("valid_from_us") &&
              (dim("valid_to_us").isNull ||
                facts("ts_us") < dim("valid_to_us")),
            "left")
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("dim_version"), col("valid_from_us"))
          .orderBy("event_id")
      },
      Some("""WITH dim AS (SELECT user_id AS d_user, event_id AS dim_version,
                ts_us AS valid_from_us,
                lead(ts_us) OVER (PARTITION BY user_id
                  ORDER BY ts_us, event_id) AS valid_to_us
              FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us
                    FROM events WHERE event_id % 5 = 0)),
        facts AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
              FROM events WHERE event_id % 5 <> 0)
        SELECT f.event_id, f.user_id, f.ts_us, dim.dim_version,
               dim.valid_from_us
        FROM facts f LEFT JOIN dim
          ON f.user_id = dim.d_user
         AND f.ts_us >= dim.valid_from_us
         AND (dim.valid_to_us IS NULL OR f.ts_us < dim.valid_to_us)
        ORDER BY event_id""")),

    // Rolling 3-day active users from per-day HLL sketches
    // (SketchOps.hllRegistersBy ∘ hllRollingRegisters ∘ hllEstimateBy):
    // the WAU surface — exact rolling COUNT(DISTINCT) re-touches every
    // (day, uid) pair per window; the sketch path re-touches
    // |days|·64 cells against a broadcast calendar frame, and the
    // per-day register table serves every window size. The %7 event
    // slice + 3-day window keep windows UNSATURATED on the synthetic
    // 150-user pool (full-stream 7-day unions contain every user —
    // audited constant, hence vacuous).
    Declared("q_rolling_active_users",
      (s, d) => SketchOps.hllEstimateBy(
        SketchOps.hllRollingRegisters(
          SketchOps.hllRegistersBy(
            events(s, d).filter(pmod(col("event_id"), lit(7)) === 0)
              .select(
                expr(s"ts div ${Nanos.PerDay}").as("day"),
                col("user_id").cast(StringType).as("uid")),
            "day", "uid", 64),
          windowDays = 3),
        "day", 64),
      Some(hllRollingUsersOracle(3))),

    // Row-level snapshot diff (Relational.snapshotDiff): two derived
    // corpus versions — A drops %3==2, B drops %3==0 and edits the
    // text of %5==0 survivors — so every status (added / removed /
    // changed / unchanged) occurs by construction. 16-byte
    // fingerprints shuffle; document bodies never do.
    Declared("q_snapshot_diff",
      (s, d) => {
        val docs = documents(s, d)
        val snapA = docs.filter(pmod(col("doc_id"), lit(3)) =!= 2)
        val snapB = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .withColumn("text",
            when(pmod(col("doc_id"), lit(5)) === 0,
              concat(col("text"), lit(" v2"))).otherwise(col("text")))
        Relational.snapshotDiff(snapA, snapB, "doc_id", "text")
      },
      Some("""WITH a AS (SELECT doc_id, md5(text) AS a_fp FROM documents
                WHERE doc_id % 3 <> 2),
        b AS (SELECT doc_id,
                md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                     ELSE text END) AS b_fp
              FROM documents WHERE doc_id % 3 <> 0)
        SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
          CASE WHEN a.a_fp IS NULL THEN 'added'
               WHEN b.b_fp IS NULL THEN 'removed'
               WHEN a.a_fp <> b.b_fp THEN 'changed'
               ELSE 'unchanged' END AS status,
          a.a_fp, b.b_fp
        FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        ORDER BY doc_id""")),

    // Cluster-capped sampling (DedupOps.clusterCapSample): at most 2
    // docs per near-dup cluster by deterministic hash rank — the
    // curation middle ground between keep-one (canonical) and keep-all;
    // paraphrase diversity survives, bulk duplication doesn't. Same
    // %4 multi-cluster slice as q_dedup_canonical (the %10 slice is ONE
    // cluster); oracle = recursive-reachability CC + replayed hash-rank
    // window.
    Declared("q_cluster_cap_sample",
      (s, d) => DedupOps.clusterCapSample(
        documents(s, d).filter(pmod(col("doc_id"), lit(4)) === 0),
        numHashes = 32, rowsPerBand = 2, minJaccardPct = 80, cap = 2),
      Some(s"""WITH RECURSIVE docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
        ${jaccardPairCtes("docs", 80)},
        $componentCtes
        SELECT cluster_id, doc_id, rn FROM (
          SELECT cluster_id, doc_id,
            ROW_NUMBER() OVER (PARTITION BY cluster_id
              ORDER BY ('0x' || substr(md5('c:' ||
                CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id)
              AS rn
          FROM (SELECT src AS doc_id,
                  LEAST(src, MIN(dst))::BIGINT AS cluster_id
                FROM reach GROUP BY src))
        WHERE rn <= 2
        ORDER BY cluster_id, rn""")),

    // Per-source duplication accounting: each source's exact-dup rate
    // in ppm — the provenance-quality table that decides which feeds
    // get demoted (16-byte fingerprints only; the distinct count rides
    // the same rollup). The raw corpus is dup-free (audited constant-0
    // rates), so the %7 slice is re-ingested under shifted ids KEEPING
    // its source — per-source rates then vary by the slice's uneven
    // residue intersection (the q_dedup_exact augmentation pattern).
    Declared("q_dup_rate_by_source",
      (s, d) => {
        val base = documents(s, d).select("doc_id", "source", "text")
        val dupes = base.filter(pmod(col("doc_id"), lit(7)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(10000000L))
        base.unionByName(dupes)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(md5(col("text"))).as("n_distinct"))
          .select(col("source"), col("n_docs"), col("n_distinct"),
            expr("(n_docs - n_distinct) * 1000000L div n_docs")
              .as("dup_ppm"))
          .orderBy("source")
      },
      Some("""WITH aug AS (SELECT source, text FROM documents
                UNION ALL
                SELECT source, text FROM documents WHERE doc_id % 7 = 0)
        SELECT source, COUNT(*)::BIGINT AS n_docs,
          COUNT(DISTINCT md5(text))::BIGINT AS n_distinct,
          (COUNT(*) - COUNT(DISTINCT md5(text))) * 1000000
            // COUNT(*) AS dup_ppm
        FROM aug GROUP BY source ORDER BY source""")),

    // Dedup ROI in TOKENS (DedupOps.dedupTokensSaved): what an exact
    // dedup pass saves per source, priced in the unit training actually
    // pays — complements q_dup_rate_by_source's doc-count rate (a feed
    // duplicating its longest docs has a modest doc rate but a large
    // token rate). Same %7 shifted-id augmentation (the raw corpus is
    // audited dup-free), keeper = GLOBAL min doc_id per fingerprint.
    Declared("q_dedup_tokens_saved",
      (s, d) => {
        val base = documents(s, d).select("doc_id", "source", "text")
        val dupes = base.filter(pmod(col("doc_id"), lit(7)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(10000000L))
        DedupOps.dedupTokensSaved(base.unionByName(dupes))
      },
      Some(s"""WITH aug AS (SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + 10000000, source, text FROM documents
          WHERE doc_id % 7 = 0),
        k AS (SELECT doc_id, source, md5(text) AS fp,
                $regexTokens AS n_tok
              FROM aug),
        f AS (SELECT fp, MIN(doc_id) AS keep_id FROM k GROUP BY fp),
        agg AS (SELECT k.source, COUNT(*)::BIGINT AS n_docs,
                SUM(k.n_tok)::BIGINT AS n_tokens,
                SUM(CASE WHEN k.doc_id <> f.keep_id THEN 1 ELSE 0 END)::BIGINT
                  AS dup_docs,
                SUM(CASE WHEN k.doc_id <> f.keep_id THEN k.n_tok ELSE 0 END)::BIGINT
                  AS dup_tokens
              FROM k JOIN f USING (fp) GROUP BY k.source)
        SELECT source, n_docs, n_tokens, dup_docs, dup_tokens,
          CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(dup_tokens * 1000000 // n_tokens AS BIGINT) END
            AS saved_ppm
        FROM agg ORDER BY source""")),

    // Cross-source duplication matrix (DedupOps.crossSourceDupMatrix):
    // which feeds copy each other — the between-feed complement of
    // q_dup_rate_by_source's within-feed rate. The raw corpus is
    // dup-free, so the %7 slice re-ingests under shifted ids with a
    // REMAPPED source ('src' || (id div 7 mod 20)) — cross-feed pairs
    // then spread over the matrix (DuckDB-probed: 18 cells, counts
    // 3-8, 14 distinct sources per axis).
    Declared("q_dup_matrix",
      (s, d) => {
        val base = documents(s, d).select("doc_id", "source", "text")
        val dupes = base.filter(pmod(col("doc_id"), lit(7)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(10000000L))
          .withColumn("source",
            concat(lit("src"),
              pmod(expr("doc_id div 7"), lit(20L)).cast("string")))
        DedupOps.crossSourceDupMatrix(base.unionByName(dupes))
      },
      Some("""WITH aug AS (SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + 10000000,
            'src' || CAST(((doc_id + 10000000) // 7) % 20 AS VARCHAR),
            text
          FROM documents WHERE doc_id % 7 = 0),
        f AS (SELECT doc_id, source, md5(text) AS fp FROM aug),
        p AS (SELECT LEAST(a.source, b.source) AS src_a,
                GREATEST(a.source, b.source) AS src_b
              FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id)
        SELECT src_a, src_b, COUNT(*)::BIGINT AS n_pairs
        FROM p GROUP BY src_a, src_b
        ORDER BY src_a, src_b""")),

    // Last-touch attribution (EventOps.lastTouchAttribution): every
    // purchase credited to the user's most recent preceding click —
    // ONE per-user window pass with last_value(ignoreNulls) over the
    // incremental preceding frame (no self-join, no per-row subquery);
    // organic conversions (no prior click) attribute null.
    Declared("q_attribution",
      (s, d) => EventOps.lastTouchAttribution(
        events(s, d), touchType = "click", conversionType = "purchase"),
      Some("""WITH e AS (SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
                event_type FROM events),
        a AS (SELECT user_id, ts_ns, event_id, event_type,
                last_value(CASE WHEN event_type = 'click'
                    THEN event_id END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS touch_id,
                last_value(CASE WHEN event_type = 'click'
                    THEN ts_ns END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS touch_ts_ns
              FROM e)
        SELECT event_id AS conversion_id, user_id, ts_ns // 1000 AS ts_us,
          touch_id, touch_ts_ns // 1000 AS touch_ts_us
        FROM a WHERE event_type = 'purchase'
        ORDER BY conversion_id""")),

    // Session outcomes (EventOps.sessionOutcomes): q_window_session's
    // gap sessionization with the conversion verdict riding the same
    // rollup — the abandonment table for one extra max(), no second
    // pass.
    Declared("q_session_outcomes",
      (s, d) => EventOps.sessionOutcomes(events(s, d),
        expr("ts div 1000"), 30L * 60L * 1000L * 1000L, "purchase")
        .withColumnRenamed("session_start", "session_start_us")
        .withColumnRenamed("session_end", "session_end_us"),
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
                epoch_us(ts) AS tsn FROM events),
        g AS (SELECT user_id, tsn, event_id, event_type,
                CASE WHEN lag(tsn) OVER (PARTITION BY user_id
                       ORDER BY tsn, event_id) IS NULL
                       OR tsn - lag(tsn) OVER (PARTITION BY user_id
                         ORDER BY tsn, event_id) > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
              FROM e),
        sess AS (SELECT user_id, tsn, event_type,
                CAST(SUM(new_sess) OVER (PARTITION BY user_id
                     ORDER BY tsn, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
              FROM g)
        SELECT user_id, session_id, COUNT(*)::BIGINT AS n_events,
          CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS converted,
          MIN(tsn) AS session_start_us, MAX(tsn) AS session_end_us
        FROM sess GROUP BY user_id, session_id
        ORDER BY user_id, session_id""")),

    // Window functions through the SQL FRONT DOOR: a warehouse-SQL
    // user's OVER() clauses (rank + partitioned running sum) must work
    // verbatim via spark.sql, not just the DataFrame Window API the
    // q_window_* family covers. Cents grid; unique total order.
    Declared("q_sql_window",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT o_custkey, o_orderkey,
            CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
            RANK() OVER (PARTITION BY o_custkey
              ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                       o_orderkey) AS price_rank,
            SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS running_spend_c
          FROM orders
          ORDER BY o_custkey, o_orderkey""")
      },
      Some("""SELECT o_custkey, o_orderkey,
          CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
          CAST(RANK() OVER (PARTITION BY o_custkey
            ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                     o_orderkey) AS BIGINT) AS price_rank,
          CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
            OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS running_spend_c
        FROM orders
        ORDER BY o_custkey, o_orderkey""")),

    // Length-bucketed batching stats (TextOps.lengthBuckets): docs in
    // 16-token buckets with the padding-waste ppm a batch packer
    // optimizes (pad-to-bucket-max vs pad-to-global-max) — pure
    // integer, |buckets|-key rollup.
    Declared("q_length_buckets",
      (s, d) => TextOps.lengthBuckets(documents(s, d),
        bucketWidth = 16, maxBucket = 8),
      Some("""WITH t AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents),
        b AS (SELECT LEAST(n_tokens // 16, 8) AS bucket,
                COUNT(*)::BIGINT AS n_docs,
                CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                MAX(n_tokens) AS max_tokens
              FROM t GROUP BY 1)
        SELECT bucket, n_docs, total_tokens, max_tokens,
          max_tokens * n_docs - total_tokens AS padding_tokens,
          (max_tokens * n_docs - total_tokens) * 1000000
            // (max_tokens * n_docs) AS waste_ppm
        FROM b ORDER BY bucket""")),

    // Negative sampling for contrastive pairs (DedupOps
    // .negativeSamples): per %10-slice anchor, 2 hash-ranked partners
    // anti-joined against the VERIFIED jaccard-80 near-dup relation in
    // both orientations — the guarantee that a "negative" is never
    // secretly a positive.
    Declared("q_negative_samples",
      (s, d) => {
        val docs = documents(s, d)
          .filter(pmod(col("doc_id"), lit(10)) === 0)
        DedupOps.negativeSamples(docs,
          DedupOps.jaccardPairs(docs, 80).select("a_id", "b_id"), k = 2)
      },
      Some(s"""WITH docs AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 10 = 0),
        ${jaccardPairCtes("docs", 80)},
        pos AS (SELECT a_id AS anchor_id, b_id AS cand_id FROM p
                UNION ALL SELECT b_id, a_id FROM p),
        ids AS (SELECT doc_id FROM docs),
        grid AS (SELECT a.doc_id AS anchor_id, b.doc_id AS cand_id
              FROM ids a JOIN ids b ON a.doc_id <> b.doc_id),
        neg AS (SELECT g.anchor_id, g.cand_id FROM grid g
              WHERE NOT EXISTS (SELECT 1 FROM pos
                WHERE pos.anchor_id = g.anchor_id
                  AND pos.cand_id = g.cand_id))
        SELECT anchor_id, cand_id, rn FROM (
          SELECT anchor_id, cand_id,
            ROW_NUMBER() OVER (PARTITION BY anchor_id
              ORDER BY ('0x' || substr(md5(CAST(anchor_id AS VARCHAR)
                || ':' || CAST(cand_id AS VARCHAR)), 1, 15))::BIGINT,
                cand_id) AS rn
          FROM neg)
        WHERE rn <= 2
        ORDER BY anchor_id, rn""")),

    // The SCALE-SAFE form of negative sampling (VERDICT r9 #1): the
    // candidate side is rate-sampled to ≈16 ids via the portable md5
    // bucket BEFORE the grid — anchors × O(expectedCandidates), never
    // anchors × corpus — and the rate is a pure function of the corpus
    // id count, so DuckDB replays membership exactly (LEAST(1e6,
    // ceil(16e6/n)) with the same integer ceil). Runs on the FULL
    // documents table (500 ids at sf0.01 ⇒ ppm 32000 ⇒ the sampling
    // genuinely engages, unlike the small-slice exact form above).
    Declared("q_negative_samples_sampled",
      (s, d) => {
        val docs = documents(s, d)
        DedupOps.negativeSamples(docs,
          DedupOps.jaccardPairs(docs, 80).select("a_id", "b_id"),
          k = 2, expectedCandidates = 16)
      },
      Some(s"""WITH ${jaccardPairCtes("documents", 80)},
        pos AS (SELECT a_id AS anchor_id, b_id AS cand_id FROM p
                UNION ALL SELECT b_id, a_id FROM p),
        ids AS (SELECT DISTINCT doc_id FROM documents),
        n AS (SELECT COUNT(*)::BIGINT AS n_ids FROM ids),
        cands AS (SELECT doc_id FROM ids, n
              WHERE ('0x' || substr(md5('negcand:' ||
                      CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
                    < LEAST(1000000, (16 * 1000000 + n_ids - 1) // n_ids)),
        grid AS (SELECT a.doc_id AS anchor_id, b.doc_id AS cand_id
              FROM ids a JOIN cands b ON a.doc_id <> b.doc_id),
        neg AS (SELECT g.anchor_id, g.cand_id FROM grid g
              WHERE NOT EXISTS (SELECT 1 FROM pos
                WHERE pos.anchor_id = g.anchor_id
                  AND pos.cand_id = g.cand_id))
        SELECT anchor_id, cand_id, rn FROM (
          SELECT anchor_id, cand_id,
            ROW_NUMBER() OVER (PARTITION BY anchor_id
              ORDER BY ('0x' || substr(md5(CAST(anchor_id AS VARCHAR)
                || ':' || CAST(cand_id AS VARCHAR)), 1, 15))::BIGINT,
                cand_id) AS rn
          FROM neg)
        WHERE rn <= 2
        ORDER BY anchor_id, rn""")),

    // INT8 quantization error audit (SimilarityOps.quantizeInt8Error):
    // the commit-gate every embedding store runs before serving 4×
    // smaller vectors — symmetric per-vector quantize/reconstruct on
    // the fixed-point grid with truncating div, error mass exact and
    // hash-checked. Engine plan is one map pass (array folds, no
    // explode); the oracle replays it relationally via unnest.
    Declared("q_vec_quantize",
      (s, d) => SimilarityOps.quantizeInt8Error(embeddings(s, d)),
      Some(s"""WITH ${fixedPointExplode()},
        s AS (SELECT vec_id, MAX(abs(vi)) AS scale_s,
                CAST(SUM(abs(vi)) AS BIGINT) AS abs_sum_s
              FROM e GROUP BY vec_id),
        q AS (SELECT e.vec_id,
                CASE WHEN s.scale_s = 0 THEN CAST(0 AS BIGINT)
                     ELSE abs(e.vi -
                       (((e.vi * 127) // s.scale_s) * s.scale_s) // 127)
                END AS err
              FROM e JOIN s USING (vec_id))
        SELECT vec_id, s.scale_s, s.abs_sum_s,
          CAST(SUM(q.err) AS BIGINT) AS err_s,
          CASE WHEN s.abs_sum_s = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(SUM(q.err) AS BIGINT) * 1000000 // s.abs_sum_s
          END AS err_ppm
        FROM q JOIN s USING (vec_id)
        GROUP BY vec_id, s.scale_s, s.abs_sum_s
        ORDER BY vec_id""")),

    // Token-budget curation (TextOps.tokenBudgetSelect): per source,
    // greedily keep the highest distinct-word-ratio docs until the
    // feed's cumulative word count reaches 600 (DuckDB-probed: keeps
    // 302/500 docs across all 20 sources — both kept and dropped sets
    // non-trivial). Counts shuffle, text never does.
    Declared("q_token_budget",
      (s, d) => TextOps.tokenBudgetSelect(documents(s, d), budgetTokens = 600L),
      Some(s"""WITH ${tokenBudgetSelect()}""")),

    // Deterministic shard assignment (Relational.shardAssign): the
    // reproducible "global shuffle" layout step — shard + in-shard
    // position as pure functions of the portable 60-bit md5, so every
    // retry lands every doc in the same training order.
    Declared("q_shard_assign",
      (s, d) => Relational.shardAssign(
        documents(s, d).select("doc_id"), "doc_id", nShards = 8),
      Some("""WITH h AS (SELECT doc_id,
                CAST(('0x' || substr(md5('shard:' ||
                  CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
              FROM documents)
        SELECT doc_id, CAST(h % 8 AS BIGINT) AS shard,
          CAST(row_number() OVER (PARTITION BY h % 8
            ORDER BY h, doc_id) AS BIGINT) AS pos
        FROM h ORDER BY doc_id""")),

    // PIVOT through the SQL FRONT DOOR: the relational-pivot syntax a
    // warehouse-SQL user writes verbatim (q_pivot covers the DataFrame
    // API form). Explicit IN-list per the engine-wide pivot discipline;
    // COALESCE(..,0) at the boundary because Spark's pivot emits NULL
    // for an absent (priority,status) cell while the oracle's
    // COUNT(FILTER) emits 0 — pinned to 0 on both sides.
    Declared("q_sql_pivot",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT o_orderpriority,
            COALESCE(o, 0L) AS o_cnt, COALESCE(f, 0L) AS f_cnt,
            COALESCE(p, 0L) AS p_cnt
          FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
          PIVOT (COUNT(*) FOR o_orderstatus IN ('O' AS o, 'F' AS f, 'P' AS p))
          ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority,
          CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS o_cnt,
          CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS f_cnt,
          CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS p_cnt
        FROM orders GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // Deequ-style constraint audit (Relational.checkConstraints): five
    // declarative checks in ONE aggregate pass. Mixed verdicts by
    // construction (probed at sf0.01): qty>45 fires 5967, the synthetic
    // lineitem's (orderkey,linenumber) is deliberately NOT unique
    // (14168 dups), null/bounds checks pass — so the output
    // differentiates and the pass column carries both values.
    Declared("q_constraint_audit",
      (s, d) => Relational.checkConstraints(
        lineitem(s, d),
        violations = Seq(
          "qty_le_45" -> (col("l_quantity") > 45),
          "partkey_notnull" -> col("l_partkey").isNull,
          "discount_bounds" ->
            (col("l_discount") < 0.0 || col("l_discount") > 0.1)),
        uniqueKeys = Seq(
          "pk_unique" -> Seq("l_orderkey", "l_linenumber"),
          "orderkey_unique" -> Seq("l_orderkey"))),
      Some("""WITH v AS (
          SELECT 'qty_le_45' AS c,
            CAST(COUNT(*) FILTER (WHERE l_quantity > 45) AS BIGINT) AS violations
          FROM lineitem
          UNION ALL SELECT 'partkey_notnull',
            CAST(COUNT(*) FILTER (WHERE l_partkey IS NULL) AS BIGINT)
          FROM lineitem
          UNION ALL SELECT 'discount_bounds',
            CAST(COUNT(*) FILTER (WHERE l_discount < CAST('0.0' AS DOUBLE)
              OR l_discount > CAST('0.1' AS DOUBLE)) AS BIGINT)
          FROM lineitem
          UNION ALL SELECT 'pk_unique',
            CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
          FROM lineitem
          UNION ALL SELECT 'orderkey_unique',
            CAST(COUNT(*) - COUNT(DISTINCT l_orderkey) AS BIGINT)
          FROM lineitem)
        SELECT c AS constraint, violations, violations = 0 AS pass
        FROM v ORDER BY c""")),

    // K-anonymity suppression (Relational.kAnonymize): (lang, source)
    // combos with < 5 docs are suppressed to '*' — the metadata-privacy
    // curation step before corpus release. Probed non-vacuous at sf0.01:
    // group sizes spread 1-16, 55 of 100 combos below k=5.
    Declared("q_anonymize_rare",
      (s, d) => Relational.kAnonymize(
        documents(s, d).select("doc_id", "lang", "source"),
        "doc_id", Seq("lang", "source"), k = 5),
      Some("""WITH g AS (SELECT lang, source, COUNT(*)::BIGINT AS grp_n
              FROM documents GROUP BY 1, 2)
        SELECT d.doc_id,
          CASE WHEN g.grp_n < 5 THEN '*' ELSE d.lang END AS lang,
          CASE WHEN g.grp_n < 5 THEN '*' ELSE d.source END AS source,
          g.grp_n, g.grp_n < 5 AS suppressed
        FROM documents d JOIN g
          ON d.lang IS NOT DISTINCT FROM g.lang
         AND d.source IS NOT DISTINCT FROM g.source
        ORDER BY d.doc_id""")),

    // Cluster-atomic train/test split (DedupOps.leakageFreeSplit): every
    // member of a verified near-dup cluster inherits ONE split (the
    // eval-contamination guard a per-doc hash split lacks); singletons
    // split on their own id. Same %10 slice + LSH recall posture as
    // q_neardup_clusters; oracle recomputes clusters via the recursive
    // transitive closure and applies the identical portable-md5 gate.
    Declared("q_leakage_split",
      (s, d) => DedupOps.leakageFreeSplit(
        documents(s, d).filter(pmod(col("doc_id"), lit(10)) === 0),
        numHashes = 32, rowsPerBand = 2, minJaccardPct = 80,
        testPermille = 300),
      Some(s"""WITH RECURSIVE docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        ${jaccardPairCtes("docs", 80)},
        $componentCtes,
        m AS (SELECT src AS doc_id, LEAST(src, MIN(dst))::BIGINT AS cluster_id
              FROM reach GROUP BY src)
        SELECT d.doc_id,
          COALESCE(m.cluster_id, d.doc_id) AS cluster_id,
          CASE WHEN ('0x' || substr(md5('split:' ||
              CAST(COALESCE(m.cluster_id, d.doc_id) AS VARCHAR)), 1, 15))::BIGINT
              % 1000 < 300
            THEN 'test' ELSE 'train' END AS split
        FROM docs d LEFT JOIN m ON d.doc_id = m.doc_id
        ORDER BY d.doc_id""")),

    // L5 MULTIMODAL, ORACLE-CHECKED (VERDICT r10 #4 — the one family
    // whose correctness evidence was fixtures alone): deterministic
    // PNG + WAV payloads are GENERATED inside the query (distributed,
    // derived from documents.doc_id — the q_scrub_pii augmentation
    // precedent), then run through the REAL codec pipelines —
    // ImageIO decode → box-averaged dHash, RIFF chunk-walk →
    // envelope fingerprint — and the integer fingerprint bits are
    // hash-compared against DuckDB's pure-arithmetic replay (the
    // fixtures are constructed so the codec math collapses to shared
    // md5-derived integers; see mediaSigCtes). A broken encoder,
    // decoder, luma weight, frame split, or bit packing flips bits
    // and goes red.
    Declared("q_media_fingerprint",
      (s, d) => {
        val ids = documents(s, d).filter(pmod(col("doc_id"), lit(25)) === 0)
          .select(col("doc_id").as("media_id"))
        val img = graft.multimodal.MultimodalOps.imageDHashes(
          graft.multimodal.MultimodalOps.syntheticImages(ids))
          .select(lit("image").as("kind"), col("media_id"),
            col("dhash").as("fp"))
        val aud = graft.multimodal.MultimodalOps.audioFingerprints(
          graft.multimodal.MultimodalOps.syntheticAudio(ids))
          .select(lit("audio").as("kind"), col("media_id"),
            col("afp").as("fp"))
        img.unionByName(aud).orderBy("kind", "media_id")
      },
      Some(s"""WITH $mediaSigCtes
        SELECT kind, media_id, fp FROM (
          SELECT 'audio' AS kind, media_id, fp FROM aud
          UNION ALL
          SELECT 'image' AS kind, media_id, fp FROM img)
        ORDER BY kind, media_id""")),

    // …and the near-dup step over those fingerprints: the hamming-band
    // kernel (pigeonhole-complete at 4 bands × 16 bits for hamming ≤ 3,
    // so the DECLARED relation is exactly "all pairs within 3 bit
    // flips" — which the oracle replays as a direct hamming join over
    // its recomputed fingerprints). The fixture's variant structure
    // (one inverted cell / one flipped sample per group) plants
    // within-group pairs at hamming ≤ 2; cross-group hashes sit ~32
    // bits apart.
    Declared("q_media_neardup",
      (s, d) => {
        val ids = documents(s, d).filter(pmod(col("doc_id"), lit(25)) === 0)
          .select(col("doc_id").as("media_id"))
        val img = graft.multimodal.MultimodalOps.imageNearDupPairs(
          graft.multimodal.MultimodalOps.syntheticImages(ids), maxHamming = 3)
          .select(lit("image").as("kind"), col("a_id"), col("b_id"),
            col("hamming"))
        val aud = graft.multimodal.MultimodalOps.audioNearDupPairs(
          graft.multimodal.MultimodalOps.syntheticAudio(ids), maxHamming = 3)
          .select(lit("audio").as("kind"), col("a_id"), col("b_id"),
            col("hamming"))
        img.unionByName(aud).orderBy("kind", "a_id", "b_id")
      },
      Some(s"""WITH $mediaSigCtes
        SELECT kind, a_id, b_id, hamming FROM (
          SELECT 'audio' AS kind, a.media_id AS a_id, b.media_id AS b_id,
                 CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
          FROM aud a JOIN aud b ON a.media_id < b.media_id
          WHERE bit_count(xor(a.fp, b.fp)) <= 3
          UNION ALL
          SELECT 'image' AS kind, a.media_id AS a_id, b.media_id AS b_id,
                 CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
          FROM img a JOIN img b ON a.media_id < b.media_id
          WHERE bit_count(xor(a.fp, b.fp)) <= 3)
        ORDER BY kind, a_id, b_id""")),

    // END-TO-END MEDIA INGEST (VERDICT r11 #5): the SAME deterministic
    // PNG/WAV corpus, but materialized ONCE as real files (memoized on
    // the documents.parquet fingerprint — the layout-rewrite
    // precedent) and re-ingested through Spark's binaryFile
    // datasource, so the declared relation exercises the full
    // write→binaryFile-scan→decode→fingerprint loop, not just
    // decode→fingerprint. media_id rides in the file NAME and is
    // recovered by regexp from `path` (the manifest-free id contract
    // writeMediaFiles documents); fingerprint math and oracle are
    // IDENTICAL to q_media_fingerprint — any file lost, duplicated,
    // or corrupted in the round-trip flips the hash compare.
    Declared("q_media_ingest",
      (s, d) => {
        import graft.multimodal.MultimodalOps
        val root = new java.io.File(
          s"target/media_rb_${math.abs(d.hashCode.toLong)}").getAbsolutePath
        graft.sources.SessionMemo.artifact(
          s, s"media:$root", s"$d/documents.parquet", root) {
          val ids = documents(s, d).filter(pmod(col("doc_id"), lit(25)) === 0)
            .select(col("doc_id").as("media_id"))
          // wipe any prior materialization first: a shrunken id set
          // must not leave stale files for the directory scan to find
          val rp = new org.apache.hadoop.fs.Path(root)
          rp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(rp, true)
          MultimodalOps.writeMediaFiles(
            MultimodalOps.syntheticImages(ids), s"$root/img", "img_")
          MultimodalOps.writeMediaFiles(
            MultimodalOps.syntheticAudio(ids), s"$root/au", "au_")
        }
        def recover(df: DataFrame, re: String) =
          df.withColumn("media_id",
              regexp_extract(col("path"), re, 1).cast("long"))
            .select("media_id", "payload", "meta")
        val img = MultimodalOps.imageDHashes(recover(
          MultimodalOps.fromBinaryFiles(s, s"$root/img", "image"),
          "img_(\\d+)\\.png$"))
          .select(lit("image").as("kind"), col("media_id"),
            col("dhash").as("fp"))
        val aud = MultimodalOps.audioFingerprints(recover(
          MultimodalOps.fromBinaryFiles(s, s"$root/au", "audio"),
          "au_(\\d+)\\.wav$"))
          .select(lit("audio").as("kind"), col("media_id"),
            col("afp").as("fp"))
        img.unionByName(aud).orderBy("kind", "media_id")
      },
      Some(s"""WITH $mediaSigCtes
        SELECT kind, media_id, fp FROM (
          SELECT 'audio' AS kind, media_id, fp FROM aud
          UNION ALL
          SELECT 'image' AS kind, media_id, fp FROM img)
        ORDER BY kind, media_id""")),

    // BUCKETED-LAYOUT READ-BACK (VERDICT r9 #3): the write path gets a
    // DECLARED query, not only a plan spec — both sides are re-bucketed
    // by the join key into the session catalog (8 buckets), then joined
    // and aggregated FROM the bucketed tables. Values must equal the
    // plain join (bucketing is layout, not semantics) — which is
    // exactly what the oracle checks; the zero-Exchange co-location
    // contract itself is plan-asserted in BucketedJoinSpec. The rewrite
    // is memoized on the SOURCE FINGERPRINT (VERDICT r10 #3): one
    // rewrite per session per source state — a driver-regenerated
    // testdata moves the fingerprint and forces the rewrite (the r8
    // staleness lesson, now at listing cost instead of a full copy per
    // invocation).
    Declared("q_bucketed_join",
      (s, d) => {
        graft.sources.StorageOps.writeBucketedTableCached(orders(s, d),
          s"$d/orders.parquet", "orders_rb", "o_orderkey", 8,
          sortCols = Seq("o_orderkey"))
        graft.sources.StorageOps.writeBucketedTableCached(lineitem(s, d),
          s"$d/lineitem.parquet", "lineitem_rb", "l_orderkey", 8,
          sortCols = Seq("l_orderkey"))
        s.table("orders_rb")
          .join(s.table("lineitem_rb"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_lines"),
            outD(dec(sum(dec(col("l_quantity"))))).as("sum_qty"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(*)::BIGINT AS n_lines,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
            AS DOUBLE) AS sum_qty
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Z-ORDER READ-BACK (VERDICT r9 #3): events is rewritten through
    // the Morton-interleave compaction (z on user_id × value, the
    // two-dimension pruning layout ZOrderSpec scan-metrics-asserts),
    // then the declared result is a two-dimensional range filter +
    // aggregate read FROM the z-ordered copy. Row content is
    // byte-identical to the input by the compaction contract, so the
    // result is layout/encoding-independent — the oracle runs the same
    // filter on the ORIGINAL parquet. Rewrite memoized on the source
    // fingerprint (VERDICT r10 #3, same discipline as q_bucketed_join;
    // the copy is rows-bounded, not corpus-wide).
    Declared("q_zorder_scan",
      (s, d) => {
        val out = new java.io.File(
          s"target/zorder_rb_${math.abs(d.hashCode.toLong)}").getAbsolutePath
        graft.sources.StorageOps.compactZOrderCached(s, s"$d/events.parquet", out,
          targetBytes = 4L << 20, zCols = Seq("user_id", "value"))
        s.read.parquet(out)
          .filter(col("user_id").between(3L, 9L) &&
            col("value") >= 20.0 && col("value") < 200.0)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_s2"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*)::BIGINT AS n_events,
          CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_s2
        FROM events
        WHERE user_id BETWEEN 3 AND 9 AND value >= 20.0 AND value < 200.0
        GROUP BY event_type ORDER BY event_type""")),

    // ================= round-12 additions ===============================

    // THE COMPOSED CURATION PIPELINE (VERDICT r11 #1): raw docs → exact
    // dedup → near-dup canonical keepers → decontaminate vs a held-out
    // slice → quality filter → DSIR select → pack, as ONE declared query
    // emitting per-stage (rows_in, rows_out, tokens_out) accounting.
    // Input = the %4 slice plus re-inserted %200 dupes under shifted ids
    // (the q_dedup_exact trick — the raw corpus has no exact dups, so
    // stage 1 must be fed some); benchmark = the %100=50 slice, which is
    // ≡ 2 (mod 4) and therefore DISJOINT from the input by construction
    // — a genuine held-out eval set. Stage params mirror the standalone
    // queries (q_dedup_canonical's LSH 32×2@80, q_decontaminate's
    // 3-gram/≥3, q_quality_filter's 30-word/10% thresholds,
    // q_dsir_resample's 1024 buckets, q_pack_sequences' 128/100), so the
    // oracle below reuses those queries' proven CTE bodies, chained with
    // MATERIALIZED hints (DuckDB would otherwise re-inline the chain
    // once per accounting reference — exponential blowup, measured).
    // Non-vacuous at every stage and SF: sf0.01 walks
    // 128→125→47→46→12→3 docs→3 bins. The corpus-pinned LSH recall note
    // of q_neardup_lsh_verified applies to stage 2 (brute-force oracle,
    // banded engine plan — exact-equal on these corpora, no all-pairs
    // join in the engine). Composition invariant (each stage frame
    // truncated once, both consumers read the checkpoint, nothing
    // recomputes upstream stages) is pinned in CurationPipelineSpec.
    Declared("q_pipeline_curate",
      (s, d) => CurationPipeline.curate(
        documents(s, d).filter(pmod(col("doc_id"), lit(4)) === 0)
          .unionByName(documents(s, d)
            .filter(pmod(col("doc_id"), lit(200)) === 0)
            .withColumn("doc_id", col("doc_id") + lit(10000000L))),
        documents(s, d).filter(pmod(col("doc_id"), lit(100)) === 50)),
      Some(s"""WITH RECURSIVE
        ${curationChainCtes("k1")},
        ${curationAcct(bpe = false)}""")),

    // LSH INDEX MAINTENANCE (VERDICT r11 #3): the ingest loop's upsert
    // verb, oracle-checked by its REBUILD-EQUIVALENCE contract. Batch 1
    // (the %3=1 slice PLUS re-crawled versions of the %30=0 corpus docs
    // — same ids, upper-cased text, exercising the supersede path) is
    // flagged against the %3=0 corpus index, then upserted into it;
    // batch 2 (%3=2) is flagged against the UPSERTED index. The oracle
    // replays batch 2's decisions against an index REBUILT from scratch
    // on the merged corpus (old version rows dropped, new appended) —
    // hash-equality proves upsert ≡ rebuild. Same md5-seed MinHash
    // family and band arithmetic as q_minhash_lsh (12 hashes × 3 rows
    // → 4 bands); the engine joins on xxhash64 band hashes, the oracle
    // on band signature strings — equal iff the band rows are equal
    // (the q_minhash_lsh collision argument). Exact band-relation
    // parity (upsert vs rebuild) is additionally spec-pinned in
    // Round12OpsSpec; the streaming ingest→flag→accept→upsert loop in
    // StreamingNearDupSpec.
    Declared("q_dedup_index_upsert",
      (s, d) => {
        val docs = documents(s, d)
        val c0 = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
          .select("doc_id", "text")
        val b1 = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
          .select("doc_id", "text")
          .unionByName(docs.filter(pmod(col("doc_id"), lit(30)) === 0)
            .select(col("doc_id"), upper(col("text")).as("text")))
        val b2 = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
          .select("doc_id", "text")
        val idx0Bands = DedupOps.corpusBandDocs(c0, 12, 3,
          DedupOps.Md5SeedHash60).lineageTruncate()
        val idx0Sets = DedupOps.corpusHashedSets(c0).lineageTruncate()
        val dec1 = DedupOps.dedupAgainstIndex(b1, idx0Bands, 12, 3,
          DedupOps.Md5SeedHash60)
        val (idx1Bands, _) = DedupOps.indexUpsert(idx0Bands, idx0Sets, b1,
          12, 3, DedupOps.Md5SeedHash60)
        val dec2 = DedupOps.dedupAgainstIndex(b2, idx1Bands.lineageTruncate(),
          12, 3, DedupOps.Md5SeedHash60)
        dec1.withColumn("batch_no", lit(1L))
          .unionByName(dec2.withColumn("batch_no", lit(2L)))
          .select("batch_no", "doc_id", "matched_corpus")
          .orderBy("batch_no", "doc_id")
      },
      Some("""WITH
        c0 AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        b1 AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
              UNION ALL SELECT doc_id, upper(text) FROM documents WHERE doc_id % 30 = 0),
        b2 AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
        c1 AS MATERIALIZED (SELECT doc_id, text FROM c0 WHERE doc_id % 30 <> 0
              UNION ALL SELECT doc_id, text FROM b1),
        ad AS MATERIALIZED (
          SELECT 'c0' AS tag, doc_id, text FROM c0
          UNION ALL SELECT 'b1', doc_id, text FROM b1
          UNION ALL SELECT 'c1', doc_id, text FROM c1
          UNION ALL SELECT 'b2', doc_id, text FROM b2),
        w AS (SELECT DISTINCT tag, doc_id, unnest(string_split(text, ' ')) AS word FROM ad),
        hx AS (SELECT tag, doc_id, s.i AS seed,
                 MIN(('0x' || substr(md5(CAST(s.i AS VARCHAR) || ':' || word), 1, 15))::BIGINT) AS mh
               FROM w CROSS JOIN range(12) s(i)
               GROUP BY tag, doc_id, s.i),
        bands AS MATERIALIZED (
          SELECT tag, doc_id, seed // 3 AS band_idx,
            string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS band_sig
          FROM hx GROUP BY tag, doc_id, seed // 3),
        m1 AS (SELECT DISTINCT a.doc_id FROM bands a JOIN bands c
               ON a.band_idx = c.band_idx AND a.band_sig = c.band_sig
               WHERE a.tag = 'b1' AND c.tag = 'c0'),
        m2 AS (SELECT DISTINCT a.doc_id FROM bands a JOIN bands c
               ON a.band_idx = c.band_idx AND a.band_sig = c.band_sig
               WHERE a.tag = 'b2' AND c.tag = 'c1'),
        dec AS (
          SELECT 1 AS batch_no, doc_id,
            CASE WHEN doc_id IN (SELECT doc_id FROM m1) THEN 1 ELSE 0 END AS matched_corpus
          FROM b1
          UNION ALL
          SELECT 2, doc_id,
            CASE WHEN doc_id IN (SELECT doc_id FROM m2) THEN 1 ELSE 0 END
          FROM b2)
        SELECT batch_no::BIGINT AS batch_no, doc_id,
               matched_corpus::BIGINT AS matched_corpus
        FROM dec ORDER BY batch_no, doc_id""")),

    // LSH BAND-PARAMETER CALIBRATION (VERDICT r11 #6): the S-curve
    // catch probability p = 1 − (1 − τ^r)^b for every production
    // (numHashes, rowsPerBand) config plus the nearby alternatives, at
    // τ ∈ {50,70,80,90}% — as EXACT ppm integers (both engines replay
    // the identical truncating fixed-point power chain, Spark via
    // codegen'd `aggregate(sequence(...))` folds, DuckDB via recursive
    // CTEs — an audited relation, not a float approximation). This
    // turns the library's band constants into checked engineering:
    // the verified tier's 32×2 config reads catch_ppm 989979 at τ=50%
    // and ≥999980 from τ=70% up — WHY its candidate recall meets the
    // q_ann_recall_audit floor; q_minhash_lsh's 12×3 shows the sharper
    // knee (413820 @ 50% vs 943288 @ 80%) that makes it the
    // low-cost/high-τ config. Pure arithmetic — no table read — so the
    // relation is SF-invariant by construction.
    Declared("q_lsh_calibration",
      (s, d) => lshCalibration(s)
        .orderBy("num_hashes", "rows_per_band", "tau_ppm"),
      Some(s"""WITH RECURSIVE $lshCalibrationCtes
        SELECT * FROM cal
        ORDER BY num_hashes, rows_per_band, tau_ppm""")),

    // BAND-PARAMETER AUTOCONFIG (round 13): close the loop the
    // calibration opened — given (τ, recall floor) requirements, pick
    // the CHEAPEST grid config whose S-curve catch probability meets
    // the floor. Cost order: num_hashes first (signature compute +
    // storage per doc), then num_bands (banded shuffle rows per doc) —
    // fully deterministic. The four requirements are chosen so
    // different configs win (12×3 for the loose τ=0.8 floor, 16×2 at
    // τ=0.7/0.99, 32×2 where only a wide-band config clears 0.98 at
    // τ=0.5 or 0.999999 at τ=0.9) — the relation that documents WHICH
    // config a pipeline should run for a stated recall target, not
    // just what each config would catch.
    Declared("q_lsh_autoconfig",
      (s, d) => {
        import s.implicits._
        val reqs = Seq(
          (500000L, 980000L), (700000L, 990000L),
          (800000L, 900000L), (900000L, 999999L))
          .toDF("tau_ppm", "min_catch_ppm")
        val byCost = Window.partitionBy("tau_ppm", "min_catch_ppm")
          .orderBy("num_hashes", "num_bands")
        reqs.join(lshCalibration(s), Seq("tau_ppm"))
          .filter(col("catch_ppm") >= col("min_catch_ppm"))
          .withColumn("rn", row_number().over(byCost))
          .filter(col("rn") === 1)
          .select("tau_ppm", "min_catch_ppm", "num_hashes",
            "rows_per_band", "num_bands", "catch_ppm")
          .orderBy("tau_ppm", "min_catch_ppm")
      },
      Some(s"""WITH RECURSIVE $lshCalibrationCtes,
        reqs(tau_ppm, min_catch_ppm) AS (VALUES
          (500000, 980000), (700000, 990000),
          (800000, 900000), (900000, 999999)),
        pick AS (SELECT c.tau_ppm, CAST(r.min_catch_ppm AS BIGINT) AS min_catch_ppm,
            c.num_hashes, c.rows_per_band, c.num_bands, c.catch_ppm,
            ROW_NUMBER() OVER (PARTITION BY c.tau_ppm, r.min_catch_ppm
                               ORDER BY c.num_hashes, c.num_bands) AS rn
          FROM reqs r JOIN cal c ON c.tau_ppm = r.tau_ppm
          WHERE c.catch_ppm >= r.min_catch_ppm)
        SELECT tau_ppm, min_catch_ppm, num_hashes, rows_per_band,
               num_bands, catch_ppm
        FROM pick WHERE rn = 1
        ORDER BY tau_ppm, min_catch_ppm""")),

    // ================= round-13 additions ===============================

    // BPE TOKENIZER-MERGE FITTING (L4): the tokenizer-training step of
    // a training-data pipeline — 6 rounds of most-frequent-adjacent-pair
    // merging over the corpus vocabulary (Sennrich et al., ACL'16),
    // emitting per round the chosen pair, its frequency-weighted count,
    // and the post-merge corpus/vocab symbol accounting (corpus_symbols
    // strictly decreases — the compression the fitted merges buy).
    // Engine: one corpus-sized word count, then vocab-sized rounds with
    // the fused fold expression (plans/BpeMergePair); tie-breaks are
    // lexicographic under binary collation in both engines. Oracle:
    // the identical rounds unrolled as CTEs (the IVF-Lloyd precedent),
    // with the leftmost-nonoverlapping merge replayed relationally via
    // the gaps-and-islands window parity rule (consecutive candidates
    // only arise for same-symbol runs; keep even offsets).
    Declared("q_bpe_merges",
      (s, d) => TextOps.bpeFit(documents(s, d), rounds = 6, topWords = 31),
      Some(bpeOracle(rounds = 6, topWords = 31))),

    // BPE ENCODE (round 13): the consumer side of q_bpe_merges — per
    // source, the whitespace token count and the symbol count the
    // fitted tokenizer emits on the corpus. Encoding is vocab-sized
    // (each DISTINCT word encoded once; the corpus-sized side only
    // joins the per-word symbol count back by word, broadcast); words
    // beyond the vocabulary cap fall back to character count. Oracle:
    // the same unrolled fit CTEs, then len(syms) joined to the word
    // stream — identical tie-breaks make the fitted merges, and hence
    // every count, bit-equal across engines.
    Declared("q_bpe_encode",
      (s, d) => TextOps.bpeEncode(documents(s, d), rounds = 6, topWords = 31),
      Some(s"""WITH ${bpeOracleCtes(rounds = 6, topWords = 31)},
        wt AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_bpe FROM s6),
        w AS (SELECT source, unnest(string_split(text, ' ')) AS word
              FROM documents)
        SELECT source, COUNT(*)::BIGINT AS whitespace_tokens,
               CAST(SUM(COALESCE(n_bpe, len(word))) AS BIGINT) AS bpe_tokens
        FROM w LEFT JOIN wt USING (word)
        GROUP BY source ORDER BY source""")),

    // PRODUCT-QUANTIZATION SEARCH (round 13): the memory-bounded-codes
    // ANN tier (Jégou et al., TPAMI'11) — m=4 per-subspace integer
    // codebooks trained jointly with the IVF discipline (deterministic
    // lowest-id seeds, truncating Lloyd updates, lowest-cell ties),
    // corpus vectors coded to m codeword ids, queries scored by the
    // ADC identity as one reconstructed codegen dot. Every number
    // fixed-point integer; the oracle unrolls the same Lloyd rounds
    // with the subspace id riding through the IVF CTE chain. The
    // recall floor vs the exact scan is pinned in Round13OpsSpec (the
    // q_ann_recall_audit convention).
    Declared("q_simsearch_pq",
      (s, d) => SimilarityOps.pqTopKExact(embeddings(s, d), d, m = 8,
        kSub = 16, iterations = 2, trainSampleMod = 4,
        queryIds = (0L until 8L), topK = 5),
      Some(pqExactOracle(m = 8, kSub = 16, iterations = 2, mod = 4,
        topK = 5, nQueries = 8))),

    // PQ + EXACT REFINE (round 13): the production composition — ADC
    // codes select 100 candidates per query (the RAM-resident scan),
    // then only those fetch full-precision vectors for the exact
    // re-rank. Measured recall@5 on the shipped corpora: 0.80–0.85
    // (vs 0.35–0.43 for raw ADC — codes generate candidates, the
    // refine ranks); the floor rides Round13OpsSpec. Oracle = the PQ
    // chain plus the candidate-limited exact re-rank.
    Declared("q_simsearch_pq_refined",
      (s, d) => SimilarityOps.pqTopKRefined(embeddings(s, d), d, m = 8,
        kSub = 16, iterations = 2, trainSampleMod = 4,
        queryIds = (0L until 8L), topK = 5, refineCandidates = 100),
      Some(pqExactOracle(m = 8, kSub = 16, iterations = 2, mod = 4,
        topK = 5, nQueries = 8, refine = Some(100)))),

    // IVF-PQ (round 13): the complete FAISS-style stack as ONE declared
    // query — coarse cells prune (the SAME memoized codebook as
    // q_simsearch_ivf: identical cache key, trained once per suite),
    // PQ codes over the RESIDUALS v − c[cell] score the probed cells
    // (residual quantization — the codebooks spend their bits on what
    // the coarse centroid leaves unexplained), and the top-50
    // candidates per query re-rank exactly. The oracle composes the
    // proven IVF and PQ CTE chains with a residual-component CTE
    // between them and the two-term ADC q·c[cell] + q·recon(code).
    Declared("q_simsearch_ivfpq",
      (s, d) => SimilarityOps.ivfPqTopKExact(embeddings(s, d), d, kIvf = 8,
        nProbe = 2, m = 8, kSub = 16, iterations = 2, trainSampleMod = 4,
        queryIds = (0L until 8L), topK = 5, refineCandidates = 50),
      Some(ivfPqExactOracle(kIvf = 8, nProbe = 2, m = 8, kSub = 16,
        iterations = 2, mod = 4, topK = 5, nQueries = 8, refineC = 50))),

    // PACKING-EFFICIENCY AUDIT (round 13): per source, how full
    // q_pack_sequences' bins actually are — the number you tune the
    // token budget against. One rollup over the bin frame; the oracle
    // extends the pack CTE with the same rollup.
    Declared("q_pack_utilization",
      (s, d) => TextOps.packUtilization(documents(s, d), 128L, 100L),
      Some(s"""WITH ${regexTokCte("t", "documents")},
        ${packCumCte("c", "t")},
        bins AS (SELECT source, shard, cb // 128 AS bin,
                CAST(SUM(n) AS BIGINT) AS bin_tokens
              FROM c GROUP BY 1, 2, 3)
        SELECT source, COUNT(*)::BIGINT AS n_bins,
          CAST(SUM(bin_tokens) AS BIGINT) AS packed_tokens,
          MAX(bin_tokens) AS max_bin_tokens,
          CAST(SUM(bin_tokens) * 1000000 // (COUNT(*) * 128) AS BIGINT)
            AS fill_ppm
        FROM bins GROUP BY source ORDER BY source""")),

    // NEAR-DUP THRESHOLD SENSITIVITY (round 13): pair mass and docs
    // involved as the Jaccard threshold tightens from the base 80% —
    // the minJaccardPct knob audit, one banded pass for the whole grid
    // (base kept at 80 so the band catch probability keeps the verified
    // set provably brute-force-equal; see the scaladoc). Runs on the
    // same %4 slice as q_dedup_canonical (the pair-family declared
    // convention — the regenerated full corpus packs ~3M verified
    // pairs whose enumeration cost belongs to a knob audit's slice,
    // not its bench line; measured 24.6 s full vs ~2 s sliced at
    // sf0.1), so the curve reads directly against the canonical
    // clustering's input. Oracle: the brute-force pair CTE + the same
    // conditional counts, left-joined so zero-pair thresholds still
    // emit rows.
    Declared("q_neardup_threshold_curve",
      (s, d) => DedupOps.thresholdCurve(
        documents(s, d).filter(pmod(col("doc_id"), lit(4)) === 0),
        32, 2, 80,
        Seq(800000L, 850000L, 900000L, 950000L, 1000000L)),
      Some(s"""WITH docs AS (SELECT doc_id, text FROM documents
                WHERE doc_id % 4 = 0),
        ${wordOverlapCtes("docs")},
        p AS (SELECT c.a_id, c.b_id,
                c.common * 1000000 // (sa.set_size + sb.set_size - c.common) AS j_ppm
              FROM c JOIN sz sa ON c.a_id = sa.doc_id
                     JOIN sz sb ON c.b_id = sb.doc_id
              WHERE c.common * 100 >= (sa.set_size + sb.set_size - c.common) * 80),
        grid(tau_ppm) AS (VALUES (800000), (850000), (900000),
                (950000), (1000000)),
        f AS (SELECT g.tau_ppm, p.a_id, p.b_id FROM grid g
              JOIN p ON p.j_ppm >= g.tau_ppm),
        np AS (SELECT tau_ppm, COUNT(*)::BIGINT AS n_pairs FROM f
               GROUP BY tau_ppm),
        nd AS (SELECT tau_ppm, COUNT(*)::BIGINT AS n_docs FROM (
                 SELECT DISTINCT tau_ppm, d FROM (
                   SELECT tau_ppm, a_id AS d FROM f
                   UNION ALL SELECT tau_ppm, b_id FROM f))
               GROUP BY tau_ppm)
        SELECT CAST(g.tau_ppm AS BIGINT) AS tau_ppm,
               COALESCE(np.n_pairs, 0) AS n_pairs,
               COALESCE(nd.n_docs, 0) AS n_docs
        FROM grid g LEFT JOIN np ON g.tau_ppm = np.tau_ppm
                    LEFT JOIN nd ON g.tau_ppm = nd.tau_ppm
        ORDER BY tau_ppm""")),

    // UNIGRAM SURPRISAL FILTER (round 13): the CCNet-style LM-bits
    // quality signal, integer-exact — per-word floor(log2(total/cnt))
    // via the portable `length(bin(x)) - 1` identity (both engines
    // ship bin), per-doc q8 mean bits per token, keep = below the
    // 1040-q8 threshold (≈4.06 bits/token — the corpus median is
    // 1031, so the split varies; rare-word-heavy docs are dropped,
    // exactly the perplexity-filter shape).
    Declared("q_surprisal",
      (s, d) => TextOps.surprisalBits(documents(s, d))
        .withColumn("keep",
          when(col("bits_q8") <= 1040L, 1L).otherwise(0L)),
      Some(s"""WITH ${unigramBitsCtes()}
        SELECT w.doc_id, COUNT(*)::BIGINT AS n_words,
               CAST(SUM(wb.bits) AS BIGINT) AS sum_bits,
               CAST(SUM(wb.bits) * 256 // COUNT(*) AS BIGINT) AS bits_q8,
               CASE WHEN SUM(wb.bits) * 256 // COUNT(*) <= 1040
                 THEN 1 ELSE 0 END::BIGINT AS keep
        FROM w JOIN wb USING (word)
        GROUP BY w.doc_id ORDER BY w.doc_id""")),

    // ================= round-14 additions ===============================

    // PERSISTED IVF-PQ CODED CORPUS (VERDICT r13 #1): the same complete
    // FAISS-style stack as q_simsearch_ivfpq, but the search tier scans
    // a WRITTEN (vec_id, ivf_cell, pq_codes) parquet relation — the
    // index artifact that outlives the session, mirroring the LSH
    // corpusBandDocs discipline — instead of re-coding raw embeddings
    // in-plan. Codes are written once per corpus state (memoized on the
    // source-file fingerprint), read back, and the approximation is
    // reassembled from broadcast-literal codebooks (m array lookups per
    // row); probe → ADC → refine is the identical shared tail. Same
    // parameters ⇒ the SAME oracle as q_simsearch_ivfpq — hash-equality
    // against it IS the stored-vs-fresh parity contract, additionally
    // plan-pinned in Round14OpsSpec (the executed plan scans the codes
    // parquet, not a re-code projection).
    Declared("q_simsearch_ivfpq_stored",
      (s, d) => SimilarityOps.ivfPqTopKStored(embeddings(s, d),
        srcDir = s"$d/embeddings.parquet",
        outDir = new java.io.File(
          s"target/ivfpq_codes_${math.abs(d.hashCode.toLong)}").getAbsolutePath,
        cacheKey = d, kIvf = 8, nProbe = 2, m = 8, kSub = 16,
        iterations = 2, trainSampleMod = 4, queryIds = (0L until 8L),
        topK = 5, refineCandidates = 50),
      Some(ivfPqExactOracle(kIvf = 8, nProbe = 2, m = 8, kSub = 16,
        iterations = 2, mod = 4, topK = 5, nQueries = 8, refineC = 50))),

    // FLEET-PATH IVF-PQ SEARCH (round 14, second wave): the complete
    // artifact story as ONE declared query — codebooks written to and
    // LOADED from parquet (ivfPqWriteIndex/ivfPqReadIndex), the
    // cell-clustered codes relation scanned with the probed cells
    // pushed down as an ivf_cell IN filter, and the probe ranking run
    // DRIVER-SIDE against the loaded codebooks (the |q|·dim-bounded
    // request batch; identical truncating-dot/(desc, cell) tie-break,
    // which this oracle now pins against DuckDB's replay every round).
    // Same parameters ⇒ the SAME oracle as q_simsearch_ivfpq: fresh ≡
    // stored ≡ fleet is a three-way oracle-checked identity. The codes
    // relation is SHARED with q_simsearch_ivfpq_stored (same
    // fingerprint-memoized dir) — written once per corpus state.
    Declared("q_simsearch_ivfpq_fleet",
      (s, d) => {
        val emb = embeddings(s, d)
        val src = s"$d/embeddings.parquet"
        val idxDir = new java.io.File(
          s"target/ivfpq_index_${math.abs(d.hashCode.toLong)}").getAbsolutePath
        val cdsDir = new java.io.File(
          s"target/ivfpq_codes_${math.abs(d.hashCode.toLong)}").getAbsolutePath
        SimilarityOps.ivfPqWriteIndex(emb, src, idxDir, d, kIvf = 8, m = 8,
          kSub = 16, iterations = 2, trainSampleMod = 4)
        SimilarityOps.ivfPqWriteCodes(emb, src, cdsDir, d, kIvf = 8, m = 8,
          kSub = 16, iterations = 2, trainSampleMod = 4)
        SimilarityOps.ivfPqTopKFromArtifacts(emb, idxDir, cdsDir,
          nProbe = 2, queryIds = (0L until 8L), topK = 5,
          refineCandidates = 50)
      },
      Some(ivfPqExactOracle(kIvf = 8, nProbe = 2, m = 8, kSub = 16,
        iterations = 2, mod = 4, topK = 5, nQueries = 8, refineC = 50))),

    // CURATION PIPELINE WITH TOKENIZER ACCOUNTING (VERDICT r13 #2):
    // q_pipeline_curate's stages and whitespace counts verbatim (that
    // key stays hash-pinned, untouched), PLUS per-stage
    // bpe_tokens_out — the surviving documents' token count under the
    // BPE artifact fitted on the FULL corpus (q_bpe_merges' 6×31
    // tokenizer, the production "tokenizer is frozen before curation"
    // discipline), OOV words falling back to character count (the
    // q_bpe_encode rule). The pack row keeps packer tokens_out (the
    // bin-budget currency) while its bpe_tokens_out is the packed
    // documents' tokenizer total — the number a training budget
    // actually consumes. Oracle = the proven BPE fit CTE chain (full
    // corpus) + the proven pipeline CTE chain (exact-dedup keeper CTE
    // renamed kd1: the fit chain owns k1..k6) + one vocab-joined word
    // rollup per stage.
    Declared("q_pipeline_curate_bpe",
      (s, d) => {
        val docs = documents(s, d)
        val merges = TextOps.bpeMerges(docs, rounds = 6, topWords = 31)
        val wt = TextOps.bpeWordTokens(docs, merges, topWords = 31)
        CurationPipeline.curateBpe(
          docs.filter(pmod(col("doc_id"), lit(4)) === 0)
            .unionByName(docs.filter(pmod(col("doc_id"), lit(200)) === 0)
              .withColumn("doc_id", col("doc_id") + lit(10000000L))),
          docs.filter(pmod(col("doc_id"), lit(100)) === 50),
          wt)
      },
      Some(s"""WITH RECURSIVE
        ${bpeOracleCtes(rounds = 6, topWords = 31)},
        wt AS MATERIALIZED (
          SELECT word, CAST(len(syms) AS BIGINT) AS n_bpe FROM s6),
        ${curationChainCtes("kd1")},
        ${curationAcct(bpe = true)}""")),

    // TOKENIZER-UNIT SEQUENCE PACKING (round 14): q_pack_sequences'
    // concat-then-chunk bins, priced by the fitted BPE artifact
    // (q_bpe_merges' 6×31 tokenizer; OOV → char count) instead of the
    // regex heuristic — the pack frame a training budget actually
    // consumes, completing the tokenizer's composition into both
    // accounting (q_pipeline_curate_bpe) and layout (here). Same
    // 128/100 constants as q_pack_sequences so the two framings
    // compare bin for bin. Oracle = the proven BPE-fit CTEs pricing
    // the proven pack CTEs.
    Declared("q_pack_bpe",
      (s, d) => {
        val docs = documents(s, d)
        val merges = TextOps.bpeMerges(docs, rounds = 6, topWords = 31)
        TextOps.packSequencesBpe(docs,
          TextOps.bpeWordTokens(docs, merges, topWords = 31), 128L, 100L)
      },
      Some(s"""WITH ${bpeOracleCtes(rounds = 6, topWords = 31)},
        ${bpePackCtes("documents")}
        SELECT source, shard, cb // 128 AS bin, COUNT(*)::BIGINT AS n_docs,
          CAST(SUM(n) AS BIGINT) AS bin_tokens,
          MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM cpk GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // INDEX-DRIFT AUDIT (round 14): the "when to re-train" relation
    // closing the frozen-index lifecycle — full-corpus cell assignment
    // under an OLD coarse fit (sparse %16 training sample, the
    // stand-in for yesterday's codebooks) vs a FRESH fit (%4, the
    // suite's production sample), reported as the (old_cell →
    // new_cell) transition matrix. Diagonal mass = stability;
    // off-diagonal growth schedules the codebook re-train that
    // codesUpsert alone cannot provide. Oracle: two independent
    // coarse-Lloyd CTE chains + the rollup.
    Declared("q_index_drift",
      (s, d) => SimilarityOps.ivfDriftMatrix(embeddings(s, d), d,
        k = 8, iterations = 2, modOld = 16, modNew = 4),
      Some(ivfDriftOracle(k = 8, iterations = 2, modOld = 16,
        modNew = 4))),

    // PACK MANIFEST (round 14): the loader handoff q_pack_bpe's bins
    // summarize — one row per document with its bin and its token
    // OFFSET inside the bin's concatenated stream (the seek position a
    // training data-loader reads from). Offsets are the bin-local
    // rebase of the same tokenizer-priced prefix sum, so the oracle
    // extends the pack CTEs with one MIN window.
    Declared("q_pack_manifest",
      (s, d) => {
        val docs = documents(s, d)
        val merges = TextOps.bpeMerges(docs, rounds = 6, topWords = 31)
        TextOps.packManifestBpe(docs,
          TextOps.bpeWordTokens(docs, merges, topWords = 31), 128L, 100L)
      },
      Some(s"""WITH ${bpeOracleCtes(rounds = 6, topWords = 31)},
        ${bpePackCtes("documents")}
        SELECT source, shard, cb // 128 AS bin, doc_id,
          n AS n_tokens,
          CAST(cb - MIN(cb) OVER (PARTITION BY source, shard, cb // 128)
            AS BIGINT) AS tok_offset
        FROM cpk ORDER BY source, shard, bin, doc_id""")),

    // CORPUS DATA CARD (round 14): the per-(source, lang) release
    // summary — docs, tokens, chars, exact-duplicate membership count
    // (GLOBAL md5 partition: cross-source duplicates count in both
    // rows), corpus-level stopword ppm. Input re-inserts the %50 slice
    // under shifted ids (the q_dedup_exact trick — the raw corpus has
    // no exact dups, and a card whose dup column is uniformly zero
    // audits nothing).
    Declared("q_data_card",
      (s, d) => TextOps.dataCard(
        documents(s, d).unionByName(documents(s, d)
          .filter(pmod(col("doc_id"), lit(50)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(20000000L))),
        Seq("a", "the", "of", "and", "in")),
      Some("""WITH docs AS (
          SELECT * FROM documents
          UNION ALL
          SELECT doc_id + 20000000, text, lang, source, n_chars
          FROM documents WHERE doc_id % 50 = 0),
        b AS (SELECT source, lang, n_chars,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                CAST(len(list_filter(string_split(text, ' '),
                  x -> x = 'a' OR x = 'the' OR x = 'of' OR x = 'and' OR x = 'in')) AS BIGINT) AS sc,
                CASE WHEN COUNT(*) OVER (PARTITION BY md5(text)) > 1
                  THEN 1 ELSE 0 END AS is_dup
              FROM docs)
        SELECT source, lang, COUNT(*)::BIGINT AS n_docs,
          CAST(COALESCE(SUM(nw), 0) AS BIGINT) AS n_tokens,
          CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS n_chars,
          CAST(SUM(is_dup) AS BIGINT) AS n_exact_dup,
          CASE WHEN COALESCE(SUM(nw), 0) = 0 THEN 0
            ELSE SUM(sc) * 1000000 // SUM(nw) END::BIGINT AS stopword_ppm
        FROM b GROUP BY source, lang ORDER BY source, lang""")),

    // QUALITY-SIGNAL AGREEMENT MATRIX (VERDICT r13 #3): the three
    // keep/drop signals the engine ships — heuristic quality filter
    // (q_quality_filter's 30-word/10%-stopword thresholds), DSIR
    // importance gate (q_dsir_resample's md5 selection), unigram
    // surprisal (q_surprisal's 1040-q8 cap) — compared pairwise as
    // exact confusion counts over every document carrying ≥1 word,
    // plus agreement ppm. Turns three filters into an audited
    // ensemble decision: redundant pairs read near 10⁶, orthogonal
    // pairs near the product of the marginals. Oracle = the three
    // queries' proven CTE bodies joined on doc_id + the same rollup.
    Declared("q_quality_agreement",
      (s, d) => TextOps.qualitySignalAgreement(
        documents(s, d), documents(s, d).filter(col("lang") === "en"),
        stopwords = Seq("a", "the", "of", "and", "in"), minWords = 30L,
        maxStopwordPpm = 100000L, numBuckets = 1024, maxBitsQ8 = 1040L),
      Some(s"""WITH ${qualityVotesCtes},
        pr AS (
          SELECT 'dsir' AS sig_a, 'quality' AS sig_b,
                 k_dsir AS ka, k_quality AS kb FROM f
          UNION ALL SELECT 'dsir', 'surprisal', k_dsir, k_surprisal FROM f
          UNION ALL SELECT 'quality', 'surprisal', k_quality, k_surprisal FROM f)
        SELECT sig_a, sig_b,
          CAST(SUM(ka * kb) AS BIGINT) AS both_keep,
          CAST(SUM(ka * (1 - kb)) AS BIGINT) AS a_only_keep,
          CAST(SUM((1 - ka) * kb) AS BIGINT) AS b_only_keep,
          CAST(SUM((1 - ka) * (1 - kb)) AS BIGINT) AS both_drop,
          COUNT(*)::BIGINT AS n_docs,
          CAST((SUM(ka * kb) + SUM((1 - ka) * (1 - kb))) * 1000000 // COUNT(*) AS BIGINT) AS agree_ppm
        FROM pr GROUP BY sig_a, sig_b ORDER BY sig_a, sig_b""")),

    // SURPRISAL-GATED TOKEN BUDGET (VERDICT r13 #5): the budgeted pack
    // consumes the quality-FILTERED stream — q_token_budget's per-source
    // greedy selection run over only the documents the surprisal filter
    // keeps (bits_q8 ≤ 1040, q_surprisal's cap). The composition a real
    // curation plan runs: filter first (quality), then spend the token
    // budget on what survives — the kept set shifts wherever a
    // high-distinct-ratio document was also rare-word-heavy. Oracle =
    // the surprisal CTE chain gating the proven greedy-pack SQL.
    Declared("q_budget_surprisal",
      (s, d) => {
        val docs = documents(s, d)
        val keep = TextOps.surprisalBits(docs)
          .filter(col("bits_q8") <= 1040L).select("doc_id")
        TextOps.tokenBudgetSelect(docs.join(keep, Seq("doc_id"), "left_semi"),
          budgetTokens = 600L)
      },
      Some(s"""WITH ${unigramBitsCtes()},
        keep AS (SELECT w.doc_id FROM w JOIN wb USING (word)
                 GROUP BY w.doc_id
                 HAVING SUM(wb.bits) * 256 // COUNT(*) <= 1040),
        ${tokenBudgetSelect(keepOnly = true)}""")),

    // INCREMENTAL CONNECTED COMPONENTS (VERDICT r13 #6): the clustering
    // half of the ingest loop, oracle-checked by REBUILD EQUIVALENCE
    // (the q_dedup_index_upsert pattern). Stored state = the %8=0
    // corpus's cluster labels (banded LSH verified pairs → CC); the
    // %8=4 batch's edges (batch-internal verified pairs + batch-vs-
    // persisted-index verified pairs) fold into those labels via
    // star(labels) ∪ edges — no historical pair list is re-read. The
    // oracle rebuilds from scratch on the MERGED corpus, which is
    // exactly the proven q_dedup_canonical %4=0 slice (the two %8
    // residues partition it), so hash-equality proves incremental ≡
    // rebuild, near-clique bridges included. Same corpus-pinned LSH
    // recall note as every verified-pair query (brute-force oracle,
    // banded engine).
    Declared("q_dedup_incremental_cc",
      (s, d) => {
        val docs = documents(s, d)
        val c0 = docs.filter(pmod(col("doc_id"), lit(8)) === 0)
          .select("doc_id", "text")
        val b1 = docs.filter(pmod(col("doc_id"), lit(8)) === 4)
          .select("doc_id", "text")
        val labels0 = DedupOps.connectedComponents(
          DedupOps.lshVerifiedJaccardPairsUnsorted(c0, 32, 2, 80)
            .select("a_id", "b_id"))
        val idxBands = DedupOps.corpusBandDocs(c0, 32, 2).lineageTruncate()
        val idxSets = DedupOps.corpusHashedSets(c0).lineageTruncate()
        // ONE-PASS batch edge derivation (optimization round 19): the
        // separate pairsAgainstIndexVerified + lshVerifiedJaccardPairs
        // calls banded and set-hashed the batch FIVE times between them;
        // batchEdgesVerified (the verb built for exactly this fold) bands
        // and set-hashes it once and serves both candidate joins from the
        // truncated frames. Same edge SET (same hash family, same
        // candidates, same verify) ⇒ identical CC labels — interleaved
        // same-JVM A/B: 5.4-6.6 s → 3.5-3.7 s for the full key, collected
        // relations compared equal (plans/r19/dedup_incremental_onepass_ab.txt).
        val edges = DedupOps.batchEdgesVerified(b1, idxBands, idxSets,
            32, 2, 80)
          .select("a_id", "b_id")
        DedupOps.incrementalComponents(labels0, edges)
          .select(col("id").as("doc_id"), col("cluster_id"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
        ${jaccardPairCtes("docs", 80)},
        $componentCtes
        SELECT src AS doc_id,
               LEAST(src, MIN(dst))::BIGINT AS cluster_id
        FROM reach GROUP BY src ORDER BY doc_id""")),

    // ENSEMBLE QUALITY VOTE (VERDICT r14 #6): q_quality_agreement
    // reported pairwise confusion; this key DECIDES — per document, the
    // three audited keep signals plus the majority vote (≥2 of
    // heuristic/DSIR/surprisal). The flag frame is the agreement key's
    // engine path re-exposed, so the two relations can never drift.
    Declared("q_quality_ensemble",
      (s, d) => TextOps.qualitySignalVotes(
        documents(s, d), documents(s, d).filter(col("lang") === "en"),
        stopwords = Seq("a", "the", "of", "and", "in"), minWords = 30L,
        maxStopwordPpm = 100000L, numBuckets = 1024, maxBitsQ8 = 1040L)
        .orderBy("doc_id"),
      Some(s"""WITH $qualityVotesCtes
        SELECT doc_id, k_quality, k_surprisal, k_dsir,
          CASE WHEN k_quality + k_surprisal + k_dsir >= 2
            THEN 1 ELSE 0 END::BIGINT AS ensemble_keep
        FROM f ORDER BY doc_id""")),

    // ENSEMBLE-GATED TOKEN BUDGET (VERDICT r14 #6, second half): the
    // budgeted pack consuming the ENSEMBLE stream — q_budget_surprisal's
    // greedy per-source selection run over only the documents the
    // majority vote keeps. The composition a production curation plan
    // actually runs once it trusts the ensemble over any single filter.
    Declared("q_budget_ensemble",
      (s, d) => {
        val docs = documents(s, d)
        val keep = TextOps.qualitySignalVotes(docs,
          docs.filter(col("lang") === "en"),
          stopwords = Seq("a", "the", "of", "and", "in"), minWords = 30L,
          maxStopwordPpm = 100000L, numBuckets = 1024, maxBitsQ8 = 1040L)
          .filter(col("ensemble_keep") === 1L).select("doc_id")
        TextOps.tokenBudgetSelect(docs.join(keep, Seq("doc_id"), "left_semi"),
          budgetTokens = 600L)
      },
      Some(s"""WITH $qualityVotesCtes,
        keep AS (SELECT doc_id FROM f
                 WHERE k_quality + k_surprisal + k_dsir >= 2),
        ${tokenBudgetSelect(keepOnly = true)}""")),

    // DATA CARD v2 (VERDICT r14 #5): the release card with tokens
    // priced by the FROZEN tokenizer (bpe_tokens — the q_pack_bpe
    // pricing CTEs, tokenizer fitted on the ORIGINAL corpus before the
    // dup slice re-inserts) and near-dup cluster mass (n_neardup —
    // documents with a VERIFIED J≥80 partner; banded candidates in the
    // engine, brute-force pairs in the oracle, the corpus-pinned
    // recall note of every verified-pair key). Same dup-injected input
    // as q_data_card, which stays hash-pinned untouched.
    Declared("q_data_card_v2",
      (s, d) => {
        val base = documents(s, d)
        val card = base.unionByName(base
          .filter(pmod(col("doc_id"), lit(50)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(20000000L)))
        val merges = TextOps.bpeMerges(base, rounds = 6, topWords = 31)
        TextOps.dataCardV2(card, Seq("a", "the", "of", "and", "in"),
          TextOps.bpeWordTokens(base, merges, topWords = 31),
          numHashes = 32, rowsPerBand = 2, minJaccardPct = 80)
      },
      Some(s"""WITH ${bpeOracleCtes(rounds = 6, topWords = 31)},
        docs AS (SELECT * FROM documents
          UNION ALL
          SELECT doc_id + 20000000, text, lang, source, n_chars
          FROM documents WHERE doc_id % 50 = 0),
        ${bpeDocTokCtes("docs")},
        ${jaccardPairCtes("docs", 80)},
        nd AS (SELECT a_id AS doc_id FROM p
               UNION SELECT b_id FROM p),
        b AS (SELECT d.source, d.lang, d.n_chars,
                CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nw,
                CAST(len(list_filter(string_split(d.text, ' '),
                  x -> x = 'a' OR x = 'the' OR x = 'of' OR x = 'and' OR x = 'in')) AS BIGINT) AS sc,
                COALESCE(wtok.n, 0) AS nb,
                CASE WHEN COUNT(*) OVER (PARTITION BY md5(d.text)) > 1
                  THEN 1 ELSE 0 END AS is_dup,
                CASE WHEN d.doc_id IN (SELECT doc_id FROM nd)
                  THEN 1 ELSE 0 END AS is_nd
              FROM docs d LEFT JOIN wtok ON d.doc_id = wtok.doc_id)
        SELECT source, lang, COUNT(*)::BIGINT AS n_docs,
          CAST(COALESCE(SUM(nw), 0) AS BIGINT) AS n_tokens,
          CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS bpe_tokens,
          CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS n_chars,
          CAST(SUM(is_dup) AS BIGINT) AS n_exact_dup,
          CAST(SUM(is_nd) AS BIGINT) AS n_neardup,
          CASE WHEN COALESCE(SUM(nw), 0) = 0 THEN 0
            ELSE SUM(sc) * 1000000 // SUM(nw) END::BIGINT AS stopword_ppm
        FROM b GROUP BY source, lang ORDER BY source, lang""")),

    // PACKED SHARDS ARTIFACT (VERDICT r14 #4): q_pack_manifest computed
    // the loader seek offsets; this key WRITES the thing they point
    // into — per-(source, shard, bin) concatenated BPE token streams as
    // a fingerprint-memoized parquet artifact (the IVF-PQ codes
    // discipline applied to packing) — reads it back, and slices every
    // manifest row's [tok_offset, +n_tokens) window out of the stored
    // stream. The declared relation is the manifest plus the md5 of
    // each slice; the oracle recomputes every document's encoding
    // INDEPENDENTLY (vocab syms via the proven BPE fit CTEs, OOV →
    // characters, order by (word pos, sym pos)) — equality proves the
    // artifact's layout, order, and offsets all hold, i.e. a data
    // loader seeking by the manifest reads exactly each document.
    Declared("q_pack_shards",
      (s, d) => {
        val docs = documents(s, d)
        val merges = TextOps.bpeMerges(docs, rounds = 6, topWords = 31)
        val syms = TextOps.bpeWordSyms(docs, merges, topWords = 31)
        val out = new java.io.File(
          s"target/pack_shards_${math.abs(d.hashCode.toLong)}").getAbsolutePath
        TextOps.packShardsWrite(docs, syms, 128L, 100L,
          srcDir = s"$d/documents.parquet", outDir = out)
        TextOps.packShardsSliceAudit(docs, syms, 128L, 100L, out)
      },
      Some(s"""WITH ${bpeOracleCtes(rounds = 6, topWords = 31)},
        ${bpePackShards("documents")}""")),

    // FOUR-SIGNAL AGREEMENT MATRIX (round 15): q_quality_agreement
    // extended with the bigram fluency flag (q_surprisal_bigram's 1104
    // cap) — all six pairwise confusion rows. The (surprisal, bigram)
    // row directly measures how much fluency information the fourth
    // signal adds over the unigram filter; near-10⁶ agreement would
    // call it redundant. The 3-signal key stays hash-pinned untouched.
    // Oracle = the proven agreement CTEs + the proven bigram chain
    // (b-prefixed, reusing the shared unigram bits table) + the 6-pair
    // rollup.
    Declared("q_quality_agreement4",
      (s, d) => TextOps.qualitySignalAgreement4(
        documents(s, d), documents(s, d).filter(col("lang") === "en"),
        stopwords = Seq("a", "the", "of", "and", "in"), minWords = 30L,
        maxStopwordPpm = 100000L, numBuckets = 1024, maxBitsQ8 = 1040L,
        maxBiQ8 = 1104L),
      Some(s"""WITH ${qualityFlagCtes},
        dw AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
        bpr AS (SELECT doc_id, ws[i] AS prev, ws[i + 1] AS word
                FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                      FROM dw)),
        bbc AS (SELECT prev, word, COUNT(*)::BIGINT AS cnt2
                FROM bpr GROUP BY prev, word),
        bcx AS (SELECT prev, CAST(SUM(cnt2) AS BIGINT) AS ctx
                FROM bbc GROUP BY prev),
        bpb AS (SELECT p.doc_id,
                  CAST(length(bin(bcx.ctx // bbc.cnt2)) - 1 AS BIGINT)
                    AS bits
                FROM bpr p JOIN bbc USING (prev, word)
                JOIN bcx USING (prev)),
        bfb AS (SELECT d.doc_id, swb.bits AS bits
                FROM (SELECT doc_id, ws[1] AS word FROM dw
                      WHERE len(ws) >= 1) d
                JOIN swb USING (word)),
        bnw AS (SELECT doc_id, COUNT(*)::BIGINT AS n_words
                FROM w GROUP BY doc_id),
        bflag AS (SELECT n.doc_id,
                    CASE WHEN s.sb * 256 // n.n_words <= 1104
                      THEN 1 ELSE 0 END::BIGINT AS k_bigram
                  FROM bnw n JOIN (
                    SELECT doc_id, CAST(SUM(bits) AS BIGINT) AS sb
                    FROM (SELECT * FROM bfb UNION ALL SELECT * FROM bpb)
                    GROUP BY doc_id) s USING (doc_id)),
        f AS (SELECT q.doc_id, k_quality, k_surprisal, k_dsir, k_bigram
              FROM qual q JOIN sup USING (doc_id)
              JOIN dsir USING (doc_id) JOIN bflag USING (doc_id)),
        pr AS (
          SELECT 'bigram' AS sig_a, 'dsir' AS sig_b,
                 k_bigram AS ka, k_dsir AS kb FROM f
          UNION ALL SELECT 'bigram', 'quality', k_bigram, k_quality FROM f
          UNION ALL SELECT 'bigram', 'surprisal', k_bigram, k_surprisal FROM f
          UNION ALL SELECT 'dsir', 'quality', k_dsir, k_quality FROM f
          UNION ALL SELECT 'dsir', 'surprisal', k_dsir, k_surprisal FROM f
          UNION ALL SELECT 'quality', 'surprisal', k_quality, k_surprisal FROM f)
        SELECT sig_a, sig_b,
          CAST(SUM(ka * kb) AS BIGINT) AS both_keep,
          CAST(SUM(ka * (1 - kb)) AS BIGINT) AS a_only_keep,
          CAST(SUM((1 - ka) * kb) AS BIGINT) AS b_only_keep,
          CAST(SUM((1 - ka) * (1 - kb)) AS BIGINT) AS both_drop,
          COUNT(*)::BIGINT AS n_docs,
          CAST((SUM(ka * kb) + SUM((1 - ka) * (1 - kb))) * 1000000 // COUNT(*) AS BIGINT) AS agree_ppm
        FROM pr GROUP BY sig_a, sig_b ORDER BY sig_a, sig_b""")),

    // RECURSIVE SQL SURFACE (round 15): Spark 4 ships WITH RECURSIVE
    // (UNION ALL form), and this key exercises it on a real recursion —
    // per-user session chains walked event-by-event: anchors are the
    // events with no predecessor within the 4 h gap, the recursive term
    // follows each user's rn+1 successor while the gap holds (depth =
    // session length, measured ≤ 11 at sf0.1, far under the engine's
    // recursion limit; UNION ALL is safe because every event extends
    // exactly one chain). The 4 h gap sits at the data's first-quartile
    // inter-event time so sessions genuinely chain (mean 1.45 events) —
    // the 30 min q_window_session gap would leave recursion untouched.
    // session_id = the anchor's event_id, so the relation is decided by
    // the recursion, not by a window rewrite. Oracle = the same
    // recursive SQL in DuckDB (µs grid both sides).
    Declared("q_sql_recursive",
      (s, d) => {
        // the rn-spine is LINEAGE-TRUNCATED before the recursion: each
        // recursive iteration re-reads the anchor relations, and
        // without the truncation the per-user window (and the 220k-row
        // scan under it) re-executes once per depth level — measured
        // 5.8 s → ~2 s at sf0.1. The recursion is the operator under
        // test; its inputs are materialized once like any other frame.
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        events(s, d)
          .selectExpr("user_id", "event_id", "ts div 1000 as us")
          .withColumn("rn", row_number().over(w).cast(LongType))
          .withColumn("prev_us", lag("us", 1).over(w))
          .lineageTruncate()
          .createOrReplaceTempView("events_rec_ev")
        // prev_us rides the spine so the anchor is a FILTER (no
        // 220k×220k self-join) and the recursive gap test reads only
        // the joined successor's own columns: n.us − n.prev_us is by
        // construction the gap to the chain's current tail (rn+1)
        val out = s.sql("""WITH RECURSIVE
          ev AS (SELECT * FROM events_rec_ev),
          starts AS (
            SELECT user_id, event_id AS session_id, rn, us FROM ev
            WHERE prev_us IS NULL OR us - prev_us > 14400000000),
          chain(user_id, session_id, rn, us) AS (
            SELECT user_id, session_id, rn, us FROM starts
            UNION ALL
            SELECT c.user_id, c.session_id, n.rn, n.us
            FROM chain c JOIN ev n
              ON n.user_id = c.user_id AND n.rn = c.rn + 1
            WHERE n.us - n.prev_us <= 14400000000)
          SELECT user_id, session_id, COUNT(*) AS n_events,
                 CAST(MIN(us) AS BIGINT) AS session_start_us,
                 CAST(MAX(us) AS BIGINT) AS session_end_us
          FROM chain GROUP BY user_id, session_id
          ORDER BY user_id, session_id""")
        // analysis has resolved the view into the plan; DROP it so the
        // catalog does not pin the checkpointed spine for the session's
        // lifetime (StorageReleaseSpec: blocks must be reclaimable once
        // the caller drops the result)
        s.catalog.dropTempView("events_rec_ev")
        out
      },
      Some("""WITH RECURSIVE ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS us,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS rn
          FROM events),
        starts AS (
          SELECT e.user_id, e.event_id AS session_id, e.rn, e.us
          FROM ev e LEFT JOIN ev p
            ON p.user_id = e.user_id AND p.rn = e.rn - 1
          WHERE p.event_id IS NULL OR e.us - p.us > 14400000000),
        chain(user_id, session_id, rn, us) AS (
          SELECT user_id, session_id, rn, us FROM starts
          UNION ALL
          SELECT c.user_id, c.session_id, n.rn, n.us
          FROM chain c JOIN ev n
            ON n.user_id = c.user_id AND n.rn = c.rn + 1
          WHERE n.us - c.us <= 14400000000)
        SELECT user_id, session_id, COUNT(*)::BIGINT AS n_events,
               CAST(MIN(us) AS BIGINT) AS session_start_us,
               CAST(MAX(us) AS BIGINT) AS session_end_us
        FROM chain GROUP BY user_id, session_id
        ORDER BY user_id, session_id""")),

    // SPAN-LEVEL DUPLICATE COVERAGE (round 15): the sliding-window
    // complement of q_passage_dedup's fixed chunks — the Lee et al.
    // exact-substring-dedup measurement in 13-gram units. Every
    // overlapping 13-gram hashes; a doc's dup_span_tokens is the UNION
    // of its corpus-duplicated grams' token windows (distinct
    // positions, so overlapping grams don't double-count and a shared
    // block straddling any chunk boundary — invisible to fixed chunks —
    // is fully counted). dup_ppm is the span-cleaner's trim/drop gate.
    Declared("q_span_dedup",
      (s, d) => DedupOps.spanDupCoverage(documents(s, d), 13),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents),
        g AS (SELECT doc_id, unnest(range(0, len(ws) - 12)) AS gi, ws
              FROM t WHERE len(ws) >= 13),
        hg AS (SELECT doc_id, gi,
                 md5(array_to_string(ws[gi + 1:gi + 13], ' ')) AS hh
               FROM g),
        dup AS (SELECT hh FROM (SELECT hh, COUNT(*) AS c FROM hg
                GROUP BY hh) WHERE c > 1),
        cov AS (SELECT DISTINCT doc_id, pos FROM (
                 SELECT doc_id, unnest(range(gi, gi + 13)) AS pos
                 FROM hg WHERE hh IN (SELECT hh FROM dup))),
        cnt AS (SELECT doc_id, COUNT(*)::BIGINT AS dup_span_tokens
                FROM cov GROUP BY doc_id)
        SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
          CAST(COALESCE(cnt.dup_span_tokens, 0) AS BIGINT)
            AS dup_span_tokens,
          CAST(COALESCE(cnt.dup_span_tokens, 0) * 1000000 // len(t.ws)
            AS BIGINT) AS dup_ppm
        FROM t LEFT JOIN cnt USING (doc_id)
        ORDER BY doc_id""")),

    // SPAN TRIM (round 15): the RESPONSE to q_span_dedup — every
    // duplicated 13-gram keeps its corpus-wide first occurrence
    // (lexicographic (doc_id, gi) keeper, the passage-dedup
    // discipline); a token is removed iff some non-keeper dup window
    // covers it. kept_md5 fingerprints the actually reconstructed
    // trimmed text, so the hash check proves the cleaner emits the
    // right STRING, not just the right counts.
    Declared("q_span_trim",
      (s, d) => DedupOps.spanTrim(documents(s, d), 13),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents),
        g AS (SELECT doc_id, unnest(range(0, len(ws) - 12)) AS gi, ws
              FROM t WHERE len(ws) >= 13),
        hg AS (SELECT doc_id, gi,
                 md5(array_to_string(ws[gi + 1:gi + 13], ' ')) AS hh
               FROM g),
        kp AS (SELECT hh, doc_id AS kd, gi AS kg FROM (
                 SELECT hh, doc_id, gi,
                   COUNT(*) OVER (PARTITION BY hh) AS c,
                   ROW_NUMBER() OVER (PARTITION BY hh
                                      ORDER BY doc_id, gi) AS rn
                 FROM hg) WHERE c > 1 AND rn = 1),
        rem AS (SELECT DISTINCT doc_id, pos FROM (
                 SELECT h.doc_id, unnest(range(h.gi, h.gi + 13)) AS pos
                 FROM hg h JOIN kp ON h.hh = kp.hh
                 WHERE NOT (h.doc_id = kp.kd AND h.gi = kp.kg))),
        w AS (SELECT doc_id, u.pos AS pos, u.word AS word FROM (
                SELECT doc_id, unnest([{'pos': i - 1, 'word': ws[i]}
                         for i in range(1, len(ws) + 1)]) AS u
                FROM t)),
        kw AS (SELECT w.doc_id, w.pos, w.word
               FROM w LEFT JOIN rem
                 ON w.doc_id = rem.doc_id AND w.pos = rem.pos
               WHERE rem.pos IS NULL),
        ks AS (SELECT doc_id, COUNT(*)::BIGINT AS kept_tokens,
                 string_agg(word, ' ' ORDER BY pos) AS s
               FROM kw GROUP BY doc_id)
        SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
          CAST(len(t.ws) - COALESCE(ks.kept_tokens, 0) AS BIGINT)
            AS removed_tokens,
          CAST(COALESCE(ks.kept_tokens, 0) AS BIGINT) AS kept_tokens,
          md5(COALESCE(ks.s, '')) AS kept_md5
        FROM t LEFT JOIN ks USING (doc_id)
        ORDER BY doc_id""")),

    // FILTERED ANN SEARCH (round 15): metadata-restricted top-k through
    // the SHARED IVF index (the FAISS IDSelector case — "nearest
    // vectors with label ∈ {2,5,7}"): same memoized centroids as
    // q_simsearch_ivf (identical cacheKey/params — one index serves
    // every predicate), queries from the full corpus, candidates only
    // from the ~28% slice, the label filter pushed onto the embeddings
    // scan so selectivity MULTIPLIES with the cell pruning. Oracle =
    // the proven IVF chain with the label join on the candidate set.
    Declared("q_simsearch_filtered",
      (s, d) => SimilarityOps.ivfTopKFiltered(embeddings(s, d),
        corpusFilter = col("label").isin(2, 5, 7), cacheKey = d, k = 8,
        iterations = 2, trainSampleMod = 4, queryIds = (0L until 8L),
        topK = 5, nProbe = 2),
      Some(ivfExactOracle(k = 8, iterations = 2, mod = 4, nProbe = 2,
        topK = 5, candFilter = Some("lab.label IN (2, 5, 7)")))),

    // MATRYOSHKA PREFIX SEARCH (round 15): the dimension-truncation ANN
    // tier — candidates from the dot over the first 32 of 64
    // components, exact re-rank on the survivors. Orthogonal to IVF/PQ
    // (no training, the layout IS the index): at 100 TB the prefix tier
    // reads half the bytes and only 80 rows per query fetch full
    // vectors. Same fixed-point grid as q_simsearch_fast, so both
    // stages replay exactly; recall floor vs the exact scan is
    // spec-pinned (Round15bOpsSpec, the pq_refined convention).
    Declared("q_simsearch_matryoshka",
      (s, d) => SimilarityOps.matryoshkaTopK(embeddings(s, d),
        queryIds = (0L until 8L), prefixDim = 32, candidates = 80, k = 5),
      Some(s"""WITH ${fixedPointExplode()},
        q AS (SELECT vec_id AS q_id, vi, pos FROM e WHERE vec_id < 8),
        pre AS (SELECT q.q_id, c.vec_id AS n_id, SUM(q.vi * c.vi) AS ps
                FROM q JOIN e c ON q.pos = c.pos WHERE q.pos < 32
                GROUP BY q.q_id, c.vec_id),
        cand AS (SELECT q_id, n_id FROM (
                 SELECT q_id, n_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY ps DESC, n_id) AS crn
                 FROM pre) WHERE crn <= 80),
        fl AS (SELECT cd.q_id, cd.n_id,
                 CAST(SUM(q.vi * c.vi) AS BIGINT) AS score_s14
               FROM cand cd JOIN q ON q.q_id = cd.q_id
               JOIN e c ON c.vec_id = cd.n_id AND c.pos = q.pos
               GROUP BY cd.q_id, cd.n_id)
        ${topKByScore("fl", 5)}""")),

    // INCREMENTAL SHARD PACK (round 15): the codesUpsert economics
    // applied to the training-shard artifact — an ingest batch (the
    // %6=3 slice re-crawled under +20000000 ids, landing beyond every
    // stored shard) packs into its OWN bins under the FROZEN tokenizer
    // and appends to the stored bin streams; the base corpus is never
    // re-encoded. The declared relation is the slice audit of the
    // MERGED corpus's manifest against the upserted artifact, and the
    // oracle recomputes every merged document's encoding from scratch —
    // hash equality IS the pack(base ∪ batch) ≡ pack(base) ∪
    // pack(batch) identity the append-only discipline claims (sound
    // because bins prefix-sum within (source, shard) and the batch adds
    // only new shards; an interleaving batch fails loudly engine-side).
    Declared("q_pack_shards_upsert",
      (s, d) => {
        val docs = documents(s, d)
        val merges = TextOps.bpeMerges(docs, rounds = 6, topWords = 31)
        val syms = TextOps.bpeWordSyms(docs, merges, topWords = 31)
        val batch = docs.filter(pmod(col("doc_id"), lit(6)) === 3)
          .withColumn("doc_id", col("doc_id") + lit(20000000L))
        val h = math.abs(d.hashCode.toLong)
        val out = new java.io.File(s"target/pack_shards_$h").getAbsolutePath
        val up = new java.io.File(s"target/pack_upsert_$h").getAbsolutePath
        TextOps.packShardsUpsert(docs, batch, syms, 128L, 100L,
          srcDir = s"$d/documents.parquet", outDir = out, upsertDir = up,
          batchKey = "recrawl6s3")
        TextOps.packShardsSliceAudit(docs.unionByName(batch), syms,
          128L, 100L, up)
      },
      Some(s"""WITH ${bpeOracleCtes(rounds = 6, topWords = 31)},
        docs AS (SELECT * FROM documents
          UNION ALL
          SELECT doc_id + 20000000, text, lang, source, n_chars
          FROM documents WHERE doc_id % 6 = 3),
        ${bpePackShards("docs")}""")),

    // INCREMENTAL INGEST PIPELINE (VERDICT r14 #3): the full two-batch
    // ingest loop as ONE declared relation — the StreamingNearDupSpec
    // state machine lifted to the oracle gate. Stored state starts as
    // the %12=0 slice (cluster labels from verified pairs + band/set
    // index); the %12=4 batch probes the index (phase m1 decisions),
    // its edges fold into the labels via incrementalComponents, and the
    // batch upserts into the index; the %12=8 batch then probes the
    // UPSERTED index (phase m2 — a decision only a maintained index can
    // make, since it must see batch-1 docs) and folds likewise. Phase
    // 'label' is the final cluster relation over ALL merged docs
    // (singletons self-labeled). The oracle rebuilds from scratch on
    // the merged %4=0 corpus (the three %12 residues partition it):
    // labels via the proven RECURSIVE reach CC, decisions via
    // existence of a brute-force verified pair into the respective
    // corpus state — hash-equality proves the incremental fold AND the
    // upserted index equal the rebuild. Same corpus-pinned LSH recall
    // note as every verified-pair key.
    Declared("q_pipeline_incremental",
      (s, d) => {
        val docs = documents(s, d)
        def slice(r: Int) = docs.filter(pmod(col("doc_id"), lit(12)) === r)
          .select("doc_id", "text")
        val c0 = slice(0); val b1 = slice(4); val b2 = slice(8)
        var labels = DedupOps.connectedComponents(
          DedupOps.lshVerifiedJaccardPairsUnsorted(c0, 32, 2, 80)
            .select("a_id", "b_id"))
        var bands = DedupOps.corpusBandDocs(c0, 32, 2).lineageTruncate()
        var sets = DedupOps.corpusHashedSets(c0).lineageTruncate()
        // one banding + one set prep per batch serves BOTH the index
        // probe and the internal pairs (batchEdgesVerified — the r14
        // builder-note fusion); vs_corpus=1 rows are the flag decision
        def decide(batch: DataFrame, phase: String): (DataFrame, DataFrame) = {
          val ev = DedupOps.batchEdgesVerified(batch, bands, sets,
            32, 2, 80).lineageTruncate()
          val dec = batch.select("doc_id")
            .join(ev.filter(col("vs_corpus") === 1L)
              .select(col("a_id").as("doc_id")).distinct()
              .withColumn("v", lit(1L)),
              Seq("doc_id"), "left")
            .select(lit(phase).as("phase"), col("doc_id"),
              coalesce(col("v"), lit(0L)).as("val"))
          (dec, ev.select("a_id", "b_id"))
        }
        val (dec1, e1) = decide(b1, "m1")
        labels = DedupOps.incrementalComponents(labels, e1)
        val up1 = DedupOps.indexUpsert(bands, sets, b1, 32, 2)
        bands = up1._1.lineageTruncate(); sets = up1._2.lineageTruncate()
        val (dec2, e2) = decide(b2, "m2")
        labels = DedupOps.incrementalComponents(labels, e2)
        val lab = c0.unionByName(b1).unionByName(b2).select("doc_id")
          .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
            "left")
          .select(lit("label").as("phase"), col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("val"))
        lab.unionByName(dec1).unionByName(dec2)
          .orderBy("phase", "doc_id")
      },
      Some(s"""WITH RECURSIVE docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
        ${jaccardPairCtes("docs", 80)},
        $componentCtes
        SELECT 'label' AS phase, d.doc_id,
               CAST(COALESCE(r.cl, d.doc_id) AS BIGINT) AS val
        FROM docs d LEFT JOIN (
          SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cl
          FROM reach GROUP BY src) r USING (doc_id)
        UNION ALL
        SELECT 'm1', d.doc_id,
          CASE WHEN EXISTS (SELECT 1 FROM e
                 WHERE e.src = d.doc_id AND e.dst % 12 = 0)
            THEN 1 ELSE 0 END::BIGINT
        FROM docs d WHERE d.doc_id % 12 = 4
        UNION ALL
        SELECT 'm2', d.doc_id,
          CASE WHEN EXISTS (SELECT 1 FROM e
                 WHERE e.src = d.doc_id AND e.dst % 12 IN (0, 4))
            THEN 1 ELSE 0 END::BIGINT
        FROM docs d WHERE d.doc_id % 12 = 8
        ORDER BY phase, doc_id""")),

    // ANN CODES UPSERT (VERDICT r14 #1): the production maintenance
    // path of the persisted IVF-PQ index as a declared, hash-checked
    // relation — the q_dedup_index_upsert pattern applied to ANN. The
    // batch re-ingests every %10 vector with NEW content (element-
    // reversed embedding, same vec_id — the re-crawl case) and adds the
    // %7=3 slice under shifted ids; codesUpsert folds it into the
    // STORED codes parquet (broadcast anti-join drop + fresh coding
    // under the FROZEN base-corpus codebooks — no refit), and the
    // standard probe → ADC → exact-refine search runs against the
    // merged relation. Oracle = fit-on-base + code-merged-from-scratch
    // + search, which equals the upsert because coding is per-row
    // deterministic under frozen codebooks. Shares the fingerprint-
    // memoized codes dir with q_simsearch_ivfpq_stored — written once
    // per corpus state.
    Declared("q_ann_codes_upsert",
      (s, d) => {
        val emb = embeddings(s, d)
        val batch = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
          .unionByName(emb.filter(pmod(col("vec_id"), lit(7)) === 3)
            .select((col("vec_id") + lit(1000000L)).as("vec_id"),
              col("embedding")))
        SimilarityOps.ivfPqTopKUpserted(emb, batch,
          srcDir = s"$d/embeddings.parquet",
          outDir = new java.io.File(
            s"target/ivfpq_codes_${math.abs(d.hashCode.toLong)}")
            .getAbsolutePath,
          cacheKey = d, kIvf = 8, nProbe = 2, m = 8, kSub = 16,
          iterations = 2, trainSampleMod = 4, queryIds = (0L until 8L),
          topK = 5, refineCandidates = 50)
      },
      Some(ivfPqUpsertOracle(kIvf = 8, nProbe = 2, m = 8, kSub = 16,
        iterations = 2, mod = 4, topK = 5, nQueries = 8, refineC = 50))),

    // RETRAIN-ON-DRIFT (VERDICT r14 #2): the RESPONSE to q_index_drift's
    // signal. The corpus drifts from base to the same merged relation
    // q_ann_codes_upsert ingests; the index either keeps serving the
    // codebooks fitted on BASE ("stale" — the codesUpsert no-refit
    // economics taken past their shelf life) or refits on the drifted
    // state ("retrained"). Both run the identical probe-limited integer
    // IVF search against the drifted corpus; each row reports how many
    // of the exact-scan top-5 the configuration recovered per query.
    // Recall recovery is MEASURED (retrained rows vs stale rows in the
    // same relation), and the oracle replays both Lloyd chains plus the
    // exact scan — the two-chain ivfDriftOracle machinery extended with
    // the proven ivfExactOracle search tail.
    Declared("q_index_retrain",
      (s, d) => {
        val emb = embeddings(s, d)
        val drifted = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
          .select("vec_id", "embedding")
          .unionByName(emb.filter(pmod(col("vec_id"), lit(10)) === 0)
            .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
          .unionByName(emb.filter(pmod(col("vec_id"), lit(7)) === 3)
            .select((col("vec_id") + lit(1000000L)).as("vec_id"),
              col("embedding")))
        // queries = the re-crawled vectors themselves (0,10,…,70): the
        // slice whose content drifted, where the stale index's loss and
        // the retrain's recovery are actually visible
        SimilarityOps.ivfRetrainRecall(emb, drifted,
          cacheKeyStale = d, cacheKeyNew = s"$d#drifted", k = 8,
          iterations = 2, trainSampleMod = 4, nProbe = 2,
          queryIds = (0L until 80L by 10L), topK = 5)
      },
      Some(ivfRetrainOracle(k = 8, iterations = 2, mod = 4, nProbe = 2,
        topK = 5, nQueries = 8))),

    // CODES COMPACTION (round 15) — the step that completes the index
    // lifecycle (fit → serve → upsert → compact → drift → retrain):
    // codesUpsert's merged relation is a session-local PLAN; compaction
    // writes it back cell-clustered (SimilarityOps.ivfPqCompactWrite)
    // so the ARTIFACT path — ivfPqTopKFromArtifacts, codebooks loaded
    // from parquet, probed cells pushed onto the codes scan — serves
    // the post-ingest corpus to workers that never saw the batch.
    // Same drifted corpus as q_ann_codes_upsert; deliberately different
    // request shape (6 queries, nProbe 3, top-4, refine 40) so this
    // relation is not a byte-duplicate of the upsert key's. Oracle =
    // the from-scratch train/serve-split replay (compaction is layout,
    // not semantics — row content is the upsert relation's).
    Declared("q_ann_compact",
      (s, d) => {
        val emb = embeddings(s, d)
        val batch = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
          .unionByName(emb.filter(pmod(col("vec_id"), lit(7)) === 3)
            .select((col("vec_id") + lit(1000000L)).as("vec_id"),
              col("embedding")))
        val src = s"$d/embeddings.parquet"
        val h = math.abs(d.hashCode.toLong)
        val cdsDir = new java.io.File(s"target/ivfpq_codes_$h")
          .getAbsolutePath
        val cmpDir = new java.io.File(s"target/ivfpq_compact_$h")
          .getAbsolutePath
        val idxDir = new java.io.File(s"target/ivfpq_index_$h")
          .getAbsolutePath
        SimilarityOps.ivfPqCompactWrite(emb, batch, src, cdsDir, cmpDir,
          cacheKey = d, batchKey = "recrawl10_new7s3", kIvf = 8, m = 8,
          kSub = 16, iterations = 2, trainSampleMod = 4)
        SimilarityOps.ivfPqWriteIndex(emb, src, idxDir, d, kIvf = 8,
          m = 8, kSub = 16, iterations = 2, trainSampleMod = 4)
        val merged = emb.select("vec_id", "embedding")
          .join(broadcast(batch.select("vec_id")), Seq("vec_id"),
            "left_anti")
          .unionByName(batch)
        SimilarityOps.ivfPqTopKFromArtifacts(merged, idxDir, cmpDir,
          nProbe = 3, queryIds = (0L until 6L), topK = 4,
          refineCandidates = 40)
      },
      Some(ivfPqUpsertOracle(kIvf = 8, nProbe = 3, m = 8, kSub = 16,
        iterations = 2, mod = 4, topK = 4, nQueries = 6, refineC = 40))),

    // TOKENIZER-DRIFT AUDIT (round 15): q_index_drift's discipline
    // applied to the other frozen artifact. The tokenizer fits on the
    // %3=0 slice (yesterday's corpus); the audit prices the fit slice
    // itself ('base' — the control rows) and a drifted ingest stream
    // ('new' — the %3=2 slice with every odd-position word REVERSED,
    // the vocabulary-shift stand-in mirroring the embeddings' re-crawl
    // reversal) under the FROZEN merges. Rising new-phase oov_ppm
    // against base is the "re-fit the tokenizer" signal; without it the
    // BPE artifact's no-refit economics have no shelf-life check.
    // Oracle = the proven fit CTE chain parameterized on the fit slice
    // + one positioned-word reversal CTE + the q_bpe_encode rollup.
    Declared("q_tokenizer_drift",
      (s, d) => {
        val docs = documents(s, d)
        val fit = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        val base = fit.select(col("source"),
          explode(TextOps.words(col("text"))).as("word"))
        val fresh = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
          .select(col("source"),
            posexplode(TextOps.words(col("text"))).as(Seq("wpos", "word")))
          .select(col("source"),
            when(pmod(col("wpos"), lit(2)) === 1, reverse(col("word")))
              .otherwise(col("word")).as("word"))
        TextOps.tokenizerDrift(fit, Seq("base" -> base, "new" -> fresh),
          rounds = 6, topWords = 31)
      },
      Some(s"""WITH ${bpeOracleCtes(rounds = 6, topWords = 31,
          corpus = "(SELECT * FROM documents WHERE doc_id % 3 = 0)")},
        wt AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_bpe FROM s6),
        w AS (
          SELECT 'base' AS phase, source, word FROM (
            SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents WHERE doc_id % 3 = 0)
          UNION ALL
          SELECT 'new' AS phase, source,
            CASE WHEN u.pos % 2 = 0 THEN reverse(u.word)
                 ELSE u.word END AS word
          FROM (
            SELECT source, unnest([{'pos': i, 'word': ws[i]}
                     for i in range(1, len(ws) + 1)]) AS u
            FROM (SELECT source, string_split(text, ' ') AS ws
                  FROM documents WHERE doc_id % 3 = 2)))
        SELECT phase, source,
          COUNT(*)::BIGINT AS whitespace_tokens,
          CAST(SUM(COALESCE(n_bpe, len(word))) AS BIGINT) AS bpe_tokens,
          CAST(SUM(CASE WHEN n_bpe IS NULL AND len(word) > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS oov_words,
          CAST(SUM(CASE WHEN n_bpe IS NULL AND len(word) > 0
                        THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
            AS oov_ppm
        FROM w LEFT JOIN wt USING (word)
        GROUP BY phase, source
        ORDER BY phase, source""")),

    // BIGRAM-CONDITIONAL SURPRISAL (round 15): the fluency tier above
    // q_surprisal's unigram model — first word at unigram bits, every
    // later word at floor(log₂(ctx(prev) div cnt₂(prev, w))), the
    // corpus bigram model's conditional code length. Low bi_q8 with
    // normal unigram mass is the templated-transition signature the
    // unigram filter can't see; gain_q8 is the per-word mass context
    // explains. Engine builds pairs by zip_with over each document's
    // own word array (no per-doc window shuffle); oracle replays with
    // positioned array indexing. Threshold keeps the fluent tail.
    Declared("q_surprisal_bigram",
      (s, d) => TextOps.surprisalBigramBits(documents(s, d),
        keepBitsQ8 = 1104L),
      Some("""WITH dw AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
        w AS (SELECT doc_id, unnest(ws) AS word FROM dw),
        wc AS (SELECT word, COUNT(*)::BIGINT AS cnt FROM w GROUP BY word),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM wc),
        wb AS (SELECT word,
                 CAST(length(bin(t // cnt)) - 1 AS BIGINT) AS ubits
               FROM wc CROSS JOIN tot),
        pr AS (SELECT doc_id, ws[i] AS prev, ws[i + 1] AS word
               FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                     FROM dw)),
        bc AS (SELECT prev, word, COUNT(*)::BIGINT AS cnt2
               FROM pr GROUP BY prev, word),
        cx AS (SELECT prev, CAST(SUM(cnt2) AS BIGINT) AS ctx
               FROM bc GROUP BY prev),
        pb AS (SELECT p.doc_id,
                 CAST(length(bin(cx.ctx // bc.cnt2)) - 1 AS BIGINT) AS bits
               FROM pr p JOIN bc USING (prev, word) JOIN cx USING (prev)),
        fb AS (SELECT d.doc_id, wb.ubits AS bits
               FROM (SELECT doc_id, ws[1] AS word FROM dw
                     WHERE len(ws) >= 1) d
               JOIN wb USING (word)),
        uni AS (SELECT w.doc_id, COUNT(*)::BIGINT AS n_words,
                  CAST(SUM(wb.ubits) AS BIGINT) AS sum_uni_bits
                FROM w JOIN wb USING (word) GROUP BY w.doc_id),
        bi AS (SELECT doc_id, CAST(SUM(bits) AS BIGINT) AS sum_bi_bits
               FROM (SELECT * FROM fb UNION ALL SELECT * FROM pb)
               GROUP BY doc_id)
        SELECT u.doc_id, u.n_words, u.sum_uni_bits, b.sum_bi_bits,
          CAST(b.sum_bi_bits * 256 // u.n_words AS BIGINT) AS bi_q8,
          CAST((u.sum_uni_bits - b.sum_bi_bits) * 256 // u.n_words
            AS BIGINT) AS gain_q8,
          CASE WHEN b.sum_bi_bits * 256 // u.n_words <= 1104
            THEN 1 ELSE 0 END::BIGINT AS keep
        FROM uni u JOIN bi b USING (doc_id)
        ORDER BY doc_id""")),

    // RELEASE CARD DIFF (round 15): the relation a release publishes
    // beside its data card — per (source, lang) deltas vs the previous
    // release. Old = the corpus as published; new = the corpus after a
    // release cycle (doc_id %9=1 taken down, the %50 slice re-crawled
    // under new ids — the q_data_card dup trick, so exact_dup_delta
    // audits something). Dup status is WITHIN-release (a takedown can
    // turn yesterday's duplicate into today's unique); sides are
    // zero-coalesced through a full outer join so wholesale source
    // appearance/disappearance still reports. Oracle = two copies of
    // the proven card CTE joined.
    Declared("q_card_diff",
      (s, d) => {
        val docs = documents(s, d)
        val newRel = docs.filter(pmod(col("doc_id"), lit(9)) =!= 1)
          .unionByName(docs.filter(pmod(col("doc_id"), lit(50)) === 0)
            .withColumn("doc_id", col("doc_id") + lit(20000000L)))
        TextOps.dataCardDiff(docs, newRel,
          Seq("a", "the", "of", "and", "in"))
      },
      Some("""WITH newd AS (
          SELECT * FROM documents WHERE doc_id % 9 <> 1
          UNION ALL
          SELECT doc_id + 20000000, text, lang, source, n_chars
          FROM documents WHERE doc_id % 50 = 0),
        ob AS (SELECT source, lang,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                CAST(len(list_filter(string_split(text, ' '),
                  x -> x = 'a' OR x = 'the' OR x = 'of' OR x = 'and' OR x = 'in')) AS BIGINT) AS sc,
                CASE WHEN COUNT(*) OVER (PARTITION BY md5(text)) > 1
                  THEN 1 ELSE 0 END AS is_dup
              FROM documents),
        oc AS (SELECT source, lang, COUNT(*)::BIGINT AS n_docs,
                CAST(COALESCE(SUM(nw), 0) AS BIGINT) AS nt,
                CAST(SUM(is_dup) AS BIGINT) AS nd,
                CASE WHEN COALESCE(SUM(nw), 0) = 0 THEN 0
                  ELSE SUM(sc) * 1000000 // SUM(nw) END::BIGINT AS ppm
              FROM ob GROUP BY source, lang),
        nb AS (SELECT source, lang,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                CAST(len(list_filter(string_split(text, ' '),
                  x -> x = 'a' OR x = 'the' OR x = 'of' OR x = 'and' OR x = 'in')) AS BIGINT) AS sc,
                CASE WHEN COUNT(*) OVER (PARTITION BY md5(text)) > 1
                  THEN 1 ELSE 0 END AS is_dup
              FROM newd),
        nc AS (SELECT source, lang, COUNT(*)::BIGINT AS n_docs,
                CAST(COALESCE(SUM(nw), 0) AS BIGINT) AS nt,
                CAST(SUM(is_dup) AS BIGINT) AS nd,
                CASE WHEN COALESCE(SUM(nw), 0) = 0 THEN 0
                  ELSE SUM(sc) * 1000000 // SUM(nw) END::BIGINT AS ppm
              FROM nb GROUP BY source, lang)
        SELECT COALESCE(o.source, n.source) AS source,
          COALESCE(o.lang, n.lang) AS lang,
          CAST(COALESCE(o.n_docs, 0) AS BIGINT) AS docs_old,
          CAST(COALESCE(n.n_docs, 0) AS BIGINT) AS docs_new,
          CAST(COALESCE(n.n_docs, 0) - COALESCE(o.n_docs, 0) AS BIGINT)
            AS docs_delta,
          CAST(COALESCE(n.nt, 0) - COALESCE(o.nt, 0) AS BIGINT)
            AS tokens_delta,
          CAST(COALESCE(n.nd, 0) - COALESCE(o.nd, 0) AS BIGINT)
            AS exact_dup_delta,
          CAST(COALESCE(n.ppm, 0) - COALESCE(o.ppm, 0) AS BIGINT)
            AS stopword_ppm_delta
        FROM oc o FULL OUTER JOIN nc n
          ON o.source = n.source AND o.lang = n.lang
        ORDER BY source, lang""")),

    // ───────────────────────── round-15 wave 4 ─────────────────────────

    // CORPUS-WIDE kNN GRAPH (SimilarityOps.knnGraphExact): every vector's
    // top-3 neighbors from hamming≤1 multi-probe sign-LSH candidates —
    // the SemDeDup / kNN-retrieval precursor relation. Unlike the
    // query-batch q_simsearch_lsh, the query side is the corpus itself:
    // nothing broadcasts; candidates come from ONE bucket-keyed shuffle
    // self-join (fan-in n²·9/256, linear per vector), ranked by a
    // per-vec_id window. All bits and scores exact int64.
    Declared("q_knn_join",
      (s, d) => SimilarityOps.knnGraphExact(embeddings(s, d),
        probeIds = lshProbeIds, k = 3).orderBy("q_id", "rn"),
      Some(s"""WITH ${knnGraphCtes(3)}
        SELECT q_id, rn, n_id, score_s14 FROM g ORDER BY q_id, rn""")),

    // kNN LABEL VOTE (SimilarityOps.knnLabelVote): majority label of the
    // k=5 neighbors, ties to the smaller label — the auto-labeling /
    // embedding-quality (kNN accuracy) pass; `correct` makes the output
    // double as the accuracy audit relation.
    Declared("q_knn_label",
      (s, d) => SimilarityOps.knnLabelVote(embeddings(s, d),
        probeIds = lshProbeIds, k = 5),
      Some(s"""WITH ${knnGraphCtes(5)},
        lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
                FROM embeddings),
        v AS (SELECT g.q_id, lab.label AS n_label,
                COUNT(*)::BIGINT AS votes
              FROM g JOIN lab ON g.n_id = lab.vec_id
              GROUP BY g.q_id, lab.label),
        p AS (SELECT q_id, n_label, votes FROM (
                SELECT q_id, n_label, votes,
                  ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY votes DESC, n_label) AS vr
                FROM v) WHERE vr = 1)
        SELECT p.q_id AS vec_id, p.n_label AS pred_label, p.votes,
          lab.label AS true_label,
          (p.n_label = lab.label) AS correct
        FROM p JOIN lab ON p.q_id = lab.vec_id
        ORDER BY vec_id""")),

    // MUTUAL-kNN CLUSTERS (SimilarityOps.mutualKnnClusters): undirected
    // edges only where BOTH endpoints list each other in their top-3
    // (mutuality prunes non-reciprocating hub vectors), components via
    // the audited CC engine; singletons survive as their own cluster.
    // Oracle: transitive closure over the mutual edge set, min-label per
    // node, LEFT-joined to the full vector list (q_neardup_clusters
    // pattern).
    Declared("q_knn_mutual_cc",
      (s, d) => SimilarityOps.mutualKnnClusters(embeddings(s, d),
        probeIds = lshProbeIds, k = 3),
      Some(knnMutualOracle(3))),

    // INTEGER-EXACT BM25 (RetrievalOps.bm25TopK): top-10 documents per
    // literal keyword query. k1=1.2 / b=0.75 cleared to integer ratios;
    // avgdl enters as the q8 scalar A = 256L div N so magnitudes are
    // document-bounded at any corpus size; idf is Robertson's odds
    // WITHOUT the log (the tfIdfTopTerms ln-free precedent), saturated
    // at 10^9 ppm. df/N/L are map-side-combined corpus stats; query
    // terms broadcast; bodies never shuffle.
    Declared("q_bm25_topk",
      (s, d) => RetrievalOps.bm25TopK(documents(s, d), bm25Queries, k = 10),
      Some(bm25Oracle(10))),

    // HYBRID RETRIEVAL BY RECIPROCAL-RANK FUSION
    // (RetrievalOps.hybridRrfTopK): tf·idf-dot and 3-gram-Jaccard
    // rankings of each probe doc's neighbors (top-10 each, self
    // excluded), fused by Σ 10^6 div (60 + rank), fused top-5 emitted.
    // The two-retriever hybrid-search shape with both rankers
    // oracle-replayable, so the fusion arithmetic itself is
    // hash-checked; the production variant swaps ranker 2 for the ANN
    // top-k through the same rrfFuse.
    Declared("q_rank_fusion",
      (s, d) => RetrievalOps.hybridRrfTopK(documents(s, d), probeMod = 50,
        kPerRanker = 10, topK = 5),
      Some(s"""WITH tf AS (SELECT doc_id, word, COUNT(*)::BIGINT AS tf
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                     FROM documents)
               GROUP BY doc_id, word),
        dfq AS (SELECT word, COUNT(*)::BIGINT AS df FROM tf GROUP BY word),
        wt AS (SELECT tf.doc_id, tf.word, tf.tf * (1000000 // dfq.df) AS w
               FROM tf JOIN dfq USING (word)),
        dts AS (SELECT p.doc_id AS q_id, c.doc_id,
                  CAST(SUM(c.w * p.w) AS BIGINT) AS dot_s
                FROM wt p JOIN wt c ON p.word = c.word
                  AND c.doc_id <> p.doc_id
                WHERE p.doc_id % 50 = 0 GROUP BY 1, 2),
        r1 AS (SELECT q_id, doc_id, rank FROM (
                 SELECT q_id, doc_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY dot_s DESC, doc_id) AS BIGINT) AS rank
                 FROM dts) WHERE rank <= 10),
        ${shingleCte("gr", "doc_id", "(SELECT doc_id, string_split(text, ' ') AS w FROM documents)", col = "gram")},
        gsz AS (SELECT doc_id, COUNT(*)::BIGINT AS sz FROM gr
                GROUP BY doc_id),
        gcm AS (SELECT p.doc_id AS q_id, c.doc_id,
                  COUNT(*)::BIGINT AS common
                FROM gr p JOIN gr c ON p.gram = c.gram
                  AND c.doc_id <> p.doc_id
                WHERE p.doc_id % 50 = 0 GROUP BY 1, 2),
        jac AS (SELECT gcm.q_id, gcm.doc_id,
                  gcm.common * 1000000 // (qs.sz + cs.sz - gcm.common)
                    AS jac_ppm
                FROM gcm JOIN gsz qs ON gcm.q_id = qs.doc_id
                         JOIN gsz cs ON gcm.doc_id = cs.doc_id),
        r2 AS (SELECT q_id, doc_id, rank FROM (
                 SELECT q_id, doc_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY jac_ppm DESC, doc_id) AS BIGINT) AS rank
                 FROM jac) WHERE rank <= 10),
        fused AS (SELECT q_id, doc_id,
                    CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
                    COUNT(*)::BIGINT AS n_rankers
                  FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
                  GROUP BY q_id, doc_id)
        SELECT q_id, rn, doc_id, rrf_ppm, n_rankers FROM (
          SELECT q_id, doc_id, rrf_ppm, n_rankers,
            CAST(ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY rrf_ppm DESC, doc_id) AS BIGINT) AS rn
          FROM fused) WHERE rn <= 5
        ORDER BY q_id, rn""")),

    // BLOCKED FUZZY JOIN (DedupOps.blockedFuzzyPairs): the entity-
    // resolution candidate step — distinct part names blocked on the
    // last token (surname/noun blocking), Levenshtein <= 2 within
    // block. Blocking IS the scale trick: the quadratic comparison
    // never leaves a block; levenshtein is codegen'd on both engines.
    Declared("q_fuzzy_join",
      (s, d) => DedupOps.blockedFuzzyPairs(part(s, d), "p_name", tau = 2),
      Some("""WITH n AS (SELECT p_name AS name, COUNT(*)::BIGINT AS n_rows,
                string_split(p_name, ' ')[-1] AS block
              FROM part GROUP BY p_name)
        SELECT a.name AS name_a, b.name AS name_b,
          CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev,
          a.n_rows AS rows_a, b.n_rows AS rows_b
        FROM n a JOIN n b ON a.block = b.block AND a.name < b.name
        WHERE levenshtein(a.name, b.name) <= 2
        ORDER BY name_a, name_b""")),

    // ENTITY RESOLUTION (DedupOps.fuzzyEntityResolve): fuzzy pairs →
    // CC over 60-bit portable name hashes → survivorship (cluster
    // resolves to its lexicographically smallest name); unmatched names
    // survive as their own entity via self-loops. Oracle: transitive
    // closure over the NAME pair relation (hash-free — the hash is
    // injective on this vocabulary, so the partitions coincide).
    Declared("q_entity_resolve",
      (s, d) => DedupOps.fuzzyEntityResolve(part(s, d), "p_name", tau = 2),
      Some(s"""WITH RECURSIVE n AS (SELECT p_name AS name,
                COUNT(*)::BIGINT AS n_rows,
                string_split(p_name, ' ')[-1] AS block
              FROM part GROUP BY p_name),
        p AS (SELECT a.name AS a_name, b.name AS b_name
              FROM n a JOIN n b ON a.block = b.block AND a.name < b.name
              WHERE levenshtein(a.name, b.name) <= 2),
        ${symEdgesCte("p", "ed", "a_name", "b_name")},
        ${reachCte("ed")},
        lab AS (SELECT n.name, n.n_rows,
                  LEAST(n.name, COALESCE(MIN(r.dst), n.name)) AS canon
                FROM n LEFT JOIN reach r ON r.src = n.name
                GROUP BY n.name, n.n_rows)
        SELECT canon AS canonical, COUNT(*)::BIGINT AS n_names,
          CAST(SUM(n_rows) AS BIGINT) AS n_rows,
          string_agg(name, ',' ORDER BY name) AS members
        FROM lab GROUP BY canon ORDER BY canonical""")),

    // LATERAL correlated subquery (Spark 4 SQL surface): top-2 orders
    // by value per sampled customer — the "top-n per outer row" idiom
    // spelled as LATERAL instead of a window. Catalyst decorrelates the
    // LIMIT into a per-customer rank; DuckDB runs the same text
    // natively, so the decorrelation itself is what the hash compare
    // checks. Raw-double passthrough (o_totalprice) is fine — no
    // aggregation touches it.
    Declared("q_lateral_join",
      (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
          FROM customer c,
          LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                   WHERE o_custkey = c.c_custkey
                   ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
          WHERE c.c_custkey % 10 = 0
          ORDER BY c.c_custkey, o.o_orderkey""")
      },
      Some("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        WHERE c.c_custkey % 10 = 0
        ORDER BY c.c_custkey, o.o_orderkey""")),

    // CURRICULUM-ORDERED SHARDING (TextOps.curriculumShards): shard by
    // the pure md5 bucket function (q_shard_assign discipline), band by
    // token-count decile off ONE corpus scalar, position within shard by
    // (band, doc_id) — the deterministic easy-first stream a data loader
    // replays per shard. The only window partitions by SHARD (count
    // grows with the cluster), never a band-global rank.
    Declared("q_curriculum_order",
      (s, d) => TextOps.curriculumShards(documents(s, d), nShards = 8,
        nBands = 10),
      Some("""WITH t AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents),
        mx AS (SELECT MAX(n_tokens) AS max_tok FROM t),
        b AS (SELECT t.doc_id, t.n_tokens,
                least(9, t.n_tokens * 10 // (mx.max_tok + 1)) AS band,
                CAST(('0x' || substr(md5('shard:' ||
                  CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard
              FROM t CROSS JOIN mx)
        SELECT doc_id, n_tokens, CAST(band AS BIGINT) AS band,
          CAST(shard AS BIGINT) AS shard,
          CAST(ROW_NUMBER() OVER (PARTITION BY shard
            ORDER BY band, doc_id) AS BIGINT) AS pos
        FROM b ORDER BY doc_id""")),

    // STORED LEXICAL SEARCH (RetrievalOps.bm25TopKStored): BM25 served
    // from the persisted inverted-index artifacts alone — word-clustered
    // postings with the DENORMALIZED length norm, df table, one-row
    // corpus scalars; the query terms reach the postings scan as a
    // pushed `word IN` filter (RetrievalOpsSpec pins the pushed filter
    // + scan-row reduction + fresh-worker parity). SAME parameters ⇒
    // the SAME oracle as q_bm25_topk: hash-equality against it IS the
    // stored-vs-fresh parity contract.
    Declared("q_bm25_stored",
      (s, d) => RetrievalOps.bm25TopKStored(documents(s, d),
        srcDir = s"$d/documents.parquet",
        outDir = new java.io.File(
          s"target/bm25_index_${math.abs(d.hashCode.toLong)}")
          .getAbsolutePath,
        queries = bm25Queries, k = 10),
      Some(bm25Oracle(10))),

    // DETERMINISTIC PRIORITY SAMPLING (Relational.prioritySample, the
    // Duffield-Lund-Thorup selection in integer form): 3 docs per
    // source, token count as the weight — rows rank ascending by the
    // exact u div w priority on the pure md5 draw, so membership is
    // partition/retry invariant and growing k extends the sample
    // without reshuffling earlier picks.
    Declared("q_weighted_sample",
      (s, d) => Relational.prioritySample(
        documents(s, d).select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast(LongType).as("n_tokens")),
        keyCol = "doc_id", strataCol = "source",
        weightCol = "n_tokens", k = 3),
      Some("""WITH t AS (SELECT doc_id, source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(('0x' || substr(md5('wsamp:' ||
                  CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS u
              FROM documents),
        p AS (SELECT source, doc_id, n_tokens,
                u // n_tokens AS prio FROM t)
        SELECT source, rn, doc_id, n_tokens, prio FROM (
          SELECT source, doc_id, n_tokens, prio,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY prio, doc_id) AS BIGINT) AS rn
          FROM p) WHERE rn <= 3
        ORDER BY source, rn""")),

    // ================= round-15 wave-5 additions ========================

    // INTERVAL-OVERLAP JOIN (Relational.intervalOverlapPairs): per pair
    // of users, how many of their padded activity sessions overlapped in
    // time and for how long — the co-occurrence join shape (ad
    // attribution windows, incident correlation, co-session mining).
    // Engine (round-18 form): grid-bucketed start-cell probe — each
    // interval probes its single START cell against the covered-cell
    // relation (the later-start side of an overlapping pair provably
    // finds the other, exactly once), exact bound check after the
    // equi-join; cells BELOW the interval length are the intended
    // regime since only the cover side pays the explode factor — never
    // an inequality-only or all-pairs join. Oracle: the
    // proven q_window_session CTE chain + DuckDB's native inequality
    // join. Sessions are 30-min-gap (the q_window_session gap) with the
    // end padded +2 h into an activity window, so distinct users
    // genuinely co-occur; the 150-user pool caps output rows while
    // overlap counts/durations grow with SF.
    Declared("q_interval_join",
      (s, d) => {
        // iv_id radix 2³² (ADVICE r15: the old ·10⁶ radix silently
        // violated intervalOverlapPairs' iv_id-UNIQUE precondition once
        // a user exceeded 1e6 sessions). 2³² sessions/user is ruled out
        // by TIME, not data volume: sessions are disjoint ≥30-min spans,
        // so 2³² of them need >245,000 years of wall clock. Remaining
        // precondition — user_id < 2³¹ — holds for any dense id space;
        // a corpus keyed by 64-bit hash ids must dense-rank users first.
        val iv = EventOps.sessionizeOn(events(s, d), expr("ts div 1000"),
            30L * 60L * 1000L * 1000L)
          .select(
            (col("user_id") * lit(4294967296L) + col("session_id"))
              .as("iv_id"),
            col("session_start").as("s_start"),
            (col("session_end") + lit(7200000000L)).as("s_end"))
        // cell width DERIVED from the interval-length distribution
        // (optimization round 19, VERDICT r18 #2): p50(len)/2 — which
        // lands on the 1 h knee the r18 sweep picked by hand at sf0.1
        // (p50 padded-session length is 2 h) and keeps tracking the
        // knee when the corpus's session-length distribution drifts.
        // Output is cell-size-invariant (Round15ePropertySpec), so the
        // declared relation is unchanged.
        Relational.intervalOverlapPairs(iv)
          .withColumn("user_a", expr("a_id div 4294967296L"))
          .withColumn("user_b", expr("b_id div 4294967296L"))
          .filter(col("user_a") =!= col("user_b"))
          .groupBy("user_a", "user_b")
          .agg(count(lit(1)).cast(LongType).as("n_overlaps"),
            sum(col("ov_us")).cast(LongType).as("ov_us_total"))
          .orderBy("user_a", "user_b")
      },
      Some(s"""WITH ${sessionCtes},
        iv AS (SELECT user_id, session_id, MIN(tsn) AS s_start,
                      MAX(tsn) + 7200000000 AS s_end
               FROM sess GROUP BY user_id, session_id),
        p AS (SELECT a.user_id AS user_a, b.user_id AS user_b,
                     least(a.s_end, b.s_end) - greatest(a.s_start, b.s_start) AS ov_us
              FROM iv a JOIN iv b
                ON a.user_id < b.user_id
               AND a.s_start <= b.s_end AND b.s_start <= a.s_end)
        SELECT user_a, user_b, COUNT(*)::BIGINT AS n_overlaps,
               CAST(SUM(ov_us) AS BIGINT) AS ov_us_total
        FROM p GROUP BY user_a, user_b
        ORDER BY user_a, user_b""")),

    // STORED DECONTAMINATION INDEX (DedupOps.decontaminateViaIndex):
    // the benchmark-shingle relation written once (memoized on the
    // benchmark source fingerprint), then the corpus probed against the
    // artifact alone — how a 100 TB ingest guards leakage without
    // re-shingling the eval suites per batch. SAME parameters ⇒ the
    // SAME oracle as q_decontaminate: hash-equality against it IS the
    // stored-vs-fresh parity contract (the q_bm25_stored pattern).
    Declared("q_decon_stored",
      (s, d) => {
        // one read (one parquet schema-inference job), filtered twice
        val docs = documents(s, d)
        DedupOps.decontaminateViaIndex(
          docs.filter(pmod(col("doc_id"), lit(100)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(100)) === 0),
          srcDir = s"$d/documents.parquet",
          outDir = new java.io.File(
            s"target/decon_index_${math.abs(d.hashCode.toLong)}")
            .getAbsolutePath,
          n = 3, minShared = 3, benchKey = "docmod100")
      },
      Some(deconOracle)),

    // HARD-NEGATIVE MINING (SimilarityOps.hardNegativesTopK): per probe
    // vector, the 5 nearest WRONG-label vectors by exact fixed-point
    // dot — the contrastive-training pair generator. Oracle extends the
    // q_simsearch_topk replay with the label ride-along and the
    // wrong-label / self exclusions.
    Declared("q_hard_negatives",
      (s, d) => SimilarityOps.hardNegativesTopK(
        embeddings(s, d), (0L until 8L), 5),
      Some("""WITH q AS (SELECT vec_id AS q_id, label AS q_label,
                     unnest(embedding) AS qv, unnest(range(64)) AS pos
              FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id AS n_id, label AS n_label,
                     unnest(embedding) AS cv, unnest(range(64)) AS pos
              FROM embeddings),
        s AS (SELECT q.q_id, c.n_id, CAST(c.n_label AS BIGINT) AS n_label,
                SUM(CAST(round(CAST(q.qv AS DOUBLE) * 10000000) AS BIGINT)
                    * CAST(round(CAST(c.cv AS DOUBLE) * 10000000) AS BIGINT)) AS score_s14
              FROM q JOIN c ON q.pos = c.pos
              WHERE c.n_label <> q.q_label AND c.n_id <> q.q_id
              GROUP BY q.q_id, c.n_id, c.n_label)
        SELECT q_id, rn, n_id, n_label, score_s14 FROM (
          SELECT q_id, n_id, n_label, CAST(score_s14 AS BIGINT) AS score_s14,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY score_s14 DESC, n_id) AS rn
          FROM s) WHERE rn <= 5
        ORDER BY q_id, rn""")),

    // DOMAIN REWEIGHTING (TextOps.domainReweight): DoReMi-shaped
    // multiplicative weights over per-source unigram loss — the full
    // (iter, source) trajectory declared so every avg/update/renorm
    // step is hash-checked, not just the endpoint. Corpus work is one
    // explode + two rollups; the iteration itself is a domain-bounded
    // driver loop (the Lloyd-fit collect discipline).
    Declared("q_domain_reweight",
      (s, d) => TextOps.domainReweight(documents(s, d),
        iters = 5, scaleQ = 4096L, etaQ = 64L),
      Some(domainReweightOracle(iters = 5, scaleQ = 4096L, etaQ = 64L))),

    // K-ANONYMITY / L-DIVERSITY AUDIT (Relational.lDiversityAudit):
    // quasi-identifiers (lang, 100-char length bucket), sensitive
    // attribute = source. Group sizes and distinct-sensitive counts
    // both vary at sf0.01 (n 2..45, l_distinct 2..20), so both flags
    // genuinely split.
    Declared("q_l_diversity",
      (s, d) => Relational.lDiversityAudit(
        documents(s, d).withColumn("len_bucket",
          expr("n_chars div 100L")),
        quasiCols = Seq("lang", "len_bucket"), sensitiveCol = "source",
        k = 10L, l = 8L),
      Some("""SELECT lang, n_chars // 100 AS len_bucket,
               COUNT(*)::BIGINT AS n,
               COUNT(DISTINCT source)::BIGINT AS l_distinct,
               (CASE WHEN COUNT(*) >= 10 THEN 1 ELSE 0 END)::BIGINT AS k_anon_ok,
               (CASE WHEN COUNT(DISTINCT source) >= 8 THEN 1 ELSE 0 END)::BIGINT AS l_div_ok
        FROM documents
        GROUP BY lang, len_bucket
        ORDER BY lang, len_bucket""")),

    // EMBEDDING DIMENSION-HEALTH AUDIT (SimilarityOps.dimensionAudit):
    // per dimension, exact integer population mean/variance at s4/s8
    // fixed point plus the ascending variance rank — the collapsed-
    // dimension detector run before trusting ANN distances. The window
    // runs over dim-many rows (64), never corpus rows.
    Declared("q_emb_dim_audit",
      (s, d) => SimilarityOps.dimensionAudit(embeddings(s, d)),
      Some("""WITH e AS (SELECT unnest(embedding) AS v,
                     unnest(range(64)) AS pos
              FROM embeddings),
        q AS (SELECT pos, CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT) AS vi
              FROM e),
        s AS (SELECT pos, COUNT(*)::BIGINT AS n,
                CAST(SUM(vi) AS BIGINT) AS sm,
                CAST(SUM(vi * vi) AS BIGINT) AS sq
              FROM q GROUP BY pos)
        SELECT CAST(pos AS BIGINT) AS pos, n,
               sm // n AS mean_s4,
               (n * sq - sm * sm) // (n * n) AS var_s8,
               CAST(ROW_NUMBER() OVER (ORDER BY (n * sq - sm * sm) // (n * n), pos)
                 AS BIGINT) AS var_rank
        FROM s ORDER BY pos""")),

    // INTERVAL COVERAGE (Relational.intervalCoverage): per user, padded
    // activity sessions merged into overlap-free islands — interval
    // count, island count, total covered µs. The within-key merge
    // complement of q_interval_join's cross-key pairing; one per-user
    // window (incremental frame) + two rollups.
    Declared("q_interval_coverage",
      (s, d) => {
        val iv = EventOps.sessionizeOn(events(s, d), expr("ts div 1000"),
            30L * 60L * 1000L * 1000L)
          .select(col("user_id"),
            col("session_start").as("s_start"),
            (col("session_end") + lit(7200000000L)).as("s_end"))
        Relational.intervalCoverage(iv, "user_id")
      },
      Some(s"""WITH ${sessionCtes},
        iv AS (SELECT user_id, MIN(tsn) AS s_start,
                      MAX(tsn) + 7200000000 AS s_end
               FROM sess GROUP BY user_id, session_id),
        mx AS (SELECT user_id, s_start, s_end,
                MAX(s_end) OVER (PARTITION BY user_id ORDER BY s_start, s_end
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
              FROM iv),
        ni AS (SELECT user_id, s_start, s_end,
                CASE WHEN prev_max_end IS NULL OR s_start > prev_max_end
                     THEN 1 ELSE 0 END AS new_island
              FROM mx),
        isl AS (SELECT user_id, s_start, s_end,
                CAST(SUM(new_island) OVER (PARTITION BY user_id ORDER BY s_start, s_end
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
              FROM ni),
        grp AS (SELECT user_id, island, COUNT(*)::BIGINT AS n_iv,
                  MIN(s_start) AS i_start, MAX(s_end) AS i_end
                FROM isl GROUP BY user_id, island)
        SELECT user_id, CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
               COUNT(*)::BIGINT AS n_islands,
               CAST(SUM(i_end - i_start) AS BIGINT) AS covered_us
        FROM grp GROUP BY user_id ORDER BY user_id""")),

    // STORED kNN GRAPH (SimilarityOps.mutualKnnClustersStored): the
    // knnGraphExact edge relation written once as a q_id-clustered
    // parquet artifact (memoized on the embeddings fingerprint), then
    // mutual-kNN clustering served from the stored edges through the
    // shared mutuality + CC tail. SAME parameters ⇒ the SAME oracle as
    // q_knn_mutual_cc: hash-equality against it IS the stored-vs-fresh
    // parity contract.
    Declared("q_knn_graph_stored",
      (s, d) => SimilarityOps.mutualKnnClustersStored(embeddings(s, d),
        srcDir = s"$d/embeddings.parquet",
        outDir = new java.io.File(
          s"target/knn_graph_${math.abs(d.hashCode.toLong)}")
          .getAbsolutePath,
        probeIds = lshProbeIds, k = 3),
      Some(knnMutualOracle(3))),

    // BFS REACH DEPTHS (DedupOps.bfsDepths): minimum hop count from the
    // probe seed set over the mutual-kNN edges, bounded at 4 — the
    // blast-radius / propagation primitive (components say "connected";
    // this says "how far"). Engine: frontier expansion, one
    // anti-joined round per depth. Oracle: depth-bounded recursive walk
    // (UNION dedups (id, depth) pairs so cycles terminate), MIN(depth)
    // per reached vertex.
    Declared("q_graph_bfs",
      (s, d) => DedupOps.bfsDepths(
        SimilarityOps.mutualKnnEdges(embeddings(s, d), lshProbeIds, k = 3),
        seeds = lshProbeIds, maxDepth = 4)
        .select(col("id").as("vec_id"), col("depth")),
      Some(s"""WITH RECURSIVE ${knnMutualEdgeCtes(3)},
        walk(id, depth) AS (
          SELECT unnest([${lshProbeIds.mkString(", ")}])::BIGINT AS id,
                 0::BIGINT AS depth
          UNION
          SELECT ed.dst, w.depth + 1 FROM walk w
          JOIN ed ON w.id = ed.src WHERE w.depth < 4)
        SELECT id AS vec_id, CAST(MIN(depth) AS BIGINT) AS depth
        FROM walk GROUP BY id ORDER BY vec_id""")),

    // CLUSTER-PURITY AUDIT (SimilarityOps.mutualClusterPurity): per
    // non-singleton mutual-kNN cluster, member count / majority label /
    // purity ppm against the reference labels — the "is the big cluster
    // one topic?" evaluation. Oracle: the shared cluster CTEs + label
    // join + argmax window.
    Declared("q_cluster_purity",
      (s, d) => SimilarityOps.mutualClusterPurity(embeddings(s, d),
        probeIds = lshProbeIds, k = 3, minSize = 2L),
      Some(s"""WITH RECURSIVE ${knnMutualClusterCtes(3)},
        j AS (SELECT cl.cluster_id, e.label
              FROM cl JOIN embeddings e ON cl.vec_id = e.vec_id),
        vt AS (SELECT cluster_id, label, COUNT(*)::BIGINT AS votes
               FROM j GROUP BY cluster_id, label),
        sz AS (SELECT cluster_id, CAST(SUM(votes) AS BIGINT) AS n
               FROM vt GROUP BY cluster_id),
        mj AS (SELECT cluster_id, CAST(label AS BIGINT) AS maj_label,
                 votes AS maj_votes
               FROM (SELECT cluster_id, label, votes,
                       ROW_NUMBER() OVER (PARTITION BY cluster_id
                         ORDER BY votes DESC, label) AS rn
                     FROM vt) WHERE rn = 1)
        SELECT s.cluster_id, s.n, mj.maj_label, mj.maj_votes,
               mj.maj_votes * 1000000 // s.n AS purity_ppm
        FROM sz s JOIN mj USING (cluster_id)
        WHERE s.n >= 2
        ORDER BY cluster_id""")),

    // MIXTURE SCHEDULE (TextOps.mixtureSchedule): q_domain_reweight's
    // converged weights turned into executable training numbers — per
    // domain, tokens allocated from a 100k budget and the q8
    // oversampling factor vs the tokens actually available. Oracle:
    // the shared reweight CTEs' final iteration + one token rollup.
    Declared("q_mixture_schedule",
      (s, d) => TextOps.mixtureSchedule(documents(s, d),
        budgetTokens = 100000L, iters = 5),
      Some(s"""WITH ${domainReweightCtes(5, 4096L, 64L)},
        av AS (SELECT source, COUNT(*)::BIGINT AS avail_tokens
               FROM w GROUP BY source),
        al AS (SELECT i5.source, i5.loss_q8, i5.w_ppm, av.avail_tokens,
                 i5.w_ppm * 100000 // 1000000 AS alloc_tokens
               FROM i5 JOIN av USING (source))
        SELECT source, loss_q8, w_ppm, avail_tokens, alloc_tokens,
               alloc_tokens * 256 // avail_tokens AS epochs_q8
        FROM al ORDER BY source""")),

    // ZIPF RANK-FREQUENCY AUDIT (TextOps.zipfAudit): vocabulary health
    // in doubling rank buckets — word count, occurrence mass, min/max
    // frequency, mean floor(log2 cnt) q8 per bucket. The rank window
    // runs over the vocabulary, never corpus rows.
    Declared("q_zipf_audit",
      (s, d) => TextOps.zipfAudit(documents(s, d)),
      Some("""WITH wc AS (SELECT word, COUNT(*)::BIGINT AS cnt
              FROM (SELECT unnest(string_split(text, ' ')) AS word
                    FROM documents)
              GROUP BY word),
        r AS (SELECT word, cnt,
                CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rnk
              FROM wc),
        b AS (SELECT CAST(length(bin(rnk)) - 1 AS BIGINT) AS rank_bucket,
                cnt, CAST(length(bin(cnt)) - 1 AS BIGINT) AS freq_bits
              FROM r)
        SELECT rank_bucket, COUNT(*)::BIGINT AS n_words,
               CAST(SUM(cnt) AS BIGINT) AS occurrences,
               CAST(MIN(cnt) AS BIGINT) AS min_cnt,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt,
               CAST(SUM(freq_bits) * 256 // COUNT(*) AS BIGINT) AS mean_freq_bits_q8
        FROM b GROUP BY rank_bucket ORDER BY rank_bucket""")),

    // ================= round-16 additions ==============================

    // INCREMENTAL kNN-GRAPH UPSERT (SimilarityOps.knnGraphUpserted,
    // VERDICT r15 #6): the stored edge artifact folded forward per
    // ingest batch — %9=5 taken down, %10=0 re-crawled with new content
    // (element-reversed, same id), %7=3 inserted under shifted ids —
    // under the FROZEN base hyperplanes (plane 0 is re-crawled and
    // plane 5 deleted IN the corpus, so the key exercises the
    // planes-are-index-parameters distinction; the q_ann_codes_upsert
    // frozen-codebook economics on the graph artifact). Unaffected
    // queries merge their stored top-k against the broadcast batch;
    // only queries that LOST a stored neighbor re-search. Oracle = the
    // from-scratch graph over the post-upsert corpus bucketed by the
    // base planes — the upsert is EXACT, so hash-equality is the
    // incremental-maintenance contract, not an approximation bound.
    Declared("q_knn_edges_upsert",
      (s, d) => {
        val emb = embeddings(s, d)
        SimilarityOps.knnGraphUpserted(emb, knnUpsertBatch(emb),
          knnUpsertDeletes(emb),
          srcDir = s"$d/embeddings.parquet",
          outDir = new java.io.File(
            s"target/knn_graph_${math.abs(d.hashCode.toLong)}")
            .getAbsolutePath,
          probeIds = lshProbeIds, k = 3).orderBy("q_id", "rn")
      },
      Some(s"""WITH ${knnGraphCtes(3, knnUpsertCorpusSql, "embeddings")}
        SELECT q_id, rn, n_id, score_s14 FROM g ORDER BY q_id, rn""")),

    // THE POST-UPSERT GRAPH AS A PERSISTED GENERATION (round 17,
    // SimilarityOps.knnGraphUpsertedStored): q_knn_edges_upsert's fold
    // written back q_id-clustered under the knnGraphWrite fingerprint
    // memo — a repeated upsert against an unchanged base + identical
    // batch serves the artifact with NO base re-scan (memo-hit pinned
    // by Round17OpsSpec via artifact mtime), and a fleet worker reads
    // edges alone. SAME parameters ⇒ the SAME oracle as
    // q_knn_edges_upsert: hash-equality between the two declared rows
    // IS the generation-parity contract (the q_bm25_stored pattern).
    Declared("q_knn_graph_upsert_stored",
      (s, d) => {
        val emb = embeddings(s, d)
        val h = math.abs(d.hashCode.toLong)
        SimilarityOps.knnGraphUpsertedStored(emb, knnUpsertBatch(emb),
          knnUpsertDeletes(emb),
          srcDir = s"$d/embeddings.parquet",
          outDir = new java.io.File(s"target/knn_graph_$h")
            .getAbsolutePath,
          genDir = new java.io.File(s"target/knn_graph_gen_$h")
            .getAbsolutePath,
          batchKey = "recrawl10_new7s3_del9s5",
          probeIds = lshProbeIds, k = 3)
      },
      Some(s"""WITH ${knnGraphCtes(3, knnUpsertCorpusSql, "embeddings")}
        SELECT q_id, rn, n_id, score_s14 FROM g ORDER BY q_id, rn""")),

    // CLUSTERS OVER THE UPSERTED GRAPH: the q_knn_edges_upsert relation
    // through the shared mutuality + CC tail over the post-upsert
    // corpus — semantic clusters kept current per ingest batch without
    // ever re-self-joining the corpus. Oracle = the from-scratch
    // cluster chain on the merged corpus under frozen planes.
    Declared("q_knn_upsert_cc",
      (s, d) => {
        val emb = embeddings(s, d)
        SimilarityOps.mutualKnnClustersUpserted(emb, knnUpsertBatch(emb),
          knnUpsertDeletes(emb),
          srcDir = s"$d/embeddings.parquet",
          outDir = new java.io.File(
            s"target/knn_graph_${math.abs(d.hashCode.toLong)}")
            .getAbsolutePath,
          probeIds = lshProbeIds, k = 3)
      },
      Some(knnMutualOracle(3, knnUpsertCorpusSql, "embeddings"))),

    // SCHEDULE EXECUTION PRICING (TextOps.schedulePriceBatches, VERDICT
    // r15 #6): the stream-side consumer of q_mixture_schedule — two
    // micro-batches of arriving documents (%3=2, split by doc_id
    // parity) priced against the FROZEN schedule: each doc repeats
    // epochs_q8 div 256 times plus one more when its md5-60 draw lands
    // under the fractional part (stochastic rounding, retry-invariant).
    // The 25k budget sits the per-domain epochs_q8 ASTRIDE 256 at
    // sf0.01, so both execution regimes — subsampled domains dropping
    // docs (repeats 0) and oversampled domains repeating them — are
    // live in the audited values. Stateless per doc, so each arriving
    // batch prices independently. Oracle = the shared reweight CTEs +
    // one token rollup + the portable md5 draw.
    Declared("q_schedule_price",
      (s, d) => {
        val docs = documents(s, d)
        val arriving = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
          .withColumn("batch_id", pmod(col("doc_id"), lit(2)).cast(LongType))
        TextOps.schedulePriceBatches(docs, arriving,
          budgetTokens = 25000L, iters = 5)
      },
      Some(s"""WITH ${domainReweightCtes(5, 4096L, 64L)},
        av AS (SELECT source, COUNT(*)::BIGINT AS avail_tokens
               FROM w GROUP BY source),
        sch AS (SELECT i5.source,
                  (i5.w_ppm * 25000 // 1000000) * 256 // av.avail_tokens
                    AS epochs_q8
                FROM i5 JOIN av USING (source)),
        arr AS (SELECT doc_id, doc_id % 2 AS batch_id, source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                FROM documents WHERE doc_id % 3 = 2),
        px AS (SELECT a.batch_id, a.source, a.n_tokens, sch.epochs_q8,
                 sch.epochs_q8 // 256 + CASE WHEN
                   ('0x'||substr(md5(CAST(a.doc_id AS VARCHAR)),1,15))::BIGINT
                     % 256 < sch.epochs_q8 % 256
                   THEN 1 ELSE 0 END AS repeats
               FROM arr a JOIN sch ON a.source = sch.source)
        SELECT CAST(batch_id AS BIGINT) AS batch_id, source,
          COUNT(*)::BIGINT AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS arr_tokens,
          CAST(SUM(CASE WHEN repeats > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS sampled_docs,
          CAST(SUM(n_tokens * repeats) AS BIGINT) AS sampled_tokens,
          CAST(MAX(epochs_q8) AS BIGINT) AS epochs_q8
        FROM px GROUP BY batch_id, source
        ORDER BY batch_id, source""")),

    // EDGE-CHURN AUDIT (SimilarityOps.knnUpsertChurn): the monitoring
    // relation beside q_knn_edges_upsert — kept / dropped / new edge
    // mass per ingest batch, each with its distinct-query reach. The
    // 'dropped' row trending toward the graph size is the rebuild
    // signal (the q_index_drift discipline on the graph artifact).
    // Oracle: TWO namespaced instantiations of the knn CTE chain (the
    // base graph and the frozen-plane post-upsert graph) diffed by one
    // full-outer join.
    Declared("q_knn_upsert_churn",
      (s, d) => {
        val emb = embeddings(s, d)
        SimilarityOps.knnUpsertChurn(emb, knnUpsertBatch(emb),
          knnUpsertDeletes(emb),
          srcDir = s"$d/embeddings.parquet",
          outDir = new java.io.File(
            s"target/knn_graph_${math.abs(d.hashCode.toLong)}")
            .getAbsolutePath,
          probeIds = lshProbeIds, k = 3)
      },
      Some(s"""WITH ${knnGraphCtes(3, "embeddings", "embeddings", "o")},
        ${knnGraphCtes(3, knnUpsertCorpusSql, "embeddings", "n")},
        df AS (SELECT COALESCE(og.q_id, ng.q_id) AS q_id,
                 CASE WHEN og.q_id IS NOT NULL AND ng.q_id IS NOT NULL
                        THEN 'kept'
                      WHEN og.q_id IS NOT NULL THEN 'dropped'
                      ELSE 'new' END AS status
               FROM og FULL OUTER JOIN ng
                 ON og.q_id = ng.q_id AND og.n_id = ng.n_id)
        SELECT status, COUNT(*)::BIGINT AS n_edges,
               COUNT(DISTINCT q_id)::BIGINT AS n_queries
        FROM df GROUP BY status ORDER BY status""")),

    // MIXTURE-DRIFT AUDIT (TextOps.scheduleDrift): the refreeze signal
    // for the frozen schedule — the reweighting run once on the corpus
    // q_mixture_schedule froze on and once on the corpus after an
    // ingest cycle (%3=2 docs re-crawled REVERSED — new vocabulary
    // mass, the tokenizer-drift stream trick), per-domain final loss
    // and weight under each plus the ppm weight delta. Oracle: two
    // namespaced reweight chains joined on the domain.
    Declared("q_schedule_drift",
      (s, d) => {
        val docs = documents(s, d)
        val current = docs.select("source", "text")
          .unionByName(docs.filter(pmod(col("doc_id"), lit(3)) === 2)
            .select(col("source"), reverse(col("text")).as("text")))
        TextOps.scheduleDrift(docs, current, iters = 5)
      },
      Some(s"""WITH ${domainReweightCtes(5, 4096L, 64L)},
        ${domainReweightCtes(5, 4096L, 64L,
          """(SELECT source, text FROM documents
              UNION ALL
              SELECT source, reverse(text) AS text FROM documents
              WHERE doc_id % 3 = 2)""", "n")}
        SELECT source, i5.loss_q8 AS loss_frozen,
               ni5.loss_q8 AS loss_refit, i5.w_ppm AS w_frozen,
               ni5.w_ppm AS w_refit,
               ni5.w_ppm - i5.w_ppm AS delta_ppm
        FROM i5 JOIN ni5 USING (source)
        ORDER BY source""")),

    // INCREMENTAL POSTINGS UPSERT (RetrievalOps.bm25TopKUpserted): the
    // codesUpsert economics on the lexical index — a new-crawl batch
    // (%5=4 docs under +3e7 ids) tokenized ONCE and served against the
    // stored postings/df/scalars with pure-ADDITION statistic updates
    // (old docs' scores shift correctly under the new N/avgdl/df — no
    // stale-idf approximation); re-used ids refused loudly. Oracle =
    // the proven bm25 chain over the merged corpus, exact because
    // disjoint-id union commutes with every rollup.
    Declared("q_bm25_postings_upsert",
      (s, d) => {
        val docs = documents(s, d)
        val base = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
        val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
          .withColumn("doc_id", col("doc_id") + lit(30000000L))
        RetrievalOps.bm25TopKUpserted(base, batch,
          srcDir = s"$d/documents.parquet",
          outDir = new java.io.File(
            s"target/bm25_base_${math.abs(d.hashCode.toLong)}")
            .getAbsolutePath,
          queries = bm25Queries, k = 10)
      },
      Some(bm25Oracle(10,
        """(SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4
           UNION ALL
           SELECT doc_id + 30000000 AS doc_id, text FROM documents
           WHERE doc_id % 5 = 4)"""))),

    // POSTINGS COMPACTION / TAKEDOWN (round 17, VERDICT r16 #3 —
    // RetrievalOps.bm25TopKCompacted): the step q_bm25_postings_upsert
    // could not do — documents leave the corpus. One maintenance cycle
    // writes the next index GENERATION from the stored one by pure
    // index arithmetic: the %7=2 takedown slice's postings drop by
    // anti-join (the takedown list stays a DISTRIBUTED join side,
    // never an isin literal), df/N/avgdl shift DOWN by subtraction of
    // the deleted rows' own stored statistics (base never
    // re-tokenized), a %5=4 re-crawl batch under +3e7 ids appends
    // tokenized-once, and the survivors rewrite word-clustered so
    // row-group pruning survives the swap. Served through the shared
    // bm25TopKFromIndex tail at k=8 (deliberately different request
    // shape from the upsert key). Oracle = the proven from-scratch
    // bm25 chain over (base ∖ takedown) ∪ batch — exact, because
    // disjoint membership algebra commutes with every rollup.
    Declared("q_postings_compact",
      (s, d) => {
        val docs = documents(s, d)
        val h = math.abs(d.hashCode.toLong)
        val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
          .withColumn("doc_id", col("doc_id") + lit(30000000L))
        RetrievalOps.bm25TopKCompacted(docs, batch,
          deletes = docs.filter(pmod(col("doc_id"), lit(7)) === 2)
            .select("doc_id"),
          srcDir = s"$d/documents.parquet",
          baseDir = new java.io.File(s"target/bm25_index_$h")
            .getAbsolutePath,
          outDir = new java.io.File(s"target/bm25_compact_$h")
            .getAbsolutePath,
          batchKey = "del_mod7_2_add_mod5_4",
          queries = bm25Queries, k = 8)
      },
      Some(bm25Oracle(8,
        """(SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 2
           UNION ALL
           SELECT doc_id + 30000000 AS doc_id, text FROM documents
           WHERE doc_id % 5 = 4)"""))),

    // SCHEDULE-EXECUTED PACKING (TextOps.packScheduledBins): the
    // sampled stream — each arriving doc realized `repeats` times —
    // concatenated in (doc_id, copy) order and cut into 300-token bins
    // per (micro-batch, domain): the training batches the frozen
    // mixture actually assembles, closing reweight → schedule → price
    // → pack. The prefix-sum window partitions by (batch_id, source),
    // never globally. Oracle = the shared reweight/pricing CTEs + a
    // copy-unnest + the proven gaps-and-islands prefix sum.
    Declared("q_pack_scheduled",
      (s, d) => {
        val docs = documents(s, d)
        val arriving = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
          .withColumn("batch_id", pmod(col("doc_id"), lit(2)).cast(LongType))
        TextOps.packScheduledBins(docs, arriving,
          budgetTokens = 25000L, binTokens = 300L, iters = 5)
      },
      Some(s"""WITH ${domainReweightCtes(5, 4096L, 64L)},
        av AS (SELECT source, COUNT(*)::BIGINT AS avail_tokens
               FROM w GROUP BY source),
        sch AS (SELECT i5.source,
                  (i5.w_ppm * 25000 // 1000000) * 256 // av.avail_tokens
                    AS epochs_q8
                FROM i5 JOIN av USING (source)),
        arr AS (SELECT doc_id, doc_id % 2 AS batch_id, source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                FROM documents WHERE doc_id % 3 = 2),
        px AS (SELECT a.doc_id, a.batch_id, a.source, a.n_tokens,
                 sch.epochs_q8 // 256 + CASE WHEN
                   ('0x'||substr(md5(CAST(a.doc_id AS VARCHAR)),1,15))::BIGINT
                     % 256 < sch.epochs_q8 % 256
                   THEN 1 ELSE 0 END AS repeats
               FROM arr a JOIN sch ON a.source = sch.source),
        cp AS (SELECT batch_id, source, doc_id, n_tokens,
                 unnest(range(1, repeats + 1)) AS copy
               FROM px WHERE repeats >= 1),
        pf AS (SELECT batch_id, source, doc_id, copy, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY batch_id, source ORDER BY doc_id, copy
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS bf
               FROM cp)
        SELECT CAST(batch_id AS BIGINT) AS batch_id, source,
          CAST(bf // 300 AS BIGINT) AS bin,
          COUNT(*)::BIGINT AS n_items,
          COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        FROM pf GROUP BY batch_id, source, bin
        ORDER BY batch_id, source, bin""")),

    // CCNET PERPLEXITY TERCILES (round 17, TextOps.ccnetBuckets —
    // Wenzek et al. 2020): per DOMAIN, docs split head/middle/tail by
    // the integer unigram code length (the LM-perplexity proxy every
    // audited loss here uses), so curation keeps buckets per domain
    // instead of one global threshold that starves clean-but-unusual
    // domains. NTILE ties broken by doc_id — deterministic. Oracle =
    // the proven q_surprisal CTE chain + the identical NTILE rollup.
    Declared("q_ccnet_buckets",
      (s, d) => TextOps.ccnetBuckets(documents(s, d)),
      Some(s"""WITH ${unigramBitsCtes()},
        db AS (SELECT w.doc_id, COUNT(*)::BIGINT AS n_words,
                 CAST(SUM(wb.bits) * 256 // COUNT(*) AS BIGINT) AS bits_q8
               FROM w JOIN wb USING (word) GROUP BY w.doc_id),
        t3 AS (SELECT d.source, db.n_words, db.bits_q8,
                 CAST(NTILE(3) OVER (PARTITION BY d.source
                   ORDER BY db.bits_q8, db.doc_id) AS BIGINT) AS tercile
               FROM db JOIN documents d USING (doc_id))
        SELECT source, tercile, COUNT(*)::BIGINT AS n_docs,
          CAST(SUM(n_words) AS BIGINT) AS tokens,
          MIN(bits_q8) AS min_bits_q8, MAX(bits_q8) AS max_bits_q8
        FROM t3 GROUP BY source, tercile
        ORDER BY source, tercile""")),

    // CCNET FILTER DECISION (round 17, TextOps.ccnetFilter): the
    // curation step the tercile audit feeds — keep head+middle, drop
    // the high-perplexity tail, per DOMAIN (the published CCNet
    // default), reported as the per-domain docs/tokens in/kept
    // accounting. Buckets computed ONCE by the identical NTILE rule as
    // q_ccnet_buckets, so decision provably matches audit. Oracle =
    // the shared tercile chain + a conditional rollup.
    Declared("q_ccnet_filter",
      (s, d) => TextOps.ccnetFilter(documents(s, d)),
      Some(s"""WITH ${unigramBitsCtes()},
        db AS (SELECT w.doc_id, COUNT(*)::BIGINT AS n_words,
                 CAST(SUM(wb.bits) * 256 // COUNT(*) AS BIGINT) AS bits_q8
               FROM w JOIN wb USING (word) GROUP BY w.doc_id),
        t3 AS (SELECT d.source, db.n_words,
                 CAST(NTILE(3) OVER (PARTITION BY d.source
                   ORDER BY db.bits_q8, db.doc_id) AS BIGINT) AS tercile
               FROM db JOIN documents d USING (doc_id))
        SELECT source, COUNT(*)::BIGINT AS docs_in,
          CAST(SUM(CASE WHEN tercile IN (1, 2) THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_kept,
          CAST(SUM(n_words) AS BIGINT) AS tokens_in,
          CAST(SUM(CASE WHEN tercile IN (1, 2) THEN n_words ELSE 0 END)
            AS BIGINT) AS tokens_kept
        FROM t3 GROUP BY source ORDER BY source""")),

    // PADDING-WASTE AUDIT (round 17, TextOps.paddingWaste): per exact
    // length-quantile bucket — computed over the DISTINCT length-value
    // table, whole length-groups assigned the first doc's bucket, so
    // no ntile tie-splitting — the padded-token waste of batching that
    // bucket to its max length, plus the one-global-batch baseline
    // (bucket -1). The baseline-vs-bucketed waste_permille delta is
    // the throughput argument for length-bucketed batch shaping.
    Declared("q_padding_waste",
      (s, d) => TextOps.paddingWaste(documents(s, d), buckets = 8),
      Some("""WITH l AS (SELECT CAST(len(string_split(text, ' '))
                   AS BIGINT) AS len FROM documents),
        lc AS (SELECT len, COUNT(*)::BIGINT AS cnt FROM l GROUP BY len),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM lc),
        cb AS (SELECT len, cnt,
                 COALESCE(CAST(SUM(cnt) OVER (ORDER BY len
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS cum_before
               FROM lc),
        bk AS (SELECT len, cnt, cum_before * 8 // n_total AS bucket
               FROM cb CROSS JOIN tot),
        per AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS n_docs,
                  CAST(SUM(len * cnt) AS BIGINT) AS sum_tokens,
                  MAX(len) AS max_len
                FROM bk GROUP BY bucket),
        allr AS (SELECT bucket, n_docs, sum_tokens, max_len FROM per
                 UNION ALL
                 SELECT -1, CAST(SUM(n_docs) AS BIGINT),
                   CAST(SUM(sum_tokens) AS BIGINT), MAX(max_len)
                 FROM per)
        SELECT CAST(bucket AS BIGINT) AS bucket, n_docs, sum_tokens,
          max_len, CAST(max_len * n_docs AS BIGINT) AS padded_tokens,
          CAST(CASE WHEN max_len * n_docs > 0 THEN
            (max_len * n_docs - sum_tokens) * 1000 // (max_len * n_docs)
            ELSE 0 END AS BIGINT) AS waste_permille
        FROM allr ORDER BY bucket""")),

    // ================= round-18 additions ==============================

    // DECON-INDEX UPSERT (round 18, DedupOps.deconIndexUpsert — VERDICT
    // r17 #5): the benchmark-shingle artifact's maintenance generation.
    // The %300=0 benchmarks retire (takedown by anti-join on the stored
    // shingles — a RELATION, never a literal list) and the %100=50
    // slice ships as NEW benchmarks under +40000000 ids (shingled ONCE;
    // the base suite is never re-shingled); the corpus probes the
    // upserted artifact alone. Oracle = from-scratch decontaminate over
    // the merged benchmark set — upsert ≡ rebuild is the identity the
    // append/takedown economics claim.
    Declared("q_decon_index_upsert",
      (s, d) => {
        val docs = documents(s, d)
        val h = math.abs(d.hashCode.toLong)
        DedupOps.deconIndexUpsert(
          docs.filter(pmod(col("doc_id"), lit(100)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(100)) === 0),
          docs.filter(pmod(col("doc_id"), lit(100)) === 50)
            .withColumn("doc_id", col("doc_id") + lit(40000000L)),
          docs.filter(pmod(col("doc_id"), lit(300)) === 0)
            .select(col("doc_id").as("bench_id")),
          srcDir = s"$d/documents.parquet",
          baseDir = new java.io.File(s"target/decon_index_$h")
            .getAbsolutePath,
          outDir = new java.io.File(s"target/decon_upsert_$h")
            .getAbsolutePath,
          n = 3, minShared = 3, baseKey = "docmod100",
          batchKey = "retire300_new100s50")
      },
      Some(deconUpsertOracle)),

    // SHARD-PACK TAKEDOWN / COMPACTION (round 18,
    // TextOps.packShardsCompact — VERDICT r17 #7): the
    // q_postings_compact generation story on the packed-bin artifact.
    // The %11=7 documents leave the corpus; ONLY their (source, shard)
    // bins repack (from surviving docs, under the FROZEN tokenizer —
    // the per-shard prefix-sum independence that makes the carry-over
    // sound), every other bin is carried as stored bytes, and the %6=3
    // re-crawl batch appends into its own shards exactly as
    // q_pack_shards_upsert. The declared relation is the merged
    // corpus's manifest sliced against the compacted generation; the
    // oracle recomputes every surviving document's encoding from
    // scratch — hash equality IS append-then-delete ≡ from-scratch.
    Declared("q_pack_compact",
      (s, d) => {
        val docs = documents(s, d)
        val merges = TextOps.bpeMerges(docs, rounds = 6, topWords = 31)
        val syms = TextOps.bpeWordSyms(docs, merges, topWords = 31)
        val batch = docs.filter(pmod(col("doc_id"), lit(6)) === 3)
          .withColumn("doc_id", col("doc_id") + lit(20000000L))
        val deletes = docs.filter(pmod(col("doc_id"), lit(11)) === 7)
          .select("doc_id")
        val h = math.abs(d.hashCode.toLong)
        val out = new java.io.File(s"target/pack_shards_$h").getAbsolutePath
        val gen = new java.io.File(s"target/pack_compact_$h").getAbsolutePath
        TextOps.packShardsCompact(docs, batch, deletes, syms, 128L, 100L,
          srcDir = s"$d/documents.parquet", outDir = out, genDir = gen,
          batchKey = "del11s7_recrawl6s3")
        TextOps.packShardsSliceAudit(
          docs.filter(pmod(col("doc_id"), lit(11)) =!= 7)
            .unionByName(batch),
          syms, 128L, 100L, gen)
      },
      Some(s"""WITH ${bpeOracleCtes(rounds = 6, topWords = 31)},
        docs AS (SELECT * FROM documents WHERE doc_id % 11 <> 7
          UNION ALL
          SELECT doc_id + 20000000, text, lang, source, n_chars
          FROM documents WHERE doc_id % 6 = 3),
        ${bpePackShards("docs")}""")),

    // SIGN-LSH PLANES RETRAIN (round 18,
    // SimilarityOps.knnPlanesRetrainRecall — VERDICT r17 #6): the
    // RESPONSE to q_knn_upsert_churn's rebuild signal, on the SAME
    // ingest cycle that key audits. The bucketer serves the merged
    // corpus either under the planes the base build froze ('stale' —
    // plane 0's pre-re-crawl content, deleted plane 5's ghost) or
    // under planes re-drawn from the post-ingest corpus ('retrained' —
    // live ids 0-8 minus the takedown, current content); both run the
    // identical hamming≤1 search for the re-crawled query slice, and
    // each row reports hits against the exact top-5 — recall recovery
    // is MEASURED in the relation, making the churn signal actionable
    // (the q_index_retrain discipline on the graph artifact).
    Declared("q_knn_planes_retrain",
      (s, d) => {
        val emb = embeddings(s, d)
        SimilarityOps.knnPlanesRetrainRecall(emb, knnUpsertBatch(emb),
          knnUpsertDeletes(emb),
          stalePlaneIds = lshProbeIds,
          freshPlaneIds = Seq(0L, 1L, 2L, 3L, 4L, 6L, 7L, 8L),
          queryIds = Seq(0L, 10L, 20L, 30L, 40L, 60L, 70L, 80L), k = 5)
      },
      Some(knnPlanesRetrainOracle(k = 5, staleIds = lshProbeIds,
        freshIds = Seq(0L, 1L, 2L, 3L, 4L, 6L, 7L, 8L),
        queryIds = Seq(0L, 10L, 20L, 30L, 40L, 60L, 70L, 80L),
        corpus = knnUpsertCorpusSql)))
  )

  /** TPC-H Q1-shaped multi-aggregate (SURVEY §2 D5) — also the flagship
    * `entry` query. Money math runs entirely in decimals: per-row casts
    * are exact for 2-decimal source data; decimal sums are
    * order-independent, so the result is reproducible at any parallelism.
    */
  def qAggMulti(s: SparkSession, d: String): DataFrame = {
    val price = dec(col("l_extendedprice"))
    val discFactor = lit(1).cast(Dec18_2) - dec(col("l_discount"))
    val taxFactor = lit(1).cast(Dec18_2) + dec(col("l_tax"))
    val discPrice = (price * discFactor).cast(DecimalType(18, 4))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-09-02 00:00:00").cast(TimestampNTZType))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        outD(sum(dec(col("l_quantity")))).as("sum_qty"),
        outD(sum(price)).as("sum_base_price"),
        outD(sum(discPrice)).as("sum_disc_price"),
        outD(sum((discPrice * taxFactor).cast(DecimalType(18, 6))))
          .as("sum_charge"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_extendedprice")).as("max_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> normalize(o))).toMap

  /** Collapse the triple-quoted SQL to single-line (defensive against
    * JSON-escaping surprises in the driver round-trip), then pin every
    * CTE to `AS MATERIALIZED`.
    *
    * The MATERIALIZED hint is the round-16 oracle-cost fix: DuckDB 1.0
    * INLINES every CTE reference, so an unrolled iteration chain (Lloyd,
    * MW-reweight, BPE rounds, k-core peel) where level t references
    * level t-1 more than once re-evaluates the whole chain below it per
    * reference — exponential re-execution that put single oracles at
    * 400+ s and blew the driver's ~10-min compare window in round 15
    * (CORRECTNESS_r15 came back empty). Forcing materialization makes
    * each CTE evaluate exactly once: measured suite total at sf0.01
    * dropped 164 s → 10.7 s with all 272 oracles hash-identical.
    *
    * Rewrite contract (round-17 tightening of the r16 regex, which
    * rewrote every `name AS (` and relied on a `(?<!WINDOW )`
    * lookbehind that only protected the FIRST named window): walk the
    * collapsed string, and at each `WITH [RECURSIVE]` keyword parse the
    * CTE prologue — identifier, optional balanced column list, ` AS (`,
    * balanced body, then `, ` → next CTE — inserting MATERIALIZED only
    * at those definition sites. Multi-window WINDOW clauses, derived-
    * table aliases, and any other non-CTE `ident AS (` are untouched by
    * construction. Column-list CTEs (`q(a, b) AS (…)`) are skipped to
    * stay byte-identical with the r16 output (none exist in the
    * corpus). NormalizeSpec pins the behavior; selfcheck.py's
    * per-oracle run still catches any parse regression before the
    * driver sees it.
    */
  private[graft] def normalize(sql: String): String = {
    val s = sql.replaceAll("\\s+", " ").trim
    // positions inside '…' string literals ('' = escaped quote): paren
    // counting and WITH-keyword matching must ignore these, or an
    // unbalanced paren in a regex literal (`'[(]'`) or a literal
    // containing `'WITH x AS ('` would misparse the prologue (r17
    // ADVICE)
    val inLit: Array[Boolean] = {
      val a = new Array[Boolean](s.length)
      var j = 0; var in = false
      while (j < s.length) {
        if (s.charAt(j) == '\'') {
          if (in && j + 1 < s.length && s.charAt(j + 1) == '\'') {
            a(j) = true; a(j + 1) = true; j += 1 // escaped '' stays inside
          } else { in = !in; a(j) = true }
        } else a(j) = in
        j += 1
      }
      a
    }
    // index just past the balanced ')' matching the '(' at `open`
    def skipBalanced(open: Int): Int = {
      var depth = 0; var j = open
      while (j < s.length) {
        val c = s.charAt(j)
        if (!inLit(j)) {
          if (c == '(') depth += 1
          else if (c == ')') { depth -= 1; if (depth == 0) return j + 1 }
        }
        j += 1
      }
      s.length
    }
    val identRe = "[A-Za-z_][A-Za-z0-9_]*".r
    val insertAt = scala.collection.mutable.SortedSet[Int]()
    for (m <- "\\bWITH (RECURSIVE )?".r.findAllMatchIn(s)
         if !inLit(m.start)) {
      var i = m.end
      var more = true
      while (more) {
        more = false
        identRe.findPrefixMatchOf(s.subSequence(i, s.length)).foreach { id =>
          var j = i + id.end
          val hasColList = j < s.length && s.charAt(j) == '('
          if (hasColList) j = skipBalanced(j)
          // a hand-pinned `AS MATERIALIZED (` is already done — step
          // over it so the walk reaches the CTEs after it
          val open =
            if (s.regionMatches(j, " AS MATERIALIZED (", 0, 18)) j + 17
            else if (s.regionMatches(j, " AS (", 0, 5)) {
              if (!hasColList) insertAt += j + 4 // before the body '('
              j + 4
            } else -1
          if (open >= 0) {
            val bodyEnd = skipBalanced(open)
            if (s.regionMatches(bodyEnd, ", ", 0, 2)) {
              i = bodyEnd + 2; more = true
            }
          }
        }
      }
    }
    val out = new StringBuilder(s)
    insertAt.toSeq.reverse.foreach(p => out.insert(p, "MATERIALIZED "))
    out.toString
  }
}
