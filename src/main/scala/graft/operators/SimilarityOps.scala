package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import graft.operators.Lineage.LineageOps
import graft.sources.SessionMemo
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (SURVEY.md §2 K L3).
  *
  * Two implementations:
  *  - [[topKDotFast]] — the production path: broadcast the (small) query
  *    set, compute the dot product with a single `aggregate(zip_with(…))`
  *    expression (one pass, no explode, no shuffle until the final
  *    per-query top-k window). This is the plan you want at 100 TB: the
  *    corpus streams through map tasks; the only shuffle carries
  *    `|queries| × k`-bounded rows.
  *  - [[topKDotExact]] — the oracle-parity path: identical ranking, but
  *    the dot product is an exact decimal sum over position-exploded
  *    elements, making the score bit-reproducible across engines
  *    (double summation order never matters because decimal addition is
  *    exact and commutative).
  *  - [[lshBucketTopK]] — the approximate scale path: random-hyperplane
  *    (sign-LSH) bucketing; candidates only within the query's bucket.
  *
  * Shared builders (probe split, fixed-point vectors, per-query top-k)
  * sit right after [[fixedPoint]]; RetrievalOps ranks through them too.
  */
object SimilarityOps {

  /** Fixed-point scale for the exact dot product: each float element is
    * rounded to an integer at 1e7 resolution; the pairwise-product sum is
    * then pure int64 arithmetic — order-independent and bit-identical in
    * any engine (doubles summed in different orders are not; double→
    * decimal casts round differently across engines). Max |elem| ~1 →
    * scaled ~1e7, product ~1e14, 64-dim sum ~6e15 « Long.MaxValue.
    */
  val FixedPointScale: Double = 1e7

  /** Round a float-array element to the fixed-point integer grid. */
  def fixedPoint(c: Column): Column =
    round(c.cast(DoubleType) * FixedPointScale).cast(LongType)

  /** The probe split: the rows of `df` whose `vec_id` is in `queryIds`. */
  private def probeRows(df: DataFrame, queryIds: Seq[Long]): DataFrame =
    df.filter(col("vec_id").isin(queryIds.map(_.asInstanceOf[Any]): _*))

  /** The `embedding` array on the fixed-point integer grid. */
  private def fixedVec: Column = transform(col("embedding"), v => fixedPoint(v))

  /** Per-query ranked top-k: number each `key`'s rows by `score`
    * descending, then `tie` ascending, into `rank`; keep ranks ≤ `k`;
    * project `keep` (every column when empty). `longRank` casts the rank
    * to bigint before the cut, the type of the declared search relations.
    */
  private[operators] def topKPerQuery(scored: DataFrame, score: String,
      k: Int, keep: Seq[String] = Nil, tie: String = "n_id",
      rank: String = "rn", longRank: Boolean = true,
      key: String = "q_id"): DataFrame = {
    val rn = row_number()
      .over(Window.partitionBy(key).orderBy(desc(score), asc(tie)))
    val ranked = scored.withColumn(rank, if (longRank) rn.cast(LongType) else rn)
      .filter(col(rank) <= k)
    if (keep.isEmpty) ranked else ranked.select(keep.map(col): _*)
  }

  /** The columns of every declared exact search relation. */
  private val Ranked = Seq("q_id", "rn", "n_id", "score_s14")

  /** (q_id, qvi): the probe rows of a [[withFixedInts]] frame. */
  private def queryInts(withInts: DataFrame, ids: Seq[Long]): DataFrame =
    probeRows(withInts, ids).select(col("vec_id").as("q_id"), col("vi").as("qvi"))

  /** (p_id, pvi): the hyperplane rows of a [[withFixedInts]] frame. */
  private def planeInts(withInts: DataFrame, ids: Seq[Long]): DataFrame =
    probeRows(withInts, ids).select(col("vec_id").as("p_id"), col("vi").as("pvi"))

  /** A `bucket` plus its one-bit flips under `numPlanes` planes: the
    * hamming ≤ 1 probe set of multi-probe sign-LSH.
    */
  private def flipBuckets(numPlanes: Int): Column =
    array((col("bucket") +: (0 until numPlanes).map(p =>
      col("bucket").bitwiseXOR(lit(1L << p)))): _*)

  /** Exact top-k by dot product with fixed-point integer scores
    * (`score_s14` ≈ dot · 1e14). Position-exploded + equi-joined on the
    * element index, so the same plan works whatever the corpus size; the
    * tiny query side is broadcast.
    */
  def topKDotExact(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val queries = probeRows(embeddings, queryIds)
      .select(col("vec_id").as("q_id"), posexplode(col("embedding")).as(Seq("pos", "qv")))
      .withColumn("qi", fixedPoint(col("qv")))
    val corpus = embeddings
      .select(col("vec_id").as("n_id"), posexplode(col("embedding")).as(Seq("pos", "cv")))
      .withColumn("ci", fixedPoint(col("cv")))
    val scores = corpus
      .join(broadcast(queries), Seq("pos"))
      .groupBy("q_id", "n_id")
      .agg(sum(col("qi") * col("ci")).as("score_s14"))
    topKPerQuery(scores, "score_s14", k, Ranked).orderBy("q_id", "rn")
  }

  /** HARD-NEGATIVE MINING (round 15, wave 5) — per probe, the `k`
    * nearest vectors carrying a DIFFERENT label: the contrastive-pair
    * generator of a retrieval/embedding training pipeline ("the most
    * confusable wrong answers"). Same exact fixed-point dot arithmetic
    * as [[topKDotExact]]; labels ride the corpus explode (one extra long
    * per position row — no second corpus shuffle), the wrong-label
    * filter lands BEFORE the score aggregation so excluded candidates
    * never reach the rollup, and the probe's own row is excluded.
    *
    * Scale shape: identical to the exact scan — broadcast query side,
    * one corpus-sized position join + rollup; at 100 TB the candidate
    * generation swaps to the IVF/PQ index tier (same tail: filter
    * label, rank), which is why the exact form is the declared oracle
    * anchor.
    */
  def hardNegativesTopK(embeddings: DataFrame, queryIds: Seq[Long],
                        k: Int): DataFrame = {
    val queries = probeRows(embeddings, queryIds)
      .select(col("vec_id").as("q_id"), col("label").cast(LongType)
        .as("q_label"), posexplode(col("embedding")).as(Seq("pos", "qv")))
      .withColumn("qi", fixedPoint(col("qv")))
    val corpus = embeddings
      .select(col("vec_id").as("n_id"), col("label").cast(LongType)
        .as("n_label"), posexplode(col("embedding")).as(Seq("pos", "cv")))
      .withColumn("ci", fixedPoint(col("cv")))
    val scores = corpus
      .join(broadcast(queries), Seq("pos"))
      .filter(col("n_label") =!= col("q_label") &&
        col("n_id") =!= col("q_id"))
      .groupBy("q_id", "n_id", "n_label")
      .agg(sum(col("qi") * col("ci")).as("score_s14"))
    topKPerQuery(scores, "score_s14", k,
      Seq("q_id", "rn", "n_id", "n_label", "score_s14")).orderBy("q_id", "rn")
  }

  /** EMBEDDING DIMENSION-HEALTH AUDIT (round 15, wave 6) — per
    * dimension, count / fixed-point mean / fixed-point variance, ranked
    * ascending by variance: the "collapsed dimension" detector an
    * embedding pipeline runs before trusting ANN distances (a dimension
    * whose variance ≈ 0 carries no information but still costs
    * bandwidth in every dot product; anisotropy/collapse is the classic
    * failure of under-trained or truncated encoders). The ranking IS
    * the audit — the bottom ranks are the prune/retrain candidates —
    * so no data-dependent threshold flag that could go constant.
    *
    * Arithmetic: values quantize at s4 (×10⁴). Worst case a dimension
    * carries the FULL unit mass of every row (vi = 10⁴, vi² = 10⁸), so
    * `n·Σv²` = n²·10⁸ and `(Σv)²` = n²·10⁸ leave int64 near n ≈ 3·10⁵
    * rows — that pathological bound, not the ~10⁷ typical-anisotropy
    * one, is the contract (ADVICE r15). Beyond it the engines DIVERGE
    * silently: non-ANSI Spark wraps the int64 product while DuckDB
    * widens to HUGEINT/raises, so overflow surfaces as wrong var ranks
    * on the Spark side only. A 100 TB run therefore sums `sq`/`sm` in
    * decimal(38,0) per shard before the merge (one-line swap,
    * documented rather than paid here because int64 at the declared
    * scales — ≤ 10⁴ rows, never near 3·10⁵ — is what DuckDB replays
    * exactly). `var_s8 = (n·Σv² − (Σv)²) div n²` — the exact integer
    * population variance in s8 units, no sqrt, no doubles.
    *
    * Scale shape: one position explode + one map-side-combined
    * aggregate on the (dim-bounded) position key; the rank window runs
    * over `dim` rows. Never collects, never broadcasts the corpus.
    */
  def dimensionAudit(embeddings: DataFrame): DataFrame = {
    val e = embeddings
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos").cast(LongType).as("pos"),
        round(col("v").cast(DoubleType) * 10000).cast(LongType).as("vi"))
    val stats = e.groupBy("pos").agg(
      count(lit(1)).cast(LongType).as("n"),
      sum(col("vi")).cast(LongType).as("sm"),
      sum(col("vi") * col("vi")).cast(LongType).as("sq"))
    stats
      .withColumn("mean_s4", expr("sm div n"))
      .withColumn("var_s8", expr("(n * sq - sm * sm) div (n * n)"))
      .withColumn("var_rank", row_number().over(
        Window.orderBy(asc("var_s8"), asc("pos"))).cast(LongType))
      .select("pos", "n", "mean_s4", "var_s8", "var_rank")
      .orderBy("pos")
  }

  /** L2/L3 — embedding-cosine near-duplicate pairs with exact fixed-point
    * arithmetic: `cos(a,b) ≥ τ` tested as `dot² · 10⁴ ≥ τ²·10⁴ · |a|²·|b|²`
    * on integer dot/norms (the squares go through identical IEEE double
    * products in any engine, so the boundary decision is reproducible —
    * no sqrt, no division).
    *
    * Pairing is an N²/2 non-equi self-join — intended for BOUNDED
    * candidate sets (a sample, or one LSH bucket via [[lshBucket]] /
    * [[ivfIndex]] cells, which is the 100 TB path: bucket first, then
    * run this verify within each bucket). No broadcast hint: Spark picks
    * BNLJ vs cartesian from the actual side sizes.
    */
  def cosinePairsExact(embeddings: DataFrame, minCosPct: Int): DataFrame = {
    // Fixed-point dot/norms fold per row with integer arithmetic — sums
    // of longs are order-free, so no explode is needed for exactness.
    // Pairing is a broadcast non-equi self-join: a position equi-join
    // would funnel everything through dim-many (64) shuffle keys — a
    // skew trap; the candidate set here is bounded by construction
    // (LSH-bucket first at scale), so NxN/2 zip_with folds win.
    val withInts = withFixedInts(embeddings)
    val a = withInts.select(col("vec_id").as("a_id"), col("vi").as("avi"),
      col("norm_s").as("a_norm_s"))
    val b = withInts.select(col("vec_id").as("b_id"), col("vi").as("bvi"),
      col("norm_s").as("b_norm_s"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("dot_s", graft.plans.VecDot.dotLong(col("avi"), col("bvi")))
      .filter(cosGate(col("dot_s"), col("a_norm_s"), col("b_norm_s"), minCosPct))
      .select(col("a_id"), col("b_id"), col("dot_s"), col("a_norm_s"), col("b_norm_s"))
      .orderBy("a_id", "b_id")
  }

  /** Fixed-point projection + integer self-norm — ONE definition for
    * every exact-cosine consumer ([[cosinePairsExact]],
    * [[semDedupBuckets]], [[crossCosinePairs]]), so the three variants
    * cannot diverge bit-for-bit on the frame they verify over.
    */
  private def withFixedInts(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), fixedVec.as("vi"))
      .withColumn("norm_s", graft.plans.VecDot.dotLong(col("vi"), col("vi")))

  /** The exact `cos ≥ τ` boundary predicate: `dot²·10⁴ ≥ τ²·|a|²·|b|²`
    * on integer dot/norms (the squares go through identical IEEE double
    * products in any engine — no sqrt, no division). Shared by the
    * self-join, bucketed, and cross-set variants for the same reason as
    * [[withFixedInts]].
    */
  private[operators] def cosGate(dot: Column, normA: Column, normB: Column,
                      minCosPct: Int): Column = {
    val tauSq = (minCosPct.toLong * minCosPct).toDouble
    dot > 0 &&
      dot.cast(DoubleType) * dot.cast(DoubleType) * lit(10000.0) >=
        normA.cast(DoubleType) * normB.cast(DoubleType) * lit(tauSq)
  }

  /** L5 — SEMANTIC DECONTAMINATION: every (corpus vector, benchmark
    * vector) pair with cosine ≥ τ, in the exact fixed-point arithmetic
    * of [[cosinePairsExact]] (`dot²·10⁴ ≥ τ²·10⁴·|v|²·|b|²` on integer
    * dot/norms — no sqrt, no division, reproducible boundary). The
    * embedding-space sibling of [[DedupOps.decontaminate]]: n-gram
    * overlap catches verbatim test-set leakage, this catches the
    * PARAPHRASED leakage n-grams miss — a training document that is a
    * reworded eval question shares no trigram but sits next to it in
    * embedding space.
    *
    * Cross-set by construction (corpus × bench, no self-pairs), so
    * unlike the self-join pair ops there is no `a_id < b_id` dedup —
    * every flagged (doc, bench) hit is reported for audit.
    *
    * Scale shape: eval suites are tiny next to a training corpus
    * (~10⁵ vs ~10¹⁰ vectors), so the bench side broadcasts (parameter
    * — the r10 hint discipline; disable past executor memory and Spark
    * falls back to a shuffled join) and the whole operator is ONE
    * codegen'd [[graft.plans.VecDot.dotLong]] map pass over the corpus:
    * no shuffle, no pairing blow-up — output is bounded by actual
    * contamination, |corpus|·|bench| work but only flagged rows move.
    */
  def crossCosinePairs(corpus: DataFrame, bench: DataFrame,
                       minCosPct: Int,
                       broadcastBench: Boolean = true): DataFrame = {
    require(minCosPct >= 1 && minCosPct <= 100,
      s"minCosPct must be in [1,100], got $minCosPct")
    val c = withFixedInts(corpus).select(col("vec_id"), col("vi").as("cvi"),
      col("norm_s").as("v_norm_s"))
    val b0 = withFixedInts(bench).select(col("vec_id").as("bench_id"),
      col("vi").as("bvi"), col("norm_s").as("b_norm_s"))
    val b = if (broadcastBench) broadcast(b0) else b0
    c.crossJoin(b)
      .withColumn("dot_s", graft.plans.VecDot.dotLong(col("cvi"), col("bvi")))
      .filter(cosGate(col("dot_s"), col("v_norm_s"), col("b_norm_s"), minCosPct))
      .select(col("vec_id"), col("bench_id"), col("dot_s"),
        col("v_norm_s"), col("b_norm_s"))
      .orderBy("vec_id", "bench_id")
  }

  /** L3 — ORACLE-CHECKABLE semantic dedup: sign-LSH bucketing with
    * DATA-DERIVED hyperplanes in exact integer arithmetic, then
    * [[cosinePairsExact]]-style verified pairs WITHIN each bucket.
    *
    * The rows-only ANN paths ([[lshBucket]]/[[ivfIndex]]) hash with
    * float planes/centroids whose dot signs no SQL engine replays
    * bit-identically — so their outputs carry recall floors, not
    * hashes. Here the hyperplanes are the corpus's OWN vectors
    * (`probeIds`, after fixed-point rounding), making every bucket bit
    * exact: dot(v, probe) is an int64 sum, the bucket is the packed
    * `dot > 0` sign bits, and both engines compute the identical
    * partition. That turns the whole semantic-dedup pipeline — bucket,
    * pair, cosine-verify — into a hash-checked relation, the
    * same bounded-plan-with-shared-oracle pattern as the prefix-filter
    * siblings. (Recall vs. exhaustive pairing is the usual sign-LSH
    * trade; the DECLARED relation is the bucketed one.)
    *
    * Scale shape: probes are a handful of rows → broadcast; bucket
    * assignment is one map pass (|probes| int-dots per vector); pairing
    * is an equi-join on bucket — candidates bounded by the largest
    * bucket, never all-pairs; the exact-cosine verify runs only inside
    * buckets. 2^|probes| buckets: pick |probes| ≈ log₂(corpus/target
    * bucket size) so buckets stay executor-sized at any corpus scale.
    */
  def semDedupBuckets(embeddings: DataFrame, probeIds: Seq[Long],
                      minCosPct: Int): DataFrame = {
    // 3 consumers (probe slice, bucket pass, pair join-back) — same
    // localCheckpoint discipline as DedupOps.jaccardPairs
    val withInts = withFixedInts(embeddings).lineageTruncate()
    val bucketed = signBuckets(withInts, probeIds)
    val a = bucketed.select(col("bucket"), col("vec_id").as("a_id"),
      col("vi").as("avi"), col("norm_s").as("a_norm_s"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("b_id"),
      col("vi").as("bvi"), col("norm_s").as("b_norm_s"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("dot_s", graft.plans.VecDot.dotLong(col("avi"), col("bvi")))
      .filter(cosGate(col("dot_s"), col("a_norm_s"), col("b_norm_s"), minCosPct))
      .select(col("bucket"), col("a_id"), col("b_id"), col("dot_s"),
        col("a_norm_s"), col("b_norm_s"))
      .orderBy("a_id", "b_id")
  }

  /** Packed sign-bucket assignment against the corpus's OWN vectors as
    * hyperplanes — ONE definition shared by [[semDedupBuckets]] and
    * [[lshBucketTopKExact]] so the two oracle-checkable sign-LSH
    * consumers cannot drift. Input must be a [[withFixedInts]] frame;
    * output keeps (vec_id, vi, norm_s) and adds `bucket`: bit i set
    * iff dot(v, probe_i) > 0 in exact int64 (bit index = the probe's
    * POSITION in `probeIds`, not its id value; ≤ 63 probes fit the
    * packed long; duplicates would alias two hyperplanes onto one
    * bit).
    *
    * Scale shape: probes broadcast (a handful of rows), assignment is
    * |probes| integer dots per vector in one map-side-combined rollup;
    * pick |probes| ≈ log₂(corpus / target bucket size) so buckets stay
    * executor-sized at any corpus scale.
    */
  private def signBuckets(withInts: DataFrame, probeIds: Seq[Long]): DataFrame =
    signBucketsWithPlanes(withInts, planeInts(withInts, probeIds), probeIds)

  /** [[signBuckets]] with the hyperplane frame supplied EXPLICITLY
    * (round 16): the planes are index PARAMETERS, not corpus rows — an
    * incremental maintainer ([[knnGraphUpserted]]) must bucket new
    * content under the planes the BASE build froze, even when the plane
    * vectors themselves were re-crawled or deleted from the corpus
    * (the codesUpsert frozen-codebook discipline applied to sign-LSH).
    * `probes` carries (p_id, pvi); bit index = p_id's POSITION in
    * `probeIds`, as in [[signBuckets]].
    */
  private def signBucketsWithPlanes(withInts: DataFrame, probes: DataFrame,
                                    probeIds: Seq[Long]): DataFrame = {
    require(probeIds.nonEmpty && probeIds.size <= 63 &&
      probeIds.distinct.size == probeIds.size,
      s"probeIds must be 1..63 distinct ids, got $probeIds")
    val bitVal = probeIds.zipWithIndex
      .map { case (pid, i) => (col("p_id") === pid, lit(1L << i)) }
      .foldLeft(lit(0L)) { case (acc, (cond, v)) => when(cond, v).otherwise(acc) }
    withInts
      .join(broadcast(probes))
      .withColumn("bit",
        when(graft.plans.VecDot.dotLong(col("vi"), col("pvi")) > 0, bitVal)
          .otherwise(lit(0L)))
      .groupBy("vec_id")
      .agg(sum(col("bit")).as("bucket"))
      .join(withInts, Seq("vec_id"))
  }

  /** ORACLE-CHECKABLE multi-probe sign-LSH top-k (round 11, VERDICT
    * r10 #5): the bucketed search of [[lshBucketTopK]] with
    * [[semDedupBuckets]]' hyperplane trick — planes are the corpus's
    * own `probeIds` vectors after fixed-point rounding, so bucket bits
    * AND scores are exact int64 arithmetic any SQL engine replays
    * bit-identically (the float-plane variant's dot signs are not).
    * Declared as `q_simsearch_lsh` with a full DuckDB oracle; the
    * float-plane [[lshBucketTopK]] remains the production default for
    * arbitrary-dimension corpora and keeps its recall audit
    * (`q_ann_recall_audit`).
    *
    * Same probe fan-out shape as the float variant: `maxFlip = 1`
    * probes 1+|planes| of the 2^|planes| buckets along the broadcast
    * query side; each corpus vector holds exactly one bucket so a
    * (q, n) candidate appears at most once. Candidate fan-in ≈
    * corpus · (1+planes)/2^planes per query — linear, never all-pairs.
    */
  def lshBucketTopKExact(embeddings: DataFrame, probeIds: Seq[Long],
                         queryIds: Seq[Long], k: Int,
                         maxFlip: Int = 1): DataFrame = {
    require(maxFlip >= 0 && maxFlip <= 1, "maxFlip ∈ {0, 1} supported")
    val withInts = withFixedInts(embeddings).lineageTruncate()
    val bucketed = signBuckets(withInts, probeIds)
    val numPlanes = probeIds.size
    val probeBuckets =
      if (maxFlip == 0) array(col("bucket")) else flipBuckets(numPlanes)
    val queries = probeRows(bucketed, queryIds)
      .select(col("vec_id").as("q_id"), col("vi").as("qvi"),
        explode(probeBuckets).as("bucket"))
    val cands = bucketed
      .select(col("vec_id").as("n_id"), col("vi").as("nvi"), col("bucket"))
      .join(broadcast(queries), Seq("bucket"))
    topKPerQuery(cands.withColumn("score_s14",
      graft.plans.VecDot.dotLong(col("qvi"), col("nvi"))), "score_s14", k, Ranked)
      .orderBy("q_id", "rn")
  }

  /** Per-label centroids of the fixed-point embeddings, EXPLODED to
    * scalar rows (label, pos, c) — the class-prototype table a
    * nearest-centroid classifier or a semantic-space monitor consumes.
    * Exact integer arithmetic end to end: the per-dimension mean is
    * Σvi div n (int64 sum of 1e7-scaled ints, truncating division), so
    * the centroid table is hash-reproducible at any partitioning.
    *
    * Scale shape: one map pass (posexplode) + a (|labels|·dim)-key
    * map-side-combined rollup — the shuffle carries label·dim cells,
    * never vectors; the output is |labels|·dim rows, broadcast-sized
    * for [[centroidAssign]].
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label").cast(LongType).as("label"),
        posexplode(fixedVec).as(Seq("pos", "vi")))
      .groupBy("label", "pos")
      .agg(expr("sum(vi) div count(1)").as("c"))
      .orderBy("label", "pos")

  /** Nearest-centroid assignment: classify every embedding to its
    * closest label centroid by EXACT integer squared L2 — dist =
    * Σ(vi−c)², ≤ 64·(2·10⁷)² ≈ 2.6·10¹⁶ ≪ 2⁶³ — and report the
    * agreement with the true label (the standard embedding-quality
    * eval: how separable are the classes around their prototypes).
    * Ties break to the smallest label, so the argmin is total-ordered
    * and cross-engine deterministic.
    *
    * Scale shape: centroids are |labels|·dim rows → broadcast into the
    * position equi-join; per vector the work is |labels|·dim integer
    * ops in one map-side-combined rollup keyed (vec_id, label), then a
    * dim-free argmin rollup per vec_id. The corpus never shuffles its
    * vectors.
    */
  def centroidAssign(embeddings: DataFrame): DataFrame = {
    val cents = labelCentroids(embeddings)
      .select(col("label").as("clabel"), col("pos"), col("c"))
    val vecs = embeddings
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        posexplode(fixedVec).as(Seq("pos", "vi")))
    val dists = vecs.join(broadcast(cents), Seq("pos"))
      .groupBy("vec_id", "label", "clabel")
      .agg(sum((col("vi") - col("c")) * (col("vi") - col("c"))).as("dist"))
    dists.groupBy("vec_id", "label")
      .agg(min(struct(col("dist"), col("clabel"))).getField("clabel")
        .as("pred_label"))
      .select(col("vec_id"), col("label"), col("pred_label"),
        (col("label") === col("pred_label")).as("correct"))
      .orderBy("vec_id")
  }

  /** Symmetric INT8 QUANTIZATION error accounting — the audit every
    * 100 TB embedding store runs before committing to 4× smaller
    * vectors: per vector, quantize to q = (vi·127) div scale (scale =
    * max |vi|, the symmetric per-vector scheme ANN stores use),
    * reconstruct r = (q·scale) div 127, and report the absolute
    * reconstruction error mass — total, and as ppm of the vector's L1
    * mass. Downstream decides per-collection whether err_ppm is small
    * enough to serve quantized.
    *
    * Exactness contract: everything happens on the 1e-7 fixed-point
    * integer grid with truncating `div` (Spark ≡ DuckDB on negatives),
    * so the error table is hash-reproducible cross-engine — a DECLARED
    * relation, not a float estimate. Bounds: |vi| ≤ 2·10⁷, vi·127 ≤
    * 2.6·10⁹, 64-dim L1 ≤ 1.3·10⁹, err·10⁶ ≤ 1.3·10¹⁵ — all ≪ 2⁶³.
    *
    * Scale shape: ONE map pass — scale, L1 mass and error are
    * higher-order array folds over each row's own vector (no explode,
    * no shuffle before the output sort); at any corpus size the plan
    * is scan → project. All-zero vectors quantize to zero error by
    * the scale_s = 0 guard rather than dividing by zero.
    */
  def quantizeInt8Error(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), fixedVec.as("vi"))
      .withColumn("scale_s", expr("array_max(transform(vi, x -> abs(x)))"))
      .withColumn("abs_sum_s", expr("aggregate(vi, 0L, (a, x) -> a + abs(x))"))
      .withColumn("err_s", expr(
        "CASE WHEN scale_s = 0 THEN 0L ELSE aggregate(vi, 0L, " +
          "(a, x) -> a + abs(x - ((x * 127L div scale_s) * scale_s div 127L)))" +
          " END"))
      .select(col("vec_id"), col("scale_s"), col("abs_sum_s"), col("err_s"),
        expr("CASE WHEN abs_sum_s = 0 THEN 0L " +
          "ELSE err_s * 1000000L div abs_sum_s END").as("err_ppm"))
      .orderBy("vec_id")

  /** LABEL-AGREEMENT AUDIT (Cohen's kappa) between the stored labels
    * and the nearest-centroid assignment — the label-quality eval a
    * training pipeline runs on any machine- or crowd-labeled corpus:
    * raw agreement flatters a skewed label distribution, kappa
    * discounts the agreement chance alone would produce
    * (κ = (p₀−p_e)/(1−p_e), p_e = Σ row·col marginal products / n²).
    * All arithmetic is exact integer ppm with the truncation sequence
    * mirrored in the oracle — po/pe are truncated FIRST, kappa is
    * computed from the truncated values — so both engines emit the
    * identical row. Output: one row (n, agree, po_ppm, pe_ppm,
    * kappa_ppm); kappa may legitimately be negative (worse than
    * chance), and truncation-toward-zero matches across engines.
    *
    * Scale shape: [[centroidAssign]]'s broadcast-centroid pass, then
    * two label-grain aggregates and a |labels|-sized marginal join —
    * nothing beyond the assignment scan touches row count. The pe
    * arithmetic runs in Decimal(38,0) (exact integers to 10³⁸; the
    * marginal products and pe_num·10⁶ stay inside that to n ≈ 10¹⁵,
    * far past any corpus), so there is NO overflow cliff and no mode
    * switch — the former n ≥ 3e6 loud-guard is gone (VERDICT r9 #2).
    * Empty input still fails loudly: agreement over zero rows is
    * undefined, and a silent NULL-ppm row would defeat the audit
    * (ADVICE r9).
    */
  def labelAgreementKappa(embeddings: DataFrame): DataFrame =
    kappaFromPredictions(centroidAssign(embeddings)
      .select(col("label").cast(LongType).as("label"),
        col("pred_label").cast(LongType).as("pred_label")))

  /** Kappa core over an explicit (label, pred_label) relation — the
    * [[labelAgreementKappa]] arithmetic factored out so any pair of
    * label columns (two annotators, model-vs-gold, …) can be audited,
    * and so the Decimal arm is spec-testable on synthetic frames far
    * past the old Long-arithmetic bound without paying a centroid
    * assignment. Same truncation sequence as the oracle: po/pe are
    * truncated to ppm FIRST (integral `div`, toward zero — Decimal and
    * Long `div` agree on the non-negative values here), kappa from the
    * truncated values in plain Long arithmetic (|po−pe|·10⁶ ≤ 10¹²).
    */
  def kappaFromPredictions(pred: DataFrame): DataFrame = {
    val tot = pred.agg(
      count(lit(1)).cast(LongType).as("n"),
      coalesce(sum((col("label") === col("pred_label")).cast(LongType)),
        lit(0L)).as("agree"))
    val rm = pred.groupBy(col("label").as("k"))
      .agg(count(lit(1)).cast(LongType).as("rcnt"))
    val cm = pred.groupBy(col("pred_label").as("k2"))
      .agg(count(lit(1)).cast(LongType).as("ccnt"))
    // marginal products in Decimal(38,0): rcnt·ccnt ≤ n² would overflow
    // Long past n ≈ 3e9; Decimal keeps every step exact
    // <=> not ===: with nullable annotator columns the NULL row-marginal
    // must pair with the NULL column-marginal — a non-null-safe join
    // pairs each with 0 and silently UNDERSTATES pe (inflating kappa),
    // the ADVICE-r9 null-join class applied to the chance-agreement term
    val pe = rm.join(cm, col("k") <=> col("k2"), "full_outer")
      .select((coalesce(col("rcnt"), lit(0L)).cast(DecimalType(19, 0)) *
        coalesce(col("ccnt"), lit(0L)).cast(DecimalType(19, 0)))
        .cast(DecimalType(38, 0)).as("prod"))
      .agg(coalesce(sum("prod"), lit(0)).cast(DecimalType(38, 0)).as("pe_num"))
    tot.crossJoin(pe)
      .withColumn("n", expr("CASE WHEN n = 0 THEN " +
        "CAST(raise_error('labelAgreementKappa: empty input — agreement " +
        "over zero rows is undefined') AS BIGINT) ELSE n END"))
      .withColumn("po_ppm", expr(
        "CAST(agree AS DECIMAL(38,0)) * 1000000 div CAST(n AS DECIMAL(19,0))"))
      .withColumn("pe_ppm", expr(
        "pe_num * 1000000 div (CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))"))
      .withColumn("kappa_ppm", expr(
        "CASE WHEN pe_ppm = 1000000L THEN 0L " +
          "ELSE (po_ppm - pe_ppm) * 1000000L div (1000000L - pe_ppm) END"))
      .select("n", "agree", "po_ppm", "pe_ppm", "kappa_ppm")
  }

  /** INT8-QUANTIZED exact top-k — the memory-bound production search
    * path: vectors are symmetric-int8 quantized (same truncating
    * 127/maxabs grid [[quantizeInt8Error]] audits), so the scan reads
    * ~4× fewer bytes than float32 and every score is an exact INTEGER
    * dot (|q|≤127 ⇒ ≤ 127²·dim per pair, nowhere near Long range) —
    * which is what makes this variant fully oracle-checkable, unlike
    * the float-scoring LSH/IVF indexes whose recall is spec-floored
    * instead. Plan shape is the broadcast fast path: probes broadcast,
    * one codegen'd [[graft.plans.VecDot.dotLong]] pass over the corpus,
    * per-probe top-k window.
    */
  def topKDotQuantized(embeddings: DataFrame, queryIds: Seq[Long],
                       k: Int): DataFrame = {
    val q8 = embeddings
      .select(col("vec_id"), fixedVec.as("vi"))
      .withColumn("scale_s", expr("array_max(transform(vi, x -> abs(x)))"))
      .withColumn("q8", expr(
        "CASE WHEN scale_s = 0L THEN transform(vi, x -> 0L) " +
          "ELSE transform(vi, x -> x * 127L div scale_s) END"))
      .select(col("vec_id"), col("q8"))
    val probes = probeRows(q8, queryIds)
      .select(col("vec_id").as("q_id"), col("q8").as("qq"))
    val scores = q8.select(col("vec_id").as("n_id"), col("q8").as("nq"))
      .crossJoin(broadcast(probes))
      .withColumn("score_q", graft.plans.VecDot.dotLong(col("qq"), col("nq")))
    topKPerQuery(scores, "score_q", k, Seq("q_id", "rn", "n_id", "score_q"))
      .orderBy("q_id", "rn")
  }

  /** Double-precision dot product of two array columns in one expression
    * (codegen-friendly, no explode).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0),
      (acc, v) => acc + v)

  /** [[dot]] for two ARRAY<FLOAT> columns: the codegen'd
    * [[graft.plans.FloatVecDot]] loop — same left-to-right op sequence,
    * zero per-pair allocation. The generic [[dot]] stays for mixed-type
    * folds (float embedding × double centroid/plane literals).
    */
  def dotF(a: Column, b: Column): Column = graft.plans.VecDot.dotFloat(a, b)

  /** L2 norm of a float-array column. */
  def l2Norm(a: Column): Column = sqrt(dotF(a, a))

  /** Brute-force top-k by cosine: broadcast-joined query set, single-pass
    * dot/norm expressions, per-query top-k window.
    */
  def topKDotFast(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
                  cosine: Boolean = true): DataFrame = {
    val queries = probeRows(embeddings, queryIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val joined = embeddings
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      .crossJoin(broadcast(queries))
    val score =
      if (cosine) dotF(col("q_emb"), col("n_emb")) / (l2Norm(col("q_emb")) * l2Norm(col("n_emb")))
      else dotF(col("q_emb"), col("n_emb"))
    topKPerQuery(joined.withColumn("score", score), "score", k,
      Seq("q_id", "rn", "n_id", "score"), longRank = false).orderBy("q_id", "rn")
  }

  /** The production brute-force plan made oracle-exact: same shape as
    * [[topKDotFast]] (broadcast query side, single-pass `zip_with` dot —
    * no explode, corpus streams map-side, shuffle bounded by queries×k)
    * but the dot product folds FIXED-POINT int64 products, so the score
    * is order-free and bit-identical across engines. This is both the
    * 100 TB plan AND an oracle-checkable one — the position-exploded
    * [[topKDotExact]] stays as the independent cross-check formulation.
    */
  def topKDotFastExact(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val queries = probeRows(embeddings, queryIds)
      .select(col("vec_id").as("q_id"), fixedVec.as("qi"))
    val scores = embeddings
      .select(col("vec_id").as("n_id"), fixedVec.as("ci"))
      .crossJoin(broadcast(queries))
      .withColumn("score_s14", graft.plans.VecDot.dotLong(col("qi"), col("ci")))
    topKPerQuery(scores, "score_s14", k, Ranked).orderBy("q_id", "rn")
  }

  /** MATRYOSHKA PREFIX SEARCH (round 15) — the dimension-truncation
    * ANN tier (Kusupati et al., NeurIPS'22: embeddings trained so
    * information concentrates in the leading coordinates): stage 1
    * scores every corpus vector by the dot over only the first
    * `prefixDim` components and keeps `candidates` per query; stage 2
    * re-ranks the survivors by the full-dimension dot. Orthogonal to
    * the IVF/PQ family: no training, no codebooks — the index IS the
    * layout. At 100 TB the prefix tier scans prefixDim/dim of the
    * BYTES (store the leading block as its own narrow column/file, the
    * codes-relation discipline), and only `candidates` rows per query
    * fetch full vectors. Same fixed-point grid as every search key, so
    * the oracle replays both stages exactly; the recall floor vs the
    * exact scan rides Round15bOpsSpec (the pq_refined convention).
    */
  def matryoshkaTopK(embeddings: DataFrame, queryIds: Seq[Long],
                     prefixDim: Int, candidates: Int, k: Int): DataFrame = {
    val queries = probeRows(embeddings, queryIds)
      .select(col("vec_id").as("q_id"), fixedVec.as("qi"))
    val pre = embeddings
      .select(col("vec_id").as("n_id"), fixedVec.as("ci"))
      .crossJoin(broadcast(queries))
      .withColumn("pre_s14", graft.plans.VecDot.dotLong(
        slice(col("qi"), 1, prefixDim), slice(col("ci"), 1, prefixDim)))
    val cut = topKPerQuery(pre, "pre_s14", candidates, rank = "crn",
      longRank = false)
    topKPerQuery(cut.withColumn("score_s14",
      graft.plans.VecDot.dotLong(col("qi"), col("ci"))), "score_s14", k, Ranked)
      .orderBy("q_id", "rn")
  }

  /** IVF (inverted-file) index: a coarse k-means quantizer over the
    * corpus; queries probe only the `nProbe` nearest centroid cells.
    *
    * Scale/determinism design (reworked per round-1 review):
    *  - cell assignment is a PURE PROJECTION — an expression-level
    *    argmax folding over the k centroids inlined as a literal array.
    *    Zero shuffle, zero window: at 100 TB the whole assignment is one
    *    map pass (the previous window-argmin shuffled the full corpus
    *    once per Lloyd iteration).
    *  - Lloyd updates sum fixed-point int64 components (exact,
    *    partition-order-free) and divide once on the driver, so training
    *    is bit-reproducible across cluster sizes; the collected state is
    *    k·dim sums — bounded, never corpus-sized.
    *  - cells that lose all members keep their previous centroid instead
    *    of silently vanishing (k stays k).
    * At 100 TB the train runs on a sample; search cost drops from
    * O(corpus) to O(corpus·nProbe/k) per query.
    */
  def ivfIndex(embeddings: DataFrame, k: Int, iterations: Int,
               trainSampleMod: Int = 1): IvfIndex = {
    val spark = embeddings.sparkSession
    // k-means quality needs only a representative sample; at 100 TB you
    // never Lloyd-iterate the full corpus. The sample is hash-of-id
    // deterministic (`vec_id % mod`), so training stays reproducible.
    val trainSet =
      if (trainSampleMod <= 1) embeddings
      else embeddings.filter(pmod(col("vec_id"), lit(trainSampleMod)) === 0)
    // deterministic init: lowest-id vectors as seed centroids
    var centroids: Array[(Int, Seq[Double])] = trainSet
      .orderBy("vec_id").limit(k).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)) }
    for (_ <- 0 until iterations) {
      val updated: Map[Int, Seq[Double]] = assignCells(trainSet, centroids)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum(fixedPoint(col("v"))).as("s"), count(lit(1)).as("n"))
        .groupBy("cell")
        .agg(sort_array(collect_list(struct(col("pos"), col("s"), col("n")))).as("ps"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(p => p.getLong(1).toDouble / p.getLong(2).toDouble / FixedPointScale))
        .toMap
      // carry forward centroids of emptied cells — k must stay k
      centroids = centroids.map { case (cell, prev) => (cell, updated.getOrElse(cell, prev)) }
    }
    // materialize the assignment: ivfTopK consumes it from two branches,
    // and an "index" that recomputes the corpus scan per use is no index
    // at all (at 100 TB this becomes a written table)
    IvfIndex(assignCells(embeddings, centroids).cache(), centroidDf(spark, centroids))
  }

  /** Trained IVF index: per-vector cell assignment + the centroid table
    * (k rows — always broadcastable). `release()` drops the cached
    * assignment when the index is retired.
    */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame)
      extends SessionMemo.Releasable {
    def release(): Unit = assigned.unpersist()
  }

  /** [[ivfIndex]] memoized per session, caller label, data identity and
    * parameters ([[graft.sources.SessionMemo]]): retraining k-means per
    * invocation of a declared query is the "index that isn't an index"
    * anti-pattern.
    */
  def ivfIndexCached(embeddings: DataFrame, cacheKey: String, k: Int,
                     iterations: Int, trainSampleMod: Int = 1): IvfIndex =
    SessionMemo.value(embeddings.sparkSession, ("ivf", cacheKey,
        SessionMemo.frameId(embeddings), k, iterations, trainSampleMod)) {
      ivfIndex(embeddings, k, iterations, trainSampleMod)
    }

  private def centroidDf(spark: org.apache.spark.sql.SparkSession,
                         centroids: Array[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    centroids.toSeq.toDF("cell", "centroid")
  }

  /** Assign each vector to its nearest centroid (max dot product — cells
    * are cosine-shaped for normalized data) via an expression-level
    * argmax over the centroids inlined as a literal array<struct>. Ties
    * resolve to the lowest cell (strict `>` keeps the earlier entry of
    * the ascending-cell fold). Pure projection: no join, no window, no
    * shuffle — the plan a 1000-executor cluster wants.
    */
  private def assignCells(embeddings: DataFrame,
                          centroids: Array[(Int, Seq[Double])]): DataFrame = {
    val centArr = array(centroids.sortBy(_._1).map { case (cell, c) =>
      struct(lit(cell).as("cell"), array(c.map(lit(_)): _*).as("c"))
    }: _*)
    val best = aggregate(
      centArr,
      struct(lit(Double.NegativeInfinity).as("score"), lit(-1).as("cell")),
      (acc, cs) => {
        val sc = dot(col("embedding"), cs.getField("c"))
        when(sc > acc.getField("score"),
          struct(sc.as("score"), cs.getField("cell").as("cell"))).otherwise(acc)
      })
    embeddings.select(col("vec_id"), col("embedding"), best.getField("cell").as("cell"))
  }

  /** IVF-accelerated top-k: rank the k centroids per query (a tiny
    * broadcast cross product), probe only the best `nProbe` cells, then
    * exact-rank candidates within them. Search cost ≈
    * O(corpus · nProbe / k) per query; recall governed by nProbe.
    */
  def ivfTopK(index: IvfIndex, queryIds: Seq[Long], topK: Int, nProbe: Int): DataFrame = {
    val queries = probeRows(index.assigned, queryIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probeCells = probeCellsOf(queries.crossJoin(broadcast(index.centroids))
      .withColumn("cscore", dot(col("q_emb"), col("centroid"))), nProbe)
    val cands = index.assigned
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("cell"))
      .join(broadcast(probeCells.join(queries, "q_id")), Seq("cell"))
    topKPerQuery(cands.withColumn("score", dotF(col("q_emb"), col("n_emb"))),
      "score", topK, Seq("q_id", "rn", "n_id", "score"), longRank = false)
      .orderBy("q_id", "rn")
  }

  /** (q_id, cell): each query's `nProbe` best cells by `cscore`, ties
    * to the lowest cell.
    */
  private def probeCellsOf(scored: DataFrame, nProbe: Int): DataFrame =
    topKPerQuery(scored, "cscore", nProbe, Seq("q_id", "cell"), tie = "cell",
      rank = "crn", longRank = false)

  /** Nearest-centroid assignment over FIXED-POINT integer vectors — the
    * exact-arithmetic sibling of [[assignCells]] (zero shuffle, ties to
    * the lowest cell), used by [[ivfTopKExact]] so every assignment
    * decision is int64 and cross-engine reproducible. Round 11: the
    * argmax is the codegen'd [[graft.plans.ArgMaxDotLong]] over the
    * centroid matrix inlined as a literal — identical arithmetic
    * (strict `>` over ascending cells) to the higher-order fold it
    * replaces, which as a CodegenFallback lambda kept the full-corpus
    * assignment pass out of whole-stage codegen.
    */
  private def assignCellsInt(withInts: DataFrame,
                             cents: Array[(Int, Seq[Long])]): DataFrame = {
    val sorted = cents.sortBy(_._1)
    val pos = graft.plans.ArgMaxDot.argMaxDotLong(col("vi"),
      typedLit(sorted.map(_._2).toSeq))
    // position → cell id, kept explicit so the contract survives
    // arbitrary cell ids (today they are 0..k−1 by construction)
    withInts.withColumn("cell",
      element_at(typedLit(sorted.map(_._1).toSeq), pos + 1))
  }

  /** Integer k-means centroids: deterministic lowest-id seeds, Lloyd
    * updates as `sum(vi) div count` (truncating int64 — exactly what a
    * SQL engine replays), emptied cells carry their previous centroid.
    * Trains on the hash-deterministic `vec_id % trainSampleMod` sample
    * like [[ivfIndex]]; per-iteration driver state is k·dim longs.
    */
  private def intCentroids(withInts: DataFrame, k: Int, iterations: Int,
                           trainSampleMod: Int): Array[(Int, Seq[Long])] = {
    val train =
      if (trainSampleMod <= 1) withInts
      else withInts.filter(pmod(col("vec_id"), lit(trainSampleMod)) === 0)
    var cents: Array[(Int, Seq[Long])] = train
      .orderBy("vec_id").limit(k).select("vec_id", "vi").collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Long](1)) }
    // empty corpus → zero seeds → nothing to iterate (and an empty
    // centroid literal would not even analyze); caller handles []
    if (cents.isEmpty) return cents
    for (_ <- 0 until iterations) {
      val updated: Map[Int, Seq[Long]] = assignCellsInt(train, cents)
        .select(col("cell"), posexplode(col("vi")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(expr("sum(v) div count(1)").as("c"))
        .groupBy("cell")
        .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("ps"))
        .collect()
        .map(r => r.getInt(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)))
        .toMap
      cents = cents.map { case (cell, prev) => (cell, updated.getOrElse(cell, prev)) }
    }
    cents
  }

  /** ORACLE-CHECKABLE IVF top-k (round 11 — the last no_oracle row):
    * the probe-limited search of [[ivfTopK]] with EVERY number integer.
    * Fixed-point vectors, deterministic lowest-id seeds, truncating
    * integer Lloyd updates, argmax assignment with lowest-cell ties,
    * integer probe ranking and candidate scores — so a SQL engine
    * replays the whole index bit-for-bit as `iterations` unrolled CTE
    * pairs (the q_pagerank precedent for iterative oracle replay). The
    * float [[ivfTopK]]/[[ivfIndexCached]] stays the production default
    * (its recall floor rides `q_ann_recall_audit`); this variant is
    * the hash-checked twin on the same index structure.
    *
    * Scale shape identical to the float path: training on a
    * deterministic sample with k·dim driver-bounded state, assignment
    * a zero-shuffle expression argmax, probes broadcast, search cost
    * corpus·nProbe/k. Centroids are memoized per (session, cacheKey,
    * params) — plain driver data, retraining per invocation would be
    * the index-that-isn't-an-index anti-pattern.
    */
  def ivfTopKExact(embeddings: DataFrame, cacheKey: String, k: Int,
                   iterations: Int, trainSampleMod: Int,
                   queryIds: Seq[Long], topK: Int, nProbe: Int): DataFrame = {
    val withInts = withFixedInts(embeddings).lineageTruncate()
    val cents = memoCentroids(SessionMemo.frameId(embeddings), withInts,
      cacheKey, k, iterations, trainSampleMod)
    // empty corpus ⇒ zero seed centroids ⇒ a zero-element literal
    // struct array whose element type is VOID — unanalyzable. The
    // semantically right answer is simply an empty result.
    if (cents.isEmpty) return emptyTopKFrame(embeddings)
    ivfSearchWithCents(withInts, cents, nProbe, queryIds, topK)
  }

  /** [[intCentroids]] of `train` memoized per session, `cacheKey`,
    * data identity `id` and parameters ([[graft.sources.SessionMemo]]);
    * `id` is the identity of the frame `train` derives from, worked out
    * once per operator call.
    */
  private def memoCentroids(id: SessionMemo.FrameId, train: DataFrame,
                            cacheKey: String, k: Int, iterations: Int,
                            trainSampleMod: Int): Array[(Int, Seq[Long])] =
    SessionMemo.value(train.sparkSession, ("centroids", cacheKey, id, k,
        iterations, trainSampleMod)) {
      intCentroids(train, k, iterations, trainSampleMod)
    }

  /** The probe-limited search tail of [[ivfTopKExact]] against an
    * EXPLICIT centroid set — factored out so [[ivfRetrainRecall]] can
    * run the identical plan under stale vs retrained codebooks.
    */
  private def ivfSearchWithCents(withInts: DataFrame,
                                 cents: Array[(Int, Seq[Long])],
                                 nProbe: Int, queryIds: Seq[Long],
                                 topK: Int): DataFrame =
    ivfSearchCorpusQueries(withInts, queryInts(withInts, queryIds), cents,
      nProbe, topK)

  /** The probe tail with SEPARATE corpus and query relations — the
    * generalization [[ivfTopKFiltered]] needs (candidates drawn from a
    * predicate-restricted slice, queries from the full corpus);
    * [[ivfSearchWithCents]] is the corpus==queries special case.
    */
  private def ivfSearchCorpusQueries(corpusInts: DataFrame,
                                     queries: DataFrame,
                                     cents: Array[(Int, Seq[Long])],
                                     nProbe: Int, topK: Int): DataFrame = {
    val assigned = assignCellsInt(corpusInts, cents)
    val centsDf = broadcast(centroidIntDf(corpusInts.sparkSession, cents))
    val probeCells = probeCellsOf(queries.crossJoin(centsDf).withColumn("cscore",
      graft.plans.VecDot.dotLong(col("qvi"), col("cvec"))), nProbe)
    val cands = assigned
      .select(col("vec_id").as("n_id"), col("vi").as("nvi"), col("cell"))
      .join(broadcast(probeCells.join(queries, "q_id")), Seq("cell"))
    topKPerQuery(cands.withColumn("score_s14",
      graft.plans.VecDot.dotLong(col("qvi"), col("nvi"))), "score_s14", topK, Ranked)
      .orderBy("q_id", "rn")
  }

  /** FILTERED ANN SEARCH (round 15) — metadata-restricted top-k
    * through the SHARED IVF index (the FAISS IDSelector case: "nearest
    * English documents", "nearest vectors in this tenant"): the coarse
    * quantizer is the corpus-wide memoized fit (same cacheKey ⇒ the
    * same centroids every unfiltered search probes — one index serves
    * every predicate), queries come from the FULL corpus (a query need
    * not satisfy the filter), and only the predicate-restricted slice
    * becomes candidates. The filter lands BEFORE the fixed-point
    * projection, i.e. on the embeddings scan itself (pushed to
    * parquet), so the per-query cost is O(|slice|·nProbe/k) — the
    * selectivity multiplies with the cell pruning rather than being
    * applied after it.
    */
  def ivfTopKFiltered(embeddings: DataFrame,
                      corpusFilter: Column, cacheKey: String, k: Int,
                      iterations: Int, trainSampleMod: Int,
                      queryIds: Seq[Long], topK: Int,
                      nProbe: Int): DataFrame = {
    val withIntsAll = withFixedInts(embeddings).lineageTruncate()
    val cents = memoCentroids(SessionMemo.frameId(embeddings), withIntsAll,
      cacheKey, k, iterations, trainSampleMod)
    if (cents.isEmpty) return emptyTopKFrame(embeddings)
    ivfSearchCorpusQueries(
      withFixedInts(embeddings.filter(corpusFilter)),
      queryInts(withIntsAll, queryIds), cents, nProbe, topK)
  }

  /** RETRAIN-ON-DRIFT AUDIT (VERDICT r14 #2) — the RESPONSE to the
    * [[ivfDriftMatrix]] signal, as one oracle-checkable relation: the
    * corpus has drifted from `base` to `drifted` (re-crawled vectors
    * replaced, new vectors ingested — the [[codesUpsert]] regime), and
    * the index can either keep serving the FROZEN codebooks fitted on
    * `base` ("stale") or refit on the drifted corpus state
    * ("retrained" — the scheduled re-train the drift matrix calls
    * for). Both configurations run the identical probe-limited search
    * ([[ivfSearchWithCents]]) against the DRIFTED corpus; each row
    * reports per query how many of the exact-scan top-k the
    * configuration recovered. Recall recovery = retrained rows
    * dominating stale rows — measured, not asserted, and the DuckDB
    * oracle replays both Lloyd chains plus the exact scan bit-for-bit.
    *
    * Scale shape: two bounded trainings (k·dim driver longs), two
    * zero-shuffle assignment passes, probe joins broadcast; the exact
    * scan is |q|-bounded brute force — the same audited baseline as
    * topKDotExact, priced per request batch, not per corpus.
    */
  def ivfRetrainRecall(base: DataFrame, drifted: DataFrame,
                       cacheKeyStale: String, cacheKeyNew: String, k: Int,
                       iterations: Int, trainSampleMod: Int, nProbe: Int,
                       queryIds: Seq[Long], topK: Int): DataFrame = {
    val wb = withFixedInts(base).lineageTruncate()
    val wd = withFixedInts(drifted).lineageTruncate()
    val stale = memoCentroids(SessionMemo.frameId(base), wb, cacheKeyStale,
      k, iterations, trainSampleMod)
    val fresh = memoCentroids(SessionMemo.frameId(drifted), wd, cacheKeyNew,
      k, iterations, trainSampleMod)
    val queries = queryInts(wd, queryIds)
    if (stale.isEmpty || fresh.isEmpty) {
      import org.apache.spark.sql.types.{StructField, StructType}
      return base.sparkSession.createDataFrame(
        base.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("config", StringType),
          StructField("q_id", LongType), StructField("n_hits", LongType))))
    }
    // ground truth on the drifted corpus: exact-scan top-k per query
    val exact = topKPerQuery(wd.select(col("vec_id").as("n_id"), col("vi").as("nvi"))
      .crossJoin(broadcast(queries))
      .withColumn("xs", graft.plans.VecDot.dotLong(col("qvi"), col("nvi"))),
      "xs", topK, Seq("q_id", "n_id"), rank = "xrn", longRank = false)
      .lineageTruncate()
    def recallOf(tag: String, cents: Array[(Int, Seq[Long])]): DataFrame =
      queries.select(col("q_id"))
        .join(ivfSearchWithCents(wd, cents, nProbe, queryIds, topK)
          .join(exact, Seq("q_id", "n_id"), "left_semi")
          .groupBy("q_id").agg(count(lit(1)).as("n_hits")),
          Seq("q_id"), "left")
        .select(lit(tag).as("config"), col("q_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    recallOf("retrained", fresh).unionByName(recallOf("stale", stale))
      .orderBy("config", "q_id")
  }

  private def centroidIntDf(spark: org.apache.spark.sql.SparkSession,
                            cents: Array[(Int, Seq[Long])]): DataFrame = {
    import spark.implicits._
    cents.toSeq.toDF("cell", "cvec")
  }

  /** ORACLE-CHECKABLE PRODUCT-QUANTIZATION top-k (round 13) — the
    * memory-bounded-codes tier of the ANN family (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI'11; the PQ half of
    * a FAISS-style IVF-PQ stack). The embedding is split into `m`
    * disjoint subvectors; each subspace gets its own integer k-means
    * codebook ([[intCentroids]] on the sliced components — identical
    * deterministic seeds, truncating Lloyd updates, and memoization as
    * the IVF index); every corpus vector is then represented by its `m`
    * per-subspace nearest-codeword ids — the PQ code, `m` small ints
    * instead of `dim` floats, which is what makes billion-vector search
    * RAM-resident at 100 TB. Queries score candidates by the ADC
    * identity Σⱼ qⱼ·c[j][codeⱼ] = q · concat(codewords): the engine
    * reconstructs each corpus vector from its code with `m` literal
    * lookups and runs the one codegen'd [[graft.plans.VecDot]] dot —
    * the same hot loop as every other search tier, so the approximate
    * path inherits its plan shape. All arithmetic fixed-point integer;
    * a SQL engine replays codebooks, codes, and scores bit-for-bit
    * (assignment ties → lowest codeword, ranking ties → lowest id).
    *
    * Scale shape: training = m integer-Lloyd runs on the deterministic
    * `vec_id % trainSampleMod` sample (driver state m·kSub·(dim/m) =
    * kSub·dim longs); coding = zero-shuffle per-row expressions;
    * search = one corpus scan per query batch with per-row cost m
    * lookups + one dim-length dot. Accuracy floor vs the exact scan is
    * pinned in a spec (the q_ann_recall_audit convention).
    */
  def pqTopKExact(embeddings: DataFrame, cacheKey: String, m: Int, kSub: Int,
                  iterations: Int, trainSampleMod: Int,
                  queryIds: Seq[Long], topK: Int, dim: Int = 64): DataFrame = {
    val adc = pqAdcScores(embeddings, cacheKey, m, kSub, iterations,
      trainSampleMod, queryIds, dim)
    if (adc.isEmpty) return emptyTopKFrame(embeddings)
    val (scores, _) = adc.get
    topKPerQuery(scores, "score_s14", topK, Ranked).orderBy("q_id", "rn")
  }

  /** PQ + EXACT REFINE (the production shape — FAISS's `refine` stage):
    * the ADC scores of [[pqTopKExact]] select `refineCandidates` per
    * query, then ONLY those candidates are re-scored with their true
    * vectors and the final top-k ranked by the exact dot. At 100 TB
    * this is why PQ exists: the corpus-wide scan touches m-byte codes
    * (RAM-resident), and full-precision vectors are fetched for C ≪
    * corpus rows per query. On the shipped corpora the measured
    * recall@5 of the refined tier is 0.80–0.85 at C=100 (vs 0.35–0.43
    * for raw ADC — the codes are a candidate generator, not a ranker;
    * Round13OpsSpec pins the floor).
    */
  def pqTopKRefined(embeddings: DataFrame, cacheKey: String, m: Int, kSub: Int,
                    iterations: Int, trainSampleMod: Int,
                    queryIds: Seq[Long], topK: Int, refineCandidates: Int,
                    dim: Int = 64): DataFrame = {
    val adc = pqAdcScores(embeddings, cacheKey, m, kSub, iterations,
      trainSampleMod, queryIds, dim)
    if (adc.isEmpty) return emptyTopKFrame(embeddings)
    val (scores, withInts) = adc.get
    exactRefine(topKPerQuery(scores, "score_s14", refineCandidates,
      Seq("q_id", "n_id"), rank = "crn", longRank = false),
      withInts, queryInts(withInts, queryIds), topK)
  }

  /** The exact re-rank: score the (q_id, n_id) candidate cut against
    * full-precision vectors and keep each query's top `topK`.
    */
  private def exactRefine(cands: DataFrame, withInts: DataFrame,
                          queries: DataFrame, topK: Int): DataFrame =
    topKPerQuery(cands
      .join(withInts.select(col("vec_id").as("n_id"), col("vi").as("nvi")),
        Seq("n_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("score_s14",
        graft.plans.VecDot.dotLong(col("qvi"), col("nvi"))),
      "score_s14", topK, Ranked).orderBy("q_id", "rn")

  /** Shared PQ core: train the m per-subspace codebooks (memoized),
    * code the corpus, and emit ADC scores (q_id, n_id, score_s14) for
    * the query batch plus the truncated integer frame for re-rankers.
    * None ⟺ the corpus is empty (no codebooks can seed).
    */
  private def pqAdcScores(embeddings: DataFrame, cacheKey: String, m: Int,
                          kSub: Int, iterations: Int, trainSampleMod: Int,
                          queryIds: Seq[Long], dim: Int)
      : Option[(DataFrame, DataFrame)] = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    val subDim = dim / m
    val withInts = withFixedInts(embeddings).lineageTruncate()
    val id = SessionMemo.frameId(embeddings)
    val codebooks: Seq[Array[(Int, Seq[Long])]] = (0 until m).map { j =>
      memoCentroids(id, withInts
        .withColumn("vi", slice(col("vi"), j * subDim + 1, subDim)),
        s"$cacheKey#pq$j", kSub, iterations, trainSampleMod)
    }
    if (codebooks.exists(_.isEmpty)) return None
    // codes: per-subspace argmax against the literal codebook —
    // zero-shuffle expressions, ties to the lowest codeword id
    val sortedBooks = codebooks.map(_.sortBy(_._1))
    val coded = (0 until m).foldLeft(withInts) { (df, j) =>
      df.withColumn(s"code_$j", graft.plans.ArgMaxDot.argMaxDotLong(
        slice(col("vi"), j * subDim + 1, subDim),
        typedLit(sortedBooks(j).map(_._2))))
    }
    // ADC via reconstruction: concat the selected codewords and run the
    // one codegen'd long dot (Σⱼ qⱼ·c[j][codeⱼ] = q · concat)
    val reconstructed = concat((0 until m).map { j =>
      element_at(typedLit(sortedBooks(j).map(_._2)), col(s"code_$j") + 1)
    }: _*)
    val codesDf = coded.select(col("vec_id").as("n_id"),
      reconstructed.as("rvi"))
    val queries = queryInts(withInts, queryIds)
    val scores = codesDf.crossJoin(broadcast(queries))
      .withColumn("score_s14",
        graft.plans.VecDot.dotLong(col("qvi"), col("rvi")))
      .select("q_id", "n_id", "score_s14")
    Some((scores, withInts))
  }

  /** ORACLE-CHECKABLE IVF-PQ (round 13) — the complete FAISS-style
    * stack: the IVF coarse quantizer restricts each query to `nProbe`
    * cells; within them, candidates are scored from PQ codes trained on
    * the RESIDUALS v − c[cell] (residual quantization — the coarse
    * centroid explains most of the vector, so the codebooks spend their
    * bits on what remains, the standard IVF-PQ construction); the ADC
    * identity score is q·c[cell] + q·recon(residual code), evaluated as
    * one codegen dot against the reassembled approximation; the top
    * `refineCandidates` per query fetch true vectors for the exact
    * re-rank. Every stage reuses the audited pieces — the SAME memoized
    * coarse codebook as [[ivfTopKExact]] (identical cache key, so the
    * suite trains it once), [[intCentroids]] per residual subspace,
    * [[graft.plans.ArgMaxDot]] assignment, [[graft.plans.VecDot]]
    * scoring — and every number is fixed-point integer, so the oracle
    * replays coarse Lloyd → residuals → subspace Lloyd → codes → probe
    * → ADC → refine bit-for-bit.
    *
    * Scale shape: search cost is corpus·nProbe/kIvf code lookups + one
    * dim-length dot per candidate + C full-precision fetches per query;
    * driver state is (kIvf + kSub)·dim longs of codebooks. This is the
    * RAM-resident billion-vector layout: cells prune, codes score,
    * refine ranks.
    */
  def ivfPqTopKExact(embeddings: DataFrame, cacheKey: String, kIvf: Int,
                     nProbe: Int, m: Int, kSub: Int, iterations: Int,
                     trainSampleMod: Int, queryIds: Seq[Long], topK: Int,
                     refineCandidates: Int, dim: Int = 64): DataFrame = {
    val (withInts, coarse, assigned, books) = ivfPqTrain(embeddings,
        cacheKey, kIvf, m, kSub, iterations, trainSampleMod, dim) match {
      case Some(trained) => trained
      case None => return emptyTopKFrame(embeddings)
    }
    val subDim = dim / m
    val sortedBooks = books.map(_.sortBy(_._1))
    val coded = (0 until m).foldLeft(assigned) { (df, j) =>
      df.withColumn(s"code_$j", graft.plans.ArgMaxDot.argMaxDotLong(
        slice(col("rvi"), j * subDim + 1, subDim),
        typedLit(sortedBooks(j).map(_._2))))
    }
    val recon = concat((0 until m).map { j =>
      element_at(typedLit(sortedBooks(j).map(_._2)), col(s"code_$j") + 1)
    }: _*)
    // the reassembled approximation c[cell] + recon(residual code)
    val approx = coded.select(col("vec_id").as("n_id"), col("cell"),
      zip_with(col("cvec"), recon, (a, b) => a + b).as("avi"))
    ivfPqProbeSearch(approx, withInts, coarse, nProbe, queryIds, topK,
      refineCandidates)
  }

  /** The shared IVF-PQ search tail over a coded corpus: probe the
    * query's top-`nProbe` coarse cells, ADC-score the probed cells'
    * candidates from the reassembled approximation `avi`, cut to
    * `refineCandidates`, exact re-rank against full-precision vectors.
    * `approx` carries (n_id, cell, avi) — computed in-plan by
    * [[ivfPqTopKExact]] or reconstructed from a PERSISTED codes
    * relation by [[ivfPqTopKStored]]; both paths run THIS identical
    * plan from the approximation on, which is what makes
    * stored-vs-fresh parity a structural fact rather than a hope.
    */
  private def ivfPqProbeSearch(approx: DataFrame, withInts: DataFrame,
                               coarse: Array[(Int, Seq[Long])], nProbe: Int,
                               queryIds: Seq[Long], topK: Int,
                               refineCandidates: Int): DataFrame = {
    val queries = queryInts(withInts, queryIds)
    val centsDf = broadcast(centroidIntDf(withInts.sparkSession, coarse))
    val probeCells = probeCellsOf(queries.crossJoin(centsDf).withColumn("cscore",
      graft.plans.VecDot.dotLong(col("qvi"), col("cvec"))), nProbe)
    ivfPqAdcRefine(approx, withInts, queries, probeCells, topK,
      refineCandidates)
  }

  /** The ADC + exact-refine tail shared by every IVF-PQ search shape:
    * score the probed cells' candidates from the approximation, cut,
    * re-rank the cut against full-precision vectors. `probeCells` is
    * (q_id, cell) — computed in-plan ([[ivfPqProbeSearch]]) or
    * driver-side from the loaded codebooks (the pruned fleet path in
    * [[ivfPqTopKFromArtifacts]]); same frame, same plan from here on.
    */
  private def ivfPqAdcRefine(approx: DataFrame, withInts: DataFrame,
                             queries: DataFrame, probeCells: DataFrame,
                             topK: Int, refineCandidates: Int): DataFrame = {
    val cands = approx
      .join(broadcast(probeCells.join(queries, "q_id")), Seq("cell"))
      .withColumn("adc_s14",
        graft.plans.VecDot.dotLong(col("qvi"), col("avi")))
    exactRefine(topKPerQuery(cands, "adc_s14", refineCandidates,
      Seq("q_id", "n_id"), rank = "crn", longRank = false),
      withInts, queries, topK)
  }

  /** PERSISTED CODED CORPUS (VERDICT r13 #1): materialize the
    * (vec_id, ivf_cell, pq_codes) relation — the index's DATA half —
    * as a parquet table the search tier SCANS, instead of re-coding
    * the corpus from raw embeddings per session. This is the
    * production IVF-PQ layout (the [[graft.operators.DedupOps
    * .corpusBandDocs]] discipline applied to ANN): the codebooks are
    * k·dim driver scalars that ship anywhere, the codes are the
    * corpus-sized artifact that must OUTLIVE the session, and a
    * search fleet reads m+1 small integers per vector — never the
    * dim-float embeddings — until the exact refine fetches its
    * bounded candidate set.
    *
    * Memoized on (session, spec, SOURCE FINGERPRINT) via
    * [[graft.sources.SessionMemo.artifact]]: the write runs
    * once per corpus state; regenerated source files move the
    * fingerprint and force a re-code (the r8 staleness lesson).
    * `srcDir` must be the parquet directory `embeddings` reads from.
    */
  def ivfPqWriteCodes(embeddings: DataFrame, srcDir: String, outDir: String,
                      cacheKey: String, kIvf: Int, m: Int, kSub: Int,
                      iterations: Int, trainSampleMod: Int,
                      dim: Int = 64): Boolean = {
    ivfPqFit(embeddings, cacheKey, kIvf, m, kSub, iterations,
      trainSampleMod, dim) match {
      case None => false
      case Some((coarse, books)) =>
        // memo key carries dim AND cacheKey (ADVICE r14: omitting them
        // made a same-dir rewrite with a different subspace split — or
        // a different fit identity — a false memo hit serving stale
        // codes)
        SessionMemo.artifact(embeddings.sparkSession,
          s"ivfpq_codes:$outDir:$cacheKey:$kIvf:$m:$kSub:$iterations:" +
            s"$trainSampleMod:$dim",
          srcDir, outDir) {
          // CELL-CLUSTERED layout: range-partition + sort on ivf_cell so
          // each parquet file/row-group covers few cells and its min/max
          // stats prune a probed-cell filter — the search tier then
          // reads ~nProbe/kIvf of the BYTES, not just of the rows
          // ([[ivfPqTopKFromArtifacts]] pushes the probe set down;
          // Round14OpsSpec asserts the scan-row reduction). Clustering
          // is layout, not semantics: row content is unchanged.
          // one range partition per cell — EXPLICIT count, because AQE
          // would coalesce the (tiny at test scale) shuffle into one
          // file whose min/max covers every cell, killing the pruning.
          // At 100 TB a cell outgrows one file; the writer then adds
          // maxRecordsPerFile to split WITHIN cells — stats stay
          // cell-tight either way because the sort keeps cells
          // contiguous.
          codeIvfPq(embeddings.select("vec_id", "embedding"), coarse, books,
            dim)
            .repartitionByRange(math.max(coarse.length, 1), col("ivf_cell"))
            .sortWithinPartitions("ivf_cell", "vec_id")
            .write.mode("overwrite").parquet(outDir)
        }
        true
    }
  }

  /** IVF-PQ search against the PERSISTED codes relation: read the
    * (vec_id, ivf_cell, pq_codes) parquet [[ivfPqWriteCodes]] wrote,
    * reassemble the approximation c[cell] + recon(codes) from the
    * broadcast-literal codebooks — m array lookups and one zip_with
    * per row, no re-coding argmaxes — and run the SAME probe → ADC →
    * refine tail as [[ivfPqTopKExact]]. The scan side of the plan is
    * a parquet read of m+1 integers per vector (Round14OpsSpec pins
    * both the stored-vs-fresh result parity and that the executed
    * plan scans the codes files, not a re-code projection); raw
    * embeddings are touched only by the query-side lookup and the
    * `refineCandidates`-bounded exact re-rank.
    *
    * At 100 TB this is the difference between an index and a cache:
    * coding costs kIvf + m·kSub argmax dots per vector and runs ONCE
    * at ingest ([[codeIvfPq]] streams); every subsequent search fleet
    * pays a codes-table scan of ~(8+8m) bytes/vector.
    */
  def ivfPqTopKStored(embeddings: DataFrame, srcDir: String, outDir: String,
                      cacheKey: String, kIvf: Int, nProbe: Int, m: Int,
                      kSub: Int, iterations: Int, trainSampleMod: Int,
                      queryIds: Seq[Long], topK: Int, refineCandidates: Int,
                      dim: Int = 64): DataFrame = {
    if (!ivfPqWriteCodes(embeddings, srcDir, outDir, cacheKey, kIvf, m,
        kSub, iterations, trainSampleMod, dim))
      return emptyTopKFrame(embeddings)
    val Some((coarse, books)) = ivfPqFit(embeddings, cacheKey, kIvf, m,
      kSub, iterations, trainSampleMod, dim)
    val approx = ivfPqApproxFromCodes(
      embeddings.sparkSession.read.parquet(outDir), coarse, books)
    val withInts = withFixedInts(embeddings).lineageTruncate()
    ivfPqProbeSearch(approx, withInts, coarse, nProbe, queryIds, topK,
      refineCandidates)
  }

  /** Write the TRAINED IVF-PQ parameters as parquet relations — the
    * other half of the shippable index (codes: [[ivfPqWriteCodes]];
    * parameters: this): `outDir/coarse` = (cell, vec) and
    * `outDir/books` = (subspace, cell, vec), all fixed-point longs.
    * With both halves on storage the index is fully
    * SESSION-INDEPENDENT — a search or ingest fleet loads kIvf + m·kSub
    * rows of codebooks ([[ivfPqReadIndex]]) and scans the codes
    * relation; nothing retrains, nothing re-codes (the BPE merge-table
    * artifact discipline applied to ANN). Memoized on the source
    * fingerprint like every derived artifact.
    */
  def ivfPqWriteIndex(embeddings: DataFrame, srcDir: String, outDir: String,
                      cacheKey: String, kIvf: Int, m: Int, kSub: Int,
                      iterations: Int, trainSampleMod: Int,
                      dim: Int = 64): Boolean = {
    ivfPqFit(embeddings, cacheKey, kIvf, m, kSub, iterations,
      trainSampleMod, dim) match {
      case None => false
      case Some((coarse, books)) =>
        val spark = embeddings.sparkSession
        import spark.implicits._
        // same key discipline as the codes writer (ADVICE r14): dim and
        // cacheKey are part of the artifact's identity
        SessionMemo.artifact(spark,
          s"ivfpq_index:$outDir:$cacheKey:$kIvf:$m:$kSub:$iterations:" +
            s"$trainSampleMod:$dim",
          srcDir, outDir) {
          coarse.toSeq.toDF("cell", "vec")
            .write.mode("overwrite").parquet(s"$outDir/coarse")
          books.zipWithIndex
            .flatMap { case (b, j) => b.map(c => (j, c._1, c._2)) }
            .toDF("subspace", "cell", "vec")
            .write.mode("overwrite").parquet(s"$outDir/books")
        }
        true
    }
  }

  /** INDEX-DRIFT AUDIT (round 14) — the "when to re-train" relation
    * that closes the frozen-index lifecycle (fit → serve → upsert →
    * THIS → refit): assign the full corpus under an OLD coarse fit
    * (trained on the sparse `modOld` sample — the stand-in for
    * codebooks trained on yesterday's corpus) and under a FRESH fit
    * (`modNew`), and report the (old_cell → new_cell) transition
    * counts. Diagonal mass = assignment stability; growing
    * off-diagonal mass is the drift signal that schedules a codebook
    * re-train ([[codesUpsert]] keeps codes fresh per batch, but
    * codebooks only stay optimal while the data distribution holds).
    * Same integer Lloyd arithmetic as every declared IVF relation, so
    * the oracle replays both chains bit-for-bit.
    *
    * Scale shape: two bounded trainings (k·dim driver longs each, on
    * the hash-deterministic samples), two zero-shuffle expression
    * argmax assignment passes, one k×k-bounded rollup.
    */
  def ivfDriftMatrix(embeddings: DataFrame, cacheKey: String, k: Int,
                     iterations: Int, modOld: Int, modNew: Int): DataFrame = {
    val withInts = withFixedInts(embeddings).lineageTruncate()
    val id = SessionMemo.frameId(embeddings)
    def cents(mod: Int) =
      memoCentroids(id, withInts, s"$cacheKey#drift", k, iterations, mod)
    val oldC = cents(modOld)
    val newC = cents(modNew)
    if (oldC.isEmpty || newC.isEmpty)
      return embeddings.sparkSession.createDataFrame(
        embeddings.sparkSession.sparkContext
          .emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("old_cell", LongType),
          org.apache.spark.sql.types.StructField("new_cell", LongType),
          org.apache.spark.sql.types.StructField("n_vecs", LongType))))
    assignCellsInt(withInts, oldC)
      .select(col("vec_id"), col("cell").cast("long").as("old_cell"))
      .join(assignCellsInt(withInts, newC)
        .select(col("vec_id"), col("cell").cast("long").as("new_cell")),
        Seq("vec_id"))
      .groupBy("old_cell", "new_cell")
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("old_cell", "new_cell")
  }

  /** CODES MAINTENANCE — the ANN twin of [[graft.operators.DedupOps
    * .indexUpsert]]: fold an ingested batch's codes into the persisted
    * codes relation. Rows of superseded vec_ids (a re-ingested id is a
    * replacement — the re-crawl/new-version case) drop via a BROADCAST
    * anti-join on the batch's id set, then the batch's freshly coded
    * rows append; the corpus-sized relation never shuffles, and the
    * codebooks are NOT refitted (the FAISS add()/remove() economics —
    * codebook drift is a scheduled re-train, not a per-batch event).
    * Round14OpsSpec pins upsert ≡ re-code-from-scratch on the merged
    * corpus. Callers persist the returned frame (or write it back to
    * the codes parquet — on storage with keyed MERGE the anti-join is
    * the sink's DELETE WHERE vec_id IN (batch)).
    */
  def codesUpsert(storedCodes: DataFrame, batch: DataFrame,
                  coarse: Array[(Int, Seq[Long])],
                  books: Seq[Array[(Int, Seq[Long])]],
                  dim: Int = 64): DataFrame = {
    val ids = batch.select(col("vec_id"))
    storedCodes
      .join(broadcast(ids), Seq("vec_id"), "left_anti")
      .unionByName(codeIvfPq(batch, coarse, books, dim))
  }

  /** UPSERT-THEN-SEARCH (VERDICT r14 #1) — the production maintenance
    * path of the persisted index as ONE searchable relation: write (or
    * memo-hit) the base corpus's codes artifact ([[ivfPqWriteCodes]]),
    * fold an ingested batch into the STORED codes via [[codesUpsert]]
    * (replacement vec_ids drop by broadcast anti-join, new/replacement
    * rows code fresh under the FROZEN codebooks — no refit), and run
    * the standard probe → ADC → exact-refine search against the merged
    * codes. The exact refine and the query lookup read the MERGED raw
    * corpus (base minus replaced ids, plus the batch) — the corpus
    * state the upserted index claims to represent.
    *
    * Correctness contract (q_ann_codes_upsert hash-checks it every
    * round): because coding is per-row deterministic under frozen
    * codebooks, upsert ≡ re-code-the-merged-corpus-from-scratch — the
    * DuckDB oracle replays fit-on-base + code-merged + search and must
    * match bit-for-bit. Scale shape: the stored relation never
    * shuffles (anti-join broadcasts the batch id set), coding touches
    * only batch rows — FAISS add()/remove() economics on a parquet
    * table.
    */
  def ivfPqTopKUpserted(base: DataFrame, batch: DataFrame, srcDir: String,
                        outDir: String, cacheKey: String, kIvf: Int,
                        nProbe: Int, m: Int, kSub: Int, iterations: Int,
                        trainSampleMod: Int, queryIds: Seq[Long], topK: Int,
                        refineCandidates: Int, dim: Int = 64): DataFrame = {
    if (!ivfPqWriteCodes(base, srcDir, outDir, cacheKey, kIvf, m, kSub,
        iterations, trainSampleMod, dim))
      return emptyTopKFrame(base)
    val Some((coarse, books)) = ivfPqFit(base, cacheKey, kIvf, m, kSub,
      iterations, trainSampleMod, dim)
    val stored = base.sparkSession.read.parquet(outDir)
    val mergedCodes = codesUpsert(stored, batch.select("vec_id", "embedding"),
      coarse, books, dim)
    val mergedRaw = base.select("vec_id", "embedding")
      .join(broadcast(batch.select("vec_id")), Seq("vec_id"), "left_anti")
      .unionByName(batch.select("vec_id", "embedding"))
    val approx = ivfPqApproxFromCodes(mergedCodes, coarse, books)
    val withInts = withFixedInts(mergedRaw).lineageTruncate()
    ivfPqProbeSearch(approx, withInts, coarse, nProbe, queryIds, topK,
      refineCandidates)
  }

  /** COMPACTION (round 15) — the artifact-maintenance step that closes
    * the upsert loop: [[codesUpsert]] produces the merged codes as a
    * PLAN (stored rows minus replacements, plus the freshly coded
    * batch), which only the session that ran the upsert can search.
    * This writes that merged relation back to storage in the SAME
    * cell-clustered layout [[ivfPqWriteCodes]] uses (explicit
    * range-partition per cell + sort, so parquet min/max stats prune a
    * probed-cell filter again), making the post-ingest corpus state
    * servable by [[ivfPqTopKFromArtifacts]] workers that never saw the
    * batch. Without it, every upsert either stays session-local or
    * appends files whose cell ranges overlap the base files' — and an
    * appended layout degrades the fleet path's row-group pruning back
    * toward a full codes scan as batches accumulate (the LSM-compaction
    * economics, FAISS `add()` followed by a periodic rebuild of the
    * inverted lists).
    *
    * Memoized like every derived artifact; `batchKey` is the batch's
    * identity contribution (the batch is a caller-side derivation, so
    * the source fingerprint alone can't distinguish two different
    * derivations over the same base corpus).
    */
  def ivfPqCompactWrite(base: DataFrame, batch: DataFrame, srcDir: String,
                        codesDir: String, compactDir: String,
                        cacheKey: String, batchKey: String, kIvf: Int,
                        m: Int, kSub: Int, iterations: Int,
                        trainSampleMod: Int, dim: Int = 64): Boolean = {
    if (!ivfPqWriteCodes(base, srcDir, codesDir, cacheKey, kIvf, m, kSub,
        iterations, trainSampleMod, dim))
      return false
    val Some((coarse, books)) = ivfPqFit(base, cacheKey, kIvf, m, kSub,
      iterations, trainSampleMod, dim)
    SessionMemo.artifact(base.sparkSession,
      s"ivfpq_compact:$compactDir:$cacheKey:$batchKey:$kIvf:$m:$kSub:" +
        s"$iterations:$trainSampleMod:$dim",
      srcDir, compactDir) {
      codesUpsert(base.sparkSession.read.parquet(codesDir),
        batch.select("vec_id", "embedding"), coarse, books, dim)
        .repartitionByRange(math.max(coarse.length, 1), col("ivf_cell"))
        .sortWithinPartitions("ivf_cell", "vec_id")
        .write.mode("overwrite").parquet(compactDir)
    }
    true
  }

  /** Load the codebook artifact [[ivfPqWriteIndex]] wrote — kIvf +
    * m·kSub tiny rows, the legitimate driver state of a search fleet.
    * Returns (coarse, books) in the exact shape [[codeIvfPq]] /
    * [[ivfPqApproxFromCodes]] consume; Round14OpsSpec pins the
    * write→read→code round-trip against the in-session fit.
    */
  def ivfPqReadIndex(spark: org.apache.spark.sql.SparkSession, outDir: String)
      : (Array[(Int, Seq[Long])], Seq[Array[(Int, Seq[Long])]]) = {
    val coarse = spark.read.parquet(s"$outDir/coarse").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1))).sortBy(_._1)
    val books = spark.read.parquet(s"$outDir/books").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(t => (t._2, t._3)).sortBy(_._1))
    (coarse, books)
  }

  /** Search from ARTIFACTS ALONE — the fleet entry point: load the
    * codebooks from `indexDir` ([[ivfPqReadIndex]]), scan the codes
    * relation at `codesDir`, probe/ADC/refine with `embeddings` only
    * touched by the query lookup and the bounded exact re-rank. No
    * fit, no memo, no session state: a worker that has never seen the
    * training session serves the same results as the trainer
    * (Round14OpsSpec pins equality with the fresh in-plan path), which
    * is the definition of the index being an ARTIFACT rather than a
    * cache.
    *
    * The probe step runs DRIVER-SIDE against the loaded codebooks —
    * the request batch's vectors are |q|·dim longs, the ranking is the
    * identical (dot desc, cell asc) arithmetic — so the union of
    * probed cells is known BEFORE the scan and lands on the codes read
    * as a pushed `ivf_cell IN (…)` filter. Against the cell-clustered
    * layout [[ivfPqWriteCodes]] writes, parquet min/max stats then
    * skip whole row groups: the search reads ~nProbe/kIvf of the
    * corpus BYTES (Round14OpsSpec asserts the scan-row reduction),
    * which at 100 TB is the difference between an indexed lookup and a
    * full-table scan with a late filter.
    */
  def ivfPqTopKFromArtifacts(embeddings: DataFrame, indexDir: String,
                             codesDir: String, nProbe: Int,
                             queryIds: Seq[Long], topK: Int,
                             refineCandidates: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val (coarse, books) = ivfPqReadIndex(spark, indexDir)
    if (coarse.isEmpty) return emptyTopKFrame(embeddings)
    val withInts = withFixedInts(embeddings).lineageTruncate()
    val queries = queryInts(withInts, queryIds)
    // driver-side probe: same truncating long dot and (score desc,
    // cell asc) tie-break as the in-plan ranking — bounded to the
    // request batch
    val sortedCoarse = coarse.sortBy(_._1)
    val probe: Seq[(Long, Int)] = queries.collect().toSeq.flatMap { r =>
      val qv = r.getSeq[Long](1)
      sortedCoarse.toSeq
        .map { case (cell, c) =>
          (cell, qv.iterator.zip(c.iterator).map { case (a, b) => a * b }.sum)
        }
        // explicit descending Ordering, NOT arithmetic negation (ADVICE
        // r14: -Long.MinValue overflows to itself and would sort a
        // maximal dot LAST, breaking bit-parity with the in-plan
        // desc(cscore) ranking in that edge case)
        .sortBy { case (cell, d) => (d, cell) }(
          Ordering.Tuple2(Ordering[Long].reverse, Ordering[Int]))
        .take(nProbe)
        .map { case (cell, _) => (r.getLong(0), cell) }
    }
    val cells = probe.map(_._2).distinct.sorted
    val probeCells = probe.toDF("q_id", "cell")
    val approx = ivfPqApproxFromCodes(
      spark.read.parquet(codesDir)
        .filter(col("ivf_cell").isin(cells.map(_.toLong): _*)),
      coarse, books)
    ivfPqAdcRefine(approx, withInts, queries, probeCells, topK,
      refineCandidates)
  }

  /** Reassemble (n_id, cell, avi) from a STORED codes relation: avi =
    * coarse[cell] + concat_j(book_j[code_j]) — pure per-row lookups
    * into the broadcast-literal codebooks. Stored ints come back as
    * longs (the codes schema contract); element_at wants int ordinals.
    */
  private[graft] def ivfPqApproxFromCodes(codes: DataFrame,
                                          coarse: Array[(Int, Seq[Long])],
                                          books: Seq[Array[(Int, Seq[Long])]])
      : DataFrame = {
    val sortedCoarse = coarse.sortBy(_._1)
    val sortedBooks = books.map(_.sortBy(_._1))
    val m = books.length
    val cell = col("ivf_cell").cast("int")
    val recon = concat((0 until m).map { j =>
      element_at(typedLit(sortedBooks(j).map(_._2)),
        element_at(col("pq_codes"), j + 1).cast("int") + 1)
    }: _*)
    codes.select(col("vec_id").as("n_id"), cell.as("cell"),
      zip_with(element_at(typedLit(sortedCoarse.map(_._2)), cell + 1),
        recon, (a, b) => a + b).as("avi"))
  }

  /** Export the trained IVF-PQ index parameters — the frozen artifact
    * a continuously-ingesting pipeline codes against ([[codeIvfPq]];
    * the FAISS `add()` story: new vectors are assigned and coded, the
    * codebooks are NOT refitted per batch). Reuses the SAME memoized
    * cache entries [[ivfPqTopKExact]] trains (identical keys), so
    * exporting after a search costs nothing. None ⟺ empty corpus.
    */
  def ivfPqFit(embeddings: DataFrame, cacheKey: String, kIvf: Int, m: Int,
               kSub: Int, iterations: Int, trainSampleMod: Int,
               dim: Int = 64)
      : Option[(Array[(Int, Seq[Long])], Seq[Array[(Int, Seq[Long])]])] =
    ivfPqTrain(embeddings, cacheKey, kIvf, m, kSub, iterations,
      trainSampleMod, dim).map { case (_, coarse, _, books) => (coarse, books) }

  /** The memoized IVF-PQ training behind [[ivfPqTopKExact]] and
    * [[ivfPqFit]]: the coarse codebook (the SAME memo entry
    * ivfTopKExact(cacheKey, kIvf, iterations, trainSampleMod) trains —
    * shared, not retrained), then one codebook per residual subspace.
    * Returns the fixed-point frame, the coarse codebook, the truncated
    * residual frame (vec_id, vi, cell, cvec, rvi) and the subspace
    * codebooks; None ⟺ the corpus is empty.
    */
  private def ivfPqTrain(embeddings: DataFrame, cacheKey: String, kIvf: Int,
                         m: Int, kSub: Int, iterations: Int,
                         trainSampleMod: Int, dim: Int)
      : Option[(DataFrame, Array[(Int, Seq[Long])], DataFrame,
        Seq[Array[(Int, Seq[Long])]])] = {
    require(dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    val subDim = dim / m
    val withInts = withFixedInts(embeddings).lineageTruncate()
    val id = SessionMemo.frameId(embeddings)
    val coarse = memoCentroids(id, withInts, cacheKey, kIvf, iterations,
      trainSampleMod)
    if (coarse.isEmpty) return None
    val sortedCoarse = coarse.sortBy(_._1)
    // assign cells, subtract the coarse centroid → residual frame;
    // truncated once (codebook training + coding + stats all read it)
    val assigned = Lineage.truncate(
      assignCellsInt(withInts, coarse)
        .withColumn("cvec",
          element_at(typedLit(sortedCoarse.map(_._2)), col("cell") + 1))
        .withColumn("rvi",
          zip_with(col("vi"), col("cvec"), (a, b) => a - b)),
      None)
    val books = (0 until m).map { j =>
      memoCentroids(id, assigned.select(col("vec_id"),
        slice(col("rvi"), j * subDim + 1, subDim).as("vi")),
        s"$cacheKey#ivfpq$j", kSub, iterations, trainSampleMod)
    }
    if (books.exists(_.isEmpty)) None
    else Some((withInts, coarse, assigned, books))
  }

  /** Code vectors against a FROZEN IVF-PQ index — pure per-row
    * expressions (fixed-point projection, coarse argmax, residual
    * subtraction, m subspace argmaxes), so the same call codes a batch
    * frame or a STREAMING micro-batch (no aggregation, no state, no
    * watermark): the ingest side of the index, `ivf_cell` + the m-id
    * `pq_codes` array per vector — m small ints instead of dim floats,
    * the representation the search tier scans. Input needs (vec_id,
    * embedding).
    */
  def codeIvfPq(vecs: DataFrame, coarse: Array[(Int, Seq[Long])],
                books: Seq[Array[(Int, Seq[Long])]], dim: Int = 64): DataFrame = {
    val m = books.length
    require(m > 0 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    val subDim = dim / m
    val sortedCoarse = coarse.sortBy(_._1)
    val sortedBooks = books.map(_.sortBy(_._1))
    val withInts = vecs.select(col("vec_id"), fixedVec.as("vi"))
    val coded = withInts
      .withColumn("ivf_cell", element_at(
        typedLit(sortedCoarse.map(_._1)),
        graft.plans.ArgMaxDot.argMaxDotLong(col("vi"),
          typedLit(sortedCoarse.map(_._2))) + 1))
      .withColumn("rvi", zip_with(col("vi"),
        element_at(typedLit(sortedCoarse.map(_._2)), col("ivf_cell") + 1),
        (a, b) => a - b))
    coded.select(col("vec_id"), col("ivf_cell").cast("long").as("ivf_cell"),
      array((0 until m).map { j =>
        element_at(typedLit(sortedBooks(j).map(_._1)),
          graft.plans.ArgMaxDot.argMaxDotLong(
            slice(col("rvi"), j * subDim + 1, subDim),
            typedLit(sortedBooks(j).map(_._2))) + 1).cast("long")
      }: _*).as("pq_codes"))
  }

  private def emptyTopKFrame(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    embeddings.sparkSession.createDataFrame(
      embeddings.sparkSession.sparkContext
        .emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("q_id", LongType),
        StructField("rn", LongType), StructField("n_id", LongType),
        StructField("score_s14", LongType))))
  }

  /** Sign-LSH bucket id: the 0/1 signs of dot products against
    * `numPlanes` pseudo-random hyperplanes, packed into a long. Planes
    * are generated deterministically from a seed via a hash-based
    * construction.
    *
    * Round 11: the plane VALUES are data-independent constants, so
    * they are evaluated ONCE driver-side (through the very same
    * xxhash64 expression they always came from — bit-identical,
    * memoized per (planes, dim, seed)) and inlined as literal arrays;
    * the per-row work is then `numPlanes` codegen'd
    * [[graft.plans.FloatDoubleVecDot]] dots. The previous in-plan form
    * re-derived all planes·dim hash components PER ROW inside a
    * CodegenFallback higher-order fold — at 100 TB that interpreted
    * re-hashing dominates the bucketing scan for no informational
    * gain whatsoever.
    */
  def lshBucket(emb: Column, numPlanes: Int, dim: Int, seed: Long = 42L): Column = {
    val planes = lshPlanes(numPlanes, dim, seed)
    planes.zipWithIndex.map { case (p, i) =>
      when(graft.plans.VecDot.dotFloatDouble(emb, typedLit(p)) >= 0,
        shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** The memoized driver-side plane evaluation behind [[lshBucket]]:
    * plane component j of plane p = `(pmod(xxhash64(seed, p, j), 2e6)
    * / 1e6) − 1` — computed by evaluating EXACTLY that expression over
    * one row, so the constants cannot drift from the historical
    * in-plan form. State: planes·dim doubles per distinct parameter
    * triple — driver-trivial.
    */
  private val lshPlaneCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Long), Seq[Seq[Double]]]()

  private def lshPlanes(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] =
    lshPlaneCache.computeIfAbsent((numPlanes, dim, seed), _ => {
      val spark = org.apache.spark.sql.SparkSession.active
      val exprs = (0 until numPlanes).map { p =>
        transform(sequence(lit(0), lit(dim - 1)), j =>
          (pmod(xxhash64(lit(seed), lit(p), j), lit(2000000L))
            .cast(DoubleType) / 1000000.0) - 1.0).as(s"p$p")
      }
      val row = spark.range(1).select(exprs: _*).head()
      (0 until numPlanes).map(p => row.getSeq[Double](p))
    })

  /** Approximate top-k: restrict candidates to corpus vectors falling in
    * the same sign-LSH bucket as the query, then exact-rank the bucket.
    * At 100 TB this turns an all-pairs scan into a bucket-equi-join whose
    * fan-in is corpus/2^planes per query on average.
    */
  def lshBucketTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
                    numPlanes: Int = 8, dim: Int = 64): DataFrame =
    lshBucketTopK(embeddings, queryIds, k, numPlanes, dim, maxFlip = 0)

  /** Multi-probe sign-LSH top-k (round 6): additionally probe every
    * bucket within Hamming distance `maxFlip` of the query's own bucket —
    * the standard multi-probe LSH trick (a true near neighbor that
    * disagrees with the query on ONE hyperplane sign is the dominant
    * recall loss of single-bucket probing, and flipping each bit probes
    * exactly those buckets). `maxFlip = 1` probes `1 + numPlanes` of the
    * `2^numPlanes` buckets, so candidate fan-in stays
    * ≈ corpus · (1+numPlanes)/2^numPlanes per query — still linear, never
    * all-pairs — while recall roughly doubles on the committed corpus
    * (AnnRecallSpec pins the floor).
    *
    * The probe fan-out rides the tiny broadcast QUERY side (queries ×
    * (1+planes) rows); each corpus vector still has exactly one bucket,
    * so a (q_id, n_id) candidate appears at most once — no dedup needed.
    */
  def lshBucketTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
                    numPlanes: Int, dim: Int, maxFlip: Int): DataFrame = {
    require(maxFlip >= 0 && maxFlip <= 1, "maxFlip ∈ {0, 1} supported")
    val bucketed = embeddings.withColumn("bucket", lshBucket(col("embedding"), numPlanes, dim))
    val probeBuckets =
      if (maxFlip == 0) array(col("bucket")) else flipBuckets(numPlanes)
    val queries = probeRows(bucketed, queryIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(probeBuckets).as("bucket"))
    val cands = bucketed
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("bucket"))
      .join(broadcast(queries), Seq("bucket"))
    topKPerQuery(cands.withColumn("score", dotF(col("q_emb"), col("n_emb"))),
      "score", k, Seq("q_id", "rn", "n_id", "score"), longRank = false)
      .orderBy("q_id", "rn")
  }

  /** Corpus-wide k-NN GRAPH (round 15): EVERY vector gets its k nearest
    * neighbors, the precursor relation of SemDeDup-style semantic dedup,
    * kNN-retrieval dataset construction, and the mutual-kNN clustering
    * below. Candidates come from the same hamming≤1 multi-probe sign-LSH
    * as [[lshBucketTopKExact]] — hyperplanes are the corpus's OWN
    * `probeIds` vectors after fixed-point rounding, so bucket bits and
    * scores are exact int64 arithmetic any SQL engine replays
    * bit-identically. Self-edges are excluded (a vector is trivially its
    * own nearest neighbor); ties rank by ascending `n_id`.
    *
    * Scale shape — the difference from the query-batch variant: here the
    * "query" side is the whole corpus, so nothing broadcasts. The probe
    * fan-out explodes each vector to `1+|planes|` (bucket, flip) rows and
    * the candidate relation is ONE bucket-keyed shuffle self-join —
    * fan-in ≈ n²·(1+planes)/2^planes rows total, linear per vector for
    * fixed planes, never the all-pairs n². At 100 TB pick |planes| ≈
    * log₂(n / target-bucket-size) so per-bucket joins stay executor-sized;
    * bucket-size skew is AQE skew-join territory (the bits are
    * data-derived, near-uniform for centered embeddings). The final
    * ranking is a per-vec_id window over the candidate rows — partitioned
    * by the graph's natural key, no global sort. The relation is
    * unordered: a declared key that publishes it applies the total order.
    */
  def knnGraphExact(embeddings: DataFrame, probeIds: Seq[Long],
                    k: Int): DataFrame =
    knnGraphExactWithPlanes(embeddings, embeddings, probeIds, k)

  /** [[knnGraphExact]] with the hyperplane SOURCE decoupled from the
    * corpus (round 16): `planesFrom`'s probe-id vectors bucket
    * `corpus`. The two coincide for the fresh build; they differ for
    * the incremental path, where [[knnGraphUpserted]]'s output is
    * hash-checked against THIS from-scratch build over the post-upsert
    * corpus under the BASE corpus's frozen planes.
    */
  def knnGraphExactWithPlanes(corpus: DataFrame, planesFrom: DataFrame,
                              probeIds: Seq[Long], k: Int): DataFrame = {
    // 2 consumers (both sides of the bucket self-join) — the usual
    // truncation discipline so sign assignment runs once
    val bucketed = signBucketsWithPlanes(withFixedInts(corpus),
      planeInts(withFixedInts(planesFrom), probeIds), probeIds)
      .lineageTruncate()
    val queries = bucketed
      .select(col("vec_id").as("q_id"), col("vi").as("qvi"),
        explode(flipBuckets(probeIds.size)).as("bucket"))
    // NOTE (optimization round 19): an explicit by-bucket repartition of
    // the candidate side — the §2.5 fan-out fix applied to the interval
    // and MinHash-band joins this round — was measured here and REVERTED:
    // the bucket join's fan-out ((1+planes)/2^planes of the corpus per
    // probe) never collapsed to a serial task, and the extra exchange
    // cost more than it spread (×10 corpus, 32 cores: graph build
    // 2.76→3.04 s, mutual-CC serve 3.46→4.96 s — SCALE.md round-19).
    val cands = bucketed
      .select(col("vec_id").as("n_id"), col("vi").as("nvi"), col("bucket"))
      .join(queries, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
    topKPerQuery(cands.withColumn("score_s14",
      graft.plans.VecDot.dotLong(col("qvi"), col("nvi"))), "score_s14", k, Ranked)
  }

  /** kNN LABEL VOTE (round 15): classify every vector by the majority
    * label of its [[knnGraphExact]] neighbors — the
    * label-propagation / auto-labeling pass a curation pipeline runs to
    * extend a small labeled seed set over an unlabeled corpus, and the
    * standard embedding-quality probe (kNN accuracy). Vote ties break to
    * the SMALLER label; `correct` compares against the vector's own
    * stored label so the output doubles as the accuracy audit relation.
    *
    * Scale shape: the graph is n·k rows; the vote is one (q_id, label)
    * map-side-combined rollup plus a per-q_id argmax window; labels join
    * back by vec_id equi-key. Nothing beyond the graph's own cost.
    */
  def knnLabelVote(embeddings: DataFrame, probeIds: Seq[Long],
                   k: Int): DataFrame = {
    val labels = embeddings
      .select(col("vec_id"), col("label").cast(LongType).as("label"))
      .lineageTruncate() // 2 consumers: neighbor labels + truth join-back
    val graph = knnGraphExact(embeddings, probeIds, k)
    val votes = graph
      .join(labels.select(col("vec_id").as("n_id"),
        col("label").as("n_label")), Seq("n_id"))
      .groupBy(col("q_id"), col("n_label"))
      .agg(count(lit(1)).cast(LongType).as("votes"))
    topKPerQuery(votes, "votes", 1, tie = "n_label", longRank = false)
      .join(labels.select(col("vec_id").as("q_id"),
        col("label").as("true_label")), Seq("q_id"))
      .select(col("q_id").as("vec_id"), col("n_label").as("pred_label"),
        col("votes"), col("true_label"),
        (col("n_label") === col("true_label")).as("correct"))
      .orderBy("vec_id")
  }

  /** MUTUAL-kNN CLUSTERS (round 15): undirected edges where BOTH
    * endpoints list each other in their [[knnGraphExact]] top-k, fed to
    * the audited [[DedupOps.connectedComponents]] engine — the
    * density-robust clustering a semantic-dedup or topic-discovery pass
    * uses (mutuality prunes hub vectors that appear in everyone's
    * neighbor list without reciprocating, the classic failure of raw
    * kNN-graph components).
    *
    * Scale shape: mutuality is ONE self-join of the n·k graph on the
    * reversed key pair; the CC engine contributes its usual
    * forest-contraction rounds over ≤ n·k edges.
    */
  def mutualKnnClusters(embeddings: DataFrame, probeIds: Seq[Long], k: Int,
                        checkpointDir: Option[String] = None): DataFrame =
    mutualClustersFromGraph(
      // 2 consumers (both sides of the mutuality self-join)
      knnGraphExact(embeddings, probeIds, k)
        .select(col("q_id"), col("n_id")).lineageTruncate(),
      embeddings, checkpointDir)

  /** The shared mutuality + CC tail of [[mutualKnnClusters]] and
    * [[mutualKnnClustersStored]] — factored so the in-plan and
    * artifact-serving paths cannot drift. `graph` carries (q_id, n_id),
    * already safe to consume twice.
    */
  private def mutualClustersFromGraph(graph: DataFrame,
                                      embeddings: DataFrame,
                                      checkpointDir: Option[String])
      : DataFrame = {
    val mutual = mutualEdgesFromGraph(graph)
    // every vector appears in the output, singletons as their own
    // cluster: union the self-loop so isolated vectors survive CC
    val nodes = withFixedInts(embeddings)
      .select(col("vec_id").as("a_id"), col("vec_id").as("b_id"))
    DedupOps.connectedComponents(mutual.unionByName(nodes),
      checkpointDir = checkpointDir)
      .select(col("id").as("vec_id"), col("cluster_id"))
      .orderBy("vec_id")
  }

  /** The mutuality reduction alone: undirected (a_id < b_id) edges
    * where BOTH endpoints list each other in the top-k `graph`.
    */
  private def mutualEdgesFromGraph(graph: DataFrame): DataFrame =
    graph
      .join(graph.select(col("n_id").as("q_id"), col("q_id").as("n_id")),
        Seq("q_id", "n_id"), "left_semi")
      .filter(col("q_id") < col("n_id"))
      .select(col("q_id").as("a_id"), col("n_id").as("b_id"))

  /** The mutual-kNN EDGE relation (round 15, wave 7) — the graph input
    * [[mutualKnnClusters]] clusters over, exposed for other graph
    * consumers (BFS reach, purity audits). One banded self-join + one
    * semi-join; ≤ n·k candidate rows.
    */
  def mutualKnnEdges(embeddings: DataFrame, probeIds: Seq[Long],
                     k: Int): DataFrame =
    mutualEdgesFromGraph(
      knnGraphExact(embeddings, probeIds, k)
        .select(col("q_id"), col("n_id")).lineageTruncate())

  /** CLUSTER-PURITY AUDIT (round 15, wave 7) — per non-singleton
    * mutual-kNN cluster: member count, majority label, its vote count,
    * and purity in ppm. The evaluation a semantic-dedup / topic pass
    * runs against reference labels before trusting its clusters ("is
    * the big cluster one topic or a hub artifact?"). Work beyond the
    * clustering itself: one label equi-join + two label-keyed rollups +
    * a per-cluster argmax window.
    */
  def mutualClusterPurity(embeddings: DataFrame, probeIds: Seq[Long],
                          k: Int, minSize: Long): DataFrame = {
    val labels = embeddings
      .select(col("vec_id"), col("label").cast(LongType).as("label"))
    val votes = mutualKnnClusters(embeddings, probeIds, k)
      .join(labels, Seq("vec_id"))
      .groupBy("cluster_id", "label")
      .agg(count(lit(1)).cast(LongType).as("votes"))
      .lineageTruncate() // 2 consumers: size rollup + majority window
    val sizes = votes.groupBy("cluster_id")
      .agg(sum(col("votes")).cast(LongType).as("n"))
    val majority = topKPerQuery(votes, "votes", 1, tie = "label",
        longRank = false, key = "cluster_id")
      .select(col("cluster_id"), col("label").as("maj_label"),
        col("votes").as("maj_votes"))
    sizes.join(majority, Seq("cluster_id"))
      .withColumn("purity_ppm", expr("maj_votes * 1000000L div n"))
      .filter(col("n") >= minSize)
      .select("cluster_id", "n", "maj_label", "maj_votes", "purity_ppm")
      .orderBy("cluster_id")
  }

  /** Write the PERSISTED kNN graph (round 15, wave 6) — the
    * [[knnGraphExact]] edge relation (q_id, rn, n_id, score_s14) as a
    * q_id-clustered parquet artifact, memoized on the embeddings source
    * fingerprint (the bm25/decon index-writer discipline). The graph is
    * the expensive product (one banded self-join over the corpus);
    * everything downstream — mutual clustering, label voting, hub
    * audits — is a cheap consumer, so at 100 TB the graph is built once
    * per corpus state and every analysis reads the artifact.
    */
  def knnGraphWrite(embeddings: DataFrame, srcDir: String, outDir: String,
                    probeIds: Seq[Long], k: Int): Boolean = {
    SessionMemo.artifact(embeddings.sparkSession,
      s"knn_graph:$outDir:k=$k:p=${probeIds.mkString("_")}",
      srcDir, outDir) {
      knnGraphExact(embeddings, probeIds, k)
        .repartitionByRange(8, col("q_id"))
        .sortWithinPartitions("q_id", "rn")
        .write.mode("overwrite").parquet(s"$outDir/edges")
    }
    true
  }

  /** Mutual-kNN clustering served from the PERSISTED graph — build the
    * edge artifact if needed, then run the shared mutuality + CC tail
    * over the stored relation. Same parameters ⇒ the SAME oracle as
    * the in-plan [[mutualKnnClusters]]: hash-equality between the two
    * declared keys IS the stored-vs-fresh parity contract.
    */
  def mutualKnnClustersStored(embeddings: DataFrame, srcDir: String,
                              outDir: String, probeIds: Seq[Long], k: Int,
                              checkpointDir: Option[String] = None)
      : DataFrame = {
    knnGraphWrite(embeddings, srcDir, outDir, probeIds, k)
    mutualClustersFromGraph(
      embeddings.sparkSession.read.parquet(s"$outDir/edges")
        .select(col("q_id"), col("n_id")),
      embeddings, checkpointDir)
  }

  /** The post-upsert corpus: `base` minus the deleted ids, minus the
    * re-crawled ids (whose NEW content arrives in `batch`), plus the
    * batch. Shared by [[knnGraphUpserted]] and its cluster consumer so
    * the two cannot disagree about corpus membership. `deletes` is a
    * one-column (`vec_id`) RELATION, never an in-literal id list — a
    * 100 TB takedown list is itself a table (the
    * [[RetrievalOps.bm25CompactWrite]] discipline), so membership is a
    * distributed anti-join.
    */
  def upsertedCorpus(base: DataFrame, batch: DataFrame,
                     deletes: DataFrame): DataFrame = {
    val batchKeys = batch.select("vec_id").distinct()
    base
      .join(deletes.select("vec_id"), Seq("vec_id"), "left_anti")
      .join(batchKeys, Seq("vec_id"), "left_anti")
      .select("vec_id", "embedding")
      .unionByName(batch.select("vec_id", "embedding"))
  }

  /** INCREMENTAL kNN-GRAPH UPSERT (round 16) — the
    * [[knnGraphWrite]] artifact's maintenance path: fold a batch of
    * re-crawled / inserted vectors plus a takedown list into the STORED
    * edge relation without rebuilding the graph, under the FROZEN base
    * hyperplanes (the q_ann_codes_upsert no-refit economics applied to
    * the graph artifact). The result is EXACTLY the from-scratch
    * [[knnGraphExact]] over the post-upsert corpus bucketed by the
    * frozen planes — hash-checkable, not approximate — because:
    *
    *  - an unchanged query's bucket is unchanged under frozen planes, so
    *    its stored top-k remains the true top-k over the SURVIVING old
    *    candidates (any old candidate outside it ranks strictly below by
    *    the total order (score DESC, n_id), and a sub-k stored list
    *    already holds every old candidate);
    *  - only batch vectors can therefore displace into an unaffected
    *    query's list — one bucket-equi-join of the old queries against
    *    the batch-only candidate side covers them;
    *  - a query whose stored list LOST a member (an edge to a deleted or
    *    re-crawled id) gets a full re-search: rank-(k+1) old vectors may
    *    be promoted, and no merge of survivors can see them. That
    *    affected set is bounded by |invalid|·k stored rows.
    *
    * Scale shape: never a corpus×corpus self-join. Per batch the work is
    * one bucket pass over the merged corpus (at 100 TB the unchanged
    * vectors' buckets would ALSO be served from a persisted bucket
    * column — same memo discipline as the edges), a broadcast-small
    * batch-candidate join against the old queries, and full searches
    * only for the batch + affected queries (|batch|·(1+planes)/2^planes
    * of the corpus each). Deletes propagate by edge invalidation, not by
    * rebuild — and the takedown side is a RELATION joined distributively
    * (the [[RetrievalOps.bm25CompactWrite]] discipline; a 100 TB
    * takedown list is itself a table, never an `isin` literal). Like
    * [[knnGraphExact]], the relation is unordered.
    */
  def knnGraphUpserted(base: DataFrame, batch: DataFrame,
                       deletes: DataFrame, srcDir: String, outDir: String,
                       probeIds: Seq[Long], k: Int,
                       broadcastBatch: Boolean = true): DataFrame = {
    val delKeys = deletes.select("vec_id").distinct()
      .lineageTruncate() // 4 consumers: clash guard, invalidN, fullQ
                         // anti, keptStored anti
    // batch∩deletes would leave the re-added vector serving as a
    // candidate while fullQ's takedown anti-join denies it a top-k list
    // of its own — silent divergence from the from-scratch oracle.
    // Refuse loudly (the bm25TopKUpserted append-only clash
    // discipline): delete-then-upsert are two separate batches.
    val clash = batch.select("vec_id")
      .join(delKeys, Seq("vec_id"), "left_semi")
      .limit(1).count()
    require(clash == 0L,
      "knnGraphUpserted: batch vec_ids and deletes must be disjoint " +
        "(a deleted-and-re-added id would serve as a candidate but " +
        "never receive its own top-k list — run the delete and the " +
        "re-add as separate upserts)")
    knnGraphWrite(base, srcDir, outDir, probeIds, k)
    val stored = base.sparkSession.read.parquet(s"$outDir/edges")
    val batchKeys = batch.select("vec_id").distinct().lineageTruncate()

    // FROZEN hyperplanes: the probe vectors as the BASE build saw them —
    // re-crawled or deleted plane ids keep their index-time content
    val planes = planeInts(withFixedInts(base), probeIds)
    val bucketed = signBucketsWithPlanes(
      withFixedInts(upsertedCorpus(base, batch, delKeys)),
      planes, probeIds).lineageTruncate()

    // stored rows pointing at a deleted or re-crawled id are stale;
    // their queries need the full re-search (see scaladoc)
    val invalidN = batchKeys.unionByName(delKeys).distinct()
    val affectedQ = stored
      .join(invalidN.select(col("vec_id").as("n_id")), Seq("n_id"),
        "left_semi")
      .select(col("q_id").as("vec_id")).distinct()
    val fullQ = affectedQ.unionByName(batchKeys).distinct()
      .join(delKeys, Seq("vec_id"), "left_anti")
      .lineageTruncate()

    val probeBuckets = flipBuckets(probeIds.size)

    // (a) full re-search: batch + affected queries against everything
    val fullQueries = bucketed
      .join(fullQ, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("q_id"), col("vi").as("qvi"),
        explode(probeBuckets).as("bucket"))
    val fullCands = bucketed
      .select(col("vec_id").as("n_id"), col("vi").as("nvi"), col("bucket"))
      .join(fullQueries, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("score_s14",
        graft.plans.VecDot.dotLong(col("qvi"), col("nvi")))
      .select("q_id", "n_id", "score_s14")

    // (b) unaffected old queries: stored list survives verbatim; only
    // batch vectors can displace, via one bucket join against the
    // broadcast-small batch candidate side
    val keepQueries = bucketed
      .join(fullQ, Seq("vec_id"), "left_anti")
      .select(col("vec_id").as("q_id"), col("vi").as("qvi"),
        explode(probeBuckets).as("bucket"))
    val batchSide = bucketed
      .join(batchKeys, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("n_id"), col("vi").as("nvi"), col("bucket"))
    // broadcastBatch=false falls back to a shuffled bucket join for
    // re-crawl batches too large to broadcast (the decontaminateSemantic
    // hint-parameter discipline per the r10 rule)
    val freshCands = (if (broadcastBatch) broadcast(batchSide) else batchSide)
      .join(keepQueries, Seq("bucket"))
      .withColumn("score_s14",
        graft.plans.VecDot.dotLong(col("qvi"), col("nvi")))
      .select("q_id", "n_id", "score_s14")
    val keptStored = stored
      .join(fullQ.select(col("vec_id").as("q_id")), Seq("q_id"), "left_anti")
      .join(delKeys.select(col("vec_id").as("q_id")), Seq("q_id"),
        "left_anti")
      .select("q_id", "n_id", "score_s14")

    topKPerQuery(keptStored.unionByName(freshCands).unionByName(fullCands),
      "score_s14", k, Ranked)
  }

  /** PERSIST THE POST-UPSERT GRAPH AS THE NEXT ARTIFACT GENERATION
    * (round 17, VERDICT r16 #5) — the q_ann_compact generation story
    * applied to edges: [[knnGraphUpserted]] produces a session-local
    * PLAN; this writes it back q_id-clustered at `genDir` under the
    * same fingerprint-memo discipline as [[knnGraphWrite]], keyed on
    * the source fingerprint plus `batchKey` (the caller's identity for
    * this batch/takedown set — the ivfPqCompactWrite discipline). A
    * repeated upsert against an unchanged base + identical batch is a
    * memo HIT: no base-embeddings re-scan, no edge fold, no rewrite —
    * the generation on disk serves (Round17OpsSpec pins the hit by
    * artifact mtime). Corpus regeneration moves the fingerprint and
    * forces the rebuild, exactly as the codes path.
    *
    * `batchKey` is the caller's identity for BOTH the batch and the
    * takedown relation — batch and deletes are DataFrames, so the memo
    * cannot key their contents itself (the [[RetrievalOps
    * .bm25CompactWrite]] contract): a different batch/takedown set
    * MUST arrive under a new key. The probe list is keyed by md5, not
    * embedded (a production plane set is thousands of ids — r17
    * ADVICE).
    */
  def knnGraphUpsertWrite(base: DataFrame, batch: DataFrame,
                          deletes: DataFrame, srcDir: String,
                          outDir: String, genDir: String, batchKey: String,
                          probeIds: Seq[Long], k: Int): Boolean = {
    val probeKey = java.security.MessageDigest.getInstance("MD5")
      .digest(probeIds.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    SessionMemo.artifact(base.sparkSession,
      s"knn_graph_gen:$genDir:$batchKey:k=$k:p=$probeKey",
      srcDir, genDir) {
      knnGraphUpserted(base, batch, deletes, srcDir, outDir,
        probeIds, k)
        .repartitionByRange(8, col("q_id"))
        .sortWithinPartitions("q_id", "rn")
        .write.mode("overwrite").parquet(s"$genDir/edges")
    }
    true
  }

  /** Write-if-needed + serve the persisted post-upsert generation —
    * the fleet path for the maintained graph: a worker session reads
    * the edge artifact alone. Same parameters ⇒ the SAME oracle as the
    * in-plan [[knnGraphUpserted]] key: hash-equality between the two
    * declared rows IS the generation-parity contract (the
    * q_bm25_stored pattern).
    */
  def knnGraphUpsertedStored(base: DataFrame, batch: DataFrame,
                             deletes: DataFrame, srcDir: String,
                             outDir: String, genDir: String,
                             batchKey: String, probeIds: Seq[Long],
                             k: Int): DataFrame = {
    knnGraphUpsertWrite(base, batch, deletes, srcDir, outDir, genDir,
      batchKey, probeIds, k)
    base.sparkSession.read.parquet(s"$genDir/edges")
      .select("q_id", "rn", "n_id", "score_s14")
      .orderBy("q_id", "rn")
  }

  /** EDGE-CHURN AUDIT of the graph upsert (round 16) — the monitoring
    * relation a maintainer watches per ingest batch: how many stored
    * edges survived ('kept'), how many were invalidated or displaced
    * ('dropped'), and how many the batch introduced ('new'), each with
    * the distinct query count it touched. A 'dropped' mass trending
    * toward the graph size is the rebuild/re-plan signal — the
    * q_index_drift discipline applied to the graph artifact.
    *
    * Scale shape: both graphs are n·k rows; the diff is ONE full-outer
    * equi-join on (q_id, n_id) + a 3-key rollup. Nothing beyond the
    * upsert's own cost.
    */
  def knnUpsertChurn(base: DataFrame, batch: DataFrame,
                     deletes: DataFrame, srcDir: String, outDir: String,
                     probeIds: Seq[Long], k: Int): DataFrame = {
    val newG = knnGraphUpserted(base, batch, deletes, srcDir,
      outDir, probeIds, k)
      .select(col("q_id"), col("n_id"), lit(1L).as("in_new"))
    // knnGraphUpserted just built/validated the artifact — read it back
    val oldG = base.sparkSession.read.parquet(s"$outDir/edges")
      .select(col("q_id"), col("n_id"), lit(1L).as("in_old"))
    oldG.join(newG, Seq("q_id", "n_id"), "full_outer")
      .withColumn("status",
        when(col("in_old").isNotNull && col("in_new").isNotNull, "kept")
          .when(col("in_old").isNotNull, "dropped")
          .otherwise(lit("new")))
      .groupBy("status")
      .agg(count(lit(1)).cast(LongType).as("n_edges"),
        countDistinct(col("q_id")).cast(LongType).as("n_queries"))
      .orderBy("status")
  }

  /** SIGN-LSH PLANES RETRAIN (round 18, VERDICT r17 #6) — the RESPONSE
    * to [[knnUpsertChurn]]'s rebuild signal, the q_index_retrain
    * discipline applied to the graph artifact's bucketing state. At
    * 100 TB bucket assignments are SERVED from a persisted bucket
    * column (the [[knnGraphUpserted]] scaladoc's own scale note), so
    * after an ingest cycle the index is in one of two states:
    *
    *  - "stale": the stored assignments under the frozen base planes —
    *    a re-crawled vector still sits at the bucket its PRE-drift
    *    content hashed to (inserts, having no stored row, are coded
    *    under the frozen planes on arrival, the codesUpsert
    *    discipline). This is the degenerate serve-past-the-re-crawl
    *    mode the churn signal exists to catch: a drifted query probes
    *    hamming≤1 around its obsolete bucket, where its true
    *    neighbors no longer live.
    *  - "retrained": the maintenance response — planes re-drawn from
    *    live post-ingest probe ids and every vector rebucketed under
    *    its current content.
    *
    * Both configurations run the IDENTICAL hamming≤1 bucketed search
    * over the merged corpus for the re-crawled query slice; each row
    * reports how many of the exact top-k that configuration recovered
    * — recall recovery is MEASURED inside the relation (retrained rows
    * vs stale rows), which is what makes the churn signal actionable.
    * (The exact fold q_knn_edges_upsert hash-checks is the middle
    * road — frozen planes, fresh rebucketing; this key brackets it
    * with the two endpoint states.)
    *
    * Scale shape: one bucket pass per configuration plus one over the
    * base content (three map-side plane-dot rollups); the query side
    * is parameter-bounded and broadcasts; the exact scan is
    * |queries|·n dots — the audit's own cost, same as the IVF retrain
    * key.
    */
  def knnPlanesRetrainRecall(base: DataFrame, batch: DataFrame,
                             deletes: DataFrame, stalePlaneIds: Seq[Long],
                             freshPlaneIds: Seq[Long],
                             queryIds: Seq[Long], k: Int): DataFrame = {
    require(queryIds.nonEmpty, "knnPlanesRetrainRecall needs queries")
    val spark = base.sparkSession
    import spark.implicits._
    val mi = withFixedInts(upsertedCorpus(base, batch, deletes))
      .lineageTruncate() // consumers: exact scan (2 sides), two
                         // bucketers, fresh planes
    // exact top-k over the post-ingest corpus: the recall ground truth
    val exact = topKPerQuery(mi.select(col("vec_id").as("n_id"), col("vi").as("nvi"))
      .crossJoin(broadcast(queryInts(mi, queryIds)))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("score_s14",
        graft.plans.VecDot.dotLong(col("qvi"), col("nvi"))),
      "score_s14", k, Seq("q_id", "n_id"))
      .lineageTruncate() // 2 consumers: one hit-join per configuration
    // bucketed: (vec_id, bucket, vi over CURRENT content)
    def configHits(cfg: String, bucketed0: DataFrame,
                   numPlanes: Int): DataFrame = {
      val bucketed = bucketed0
        .lineageTruncate() // 2 consumers: query slice + candidate side
      val queries = probeRows(bucketed, queryIds)
        .select(col("vec_id").as("q_id"), col("vi").as("qvi"),
          explode(flipBuckets(numPlanes)).as("bucket"))
      val approx = topKPerQuery(bucketed
        .select(col("vec_id").as("n_id"), col("vi").as("nvi"),
          col("bucket"))
        .join(broadcast(queries), Seq("bucket"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("score_s14",
          graft.plans.VecDot.dotLong(col("qvi"), col("nvi"))), "score_s14", k)
      val hits = approx
        .join(exact, Seq("q_id", "n_id"), "left_semi")
        .groupBy("q_id")
        .agg(count(lit(1)).cast(LongType).as("hits"))
      queryIds.toDF("q_id")
        .join(hits, Seq("q_id"), "left_outer")
        .select(lit(cfg).as("config"), col("q_id"),
          coalesce(col("hits"), lit(0L)).as("hits"))
    }
    val stalePlanes = planeInts(withFixedInts(base), stalePlaneIds)
      .lineageTruncate() // 2 consumers: stored assignments + arrivals
    // the artifact's stored bucket column: base-content assignments
    val storedAssign = signBucketsWithPlanes(withFixedInts(base),
      stalePlanes, stalePlaneIds)
      .select(col("vec_id"), col("bucket").as("stored_b"))
    // arrivals (no stored row) coded under the frozen planes on their
    // current content; everything else serves the stored assignment
    val staleBucketed = signBucketsWithPlanes(mi, stalePlanes,
      stalePlaneIds)
      .select(col("vec_id"), col("bucket").as("cur_b"), col("vi"))
      .join(storedAssign, Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("stored_b"), col("cur_b")).as("bucket"), col("vi"))
    val freshPlanes = planeInts(mi, freshPlaneIds)
    val freshBucketed = signBucketsWithPlanes(mi, freshPlanes,
      freshPlaneIds)
      .select(col("vec_id"), col("bucket"), col("vi"))
    configHits("stale", staleBucketed, stalePlaneIds.size)
      .unionByName(configHits("retrained", freshBucketed,
        freshPlaneIds.size))
      .orderBy("config", "q_id")
  }

  /** Mutual-kNN clustering over the UPSERTED graph — the
    * [[knnGraphUpserted]] edge relation fed to the shared mutuality +
    * CC tail over the post-upsert corpus: how a 100 TB pipeline keeps
    * its semantic clusters current per ingest batch without ever
    * re-self-joining the corpus. Same parameters ⇒ the same oracle as a
    * from-scratch build on the merged corpus under frozen planes.
    */
  def mutualKnnClustersUpserted(base: DataFrame, batch: DataFrame,
                                deletes: DataFrame, srcDir: String,
                                outDir: String, probeIds: Seq[Long], k: Int,
                                checkpointDir: Option[String] = None)
      : DataFrame =
    mutualClustersFromGraph(
      knnGraphUpserted(base, batch, deletes, srcDir, outDir,
        probeIds, k)
        .select(col("q_id"), col("n_id")).lineageTruncate(),
      upsertedCorpus(base, batch, deletes), checkpointDir)
}
