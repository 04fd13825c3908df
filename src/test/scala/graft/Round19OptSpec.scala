package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.DedupOps

/** Round-19 optimization pins (OPTIMIZATION_r19.md): structural
  * guarantees of the optimized internals that behavioral equality
  * specs alone would not catch regressing.
  */
class Round19OptSpec extends SparkSpec {

  /** An adversarially partitioned PATH graph 0-1-2-…-n: edge i lands in
    * partition i mod `parts`, so no partition holds two ADJACENT edges
    * and localSpanningForest contracts nothing — the propagation loop
    * faces the full diameter-n chain (exactly the stored-kNN-artifact
    * layout that measured 31 one-hop rounds at sf0.1).
    */
  private def scatteredPath(n: Int, parts: Int): DataFrame =
    CcFixtures.scattered(spark, (0L until n.toLong).map(i => (i, i + 1)), parts)

  /** Verbatim copy of the pre-round-19 propagation loop (one-hop
    * min-label, init fold included) — the reference connectedComponents
    * is pinned against, and the proof the chain graph needs more than
    * propagation: one-hop propagation on the scattered path provably
    * exceeds a log-sized round cap.
    */
  private def oneHopCC(pairs: DataFrame, maxIter: Int): DataFrame = {
    val forest = pairs // localSpanningForest is private; the scattered
    // path contracts nothing there by construction, so feeding edges
    // directly preserves the pre-change loop's behavior on this input
    val edges = graft.operators.Lineage.truncate(
      forest.select(explode(array(
          struct(col("a_id").as("src"), col("b_id").as("dst")),
          struct(col("b_id").as("src"), col("a_id").as("dst")),
          struct(col("a_id").as("src"), col("a_id").as("dst")),
          struct(col("b_id").as("src"), col("b_id").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct(), None)
    val init = edges.groupBy(col("src").as("id"))
      .agg(min("dst").as("label")).persist()
    var labels = init
    val initSumRow = init.agg(
      sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
    ).collect()(0)
    var checksum: java.math.BigDecimal =
      if (initSumRow.isNullAt(0)) null else initSumRow.getDecimal(0)
    var iter = 0
    var converged = initSumRow.isNullAt(0)
    var prev: Option[DataFrame] = Some(init)
    while (!converged && iter < maxIter) {
      val computed = edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("label").as("label"))
      // the pre-change loop's plan-depth bound, verbatim — without it
      // a slow-converging chain's join tree OOMs on stringification
      val next =
        if (iter % 8 == 7) graft.operators.Lineage.truncate(computed, None)
        else computed.persist()
      val sumRow = next.agg(
        sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      ).collect()(0)
      val nextSum =
        if (sumRow.isNullAt(0)) java.math.BigDecimal.ZERO
        else sumRow.getDecimal(0)
      converged = sumRow.isNullAt(0) ||
        (checksum != null && nextSum.compareTo(checksum) == 0)
      checksum = nextSum
      prev.foreach(_.unpersist())
      prev = Some(next)
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(s"oneHopCC hit the $maxIter cap")
    val out = graft.operators.Lineage.truncate(
      labels.select(col("id"), col("label").as("cluster_id")), None)
    prev.foreach(_.unpersist())
    out
  }

  test("connectedComponents converges a scattered 96-chain inside a " +
    "log-sized cap the one-hop loop provably exceeds") {
    val path = scatteredPath(96, 8)
    // one-hop reference: label reach grows one hop per round, so a
    // 96-diameter chain cannot fix-point within 12 rounds
    intercept[IllegalStateException] { oneHopCC(path, maxIter = 12).count() }
    // with coalescing off pass 2 keeps its partitions and cannot
    // collapse the chain either; star contraction after the two
    // min-label rounds closes it well inside the same cap
    val got = CcFixtures.withoutCoalescing(spark) {
      DedupOps.connectedComponents(path, maxIter = 12)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(got.length == 97 && got.forall(_._2 == 0L),
      "the chain must collapse to cluster 0 within 12 rounds")
  }

  test("member-co-located second contraction pass makes forest quality " +
    "layout-insensitive: the scattered chain converges in ≤3 rounds") {
    // the same adversarial layout as the cap pin above — pass 1
    // contracts nothing by construction. Pass 2 co-locates forest rows
    // by member, and at this size AQE coalesces the exchange to one
    // partition: contraction completes there and propagation fix-points
    // immediately.
    val path = scatteredPath(96, 8)
    val got = DedupOps.connectedComponents(path, maxIter = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 97 && got.forall(_._2 == 0L),
      "pass-2 contraction must collapse the scattered chain within 3 rounds")
  }

  test("adaptive-cell interval overlap equals the fixed-cell relation") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val iv = (0L until 400L).map { i =>
      val s = rnd.nextInt(5000).toLong
      (i, s, s + 10L + rnd.nextInt(200))
    }.toDF("iv_id", "s_start", "s_end")
    val auto = graft.operators.Relational.intervalOverlapPairs(iv)
      .collect().map(_.toSeq).toSet
    for (cell <- Seq(7L, 64L, 1000L)) {
      val fixed = graft.operators.Relational.intervalOverlapPairs(iv, cell)
        .collect().map(_.toSeq).toSet
      assert(auto == fixed && auto.nonEmpty,
        s"adaptive cell must emit the cell-invariant relation (cell=$cell)")
    }
    // empty input: derivation must not throw, relation is empty
    assert(graft.operators.Relational.intervalOverlapPairs(
      iv.limit(0)).isEmpty)
  }

  test("adaptive interval cell is bounded by the length tail, not the median alone") {
    import spark.implicits._
    // zero-length intervals put p50 at 0, so the median-only cell is
    // 1 µs and each one-hour interval would ask sequence() for 3.6
    // billion cover cells; the longest-interval term keeps every
    // interval's cover bounded, however rare the long ones are
    val hour = 3600000000L
    def points(k: Int, seed: Int) = {
      val rnd = new scala.util.Random(seed)
      (0L until k.toLong).map { i =>
        val s = rnd.nextInt(2 * 3600).toLong * 1000000L
        (i, s, s)
      }
    }
    def pairs(iv: org.apache.spark.sql.DataFrame, cellUs: Option[Long]) =
      cellUs.fold(graft.operators.Relational.intervalOverlapPairs(iv))(
        graft.operators.Relational.intervalOverlapPairs(iv, _))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // a few long intervals among 1,000 points (0.3%)
    val long = Seq(0L, hour / 2, hour).zipWithIndex.map { case (s, j) =>
      (1000L + j, s, s + hour)
    }
    val few = (points(1000, 19) ++ long).toDF("iv_id", "s_start", "s_end")
    val auto = pairs(few, None)
    assert(auto == pairs(few, Some(hour)) && auto.size > 1000,
      s"tail-bounded cell must emit the cell-invariant relation (${auto.size} pairs)")
    // one long interval among 10,000 points (0.01%): every quantile up
    // to p999 is 0, only the longest length sees it. Compared against a
    // 1-minute cell — an hour cell would put ~5,000 points in one cell
    val pts = points(10000, 23)
    val one = (pts :+ ((10000L, 0L, hour))).toDF("iv_id", "s_start", "s_end")
    val autoOne = pairs(one, None)
    assert(autoOne == pairs(one, Some(60000000L)),
      "longest-bounded cell must emit the cell-invariant relation")
    assert(autoOne.count(_._2 == 10000L) == pts.count(_._2 <= hour),
      "the long interval must pair with every point inside it")
  }

  test("connectedComponents returns exactly the one-hop labels on a mixed graph") {
    import spark.implicits._
    // two cliques bridged by a path plus singleton self-loops — every
    // topology class the engines must agree on
    val clique1 = for (a <- 0L to 4L; b <- (a + 1) to 5L) yield (a, b)
    val clique2 = for (a <- 20L to 24L; b <- (a + 1) to 25L) yield (a, b)
    val bridge = (5L to 19L).map(i => (i, i + 1))
    val selfs = Seq((40L, 40L), (41L, 41L))
    val pairs = (clique1 ++ clique2 ++ bridge ++ selfs)
      .toDF("a_id", "b_id").repartition(7)
    val ref = oneHopCC(pairs, maxIter = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = DedupOps.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ref && got.nonEmpty,
      "connectedComponents and the one-hop loop must emit identical labels")
    // both cliques and the bridge are ONE component labeled 0;
    // singletons survive as their own clusters
    assert(got.filter(_._1 <= 25L).forall(_._2 == 0L))
    assert(got.contains((40L, 40L)) && got.contains((41L, 41L)))
  }
}
