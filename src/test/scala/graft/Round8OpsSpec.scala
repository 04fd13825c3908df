package graft

import graft.operators.DedupOps
import org.apache.spark.sql.functions._

/** Round-8 hardening: the reliable-checkpoint option on the iterative
  * graph ops (VERDICT r7 #5) — results identical to the localCheckpoint
  * default, with checkpoint data actually written to the caller's
  * directory (the artifact that survives executor loss on a cluster).
  */
class Round8OpsSpec extends SparkSpec {
  import spark.implicits._

  private def ckDir(): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft_reliable_ck")
    d.toFile.deleteOnExit()
    d
  }

  private def rddFileCount(dir: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(dir)
    try s.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
    finally s.close()
  }

  test("connectedComponents(checkpointDir=…) writes reliable checkpoints " +
    "and matches the localCheckpoint default") {
    // two components: a triangle {1,2,3} and a chain 10-11-12
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L))
      .toDF("a_id", "b_id")
    val dir = ckDir()
    val reliable = DedupOps.connectedComponents(pairs,
        checkpointDir = Some(dir.toString))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val default = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == default && reliable ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    assert(rddFileCount(dir) > 0,
      s"no reliable checkpoint data written under $dir")
    // an input that outlasts the min-label rounds: the star-contraction
    // rounds take the same option, each writing its own checkpoint
    // beside the edges and result checkpoints of the converged run
    val chain = CcFixtures.shuffledChain(200, seed = 8)
    val starDir = ckDir()
    val star = CcFixtures.withoutCoalescing(spark) {
      DedupOps.connectedComponents(CcFixtures.scattered(spark, chain),
          checkpointDir = Some(starDir.toString))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(star == CcFixtures.unionFind(chain), "star hand-off diverged")
    assert(rddFileCount(starDir) > 3,
      s"star rounds wrote no reliable checkpoints under $starDir")
  }

  test("truncateLazy under a reliable checkpoint dir computes its source once") {
    // a lazy reliable checkpoint writes its files in a second job after
    // the caller's first action, recomputing the frame; the reliable
    // path therefore truncates eagerly (the local path stays lazy)
    val evals = spark.sparkContext.longAccumulator("truncate_source_evals")
    val tick = udf { (x: Long) => evals.add(1); x }.asNondeterministic()
    val src = spark.range(0, 200, 1, 4).select(tick(col("id")).as("id"))
    val dir = ckDir()
    val cut = graft.operators.Lineage.truncateLazy(src, Some(dir.toString))
    assert(cut.count() == 200L)
    assert(cut.agg(sum("id")).head().getLong(0) == 19900L)
    assert(evals.value == 200L,
      s"source evaluated ${evals.value} times for 200 rows")
    assert(rddFileCount(dir) > 0, s"no reliable checkpoint data under $dir")
  }

  test("pageRankFixedPoint and kCoreFixedRounds accept the reliable path " +
    "with unchanged results") {
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("a_id", "b_id")
    val dir = ckDir()
    // iterations > PageRankCheckpointEvery so the IN-LOOP truncation
    // (not just the edges/deg setup) exercises the reliable branch
    val iters = DedupOps.PageRankCheckpointEvery + 1
    val prReliable = DedupOps.pageRankFixedPoint(pairs, iters,
        checkpointDir = Some(dir.toString))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prDefault = DedupOps.pageRankFixedPoint(pairs, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prReliable == prDefault, s"$prReliable vs $prDefault")
    val kcReliable = DedupOps.kCoreFixedRounds(pairs, k = 2, rounds = 2,
        checkpointDir = Some(dir.toString))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kcDefault = DedupOps.kCoreFixedRounds(pairs, k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // k=2 peels node 4 (degree 1); the triangle survives
    assert(kcReliable == kcDefault &&
      kcReliable == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(rddFileCount(dir) > 0, s"no checkpoint data under $dir")
  }

  // ---------------- cross-source dup matrix ----------------

  test("crossSourceDupMatrix: symmetric cells, diagonal self-dups, " +
    "unique texts contribute nothing") {
    val docs = Seq(
      (1L, "copied text", "feedA"),
      (2L, "copied text", "feedB"),   // A↔B pair
      (3L, "copied text", "feedB"),   // pairs with 1 (A,B) and 2 (B,B)
      (4L, "unique one", "feedA"),    // no pair
      (5L, "other copy", "feedC"),
      (6L, "other copy", "feedA")     // A↔C pair (least/greatest order)
    ).toDF("doc_id", "text", "source")
    val got = DedupOps.crossSourceDupMatrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(
      ("feedA", "feedB", 2L),  // (1,2) and (1,3)
      ("feedA", "feedC", 1L),  // (5,6) normalized
      ("feedB", "feedB", 1L)), // (2,3) diagonal
      s"got $got")
  }

  // ---------------- int8 quantization error ----------------

  test("quantizeInt8Error: hand-checked reconstruction error on the " +
    "fixed-point grid; zero vectors quantize error-free") {
    import graft.operators.SimilarityOps
    val vecs = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.quantizeInt8Error(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // vec 1: vi = [1e7, -5e6, 2.5e6, 0], scale = 1e7
    //   q     = [127, -63, 31, 0]            ((vi*127) div scale, trunc)
    //   recon = [1e7, -4960629, 2440944, 0]  ((q*scale) div 127, trunc)
    //   err   = [0, 39371, 59056, 0] -> 98427; L1 = 1.75e7
    //   ppm   = 98427*1e6 div 1.75e7 = 5624
    // vec 2: all-zero -> scale 0 guard, zero everything
    assert(got == Seq(
      (1L, 10000000L, 17500000L, 98427L, 5624L),
      (2L, 0L, 0L, 0L, 0L)), s"got $got")
  }

  // ---------------- token-budget curation ----------------

  test("tokenBudgetSelect keeps best-scored docs per source until the " +
    "budget, ties to lower doc_id, inclusive-fit semantics") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "a b c", "s1"),     // score 1e6, 3 words
      (2L, "a a a a", "s1"),   // score 25e4, 4 words (worst -> dropped)
      (3L, "x y", "s1"),       // score 1e6, 2 words
      (10L, "p q r s t", "s2") // alone in s2, fits whole
    ).toDF("doc_id", "text", "source")
    val got = TextOps.tokenBudgetSelect(docs, budgetTokens = 5L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSeq
    // s1 greedy order: doc1 (cum 3), doc3 (cum 5), doc2 (cum 9 > 5 out)
    assert(got == Seq(("s1", 1L, 3L), ("s1", 3L, 5L), ("s2", 10L, 5L)),
      s"got $got")
  }

  // ---------------- deterministic shard assignment ----------------

  test("shardAssign: pure function of the key — stable across runs, " +
    "contiguous positions per shard, every row exactly once") {
    import graft.operators.Relational
    val ids = (1L to 200L).toDF("doc_id")
    def run() = Relational.shardAssign(ids, "doc_id", nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val a = run()
    assert(a == run(), "assignment not deterministic across runs")
    assert(a.map(_._1).toSet == (1L to 200L).toSet, "rows lost or duplicated")
    assert(a.forall(t => t._2 >= 0 && t._2 < 8), "shard out of range")
    // positions within each shard are exactly 1..|shard|
    a.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted == (1L to rows.size).toSeq,
        s"shard $shard positions not contiguous")
    }
    // the md5 spreads: no empty shard at 200 rows / 8 shards
    assert(a.map(_._2).distinct.size == 8, "empty shard — hash not spreading")
  }
}
