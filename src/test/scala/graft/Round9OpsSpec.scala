package graft

import graft.operators.{DedupOps, Relational}
import org.apache.spark.sql.functions._

/** Unit pins for the round-9 curation operators: k-anonymity
  * suppression and the cluster-atomic leakage-free split.
  */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  test("kAnonymize suppresses exactly the sub-k combos, keeps the rest verbatim") {
    val rows = Seq(
      // (id, city, age_band) — (a,1) has 3 rows, (b,1) has 2, (c,2) has 1
      (1L, "a", "1"), (2L, "a", "1"), (3L, "a", "1"),
      (4L, "b", "1"), (5L, "b", "1"),
      (6L, "c", "2")).toDF("id", "city", "band")
    val out = Relational.kAnonymize(rows, "id", Seq("city", "band"), k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq === Seq(
      (1L, "a", "1", 3L, false), (2L, "a", "1", 3L, false),
      (3L, "a", "1", 3L, false),
      (4L, "*", "*", 2L, true), (5L, "*", "*", 2L, true),
      (6L, "*", "*", 1L, true)))
  }

  test("kAnonymize with k=1 suppresses nothing") {
    val rows = Seq((1L, "x"), (2L, "y")).toDF("id", "q")
    val out = Relational.kAnonymize(rows, "id", Seq("q"), k = 1)
    assert(out.filter(col("suppressed")).count() === 0)
  }

  /** Tiny corpus with one obvious near-dup cluster (docs 0,1 share all
    * words) and two singletons; thresholds as in the declared query.
    */
  private def corpus = Seq(
    (0L, "alpha beta gamma delta"),
    (1L, "alpha beta gamma delta"),
    (2L, "epsilon zeta eta theta"),
    (3L, "iota kappa lambda mu")).toDF("doc_id", "text")

  test("leakageFreeSplit is cluster-atomic and covers singletons") {
    val out = DedupOps.leakageFreeSplit(corpus, 32, 2, 80, testPermille = 300)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L), "every doc present")
    // docs 0 and 1 are verified near-dups: same cluster, same split
    val byDoc = rows.map(r => r._1 -> r).toMap
    assert(byDoc(0L)._2 === byDoc(1L)._2)
    assert(byDoc(0L)._3 === byDoc(1L)._3)
    // singletons cluster on their own id
    assert(byDoc(2L)._2 === 2L)
    assert(byDoc(3L)._2 === 3L)
    // split is a pure function of the cluster id — rerun is identical
    val again = DedupOps.leakageFreeSplit(corpus, 32, 2, 80, 300)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(again.toSeq === rows.toSeq)
  }

  test("checkConstraints counts violations and uniqueness gaps in one pass") {
    val rows = Seq(
      (1L, 10.0, "a"), (2L, 60.0, "a"), (2L, 5.0, "b"), (3L, -1.0, null))
      .toDF("id", "qty", "tag")
    val out = Relational.checkConstraints(rows,
      violations = Seq(
        "qty_positive" -> (col("qty") < 0),
        "qty_le_50" -> (col("qty") > 50),
        "tag_notnull" -> col("tag").isNull),
      uniqueKeys = Seq("id_unique" -> Seq("id")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq === Seq(
      ("id_unique", 1L, false),   // id 2 appears twice
      ("qty_le_50", 1L, false),   // 60.0
      ("qty_positive", 1L, false), // -1.0
      ("tag_notnull", 1L, false)).sortBy(_._1))
    // all-green table audits all-pass
    val clean = Relational.checkConstraints(
      Seq((1L, 1.0)).toDF("id", "qty"),
      violations = Seq("qty_positive" -> (col("qty") < 0)),
      uniqueKeys = Seq("id_unique" -> Seq("id")))
    assert(clean.filter(!col("pass")).count() === 0)
  }

  test("quantized top-k agrees with exact top-k above the recall floor") {
    // int8 on 64-dim keeps most of the ranking: measured 30/40 (75%)
    // pair overlap at sf0.001 — floor at 60% so grid-sensitivity noise
    // can't flake the suite while a real quantization bug (sign flip,
    // scale misuse) still fails loudly.
    import graft.operators.SimilarityOps
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = SimilarityOps.topKDotExact(emb, 0L until 8L, 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = SimilarityOps.topKDotQuantized(emb, 0L until 8L, 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size === 40 && quant.size === 40)
    val overlap = (exact & quant).size
    assert(overlap >= 24, s"quantized/exact overlap $overlap/40 below 60% floor")
  }

  test("leakageFreeSplit permille bounds: 0 => all train, 1000 => all test") {
    val all0 = DedupOps.leakageFreeSplit(corpus, 32, 2, 80, 0)
    assert(all0.filter(col("split") === "test").count() === 0)
    val all1000 = DedupOps.leakageFreeSplit(corpus, 32, 2, 80, 1000)
    assert(all1000.filter(col("split") === "train").count() === 0)
  }
}
