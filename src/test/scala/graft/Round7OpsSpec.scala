package graft

import graft.operators.{DedupOps, Relational}
import graft.plans.VecDot
import org.apache.spark.sql.functions._

/** Round-7 hardening tests: the three ADVICE-r6 behavior changes each
  * get the failing input they guard against — a mid-array null struct
  * in the sorted_kw_dot merge walk, a duplicate/both-orientation edge
  * list into triangleCounts, and a null category into
  * distributionDrift.
  */
class Round7OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------- SortedKeyWeightDot mid-array nulls ----------------

  test("sorted_kw_dot skips null structs anywhere in the array (codegen path)") {
    // before the per-iteration guards, a mid-array null struct NPE'd
    // interpreted eval and read garbage in codegen — only LEADING nulls
    // were skipped
    val r = spark.sql(
      """SELECT a, b FROM VALUES (
        |  array(named_struct('k', 1L, 'w', 10L),
        |        CAST(NULL AS STRUCT<k: BIGINT, w: BIGINT>),
        |        named_struct('k', 3L, 'w', 5L)),
        |  array(CAST(NULL AS STRUCT<k: BIGINT, w: BIGINT>),
        |        named_struct('k', 3L, 'w', 4L),
        |        CAST(NULL AS STRUCT<k: BIGINT, w: BIGINT>),
        |        named_struct('k', 9L, 'w', 7L))
        |) AS t(a, b)""".stripMargin)
      .select(VecDot.sortedKeyWeightDot(col("a"), col("b")).as("dot"))
      .collect()(0)
    assert(r.getLong(0) == 5L * 4L, s"got ${r.getLong(0)}")
  }

  test("sorted_kw_dot skips null structs in interpreted eval too") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val st = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.LongType)))
    val at = org.apache.spark.sql.types.ArrayType(st, containsNull = true)
    def row(k: Long, w: Long): InternalRow = InternalRow(k, w)
    val a = new GenericArrayData(Array[Any](row(1L, 10L), null, row(3L, 5L)))
    val b = new GenericArrayData(Array[Any](null, row(3L, 4L), null, row(9L, 7L)))
    val expr = graft.plans.SortedKeyWeightDot(Literal(a, at), Literal(b, at))
    assert(expr.eval(InternalRow.empty) == 20L)
  }

  // ---------------- triangleCounts input normalization ----------------

  test("triangleCounts normalizes duplicate edges, reversed orientations, self-loops") {
    // K3 on {1,2,3} delivered as: both orientations of (1,2), a
    // duplicated (1,3), a self-loop — exactly the non-compliant input
    // that used to double degrees and replicate wedges
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 3L), (3L, 2L), (2L, 2L))
      .toDF("a_id", "b_id")
    val clean = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a_id", "b_id")
    val got = DedupOps.triangleCounts(messy)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ref = DedupOps.triangleCounts(clean)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == ref)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  // ---------------- hllEstimate ----------------

  test("hllEstimate tracks exact distinct within documented HLL error (and acd agrees)") {
    import graft.operators.{SketchOps, TextOps}
    val words = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(TextOps.words(col("text"))).as("word"))
    val exact = words.select(countDistinct(col("word"))).collect()(0).getLong(0)
    val est = SketchOps.hllEstimate(SketchOps.hllRegisters(words, "word", 64), 64)
      .collect()(0).getDouble(3)
    // m = 64 → standard error 1.04/√64 = 13%; accept 3σ ≈ 40%
    assert(math.abs(est - exact) <= 0.40 * exact,
      s"est=$est exact=$exact off by ${math.abs(est - exact) / exact}")
    // the production estimator agrees with the exact count too (its own
    // documented rsd), tying the portable twin and the builtin together
    val acd = words.select(approx_count_distinct(col("word"), 0.05))
      .collect()(0).getLong(0)
    assert(math.abs(acd.toDouble - exact) <= 0.15 * exact, s"acd=$acd exact=$exact")
  }

  test("hllEstimate small-range branch: tiny cardinalities hit linear counting") {
    import graft.operators.SketchOps
    val words = Seq("a", "b", "c", "a", "b", "a").toDF("word")  // 3 distinct
    val r = SketchOps.hllEstimate(SketchOps.hllRegisters(words, "word", 64), 64)
      .collect()(0)
    val v = r.getLong(1)
    val est = r.getDouble(3)
    assert(v == 61L, s"3 distinct keys must hit 3 registers, v=$v")
    // linear counting 64·ln(64/61) ≈ 3.07 — and it must be EXACTLY the
    // precomputed LUT double (no arithmetic after the table lookup)
    assert(est == SketchOps.hllLinearCountLut(64)(60), s"est=$est")
    assert(math.abs(est - 3.0) < 0.5)
  }

  test("hllEstimate on an empty register table estimates zero") {
    import graft.operators.SketchOps
    val empty = Seq.empty[String].toDF("word")
    val r = SketchOps.hllEstimate(SketchOps.hllRegisters(empty, "word", 64), 64)
      .collect()(0)
    assert(r.getLong(1) == 64L)          // all 64 registers are zero
    assert(r.getDouble(3) == 0.0)        // lut(64) = 64·ln(1) = 0
  }

  // ---------------- bit-packed SimHash aggregate ----------------

  test("packed simHash is row-identical to the 64-column form (ties included)") {
    import graft.operators.DedupOps
    // doc 4 has every word an EVEN number of times → per-bit sums hit 0,
    // exercising the tie → bit 0 convention in both forms
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota kappa lambda"),
      (4L, "mu mu nu nu"),
      (5L, "solo")).toDF("doc_id", "text")
    val wide = DedupOps.simHashWide(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val packed = DedupOps.simHash(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(packed == wide)
    assert(wide.length == 5)
  }

  test("packed simHash matches the wide form on sf0.001, portable 60-bit hash included") {
    import graft.operators.DedupOps
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val wide = DedupOps.simHashWide(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val packed = DedupOps.simHash(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(packed == wide)
    assert(wide.nonEmpty)
    // the declared queries run the 60-bit md5 variant through the same
    // aggregate — pin that width too
    val wide60 = DedupOps.simHashWide(docs, DedupOps.md5Hash60(_), 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val packed60 = DedupOps.simHash(docs, DedupOps.md5Hash60(_), 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(packed60 == wide60)
  }

  // ---------------- perceptual image near-dup ----------------

  // 64×64 block pattern: luma constant within each 8×8 cell, cell values
  // driven by (a·col + b·row) mod 256 — varied enough that two different
  // (a, b) seeds give far-apart dHashes, blocky enough that JPEG
  // re-encoding barely moves the per-cell averages.
  private def blockImage(a: Int, b: Int): (Int, Int) => Int = { (x, y) =>
    val v = (a * (x / 8) + b * (y / 8)) % 256
    (v << 16) | (v << 8) | v
  }

  test("dHash: JPEG re-encode of a PNG lands within a few bits; distinct images far") {
    import graft.multimodal.ImageCodec
    val png = ImageCodec.encodePng(64, 64, blockImage(37, 11))
    val jpg = ImageCodec.encodeJpeg(64, 64, blockImage(37, 11))
    val other = ImageCodec.encodePng(64, 64, blockImage(113, 71))
    val (hp, hj, ho) = (ImageCodec.dHash(png).get, ImageCodec.dHash(jpg).get,
      ImageCodec.dHash(other).get)
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(hp, hj) <= 7, s"near-dup pair too far: ${hamming(hp, hj)}")
    assert(hamming(hp, ho) > 7, s"distinct pair too close: ${hamming(hp, ho)}")
    assert(ImageCodec.dHash(Array[Byte](1, 2, 3)).isEmpty)   // undecodable
  }

  test("dHash survives a real rescale (scale invariance of the gradient grid)") {
    import graft.multimodal.ImageCodec
    val png = ImageCodec.encodePng(64, 64, blockImage(37, 11))
    // the 48×48 nearest-neighbor rescale: pixel (x, y) is source pixel
    // (floor(x·64/48), floor(y·64/48)), encoded losslessly
    val resized = ImageCodec.encodePng(48, 48,
      (x, y) => blockImage(37, 11)(x * 64 / 48, y * 64 / 48))
    val d = java.lang.Long.bitCount(
      ImageCodec.dHash(png).get ^ ImageCodec.dHash(resized).get)
    assert(d <= 7, s"rescaled twin drifted $d bits")
  }

  test("imageNearDupPairs finds the planted cross-format twin, rejects the stranger") {
    import graft.multimodal.{ImageCodec, MultimodalOps}
    val media = Seq(
      (1L, ImageCodec.encodePng(64, 64, blockImage(37, 11))),
      (2L, ImageCodec.encodeJpeg(64, 64, blockImage(37, 11))),
      (3L, ImageCodec.encodePng(64, 64, blockImage(113, 71))),
      (4L, Array[Byte](9, 9, 9)),                          // undecodable
      (5L, null: Array[Byte]))                             // null payload
      .toDF("media_id", "payload")
    val pairs = MultimodalOps.imageNearDupPairs(media, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("hammingBandPairs at width 64 (maxHamming = 0) is exact-signature dedup") {
    import graft.operators.DedupOps
    val sigs = Seq((1L, 42L), (2L, 42L), (3L, 43L)).toDF("doc_id", "simhash")
    val got = DedupOps.hammingBandPairs(sigs, 0, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 0L)))
  }

  // ---------------- distributionDrift null-category guard ----------------

  test("distributionDrift fails loudly on a null category") {
    val a = Seq(Some("en"), Some("fr"), None).toDF("cat")
    val b = Seq(Some("en"), Some("fr")).toDF("cat")
    val ex = intercept[Exception] {
      Relational.distributionDrift(a, b, "cat").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("distributionDrift")),
      s"wrong error: $ex")
  }

  test("distributionDrift output unchanged for null-free categories") {
    val a = Seq("en", "en", "fr").toDF("cat")
    val b = Seq("en", "fr", "fr", "fr").toDF("cat")
    val got = Relational.distributionDrift(a, b, "cat")
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(4))).toSeq
    // shares: a = en 2/3, fr 1/3; b = en 1/4, fr 3/4 (ppm, div truncation)
    assert(got == Seq(("en", 666666L, 250000L), ("fr", 333333L, 750000L)))
  }
}
