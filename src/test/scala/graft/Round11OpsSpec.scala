package graft

import graft.multimodal.MultimodalOps
import org.apache.spark.sql.functions._

/** Round-11 additions: the oracle-replayable synthetic-media corpus
  * behind q_media_fingerprint / q_media_neardup. The tests re-derive
  * the expected fingerprints from the PIXEL/SAMPLE FUNCTIONS alone
  * (the same arithmetic the DuckDB oracle runs), so they genuinely
  * cross-check the engine's encode → real-codec-decode → hash
  * pipeline against an independent path — a broken PNG round-trip,
  * luma weight, box-average, RIFF walk, or bit packing fails here
  * before it fails the driver gate.
  */
class Round11OpsSpec extends SparkSpec {
  import spark.implicits._

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The generator's pixel function, re-stated independently. */
  private def pix(id: Long, x: Int, y: Int): Int = {
    val g = id / 50
    val v0 = Integer.parseInt(md5Hex(s"px:$g:$x:$y").substring(0, 2), 16)
    if ((id / 25) % 2 == 1 && x == 3 && y == 4) 255 - v0 else v0
  }

  /** The generator's sample function, re-stated independently. */
  private def samp(id: Long, j: Int): Int = {
    val g = id / 50
    val s0 = Integer.parseInt(md5Hex(s"au:$g:$j").substring(0, 4), 16) % 32768
    if ((id / 25) % 2 == 1 && j == 10) 32767 - s0 else s0
  }

  private def expectedDHash(id: Long): Long =
    (for (y <- 0 until 8; x <- 0 until 8 if pix(id, x, y) > pix(id, x + 1, y))
      yield 1L << (y * 8 + x)).foldLeft(0L)(_ | _)

  private def expectedAfp(id: Long): Long =
    (0 until 64).filter(j => samp(id, j + 1) > samp(id, j))
      .map(1L << _).foldLeft(0L)(_ | _)

  private val ids = Seq(0L, 25L, 50L, 75L, 100L).toDF("media_id")

  test("syntheticImages really decode as 9x8 PNGs and dHash matches the pixel arithmetic") {
    val media = MultimodalOps.syntheticImages(ids).collect()
    assert(media.length == 5)
    media.foreach { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("payload")))
      assert(img != null && img.getWidth == 9 && img.getHeight == 8)
    }
    val hashes = MultimodalOps.imageDHashes(MultimodalOps.syntheticImages(ids))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(0L, 25L, 50L, 75L, 100L).foreach { id =>
      assert(hashes(id) == expectedDHash(id),
        s"dHash($id): engine ${hashes(id)} vs arithmetic ${expectedDHash(id)}")
    }
  }

  test("syntheticAudio really decodes as 65-sample PCM and the envelope fingerprint matches") {
    val media = MultimodalOps.syntheticAudio(ids).collect()
    media.foreach { r =>
      val f = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("payload")))
      assert(f.getFrameLength == 65 && f.getFormat.getChannels == 1 &&
        f.getFormat.getSampleRate == 8000f)
    }
    val fps = MultimodalOps.audioFingerprints(MultimodalOps.syntheticAudio(ids))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(0L, 25L, 50L, 75L, 100L).foreach { id =>
      assert(fps(id) == expectedAfp(id),
        s"afp($id): engine ${fps(id)} vs arithmetic ${expectedAfp(id)}")
    }
  }

  test("variant perturbation plants within-group near-dup pairs at hamming <= 2") {
    // ids 0 and 25 share group 0 (base + one-cell/one-sample variant);
    // 50/75 share group 1; 100 is alone in group 2
    val imgPairs = MultimodalOps.imageNearDupPairs(
      MultimodalOps.syntheticImages(ids), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(imgPairs.map(p => (p._1, p._2)).toSet == Set((0L, 25L), (50L, 75L)),
      s"image pairs: ${imgPairs.mkString(", ")}")
    assert(imgPairs.forall(_._3 <= 2))
    val audPairs = MultimodalOps.audioNearDupPairs(
      MultimodalOps.syntheticAudio(ids), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(audPairs.map(p => (p._1, p._2)).toSet == Set((0L, 25L), (50L, 75L)),
      s"audio pairs: ${audPairs.mkString(", ")}")
    assert(audPairs.forall(_._3 <= 2))
  }

  test("importanceUnseenTable's in-plan constant equals the driver-side arithmetic") {
    val docs = Seq((1L, "a b c", "en"), (2L, "d e", "de"), (3L, "a a", "en"))
      .toDF("doc_id", "text", "lang")
    val tgt = docs.filter(col("lang") === "en")
    val row = graft.operators.TextOps.importanceUnseenTable(docs, tgt, 1024)
      .head()
    assert(row.getLong(0) == 7L && row.getLong(1) == 5L)
    assert(row.getLong(2) == graft.operators.TextOps.importanceUnseenPpm(
      rawTokens = 7L, targetTokens = 5L, numBuckets = 1024),
      "plan and driver-side unseen-ppm arithmetic diverged")
  }

  test("the dsir resample gate is domain-separated from the split gate") {
    // ADVICE r10: with the unsalted hash, bucket_ppm(resample) ==
    // bucket_ppm(split) and survivors concentrate in the train band.
    // The salted gate must be a DIFFERENT value for (virtually) every
    // key, so composition keeps the split's marginals.
    val ids = Seq.tabulate(200)(i => Tuple1(i.toLong)).toDF("doc_id")
    val both = ids
      .withColumn("split_ppm",
        graft.operators.Relational.hashBucketPpm(col("doc_id")))
      .withColumn("resample_ppm",
        graft.operators.Relational.hashBucketPpm(col("doc_id"), "dsir:"))
      .collect()
    val equal = both.count(r => r.getLong(1) == r.getLong(2))
    assert(equal <= 1, s"$equal/200 keys share gate values — not separated")
  }

  test("literal-plane lshBucket is bit-identical to the historical in-plan form") {
    // the r11 rewrite moved the plane derivation driver-side and the
    // dots into FloatDoubleVecDot; the bucket BITS must not move — the
    // historical per-row expression is restated verbatim here and
    // compared over the real embeddings corpus
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def oldBucket(numPlanes: Int, dim: Int, seed: Long) = {
      val planeDots = (0 until numPlanes).map { p =>
        val plane = transform(sequence(lit(0), lit(dim - 1)), j =>
          (pmod(xxhash64(lit(seed), lit(p), j), lit(2000000L))
            .cast("double") / 1000000.0) - 1.0)
        aggregate(zip_with(col("embedding"), plane,
          (x, y) => x.cast("double") * y), lit(0.0), (a, v) => a + v)
      }
      planeDots.zipWithIndex.map { case (d, i) =>
        when(d >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    }
    val both = emb.select(col("vec_id"),
      graft.operators.SimilarityOps.lshBucket(col("embedding"), 8, 64).as("nw"),
      oldBucket(8, 64, 42L).as("od"))
    val bad = both.filter(col("nw") =!= col("od")).count()
    assert(bad == 0, s"$bad vectors changed sign-LSH bucket")
  }

  test("ArgMaxDotLong matches the aggregate-fold argmax including ties") {
    // random vectors against a centroid matrix CONTAINING a duplicate
    // (cells 1 and 3 identical) so the tie rule — earliest maximal
    // position — is genuinely exercised, not just the happy path
    val rnd = new scala.util.Random(7)
    val cents: Seq[Seq[Long]] = Seq(
      Seq.fill(8)(rnd.nextLong() % 1000),
      Seq.fill(8)(rnd.nextLong() % 1000),
      Seq.fill(8)(rnd.nextLong() % 1000),
      Seq.empty, // placeholder replaced below
      Seq.fill(8)(rnd.nextLong() % 1000))
    val withDup = cents.updated(3, cents(1))
    val vecs = (0 until 100).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextLong() % 1000)))
    val df = vecs.toDF("id", "vi")
    val centLit = typedLit(withDup)
    // independent replay of the strict-> ascending argmax in driver
    // Scala — the rule the replaced aggregate fold implemented
    val expected = vecs.map { case (id, v) =>
      var best = -1; var bs = Long.MinValue
      withDup.zipWithIndex.foreach { case (c, i) =>
        val s = v.zip(c).map { case (a, b) => a * b }.sum
        if (s > bs) { bs = s; best = i }
      }
      id -> best
    }.toMap
    val got = df.select(col("id"),
      graft.plans.ArgMaxDot.argMaxDotLong(col("vi"), centLit).as("pos"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == expected)
    // the duplicated centroid must never win as position 3: ties break
    // to the earliest position (1)
    assert(!got.values.exists(_ == 3), s"tie broke to the later duplicate: $got")
  }

  test("fused MinHashSig is bit-identical to the per-seed array_min(transform) columns") {
    // both hash families, compared over the real documents corpus
    // against the verbatim historical per-seed formulation
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val ws = array_distinct(split(col("text"), " "))
    def oldSig(k: Int,
               seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
      (0 until k).map(i => array_min(transform(ws, w => seedHash(i, w))).as(s"o_$i"))
    for ((portable, seedHash) <- Seq(
        (false, graft.operators.DedupOps.XxSeedHash),
        (true, graft.operators.DedupOps.Md5SeedHash60))) {
      val sig = graft.plans.MinHashSig.sig(ws, 12, portable)
      val cmp = docs.select(
        (Seq(col("doc_id")) ++ (0 until 12).map(i => sig.getItem(i).as(s"n_$i"))
          ++ oldSig(12, seedHash)): _*)
      val bad = cmp.filter((0 until 12).map(i =>
        not(col(s"n_$i") <=> col(s"o_$i"))).reduce(_ || _)).count()
      assert(bad == 0, s"portable=$portable: $bad docs diverged")
    }
    // empty word array → all-null minima in both forms
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("ws")
      .select(graft.plans.MinHashSig.sig(col("ws"), 3, false).as("s"))
      .head().getSeq[Any](0)
    assert(empty == Seq(null, null, null))
  }

  test("fused SortedHashedSet equals sort_array(array_distinct(transform(xxhash64)))") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val cmp = docs.select(
      graft.plans.SortedHashedSet.sortedHashedSet(
        split(col("text"), " ")).as("nw"),
      sort_array(array_distinct(
        transform(split(col("text"), " "), w => xxhash64(w)))).as("od"))
    val bad = cmp.filter(not(col("nw") <=> col("od"))).count()
    assert(bad == 0, s"$bad documents' hashed word sets diverged")
    // degenerate inputs: empty array, duplicate-only array
    val edge = Seq(Tuple1(Seq.empty[String]), Tuple1(Seq("a", "a", "a")))
      .toDF("ws")
      .select(graft.plans.SortedHashedSet.sortedHashedSet(col("ws")).as("s"))
      .collect().map(_.getSeq[Long](0).length).toSeq
    assert(edge == Seq(0, 1), s"edge cardinalities: $edge")
    // word n-grams: the composed decontamination chain, guarded for
    // short docs (the kernel's empty set)
    def composed(ws: org.apache.spark.sql.Column, n: Int) =
      when(size(ws) >= n, sort_array(array_distinct(transform(
        graft.operators.TextOps.wordNgrams(ws, n), g => xxhash64(g)))))
        .otherwise(array().cast("array<bigint>"))
    for (n <- Seq(2, 3, 5)) {
      val grams = docs.select(
        graft.plans.SortedHashedSet.sortedHashedSet(
          split(col("text"), " "), n).as("nw"),
        composed(split(col("text"), " "), n).as("od"))
      val diverged = grams.filter(not(col("nw") <=> col("od"))).count()
      assert(diverged == 0, s"n=$n: $diverged documents' n-gram sets diverged")
    }
    // n-gram edges: shorter than n, empty tokens from double spaces,
    // multi-byte UTF-8, a null word inside a window (skipped as
    // concat_ws skips it), an all-null window (no hash; the composed
    // form would hash "", so it is left out of the comparison)
    val ngramEdge = Seq(
      Seq("one", "two"), Seq("a", "", "b", "", "", "c"),
      Seq("naïve", "café", "東京", "naïve", "café", "東京"),
      Seq("x", null, "y", "z"), Seq[String](null, null, null))
      .map(Tuple1(_)).toDF("ws")
      .select(col("ws"),
        graft.plans.SortedHashedSet.sortedHashedSet(col("ws"), 3).as("nw"),
        composed(col("ws"), 3).as("od"))
      .collect()
    val sizes = ngramEdge.map(_.getSeq[Long](1).length).toSeq
    assert(sizes == Seq(0, 4, 3, 2, 0), s"n-gram edge cardinalities: $sizes")
    ngramEdge.take(4).foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"n-gram edge ${r.get(0)}")
    }
    val bad0 = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Tuple1(Seq("a"))).toDF("ws")
        .select(graft.plans.SortedHashedSet.sortedHashedSet(col("ws"), 0))
    }
    assert(bad0.getMessage.contains("n >= 1"), bad0.getMessage)
    // SQL registry: one argument is the word set (n = 1); a non-literal
    // n fails analysis, not evaluation
    val wsDf = Seq(Tuple1(Seq("b", "a", "b"))).toDF("ws")
    assert(wsDf.selectExpr("sorted_hashed_set(ws)").head().getSeq[Long](0) ==
      wsDf.select(graft.plans.SortedHashedSet.sortedHashedSet(col("ws")))
        .head().getSeq[Long](0))
    val badN = intercept[org.apache.spark.sql.AnalysisException] {
      wsDf.selectExpr("sorted_hashed_set(ws, size(ws))")
    }
    assert(badN.getMessage.contains("literal INT"), badN.getMessage)
  }

  test("q_media_fingerprint / q_media_neardup run non-vacuously on the testdata") {
    val dir = "/root/testdata/sf0.001"
    val fp = SparkEntry.queries("q_media_fingerprint")(spark, dir).collect()
    assert(fp.nonEmpty && fp.length % 2 == 0) // every id in both modalities
    assert(fp.map(_.getString(0)).toSet == Set("image", "audio"))
    val nd = SparkEntry.queries("q_media_neardup")(spark, dir).collect()
    assert(nd.nonEmpty, "fixture must plant at least one near-dup pair")
    assert(nd.forall(_.getLong(3) <= 3))
  }
}
