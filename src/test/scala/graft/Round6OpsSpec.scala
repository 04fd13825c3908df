package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Round-6 coverage: unit tests for the six late-round-5 operators that
  * previously had only the external oracle compare (ADVICE r5), the new
  * prefix-filtered containment, and the JPEG codec.
  */
class Round6OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------- transitionCounts ----------------

  test("transitionCounts counts ordered per-user event-type transitions") {
    val events = Seq(
      // user 1: A → B → A  (ts in ns; ordering key is ts div 1000)
      (1L, 1_000_000L, 1L, "A", 0.0),
      (1L, 2_000_000L, 2L, "B", 0.0),
      (1L, 3_000_000L, 3L, "A", 0.0),
      // user 2: B → B
      (2L, 1_000_000L, 4L, "B", 0.0),
      (2L, 2_000_000L, 5L, "B", 0.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val got = EventOps.transitionCounts(events)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("A", "B", 1L), ("B", "A", 1L), ("B", "B", 1L)))
  }

  test("transitionCounts: a single-event user contributes no transition") {
    val events = Seq((1L, 1_000_000L, 1L, "A", 0.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    assert(EventOps.transitionCounts(events).count() == 0L)
  }

  // ---------------- timeWeightedValue ----------------

  test("timeWeightedValue weights each reading by its holding interval") {
    // user 1: 10.00 held 1000 µs, 20.00 held 2000 µs, final reading open
    // → Σ(v_c·dt) = 1000·1000 + 2000·2000 = 5e6; Σdt = 3000 → 1666 cents
    val events = Seq(
      (1L, 0L, 1L, "x", 10.0),
      (1L, 1_000_000L, 2L, "x", 20.0),
      (1L, 3_000_000L, 3L, "x", 30.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val got = EventOps.timeWeightedValue(events).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L && r.getLong(2) == 3000L)
    assert(r.getLong(3) == 1666L)
  }

  test("timeWeightedValue drops zero-span users (no 0/0)") {
    val events = Seq(
      (7L, 5_000_000L, 1L, "x", 1.0),
      (7L, 5_000_000L, 2L, "x", 2.0))  // same µs timestamp → zero weight
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    assert(EventOps.timeWeightedValue(events).count() == 0L)
  }

  // ---------------- paretoFrontier ----------------

  test("paretoFrontier keeps exactly the non-dominated planted points") {
    val pts = Seq((1L, 5L), (2L, 3L), (3L, 7L), (4L, 7L)).toDF("x", "y")
    val got = Relational.paretoFrontier(pts, "x", "y")
      .orderBy("x").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 5L), (3L, 7L)))
  }

  test("paretoFrontier collapses duplicate x to max(y) instead of a wrong skyline") {
    // pre-round-6 the duplicate x=1 rows hit the running max in arbitrary
    // tie order: (1,5) before (1,9) let (1,9) "dominate into" the frontier
    // twice or drop (2,8) depending on sort stability — now ties collapse
    // first, so the result is the skyline of {(1,9),(2,8)}
    val pts = Seq((1L, 5L), (1L, 9L), (2L, 8L)).toDF("x", "y")
    val got = Relational.paretoFrontier(pts, "x", "y")
      .orderBy("x").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 9L)))
  }

  // ---------------- vocabCoverage ----------------

  test("vocabCoverage reports the first rank reaching each threshold") {
    // counts: a=4, b=2, c=1 (total 7); cum: 4, 6, 7
    val docs = Seq((1L, "a a a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = TextOps.vocabCoverage(docs, Seq(500000L, 900000L, 1000000L), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (500000L, 1L, 4L, 7L),    // 4/7 ≥ 50%
      (900000L, 3L, 7L, 7L),    // 6/7 < 90% → needs rank 3
      (1000000L, 3L, 7L, 7L)))
  }

  test("vocabCoverage: a threshold unreachable within maxRank yields no row") {
    val docs = Seq((1L, "a a a b"), (2L, "a b c")).toDF("doc_id", "text")
    // maxRank 2 caps cumulative coverage at 6/7 < 100%
    val got = TextOps.vocabCoverage(docs, Seq(1000000L), 2).collect()
    assert(got.isEmpty)
  }

  // ---------------- containmentPairs + containmentPairsPrefix ----------------

  private val contDocs = Seq(
    (1L, "a b c d e f g h i j"),  // 10 words
    (2L, "a b c d e f g h i k"),  // 9/10 shared with doc 1 → 90% both ways
    (3L, "a b c"))                // quote: 100% inside docs 1 and 2
    .toDF("doc_id", "text")

  test("containmentPairs finds the quote-inside-page pair Jaccard misses") {
    val got = DedupOps.containmentPairs(contDocs, 90)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(5))).toSet
    assert(got == Set(
      (1L, 2L, 900000L), (2L, 1L, 900000L),
      (3L, 1L, 1000000L), (3L, 2L, 1000000L)))
    // the quote pair's Jaccard is 3/10 — far below the 90% bar
    assert(DedupOps.jaccardPairs(contDocs.filter(col("doc_id") =!= 2L), 90)
      .count() == 0L)
  }

  test("containmentPairsPrefix is row-identical to the full inverted-index join") {
    val full = DedupOps.containmentPairs(contDocs, 90).collect().toSeq
    val pref = DedupOps.containmentPairsPrefix(contDocs, 90).collect().toSeq
    assert(pref == full)
  }

  test("containmentPairsPrefix matches on the sf0.001 declared slice") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(pmod(col("doc_id"), lit(10)) === 0)
    val full = DedupOps.containmentPairs(docs, 90).collect().toSeq
    val pref = DedupOps.containmentPairsPrefix(docs, 90).collect().toSeq
    assert(full.nonEmpty, "vacuous slice — no containment pairs to compare")
    assert(pref == full)
  }

  test("containmentPairsPrefix: t=100 probes only the single rarest token") {
    // exact-duplicate word sets must still pair at the 100% threshold
    // (prefix length collapses to 1)
    val docs = Seq((1L, "p q r"), (2L, "r q p"), (3L, "p q")).toDF("doc_id", "text")
    val got = DedupOps.containmentPairsPrefix(docs, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (2L, 1L), (3L, 1L), (3L, 2L)))
  }

  // ---------------- dedupAgainstCorpus ----------------

  test("dedupAgainstCorpus flags the batch doc duplicated in the corpus") {
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "entirely novel content nothing like the corpus")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),  // exact word set
      (2L, "some other corpus document")).toDF("doc_id", "text")
    val got = DedupOps.dedupAgainstCorpus(batch, corpus, 12, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(100L) == 1L)
    assert(got(101L) == 0L)
  }

  // ---------------- count-min sketch ----------------

  test("cmsBuild/cmsLookup: estimates upper-bound true counts, exact when wide") {
    val rows = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")).map(Tuple1(_))
      .toDF("word")
    val truth = rows.groupBy("word").agg(count(lit(1)).as("true_cnt"))
    // wide sketch (1024 slots, 3 keys): no collisions → estimates exact
    // cmsLookup output schema: (keys' columns…, est_cnt) — here
    // (word, true_cnt, est_cnt)
    val wide = SketchOps.cmsLookup(
        SketchOps.cmsBuild(rows, "word", 2, 1024), truth, "word", 2, 1024)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(1)))).toMap
    assert(wide("a") == ((5L, 5L)) && wide("b") == ((3L, 3L)) &&
      wide("c") == ((1L, 1L)))
    // degenerate 1-slot sketch: every key maps to the same counter, so
    // every estimate is the TOTAL row count — the upper-bound invariant
    // at its worst
    val tiny = SketchOps.cmsLookup(
        SketchOps.cmsBuild(rows, "word", 2, 1), truth, "word", 2, 1)
      .collect().map(r => (r.getLong(2), r.getLong(1)))
    assert(tiny.forall { case (est, t) => est == 9L && est >= t })
  }

  test("cmsLookup: a never-seen key estimates the colliding mass, zero when wide") {
    val rows = Seq("a", "a", "b").map(Tuple1(_)).toDF("word")
    val cms = SketchOps.cmsBuild(rows, "word", 2, 4096)
    val unseen = Seq("zzz").map(Tuple1(_)).toDF("word")
    val est = SketchOps.cmsLookup(cms, unseen, "word", 2, 4096)
      .collect().head.getLong(1)
    assert(est == 0L)
  }

  // ---------------- hllRegisters ----------------

  test("hllRegisters: matches driver-side rho math and is duplicate-idempotent") {
    def md5h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    def expected(keys: Seq[String]): Map[Long, Long] =
      keys.map { k =>
        val h = md5h60(k)
        val bits = h >> 6
        val rho = if (bits == 0L) 55L
          else 55L - java.lang.Long.toBinaryString(bits).length
        (h % 64, rho)
      }.groupBy(_._1).map { case (r, v) => r -> v.map(_._2).max }
    val keys = Seq("alpha", "beta", "gamma", "delta")
    val once = SketchOps.hllRegisters(
        keys.map(Tuple1(_)).toDF("word"), "word", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(once == expected(keys))
    // duplicates cannot move any register — the idempotence that lets
    // the sketch skip the distinct pass entirely
    val dup = SketchOps.hllRegisters(
        (keys ++ keys ++ Seq("alpha")).map(Tuple1(_)).toDF("word"), "word", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dup == once)
  }

  test("sketch mergeability: merge of shard sketches equals the whole-corpus build") {
    // the 100 TB contract: per-shard partial sketches combine into the
    // corpus sketch without revisiting raw data
    val shardA = Seq("a", "a", "b").map(Tuple1(_)).toDF("word")
    val shardB = Seq("b", "c", "c", "d").map(Tuple1(_)).toDF("word")
    val union = shardA.unionByName(shardB)

    val hllMerged = SketchOps.hllMerge(
        SketchOps.hllRegisters(shardA, "word", 64),
        SketchOps.hllRegisters(shardB, "word", 64))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val hllWhole = SketchOps.hllRegisters(union, "word", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hllMerged == hllWhole)
  }

  // ---------------- triangleCounts ----------------

  test("triangleCounts: 4-clique yields 3 per node; pendant chain yields none") {
    // K4 on {1,2,3,4} (4 triangles, each node in 3) + chain edge 4-5 and
    // isolated edge 6-7 (no triangles)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L)).toDF("a_id", "b_id")
    val got = DedupOps.triangleCounts(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts matches the naive id-ordered count on the sf0.001 jaccard graph") {
    val pairs = DedupOps.jaccardPairs(
        Tables.documents(spark, "/root/testdata/sf0.001")
          .filter(pmod(col("doc_id"), lit(10)) === 0), 80)
      .select("a_id", "b_id")
    val naive = pairs.as("e1")
      .join(pairs.as("e2"), col("e1.b_id") === col("e2.a_id"))
      .join(pairs.as("e3"),
        col("e3.a_id") === col("e1.a_id") && col("e3.b_id") === col("e2.b_id"))
      .select(explode(array(col("e1.a_id"), col("e1.b_id"), col("e2.b_id")))
        .as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = DedupOps.triangleCounts(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(naive.nonEmpty, "vacuous: no triangles in the slice graph")
    assert(got == naive)
  }

  // ---------------- tfidfCosinePairs ----------------

  test("tfidfCosinePairs discounts ubiquitous words that fool raw Jaccard") {
    // docs 1 & 2: identical rare content + one shared stopword-ish term;
    // doc 3 shares ONLY the ubiquitous word with them
    val docs = Seq(
      (1L, "the quantum chromodynamics lattice"),
      (2L, "the quantum chromodynamics lattice"),
      (3L, "the the the the")).toDF("doc_id", "text")
    val got = DedupOps.tfidfCosinePairs(docs, 80)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)))  // 3 never pairs at cos >= 80%
  }

  test("tfidfCosinePairs: identical docs score exactly cos = 1 (dot^2 = na*nb)") {
    val docs = Seq((1L, "x y z"), (2L, "x y z")).toDF("doc_id", "text")
    val r = DedupOps.tfidfCosinePairs(docs, 100).collect().head
    val (dot, na, nb) = (r.getLong(2), r.getLong(3), r.getLong(4))
    assert(dot * dot == na * nb)
  }

  test("tfidf cosine overflow guard: a norm >= 2^63 raises loudly in both " +
    "the full and prefix engines (ADVICE r7)") {
    // one word repeated tf times with df=2 -> w = tf * 500000,
    // norm = tf^2 * 2.5e11 >= 2^63 needs tf >= 6071; use 7000
    val big = Array.fill(7000)("blowup").mkString(" ")
    val docs = Seq((1L, big), (2L, big)).toDF("doc_id", "text")
    for (engine <- Seq(
        () => DedupOps.tfidfCosinePairs(docs, 50).collect(),
        () => DedupOps.tfidfCosinePairsPrefix(docs, 50).collect())) {
      val e = intercept[Exception] { engine() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      // two loud failure paths, either acceptable: the Decimal norms
      // guard (raise_error "2^63" — the ONLY guard under ANSI-off,
      // where multiplication would silently wrap), or — since the dots
      // subtree may evaluate before the norms subtree — Spark's own
      // ANSI overflow on the pair product (ANSI is on by default in
      // Spark 4; evaluation order between the join sides is undefined,
      // so both messages are legitimate first failures here)
      assert(msgs(e).exists(m =>
        m.contains("2^63") || m.contains("ARITHMETIC_OVERFLOW")),
        s"wrong failure: $e")
    }
    // sanity: a corpus just UNDER the bound still answers
    val ok = Array.fill(100)("fine").mkString(" ")
    val small = Seq((1L, ok), (2L, ok)).toDF("doc_id", "text")
    assert(DedupOps.tfidfCosinePairs(small, 50).count() == 1L)
  }

  // ---------------- stratifiedSampleByRates ----------------

  test("stratifiedSampleByRates: computed rates drive membership; absent strata drop") {
    val docs = Seq((1L, "en"), (2L, "en"), (3L, "fr"), (4L, "xx"))
      .toDF("doc_id", "lang")
    val rates = Seq(("en", 1000000L), ("fr", 0L)).toDF("lang", "weight_ppm")
    val got = Relational
      .stratifiedSampleByRates(docs, "lang", "doc_id", rates, "weight_ppm")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // en at 100% keeps every bucket; fr at 0 ppm keeps none; xx has no
    // rate row → null rate → dropped
    assert(got == Set(1L, 2L))
  }

  // ---------------- distributionDrift ----------------

  test("distributionDrift: ppm shares and deltas, one-sided categories count 0") {
    val a = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "cat")
    val b = Seq((4L, "x"), (5L, "z")).toDF("id", "cat")
    val got = Relational.distributionDrift(a, b, "cat")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("x", 2L, 1L, 666666L, 500000L, 166666L),
      ("y", 1L, 0L, 333333L, 0L, 333333L),
      ("z", 0L, 1L, 0L, 500000L, 500000L)))
  }

  test("distributionDrift: identical snapshots show zero delta everywhere") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "cat")
    val deltas = Relational.distributionDrift(a, a, "cat")
      .collect().map(_.getLong(5)).toSet
    assert(deltas == Set(0L))
  }

  // ---------------- JPEG codec ----------------

  test("multimodal: a REAL JPEG decodes to true dimensions; corrupt JPEG falls back") {
    import graft.multimodal.{ImageCodec, MultimodalOps}
    val jpeg = ImageCodec.encodeJpeg(12, 10, (x, _) => if (x < 6) 0x000000 else 0xFFFFFF)
    // a JPEG signature on garbage bytes must fall back to a null hash
    val corrupt = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 1, 2, 3)
    val media = Seq((1L, jpeg), (2L, corrupt)).toDF("media_id", "payload")
    val hashes = MultimodalOps.imageDHashes(media).orderBy("media_id").collect()
    // the real javax.imageio JPEG reader decodes the image
    assert(!hashes(0).isNullAt(1))
    assert(ImageCodec.dHash(jpeg).contains(hashes(0).getLong(1)))
    // corrupt payload: null hash — batch not poisoned
    assert(hashes(1).isNullAt(1) && ImageCodec.dHash(corrupt).isEmpty)
  }
}
