package graft

import graft.operators.{DedupOps, EventOps, SimilarityOps}
import graft.multimodal.{AudioCodec, MultimodalOps}
import org.apache.spark.sql.functions._

/** Round-7 extension tests: fixed-round k-core vs driver-side fixpoint
  * peeling, cross-side fuzzy decontamination, oracle-checkable
  * sign-LSH semantic dedup vs the exhaustive pair set, robust-stats
  * winsorize/MAD on hand-checked distributions, and the acoustic
  * fingerprint near-dup path.
  */
class Round7ExtOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------- kCoreFixedRounds ----------------

  /** Driver-side reference: iterate-to-fixpoint k-core peeling. */
  private def kCoreFixpoint(edges: Set[(Long, Long)], k: Int): Map[Long, Int] = {
    var es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }
    var changed = true
    while (changed) {
      val deg = es.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (v, o) => v -> o.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter { case (a, b) => keep(a) && keep(b) }
      changed = next != es
      es = next
    }
    es.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, o) => v -> o.size }
  }

  test("kCoreFixedRounds peels a tail off a clique (hand-checked cascade)") {
    // K4 on {1,2,3,4} plus the tail 4-5-6: round 1 drops 6 (deg 1),
    // round 2 drops the now-dangling 5, round 3 is stable — the K4
    // core survives with degree 3 everywhere
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a_id", "b_id")
    val got = DedupOps.kCoreFixedRounds(edges, k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCoreFixedRounds normalizes duplicates/orientations like triangleCounts") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 3L), (3L, 2L),
      (2L, 2L)).toDF("a_id", "b_id")
    val got = DedupOps.kCoreFixedRounds(messy, k = 2, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("3 rounds reach the true k-core fixpoint on the declared jaccard graph") {
    // the scaladoc claim behind q_kcore's fixed-round semantics: on
    // similarity graphs the peel cascade is shallow, so fixed rounds =
    // fixpoint. Pin it on the real graph the declared query uses.
    val pairs = DedupOps.jaccardPairs(
      Tables.documents(spark, "/root/testdata/sf0.001")
        .filter(pmod(col("doc_id"), lit(10)) === 0), 80)
      .select("a_id", "b_id")
    val edgeSet = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = kCoreFixpoint(edgeSet, 2).map { case (v, d) => v -> d.toLong }
    val got = DedupOps.kCoreFixedRounds(pairs, k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want, s"fixed-round(3) != fixpoint: got=$got want=$want")
  }

  // ---------------- jaccardAgainstCorpus ----------------

  test("jaccardAgainstCorpus pairs cross-side only, at the declared threshold") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),   // == bench doc 100 → ppm 1e6
      (2L, "alpha beta gamma epsilon"), // 3/5 vs bench 100 → 600000 ppm
      (3L, "zeta eta theta iota")       // disjoint from bench
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val got = DedupOps.jaccardAgainstCorpus(corpus, bench, 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    // doc 1 exact dup (1e6 ppm), doc 2 at 600000 ppm; doc 3 absent;
    // corpus docs 1/2 similar to EACH OTHER but never paired (cross-side)
    assert(got == Set((1L, 100L, 1000000L), (2L, 100L, 600000L)))
  }

  // ---------------- semDedupBuckets ----------------

  test("semDedupBuckets == exhaustive cosine pairs restricted to equal buckets") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probeIds = Seq(0L, 1L, 2L, 3L)
    val got = SimilarityOps.semDedupBuckets(emb, probeIds, 30)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // driver-side reference: fixed-point ints, exact signs, same math
    // fixed-point ints come from the SAME Spark expression the op uses
    // (the rounding itself is oracle-hash-checked at sf0.01 — what this
    // test pins is the bucketed-pair RELATION, in exact integer math)
    val vecs = emb.select(col("vec_id"),
      transform(col("embedding"), v => SimilarityOps.fixedPoint(v)).as("vi"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val bucketOf = vecs.map { case (id, v) =>
      id -> probeIds.zipWithIndex.map { case (pid, i) =>
        if (dot(v, vecs(pid)) > 0) 1L << i else 0L
      }.sum
    }
    // iterate the Map as a Seq — a for over a Map yields a MAP, which
    // would collapse every a-key to its last surviving pair
    val want = (for {
      (a, va) <- vecs.toSeq; (b, vb) <- vecs.toSeq if a < b
      if bucketOf(a) == bucketOf(b)
      d = dot(va, vb)
      if d > 0 && d.toDouble * d.toDouble * 10000.0 >=
        dot(va, va).toDouble * dot(vb, vb).toDouble * 900.0
    } yield (a, b)).toSet
    assert(got == want)
    assert(got.nonEmpty, "vacuous: no within-bucket pairs at sf0.001")
    // and bucketing is a restriction of the exhaustive relation
    val exhaustive = SimilarityOps.cosinePairsExact(emb, 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exhaustive))
  }

  // ---------------- winsorize / madOutliers ----------------

  test("winsorize clips at the ANSI-discrete P05/P95 (hand-checked grid)") {
    val events = (1 to 100).map(i => (i.toLong, "t", i.toDouble / 100))
      .toDF("event_id", "event_type", "value")
    val rows = EventOps.winsorize(events, 5, 95)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(5)))
    // values are 1..100 cents: smallest value with cume_dist >= 0.05
    // over 100 rows is 5; >= 0.95 is 95
    assert(rows.forall { case (_, _, c) => c >= 5L && c <= 95L })
    assert(rows.count { case (_, v, c) => v != c } == 9,
      "exactly values 1..4 and 96..100 get clipped")
    assert(rows.collect { case (id, _, c) if id == 1L => c }.head == 5L)
    assert(rows.collect { case (id, _, c) if id == 100L => c }.head == 95L)
  }

  test("madOutliers flags by median absolute deviation per type") {
    val events = (Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 100).zipWithIndex.map {
      case (v, i) => (i.toLong, "a", v.toDouble / 100)
    } ++ Seq((100L, "b", 1.0), (101L, "b", 1.0))) // zero-MAD type: no flags
      .toDF("event_id", "event_type", "value")
    val got = EventOps.madOutliers(events, 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // type a cents 1..9,100: median = 5 (cd >= .5), devs sorted
    // 0,1,1,2,2,3,3,4,4,95 → MAD = 2; only dev 95 > 5·2
    assert(got.toSeq == Seq((9L, "a", 100L, 5L, 2L)))
  }

  // ---------------- grouped HLL ----------------

  test("hllRegistersBy group slices equal the per-group global sketch (no drift)") {
    import graft.operators.SketchOps
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(expr(s"ts div ${Tables.Nanos.PerDay}").as("day"),
        col("user_id").cast("string").as("uid"))
    val grouped = SketchOps.hllRegistersBy(ev, "day", "uid", 64)
    val days = ev.select("day").distinct().collect().map(_.getLong(0))
    // each day's slice must BE the hllRegisters table of that day's rows
    // (shared hllRegRho cells — the merge/estimate contract)
    for (day <- days.take(3)) {
      val slice = grouped.filter(col("day") === day)
        .select("register", "max_rho")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val direct = SketchOps.hllRegisters(
          ev.filter(col("day") === day), "uid", 64)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(slice == direct, s"day $day slice != direct sketch")
    }
  }

  test("hllEstimateBy tracks per-group exact distinct within documented error") {
    import graft.operators.SketchOps
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(expr(s"ts div ${Tables.Nanos.PerDay}").as("day"),
        col("user_id").cast("string").as("uid"))
    val est = SketchOps.hllEstimateBy(
        SketchOps.hllRegistersBy(ev, "day", "uid", 64), "day", 64)
      .select("day", "est")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exact = ev.groupBy("day").agg(countDistinct("uid").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    // 1.04/sqrt(64) = 13% standard error; allow 3.5σ per group (the
    // group count is small enough that a uniform bound is meaningful)
    for ((day, n) <- exact) {
      val e = est(day)
      assert(math.abs(e - n) <= 0.455 * n + 3,
        s"day $day: est $e vs exact $n")
    }
  }

  // ---------------- minHashEstJaccard ----------------

  test("minhash estimate tracks exact jaccard on the LSH candidates") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(pmod(col("doc_id"), lit(10)) === 0)
    val est = DedupOps.minHashEstJaccard(docs, 12, 3,
        seedHash = (i, w) => DedupOps.Md5SeedHash60(i, w))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val exact = DedupOps.jaccardPairs(docs, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(est.nonEmpty)
    // every candidate shares a band, so it shares >= 1 word: exact is
    // defined for all of them
    assert(est.keySet.subsetOf(exact.keySet))
    val errs = est.map { case (k, e) => math.abs(e - exact(k)) }
    // 12 hashes → per-pair σ ≈ sqrt(J(1-J)/12) ≤ 144338 ppm; the MEAN
    // absolute error across hundreds of pairs must sit well inside it
    assert(errs.sum / errs.size <= 150000L,
      s"mean |est-exact| = ${errs.sum / errs.size} ppm over ${errs.size} pairs")
    // and exact duplicates estimate exactly 1.0
    for ((k, x) <- exact if x == 1000000L && est.contains(k))
      assert(est(k) == 1000000L, s"pair $k: dup must estimate 1e6 ppm")
  }

  // ------------- connectedComponents: star contraction -------------

  test("star contraction equals min-label propagation on mixed topologies") {
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // an id-shuffled 60-path, two disjoint cliques, and a lollipop
    // (clique + tail). One partition lets contraction collapse it and
    // min-label converge; the residue-scattered layout with coalescing
    // off leaves the path's diameter to star contraction
    val path = CcFixtures.shuffledChain(60, seed = 3)
      .map { case (a, b) => (a + 100L, b + 100L) }
    val cliqueA = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val cliqueB = for (a <- 200L to 203L; b <- (a + 1) to 203L) yield (a, b)
    val tail = Seq((203L, 300L), (300L, 301L))
    val edges = path ++ cliqueA ++ cliqueB ++ tail
    val prop = labelsOf(DedupOps.connectedComponents(
      edges.toDF("a_id", "b_id").coalesce(1)))
    val star = CcFixtures.withoutCoalescing(spark) {
      labelsOf(DedupOps.connectedComponents(CcFixtures.scattered(spark, edges)))
    }
    assert(star == prop && prop == CcFixtures.unionFind(edges))
    // and the roots really are the component minima
    assert(star(160L) == 100L && star(4L) == 0L && star(301L) == 200L)
  }

  test("star contraction resolves a LONG path in logarithmic rounds") {
    // the adversarial topology propagation cannot take in the cap
    // (O(diameter) rounds for an id-shuffled, residue-scattered
    // 200-path): contraction needs ~log² rounds, so 20 rounds of
    // shared budget suffice
    val path = CcFixtures.shuffledChain(200, seed = 5)
    val star = CcFixtures.withoutCoalescing(spark) {
      DedupOps.connectedComponents(CcFixtures.scattered(spark, path),
          maxIter = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(star.size == 201 && star.values.forall(_ == 0L))
  }

  test("star contraction handles duplicate/reversed edges and an empty graph") {
    val messy = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L)).toDF("a_id", "b_id")
    val got = DedupOps.connectedComponents(messy)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(DedupOps.connectedComponents(empty).isEmpty)
  }

  // ---------------- histogramQuantiles ----------------

  test("histogramQuantiles reads exact quantile offsets off a hand-built histogram") {
    // one type, values 0..99 cents, bin width 10, 10 bins → each bin
    // holds exactly 10; p50 target = 50 → bucket 4 (cum 50), offset
    // (50-40)/10 = 1e6 ppm; p90 target = 90 → bucket 8, same offset
    val events = (0 until 100).map(i => ("t", i.toDouble / 100))
      .toDF("event_type", "value")
    val r = EventOps.histogramQuantiles(events, 10L, 10, Seq(500, 900))
      .collect()(0)
    assert(r.getLong(1) == 100L)                   // total
    assert(r.getLong(2) == 4L && r.getLong(3) == 1000000L,
      s"p50: bucket ${r.getLong(2)} frac ${r.getLong(3)}")
    assert(r.getLong(4) == 8L && r.getLong(5) == 1000000L)
  }

  test("histogramQuantiles: shard histograms merge into the corpus answer") {
    // the mergeability contract: binning each half and adding counters
    // gives the same quantile read as binning the whole — verified by
    // splitting events and comparing against the unsplit result
    val all = (0 until 90).map(i => ("t", (i * 7 % 90).toDouble / 100))
      .toDF("event_type", "value")
    val whole = EventOps.histogramQuantiles(all, 10L, 10, Seq(500)).collect()(0)
    val unioned = EventOps.histogramQuantiles(
      all.filter(col("value") * 100 < 45)
        .union(all.filter(col("value") * 100 >= 45)), 10L, 10, Seq(500))
      .collect()(0)
    assert(whole.toSeq == unioned.toSeq)
  }

  // ---------------- sampleKPerGroup ----------------

  test("sampleKPerGroup takes exactly k stable rows per stratum, removal-stable") {
    import graft.operators.Relational
    val events = (1 to 200).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("event_id", "event_type")
    val s1 = Relational.sampleKPerGroup(events, "event_type", "event_id", 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(s1.count(_._1 == "a") == 10 && s1.count(_._1 == "b") == 10)
    // removing a NON-sampled row changes nothing
    val sampled = s1.map(_._2).toSet
    val nonSampled = (1 to 200).map(_.toLong).filterNot(sampled).head
    val s2 = Relational.sampleKPerGroup(
        events.filter(col("event_id") =!= nonSampled),
        "event_type", "event_id", 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(s1.toSeq == s2.toSeq)
    // removing a SAMPLED row only pulls in the next rank of ITS stratum
    val victim = s1.filter(_._1 == "a").map(_._2).head
    val s3 = Relational.sampleKPerGroup(
        events.filter(col("event_id") =!= victim),
        "event_type", "event_id", 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val s1Set = s1.map(t => (t._1, t._2)).toSet
    assert((s1Set -- s3).map(_._2) == Set(victim))
    assert((s3 -- s1Set).forall(_._1 == "a"))
  }

  // ---------------- label centroids / nearest-centroid assign ----------------

  test("labelCentroids are the exact truncating-division means per dimension") {
    val emb = Seq(
      (1L, Array(0.5f, -0.3f), 0),
      (2L, Array(0.7f, -0.5f), 0),
      (3L, Array(-0.2f, 0.9f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.labelCentroids(emb)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    // label 0: (5e6+7e6) div 2 = 6e6; (-3e6 + -5e6) div 2 = -4e6
    // (truncation toward zero — matches DuckDB // on negatives)
    assert(got == Map((0L, 0) -> 6000000L, (0L, 1) -> -4000000L,
      (1L, 0) -> -2000000L, (1L, 1) -> 9000000L))
  }

  test("centroidAssign classifies every vector, beats the random-label baseline") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = SimilarityOps.centroidAssign(emb).collect()
    assert(rows.length == emb.count())
    val nLabels = emb.select("label").distinct().count()
    val acc = rows.count(_.getBoolean(3)).toDouble / rows.length
    // sf0.01 measures 41% against a 10% random baseline; at sf0.001
    // demand clear separation without overfitting the sample
    assert(acc > 2.0 / nLabels, s"accuracy $acc vs random ${1.0 / nLabels}")
    // the argmin is total: every vector got exactly one prediction
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  // ---------------- URL canonicalization / rarity ----------------

  test("canonicalizeUrl collapses recorded variants, keeps distinct pages apart") {
    import graft.operators.TextOps
    val urls = Seq(
      "https://www.Example.org/Page/3?utm_source=x",
      "HTTP://example.org/page/3/",
      "https://example.org/page/3#section-2",
      "https://example.org/page/4",          // different page
      "https://other.net/page/3")            // different host
      .zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("doc_id", "url")
    val got = urls.select(TextOps.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0))
    assert(got(0) == "example.org/page/3" && got(1) == got(0) && got(2) == got(0))
    assert(got(3) == "example.org/page/4" && got(4) == "other.net/page/3")
    val dedup = TextOps.urlDedup(urls).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(dedup == Set(("example.org/page/3", 0L, 3L),
      ("example.org/page/4", 3L, 1L), ("other.net/page/3", 4L, 1L)))
  }

  test("rarityScores ranks head words low and rare words high") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "the the the the"),   // pure head word → mean rank 1
      (2L, "the the quux the")   // one rare token lifts the mean
    ).toDF("doc_id", "text")
    val got = TextOps.rarityScores(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L) == 1000000L)          // rank 1 exactly
    assert(got(2L) > got(1L))            // rare token raises the score
    // 'the' freq 7 → rank 1; 'quux' freq 1 → rank 2; doc 2 mean =
    // (1+1+2+1)/4 = 1.25 → 1250000 ppm
    assert(got(2L) == 1250000L)
  }

  // ---------------- negative sampling / length buckets ----------------

  test("negativeSamples never emits a near-dup pair, exactly k per anchor") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"),   // 1~2 near-dups
      (3L, "p q r s"), (4L, "w x y z"), (5L, "m n o k")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.jaccardPairs(docs, 80).select("a_id", "b_id")
    val posSet = pairs.collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)),
        (r.getLong(1), r.getLong(0)))).toSet
    assert(posSet.contains((1L, 2L)), "fixture must contain a near-dup")
    val neg = DedupOps.negativeSamples(docs, pairs, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(neg.groupBy(_._1).forall(_._2.length == 2))
    assert(neg.toSet.intersect(posSet).isEmpty,
      "a sampled negative is secretly a positive")
  }

  test("lengthBuckets accounts padding waste exactly on a hand grid") {
    // 3 docs of 2 tokens and 1 of 4 → bucket width 3: bucket 0 holds
    // the 2-token docs (max 2, no waste), bucket 1 the 4-token doc
    val docs = Seq((1L, "a b"), (2L, "c d"), (3L, "e f"),
      (4L, "g h i j")).toDF("doc_id", "text")
    val got = graft.operators.TextOps.lengthBuckets(docs, 3, 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(4), r.getLong(5))).toMap
    assert(got == Map(0L -> (3L, 0L, 0L), 1L -> (1L, 0L, 0L)))
    // add a 3-token doc into bucket 1: max 4, waste 1 of 7 slots
    val got2 = graft.operators.TextOps.lengthBuckets(
        docs.union(Seq((5L, "k l m")).toDF("doc_id", "text")), 3, 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(4), r.getLong(5))).toMap
    assert(got2(1L) == (2L, 1L, 125000L), s"got ${got2(1L)}")
  }

  // ---------------- attribution / session outcomes ----------------

  test("lastTouchAttribution credits the latest prior click, organic stays null") {
    import graft.operators.EventOps
    val evs = Seq(
      (1L, 1000L, 1L, "click"),
      (2L, 2000L, 1L, "click"),     // the later touch wins
      (3L, 3000L, 1L, "purchase"),
      (4L, 4000L, 1L, "purchase"),  // still credits click 2
      (5L, 1000L, 2L, "purchase"),  // user 2 never clicked → organic
      (6L, 2000L, 2L, "click")      // AFTER the purchase: must not credit
    ).map { case (id, ts, u, t) => (id, ts * 1000000L, u, t) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.lastTouchAttribution(evs, "click", "purchase")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got == Map(3L -> 2L, 4L -> 2L, 5L -> -1L))
  }

  test("sessionOutcomes flags converting sessions in the same rollup") {
    import graft.operators.EventOps
    val gap = 1000L
    val evs = Seq(
      (1L, 100L, 1L, "view"), (2L, 200L, 1L, "purchase"), // session 1: converts
      (3L, 5000L, 1L, "view"),                            // session 2: abandons
      (4L, 100L, 2L, "view")                              // user 2: abandons
    ).toDF("event_id", "ts_us", "user_id", "event_type")
    val got = EventOps.sessionOutcomes(evs, col("ts_us"), gap, "purchase")
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map((1L, 1L) -> (2L, 1L), (1L, 2L) -> (1L, 0L),
      (2L, 1L) -> (1L, 0L)))
  }

  // ---------------- PIT join / rolling HLL ----------------

  test("rolling HLL registers equal the direct sketch of each window's rows") {
    import graft.operators.SketchOps
    val ev = Seq((0L, "a"), (0L, "b"), (1L, "b"), (1L, "c"), (2L, "d"))
      .toDF("day", "uid")
    val rolled = SketchOps.hllRollingRegisters(
        SketchOps.hllRegistersBy(ev, "day", "uid", 64), windowDays = 2)
    for (day <- Seq(0L, 1L, 2L)) {
      val slice = rolled.filter(col("day") === day)
        .select("register", "max_rho")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val direct = SketchOps.hllRegisters(
          ev.filter(col("day") >= day - 1 && col("day") <= day), "uid", 64)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(slice == direct, s"window ending day $day")
    }
  }

  // ---------------- splice overlap / clustering coeff / rate spikes ----------------

  test("spliceOverlaps pairs a tail with its continuation head, not unrelated docs") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "e f g h x y z w"),      // head = doc 1's tail (4-gram)
      (3L, "p q r s t u v m")       // unrelated
    ).toDF("doc_id", "text")
    val got = TextOps.spliceOverlaps(docs, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("clusteringCoefficients: clique closes fully, star closes not at all") {
    // K3 {1,2,3} + star center 10 with leaves 11,12,13 (no leaf-leaf
    // edges): clique nodes coeff 1e6; star center deg 3, 0 triangles
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("a_id", "b_id")
    val got = DedupOps.clusteringCoefficients(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(got(1L) == (2L, 1000000L) && got(2L) == (2L, 1000000L))
    assert(got(10L) == (3L, 0L))
    assert(got(11L) == (1L, 0L)) // deg < 2 → defined 0
  }

  test("rateSpikes flags a burst against its trailing mean, not the cold start") {
    import graft.operators.EventOps
    val h = graft.Tables.Nanos.PerHour
    // type t: hours 0..3 at 10 events, hour 4 at 40 (4× the mean)
    val rows = (0 until 4).flatMap(hr =>
      (0 until 10).map(i => (hr * h + i.toLong, "t"))) ++
      (0 until 40).map(i => (4 * h + i.toLong, "t"))
    val events = rows.toDF("ts", "event_type")
    val got = EventOps.rateSpikes(events, 300)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("t", 4L, 40L)))
  }

  test("rateSpikes RANGE frame: a burst after a silent gap does not alarm " +
    "against non-adjacent hours (ADVICE r7)") {
    import graft.operators.EventOps
    val h = graft.Tables.Nanos.PerHour
    // hours 0..2 at 10 events, hours 3..5 silent, hour 6 at 40: a ROWS
    // frame would slide over the gap and alarm hour 6 against hours
    // 0..2; the RANGE frame sees no observations in hours 3..5 → no
    // alarm anywhere.
    val rows = (0 until 3).flatMap(hr =>
      (0 until 10).map(i => (hr * h + i.toLong, "t"))) ++
      (0 until 40).map(i => (6 * h + i.toLong, "t"))
    val events = rows.toDF("ts", "event_type")
    assert(EventOps.rateSpikes(events, 300).isEmpty)
  }

  // ---------------- acoustic fingerprint near-dup ----------------

  /** Deterministic test signal: a triangle wave whose per-frame
    * amplitude follows `ampSeed` — 65 envelope frames over n samples.
    */
  private def wav(n: Int, ampSeed: Int, noise: Int = 0): Array[Byte] = {
    val samples = Array.tabulate[Short](n) { i =>
      val frame = (i.toLong * 65L / n).toInt
      // wraps every few frames → a non-monotone envelope whose
      // rise/fall pattern (the fingerprint bits) depends on ampSeed
      val amp = 200 + (frame * ampSeed) % 97 * 50
      val tri = (i % 40) - 20 // zero-mean triangle-ish carrier
      val s = tri * amp / 20 + (if (noise > 0) (i * 7919) % noise - noise / 2 else 0)
      s.toShort
    }
    AudioCodec.encodeWavPcm16(8000, 1, samples)
  }

  test("audio fingerprint: deterministic, None on short/corrupt payloads") {
    val p = wav(8000, 37)
    assert(AudioCodec.fingerprint(p) == AudioCodec.fingerprint(p.clone()))
    assert(AudioCodec.fingerprint(p).isDefined)
    assert(AudioCodec.fingerprint(
      AudioCodec.encodeWavPcm16(8000, 1, new Array[Short](64))).isEmpty,
      "needs >= 65 samples")
    assert(AudioCodec.fingerprint("RIFFxxxxWAVEgarbage".getBytes).isEmpty)
  }

  test("audioNearDupPairs bands the noisy re-take with its original, not the stranger") {
    val base = wav(8000, 37)
    val noisy = wav(8000, 37, noise = 40)     // same envelope, light noise
    val stranger = wav(8000, 53)              // different envelope walk
    val sigBase = AudioCodec.fingerprint(base).get
    val sigNoisy = AudioCodec.fingerprint(noisy).get
    val sigStranger = AudioCodec.fingerprint(stranger).get
    assert(java.lang.Long.bitCount(sigBase ^ sigNoisy) <= 3,
      "noise must not flip the envelope gradients")
    assert(java.lang.Long.bitCount(sigBase ^ sigStranger) > 3,
      "different envelopes must differ beyond the band threshold")
    val media = Seq(
      (1L, base),
      (2L, noisy),
      (3L, stranger),
      (4L, "not audio at all".getBytes)).toDF("media_id", "payload")
    val pairs = MultimodalOps.audioNearDupPairs(media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  // ---------------- ngramNovelty ----------------

  test("ngramNovelty: first doc all-novel, verbatim repeat zero, mix priced by distinct trigrams") {
    import graft.operators.TextOps
    val docs = Seq(
      (0L, "a b c d"),        // trigrams {a b c, b c d} — both novel
      (1L, "a b c d"),        // verbatim repeat — zero novelty
      (2L, "a b c x y z"),    // {a b c, b c x, c x y, x y z}: 3 of 4 new
      (3L, "q r")             // shorter than n=3 — filtered out entirely
    ).toDF("doc_id", "text")
    val out = TextOps.ngramNovelty(docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, 2L, 2L, 1000000L),
      (1L, 2L, 0L, 0L),
      (2L, 4L, 3L, 750000L)))
  }

  test("ngramNovelty counts DISTINCT grams per doc — internal repetition is not novelty-inflating") {
    import graft.operators.TextOps
    val docs = Seq((0L, "a b c a b c a b c")).toDF("doc_id", "text")
    // grams: {a b c, b c a, c a b} each repeated — distinct = 3, all novel
    val out = TextOps.ngramNovelty(docs, 3).collect()
    assert(out.length == 1)
    assert(out(0).getLong(1) == 3L && out(0).getLong(2) == 3L)
  }

  test("ngramNovelty conservation: novel counts sum to the corpus's distinct gram count") {
    import graft.operators.TextOps
    // every distinct gram is novel in EXACTLY ONE doc (its first), so
    // Σ n_novel must equal |distinct grams| — the invariant that breaks
    // if first-occurrence ties ever double-credit or drop a gram
    val docs = (0L until 40L).map { i =>
      val w = (0 until 12).map(j => s"w${(i * 7 + j * 3) % 23}").mkString(" ")
      (i, w)
    }.toDF("doc_id", "text")
    val out = TextOps.ngramNovelty(docs, 3)
    val sumNovel = out.agg(sum("n_novel")).head.getLong(0)
    val distinctGrams = docs
      .select(explode(graft.operators.TextOps.wordNgrams(
        split(col("text"), " "), 3)).as("g"))
      .distinct().count()
    assert(sumNovel == distinctGrams,
      s"sum(n_novel)=$sumNovel != |distinct grams|=$distinctGrams")
  }

  test("noveltyBySource credits the globally first doc's source, occurrences stay local") {
    import graft.operators.TextOps
    val docs = Seq(
      (0L, "feedA", "a b c d"),   // {a b c, b c d} — both first here
      (1L, "feedB", "a b c d"),   // same grams, later doc: 0 credit, 2 occ
      (2L, "feedB", "x y z w")    // {x y z, y z w} — feedB's own firsts
    ).toDF("doc_id", "source", "text")
    val out = TextOps.noveltyBySource(docs, 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("feedA", 2L, 2L, 1000000L),
      ("feedB", 4L, 2L, 500000L)))
  }

  test("noveltyBySource conservation: per-source credits sum to the corpus distinct gram count") {
    import graft.operators.TextOps
    val docs = (0L until 40L).map { i =>
      val w = (0 until 12).map(j => s"w${(i * 7 + j * 3) % 23}").mkString(" ")
      (i, s"src${i % 4}", w)
    }.toDF("doc_id", "source", "text")
    val sumFirst = TextOps.noveltyBySource(docs, 3)
      .agg(sum("n_first")).head.getLong(0)
    val distinctGrams = docs
      .select(explode(TextOps.wordNgrams(split(col("text"), " "), 3)).as("g"))
      .distinct().count()
    assert(sumFirst == distinctGrams)
  }
}
