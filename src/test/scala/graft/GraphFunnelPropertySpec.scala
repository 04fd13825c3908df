package graft

import graft.operators.{DedupOps, EventOps}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests pinning the distributed graph/funnel operators to
  * trivially-correct driver-side reference implementations on random
  * inputs — the algorithms (connected components, greedy state-machine
  * fold) must agree with brute force on every generated case.
  */
class GraphFunnelPropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(15)

  private def check(p: Prop): Unit = {
    val res = SCTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  test("connectedComponents equals union-find on random graphs") {
    val pairGen = for {
      n <- Gen.choose(1, 12)
      pairs <- Gen.listOfN(n, for {
        a <- Gen.choose(0L, 15L)
        b <- Gen.choose(0L, 15L) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield pairs
    check(Prop.forAll(pairGen) { pairs =>
      pairs.isEmpty || {
        val got = DedupOps.connectedComponents(pairs.toDF("a_id", "b_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        got == CcFixtures.unionFind(pairs)
      }
    })
  }

  test("connectedComponents equals union-find on residue-scattered " +
    "random graphs with coalescing off") {
    // the layout that defeats both contraction passes, so graphs whose
    // diameter outlasts the two min-label rounds reach the star
    // contraction hand-off; duplicates and both orientations occur
    val pairGen = for {
      n <- Gen.choose(1, 24)
      pairs <- Gen.listOfN(n, for {
        a <- Gen.choose(0L, 30L)
        b <- Gen.choose(0L, 30L) if a != b
      } yield (a, b))
    } yield pairs
    check(Prop.forAll(pairGen) { pairs =>
      pairs.isEmpty || CcFixtures.withoutCoalescing(spark) {
        val got = DedupOps.connectedComponents(
            CcFixtures.scattered(spark, pairs))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        got == CcFixtures.unionFind(pairs)
      }
    })
  }

  /** Reference iterate-to-fixpoint k-core peel. */
  private def bruteKCore(pairs: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var es = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.toSet
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
      .groupBy(identity).map { case (v, o) => v -> o.size.toLong }
  }

  test("kCoreFixedRounds with enough rounds equals the fixpoint peel on random graphs") {
    // on ≤16 vertices any peel cascade is ≤ 16 rounds — a fixed 16
    // must land exactly on the fixpoint core (and, since peeling is
    // monotone, stay there)
    val pairGen = for {
      n <- Gen.choose(1, 14)
      pairs <- Gen.listOfN(n, for {
        a <- Gen.choose(0L, 15L)
        b <- Gen.choose(0L, 15L) if a != b
      } yield (a, b))
    } yield pairs
    check(Prop.forAll(pairGen) { pairs =>
      pairs.isEmpty || {
        val got = DedupOps.kCoreFixedRounds(
            pairs.toDF("a_id", "b_id"), k = 2, rounds = 16)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        got == bruteKCore(pairs, 2)
      }
    })
  }

  /** Reference greedy funnel scan over time-sorted events. */
  private def bruteFunnel(evs: Seq[(Long, String)], stages: Seq[String]): Long = {
    var stage = 0
    var lastTs = Long.MinValue
    evs.sortBy(_._1).foreach { case (t, tpe) =>
      if (stage < stages.size && tpe == stages(stage) && t > lastTs) {
        stage += 1; lastTs = t
      }
    }
    stage.toLong
  }

  test("funnelStages equals the reference greedy scan per user on random event streams") {
    // MULTI-user streams (round-5: the r4 test ran one user only): pins
    // per-user isolation of the stage-cascade — the unfiltered-events
    // left-join base (users with only non-stage events land at stage 0),
    // and cross-user independence of the per-stage min-joins.
    val stages = Seq("view", "click", "purchase")
    val evGen = Gen.listOfN(14, for {
      u <- Gen.choose(1L, 3L)   // ts collisions ACROSS users are common
      t <- Gen.choose(0L, 6L)   // small range forces ts collisions
      tpe <- Gen.oneOf("view", "click", "purchase", "error")
    } yield (u, t, tpe))
    check(Prop.forAll(evGen) { evs =>
      evs.isEmpty || {
        val df = evs.zipWithIndex
          .map { case ((u, t, tpe), i) => (u, t, i.toLong, tpe) }
          .toDF("user_id", "ts_us", "event_id", "event_type")
        val got = EventOps.funnelStages(df, col("ts_us"), stages)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val expected = evs.groupBy(_._1).map { case (u, es) =>
          u -> bruteFunnel(es.map(e => (e._2, e._3)), stages) }
        got == expected
      }
    })
  }

  test("funnelStages per-user state stays bounded on a degenerate hot user") {
    // r4 rewrite's reason to exist: the old collect_list fold held EVERY
    // event of a user in one executor row. 20k stage-vocabulary events
    // for one user must run through the min-join cascade (per-user state
    // = one timestamp per stage) and still agree with the greedy scan.
    val evs = (0 until 20000).map { i =>
      (1L, i.toLong % 997L, i.toLong,
        Seq("view", "click", "purchase")(i % 3))
    }
    val df = evs.toDF("user_id", "ts_us", "event_id", "event_type")
    val got = EventOps.funnelStages(df, col("ts_us"), Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = Map(1L -> bruteFunnel(evs.map(e => (e._2, e._4)), Seq("view", "click", "purchase")))
    assert(got == expected)
  }

  /** Reference decontamination: brute-force shingle-set intersection. */
  private def bruteDecon(corpus: Seq[(Long, String)], bench: Seq[(Long, String)],
                         n: Int, minShared: Int): Set[(Long, Long, Long)] = {
    def sh(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < n) Set.empty
      else (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
    }
    (for {
      (cid, ct) <- corpus
      (bid, bt) <- bench
      shared = (sh(ct) & sh(bt)).size
      if shared >= minShared
    } yield (cid, bid, shared.toLong)).toSet
  }

  test("decontaminate equals brute-force shingle intersection on random docs") {
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.choose(3, 8).flatMap(k => Gen.listOfN(k, word)).map(_.mkString(" "))
    val gen = for {
      corpus <- Gen.listOfN(4, doc)
      bench <- Gen.listOfN(2, doc)
    } yield (corpus, bench)
    check(Prop.forAll(gen) { case (corpus, bench) =>
      val cdf = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val bdf = bench.zipWithIndex.map { case (t, i) => (100L + i, t) }
      val got = DedupOps.decontaminate(
        cdf.toDF("doc_id", "text"), bdf.toDF("doc_id", "text"), 2, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      got == bruteDecon(cdf, bdf, 2, 2)
    })
  }

  test("stratifiedSample membership is exactly bucket < rate") {
    val df = (1L to 300L).map(i => (i, if (i % 3 == 0) "a" else "b")).toDF("id", "s")
    val rates = Map("a" -> 300000, "b" -> 700000)
    val got = graft.operators.Relational
      .stratifiedSample(df, "s", "id", rates).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    got.foreach { case (_, s, bucket) => assert(bucket < rates(s)) }
    // complement check: everything NOT selected is at/above its rate
    val selected = got.map(_._1).toSet
    val all = graft.operators.Relational
      .stratifiedSample(df, "s", "id", Map("a" -> 1000000, "b" -> 1000000))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    all.filterNot(t => selected.contains(t._1)).foreach {
      case (_, s, bucket) => assert(bucket >= rates(s))
    }
  }

  /** Reference fixed-point PageRank: same integer-ppm trajectory as
    * [[DedupOps.pageRankFixedPoint]], computed naively on the driver.
    */
  private def brutePageRank(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var ranks = outdeg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (src, dst) => contrib(dst) += ranks(src) / outdeg(src) }
      ranks = ranks.keys.map(k => k -> (150000L + 850000L * contrib(k) / 1000000L)).toMap
    }
    ranks
  }

  test("pageRankFixedPoint equals the driver-side reference on random graphs") {
    val pairGen = for {
      n <- Gen.choose(1, 10)
      iters <- Gen.choose(1, 4)
      pairs <- Gen.listOfN(n, for {
        a <- Gen.choose(0L, 12L)
        b <- Gen.choose(0L, 12L) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield (pairs.distinct, iters)
    check(Prop.forAll(pairGen) { case (pairs, iters) =>
      val df = pairs.toDF("a_id", "b_id")
      val got = DedupOps.pageRankFixedPoint(df, iters).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      got == brutePageRank(pairs, iters)
    })
  }

  /** Reference chunker mirroring [[graft.operators.TextOps.chunkWindows]]. */
  test("chunkWindows sizes/counts match the reference slicing on random docs") {
    val gen = for {
      nTok <- Gen.choose(1, 120)
      window <- Gen.choose(1, 50)
      stride <- Gen.choose(1, window)  // contract: stride <= window
    } yield (nTok, window, stride)
    check(Prop.forAll(gen) { case (nTok, window, stride) =>
      val text = (0 until nTok).map(i => s"t$i").mkString(" ")
      val got = graft.operators.TextOps
        .chunkWindows(Seq((1L, text, "en")).toDF("doc_id", "text", "lang"), window, stride)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
      val expected = (0 until nTok by stride).zipWithIndex.map {
        case (start, idx) => (idx.toLong, math.min(window, nTok - start).toLong)
      }
      // every token covered: chunk i spans [i*stride, i*stride + size)
      val covered = got.flatMap { case (i, sz) =>
        (i * stride) until (i * stride + sz) }.toSet
      got == expected && covered == (0L until nTok.toLong).toSet
    })
  }
}
