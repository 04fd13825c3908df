package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Unit tests for the relational / event / text operator modules on tiny
  * literal DataFrames with hand-computed expectations.
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("topNPerGroup keeps n rows per group with deterministic tie-break") {
    val df = Seq((1, 10, "a"), (1, 10, "b"), (1, 5, "c"), (2, 99, "d"))
      .toDF("grp", "score", "id")
    val out = Relational.topNPerGroup(df, Seq(col("grp")),
      Seq(desc("score"), asc("id")), 2)
    val got = out.orderBy("grp", "rn").select("id").collect().map(_.getString(0)).toSeq
    assert(got == Seq("a", "b", "d"))
  }

  test("pivotCounts: cells sum to group totals, absent cells zero-filled") {
    val df = Seq((1, "x"), (1, "x"), (1, "y"), (2, "y")).toDF("k", "t")
    val out = Relational.pivotCounts(df, "k", "t", Seq("x", "y", "z"))
      .orderBy("k").collect()
    assert(out(0).getLong(1) == 2 && out(0).getLong(2) == 1 && out(0).getLong(3) == 0)
    assert(out(1).getLong(1) == 0 && out(1).getLong(2) == 1 && out(1).getLong(3) == 0)
  }

  test("nullProfile computes per-column null counts and ppm") {
    val df = Seq((Some(1), Some("a")), (None, Some("b")), (None, None))
      .toDF("x", "y")
    val out = Relational.nullProfile(df, Seq("x", "y")).collect()
    val byName = out.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byName("x") == ((2L, 3L, 666666L)))
    assert(byName("y") == ((1L, 3L, 333333L)))
  }

  test("valueCounts orders by count desc then key") {
    val df = Seq("b", "a", "a", "c", "c").toDF("k")
    val got = Relational.valueCounts(df, "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 2L), ("c", 2L), ("b", 1L)))
  }

  test("asOfJoin picks the latest right row at or before each left ts") {
    val left = Seq((1L, 10L, 100L), (1L, 25L, 101L), (2L, 5L, 102L))
      .toDF("k", "t", "lid")
    val right = Seq((1L, 5L, 7L, 0.5), (1L, 10L, 8L, 0.6), (1L, 20L, 9L, 0.7))
      .toDF("k", "t", "rid", "v")
    val out = Relational.asOfJoin(left, right, "k", "t", "lid", "rid", Seq("rid", "v"))
      .orderBy("lid").collect()
    // lid 100 at t=10: right rows at 5 and 10 qualify (≤) → rid 8
    assert(out(0).getLong(3) == 8L && out(0).getDouble(4) == 0.6)
    // lid 101 at t=25 → rid 9
    assert(out(1).getLong(3) == 9L)
    // lid 102: key 2 has no right rows → nulls
    assert(out(2).isNullAt(3) && out(2).isNullAt(4))
  }

  test("asOfJoin propagates the matched right row atomically (null payload fields stay null)") {
    val left = Seq((1L, 3L, 100L)).toDF("k", "t", "lid")
    val right = Seq((1L, 1L, 7L, Some(0.5)), (1L, 2L, 8L, None: Option[Double]))
      .toDF("k", "t", "rid", "v")
    val out = Relational.asOfJoin(left, right, "k", "t", "lid", "rid", Seq("rid", "v"))
      .collect()(0)
    // latest right row is (rid=8, v=null) — v must NOT leak 0.5 from rid=7
    assert(out.getLong(3) == 8L)
    assert(out.isNullAt(4))
  }

  test("bandJoin assigns rows to containing [lo, hi) bands") {
    val df = Seq((1L, 0.0), (2L, 99.9), (3L, 100.0), (4L, 250.0)).toDF("id", "v")
    val bands = Seq((1, 0.0, 100.0), (2, 100.0, 200.0), (3, 200.0, 300.0))
      .toDF("band_id", "band_lo", "band_hi")
    val got = Relational.bandJoin(df, bands, "v").orderBy("id")
      .select("band_id").collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1, 1, 2, 3))
  }

  test("sessionize splits on gap and aggregates bounds") {
    val df = Seq((1L, 1L, 0L), (1L, 2L, 10L), (1L, 3L, 100L), (1L, 4L, 1000L),
      (2L, 5L, 7L))
      .toDF("user_id", "event_id", "ts")
    val out = EventOps.sessionizeOn(df, col("ts"), 50L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(
      (1L, 1L, 2L, 0L, 10L),
      (1L, 2L, 1L, 100L, 100L),
      (1L, 3L, 1L, 1000L, 1000L),
      (2L, 1L, 1L, 7L, 7L)))
  }

  test("funnelStages advances only on the next stage with strictly later ts") {
    val ev = Seq(
      // user 1 completes view(10) → click(20) → purchase(30)
      (1L, 10L, 100L, "view"), (1L, 20L, 101L, "click"), (1L, 30L, 102L, "purchase"),
      // user 2: click before view — view(20) alone, stage 1
      (2L, 10L, 200L, "click"), (2L, 20L, 201L, "view"),
      // user 3: click at the SAME ts as view — strict > rejects it, stage 1
      (3L, 10L, 300L, "view"), (3L, 10L, 301L, "click"),
      // user 4: nothing relevant
      (4L, 10L, 400L, "error")
    ).toDF("user_id", "ts_us", "event_id", "event_type")
    val got = graft.operators.EventOps
      .funnelStages(ev, col("ts_us"), Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("retentionCohorts counts distinct users per cohort and offset") {
    val ev = Seq(
      (1L, 0L), (1L, 0L), (1L, 2L),   // user 1: cohort 0, active days 0 and 2
      (2L, 0L), (2L, 1L),             // user 2: cohort 0, days 0 and 1
      (3L, 2L)                        // user 3: cohort 2, day 2 only
    ).toDF("user_id", "day")
    val got = graft.operators.EventOps.retentionCohorts(ev, col("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 0L, 2L), (0L, 1L, 1L), (0L, 2L, 1L), (2L, 0L, 1L)))
  }

  test("firstEventPerKey keeps earliest (ts, event_id) row") {
    val df = Seq((1L, "c", 30L, 9L), (1L, "c", 10L, 5L), (1L, "c", 10L, 3L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val out = DedupOps.keepFirstPerKey(df, Seq("user_id", "event_type"),
      Seq("ts", "event_id"))
    assert(out.select("event_id").collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("upsert replaces same-key rows and passes the rest through") {
    val current = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq((2L, "B"), (4L, "D")).toDF("k", "v")
    val got = graft.operators.Relational.upsert(current, updates, "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
  }

  test("assignSplit: deterministic, complete, roughly proportioned") {
    val df = (0L until 1000L).toDF("id")
    val s1 = Relational.assignSplit(df, "id", 800000, 100000)
    val s2 = Relational.assignSplit(df, "id", 800000, 100000)
    val c1 = s1.groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c1.values.sum == 1000L)
    // deterministic across invocations
    assert(s1.select("id", "split").collect().toSeq == s2.select("id", "split").collect().toSeq)
    // roughly 80/10/10 (hash uniformity; generous bounds)
    assert(c1("train") > 700 && c1("train") < 880)
    assert(c1("val") > 50 && c1("test") > 50)
  }

  test("chunkWindows covers every token, overlaps by window-stride, final chunk short") {
    // 7 tokens, window 3, stride 2 → starts 0,2,4,6 → sizes 3,3,3,1
    val docs = Seq((1L, "t0 t1 t2 t3 t4 t5 t6", "en")).toDF("doc_id", "text", "lang")
    val out = TextOps.chunkWindows(docs, 3, 2).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 1L)))
  }

  test("chunkWindows exact-multiple length emits no empty trailing chunk") {
    // 4 tokens, window 2, stride 2 → starts 0,2 only (never start 4)
    val docs = Seq((1L, "a b c d", "en")).toDF("doc_id", "text", "lang")
    val out = TextOps.chunkWindows(docs, 2, 2).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 2L), (1L, 2L)))
  }

  test("chunkWindows single short doc yields one whole-doc chunk") {
    val docs = Seq((1L, "a b", "en")).toDF("doc_id", "text", "lang")
    val out = TextOps.chunkWindows(docs, 40, 30).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 2L)))
  }

  test("wordCounts and termFrequencies") {
    val docs = Seq((1L, "a b a", "en"), (2L, "b c", "en")).toDF("doc_id", "text", "lang")
    val wc = TextOps.wordCounts(docs).collect()
      .map(r => (r.getString(1), r.getLong(2))).toMap
    assert(wc == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
    val tf = TextOps.termFrequencies(docs).orderBy("doc_id", "word").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(tf == Seq((1L, "a", 2L), (1L, "b", 1L), (2L, "b", 1L), (2L, "c", 1L)))
  }

  test("tfIdfTopTerms ranks rarer-but-frequent terms first") {
    val docs = Seq(
      (1L, "rare rare common", "en"),
      (2L, "common other", "en"),
      (3L, "common other", "en")).toDF("doc_id", "text", "lang")
    val top = TextOps.tfIdfTopTerms(docs, 1).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    // doc1: rare tf=2 df=1 → score 2M; common tf=1 df=3 → 333k
    assert(top(1L) == "rare")
  }

  test("textQuality integer arithmetic") {
    // text "aa b a" → 3 words, n_chars 6, word-chars 4, stopwords {a}: 1 hit
    val docs = Seq((1L, "aa b a", 6L)).toDF("doc_id", "text", "n_chars")
    val r = TextOps.textQuality(docs, Seq("a")).collect()(0)
    assert(r.getLong(1) == 3L)             // n_words
    assert(r.getLong(2) == 1333333L)       // (6-2)*1e6 div 3
    assert(r.getLong(3) == 333333L)        // 1*1e6 div 3
  }

  test("languageId picks the lang with most marker hits") {
    val docs = Seq((1L, "der die das scan", "xx")).toDF("doc_id", "text", "lang")
    val r = TextOps.languageId(docs, Map(
      "de" -> Seq("der", "die", "das"), "en" -> Seq("scan", "join"))).collect()(0)
    assert(r.getString(2) == "de" && r.getLong(3) == 3L)
  }

  test("stratifiedSample: per-stratum hash-rate membership, deterministic") {
    val df = (1L to 400L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val out = graft.operators.Relational
      .stratifiedSample(df, "lang", "id", Map("en" -> 500000), defaultPpm = 0)
    val rows = out.collect()
    // default 0 ppm drops the whole 'de' stratum
    assert(rows.forall(_.getString(1) == "en"))
    // membership is exactly "bucket < rate" — rerun yields identical ids
    val again = graft.operators.Relational
      .stratifiedSample(df, "lang", "id", Map("en" -> 500000), defaultPpm = 0)
    assert(rows.map(_.getLong(0)).toSet == again.collect().map(_.getLong(0)).toSet)
    // ~50% of the en stratum within a loose band (md5 is uniform)
    assert(rows.length > 60 && rows.length < 140)
  }

  test("decontaminate flags docs sharing >= minShared n-grams with the benchmark") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over dog"),   // shares 3 distinct trigrams
      (2L, "totally different words here now")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps away")).toDF("doc_id", "text")
    val out = graft.operators.DedupOps.decontaminate(corpus, bench, 3, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // shared trigrams: "the quick brown", "quick brown fox", "brown fox jumps"
    assert(out.toSeq == Seq((1L, 100L, 3L)))
  }

  test("scrubPii masks urls and emails and counts matches") {
    val docs = Seq(
      (1L, "see https://example.com/x and mail bob.smith@corp.io today"),
      (2L, "nothing sensitive here")).toDF("doc_id", "text")
    val rows = TextOps.scrubPii(docs).collect()
    assert(rows(0).getLong(1) == 1L && rows(0).getLong(2) == 1L)
    assert(rows(0).getString(3).startsWith("see <URL> and mail <EMAIL> today"))
    assert(rows(1).getLong(1) == 0L && rows(1).getLong(2) == 0L)
    assert(rows(1).getString(3) == "nothing sensitive here")
  }

  test("scrubPii email dot is literal: count and replace agree (regression)") {
    // 'x@ab_cd' must NOT match — an expr()-interpolated pattern loses the
    // \. escape at the SQL-literal layer and would count it as an email
    val docs = Seq((1L, "ping x@ab_cd and real.person@site.org ok"))
      .toDF("doc_id", "text")
    val r = graft.operators.TextOps.scrubPii(docs).collect()(0)
    assert(r.getLong(2) == 1L, s"n_emails=${r.getLong(2)} (dot no longer literal?)")
    assert(r.getString(3) == "ping x@ab_cd and <EMAIL> ok")
  }

  test("repetitionStats: hand-computed duplicate-word and bigram shares") {
    // "a a a b": 4 words, 2 distinct, dup ppm = 2*1e6/4 = 500000,
    // top word 'a' ×3; bigrams [a a, a a, a b]: top 'a a' ×2 of 3
    val docs = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(docs).collect()(0)
    assert(r.getLong(1) == 4L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 500000L)
    assert(r.getLong(4) == 3L)
    assert(r.getLong(5) == 2L)
    assert(r.getLong(6) == 666666L)
  }

  test("packSequences matches a driver-side sequential-packing replay") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val budget = 128L
    val shardDocs = 100L
    val got = TextOps.packSequences(docs, budget, shardDocs)
      .collect()
      .map(r => ((r.getString(0), r.getLong(1), r.getLong(2)),
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // reference: per (source, shard) in doc_id order, running-total bins
    val toks = TextOps.tokenCounts(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
      .select("source", "doc_id", "n_tokens").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(toks.nonEmpty)
    val expected = toks.groupBy(t => (t._1, t._2 / shardDocs)).flatMap {
      case ((src, shard), rows) =>
        var cum = 0L
        rows.sortBy(_._2).map { case (_, docId, n) =>
          val bin = cum / budget; cum += n
          ((src, shard, bin), (docId, n))
        }.groupBy(_._1).map { case (k, vs) =>
          k -> (vs.length.toLong, vs.map(_._2._2).sum,
            vs.map(_._2._1).min, vs.map(_._2._1).max)
        }
    }.toMap
    assert(got == expected)
    // conservation: every token lands in exactly one bin
    assert(got.values.map(_._2).sum == toks.map(_._3).sum)
  }

  test("asOfJoinForward matches earliest at-or-after with tie-break") {
    val left = Seq((1L, 10L, 100L), (1L, 25L, 101L), (2L, 5L, 102L))
      .toDF("k", "t", "lid")
    val right = Seq(
      (1L, 10L, 7L, 70L),  // equal-ts match for lid=100 (>= includes ties)
      (1L, 10L, 9L, 90L),  // same ts, larger tie-break — must lose
      (1L, 30L, 3L, 30L),  // match for lid=101
      (2L, 4L, 5L, 50L))   // before left ts=5 — lid=102 gets NO match
      .toDF("k", "t", "rid", "v")
    val got = Relational.asOfJoinForward(left, right, "k", "t", "lid", "rid",
      Seq("rid", "v"))
      .orderBy("lid").collect()
      .map(r => (r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    assert(got == Seq((100L, 7L, 70L), (101L, 3L, 30L), (102L, -1L, -1L)))
  }

  test("oovRate matches a driver-side vocab + count replay") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val vocabSize = 10
    val tokens = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val vocab = tokens.values.flatten
      .groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(vocabSize).map(_._1).toSet
    val expected = tokens.map { case (id, ws) =>
      val oov = ws.count(!vocab.contains(_)).toLong
      (id, ws.size.toLong, oov, oov * 1000000L / ws.size)
    }.toSet
    val got = TextOps.oovRate(docs, vocabSize).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
  }

  test("canonicalKeepers picks the most-token-rich member per component") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(pmod(col("doc_id"), lit(4)) === 0)
    val got = DedupOps.canonicalKeepers(docs, 32, 2, 80).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // reference: exact all-pairs jaccard -> union-find -> per-component argmax
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val sets = texts.map { case (id, ws) => id -> ws.toSet }.toMap
    val nToks = texts.map { case (id, ws) => id -> ws.size.toLong }.toMap
    val ids = sets.keys.toSeq.sorted
    val pairs = for {
      i <- ids.indices; j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      common = (sets(a) & sets(b)).size
      if common * 100 >= (sets(a).size + sets(b).size - common) * 80
    } yield (a, b)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .groupBy(find)
    val expected = members.map { case (_, ms) =>
      val clusterId = ms.min
      val keeper = ms.maxBy(id => (nToks(id), -id))
      (clusterId, (ms.size.toLong, ms.map(nToks).sum, ms.map(nToks).max, keeper))
    }
    assert(got == expected)
  }
}
