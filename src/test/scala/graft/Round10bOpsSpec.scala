package graft

import graft.operators.{SimilarityOps, TextOps}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Unit pins for the round-10 second wave: DSIR-style hashed-unigram
  * importance weights, embedding-space decontamination, and the
  * quality-signal language-bias audit. Each op gets an exact
  * driver-side replay (BigInt / hand arithmetic), a degenerate-input
  * pin, the broadcast-parameter parity check (r10 hint discipline),
  * and a plan assert on its scale-critical join strategy.
  */
class Round10bOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- importanceWeights (DSIR-style hashed-unigram score) ----

  /** The engine's portable bucket hash replayed on the driver: first 8
    * hex chars of md5, decoded, mod buckets.
    */
  private def bucketOf(w: String, buckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) % buckets
  }

  /** BigInt replay of the posterior arithmetic with the same add-one
    * smoothing and truncation order as the operator and its oracle.
    */
  private def dsirReplay(docs: Seq[(Long, String)], target: Seq[String],
                         buckets: Int): Seq[(Long, Long, Long)] = {
    val tok = docs.flatMap { case (id, t) =>
      t.split(" ", -1).map(w => (id, bucketOf(w, buckets)))
    }
    val rawCnt = tok.groupBy(_._2).map { case (b, v) => b -> BigInt(v.size) }
    val tgtTok = target.flatMap(_.split(" ", -1)).map(bucketOf(_, buckets))
    val tgtCnt = tgtTok.groupBy(identity).map { case (b, v) => b -> BigInt(v.size) }
    val rTot = rawCnt.values.sum
    val tTot = BigInt(tgtTok.size)
    val b = BigInt(buckets)
    val post = rawCnt.map { case (bk, rc) =>
      val num = (tgtCnt.getOrElse(bk, BigInt(0)) + 1) * (rTot + b)
      val den = (rc + 1) * (tTot + b)
      bk -> (num * 1000000 / (num + den))
    }
    tok.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, occ) =>
      val n = BigInt(occ.size)
      val s = occ.map(o => post(o._2)).sum
      (id, n.toLong, (s / n).toLong)
    }
  }

  test("importanceWeights matches the BigInt posterior replay") {
    val docs = Seq(
      (1L, "x x y", "en"), (2L, "y z", "de"), (3L, "x q q q", "en"),
      (4L, "z z w", "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.importanceWeights(
      docs, docs.filter(col("lang") === "en"), 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = dsirReplay(
      Seq((1L, "x x y"), (2L, "y z"), (3L, "x q q q"), (4L, "z z w")),
      Seq("x x y", "x q q q"), 1024)
    assert(out === expected)
    // the score must actually separate target-like from raw-only text:
    // doc 3 ("x q q q" — all target vocabulary) above doc 4 ("z z w" —
    // none of it)
    val byId = out.map(r => r._1 -> r._3).toMap
    assert(byId(3L) > byId(4L),
      s"target-vocab doc must outscore raw-only doc: $byId")
  }

  test("importanceWeights equals the BigInt replay on random corpora") {
    // the Round10PropertySpec discipline: the distributed plan must
    // agree with a trivially-correct driver-side replay on EVERY random
    // input — small vocab over few buckets forces hash collisions, so
    // the collision path is exercised, not dodged
    val params = SCTest.Parameters.default.withMinSuccessfulTests(10)
    val corpusGen = for {
      n <- Gen.choose(2, 10)
      texts <- Gen.listOfN(n, Gen.listOfN(3,
        Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")).map(_.mkString(" ")))
      mask <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield texts.zipWithIndex.map { case (t, i) =>
      // force ≥1 target doc (the empty-target loud guard is pinned below)
      (i.toLong, t, if (mask(i) || i == 0) "en" else "de")
    }
    val res = SCTest.check(params, Prop.forAll(corpusGen) { docs =>
      val df = docs.toDF("doc_id", "text", "lang")
      val out = TextOps.importanceWeights(
        df, df.filter(col("lang") === "en"), 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      out == dsirReplay(docs.map(d => (d._1, d._2)),
        docs.filter(_._3 == "en").map(_._2), 64)
    })
    assert(res.passed, res.status.toString)
  }

  test("importanceResample keeps exactly the docs whose md5 gate clears their score") {
    // ids chosen so the SALTED md5 gates span the posterior range
    // (13→339385 and 6→468062 ppm clear a mid-range score; 4→684686
    // and 8→974991 won't) — the strict-subset assertion below can't
    // luck into 0/4 or 4/4. The 'dsir:' salt is the ADVICE-r10 domain
    // separation from assignSplit's unsalted key hash.
    val docs = Seq(
      (6L, "x x y", "en"), (8L, "y z", "de"), (13L, "x q q q", "en"),
      (4L, "z z w", "de"))
      .toDF("doc_id", "text", "lang")
    val weights = TextOps.importanceWeights(
      docs, docs.filter(col("lang") === "en"), 1024)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def gate(id: Long): Long = {
      val hex = md.digest(s"dsir:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 1000000L
    }
    val expected = weights.toSeq.sortBy(_._1)
      .filter { case (id, (_, ppm)) => gate(id) < ppm }
      .map { case (id, (n, ppm)) => (id, n, ppm, gate(id)) }
    val out = TextOps.importanceResample(
      docs, docs.filter(col("lang") === "en"), 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out === expected)
    assert(out.nonEmpty && out.size < 4,
      s"fixture should keep a strict subset, kept ${out.size}/4")
  }

  test("importanceWeights fails loudly on an empty target corpus") {
    val docs = Seq((1L, "x y")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextOps.importanceWeights(docs, docs.filter(lit(false)), 64).collect()
    }
    assert(e.getMessage.contains("empty target corpus"),
      s"expected the loud empty-target guard, got: ${e.getMessage}")
  }

  test("importanceWeights: broadcast parameter changes the plan, not the rows") {
    val docs = Seq(
      (1L, "a b c"), (2L, "c d"), (3L, "a a e")).toDF("doc_id", "text")
    val tgt = docs.filter(col("doc_id") === 1L)
    val on = TextOps.importanceWeights(docs, tgt, 256, broadcastBuckets = true)
    val off = TextOps.importanceWeights(docs, tgt, 256, broadcastBuckets = false)
    assert(on.collect().toSeq === off.collect().toSeq)
    // the scale contract: the bucket table joins broadcast when hinted —
    // the token stream must never shuffle for the join
    assert(on.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "hinted bucket join must be a BroadcastHashJoin")
  }

  // ---- crossCosinePairs (semantic decontamination) ----

  test("crossCosinePairs flags the cosine hit and nothing else") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),               // identical to bench 10
      (2L, Array(0.0f, 1.0f)),               // orthogonal
      (3L, Array(-1.0f, 0.0f)))              // anti-parallel (dot < 0)
      .toDF("vec_id", "embedding")
    val bench = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.crossCosinePairs(corpus, bench, 90)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // dot_s = (1e7)² = 1e14 for the exact match
    assert(out.toSeq === Seq((1L, 10L, 100000000000000L)))
  }

  test("crossCosinePairs: broadcast parameter changes the plan, not the rows") {
    val corpus = Seq((1L, Array(0.6f, 0.8f)), (2L, Array(0.8f, 0.6f)))
      .toDF("vec_id", "embedding")
    val bench = Seq((9L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val on = SimilarityOps.crossCosinePairs(corpus, bench, 80)
    val off = SimilarityOps.crossCosinePairs(corpus, bench, 80,
      broadcastBench = false)
    assert(on.collect().toSeq === off.collect().toSeq)
    assert(on.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"),
      "hinted bench side must drive a broadcast nested-loop pass")
  }

  test("crossCosinePairs rejects a nonsense threshold") {
    val df = Seq((1L, Array(1.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      SimilarityOps.crossCosinePairs(df, df, 0)
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.crossCosinePairs(df, df, 101)
    }
  }

  // ---- qualityLangBias (quality-score × language calibration) ----

  test("qualityLangBias matches hand arithmetic") {
    val docs = Seq(
      // nw=2 sc=1 → 500000 ppm → bucket 500000*10 div 1000001 = 4
      (1L, "the cat", "en", 7L),
      // nw=2 sc=0 → 0 ppm → bucket 0
      (2L, "cat dog", "en", 7L),
      // nw=2 sc=1 → bucket 4 (und is in the list)
      (3L, "und cat", "de", 7L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val out = TextOps.qualityLangBias(docs, Seq("the", "und"), 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(out === Seq(
      (0L, "en", 1L, 1L, 1000000L),
      (4L, "de", 1L, 2L, 500000L),
      (4L, "en", 1L, 2L, 500000L)))
  }

  test("qualityLangBias: a saturated-stopword doc lands in the top bucket") {
    // stopword_ppm = 1000000 must map to bucket nBuckets-1, not nBuckets
    // (the 1000001 divisor guards the edge)
    val docs = Seq((1L, "the the", "en", 7L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val out = TextOps.qualityLangBias(docs, Seq("the"), 10).collect()
    assert(out.length === 1 && out.head.getLong(0) === 9L)
  }

  test("qualityLangBias sends NULL-text docs to sentinel bucket -1, not away") {
    // a missing-text slice correlated with a language must stay VISIBLE
    // in the audit (the ADVICE-r9 null-drop class applied to the auditor)
    val docs = Seq(
      (1L, "the cat", "en", 7L),
      (2L, null.asInstanceOf[String], "zh", 0L),
      (3L, null.asInstanceOf[String], "zh", 0L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val out = TextOps.qualityLangBias(docs, Seq("the"), 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(out === Seq(
      (-1L, "zh", 2L, 2L, 1000000L),
      (4L, "en", 1L, 1L, 1000000L)))
  }

  test("qualityLangBias rejects degenerate parameters") {
    val docs = Seq((1L, "a", "en", 1L)).toDF("doc_id", "text", "lang", "n_chars")
    intercept[IllegalArgumentException] {
      TextOps.qualityLangBias(docs, Seq("a"), 1)
    }
    intercept[IllegalArgumentException] {
      TextOps.qualityLangBias(docs, Seq.empty, 10)
    }
  }
}
