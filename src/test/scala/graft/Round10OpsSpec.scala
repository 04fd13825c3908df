package graft

import graft.operators.{DedupOps, Relational, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._

/** Unit pins for the round-10 hardening set (VERDICT r9 tasks 1-5 +
  * ADVICE r9): the comment-level caveats converted into code paths —
  * bounded negative sampling, the Decimal kappa arm, null-safe
  * k-anonymity, loud/zero-safe constraint audits, and the
  * parameterized tf-idf vocabulary broadcast.
  */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- labelAgreementKappa: Decimal(38,0) pe arm (VERDICT r9 #2) ----

  test("kappaFromPredictions matches BigInt arithmetic past the old 3e6 Long cliff") {
    // 4M rows — past the former raise_error guard (pe_num·1e6 needs
    // >2^63 here: marginals ~1.33e6 each, pe_num ~5.3e12, ·1e6 = 5.3e18
    // is still inside Long, so push the skew: one label holds 3.6M rows
    // → pe_num ≈ 3.6e6·3.2e6 ≈ 1.2e13, ·1e6 ≈ 1.2e19 > 2^63 ≈ 9.2e18.
    val n = 4000000L
    val pred = spark.range(n).select(
      when(col("id") < 3600000L, 0L).otherwise(col("id") % 3).as("label"),
      when(col("id") % 10 === 0, col("id") % 3).otherwise(0L).as("pred_label"))
    val out = SimilarityOps.kappaFromPredictions(pred)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head
    // replay exactly in BigInt with the same truncation sequence
    val rows = (0L until n).iterator.map { id =>
      val label = if (id < 3600000L) 0L else id % 3
      val predL = if (id % 10 == 0) id % 3 else 0L
      (label, predL)
    }.toSeq
    val agree = rows.count { case (a, b) => a == b }.toLong
    val rm = rows.groupBy(_._1).map { case (k, v) => k -> BigInt(v.size) }
    val cm = rows.groupBy(_._2).map { case (k, v) => k -> BigInt(v.size) }
    val peNum = (rm.keySet ++ cm.keySet).toSeq
      .map(k => rm.getOrElse(k, BigInt(0)) * cm.getOrElse(k, BigInt(0))).sum
    assert(peNum * 1000000 > BigInt(Long.MaxValue),
      "fixture must actually cross the old Long-arithmetic cliff")
    val poPpm = (BigInt(agree) * 1000000 / BigInt(n)).toLong
    val pePpm = (peNum * 1000000 / (BigInt(n) * BigInt(n))).toLong
    val kappaPpm =
      if (pePpm == 1000000L) 0L
      else (poPpm - pePpm) * 1000000L / (1000000L - pePpm)
    assert(out === ((n, agree, poPpm, pePpm, kappaPpm)))
  }

  test("kappaFromPredictions agrees with hand arithmetic on a small frame") {
    // confusion matrix: labels 0/1, preds 0/1 — n=10, agree=7,
    // rm=(6,4), cm=(7,3), pe_num = 6*7+4*3 = 54
    val pred = (Seq.fill(5)((0L, 0L)) ++ Seq.fill(1)((0L, 1L)) ++
      Seq.fill(2)((1L, 0L)) ++ Seq.fill(2)((1L, 1L)))
      .toDF("label", "pred_label")
    val out = SimilarityOps.kappaFromPredictions(pred).collect().head
    assert(out.getLong(0) === 10L && out.getLong(1) === 7L)
    assert(out.getLong(2) === 700000L)             // po = 7e6/10
    assert(out.getLong(3) === 540000L)             // pe = 54e6/100
    assert(out.getLong(4) === (700000L - 540000L) * 1000000L / 460000L)
  }

  test("kappaFromPredictions fails loudly on empty input (ADVICE r9)") {
    val empty = Seq.empty[(Long, Long)].toDF("label", "pred_label")
    val e = intercept[Exception] {
      SimilarityOps.kappaFromPredictions(empty).collect()
    }
    assert(e.getMessage.contains("labelAgreementKappa"),
      s"expected the loud empty-input guard, got: ${e.getMessage}")
  }

  test("kappaFromPredictions pairs NULL marginals null-safely in pe") {
    // rows: (0,0), (NULL,0), (NULL,NULL), (1,1) — NULL labels count in
    // n and in BOTH marginals (<=> pairing), never in agreement:
    // rm = {0:1, NULL:2, 1:1}, cm = {0:2, NULL:1, 1:1},
    // pe_num = 1·2 + 2·1 + 1·1 = 5 (a === join silently drops the
    // NULL·NULL product and understates pe — inflating kappa)
    val pred = Seq((Some(0L), Some(0L)), (None, Some(0L)),
      (Option.empty[Long], Option.empty[Long]), (Some(1L), Some(1L)))
      .toDF("label", "pred_label")
    val out = SimilarityOps.kappaFromPredictions(pred).collect().head
    assert(out.getLong(0) === 4L && out.getLong(1) === 2L)
    assert(out.getLong(2) === 500000L)                 // po = 2e6 div 4
    assert(out.getLong(3) === 312500L)                 // pe = 5e6 div 16
    assert(out.getLong(4) === 187500L * 1000000L / 687500L)
  }

  // ---- checkConstraints hardening (ADVICE r9) ----

  test("checkConstraints on an EMPTY table audits 0 violations / pass, not NULL") {
    val empty = Seq.empty[(Long, Double)].toDF("id", "qty")
    val out = Relational.checkConstraints(empty,
      violations = Seq("qty_positive" -> (col("qty") < 0)),
      uniqueKeys = Seq("id_unique" -> Seq("id")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq === Seq(("id_unique", 0L, true), ("qty_positive", 0L, true)))
  }

  test("checkConstraints rejects injection-prone and colliding constraint names") {
    val rows = Seq((1L, 1.0)).toDF("id", "qty")
    def bad(name: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        Relational.checkConstraints(rows,
          violations = Seq(name -> (col("qty") < 0)))
      }
      assert(e.getMessage.contains("constraint name"), s"name '$name': $e")
    }
    bad("it's")        // single quote would break the stack() literal
    bad("a`b")         // backtick would break the quoted identifier
    bad("__n")         // leading underscore reserved for internal columns
    bad("has space")
    val dup = intercept[IllegalArgumentException] {
      Relational.checkConstraints(rows,
        violations = Seq("c1" -> (col("qty") < 0), "c1" -> (col("qty") > 9)))
    }
    assert(dup.getMessage.contains("duplicate"))
  }

  // ---- kAnonymize null-safe join (ADVICE r9) ----

  test("kAnonymize counts and suppresses NULL-bearing quasi combos instead of dropping them") {
    val rows = Seq(
      (1L, Some("a"), Some("1")), (2L, Some("a"), Some("1")),
      (3L, Some("a"), Some("1")),
      (4L, None, Some("1")), (5L, None, Some("1")),  // NULL city, 2 rows
      (6L, Some("c"), None))                          // NULL band, 1 row
      .toDF("id", "city", "band")
    val out = Relational.kAnonymize(rows, "id", Seq("city", "band"), k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getBoolean(4)))
    // every input row survives — NULL combos are suppressed, not lost
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(out.toSeq === Seq(
      (1L, "a", "1", 3L, false), (2L, "a", "1", 3L, false),
      (3L, "a", "1", 3L, false),
      (4L, "*", "*", 2L, true), (5L, "*", "*", 2L, true),
      (6L, "*", "*", 1L, true)))
  }

  // ---- negativeSamples bounded by construction (VERDICT r9 #1) ----

  private def negCorpus(n: Int) = spark.range(n.toLong)
    .select(col("id").as("doc_id"),
      concat(lit("w"), col("id") % 7, lit(" x"), col("id") % 11).as("text"))

  test("negativeSamples rate-samples the candidate side to ~expectedCandidates") {
    val docs = negCorpus(500)
    val pairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val out = DedupOps.negativeSamples(docs, pairs, k = 3,
      expectedCandidates = 16)
    // distinct candidates drawn across ALL anchors = the sampled pool
    // (±self-exclusion): concentration around 16 — hard-bound it well
    // below the 500-id corpus and above zero
    val pool = out.select("cand_id").distinct().count()
    assert(pool >= 4 && pool <= 48,
      s"sampled candidate pool should concentrate near 16, got $pool")
    // per-anchor output is exactly k (pool ≫ k, no positives to remove)
    val perAnchor = out.groupBy("anchor_id").count()
      .agg(min("count"), max("count")).collect().head
    assert(perAnchor.getLong(0) === 3L && perAnchor.getLong(1) === 3L)
  }

  test("negativeSamples saturates to the exact full grid on small corpora") {
    val docs = negCorpus(20)
    val pairs = Seq((0L, 1L)).toDF("a_id", "b_id")
    val bounded = DedupOps.negativeSamples(docs, pairs, k = 2,
      expectedCandidates = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // expectedCandidates ≥ corpus ⇒ candPpm saturates at 1e6 ⇒ identical
    // to the unbounded form: every anchor gets k, the positive pair is
    // excluded in both orientations
    assert(bounded.length === 40)
    val asPairs = bounded.map(r => (r._1, r._2)).toSet
    assert(!asPairs.contains((0L, 1L)) && !asPairs.contains((1L, 0L)),
      "verified positives must never be emitted as negatives")
  }

  test("negativeSamples membership is partitioning-invariant") {
    val docs = negCorpus(300)
    val pairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val a = DedupOps.negativeSamples(docs, pairs, 2, expectedCandidates = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val b = DedupOps.negativeSamples(docs.repartition(13), pairs, 2,
      expectedCandidates = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a === b)
  }

  // ---- tfIdfTopTerms broadcast parameter (VERDICT r9 hygiene) ----

  test("tfIdfTopTerms emits identical rows with and without the vocab broadcast") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val hinted = TextOps.tfIdfTopTerms(docs, 3, broadcastVocab = true)
      .collect().toSeq
    val shuffled = TextOps.tfIdfTopTerms(docs, 3, broadcastVocab = false)
      .collect().toSeq
    assert(hinted === shuffled)
  }

  test("tfidfCosinePairs / rarityScores: broadcast parameter does not change rows") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(pmod(col("doc_id"), lit(10)) === 0)
    assert(DedupOps.tfidfCosinePairs(docs, 30, broadcastVocab = true)
      .collect().toSeq ===
      DedupOps.tfidfCosinePairs(docs, 30, broadcastVocab = false)
        .collect().toSeq)
    assert(TextOps.rarityScores(docs, broadcastVocab = true)
      .collect().toSeq ===
      TextOps.rarityScores(docs, broadcastVocab = false)
        .collect().toSeq)
  }

  test("nullProfile on an EMPTY table reports zero nulls, not unknown (ADVICE r9 class)") {
    val empty = Seq.empty[(Long, Option[String])].toDF("id", "tag")
    val out = Relational.nullProfile(empty, Seq("id", "tag"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    // n_nulls = 0 (an empty table HAS zero nulls); null_ppm stays NULL
    // because a ratio over zero rows is undefined — and n_rows=0 says so
    assert(out.toSeq === Seq(("id", 0L, 0L, None), ("tag", 0L, 0L, None)))
  }

  test("negativeSamples returns empty on an empty corpus") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyPairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(DedupOps.negativeSamples(emptyDocs, emptyPairs, k = 2,
      expectedCandidates = 16).isEmpty)
  }

  // ---- interpolated-string guards (the constraint-name class) ----

  test("interpolated-string inputs are validated, not spliced (injection class)") {
    val e = intercept[IllegalArgumentException] {
      graft.sources.StorageOps.writeBucketedTable(
        spark.range(1).toDF(), "t`b", "id", 2)
    }
    assert(e.getMessage.contains("unsafe table name"))
  }

  // ---- conf-governed reliable lineage checkpoints (r10) ----

  test("spark.graft.checkpointDir flips lineage truncation to reliable checkpoints") {
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val base = DedupOps.jaccardPairs(docs, 50).collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    try {
      spark.conf.set(graft.operators.Lineage.ConfKey, dir.getAbsolutePath)
      // identical rows through the reliable-checkpoint path...
      assert(DedupOps.jaccardPairs(docs, 50).collect().toSeq === base)
      // ...and the checkpoint actually landed in external storage
      def walk(f: java.io.File): Seq[java.io.File] =
        Seq(f) ++ Option(f.listFiles).toSeq.flatten.flatMap(walk)
      assert(walk(dir).exists(_.getName.startsWith("rdd-")),
        s"no reliable checkpoint written under $dir")
    } finally spark.conf.unset(graft.operators.Lineage.ConfKey)
  }

  // ---- mixtureEpochs / dedupTokensSaved (round-10 curation ops) ----

  private def mixDocs = Seq(
    (1L, "aa bb", "A"), (2L, "cc dd", "A"),   // A: 2 docs × 2 tokens = 4
    (3L, "x1 y2", "B"))                        // B: x,1,y,2 → 4 tokens
    .toDF("doc_id", "text", "source")

  test("mixtureEpochs agrees with hand arithmetic") {
    val w = Seq(("A", 750000L), ("B", 250000L)).toDF("source", "weight_ppm")
    val out = TextOps.mixtureEpochs(mixDocs, w, budgetTokens = 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      ("A", 4L, 750000L, 750L, 187500000L),   // 750·1e6 div 4
      ("B", 4L, 250000L, 250L, 62500000L)))
  }

  test("mixtureEpochs fails loudly when a planned source has no tokens") {
    val w = Seq(("A", 500000L), ("C", 500000L)).toDF("source", "weight_ppm")
    val e = intercept[Exception] {
      TextOps.mixtureEpochs(mixDocs, w, budgetTokens = 1000L).collect()
    }
    assert(e.getMessage.contains("unservable"),
      s"expected the unservable-mixture guard, got: ${e.getMessage}")
  }

  test("mixtureEpochs keeps unweighted observed sources visible at zero") {
    val w = Seq(("A", 1000000L)).toDF("source", "weight_ppm")
    val out = TextOps.mixtureEpochs(mixDocs, w, budgetTokens = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // B is observed but unplanned: weight/target/epochs 0, row NOT
    // dropped (the ADVICE-r9 vanishing-row class)
    assert(out.toSeq === Seq(
      ("A", 4L, 1000000L, 100L, 25000000L),
      ("B", 4L, 0L, 0L, 0L)))
  }

  test("mixtureEpochs rejects malformed weights relations loudly") {
    // duplicate source row: would silently fan out the planner join
    val dup = Seq(("A", 600000L), ("A", 400000L)).toDF("source", "weight_ppm")
    val e1 = intercept[Exception] {
      TextOps.mixtureEpochs(mixDocs, dup, budgetTokens = 1000L).collect()
    }
    assert(e1.getMessage.contains("duplicate weight row"),
      s"expected the duplicate-source guard, got: ${e1.getMessage}")
    val neg = Seq(("A", -5L), ("B", 1000005L)).toDF("source", "weight_ppm")
    val e2 = intercept[Exception] {
      TextOps.mixtureEpochs(mixDocs, neg, budgetTokens = 1000L).collect()
    }
    assert(e2.getMessage.contains("negative weight_ppm"),
      s"expected the negative-weight guard, got: ${e2.getMessage}")
    // NULL weight is malformed too — it must not silently become 0
    val nul = Seq(("A", Some(600000L)), ("B", Option.empty[Long]))
      .toDF("source", "weight_ppm")
    val e3 = intercept[Exception] {
      TextOps.mixtureEpochs(mixDocs, nul, budgetTokens = 1000L).collect()
    }
    assert(e3.getMessage.contains("NULL weight_ppm"),
      s"expected the NULL-weight guard, got: ${e3.getMessage}")
  }

  test("mixtureEpochs joins NULL-source supply to a NULL-source weight null-safely") {
    // a NULL source grouping must meet its weight row as ONE planner
    // row — the non-null-safe join split them and spuriously tripped
    // the unservable guard on the weight half
    val docs = Seq((1L, "aa bb", Option.empty[String]),
      (2L, "cc", Some("A"))).toDF("doc_id", "text", "source")
    val w = Seq((Option.empty[String], 750000L), (Some("A"), 250000L))
      .toDF("source", "weight_ppm")
    val out = TextOps.mixtureEpochs(docs, w, budgetTokens = 1000L)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    // Spark ORDER BY is NULLS FIRST ascending
    assert(out.toSeq === Seq(
      (None, 2L, 750000L, 750L, 375000000L),
      (Some("A"), 1L, 250000L, 250L, 250000000L)))
  }

  test("mixtureEpochs returns empty on empty docs + empty weights") {
    val emptyDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    val emptyW = Seq.empty[(String, Long)].toDF("source", "weight_ppm")
    assert(TextOps.mixtureEpochs(emptyDocs, emptyW, 10L).isEmpty)
  }

  test("dedupTokensSaved charges cross-source duplicates to the duplicating feed") {
    val docs = Seq(
      (1L, "aa bb", "s1"),      // keeper (global first for 'aa bb')
      (2L, "aa bb", "s1"),      // intra-source dup: 2 tokens charged
      (3L, "aa bb", "s2"),      // CROSS-source dup of doc 1: charged to s2
      (4L, "zz", "s2"))         // unique
      .toDF("doc_id", "text", "source")
    val out = DedupOps.dedupTokensSaved(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq === Seq(
      ("s1", 2L, 4L, 1L, 2L, 500000L),
      ("s2", 2L, 3L, 1L, 2L, 666666L)))   // 2·1e6 div 3, truncated
  }

  test("dedupTokensSaved: NULL-text docs stay in the accounting (null-join class)") {
    val docs = Seq((1L, Some("aa"), "s1"), (2L, None, "s1"), (3L, None, "s2"))
      .toDF("doc_id", "text", "source")
    val out = DedupOps.dedupTokensSaved(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // doc 2 and 3 share the sentinel fingerprint: doc 3 is a dup of
    // doc 2 (global first), both rows COUNTED — a NULL md5 would have
    // silently dropped them from the join
    assert(out.toSeq === Seq(
      ("s1", 2L, 1L, 0L, 0L, 0L),
      ("s2", 1L, 0L, 1L, 0L, 0L)))
  }

  test("dedupTokensSaved: zero-token source reports 0 saved, empty corpus is empty") {
    val docs = Seq((1L, "", "s0"), (2L, "", "s0"))
      .toDF("doc_id", "text", "source")
    val out = DedupOps.dedupTokensSaved(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // both docs have identical (empty) text: one dup doc, zero tokens —
    // saved_ppm is the guarded 0, not a NULL/divide-by-zero
    assert(out.toSeq === Seq(("s0", 2L, 0L, 1L, 0L, 0L)))
    val emptyDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    assert(DedupOps.dedupTokensSaved(emptyDocs).isEmpty)
  }
}
