package graft

import graft.multimodal.MultimodalOps
import org.apache.spark.sql.functions._

/** Round-13: the binaryFile media-ingest loop (VERDICT r11 #5). The
  * declared q_media_ingest hash-checks the ingested fingerprints
  * against the DuckDB arithmetic replay; this spec pins the loop's
  * mechanics directly — file materialization from executors, id
  * recovery from file names, byte-exact payload round-trip, and the
  * fingerprint-memoized write skipping when the source is unchanged.
  */
class Round13OpsSpec extends SparkSpec {
  import spark.implicits._

  private def mediaRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"media_$tag").toString

  test("writeMediaFiles → binaryFile scan round-trips ids and bytes exactly") {
    val ids = spark.range(0, 12).select((col("id") * 25).as("media_id"))
    val imgs = MultimodalOps.syntheticImages(ids)
    val root = mediaRoot("rt")
    MultimodalOps.writeMediaFiles(imgs, s"$root/img", "img_")

    // one file per row, named by id, extension from meta.format
    // drop the local-FS checksum sidecars (leading dot — hidden files
    // the binaryFile scan ignores too; HDFS keeps checksums internal)
    val files = new java.io.File(s"$root/img").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    val wantNames = ids.as[Long].collect().map(id => s"img_$id.png").toSet
    assert(files == wantNames)

    // binaryFile scan + regexp id recovery restores the exact payloads
    val back = MultimodalOps.fromBinaryFiles(spark, s"$root/img", "image")
      .withColumn("media_id",
        regexp_extract(col("path"), "img_(\\d+)\\.png$", 1).cast("long"))
      .select("media_id", "payload")
    val origBytes = imgs.select("media_id", "payload").as[(Long, Array[Byte])]
      .collect().map { case (id, b) => id -> b.toSeq }.toMap
    val gotBytes = back.as[(Long, Array[Byte])]
      .collect().map { case (id, b) => id -> b.toSeq }.toMap
    assert(gotBytes == origBytes, "payload bytes must survive the file round-trip")

    // the scan's format metadata comes from the extension
    val fmts = MultimodalOps.fromBinaryFiles(spark, s"$root/img", "image")
      .select("meta.format").distinct().as[String].collect().toSeq
    assert(fmts == Seq("png"))
  }

  test("ingested fingerprints equal the in-plan pipeline's (both modalities)") {
    val d = "/root/testdata/sf0.001"
    val inPlan = Queries.queries("q_media_fingerprint")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val ingested = Queries.queries("q_media_ingest")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ingested.nonEmpty && ingested == inPlan,
      "binaryFile ingest must reproduce the in-plan fingerprints exactly")
  }

  test("media materialization is memoized on the source fingerprint") {
    val d = "/root/testdata/sf0.001"
    Queries.queries("q_media_ingest")(spark, d).collect()
    val root = new java.io.File(
      s"target/media_rb_${math.abs(d.hashCode.toLong)}").getAbsolutePath
    val before = new java.io.File(s"$root/img").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(before.nonEmpty)
    Queries.queries("q_media_ingest")(spark, d).collect()
    val after = new java.io.File(s"$root/img").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after == before,
      "unchanged source must not re-materialize the media files")
  }

  // ---- BPE tokenizer-merge fitting (round-13 L4 addition) ----

  private def mergeViaExpr(vocab: Seq[(String, Long, Seq[String])],
                           l: String, r: String): Map[String, Seq[String]] =
    vocab.toDF("word", "freq", "syms")
      .select(col("word"),
        graft.plans.BpeMergePair.bpeMergePair(col("syms"), lit(l), lit(r))
          .as("syms"))
      .as[(String, Seq[String])].collect().toMap

  test("BpeMergePair applies leftmost-nonoverlapping merges (incl. runs)") {
    val vocab = Seq(
      ("tablet", 1L, Seq("t", "a", "b", "l", "e", "t")),
      ("aaaa", 1L, Seq("a", "a", "a", "a")),
      ("aaa", 1L, Seq("a", "a", "a")),
      ("preexisting", 1L, Seq("aa", "a", "a")), // original == merged symbol
      ("nochain", 1L, Seq("a", "aa", "a")))     // (a,aa) is NOT (a,a)
    val got = mergeViaExpr(vocab, "a", "a")
    assert(got("aaaa") == Seq("aa", "aa"))
    assert(got("aaa") == Seq("aa", "a"))
    assert(got("preexisting") == Seq("aa", "aa"))
    assert(got("nochain") == Seq("a", "aa", "a"))
    assert(got("tablet") == Seq("t", "a", "b", "l", "e", "t"))
    val got2 = mergeViaExpr(vocab, "t", "a")
    assert(got2("tablet") == Seq("ta", "b", "l", "e", "t"))
  }

  test("BpeMergePair equals the windowed relational twin on the corpus vocab") {
    // the real sf0.001 vocabulary, chars exploded — then three merge
    // steps whose pairs are chosen to hit normal, run, and grown-symbol
    // cases; after each step the fused fold and the gaps-and-islands
    // window form must agree word for word
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    var vocab = docs.select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))).as("syms"))
    for ((l, r) <- Seq(("e", "r"), ("t", "t"), ("er", "e"))) {
      val viaExpr = vocab.select(col("word"),
          graft.plans.BpeMergePair.bpeMergePair(col("syms"), lit(l), lit(r))
            .as("syms"))
        .as[(String, Seq[String])].collect().toMap
      val viaWindows = graft.operators.TextOps
        .bpeMergeStepRelational(vocab, l, r)
        .select(col("word"), col("syms"))
        .as[(String, Seq[String])].collect().toMap
      assert(viaExpr == viaWindows, s"divergence applying ($l,$r)")
      vocab = vocab.withColumn("syms",
        graft.plans.BpeMergePair.bpeMergePair(col("syms"), lit(l), lit(r)))
    }
  }

  test("bpeFit reproduces a hand-computed merge sequence") {
    // corpus: 'abab' x3, 'ab' x2, 'ccc' x1 → round 1: (a,b) cnt 3*2+2=8
    // (ties (b,a) cnt 3 and (c,c) cnt 2 lose); after merge: ab-ab x3,
    // ab x2, ccc. round 2: (ab,ab) cnt 3 vs (c,c) cnt 2 → (ab,ab).
    val docs = Seq(
      (1L, "abab abab ab"), (2L, "abab ab ccc")).toDF("doc_id", "text")
    val got = graft.operators.TextOps.bpeFit(docs, rounds = 2, topWords = 10)
      .as[(Long, String, String, Long, Long, Long)].collect().toSeq
    // corpus after r1: abab→[ab,ab] (freq3), ab→[ab] (freq2), ccc (freq1)
    //   corpus_symbols = 3*2 + 2*1 + 1*3 = 11; vocab syms {ab,c} = 2
    // after r2: abab→[abab], corpus = 3*1 + 2 + 3 = 8; {abab,ab,c} = 3
    assert(got == Seq(
      (1L, "a", "b", 8L, 11L, 2L),
      (2L, "ab", "ab", 3L, 8L, 3L)))
  }

  private def recallAt5(got: org.apache.spark.sql.DataFrame,
                        want: org.apache.spark.sql.DataFrame): Double = {
    val g = got.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val w = want.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    (g & w).size.toDouble / w.size
  }

  test("PQ refine recovers recall the raw codes lose (floors pinned)") {
    import graft.operators.SimilarityOps
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qs = (0L until 8L)
    val exact = SimilarityOps.topKDotExact(emb, qs, 5)
    val adc = SimilarityOps.pqTopKExact(emb, "spec_pq", m = 8, kSub = 16,
      iterations = 2, trainSampleMod = 4, qs, topK = 5)
    val refined = SimilarityOps.pqTopKRefined(emb, "spec_pq", m = 8,
      kSub = 16, iterations = 2, trainSampleMod = 4, qs, topK = 5,
      refineCandidates = 100)
    val rAdc = recallAt5(adc, exact)
    val rRef = recallAt5(refined, exact)
    // measured on this corpus: ADC ≈ 0.35–0.45, refined 0.80; the codes
    // are a candidate generator, the exact re-rank is the ranker
    assert(rRef >= 0.75, f"refined recall@5 $rRef%.2f under the 0.75 floor")
    assert(rRef > rAdc, "refine must strictly improve on raw ADC ranking")
    // refined scores are EXACT dots: every (q, n) pair it returns must
    // carry the same score the exact scan assigns that pair
    val exactScores = SimilarityOps.topKDotExact(emb, qs, 5000)
      .select("q_id", "n_id", "score_s14").as[(Long, Long, Long)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    refined.select("q_id", "n_id", "score_s14").as[(Long, Long, Long)]
      .collect().foreach { case (q, n, s) =>
        assert(exactScores((q, n)) == s, s"refined score drift on ($q,$n)")
      }
  }

  test("surprisal scores are exact integer bits and actually filter") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val scored = graft.operators.TextOps.surprisalBits(docs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // replay the definition driver-side on the collected corpus
    val wordsByDoc = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
      .filter(_._2 != null)
      .map { case (id, t) => id -> t.split(" ").toSeq }
    val counts = wordsByDoc.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val total = counts.values.sum
    def bits(w: String): Long =
      java.lang.Long.toBinaryString(total / counts(w)).length - 1L
    val want = wordsByDoc.map { case (id, ws) =>
      val sb = ws.map(bits).sum
      (id, ws.size.toLong, sb, sb * 256L / ws.size)
    }.sortBy(_._1).toSeq
    assert(scored == want, "engine surprisal must equal the driver replay")
    // the filter threshold splits this corpus non-trivially
    val kept = scored.count(_._4 <= 1040L)
    assert(kept > 0 && kept < scored.size,
      s"keep split is degenerate: $kept of ${scored.size}")
  }

  test("codeIvfPq codes streaming micro-batches against the frozen index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SimilarityOps
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val Some((coarse, books)) = SimilarityOps.ivfPqFit(emb, "spec_ivfpq_add",
      kIvf = 8, m = 8, kSub = 16, iterations = 2, trainSampleMod = 4)
    // batch coding of the whole corpus
    val batch = SimilarityOps.codeIvfPq(emb, coarse, books)
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(batch.nonEmpty && batch.forall { case (_, cell, codes) =>
      cell >= 0 && cell < 8 && codes.size == 8 &&
        codes.forall(c => c >= 0 && c < 16)
    })
    assert(batch.map(_._2).distinct.size > 1, "coarse cells must vary")
    // the same rows through a REAL started stream code identically —
    // the FAISS add() shape: frozen books, per-batch pure expressions
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val q = SimilarityOps.codeIvfPq(
        input.toDF().toDF("vec_id", "embedding"), coarse, books)
      .writeStream.format("memory").queryName("ivfpq_add_test")
      .outputMode("append").start()
    try {
      val rows = emb.select(col("vec_id"),
        col("embedding").cast("array<float>"))
        .as[(Long, Seq[Float])].collect()
      input.addData(rows.take(rows.length / 2).toSeq)
      input.addData(rows.drop(rows.length / 2).toSeq)
      q.processAllAvailable()
      val streamed = spark.table("ivfpq_add_test")
        .as[(Long, Long, Seq[Long])].collect().sortBy(_._1).toSeq
      assert(streamed == batch,
        "streamed coding must equal batch coding vector-for-vector")
    } finally q.stop()
  }

  test("BPE merge table round-trips through parquet as the encode artifact") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("bpe_artifact").toString
    // ship the tokenizer: q_bpe_merges' output IS the artifact
    graft.operators.TextOps.bpeFit(docs, rounds = 6, topWords = 31)
      .write.mode("overwrite").parquet(s"$dir/merges")
    val shipped = spark.read.parquet(s"$dir/merges")
      .orderBy("merge_round")
      .select("lsym", "rsym").as[(String, String)].collect().toSeq
    val viaArtifact = graft.operators.TextOps
      .bpeEncodeWithMerges(docs, shipped, topWords = 31)
      .as[(String, Long, Long)].collect().toSeq
    val direct = graft.operators.TextOps.bpeEncode(docs, rounds = 6,
      topWords = 31).as[(String, Long, Long)].collect().toSeq
    assert(viaArtifact == direct,
      "encoding with the shipped merge table must equal the direct encode")
  }

  test("packUtilization reconciles with packSequences; curve is monotone") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val bins = graft.operators.TextOps.packSequences(docs, 128L, 100L)
      .agg(sum("bin_tokens"), count(lit(1))).as[(Long, Long)].collect()(0)
    val util = graft.operators.TextOps.packUtilization(docs, 128L, 100L)
      .agg(sum("packed_tokens"), sum("n_bins")).as[(Long, Long)].collect()(0)
    assert(util == bins, "utilization rollup must conserve tokens and bins")

    val curve = graft.operators.DedupOps.thresholdCurve(docs, 32, 2, 80,
      Seq(800000L, 900000L, 1000000L))
      .as[(Long, Long, Long)].collect().toSeq
    assert(curve.map(_._1) == Seq(800000L, 900000L, 1000000L))
    // tightening the threshold can only shrink pair mass and doc reach
    assert(curve.map(_._2) == curve.map(_._2).sorted.reverse)
    assert(curve.map(_._3) == curve.map(_._3).sorted.reverse)
    // non-vacuous on this corpus: the grid ends strictly below its start
    assert(curve.head._2 > curve.last._2)
  }

  test("IVF-PQ composes probe pruning, residual codes, and exact refine") {
    import graft.operators.SimilarityOps
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qs = (0L until 8L)
    val exact = SimilarityOps.topKDotExact(emb, qs, 5)
    val ivfpq = SimilarityOps.ivfPqTopKExact(emb, "spec_ivfpq", kIvf = 8,
      nProbe = 2, m = 8, kSub = 16, iterations = 2, trainSampleMod = 4,
      qs, topK = 5, refineCandidates = 50)
    val r = recallAt5(ivfpq, exact)
    info(f"ivf-pq recall@5 = $r%.3f")
    // probe-limited recall: nProbe=2 of kIvf=8 cells scans ~25% of the
    // corpus, so misses are EXPECTED — measured 0.425 on this 100-vec
    // corpus (0.65 at sf0.01, where cells are big enough to matter);
    // the floor pins against regression, not against the probe bound
    assert(r >= 0.40, f"ivf-pq recall@5 $r%.2f under the 0.40 floor")
    // degeneracy pin: probing EVERY cell with an unbounded refine must
    // reproduce the exact scan verbatim — the approximation comes only
    // from the probe cut and the candidate cut, never from the codes
    val full = SimilarityOps.ivfPqTopKExact(emb, "spec_ivfpq", kIvf = 8,
      nProbe = 8, m = 8, kSub = 16, iterations = 2, trainSampleMod = 4,
      qs, topK = 5, refineCandidates = Int.MaxValue)
    assert(full.collect().toSeq == exact.collect().toSeq,
      "full-probe unbounded-refine IVF-PQ must equal the exact scan")
    // refined scores are exact dots (same contract as PQ refine)
    val exactScores = SimilarityOps.topKDotExact(emb, qs, 5000)
      .select("q_id", "n_id", "score_s14").as[(Long, Long, Long)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    ivfpq.select("q_id", "n_id", "score_s14").as[(Long, Long, Long)]
      .collect().foreach { case (q, n, s) =>
        assert(exactScores((q, n)) == s, s"ivf-pq score drift on ($q,$n)")
      }
  }

  test("bpeEncode totals reconcile with bpeFit's accounting") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val fit = graft.operators.TextOps.bpeFit(docs, rounds = 6, topWords = 31)
      .as[(Long, String, String, Long, Long, Long)].collect()
    val enc = graft.operators.TextOps.bpeEncode(docs, rounds = 6, topWords = 31)
      .as[(String, Long, Long)].collect()
    // full-vocab cap ⇒ Σ bpe_tokens over sources == round-6 corpus_symbols,
    // and Σ whitespace_tokens == the corpus word count
    assert(enc.map(_._3).sum == fit.last._5)
    assert(enc.map(_._2).sum ==
      docs.select(explode(split(col("text"), " "))).count())
    // the per-word join must broadcast (vocab-sized build side)
    val plan = graft.operators.TextOps
      .bpeEncode(docs, rounds = 1, topWords = 31)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "bpeEncode's word join must broadcast the vocabulary")
  }

  test("q_lsh_autoconfig picks the cheapest config meeting each floor") {
    val cal = Queries.queries("q_lsh_calibration")(spark, "/root/testdata/sf0.001")
      .select("tau_ppm", "num_hashes", "num_bands", "catch_ppm")
      .as[(Long, Long, Long, Long)].collect()
    val picks = Queries.queries("q_lsh_autoconfig")(spark, "/root/testdata/sf0.001")
      .select("tau_ppm", "min_catch_ppm", "num_hashes", "num_bands", "catch_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(picks.length == 4)
    for ((tau, floor, nh, nb, catchPpm) <- picks) {
      assert(catchPpm >= floor, s"winner for ($tau,$floor) misses its floor")
      // minimality: every strictly cheaper grid config fails the floor
      val cheaperPass = cal.filter { case (t, h, b, c) =>
        t == tau && c >= floor && (h < nh || (h == nh && b < nb))
      }
      assert(cheaperPass.isEmpty,
        s"cheaper config ${cheaperPass.toSeq} also meets ($tau,$floor)")
    }
    // the requirements were chosen to make different configs win
    assert(picks.map(p => (p._3, p._4)).distinct.length >= 3)
  }

  test("bpeFit on the corpus: monotone compression, exhaustion stops early") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = graft.operators.TextOps.bpeFit(docs, rounds = 4, topWords = 31)
      .as[(Long, String, String, Long, Long, Long)].collect().toSeq
    assert(rows.size == 4)
    val corpus = rows.map(_._5)
    assert(corpus == corpus.sorted.reverse && corpus.distinct == corpus,
      "corpus_symbols must strictly decrease")
    // exhaustion: single-char vocab runs out of pairs immediately
    val tiny = Seq((1L, "a b a")).toDF("doc_id", "text")
    assert(graft.operators.TextOps.bpeFit(tiny, rounds = 3, topWords = 5)
      .count() == 0L)
  }
}
