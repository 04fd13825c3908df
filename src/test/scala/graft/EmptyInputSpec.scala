package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Library hardening: operators fed EMPTY inputs must return empty
  * frames (with their declared schemas), never throw — the behavior a
  * pipeline needs when a filter, a quiet day, or an empty shard
  * produces zero rows upstream. Exceptions with documented loud-fail
  * semantics (distributionDrift's ANSI division on an empty side) are
  * pinned as THROWING, so a silent behavior change is caught either
  * way.
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def emptyEvents: DataFrame =
    Seq.empty[(Long, Long, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")

  private def emptyEmb: DataFrame =
    Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")

  private def emptyPairs: DataFrame =
    Seq.empty[(Long, Long)].toDF("a_id", "b_id")

  test("dedup operators return empty on an empty corpus") {
    assert(DedupOps.exactDedup(emptyDocs).isEmpty)
    assert(DedupOps.jaccardPairs(emptyDocs, 80).isEmpty)
    assert(DedupOps.containmentPairsPrefix(emptyDocs, 90).isEmpty)
    assert(DedupOps.tfidfCosinePairs(emptyDocs, 80).isEmpty)
    assert(DedupOps.minHashCandidates(emptyDocs, 12, 3).isEmpty)
    assert(DedupOps.jaccardAgainstCorpus(emptyDocs, emptyDocs, 70).isEmpty)
    assert(DedupOps.corpusBandIndex(emptyDocs, 16, 2).isEmpty)
    // an EMPTY index against a non-empty batch: every doc unmatched,
    // none dropped — the cold-start shape of incremental ingest
    val batch = Seq((1L, "a b c")).toDF("doc_id", "text")
    val cold = DedupOps.dedupAgainstCorpus(batch, emptyDocs, 16, 2).collect()
    assert(cold.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 0L)))
    assert(DedupOps.simHashPairs(emptyDocs).isEmpty)
  }

  test("graph operators return empty on an empty edge list") {
    assert(DedupOps.connectedComponents(emptyPairs).isEmpty)
    assert(DedupOps.kCoreFixedRounds(emptyPairs, 2, 3).isEmpty)
    assert(DedupOps.triangleCounts(emptyPairs).isEmpty)
    assert(DedupOps.clusteringCoefficients(emptyPairs).isEmpty)
    assert(DedupOps.pageRankFixedPoint(emptyPairs, 3).isEmpty)
  }

  test("text operators return empty on an empty corpus") {
    assert(TextOps.wordCounts(emptyDocs).isEmpty)
    assert(TextOps.ngramNovelty(emptyDocs, 3).isEmpty)
    assert(TextOps.noveltyBySource(emptyDocs, 3).isEmpty)
    assert(TextOps.rarityScores(emptyDocs).isEmpty)
    assert(TextOps.spliceOverlaps(emptyDocs, 5).isEmpty)
    assert(TextOps.urlDedup(
      Seq.empty[(Long, String)].toDF("doc_id", "url")).isEmpty)
    assert(TextOps.fingerprints(emptyDocs).isEmpty)
    assert(TextOps.qualityLangBias(emptyDocs, Seq("the"), 10).isEmpty)
    // empty RAW corpus with a non-empty target: nothing to score →
    // empty output (the empty-TARGET case is the loud guard, pinned in
    // Round10bOpsSpec)
    assert(TextOps.importanceWeights(emptyDocs,
      Seq((1L, "x")).toDF("doc_id", "text"), 64).isEmpty)
  }

  test("event operators return empty on an empty stream") {
    assert(EventOps.winsorize(emptyEvents, 5, 95).isEmpty)
    assert(EventOps.madOutliers(emptyEvents, 5).isEmpty)
    assert(EventOps.rateSpikes(emptyEvents, 300).isEmpty)
    assert(EventOps.zscoreOutliers(emptyEvents, 3).isEmpty)
    assert(EventOps.lastTouchAttribution(emptyEvents, "click", "purchase").isEmpty)
    assert(EventOps.sessionOutcomes(emptyEvents, col("ts"), 1000L,
      "purchase").isEmpty)
    assert(EventOps.transitionCounts(emptyEvents).isEmpty)
  }

  test("round-8 curation/layout operators return empty on empty inputs") {
    assert(SimilarityOps.quantizeInt8Error(emptyEmb).isEmpty)
    assert(TextOps.tokenBudgetSelect(emptyDocs, 600L).isEmpty)
    assert(Relational.shardAssign(
      Seq.empty[Long].toDF("doc_id"), "doc_id", 8).isEmpty)
  }

  test("similarity/sketch operators handle empty inputs") {
    assert(SimilarityOps.cosinePairsExact(emptyEmb, 30).isEmpty)
    assert(SimilarityOps.crossCosinePairs(emptyEmb, emptyEmb, 30).isEmpty)
    assert(SimilarityOps.crossCosinePairs(emptyEmb,
      Seq((9L, Array(1.0f), 0)).toDF("vec_id", "embedding", "label"),
      30).isEmpty)
    assert(SimilarityOps.semDedupBuckets(emptyEmb, Seq(0L, 1L), 30).isEmpty)
    assert(SimilarityOps.labelCentroids(emptyEmb).isEmpty)
    assert(SimilarityOps.centroidAssign(emptyEmb).isEmpty)
    assert(SketchOps.cmsBuild(
      Seq.empty[Tuple1[String]].toDF("word"), "word", 2, 16).isEmpty)
    assert(SketchOps.hllRegisters(
      Seq.empty[Tuple1[String]].toDF("word"), "word", 64).isEmpty)
    // the estimator over an EMPTY register table is the documented
    // zero-registers case: v = m, linear counting → m·ln(m/m) = 0
    val est = SketchOps.hllEstimate(SketchOps.hllRegisters(
      Seq.empty[Tuple1[String]].toDF("word"), "word", 64), 64)
      .collect()(0)
    assert(est.getDouble(est.fieldIndex("est")) == 0.0)
  }

  test("round-11 operators handle empty inputs") {
    val emptyIds = Seq.empty[Tuple1[Long]].toDF("media_id")
    // empty id frame → empty media corpus → empty fingerprints/pairs
    assert(graft.multimodal.MultimodalOps.syntheticImages(emptyIds).isEmpty)
    assert(graft.multimodal.MultimodalOps.syntheticAudio(emptyIds).isEmpty)
    assert(graft.multimodal.MultimodalOps.imageNearDupPairs(
      graft.multimodal.MultimodalOps.syntheticImages(emptyIds)).isEmpty)
    // empty corpus → empty LSH/IVF search results (probes/queries all
    // vanish with the corpus; no degenerate window or join throws)
    assert(SimilarityOps.lshBucketTopKExact(emptyEmb, Seq(0L, 1L),
      Seq(0L), 5, maxFlip = 1).isEmpty)
    assert(SimilarityOps.ivfTopKExact(emptyEmb, "empty-test", k = 2,
      iterations = 1, trainSampleMod = 1, Seq(0L), 5, nProbe = 1).isEmpty)
    // empty RAW corpus with a non-empty target: totals are (0, n) and
    // the unseen constant is still well-defined smoothed arithmetic
    val tgt = Seq((1L, "a b", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val unseen = TextOps.importanceUnseenTable(emptyDocs, tgt, 1024).head()
    assert(unseen.getLong(0) == 0L && unseen.getLong(1) == 2L)
    assert(unseen.getLong(2) ==
      TextOps.importanceUnseenPpm(0L, 2L, 1024))
  }

  test("relational operators handle empty inputs") {
    assert(Relational.sampleKPerGroup(emptyEvents, "event_type",
      "event_id", 5).isEmpty)
    assert(Relational.snapshotDiff(emptyDocs, emptyDocs, "doc_id",
      "text").isEmpty)
    assert(Relational.paretoFrontier(
      Seq.empty[(Long, Long)].toDF("x", "y"), "x", "y").isEmpty)
    // BOTH sides empty → empty drift table (no category row ever
    // reaches the share division)
    assert(Relational.distributionDrift(emptyDocs, emptyDocs, "lang").isEmpty)
    // ONE side empty is the DOCUMENTED loud-fail (ANSI divide on the
    // vanished snapshot's zero total) — pin the throw
    val oneSide = Seq((1L, "t", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    intercept[Exception] {
      Relational.distributionDrift(oneSide, emptyDocs, "lang").collect()
    }
  }

  test("round-13 operators handle empty inputs") {
    // BPE: an empty corpus has no pairs to merge → zero merge rows;
    // encode emits no per-source rows
    assert(TextOps.bpeFit(emptyDocs, rounds = 3, topWords = 10).isEmpty)
    assert(TextOps.bpeEncode(emptyDocs, rounds = 3, topWords = 10).isEmpty)
    // PQ family: no corpus → no codebook seeds → empty result frame
    // with the declared search schema, never a throw
    val pq = SimilarityOps.pqTopKExact(emptyEmb, "empty_pq", m = 8,
      kSub = 16, iterations = 2, trainSampleMod = 4, Seq(0L), topK = 5)
    assert(pq.isEmpty &&
      pq.columns.toSeq == Seq("q_id", "rn", "n_id", "score_s14"))
    assert(SimilarityOps.pqTopKRefined(emptyEmb, "empty_pq", m = 8,
      kSub = 16, iterations = 2, trainSampleMod = 4, Seq(0L), topK = 5,
      refineCandidates = 10).isEmpty)
    assert(SimilarityOps.ivfPqTopKExact(emptyEmb, "empty_pq", kIvf = 8,
      nProbe = 2, m = 8, kSub = 16, iterations = 2, trainSampleMod = 4,
      Seq(0L), topK = 5, refineCandidates = 10).isEmpty)
    // audits: the threshold grid still emits its rows (zeros); the
    // utilization and surprisal frames are empty
    val curve = DedupOps.thresholdCurve(emptyDocs, 32, 2, 80,
      Seq(800000L, 900000L)).collect()
    assert(curve.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((800000L, 0L, 0L), (900000L, 0L, 0L)))
    assert(TextOps.packUtilization(emptyDocs, 128L, 100L).isEmpty)
    assert(TextOps.surprisalBits(emptyDocs).isEmpty)
  }

  test("round-14 operators handle empty inputs") {
    // stored IVF-PQ: no corpus → no codebooks → no write, and the
    // search returns the declared empty schema, never a throw
    val out = java.nio.file.Files.createTempDirectory("empty_codes").toString
    val stored = SimilarityOps.ivfPqTopKStored(emptyEmb,
      srcDir = out, outDir = s"$out/codes", cacheKey = "empty_stored",
      kIvf = 8, nProbe = 2, m = 8, kSub = 16, iterations = 2,
      trainSampleMod = 4, queryIds = Seq(0L), topK = 5,
      refineCandidates = 10)
    assert(stored.isEmpty &&
      stored.columns.toSeq == Seq("q_id", "rn", "n_id", "score_s14"))
    // BPE word-token table over an empty corpus (empty merge list is
    // the legitimate fit of an empty corpus); the tokenizer-priced
    // packer over it packs nothing
    assert(TextOps.bpeWordTokens(emptyDocs, Nil, 10).isEmpty)
    assert(TextOps.packSequencesBpe(emptyDocs,
      TextOps.bpeWordTokens(emptyDocs, Nil, 10), 128L, 100L).isEmpty)
    assert(TextOps.packManifestBpe(emptyDocs,
      TextOps.bpeWordTokens(emptyDocs, Nil, 10), 128L, 100L).isEmpty)
    assert(TextOps.dataCard(emptyDocs, Seq("a")).isEmpty)
    // agreement matrix: no documents carry a word → zero pair rows
    assert(TextOps.qualitySignalAgreement(emptyDocs, emptyDocs,
      Seq("a"), 1L, 1000000L, 16, 1040L).isEmpty)
    // drift audit: no corpus → no fits → empty matrix with the
    // declared schema, never a throw
    val drift = SimilarityOps.ivfDriftMatrix(emptyEmb, "empty_drift",
      k = 4, iterations = 1, modOld = 2, modNew = 1)
    assert(drift.isEmpty &&
      drift.columns.toSeq == Seq("old_cell", "new_cell", "n_vecs"))
    // incremental CC: nothing stored, nothing arriving → empty labels
    val noLabels = Seq.empty[(Long, Long)].toDF("id", "cluster_id")
    val noEdges = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(DedupOps.incrementalComponents(noLabels, noEdges).isEmpty)
    // … and an empty BATCH must leave the stored labels intact
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster_id")
    assert(DedupOps.incrementalComponents(labels, noEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 1L), (2L, 1L)))
  }

  test("round-15 wave-2 operators handle empty inputs") {
    // span family: no docs → no grams → empty accounting frames
    assert(DedupOps.spanDupCoverage(emptyDocs, 13).isEmpty)
    val trim = DedupOps.spanTrim(emptyDocs, 13)
    assert(trim.isEmpty && trim.columns.toSeq == Seq("doc_id", "n_tokens",
      "removed_tokens", "kept_tokens", "kept_md5"))
    // bigram surprisal: no words → no rows, never a throw
    assert(TextOps.surprisalBigramBits(emptyDocs, 1104L).isEmpty)
    // tokenizer drift over empty streams: empty audit (the fit over an
    // empty corpus yields the legitimate empty merge list)
    val noWords = Seq.empty[(String, String)].toDF("source", "word")
    assert(TextOps.tokenizerDrift(emptyDocs,
      Seq("base" -> noWords, "new" -> noWords), 2, 10).isEmpty)
    // card diff of two empty releases: no (source, lang) keys → empty
    assert(TextOps.dataCardDiff(emptyDocs, emptyDocs, Seq("a")).isEmpty)
    // matryoshka / filtered search over an empty corpus: declared empty
    // schema, never a throw
    val mat = SimilarityOps.matryoshkaTopK(emptyEmb, Seq(0L), 16, 10, 5)
    assert(mat.isEmpty &&
      mat.columns.toSeq == Seq("q_id", "rn", "n_id", "score_s14"))
    val filt = SimilarityOps.ivfTopKFiltered(emptyEmb,
      col("label") === 1, "empty_filt", 4, 1, 1, Seq(0L), 5, 2)
    assert(filt.isEmpty &&
      filt.columns.toSeq == Seq("q_id", "rn", "n_id", "score_s14"))
  }

  test("round-15 wave-5/6/7 operators handle empty inputs") {
    // interval algebra: no intervals → no pairs, no coverage rows
    val emptyIv = Seq.empty[(Long, Long, Long)]
      .toDF("iv_id", "s_start", "s_end")
    assert(Relational.intervalOverlapPairs(emptyIv, 10L).isEmpty)
    val emptyIvK = Seq.empty[(Long, Long, Long)]
      .toDF("user_id", "s_start", "s_end")
    assert(Relational.intervalCoverage(emptyIvK, "user_id").isEmpty)
    // hard negatives / dimension audit / purity over an empty corpus
    assert(SimilarityOps.hardNegativesTopK(emptyEmb, Seq(0L), 5).isEmpty)
    assert(SimilarityOps.dimensionAudit(emptyEmb).isEmpty)
    assert(SimilarityOps.mutualClusterPurity(emptyEmb, Seq(0L), 3, 2L)
      .isEmpty)
    // l-diversity: no rows → no QI groups
    assert(Relational.lDiversityAudit(emptyDocs, Seq("lang"), "source",
      2L, 2L).isEmpty)
    // domain reweighting over an empty corpus has no mixture to return
    // — pinned as a LOUD failure (the distributionDrift discipline)
    intercept[IllegalArgumentException] {
      TextOps.domainReweight(emptyDocs, iters = 2)
    }
    // BFS over an empty edge list is the cold-start shape: the seeds
    // themselves at depth 0, nothing else
    val emptyPairsLocal = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val bfs = DedupOps.bfsDepths(emptyPairsLocal, Seq(7L, 3L), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bfs == Seq((3L, 0L), (7L, 0L)))
  }

  test("round-16 operators handle empty inputs") {
    // pricing an empty arriving stream against a frozen schedule: no
    // rows, but the frozen-schedule precondition stays loud
    assert(TextOps.priceDocsAgainstSchedule(emptyDocs,
      Seq("src0" -> 512L)).isEmpty)
    intercept[IllegalArgumentException] {
      TextOps.priceDocsAgainstSchedule(emptyDocs, Seq.empty)
    }
    // schedule fitting itself inherits domainReweight's loud failure
    intercept[IllegalArgumentException] {
      TextOps.schedulePriceBatches(emptyDocs, emptyDocs, 1000L)
    }
    // packing an empty arriving stream: schedule fit fails loudly on
    // an empty corpus; with a real corpus and empty stream it's empty
    intercept[IllegalArgumentException] {
      TextOps.packScheduledBins(emptyDocs, emptyDocs, 1000L, 100L)
    }
  }
}
