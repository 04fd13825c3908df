package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._

/** Round-15 second wave: codes COMPACTION — the artifact-maintenance
  * step that makes a codesUpsert durable. The declared key
  * (q_ann_compact) hash-checks the searched relation against the
  * from-scratch DuckDB replay; this spec pins the engine properties the
  * oracle can't see: the compacted ARTIFACT serves byte-identical
  * results to the session that ran the upsert (from a fresh worker
  * session with no memo/registry state), the cell-clustered rewrite
  * restores probed-cell row-group pruning on the post-ingest corpus,
  * and the memo discipline keys on the batch identity.
  */
class Round15bOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val src = s"$sf/embeddings.parquet"

  private def driftBatch(emb: org.apache.spark.sql.DataFrame) =
    emb.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      .unionByName(emb.filter(pmod(col("vec_id"), lit(7)) === 3)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          col("embedding")))

  private def mergedRaw(emb: org.apache.spark.sql.DataFrame,
                        batch: org.apache.spark.sql.DataFrame) =
    emb.select("vec_id", "embedding")
      .join(broadcast(batch.select("vec_id")), Seq("vec_id"), "left_anti")
      .unionByName(batch)

  test("compacted artifact serves the upsert session's results to a " +
    "fresh worker") {
    val cds = java.nio.file.Files.createTempDirectory("cmp_codes").toString
    val cmp = java.nio.file.Files.createTempDirectory("cmp_out").toString
    val idx = java.nio.file.Files.createTempDirectory("cmp_idx").toString
    val emb = Tables.embeddings(spark, sf)
    val batch = driftBatch(emb)
    // the session that ingested the batch: upsert is a session-local plan
    val fresh = SimilarityOps.ivfPqTopKUpserted(emb, batch, src, cds, sf,
      kIvf = 8, nProbe = 2, m = 8, kSub = 16, iterations = 2,
      trainSampleMod = 4, queryIds = 0L until 8L, topK = 5,
      refineCandidates = 50).collect().map(_.toString).toSeq
    assert(SimilarityOps.ivfPqCompactWrite(emb, batch, src, cds, cmp, sf,
      batchKey = "drift", kIvf = 8, m = 8, kSub = 16, iterations = 2,
      trainSampleMod = 4))
    assert(SimilarityOps.ivfPqWriteIndex(emb, src, idx, sf, kIvf = 8,
      m = 8, kSub = 16, iterations = 2, trainSampleMod = 4))
    // a worker session with a fresh registry and none of the trainer's
    // memo entries: artifacts alone must reproduce the upsert search
    val worker = spark.newSession()
    graft.plans.VecDot.register(worker)
    val served = SimilarityOps.ivfPqTopKFromArtifacts(
      mergedRaw(Tables.embeddings(worker, sf),
        driftBatch(Tables.embeddings(worker, sf))),
      idx, cmp, nProbe = 2, queryIds = 0L until 8L, topK = 5,
      refineCandidates = 50).collect().map(_.toString).toSeq
    assert(served.nonEmpty && served == fresh,
      "compacted-artifact search must equal the upsert session's search")
  }

  test("compacted layout restores probed-cell pruning on the merged " +
    "corpus") {
    val cds = java.nio.file.Files.createTempDirectory("cmp2_codes").toString
    val cmp = java.nio.file.Files.createTempDirectory("cmp2_out").toString
    val idx = java.nio.file.Files.createTempDirectory("cmp2_idx").toString
    val emb = Tables.embeddings(spark, sf)
    val batch = driftBatch(emb)
    assert(SimilarityOps.ivfPqCompactWrite(emb, batch, src, cds, cmp, sf,
      batchKey = "drift", kIvf = 8, m = 8, kSub = 16, iterations = 2,
      trainSampleMod = 4))
    assert(SimilarityOps.ivfPqWriteIndex(emb, src, idx, sf, kIvf = 8,
      m = 8, kSub = 16, iterations = 2, trainSampleMod = 4))
    val df = SimilarityOps.ivfPqTopKFromArtifacts(mergedRaw(emb, batch),
      idx, cmp, nProbe = 2, queryIds = Seq(0L), topK = 5,
      refineCandidates = 50)
    assert(df.collect().nonEmpty)
    val corpusRows = spark.read.parquet(cmp).count()
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(allScans)
    }
    val codesScans = allScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(
        new java.io.File(cmp).getName)))
    assert(codesScans.nonEmpty, "no compacted-codes scan in the plan")
    assert(codesScans.exists(_.metadata.getOrElse("PushedFilters", "")
      .contains("In(ivf_cell")),
      "probe cells must reach the compacted scan as a pushed filter")
    val scanned = codesScans.map(_.metrics("numOutputRows").value).sum
    assert(scanned > 0 && scanned < corpusRows,
      s"probed scan must decode fewer rows ($scanned) than the merged " +
        s"corpus ($corpusRows)")
  }

  test("tokenizer drift: the frozen vocab covers its fit corpus and " +
    "the drifted stream's OOV mass is the retrain signal") {
    import org.apache.spark.sql.functions.{explode, posexplode, when}
    val docs = Tables.documents(spark, sf)
    val fit = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val base = fit.select(col("source"),
      explode(graft.operators.TextOps.words(col("text"))).as("word"))
    val fresh = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
      .select(col("source"), posexplode(
        graft.operators.TextOps.words(col("text"))).as(Seq("wpos", "word")))
      .select(col("source"),
        when(pmod(col("wpos"), lit(2)) === 1, reverse(col("word")))
          .otherwise(col("word")).as("word"))
    val audit = graft.operators.TextOps.tokenizerDrift(fit,
      Seq("base" -> base, "new" -> fresh), rounds = 6, topWords = 31)
      .collect()
    val (b, n) = audit.partition(_.getString(0) == "base")
    assert(b.nonEmpty && n.nonEmpty)
    // the 31-word cap covers the synthetic vocabulary: the fit corpus
    // prices itself with ZERO OOV — the control rows
    assert(b.forall(_.getLong(4) == 0L),
      "fit corpus must be fully in-vocab under its own tokenizer")
    // the drifted stream's reversed words are (mostly) out of vocab:
    // positive OOV mass on every source, and the corpus-wide
    // char-fallback fertility strictly above the base phase's
    assert(n.forall(_.getLong(4) > 0L),
      "drifted stream must show OOV mass on every source")
    def fert(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.getLong(3)).sum.toDouble / rows.map(_.getLong(2)).sum
    assert(fert(n) > fert(b),
      "char-fallback must raise the drifted phase's fertility")
  }

  test("bigram surprisal separates templated transitions from varied " +
    "ones under identical unigram mass") {
    import spark.implicits._
    // same word MULTISET per doc (identical unigram pricing); doc 0
    // cycles a deterministic template, doc 1 spreads its transitions
    val template = Seq.fill(6)("a b c d").mkString(" ")
    val varied = "a a b b c c d d a b d c a c b d a d b c c a d b"
    val docs = Seq((0L, template), (1L, varied)).toDF("doc_id", "text")
    val out = graft.operators.TextOps.surprisalBigramBits(docs, 10000L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0L)._1 == out(1L)._1, "same word count")
    assert(out(0L)._2 == out(1L)._2,
      "same multiset must price identically under the unigram model")
    assert(out(0L)._3 < out(1L)._3,
      "templated transitions must price below varied ones — the " +
        "signature the unigram filter cannot see")
  }

  test("card diff reports wholesale source appearance and takedown " +
    "through the zero-coalesced full outer join") {
    import spark.implicits._
    def mk(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val old = mk(Seq((1L, "a b c", "en", "s_gone", 5L),
      (2L, "a b c d", "en", "s_both", 7L)))
    val neu = mk(Seq((2L, "a b c d", "en", "s_both", 7L),
      (3L, "x y", "en", "s_new", 3L), (4L, "x y", "en", "s_new", 3L)))
    val diff = graft.operators.TextOps
      .dataCardDiff(old, neu, Seq("a"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6))).toMap
    // vanished source: old side populated, new side zero-coalesced
    assert(diff("s_gone") == ((1L, 0L, -1L, 0L)))
    // unchanged source: zero deltas
    assert(diff("s_both") == ((1L, 1L, 0L, 0L)))
    // new source arriving as two identical docs: +2 docs, +2 exact dups
    assert(diff("s_new") == ((0L, 2L, 2L, 2L)))
  }

  test("shard-pack upsert carries stored bins byte-identical and " +
    "refuses an interleaving batch") {
    import graft.operators.TextOps
    val docs = Tables.documents(spark, sf)
    val merges = TextOps.bpeMerges(docs, rounds = 6, topWords = 31)
    val syms = TextOps.bpeWordSyms(docs, merges, topWords = 31)
    val out = java.nio.file.Files.createTempDirectory("ps_base").toString
    val up = java.nio.file.Files.createTempDirectory("ps_up").toString
    val batch = docs.filter(pmod(col("doc_id"), lit(6)) === 3)
      .withColumn("doc_id", col("doc_id") + lit(20000000L))
    TextOps.packShardsUpsert(docs, batch, syms, 128L, 100L,
      s"$sf/documents.parquet", out, up, batchKey = "b1")
    val base = spark.read.parquet(out)
      .selectExpr("source", "shard", "bin", "md5(concat_ws(' ', tokens))")
      .collect().map(_.toString).toSet
    val merged = spark.read.parquet(up)
      .selectExpr("source", "shard", "bin", "md5(concat_ws(' ', tokens))")
      .collect().map(_.toString).toSet
    // append-only: every stored bin stream survives byte-identical, and
    // the batch added strictly new (source, shard, bin) streams
    assert(base.subsetOf(merged) && merged.size > base.size,
      "upsert must append batch bins to untouched stored bins")
    // a batch whose ids land INSIDE stored shards would shift existing
    // offsets — the engine must refuse, not serve a mis-offset manifest
    val bad = docs.filter(pmod(col("doc_id"), lit(6)) === 3)
    val upBad = java.nio.file.Files.createTempDirectory("ps_bad").toString
    val e = intercept[IllegalArgumentException] {
      TextOps.packShardsUpsert(docs, bad, syms, 128L, 100L,
        s"$sf/documents.parquet", out, upBad, batchKey = "bad")
    }
    assert(e.getMessage.contains("interleave"))
  }

  test("matryoshka prefix search holds a recall floor against the " +
    "exact scan and degenerates to it at full prefix") {
    val emb = Tables.embeddings(spark, sf)
    val exact = SimilarityOps.topKDotFastExact(emb, 0L until 8L, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pref = SimilarityOps.matryoshkaTopK(emb, 0L until 8L,
      prefixDim = 32, candidates = 80, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & pref).size.toDouble / exact.size
    assert(recall >= 0.7,
      s"prefix-32/candidates-80 recall@5 floor: got $recall")
    // degeneracy identity: full prefix + corpus-wide candidate pool IS
    // the exact scan (the IVF-PQ full-probe convention)
    val full = SimilarityOps.matryoshkaTopK(emb, 0L until 8L,
      prefixDim = 64, candidates = Int.MaxValue, k = 5)
      .collect().map(_.toString).toSeq
    assert(full == SimilarityOps.topKDotFastExact(emb, 0L until 8L, 5)
      .collect().map(_.toString).toSeq)
  }

  test("filtered IVF search honors the predicate and degenerates to " +
    "the filtered brute force at full probe") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{row_number, transform => xform}
    val emb = Tables.embeddings(spark, sf)
    val keep = Set(2, 5, 7)
    val res = SimilarityOps.ivfTopKFiltered(emb,
      corpusFilter = col("label").isin(2, 5, 7), cacheKey = sf, k = 8,
      iterations = 2, trainSampleMod = 4, queryIds = 0L until 8L,
      topK = 5, nProbe = 2).collect()
    assert(res.nonEmpty)
    val allowed = emb.filter(col("label").isin(2, 5, 7))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(res.forall(r => allowed(r.getLong(2))),
      "every filtered result must satisfy the predicate")
    // full probe ⇒ every filtered row is a candidate ⇒ the result IS
    // the brute-force top-k over the slice (queries from the full
    // corpus — they need not satisfy the predicate themselves)
    val full = SimilarityOps.ivfTopKFiltered(emb,
      corpusFilter = col("label").isin(2, 5, 7), cacheKey = sf, k = 8,
      iterations = 2, trainSampleMod = 4, queryIds = 0L until 8L,
      topK = 5, nProbe = 8).collect().map(_.toString).toSeq
    val toInts = xform(col("embedding"),
      v => round(v.cast("double") * 1e7).cast("long"))
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), toInts.as("qi"))
    val c = emb.filter(col("label").isin(2, 5, 7))
      .select(col("vec_id").as("n_id"), toInts.as("ci"))
    val w = Window.partitionBy("q_id")
      .orderBy(desc("score_s14"), asc("n_id"))
    val brute = c.crossJoin(broadcast(q))
      .withColumn("score_s14",
        graft.plans.VecDot.dotLong(col("qi"), col("ci")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select("q_id", "rn", "n_id", "score_s14")
      .orderBy("q_id", "rn").collect().map(_.toString).toSeq
    assert(full == brute,
      "full-probe filtered search must equal the filtered brute force")
  }

  test("span coverage counts a shared block once, at its exact length, " +
    "across any alignment") {
    import spark.implicits._
    // a 15-token block shared by two docs at DIFFERENT offsets (7 vs 0)
    // — the unaligned case fixed-chunk passage dedup misses; with n=13
    // the block contributes 3 overlapping dup grams whose position
    // union is exactly the 15 block tokens, in both docs
    val block = (1 to 15).map(i => s"s$i").mkString(" ")
    val a = (1 to 7).map(i => s"u$i").mkString(" ") + " " + block
    val b = block + " " + (1 to 9).map(i => s"v$i").mkString(" ")
    val c = (1 to 20).map(i => s"w$i").mkString(" ")
    val out = graft.operators.DedupOps.spanDupCoverage(
      Seq((0L, a), (1L, b), (2L, c)).toDF("doc_id", "text"), 13)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out(0L) == ((22L, 15L)), "block tokens counted once in doc 0")
    assert(out(1L) == ((24L, 15L)), "same block found at offset 0 too")
    assert(out(2L) == ((20L, 0L)), "unshared doc carries no dup span")
  }

  test("span trim keeps the corpus-wide first occurrence and rebuilds " +
    "the exact trimmed string") {
    import spark.implicits._
    val block = (1 to 15).map(i => s"s$i").mkString(" ")
    val aTail = (1 to 7).map(i => s"u$i").mkString(" ")
    val a = aTail + " " + block
    val bTail = (1 to 9).map(i => s"v$i").mkString(" ")
    val b = block + " " + bTail
    val out = graft.operators.DedupOps.spanTrim(
      Seq((0L, a), (1L, b)).toDF("doc_id", "text"), 13)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 0 owns the keeper occurrences (lower doc_id): nothing removed
    assert(out(0L) == ((22L, 0L, 22L, md5(a))),
      "keeper document must survive untrimmed")
    // doc 1's copy of the block is fully removed; its tail survives
    assert(out(1L) == ((24L, 15L, 9L, md5(bTail))),
      "non-keeper occurrence must trim to exactly the unshared tail")
  }

  test("recursive session chains partition events exactly as the " +
    "window sessionizer at the same gap") {
    // two independent formulations of the same semantics — the
    // recursive CTE (q_sql_recursive) and the lag/running-sum window
    // (EventOps.sessionizeOn) — must agree on every session's
    // (user, start, end, size); ids differ by construction (anchor
    // event_id vs ordinal), so compare the id-free projection
    val dir = sf
    val rec = Queries.queries("q_sql_recursive")(spark, dir)
      .select("user_id", "n_events", "session_start_us", "session_end_us")
      .collect().map(_.toString).sorted.toSeq
    val win = graft.operators.EventOps.sessionizeOn(
      Tables.events(spark, dir), expr("ts div 1000"), 14400000000L)
      .select(col("user_id"), col("n_events"),
        col("session_start").as("session_start_us"),
        col("session_end").as("session_end_us"))
      .collect().map(_.toString).sorted.toSeq
    assert(rec.nonEmpty && rec == win,
      "recursion and window sessionization must partition identically")
  }

  test("compaction memo keys on the batch identity and is idempotent") {
    val cds = java.nio.file.Files.createTempDirectory("cmp3_codes").toString
    val cmpA = java.nio.file.Files.createTempDirectory("cmp3_a").toString
    val cmpB = java.nio.file.Files.createTempDirectory("cmp3_b").toString
    val emb = Tables.embeddings(spark, sf)
    val batch = driftBatch(emb)
    assert(SimilarityOps.ivfPqCompactWrite(emb, batch, src, cds, cmpA, sf,
      batchKey = "drift", kIvf = 8, m = 8, kSub = 16, iterations = 2,
      trainSampleMod = 4))
    val first = spark.read.parquet(cmpA)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    // idempotent: a second call over the same (source, batchKey) memo-hits
    // and the relation is unchanged
    assert(SimilarityOps.ivfPqCompactWrite(emb, batch, src, cds, cmpA, sf,
      batchKey = "drift", kIvf = 8, m = 8, kSub = 16, iterations = 2,
      trainSampleMod = 4))
    assert(spark.read.parquet(cmpA).orderBy("vec_id")
      .collect().map(_.toString).toSeq == first)
    // a DIFFERENT batch under a different batchKey writes different rows
    // (same base fingerprint — the batchKey is what splits the identity)
    val other = emb.filter(pmod(col("vec_id"), lit(10)) === 1)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    assert(SimilarityOps.ivfPqCompactWrite(emb, other, src, cds, cmpB, sf,
      batchKey = "other", kIvf = 8, m = 8, kSub = 16, iterations = 2,
      trainSampleMod = 4))
    assert(spark.read.parquet(cmpB).orderBy("vec_id")
      .collect().map(_.toString).toSeq != first)
  }
}
