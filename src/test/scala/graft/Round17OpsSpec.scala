package graft

import graft.operators.{SimilarityOps, TextOps}
import org.apache.spark.sql.functions._

/** Round-17 engine pins: the precondition guards the r16 ADVICE items
  * asked for (upsert/delete disjointness, frozen-schedule key
  * uniqueness, the repeats overflow bound) and the graph-upsert's
  * broadcast-hint fallback parity.
  */
class Round17OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val probes = 0L until 8L

  test("knnGraphUpserted refuses a batch that overlaps the takedown " +
    "list (delete+re-add must be two separate upserts)") {
    val emb = Tables.embeddings(spark, sf)
    val batch = emb.filter(pmod(col("vec_id"), lit(9)) === 5)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val deletes = batch.select("vec_id").limit(2)
    assert(deletes.count() > 0)
    val dir = java.nio.file.Files
      .createTempDirectory("knn_upsert_clash").toString
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.knnGraphUpserted(emb, batch, deletes,
        srcDir = s"$sf/embeddings.parquet", outDir = dir,
        probeIds = probes, k = 3).count()
    }
    assert(ex.getMessage.contains("disjoint"))
  }

  test("knnGraphUpserted broadcastBatch=false (the shuffled-join " +
    "fallback for large re-crawl batches) returns identical rows") {
    val emb = Tables.embeddings(spark, sf)
    val batch = emb.filter(pmod(col("vec_id"), lit(7)) === 3)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        col("embedding"))
    val d1 = java.nio.file.Files
      .createTempDirectory("knn_upsert_bc").toString
    val d2 = java.nio.file.Files
      .createTempDirectory("knn_upsert_nobc").toString
    val noDel = emb.filter(lit(false)).select("vec_id")
    val withHint = SimilarityOps.knnGraphUpserted(emb, batch, noDel,
      srcDir = s"$sf/embeddings.parquet", outDir = d1,
      probeIds = probes, k = 3).orderBy("q_id", "rn")
      .collect().map(_.toString).toSeq
    val without = SimilarityOps.knnGraphUpserted(emb, batch, noDel,
      srcDir = s"$sf/embeddings.parquet", outDir = d2,
      probeIds = probes, k = 3, broadcastBatch = false)
      .orderBy("q_id", "rn").collect().map(_.toString).toSeq
    assert(withHint == without)
  }

  test("priceDocsAgainstSchedule refuses duplicate schedule domains " +
    "and an epochs factor that could wrap n_tokens*repeats") {
    val docs = Tables.documents(spark, sf)
    val dup = intercept[IllegalArgumentException] {
      TextOps.priceDocsAgainstSchedule(docs,
        Seq("web" -> 256L, "web" -> 512L))
    }
    assert(dup.getMessage.contains("unique"))
    val wrap = intercept[IllegalArgumentException] {
      TextOps.priceDocsAgainstSchedule(docs,
        Seq("web" -> (256L * (1L << 31))))
    }
    assert(wrap.getMessage.contains("2^31"))
    // boundary: the largest admissible factor passes the guard
    assert(TextOps.priceDocsAgainstSchedule(docs,
      Seq("web" -> (256L * ((1L << 31) - 1)))).columns
      .contains("repeats"))
  }

  // ---- postings compaction (VERDICT r16 #3) ----

  test("bm25 compaction: append-then-delete ≡ from-scratch over the " +
    "surviving corpus (df/N/avgdl shift by pure subtraction)") {
    import graft.operators.RetrievalOps
    val docs = Tables.documents(spark, sf)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      .withColumn("doc_id", col("doc_id") + lit(30000000L))
      .select("doc_id", "text")
    val deletes = docs.filter(pmod(col("doc_id"), lit(7)) === 2)
      .select("doc_id")
    val baseDir = java.nio.file.Files
      .createTempDirectory("bm25_cmp_base").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("bm25_cmp_gen").toString
    val qs = Seq("q_rare" -> Seq("dup", "merge"),
      "q_common" -> Seq("spark", "join", "window"))
    val got = RetrievalOps.bm25TopKCompacted(
      docs.select("doc_id", "text"), batch, deletes,
      srcDir = s"$sf/documents.parquet", baseDir = baseDir,
      outDir = outDir, batchKey = "spec", queries = qs, k = 8)
      .collect().map(_.toString).toSeq
    val survivors = docs.filter(pmod(col("doc_id"), lit(7)) =!= 2)
      .select("doc_id", "text").unionByName(batch)
    val want = RetrievalOps.bm25TopK(survivors, qs, k = 8)
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("bm25 compaction refuses a batch that overlaps the takedown " +
    "list or re-uses a live base id") {
    import graft.operators.RetrievalOps
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val baseDir = java.nio.file.Files
      .createTempDirectory("bm25_cmp_guard").toString
    def dir() = java.nio.file.Files
      .createTempDirectory("bm25_cmp_guard_out").toString
    val reAdd = intercept[IllegalArgumentException] {
      RetrievalOps.bm25CompactWrite(docs,
        batch = docs.filter(col("doc_id") === 0L),
        deletes = docs.filter(col("doc_id") === 0L).select("doc_id"),
        srcDir = s"$sf/documents.parquet", baseDir = baseDir,
        outDir = dir(), batchKey = "clash1")
    }
    assert(reAdd.getMessage.contains("disjoint"))
    val dup = intercept[IllegalArgumentException] {
      RetrievalOps.bm25CompactWrite(docs,
        batch = docs.filter(col("doc_id") === 1L),
        deletes = docs.filter(col("doc_id") === 0L).select("doc_id"),
        srcDir = s"$sf/documents.parquet", baseDir = baseDir,
        outDir = dir(), batchKey = "clash2")
    }
    assert(dup.getMessage.contains("NEW"))
  }

  test("the compacted generation still serves as an INDEXED lookup: a " +
    "fresh worker session gets the pushed word-IN filter and a " +
    "repeated identical compaction is a memo HIT") {
    import graft.operators.RetrievalOps
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val deletes = docs.filter(pmod(col("doc_id"), lit(7)) === 2)
      .select("doc_id")
    val emptyBatch = docs.filter(lit(false))
    val baseDir = java.nio.file.Files
      .createTempDirectory("bm25_cmp_push_base").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("bm25_cmp_push_gen").toString
    def compact() = RetrievalOps.bm25CompactWrite(docs, emptyBatch,
      deletes, srcDir = s"$sf/documents.parquet", baseDir = baseDir,
      outDir = outDir, batchKey = "push_spec")
    assert(compact())
    def mtimes() = new java.io.File(s"$outDir/postings").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    val before = mtimes()
    assert(compact())
    assert(mtimes() == before,
      "repeated identical compaction must not rewrite the generation")
    // fleet worker: artifacts only, no memo state
    val worker = spark.newSession()
    val served = RetrievalOps.bm25TopKFromIndex(worker, outDir,
      Seq("qa" -> Seq("dup", "merge")), k = 5)
    assert(served.collect().nonEmpty)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(allScans)
    }
    val postingScans = allScans(served.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(
        _.toString.contains("postings")))
    assert(postingScans.exists(_.metadata.getOrElse("PushedFilters", "")
      .contains("In(word")),
      "query terms must reach the COMPACTED postings scan as a pushed " +
        "filter — the generation swap must not lose the indexed layout")
  }

  test("degenerate maintenance cycles: empty deletes + empty batch " +
    "compaction reproduces the stored index; packing an empty batch " +
    "yields zero bins") {
    import graft.operators.RetrievalOps
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val none = docs.filter(lit(false))
    val baseDir = java.nio.file.Files
      .createTempDirectory("bm25_noop_base").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("bm25_noop_gen").toString
    val qs = Seq("qa" -> Seq("dup", "merge"))
    val compacted = RetrievalOps.bm25TopKCompacted(docs, none,
      none.select("doc_id"), srcDir = s"$sf/documents.parquet",
      baseDir = baseDir, outDir = outDir, batchKey = "noop",
      queries = qs, k = 5).collect().map(_.toString).toSeq
    val stored = RetrievalOps.bm25TopKFromIndex(spark, baseDir, qs, k = 5)
      .collect().map(_.toString).toSeq
    assert(compacted.nonEmpty && compacted == stored,
      "a no-op maintenance cycle must reproduce the stored index")
    // empty micro-batch through the shared packing tail: zero bins,
    // declared schema intact
    import spark.implicits._
    val emptyArr = Seq.empty[(Long, Long, String, String)]
      .toDF("batch_id", "doc_id", "source", "text")
    val bins = TextOps.packDocsAgainstSchedule(emptyArr,
      Seq("web" -> 256L), binTokens = 300L)
    assert(bins.isEmpty)
    assert(bins.columns.toSeq ==
      Seq("batch_id", "source", "bin", "n_items", "n_docs", "bin_tokens"))
  }

  // ---- streaming schedule-executed packing (VERDICT r16 #4) ----

  test("ccnetBuckets: terciles PARTITION each domain's docs (sizes " +
    "within 1), and the bits bands are non-overlapping and ordered") {
    val docs = Tables.documents(spark, sf)
    val rows = TextOps.ccnetBuckets(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(4), r.getLong(5)))
    val perSource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (src, ts) =>
      assert(ts.map(_._3).sum == perSource(src),
        s"$src terciles must partition the domain")
      assert(ts.map(_._3).max - ts.map(_._3).min <= 1,
        s"$src NTILE sizes must differ by at most 1")
      // tercile 1 = lowest-bits band: ordering by (bits, doc_id) means
      // every bits value in tercile k is <= every value in k+1, so
      // consecutive bands may touch at a shared boundary value but
      // never invert
      val sorted = ts.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(lo, hi) =>
          assert(lo._5 <= hi._4,
            s"$src tercile ${lo._2} max_bits ${lo._5} exceeds " +
              s"tercile ${hi._2} min_bits ${hi._4}")
        case _ => ()
      }
    }
    assert(rows.map(_._1).distinct.length > 1, "multiple domains live")
  }

  test("ccnetFilter: the decision provably matches the audit (kept " +
    "mass = tercile 1+2 mass per domain) and refuses bad tercile sets") {
    val docs = Tables.documents(spark, sf)
    val audit = TextOps.ccnetBuckets(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val decided = TextOps.ccnetFilter(docs).collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    audit.groupBy(_._1).foreach { case (src, ts) =>
      val (in, kept, tin, tkept) = decided(src)
      assert(in == ts.map(_._3).sum, s"$src docs_in")
      assert(kept == ts.filter(_._2 <= 2L).map(_._3).sum, s"$src docs_kept")
      assert(tin == ts.map(_._4).sum, s"$src tokens_in")
      assert(tkept == ts.filter(_._2 <= 2L).map(_._4).sum,
        s"$src tokens_kept")
      assert(kept < in, s"$src must actually drop its tail tercile")
    }
    intercept[IllegalArgumentException] {
      TextOps.ccnetFilter(docs, keepTerciles = Seq(0, 4))
    }
    intercept[IllegalArgumentException] {
      TextOps.ccnetFilter(docs, keepTerciles = Nil)
    }
  }

  test("paddingWaste: buckets partition the corpus, equal lengths " +
    "never split, and length-bucketed batching never pads MORE than " +
    "the one-global-batch baseline") {
    val docs = Tables.documents(spark, sf)
    val rows = TextOps.paddingWaste(docs, buckets = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val (baseline, buckets) = rows.partition(_._1 == -1L)
    assert(baseline.length == 1 && buckets.nonEmpty &&
      buckets.length <= 8)
    val b = baseline.head
    assert(buckets.map(_._2).sum == b._2, "docs partitioned")
    assert(buckets.map(_._3).sum == b._3, "tokens partitioned")
    assert(buckets.map(_._4).max == b._4, "baseline max is global max")
    assert(buckets.map(_._5).sum <= b._5,
      "bucketed padded mass must never exceed the global batch's")
    // waste arithmetic is internally consistent on every row
    rows.foreach { case (_, n, sum, mx, padded, permille) =>
      assert(padded == mx * n)
      assert(permille == (padded - sum) * 1000L / padded)
    }
  }

  // ---- persisted post-upsert graph generation (VERDICT r16 #5) ----

  test("knnGraphUpsertedStored serves the in-plan upsert's rows and a " +
    "repeated identical upsert is a memo HIT (artifact untouched, no " +
    "base re-scan)") {
    val emb = Tables.embeddings(spark, sf)
    val batch = emb.filter(pmod(col("vec_id"), lit(7)) === 3)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        col("embedding"))
    val outDir = java.nio.file.Files
      .createTempDirectory("knn_gen_build").toString
    val genDir = java.nio.file.Files
      .createTempDirectory("knn_gen_art").toString
    val noDel = emb.filter(lit(false)).select("vec_id")
    def serve() = SimilarityOps.knnGraphUpsertedStored(emb, batch, noDel,
      srcDir = s"$sf/embeddings.parquet", outDir = outDir,
      genDir = genDir, batchKey = "spec", probeIds = probes, k = 3)
    val first = serve().collect().map(_.toString).toSeq
    val want = SimilarityOps.knnGraphUpserted(emb, batch, noDel,
      srcDir = s"$sf/embeddings.parquet", outDir = outDir,
      probeIds = probes, k = 3).orderBy("q_id", "rn")
      .collect().map(_.toString).toSeq
    assert(first.nonEmpty && first == want)
    def mtimes() = {
      val d = new java.io.File(s"$genDir/edges")
      d.listFiles().map(f => f.getName -> f.lastModified()).toMap
    }
    val before = mtimes()
    val second = serve().collect().map(_.toString).toSeq
    assert(second == first)
    assert(mtimes() == before,
      "second identical upsert must not rewrite the generation")
  }
}
