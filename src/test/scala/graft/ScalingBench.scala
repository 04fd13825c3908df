package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{CurationPipeline, DedupOps, Lineage, Relational,
  SimilarityOps, TextOps}

/** CORE-SCALING harness (round 19, VERDICT r18 #6): at sf0.1 every
  * bench key is fixed-overhead-dominated (the 8-core full suite beats
  * the 32-core one), so the binding artifacts cannot DEMONSTRATE that
  * the hot operators parallelize. This tool synthesizes a ~10× corpus
  * from sf0.1 — density-preserving, so candidate/pair mass grows
  * LINEARLY, the way a real corpus grows, instead of quadratically the
  * way naive row duplication would:
  *
  *  - documents ×10: ids shifted per copy, every word suffixed with the
  *    copy index (cross-copy Jaccard 0 — near-dup clusters replicate
  *    instead of merging into one giant clique);
  *  - events ×10: user ids shifted AND each copy time-shifted 400 days
  *    (per-cell interval density constant — overlap pairs grow ×10,
  *    not ×100);
  *  - embeddings ×10: vec_ids shifted, each copy's vectors ROTATED by
  *    the copy index (direction changes, norms preserved — sign-LSH
  *    buckets spread instead of stacking ×10 per bucket).
  *
  * Then it times the engine calls behind the most expensive declared
  * keys, isolated, min-of-3, noop-sinked (guide §1.4), at the core
  * count in $SPARK_GRAFT_CPUS — run once at 32 and once at 8 and the
  * ratio is the operator's parallel speedup with compute actually on
  * the critical path. Results land in SCALE.md. Measurement tooling
  * only, a main in the test tree — no declared query, no bench
  * artifact, nothing persisted for reuse by queries.
  */
object ScalingBench {

  /** Marker the last synthesis step writes: its content names the
    * corpus (`k` and `sfDir`), so a partial or stale corpus is rebuilt
    * instead of reused.
    */
  def synthMarker(outDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(outDir, "_SYNTH_OK")

  private def synthStamp(sfDir: String, k: Int): String = s"k=$k\nsfDir=$sfDir\n"

  /** True when `outDir` holds a complete corpus synthesized from
    * `sfDir` at `k` copies.
    */
  def synthReusable(sfDir: String, outDir: String, k: Int): Boolean = {
    val m = synthMarker(outDir)
    java.nio.file.Files.isRegularFile(m) &&
      new String(java.nio.file.Files.readAllBytes(m), "UTF-8") == synthStamp(sfDir, k)
  }

  def synth(spark: SparkSession, sfDir: String, outDir: String, k: Int): Unit = {
    java.nio.file.Files.deleteIfExists(synthMarker(outDir))
    val copies = 0 until k
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    copies.map { c =>
      val text =
        if (c == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", s"$$1$c")
      docs.select((col("doc_id") + lit(c * 10000000L)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).as("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val events = Tables.events(spark, sfDir) // ts normalized to long nanos
    copies.map { c =>
      events.select(
        (col("event_id") + lit(c * 1000000000L)).as("event_id"),
        (col("ts") + lit(c * 400L * 86400L * 1000000000L)).as("ts"),
        (col("user_id") + lit(c * 1000000L)).as("user_id"),
        col("event_type"), col("value"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    copies.map { c =>
      val rot =
        if (c == 0) col("embedding")
        else concat(slice(col("embedding"), c + 1, 64 - c),
          slice(col("embedding"), 1, c))
      emb.select((col("vec_id") + lit(c * 1000000L)).as("vec_id"),
        rot.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    java.nio.file.Files.write(synthMarker(outDir), synthStamp(sfDir, k).getBytes("UTF-8"))
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_x10")
    val spark = Bench.session(cpus)
    if (!synthReusable(sfDir, outDir, 10)) synth(spark, sfDir, outDir, 10)
    Bench.warmupRelational(spark, sfDir)
    Bench.warmupSubsystems(spark, sfDir)

    def docs = spark.read.parquet(s"$outDir/documents.parquet")
    def events = spark.read.parquet(s"$outDir/events.parquet")
    def emb = spark.read.parquet(s"$outDir/embeddings.parquet")
    val probeIds = (0L until 8L)
    val sw = Seq("a", "the", "of", "and", "in")

    def t(name: String)(f: => Unit): Unit = {
      val samples = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f
        val dt = (System.nanoTime() - t0) / 1e9
        Bench.hygiene(spark); dt
      }
      println(f"SCALEBENCH $name cpus=$cpus min=${samples.min}%.3f " +
        s"samples=${samples.map(s => f"$s%.3f").mkString(",")}")
    }

    val which = if (args.isEmpty)
      Set("interval", "lshpairs", "cc", "knn", "knncc", "quality", "dsir",
        "pipeline", "triangles")
    else args.toSet

    if (which("interval")) t("interval_pairs_rollup") {
      val iv = graft.operators.EventOps.sessionizeOn(events,
          expr("ts div 1000"), 30L * 60L * 1000L * 1000L)
        .select((col("user_id") * lit(4294967296L) + col("session_id"))
          .as("iv_id"),
          col("session_start").as("s_start"),
          (col("session_end") + lit(7200000000L)).as("s_end"))
      noop(Relational.intervalOverlapPairs(iv)
        .withColumn("user_a", expr("a_id div 4294967296L"))
        .withColumn("user_b", expr("b_id div 4294967296L"))
        .filter(col("user_a") =!= col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(count(lit(1)).cast("long").as("n_overlaps"),
          sum(col("ov_us")).cast("long").as("ov_us_total")))
    }
    // the dedup family runs on the %4 slice — the q_dedup_canonical
    // declared slice — because this corpus's 31-word vocabulary makes
    // the FULL corpus near-all-pairs dense (the pipeline attribution's
    // 195 k pairs per 630 docs): the slice keeps verified-pair mass at
    // ~10× the sf0.1 declared key's, which is the growth being measured
    def dedupDocs = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    if (which("lshpairs")) t("lsh_verified_pairs") {
      noop(DedupOps.lshVerifiedJaccardPairsUnsorted(dedupDocs, 32, 2, 80))
    }
    // pairs are re-truncated UNTIMED inside each sample: the inter-sample
    // hygiene (releaseAll) frees every checkpoint, so a shared frame
    // would read unpersisted blocks on sample 2
    def freshPairs() = Lineage.truncate(
      DedupOps.lshVerifiedJaccardPairsUnsorted(dedupDocs, 32, 2, 80)
        .select("a_id", "b_id"), None)
    def tPrep(name: String)(f: DataFrame => Unit): Unit = {
      val samples = (1 to 3).map { _ =>
        val pairs = freshPairs()
        val t0 = System.nanoTime(); f(pairs); val dt = (System.nanoTime() - t0) / 1e9
        Bench.hygiene(spark); dt
      }
      println(f"SCALEBENCH $name cpus=$cpus min=${samples.min}%.3f " +
        s"samples=${samples.map(s => f"$s%.3f").mkString(",")}")
    }
    if (which("cc")) tPrep("connected_components") { pairs =>
      DedupOps.connectedComponents(pairs).count()
    }
    if (which("triangles")) tPrep("triangle_counts") { pairs =>
      noop(DedupOps.triangleCounts(pairs))
    }
    if (which("knn")) t("knn_graph_build") {
      noop(SimilarityOps.knnGraphExact(emb, probeIds, 3))
    }
    if (which("knncc")) t("knn_mutual_cc") {
      SimilarityOps.mutualKnnClusters(emb, probeIds, 3).count()
    }
    if (which("quality")) t("quality_agreement4") {
      TextOps.qualitySignalAgreement4(docs, docs.filter(col("lang") === "en"),
        sw, 30L, 100000L, 1024, 1040L, 1104L).count()
    }
    if (which("dsir")) t("dsir_resample") {
      noop(TextOps.importanceResample(docs, docs.filter(col("lang") === "en"),
        1024))
    }
    if (which("pipeline")) t("pipeline_curate") {
      CurationPipeline.curate(
        docs.filter(pmod(col("doc_id"), lit(4)) === 0)
          .unionByName(docs.filter(pmod(col("doc_id"), lit(200)) === 0)
            .withColumn("doc_id", col("doc_id") + lit(100000000L))),
        docs.filter(pmod(col("doc_id"), lit(100)) === 50)).count()
    }
    spark.stop()
  }
}
