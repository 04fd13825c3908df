package graft.perfbench

import graft.Tables
import graft.etl.MoviesEtl
import graft.operators.{CurationPipeline, DedupOps, EventOps, Relational, SimilarityOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Direct calls into single layers for the traced run. Each call uses the
  * inputs and constants of the declared key that exercises the layer and
  * materializes its result to the noop sink, so its wall time is that
  * layer's cost with nothing downstream of it.
  */
object Probes {

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Operator-layer metrics on the sf0.1 curation inputs, plus the
    * largest storage (`Lineage.*`) any call left behind.
    */
  def operators(spark: SparkSession, sf: String, spans: Spans): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def docs = Tables.documents(spark, sf)
    def release(): Unit = {
      val (mb, rdds) = Main.storage(spark)
      m("Lineage.resident_mb") = math.max(mb, m.getOrElse("Lineage.resident_mb", 0.0))
      m("Lineage.persisted_rdds") = math.max(rdds.toDouble, m.getOrElse("Lineage.persisted_rdds", 0.0))
      spark.catalog.clearCache(); graft.operators.Lineage.releaseAll(spark)
    }
    def op(name: String)(body: => Unit): Unit = {
      m(name) = spans(name)(timed(body))
      release()
    }

    // q_neardup_lsh_verified: the band join and its verification
    val tenth = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    op("DedupOps.lsh_pairs_s")(noop(DedupOps.lshVerifiedJaccardPairs(tenth, 32, 2, 80)))
    val candidates = DedupOps.minHashCandidatesUnsorted(tenth, 32, 2).count()
    val verified = DedupOps.lshVerifiedJaccardPairsUnsorted(tenth, 32, 2, 80).count()
    m("DedupOps.candidate_pairs") = candidates.toDouble
    m("DedupOps.verified_pairs") = verified.toDouble
    m("DedupOps.verified_ratio") =
      if (candidates == 0) 0.0 else verified.toDouble / candidates

    // q_dedup_canonical's clustering: components over its verified pairs
    val quarterPairs = DedupOps.lshVerifiedJaccardPairsUnsorted(
      docs.filter(pmod(col("doc_id"), lit(4)) === 0), 32, 2, 80)
      .select("a_id", "b_id").localCheckpoint()
    op("DedupOps.cc_s")(noop(DedupOps.connectedComponents(quarterPairs)))

    // q_knn_graph_stored's graph build (k = 3 over probe ids 0..7)
    op("SimilarityOps.knn_graph_s")(noop(
      SimilarityOps.knnGraphExact(Tables.embeddings(spark, sf), 0L until 8L, 3)))

    op("TextOps.quality4_s")(noop(TextOps.qualitySignalAgreement4(
      docs, docs.filter(col("lang") === "en"),
      stopwords = Seq("a", "the", "of", "and", "in"), minWords = 30L,
      maxStopwordPpm = 100000L, numBuckets = 1024, maxBitsQ8 = 1040L,
      maxBiQ8 = 1104L)))

    op("TextOps.dsir_s")(noop(TextOps.importanceWeights(
      docs, docs.filter(col("lang") === "en"), 1024)))

    // q_interval_join's padded session intervals
    op("Relational.interval_pairs_s") {
      val iv = EventOps.sessionizeOn(Tables.events(spark, sf), expr("ts div 1000"),
          30L * 60L * 1000L * 1000L)
        .select((col("user_id") * lit(4294967296L) + col("session_id")).as("iv_id"),
          col("session_start").as("s_start"),
          (col("session_end") + lit(7200000000L)).as("s_end"))
      noop(Relational.intervalOverlapPairs(iv))
    }

    // q_pipeline_curate's inputs; the pipeline reports each stage itself
    spans("CurationPipeline.stages") {
      CurationPipeline.stages(
        docs.filter(pmod(col("doc_id"), lit(4)) === 0)
          .unionByName(docs.filter(pmod(col("doc_id"), lit(200)) === 0)
            .withColumn("doc_id", col("doc_id") + lit(10000000L))),
        docs.filter(pmod(col("doc_id"), lit(100)) === 50),
        onStage = (stage, s) => m(s"CurationPipeline.${stage}_s") = s)
    }
    release()
    m.toMap
  }

  /** Movies-ETL stage metrics: each public stage function runs on the
    * cached output of the one before, so each time is that stage alone.
    */
  def moviesStages(spark: SparkSession, in: MoviesGen.Paths, outDir: String,
                   inputBytes: Long, spans: Spans): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def stage(name: String)(make: => DataFrame): DataFrame = {
      var out: DataFrame = null
      m(name) = spans(name)(timed {
        out = make.cache()
        noop(out)
      })
      cached += out
      out
    }
    val wiki = stage("MoviesEtl.read_wiki_s")(MoviesEtl.readWikiJson(spark, in.wiki))
    val films = stage("MoviesEtl.wiki_transform_s")(MoviesEtl.parseWikiColumns(
      MoviesEtl.dedupByImdbId(MoviesEtl.cleanMovies(MoviesEtl.filterMovieRecords(wiki)))))
    val kaggle = stage("MoviesEtl.kaggle_s")(MoviesEtl.cleanKaggle(MoviesEtl.readCsv(spark, in.kaggle)))
    val ratings = stage("MoviesEtl.ratings_read_s")(MoviesEtl.readCsv(spark, in.ratings)
      .withColumn("rated_at", graft.functions.Cleaning.fromUnixSeconds(col("timestamp"))))
    val counts = stage("MoviesEtl.rating_pivot_s")(MoviesEtl.ratingCounts(ratings))
    val movies = stage("MoviesEtl.merge_s")(MoviesEtl.mergeMovies(films, kaggle))
    m("MoviesEtl.load_s") = spans("MoviesEtl.load_s")(timed(MoviesEtl.load(
      MoviesEtl.Result(movies, MoviesEtl.withRatings(movies, counts)), outDir)))
    m("MoviesEtl.write_amp") = dirBytes(new java.io.File(outDir)).toDouble / inputBytes
    cached.foreach(_.unpersist(blocking = true))
    m.toMap
  }

  /** Bytes of the data files under `dir` (Spark's marker and checksum
    * files excluded).
    */
  def dirBytes(dir: java.io.File): Long =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) dirBytes(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    }.sum
}
