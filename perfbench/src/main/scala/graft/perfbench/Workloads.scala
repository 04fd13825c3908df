package graft.perfbench

import graft.etl.MoviesEtl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

/** A declared result, built but not yet executed: the frames a user
  * would receive and the sink that materializes all of them.
  */
final case class Built(frames: Seq[DataFrame], sink: () => Unit)

/** One operation of a workload's closed loop. */
final case class Op(name: String, build: SparkSession => Built)

object Workloads {

  val Names: Seq[String] = Seq("movies_etl", "curation_sf01")

  /** LLM-curation declared keys: eager build-time jobs, the MinHash band
    * join with exact verification, and the benchmark-shingle broadcast
    * join. The two cheapest curation keys (about 1.1 s each warm at sf0.1
    * on four cores), so a run fits the benchmark's time budget.
    */
  val CurationKeys: Seq[String] = Seq("q_neardup_lsh_verified", "q_decontaminate")

  /** The input rows a curation pass reads: `q_neardup_lsh_verified` is
    * built from the tenth of `documents` with `doc_id % 10 = 0`, and
    * `q_decontaminate` from all of `documents`, split into a corpus (99%)
    * and a benchmark side (1%).
    */
  def curationInputRows(spark: SparkSession, sfDir: String): Long = {
    val docs = graft.Tables.documents(spark, sfDir)
    docs.filter(pmod(col("doc_id"), lit(10)) === 0).count() + docs.count()
  }

  /** A declared key, materialized the way Verify receives it: every row
    * and column of the ordered relation, written to Spark's noop sink.
    */
  def declared(key: String, sfDir: String): Op = {
    val fn = graft.SparkEntry.queries.getOrElse(key,
      throw new IllegalArgumentException(s"unknown declared key $key"))
    Op(key, spark => {
      val df = fn(spark, sfDir)
      Built(Seq(df), () => df.write.format("noop").mode("overwrite").save())
    })
  }

  /** The paper's pipeline: extract, transform and merge, then the parquet
    * load of both result tables.
    */
  def moviesEtl(in: MoviesGen.Paths, outDir: String): Op =
    Op("movies_etl", spark => {
      val r = MoviesEtl.extractTransformLoad(spark, in.wiki, in.kaggle, in.ratings)
      Built(Seq(r.movies, r.moviesWithRatings), () => MoviesEtl.load(r, outDir))
    })
}
