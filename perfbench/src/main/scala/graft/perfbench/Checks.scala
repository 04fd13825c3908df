package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.etl.MoviesEtl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks. They run untimed, after the cold pass. */
object Checks {

  /** Row count and an ordered hash of the rows: a 64-bit hash of each
    * row's JSON text, folded in output order. JSON renders doubles with
    * all their digits and decimals exactly, so any changed cell changes
    * the fingerprint; the fold makes a changed row order change it too,
    * since every declared key ends in a total-order sort.
    */
  final case class Fingerprint(rows: Long, hash: Long) {
    def render: String = s"$rows\t${java.lang.Long.toHexString(hash)}"
  }

  /** Folds row hashes in order: each step multiplies the running hash by
    * an odd constant and adds the next row's hash, modulo 2^64.
    */
  def fold(rowHashes: Iterator[Long]): Fingerprint = {
    var rows = 0L
    var h = 0L
    rowHashes.foreach { x =>
      rows += 1
      h = h * 0x9E3779B97F4A7C15L + x
    }
    Fingerprint(rows, h)
  }

  /** The relation's fingerprint. The row hashes are computed by Spark and
    * collected in the relation's order (a few tens of thousands of longs
    * for the keys the benchmark checks).
    */
  def fingerprint(df: DataFrame): Fingerprint =
    fold(df.select(xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))))
      .collect().iterator.map(_.getLong(0)))

  /** Fingerprints kept with the benchmark, one `key<TAB>rows<TAB>hash`
    * line per declared key, `hash` in hex.
    */
  def readFingerprints(f: File): Map[String, Fingerprint] =
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").iterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(k, n, h) = l.split("\t")
        k -> Fingerprint(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
      }.toMap

  def writeFingerprints(f: File, fps: Seq[(String, Fingerprint)]): Unit =
    Files.write(f.toPath, (
      "# key\trows\tordered hash of xxhash64(to_json(row)), see Checks.fingerprint\n" +
        fps.sortBy(_._1).map { case (k, fp) => s"$k\t${fp.render}\n" }.mkString
      ).getBytes(StandardCharsets.UTF_8))

  /** Compares the Movies-ETL outputs with the generator's planted truth.
    * Returns the list of mismatches; empty means correct.
    */
  def moviesEtl(spark: SparkSession, in: MoviesGen.Paths, outDir: String,
                truth: MoviesGen.Truth): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) bad += s"$what: got $got, want $want"

    val films = MoviesEtl.dedupByImdbId(MoviesEtl.cleanMovies(
      MoviesEtl.filterMovieRecords(MoviesEtl.readWikiJson(spark, in.wiki))))
    expect("films after filter and dedup", films.count(), truth.films)

    val movies = spark.read.parquet(s"$outDir/movies")
    expect("movies rows", movies.count(), truth.merged)
    expect("distinct imdb ids", movies.select("imdb_id").distinct().count(), truth.merged)

    val withRatings = spark.read.parquet(s"$outDir/movies_with_ratings")
    val ratingCols = withRatings.columns.filter(_.startsWith("rating_"))
    expect("rating columns", ratingCols.length, 10)
    val perMovie = withRatings.select(col("kaggle_id"),
      ratingCols.map(c => col(s"`$c`")).reduce(_ + _).as("n"))
    import spark.implicits._
    val want = truth.ratingsPerKaggleId.toSeq.toDF("kaggle_id", "want")
    val joined = perMovie.join(want, Seq("kaggle_id"), "full_outer")
    expect("movies_with_ratings rows", withRatings.count(), truth.merged)
    expect("movies whose rating total differs from the planted count",
      joined.filter(!(col("n") <=> col("want"))).count(), 0)
    bad.result()
  }
}
