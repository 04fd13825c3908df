package graft

import graft.etl.MoviesEtl
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{InitCap, Lower, Upper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.storage.StorageLevel

/** End-to-end golden test of the reference pipeline shape on the
  * FIXTURES.md §A fixtures (wiki JSON + kaggle CSV + ratings CSV).
  */
class MoviesEtlSpec extends SparkSpec {

  private lazy val result = MoviesEtl.extractTransformLoad(spark,
    fixture("wiki_movies.json"),
    fixture("movies_metadata.csv"),
    fixture("ratings.csv"))

  private def movieRow(imdbId: String): Row =
    result.movies.filter(col("imdb_id") === imdbId).collect()(0)

  private def schemaOf(df: DataFrame): Seq[(String, String, Boolean)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString, f.nullable))

  /** The curated `movies` columns in output order: name, type, nullable. */
  private val MoviesSchema = Seq(
    ("imdb_id", "string", true), ("kaggle_id", "int", true),
    ("title", "string", true), ("original_title", "string", true),
    ("tagline", "string", true), ("belongs_to_collection", "string", true),
    ("wikipedia_url", "string", true), ("imdb_link", "string", true),
    ("runtime", "double", true), ("budget", "double", true),
    ("revenue", "double", true), ("release_date", "date", true),
    ("popularity", "double", true), ("vote_average", "double", true),
    ("vote_count", "int", true), ("genres", "string", true),
    ("original_language", "string", true), ("overview", "string", true),
    ("spoken_languages", "string", true), ("country", "string", true),
    ("production_companies", "string", true),
    ("production_countries", "string", true),
    ("distributor", "string", true), ("producers", "string", true),
    ("director", "string", true), ("starring", "string", false),
    ("cinematography", "string", true), ("editors", "string", true),
    ("writers", "string", true), ("composers", "string", true),
    ("based_on", "string", true))

  test("record filter, dedup, inner join and outlier drop land on 8 movies") {
    // 12 wiki records: -1 TV series (No. of episodes), -1 no imdb_link,
    // -1 duplicate imdb_id; 9 join kaggle on imdb_id → 9 matches minus
    // the (wiki>1996, kaggle<1965) outlier (tt0000009) → 8.
    assert(result.movies.count() == 8)
    assert(result.movies.filter(col("imdb_id") === "tt0000009").count() == 0)
    assert(result.movies.filter(col("imdb_id") === "tt0000003").count() == 0)
  }

  test("adult row is filtered from kaggle side") {
    assert(result.movies.filter(col("title") === "Adult Only").count() == 0)
  }

  test("zero-sentinel fills take wiki values where kaggle is 0") {
    val beta = movieRow("tt0000002")
    assert(beta.getAs[Double]("budget") == 1.2e9)       // kaggle 0 → wiki "$1.2 billion"
    assert(beta.getAs[Double]("revenue") == 1.0e8)      // kaggle 0 → wiki "$90-100 million"
    val delta = movieRow("tt0000004")
    assert(delta.getAs[Double]("runtime") == 95.0)      // kaggle 0 → wiki "95 m"
    val alpha = movieRow("tt0000001")
    assert(alpha.getAs[Double]("budget") == 2.0e7)      // kaggle non-zero wins
  }

  test("money grammar flows through the pipeline") {
    val delta = movieRow("tt0000004")
    assert(delta.getAs[Double]("budget") == 4.5e7)      // "[1]$45,000,000"
    val kappa = movieRow("tt0000011")
    assert(kappa.getAs[Double]("budget") == 1.5e8)      // kaggle 150M (non-zero)
  }

  private val Buckets = Seq("0.5", "1.0", "1.5", "2.0", "2.5", "3.0", "3.5", "4.0", "4.5", "5.0")

  private def assertPinnedSchemas(r: MoviesEtl.Result): Unit = {
    // pinned exactly: column order, types and nullability
    assert(schemaOf(r.movies) == MoviesSchema)
    assert(schemaOf(r.moviesWithRatings) ==
      MoviesSchema ++ Buckets.map(b => (s"rating_$b", "bigint", false)))
  }

  private def writeLines(name: String, lines: Seq[String]): String = {
    val path = java.nio.file.Files.createTempDirectory("movies_etl").resolve(name)
    java.nio.file.Files.write(path, java.util.Arrays.asList(lines: _*))
    path.toString
  }

  test("curated schema has the reference's final column names") {
    assertPinnedSchemas(result)
  }

  test("the pinned schemas hold on a kaggle file with a 12.0 count and a shifted row") {
    val src = scala.io.Source.fromFile(fixture("movies_metadata.csv"))
    val fixtureLines = try src.getLines().toList finally src.close()
    // the reference file's shifted rows: overview text spills into
    // `adult`, a poster path into `budget`, and the row ends early
    val shifted = "\" - Written by Someone\",0.065736,/poster.jpg," +
      "\"[{'id': 18, 'name': 'Drama'}]\",,105,tt0000002"
    val kaggle = writeLines("movies_metadata.csv", fixtureLines.map(l =>
      if (l.contains("tt0000012")) l.stripSuffix(",12") + ",12.0" else l) :+ shifted)
    for (r <- Seq(
      MoviesEtl.extractTransformLoad(spark, fixture("wiki_movies.json"), kaggle,
        fixture("ratings.csv")),
      MoviesEtl.extractTransformLoadResilient(spark, fixture("wiki_movies.json"), kaggle,
        fixture("ratings.csv")).result)) {
      assertPinnedSchemas(r)
      assert(r.movies.count() == 8)
      // the whole-number spelling keeps its count
      val lambda = r.movies.filter(col("imdb_id") === "tt0000012").collect()(0)
      assert(lambda.getAs[Int]("vote_count") == 12)
    }
  }

  test("no case-mapping expression in the optimized plans of either entry point") {
    val resilient = MoviesEtl.extractTransformLoadResilient(spark,
      fixture("wiki_movies.json"), fixture("movies_metadata.csv"), fixture("ratings.csv"))
    for (df <- Seq(result.movies, result.moviesWithRatings,
      resilient.result.movies, resilient.result.moviesWithRatings)) {
      val found = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case e @ (_: Lower | _: Upper | _: InitCap) => e.prettyName
      }))
      assert(found.isEmpty)
    }
  }

  test("writer consolidation merges the four source spellings") {
    assert(movieRow("tt0000002").getAs[String]("writers") == "Writer B")
    assert(movieRow("tt0000004").getAs[String]("writers") == "Writer D")
  }

  test("alt-titles map collects language variants through the pipeline") {
    // alt_titles is assembled pre-curation; assert on the cleaned frame
    val cleaned = MoviesEtl.cleanMovies(MoviesEtl.filterMovieRecords(
      MoviesEtl.readWikiJson(spark, fixture("wiki_movies.json"))))
    val beta = cleaned.filter(col("title") === "Beta Film")
      .select("alt_titles").collect()(0).getMap[String, String](0)
    assert(beta == Map("French" -> "Le Film Beta"))
    val delta = cleaned.filter(col("title") === "Delta Motion Picture")
      .select("alt_titles").collect()(0).getMap[String, String](0)
    assert(delta.keySet == Set("Hangul", "Revised Romanization", "McCune-Reischauer"))
    // the language columns themselves are gone from the frame
    assert(!cleaned.columns.contains("French") && !cleaned.columns.contains("Hangul"))
  }

  test("ratings pivot: counts per star bucket with zero fill") {
    val wr = result.moviesWithRatings
    val alpha = wr.filter(col("imdb_id") === "tt0000001").collect()(0)
    assert(alpha.getAs[Long]("rating_4.0") == 3L)       // users 1, 7, 9
    assert(alpha.getAs[Long]("rating_0.5") == 1L)
    assert(alpha.getAs[Long]("rating_2.0") == 0L)       // zero-filled
    val lambda = wr.filter(col("imdb_id") === "tt0000012").collect()(0)
    assert(lambda.getAs[Long]("rating_2.0") == 1L)
    assert(lambda.getAs[Long]("rating_5.0") == 0L)
  }

  test("whole-star ratings (MovieLens-100k style) land in their .0 buckets") {
    val dir = java.nio.file.Files.createTempDirectory("whole_star")
    val ratings = dir.resolve("ratings.csv")
    java.nio.file.Files.write(ratings, java.util.Arrays.asList(
      "userId,movieId,rating,timestamp",
      "1,101,4,847117005", "2,101,4,847117006", "3,101,3,847117007",
      "1,112,5,847117008"))
    val wr = MoviesEtl.extractTransformLoad(spark, fixture("wiki_movies.json"),
      fixture("movies_metadata.csv"), ratings.toString).moviesWithRatings
    val alpha = wr.filter(col("imdb_id") === "tt0000001").collect()(0)
    assert(alpha.getAs[Long]("rating_4.0") == 2L)
    assert(alpha.getAs[Long]("rating_3.0") == 1L)
    assert(alpha.getAs[Long]("rating_0.5") == 0L)
    val lambda = wr.filter(col("imdb_id") === "tt0000012").collect()(0)
    assert(lambda.getAs[Long]("rating_5.0") == 1L)
  }

  test("ratingCounts equals the pivot it replaced, off-grid and null ratings included") {
    val ratings = MoviesEtl.readRatings(spark, writeLines("ratings.csv", Seq(
      "userId,movieId,rating,timestamp",
      "1,201,4.0,1", "2,201,0.0,2", "3,201,5.5,3", "4,201,,4", "5,201,4.0,5",
      "6,202,0.5,6", "7,202,5.0,7",
      "8,203,0.0,8", "9,203,5.5,9", "10,203,,10")))
    val pivoted = ratings.groupBy("movieId")
      .pivot(col("rating").cast(StringType), Buckets)
      .agg(count(lit(1)))
      .select(col("movieId") +: Buckets.map(v =>
        coalesce(col(s"`$v`"), lit(0L)).as(s"rating_$v")): _*)
    val got = MoviesEtl.ratingCounts(ratings)
    assert(schemaOf(got) == schemaOf(pivoted))
    assert(got.exceptAll(pivoted).isEmpty && pivoted.exceptAll(got).isEmpty)
    assert(got.count() == 3)
    // the movie rated only off the grid is there, with every bucket 0
    val offGrid = got.filter(col("movieId") === 203).collect()(0)
    assert(Buckets.forall(b => offGrid.getAs[Long](s"rating_$b") == 0L))
    assert(got.filter(col("movieId") === 201).collect()(0).getAs[Long]("rating_4.0") == 2L)
  }

  test("moviesWithRatings preserves movie count (left join)") {
    assert(result.moviesWithRatings.count() == 8)
  }

  test("load writes parquet sinks") {
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    val out = java.nio.file.Files.createTempDirectory("etl_out").toString
    MoviesEtl.load(result, out)
    val back = spark.read.parquet(s"$out/movies")
    assert(back.count() == 8)
    assert(spark.read.parquet(s"$out/movies_with_ratings").count() == 8)
    // load's own cache of `movies` is released
    assert((sc.getPersistentRDDs.keySet -- baseline).isEmpty)
    // a `movies` frame the caller cached is left cached
    val callerCached = result.movies.cache()
    try {
      MoviesEtl.load(MoviesEtl.Result(callerCached, result.moviesWithRatings),
        java.nio.file.Files.createTempDirectory("etl_out_cached").toString)
      assert(callerCached.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally callerCached.unpersist(blocking = true)
  }

  test("resilient run with all sources healthy matches the strict façade") {
    val run = MoviesEtl.extractTransformLoadResilient(spark,
      fixture("wiki_movies.json"),
      fixture("movies_metadata.csv"),
      fixture("ratings.csv"))
    assert(run.failed.isEmpty)
    assert(run.completed.contains("merge_movies") &&
      run.completed.contains("ratings_pivot_join"))
    assert(run.result.movies.count() == 8)
    assert(run.result.moviesWithRatings.count() == 8)
  }

  test("resilient run degrades per stage: bad kaggle → wiki-only, bad ratings → unmerged") {
    val run = MoviesEtl.extractTransformLoadResilient(spark,
      fixture("wiki_movies.json"),
      "/nonexistent/kaggle.csv",
      "/nonexistent/ratings.csv")
    assert(run.failed.map(_._1) == Seq("kaggle_clean", "ratings_read"))
    // wiki spine survives: 9 records post filter+dedup (no kaggle join,
    // so no outlier drop to 8)
    assert(run.result.movies.count() == 9)
    // no ratings → moviesWithRatings degrades to movies
    assert(run.result.moviesWithRatings.count() == 9)
  }
}
