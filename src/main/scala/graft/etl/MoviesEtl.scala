package graft.etl

import graft.functions.Cleaning
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The reference pipeline (`extract_transform_load` in the reconstructed
  * `challenge.py` — SURVEY.md §3.1, citation caveat §0) re-expressed as a
  * lazy Spark DataFrame dataflow.
  *
  * Stage trace mirrors the reference's E1 lifecycle: JSON extract →
  * record filter → clean_movie (rename/alt-titles) → imdb-id extract →
  * dedup → null-ratio prune → money/date/runtime parsing → kaggle
  * cleanup → merge → outlier drop → zero-sentinel fills → column
  * curation → ratings pivot → left merge + zero fill → load.
  *
  * Unlike the eager row-at-a-time reference, every stage here is a plan
  * fragment: Catalyst fuses the scalar stages into one codegen'd pass,
  * prunes unused wiki columns against the final projection, and picks
  * broadcast-hash for the (small) kaggle/pivot sides — so the same code
  * scales from the 12-record fixture to a multi-TB crawl.
  */
object MoviesEtl {

  /** Alternate-title language keys folded into the `alt_titles` map
    * (reference `clean_movie`, [R — high]).
    */
  val AltTitleKeys: Seq[String] = Seq(
    "Also known as", "Arabic", "Cantonese", "Chinese", "French",
    "Hangul", "Hebrew", "Hepburn", "Japanese", "Literally", "Mandarin",
    "McCune-Reischauer", "Original title", "Polish", "Revised Romanization",
    "Romanized", "Russian", "Simplified", "Traditional", "Yiddish")

  /** Column-consolidation map (reference `change_column_name` calls):
    * target ← source spellings, first non-null wins.
    */
  val ColumnRenames: Seq[(String, Seq[String])] = Seq(
    "Director" -> Seq("Directed by"),
    "Distributor" -> Seq("Distributed by"),
    "Editor(s)" -> Seq("Edited by"),
    "Composer(s)" -> Seq("Music by", "Theme music composer"),
    "Producer(s)" -> Seq("Produced by", "Producer"),
    "Production company(s)" -> Seq("Productioncompany ", "Productioncompanies ", "Production company"),
    "Writer(s)" -> Seq("Written by", "Screenplay by", "Screen story by", "Story by", "Adaptation by"),
    "Release date" -> Seq("Released", "Original release"),
    "Running time" -> Seq("Length"),
    "Country" -> Seq("Country of origin"),
    "Original language(s)" -> Seq("Language"))

  /** A1 — multi-record JSON array of sparse infobox dicts. */
  def readWikiJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", true).json(path)

  /** A2 — the kaggle metadata CSV, with schema inference (its inferred
    * types flow into the output) and pandas-like mixed-type tolerance
    * (PERMISSIVE). The A3 ratings CSV is read by [[readRatings]].
    */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", true).option("inferSchema", true)
      .option("mode", "PERMISSIVE").csv(path)

  /** The fixed MovieLens `ratings.csv` layout. */
  private val RatingsSchema: StructType = StructType(Seq(
    StructField("userId", IntegerType),
    StructField("movieId", IntegerType),
    StructField("rating", DoubleType),
    StructField("timestamp", LongType)))

  /** A3 + H8 — MovieLens ratings with their declared layout, plus
    * `rated_at` from the Unix-seconds `timestamp`. Declaring the layout
    * skips the inference scan, and keeps `rating` a double even when a
    * file holds only whole stars (`4`, `3`), so [[ratingCounts]]' buckets
    * (`"4.0"`) match.
    */
  def readRatings(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(RatingsSchema).option("header", true)
      .option("mode", "PERMISSIVE").csv(path)
      .withColumn("rated_at", Cleaning.fromUnixSeconds(col("timestamp")))

  /** B1 — keep film records: has a director and an imdb link, is not an
    * episodic series. Key-presence in the raw dicts ≡ non-null after the
    * sparse JSON load.
    */
  def filterMovieRecords(wiki: DataFrame): DataFrame = {
    val dir = Seq("Director", "Directed by").filter(wiki.columns.contains)
      .map(c => col(s"`$c`").isNotNull)
      .reduceOption(_ || _).getOrElse(lit(false))
    val noEpisodes =
      if (wiki.columns.contains("No. of episodes")) col("`No. of episodes`").isNull
      else lit(true)
    wiki.filter(dir && col("imdb_link").isNotNull && noEpisodes)
  }

  /** `clean_movie`: list-cell normalization, alt-title map assembly,
    * column consolidation (H2/H13/H14).
    */
  def cleanMovies(wiki: DataFrame): DataFrame = {
    val normalized = Cleaning.normalizeListColumns(wiki)
    val withAlt = Cleaning.buildAltTitlesMap(normalized, AltTitleKeys)
    Cleaning.consolidateColumns(withAlt, ColumnRenames)
  }

  /** H1 + dedup: extract `imdb_id`, drop rows without one, keep one row
    * per id (deterministic: lexicographically smallest url wins, vs the
    * reference's positional drop_duplicates).
    */
  def dedupByImdbId(wiki: DataFrame): DataFrame = {
    val withId = wiki.withColumn("imdb_id", Cleaning.extractImdbId(col("imdb_link")))
      .filter(col("imdb_id").isNotNull)
    graft.operators.DedupOps.keepFirstPerKey(withId, Seq("imdb_id"), Seq("url"))
  }

  /** Money/date/runtime parsing stages (H3–H9) on the wiki frame: each
    * present raw column is replaced by its parsed column, appended last.
    */
  def parseWikiColumns(wiki: DataFrame): DataFrame = {
    val parsers = Seq[(String, String, Column => Column)](
      ("Box office", "box_office", Cleaning.parseMoneyColumn),
      ("Budget", "budget_wiki", Cleaning.parseMoneyColumn),
      ("Release date", "release_date_wiki", Cleaning.parseReleaseDate),
      ("Running time", "running_time", Cleaning.parseRunningTime))
      .filter { case (raw, _, _) => wiki.columns.contains(raw) }
    val raws = parsers.map(_._1).toSet
    wiki.select(
      (wiki.columns.toSeq.filterNot(raws.contains).map(c => col(s"`$c`")) ++
        parsers.map { case (raw, out, parse) => parse(col(s"`$raw`")).as(out) }): _*)
  }

  /** Kaggle cleanup (B6/H10/H11): drop adult rows+column, bool-ify
    * `video`, numeric casts (ANSI cast ≡ errors='raise').
    */
  def cleanKaggle(kaggle: DataFrame): DataFrame = {
    val retyped = Map(
      "video" -> (lower(col("video").cast(StringType)) === "true"),
      "runtime" -> col("runtime").cast(DoubleType),
      "revenue" -> col("revenue").cast(DoubleType),
      "popularity" -> col("popularity").cast(DoubleType))
    val renamed = Seq(
      col("id").cast(IntegerType).as("kaggle_id"),
      col("budget").cast(DoubleType).as("budget_kaggle"),
      col("release_date").cast(DateType).as("release_date_kaggle"))
    val dropped = Set("adult", "id", "budget", "release_date")
    kaggle
      // reference: kaggle['adult'] == 'False'; inferSchema may have read
      // the flag as BooleanType already, so compare case-insensitively
      .filter(lower(col("adult").cast(StringType)) === "false")
      .select((kaggle.columns.toSeq.filterNot(dropped.contains).map(c =>
        retyped.get(c).fold(col(s"`$c`"))(_.as(c))) ++ renamed): _*)
  }

  /** D1+D2+D7 — MovieLens rating counts pivoted wide per movie. The
    * buckets match `rating` cast to string, so `rating` must be a double
    * (as [[readRatings]] declares it): an integer `4` would print as `"4"`.
    */
  def ratingCounts(ratings: DataFrame): DataFrame = {
    val values = Seq("0.5", "1.0", "1.5", "2.0", "2.5", "3.0", "3.5", "4.0", "4.5", "5.0")
    ratings
      .groupBy("movieId")
      .pivot(col("rating").cast(StringType), values)
      .agg(count(lit(1)))
      .select(col("movieId") +: values.map(v => zeroFilled(v, s"rating_$v")): _*)
  }

  /** D7 — `fillna(0)` for a pivot column. `na.fill` mis-parses the
    * reference-faithful dotted names (`rating_0.5`) as nested fields, so
    * fill via coalesce with a backtick-quoted ref.
    */
  private def zeroFilled(c: String, as: String): Column =
    coalesce(col(s"`$c`"), lit(0L)).as(as)

  /** C1 + B7 + H12 + B2/H13 — merge wiki and kaggle frames, drop
    * out-of-range outliers, fill kaggle zeros from wiki, curate columns.
    */
  def mergeMovies(wiki: DataFrame, kaggle: DataFrame): DataFrame = {
    // pandas merge suffixes=['_wiki','_kaggle'] for colliding names; the
    // kaggle title is the one kept, under its own name
    val common = (wiki.columns.toSet intersect kaggle.columns.toSet) - "imdb_id"
    def suffixed(df: DataFrame, suffix: String, renamed: Set[String]): DataFrame =
      df.select(df.columns.toSeq.map(c =>
        if (renamed(c)) col(s"`$c`").as(c + suffix) else col(s"`$c`")): _*)
    val joined = suffixed(wiki, "_wiki", common)
      .join(suffixed(kaggle, "_kaggle", common - "title"), Seq("imdb_id"), "inner")
    // B7: drop rows where the two sources wildly disagree on release date
    val outlier = col("release_date_wiki") > lit("1996-01-01").cast(DateType) &&
      col("release_date_kaggle") < lit("1965-01-01").cast(DateType)
    // H12: kaggle zeros filled from the parsed wiki values
    val filled = Map(
      "runtime" -> Cleaning.fillZeroSentinel(col("runtime"), col("running_time")),
      "budget" -> Cleaning.fillZeroSentinel(col("budget_kaggle"), col("budget_wiki")),
      "revenue" -> Cleaning.fillZeroSentinel(col("revenue"), col("box_office").cast(DoubleType)))
    val ordered = Seq(
      "imdb_id", "kaggle_id", "title", "original_title", "tagline",
      "belongs_to_collection", "url", "imdb_link", "runtime", "budget",
      "revenue", "release_date_kaggle", "popularity", "vote_average",
      "vote_count", "genres", "original_language", "overview",
      "spoken_languages", "Country", "production_companies",
      "production_countries", "Distributor", "Producer(s)", "Director",
      "Starring", "Cinematography", "Editor(s)", "Writer(s)",
      "Composer(s)", "Based on")
    val finalNames = Map(
      "url" -> "wikipedia_url", "release_date_kaggle" -> "release_date",
      "Country" -> "country", "Distributor" -> "distributor",
      "Producer(s)" -> "producers", "Director" -> "director",
      "Starring" -> "starring", "Cinematography" -> "cinematography",
      "Editor(s)" -> "editors", "Writer(s)" -> "writers",
      "Composer(s)" -> "composers", "Based on" -> "based_on")
    val present = ordered.filter(c => filled.contains(c) || joined.columns.contains(c))
    joined.filter(!coalesce(outlier, lit(false)))
      .select(present.map(c =>
        filled.getOrElse(c, col(s"`$c`")).as(finalNames.getOrElse(c, c))): _*)
  }

  /** C2 + D7 — left-merge pivoted rating counts onto movies, zero-fill
    * movies with no ratings.
    */
  def withRatings(movies: DataFrame, ratingCountsDf: DataFrame): DataFrame = {
    val ratingCols = ratingCountsDf.columns.filter(_.startsWith("rating_")).toSet
    val joined = movies.join(broadcast(ratingCountsDf),
      movies("kaggle_id") === ratingCountsDf("movieId"), "left")
    joined.select(joined.columns.toSeq.filter(_ != "movieId").map(c =>
      if (ratingCols(c)) zeroFilled(c, c) else col(s"`$c`")): _*)
  }

  final case class Result(movies: DataFrame, moviesWithRatings: DataFrame)

  /** E1 — the whole pipeline, lazily. Call `.load`/`.write` on the
    * results to execute.
    */
  def extractTransformLoad(spark: SparkSession, wikiPath: String,
                           kagglePath: String, ratingsPath: String): Result = {
    val wiki = parseWikiColumns(dedupByImdbId(cleanMovies(
      filterMovieRecords(readWikiJson(spark, wikiPath)))))
    val kaggle = cleanKaggle(readCsv(spark, kagglePath))
    val movies = mergeMovies(wiki, kaggle)
    Result(movies, withRatings(movies, ratingCounts(readRatings(spark, ratingsPath))))
  }

  /** Outcome of a resilient run: the (possibly partial) result plus the
    * per-stage audit trail.
    */
  final case class ResilientRun(result: Result, completed: Seq[String],
                                failed: Seq[(String, String)])

  /** E1 parity — the reference wraps fragile stages in `try/except` and
    * continues with partial results (SURVEY §3.1). Spark's PERMISSIVE
    * readers cover the data-level half; this covers the stage level:
    * each optional source/transform runs under `Try`, a failure records
    * (stage, error) and degrades gracefully — missing kaggle ⇒ wiki-only
    * movies, missing ratings ⇒ `moviesWithRatings == movies`. The wiki
    * branch is the pipeline's spine and still propagates its failure
    * (there is no partial result without it), matching the reference,
    * whose outer function aborts when the wiki JSON cannot load.
    */
  def extractTransformLoadResilient(spark: SparkSession, wikiPath: String,
                                    kagglePath: String,
                                    ratingsPath: String): ResilientRun = {
    val completed = Seq.newBuilder[String]
    val failed = Seq.newBuilder[(String, String)]
    // DataFrames are lazy: without a probe, a stage would "complete" at
    // analysis time and its runtime data error would surface LATER,
    // outside any Try, making the audit trail lie. limit(1).count()
    // forces resolution + execution of at least one row inside the Try
    // (cheap: one file split). A fault in rows the probe never touches
    // can still surface at final action time — full-materialization
    // semantics would mean running every stage to completion here.
    def stage(name: String)(thunk: => DataFrame): Option[DataFrame] =
      scala.util.Try { val df = thunk; df.limit(1).count(); df } match {
        case scala.util.Success(a) => completed += name; Some(a)
        case scala.util.Failure(e) =>
          failed += name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    val wiki = parseWikiColumns(dedupByImdbId(cleanMovies(
      filterMovieRecords(readWikiJson(spark, wikiPath)))))
    completed += "wiki_extract_transform"
    val movies = stage("kaggle_clean")(cleanKaggle(readCsv(spark, kagglePath)))
      .flatMap(k => stage("merge_movies")(mergeMovies(wiki, k)))
      .getOrElse(wiki)
    val withR = stage("ratings_read")(readRatings(spark, ratingsPath))
      .flatMap(r => stage("ratings_pivot_join")(withRatings(movies, ratingCounts(r))))
      .getOrElse(movies)
    ResilientRun(Result(movies, withR), completed.result(), failed.result())
  }

  /** A6/A7 — load stage: parquet sink (overwrite ≡ if_exists='replace');
    * `jdbcUrl` switches to a JDBC sink when a database is reachable.
    * Both sinks overwrite for idempotent re-runs; the reference's
    * chunked-append semantics live in
    * [[graft.streaming.StreamingOps.chunkedLoad]].
    *
    * `moviesWithRatings` extends `movies`, so `movies` is cached for the
    * two writes and the second one reads it instead of re-parsing and
    * re-deduplicating the inputs. A frame the caller cached stays as the
    * caller left it.
    */
  def load(result: Result, outDir: String,
           jdbcUrl: Option[String] = None,
           jdbcProps: java.util.Properties = new java.util.Properties): Unit = {
    val cacheHere = result.movies.storageLevel == StorageLevel.NONE
    if (cacheHere) result.movies.persist()
    try jdbcUrl match {
      case Some(url) =>
        result.movies.write.mode("overwrite").jdbc(url, "movies", jdbcProps)
        result.moviesWithRatings.write.mode("overwrite").jdbc(url, "movies_with_ratings", jdbcProps)
      case None =>
        result.movies.write.mode("overwrite").parquet(s"$outDir/movies")
        result.moviesWithRatings.write.mode("overwrite").parquet(s"$outDir/movies_with_ratings")
    } finally if (cacheHere) result.movies.unpersist()
  }
}
