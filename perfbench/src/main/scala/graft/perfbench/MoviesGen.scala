package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded generator of the three Movies-ETL inputs (wiki infobox JSON,
  * kaggle metadata CSV, MovieLens ratings CSV), shaped like the reference
  * data and the repo's fixtures: sparse infobox dicts with every column
  * spelling `MoviesEtl.ColumnRenames` folds, the money/date/runtime forms
  * `functions.Cleaning` parses, alternate-title keys, series rows, records
  * without an imdb link, duplicate imdb ids, adult and malformed kaggle
  * rows, release-date outliers and ratings for unknown movies.
  *
  * Every record's fate is decided here, so the generator returns the
  * ground truth the output check compares against. The same seed and
  * sizes give byte-identical files.
  */
object MoviesGen {

  final case class Sizes(wiki: Int, kaggle: Int, ratings: Int)

  /** Default input size: a fifth of the reference dataset's ~7.3 k wiki
    * records and ~45 k kaggle rows, and 90 k ratings, far fewer than
    * MovieLens' millions, so three warm passes on four cores fit in an
    * eight-second run. A pass at this size is not compute-bound; see
    * BENCHMARK.md for what that costs.
    */
  val DefaultSizes: Sizes = Sizes(wiki = 1500, kaggle = 9000, ratings = 90000)

  /** What the pipeline must produce on the generated inputs.
    *
    * @param films       wiki records that survive the film filter and the
    *                    imdb-id dedup
    * @param merged      movies rows: films joined with a non-adult kaggle
    *                    row, minus the planted release-date outliers
    * @param ratingsPerKaggleId rating rows per kaggle id of a merged movie
    *                    (the per-movie total of the pivoted counts)
    */
  final case class Truth(wikiRows: Int, kaggleRows: Int, ratingRows: Int,
                         films: Int, merged: Int,
                         ratingsPerKaggleId: Map[Int, Long],
                         inputBytes: Long) {
    def inputRows: Long = wikiRows.toLong + kaggleRows + ratingRows
  }

  final case class Paths(wiki: String, kaggle: String, ratings: String)

  def paths(dir: File): Paths = Paths(
    new File(dir, "wiki_movies.json").getAbsolutePath,
    new File(dir, "movies_metadata.csv").getAbsolutePath,
    new File(dir, "ratings.csv").getAbsolutePath)

  private val Months = Seq("January", "February", "March", "April", "May",
    "June", "July", "August", "September", "October", "November", "December")
  private val Words = Seq("Alpha", "Night", "River", "Storm", "Golden",
    "Silent", "Last", "City", "Dream", "Iron", "Blue", "Wild", "Secret",
    "Lost", "Broken", "Summer", "Shadow", "Crimson", "Glass", "Northern")
  private val People = Seq("Alice Smith", "Bob Jones", "Carol White",
    "Dan Brown", "Eve Green", "Frank Black", "Grace Hopper", "Hank Gray",
    "Ivy Blue", "Jack Reed", "Kim Violet", "Leo Stone")
  private val Countries = Seq("United States", "France", "Germany",
    "Japan", "China", "Russia", "India", "Italy")
  private val AltKeys = graft.etl.MoviesEtl.AltTitleKeys

  /** Films whose imdb number is drawn from [base, base + n) are the wiki
    * side; kaggle-only titles use numbers from a disjoint range.
    */
  private val WikiImdbBase = 1000000
  private val KaggleOnlyImdbBase = 5000000

  private sealed trait Fate
  private case object Film extends Fate
  private case object Series extends Fate
  private case object NoLink extends Fate
  private case object NoDirector extends Fate
  private case object BadLink extends Fate
  private case object Duplicate extends Fate

  def generate(seed: Long, dir: File, sizes: Sizes = DefaultSizes): Truth = {
    dir.mkdirs()
    val p = paths(dir)
    val rnd = new SplittableRandom(seed)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def chance(pct: Int): Boolean = rnd.nextInt(100) < pct

    // ---- wiki: decide each record's fate, then write it -----------------
    val fates: Array[Fate] = Array.fill(sizes.wiki) {
      val r = rnd.nextInt(1000)
      if (r < 40) Series else if (r < 70) NoLink else if (r < 90) NoDirector
      else if (r < 100) BadLink else if (r < 150) Duplicate else Film
    }
    // the first record is always a film, so a duplicate has a target
    fates(0) = Film
    val imdbOf = new Array[Int](sizes.wiki)
    val filmIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until sizes.wiki) fates(i) match {
      case Duplicate => imdbOf(i) = imdbOf(filmIdx(rnd.nextInt(filmIdx.size)))
      case Film => imdbOf(i) = WikiImdbBase + i; filmIdx += i
      case _ => imdbOf(i) = WikiImdbBase + i
    }
    val filmIds: IndexedSeq[Int] = filmIdx.map(imdbOf).toIndexedSeq
    // films the kaggle side matches, and the matched ones planted as
    // release-date outliers (wiki after 1996, kaggle before 1965)
    val matched = filmIds.filter(_ => chance(85))
    val outliers = matched.filter(_ => chance(2)).toSet
    val adultMatched = filmIds.filterNot(matched.toSet).filter(_ => chance(20))

    val wikiBytes = writeFile(new File(p.wiki)) { w =>
      w.write("[\n")
      for (i <- 0 until sizes.wiki) {
        val fields = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        def str(k: String, v: String): Unit = fields += k -> jsonString(v)
        val title = s"${pick(Words)} ${pick(Words)} $i"
        str("url", s"https://en.wikipedia.org/wiki/Film_$i")
        fields += "year" -> (1950 + rnd.nextInt(70)).toString
        fates(i) match {
          case NoLink => ()
          case BadLink => str("imdb_link", s"https://www.imdb.com/find?q=film$i")
          case _ => str("imdb_link", f"https://www.imdb.com/title/tt${imdbOf(i)}%07d/")
        }
        str("title", title)
        if (fates(i) != NoDirector)
          str(if (chance(75)) "Directed by" else "Director", pick(People))
        if (fates(i) == Series) fields += "No. of episodes" -> (2 + rnd.nextInt(60)).toString
        fields += "Starring" -> Seq.fill(1 + rnd.nextInt(3))(jsonString(pick(People)))
          .mkString("[", ", ", "]")
        val relKey = pick(Seq("Release date", "Release date", "Released", "Original release"))
        str(relKey,
          if (outliers(imdbOf(i))) s"${pick(Months)} ${1 + rnd.nextInt(28)}, ${1997 + rnd.nextInt(20)}"
          else wikiDate(rnd))
        str(if (chance(85)) "Running time" else "Length", runtimeText(rnd))
        if (chance(80)) str("Budget", moneyText(rnd))
        if (chance(70)) str("Box office", moneyText(rnd))
        str(if (chance(80)) "Country" else "Country of origin", pick(Countries))
        if (chance(70)) str("Language", pick(Seq("English", "French", "German", "Japanese")))
        if (chance(50)) str(pick(Seq("Distributed by", "Distributor")), s"${pick(Words)} Pictures")
        if (chance(50)) str(pick(Seq("Produced by", "Producer")), pick(People))
        if (chance(40)) str(pick(Seq("Music by", "Theme music composer")), pick(People))
        if (chance(60)) str(pick(Seq("Written by", "Screenplay by", "Story by",
          "Screen story by", "Adaptation by")), pick(People))
        if (chance(40)) str("Edited by", pick(People))
        if (chance(30)) str(pick(Seq("Productioncompany ", "Productioncompanies ",
          "Production company")), s"${pick(Words)} Studios")
        if (chance(20)) str("Based on", s"$title: The Novel")
        if (chance(20)) str("Cinematography", pick(People))
        for (k <- AltKeys.filter(_ => chance(4))) str(k, s"$title ($k)")
        w.write(fields.map { case (k, v) => s"  ${jsonString(k)}: $v" }
          .mkString("{\n", ",\n", "\n}"))
        w.write(if (i + 1 < sizes.wiki) ",\n" else "\n")
      }
      w.write("]\n")
    }

    // ---- kaggle: matched films, adult rows, malformed rows, the rest ----
    val matchedSet = matched.toSet
    val rowImdb = new Array[Int](sizes.kaggle)
    val rowKind = new Array[Byte](sizes.kaggle) // 0 ok, 1 adult, 2 malformed
    var next = 0
    def take(imdb: Int, kind: Byte): Unit =
      if (next < sizes.kaggle) { rowImdb(next) = imdb; rowKind(next) = kind; next += 1 }
    matched.foreach(take(_, 0))
    adultMatched.foreach(take(_, 1))
    var fresh = KaggleOnlyImdbBase
    while (next < sizes.kaggle) {
      val r = rnd.nextInt(1000)
      take(fresh, if (r < 10) 1 else if (r < 12) 2 else 0)
      fresh += 1
    }
    // deterministic shuffle so matched rows are spread through the file
    for (i <- sizes.kaggle - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val a = rowImdb(i); rowImdb(i) = rowImdb(j); rowImdb(j) = a
      val b = rowKind(i); rowKind(i) = rowKind(j); rowKind(j) = b
    }
    val kaggleIdOf = scala.collection.mutable.HashMap.empty[Int, Int]
    val kaggleBytes = writeFile(new File(p.kaggle)) { w =>
      w.write("adult,belongs_to_collection,budget,genres,homepage,id,imdb_id," +
        "original_language,original_title,overview,popularity,poster_path," +
        "production_companies,production_countries,release_date,revenue," +
        "runtime,spoken_languages,status,tagline,title,video,vote_average,vote_count\n")
      for (i <- 0 until sizes.kaggle) {
        val id = 100 + i
        val imdb = f"tt${rowImdb(i)}%07d"
        val title = s"${pick(Words)} ${pick(Words)} K$id"
        if (rowKind(i) == 2) {
          // the reference file's shifted rows: overview text spills into
          // `adult` and the row ends early
          w.write(s"${csv(s" - Written by ${pick(People)}")},0.065736,/poster$id.jpg," +
            s"${csv("[{'id': 18, 'name': 'Drama'}]")},,$id,$imdb\n")
        } else {
          if (rowKind(i) == 0 && matchedSet(rowImdb(i))) kaggleIdOf(rowImdb(i)) = id
          val year =
            if (outliers(rowImdb(i))) 1930 + rnd.nextInt(30) else 1970 + rnd.nextInt(50)
          val date = f"$year-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"
          val budget = if (chance(40)) 0 else 100000 * (1 + rnd.nextInt(2000))
          val revenue = if (chance(40)) 0L else 100000L * (1 + rnd.nextInt(20000))
          val runtime = if (chance(5)) "" else (if (chance(10)) 0 else 60 + rnd.nextInt(120)).toString
          w.write(Seq(
            if (rowKind(i) == 1) "True" else "False",
            if (chance(10)) csv(s"{'id': ${rnd.nextInt(9000)}, 'name': '${pick(Words)} Collection'}") else "",
            budget.toString,
            csv(s"[{'id': 18, 'name': '${pick(Seq("Drama", "Comedy", "Action", "Documentary"))}'}]"),
            if (chance(20)) s"http://film$id.example.com" else "",
            id.toString, imdb,
            pick(Seq("en", "fr", "de", "ja", "zh")),
            csv(title),
            csv(s"An overview of $title, with a comma"),
            f"${rnd.nextInt(40000) / 1000.0}%.3f",
            s"/p$id.jpg",
            csv(s"[{'name': '${pick(Words)} Studios'}]"),
            csv("[{'iso_3166_1': 'US'}]"),
            date, revenue.toString, runtime,
            csv("[{'iso_639_1': 'en'}]"),
            "Released",
            if (chance(50)) csv(s"The ${pick(Words)} returns") else "",
            csv(title),
            if (chance(2)) "True" else "False",
            f"${rnd.nextInt(100) / 10.0}%.1f",
            rnd.nextInt(10000).toString).mkString(",") + "\n")
        }
      }
    }

    // ---- ratings: skewed over kaggle ids, plus ids no movie carries -----
    val ratingValues = Seq("0.5", "1.0", "1.5", "2.0", "2.5", "3.0", "3.5", "4.0", "4.5", "5.0")
    val perId = scala.collection.mutable.HashMap.empty[Int, Long]
    val ratingsBytes = writeFile(new File(p.ratings)) { w =>
      w.write("userId,movieId,rating,timestamp\n")
      val sb = new java.lang.StringBuilder(64)
      for (i <- 0 until sizes.ratings) {
        val u = rnd.nextDouble()
        val movieId =
          if (u < 0.03) 100 + sizes.kaggle + rnd.nextInt(1000) // unknown movie
          else 100 + (math.pow(rnd.nextDouble(), 2.0) * sizes.kaggle).toInt
        perId(movieId) = perId.getOrElse(movieId, 0L) + 1L
        sb.setLength(0)
        sb.append(1 + i / 40).append(',').append(movieId).append(',')
          .append(ratingValues(rnd.nextInt(ratingValues.size))).append(',')
          .append(789652004L + rnd.nextInt(700000000)).append('\n')
        w.write(sb.toString)
      }
    }

    val merged = matched.filterNot(outliers)
    Truth(
      wikiRows = sizes.wiki, kaggleRows = sizes.kaggle, ratingRows = sizes.ratings,
      films = filmIds.size, merged = merged.size,
      ratingsPerKaggleId = merged.map { imdb =>
        val kid = kaggleIdOf(imdb); kid -> perId.getOrElse(kid, 0L)
      }.toMap,
      inputBytes = wikiBytes + kaggleBytes + ratingsBytes)
  }

  private def wikiDate(rnd: SplittableRandom): String = {
    val y = 1950 + rnd.nextInt(70)
    val m = 1 + rnd.nextInt(12)
    val d = 1 + rnd.nextInt(28)
    rnd.nextInt(7) match {
      case 0 => s"${Months(m - 1)} $d, $y"
      case 1 => f"$y-$m%02d-$d%02d"
      case 2 => s"${Months(m - 1)} $y"
      case 3 => y.toString
      case 4 => s"$d ${Months(m - 1)} $y"
      case 5 => s"${Months(m - 1)} $d, $y (United States)"
      case _ => "bad date string"
    }
  }

  private def runtimeText(rnd: SplittableRandom): String = {
    val mins = 60 + rnd.nextInt(120)
    rnd.nextInt(6) match {
      case 0 | 1 => s"$mins minutes"
      case 2 => s"${mins / 60} h ${mins % 60} min"
      case 3 => s"$mins m"
      case 4 => s"${mins / 60} hour ${mins % 60} minutes"
      case _ => "unknown"
    }
  }

  private def moneyText(rnd: SplittableRandom): String = {
    val a = 1 + rnd.nextInt(300)
    rnd.nextInt(11) match {
      case 0 => s"$$$a million"
      case 1 => f"$$${a / 100.0}%.1f billion"
      case 2 => f"$$${a * 1000003L}%,d"
      case 3 => f"[1]$$${a * 100000L}%,d"
      case 4 => s"$$$a-${a + 10} million"
      case 5 => s"$$$a–${a + 10} million"
      case 6 => f"$$${a / 10.0}%.1f millon"
      case 7 => s"$$$a Million"
      case 8 => "twenty dollars"
      case 9 => "not released"
      case _ => f"$$${a / 1000.0}%.3f"
    }
  }

  private def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def csv(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  /** Writes `dir/file` through `body` and returns the bytes written. */
  private def writeFile(f: File)(body: BufferedWriter => Unit): Long = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    try body(w) finally w.close()
    f.length()
  }
}
