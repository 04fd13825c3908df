package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's scalar cleaning logic (SURVEY.md §2.H, reconstructed —
  * see SURVEY §0 for the citation caveat) re-expressed as pure
  * `Column` combinators.
  *
  * Design rule (SURVEY §2.J): zero UDFs. Every function here composes
  * native Spark expressions, so the whole cleaning pipeline stays inside
  * whole-stage codegen, survives predicate pushdown / column pruning, and
  * is distributable without serializing closures. At 100 TB these run
  * embarrassingly parallel per row with no shuffle.
  *
  * Regex-dialect note (SURVEY §7.3 H5): the money-range and plain-number
  * patterns use negative lookahead, which Java regex supports but RE2
  * (DuckDB) silently mis-evaluates — these functions are fixture-tested
  * in ScalaTest rather than oracle-checked.
  */
object Cleaning {

  // --- money grammar (reference: module-level form_one / form_two) ---

  private val MoneyNum = "\\$\\s*\\d+\\.?\\d*\\s*"

  /** `$ 123.4 milli?on|billi?on` (typo-tolerant, case-insensitive). */
  val MoneyFormWord: String = MoneyNum + "[mb]illi?on"

  /** `$ 123,456,789` (or dot-grouped), not followed by ` million`. */
  val MoneyFormPlain = "\\$\\s*\\d{1,3}(?:[,\\.]\\d{3})+(?!\\s[mb]illi?on)"

  /** H1 — IMDb id out of a link: `tt` + 7 digits; null when absent. */
  def extractImdbId(c: Column): Column =
    nullif(regexp_extract(c, "(tt\\d{7})", 1), lit(""))

  /** H3 — collapse money ranges: `$90–100 million` → `$100 million`.
    * Reference: `str.replace(r'\$.*[-—–](?![a-z])', '$', regex=True)`.
    */
  def collapseMoneyRange(c: Column): Column =
    regexp_replace(c, "\\$.*[-\u2014\u2013](?![a-z])", "\\$")

  /** H4 — strip `[n]` wiki citations. */
  def stripCitations(c: Column): Column =
    regexp_replace(c, "\\[\\d+\\]\\s*", "")

  /** H6 — the reference's `parse_dollars`: money string → double.
    * `"$123.4 million"` → 1.234e8, `"$1.2 billion"` → 1.2e9,
    * `"$123,456,789"` → 1.23456789e8, anything else → null.
    * `re.match` anchors at the start, hence the `^` anchors here;
    * `try_cast` mirrors Python `float()` failure → NaN under ANSI mode.
    */
  def parseDollars(c: Column): Column = {
    // anchored (re.match) variants of the shared grammar constants
    val million = "(?i)^" + MoneyNum + "milli?on"
    val billion = "(?i)^" + MoneyNum + "billi?on"
    val plain   = "(?i)^" + MoneyFormPlain
    // re.sub(r'\$|\s|[a-zA-Z]', '', s)  /  re.sub(r'\$|,', '', s)
    val wordNum  = regexp_replace(c, "\\$|\\s|[a-zA-Z]", "").try_cast("double")
    val plainNum = regexp_replace(c, "\\$|,", "").try_cast("double")
    when(c.rlike(million), wordNum * 1e6)
      .when(c.rlike(billion), wordNum * 1e9)
      .when(c.rlike(plain), plainNum)
      .otherwise(lit(null).cast(DoubleType))
  }

  /** Full money pipeline on a raw (possibly list-valued, range-bearing,
    * citation-bearing) infobox cell: normalize → strip → collapse → parse.
    */
  def parseMoneyColumn(c: Column): Column =
    parseDollars(collapseMoneyRange(stripCitations(c)))

  // --- dates (H7) ---

  /** The reference's four textual date forms. */
  val DateFormFull  = "(?:January|February|March|April|May|June|July|August|September|October|November|December)\\s[0123]?\\d,\\s\\d{4}"
  val DateFormIso   = "\\d{4}.[01]\\d.[0123]\\d"
  val DateFormMonth = "(?:January|February|March|April|May|June|July|August|September|October|November|December)\\s\\d{4}"
  val DateFormYear  = "\\d{4}"

  /** H7 — extract the first matching date form, then parse. Spark's
    * datetime formatter is pinned to `Locale.US` internally, so the
    * month-name patterns are environment-independent.
    */
  def parseReleaseDate(c: Column): Column = {
    val extracted = regexp_extract(
      c, s"($DateFormFull|$DateFormIso|$DateFormMonth|$DateFormYear)", 1)
    val e = nullif(extracted, lit(""))
    coalesce(
      try_to_timestamp(e, lit("MMMM d, yyyy")),
      try_to_timestamp(e, lit("yyyy-MM-dd")),
      try_to_timestamp(e, lit("yyyy/MM/dd")),
      try_to_timestamp(e, lit("yyyy.MM.dd")),
      try_to_timestamp(e, lit("MMMM yyyy")),
      try_to_timestamp(e, lit("yyyy"))
    ).cast(DateType)
  }

  // --- running time (H9) ---

  /** H9 — `"1 h 30 min"` / `"1 hour 30 minutes"` / `"102 minutes"` /
    * `"102 m"` → total minutes. Mirrors the reference's three-group
    * extract + `to_numeric(errors='coerce').fillna(0)` +
    * `h*60+m if pure_minutes==0 else pure_minutes`.
    */
  def parseRunningTime(c: Column): Column = {
    val pat = "(\\d+)\\s*ho?u?r?s?\\s*(\\d*)|(\\d+)\\s*m"
    def g(i: Int): Column =
      coalesce(nullif(regexp_extract(c, pat, i), lit("")).try_cast("int"), lit(0))
    when(g(3) === 0, g(1) * 60 + g(2)).otherwise(g(3))
  }

  // --- misc scalars ---

  /** H8 — Unix seconds → timestamp (ratings `timestamp`). */
  def fromUnixSeconds(c: Column): Column = timestamp_seconds(c)

  /** H12 — zero-sentinel fill (`fill_missing_kaggle_data`): kaggle value
    * unless it is exactly 0, else the wiki value. NB pandas `NaN == 0` is
    * False, so a null kaggle value stays null — `===` here is
    * null-propagating and `otherwise` returns the (null) kaggle value,
    * matching the reference exactly (SURVEY §7.3 H6).
    */
  def fillZeroSentinel(kaggleCol: Column, wikiCol: Column): Column =
    when(kaggleCol === 0, wikiCol).otherwise(kaggleCol)

  /** H11 — `'True'`/`'False'` string flag → boolean. */
  def stringFlagToBool(c: Column): Column = c === "True"

  // --- dataframe-level helpers ---

  /** H2 — the reference's `' '.join(x) if type(x) == list else x`
    * normalization. Spark resolves types statically, so this is applied
    * per-column by schema: array columns collapse via `concat_ws`,
    * everything else passes through.
    */
  def normalizeListColumns(df: DataFrame): DataFrame = {
    val exprs = df.schema.fields.map { f =>
      f.dataType match {
        case ArrayType(_, _) => concat_ws(" ", col(s"`${f.name}`")).as(f.name)
        case _               => col(s"`${f.name}`").as(f.name)
      }
    }
    df.select(exprs.toIndexedSeq: _*)
  }

  /** H13 — N-to-1 column consolidation (`change_column_name`): each
    * target column is the first non-null among its source spellings
    * (e.g. `Writer(s)` ← Screenplay by / Story by / Written by /
    * Adaptation by), followed by the target itself when the frame has
    * it. One projection: the untouched columns keep their order, sources
    * and old targets go, and each merged target is appended in `targets`
    * order.
    */
  def consolidateColumns(df: DataFrame, targets: Seq[(String, Seq[String])]): DataFrame = {
    val present: Set[String] = df.columns.toSet
    val merged = targets.flatMap { case (target, sources) =>
      val live = sources.filter(present.contains)
      if (live.isEmpty) None
      else Some(target -> (live ++ Seq(target).filter(present.contains)))
    }
    val consumed = merged.flatMap(_._2).toSet
    df.select(
      (df.columns.toSeq.filterNot(consumed.contains).map(c => col(s"`$c`")) ++
        merged.map { case (target, inputs) =>
          coalesce(inputs.map(s => col(s"`$s`")): _*).as(target)
        }): _*)
  }

  /** H14 — assemble the `alt_titles` map from the ~20 alternate-title
    * language columns that exist in the frame, dropping the originals.
    * Null-valued entries are filtered out, mirroring the reference's
    * `if key in movie` guard. The map is appended as the last column.
    */
  def buildAltTitlesMap(df: DataFrame, langKeys: Seq[String], mapCol: String = "alt_titles"): DataFrame = {
    val live = langKeys.filter(df.columns.contains)
    if (live.isEmpty) df
    else {
      val m = map_filter(
        map_from_arrays(
          array(live.map(lit): _*),
          array(live.map(k => col(s"`$k`").cast(StringType)): _*)),
        (_, v) => v.isNotNull)
      val kept = df.columns.toSeq.filterNot(c => c == mapCol || live.contains(c))
      df.select(kept.map(c => col(s"`$c`")) :+ m.as(mapCol): _*)
    }
  }

  /** B4 — dynamic null-ratio pruning: keep columns whose null fraction is
    * below `threshold`. One tiny aggregate row comes to the driver (the
    * column list is bounded by schema width, not data size — safe at any
    * scale); the projection itself stays distributed.
    */
  def pruneMostlyNullColumns(df: DataFrame, threshold: Double = 0.9): DataFrame = {
    val counts = df.select(
      (count(lit(1)).as("__total__") +:
        df.columns.toIndexedSeq.map(c => count(col(s"`$c`")).as(c))): _*
    ).head()
    val total = counts.getAs[Long]("__total__")
    val keep = df.columns.filter { c =>
      val nonNull = counts.getAs[Long](c)
      total == 0 || (total - nonNull).toDouble / total < threshold
    }
    df.select(keep.toIndexedSeq.map(c => col(s"`$c`")): _*)
  }
}
