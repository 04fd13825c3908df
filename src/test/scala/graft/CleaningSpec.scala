package graft

import graft.functions.Cleaning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture tests for the reference's scalar cleaning logic (SURVEY §2.H)
  * on the canonical pathological inputs (FIXTURES.md §A1).
  */
class CleaningSpec extends SparkSpec {
  import spark.implicits._

  private def parseMoney(inputs: String*): Seq[Option[Double]] =
    inputs.toSeq.toDF("s")
      .select(Cleaning.parseDollars(col("s")).as("v"))
      .collect().toSeq.map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))

  test("parseDollars: word forms") {
    assert(parseMoney("$123.4 million") == Seq(Some(1.234e8)))
    assert(parseMoney("$123.4 billion") == Seq(Some(1.234e11)))
    assert(parseMoney("$1.2 billion") == Seq(Some(1.2e9)))
    assert(parseMoney("$20 Million") == Seq(Some(2e7)))      // case-insensitive
    assert(parseMoney("$3.5 millon") == Seq(Some(3.5e6)))    // canonical typo tolerance
    assert(parseMoney("$ 7 million") == Seq(Some(7e6)))      // optional space
  }

  test("parseDollars: plain comma form") {
    assert(parseMoney("$123,456,789") == Seq(Some(1.23456789e8)))
    assert(parseMoney("$20,500,000") == Seq(Some(2.05e7)))
  }

  test("parseDollars: non-money → null") {
    assert(parseMoney("not released") == Seq(None))
    assert(parseMoney("twenty dollars") == Seq(None))
    assert(parseMoney("1,234,567") == Seq(None))  // no $ prefix
  }

  test("parseDollars: dot-grouped form matches form_two (reference-faithful)") {
    // re.match(form_two, '$1.234') matches in the reference and float('1.234')
    // is returned — the dots are only stripped when they group thousands.
    assert(parseMoney("$1.234") == Seq(Some(1.234)))
  }

  test("parseDollars: form_two negative lookahead rejects comma-grouped millions") {
    // "$1,234 million": plain form is blocked by (?!\s[mb]illi?on) and the
    // word form's \d+\.?\d* can't cross the comma → NaN in the reference
    assert(parseMoney("$1,234 million") == Seq(None))
    // but the same digits without the suffix parse via form_two
    assert(parseMoney("$1,234,000") == Seq(Some(1234000.0)))
  }

  test("collapseMoneyRange: lowercase lookahead guard") {
    import org.apache.spark.sql.functions.col
    val df = Seq("$90-100 million", "$5-a-ticket show").toDF("s")
      .select(Cleaning.collapseMoneyRange(col("s")).as("v"))
    val got = df.collect().map(_.getString(0)).toSeq
    // range collapses; "-a" (letter follows) is protected by (?![a-z])
    assert(got == Seq("$100 million", "$5-a-ticket show"))
  }

  test("parseMoneyColumn: citation strip + range collapse compose") {
    val df = Seq("[1]$45,000,000", "$90-100 million", "$150–200 million")
      .toDF("s").select(Cleaning.parseMoneyColumn(col("s")).as("v"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(4.5e7, 1.0e8, 2.0e8))
  }

  test("parseReleaseDate: all four canonical forms + fallback") {
    val df = Seq("July 11, 1990", "1992-03-15", "March 1994", "1995",
      "2 February 1998", "bad date string")
      .toDF("s").select(Cleaning.parseReleaseDate(col("s")).cast(StringType).as("v"))
    val got = df.collect().toSeq.map(r => Option(r.getString(0)))
    assert(got == Seq(Some("1990-07-11"), Some("1992-03-15"), Some("1994-03-01"),
      Some("1995-01-01"), Some("1998-02-01"), None))
  }

  test("parseRunningTime: hour/minute grammar") {
    val df = Seq("102 minutes", "1 h 30 min", "1 hour 30 minutes", "95 m",
      "2 h 15 min", "unknown")
      .toDF("s").select(Cleaning.parseRunningTime(col("s")).as("v"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(102, 90, 90, 95, 135, 0))
  }

  test("extractImdbId") {
    val df = Seq("https://www.imdb.com/title/tt0000123/", "no id here")
      .toDF("s").select(Cleaning.extractImdbId(col("s")).as("v"))
    val got = df.collect().toSeq.map(r => Option(r.getString(0)))
    assert(got == Seq(Some("tt0000123"), None))
  }

  test("fillZeroSentinel keeps null kaggle values null (pandas NaN==0 is False)") {
    val df = Seq[(Option[Double], Option[Double])](
      (Some(0.0), Some(7.0)), (Some(5.0), Some(7.0)), (None, Some(7.0)))
      .toDF("k", "w")
      .select(Cleaning.fillZeroSentinel(col("k"), col("w")).as("v"))
    val got = df.collect().toSeq.map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got == Seq(Some(7.0), Some(5.0), None))
  }

  test("consolidateColumns: N-to-1 with first-non-null semantics") {
    val df = Seq(
      ("m1", Some("W1"), None: Option[String], None: Option[String], 1990),
      ("m2", None, Some("S2"), Some("T2"), 1991),
      ("m3", None, None, None, 1992))
      .toDF("title", "Written by", "Screenplay by", "Story by", "year")
    val out = Cleaning.consolidateColumns(df,
      Seq("Writer(s)" -> Seq("Written by", "Screenplay by", "Story by")))
    // untouched columns keep their order; the merged target comes last
    assert(out.columns.toSeq == Seq("title", "year", "Writer(s)"))
    val got = out.orderBy("title").select("Writer(s)").collect().toSeq
      .map(r => Option(r.getString(0)))
    assert(got == Seq(Some("W1"), Some("S2"), None))
  }

  test("buildAltTitlesMap collects present languages and drops columns") {
    val df = Seq(("m1", Some("LeFilm"), None: Option[String], 1990))
      .toDF("title", "French", "Polish", "year")
    val out = Cleaning.buildAltTitlesMap(df, Seq("French", "Polish"))
    assert(out.columns.toSeq == Seq("title", "year", "alt_titles"))
    val m = out.select("alt_titles").collect()(0).getMap[String, String](0)
    assert(m == Map("French" -> "LeFilm"))
  }

  test("normalizeListColumns joins array cells with spaces") {
    val df = Seq((1, Seq("a", "b"), "x")).toDF("id", "arr", "s")
    val out = Cleaning.normalizeListColumns(df)
    assert(out.schema("arr").dataType == StringType)
    assert(out.select("arr").collect()(0).getString(0) == "a b")
  }

  test("stringFlagToBool") {
    val df = Seq("True", "False").toDF("s")
      .select(Cleaning.stringFlagToBool(col("s"), "true").as("v"))
    assert(df.collect().map(_.getBoolean(0)).toSeq == Seq(true, false))
  }

  test("stringFlagToBool equals lower(x) === flag on case, space and non-ASCII inputs") {
    // U+0130 lowers to "i̇" and the Kelvin sign U+212A to "k": the only
    // non-ASCII code points whose lowercase holds an ASCII letter
    val inputs = Seq("False", "FALSE", "fAlSe", " false", "false ", "false\n",
      "fals\u00e9", "\u0130", "\u212A", "", null, "True", "tRUE", "true")
    val df = inputs.toDF("s")
    for (flag <- Seq("false", "true")) {
      val rows = df.select(col("s"), Cleaning.stringFlagToBool(col("s"), flag),
        lower(col("s")) === flag).collect()
      rows.foreach(r => assert(r.get(1) == r.get(2), s"flag $flag on ${r.get(0)}"))
      assert(rows.count(r => r.get(1) == true) == 3, s"flag $flag")
    }
  }
}
