package graft

/** Guards on the driver contract itself: no silently-dropped duplicate
  * names, every oracle key backed by a query, and every declared query
  * analyzable against the smallest test data (catches unresolved
  * columns / type errors without executing).
  */
class QueriesContractSpec extends SparkSpec {

  test("declared names are unique (Map cannot silently drop queries)") {
    val names = Queries.all.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct).distinct}")
    assert(Queries.queries.size == Queries.all.size)
  }

  test("README's declared-query figures equal the declared set") {
    // every "N declared queries" and "All N are benchmarked" in the
    // README must track the contract, so the prose cannot drift
    val readme = java.nio.file.Files.readString(
      java.nio.file.Paths.get("README.md"))
    val figures = raw"(\d+) declared queries|All (\d+) are benchmarked".r
      .findAllMatchIn(readme)
      .map(m => Option(m.group(1)).getOrElse(m.group(2)).toInt).toList
    assert(figures.size >= 3, s"README figures not found: $figures")
    assert(figures.forall(_ == SparkEntry.queries.size),
      s"README says $figures, SparkEntry declares ${SparkEntry.queries.size}")
  }

  test("each shared oracle building block is written once in Queries.scala") {
    // one distinctive line per builder (or shared oracle) with the file
    // that holds it: a second occurrence anywhere in Queries.scala or
    // the operators means a caller pasted the block instead of
    // composing it
    val q = "src/main/scala/graft/Queries.scala"
    def op(name: String) = s"src/main/scala/graft/operators/$name.scala"
    val (sim, dedup, text) = (op("SimilarityOps"), op("DedupOps"), op("TextOps"))
    val files = q +: new java.io.File("src/main/scala/graft/operators")
      .listFiles().map(_.getPath).filter(_.endsWith(".scala")).sorted.toSeq
    val srcs = files.map(f =>
      f -> java.nio.file.Files.readString(java.nio.file.Paths.get(f)))
    val blocks = Seq(
      q -> "FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id",
      q -> "UNION SELECT $b, $a FROM $pairs)",
      q -> "reach(src, dst) AS (",
      q -> "unnest(range($dim)) AS pos FROM $src))",
      q -> "ORDER BY dt DESC, cell) AS rn",
      q -> "ROW_NUMBER() OVER (ORDER BY vec_id) AS rn",
      q -> "// COUNT(*) AS BIGINT) AS c",
      q -> "v.vi - cc.c AS vi",
      q -> "ORDER BY t.t1 + r.t2 DESC, t.n_id) AS rn",
      q -> "substr(md5(word), 1, 8))::BIGINT % 1024",
      q -> "substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000",
      q -> "CAST(COALESCE(t_c, 0) + 1 AS HUGEINT)",
      q -> "THEN 1 ELSE 0 END::BIGINT AS k_dsir",
      q -> "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)",
      q -> "'[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]'",
      q -> "FROM $docs d LEFT JOIN wtok USING (doc_id))",
      q -> "COALESCE(string_agg(sym, ' ' ORDER BY wpos, spos), '')",
      q -> "[i:i+2]",
      q -> "d5 AS MATERIALIZED (SELECT d.* FROM d4 d JOIN sel USING (doc_id))",
      q -> "(SELECT COALESCE(SUM(len(string_split(text, ' '))), 0) FROM",
      q -> "c.common * 1000000 // (sa.set_size + sb.set_size - c.common) AS jaccard_ppm",
      q -> "(LEAST(src, MIN(dst)) = src) AS is_keeper",
      q -> "common * 1000000 // n_src AS cont_ppm",
      q -> "SELECT q_id, n_id, CAST(score_s14 AS BIGINT) AS score_s14,",
      q -> "CAST(na.norm_s AS DOUBLE) * CAST(nb.norm_s AS DOUBLE) * 6400.0",
      sim -> ".over(Window.partitionBy(key).orderBy(desc(score), asc(tie)))",
      sim -> "isin(queryIds.map(_.asInstanceOf[Any]): _*)",
      sim -> "transform(col(\"embedding\"), v => fixedPoint(v))",
      sim -> "col(\"bucket\").bitwiseXOR(lit(1L << p)))): _*)",
      dedup -> "col(\"common\") * 100 >= col(\"union_size\")",
      dedup -> "expr(\"common * 1000000L div union_size\")",
      dedup -> "size(col(a)).cast(\"long\") + size(col(b)).cast(\"long\") - col(\"common\")",
      dedup -> "col(\"a.band_hash\") === col(\"b.band_hash\") &&",
      dedup -> "col(\"a.word\") === col(\"b.word\") && col(\"a.doc_id\") < col(\"b.doc_id\"))",
      dedup -> "(col(\"tf\") * expr(\"1000000L div df\")).as(\"w\")",
      text -> "val wc = w.groupBy(\"word\").agg(count(lit(1)).as(\"cnt\"))",
      text -> "slice(col(\"ws\"), lit(2), size(col(\"ws\")) - 1),",
      text -> "sum(coalesce(col(\"n_bpe\"), length(col(\"word\")).cast(\"long\")))",
      text -> ".withColumn(\"cum_before\", coalesce(sum(\"n_tokens\").over(before), lit(0L)))",
      text -> "min(\"doc_id\").as(\"first_doc\"), max(\"doc_id\").as(\"last_doc\"))",
      text -> "sum((lit(1L) - col(\"ka\")) * (lit(1L) - col(\"kb\"))).as(\"both_drop\"),")
    def occurrences(src: String, b: String) =
      Iterator.iterate(src.indexOf(b))(i => src.indexOf(b, i + 1))
        .takeWhile(_ >= 0).size
    val bad = blocks.flatMap { case (file, b) =>
      val found = srcs.map { case (f, src) => f -> occurrences(src, b) }
        .filter(_._2 > 0)
      if (found == Seq(file -> 1)) None
      else Some(s"$b: expected once in $file, found " +
        found.map { case (f, n) => s"$n× $f" }.mkString("[", ", ", "]"))
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("every oracle key is a declared query") {
    val undeclared = Queries.oracleSql.keySet -- Queries.queries.keySet
    assert(undeclared.isEmpty, s"oracle without query: $undeclared")
  }

  test("oracle SQL is single-line (JSON-escape safe)") {
    Queries.oracleSql.foreach { case (k, v) =>
      assert(!v.exists(c => c == '\n' || c == '\r' || c == '\t'), s"$k has control chars")
    }
  }

  test("every declared query analyzes against sf0.001") {
    val dir = "/root/testdata/sf0.001"
    Queries.all.foreach { q =>
      val df = q.fn(spark, dir)
      assert(df.schema.fields.nonEmpty, s"${q.name} produced empty schema")
    }
  }

  test("no declared output column is DECIMAL or non-scalar (driver-comparator safe)") {
    // VERDICT r1 §W1/§W2: DecimalType outputs hash-mismatch against the
    // DuckDB oracle (Decimal object vs float64) and Array/Map/Struct
    // cells crash the driver's pandas lexsort. Internal math may use
    // decimals freely; the OUTPUT boundary must be scalar non-decimal.
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    Queries.all.foreach { q =>
      q.fn(spark, dir).schema.fields.foreach { f =>
        val bad = f.dataType match {
          case _: DecimalType | _: ArrayType | _: MapType | _: StructType => true
          case _ => false
        }
        assert(!bad, s"${q.name}.${f.name} outputs ${f.dataType} " +
          "(DECIMAL/ARRAY/MAP/STRUCT breaks the driver comparator)")
      }
    }
  }

  test("entry returns rows at sf0.001 (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
