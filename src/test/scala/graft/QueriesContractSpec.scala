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
    // one distinctive line per builder (or shared oracle): a second
    // occurrence means an oracle pasted the block instead of composing it
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/Queries.scala"))
    val blocks = Seq(
      "FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id",
      "UNION SELECT $b, $a FROM $pairs)",
      "reach(src, dst) AS (",
      "unnest(range($dim)) AS pos FROM $src))",
      "ORDER BY dt DESC, cell) AS rn",
      "ROW_NUMBER() OVER (ORDER BY vec_id) AS rn",
      "// COUNT(*) AS BIGINT) AS c",
      "v.vi - cc.c AS vi",
      "ORDER BY t.t1 + r.t2 DESC, t.n_id) AS rn",
      "substr(md5(word), 1, 8))::BIGINT % 1024",
      "substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000",
      "CAST(COALESCE(t_c, 0) + 1 AS HUGEINT)",
      "THEN 1 ELSE 0 END::BIGINT AS k_dsir",
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)",
      "'[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]'",
      "FROM $docs d LEFT JOIN wtok USING (doc_id))",
      "COALESCE(string_agg(sym, ' ' ORDER BY wpos, spos), '')",
      "[i:i+2]",
      "d5 AS MATERIALIZED (SELECT d.* FROM d4 d JOIN sel USING (doc_id))",
      "(SELECT COALESCE(SUM(len(string_split(text, ' '))), 0) FROM",
      "c.common * 1000000 // (sa.set_size + sb.set_size - c.common) AS jaccard_ppm",
      "(LEAST(src, MIN(dst)) = src) AS is_keeper",
      "common * 1000000 // n_src AS cont_ppm",
      "SELECT q_id, n_id, CAST(score_s14 AS BIGINT) AS score_s14,",
      "CAST(na.norm_s AS DOUBLE) * CAST(nb.norm_s AS DOUBLE) * 6400.0")
    def occurrences(b: String) =
      Iterator.iterate(src.indexOf(b))(i => src.indexOf(b, i + 1))
        .takeWhile(_ >= 0).size
    val counts = blocks.map(b => b -> occurrences(b))
    assert(counts.forall(_._2 == 1),
      counts.filter(_._2 != 1).map { case (b, n) => s"$n× $b" }.mkString("\n"))
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
