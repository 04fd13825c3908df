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
