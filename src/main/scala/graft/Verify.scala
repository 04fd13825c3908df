package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and plans.json
  * (each key's optimized logical plan, for scripts/plandiff.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). Extra args are a
    // builder-side convenience: dump only the named queries.
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // key -> optimized logical plan of the written relation, for
    // scripts/plandiff.py; reading optimizedPlan starts no Spark job.
    val plans = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val out = fn(spark, sfDir).coalesce(1)
        plans(name) = out.queryExecution.optimizedPlan.toString
        out.write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/plans.json"), jsonObject(plans))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObject(SparkEntry.oracleSql))
    spark.stop()
  }

  private def jsonObject(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
      .mkString("{", ",", "}")

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * Public so the escape rules are unit-testable (VerifyJsonSpec).
    */
  def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
