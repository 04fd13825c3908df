package graft

/** Isolated min-of-N timing for INDIVIDUAL declared queries — the
  * bench-regression triage tool (VERDICT r5 #4): a fresh JVM, one query
  * at a time, none of the full suite's co-tenant GC/cache pressure, so a
  * moved number can be attributed to the plan (re-measures slow) vs the
  * environment (re-measures fast).
  *
  * Usage: `sbt "runMain graft.IsolatedBench q_decontaminate ..."`
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4),
  * SPARK_GRAFT_EXPLAIN=1 to also dump each query's formatted plan.
  */
object IsolatedBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass one or more declared query names")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // Bench.runSuite's warmup, so first-sample timings are comparable
    Bench.warmupRelational(spark, sfDir)
    Bench.warmupSubsystems(spark, sfDir)
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      val samples = (1 to 3).map(_ => Bench.timeOnce(fn(spark, sfDir).count()))
      println(f"ISOLATED $name min=${samples.min}%.3f " +
        s"samples=${samples.map(s => f"$s%.3f").mkString(",")} sf=$sfDir")
      // same inter-query hygiene as Bench.runSuite, so a multi-name
      // invocation measures each query as if it ran alone
      Bench.hygiene(spark)
    }
    spark.stop()
  }
}
