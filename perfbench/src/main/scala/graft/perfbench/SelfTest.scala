package graft.perfbench

import java.io.File
import java.nio.file.Files

/** Tests of the harness's own pieces. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on any failure.
  */
object SelfTest {

  private var failures = 0
  private var checks = 0

  private def check(what: String)(ok: => Boolean): Unit = {
    checks += 1
    val pass = scala.util.Try(ok).getOrElse(false)
    if (!pass) failures += 1
    Main.log(s"${if (pass) "PASS" else "FAIL"} $what")
  }

  def main(argv: Array[String]): Unit = {
    val data = Main.parseFlag(argv.toSeq, "--data")
    val work = new File(".").getCanonicalFile

    // ---- generator: same seed, same bytes; planted truth holds ----------
    val small = MoviesGen.Sizes(wiki = 400, kaggle = 2000, ratings = 5000)
    val a = MoviesGen.generate(7, new File(work, "gen_a"), small)
    val b = MoviesGen.generate(7, new File(work, "gen_b"), small)
    val c = MoviesGen.generate(8, new File(work, "gen_c"), small)
    def bytes(dir: String, f: String) = Files.readAllBytes(new File(work, s"$dir/$f").toPath)
    val files = Seq("wiki_movies.json", "movies_metadata.csv", "ratings.csv")
    check("generator: the same seed gives byte-identical inputs")(
      files.forall(f => java.util.Arrays.equals(bytes("gen_a", f), bytes("gen_b", f))) && a == b)
    check("generator: another seed gives other inputs")(
      files.forall(f => !java.util.Arrays.equals(bytes("gen_a", f), bytes("gen_c", f))))
    check("generator: truth counts are consistent")(
      a.films > 0 && a.merged > 0 && a.merged <= a.films &&
        a.ratingsPerKaggleId.size == a.merged)

    // ---- percentiles and the sample-count rule --------------------------
    val hundred = (1 to 100).map(_.toDouble)
    check("percentile: nearest rank")(
      Stats.percentile(hundred, 0.9) == 90.0 && Stats.percentile(hundred, 0.5) == 50.0 &&
        Stats.percentile(Seq(3.0), 0.9) == 3.0)
    check("median: odd and even counts")(
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("p90 reported only with ten samples beyond it")(
      Stats.reportable(100, 0.9) && !Stats.reportable(99, 0.9) &&
        Stats.beyond(99, 0.9) == 9 && !Stats.reportable(20, 0.9))

    // ---- fingerprints: order, cells and row count all count ------------
    val fp = Checks.fold(Iterator(11L, 22L, 33L))
    check("fingerprint: a changed row order changes it")(
      fp != Checks.fold(Iterator(22L, 11L, 33L)) && fp == Checks.fold(Iterator(11L, 22L, 33L)))
    check("fingerprint: a changed row or an extra row changes it")(
      fp != Checks.fold(Iterator(11L, 22L, 34L)) && fp != Checks.fold(Iterator(11L, 22L, 33L, 0L)))

    val spark = Main.session(Runtime.getRuntime.availableProcessors(), work)
    val sc = spark.sparkContext
    try {
      val nums = spark.range(1000).toDF("id")
      check("fingerprint: the same relation sorted two ways differs")(
        Checks.fingerprint(nums.orderBy("id")) == Checks.fingerprint(nums.orderBy("id")) &&
          Checks.fingerprint(nums.orderBy("id")) != Checks.fingerprint(nums.orderBy(nums("id").desc)))

      // ---- listener aggregation on known jobs ----------------------------
      val l = new LayerListener
      sc.addSparkListener(l)
      LayerListener.tag(sc, "one")
      sc.parallelize(1 to 100, 4).map(_ * 2).count()
      LayerListener.tag(sc, "two")
      sc.parallelize(1 to 100, 4).map(x => (x % 3, 1)).reduceByKey(_ + _, 2).count()
      LayerListener.tag(sc, null)
      l.drain()
      val one = l.sum(_ == "one")
      val two = l.sum(_ == "two")
      check("listener: one narrow job is 1 job, 1 stage, 4 tasks")(
        one.jobs == 1 && one.stages == 1 && one.tasks == 4 && one.shuffleWriteBytes == 0)
      check("listener: one shuffle job is 1 job, 2 stages, 6 tasks, shuffle read = write")(
        two.jobs == 1 && two.stages == 2 && two.tasks == 6 &&
          two.shuffleWriteBytes > 0 && two.shuffleReadBytes == two.shuffleWriteBytes)
      check("listener: sums add up")(l.sum(_ => true).tasks == 10)
      sc.removeSparkListener(l)

      // ---- tracing adds no Spark job to an operation ---------------------
      graft.Bench.warmupRelational(spark, data)
      val ops = Seq(Workloads.declared("q_topk", data),
        Workloads.declared("q_neardup_lsh_verified", data),
        Workloads.declared("q_knn_graph_stored", data))
      for (op <- ops) {
        // once first, so both compared runs find the memoized artifacts
        Main.runOp(spark, new Spans, op, 0, traced = false)
        val counter = new LayerListener
        sc.addSparkListener(counter)
        Main.runOp(spark, new Spans, op, 0, traced = false)
        counter.drain()
        val off = counter.sum(_ => true).jobs
        counter.reset()
        Main.runOp(spark, new Spans, op, 0, traced = true)
        counter.drain()
        val on = counter.sum(_ => true).jobs
        sc.removeSparkListener(counter)
        check(s"${op.name}: $off jobs untraced, $on traced")(off == on && off > 0)
      }
    } finally spark.stop()

    Main.log(s"$checks checks, $failures failed")
    println(s"""{"selftest": "${if (failures == 0) "pass" else "fail"}", "checks": $checks, "failed": $failures}""")
    if (failures > 0) sys.exit(1)
  }
}
