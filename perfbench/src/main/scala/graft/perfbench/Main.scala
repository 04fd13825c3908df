package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The benchmark's entry point: one JVM, one client thread issuing the
  * workload's operations back to back (a closed loop), on `local[N]` with
  * N = available processors and N shuffle partitions, as `graft.Bench`
  * runs. The working directory must be fresh: declared keys memoize
  * artifacts under `target/` relative to it, so a fresh directory makes
  * every run start from the same state.
  *
  * The last line on stdout is the result object; everything else goes to
  * stderr.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, fingerprints: File,
                        traceOut: Option[File], record: Boolean)

  def flag(argv: Seq[String], name: String): Option[String] =
    argv.sliding(2).collectFirst { case Seq(`name`, v) => v }

  def parseFlag(argv: Seq[String], name: String): String =
    flag(argv, name).getOrElse(throw new IllegalArgumentException(s"missing $name"))

  def parse(argv: Seq[String]): Args = {
    def value(name: String): Option[String] = flag(argv, name)
    def need(name: String): String = parseFlag(argv, name)
    val a = Args(
      workload = need("--workload"),
      seed = value("--seed").map(_.toLong).getOrElse(1L),
      seconds = value("--seconds").map(_.toDouble).getOrElse(10.0),
      trace = value("--trace").contains("1"),
      data = need("--data"),
      fingerprints = new File(need("--fingerprints")),
      traceOut = value("--trace-out").map(new File(_)),
      record = argv.contains("--record"))
    require(Workloads.Names.contains(a.workload) || a.record,
      s"unknown workload ${a.workload}; expected one of ${Workloads.Names.mkString(", ")}")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    if (a.record) record(a) else println(run(a))
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** The session `graft.Bench` builds, with scratch space kept inside the
    * working directory.
    */
  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Untimed reset between operations, the same as `Bench.runSuite`'s. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.operators.Lineage.releaseAll(spark)
    System.gc()
  }

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)

  /** One operation's outcome in a pass. */
  final case class Sample(seconds: Double, buildS: Double,
                          planS: Double, runS: Double,
                          residentMb: Double, persistedRdds: Int)

  /** One pass over every operation; `wall` sums the operations' times. */
  final case class Pass(index: Int, traced: Boolean, wall: Double,
                        samples: Seq[Sample], failures: Int)

  /** One operation: build the declared result, plan it (traced only),
    * materialize it; then the untimed cleanup. With tracing, each phase is
    * a span and its Spark jobs carry the tag `p<pass>/<op>/<phase>`.
    */
  def runOp(spark: SparkSession, spans: Spans, op: Op, pass: Int,
            traced: Boolean): Sample = {
    val sc = spark.sparkContext
    def phase[A](name: String)(body: => A): (A, Double) = {
      if (traced) LayerListener.tag(sc, s"p$pass/${op.name}/$name")
      val t = System.nanoTime()
      val r = if (traced) spans(name, op.name)(body) else body
      (r, (System.nanoTime() - t) / 1e9)
    }
    val t = System.nanoTime()
    try {
      val (built, buildS) = phase("build")(op.build(spark))
      val (_, planS) =
        if (traced) phase("plan")(built.frames.foreach(_.queryExecution.executedPlan))
        else ((), 0.0)
      val (_, runS) = phase("run")(built.sink())
      val seconds = (System.nanoTime() - t) / 1e9
      // storage the operation left behind, read before the cleanup
      val (residentMb, rdds) = if (traced) storage(spark) else (0.0, 0)
      Sample(seconds, buildS, planS, runS, residentMb, rdds)
    } finally {
      if (traced) {
        LayerListener.tag(sc, null)
        spans("cleanup", op.name)(cleanup(spark))
      } else cleanup(spark)
    }
  }

  /** Storage held by persisted and checkpointed RDDs: (MB, RDD count). */
  def storage(spark: SparkSession): (Double, Int) = {
    val sc = spark.sparkContext
    (sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6, sc.getPersistentRDDs.size)
  }

  /** Runs the workload and returns the result line. */
  def run(a: Args): String = {
    val cores = Runtime.getRuntime.availableProcessors()
    val work = new File(".").getCanonicalFile
    val order = new scala.util.Random(a.seed)

    // ---- inputs (the benchmark's work, so not part of setup_s) ---------
    var movies: Option[(MoviesGen.Paths, MoviesGen.Truth, String)] = None
    val ops: Seq[Op] = a.workload match {
      case "movies_etl" =>
        val t0 = System.nanoTime()
        val dir = new File(work, "inputs")
        val truth = MoviesGen.generate(a.seed, dir)
        val out = new File(work, "movies_out").getAbsolutePath
        movies = Some((MoviesGen.paths(dir), truth, out))
        log(f"generated ${truth.inputRows} input rows (${truth.inputBytes / 1e6}%.1f MB) " +
          f"in ${(System.nanoTime() - t0) / 1e9}%.1f s; planted films=${truth.films} merged=${truth.merged}")
        Seq(Workloads.moviesEtl(MoviesGen.paths(dir), out))
      case _ => Workloads.CurationKeys.map(Workloads.declared(_, a.data))
    }

    // ---- set-up: session start and the engine's own warmups -------------
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    graft.Bench.warmupRelational(spark, a.data)
    graft.Bench.warmupSubsystems(spark, a.data)
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"setup_s=$setupS%.3f on local[$cores]")

    val sc = spark.sparkContext
    val spans = new Spans
    val listener = if (a.trace) Some(new LayerListener) else None
    listener.foreach(sc.addSparkListener)
    var attempted = 0
    var failed = 0

    def runOp(op: Op, pass: Int, traced: Boolean): Option[Sample] = {
      attempted += 1
      try Some(Main.runOp(spark, spans, op, pass, traced))
      catch {
        case e: Throwable =>
          failed += 1
          log(s"${op.name} failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }

    // a pass's time is the sum of its operations' times: the cleanup
    // between operations is the benchmark's, not the program's
    // in a traced run the untraced passes get a span too, so the
    // self-time table accounts for the whole run
    def runPass(index: Int, traced: Boolean): Pass = {
      val shuffled = order.shuffle(ops)
      val body = () => shuffled.map(op =>
        if (traced) spans("op", op.name)(runOp(op, index, traced)) else runOp(op, index, traced))
      val results =
        if (traced) spans("pass", s"p$index")(body())
        else if (a.trace) spans("untraced_pass", s"p$index")(body())
        else body()
      Pass(index, traced, results.flatten.map(_.seconds).sum, results.flatten,
        results.count(_.isEmpty))
    }

    // ---- output checks (untimed) -----------------------------------------
    // They run on the cold pass's results, before the warm passes, so they
    // also serve as one more untimed warm-up of the same code.
    def check(): Seq[String] = movies match {
      case Some((in, truth, out)) =>
        scala.util.Try(Checks.moviesEtl(spark, in, out, truth))
          .recover { case e => Seq(s"movies_etl outputs unreadable: ${e.getMessage}") }.get
      case None =>
        val recorded = Checks.readFingerprints(a.fingerprints)
        ops.flatMap { op =>
          val got = scala.util.Try(Checks.fingerprint(op.build(spark).frames.head))
          cleanup(spark)
          (got, recorded.get(op.name)) match {
            case (scala.util.Success(g), Some(w)) if g == w => None
            case (g, w) => Some(s"${op.name}: fingerprint ${g.map(_.render)} != recorded ${w.map(_.render)}")
          }
        }
    }

    // ---- timed passes ----------------------------------------------------
    val passes = mutable.ArrayBuffer.empty[Pass]
    val workloadSpan = () => {
      passes += runPass(0, traced = false)
      log(f"cold pass ${passes.head.wall}%.3f s")
      val checkFailures = if (a.trace) spans("checks", a.workload)(check()) else check()
      checkFailures.foreach(f => log(s"check failed: $f"))
      failed += checkFailures.size
      // warm passes until the run's time is used, and at least three, so
      // the first warm pass, which runs 10-35% slower than the rest, never
      // sets the median; with tracing, untraced and traced passes
      // alternate, three of each at least, so both sides of the overhead
      // ratio see the same JIT warm-up
      val perKind = if (a.trace) 2 else 1
      val start = System.nanoTime()
      var n = 0
      while (n < 3 * perKind || n % perKind != 0 || (System.nanoTime() - start) / 1e9 < a.seconds) {
        passes += runPass(passes.size, traced = a.trace && n % 2 == 1)
        n += 1
      }
    }
    if (a.trace) spans("workload", a.workload)(workloadSpan()) else workloadSpan()

    // ---- layer probes (traced run only) ----------------------------------
    val probes: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        LayerListener.tag(sc, "probe")
        val m = scala.util.Try(spans("probes", a.workload) {
          movies match {
            case Some((in, truth, _)) =>
              Probes.moviesStages(spark, in, new File(work, "stage_out").getAbsolutePath,
                truth.inputBytes, spans)
            case None => Probes.operators(spark, a.data, spans)
          }
        }).recover { case e =>
          failed += 1
          log(s"layer probes failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          Map.empty[String, Double]
        }.get
        LayerListener.tag(sc, null)
        m
      }

    val inputRows: Double = movies match {
      case Some((_, truth, _)) => truth.inputRows.toDouble
      case None => Workloads.curationInputRows(spark, a.data).toDouble
    }
    listener.foreach(_.drain())
    val rssMb = peakRssMb()

    // ---- metrics -----------------------------------------------------------
    val warm = passes.toSeq.drop(1)
    val untraced = warm.filter(p => !p.traced && p.failures == 0)
    val traced = warm.filter(p => p.traced && p.failures == 0)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val passS = med(untraced.map(_.wall))
    val opSamples = untraced.flatMap(_.samples.map(_.seconds))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val p90 =
          if (opSamples.nonEmpty && Stats.reportable(opSamples.size, 0.9))
            f"op_p90_s=${Stats.percentile(opSamples, 0.9)}%.4f"
          else s"op_p90_s not reported: ${Stats.beyond(opSamples.size, 0.9)} samples lie beyond it, 10 needed"
        log(s"${opSamples.size} warm op samples over ${untraced.size} warm passes " +
          untraced.map(p => f"${p.wall}%.3f").mkString("(", ", ", ") s; ") + p90)
        Seq(
          ("setup_s", setupS, "s"),
          ("cold_pass_s", passes.head.wall, "s"),
          ("pass_s", passS, "s"),
          ("op_p50_s", med(opSamples), "s"),
          ("rows_per_s", if (passS > 0) inputRows / passS else 0.0, "rows/s"),
          ("peak_rss_mb", rssMb, "MB"))
      } else layerMetrics(a, cores, traced.toSeq, passS, listener.get, probes, spans)

    val correct = failed == 0 && passes.forall(_.failures == 0)
    a.traceOut.foreach { f =>
      f.getParentFile.mkdirs()
      Files.write(f.toPath, spans.toJson.getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
    metrics.foreach { case (n, v, u) => log(f"$n%-36s $v%14.4f $u") }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${jsonNumber(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  private def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  /** Every per-layer metric: medians over the traced passes of per-pass
    * sums (maxima where marked), then the probe results, zero for a layer
    * this workload never calls.
    */
  def layerMetrics(a: Args, cores: Int, traced: Seq[Pass], untracedPassS: Double,
                   listener: LayerListener, probes: Map[String, Double],
                   spans: Spans): Seq[(String, Double, String)] = {
    def perPass(f: Pass => Double): Double =
      if (traced.isEmpty) 0.0 else Stats.median(traced.map(f))
    def counters(p: Pass, phase: Option[String] = None): Counters =
      listener.sum(t => t.startsWith(s"p${p.index}/") && phase.forall(ph => t.endsWith(s"/$ph")))
    val mb = 1e6
    val tracedPassS = perPass(_.wall)
    val layer = Seq(
      ("Queries.build_s", perPass(_.samples.map(_.buildS).sum), "s"),
      ("Queries.build_jobs", perPass(p => counters(p, Some("build")).jobs.toDouble), "count"),
      ("Catalyst.plan_s", perPass(_.samples.map(_.planS).sum), "s"),
      ("exec.run_s", perPass(_.samples.map(_.runS).sum), "s"),
      ("exec.jobs", perPass(p => counters(p).jobs.toDouble), "count"),
      ("exec.stages", perPass(p => counters(p).stages.toDouble), "count"),
      ("exec.tasks", perPass(p => counters(p).tasks.toDouble), "count"),
      ("exec.task_cpu_s", perPass(p => counters(p).taskCpuNs / 1e9), "s"),
      ("exec.task_run_s", perPass(p => counters(p).taskRunMs / 1e3), "s"),
      ("exec.gc_s", perPass(p => counters(p).gcMs / 1e3), "s"),
      ("exec.busy_ratio", perPass(p => counters(p).taskRunMs / 1e3 / (p.wall * cores)), "ratio"),
      ("exec.shuffle_write_mb", perPass(p => counters(p).shuffleWriteBytes / mb), "MB"),
      ("exec.shuffle_read_mb", perPass(p => counters(p).shuffleReadBytes / mb), "MB"),
      ("exec.spill_mb", perPass(p => counters(p).spillBytes / mb), "MB"),
      ("exec.peak_exec_mem_mb", perPass(p => counters(p).peakExecMemBytes / mb), "MB"),
      ("exec.input_rows", perPass(p => counters(p).inputRows.toDouble), "count"),
      ("exec.input_mb", perPass(p => counters(p).inputBytes / mb), "MB"),
      ("exec.output_mb", perPass(p => counters(p).outputBytes / mb), "MB"),
      // storage is sampled after each operation and each layer probe
      ("Lineage.resident_mb", math.max(probes.getOrElse("Lineage.resident_mb", 0.0),
        perPass(_.samples.map(_.residentMb).foldLeft(0.0)(math.max))), "MB"),
      ("Lineage.persisted_rdds", math.max(probes.getOrElse("Lineage.persisted_rdds", 0.0),
        perPass(_.samples.map(_.persistedRdds.toDouble).foldLeft(0.0)(math.max))), "count"),
      ("trace.pass_s", tracedPassS, "s"),
      ("trace.untraced_pass_s", untracedPassS, "s"),
      ("trace.overhead_ratio", if (untracedPassS > 0) tracedPassS / untracedPassS else 0.0, "ratio"))
    val probeMetrics = ProbeNames.map { case (n, u) => (n, probes.getOrElse(n, 0.0), u) }

    // the per-layer self-time table: span time outside child spans
    log(f"${"span"}%-34s ${"self s"}%10s (traced run, all passes and probes)")
    spans.selfSeconds.toSeq.sortBy(-_._2).foreach { case (n, s) => log(f"$n%-34s $s%10.3f") }
    layer ++ probeMetrics
  }

  /** The layer probes' metrics, in report order. */
  val ProbeNames: Seq[(String, String)] = Seq(
    "DedupOps.lsh_pairs_s" -> "s", "DedupOps.candidate_pairs" -> "count",
    "DedupOps.verified_pairs" -> "count", "DedupOps.verified_ratio" -> "ratio",
    "DedupOps.cc_s" -> "s", "SimilarityOps.knn_graph_s" -> "s",
    "TextOps.quality4_s" -> "s", "TextOps.dsir_s" -> "s",
    "Relational.interval_pairs_s" -> "s") ++
    Seq("input", "exact_dedup", "neardup_canonical", "decontaminate",
      "quality_filter", "dsir_select", "pack").map(s => s"CurationPipeline.${s}_s" -> "s") ++
    Seq("read_wiki", "wiki_transform", "kaggle", "ratings_read", "rating_pivot",
      "merge", "load").map(s => s"MoviesEtl.${s}_s" -> "s") ++
    Seq("MoviesEtl.write_amp" -> "ratio")

  /** Writes each declared key the benchmark checks as `graft.Verify`
    * writes it (one parquet file per key under `verify_out`, and the keys'
    * oracle SQL in `oracle_sql.json`), and the keys' fingerprints to the
    * fingerprint file. `run.py --record` keeps the fingerprints only if
    * `scripts/selfcheck.py` passes on those outputs.
    */
  def record(a: Args): Unit = {
    val work = new File(".").getCanonicalFile
    val out = new File(work, "verify_out")
    out.mkdirs()
    val spark = session(Runtime.getRuntime.availableProcessors(), work)
    val fps = Workloads.CurationKeys.map { k =>
      val df = Workloads.declared(k, a.data).build(spark).frames.head
      df.coalesce(1).write.mode("overwrite").parquet(new File(out, k).getPath)
      val fp = Checks.fingerprint(df)
      cleanup(spark)
      log(s"$k ${fp.render}")
      k -> fp
    }
    val oracle = Workloads.CurationKeys.map(k => s"${graft.Verify.jsonQuote(k)}: " +
      graft.Verify.jsonQuote(graft.SparkEntry.oracleSql(k))).mkString("{", ",", "}")
    Files.write(new File(out, "oracle_sql.json").toPath, oracle.getBytes(StandardCharsets.UTF_8))
    Checks.writeFingerprints(a.fingerprints, fps)
    spark.stop()
    println(Workloads.CurationKeys.map(k => "\"" + k + "\"").mkString("""{"recorded": [""", ", ", "]}"))
  }
}
