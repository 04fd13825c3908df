package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Queries whose timings ride on the printed result line. The driver
    * captures only the TAIL of stdout (~2 KB observed: both round-1 and
    * round-2 BENCH artifacts came back `parsed: null` because the full
    * 89-query line was ~2.3 KB and lost its opening brace to truncation,
    * with sbt's `[success] Total time …` trailer eating further bytes).
    * So the printed line carries a fixed subset under a 1.5 KB budget
    * (VerifyJsonSpec bounds the worst-case render); the complete
    * per-query map is always written to target/bench.json.
    *
    * THE SAMPLING RULE (round 18, VERDICT r17 #8 — every membership
    * change must preserve these invariants, in priority order):
    *
    *  1. all four [[controls]] and every [[varianceTier]] key ride the
    *     line (spec-enforced: VerifyJsonSpec subset assertions);
    *  2. the suite's worst-cost tier rides the line regardless of
    *     family (the r7 rule — a regression in the most expensive
    *     plans must be visible in the binding artifact, not hidden in
    *     the total);
    *  3. every operator family keeps at least one representative —
    *     its worst-cost member at current sf0.1 anchors. A key may be
    *     dropped ONLY as a cheap near-duplicate: another KEPT key must
    *     exercise the same physical-plan shape (noted at the drop
    *     site); a family is never dropped entirely;
    *  4. budget for new keys is paid by rule-3 drops, never by
    *     removing a control, a varianceTier key, or a family's last
    *     representative.
    */
  val headline: Seq[String] = Seq(
    "q_scan_limit", "q_filter_conj", "q_topk",
    // q_median dropped round 15 wave 8 to fit q_interval_join under
    // the 1.5 KB budget (agg family keeps multi/count2key/grouping_sets)
    "q_agg_multi", "q_agg_count2key", "q_grouping_sets",
    // q_join_range dropped round 15 wave 2 to fit q_quality_agreement4
    // under the 1.5 KB budget (join family keeps inner/3way/asof)
    "q_join_inner", "q_join_3way", "q_join_asof",
    "q_window_rank", "q_window_session",
    // q_explode_words / q_window_tumbling dropped round 13 to fit the
    // two new family representatives under the 1.5 KB line budget
    // (cheap near-duplicates: the text family keeps q_tfidf_topterms /
    // q_lang_id, the window family q_chunk_windows / q_window_session)
    "q_pivot",
    // q_ngram_jaccard dropped round 15 to fit the two new keys under
    // the 1.5 KB budget (near-dup family keeps q_minhash_lsh /
    // q_neardup_lsh_verified / q_dedup_exact)
    "q_dedup_exact", "q_minhash_lsh",
    // q_neardup_clusters dropped round 16 to fit q_knn_upsert_cc under
    // the 1.5 KB budget (the CC-cluster family keeps
    // q_neardup_clusters_star — the production star-fold variant)
    "q_neardup_lsh_verified", "q_decontaminate",
    "q_simsearch_fast", "q_simsearch_ivf",
    // q_lang_id dropped round 15 wave 2 (same budget rule: text family
    // keeps q_tfidf_topterms / q_repetition)
    "q_tfidf_topterms", "q_repetition",
    "q_upsert",
    // round-3 families (q_simhash_pairs dropped round 15 wave 8 to fit
    // q_knn_graph_stored — the near-dup family keeps q_minhash_lsh /
    // q_neardup_lsh_verified / q_dedup_exact)
    "q_sql_q3", "q_skew_join_salted", "q_pagerank",
    // q_histogram dropped round 12 to fit q_pipeline_curate under the
    // 1.5 KB line budget (the sketch family keeps q_cms_counts +
    // q_hll_registers — the r7 cheap-near-duplicate rule)
    // q_stats_exact dropped round 15 (same budget rule: the agg family
    // keeps q_agg_multi / q_agg_count2key / q_grouping_sets / q_median)
    // round-6 families
    "q_cms_counts", "q_triangles",
    // round-7 (VERDICT r6 #1): the true worst-cost queries belong on
    // the driver's binding artifact so a regression in the #1/#2/#4
    // most expensive plans is visible round-over-round, not hidden in
    // the total. Dropped to compensate: q_ntile / q_string_agg /
    // q_window_running (cheap near-duplicates of kept family keys).
    // Line stays < 1500 B — VerifyJsonSpec bounds it.
    "q_dedup_canonical", "q_hll_registers", "q_boilerplate",
    "q_containment", "q_sql_q18",
    // round-14 worst-cost tier (the r7 rule): the BPE-accounted
    // pipeline (#1 most expensive) and the incremental-CC fold.
    // Dropped to compensate (cheap family near-duplicates):
    // q_chunk_windows (window family keeps q_window_rank/_session),
    // q_containment_prefix (family keeps q_containment), and
    // q_levenshtein (string-scalar family keeps q_repetition/q_lang_id).
    "q_pipeline_curate_bpe", "q_dedup_incremental_cc",
    // round-7 additions that landed in the worst-cost tier
    "q_neardup_clusters_star", "q_kcore", "q_cluster_cap_sample",
    "q_ngram_novelty",
    // round-9/10 additions in the worst-cost tier (same rule): the two
    // layout-rewrite read-backs and the two ~2 s curation pipelines
    "q_bucketed_join", "q_zorder_scan", "q_leakage_split",
    "q_novelty_by_source",
    // round-10 curation-planner family representatives
    "q_mixture_epochs", "q_dedup_tokens_saved",
    // round-10 second wave: the DSIR pipeline is the wave's cost tier
    // representative (decon/bias/resample price at or under it)
    "q_dsir_weights",
    // round-11: the L5 multimodal family's first declared query — the
    // one operator family previously absent from the headline
    "q_media_fingerprint",
    // round-12: the composed curation pipeline — the suite's new
    // worst-cost query (~4 s: six chained stages over the %4 slice),
    // which the r7 worst-cost-tier rule puts on the binding artifact
    "q_pipeline_curate",
    // round-13: one representative per new family — tokenizer fitting
    // (the BPE merge rounds) and the PQ refine tier (its ADC-only twin
    // prices at or under it). Line stays < 1500 B — VerifyJsonSpec.
    "q_bpe_merges", "q_simsearch_pq_refined",
    // round-15: the two-batch ingest fold is the round's worst-cost
    // key (#3 suite-wide, 4.5 s — the r7 rule); the ANN maintenance
    // family's representative is q_ann_codes_upsert (retrain/shards/
    // card price under it)
    "q_pipeline_incremental", "q_ann_codes_upsert",
    // round-18: the shard-pack maintenance generation is the pack
    // family's worst-cost member (base build + affected-shard repack);
    // q_pack_shards/_upsert/_manifest price under it and the family was
    // previously unrepresented on the line (rule 3)
    "q_pack_compact",
    // round-15 second wave: the four-signal agreement matrix is the
    // wave's worst-cost key (~2.6 s isolated — three signal passes +
    // the bigram chain); the other nine wave keys price at or under
    // the family representatives already on the line
    "q_quality_agreement4",
    // round-15 waves 5-8 worst-cost tier (the r7 rule): the grid-
    // bucketed interval self-join (output-bound pair growth at sf0.1)
    // and the persisted kNN-graph build + mutual-CC serve; the other
    // twelve wave keys price at or under existing representatives
    "q_interval_join", "q_knn_graph_stored",
    // round-16: the incremental graph-upsert + CC serve is the round's
    // worst-cost key (4.6 s isolated; q_knn_edges_upsert and
    // q_schedule_price price under existing family representatives)
    "q_knn_upsert_cc")
    // round-17 drops (the rule-3 cheap-near-duplicate clause), to pay
    // the line budget for the positional control samples (VERDICT r16
    // #6): q_simsearch_ivf (family keeps q_simsearch_fast /
    // q_simsearch_pq_refined), q_cms_counts (keeps q_hll_registers),
    // q_join_asof (keeps q_join_inner / q_join_3way), q_mixture_epochs
    // (keeps q_dedup_tokens_saved / q_dsir_weights), q_repetition
    // (keeps q_tfidf_topterms / q_boilerplate), q_bpe_merges
    // (q_pipeline_curate_bpe carries the BPE cost path),
    // q_grouping_sets (keeps q_agg_multi / q_agg_count2key). All stay
    // measured in target/bench.json.
    //
    // Round 18 (VERDICT r17 #8): the r17 drops of q_window_rank and
    // q_zorder_scan left the ranking-window and sort-layout-pruning
    // shapes with no representative (q_window_session is session
    // windows, q_bucketed_join is hash-bucket pruning — different
    // physical shapes), violating rule 3 — both RESTORED. Budget paid
    // by three rule-3 drops: q_minhash_lsh (q_neardup_lsh_verified
    // contains the identical shingle→minhash→band→bucket-join plan
    // plus verification; q_dedup_exact keeps the exact path),
    // q_novelty_by_source (keeps q_ngram_novelty — the same n-gram
    // first-occurrence rollup, grouped differently), q_leakage_split
    // (keeps q_decontaminate — the same benchmark-shingle broadcast
    // join shape).
    .filterNot(Set("q_simsearch_ivf", "q_cms_counts", "q_join_asof",
      "q_mixture_epochs", "q_repetition",
      "q_bpe_merges", "q_grouping_sets",
      "q_minhash_lsh", "q_novelty_by_source", "q_leakage_split"))

  /** The four fixed-plan CONTROL keys (VERDICT r16 #6): cheap queries
    * whose plans have been stable since round 10, re-timed min-of-2
    * every [[controlEvery]] suite positions (and at the end) so a
    * driver-vs-local divergence is attributable FROM THE ARTIFACT
    * ALONE — controls inflated at a position ⇒ host/storage pressure
    * there; controls flat while a key moved ⇒ a real plan regression.
    * Samples ride the printed line as `ctrl_cs` rows
    * `[position, cs…]` in THIS key order, centiseconds (10 ms
    * resolution — a 1.3× host inflation on a 0.25 s control is 8 cs),
    * −1 for a failed sample.
    */
  val controls: Seq[String] =
    Seq("q_topk", "q_pivot", "q_agg_count2key", "q_agg_multi")
  val controlEvery: Int = 50

  /** Highest run-to-run-variance keys (round-17 triage of the r16
    * driver artifact): the three composed pipelines run 15–20 Spark
    * jobs per sample — the most of any key — so transient host/session
    * pressure amplifies on them (measured same-day spread at the same
    * suite position: 6.6→11.1 s on q_pipeline_curate, stage
    * attribution flat at anchor throughout — SCALE.md round-17
    * triage). They get ONE extra sample (min-of-3) so a single hot
    * moment cannot set their reported minimum; everything else stays
    * on the long-standing min-of-2 protocol.
    */
  val varianceTier: Set[String] =
    Set("q_pipeline_curate", "q_pipeline_curate_bpe",
      "q_pipeline_incremental")

  /** Sentinel a timed sample returns when its query THREW: Double.MaxValue
    * rather than the (near-zero) elapsed-to-throw time, so that under
    * [[bestOf]] a fast failure can never shadow a slow success — min-of-n
    * must measure the best SUCCESSFUL run or report failure, never a
    * stack-trace latency.
    */
  val FailedSample: Double = Double.MaxValue

  /** Smallest SUCCESSFUL one of `n` fresh evaluations of `sample`; −1 iff
    * every sample failed (so downstream totals show a visible anomaly
    * instead of silently summing MaxValue).
    */
  def bestOf(n: Int)(sample: => Double): Double = {
    val best = Seq.fill(n)(sample).min
    if (best == FailedSample) -1.0 else best
  }

  /** One timed end-to-end evaluation of `body`; [[FailedSample]] on throw. */
  def timeOnce(body: => Unit): Double = {
    val t0 = System.nanoTime()
    try { body; (System.nanoTime() - t0) / 1e9 }
    catch { case _: Throwable => FailedSample }
  }

  /** The whole measurement pass, factored out of `main` so BenchJson
    * tests can drive the REAL pipeline (warmup → min-of-2 timing →
    * target/bench.json → headline line) on a query subset and
    * strict-parse exactly the string `main` will print. Returns the
    * printed line.
    */
  def runSuite(spark: SparkSession, sfDir: String,
               queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
               jsonPath: String = "target/bench.json"): String = {
    // Warm up the session (codegen, shuffle machinery, parquet reader)
    // so first-query timings measure the query, not JVM init. Two
    // isolated failure domains (r18 review discipline), each factored
    // into a catch-free method so WarmupSpec can assert the jobs
    // actually RUN — round 19 found [[warmupSubsystems]]'s
    // sum(xxhash64) overflowing int64 under ANSI, which aborted one
    // job on EVERY host ("Task 0 in stage 24 … aborting job" at bench
    // start in the r18 driver artifact) and silently skipped the
    // mapPartitions-codec and parquet-committer warmups behind it.
    try warmupRelational(spark, sfDir) catch { case _: Throwable => () }
    try warmupSubsystems(spark, sfDir) catch { case _: Throwable => () }
    // min-of-2 per query: the round-3 driver artifact recorded a 34 s
    // q_repetition that re-timed at 1.8 s on an idle host — a single
    // sample is hostage to co-tenant load. The min of two back-to-back
    // runs measures warm steady-state and is noise-resistant; the
    // second run re-executes the full plan (nothing is persisted
    // between runs), so it is a legitimate timing, not a cache read.
    val qmap = queries.toMap
    val ctrlKeys = controls.filter(qmap.contains)
    val ctrlRows = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Double])]
    val sorted = queries.sortBy(_._1)
    val results = sorted.zipWithIndex.map { case ((name, fn), idx) =>
      val t = bestOf(if (varianceTier(name)) 3 else 2)(
        timeOnce(fn(spark, sfDir).count()))
      // Inter-query storage hygiene (round-8 triage of the r7 driver
      // outliers): many declared plans localCheckpoint/cache frames that
      // are only reclaimed by ContextCleaner AFTER their DataFrame is
      // GC'd — across ~190 sequential queries those blocks pile up in
      // storage memory until a heavy shuffle forces eviction thrash,
      // inflating exactly the expensive queries (the r7 artifact shows
      // q_minhash_lsh 7.74 s in-suite vs 1.04 s fresh-JVM while the
      // q_topk/q_pivot controls matched their isolated mins). Dropping
      // the cache and nudging GC BETWEEN timings keeps each query's
      // measurement independent, like IsolatedBench, at zero cost to
      // the timed region.
      //
      // Round-11 completion of that triage: clearCache() only frees
      // CacheManager entries — localCheckpoint blocks are invisible to
      // it and piled up again as r10 added checkpoint-heavy queries
      // that run alphabetically before the expensive dedup/graph
      // family (the r10 closing artifact: flat controls, 2-7×
      // inflation confined to exactly that family, every member ≤ r9
      // anchors in a fresh JVM). Lineage.releaseAll unpersists the
      // orphaned checkpoint RDDs deterministically — safe here because
      // every declared query builds its frames from scratch, so
      // nothing constructed before this point is ever re-executed.
      hygiene(spark)
      // positional control samples (VERDICT r16 #6): after the hygiene
      // block so the controls see the same storage state the NEXT query
      // will — a control inflated here means the position is hot, not
      // the plan. min-of-2 like every suite key; untimed in the total.
      if (ctrlKeys.nonEmpty &&
          ((idx + 1) % controlEvery == 0 || idx == sorted.size - 1)) {
        val ts = ctrlKeys.map(c =>
          bestOf(2)(timeOnce(qmap(c)(spark, sfDir).count())))
        hygiene(spark)
        ctrlRows += ((idx, ts))
      }
      name -> t
    }
    val out = java.nio.file.Paths.get(jsonPath)
    if (out.getParent != null)
      java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out,
      renderJson(results, sfDir, results.map(_._1), ctrlRows.toSeq) + "\n")
    renderJson(results, sfDir, headline, ctrlRows.toSeq)
  }

  /** Untimed warmup, domain 1 — the relational operator families.
    *
    * Round-12 widening (VERDICT r11 #2): the r11 artifact's two
    * recurring >1.5× keys (q_agg_count2key 0.673 s, q_agg_multi
    * 0.611 s vs r10's 0.36 s) re-measured AT their r10 anchors in
    * IsolatedBench min-of-3 on the same committed tree
    * (0.369 / 0.347 s, controls flat — SCALE.md r12 entry), so the
    * inflation was suite-POSITION, not plan: a near-empty warmup left
    * Spark's hash-aggregate / exchange / sort codegen C2-cold, and the
    * alphabetically-first agg family paid the JIT compile inside its
    * timed samples (visible even in IsolatedBench's own sample decay:
    * 0.856 → 0.412 → 0.369). Touch each hot operator family once —
    * decimal multi-agg, window rank, equi-join — so alphabetical
    * position no longer decides who pays JIT. Untimed, ~2 s once per
    * suite at sf0.1.
    */
  private[graft] def warmupRelational(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, row_number, sum}
    spark.range(1000).selectExpr("sum(id)").collect()
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val or = spark.read.parquet(s"$sfDir/orders.parquet")
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("c"))
      .collect()
    li.select(col("l_orderkey"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag").orderBy("l_orderkey")).as("rn"))
      .filter(col("rn") === 1).collect()
    li.join(or, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").count().collect()
  }

  /** Untimed warmup, domain 2 — execution subsystems beyond the
    * relational families (round-18 widening, OPTIMIZATION_r18.md): the
    * r17/r18-baseline artifacts inflate the alphabetically-EARLY keys
    * 2-15× against their IsolatedBench anchors (q_agg_approx_distinct
    * 3.17 s in-suite vs 0.21 s isolated, q_bm25_postings_upsert 8.31
    * vs 1.72) because whole execution subsystems first initialize/JIT
    * inside the first timed keys: ObjectHashAggregate
    * (approx_count_distinct), the parquet WRITE path (every
    * artifact-building key), generator nodes (explode/posexplode over
    * split), hash expressions (md5 / xxhash64 — the dedup family's
    * keys), and the Dataset mapPartitions codec path
    * (localSpanningForest). Touch each once, untimed.
    *
    * The hash rollup sums `xxhash64 div 256`, NOT the raw hash: 64
    * uniform int64 values overflow a long sum roughly half the time,
    * and under ANSI mode that throw aborted THIS job and skipped the
    * two warmups after it on every host (round-19 fix; WarmupSpec now
    * runs both domains catch-free so a failing warmup job is a test
    * failure, not a silent cold start).
    */
  private[graft] def warmupSubsystems(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col,
      count, expr, lit, md5, posexplode, split, sum, xxhash64}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.select(approx_count_distinct(col("source"))).collect()
    docs.limit(64)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .agg(count(lit(1))).collect()
    docs.limit(64)
      .select(md5(col("text")).as("m"), xxhash64(col("text")).as("x"))
      .agg(count(col("m")), sum(expr("x div 256"))).collect()
    locally { import spark.implicits._
      spark.range(512).as[Long].mapPartitions(it => it.map(_ + 1L))
        .agg(sum(col("value"))).collect() }
    spark.range(1024).select(col("id"), (col("id") * 2).as("v"))
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet("target/warmup_parquet")
    spark.read.parquet("target/warmup_parquet").agg(sum(col("v"))).collect()
  }

  /** The between-keys storage hygiene of [[runSuite]] (see the comment
    * at its call site), shared by every timing main: drop the
    * CacheManager entries, unpersist orphaned checkpoint RDDs, nudge GC.
    * Session memos ([[graft.sources.SessionMemo]]) are left alone.
    */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.operators.Lineage.releaseAll(spark)
    System.gc()
  }

  /** The local session every main runs on: `local[cpus]`, one shuffle
    * partition per core, UTC session time zone (as the test session
    * and perfbench use), no UI.
    */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // let AQE re-coalesce the output partitioning of persisted frames:
      // iterative ops (connected components, k-means) cache tiny label
      // frames whose exchanges otherwise fan out to full width
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The documented-bounded global windows (vocabCoverage/oovRate vocab
    // ranks over limit/vocab-bounded frames, paretoFrontier's group-grain
    // scan, the cumulative-days retention frame) trip WindowExec's blanket
    // "No Partition Defined" WARN. Those frames are bounded by
    // construction (see each operator's scaladoc), and the driver captures
    // the mains' output tails — keep false alarms out of them without
    // touching the global WARN level.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    // [[hygiene]] deliberately unpersists localCheckpointed RDDs of
    // frames that are already dead — Spark WARNs "cannot be recomputed
    // after unpersisting" per RDD, which is exactly the intended
    // semantics and would flood the captured tail across ~200 queries.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val line = runSuite(spark, sfDir, SparkEntry.queries.toSeq)
    spark.stop()
    // printed AFTER spark.stop() so no executor/shutdown log line can
    // interleave: the JSON must stay the FINAL stdout statement of this
    // main — the driver parses the stdout TAIL (BenchJson tests pin the
    // line's parse + length; ordering is pinned here).
    println(line)
  }

  /** The driver-parsed result line. `value` totals ALL measured queries;
    * the `queries` map carries only `keep` (the headline subset on
    * stdout, everything in target/bench.json) so the printed line
    * survives stdout-tail capture. Public so BenchJsonSpec can
    * round-trip it through a strict parser and bound its length.
    */
  def renderJson(results: Seq[(String, Double)], sfDir: String,
                 keep: Seq[String],
                 ctrl: Seq[(Int, Seq[Double])] = Nil): String = {
    def f(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val keepSet = keep.toSet
    val qs = results.filter(r => keepSet(r._1))
      .map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    // positional control rows: [suite position, centiseconds per
    // control in [[controls]] order]; −1 = every sample failed
    val ctrlJson =
      if (ctrl.isEmpty) ""
      else ctrl.map { case (pos, ts) =>
        (pos.toString +: ts.map(t =>
          if (t < 0) "-1" else math.round(t * 100).toString))
          .mkString("[", ",", "]")
      }.mkString(""","ctrl_cs":[""", ",", "]")
    val total = results.map(_._2).sum
    s"""{"metric":"total","value":${f(total)},"unit":"sec","n":${results.size},"queries":$qs$ctrlJson,"sf":"$sfDir"}"""
  }
}
