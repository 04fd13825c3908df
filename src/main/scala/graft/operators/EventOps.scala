package graft.operators

import graft.Tables.Nanos
import graft.operators.Lineage.LineageOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time operators over the `events` table (SURVEY.md §2 I).
  *
  * The `ts` column is epoch **nanoseconds as LongType** (see
  * [[graft.Tables.events]]). All bucket math is integer division on the
  * raw nanos — exact, timezone-free, and codegen-friendly.
  */
object EventOps {

  /** I1 — tumbling-window aggregation: per (hour-bucket, event_type)
    * count + exact decimal sum of `value` (emitted as DOUBLE — the exact
    * decimal casts to the identical nearest double in every engine,
    * while a DECIMAL output column trips cross-engine comparators).
    * `hour_start` is epoch seconds of the bucket start — a pure function
    * of the nanos, immune to session-timezone drift between engines.
    */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .withColumn("hour_start", expr(s"ts div ${Nanos.PerHour} * 3600"))
      .groupBy("hour_start", "event_type")
      .agg(count(lit(1)).as("cnt"),
        Relational.decSum(col("value")).cast("double").as("sum_value"))
      .orderBy("hour_start", "event_type")

  /** Sessionize on an arbitrary integer event-time column (`tsCol`) with
    * the gap in the same unit — lets callers pick µs resolution when an
    * external comparator only preserves µs.
    */
  def sessionizeOn(events: DataFrame, tsCol: Column, gap: Long): DataFrame = {
    val withTs = events.withColumn("__t", tsCol)
    val w = Window.partitionBy("user_id").orderBy(col("__t"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withTs
      .withColumn("__prev_ts", lag(col("__t"), 1).over(w))
      .withColumn("__new_sess",
        when(col("__prev_ts").isNull || col("__t") - col("__prev_ts") > gap, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("__new_sess")).over(wRun))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("__t")).as("session_start"),
        max(col("__t")).as("session_end"))
      .orderBy("user_id", "session_id")
  }

  /** Funnel analysis (the product-analytics staple): per user, the
    * furthest stage reached following `stages` in order with strictly
    * increasing event times. Computed as a cascade of bounded
    * min-aggregations: stage i's reach time is `min(t)` over that
    * stage's events strictly after stage i−1's reach time. Per-user
    * state is ONE timestamp per stage — never a per-user event array
    * (the previous `collect_list` fold held every event of a user in a
    * single row, so one bot user with 10⁸ events became an executor
    * OOM at 100 TB). `stages.size` is a small constant, so the cascade
    * is a fixed number of user-keyed joins over stage-filtered events.
    * The greedy first-match scan this replaces is provably equivalent:
    * each stage's match IS the minimal timestamp strictly after the
    * previous stage's match (regression-pinned by
    * GraphFunnelPropertySpec against the driver-side greedy reference).
    */
  def funnelStages(events: DataFrame, tsCol: Column,
                   stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "need at least one funnel stage")
    // pre-filter to the stage vocabulary: non-stage events can never
    // advance the funnel, so they never leave the scan
    val e = events
      .select(col("user_id"), tsCol.as("__t"), col("event_type"))
      .filter(col("event_type").isin(stages.map(_.asInstanceOf[Any]): _*))
    // stage 0 counts every user that emitted ANY event (funnel_stage=0
    // for users who never reached stage 1)
    val users = events.select("user_id").distinct()
    val reachTimes: Seq[DataFrame] = stages.zipWithIndex
      .foldLeft(List.empty[DataFrame]) { case (acc, (st, _)) =>
        val stageEvents = e.filter(col("event_type") === st)
        val eligible = acc match {
          case Nil => stageEvents
          case prev :: _ =>
            stageEvents
              .join(prev.select(col("user_id"), col("__rt").as("__pt")), "user_id")
              .filter(col("__t") > col("__pt"))
        }
        eligible.groupBy("user_id").agg(min("__t").as("__rt")) :: acc
      }.reverse
    val joined = reachTimes.zipWithIndex.foldLeft(users) { case (df, (m, i)) =>
      df.join(m.select(col("user_id"), col("__rt").as(s"__rt$i")),
        Seq("user_id"), "left")
    }
    // later stages imply earlier ones, so the furthest non-null wins
    val furthest = stages.indices.foldLeft(lit(0L)) { case (acc, i) =>
      when(col(s"__rt$i").isNotNull, lit((i + 1).toLong)).otherwise(acc)
    }
    joined.select(col("user_id"), furthest.as("funnel_stage"))
      .orderBy("user_id")
  }

  /** Retention cohorts: users bucketed by their first-activity day;
    * per (cohort_day, day_offset) the count of distinct users active
    * that day. Two wordcount-shaped aggregations + one join on user —
    * the standard shape at any scale.
    */
  def retentionCohorts(events: DataFrame, dayCol: Column): DataFrame = {
    val days = events.select(col("user_id"), dayCol.as("day")).distinct()
    val cohorts = days.groupBy("user_id").agg(min("day").as("cohort_day"))
    days.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** SCD2-style interval versioning: each event opens a validity
    * interval per key that the NEXT event closes (`valid_to` = next
    * `valid_from`, NULL while current) — the standard
    * slowly-changing-dimension build, one `lead` window pass per key.
    */
  def scd2Intervals(events: DataFrame, key: String, tsCol: Column,
                    tieBreak: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col("valid_from_us"), col(tieBreak))
    events.select(col(key), col(tieBreak), tsCol.as("valid_from_us"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .orderBy(key, "valid_from_us", tieBreak)
  }

  /** Gap-filled daily series: (day × event_type) counts over the FULL
    * min..max day span with explicit zero rows for silent days — the
    * grid a forecasting/monitoring pipeline consumes. The grid is
    * generated from one 2-row aggregate (span) crossed with the distinct
    * type dim — both bounded by the calendar and the type vocabulary,
    * never by event volume — then left-joined against the aggregated
    * counts. `dayCol` must be an integer day (e.g. epoch days).
    */
  def gapFillDaily(events: DataFrame, dayCol: Column): DataFrame = {
    // localCheckpoint: three plan branches (span, type dim, left join)
    // consume byDay — without it each branch re-scans and re-aggregates
    // the raw events (different shuffle keys, so exchange reuse can't
    // help). The checkpointed frame is calendar × type-vocabulary rows.
    // Storage lifetime: checkpoint blocks (unlike a .cache(), which the
    // CacheManager pins until an explicit unpersist) are freed by the
    // ContextCleaner once the returned frame is dropped —
    // StorageReleaseSpec asserts the release.
    val byDay = events.select(dayCol.as("day"), col("event_type"))
      .groupBy("day", "event_type").agg(count(lit(1)).as("cnt"))
      .lineageTruncate()
    val span = byDay.agg(min("day").as("lo"), max("day").as("hi"))
    val allDays = span.select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val types = byDay.select("event_type").distinct()
    allDays.crossJoin(types)
      .join(byDay, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("day", "event_type")
  }

  /** Cumulative distinct users by day WITHOUT a windowed count-distinct
    * (which Spark windows don't support and which would hold per-window
    * user sets at scale): each user collapses to their first-seen day
    * (one groupBy), days aggregate new-user counts (second groupBy —
    * calendar-bounded), and a running sum over the tiny day series
    * yields the cumulative distinct total. The only unpartitioned
    * window runs over day-count rows, never event rows.
    */
  def cumulativeDistinctUsers(events: DataFrame, dayCol: Column): DataFrame = {
    val firstSeen = events.select(col("user_id"), dayCol.as("day"))
      .groupBy("user_id").agg(min("day").as("first_day"))
    val perDay = firstSeen.groupBy("first_day").agg(count(lit(1)).as("new_users"))
    perDay
      .withColumn("cum_users",
        sum("new_users").over(Window.orderBy("first_day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("first_day")
  }

  /** Per-group z-score anomaly filter in EXACT integer arithmetic — the
    * data-quality "drop metric outliers" step, made hash-oracle-safe.
    *
    * |x − μ| > k·σ is algebraically identical to
    * (n·x − S)² > k² · (n·Q − S²) with S = Σx, Q = Σx² over the group —
    * every quantity an integer once values are centi-scaled, so there is
    * no float μ/σ whose last-ulp could differ between engines. The
    * quadratic terms run in Decimal(38,0) (the oracle mirrors with
    * HUGEINT): at 10⁸ rows/group with 5-digit cents, n·Q ≈ 10¹⁹·10⁸
    * still fits 38 digits with room to spare.
    *
    * Scale shape: one map-side-combined aggregation produces a
    * GROUP-CARDINALITY-sized moments frame (here: #event_types rows)
    * that broadcast-joins back; the events side is a single scan with a
    * codegen'd filter — no window, no per-row state, no second shuffle.
    */
  def zscoreOutliers(events: DataFrame, k: Int): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cents = events.select(col("event_type"), col("ts"),
      round(col("value") * 100).cast("long").as("value_c"))
    val moments = cents.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      // linear sum in decimal too: a LONG sum would overflow (and, under
      // Spark 4's default ANSI mode, throw) around 10^14 centi-scaled rows
      sum(col("value_c").cast(d38)).as("s"),
      sum(col("value_c").cast(d38) * col("value_c").cast(d38)).as("q"))
    val dev = col("n").cast(d38) * col("value_c") - col("s")
    cents.join(broadcast(moments), Seq("event_type"))
      .filter(dev * dev >
        lit(k.toLong * k) * (col("n").cast(d38) * col("q") -
          col("s").cast(d38) * col("s").cast(d38)))
      .select(col("event_type"), col("ts").as("ts_ns"), col("value_c"),
        col("n").as("group_n"))
      .orderBy("event_type", "ts_ns", "value_c")
  }

  /** Per-type ANSI-discrete percentile bounds of centi-scaled `value`:
    * the smallest value whose cumulative distribution reaches p — an
    * ACTUAL data value (deterministic), not an interpolated float.
    *
    * Computed via a `cume_dist` window rather than `percentile_disc`
    * deliberately: Spark's exact percentile aggregates buffer every
    * group value in executor memory, while a window over
    * (event_type, value_c) is an external SORT — spillable, so the same
    * plan survives a 10⁸-rows-per-type group at 100 TB. The output is
    * GROUP-CARDINALITY-sized (#event_types rows), made for broadcasting
    * back (see [[winsorize]] / [[madOutliers]]).
    */
  private def discBounds(cents: DataFrame, ps: Seq[(String, Double)],
                         valueCol: String = "value_c"): DataFrame = {
    // null values would sort NULLS FIRST here but NULLS LAST in a SQL
    // oracle's cume_dist — the distributionDrift cross-engine trap.
    // The events table is null-free; a null value is an upstream bug,
    // so fail loudly rather than emit engine-dependent bounds.
    val guarded = cents.withColumn(valueCol,
      when(col(valueCol).isNotNull, col(valueCol)).otherwise(raise_error(
        lit(s"discBounds: null $valueCol — clean upstream"))))
    val w = Window.partitionBy("event_type").orderBy(col(valueCol))
    val cd = guarded.withColumn("cd", cume_dist().over(w))
    val aggs = ps.map { case (name, p) =>
      min(when(col("cd") >= p, col(valueCol))).as(name)
    }
    cd.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
  }

  /** Winsorization — clip each event's centi-scaled value to its
    * type's exact discrete [P05, P95]: the standard robust-cleaning
    * step before aggregating a heavy-tailed metric (cap, don't drop).
    *
    * Scale shape: one external-sort window pass produces a
    * #event_types-row bounds frame, broadcast back over a single scan
    * with a codegen'd `greatest(lo, least(hi, x))` — no per-row state,
    * no second shuffle, no in-memory percentile buffers.
    */
  def winsorize(events: DataFrame, loPct: Int, hiPct: Int): DataFrame = {
    val cents = events.select(col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("value_c"))
    val bounds = discBounds(cents,
      Seq("lo_c" -> loPct / 100.0, "hi_c" -> hiPct / 100.0))
    cents.join(broadcast(bounds), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value_c"),
        col("lo_c"), col("hi_c"),
        greatest(col("lo_c"), least(col("hi_c"), col("value_c")))
          .as("clamped_c"))
      .orderBy("event_id")
  }

  /** Median-absolute-deviation outliers: |x − median| > k·MAD per
    * event_type — the robust sibling of [[zscoreOutliers]] (a single
    * extreme spike inflates σ and HIDES other outliers; it barely moves
    * the median, so MAD keeps flagging them). All quantities are exact
    * integers on the cents grid: the median and MAD are ANSI-discrete
    * percentiles (actual data values), the comparison is pure int64.
    *
    * Scale shape: two external-sort window passes (value, then absolute
    * deviation) each reduced to a #event_types-row frame that
    * broadcast-joins back — the events side stays a scan + codegen
    * filter, same as the z-score plan, just one more bounded pass.
    */
  def madOutliers(events: DataFrame, k: Int): DataFrame = {
    val cents = events.select(col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("value_c"))
    val med = discBounds(cents, Seq("med_c" -> 0.5))
    val dev = cents.join(broadcast(med), Seq("event_type"))
      .withColumn("dev_c", abs(col("value_c") - col("med_c")))
    val mad = discBounds(dev, Seq("mad_c" -> 0.5), valueCol = "dev_c")
    dev.join(broadcast(mad), Seq("event_type"))
      .filter(col("dev_c") > lit(k.toLong) * col("mad_c"))
      .select(col("event_id"), col("event_type"), col("value_c"),
        col("med_c"), col("mad_c"), col("dev_c"))
      .orderBy("event_id")
  }

  /** Histogram-SKETCH quantile estimates: per event_type, an
    * equi-width bin-count table over the cents grid, then the quantile
    * read off the cumulative counts — bucket index plus the
    * within-bucket offset in ppm, all integer arithmetic.
    *
    * This is the MERGEABLE quantile path: the sketch state is
    * |types|·numBins counters (map-side combined — per-shard
    * histograms ADD, like the CMS/HLL tables), where the exact
    * percentile needs the full sorted data and t-digest isn't
    * cross-engine reproducible. Estimate error is bounded by the bin
    * width; [[winsorize]]/q_percentile_disc stay the exact paths.
    *
    * Definition (both engines, exact ints): target_p = ⌈total·p/1000⌉;
    * the estimate lands in the first bucket whose cumulative count
    * reaches target_p, at offset (target_p − cum_before)·10⁶ div cnt.
    */
  def histogramQuantiles(events: DataFrame, binWidthCents: Long, numBins: Int,
                         pPermille: Seq[Int]): DataFrame = {
    require(binWidthCents > 0 && numBins > 1 && pPermille.nonEmpty)
    val cents = events.select(col("event_type"),
      round(col("value") * 100).cast("long").as("value_c"))
    val binned = cents
      .groupBy(col("event_type"),
        greatest(lit(0L), least(floor(col("value_c") / binWidthCents),
          lit(numBins - 1L))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("bucket")
    val cum = binned.withColumn("cum", sum(col("cnt")).over(w))
    val totals = binned.groupBy("event_type").agg(sum(col("cnt")).as("total"))
    val joined = cum.join(broadcast(totals), Seq("event_type"))
    val hits = pPermille.map { p =>
      min(when(col("cum") * 1000 >= col("total") * p,
        struct(col("bucket"), col("cum"), col("cnt")))).as(s"hit_$p")
    }
    val outs = pPermille.flatMap { p =>
      Seq(expr(s"hit_$p.bucket").as(s"b$p"),
        // offset of target_p inside its bucket, exact integer div
        expr(s"(least((total * $p + 999) div 1000, hit_$p.cum) " +
          s"- (hit_$p.cum - hit_$p.cnt)) * 1000000L div hit_$p.cnt")
          .as(s"frac${p}_ppm"))
    }
    joined.groupBy("event_type")
      .agg(max(col("total")).as("total"), hits: _*)
      .select(col("event_type") +: col("total") +: outs: _*)
      .orderBy("event_type")
  }

  /** Session OUTCOMES: [[sessionizeOn]]'s gap sessionization with the
    * conversion verdict riding the same rollup — per session, event
    * count, bounds, and whether any `conversionType` event occurred.
    * The abandonment/conversion table (which sessions end without
    * buying) for the cost of one extra max() in the existing
    * aggregation; no second pass, no join back.
    */
  def sessionOutcomes(events: DataFrame, tsCol: Column, gap: Long,
                      conversionType: String): DataFrame = {
    val withTs = events.withColumn("__t", tsCol)
    val w = Window.partitionBy("user_id").orderBy(col("__t"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withTs
      .withColumn("__prev_ts", lag(col("__t"), 1).over(w))
      .withColumn("__new_sess",
        when(col("__prev_ts").isNull || col("__t") - col("__prev_ts") > gap, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("__new_sess")).over(wRun))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        max((col("event_type") === conversionType).cast("long"))
          .as("converted"),
        min(col("__t")).as("session_start"),
        max(col("__t")).as("session_end"))
      .orderBy("user_id", "session_id")
  }

  /** LAST-TOUCH attribution: every conversion event credited to the
    * most recent preceding touch event of the same user — the
    * marketing/product attribution join, expressed as ONE per-user
    * window pass: `last_value(touch, ignoreNulls)` over the
    * unbounded-preceding frame carries the latest touch forward, so no
    * self-join and no per-row subquery. Conversions with no prior
    * touch attribute null (organic).
    *
    * CONTRACT: `ts` is epoch NANOS (the events-table convention) —
    * outputs are emitted at µs (`ts div 1000`) per the cross-engine
    * comparator rule.
    *
    * Scale shape: one shuffle on user_id, one incremental running
    * frame (O(1) state per row — never the O(m²) following-frame
    * trap), then a codegen filter to conversion rows.
    */
  def lastTouchAttribution(events: DataFrame, touchType: String,
                           conversionType: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("touch_id",
        last(when(col("event_type") === touchType, col("event_id")),
          ignoreNulls = true).over(w))
      .withColumn("touch_ts",
        last(when(col("event_type") === touchType, col("ts")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === conversionType)
      .select(col("event_id").as("conversion_id"), col("user_id"),
        expr("ts div 1000").as("ts_us"), col("touch_id"),
        expr("touch_ts div 1000").as("touch_ts_us"))
      .orderBy("conversion_id")
  }

  /** Rate-spike detection: per (event_type, hour) counts flagged when
    * the hour's count exceeds `factorPct`% of its trailing-3-hour
    * mean — the monitoring alarm every event pipeline runs, in exact
    * integers: `cnt·100·n_prev > factorPct·Σprev` cross-multiplies the
    * mean away (no division at all, so no rounding decision to agree
    * on). The frame is RANGE over the hour value (ADVICE r7 — a ROWS
    * frame would slide over silent gaps and compare against
    * non-adjacent hours), so "trailing 3 hours" means exactly hours
    * h−3..h−1 BY VALUE; hours without all three predecessors observed
    * (cold start, or any gap in the trailing window) don't alarm.
    *
    * Scale shape: the hourly rollup is map-side combined to
    * |types|·|hours| rows; the trailing window runs on THAT aggregate
    * (hash-partitioned by type), never on raw events.
    */
  def rateSpikes(events: DataFrame, factorPct: Int): DataFrame = {
    val hourly = events
      .select(col("event_type"),
        expr(s"ts div ${graft.Tables.Nanos.PerHour}").as("hour"))
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rangeBetween(-3, -1)
    hourly
      .withColumn("prev_sum", sum(col("cnt")).over(w))
      .withColumn("prev_n", count(col("cnt")).over(w))
      .filter(col("prev_n") === 3 &&
        col("cnt") * 100 * col("prev_n") > lit(factorPct.toLong) * col("prev_sum"))
      // prev_n is pinned to 3 by the filter itself — carrying it in
      // the output would be a constant column
      .select(col("event_type"), col("hour"), col("cnt"), col("prev_sum"))
      .orderBy("event_type", "hour")
  }

  /** First-order Markov transition counts of the event stream: order each
    * user's events by (µs time, event_id — the total-order tiebreak used
    * throughout), pair each event with its successor via `lead`, count
    * (from_type, to_type) occurrences corpus-wide. The path-analysis /
    * "what do users do next" matrix.
    *
    * Scale shape: one shuffle on user_id for the per-user window (hash
    * partitioning — users are independent, no skew beyond the hottest
    * user's event count), then a map-side-combined groupBy whose key
    * space is |event_type|² — the second exchange carries rows
    * proportional to partitions × type-pairs, not to the input.
    */
  def transitionCounts(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(expr("ts div 1000"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("from_type", "to_type")
  }

  /** Per-user TIME-weighted mean of `value` — each reading weighted by
    * how long it was the current one (piecewise-constant signal, the
    * sensor/metrics aggregation a row-weighted mean gets wrong when
    * sampling is irregular).
    *
    * Exactness contract: values are centi-scaled to integers, intervals
    * are µs longs, and the weighted sums run in Decimal(38,0) (oracle:
    * HUGEINT) — at 10⁸ events/user with 5-digit cents and month-long
    * spans, Σ(value_c·dt_us) ≈ 10⁷·10¹³ = 10²⁰ still fits 38 digits. The
    * output is the integral-division quotient Σ(v·dt) div Σ(dt) — an
    * exact BIGINT of avg cents, never a float. Users whose events all
    * share one timestamp have zero total weight and are dropped (no 0/0).
    *
    * Scale shape: one shuffle on user_id for the lead window, then a
    * map-side-combined per-user aggregation on the SAME partitioning
    * (Catalyst reuses the exchange — no second shuffle).
    */
  def timeWeightedValue(events: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    events
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_id"),
        round(col("value") * 100).cast("long").as("value_c"))
      .withColumn("dt_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("dt_us").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("dt_us")).as("sum_dt_us"),
        sum(col("value_c").cast(d38) * col("dt_us").cast(d38)).as("num"))
      .filter(col("sum_dt_us") > 0)
      .select(col("user_id"), col("n_intervals"), col("sum_dt_us"),
        expr("num div sum_dt_us").as("twavg_c"))
      .orderBy("user_id")
  }
}
