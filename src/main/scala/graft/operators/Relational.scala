package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reusable relational building blocks (SURVEY.md §2 B–G).
  *
  * Scale notes: every helper is a declarative plan fragment — Catalyst
  * handles pushdown/pruning; aggregations get partial (map-side) combine
  * automatically; `orderBy(...).limit(n)` compiles to
  * `TakeOrderedAndProject` (per-partition top-k + driver merge of k·p
  * rows, never a full sort); window functions shuffle once on their
  * partition keys.
  */
object Relational {

  val Dec18_2: DecimalType = DecimalType(18, 2)

  /** Sum a double column deterministically: per-row cast to decimal, then
    * an order-independent exact decimal sum (SURVEY §7.3 H2 — raw
    * double sums differ across partition orders and engines).
    */
  def decSum(c: Column): Column = sum(c.cast(Dec18_2)).cast(Dec18_2)

  /** D4 — pandas `value_counts`: group-count, descending count with a
    * deterministic tie-break on the key.
    */
  def valueCounts(df: DataFrame, key: String, cntName: String = "cnt"): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as(cntName))
      .orderBy(desc(cntName), asc(key))

  /** B4/D3 — per-column null profile in long form (one row per column):
    * `(col_name, n_nulls, n_rows, null_ppm)`. A single aggregate pass
    * over the data; the unpivot is width-bounded, not data-bounded.
    */
  def nullProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    // coalesce: sum over ZERO rows is NULL — an empty table has zero
    // nulls per column, not an unknown count (same audit-NULL class as
    // checkConstraints, ADVICE r9; null_ppm legitimately stays NULL on
    // 0 rows — a ratio over nothing is undefined, and n_rows says why)
    val aggRow = df.select(
      (count(lit(1)).cast(LongType).as("__n_rows__") +:
        cols.toIndexedSeq.map(c =>
          coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
            .cast(LongType).as(c))): _*)
    aggRow
      .unpivot(Array(col("__n_rows__")), cols.map(col).toArray, "col_name", "n_nulls")
      .select(
        col("col_name"),
        col("n_nulls"),
        col("__n_rows__").as("n_rows"),
        expr("CASE WHEN `__n_rows__` = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE `n_nulls` * 1000000L div `__n_rows__` END").as("null_ppm"))
      .orderBy("col_name")
  }

  /** Deterministic hash bucket in [0, 1e6): first 32 bits of md5 of the
    * key's string form. md5 is bit-identical across engines and stable
    * across cluster sizes/runs — the right primitive for reproducible
    * sampling and train/val/test splits of a training corpus (a seeded
    * `df.sample` changes membership whenever partitioning changes).
    */
  def hashBucketPpm(key: Column): Column =
    (conv(substring(md5(key.cast(StringType)), 1, 8), 16, 10).cast(LongType)
      % 1000000L).as("bucket_ppm")

  /** DOMAIN-SEPARATED variant (ADVICE r10): md5 of `salt` prepended to
    * the key's string form. Two gates driven by the SAME key hash are
    * maximally correlated — e.g. a resampler reusing [[assignSplit]]'s
    * unsalted hash keeps exactly the low-hash docs, which are exactly
    * the train band, silently starving val/test when the ops compose.
    * Each independent selection decision must hash in its own domain;
    * the salt is that domain tag.
    */
  def hashBucketPpm(key: Column, salt: String): Column =
    (conv(substring(md5(concat(lit(salt), key.cast(StringType))), 1, 8),
      16, 10).cast(LongType) % 1000000L).as("bucket_ppm")

  /** Reproducible corpus split: train/val/test by hash bucket. */
  def assignSplit(df: DataFrame, keyCol: String,
                  trainPpm: Int, valPpm: Int): DataFrame =
    df.withColumn("bucket_ppm", hashBucketPpm(col(keyCol)))
      .withColumn("split",
        when(col("bucket_ppm") < trainPpm, "train")
          .when(col("bucket_ppm") < trainPpm + valPpm, "val")
          .otherwise("test"))

  /** Row-level upsert (SCD type-1 merge): rows from `updates` replace
    * current rows with the same key; everything else passes through.
    * Anti-join + union — two scans, one shuffle on the key, no MERGE
    * engine needed; at lake scale this is the rewrite-partition pattern
    * (pair with partitioned writes to touch only affected partitions).
    */
  def upsert(current: DataFrame, updates: DataFrame, key: String): DataFrame =
    current.join(updates.select(col(key)), Seq(key), "left_anti")
      .unionByName(updates)

  /** Pandas-`describe()` analog (the reference notebook's E2 inspection
    * op) in long form: one row per numeric column with count / min /
    * max / sum / mean. ONE aggregate pass over the data, then a
    * width-bounded explode — never a per-column scan. Sums run in exact
    * decimal and emit DOUBLE; the mean divides the exact double sum by
    * the count (identical IEEE operands ⇒ identical result in any
    * engine).
    */
  def describeStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).cast(LongType).as("__n") +:
      cols.flatMap(c => Seq(
        min(col(c)).as(s"__min_$c"),
        max(col(c)).as(s"__max_$c"),
        sum(col(c).cast(Dec18_2)).cast(Dec18_2).cast(DoubleType).as(s"__sum_$c")))
    val row = df.select(aggs: _*)
    val entries = cols.map(c => struct(
      lit(c).as("col_name"),
      col(s"__min_$c").cast(DoubleType).as("min_val"),
      col(s"__max_$c").cast(DoubleType).as("max_val"),
      col(s"__sum_$c").as("sum_val"),
      (col(s"__sum_$c") / col("__n")).as("avg_val")))
    row.select(col("__n").as("n_rows"), explode(array(entries: _*)).as("s"))
      .select(col("s.col_name"), col("n_rows"), col("s.min_val"),
        col("s.max_val"), col("s.sum_val"), col("s.avg_val"))
      .orderBy("col_name")
  }

  /** Deterministic stratified sampling: keep rows whose md5 bucket falls
    * under the per-stratum rate (ppm). Unlike seeded `sampleBy`, the
    * selected set is a pure function of the key — stable across cluster
    * sizes, partitionings, and retries, which is what a reproducible
    * training-data pipeline needs. Unknown strata default to 0 ppm
    * (dropped) unless a default rate is given.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
                       ratesPpm: Map[String, Int],
                       defaultPpm: Int = 0): DataFrame = {
    val rate = ratesPpm.foldLeft(lit(defaultPpm)) { case (acc, (stratum, ppm)) =>
      when(col(stratumCol) === stratum, lit(ppm)).otherwise(acc)
    }
    df.withColumn("bucket_ppm", hashBucketPpm(col(keyCol)))
      .filter(col("bucket_ppm") < rate)
  }

  /** [[stratifiedSample]] with COMPUTED per-stratum rates: the rate
    * frame (stratumCol, ratePpmCol) comes from an upstream aggregation —
    * e.g. the temperature language weights — instead of a hand-written
    * constant map, which is how a real rebalancing pipeline runs (the
    * rates are data, not code). The rate frame is stratum-cardinality
    * sized → broadcast; membership stays a pure function of the key
    * (partition/retry/cluster-size invariant). Strata absent from the
    * rate frame drop (null rate never satisfies `<`).
    */
  def stratifiedSampleByRates(df: DataFrame, stratumCol: String,
                              keyCol: String, rates: DataFrame,
                              ratePpmCol: String): DataFrame =
    df.withColumn("bucket_ppm", hashBucketPpm(col(keyCol)))
      .join(broadcast(rates.select(col(stratumCol),
        col(ratePpmCol).as("__rate_ppm"))), Seq(stratumCol), "left")
      .filter(col("bucket_ppm") < col("__rate_ppm"))
      .drop("__rate_ppm")

  /** Deterministic FIXED-K sample per stratum: the k rows whose
    * key-hash ranks lowest within each group — the "exactly k examples
    * per class" shape ([[stratifiedSample]] covers rate-based
    * thinning; eval-set construction and per-class inspection want a
    * fixed count). Like the rate samplers, membership is a pure
    * function of the key set: stable across partitionings, retries,
    * and cluster sizes, and REMOVAL-STABLE under deletions (a dropped
    * row only ever pulls in the next-ranked row of its own stratum).
    *
    * Scale shape: one hash-partitioned window sort per stratum
    * (external sort, spillable — no percentile-style buffering), then
    * a codegen'd rank filter. Skew note: a hot stratum sorts on one
    * partition's disk, which is the acceptable cost of exact-k; if
    * approximate k suffices, rate-sample at k/|stratum| instead.
    */
  def sampleKPerGroup(df: DataFrame, stratumCol: String, keyCol: String,
                      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val h = DedupOps.md5Hash60(
      concat(lit("s:"), col(keyCol).cast(StringType)))
    val w = Window.partitionBy(stratumCol).orderBy(h, col(keyCol))
    df.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .select(col(stratumCol), col(keyCol), col("rn"))
      .orderBy(stratumCol, "rn")
  }

  /** Constraint names are interpolated into a `stack(...)` SQL string and
    * become intermediate column names, so they are validated up front
    * (ADVICE r9): a quote/backtick in a name would break parsing or
    * inject SQL, and a leading underscore could collide with internal
    * columns (`__n`). Plain identifiers starting with a letter only.
    */
  private val SafeConstraintName = "[A-Za-z][A-Za-z0-9_]*".r.pattern

  private def requireSafeConstraintNames(names: Seq[String]): Unit = {
    require(names.distinct.size == names.size,
      s"duplicate constraint names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    names.foreach { n =>
      require(SafeConstraintName.matcher(n).matches(),
        s"constraint name '$n' must match [A-Za-z][A-Za-z0-9_]* " +
          "(letters/digits/underscore, starting with a letter)")
    }
  }

  /** DATA-QUALITY CONSTRAINT AUDIT — the Deequ-style gate a production
    * load runs before promoting a table: declarative row-level
    * constraints (each a violation predicate) plus uniqueness
    * constraints (key column sets), evaluated in ONE global aggregate
    * pass — every row-level check is a conditional sum riding the same
    * scan, and each uniqueness check is `count(*) − countDistinct(keys)`
    * in the same aggregate, so the audit costs one job however many
    * constraints it carries. Output: one row per constraint with its
    * violation count and pass verdict.
    *
    * Scale shape: partial (map-side) aggregation reduces each partition
    * to one row of counters before the single-row final merge; distinct
    * counts are exact (they shuffle the key projection only). For
    * approximate-tolerance audits at extreme cardinality, swap
    * `countDistinct` for HLL and keep the same output contract.
    */
  def checkConstraints(df: DataFrame,
                       violations: Seq[(String, Column)],
                       uniqueKeys: Seq[(String, Seq[String])] = Nil): DataFrame = {
    require(violations.nonEmpty || uniqueKeys.nonEmpty, "no constraints given")
    requireSafeConstraintNames(violations.map(_._1) ++ uniqueKeys.map(_._1))
    // coalesce: sum over ZERO rows is NULL — without it an empty table
    // audits as (violations = NULL, pass = NULL) and a gate filtering
    // pass = false sees nothing, silently promoting an empty/failed
    // load (ADVICE r9). An empty table has zero violations by definition.
    val vAggs = violations.map { case (n, c) =>
      coalesce(sum(c.cast(LongType)), lit(0L)).as(n)
    }
    val uAggs = uniqueKeys.map { case (n, ks) =>
      (count(lit(1)) - countDistinct(struct(ks.map(col): _*))).cast(LongType).as(n)
    }
    val aggs = vAggs ++ uAggs
    val names = violations.map(_._1) ++ uniqueKeys.map(_._1)
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${names.size}, " +
        names.map(n => s"'$n', `$n`").mkString(", ") +
        ") as (constraint, violations)"))
      .withColumn("pass", col("violations") === 0L)
      .orderBy("constraint")
  }

  /** K-ANONYMITY suppression over quasi-identifier columns — the
    * privacy-curation step a training pipeline runs before releasing
    * metadata-bearing corpora: any combination of the quasi columns
    * shared by fewer than `k` rows is SUPPRESSED (all quasi values
    * replaced by `"*"`), so no released row's metadata narrows it to a
    * group smaller than k. Rows keep their id, group size, and verdict
    * so downstream can audit the suppression mass.
    *
    * Scale shape: one map-side-combined `groupBy` over the quasi
    * columns (output ≤ |distinct combos|, by definition of a quasi
    * identifier far below row count) joined back to the rows — AQE
    * broadcasts the combo table when it is small, and the join key is
    * the quasi tuple, so bodies shuffle at most once. No window over
    * the full table.
    */
  def kAnonymize(rows: DataFrame, idCol: String, quasiCols: Seq[String],
                 k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 1, s"k must be >= 1, got $k")
    val base = rows.select((idCol +: quasiCols).map(col): _*).alias("r")
    val counts = rows.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).cast(LongType).as("grp_n")).alias("g")
    // Null-safe equality (<=>, still a hashable equi-join key): groupBy
    // counts NULL quasi combos as their own group, but a null-rejecting
    // equi-join back would DROP those rows from the output — a privacy
    // operator silently deleting records instead of suppressing them
    // (ADVICE r9). A NULL quasi value is a disclosure class like any
    // other and must be counted and suppressed, not lost.
    val joinCond = quasiCols.map(c => col(s"r.$c") <=> col(s"g.$c"))
      .reduce(_ && _)
    val suppressed = col("grp_n") < k.toLong
    base.join(counts, joinCond)
      .select(col(s"r.$idCol") +:
        quasiCols.map(c => when(suppressed, lit("*"))
          .otherwise(col(s"r.$c").cast(StringType)).as(c)) :+
        col("grp_n") :+ suppressed.as("suppressed"): _*)
      .orderBy(idCol)
  }

  /** INTERVAL COVERAGE (round 15, wave 6) — the merge-overlapping-
    * intervals sweep, per key: overlapping-or-touching intervals
    * coalesce into ISLANDS (a new island starts when an interval's
    * start exceeds the running max of all previous ends), and the
    * output is one row per key with the interval count, island count,
    * and total covered length `Σ (island_end − island_start)`. The
    * classic "how much wall-clock was this user actually active"
    * rollup — the complement of [[intervalOverlapPairs]] (which pairs
    * ACROSS keys; this merges WITHIN a key).
    *
    * Scale shape: one window over the per-key partition (running max +
    * running island sum in a single incremental frame — never a
    * forward-looking or O(m²) frame) and two map-side-combined rollups.
    * One shuffle on the key, O(1) state per row. Tie order among
    * identical (start, end) rows cannot change island boundaries or
    * any aggregate, so the relation is deterministic without a unique
    * tiebreak column.
    *
    * Input: (keyCol, s_start, s_end) longs with `s_start <= s_end`.
    */
  def intervalCoverage(iv: DataFrame, keyCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("s_start"), col("s_end"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv
      .withColumn("__prev_max_end", max(col("s_end")).over(wPrev))
      .withColumn("__new_island",
        when(col("__prev_max_end").isNull ||
          col("s_start") > col("__prev_max_end"), 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new_island")).over(wRun))
      .groupBy(col(keyCol), col("__island"))
      .agg(count(lit(1)).cast(LongType).as("n_iv"),
        min(col("s_start")).as("i_start"), max(col("s_end")).as("i_end"))
      .groupBy(col(keyCol))
      .agg(sum(col("n_iv")).cast(LongType).as("n_intervals"),
        count(lit(1)).cast(LongType).as("n_islands"),
        sum(col("i_end") - col("i_start")).cast(LongType).as("covered_us"))
      .orderBy(keyCol)
  }

  /** K-ANONYMITY / L-DIVERSITY AUDIT (round 15, wave 5) — the
    * measurement side of [[kAnonymize]]: per quasi-identifier group,
    * the group size (k-anonymity of every row in it) and the number of
    * DISTINCT sensitive values (its l-diversity). A group can be large
    * yet disclose its sensitive attribute exactly (n = 500, l = 1 —
    * the homogeneity attack k-anonymity alone misses); this relation is
    * the release-gate audit that catches both. Rows with NULL sensitive
    * values count toward n but not l (count(distinct) ignores NULLs —
    * an unknown sensitive value disclosed nothing).
    *
    * Scale shape: one map-side-combined aggregate over the QI key;
    * distinct-counting rides the same shuffle. Flags are 0/1 longs so
    * the relation is engine-portable.
    */
  def lDiversityAudit(rows: DataFrame, quasiCols: Seq[String],
                      sensitiveCol: String, k: Long, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 1 && l >= 1, s"thresholds must be >= 1, got k=$k l=$l")
    rows.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).cast(LongType).as("n"),
        countDistinct(col(sensitiveCol)).cast(LongType).as("l_distinct"))
      .withColumn("k_anon_ok",
        when(col("n") >= k, 1L).otherwise(0L))
      .withColumn("l_div_ok",
        when(col("l_distinct") >= l, 1L).otherwise(0L))
      .orderBy(quasiCols.map(col): _*)
  }

  /** DETERMINISTIC training-shard assignment — the "global shuffle" a
    * training pipeline runs last: every row gets a shard (uniform by
    * the portable 60-bit md5, so shard sizes balance at any corpus
    * size) and a position within its shard (hash-ordered — effectively
    * random with respect to any data attribute, which is the point of
    * shuffling training data), both pure functions of the key. Re-runs,
    * retries and partial rebuilds land every row in the same (shard,
    * pos) — the reproducibility contract a training job needs from its
    * data order.
    *
    * Scale shape: shard assignment is one map pass; the position is a
    * per-shard window sort — `nShards` hash partitions, each sorting
    * corpus/nShards keys externally (spillable). That per-shard sort IS
    * the global shuffle, priced once at layout time; pick nShards ≈
    * corpus bytes / shard-file target so each sort stays executor-sized.
    */
  def shardAssign(rows: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val h = DedupOps.md5Hash60(
      concat(lit("shard:"), col(keyCol).cast(StringType)))
    val w = Window.partitionBy("shard").orderBy(col("__h"), col(keyCol))
    rows.select(col(keyCol), h.as("__h"))
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast(LongType))
      .select(col(keyCol), col("shard"), col("pos"))
      .orderBy(keyCol)
  }

  /** Row-level SNAPSHOT DIFF between two corpus versions: full outer
    * join on the key comparing 16-byte content fingerprints — every
    * row classified added / removed / changed / unchanged. The
    * dataset-version audit an incremental pipeline runs between
    * yesterday's corpus and today's before promoting it (did the
    * refresh add what it should and ONLY that?); [[distributionDrift]]
    * watches the aggregate mix, this pins the row-level deltas.
    *
    * Scale shape: both sides reduce to (key, md5) projections before
    * the join — 16-byte fingerprints shuffle, bodies never do (the
    * [[DedupOps.exactDedup]] discipline applied to diffing).
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, key: String,
                   contentCol: String): DataFrame = {
    val fa = a.select(col(key), md5(col(contentCol)).as("a_fp"))
    val fb = b.select(col(key), md5(col(contentCol)).as("b_fp"))
    fa.join(fb, Seq(key), "full_outer")
      .select(col(key),
        when(col("a_fp").isNull, lit("added"))
          .when(col("b_fp").isNull, lit("removed"))
          .when(col("a_fp") =!= col("b_fp"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("a_fp"), col("b_fp"))
      .orderBy(key)
  }

  /** Categorical distribution drift between two snapshots — the
    * data-quality monitor a continuously-ingesting pipeline runs between
    * yesterday's corpus and today's (did the language / source / topic
    * mix shift?). Per category: counts on both sides, each side's share
    * in ppm, and the absolute share delta; Σ delta_ppm / 2·10⁶ is the
    * total-variation distance if a scalar summary is wanted.
    *
    * All integer arithmetic (share = cnt·10⁶ div total) — no χ²/KL
    * logarithms, whose libm drift would break cross-engine hashing; TVD
    * is the standard metric that needs none. Categories absent from one
    * side count 0 there (full outer join). Two map-side-combined
    * groupBys on the category + one scalar total each — shuffle traffic
    * is |categories|, never |rows|. An EMPTY side fails loudly (ANSI
    * divide-by-zero) — the drift of a vanished snapshot is an upstream
    * incident, not a zero.
    *
    * PRECONDITION (ADVICE r6): `catCol` must be NON-NULL. A null
    * category is cross-engine poison twice over — Spark's ORDER BY
    * sorts nulls first where DuckDB defaults to nulls last, and the
    * full-outer join null-key semantics would split one null category
    * into two rows on the oracle side. Enforced here: a null category
    * fails loudly (same stance as the empty-side ANSI note) rather
    * than producing engine-dependent output.
    */
  def distributionDrift(a: DataFrame, b: DataFrame, catCol: String): DataFrame = {
    // the null check lives INSIDE the groupBy key (not a dropped helper
    // column, which ColumnPruning would silently optimize away)
    def shares(df: DataFrame, cnt: String): DataFrame =
      df.groupBy(when(col(catCol).isNotNull, col(catCol))
          .otherwise(raise_error(lit(
            s"distributionDrift: null $catCol — categorize or filter upstream")))
          .as(catCol))
        .agg(count(lit(1)).as(cnt))
    val ca = shares(a, "n_a")
    val cb = shares(b, "n_b")
    // the totals are 1-row frames: broadcast cross joins, no shuffle
    val ta = a.agg(count(lit(1)).as("__ta"))
    val tb = b.agg(count(lit(1)).as("__tb"))
    ca.join(cb, Seq(catCol), "full_outer")
      .na.fill(0L, Seq("n_a", "n_b"))
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(col(catCol),
        col("n_a"), col("n_b"),
        expr("n_a * 1000000L div __ta").as("share_a_ppm"),
        expr("n_b * 1000000L div __tb").as("share_b_ppm"))
      .withColumn("delta_ppm",
        abs(col("share_a_ppm") - col("share_b_ppm")))
      .orderBy(catCol)
  }

  /** Skew-resistant two-phase aggregation: salt the hot key space into
    * `saltBuckets` sub-keys (deterministic hash of a distinguishing
    * column, not rand() — reproducible across retries), partially
    * aggregate per (key, salt), then merge per key. Turns one giant
    * reducer for a hot key into `saltBuckets` parallel ones. Counts and
    * decimal sums re-aggregate losslessly.
    */
  def saltedCountSum(df: DataFrame, key: String, valueCol: String,
                     saltCol: String, saltBuckets: Int): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(col(saltCol)), lit(saltBuckets.toLong)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__cnt"), sum(col(valueCol).cast(Dec18_2)).as("__sum"))
      .groupBy(col(key))
      .agg(sum(col("__cnt")).as("cnt"), decSum(col("__sum")).as("sum_value"))
      .orderBy(key)

  /** Skew-mitigated equi-join: replicate the (small) build side once per
    * salt bucket and scatter each probe row to a deterministic bucket, so
    * one hot join key fans out over `saltBuckets` parallel reducers
    * instead of one giant one. The salt derives from `saltCols` (row-
    * identifying columns, NOT the join key — all rows of a hot key must
    * spread, and not via rand(), which breaks retry reproducibility).
    * Result set is row-identical to the plain equi-join; only the
    * physical distribution changes. AQE's skew-join split is the
    * runtime-automatic alternative; this is the explicit form for when
    * the skew is known ahead of time (e.g. a head-heavy key histogram at
    * 100 TB) or AQE is off.
    */
  def saltedEquiJoin(probe: DataFrame, build: DataFrame, probeKey: String,
                     buildKey: String, saltCols: Seq[String],
                     saltBuckets: Int): DataFrame = {
    val salted = probe.withColumn("__salt",
      pmod(xxhash64(saltCols.map(col): _*), lit(saltBuckets.toLong)))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0L), lit(saltBuckets.toLong - 1))))
    salted.join(replicated,
        salted(probeKey) === replicated(buildKey) &&
          salted("__salt") === replicated("__salt"))
      .drop("__salt")
  }

  /** Bloom-prefiltered semi-join — the explicit form of Spark's runtime
    * bloom filter (`InjectRuntimeFilter`): build a Bloom filter over the
    * build side's join keys, prune the probe side with a scan-adjacent
    * codegen'd membership predicate, then exact-verify the survivors with
    * a regular left-semi join. Because a Bloom filter has NO false
    * negatives, prune + exact-verify is row-identical to the plain
    * semi-join — only the physical cost changes: at 100 TB the probe
    * side drops (1 − fpp) of its non-matching rows BEFORE the shuffle,
    * which is the difference between shuffling the full fact table and
    * shuffling roughly the result.
    *
    * The filter itself is `mBits` bits as `mBits/64` longs, built with
    * one map-side-combined aggregation over the build keys and collected
    * to the driver — a BOUNDED collect (8 KiB at the default 2^16 bits,
    * independent of build-side row count) that then ships to executors
    * as an array literal inside the codegen'd predicate, exactly like a
    * broadcast variable but visible in the plan. `numHashes` positions
    * per key come from seeded xxhash64 — engine-internal only (never
    * oracle-replayed: correctness is via the exact verify join, so the
    * hash needs no cross-engine portability).
    */
  def bloomPrefilteredSemiJoin(probe: DataFrame, build: DataFrame,
                               probeKey: String, buildKey: String,
                               mBits: Int = 1 << 16,
                               numHashes: Int = 3): DataFrame =
    // no .distinct() on the build side — a semi-join already has
    // at-most-once match semantics, and the distinct would be one more
    // full shuffle of the build keys
    bloomPrunedProbe(probe, build, probeKey, buildKey, mBits, numHashes)
      .join(build.select(col(buildKey).as(probeKey)), Seq(probeKey), "left_semi")

  /** The prune stage of [[bloomPrefilteredSemiJoin]], exposed separately:
    * probe rows surviving the Bloom membership predicate — a SUPERSET of
    * the true matches (all matches survive; a small fpp of non-matches
    * leaks through). Useful on its own when a downstream exact join
    * happens anyway and only the shuffle volume needs cutting.
    */
  def bloomPrunedProbe(probe: DataFrame, build: DataFrame,
                       probeKey: String, buildKey: String,
                       mBits: Int = 1 << 16,
                       numHashes: Int = 3): DataFrame = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      "mBits must be a power of two and at least one 64-bit word")
    require(numHashes >= 1)
    def positions(key: Column): Seq[Column] =
      (0 until numHashes).map(i => pmod(xxhash64(lit(i), key), lit(mBits.toLong)))
    val bitRows = build
      .select(explode(array(positions(col(buildKey)): _*)).as("pos"))
      .select(expr("CAST(pos DIV 64 AS INT)").as("w"),
        expr("shiftleft(1L, CAST(pos % 64 AS INT))").as("m"))
      .groupBy("w").agg(bit_or(col("m")).as("bits"))
      .collect() // bounded: ≤ mBits/64 rows regardless of build size
    val mask = Array.fill(mBits / 64)(0L)
    bitRows.foreach(r => mask(r.getInt(0)) = r.getLong(1))
    val posCols = positions(col(probeKey)).zipWithIndex
      .map { case (p, i) => p.as(s"__bp$i") }
    val pass = (0 until numHashes).map { i =>
      expr(s"(element_at(__blut, CAST(__bp$i DIV 64 AS INT) + 1) & " +
        s"shiftleft(1L, CAST(__bp$i % 64 AS INT))) != 0L")
    }.reduce(_ && _)
    probe
      .select(col("*") +: typedLit(mask.toSeq).as("__blut") +: posCols: _*)
      .filter(pass)
      .drop("__blut" +: (0 until numHashes).map(i => s"__bp$i"): _*)
  }

  /** E1 — top-N rows per group with a total-order tie-break. */
  def topNPerGroup(df: DataFrame, partCols: Seq[Column], orderCols: Seq[Column],
                   n: Int, rankName: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partCols: _*).orderBy(orderCols: _*)
    df.withColumn(rankName, row_number().over(w)).filter(col(rankName) <= n)
  }

  /** As-of join (the time-series operator Spark lacks natively),
    * composed from existing ops per the §4.2 decision ladder: union both
    * sides, one window pass per key ordered by (ts, side, tie-break),
    * propagate the last right-side payload forward, keep left rows.
    * Linear in |left|+|right| with a single shuffle on the key — unlike
    * the naive range-join which is O(|left|·|right per key|). Ties at
    * equal ts resolve right-before-left (≤ semantics) and
    * max-tie-break-last among right rows.
    *
    * @param rightVals right-side payload columns carried to the output
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               leftId: String, rightTieBreak: String,
               rightVals: Seq[String]): DataFrame =
    asOfImpl(left, right, key, ts, leftId, rightTieBreak, rightVals,
      forward = false)

  /** Forward as-of: each left row matches the EARLIEST right row with
    * `ts` at-or-after its own (next-delivery / next-quote semantics),
    * smallest tie-break on equal timestamps. Same union-window plan as
    * the backward [[asOfJoin]] — one shuffle on the key, never a range
    * join explosion.
    */
  def asOfJoinForward(left: DataFrame, right: DataFrame, key: String,
                      ts: String, leftId: String, rightTieBreak: String,
                      rightVals: Seq[String]): DataFrame =
    asOfImpl(left, right, key, ts, leftId, rightTieBreak, rightVals,
      forward = true)

  private def asOfImpl(left: DataFrame, right: DataFrame, key: String,
                       ts: String, leftId: String, rightTieBreak: String,
                       rightVals: Seq[String], forward: Boolean): DataFrame = {
    // The right payload travels as ONE struct so the whole matched row
    // propagates atomically — per-column last(ignoreNulls) would stitch
    // together values from different right rows when a payload field is
    // null in the latest match.
    val payloadType = StructType(rightVals.map(v => right.schema(v.stripPrefix("`"))))
    val lSide = left.select(
      col(key), col(ts).as("__ts"), lit(1).as("__is_left"),
      lit(null).cast(LongType).as("__tb"), col(leftId).as(leftId),
      lit(null).cast(payloadType).as("__payload"))
    val rSide = right.select(
      col(key), col(ts).as("__ts"), lit(0).as("__is_left"),
      col(rightTieBreak).cast(LongType).as("__tb"),
      lit(null).cast(left.schema(leftId).dataType).as(leftId),
      struct(rightVals.map(col): _*).as("__payload"))
    // Backward: latest right ≤ left — left rows sort AFTER same-ts right
    // rows, the (unboundedPreceding, currentRow) frame reaches back,
    // `last` match. Forward mirrors it by REVERSING the sort instead of
    // the frame: a (currentRow, unboundedFollowing) frame would make
    // Spark rebuild the aggregate from the moving lower bound for every
    // row (O(m²) per key); with __ts descending the same incremental
    // O(m) backward frame sees exactly the rows at-or-after each left
    // row. Same-ts right rows sort before left (eligible), and __tb
    // DESCENDS so `last` — the row closest to the current one — is the
    // earliest-timestamp, smallest-tie-break match.
    val w =
      if (forward)
        Window.partitionBy(key)
          .orderBy(col("__ts").desc, col("__is_left"), col("__tb").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      else
        Window.partitionBy(key)
          .orderBy(col("__ts"), col("__is_left"), col("__tb"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSide.unionByName(rSide)
      .withColumn("__match", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__is_left") === 1)
      .select((col(key) +: col("__ts").as(ts) +: col(leftId) +:
        rightVals.map(v => col(s"__match.$v").as(v))): _*)
  }

  /** Range (band) join: assign each row to the bucket whose
    * [lo, hi) interval contains the value. The bands side is tiny by
    * construction → broadcast nested-loop join, no shuffle of the fact
    * side at any scale.
    */
  def bandJoin(df: DataFrame, bands: DataFrame, valueCol: String): DataFrame =
    df.join(broadcast(bands),
      col(valueCol) >= col("band_lo") && col(valueCol) < col("band_hi"))

  /** D2+D7 — pivot with explicit values (deterministic column order,
    * SURVEY §7.3 H4) and zero-fill of absent cells.
    */
  def pivotCounts(df: DataFrame, rowKey: String, pivotCol: String,
                  values: Seq[String]): DataFrame =
    df.groupBy(rowKey).pivot(pivotCol, values).agg(count(lit(1)))
      .na.fill(0L, values)

  /** 2-D Pareto frontier (skyline): the rows not dominated under
    * (minimize `xCol`, maximize `yCol`) — a point survives iff no row
    * with a strictly smaller x has y ≥ its y. One sorted pass instead of
    * the textbook O(n²) NOT EXISTS: after sorting by x ascending, a row
    * is on the frontier exactly when its y strictly exceeds the running
    * max of all previous rows.
    *
    * Ties in `xCol` are collapsed INTERNALLY to `max(yCol)` before the
    * scan (round 6; previously a scaladoc-only uniqueness contract — a
    * duplicate-x caller got a running max over an arbitrary tie order and
    * a plausible-but-wrong skyline). The output is therefore always at
    * `xCol` grain with columns (xCol, yCol); callers needing other
    * columns join back on the frontier keys. The pre-aggregation is also
    * what makes the shape scale-safe: the single global window sorts only
    * the GROUP-cardinality frame (days, price bands, …), never the raw
    * fact table.
    */
  def paretoFrontier(points: DataFrame, xCol: String, yCol: String): DataFrame = {
    val prev = Window.orderBy(col(xCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    points
      .groupBy(col(xCol))
      .agg(max(col(yCol)).as(yCol))
      .withColumn("_prev_max", max(col(yCol)).over(prev))
      .filter(col("_prev_max").isNull || col(yCol) > col("_prev_max"))
      .drop("_prev_max")
  }

  /** DETERMINISTIC PRIORITY SAMPLING (round 15, wave 4 — Duffield,
    * Lund & Thorup's priority sampling, integer form): per stratum,
    * keep the k rows with the largest effective priority `w/u`, where
    * `u` is the row's pure 60-bit `md5('wsamp:'||key)` uniform draw —
    * rows rank ASCENDING by the exact integer `u div w`, so heavier
    * rows are proportionally more likely to survive, membership is a
    * pure function of the key (partition/retry/epoch invariant, the
    * [[shardAssign]] hash discipline), and re-running with a larger k
    * EXTENDS the sample without reshuffling earlier picks (priorities
    * don't change — the property reservoir sampling lacks).
    *
    * The weight-proportional corpus subsample a data pipeline draws
    * when "sample 1k docs per source, long docs proportionally more
    * often" — and the DLT estimator's selection step, should callers
    * want Horvitz-Thompson totals.
    *
    * Scale shape: one map pass for (u, prio) + a per-stratum top-k
    * window — no sort beyond the stratum partitions, no driver state.
    */
  def prioritySample(rows: DataFrame, keyCol: String, strataCol: String,
                     weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = DedupOps.md5Hash60(
      concat(lit("wsamp:"), col(keyCol).cast(StringType)))
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("prio"), col(keyCol))
    rows
      .withColumn("__u", u)
      // weight 0 rows are unsampleable by definition — fail loudly
      // rather than divide by zero or silently rank them first
      .withColumn("prio", expr(
        s"CASE WHEN $weightCol <= 0L THEN " +
          s"raise_error('prioritySample: non-positive weight') " +
          s"ELSE __u div $weightCol END"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .select(col(strataCol), col("rn"), col(keyCol), col(weightCol),
        col("prio"))
      .orderBy(col(strataCol), col("rn"))
  }

  /** INTERVAL-OVERLAP SELF-JOIN by grid bucketing (round 15, wave 5;
    * re-shaped round 18) — the two-sided-range sibling of [[bandJoin]]:
    * find every pair of intervals `[s_start, s_end]` (inclusive,
    * non-negative longs) that overlap, WITHOUT an inequality-only join.
    *
    * START-CELL PROBE (optimization round 18, guide §3/§2.3): the
    * original form exploded BOTH sides onto every covered cell and
    * self-joined, enumerating Σ_cell n_cell² candidate pairs — each
    * co-resident pair at every shared cell, kept once by a
    * later-start-cell attribution filter. But if two intervals overlap,
    * the LATER start lies inside the other interval, so it suffices to
    * probe each interval's single START cell against the covered-cell
    * relation: candidates fall to Σ_cell starts_cell·cover_cell ≈ one
    * enumeration per truly-overlapping pair plus cell-granularity
    * near-misses (measured at sf0.1: 115 M → 38 M candidate rows for
    * the q_interval_join sessions at the same output). Attribution is
    * exact and needs no `distinct`: the probe side `a` is the
    * later-start interval of the pair (ties to the larger id), its
    * start cell is unique, and the cover side contributes one row per
    * (interval, cell).
    *
    * Scale shape: work is Σ over cells of starts·density — local
    * interval density, never n². Only the COVER side pays the explode
    * factor (interval_length/cellUs + 1); the probe side is one row
    * per interval, so `cellUs` can sit BELOW the typical interval
    * length to tighten candidates, trading cover-side rows for fewer
    * evaluated pairs (a skewed hot cell is an AQE skew-join split, not
    * a plan change). This is how a 100 TB co-occurrence / overlap join
    * runs: grid-partition time, join within cells.
    *
    * Input: one row per interval, columns (iv_id UNIQUE long, s_start,
    * s_end) with `0 <= s_start <= s_end`. Output: (a_id, b_id, ov_us)
    * for `a_id < b_id`, `ov_us = min(ends) − max(starts) >= 0`
    * (touching intervals overlap with ov_us = 0).
    */
  /** [[intervalOverlapPairs]] with the grid cell DERIVED from the
    * interval-length distribution (optimization round 19, VERDICT r18
    * #2): `cellUs = max(1, p50(len) / 2, max(len) / MaxCoverCells)`.
    * Half the median length keeps the cover explode factor ≈ 3 rows per
    * interval while candidate pairs stay near the true overlap count —
    * the measured sf0.1 knee (cell sweep on the q_interval_join
    * sessions, p50 length 2 h: cell 2 h → 4.37 s noop, 1 h → 3.81,
    * 30 min → 4.72, 15 min → 6.50), and the knee TRACKS the
    * distribution instead of a literal tuned on one corpus. The
    * longest-interval term bounds the explode: when most lengths are
    * near zero, the median alone collapses the cell to 1 µs and a long
    * interval's `sequence()` asks for one element per µs (3.6 billion
    * for an hour), however rare such intervals are; with it, EVERY
    * interval covers at most `MaxCoverCells + 1` cells. The price of a
    * single extreme outlier is a coarser cell (more candidate pairs per
    * cell), never an unbounded explode. The output is provably
    * cell-invariant (Round15ePropertySpec), so the derivation is a
    * performance parameter only — the median is approximate (GK sketch;
    * an exact percentile would buffer per-group state linear in
    * distinct lengths at 100 TB) and both statistics ride the SAME job
    * that materializes the base checkpoint (lazy truncation on the
    * local path), costing zero extra actions.
    */
  def intervalOverlapPairs(iv: DataFrame): DataFrame = {
    val base = Lineage.truncateLazy(projectIntervals(iv), None)
    val q = base.agg(
      expr("approx_percentile(s_end - s_start, 0.5)").as("p50"),
      max(col("s_end") - col("s_start")).as("longest"))
      .collect()(0)
    val cellUs =
      if (q.isNullAt(1)) 3600000000L // empty frame: any cell, no pairs
      else math.max(1L, math.max(q.getLong(0) / 2L, q.getLong(1) / MaxCoverCells))
    pairsFromBase(base, cellUs)
  }

  /** Cover cells the derived cell allows the longest interval: bounds
    * the cover side's explode factor for every interval.
    */
  private val MaxCoverCells = 1024L

  def intervalOverlapPairs(iv: DataFrame, cellUs: Long): DataFrame = {
    require(cellUs > 0, s"cellUs must be positive, got $cellUs")
    import graft.operators.Lineage.LineageOps
    val base = projectIntervals(iv)
      .lineageTruncate() // consumed twice: cover side + probe side
    pairsFromBase(base, cellUs)
  }

  private def projectIntervals(iv: DataFrame): DataFrame =
    iv.select(col("iv_id"), col("s_start").cast(LongType).as("s_start"),
      col("s_end").cast(LongType).as("s_end"))

  private def pairsFromBase(base: DataFrame, cellUs: Long): DataFrame = {
    val cover = base
      .withColumn("cell", explode(sequence(
        expr(s"s_start div ${cellUs}L"), expr(s"s_end div ${cellUs}L"))))
      .select(col("iv_id").as("b_id"), col("s_start").as("b_start"),
        col("s_end").as("b_end"), col("cell"))
    // EXPLICIT fan-out partitioning (optimization round 19, guide §2.5):
    // the probe side reads a lineage-truncated leaf whose partition
    // count reflects the INPUT's bytes (AQE-coalesced: ~2 MB at sf0.1 →
    // 1-2 partitions), but the cell equi-join multiplies rows ~400×
    // AFTER that read — measured: the entire candidate enumeration ran
    // in ≤2 tasks regardless of core count (flat 8-vs-32 scaling,
    // SCALE.md round-19 diagnostics). Repartitioning the probe by cell
    // with the session's configured shuffle parallelism spreads the
    // join compute; the explicit N makes the exchange non-coalescible,
    // and N tracks `spark.sql.shuffle.partitions` (deploy-tuned), never
    // a literal. Cost: one exchange of the narrow probe rows (4 longs).
    val probe = base.select(col("iv_id").as("a_id"),
      col("s_start").as("a_start"), col("s_end").as("a_end"),
      expr(s"s_start div ${cellUs}L").as("cell"))
      .repartition(base.sparkSession.sessionState.conf.numShufflePartitions,
        col("cell"))
    probe.join(cover, Seq("cell"))
      // a must be the LATER-start side of the pair (ties to the larger
      // id): exactly one of the two orientations survives, and for that
      // one a's start lies inside b, so a's start cell IS in b's cover
      // set — each overlapping pair is enumerated exactly once
      .filter(col("b_start") < col("a_start") ||
        (col("b_start") === col("a_start") && col("b_id") < col("a_id")))
      // exact overlap check (covering the start cell is necessary, not
      // sufficient); b_start <= a_end holds already via b_start <= a_start
      .filter(col("a_start") <= col("b_end"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        (least(col("a_end"), col("b_end")) - col("a_start")).as("ov_us"))
  }
}
