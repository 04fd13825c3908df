package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequency-sketch operators (SURVEY.md §2 K extensions): count-min —
  * the streaming-frequency sketch every heavy-hitter pipeline carries
  * alongside the membership (bloom) and cardinality (HLL) sketches this
  * engine already ships.
  *
  * Unlike HLL/t-digest (engine-specific internals → rows-only checks),
  * the CMS here is built on the engine-portable [[DedupOps.md5Hash60]]
  * hash, so a DuckDB oracle replays the EXACT counter table and the
  * declared query is hash-checkable end-to-end — a fully verified sketch.
  */
object SketchOps {

  /** (depth, slot) cell coordinates for a key column — one struct per
    * hash row, shared by build and lookup so the two can never drift
    * onto different hash cells.
    */
  private[graft] def cells(keyCol: String, depth: Int, width: Int) =
    array((0 until depth).map { d =>
      struct(lit(d).as("d"),
        pmod(DedupOps.md5Hash60(concat(lit(s"$d:"), col(keyCol))),
          lit(width.toLong)).as("slot"))
    }: _*)

  /** Build a count-min sketch over `rows[keyCol]`: counter table
    * (d, slot, cnt) with depth·width cells. ONE map-side-combined
    * groupBy whose key space is bounded by depth·width — at 100 TB the
    * shuffle carries at most depth·width rows per map task regardless of
    * corpus size, which is the whole point of sketching the frequency
    * table instead of materializing it.
    */
  def cmsBuild(rows: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 1)
    rows.select(explode(cells(keyCol, depth, width)).as("ds"))
      .groupBy(col("ds.d").as("d"), col("ds.slot").as("slot"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** HyperLogLog REGISTER TABLE on the engine-portable hash: register
    * index = h mod m, rho = leading-zero count of the remaining hash
    * bits + 1, table = max rho per register — the exact sketch state a
    * cardinality estimator consumes. Built WITHOUT a distinct() pass:
    * max-rho is idempotent under duplicate keys (every occurrence of a
    * key lands the same (register, rho)), so the plan is one map pass +
    * an m-key map-side-combined groupBy — no vocabulary shuffle, which
    * is exactly why HLL state (unlike a distinct count) merges across
    * streams/partitions for free.
    *
    * The cross-engine rho trick: both Spark and DuckDB `bin()` render a
    * BIGINT without leading zeros, so rho = (width+1) − length(ltrim
    * (bin(bits), '0')) — pure string/integer ops, no log2/clz, and
    * ltrim makes the bits=0 edge (bin = "0" → length 0 → maximal rho)
    * fall out of the same formula. This gives the repo's second fully
    * hash-checked sketch state (after the CMS counter table); the
    * built-in `approx_count_distinct` stays the production estimator,
    * this is its verifiable portable twin.
    */
  def hllRegisters(rows: DataFrame, keyCol: String, m: Int): DataFrame =
    rows.select(hllRegRho(keyCol, m): _*)
      .groupBy("register").agg(max(col("rho")).as("max_rho"))
      .orderBy("register")

  /** The (register, rho) projection of one key — shared by every HLL
    * register build, the same can-never-drift contract as [[cells]] for
    * the CMS.
    */
  private[graft] def hllRegRho(keyCol: String, m: Int): Seq[org.apache.spark.sql.Column] = {
    require(m >= 2 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    val logm = Integer.numberOfTrailingZeros(m)
    val h = DedupOps.md5Hash60(col(keyCol))
    Seq(pmod(h, lit(m.toLong)).as("register"),
      (lit((60 - logm + 1).toLong) -
        length(ltrim(bin(shiftright(h, logm)), "0"))).as("rho"))
  }

  /** HLL CARDINALITY ESTIMATE from a [[hllRegisters]] table — the
    * classic Flajolet–Martin harmonic-mean estimator plus the
    * linear-counting small-range correction, computed so that BOTH
    * engines (this and a DuckDB oracle) produce bit-identical float64:
    *
    *  - The harmonic sum Σ 2^−rho is scaled to the INTEGER
    *    S = Σ 2^(P−rho) with P = 61−log2(m) (= max rho, so every term
    *    is an exact int64 power of two); absent registers contribute
    *    2^P each (rho = 0). S ≤ m·2^P = 2^61 < 2^63 — no overflow.
    *  - est_raw = α_m·m²·2^P / S: the numerator is EXACT in double
    *    (α_m's nearest-double scaled by powers of two only), S→double
    *    is one correctly-rounded conversion, the division one
    *    correctly-rounded op — both engines land on the same bits.
    *  - Small range (est_raw ≤ 2.5m, V = zero registers > 0): linear
    *    counting m·ln(m/V). ln is libm — 1-ulp engine drift — so the
    *    m possible values are a PRECOMPUTED double lookup table, and
    *    the oracle embeds the same literals (Double.toString
    *    round-trips exactly). No arithmetic happens on the ln output.
    *  - The paper's large-range correction handles 32-bit hash
    *    saturation; this sketch hashes into 60 bits, where collision
    *    mass at any feasible cardinality is negligible — skipped.
    *
    * α constants per the original paper: 0.673 (m=16), 0.697 (32),
    * 0.709 (64), 0.7213/(1+1.079/m) beyond. `approx_count_distinct`
    * remains the production estimator; this is its end-to-end
    * verifiable portable twin (VERDICT r6 #3).
    */
  def hllEstimate(registers: DataFrame, m: Int): DataFrame = {
    require(m >= 16 && (m & (m - 1)) == 0, s"m must be a power of two >= 16, got $m")
    val logm = Integer.numberOfTrailingZeros(m)
    val p = 61 - logm
    val num = hllAlpha(m) * m.toDouble * m.toDouble * math.pow(2.0, p)
    val lut = hllLinearCountLut(m)
    registers
      .agg(
        coalesce(sum(expr(s"shiftleft(1L, cast($p - max_rho as int))")),
          lit(0L)).as("s_obs"),
        count(lit(1)).as("n_obs"))
      .select(
        (col("s_obs") + (lit(m.toLong) - col("n_obs")) * lit(1L << p)).as("s_scaled"),
        (lit(m.toLong) - col("n_obs")).as("v"))
      .withColumn("est_raw", lit(num) / col("s_scaled").cast("double"))
      .withColumn("est",
        when(col("est_raw") <= lit(2.5 * m) && col("v") > 0,
          element_at(array(lut.map(lit): _*), col("v").cast("int")))
          .otherwise(col("est_raw")))
  }

  /** α_m of the original HLL paper (shared with the oracle generator). */
  private[graft] def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** Linear-counting values m·ln(m/V), V = 1..m — the small-range
    * estimates, 1-indexed by zero-register count (shared with the
    * oracle generator so engine and oracle embed the SAME doubles).
    */
  private[graft] def hllLinearCountLut(m: Int): Seq[Double] =
    (1 to m).map(v => m.toDouble * math.log(m.toDouble / v))

  /** GROUPED HLL register tables: one m-register sketch PER group —
    * the 100 TB shape for `GROUP BY x, COUNT(DISTINCT y)`: instead of
    * shuffling every distinct (x, y) pair (the exact plan's
    * vocabulary-sized exchange), the map side folds each group's keys
    * into m max-rho cells, so the shuffle carries ≤ |groups|·m rows
    * whatever the key cardinality. Same portable [[hllRegRho]] cells as
    * the global sketch — and each group's slice of this table IS a
    * valid [[hllRegisters]] table: it feeds [[hllMerge]] (per-shard
    * group sketches combine) and [[hllEstimateBy]] unchanged.
    */
  def hllRegistersBy(rows: DataFrame, groupCol: String, keyCol: String,
                     m: Int): DataFrame =
    rows.select(col(groupCol) +: hllRegRho(keyCol, m): _*)
      .groupBy(groupCol, "register").agg(max(col("rho")).as("max_rho"))
      .orderBy(groupCol, "register")

  /** Per-group HLL estimates from a [[hllRegistersBy]] table — the same
    * bit-deterministic estimator as [[hllEstimate]] (integer-scaled
    * harmonic sum, exact-double numerator, precomputed linear-counting
    * LUT), one row per group. Cost is |groups|·m cells in, |groups|
    * rows out — corpus size never appears.
    */
  def hllEstimateBy(registers: DataFrame, groupCol: String, m: Int): DataFrame = {
    require(m >= 16 && (m & (m - 1)) == 0, s"m must be a power of two >= 16, got $m")
    val logm = Integer.numberOfTrailingZeros(m)
    val p = 61 - logm
    val num = hllAlpha(m) * m.toDouble * m.toDouble * math.pow(2.0, p)
    val lut = hllLinearCountLut(m)
    registers
      .groupBy(groupCol)
      .agg(
        coalesce(sum(expr(s"shiftleft(1L, cast($p - max_rho as int))")),
          lit(0L)).as("s_obs"),
        count(lit(1)).as("n_obs"))
      .select(col(groupCol),
        (col("s_obs") + (lit(m.toLong) - col("n_obs")) * lit(1L << p)).as("s_scaled"),
        (lit(m.toLong) - col("n_obs")).as("v"))
      .withColumn("est_raw", lit(num) / col("s_scaled").cast("double"))
      .withColumn("est",
        when(col("est_raw") <= lit(2.5 * m) && col("v") > 0,
          element_at(array(lut.map(lit): _*), col("v").cast("int")))
          .otherwise(col("est_raw")))
      .orderBy(groupCol)
  }

  /** ROLLING-window merge of a [[hllRegistersBy]] table keyed by an
    * integer day: for every day present, the max-rho union of the
    * trailing `windowDays` days' registers — the WAU/MAU shape (7-day
    * rolling distinct users) computed entirely from per-day sketches.
    * An exact rolling COUNT(DISTINCT) must re-touch every (day, uid)
    * pair per window; the sketch path re-touches only |days|·m cells,
    * and the per-day register table is built ONCE however many window
    * sizes read it.
    *
    * The day-range join is |days|·m cells against a |days|-row
    * calendar frame (broadcast) — bounded by the calendar, never by
    * event volume.
    */
  def hllRollingRegisters(registers: DataFrame, windowDays: Int): DataFrame = {
    require(windowDays >= 1)
    require(registers.columns.contains("day"),
      "hllRollingRegisters needs a registersBy table grouped as 'day' " +
        s"(integer epoch day); got columns ${registers.columns.mkString(",")}")
    val days = registers.select(col("day").as("w_day")).distinct()
    registers
      .join(broadcast(days),
        col("day") >= col("w_day") - (windowDays - 1) &&
          col("day") <= col("w_day"))
      .groupBy(col("w_day").as("day"), col("register"))
      .agg(max(col("max_rho")).as("max_rho"))
  }

  /** Merge HLL register tables built with the SAME m: registers take the
    * max (tested merge(A,B) ≡ build(A ∪ B)).
    */
  def hllMerge(sketches: DataFrame*): DataFrame =
    sketches.reduce(_ unionByName _)
      .groupBy("register").agg(max(col("max_rho")).as("max_rho"))
      .orderBy("register")

  /** Point-query the sketch for every row of `keys` (which must carry
    * `keyCol`; other columns ride along): est_cnt = min over the depth
    * rows of the key's counter, the classic CMS estimate — an upper
    * bound on the true count, exact when no colliding key shares all
    * probed cells. The counter table is depth·width rows → broadcast;
    * keys never shuffle beyond their own grouping.
    */
  def cmsLookup(cms: DataFrame, keys: DataFrame, keyCol: String,
                depth: Int, width: Int): DataFrame = {
    val keyCols = keys.columns.toSeq
    val probes = keys
      .select(keyCols.map(col) :+ explode(cells(keyCol, depth, width)).as("ds"): _*)
      .select(keyCols.map(col) :+ col("ds.d").as("d") :+ col("ds.slot").as("slot"): _*)
    probes.join(broadcast(cms), Seq("d", "slot"), "left")
      .groupBy(keyCols.map(col): _*)
      // an absent cell is a zero counter (key never seen): coalesce
      // BEFORE the min so unseen keys estimate 0, not null
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }
}
