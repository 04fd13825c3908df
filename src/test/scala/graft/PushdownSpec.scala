package graft

import org.apache.spark.sql.functions._

/** Executable plan evidence for the scan-efficiency claims in SCALE.md:
  * filters reach the parquet scan (`PushedFilters`), projections prune
  * the read schema (`ReadSchema`), and small dimension sides broadcast.
  * These run against real declared queries, not synthetic frames, so a
  * regression in a query's plan shape fails the suite.
  */
class PushdownSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String =
    Queries.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q_filter_eq pushes the equality predicate into the parquet scan") {
    val plan = executedPlan("q_filter_eq")
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(l_returnflag,R)"),
      s"expected pushed l_returnflag filter:\n$plan")
  }

  test("q_scan_limit prunes the read schema to the projected columns") {
    val plan = executedPlan("q_scan_limit")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_returnflag"))
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      s"scan reads more columns than projected: $readSchema")
  }

  test("q_join_3way broadcasts the dimension sides") {
    val plan = executedPlan("q_join_3way")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast joins for customer/nation dims:\n$plan")
  }

  test("q_topk compiles to TakeOrderedAndProject (never a full sort)") {
    val plan = executedPlan("q_topk")
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("q_decontaminate broadcasts the benchmark shingle side") {
    val plan = executedPlan("q_decontaminate")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("q_filter_range pushes both timestamp bounds to the scan") {
    val plan = executedPlan("q_filter_range")
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate"), s"pushed: $pushed")
  }

  test("q_sql_q3 broadcasts the filtered customer dim and pushes the segment filter") {
    val plan = executedPlan("q_sql_q3")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"expected segment filter pushed to the customer scan:\n$plan")
  }

  test("q_chunk_windows plans no exchange before the output sort") {
    // chunking must be a pure map pass: posexplode over a projection;
    // the ONLY exchange allowed is the final total-order sort's range
    // partitioning
    val plan = executedPlan("q_chunk_windows")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"non-sort exchange in a map-only plan:\n${exchanges.mkString("\n")}")
  }

  test("saltedEquiJoin spreads a key over saltBuckets partitions of the shuffle") {
    // the physical join key must include the salt: grep the plan for the
    // composite condition (salt column on both sides)
    val plan = Queries.queries("q_skew_join_salted")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt column missing from the plan:\n$plan")
  }

  test("q_simsearch_fast streams the corpus map-side (broadcast query side, no explode)") {
    val plan = executedPlan("q_simsearch_fast")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast query side:\n$plan")
    assert(!plan.contains("Generate"), // posexplode would appear as Generate
      s"fast path must not explode embedding positions:\n$plan")
  }

  test("q_simsearch_quantized keeps the broadcast fast-path shape (no explode)") {
    val plan = executedPlan("q_simsearch_quantized")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast probe side:\n$plan")
    assert(!plan.contains("Generate"),
      s"quantized path must not explode embedding positions:\n$plan")
  }

  test("q_anonymize_rare counts combos map-side and plans no full-table window") {
    val plan = executedPlan("q_anonymize_rare")
    assert(plan.contains("partial_count"),
      s"combo count must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("Window"),
      s"suppression must ride the count join, not a full-table window:\n$plan")
  }

  test("q_join_asof_fwd never plans an unbounded-following frame (O(m^2)/key)") {
    // the forward as-of mirrors the backward plan by reversing the SORT;
    // a (currentRow, unboundedFollowing) frame makes Spark rebuild the
    // aggregate from the moving lower bound for every row
    val plan = executedPlan("q_join_asof_fwd").toLowerCase
    assert(!plan.contains("unboundedfollowing"), "unbounded-following frame crept back in")
    assert(plan.contains("unboundedpreceding"), "expected the incremental backward frame")
  }

  test("q_sql_in decorrelates NOT IN to an anti join (no nested-loop per row)") {
    val plan = executedPlan("q_sql_in")
    assert(plan.contains("LeftAnti"), s"expected anti-join decorrelation:\n$plan")
  }

  test("q_oov_rate broadcasts the vocabulary back to the token stream") {
    // the corpus-sized token frame must never shuffle on `word`: the
    // ≤vocabSize vocab side broadcasts into the left join
    val plan = executedPlan("q_oov_rate")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("q_pack_sequences reuses the window shuffle for the bin rollup") {
    // one hash exchange for the (source, shard) prefix-sum window; the
    // groupBy(source, shard, bin) is satisfied by that partitioning
    // (subset-key clustering), so the only OTHER exchange is the final
    // sort's range partitioning
    val plan = executedPlan("q_pack_sequences")
    val hashEx = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1,
      s"expected exactly one hash exchange (window), got:\n${hashEx.mkString("\n")}")
  }

  test("q_boilerplate broadcasts the df-filtered hot-gram set") {
    val plan = executedPlan("q_boilerplate")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("q_map_funcs stays map-only until the output sort") {
    val plan = executedPlan("q_map_funcs")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"non-sort exchange in a pure projection:\n${exchanges.mkString("\n")}")
  }

  test("q_cross_join broadcasts the 5-row side of the cartesian product") {
    val plan = executedPlan("q_cross_join")
    assert(plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
  }

  test("q_neardup_jaccard declares no non-equi self-join on an unbounded side") {
    // the declared plan must be the inverted-index shape: candidate
    // pairs come from an EQUI-join on the word (a_id < b_id is only a
    // post-join filter). An all-pairs plan over the %10 corpus slice
    // would surface as a cartesian / nested-loop join and is O(n²) at
    // scale; the dense kernel is reserved for bounded candidate sets.
    val plan = executedPlan("q_neardup_jaccard")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi self-join in the declared jaccard plan:\n$plan")
  }

  test("q_regr partial-aggregates the moment sums map-side") {
    val plan = executedPlan("q_regr")
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final aggregation:\n$plan")
  }

  test("q_repetition is one tokenization in one map pass (no shuffle aggregation)") {
    // Round-5 rewrite: every repetition statistic is per-document, so the
    // whole query is array expressions over ONE split — no explode, no
    // wordcount shuffle. A reappearing HashAggregate or a second split(
    // means the scan-heavy two-pass shape regressed.
    val plan = executedPlan("q_repetition")
    val splits = "split\\(".r.findAllIn(plan).size
    assert(splits == 1, s"expected exactly one tokenization, got $splits:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"per-document stats must not shuffle-aggregate:\n$plan")
    // the ≥2-token row filter reaches the scan as a CHEAP string
    // predicate, not a re-derived size(split(…))
    assert(plan.contains("PushedFilters") && plan.contains("StringContains(text, )"),
      s"expected the instr-form filter pushed to the scan:\n$plan")
  }

  test("q_decontaminate tokenizes each side exactly once") {
    // the size<n guard is a null-producing `when` (explode drops nulls),
    // so predicate pushdown has no Filter to re-inline split( into — one
    // tokenization for the corpus side, one for the broadcast benchmark
    val plan = executedPlan("q_decontaminate")
    val splits = "split\\(".r.findAllIn(plan).size
    assert(splits == 2, s"expected one split per side, got $splits:\n$plan")
  }

  test("q_decontaminate shingles each side in one fused kernel, no lambdas") {
    // the n-gram join + hash is SortedHashedSet at width 3 — an
    // interpreted transform(concat_ws(slice(…))) / xxhash64 lambda chain
    // would show as transform( / lambdafunction in the executed plan
    val plan = executedPlan("q_decontaminate")
    val kernels = "sorted_hashed_set\\(".r.findAllIn(plan).size
    assert(kernels == 2, s"expected one sorted_hashed_set per side, got $kernels:\n$plan")
    assert(!plan.contains("transform(") && !plan.contains("lambdafunction"),
      s"interpreted lambda left in the shingle path:\n$plan")
  }

  test("q_cooccur tokenizes once and takes top-N without a full sort") {
    // pair fan-out must be the array-slice map pass over ONE projected
    // token array — a second split( would mean the fan-out re-tokenizes;
    // a Sort would mean the vocabulary²-bounded count frame is fully
    // sorted instead of TakeOrderedAndProject'd
    val plan = executedPlan("q_cooccur")
    val splits = "split\\(".r.findAllIn(plan).size
    assert(splits == 1, s"expected exactly one tokenization, got $splits:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"pair fan-out must not be a self-join:\n$plan")
  }

  test("q_bloom_join plans the bloom membership filter before the semi-join") {
    val plan = executedPlan("q_bloom_join")
    assert(plan.contains("shiftleft"),
      s"expected the bloom bit-test predicate in the probe scan stage:\n$plan")
    assert(plan.contains("LeftSemi"), s"plan:\n$plan")
    // the bit test must sit BELOW the join in the plan tree — i.e. the
    // filter line appears after (deeper than) the first join line in the
    // printed plan only if it's on the build side; cheaper and robust:
    // assert the filtered probe feeds the join by checking the filter
    // exists at all plus the join is broadcast (build side = 10% of
    // orders, far under the threshold)
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("q_containment_prefix probes the sliced rarity prefix, not a full self-join") {
    // the bounded containment plan: candidate generation joins the
    // PREFIX relation (a slice of each doc's rarest tokens) against the
    // inverted index — a full index-vs-index join (q_containment's
    // declared oracle-parity shape) is quadratic in hot-token df and must
    // not appear here; verification is the codegen'd merge walk
    val plan = executedPlan("q_containment_prefix")
    assert(plan.contains("slice("),
      s"prefix slice missing — candidate side is unbounded:\n$plan")
    assert(plan.contains("sorted_intersect_count"),
      s"expected the codegen'd merge-walk verify:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join crept into the prefix plan:\n$plan")
  }

  test("q_cms_counts broadcasts the depth×width counter table") {
    // the sketch's point is that the counter table is BOUNDED (2×16
    // cells): lookups must broadcast it, never shuffle the probe side
    // on (d, slot)
    val plan = executedPlan("q_cms_counts")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("q_tfidf_cosine pairs via the word equi-join, df broadcast back") {
    // pair generation must be the inverted-index shape (equi-join on
    // word) and the vocabulary-bounded df table must broadcast — a
    // cartesian/BNLJ pairing is the O(n²) shape this operator exists to
    // avoid
    val plan = executedPlan("q_tfidf_cosine")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi pairing in the tfidf-cosine plan:\n$plan")
  }

  test("q_sql_q18 decorrelates the HAVING subquery to a semi-join and top-Ks the limit") {
    // IN (SELECT … GROUP BY … HAVING …) must become a semi-join against
    // the aggregated frame — a per-row subquery re-execution would be
    // O(rows × groups); the LIMIT 100 with a unique total order must be
    // TakeOrderedAndProject, never a full sort
    val plan = executedPlan("q_sql_q18")
    assert(plan.contains("LeftSemi"), s"expected semi-join decorrelation:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("q_tfidf_cosine_prefix verifies with the codegen'd merge walk, no cartesian") {
    // candidate generation joins the suffix-norm-bounded prefix relation
    // against the index; verification must be the sorted_kw_dot kernel —
    // a reappearing full pairwise groupBy-sum or a cartesian means the
    // bounded plan regressed to the oracle-parity shape
    val plan = executedPlan("q_tfidf_cosine_prefix")
    assert(plan.contains("sorted_kw_dot"), s"merge-walk verify missing:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi pairing in the prefix plan:\n$plan")
  }

  test("q_temperature_sample broadcasts the computed rate frame") {
    // the language-cardinality rate frame must broadcast into the
    // membership filter — shuffling the corpus on lang to meet a
    // dozen-row rates table would be the wrong plan at any scale
    val plan = executedPlan("q_temperature_sample")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("q_zscore_outliers broadcasts the moments frame and plans no window") {
    // group-cardinality moments (≤ #event_types rows) must broadcast back;
    // a Window here would mean per-row state sorted per group — the shape
    // that collapses on a hot group at 100 TB
    val plan = executedPlan("q_zscore_outliers")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Window "),
      s"z-score must not window over the events:\n$plan")
  }

  test("q_sql_q17 decorrelates the scalar-avg subquery into an aggregate join") {
    // the correlated per-part average must become ONE aggregate over
    // lineitem joined back — a per-row subquery re-scan is O(rows ×
    // parts); after decorrelation no subquery node survives in the
    // physical plan
    val plan = executedPlan("q_sql_q17")
    assert(!plan.contains("Subquery"),
      s"correlated scalar subquery not decorrelated:\n$plan")
    assert(plan.contains("HashAggregate"), s"plan:\n$plan")
  }

  test("q_sql_q21 plans the EXISTS/NOT-EXISTS double as semi + anti joins") {
    // both correlated quantifiers over lineitem must decorrelate: the
    // EXISTS to a LeftSemi, the NOT EXISTS to a LeftAnti — nested
    // re-scans per outer row are the O(rows × orders) failure shape
    val plan = executedPlan("q_sql_q21")
    assert(plan.contains("LeftSemi"), s"expected semi-join:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected anti-join:\n$plan")
  }

  test("q_sql_q7 broadcasts both nation aliases, no cartesian pairing") {
    // nation appears twice (supplier's and customer's) — both must be
    // broadcast dims; the symmetric OR pair predicate must ride the
    // equi-joins as a residual filter, never force a cartesian
    val plan = executedPlan("q_sql_q7")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"nation pair predicate degraded to a non-equi join:\n$plan")
  }

  test("q_sql_q12 does the CASE split in one pass over one lineitem scan") {
    // both priority counters must come from ONE aggregate over ONE
    // lineitem⋈orders join — a plan scanning lineitem twice (one per
    // CASE arm) doubles the 100 TB read
    val plan = executedPlan("q_sql_q12")
    val lineitemScans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans == 1,
      s"expected exactly one lineitem scan, got $lineitemScans:\n$plan")
    assert(plan.contains("HashAggregate"), s"plan:\n$plan")
  }

  test("q_sql_q8 computes the share ratio in one pass, dimensions broadcast") {
    // numerator and denominator must come from ONE aggregate over ONE
    // lineitem scan (the CASE split), with region/nation/supplier/part
    // broadcast — a second scan or a shuffled dim doubles the 100 TB
    // read for a ratio
    val plan = executedPlan("q_sql_q8")
    val lineitemScans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans == 1,
      s"expected exactly one lineitem scan, got $lineitemScans:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("q_sql_q13 keeps the ON-filtered join LEFT OUTER") {
    // the priority predicate lives in the LEFT JOIN's ON clause; if a
    // rewrite (or a future edit moving it to WHERE) turns the join
    // inner, zero-order customers silently drop from the distribution
    val plan = executedPlan("q_sql_q13")
    assert(plan.contains("LeftOuter"),
      s"outer join lost — zero-order customers would drop:\n$plan")
  }

  test("q_sql_q22 decorrelates NOT EXISTS to an anti-join, scalar avg computed once") {
    // the correlated NOT EXISTS must plan as a LeftAnti against the
    // date-filtered orders (never a per-customer re-scan); the
    // uncorrelated average is a one-row subquery evaluated once —
    // ReusedSubquery/Subquery nodes are fine, correlation is not
    val plan = executedPlan("q_sql_q22")
    assert(plan.contains("LeftAnti"), s"expected anti-join:\n$plan")
    assert(plan.contains("Subquery") || plan.contains("scalar-subquery"),
      s"expected the uncorrelated scalar average subquery:\n$plan")
  }

  test("q_sql_q15 evaluates the scalar MAX once, date bounds pushed to the scan") {
    // the MAX side must be a one-row subquery over the revenue
    // aggregate evaluated once (a per-row re-aggregation is O(rows ×
    // suppliers)); the quarter bounds must reach the lineitem scan
    val plan = executedPlan("q_sql_q15")
    assert(plan.contains("Subquery") || plan.contains("scalar-subquery"),
      s"expected the scalar MAX subquery:\n$plan")
    // several scans carry PushedFilters (supplier first) — assert on
    // the lineitem one specifically
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushed.exists(l => l.contains("GreaterThanOrEqual(l_shipdate") &&
      l.contains("LessThan(l_shipdate")),
      s"quarter bounds not pushed to the lineitem scan:\n${pushed.mkString("\n")}")
  }

  test("q_semdedup_buckets pairs via the bucket equi-join, probes broadcast") {
    // the whole point of the bucketed plan: the probe fan-out is a
    // BROADCAST of the 4-row probe frame (a BNLJ with the tiny side
    // broadcast — the q_cross_join shape), while the PAIR stage is an
    // equi-join on bucket — a cartesian pair stage is what the buckets
    // exist to avoid
    val plan = executedPlan("q_semdedup_buckets")
    assert(plan.contains("BroadcastExchange"), s"probes not broadcast:\n$plan")
    assert(plan.contains("Join [bucket"),
      s"pair stage is not the bucket equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"unbroadcast all-pairs join in the bucketed plan:\n$plan")
  }

  test("q_decontaminate_fuzzy broadcasts the benchmark side of the word join") {
    // the eval suite is small by construction; the corpus-side inverted
    // index must stream through a broadcast join against it — shuffling
    // the corpus to meet a benchmark would invert the scale asymmetry
    val plan = executedPlan("q_decontaminate_fuzzy")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
  }

  test("q_winsorize broadcasts the per-type bounds frame back over one scan") {
    // the bounds frame is #event_types rows — it must broadcast; the
    // cume_dist window runs on the BOUNDS derivation only (external
    // sort, spillable), never a second pass over the joined events
    val plan = executedPlan("q_winsorize")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("q_sql_q5 broadcasts the dimension tables, top-level shuffle is the fact agg") {
    // region/nation/supplier are dimension-sized: the star must plan
    // them as broadcast builds — shuffling lineitem to meet a 5-row
    // region is the anti-pattern
    val plan = executedPlan("q_sql_q5")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("q_sql_q10 top-Ks the limit instead of a full sort") {
    val plan = executedPlan("q_sql_q10")
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("q_hll_daily_users never shuffles raw user ids") {
    // the grouped sketch's point: the exchange carries (day, register)
    // cells — ≤ |days|·64 rows — not the distinct (day, uid) pairs an
    // exact COUNT(DISTINCT) plan would shuffle
    val plan = executedPlan("q_hll_daily_users")
    val shuffleLines = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffleLines.nonEmpty && shuffleLines.forall(!_.contains("uid")),
      s"a shuffle carries raw uids:\n${shuffleLines.mkString("\n")}")
  }

  test("q_sql_q6 pushes every predicate to the parquet scan") {
    // the pure scan-filter-agg: the date range must reach the scan as
    // PushedFilters — a post-scan filter on the full table is the
    // difference between reading a partition and reading 100 TB
    val plan = executedPlan("q_sql_q6")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate bounds not pushed:\n$plan")
  }

  test("q_sql_q4 decorrelates EXISTS to a semi-join") {
    val plan = executedPlan("q_sql_q4")
    assert(plan.contains("LeftSemi"), s"plan:\n$plan")
  }

  test("q_centroid_assign broadcasts the centroid table") {
    // |labels|·dim rows of prototypes must broadcast into the position
    // join — shuffling the exploded corpus to meet 640 rows is the
    // anti-pattern
    val plan = executedPlan("q_centroid_assign")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("q_vec_quantize stays map-only until the output sort") {
    // quantization is per-row array folds — no explode, no join, no
    // aggregation; the ONLY exchange allowed is the final total-order
    // sort's range partitioning
    val plan = executedPlan("q_vec_quantize")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"non-sort exchange in a map-only quantization plan:\n${exchanges.mkString("\n")}")
    assert(!plan.contains("Generate"),
      s"quantization must fold arrays, not explode them:\n$plan")
  }

  test("q_token_budget shuffles the scored counts on source exactly once") {
    // one hash exchange for the per-source budget window — the scoring
    // projection (and the text column with it) is consumed BELOW the
    // exchange, so only (source, id, counts) tuples shuffle
    val plan = executedPlan("q_token_budget")
    val hashEx = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1,
      s"expected exactly one hash exchange (source window):\n${hashEx.mkString("\n")}")
  }

  test("q_shard_assign is one hash exchange (the per-shard position sort)") {
    val plan = executedPlan("q_shard_assign")
    val hashEx = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1,
      s"expected exactly one hash exchange (shard window):\n${hashEx.mkString("\n")}")
  }

  test("q_dup_matrix pairs via the fingerprint equi-join, never all-pairs") {
    // pair generation must be the md5 equi-join (quadratic only within
    // an identical-content group) — a cartesian/BNLJ would be O(n²) in
    // the corpus, the exact failure mode the fingerprint key avoids
    val plan = executedPlan("q_dup_matrix")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi pairing in the dup-matrix plan:\n$plan")
    assert(plan.contains("md5"), s"fingerprint key missing:\n$plan")
  }

  test("q_kcore peels via semi-joins against the survivor set") {
    // each round must filter the edge list with hash semi-joins on the
    // |V|-bounded survivor frame — an inner join would duplicate edges
    // whose endpoints both survive, corrupting the next round's degrees
    val plan = executedPlan("q_kcore")
    assert(plan.contains("LeftSemi"), s"plan:\n$plan")
  }

  /** AQE finalized-plan string: AdaptiveSparkPlanExec.toString prints
    * BOTH Final and Initial plans (double-counting node asserts) — take
    * the executed subtree only.
    */
  private def finalPlanString(
      df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
  }

  test("q_zorder_scan pushes both range predicates to the z-ordered scan (r10)") {
    // the read-back query's whole point: a two-dimensional range filter
    // against the Morton-clustered copy must reach the parquet scan on
    // BOTH dimensions so file min/max stats can prune (metadata strings
    // truncate at 100 chars by default — widen for the assert)
    val prevLen = spark.conf.get("spark.sql.maxMetadataStringLength")
    try {
      spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
      val plan = finalPlanString(Queries.queries("q_zorder_scan")(spark, dir))
      val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
      assert(pushed.contains("GreaterThanOrEqual(user_id,3") &&
        pushed.contains("LessThanOrEqual(user_id,9") &&
        pushed.contains("GreaterThanOrEqual(value,20.0") &&
        pushed.contains("LessThan(value,200.0"),
        s"expected both z-dimensions' range bounds pushed: $pushed")
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prevLen)
  }

  test("q_bucketed_join joins bucketed scans with no join-input Exchange (r10)") {
    // the declared read-back must actually consume the bucketed layout —
    // broadcast is disabled so the assert proves co-location, exactly
    // like BucketedJoinSpec (at sf0.001 Spark otherwise broadcasts the
    // small side and rightly skips the bucketed scan it doesn't need)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = finalPlanString(Queries.queries("q_bucketed_join")(spark, dir))
      assert("Bucketed: true".r.findAllIn(plan).size == 2,
        s"expected both sides read as bucketed scans:\n$plan")
      // the only exchanges are ABOVE the join: the o_orderstatus agg
      // and the output sort — the join inputs themselves are co-located
      assert("Exchange".r.findAllIn(plan).size <= 2 &&
        !plan.contains("Exchange hashpartitioning(o_orderkey") &&
        !plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"join-input shuffle crept into the bucketed read-back:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("q_dedup_tokens_saved shuffles fingerprints, never text or all-pairs (r10)") {
    // the (id, source, fp, count) relation is lineage-truncated once
    // for its two consumers (group-min + join probe), so the executed
    // plan reads the truncated tuples — the md5/tokenize pass ran
    // exactly once, inside the truncation, and text appears nowhere
    val plan = finalPlanString(Queries.queries("q_dedup_tokens_saved")(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi pairing in the dedup-ROI plan:\n$plan")
    // every hash shuffle must be keyed on the 16-byte fingerprint or
    // the source rollup key — a text-keyed exchange would mean bodies
    // shuffle, the exact cost the fingerprint exists to avoid
    val hashEx = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.nonEmpty &&
      hashEx.forall(l => l.contains("__fp") || l.contains("source")),
      s"unexpected shuffle key in:\n${hashEx.mkString("\n")}")
    assert(!plan.contains("text#"),
      s"document text leaked past the truncation:\n$plan")
  }

  test("q_mixture_epochs aggregates to source grain before any shuffle (r10)") {
    val plan = finalPlanString(Queries.queries("q_mixture_epochs")(spark, dir))
    // the token supply is map-side combined to |sources| rows: every
    // hash exchange is keyed on source — document text is consumed
    // below the first exchange and never shuffles
    val hashEx = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.nonEmpty && hashEx.forall(_.contains("source")),
      s"unexpected shuffle key in:\n${hashEx.mkString("\n")}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
  }

  test("q_dsir_weights joins the posterior table broadcast, text never shuffles (r10)") {
    val plan = finalPlanString(Queries.queries("q_dsir_weights")(spark, dir))
    // the 2^k posterior table joins back into the token stream
    // broadcast — a shuffled join here would repartition the whole
    // corpus's token stream on bucket id (1024 skewed keys)
    assert(plan.contains("BroadcastHashJoin"),
      s"posterior join must broadcast:\n$plan")
    // every hash exchange is a BOUNDED rollup keyed on the bucket id or
    // doc id (text is tokenized MAP-SIDE, below the partial aggregates
    // whose (key, counts) outputs are all that shuffles — a text-keyed
    // exchange would mean bodies move)
    val hashEx = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.nonEmpty &&
      hashEx.forall(l => l.contains("b#") || l.contains("doc_id")),
      s"unexpected shuffle key in:\n${hashEx.mkString("\n")}")
  }

  test("q_decon_semantic is one broadcast map pass over the corpus (r10)") {
    val plan = finalPlanString(Queries.queries("q_decon_semantic")(spark, dir))
    // bench side broadcast → BroadcastNestedLoopJoin; the corpus side
    // streams map-side — NO hash exchange anywhere before the output
    // sort (the whole operator is scan → dot → filter)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"bench side must broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected shuffle in the contamination scan:\n$plan")
  }

  test("q_simsearch_lsh: probes/queries broadcast, corpus never sort-merge-joins (r11)") {
    val plan = finalPlanString(Queries.queries("q_simsearch_lsh")(spark, dir))
    // the probe side (queries × 9 flip buckets) is tiny and must ride a
    // broadcast into the bucket equi-join — a SortMergeJoin here would
    // shuffle the whole bucketed corpus on bucket id (256 skewed keys)
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket candidate join must broadcast the probe side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not shuffle for any join in the LSH search:\n$plan")
  }

  test("q_simsearch_ivf: cell assignment is a zero-join projection, probes broadcast (r11)") {
    val plan = finalPlanString(Queries.queries("q_simsearch_ivf")(spark, dir))
    // centroids are inlined literals: assignment must appear as pure
    // projection (no join against a centroid table on the corpus path);
    // the only joins are the broadcast probe-cell joins
    assert(plan.contains("BroadcastHashJoin"),
      s"probe-cell join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus must not shuffle or cross-join in the IVF search:\n$plan")
  }

  test("q_decon_stored prunes the corpus scan to (doc_id, text) and " +
    "broadcasts the read shingle artifact (r15 w5)") {
    val plan = executedPlan("q_decon_stored")
    val docScans = plan.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("documents"))
      .toSeq
    assert(docScans.nonEmpty, s"no documents scan found:\n$plan")
    docScans.foreach { rs =>
      assert(rs.contains("doc_id") && rs.contains("text") &&
        !rs.contains("n_chars") && !rs.contains("source"),
        s"corpus scan reads more than (doc_id, text): $rs")
    }
    assert(plan.contains("BroadcastHashJoin"),
      s"shingle artifact side must broadcast:\n$plan")
  }

  test("q_emb_dim_audit prunes the scan to the embedding column and " +
    "never cross-joins (r15 w6)") {
    val plan = executedPlan("q_emb_dim_audit")
    val rs = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("embedding") && !rs.contains("label") &&
      !rs.contains("vec_id"),
      s"scan reads more than the embedding column: $rs")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("q_interval_join: the pair join keys on the grid cell — one " +
    "equi-join, never a cartesian or BNLJ (r15 w5)") {
    val plan = executedPlan("q_interval_join")
    // the exploded cell frame is lineage-truncated (self-joined), so
    // the final plan starts at the checkpointed RDD — the pin here is
    // the JOIN SHAPE: a cell-keyed equi-join, never pair enumeration
    // by cartesian/BNLJ
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"interval join must stay a cell equi-join:\n$plan")
  }
}
