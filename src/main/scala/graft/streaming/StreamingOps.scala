package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming analogs of the engine's event-time operators
  * (SURVEY.md §2.I). The batch queries in [[graft.Queries]] share the
  * same expressions; these wrappers add watermarks/state so the
  * identical logic runs incrementally.
  *
  * Scale notes: all operators below are keyed by (window × type) or
  * user_id, so state partitions across executors; watermarks bound state
  * size; `foreachBatch` gives the reference's chunked-load semantics
  * (A4/A7) with exactly-once per micro-batch.
  *
  * Shared builders: near-dup verification composes DedupOps' (bandFrame,
  * verifyJaccard) rather than carrying a copy.
  */
object StreamingOps {

  /** I1/I4 — tumbling-window counts + sums over a streaming frame with a
    * watermark bounding late data. `events` must carry a timestamp
    * column `ts_ts` (use [[graft.operators.EventOps.nanosToTimestamp]]
    * when feeding from the nanos table).
    */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts_ts", watermark)
      .groupBy(window(col("ts_ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** I2 — sliding-window variant. */
  def slidingCounts(events: DataFrame, windowLen: String = "1 hour",
                    slide: String = "15 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts_ts", watermark)
      .groupBy(window(col("ts_ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"), col("cnt"))

  /** I3 — session windows with the built-in `session_window` (gap-based,
    * state merges handled by Spark).
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts_ts", watermark)
      .groupBy(session_window(col("ts_ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** I5 — stateful streaming dedup: watermark-bounded state keyed on
    * `keys`; duplicates arriving within the watermark horizon are
    * dropped exactly once.
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts_ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join: enrich a stream of events (`left`)
    * with matching rows from another stream (`right`) on a key, where
    * the right row's event time falls within [left - before, left].
    * Both sides carry watermarks so Spark can bound the join state and
    * emit/evict deterministically — the streaming analog of the batch
    * as-of/range join family. Columns: both frames need `ts_ts` and the
    * key; the right frame is exposed with an `r_` prefix.
    * `joinType = "left_outer"` (round 11) additionally emits unmatched
    * left rows null-padded once their join window expires — see the
    * inline note below.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   before: String = "1 hour",
                   watermark: String = "10 minutes",
                   joinType: String = "inner"): DataFrame = {
    // inner: matched pairs only. left_outer: ADDITIONALLY emit each
    // unmatched left row null-padded — but only once the watermark
    // proves no matching right row can still arrive (Spark holds the
    // left row in state until its join window expires, then emits the
    // null-padded result; an unmatched row is therefore a LATE output,
    // not an immediate one — the semantics a funnel/attribution
    // pipeline needs to count "clicks that never converted").
    require(Set("inner", "leftouter").contains(
      joinType.toLowerCase.replace("_", "")),
      s"intervalJoin: joinType must be inner or left_outer, got '$joinType'")
    // `before` is interpolated into SQL (`INTERVAL $before`) — validate
    // it is a plain duration literal so a malformed caller string fails
    // here with a clear message, not as parser spew (and can never
    // smuggle expression fragments into the join predicate; the
    // constraint-name lesson applied to every interpolated string).
    // The whitelist spans Spark's INTERVAL unit vocabulary including
    // compound forms ("2 hours 30 minutes") — validation must narrow
    // the CHARACTER set, not the previously-working duration surface.
    val unit = "(year|month|week|day|hour|minute|min|second|sec|" +
      "millisecond|ms|microsecond|us|nanosecond|ns)s?"
    val num = "\\d+(\\.\\d+)?"
    require(before.matches(
      s"(?i)$num\\s*$unit(\\s+$num\\s*$unit)*"),
      s"intervalJoin: before must be '<n> <unit> [<n> <unit> ...]', got '$before'")
    val l = left.withWatermark("ts_ts", watermark)
    val r = right.toDF(right.columns.map("r_" + _): _*)
      .withWatermark("r_ts_ts", watermark)
    l.join(r,
      col(key) === col(s"r_$key") &&
        col("r_ts_ts") >= col("ts_ts") - expr(s"INTERVAL $before") &&
        col("r_ts_ts") <= col("ts_ts"),
      joinType)
  }

  /** A4/A7 — the reference's chunked micro-batch load loop re-expressed:
    * each micro-batch goes through `write`, with cumulative progress
    * logging (the reference printed elapsed seconds per 1M-row chunk).
    */
  def chunkedLoad(stream: DataFrame, write: (DataFrame, Long) => Unit,
                  checkpoint: String): DataStreamWriter[Row] = {
    val start = System.nanoTime()
    var total = 0L
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // persist: count() and write() both consume the batch — without
        // it every micro-batch recomputes its source read twice
        batch.persist()
        try {
          val n = batch.count()
          total += n
          write(batch, id)
          // progress print mirrors challenge.py::load's elapsed-seconds loop
          println(f"[chunkedLoad] batch $id%d: $n%d rows, $total%d total, " +
            f"${(System.nanoTime() - start) / 1e9}%.1f s elapsed")
        } finally batch.unpersist()
      }
  }

  /** Custom keyed state via `mapGroupsWithState` (the escape hatch when
    * built-in windows can't express the semantics): per-user running
    * event count + running value sum, emitted on every micro-batch.
    * State is one `UserStat` per key — partitioned across executors,
    * bounded by the key space, evictable via timeouts in production.
    */
  def runningUserStats(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.selectExpr("user_id", "value").as[(Long, Double)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[UserStat, (Long, Long, Double)](GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(0L, 0.0))
          val buf = rows.foldLeft(prev)((s, r) => UserStat(s.n + 1, s.sum + r._2))
          state.update(buf)
          (userId, buf.n, buf.sum)
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** Custom sessionization via `flatMapGroupsWithState` — the full-power
    * state API (multi-row emission + event-time timeout), for semantics
    * `session_window` can't express (e.g. emitting a CLOSED session
    * exactly once, with its event count and duration, only after the
    * watermark passes its gap horizon).
    *
    * Per user: events within `gapMinutes` of the running session extend
    * it; a later event closes it and emits the closed session; a
    * watermark timeout closes and emits the last session. State is one
    * small record per live key, partitioned by user across executors and
    * evicted on timeout — bounded regardless of stream length.
    */
  def sessionizeWithState(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    val typed = events
      .withWatermark("ts_ts", s"$gapMinutes minutes")
      .selectExpr("user_id", "ts_ts").as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessionAcc, (Long, java.sql.Timestamp, java.sql.Timestamp, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            // watermark passed start-of-gap: the session can never grow —
            // emit exactly once and drop the state
            val acc = state.get
            state.remove()
            Iterator((userId, new java.sql.Timestamp(acc.startMs),
              new java.sql.Timestamp(acc.endMs), acc.n))
          } else {
            // micro-batch rows arrive unordered — sort before folding
            val ts = rows.map(_._2.getTime).toSeq.sorted
            var acc = state.getOption.orNull
            val closed = Seq.newBuilder[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
            ts.foreach { t =>
              if (acc == null) acc = SessionAcc(t, t, 1L)
              else if (t - acc.endMs <= gapMs)
                // min/max, not assignment: an allowed-late (within-
                // watermark) event from an earlier batch may precede the
                // session bounds — writing endMs = t would shrink the
                // session (or emit start > end) and pull the timeout in
                acc = SessionAcc(math.min(acc.startMs, t),
                  math.max(acc.endMs, t), acc.n + 1)
              else {
                closed += ((userId, new java.sql.Timestamp(acc.startMs),
                  new java.sql.Timestamp(acc.endMs), acc.n))
                acc = SessionAcc(t, t, 1L)
              }
            }
            state.update(acc)
            state.setTimeoutTimestamp(acc.endMs + gapMs)
            closed.result().iterator
          }
      }
      .toDF("user_id", "session_start", "session_end", "n_events")
  }

  /** Streaming count-min maintenance: the SAME depth×width counter table
    * as [[graft.operators.SketchOps.cmsBuild]] (shared cell definition —
    * the hashes can never drift), maintained incrementally over an
    * unbounded stream. This is why one sketches a stream at all: the
    * aggregation state is bounded by depth·width counters REGARDLESS of
    * stream volume or key cardinality, so complete-mode output is safe
    * forever and a 100 TB/day key stream costs the same state as a toy
    * one. Batch [[graft.operators.SketchOps.cmsLookup]] point-queries
    * the emitted table unchanged.
    */
  def streamingCmsCounts(stream: DataFrame, keyCol: String,
                         depth: Int, width: Int): DataFrame =
    stream
      .select(explode(graft.operators.SketchOps.cells(keyCol, depth, width))
        .as("ds"))
      .groupBy(col("ds.d").as("d"), col("ds.slot").as("slot"))
      .agg(count(lit(1)).as("cnt"))

  /** Streaming HyperLogLog maintenance: the SAME (register, rho)
    * projection as [[graft.operators.SketchOps.hllRegisters]] (shared
    * cell definition — the hashes can never drift), with max-rho
    * maintained incrementally per register. Max is the canonical
    * streaming-cardinality state shape: order- and duplicate-
    * insensitive, so aggregation state is bounded by m registers
    * REGARDLESS of stream volume or key cardinality — complete-mode
    * output is safe forever, and the emitted table feeds batch
    * [[graft.operators.SketchOps.hllEstimate]] / [[graft.operators.
    * SketchOps.hllMerge]] unchanged (a live stream's register table
    * merges with per-shard batch sketches for free).
    */
  def streamingHllRegisters(stream: DataFrame, keyCol: String, m: Int): DataFrame =
    stream
      .select(graft.operators.SketchOps.hllRegRho(keyCol, m): _*)
      .groupBy("register").agg(max(col("rho")).as("max_rho"))

  /** Stream–static enrichment: join the live stream against a batch
    * dimension frame — the canonical lookup-enrichment shape (events ×
    * user profile, lineitem × part). STATELESS on the stream side: no
    * watermark, no join state — each micro-batch probes the static
    * side, which Spark re-plans per batch (a dimension TABLE refresh
    * is picked up between batches). The broadcast hint pins the only
    * sane 100 TB plan: the dimension builds once per executor, the
    * unbounded stream never shuffles for the join.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** STREAMING near-dup flagging against a static corpus — the
    * continuous-ingest twin of [[graft.operators.DedupOps
    * .dedupAgainstCorpus]]: each arriving document (doc_id, text,
    * ts_ts) is MinHash-banded with the SAME signature/band arithmetic
    * as every batch pipeline (the fused [[graft.plans.MinHashSig]]
    * projection — a pure per-row expression, so the stream side is
    * stateless up to the final dedup), then semi-joined against the
    * persisted [[graft.operators.DedupOps.corpusBandIndex]] relation.
    * A doc colliding with the corpus in ANY band emits once as a flag
    * row; the numBands collision rows collapse through a
    * watermark-bounded `dropDuplicatesWithinWatermark` (state keyed on
    * doc_id, bounded by the horizon — never corpus-sized).
    *
    * Output: (doc_id, ts_ts) of flagged docs, append-safe. The caller
    * routes flagged ids (quarantine, re-verify with the exact batch
    * Jaccard, or drop); unflagged docs pass outside this operator —
    * emitting the complement would need stream-stream anti-join state.
    * 100 TB shape: the index is numBands hashes/doc deduplicated
    * (corpus bodies never ship), the per-batch probe is one equi-join
    * Spark re-plans per micro-batch and sizes itself (broadcast while
    * the index fits, shuffled hash join beyond — no hint pinned, the
    * [[graft.operators.DedupOps.dedupAgainstCorpus]] stance, because a
    * web-scale index is GBs and a forced broadcast would hard-fail),
    * stream state is O(flagged docs per horizon). NOTE on refresh: a
    * plain file-backed index frame freezes its file listing at
    * creation — rebuilding the index in place is picked up only by
    * transactional table sources or by re-creating the static frame
    * (query restart); plan index refreshes accordingly. Same-band
    * probability for a pair at Jaccard j is 1-(1-j^r)^b — pick
    * (numHashes, rowsPerBand) AND `seedHash` exactly as the index was
    * built with: a mismatched hash family would silently flag nothing
    * (same fit/score-consistency contract as [[scoreDsirStream]]).
    * Doc-for-doc batch parity with [[graft.operators.DedupOps
    * .dedupAgainstCorpus]] is spec-pinned.
    */
  def flagNearDupsStream(stream: DataFrame, corpusBands: DataFrame,
                         numHashes: Int, rowsPerBand: Int,
                         watermark: String = "10 minutes",
                         seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
                           graft.operators.DedupOps.XxSeedHash): DataFrame =
    graft.operators.DedupOps
      .bandFrame(stream, numHashes, rowsPerBand, seedHash, carry = Seq("ts_ts"))
      .withWatermark("ts_ts", watermark)
      .join(corpusBands.select("band_idx", "band_hash"),
        Seq("band_idx", "band_hash"), "left_semi")
      .dropDuplicatesWithinWatermark("doc_id")
      .select("doc_id", "ts_ts")

  /** The VERIFIED tier above [[flagNearDupsStream]]: band collisions
    * are candidates, not verdicts (two docs can share a band bucket at
    * Jaccard far below threshold), so production ingest verifies before
    * acting — this operator flags an arriving document only when some
    * corpus partner it band-collides with passes the EXACT integer
    * `jaccard ≥ minJaccardPct` test, computed with the same fused
    * kernels as every batch verify pipeline ([[graft.plans
    * .SortedHashedSet]] prep once per doc before the band explode,
    * [[graft.plans.VecDot.sortedIntersectCount]] merge-walk per
    * candidate). All stream-side stages are stateless (projections +
    * two stream-static inner joins Spark re-plans per micro-batch);
    * the only state is the final watermark-bounded per-doc flag dedup.
    *
    * This convenience form takes the raw corpus (doc_id, text) and
    * derives both static relations in-plan — fine for tests and small
    * corpora, but the derivations re-execute EVERY micro-batch (they
    * are projections above any cache of the raw rows). A production
    * deployment persists [[graft.operators.DedupOps.corpusBandDocs]]
    * and [[graft.operators.DedupOps.corpusHashedSets]] once per corpus
    * state and calls [[flagNearDupsStreamVerifiedIndexed]] (same
    * file-listing-freeze refresh caveat as [[flagNearDupsStream]]).
    * Recall is the LSH candidate recall (1-(1-j^r)^b per pair) — a
    * true near-dup that never collides in any band is missed, exactly
    * as in the batch LSH→verify pipelines; precision is exact.
    * Output: (doc_id, ts_ts) of verified near-dup arrivals.
    */
  def flagNearDupsStreamVerified(stream: DataFrame, corpus: DataFrame,
                                 numHashes: Int, rowsPerBand: Int,
                                 minJaccardPct: Int,
                                 watermark: String = "10 minutes",
                                 seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
                                   graft.operators.DedupOps.XxSeedHash): DataFrame =
    flagNearDupsStreamVerifiedIndexed(stream,
      graft.operators.DedupOps.corpusBandDocs(corpus, numHashes, rowsPerBand, seedHash),
      graft.operators.DedupOps.corpusHashedSets(corpus),
      numHashes, rowsPerBand, minJaccardPct, watermark, seedHash)

  /** [[flagNearDupsStreamVerified]] against PERSISTED index relations —
    * the production form: `corpusBandDocs` (corpus_id, band_idx,
    * band_hash) and `corpusSets` (corpus_id, cws) are read from
    * storage, so no corpus-sized derivation runs per micro-batch.
    * Candidate pairs dedup through a watermark-bounded
    * `dropDuplicatesWithinWatermark(doc_id, corpus_id)` BEFORE the
    * word-set join (review fix): a true duplicate collides in most
    * bands, and without the dedup every colliding band would re-run
    * the same merge-walk verify — numBands× the dominant per-candidate
    * cost for the price of candidate-pair-per-horizon state.
    */
  def flagNearDupsStreamVerifiedIndexed(stream: DataFrame,
                                        corpusBandDocs: DataFrame,
                                        corpusSets: DataFrame,
                                        numHashes: Int, rowsPerBand: Int,
                                        minJaccardPct: Int,
                                        watermark: String = "10 minutes",
                                        seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
                                          graft.operators.DedupOps.XxSeedHash): DataFrame = {
    val hs = graft.plans.SortedHashedSet.sortedHashedSet(split(col("text"), " "))
    graft.operators.DedupOps
      .bandFrame(stream.withColumn("ws", hs), numHashes, rowsPerBand,
        seedHash, carry = Seq("ts_ts", "ws"))
      .withWatermark("ts_ts", watermark)
      .join(corpusBandDocs, Seq("band_idx", "band_hash"))
      .dropDuplicatesWithinWatermark("doc_id", "corpus_id")
      .join(corpusSets, Seq("corpus_id"))
      .transform(graft.operators.DedupOps.verifyJaccard(_, "ws", "cws",
        minJaccardPct))
      .dropDuplicatesWithinWatermark("doc_id")
      .select("doc_id", "ts_ts")
  }

  /** Per-micro-batch accounting row emitted by [[curateIngest]]:
    * `rowsIn = rejectedQuality + rejectedExact + rejectedNearDup +
    * accepted` — every arriving document gets exactly one decision.
    */
  final case class CurateBatchStats(batchId: Long, rowsIn: Long,
      rejectedQuality: Long, rejectedExact: Long,
      rejectedNearDup: Long, accepted: Long)

  /** Handle on a running curation-ingest loop: the writer to start,
    * plus an accessor for the CURRENT maintained index relations (for
    * persistence between restarts, or the rebuild-parity audit).
    */
  final case class CurateIngest(writer: DataStreamWriter[Row],
      index: () => (DataFrame, DataFrame))

  /** CONTINUOUS CURATION INGEST (round 13) — the streaming composition
    * of the batch curation pipeline's ingest-side stages, closing the
    * loop the r11/r12 pieces built: each micro-batch runs
    *
    *   quality filter → in-batch exact dedup → VERIFIED near-dup probe
    *   against the maintained LSH index → accept survivors →
    *   [[graft.operators.DedupOps.indexUpsert]] of the accepted docs
    *
    * via `foreachBatch`, so every stage is the already-audited BATCH
    * operator (batch-vs-stream parity by construction, not by parallel
    * implementation) and sinks get exactly-once per micro-batch.
    * DSIR selection stays an offline corpus-level pass by design
    * ([[scoreDsirStream]] is the per-doc streaming scorer; RE-sampling
    * a corpus is not an ingest decision).
    *
    * The maintained index lives as two lineage-truncated frames swapped
    * per batch — executor-local blocks here; a production deployment
    * sets `spark.graft.checkpointDir` (the one-conf [[graft.operators
    * .Lineage]] switch) so each round's truncation lands in reliable
    * storage, or persists `index()` to a MERGE-capable table per batch.
    * State is bounded: index size tracks accepted-corpus size (bands +
    * hashed word sets), never raw arrival volume — rejected docs leave
    * nothing behind.
    *
    * `batch` must carry (doc_id, text); `n_chars` is derived when
    * absent. Stats flow through `onStats` on the driver per batch (the
    * chunked-load progress precedent) — their invariant (decisions
    * partition arrivals) is spec-pinned.
    */
  def curateIngest(stream: DataFrame,
                   initialBands: DataFrame, initialSets: DataFrame,
                   numHashes: Int, rowsPerBand: Int, minJaccardPct: Int,
                   stopwords: Seq[String], minWords: Long,
                   maxStopwordPpm: Long,
                   checkpoint: String,
                   writeAccepted: (DataFrame, Long) => Unit,
                   onStats: CurateBatchStats => Unit = _ => ()): CurateIngest = {
    import graft.operators.{DedupOps, TextOps}
    import graft.operators.Lineage.LineageOps
    // the maintained index — truncated per round so the loop's plan
    // depth stays O(1) across unbounded batches (the CC discipline)
    var bands = initialBands.lineageTruncate()
    var sets = initialSets.lineageTruncate()
    // default trigger (continuous micro-batches) — an ingest loop runs
    // until stopped; callers needing drain-and-stop set AvailableNow on
    // the returned writer
    val writer = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, id: Long) =>
        val batch = (if (batch0.columns.contains("n_chars")) batch0
          else batch0.withColumn("n_chars", length(col("text")).cast("long")))
          .persist()
        try {
          val rowsIn = batch.count()
          // 1 — quality: the q_quality_filter integer-ppm thresholds
          val q = TextOps.textQuality(batch, stopwords)
            .filter(col("n_words") >= minWords &&
              col("stopword_ppm") < maxStopwordPpm)
            .select("doc_id")
          val d1 = batch.join(q, Seq("doc_id"), "left_semi")
          // 2 — in-batch exact dedup (smallest doc_id keeps)
          val keep = d1.groupBy(md5(col("text")).as("__fp"))
            .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
          val d2 = d1.join(keep, Seq("doc_id"), "left_semi")
            .lineageTruncate()  // consumed 3× below (flag, accept, upsert)
          val n1 = d1.count(); val n2 = d2.count()
          // 3 — verified near-dup probe against the CURRENT index
          val flagged = DedupOps.flagAgainstIndexVerified(
            d2, bands, sets, numHashes, rowsPerBand, minJaccardPct)
          val accepted = d2.join(flagged, Seq("doc_id"), "left_anti")
            .lineageTruncate()  // consumed by sink AND upsert
          val nAcc = accepted.count()
          // 4 — accept: exactly-once per micro-batch through the sink
          writeAccepted(accepted, id)
          // 5 — upsert: accepted docs join the corpus for batch k+1
          val up = DedupOps.indexUpsert(bands, sets,
            accepted.select("doc_id", "text"), numHashes, rowsPerBand)
          bands = up._1.lineageTruncate()
          sets = up._2.lineageTruncate()
          onStats(CurateBatchStats(id, rowsIn,
            rejectedQuality = rowsIn - n1, rejectedExact = n1 - n2,
            rejectedNearDup = n2 - nAcc, accepted = nAcc))
        } finally batch.unpersist()
      }
    CurateIngest(writer, () => (bands, sets))
  }

  /** STREAMING DSIR scoring — fit offline, score online: the posterior
    * table from [[graft.operators.TextOps.importancePosteriors]] (a
    * FIXED 2^k rows at any corpus size — the bound that makes hashed
    * importance features streamable at all) is compiled into a literal
    * map expression, so scoring is pure per-row column arithmetic: no
    * stream state, no stream-side shuffle, no aggregation mode
    * constraints — each arriving document folds its own token array.
    * Tokens hashing to a bucket the fit never saw score `unseenPpm`
    * ([[graft.operators.TextOps.importanceUnseenPpm]] — the smoothed
    * posterior of a bucket NEITHER corpus populated; buckets the
    * TARGET alone populated are in the fit table itself, full-outer
    * by construction). Batch/streaming parity is spec-pinned: same
    * doc → same integer score as the batch scorer, and NULL-text
    * docs DROP (the batch scorer's stance — a meaningless mean, not
    * a NULL row the sink would propagate).
    */
  def scoreDsirStream(stream: DataFrame, posts: Seq[(Long, Long)],
                      numBuckets: Int, unseenPpm: Long): DataFrame = {
    require(posts.nonEmpty, "posts must be non-empty — run the fit first")
    require(numBuckets >= 2, s"numBuckets must be >= 2, got $numBuckets")
    // Fit/score consistency (ADVICE r10): a posterior table fit at a
    // DIFFERENT bucket count would mis-score silently — keys >=
    // numBuckets can never match a hashBucket output, so every token
    // would quietly fall through to unseenPpm. Same reason unseenPpm
    // must come from importanceUnseenPpm over the SAME fit's token
    // totals (documented contract; its magnitude is not checkable here).
    require(posts.forall(p => p._1 >= 0 && p._1 < numBuckets),
      s"posterior table has bucket ids outside [0, $numBuckets) — " +
        "it was fit at a different numBuckets than the scorer's")
    require(posts.forall(p => p._2 >= 0 && p._2 <= 1000000L),
      "posterior ppm values must lie in [0, 1e6]")
    val pm = map(posts.flatMap { case (b, p) => Seq(lit(b), lit(p)) }: _*)
    val ws = graft.operators.TextOps.words(col("text"))
    val postArr = transform(ws, w => coalesce(
      element_at(pm, graft.operators.TextOps.hashBucket(w, numBuckets)),
      lit(unseenPpm)))
    stream
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(ws).cast("long").as("n_tokens"),
        aggregate(postArr, lit(0L), (acc, x) => acc + x).as("post_sum"))
      .select(col("doc_id"), col("n_tokens"),
        expr("post_sum div n_tokens").as("dsir_ppm"))
  }

  /** Streaming unigram-surprisal scorer — [[graft.operators.TextOps
    * .surprisalBits]]'s arithmetic against a FROZEN fit (the
    * `wordBits` table [[graft.operators.TextOps.surprisalFitTop]]
    * exports), so a continuously-ingesting pipeline scores each
    * micro-batch without touching the corpus: per word, the fitted
    * integer bits (words outside the capped vocabulary take
    * `unseenBits`, the count-1-smoothed floor(log₂(total)) — unseen ⇒
    * maximally surprising, the conservative filter direction); per
    * doc, the same q8 mean-bits and the stream stays stateless — pure
    * column expressions, no aggregation state, watermark-free.
    * Batch parity with the batch scorer when the fit's cap covers the
    * vocabulary is pinned in the spec (the scoreDsirStream contract).
    */
  def scoreSurprisalStream(stream: DataFrame, wordBits: Seq[(String, Long)],
                           unseenBits: Long): DataFrame = {
    require(wordBits.nonEmpty, "wordBits must be non-empty — run the fit first")
    require(wordBits.forall(p => p._2 >= 0 && p._2 <= 63),
      "per-word bits must lie in [0, 63] — a 64-bit count can't exceed that")
    require(unseenBits >= 0 && unseenBits <= 63,
      s"unseenBits must lie in [0, 63], got $unseenBits")
    val bm = map(wordBits.flatMap { case (w, b) => Seq(lit(w), lit(b)) }: _*)
    val ws = graft.operators.TextOps.words(col("text"))
    val bitsArr = transform(ws,
      w => coalesce(element_at(bm, w), lit(unseenBits)))
    stream
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(ws).cast("long").as("n_words"),
        aggregate(bitsArr, lit(0L), (acc, x) => acc + x).as("sum_bits"))
      .withColumn("bits_q8", expr("sum_bits * 256L div n_words"))
  }

  /** Streaming tokenizer pricing against the FROZEN BPE artifact
    * (round 15) — the online half of
    * [[graft.operators.TextOps.tokenizerDrift]]: each arriving document
    * is priced per word from the literal vocab map (n_bpe; OOV →
    * character count, the bpeEncodeWithMerges rule) as a STATELESS
    * projection — no aggregation, no state store, safe in append mode
    * at any watermark. Downstream rolls (doc_id, source, n_words,
    * bpe_tokens, oov_words) however it likes; a monitor watching
    * oov_words rise across micro-batches is the online tokenizer
    * retrain signal, exactly as the batch audit's 'new'-phase rows.
    * `wordTokens` is the vocab-bounded merge-table projection — the
    * same bounded-driver-state contract as [[scoreSurprisalStream]]'s
    * bits table.
    */
  def scoreTokenizerStream(stream: DataFrame,
                           wordTokens: Seq[(String, Long)]): DataFrame = {
    require(wordTokens.nonEmpty,
      "wordTokens must be non-empty — fit the tokenizer first")
    val tm = map(wordTokens.flatMap { case (w, n) => Seq(lit(w), lit(n)) }: _*)
    val ws = graft.operators.TextOps.words(col("text"))
    stream
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(ws).cast("long").as("n_words"),
        aggregate(ws, lit(0L), (acc, w) =>
          acc + coalesce(element_at(tm, w), length(w).cast("long")))
          .as("bpe_tokens"),
        aggregate(ws, lit(0L), (acc, w) =>
          acc + when(element_at(tm, w).isNull && length(w) > 0, 1L)
            .otherwise(0L)).as("oov_words"))
  }

  /** Streaming SCHEDULE pricing against the frozen mixture (round 16)
    * — the online half of
    * [[graft.operators.TextOps.schedulePriceBatches]]: each arriving
    * document prices to its md5-drawn repeat count under the frozen
    * per-domain oversampling factor, as a STATELESS projection — no
    * aggregation, no state store, safe in append mode at any
    * watermark. Downstream rolls (source, n_tokens, repeats) per
    * micro-batch however it likes; a monitor watching unpriced mass
    * (epochs_q8 = 0 rows) rise is the new-domain / schedule-refreeze
    * signal, the scoreTokenizerStream OOV discipline. `domainEpochs`
    * is the domain-bounded frozen schedule — the same
    * bounded-driver-state contract as the vocab maps.
    */
  def priceScheduleStream(stream: DataFrame,
                          domainEpochs: Seq[(String, Long)]): DataFrame =
    graft.operators.TextOps.priceDocsAgainstSchedule(
      stream.filter(col("text").isNotNull), domainEpochs)
      .select("doc_id", "source", "n_tokens", "epochs_q8", "repeats")

  /** STREAMING SCHEDULE-EXECUTED PACKING (round 17, VERDICT r16 #4) —
    * the online twin of [[graft.operators.TextOps.packScheduledBins]],
    * completing the reweight → schedule → price → pack chain's stream
    * symmetry: each arriving micro-batch is priced against the FROZEN
    * schedule, its sampled copies concatenated in (doc_id, copy) order
    * and cut into `binTokens` bins per (micro-batch, domain) — the
    * training bins a streaming loader under the frozen mixture hands
    * to the trainer, one packed relation per micro-batch through the
    * exactly-once `foreachBatch` sink.
    *
    * The packing window is micro-batch-bounded BY DESIGN (it partitions
    * on (batch_id, source), and batch_id here IS the epoch id), so no
    * state store is needed: this is the [[curateIngest]] discipline —
    * the batch operator ([[graft.operators.TextOps
    * .packDocsAgainstSchedule]], shared code, not a parallel
    * implementation) applied per micro-batch, which is what makes the
    * parity spec an identity rather than an approximation.
    */
  def packScheduledStream(stream: DataFrame,
                          domainEpochs: Seq[(String, Long)],
                          binTokens: Long, checkpoint: String,
                          writeBins: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        writeBins(graft.operators.TextOps.packDocsAgainstSchedule(
          batch.filter(col("text").isNotNull)
            .withColumn("batch_id", lit(id)),
          domainEpochs, binTokens), id)
      }

  /** Streaming BIGRAM surprisal against a frozen fit (round 15) — the
    * online twin of [[graft.operators.TextOps.surprisalBigramBits]],
    * completing the every-batch-filter-has-a-stream-twin symmetry for
    * the fluency tier: per arriving document, the first word prices at
    * its unigram bits, each later word at the FROZEN pair table's
    * conditional bits, backing off to the word's unigram bits (unseen
    * word → `unseenBits`) when the pair never made the capped fit —
    * the [[scoreSurprisalStream]] smoothing discipline one order up.
    * Stateless projection over literal maps (driver state = the two
    * caps of [[graft.operators.TextOps.surprisalBigramFitTop]]), safe
    * in append mode; with caps covering the full tables the stream
    * equals the batch scorer doc-for-doc (Round15bOpsSpec).
    */
  def scoreBigramStream(stream: DataFrame, wordBits: Seq[(String, Long)],
                        pairBits: Seq[(String, Long)],
                        unseenBits: Long): DataFrame = {
    require(wordBits.nonEmpty, "wordBits must be non-empty — fit first")
    require(unseenBits >= 0 && unseenBits <= 63,
      s"unseenBits must lie in [0, 63], got $unseenBits")
    val wbm = map(wordBits.flatMap { case (w, b) => Seq(lit(w), lit(b)) }: _*)
    // an empty pair table is a legitimate frozen fit (single-word
    // corpus): every later word then backs off to unigram bits
    val pbm = if (pairBits.isEmpty) map()
      else map(pairBits.flatMap { case (p, b) => Seq(lit(p), lit(b)) }: _*)
    val ws = graft.operators.TextOps.words(col("text"))
    def uni(word: org.apache.spark.sql.Column) =
      coalesce(element_at(wbm, word), lit(unseenBits))
    val bitsArr = transform(sequence(lit(0), size(ws) - 1), i =>
      when(i === 0, uni(element_at(ws, 1)))
        .otherwise(coalesce(
          element_at(pbm,
            concat(element_at(ws, i), lit(" "), element_at(ws, i + 1))),
          uni(element_at(ws, i + 1)))))
    stream
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(ws).cast("long").as("n_words"),
        aggregate(bitsArr, lit(0L), (acc, x) => acc + x)
          .as("sum_bi_bits"))
      .withColumn("bi_q8", expr("sum_bi_bits * 256L div n_words"))
  }

  /** Streaming heavy hitters — per tumbling window, the keys whose
    * exact count reaches `minCount`, emitted ONCE per window when the
    * watermark closes it (append mode: a key is reported only when its
    * window can no longer grow, so downstream consumers never see a
    * retraction). The windowing is what bounds state where a global
    * heavy-hitter count could not: per-window per-key counters are
    * dropped at watermark expiry, so state is live-windows × keys-per-
    * window regardless of stream length. For an UNWINDOWED approximate
    * census at scale, feed [[streamingCmsCounts]]'s bounded cell table
    * to [[graft.operators.SketchOps]] lookups instead — this op is the
    * exact, bounded-horizon complement.
    */
  def streamingHeavyHitters(events: DataFrame, keyCol: String,
                            minCount: Long,
                            windowLen: String = "1 hour",
                            watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts_ts", watermark)
      .groupBy(window(col("ts_ts"), windowLen), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col(keyCol), col("cnt"))

  /** Convenience: start a memory-sink query for tests/inspection. */
  def toMemorySink(df: DataFrame, name: String, outputMode: String): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(outputMode).start()

  /** Observability rollup over a query's recent progress — the numbers a
    * production stream is paged on: rows silently DROPPED by the
    * watermark (late data the pipeline never counted — the metric that
    * distinguishes "volume dipped" from "we discarded it"), total state
    * rows (leak detector: monotone growth under a watermark means keys
    * never expire), and rows processed. Sourced from the engine's own
    * `StreamingQueryProgress` (no extra pass over the data); aggregated
    * across the in-memory progress ring, so call while the query runs
    * or immediately after the batches of interest.
    */
  def progressAudit(q: StreamingQuery): Map[String, Long] = {
    val ps = q.recentProgress.toSeq
    val state = ps.flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
    Map(
      "rows_in" -> ps.map(p => Option(p.numInputRows).getOrElse(0L)).sum,
      "rows_dropped_by_watermark" ->
        state.map(_.numRowsDroppedByWatermark).sum,
      "state_rows_latest" ->
        state.lastOption.map(_.numRowsTotal).getOrElse(0L),
      "batches" -> ps.size.toLong)
  }
}

/** State record for [[StreamingOps.runningUserStats]]. */
final case class UserStat(n: Long, sum: Double)

/** Live-session state for [[StreamingOps.sessionizeWithState]]. */
final case class SessionAcc(startMs: Long, endMs: Long, n: Long)
