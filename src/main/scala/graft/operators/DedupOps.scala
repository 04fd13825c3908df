package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import graft.operators.Lineage.LineageOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2 K L1/L2): exact, n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: every pairwise comparison goes through an inverted-index
  * (equi-join on token / band-bucket) rather than a cross join, so the
  * shuffle key is the token, candidate generation is linear in index
  * size, and skewed tokens can be handled by AQE skew-join. Nothing here
  * is O(n²) in the corpus except the *verified candidate set*.
  *
  * Shared builders (word overlap, exact Jaccard gate, MinHash banding)
  * sit after [[docWords]].
  */
object DedupOps {

  // Convergence probes go through the logging backend at DEBUG — NOT
  // stderr: bench/driver runs capture the process tail, and raw stderr
  // lines render as alarming `[error] …` noise in the binding artifact
  // (round-4 finding). The loud convergence-cap failure below stays a
  // thrown exception, unaffected by log level.
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** L1 — exact dedup by content: keep the smallest doc_id per identical
    * text (deterministic, unlike dropDuplicates), with the duplicate
    * count. Uses md5 of the text as the grouping key so the shuffle rows
    * carry a 16-byte hash instead of the full document.
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("dup_cnt"))
      .orderBy("keep_doc_id")

  /** L1 — CROSS-SOURCE duplication matrix: for every pair of identical
    * documents, one (src_a ≤ src_b) cell increment — the "which feeds
    * copy each other" provenance audit that [[exactDedup]]'s flat
    * keeper table and the per-source dup RATE both hide. A mirror feed
    * shows up as a hot off-diagonal cell; scraper-of-scraper chains as
    * a row; self-duplication as the diagonal. Downstream uses it to
    * pick ONE canonical feed per hot cell instead of paying ingest +
    * dedup for both.
    *
    * Scale shape: the pair join is an equi-join on the 16-byte md5
    * fingerprint (bodies never shuffle, the [[exactDedup]] discipline);
    * within a fingerprint group the pairing is quadratic in GROUP size
    * — bounded by the corpus's largest identical-content cluster, which
    * the exact-dedup pass upstream keeps small by construction (and a
    * pathological viral-boilerplate key is exactly what this audit
    * exists to surface). Output is ≤ |sources|² cells.
    */
  def crossSourceDupMatrix(documents: DataFrame): DataFrame = {
    val f = documents.select(col("doc_id"), col("source"),
      md5(col("text")).as("fp"))
    f.as("a").join(f.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(least(col("a.source"), col("b.source")).as("src_a"),
        greatest(col("a.source"), col("b.source")).as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  /** Distinct (doc, word) pairs — the inverted-index relation. */
  private def docWords(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .distinct()

  /** The word self-join of an inverted index (doc_id, word, …): one
    * (a_id, b_id) row per a < b pair sharing a word, with `agg` over the
    * shared words.
    */
  private def sharedWordPairs(index: DataFrame, agg: Column): DataFrame =
    index.as("a")
      .join(index.as("b"),
        col("a.word") === col("b.word") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(agg)

  /** Per-pair shared-word counts (a_id, b_id, common). */
  private def overlapCounts(index: DataFrame): DataFrame =
    sharedWordPairs(index, count(lit(1)).as("common"))

  private def setSizes(index: DataFrame): DataFrame =
    index.groupBy("doc_id").agg(count(lit(1)).as("set_size"))

  /** Exact Jaccard over an inverted index: [[overlapCounts]], then
    * |A∪B| = |A|+|B|−common from the per-doc set sizes, then
    * [[jaccardGate]]. The sizes are O(corpus) — no broadcast hint; AQE
    * promotes to broadcast when the aggregated side is small at runtime.
    */
  private def overlapJaccard(index: DataFrame, minJaccardPct: Int): DataFrame = {
    val sizes = setSizes(index)
    jaccardGate(overlapCounts(index)
      .join(sizes.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b_id") === col("sb.doc_id"))
      .withColumn("union_size", col("sa.set_size") + col("sb.set_size") - col("common")),
      minJaccardPct)
  }

  /** The exact integer Jaccard gate over a frame carrying `common` and
    * `union_size`: keep `common · 100 ≥ union_size · minJaccardPct`.
    */
  private def jaccardGate(pairs: DataFrame, minJaccardPct: Int): DataFrame =
    pairs.filter(col("common") * 100 >= col("union_size") * minJaccardPct)

  /** Jaccard in ppm, `common · 10⁶ div union_size`. */
  private def jaccardPpm: Column =
    expr("common * 1000000L div union_size").as("jaccard_ppm")

  /** Merge-walk verify of two sorted-hashed word-set columns: `common`
    * is one allocation-free walk ([[graft.plans.SortedIntersectCount]])
    * over fixed-width longs, `union_size` follows from the set sizes,
    * and [[jaccardGate]] keeps the survivors. |A∩B| over hashes equals
    * |A∩B| over words unless two distinct words in one pair's union
    * collide in 64 bits (≤ |A∪B|²/2⁶⁴ ≈ 1e-14 per pair).
    */
  private[graft] def verifyJaccard(pairs: DataFrame, a: String, b: String,
                                   minJaccardPct: Int): DataFrame =
    jaccardGate(pairs
      .withColumn("common",
        graft.plans.VecDot.sortedIntersectCount(col(a), col(b)))
      .withColumn("union_size",
        size(col(a)).cast("long") + size(col(b)).cast("long") - col("common")),
      minJaccardPct)

  /** [[verifyJaccard]] of candidate (a_id, b_id) pairs against their
    * [[corpusHashedSets]] rows: `aSets` for a_id, `bSets` for b_id.
    */
  private def verifyPairs(cands: DataFrame, aSets: DataFrame, bSets: DataFrame,
                          minJaccardPct: Int): DataFrame =
    verifyJaccard(cands
      .join(aSets.select(col("corpus_id").as("a_id"), col("cws").as("aws")),
        "a_id")
      .join(bSets.select(col("corpus_id").as("b_id"), col("cws").as("bws")),
        "b_id"),
      "aws", "bws", minJaccardPct)

  /** Distinct (a_id, b_id) doc pairs sharing a (band_idx, band_hash)
    * bucket of a [[bandFrame]]: the LSH band self-join.
    */
  private def bandPairs(bands: DataFrame): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

  /** L2 — exact pairwise word-set Jaccard via inverted-index join:
    * explode distinct words, self-join on word (candidate pairs share ≥1
    * word), count common words per pair, derive |A∪B| = |A|+|B|-common,
    * and keep pairs with `common * 100 >= minJaccardPct * union` — pure
    * integer arithmetic, so the result is hash-exact reproducible.
    */
  def jaccardPairs(documents: DataFrame, minJaccardPct: Int): DataFrame = {
    // lineageTruncate (NOT .cache()): the inverted index feeds three
    // consumers (sizes + both join sides). A .cache() registers in the
    // CacheManager, which holds the blocks by strong reference until an
    // explicit unpersist() that a lazy operator can never issue;
    // checkpoint blocks are released by the ContextCleaner as soon as
    // the result frame is dropped. At petabyte scale set
    // spark.graft.checkpointDir and this becomes a reliable checkpoint
    // to storage (see Lineage).
    overlapJaccard(docWords(documents).lineageTruncate(), minJaccardPct)
      .select(col("a_id"), col("b_id"), col("common"), col("union_size"),
        jaccardPpm)
      .orderBy("a_id", "b_id")
  }

  /** L2 — DIRECTED containment near-dup: emit (src, dst) when src's word
    * set is ≥ `minContPct`% inside dst's — the asymmetric relation
    * Jaccard misses (a paragraph quoted verbatim inside a much longer
    * page has low Jaccard but containment ≈ 100%; quote/subset/
    * boilerplate detection wants exactly this).
    *
    * Same inverted-index equi-join shape as [[jaccardPairs]] (one shared
    * pair-count pass; both directions are derived from it, so the
    * expensive join runs ONCE), same pure-integer output contract:
    * `cont_ppm = common·10⁶ div n_src`. The full-index self-join is
    * quadratic in per-token document frequency — on skewed real-text
    * vocabularies use [[containmentPairsPrefix]], the prefix-filtered
    * sibling with the same output and exact recall but df-bounded
    * candidate generation.
    */
  def containmentPairs(documents: DataFrame, minContPct: Int): DataFrame = {
    val words = docWords(documents).lineageTruncate()
    val sizes = setSizes(words)
    val common = overlapCounts(words)
      .join(sizes.select(col("doc_id").as("a_id"), col("set_size").as("n_a")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("set_size").as("n_b")), "b_id")
      .lineageTruncate() // feeds both direction scans below, computed once
    val aInB = common.select(col("a_id").as("src_id"), col("b_id").as("dst_id"),
      col("common"), col("n_a").as("n_src"), col("n_b").as("n_dst"))
    val bInA = common.select(col("b_id").as("src_id"), col("a_id").as("dst_id"),
      col("common"), col("n_b").as("n_src"), col("n_a").as("n_dst"))
    aInB.union(bInA)
      .filter(col("common") * 100 >= col("n_src") * minContPct)
      .withColumn("cont_ppm", expr("common * 1000000L div n_src"))
      .orderBy("src_id", "dst_id")
  }

  /** L2 — [[containmentPairs]]'s 100 TB sibling: PPJoin-style PREFIX
    * FILTERING bounds candidate generation instead of joining the full
    * inverted index against itself. Pigeonhole guarantee (exact recall,
    * not probabilistic): containment ≥ t% of an n-word src set needs
    * overlap o = ⌈t·n/100⌉, so if dst misses ALL of any chosen
    * L = n − o + 1 src tokens the overlap is ≤ n − L = o − 1 < o. Choose
    * those L tokens GLOBALLY RAREST-FIRST (order by document frequency,
    * then word) and the join keys are, by construction, the least-skewed
    * tokens each document owns — the hot-token df² blowup of the full
    * self-join never materializes, because a token enters the probe side
    * only while it is among a document's ~(1−t)·n rarest.
    *
    * Verification is the same codegen'd sorted merge-walk as
    * [[lshVerifiedJaccardPairs]] (per-candidate, zero shuffle beyond the
    * candidate join) with the identical 2⁻⁶⁴ hash-collision margin.
    * Output contract is bit-identical to [[containmentPairs]] — the
    * declared query pair shares one oracle.
    */
  def containmentPairsPrefix(documents: DataFrame, minContPct: Int): DataFrame = {
    require(minContPct >= 1 && minContPct <= 100,
      s"minContPct must be in [1,100], got $minContPct")
    // inverted index feeds the df rollup, the prefix build, and the
    // candidate probe — checkpoint so the tokenize+distinct runs once
    val words = docWords(documents).lineageTruncate()
    val df = words.groupBy("word").agg(count(lit(1)).as("df"))
    // per-doc tokens in canonical (df asc, word asc) order; collect_list
    // is doc-size-bounded (same bound as every sorted-array kernel here)
    val perDoc = words.join(df, "word")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("word")))).as("ws"))
      .withColumn("n", size(col("ws")).cast("long"))
      // o = ceil(n·t/100) in pure integer math; L = n − o + 1 ≥ 1
      .withColumn("prefix_len",
        (col("n") - expr(s"(n * $minContPct + 99) div 100") + 1).cast("int"))
    val prefixes = perDoc.select(col("doc_id").as("src_id"),
      explode(transform(slice(col("ws"), lit(1), col("prefix_len")),
        s => s.getField("word"))).as("word"))
    val cands = prefixes
      .join(words.select(col("doc_id").as("dst_id"), col("word")), "word")
      .filter(col("src_id") =!= col("dst_id"))
      .select("src_id", "dst_id").distinct()
    val sets = documents.select(col("doc_id"),
      graft.plans.SortedHashedSet.sortedHashedSet(
        split(col("text"), " ")).as("hs"))
    cands
      .join(sets.select(col("doc_id").as("src_id"), col("hs").as("shs")), "src_id")
      .join(sets.select(col("doc_id").as("dst_id"), col("hs").as("dhs")), "dst_id")
      .withColumn("common",
        graft.plans.VecDot.sortedIntersectCount(col("shs"), col("dhs")))
      .withColumn("n_src", size(col("shs")).cast("long"))
      .withColumn("n_dst", size(col("dhs")).cast("long"))
      .filter(col("common") * 100 >= col("n_src") * minContPct)
      .select(col("src_id"), col("dst_id"), col("common"), col("n_src"),
        col("n_dst"), expr("common * 1000000L div n_src").as("cont_ppm"))
      .orderBy("src_id", "dst_id")
  }

  /** L2 — MinHash signatures: k independent hash permutations approximated
    * by seeded xxhash64 over the word set; signature element i is
    * `min(xxhash64(word, seed_i))`. Computed per document with
    * `transform` over a seed array — no shuffle at all for the signature
    * stage.
    */
  /** Production default seed hash for MinHash: xxhash64 over (seed,
    * word). ONE definition shared by every signature in this file — a
    * drifted default in one overload would silently band on signatures
    * computed with a different hash.
    */
  val XxSeedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
    (i, w) => xxhash64(lit(i), w)

  def minHashSignatures(documents: DataFrame, numHashes: Int,
                        seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
                          XxSeedHash,
                        carry: Seq[String] = Nil): DataFrame = {
    val ws = array_distinct(split(col("text"), " "))
    val keep = col("doc_id") +: carry.map(col)
    // The two canonical hash functions dispatch to the FUSED
    // [[graft.plans.MinHashSig]] expression (round 11): the per-seed
    // `array_min(transform(…))` columns are CodegenFallback lambdas —
    // k interpreted transforms + k intermediate hash arrays per
    // document on the hot signature pass of every MinHash pipeline.
    // The fused form is spec-pinned bit-identical per hash family
    // (identity comparison on the SHARED function vals — a caller
    // passing its own lambda still gets the general column path).
    val fused: Option[org.apache.spark.sql.Column] =
      if (seedHash eq XxSeedHash)
        Some(graft.plans.MinHashSig.sig(ws, numHashes, portable = false))
      else if (seedHash eq Md5SeedHash60)
        Some(graft.plans.MinHashSig.sig(ws, numHashes, portable = true))
      else None
    fused match {
      case Some(sig) =>
        // k extractions of ONE deterministic subexpression — whole-stage
        // codegen's subexpression elimination evaluates the signature
        // array once per row
        documents.select((keep ++ (0 until numHashes).map(i =>
          sig.getItem(i).as(s"mh_$i"))): _*)
      case None =>
        val sigCols = (0 until numHashes).map { i =>
          array_min(transform(ws, w => seedHash(i, w))).as(s"mh_$i")
        }
        documents.select((keep ++ sigCols): _*)
    }
  }

  /** Engine-portable seeded word hash for MinHash (see [[md5Hash60]]):
    * md5 over `"<seed>:<word>"`, top 15 hex chars as a long. Lets a SQL
    * oracle replay the exact signatures (`('0x' || substr(md5(seed ||
    * ':' || word), 1, 15))::BIGINT`). A VAL so [[minHashSignatures]]
    * can recognize it by identity for the fused fast path — pass THIS
    * reference, not a re-eta-expanded copy.
    */
  val Md5SeedHash60: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
    (i, w) => md5Hash60(concat(lit(s"$i:"), w))

  /** L2 — MinHash + LSH banding: split the signature into bands of
    * `rowsPerBand`, hash each band, group docs by (band_idx, band_hash).
    * Docs sharing any band bucket become candidate pairs — candidate
    * generation is a single groupBy on band hash (the LSH bucket join),
    * never a cross join. Returns distinct candidate pairs.
    */
  def minHashCandidates(documents: DataFrame, numHashes: Int, rowsPerBand: Int,
                        seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
                          XxSeedHash): DataFrame =
    minHashCandidatesUnsorted(documents, numHashes, rowsPerBand, seedHash)
      .orderBy("a_id", "b_id")

  /** [[minHashCandidates]] without the declared-contract total-order sort
    * (the verify join downstream re-shuffles on doc id anyway).
    */
  def minHashCandidatesUnsorted(documents: DataFrame, numHashes: Int,
                                rowsPerBand: Int,
                                seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
                                  XxSeedHash): DataFrame = {
    // EXPLICIT fan-out partitioning (optimization round 19, guide §2.5):
    // the band relation is a few longs per doc — small enough in BYTES
    // that AQE coalesced the self-join's exchanges to ONE partition on
    // dense corpora, and the join's quadratic-per-bucket candidate
    // explosion happens after the shuffle read: one task enumerated
    // every candidate pair at any core count (measured 21.8 s serial on
    // the ×10 scaling corpus; the same shape at sf0.1). Repartition by
    // the band key with the session's configured shuffle parallelism —
    // explicit N is AQE-non-coalescible, and N tracks
    // `spark.sql.shuffle.partitions`, never a literal.
    val bands = bandFrame(documents, numHashes, rowsPerBand, seedHash)
      .repartition(
        documents.sparkSession.sessionState.conf.numShufflePartitions,
        col("band_idx"), col("band_hash"))
    bandPairs(bands)
  }

  /** The exploded (doc_id, band_idx, band_hash) LSH relation every
    * banding consumer joins on. All band hashes come from ONE projection
    * + posexplode — a per-band select unioned numBands times would scan
    * the signature frame numBands times (round-1 bench finding).
    */
  private[graft] def bandFrame(documents: DataFrame, numHashes: Int, rowsPerBand: Int,
                               seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
                               carry: Seq[String] = Nil): DataFrame =
    bandsOf(minHashSignatures(documents, numHashes, seedHash, carry),
      numHashes, rowsPerBand, carry)

  /** [[bandFrame]] over an already computed signature frame. */
  private def bandsOf(sigs: DataFrame, numHashes: Int, rowsPerBand: Int,
                      carry: Seq[String] = Nil): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bandHashes = array((0 until numBands).map { b =>
      val bandCols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh_$i"))
      xxhash64(bandCols: _*)
    }: _*)
    sigs.select(col("doc_id") +: carry.map(col) :+
      posexplode(bandHashes).as(Seq("band_idx", "band_hash")): _*)
  }

  /** The STORABLE LSH corpus index: the distinct (band_idx, band_hash)
    * relation of a corpus's MinHash banding — numBands longs per doc
    * before dedup, independent of document length. This is the artifact
    * a continuous-ingest pipeline persists (and refreshes on corpus
    * growth) so that [[dedupAgainstCorpus]] and [[dedupAgainstIndex]]
    * probe the SAME band arithmetic the batch clustering pipelines use —
    * one hash family, no drift between the index builder and either
    * prober.
    */
  def corpusBandIndex(corpus: DataFrame, numHashes: Int, rowsPerBand: Int,
                      seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
                        XxSeedHash): DataFrame =
    bandFrame(corpus, numHashes, rowsPerBand, seedHash)
      .select("band_idx", "band_hash").distinct()

  /** [[corpusBandIndex]] WITH the doc ids — the persisted relation the
    * VERIFIED streaming tier probes (it must know which corpus partner
    * to verify against, not just that some partner collides). Columns:
    * (corpus_id, band_idx, band_hash).
    */
  def corpusBandDocs(corpus: DataFrame, numHashes: Int, rowsPerBand: Int,
                     seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
                       XxSeedHash): DataFrame =
    bandFrame(corpus, numHashes, rowsPerBand, seedHash)
      .select(col("doc_id").as("corpus_id"), col("band_idx"), col("band_hash"))

  /** The corpus's sorted-hashed word sets, (corpus_id, cws) — the
    * other persisted half of the verified streaming probe (and the
    * same per-doc prep every batch verify kernel runs). Persist both
    * this and [[corpusBandDocs]] once per corpus state; deriving them
    * in-plan from raw text re-runs the full-corpus MinHash banding and
    * set prep EVERY micro-batch (review finding).
    */
  def corpusHashedSets(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id").as("corpus_id"),
      graft.plans.SortedHashedSet.sortedHashedSet(
        split(col("text"), " ")).as("cws"))

  /** INDEX MAINTENANCE (VERDICT r11 #3) — the missing third verb of the
    * production ingest loop `flag → accept → upsert`: fold an accepted
    * batch of (doc_id, text) into the persisted [[corpusBandDocs]] /
    * [[corpusHashedSets]] relations, returning the updated pair.
    * Semantics are REBUILD-EQUIVALENT: rows of superseded doc ids (an
    * accepted doc re-using an existing corpus id is a replacement —
    * the re-crawl/new-version case) are dropped from both relations,
    * then the batch's freshly derived bands and hashed sets append.
    * `q_dedup_index_upsert` hash-checks exactly that contract: flag
    * decisions through an upserted index equal decisions through an
    * index rebuilt from scratch on the merged corpus.
    *
    * Scale shape: the supersede prune is a BROADCAST anti-join on the
    * accepted batch's id set — a micro-batch is small by construction,
    * so the corpus-sized index relations never shuffle; the append is
    * shuffle-free union. Per-upsert cost is O(index scan + batch
    * derivation), and the scan goes away entirely on storage that
    * supports keyed MERGE/delete (the anti-join is then the sink's
    * DELETE WHERE corpus_id IN (batch)). Callers persist the returned
    * frames (or lineage-truncate per round in a loop — the iterative
    * plan-depth discipline of [[connectedComponents]]); chaining
    * upserts WITHOUT truncation grows the plan by one anti-join +
    * union per round.
    */
  def indexUpsert(corpusBandDocs: DataFrame, corpusSets: DataFrame,
                  acceptedBatch: DataFrame,
                  numHashes: Int, rowsPerBand: Int,
                  seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
                    XxSeedHash): (DataFrame, DataFrame) = {
    val ids = acceptedBatch.select(col("doc_id").as("corpus_id"))
    val bands = corpusBandDocs
      .join(broadcast(ids), Seq("corpus_id"), "left_anti")
      .unionByName(bandFrame(acceptedBatch, numHashes, rowsPerBand, seedHash)
        .select(col("doc_id").as("corpus_id"), col("band_idx"), col("band_hash")))
    val sets = corpusSets
      .join(broadcast(ids), Seq("corpus_id"), "left_anti")
      .unionByName(corpusHashedSets(acceptedBatch))
    (bands, sets)
  }

  /** [[dedupAgainstCorpus]]'s flag decision computed from a PERSISTED
    * index relation instead of the raw corpus — the prober of the
    * `flag → accept → upsert` loop. Accepts either
    * [[corpusBandDocs]] (ids projected away) or [[corpusBandIndex]].
    * Same left-semi shape and scale stance as [[dedupAgainstCorpus]];
    * the index must have been built with the SAME (numHashes,
    * rowsPerBand, seedHash) — a mismatched family silently flags
    * nothing (the one-hash-family contract).
    */
  def dedupAgainstIndex(batch: DataFrame, corpusBands: DataFrame,
                        numHashes: Int, rowsPerBand: Int,
                        seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
                          XxSeedHash): DataFrame = {
    val matched = bandFrame(batch, numHashes, rowsPerBand, seedHash)
      .join(corpusBands.select("band_idx", "band_hash"),
        Seq("band_idx", "band_hash"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("matched_corpus", lit(1L))
    batch.select("doc_id")
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("matched_corpus"), lit(0L)).as("matched_corpus"))
      .orderBy("doc_id")
  }

  /** The VERIFIED pair prober against PERSISTED index relations: each
    * verified (batch doc, corpus partner) pair as (doc_id, corpus_id) —
    * the edges an incremental
    * clustering step ([[incrementalComponents]]) folds into stored
    * cluster labels. Identical candidate nomination (band equi-join
    * against the persisted index), identical once-per-pair dedup and
    * exact integer verify; same one-hash-family contract.
    */
  def pairsAgainstIndexVerified(batch: DataFrame, corpusBandDocs: DataFrame,
                                corpusSets: DataFrame,
                                numHashes: Int, rowsPerBand: Int,
                                minJaccardPct: Int,
                                seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
                                  XxSeedHash): DataFrame = {
    val hs = graft.plans.SortedHashedSet.sortedHashedSet(split(col("text"), " "))
    bandFrame(batch.withColumn("ws", hs), numHashes, rowsPerBand,
      seedHash, carry = Seq("ws"))
      .join(corpusBandDocs, Seq("band_idx", "band_hash"))
      .dropDuplicates("doc_id", "corpus_id")
      .join(corpusSets, Seq("corpus_id"))
      .transform(verifyJaccard(_, "ws", "cws", minJaccardPct))
      .select("doc_id", "corpus_id")
  }

  /** ONE-PASS batch edge derivation for the ingest loop (SURVEY §8 r14
    * builder note): the edges [[incrementalComponents]] folds are the
    * union of batch-vs-corpus verified pairs
    * ([[pairsAgainstIndexVerified]]) and batch-INTERNAL verified pairs
    * ([[lshVerifiedJaccardPairsUnsorted]]) — called separately, the
    * batch gets MinHash-banded and set-hashed twice. This verb bands
    * and set-hashes the batch ONCE and serves both candidate joins
    * from the same truncated frames; `vs_corpus` = 1 marks the index
    * pairs (the rows a flag decision counts), 0 the internal ones.
    * Per-batch cost drops from 2× banding + 2× set prep to 1× each —
    * at a 10⁶-doc micro-batch that is the difference between the fold
    * being banding-bound or join-bound.
    */
  def batchEdgesVerified(batch: DataFrame, corpusBands: DataFrame,
                         corpusSets: DataFrame, numHashes: Int,
                         rowsPerBand: Int, minJaccardPct: Int,
                         seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
                           XxSeedHash): DataFrame = {
    val bb = Lineage.truncate(
      bandFrame(batch, numHashes, rowsPerBand, seedHash), None)
    val bsets = Lineage.truncate(corpusHashedSets(batch), None)
    def verify(cands: DataFrame, bSide: DataFrame, flag: Int): DataFrame =
      verifyPairs(cands, bsets, bSide, minJaccardPct)
        .select(col("a_id"), col("b_id"), lit(flag.toLong).as("vs_corpus"))
    val vsIndex = verify(
      bb.join(corpusBands, Seq("band_idx", "band_hash"))
        .select(col("doc_id").as("a_id"), col("corpus_id").as("b_id"))
        .distinct(),
      corpusSets, 1)
    val internal = verify(bandPairs(bb), bsets, 0)
    vsIndex.unionByName(internal)
  }

  /** MinHash Jaccard ESTIMATION for the LSH candidate pairs: est =
    * (#equal signature minima)/numHashes — the unbiased estimator the
    * signatures exist for (P[min_i(A) = min_i(B)] = J(A,B) per seed).
    * This is the triage stage between banding and the exact verify: at
    * 100 TB the estimate prices each candidate from numHashes longs
    * ALREADY IN the signature frame — no re-tokenization, no
    * posting-list join — so a pipeline can drop low-estimate pairs (or
    * route tiers to different verifiers) for the cost of an integer
    * comparison per seed. [[lshVerifiedJaccardPairs]] stays the exact
    * path; a spec bounds the estimator's error against it.
    *
    * Scale shape: candidates from the band equi-join (never
    * all-pairs), then two |pairs|-sized hash joins back to the
    * signature frame, which is computed ONCE (localCheckpoint) and is
    * numHashes longs/doc regardless of document length.
    */
  def minHashEstJaccard(documents: DataFrame, numHashes: Int, rowsPerBand: Int,
                        seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
                          XxSeedHash): DataFrame = {
    val sigs = minHashSignatures(documents, numHashes, seedHash)
      .lineageTruncate() // feeds the band frame + both pair sides
    val pairs = bandPairs(bandsOf(sigs, numHashes, rowsPerBand))
    val nEq = (0 until numHashes)
      .map(i => when(col(s"sa.mh_$i") === col(s"sb.mh_$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs
      .join(sigs.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("b_id") === col("sb.doc_id"))
      .select(col("a_id"), col("b_id"), nEq.as("n_eq"))
      .withColumn("est_ppm", expr(s"n_eq * 1000000L div $numHashes"))
      .orderBy("a_id", "b_id")
  }

  /** Incremental dedup — flag which BATCH docs near-duplicate anything
    * already in the CORPUS (the shape a continuously-ingesting pipeline
    * runs: new crawl vs. everything kept so far). Both sides are banded
    * with the same MinHash/LSH parameters; a batch doc is `matched_corpus
    * = 1` iff it shares at least one (band_idx, band_hash) bucket with
    * any corpus doc.
    *
    * Scale shape: candidate detection is a LEFT SEMI equi-join of batch
    * bands against corpus bands — linear in index size, never enumerates
    * (batch × corpus) pairs, and the semi-join short-circuits per
    * band-bucket (no pair blowup inside hot buckets). The corpus side is
    * typically orders of magnitude larger; only its banded projection
    * (doc_id × numBands rows of two longs) is shuffled, never its text.
    */
  def dedupAgainstCorpus(batch: DataFrame, corpus: DataFrame,
                         numHashes: Int, rowsPerBand: Int,
                         seedHash: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
                           XxSeedHash): DataFrame = {
    val batchBands = bandFrame(batch, numHashes, rowsPerBand, seedHash)
    val corpusBands = corpusBandIndex(corpus, numHashes, rowsPerBand, seedHash)
    val matched = batchBands
      .join(corpusBands, Seq("band_idx", "band_hash"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("matched_corpus", lit(1L))
    batch.select("doc_id")
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("matched_corpus"), lit(0L)).as("matched_corpus"))
      .orderBy("doc_id")
  }

  /** L2 — the composition you actually run at 100 TB: MinHash+LSH
    * banding generates candidate pairs (linear in corpus size — a
    * band-hash equi-join, never all-pairs), then exact set Jaccard
    * verifies ONLY those candidates via a per-pair sorted merge-walk
    * intersection count ([[graft.plans.SortedIntersectCount]]).
    * With enough bands the candidate set provably contains every pair
    * above the threshold w.h.p. (p_miss = (1-j^r)^b per pair), so the
    * verified output equals the brute-force answer while the plan stays
    * linear. Same integer-exact output contract as [[jaccardPairs]].
    */
  def lshVerifiedJaccardPairs(documents: DataFrame, numHashes: Int,
                              rowsPerBand: Int, minJaccardPct: Int): DataFrame =
    lshVerifiedJaccardPairsUnsorted(documents, numHashes, rowsPerBand,
      minJaccardPct).orderBy("a_id", "b_id")

  /** [[lshVerifiedJaccardPairs]] without the final total-order sort — the
    * declared-query contract needs the sort, but internal consumers
    * (connected components) immediately re-shuffle on node id, so feeding
    * them the sorted frame would pay one extra full-exchange for nothing.
    */
  def lshVerifiedJaccardPairsUnsorted(documents: DataFrame, numHashes: Int,
                                      rowsPerBand: Int, minJaccardPct: Int): DataFrame = {
    val sets = corpusHashedSets(documents)
    verifyPairs(minHashCandidatesUnsorted(documents, numHashes, rowsPerBand),
      sets, sets, minJaccardPct)
      .select(col("a_id"), col("b_id"), col("common"), col("union_size"),
        jaccardPpm)
  }

  /** Near-dup THRESHOLD SENSITIVITY curve (round 13): how the verified
    * pair mass and the number of documents involved move as the Jaccard
    * threshold tightens — the knob audit for `minJaccardPct`, the same
    * way `q_lsh_calibration` audits the band parameters. One banded
    * verify pass at the BASE threshold (kept at ≥80%, the regime where
    * the band config's catch probability makes the candidate set
    * provably complete w.h.p. — see q_lsh_calibration: 32×2 reads
    * ≥999999 ppm at τ≥0.8; dropping the base lower would put oracle
    * exactness at the mercy of per-pair luck at corpus pair counts),
    * then each τ in the grid is a conditional count over the SAME pair
    * frame — the curve costs one pass regardless of grid size. Zero-pair
    * thresholds still emit a row (left join), so the relation's shape is
    * grid-stable across corpora.
    */
  def thresholdCurve(documents: DataFrame, numHashes: Int, rowsPerBand: Int,
                     baseJaccardPct: Int, tausPpm: Seq[Long]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val pairs = Lineage.truncate(
      lshVerifiedJaccardPairsUnsorted(documents, numHashes, rowsPerBand,
        baseJaccardPct).select("a_id", "b_id", "jaccard_ppm"),
      None)
    val grid = tausPpm.toDF("tau_ppm")
    val filtered = pairs.crossJoin(broadcast(grid))
      .filter(col("jaccard_ppm") >= col("tau_ppm"))
    val nPairs = filtered.groupBy("tau_ppm")
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = filtered
      .select(col("tau_ppm"), explode(array(col("a_id"), col("b_id"))).as("d"))
      .distinct()
      .groupBy("tau_ppm").agg(count(lit(1)).as("n_docs"))
    grid.join(nPairs, Seq("tau_ppm"), "left")
      .join(nDocs, Seq("tau_ppm"), "left")
      .select(col("tau_ppm"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("tau_ppm")
  }

  /** Engine-portable 60-bit word hash: the top 15 hex chars of md5,
    * decoded to a long. Slower than xxhash64 but reproducible in ANY
    * engine with md5 (DuckDB: `('0x' || substr(md5(w), 1, 15))::BIGINT`),
    * which makes hash-seeded sketches oracle-checkable. 2^60 < 2^63, so
    * the decode never overflows a signed long.
    */
  def md5Hash60(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** L2 — SimHash: signature where bit j is the sign of the sum over
    * words of ±1 according to bit j of hash(word). Near-dups have small
    * Hamming distance.
    *
    * `hashFn`/`numBits` select the hash: xxhash64/64 is the fast
    * production default; [[md5Hash60]]/60 is the engine-portable variant
    * the declared queries use so a DuckDB oracle can replay the exact
    * signature.
    *
    * Round-7 A/B (SCALE.md): aggregation runs through the bit-packed
    * [[graft.plans.SimHashAgg]] buffer — ~20% faster at sf0.1 than the
    * 64-aggregate-column form ([[simHashWide]], kept as the measured
    * reference), including under ObjectHashAggregate's sort-based
    * fallback (>128 groups/partition), because one tight 64-iteration
    * loop per input row beats 64 codegen'd when-branches.
    */
  def simHash(documents: DataFrame,
              hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column = xxhash64(_),
              numBits: Int = 64): DataFrame =
    documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id")
      .agg(graft.plans.SimHashAgg(hashFn(col("word")), numBits).as("simhash"))
      .orderBy("doc_id")

  /** The pre-round-7 [[simHash]] shape: 64 codegen'd `sum(when(...))`
    * aggregate columns + a sign-packing projection. Kept as the
    * independent implementation the equality tests pin [[simHash]]
    * against — the packed
    * [[graft.plans.SimHashAgg]] measured ~20% faster at sf0.1 even in
    * ObjectHashAggregate's sort-based fallback regime (SCALE.md
    * round-7 A/B), so the packed form is the production path.
    */
  def simHashWide(documents: DataFrame,
                  hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column = xxhash64(_),
                  numBits: Int = 64): DataFrame = {
    val bitCols = (0 until numBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"b_$j")
    }
    val perBit = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .withColumn("h", hashFn(col("word")))
      .groupBy("doc_id")
      .agg(bitCols.head, bitCols.tail: _*)
    val sig = (0 until numBits).map { j =>
      when(col(s"b_$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    perBit.select(col("doc_id"), sig.as("simhash")).orderBy("doc_id")
  }

  /** L2 — n-gram (shingle) Jaccard: same inverted-index pipeline as
    * [[jaccardPairs]] but over word n-gram shingles, which is the
    * standard near-dup unit for LLM corpus cleaning.
    */
  def ngramJaccardPairs(documents: DataFrame, n: Int, minJaccardPct: Int): DataFrame = {
    // Tokenize-once (round 5): split lives in its own projection (the
    // optimizer won't inline a non-cheap multi-referenced alias), and the
    // `size < n` guard (sequence(0, size-n) turns DESCENDING when
    // size < n) is a null-producing `when` instead of a Filter — explode
    // drops null arrays, so short docs vanish WITHOUT predicate pushdown
    // re-deriving `size(split(…))` at the scan. One split per row, one
    // pass. The shingle index then feeds three consumers (sizes + both
    // join sides) — localCheckpoint it like [[jaccardPairs]] so the scan
    // + shingling runs once, and the blocks free on result drop.
    val shingled = documents
      .select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .select(
        col("doc_id"),
        explode(array_distinct(when(size(col("__ws")) >= n,
          TextOps.wordNgrams(col("__ws"), n)))).as("word"))
      .lineageTruncate()
    overlapJaccard(shingled, minJaccardPct)
      .select(col("a_id"), col("b_id"), col("common"), col("union_size"))
      .orderBy("a_id", "b_id")
  }

  /** LOCAL CONTRACTION for [[connectedComponents]]: collapse each
    * partition's edge list to its spanning forest with an in-partition
    * union-find (one narrow pass, no shuffle). The union of
    * per-partition forests has EXACTLY the components of the full edge
    * set (a forest preserves
    * the connectivity of the edges it summarizes; connectivity is the
    * union of per-partition connectivities), so both CC phases iterate
    * over ≤ |V_p|−1 edges per partition instead of |E_p| — on dense
    * near-dup graphs (boilerplate clusters are near-cliques: |E| grows
    * quadratically in cluster size while the forest stays linear) this
    * is the difference between shuffling the quadratic pair list every
    * round and shuffling ~|V|. This is the "local aggregation" trick of
    * the MapReduce-CC literature (cf. Kiveris et al., SoCC'14 §optim.);
    * mapPartitions is justified here by SURVEY §4.2(d): union-find is
    * genuinely per-partition imperative state no relational op expresses
    * in one pass.
    *
    * Output rows are (root, member) with root = the partition-component
    * minimum, root < member — a valid undirected edge list. Nodes that
    * only ever appear in self-loops (a,a) are emitted as (a,a) so
    * [[connectedComponents]] keeps reporting them as singleton clusters.
    *
    * Executor memory: one [[LongUnionFind]] per partition — ~17
    * bytes/slot open-addressed primitive arrays (review fix: the boxed
    * HashMap draft was ~3× that), sized by DISTINCT NODES in the
    * partition. The honest bound (review fix): the pairs frames fed
    * here are post-shuffle join outputs, so partition row counts are
    * governed by `spark.sql.shuffle.partitions` and join-key skew —
    * NOT by files.maxPartitionBytes — and nodes ≤ 2·rows. At 32 GB
    * executors that is comfortable into the billions of edge rows per
    * partition; a pathological skew that concentrates more distinct
    * nodes than memory should `repartition(n)` the pair frame first
    * (any partitioning is correctness-neutral here).
    *
    * TWO PASSES (optimization round 19, guide §2.4): pass 1 contracts
    * each partition of the raw pairs; pass 2 re-contracts the pass-1
    * forest after ONE narrow shuffle that co-locates rows by MEMBER, so
    * trees built in different pass-1 partitions merge wherever they
    * share a node. Pass-1 contraction quality depends entirely on the
    * INPUT's partition layout — measured both ways this round: the
    * stored-kNN parquet edge artifact scatters adjacent edges across
    * partitions (20 propagation rounds at sf0.1 before pass 2), and
    * the round-19 fan-out repartition of the MinHash band join spreads
    * verified pairs the same way. Pass 2 makes contraction far less
    * layout-sensitive: same-member rows co-locate by hash regardless of
    * where the edges were produced. It is not a bound: with coalescing
    * off, a chain whose ids are shuffled along it keeps near-full
    * diameter through both passes (adjacent edges co-locate only by
    * hash chance), and [[connectedComponents]] hands such graphs to
    * star contraction after its min-label rounds. Exactness:
    * every forest row (root, member) is a real same-component edge, so
    * re-contracting a union of such edges preserves components exactly
    * (same argument as pass 1). The pass-2 exchange shuffles ≤ 2 rows
    * per node of 2 longs each — `repartition(col)` WITHOUT an explicit
    * count, so AQE sizes it from bytes: a small forest collapses to few
    * partitions (local contraction goes global — q_knn_graph_stored
    * 3.7 → 0.63 s, 20 rounds → 1-round fixpoint at sf0.1), a 100 TB
    * forest stays wide with per-task memory bounded by the hash
    * distribution of members.
    */
  private[graft] def localSpanningForest(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    def contract(edges: DataFrame): DataFrame = {
      import spark.implicits._
      edges
        .select(col(edges.columns(0)).cast("long"), col(edges.columns(1)).cast("long"))
        .as[(Long, Long)]
        .mapPartitions { it =>
          val uf = new LongUnionFind(1 << 10)
          it.foreach { case (a, b) => uf.union(a, b) }
          // one output row per tracked node: (find(k), k) — a root's own
          // row degenerates to (r, r), which for size-1 components
          // (self-loop-only nodes) is the ONLY trace of the node, and for
          // larger ones is one redundant self-edge per component that
          // both CC phases tolerate (min-label folds self-loops in, star
          // contraction filters u ≠ v). Emitted LAZILY off the table —
          // no second output-sized buffer alongside it.
          uf.entries
        }
        .toDF("a_id", "b_id")
    }
    contract(contract(pairs).repartition(col("b_id")))
  }

  /** L2 — connected components over candidate pairs. Two phases share
    * one `maxIter` budget:
    *
    *  1. MIN-LABEL PROPAGATION, at most [[MinLabelRounds]] persisted
    *     rounds over the contracted forest: every node starts labeled
    *     with its closed-neighborhood minimum (round 1 folded into
    *     init), each round takes the min of its neighbors' labels, and
    *     a checksum probe detects the fixpoint. Near-dup clusters are
    *     near-cliques and the two-pass [[localSpanningForest]] collapses
    *     most layouts outright, so every sf0.1 consumer converges here
    *     at round 1 — one equi-join + groupBy per round, all shuffles
    *     keyed on node id, no driver state.
    *  2. STAR CONTRACTION when the labels have not converged by then
    *     (large-star/small-star, Kiveris et al., "Connected Components
    *     in MapReduce and Beyond", SoCC'14) over the edges ∪
    *     (label(x), x). A label is always a member of its node's own
    *     component, so the label edges only shortcut paths the graph
    *     already has and the components are exact. Min-label needs
    *     O(diameter) rounds — an id-shuffled chain scattered across
    *     partitions keeps near-full diameter through both contraction
    *     passes — while star contraction converges in O(log² n) rounds
    *     on any topology by rewiring each vertex toward its
    *     neighborhood minimum.
    *
    * Lineage truncation is `localCheckpoint` by default; pass
    * `checkpointDir` for the RELIABLE `checkpoint()` that survives
    * executor loss (see [[Lineage.truncate]] — the 100 TB production
    * setting).
    *
    * Returns (id, cluster_id) where cluster_id = min doc id of the
    * component — deterministic under any partitioning; nodes that only
    * appear in self-loops come back as singletons. The returned frame
    * reads its own eagerly truncated leaf: every per-round cache is
    * released on exit (nothing stays registered in the CacheManager),
    * and the checkpoint blocks themselves are freed by the
    * ContextCleaner once the caller drops the result
    * (StorageReleaseSpec asserts this). Throws if the shared iteration
    * cap is hit before the fixpoint — a capped exit would silently emit
    * wrong clusters.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
                          checkpointDir: Option[String] = None): DataFrame = {
    // Undirected doubling PLUS self-loops via ONE explode projection (a
    // union of selects would execute the — possibly expensive — pairs
    // pipeline once per branch). The self-loop rows fold the "keep own
    // label" case into the neighbor-min aggregation, so each round is
    // exactly one join + one groupBy — two shuffles, no left-join repair
    // step.
    // localSpanningForest first: the iterated rounds (and the distinct
    // below) then process ~|V| forest edges, not the possibly-quadratic
    // verified pair list
    val forest = localSpanningForest(pairs)
    val edges = Lineage.truncate(
      forest.select(explode(array(
          struct(col("a_id").as("src"), col("b_id").as("dst")),
          struct(col("b_id").as("src"), col("a_id").as("dst")),
          struct(col("a_id").as("src"), col("a_id").as("dst")),
          struct(col("b_id").as("src"), col("b_id").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct(),
      checkpointDir)
    // Round 1 folded into initialization (optimization round 18, guide
    // §2.4 — remove shuffles outright): with labels⁰(x) = x, round 1's
    // join against the identity labeling reduces to min(dst) per src
    // over the edge relation — ONE map-side-combined groupBy, no join,
    // and no separate `distinct` for the node set (the groupBy provides
    // it). Identical fixpoint by induction — the recurrence
    // labelₖ₊₁(x) = min over closed neighborhood of labelₖ is
    // unchanged, only its first step is evaluated in closed form.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min("dst").as("label")).persist()
    // Convergence probe without a prev-vs-next comparison join: label
    // updates are monotone decreasing, so sum(label) strictly decreases
    // until the fixpoint — an unchanged checksum ⟺ converged. One scalar
    // aggregation per round. The sum runs in DECIMAL(38,0): node ids may
    // be 60-bit portable hashes (fuzzyEntityResolve), whose int64 sum
    // overflows under ANSI after a few dozen rows — exact decimal keeps
    // the monotone-decrease argument intact at any id magnitude.
    // A null sum means the edge set is empty — vacuously converged.
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] = {
      val row = df.agg(sum(col("label").cast(
        org.apache.spark.sql.types.DecimalType(38, 0)))).collect()(0)
      if (row.isNullAt(0)) None else Some(row.getDecimal(0))
    }
    var checksum = labelSum(labels)
    var converged = checksum.isEmpty
    var iter = 0
    while (!converged && iter < math.min(MinLabelRounds, maxIter)) {
      val next = edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("label").as("label"))
        .persist()
      val nextSum = labelSum(next)
      converged = nextSum.forall(n => checksum.exists(_.compareTo(n) == 0))
      checksum = nextSum
      labels.unpersist()  // only the latest round's cache stays live
      labels = next
      iter += 1
      log.debug(s"[connectedComponents] round $iter checksum=$nextSum")
    }
    // Eagerly materialize the result into its own checkpoint, then
    // release the last round's cache: the returned frame no longer
    // references the per-round persist OR the edges checkpoint, so the
    // session accumulates no dead blocks across invocations (round-3
    // finding: a long-lived session leaked one cached round + the edges
    // blocks per call).
    try Lineage.truncate(
      if (converged) labels.select(col("id"), col("label").as("cluster_id"))
      else starContraction(edges, labels, iter, maxIter, checkpointDir),
      checkpointDir)
    finally labels.unpersist()
  }

  /** Persisted min-label rounds [[connectedComponents]] runs before it
    * hands an unconverged graph to star contraction.
    */
  private val MinLabelRounds = 2

  /** Phase 2 of [[connectedComponents]]: alternating large-star /
    * small-star contraction over the min-label `edges` (src, dst) ∪
    * (label(x), x), resuming the shared round budget at `startIter`.
    * Round shape: large-star is one symmetric-adjacency groupBy + join
    * (2|E| rows → |V| keys), small-star one groupBy + join on the
    * canonical (lo, hi) set — bounded shuffles, edges truncated per
    * round (the [[kCoreFixedRounds]] lineage discipline). Convergence
    * = the edge set reaching its star fixpoint, checked with a two-way
    * exceptAll emptiness probe (one bounded job per round). The
    * fixpoint edge set IS the star forest (root = component minimum);
    * self-loop-only nodes have no star edge and come back as their own
    * cluster through the left join on `labels`.
    */
  private def starContraction(edges: DataFrame, labels: DataFrame,
                              startIter: Int, maxIter: Int,
                              checkpointDir: Option[String]): DataFrame = {
    var star = Lineage.truncate(
      edges.select(col("src").as("a"), col("dst").as("b"))
        .union(labels.select(col("label").as("a"), col("id").as("b")))
        .select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct(),
      checkpointDir)

    // large-star: every vertex x sends each LARGER neighbor to the
    // minimum of its closed neighborhood — (nbr, m) with m ≤ x < nbr
    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.select(col("u").as("x"), col("v").as("nbr"))
        .union(e.select(col("v").as("x"), col("u").as("nbr")))
      val mins = adj.groupBy("x").agg(min(col("nbr")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      adj.join(mins, "x")
        .filter(col("nbr") > col("x"))
        .select(col("m").as("u"), col("nbr").as("v"))
        .distinct()
    }

    // small-star: every vertex hi rewires its smaller neighbors (and
    // itself) to their minimum — (m, lo) and (m, hi), m < lo < hi
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("v").agg(min(col("u")).as("m"))
      e.join(mins, "v")
        .filter(col("u") =!= col("m"))
        .select(col("m").as("u"), col("u").as("v"))
        .union(mins.select(col("m").as("u"), col("v")))
        .distinct()
    }

    var iter = startIter
    var converged = false
    while (!converged && iter < maxIter) {
      val next = Lineage.truncate(smallStar(largeStar(star)), checkpointDir)
      converged = next.exceptAll(star).union(star.exceptAll(next)).isEmpty
      star = next
      iter += 1
      log.debug(s"[connectedComponents] star round $iter")
    }
    // exiting on the iteration cap with unmerged stars would emit
    // silently WRONG clusters — fail loudly instead
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; " +
          "raise maxIter")
    val roots = star.select(col("v").as("id"), col("u").as("cluster_id"))
      .union(star.select(col("u").as("id"), col("u").as("cluster_id")))
      .distinct()
    labels.select("id").join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** INCREMENTAL CONNECTED COMPONENTS (VERDICT r13 #6) — the last
    * streaming-dedup verb: fold a batch's verified edges into STORED
    * cluster labels without re-reading the historical edge list. The
    * stored (id, cluster_id) relation is itself a connectivity
    * summary — each cluster is the star {(cluster_id, id)} — and a
    * star has exactly the components of the edges it summarized, so
    * running the audited [[connectedComponents]] engine over
    * star(labels) ∪ newEdges reproduces the from-scratch rebuild on
    * (oldEdges ∪ newEdges) EXACTLY (q_dedup_incremental_cc
    * hash-checks that rebuild equivalence; Round14OpsSpec pins the
    * engine-side frame equality too). Batch edges may touch brand-new
    * nodes, bridge two stored clusters (labels merge to the global
    * min), or land inside one (labels unchanged); label-only nodes
    * ride through as self-loops, so singleton clusters survive the
    * fold.
    *
    * This is the [[indexUpsert]] economics applied to clustering: a
    * rebuild re-shuffles the full (possibly quadratic) pair history
    * every batch, while the incremental fold iterates over
    * |V| + |batch edges| rows — the label relation replaces the edge
    * history as the persisted state, and it is linear in the corpus.
    * Callers persist the returned labels (or lineage-truncate per
    * ingest round — the same chaining discipline as [[indexUpsert]]).
    * Columns are resolved by name (ADVICE r14 — positional reads
    * silently inverted a (cluster_id, id)-ordered frame).
    */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame,
                            maxIter: Int = 50,
                            checkpointDir: Option[String] = None): DataFrame = {
    require(labels.columns.contains("id") &&
        labels.columns.contains("cluster_id"),
      s"incrementalComponents: labels must carry (id, cluster_id), " +
        s"got ${labels.columns.mkString(", ")}")
    require(newEdges.columns.contains("a_id") &&
        newEdges.columns.contains("b_id"),
      s"incrementalComponents: newEdges must carry (a_id, b_id), " +
        s"got ${newEdges.columns.mkString(", ")}")
    val star = labels.select(
      col("cluster_id").cast("long").as("a_id"),
      col("id").cast("long").as("b_id"))
      .unionByName(newEdges.select(
        col("a_id").cast("long").as("a_id"),
        col("b_id").cast("long").as("b_id")))
    connectedComponents(star, maxIter, checkpointDir)
  }

  /** Fixed-point PageRank over an undirected pair graph (near-dup
    * centrality: which document anchors its duplicate cluster). All
    * arithmetic is integer ppm with truncating division, so every
    * iteration is bit-reproducible in any engine / partitioning — a
    * floating-point PageRank can never hash-match across engines.
    *
    * rank₀ = 1e6; rankₖ₊₁ = 150000 + 850000·(Σ_in floor(rankₖ/outdeg))/1e6
    * (damping 0.85 in ppm). Fixed iteration count (the caller picks it —
    * near-dup graphs are near-cliques, so ranks settle in a few rounds;
    * this is a demonstration of the ITERATIVE JOIN shape: each round is
    * one equi-join + one groupBy, both keyed on node id, no driver
    * state beyond the loop counter). The undirected graph has no
    * dangling nodes (every node has degree ≥ 1), so no dangling-mass
    * term is needed.
    *
    * Lineage/storage discipline: `ranks` is re-checkpointed every
    * [[PageRankCheckpointEvery]] rounds — without it the plan tree (and
    * optimizer time) grows linearly in the iteration count, re-deriving
    * the whole chained join tree per action. The edges/deg checkpoints
    * and the returned frame hold executor blocks only while the caller
    * holds the result: nothing registers in the CacheManager, so the
    * ContextCleaner frees all of it on drop (StorageReleaseSpec).
    */
  val PageRankCheckpointEvery = 8

  def pageRankFixedPoint(pairs: DataFrame, iterations: Int,
                         checkpointDir: Option[String] = None): DataFrame = {
    val edges = Lineage.truncate( // truncate lineage once; the loop reuses edges
      pairs.select(explode(array(
          struct(col("a_id").as("src"), col("b_id").as("dst")),
          struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct(),
      checkpointDir)
    val deg = Lineage.truncate(
      edges.groupBy("src").agg(count(lit(1)).as("outdeg")), checkpointDir)
    // outdeg rides IN the rank relation (optimization round 18, guide
    // §2.4): it is a static property of the graph, so re-joining the
    // loop-invariant edges ⋈ deg every round paid one |E|-sized join
    // per iteration for nothing — each round is now ONE edges ⋈ ranks
    // join plus the |V|-keyed rollup and repair join. Same ppm
    // arithmetic, bit-identical trajectory.
    var ranks = deg.select(col("src").as("id"), col("outdeg"),
      lit(1000000L).as("rank_ppm"))
    for (i <- 1 to iterations) {
      val contrib = edges
        .join(ranks.select(col("id").as("src"),
          expr("rank_ppm div outdeg").as("c")), "src")
        .select(col("dst"), col("c"))
        .groupBy("dst").agg(sum("c").as("sc"))
      ranks = deg.select(col("src").as("id"), col("outdeg"))
        .join(contrib.select(col("dst").as("id"), col("sc")), Seq("id"), "left")
        .select(col("id"), col("outdeg"),
          (lit(150000L) + expr("850000L * coalesce(sc, 0L) div 1000000L"))
            .as("rank_ppm"))
      if (i % PageRankCheckpointEvery == 0 && i < iterations)
        ranks = Lineage.truncate(ranks, checkpointDir)
    }
    ranks.select(col("id"), col("rank_ppm")).orderBy("id")
  }

  /** L2/graph — per-node triangle counts over an undirected pair graph
    * (near-dup graph density: a node in many triangles sits in a tight
    * duplicate clique; a triangle-free node is a chain artifact worth a
    * second look). Exact counting via DEGREE-ORIENTED wedge closure —
    * the standard distributed-triangle trick: orient every edge toward
    * its (degree, id)-larger endpoint, build wedges only from each
    * node's OUT-edges, and close them with an equi-join. Orientation
    * bounds every node's out-degree by O(√|E|) (arboricity), so the
    * wedge fan-out never explodes on a hub node the way a naive
    * id-ordered join does — the difference between √|E| and max-degree
    * wedge cost at 100 TB.
    *
    * Three bounded shuffles: degree rollup, wedge equi-join on the wedge
    * apex, closure equi-join on the (y, z) edge key (plus one |E|-keyed
    * normalization shuffle, below).
    *
    * Input contract (ADVICE r6): the math needs each undirected edge
    * exactly ONCE — duplicate edges or both (a,b)/(b,a) orientations
    * would double degrees and replicate wedges. Rather than trust the
    * caller, the edge list is normalized internally
    * (least/greatest + distinct, self-loops dropped); for compliant
    * inputs (e.g. [[jaccardPairs]] output, already distinct a<b) the
    * distinct is a cheap |E|-bounded rollup, and for anything else it
    * is the difference between a correct and a silently-wrong count.
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val raw = pairs
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .distinct()
    val deg = raw.select(explode(array(col("a_id"), col("b_id"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = raw
      .join(deg.select(col("id").as("a_id"), col("deg").as("da")), "a_id")
      .join(deg.select(col("id").as("b_id"), col("deg").as("db")), "b_id")
    // total order k(v) = (deg, id): strict for distinct nodes, so each
    // edge gets exactly one orientation and each triangle {u<v<w by k}
    // decomposes uniquely into out-edges u→v, u→w, v→w
    val aFirst = struct(col("da"), col("a_id")) < struct(col("db"), col("b_id"))
    val oriented = withDeg.select(
        when(aFirst, col("a_id")).otherwise(col("b_id")).as("src"),
        when(aFirst, col("b_id")).otherwise(col("a_id")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("deg_dst"))
      .lineageTruncate()  // feeds the wedge self-join AND the closure probe
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          struct(col("e1.deg_dst"), col("e1.dst")) <
            struct(col("e2.deg_dst"), col("e2.dst")))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
    // k(y) < k(z) by construction, so the closing edge — if it exists —
    // is oriented y→z: one EQUI-join, no OR-of-orientations non-equi probe
    val closed = wedges.join(
      oriented.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"))
    closed.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }

  /** Graph hardening — FIXED-ROUND k-core peeling: repeatedly drop
    * vertices of degree < k (with their edges), `rounds` times, and
    * report the surviving vertices with their residual degree. The
    * standard community/noise filter over a similarity graph: a
    * near-dup cluster's members sit in a dense core, while chains of
    * borderline pairs peel away.
    *
    * Fixed-round (not iterate-to-fixpoint) is the DECLARED semantics:
    * every engine — and the SQL oracle, as `rounds` nested CTEs —
    * computes the identical relation with a statically known plan
    * depth. On graphs whose peel cascades are shorter than `rounds`
    * (typical for similarity graphs, where cores are dense cliques and
    * peripheries are shallow), the result IS the true k-core; a
    * KCoreSpec property pins that equivalence against driver-side
    * fixpoint peeling.
    *
    * Scale shape: each round is one map-side-combined degree rollup
    * (2|E| rows → |V| keys) plus two hash semi-joins of the edge list
    * against the |V|-bounded survivor set — 3 bounded shuffles per
    * round, no window, no driver iteration or collect. Edges are
    * normalized (least/greatest + distinct) like [[triangleCounts]],
    * so duplicate or double-oriented inputs cannot double degrees.
    */
  def kCoreFixedRounds(pairs: DataFrame, k: Int, rounds: Int,
                       checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k>=1, rounds>=1; got k=$k rounds=$rounds")
    // Lineage/storage discipline (the connectedComponents pattern):
    // every round consumes its edge frame TWICE (degree rollup + the
    // semi-join probe), so without a per-round checkpoint the upstream
    // pipeline — possibly a full inverted-index jaccard join — would
    // re-execute 2^rounds times in one action. Checkpoint blocks are
    // ContextCleaner-released when the result frame drops.
    var edges = Lineage.truncate(
      pairs
        .select(least(col("a_id"), col("b_id")).as("a_id"),
          greatest(col("a_id"), col("b_id")).as("b_id"))
        .filter(col("a_id") =!= col("b_id"))
        .distinct(),
      checkpointDir)
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("a_id"), col("b_id"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("deg"))
    for (r <- 1 to rounds) {
      val keep = degrees(edges).filter(col("deg") >= k)
      val next = edges
        .join(keep.select(col("id").as("a_id")), Seq("a_id"), "left_semi")
        .join(keep.select(col("id").as("b_id")), Seq("b_id"), "left_semi")
        .select("a_id", "b_id")
      edges = if (r < rounds) Lineage.truncate(next, checkpointDir) else next
    }
    degrees(edges).select(col("id").as("doc_id"), col("deg"))
      .orderBy("doc_id")
  }

  /** BFS REACH DEPTHS (round 15, wave 7) — minimum hop count from a
    * seed set over an undirected (a_id, b_id) edge relation, bounded at
    * `maxDepth`: the propagation / influence-radius primitive the CC
    * engines deliberately lack (components answer "connected at all?";
    * this answers "how far?" — contamination spread from flagged seeds,
    * provenance blast radius, neighborhood audits around a takedown).
    *
    * Classic frontier expansion: each round joins ONLY the frontier
    * (the rows discovered last round, shrinking fast on sparse graphs)
    * against the edge list, anti-joins the visited set, and stamps the
    * round number — BFS's first-visit depth IS the minimum depth, so no
    * re-relaxation is ever needed. `maxDepth` rounds of (frontier ⋈
    * edges) with one early-exit count per round; visited/frontier are
    * lineage-truncated per round (the [[kCoreFixedRounds]] discipline),
    * so round r never re-executes rounds 1..r−1.
    *
    * Unreached vertices are absent from the output — callers left-join
    * if they want NULL depths. Seeds appear at depth 0 whether or not
    * they touch any edge.
    */
  def bfsDepths(pairs: DataFrame, seeds: Seq[Long], maxDepth: Int,
                checkpointDir: Option[String] = None): DataFrame = {
    require(seeds.nonEmpty, "bfsDepths needs at least one seed")
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val spark = pairs.sparkSession
    import spark.implicits._
    val fwd = pairs.select(col("a_id").cast("long").as("src"),
      col("b_id").cast("long").as("dst"))
    val edges = Lineage.truncate(
      fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct(),
      checkpointDir) // consumed once per round
    var visited = seeds.distinct.sorted.toDF("id")
      .withColumn("depth", lit(0L))
    var frontier = visited.select("id")
    var d = 1
    var frontierNonEmpty = true
    while (d <= maxDepth && frontierNonEmpty) {
      val next = Lineage.truncate(
        frontier.join(edges, col("id") === col("src"))
          .select(col("dst").as("id")).distinct()
          .join(visited, Seq("id"), "left_anti"),
        checkpointDir)
      frontierNonEmpty = !next.isEmpty
      if (frontierNonEmpty) {
        // visited needs no checkpoint of its own (optimization round
        // 18): every frontier in it is already truncated, so the union
        // is a shallow plan of ≤ maxDepth checkpoint scans — one fewer
        // materialization job per round at the same anti-join cost.
        visited = visited.unionByName(next.withColumn("depth", lit(d.toLong)))
        frontier = next
      }
      d += 1
    }
    visited.orderBy("id")
  }

  /** L4 — FUZZY test-set decontamination: corpus documents whose
    * word-set Jaccard against ANY held-out benchmark document reaches
    * `minJaccardPct` — the near-duplicate sibling of [[decontaminate]]
    * (which needs ≥ N shared n-grams verbatim; paraphrased or lightly
    * edited eval leakage passes that filter but not this one). Output
    * is the full (corpus doc, benchmark doc, overlap) audit relation —
    * callers anti-join their corpus against the doc_id column.
    *
    * Same inverted-index equi-join + pure-integer Jaccard contract as
    * [[jaccardPairs]], but CROSS-side: candidates must share a word
    * ACROSS the corpus/benchmark boundary, so the join is linear in
    * the benchmark's posting lists rather than quadratic in the
    * corpus's. The benchmark side (an eval suite — thousands of docs,
    * not billions) is aggregated and broadcast; the corpus-side
    * inverted index feeds two consumers (sizes + the pair join) so it
    * is checkpointed once — at petabyte scale that becomes a
    * checkpoint table, per the [[jaccardPairs]] discipline.
    */
  def jaccardAgainstCorpus(corpus: DataFrame, benchmark: DataFrame,
                           minJaccardPct: Int): DataFrame = {
    val cw = docWords(corpus).lineageTruncate() // sizes + pair join
    val bw = docWords(benchmark)
      .select(col("doc_id").as("bench_id"), col("word"))
      .lineageTruncate() // feeds sizes + the join probe side
    val cSizes = cw.groupBy("doc_id").agg(count(lit(1)).as("c_size"))
    val bSizes = bw.groupBy("bench_id").agg(count(lit(1)).as("b_size"))
    val common = cw.join(broadcast(bw), Seq("word"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("common"))
    jaccardGate(common
      .join(cSizes, Seq("doc_id"))
      .join(broadcast(bSizes), Seq("bench_id"))
      .withColumn("union_size",
        col("c_size") + col("b_size") - col("common")), minJaccardPct)
      .select(col("doc_id"), col("bench_id"), col("common"),
        col("union_size"), jaccardPpm)
      .orderBy("doc_id", "bench_id")
  }

  /** Local clustering coefficients: per node, 2·triangles·10⁶ div
    * (deg·(deg−1)) ppm — how clique-like each node's neighborhood is.
    * On a near-dup similarity graph this separates TRUE duplicate
    * clusters (coefficient → 10⁶: everyone resembles everyone) from
    * hub artifacts like boilerplate-linked stars (high degree, low
    * closure) — the standard triage signal before trusting a cluster.
    * Degree-<2 nodes have no wedge to close: coefficient 0.
    *
    * Reuses [[triangleCounts]]'s degree-oriented wedge closure (its
    * normalization handles messy inputs) plus one degree rollup and a
    * left join — all |V|/|E|-bounded, pure integer output.
    */
  def clusteringCoefficients(pairs: DataFrame): DataFrame = {
    val norm = pairs
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .distinct()
      .lineageTruncate() // feeds degrees AND the triangle pipeline
    val deg = norm.select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
    deg.join(triangleCounts(norm), Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("deg") < 2, lit(0L))
          .otherwise(expr(
            "coalesce(n_triangles, 0L) * 2000000L div (deg * (deg - 1))"))
          .as("coeff_ppm"))
      .orderBy("doc_id")
  }

  /** Σw² accumulated in Decimal(38,0) and checked against 2⁶³ before the
    * cast back to BIGINT — the enforcement half of the overflow contract
    * on [[tfidfCosinePairs]]/[[tfidfCosinePairsPrefix]]: a violating
    * corpus raises at the norms aggregate (the first place overflow is
    * provable) instead of silently wrapping downstream dot products.
    */
  private def guardedNormS(w: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val s = sum(w.cast(d38) * w.cast(d38))
    when(s.isNull || s > lit(Long.MaxValue).cast(d38),
      raise_error(lit("tfidf cosine: per-doc sum(w*w) >= 2^63 breaks the " +
        "int64 dot/norm contract — pre-chunk oversized documents " +
        "(see tfidfCosinePairs scaladoc)")))
      .otherwise(s.cast("long"))
  }

  /** The integer tf·idf weights (doc_id, word, `carry`…, w) with
    * w = tf · (10⁶ div df) — the block [[tfidfCosinePairs]] and
    * [[tfidfCosinePairsPrefix]] share. The vocabulary broadcast is a
    * PARAMETER (the tfIdfTopTerms r10 discipline): pass false when the
    * vocabulary outgrows executors.
    */
  private def tfidfWeights(documents: DataFrame, broadcastVocab: Boolean,
                           carry: Column*): DataFrame = {
    val tf = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    tf.join(if (broadcastVocab) broadcast(dfq) else dfq, Seq("word"))
      .select(Seq(col("doc_id"), col("word")) ++ carry :+
        (col("tf") * expr("1000000L div df")).as("w"): _*)
  }

  /** L2/L4 — sparse TF-IDF cosine near-dup pairs: the weighted cousin of
    * [[jaccardPairs]] — two documents are near-dups when their tf-idf
    * vectors point the same way, which (unlike raw word-set Jaccard)
    * discounts ubiquitous words and up-weights rare shared terms.
    *
    * Exactness contract: weights are integers w = tf · (10⁶ div df)
    * (same ln-free integer-idf rationale as [[TextOps.tfIdfTopTerms]]);
    * dot products and norms are int64 sums of integer products (order-
    * free); the cosine threshold `cos ≥ τ` is tested square-free as
    * `dot²·10⁴ ≥ τ²·10⁴·|a|²·|b|²` with both engines computing identical
    * IEEE double products from identical int64 inputs — the
    * [[SimilarityOps.cosinePairsExact]] precedent. Bounds: tf ≤ doc len,
    * idf ≤ 10⁶ ⇒ w ≤ 5·10⁷ for 50-token docs; Σ w·w over a shared vocab
    * of thousands stays ≪ 2⁶³.
    *
    * ENFORCED overflow contract (ADVICE r6 documented the precondition,
    * ADVICE r7 asked for teeth): per-doc norms are accumulated in
    * Decimal(38,0) and `raise_error` fires if any norm reaches 2⁶³ —
    * so a corpus that would wrap (book-length docs of df=1 terms) now
    * fails LOUDLY instead of silently corrupting the threshold test.
    * That single check covers the pair arithmetic too: weights are
    * nonnegative, so every partial dot sum is ≤ the full dot, and by
    * Cauchy–Schwarz dot(a,b) ≤ √(norm_a·norm_b) < 2⁶³ whenever both
    * norms pass the guard; likewise each product w_a·w_b < 2⁶³ since
    * w² ≤ norm < 2⁶³ bounds each weight below 2^31.5. The guarded
    * norm is cast back to BIGINT, so the public schema is unchanged.
    * The norms frame is |docs|-sized, so the Decimal accumulation
    * costs nothing measurable. [[tfidfCosinePairsPrefix]] carries the
    * identical guard on its perDoc norms.
    *
    * Scale shape: df is vocabulary-bounded → broadcast by default
    * (`broadcastVocab = false` switches to a shuffle join on word when
    * the vocabulary outgrows executor memory); pair generation
    * is the inverted-index equi-join on word (AQE-skew-handled, never
    * all-pairs); the weighted relation feeds norms + both join sides →
    * localCheckpoint, computed once. Like [[containmentPairs]], the full
    * index self-join is quadratic in hot-word df — on skewed real-text
    * vocabularies use [[tfidfCosinePairsPrefix]], the AllPairs
    * prefix-filtered sibling with the same output and exact recall.
    */
  def tfidfCosinePairs(documents: DataFrame, minCosPct: Int,
                       broadcastVocab: Boolean = true): DataFrame = {
    val wt = tfidfWeights(documents, broadcastVocab).lineageTruncate()
    val norms = wt.groupBy("doc_id")
      .agg(guardedNormS(col("w")).as("norm_s"))
    val dots = sharedWordPairs(wt, sum(col("a.w") * col("b.w")).as("dot_s"))
    dots
      .join(norms.select(col("doc_id").as("a_id"), col("norm_s").as("a_norm_s")), "a_id")
      .join(norms.select(col("doc_id").as("b_id"), col("norm_s").as("b_norm_s")), "b_id")
      .filter(SimilarityOps.cosGate(col("dot_s"), col("a_norm_s"),
        col("b_norm_s"), minCosPct))
      .select(col("a_id"), col("b_id"), col("dot_s"), col("a_norm_s"), col("b_norm_s"))
      .orderBy("a_id", "b_id")
  }

  /** [[tfidfCosinePairs]]'s 100 TB sibling: AllPairs-style COSINE PREFIX
    * FILTERING. The exact-recall bound: split doc a's weight vector
    * (features ordered globally rarest-first) at position L; if the
    * suffix's norm satisfies |suffix| < τ·|a| then ANY pair matching a
    * only in the suffix has cos(a,b) ≤ |suffix|·|b| / (|a|·|b|) < τ — so
    * every qualifying pair must share a feature in a's PREFIX, and
    * probing prefixes against the full index is exact (checked with
    * strict integer/decimal arithmetic so a rounding error can never
    * shorten a prefix). Rarest-first ordering doubles as the skew guard:
    * probe keys are each doc's least-common (highest-idf = heaviest)
    * features, so prefixes are short AND the join keys are cold.
    *
    * Verification is the codegen'd [[graft.plans.SortedKeyWeightDot]]
    * merge walk over (xxhash64(word), weight) arrays — O(nₐ+n_b) per
    * candidate, zero shuffle beyond the candidate join; same 2⁻⁶⁴
    * hash-collision margin as every hashed-set kernel here. Output
    * contract is bit-identical to [[tfidfCosinePairs]] — the declared
    * query pair shares one oracle.
    */
  def tfidfCosinePairsPrefix(documents: DataFrame, minCosPct: Int,
                             broadcastVocab: Boolean = true): DataFrame = {
    require(minCosPct >= 1 && minCosPct <= 100,
      s"minCosPct must be in [1,100], got $minCosPct")
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val tauSqL = minCosPct.toLong * minCosPct
    val wt = tfidfWeights(documents, broadcastVocab, col("df"))
      .lineageTruncate()  // feeds perDoc, the probe index, and nothing else twice
    val perDoc = wt.groupBy("doc_id").agg(
      sort_array(collect_list(struct(col("df"), col("word"), col("w"))))
        .as("by_rarity"),
      sort_array(collect_list(struct(xxhash64(col("word")).as("k"),
        col("w").as("w")))).as("kw"),
      guardedNormS(col("w")).as("norm_s"))
      .lineageTruncate()  // feeds the prefix fan-out AND both verify sides
    // position i belongs to the prefix iff sufSq(i)·10⁴ ≥ τ²·normSq,
    // where sufSq(i) = normSq − preSq(i−1); the window partition is ONE
    // document's distinct words — bounded by doc length, never corpus
    val wPre = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = perDoc
      .select(col("doc_id"), col("norm_s"),
        posexplode(col("by_rarity")).as(Seq("pos", "f")))
      .withColumn("pre_sq",
        coalesce(sum(col("f.w") * col("f.w")).over(wPre), lit(0L)))
      .filter((col("norm_s") - col("pre_sq")).cast(d38) * lit(10000L) >=
        lit(tauSqL).cast(d38) * col("norm_s").cast(d38))
      .select(col("doc_id").as("a_id"), col("f.word").as("word"))
    // every qualifying (a < b) pair shares a feature in a's prefix —
    // probing the smaller-id side's prefix alone is complete
    val cands = prefixes
      .join(wt.select(col("doc_id").as("b_id"), col("word")), "word")
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val sides = perDoc.select(col("doc_id"), col("kw"), col("norm_s"))
    cands
      .join(sides.select(col("doc_id").as("a_id"), col("kw").as("akw"),
        col("norm_s").as("a_norm_s")), "a_id")
      .join(sides.select(col("doc_id").as("b_id"), col("kw").as("bkw"),
        col("norm_s").as("b_norm_s")), "b_id")
      .withColumn("dot_s",
        graft.plans.VecDot.sortedKeyWeightDot(col("akw"), col("bkw")))
      .filter(SimilarityOps.cosGate(col("dot_s"), col("a_norm_s"),
        col("b_norm_s"), minCosPct))
      .select(col("a_id"), col("b_id"), col("dot_s"), col("a_norm_s"),
        col("b_norm_s"))
      .orderBy("a_id", "b_id")
  }

  /** The end-to-end near-dup DEDUP decision at 100 TB: LSH candidates →
    * exact verify → connected components → keep the minimum doc id per
    * cluster. Output: one row per document that appears in any verified
    * near-dup pair, with its cluster and keeper verdict.
    */
  def nearDupKeepers(documents: DataFrame, numHashes: Int, rowsPerBand: Int,
                     minJaccardPct: Int): DataFrame = {
    val pairs = lshVerifiedJaccardPairsUnsorted(documents, numHashes, rowsPerBand,
      minJaccardPct).select("a_id", "b_id")
    connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"),
        (col("id") === col("cluster_id")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** LEAKAGE-FREE train/test split: assign splits by NEAR-DUP CLUSTER,
    * not by document. A per-doc hash split puts one member of a
    * near-dup cluster in train and its twin in eval — the classic
    * silent eval-contamination bug — so the atomic unit here is the
    * connected component of the verified near-dup relation: every
    * member inherits the split of its cluster's min-label id, and
    * singleton documents (no near-dup) form their own cluster.
    * `testPermille` of clusters (by portable md5 of the cluster id)
    * land in "test"; assignment is a pure function of content-derived
    * ids, so re-runs and incremental rebuilds agree.
    *
    * Scale shape: the LSH→verify→CC pipeline is the [[nearDupKeepers]]
    * machinery (banded equi-joins, bounded CC rounds — no all-pairs);
    * the split itself adds one left join of docs against the (usually
    * tiny) clustered-doc relation plus a map-side hash. Bodies never
    * shuffle.
    */
  def leakageFreeSplit(documents: DataFrame, numHashes: Int, rowsPerBand: Int,
                       minJaccardPct: Int, testPermille: Int): DataFrame = {
    require(testPermille >= 0 && testPermille <= 1000,
      s"testPermille in [0,1000], got $testPermille")
    val pairs = lshVerifiedJaccardPairsUnsorted(documents, numHashes,
      rowsPerBand, minJaccardPct).select("a_id", "b_id")
    val cc = connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
    documents.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(pmod(md5Hash60(concat(lit("split:"),
            col("cluster_id").cast("string"))), lit(1000L)) <
            testPermille.toLong,
          lit("test")).otherwise(lit("train")))
      .orderBy("doc_id")
  }

  /** NEGATIVE sampling for contrastive training: per anchor document,
    * `k` deterministic hash-ranked partners that are NOT near-dups of
    * it — the hard part of building (anchor, negative) pairs is
    * guaranteeing the "negative" isn't secretly a positive, so the
    * candidate grid is anti-joined against the verified near-dup pair
    * relation (both orientations) before ranking. Membership is a pure
    * function of the id pair: stable across partitionings and retries
    * like every sampler here.
    *
    * Scale bound BY CONSTRUCTION (VERDICT r9 #1): the candidate side is
    * rate-sampled to ≈`expectedCandidates` ids via the portable md5
    * bucket ([[graft.operators.Relational.hashBucketPpm]]) BEFORE the
    * grid is built, so the grid is anchors × O(expectedCandidates) and
    * the sampled candidate set broadcasts — never anchors × corpus. The
    * sampling rate is a pure function of the corpus id count, so
    * membership stays deterministic (and DuckDB-replayable) at any
    * partitioning. When the corpus has ≤ `expectedCandidates` ids the
    * rate saturates at 10⁶ ppm and the exact full-grid form falls out
    * as the small-corpus special case. Callers pick
    * `expectedCandidates` ≫ k so the pool survives the positive
    * anti-join (the pool size concentrates tightly: Binomial with
    * mean expectedCandidates).
    */
  def negativeSamples(documents: DataFrame, pairs: DataFrame,
                      k: Int, expectedCandidates: Int = 1024): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(expectedCandidates >= k,
      s"expectedCandidates ($expectedCandidates) must be >= k ($k)")
    // ONE materialization of the distinct-id relation feeds all three
    // consumers (the count, the candidate filter, the anchor side) —
    // and the count is a DELIBERATE eager job, not an in-plan scalar:
    // the rate must reach the candidate filter as a LITERAL so the
    // predicate stays foldable and the optimizer can size the sampled
    // pool (~expectedCandidates rows → broadcast grid, broadcast
    // anti-join). The in-plan form (count frame cross-joined into the
    // filter) destroys selectivity estimates and was measured to
    // degrade the downstream plan ~40× at sf0.1 (grid and anti-join
    // fall back to sort-merge over unsized inputs).
    val ids = documents.select(col("doc_id")).distinct().lineageTruncate()
    val nIds = math.max(ids.count(), 1L)
    val candPpm = math.min(1000000L,
      (expectedCandidates.toLong * 1000000L + nIds - 1L) / nIds)
    val cands = ids.filter(Relational.hashBucketPpm(
      concat(lit("negcand:"), col("doc_id").cast("string"))) < candPpm)
    val grid = ids.select(col("doc_id").as("anchor_id"))
      .join(broadcast(cands.select(col("doc_id").as("cand_id"))),
        col("anchor_id") =!= col("cand_id"))
    val posBoth = pairs.select(col("a_id").as("anchor_id"),
        col("b_id").as("cand_id"))
      .unionByName(pairs.select(col("b_id").as("anchor_id"),
        col("a_id").as("cand_id")))
    val h = md5Hash60(concat(col("anchor_id").cast("string"), lit(":"),
      col("cand_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("anchor_id").orderBy(h, col("cand_id"))
    grid.join(posBoth, Seq("anchor_id", "cand_id"), "left_anti")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .orderBy("anchor_id", "rn")
  }

  /** CLUSTER-CAPPED sampling: at most `cap` documents per near-dup
    * cluster, chosen by deterministic hash rank — the curation middle
    * ground between keep-one (canonicalKeepers: maximal dedup, loses
    * paraphrase diversity) and keep-all (no dedup): near-identical
    * variants are capped while their cluster still contributes up to
    * `cap` exemplars to training. Membership is a pure function of the
    * doc-id set ([[graft.operators.Relational.sampleKPerGroup]]'s
    * contract applied to cluster strata).
    *
    * Scale shape: clustering is the usual LSH→verify→CC pipeline; the
    * cap is ONE window sort per cluster over (hash, doc_id) — cluster
    * sizes bound the sort, and only clustered docs enter it.
    */
  def clusterCapSample(documents: DataFrame, numHashes: Int, rowsPerBand: Int,
                       minJaccardPct: Int, cap: Int): DataFrame = {
    val clustered = nearDupKeepers(documents, numHashes, rowsPerBand,
      minJaccardPct).select("doc_id", "cluster_id")
    val h = md5Hash60(concat(lit("c:"), col("doc_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(h, col("doc_id"))
    clustered
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= cap)
      .select(col("cluster_id"), col("doc_id"), col("rn"))
      .orderBy("cluster_id", "rn")
  }

  /** L2 — quality-weighted canonical selection: per near-dup cluster,
    * keep the member with the MOST tokens (tie → smallest doc_id) —
    * the curation policy that keeps the richest variant of a duplicated
    * page, where [[nearDupKeepers]]'s min-label keeper is arbitrary.
    *
    * The argmax rides the cluster rollup as `max_by` over the composite
    * ordering key `struct(n_tokens, −doc_id)` (lexicographic struct
    * comparison — single aggregation, no extra join back, and no
    * overflow cliff: the earlier arithmetic packing `n_tokens·10^10 −
    * doc_id` silently inverted the ordering past ~9.2e8 tokens or 10^10
    * doc ids). One groupBy on cluster_id after components — the same
    * two-bounded-shuffles-per-round shape as the clustering itself.
    */
  def canonicalKeepers(documents: DataFrame, numHashes: Int, rowsPerBand: Int,
                       minJaccardPct: Int): DataFrame = {
    val pairs = lshVerifiedJaccardPairsUnsorted(documents, numHashes, rowsPerBand,
      minJaccardPct).select("a_id", "b_id")
    val toks = documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    connectedComponents(pairs)
      .join(toks, col("id") === col("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        sum("n_tokens").as("total_tokens"),
        max("n_tokens").as("keeper_tokens"),
        max_by(col("doc_id"),
          struct(col("n_tokens"), -col("doc_id")))
          .as("keeper_doc"))
      .orderBy("cluster_id")
  }

  /** L2 — SimHash near-dup pairs at scale: band the 64-bit signature
    * into `maxHamming + 1` equal bit-slices — by pigeonhole, any pair
    * within `maxHamming` differing bits collides exactly in ≥ 1 band —
    * generate candidates via a band equi-join, then verify with
    * `bit_count(xor)` (codegen'd). Recall 100% w.r.t. the hamming
    * threshold, cost linear in corpus + collisions. At larger corpora
    * widen/add bands (smaller slices collide more): band width is the
    * recall/cost dial, not correctness — the verify step is exact.
    */
  def simHashPairs(documents: DataFrame, maxHamming: Int = 3,
                   hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column = xxhash64(_),
                   numBits: Int = 64): DataFrame =
    hammingBandPairs(simHash(documents, hashFn, numBits), maxHamming, numBits)

  /** The hamming-band candidate+verify kernel behind [[simHashPairs]],
    * exposed for ANY 64-bit-signature near-dup path (round 7: perceptual
    * image dHash via [[graft.multimodal.MultimodalOps.imageNearDupPairs]]
    * reuses it verbatim). Input: (doc_id, simhash). Band the signature
    * into `maxHamming + 1` equal bit-slices — by pigeonhole, any pair
    * within `maxHamming` differing bits collides exactly in ≥ 1 band —
    * candidates via a band equi-join, verified with `bit_count(xor)`
    * (codegen'd). Recall 100% w.r.t. the hamming threshold; cost linear
    * in corpus + collisions, never all-pairs.
    */
  def hammingBandPairs(sigs: DataFrame, maxHamming: Int, numBits: Int): DataFrame = {
    val numBands = maxHamming + 1
    require(numBits % numBands == 0, s"numBits=$numBits must divide into ${numBands} bands")
    val width = numBits / numBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until numBands).map(b =>
        shiftright(col("simhash"), b * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("band_idx", "band_key")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.simhash").as("a_sig"), col("b.simhash").as("b_sig"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
  }

  /** L2/L4 — benchmark decontamination: flag corpus documents that share
    * at least `minShared` word n-grams with any benchmark document — the
    * standard guard against test-set leakage into training data. Shape:
    * shingle both sides, equi-join on the shingle (inverted index — the
    * benchmark side is tiny, so the join broadcasts), count distinct
    * shared shingles per (corpus doc, benchmark doc). Linear in corpus
    * shingle count; no all-pairs comparison at any scale.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int,
                    minShared: Int): DataFrame =
    deconTail(deconShingles(corpus, "doc_id", n),
      deconShingles(benchmark, "bench_id", n), minShared)

  /** Distinct hashed word n-gram shingles per document — the
    * decontamination unit, factored so the in-plan and artifact-serving
    * paths cannot drift. One fused kernel per row
    * ([[graft.plans.SortedHashedSet]] at width `n`): the space-joined
    * n-grams' xxhash64, sorted and distinct; a doc shorter than `n`
    * words yields an empty set, which `explode` drops. Joining on the
    * 8-byte hash, not the n-word string, shrinks the broadcast and the
    * probe-side hashing; a false share needs a cross-side 64-bit
    * collision (~|corpus shingles| × |bench shingles| / 2⁶⁴ ≈ 1e-9 —
    * corpus-pinned negligible). PushdownSpec pins one `split` and one
    * kernel call per side in the executed plan.
    */
  private def deconShingles(df: DataFrame, idAs: String, n: Int): DataFrame =
    df.select(col("doc_id").as(idAs),
      explode(graft.plans.SortedHashedSet.sortedHashedSet(
        split(col("text"), " "), n)).as("sh"))

  /** The shared scoring tail: shingle equi-join (benchmark side
    * broadcast — it is the small side by construction), distinct-shared
    * count per (corpus doc, benchmark doc), threshold.
    */
  private def deconTail(corpusSh: DataFrame, benchSh: DataFrame,
                        minShared: Int): DataFrame =
    corpusSh.join(broadcast(benchSh), "sh")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_id", "bench_id")

  /** Write the PERSISTED decontamination index (round 15, wave 5) —
    * the benchmark side's distinct `(sh, bench_id)` hashed shingles as
    * a parquet artifact, shingle-clustered. The benchmark suite is the
    * STABLE side of decontamination (it changes when a new eval ships,
    * not per crawl), so a 100 TB ingest should probe a written index,
    * not re-shingle the benchmarks per batch — the
    * [[graft.operators.RetrievalOps.bm25WriteIndex]] discipline applied
    * to leakage guarding. Memoized on the benchmark source fingerprint
    * + shingle width + the caller's benchmark-slice key: benchmark
    * mutation forces a rebuild, a same-suite re-run is free.
    */
  def deconWriteIndex(benchmark: DataFrame, srcDir: String, outDir: String,
                      n: Int, benchKey: String): Boolean = {
    graft.sources.SessionMemo.artifact(benchmark.sparkSession,
      s"decon_index:$outDir:n=$n:$benchKey", srcDir, outDir) {
      deconShingles(benchmark, "bench_id", n)
        .repartitionByRange(8, col("sh"))
        .sortWithinPartitions("sh", "bench_id")
        .write.mode("overwrite").parquet(s"$outDir/shingles")
    }
    true
  }

  /** Decontaminate against the PERSISTED index alone — the ingest-path
    * entry point: a worker session holding no benchmark state reads the
    * shingle artifact and flags the arriving corpus slice. Same scoring
    * tail as [[decontaminate]], so fresh ≡ stored is the declared key's
    * oracle identity.
    */
  def decontaminateStored(corpus: DataFrame, indexDir: String, n: Int,
                          minShared: Int): DataFrame =
    deconTail(deconShingles(corpus, "doc_id", n),
      corpus.sparkSession.read.parquet(s"$indexDir/shingles"), minShared)

  /** Build-if-needed + serve: the declared-key entry point for stored
    * decontamination (the bm25TopKStored shape).
    */
  def decontaminateViaIndex(corpus: DataFrame, benchmark: DataFrame,
                            srcDir: String, outDir: String, n: Int,
                            minShared: Int, benchKey: String): DataFrame = {
    deconWriteIndex(benchmark, srcDir, outDir, n, benchKey)
    decontaminateStored(corpus, outDir, n, minShared)
  }

  /** DECON-INDEX UPSERT (round 18, VERDICT r17 #5) — the benchmark
    * suite is stable, but not FROZEN: a new eval ships (append) and a
    * retired one leaves (takedown). This folds both into the NEXT
    * generation of the shingle artifact by the bm25CompactWrite
    * economics — stored shingles anti-joined against the retired
    * bench_ids (a RELATION, never a literal list), union the NEW
    * benchmarks' shingles (shingled ONCE), rewritten shingle-clustered
    * at `outDir` so the probe path's layout survives the generation
    * swap. The BASE benchmark suite is never re-shingled.
    *
    * Contract guards (the compaction clash discipline): batch
    * bench_ids must be NEW (an id already indexed would double its
    * shingles) and disjoint from the takedown (delete+re-add is two
    * maintenance cycles). Memoized on the benchmark source fingerprint
    * + `batchKey` (batch/deletes are DataFrames — the caller's key IS
    * their identity).
    *
    * Serving the corpus against the upserted artifact equals
    * from-scratch [[decontaminate]] over the merged benchmark set
    * exactly (shingle sets union/difference per bench_id, and the
    * scoring tail is per (doc, bench) pair) — q_decon_index_upsert
    * hash-checks that identity.
    */
  def deconIndexUpsert(corpus: DataFrame, benchBase: DataFrame,
                       benchBatch: DataFrame, benchDeletes: DataFrame,
                       srcDir: String, baseDir: String, outDir: String,
                       n: Int, minShared: Int, baseKey: String,
                       batchKey: String): DataFrame = {
    deconWriteIndex(benchBase, srcDir, baseDir, n, baseKey)
    val spark = corpus.sparkSession
    val delKeys = benchDeletes.select("bench_id").distinct()
      .lineageTruncate() // 3 consumers: two clash guards + stored anti
    val reAdd = benchBatch.select(col("doc_id").as("bench_id"))
      .join(delKeys, Seq("bench_id"), "left_semi").limit(1).count()
    require(reAdd == 0L,
      "deconIndexUpsert: batch bench_ids and deletes must be disjoint " +
        "— a delete+re-add is two maintenance cycles, not one")
    val clash = benchBatch.select("doc_id")
      .join(benchBase.select("doc_id"), Seq("doc_id"), "left_semi")
      .limit(1).count()
    require(clash == 0L,
      "deconIndexUpsert: batch bench_ids must be NEW (an id already " +
        "indexed would double-count its shingles — take it down first, " +
        "then append the refreshed benchmark)")
    graft.sources.SessionMemo.artifact(spark,
      s"decon_upsert:$outDir:n=$n:$batchKey", srcDir, outDir) {
      spark.read.parquet(s"$baseDir/shingles")
        .join(delKeys, Seq("bench_id"), "left_anti")
        .unionByName(deconShingles(benchBatch, "bench_id", n))
        .repartitionByRange(8, col("sh"))
        .sortWithinPartitions("sh", "bench_id")
        .write.mode("overwrite").parquet(s"$outDir/shingles")
    }
    decontaminateStored(corpus, outDir, n, minShared)
  }

  /** Deterministic "keep one row per key" for arbitrary tables: first row
    * per key under an explicit total order.
    */
  def keepFirstPerKey(df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(col): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** SPAN-LEVEL DUPLICATE COVERAGE (round 15) — the SLIDING-window
    * complement of [[passageDedup]]'s fixed chunks, i.e. the exact
    * substring-dedup measurement of Lee et al., "Deduplicating Training
    * Data Makes Language Models Better" (ACL'22), in n-gram units:
    * every overlapping `n`-gram is hashed; a gram whose hash occurs
    * more than once in the CORPUS is a duplicated span occurrence, and
    * a document's `dup_span_tokens` is the size of the UNION of its
    * duplicated grams' token windows (distinct positions — overlapping
    * dup grams don't double-count, so a shared 50-token block scores
    * 50, not 38·n). Fixed chunks miss a shared block that straddles a
    * chunk boundary at any unaligned offset; the sliding window can't.
    * dup_ppm is the trim-or-drop signal a span-level cleaner gates on.
    *
    * Scale shape: one corpus explode to (doc, gi, hash) — ~n_words
    * rows, 16-byte hashes; ONE map-side-combined groupBy on the hash;
    * the coverage union is an n-fold position explode over only the
    * DUPLICATED grams (901 of 20k at sf0.01) followed by a distinct
    * bounded per doc by its own length. Text itself never shuffles.
    */
  def spanDupCoverage(documents: DataFrame, n: Int): DataFrame = {
    require(n >= 2, "a span is at least a bigram")
    val t = documents.select(col("doc_id"),
      graft.operators.TextOps.words(col("text")).as("ws"))
    val grams = t.filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("ws")) - n),
        i => struct(i.as("gi"),
          md5(concat_ws(" ", slice(col("ws"), i + 1, lit(n))))
            .as("hh")))).as("g"))
      .select(col("doc_id"), col("g.gi").as("gi"), col("g.hh").as("hh"))
    val dupH = grams.groupBy("hh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("hh")
    val covered = grams.join(dupH, Seq("hh"))
      .select(col("doc_id"),
        explode(sequence(col("gi"), col("gi") + lit(n - 1))).as("pos"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("dup_span_tokens"))
    t.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("dup_span_tokens",
        coalesce(col("dup_span_tokens"), lit(0L)))
      .withColumn("dup_ppm",
        expr("dup_span_tokens * 1000000L div n_tokens"))
      .orderBy("doc_id")
  }

  /** SPAN TRIM (round 15) — the RESPONSE to [[spanDupCoverage]]'s
    * measurement, Lee et al.'s actual cleaning step: every duplicated
    * `n`-gram keeps exactly its corpus-wide FIRST occurrence
    * (lexicographic min (doc_id, gi) — deterministic, not arrival
    * order, the [[passageDedup]] keeper discipline) and a token is
    * REMOVED iff it lies in the window of some non-keeper occurrence.
    * The relation returns the per-document trim accounting plus the
    * md5 of the actually reconstructed kept text (words re-assembled
    * in position order), so the oracle proves the trim produced the
    * right STRING, not just the right counts.
    *
    * Scale shape: [[spanDupCoverage]]'s gram pass + one hash-keyed
    * keeper argmin (16-byte keys, map-side combined) + the bounded
    * position explode over non-keeper dup occurrences; the rebuild is
    * one per-doc rollup whose state is the document's own words.
    */
  def spanTrim(documents: DataFrame, n: Int): DataFrame = {
    require(n >= 2, "a span is at least a bigram")
    val t = documents.select(col("doc_id"),
      graft.operators.TextOps.words(col("text")).as("ws"))
    val grams = t.filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("ws")) - n),
        i => struct(i.as("gi"),
          md5(concat_ws(" ", slice(col("ws"), i + 1, lit(n))))
            .as("hh")))).as("g"))
      .select(col("doc_id"), col("g.gi").as("gi"), col("g.hh").as("hh"))
    val keepers = grams.groupBy("hh")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("gi"))).as("k"))
      .filter(col("cnt") > 1)
      .select(col("hh"), col("k.doc_id").as("kd"), col("k.gi").as("kg"))
    val removed = grams.join(keepers, Seq("hh"))
      .filter(!(col("doc_id") === col("kd") && col("gi") === col("kg")))
      .select(col("doc_id"),
        explode(sequence(col("gi"), col("gi") + lit(n - 1))).as("pos"))
      .distinct()
    val kept = t
      .select(col("doc_id"),
        posexplode(col("ws")).as(Seq("pos", "word")))
      .join(removed, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x("word"))).as("kept_str"))
    t.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L)))
          .as("removed_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        md5(coalesce(col("kept_str"), lit(""))).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** L2/L4 — corpus-wide passage-level dedup (the CCNet/C4 line-dedup
    * shape, on `passageWords`-token passages since this corpus has no
    * newlines): cut each document into consecutive non-overlapping
    * passages, hash each, and mark every occurrence after the corpus-wide
    * FIRST (ordered by (doc_id, passage_idx) — deterministic, not
    * arrival order) as a duplicate. Output is the per-document retention
    * profile: total / duplicate / kept passage counts.
    *
    * Scale shape: exactly two shuffles — a wordcount-shaped groupBy on
    * the 32-hex-char passage hash (map-side combined; the min(struct) is
    * a 16-byte-keyed argmin, never a collect_list), and the final
    * per-doc rollup. The keeper is `min(struct(doc_id, passage_idx))` —
    * lexicographic, cliff-free at any id magnitude (same rationale as
    * [[canonicalKeepers]]' max_by struct).
    */
  def passageDedup(documents: DataFrame, passageWords: Int): DataFrame = {
    require(passageWords >= 1)
    val keyed = documents
      .select(col("doc_id"), TextOps.words(col("text")).as("__ws"))
      .select(col("doc_id"), posexplode(transform(
        // passage i covers tokens [i·p, i·p + p); (size−1) div p is the
        // last passage index for any non-empty token array
        sequence(lit(0L),
          floor((size(col("__ws")) - 1) / lit(passageWords)).cast("long")),
        i => concat_ws(" ", slice(col("__ws"),
          (i * passageWords + 1).cast("int"),
          lit(passageWords))))).as(Seq("passage_idx", "passage")))
      .select(col("doc_id"), col("passage_idx").cast("long").as("passage_idx"),
        md5(col("passage")).as("h"))
    val firstSeen = keyed.groupBy("h")
      .agg(min(struct(col("doc_id"), col("passage_idx"))).as("first"))
    keyed.join(firstSeen, Seq("h"))
      .withColumn("__is_dup",
        (col("first.doc_id") =!= col("doc_id") ||
          col("first.passage_idx") =!= col("passage_idx")).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"), sum("__is_dup").as("n_dup"))
      .withColumn("n_kept", col("n_passages") - col("n_dup"))
      .orderBy("doc_id")
  }

  /** DEDUP ROI ACCOUNTING: per source, how many TOKENS exact dedup
    * saves — the table that prices a dedup pass (docs-only dup rates
    * [[crossSourceDupMatrix]]-style hide that feeds duplicate their
    * LONGEST documents disproportionately; training cost is tokens,
    * not docs). A document is a duplicate iff its content fingerprint's
    * GLOBAL first occurrence (min doc_id over the whole corpus, not
    * per source) is a different document — so a feed that re-ingests
    * another feed's documents is charged for them, matching
    * [[exactDedup]]'s keep-first semantics.
    *
    * saved_ppm is exact-integer: `dup_tokens · 10⁶ div n_tokens` in
    * Decimal(38,0) (a 100 TB source's token count × 10⁶ passes 2⁶³),
    * cast back to BIGINT; a zero-token source reports 0 saved
    * (its dup_tokens is necessarily 0 too — no silent NULL row on
    * degenerate input, the ADVICE-r9 class).
    *
    * Scale shape: only (doc_id, source, 16-byte fingerprint, token
    * count) tuples shuffle — never text. One group-min at fingerprint
    * grain, one fingerprint-keyed equi-join back, one map-side-combined
    * rollup to source grain.
    */
  def dedupTokensSaved(documents: DataFrame): DataFrame = {
    // NULL text must not vanish from the accounting (the ADVICE-r9
    // null-join class: a NULL fingerprint never matches the __fp
    // equi-join, silently dropping the row). Sentinel "null" is not a
    // 32-hex md5, so NULL-text docs form their own dup group —
    // identical absent content dedups like identical present content —
    // with an explicit 0 token count.
    val keyed = documents.select(col("doc_id"), col("source"),
      coalesce(md5(col("text")), lit("null")).as("__fp"),
      coalesce(TextOps.tokenCountCol(col("text")), lit(0L)).as("__n_tok"))
    val keyedT = keyed.lineageTruncate()
    val firstSeen = keyedT.groupBy("__fp").agg(min("doc_id").as("__keep_id"))
    keyedT.join(firstSeen, Seq("__fp"))
      .withColumn("__is_dup", (col("doc_id") =!= col("__keep_id")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n_tok")).as("n_tokens"),
        sum(col("__is_dup")).as("dup_docs"),
        sum(col("__is_dup") * col("__n_tok")).as("dup_tokens"))
      .withColumn("saved_ppm", expr(
        "CASE WHEN n_tokens = 0 THEN 0L " +
          "ELSE CAST(CAST(dup_tokens AS DECIMAL(38,0)) * 1000000 " +
          "div CAST(n_tokens AS DECIMAL(38,0)) AS BIGINT) END"))
      .orderBy("source")
  }

  /** BLOCKED FUZZY PAIRS (round 15, wave 4) — the candidate step of
    * entity resolution over a name-like string column: names sharing a
    * BLOCK key (the last whitespace token — surname/noun blocking, the
    * classic ER choice) are compared by Levenshtein edit distance and
    * kept at `lev ≤ tau`. The name relation is first collapsed to
    * DISTINCT names with support counts, so the pair space is over
    * entities, not rows.
    *
    * Scale shape: blocking IS the scale trick — the quadratic comparison
    * runs only inside blocks (one equi-join on the block key), never
    * corpus-wide; `levenshtein` is a codegen'd built-in on both engines.
    * A hot block (a very common surname) is join-key skew: AQE splits
    * it, or pre-salt the block key with a name-prefix second component.
    */
  def blockedFuzzyPairs(rows: DataFrame, nameCol: String,
                        tau: Int): DataFrame = {
    val names = rows
      .groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).cast("long").as("n_rows"))
      .withColumn("block", element_at(split(col("name"), " "), -1))
      .lineageTruncate() // 2 consumers: both sides of the block self-join
    names.select(col("block"), col("name").as("name_a"),
        col("n_rows").as("rows_a"))
      .join(names.select(col("block"), col("name").as("name_b"),
        col("n_rows").as("rows_b")), Seq("block"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("lev", levenshtein(col("name_a"), col("name_b"))
        .cast("long"))
      .filter(col("lev") <= tau)
      .select("name_a", "name_b", "lev", "rows_a", "rows_b")
      .orderBy("name_a", "name_b")
  }

  /** ENTITY RESOLUTION (round 15, wave 4): fuzzy-pair candidates →
    * connected components → survivorship. Each fuzzy cluster resolves to
    * its lexicographically smallest name (deterministic survivorship
    * rule); the output is the resolved entity table with member roll-up
    * — names that matched nothing survive as their own entity.
    *
    * Scale shape: the CC engine runs over the (tiny, entity-level) fuzzy
    * pair relation on 60-bit portable name hashes; members roll up as a
    * sorted concat within cluster — cluster sizes are fuzzy-match
    * bounded (a handful of spelling variants), never corpus-scale.
    */
  def fuzzyEntityResolve(rows: DataFrame, nameCol: String,
                         tau: Int): DataFrame = {
    val names = rows
      .groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).cast("long").as("n_rows"))
      .withColumn("__h", md5Hash60(col("name")))
      .lineageTruncate() // 3 consumers: pair sides + label join-back
    val pairs = names.select(
        element_at(split(col("name"), " "), -1).as("block"),
        col("name").as("name_a"), col("__h").as("a_id"))
      .join(names.select(
        element_at(split(col("name"), " "), -1).as("block"),
        col("name").as("name_b"), col("__h").as("b_id")), Seq("block"))
      .filter(col("name_a") < col("name_b") &&
        levenshtein(col("name_a"), col("name_b")) <= tau)
      .select("a_id", "b_id")
    // self-loops keep unmatched names alive through CC
    val labels = connectedComponents(
      pairs.unionByName(names.select(col("__h").as("a_id"),
        col("__h").as("b_id"))))
    names.join(labels, names("__h") === labels("id"))
      .groupBy("cluster_id")
      .agg(min(col("name")).as("canonical"),
        count(lit(1)).cast("long").as("n_names"),
        sum(col("n_rows")).cast("long").as("n_rows"),
        concat_ws(",", sort_array(collect_list(col("name"))))
          .as("members"))
      .select("canonical", "n_names", "n_rows", "members")
      .orderBy("canonical")
  }
}

/** Open-addressed primitive long→long union-find for
  * [[DedupOps.localSpanningForest]]'s per-partition pass: linear
  * probing over two long arrays + a presence byte (~17 bytes/slot at
  * the 0.6 max load vs ~50 for a boxed `java.util.HashMap` entry —
  * the structure is executor-memory-bounded by distinct nodes per
  * partition, so constant-factor bloat is the scaling knob here).
  * Union by MINIMUM root (so every forest root is its
  * partition-component minimum) with two-pass path compression.
  * Single-threaded by construction (one instance per partition task).
  */
private[graft] final class LongUnionFind(initialSlots: Int) {
  private var cap = Integer.highestOneBit(math.max(16, initialSlots) - 1) << 1
  private var mask = cap - 1
  private var keys = new Array[Long](cap)
  private var vals = new Array[Long](cap)
  private var present = new Array[Boolean](cap)
  private var n = 0

  private def slot(k: Long): Int = {
    // finalizer from splitmix64 — long ids are often sequential, and
    // linear probing degrades badly on clustered raw keys
    var h = k * 0x9e3779b97f4a7c15L
    h ^= (h >>> 32)
    var i = (h & mask).toInt
    while (present(i) && keys(i) != k) i = (i + 1) & mask
    i
  }

  private def grow(): Unit = {
    // loud ceiling, not a wrap: cap << 1 past 2^30 overflows Int and
    // new Array[Long](negative) would kill the job mid-stage with an
    // unactionable error (review fix — the load check below is Long
    // arithmetic for the same reason: cap*3 wraps at cap = 2^30)
    if (cap >= (1 << 30))
      throw new IllegalStateException(
        s"LongUnionFind at $n distinct nodes exceeds the 2^30-slot " +
          "ceiling for one partition — repartition(n) the pair frame " +
          "to spread nodes (correctness-neutral for the forest)")
    val ok = keys; val ov = vals; val op = present; val oc = cap
    cap <<= 1; mask = cap - 1; n = 0
    keys = new Array[Long](cap); vals = new Array[Long](cap)
    present = new Array[Boolean](cap)
    var i = 0
    while (i < oc) {
      if (op(i)) put(ok(i), ov(i))
      i += 1
    }
  }

  private def put(k: Long, v: Long): Unit = {
    val i = slot(k)
    if (!present(i)) { present(i) = true; keys(i) = k; n += 1 }
    vals(i) = v
    if (n.toLong * 5 > cap.toLong * 3) grow()
  }

  /** parent(k), defaulting to k itself for unseen keys (no insert). */
  private def parentOf(k: Long): Long = {
    val i = slot(k)
    if (present(i)) vals(i) else k
  }

  def find(x0: Long): Long = {
    var x = x0
    var p = parentOf(x)
    while (p != x) { x = p; p = parentOf(x) }
    var y = x0 // path-compress the walked chain
    while (y != x) { val nxt = parentOf(y); put(y, x); y = nxt }
    x
  }

  /** Record edge (a, b); self-loops only register the node. */
  def union(a: Long, b: Long): Unit = {
    val ia = slot(a)
    if (!present(ia)) { present(ia) = true; keys(ia) = a; vals(ia) = a; n += 1; if (n.toLong * 5 > cap.toLong * 3) grow() }
    val ib = slot(b)
    if (!present(ib)) { present(ib) = true; keys(ib) = b; vals(ib) = b; n += 1; if (n.toLong * 5 > cap.toLong * 3) grow() }
    if (a != b) {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) put(rb, ra) else put(ra, rb)
      }
    }
  }

  /** Lazy (find(k), k) rows over every tracked node — the spanning
    * forest plus one (r, r) self-row per component root. find()'s
    * path compression during iteration mutates parents, never
    * membership, so the scan stays sound.
    */
  def entries: Iterator[(Long, Long)] = new Iterator[(Long, Long)] {
    private var i = 0
    private def advance(): Unit = { while (i < cap && !present(i)) i += 1 }
    advance()
    override def hasNext: Boolean = i < cap
    override def next(): (Long, Long) = {
      val k = keys(i)
      i += 1; advance()
      (LongUnionFind.this.find(k), k)
    }
  }
}
