package graft

/** Regression guard for the round-4 storage-release discipline: the
  * iterative / multi-branch operators (`connectedComponents`,
  * `canonicalKeepers`, `pageRankFixedPoint`, `gapFillDaily`,
  * `jaccardPairs`) persist or localCheckpoint intermediates internally,
  * and each promises in its scaladoc that NOTHING stays registered in
  * the CacheManager and that all executor blocks are reclaimable once
  * the caller drops the result. A long-lived session (a notebook, a
  * streaming driver, a 1000-query batch) would otherwise accumulate one
  * orphaned cached round + checkpoint blocks per invocation until
  * executors OOM — the exact leak round 3 found and round 4 fixed.
  *
  * Two-level assertion, strongest first:
  *  1. CacheManager must be EMPTY immediately after each query returns —
  *     `.persist()` registrations are session-global and are NOT freed
  *     by GC, so any leftover here is a true leak at any scale.
  *  2. After the results are dropped, a GC + ContextCleaner drain must
  *     reclaim every RDD storage block (localCheckpoint blocks are
  *     weak-ref cleaned, so this needs the GC nudge + a bounded poll).
  */
class StorageReleaseSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Poll until no RDD reports cached blocks (ContextCleaner is async). */
  private def awaitNoBlocks(timeoutMs: Long = 30000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var clear = false
    while (!clear && System.currentTimeMillis() < deadline) {
      System.gc()
      clear = spark.sparkContext.getRDDStorageInfo.forall(_.numCachedPartitions == 0)
      if (!clear) Thread.sleep(250)
    }
    clear
  }

  test("iterative operators leave the CacheManager empty and all blocks reclaimable") {
    // Suites share one session: evict the deliberate long-lived caches
    // (the session memo's IVF indexes) and anything earlier suites
    // pinned, so the assertions below see only what THESE five queries
    // leak.
    graft.sources.SessionMemo.clear()
    spark.catalog.clearCache()
    val keys = Seq("q_neardup_clusters", "q_dedup_canonical", "q_pagerank",
      "q_gap_fill", "q_neardup_jaccard", "q_ngram_jaccard")
    keys.foreach { k =>
      var result = SparkEntry.queries(k)(spark, dir).collect()
      assert(result.nonEmpty, s"$k returned no rows — vacuous release check")
      // Level 1: nothing registered. A leaked .persist() would pin its
      // blocks forever (CacheManager holds strong refs; GC can't help).
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$k left entries registered in the CacheManager")
      result = null // drop the only strong reference to the result
    }
    // Level 2: with every result dropped, the ContextCleaner must free
    // the localCheckpoint blocks of all five queries.
    assert(awaitNoBlocks(),
      "RDD storage blocks survived GC + ContextCleaner drain: " +
        spark.sparkContext.getRDDStorageInfo
          .filter(_.numCachedPartitions > 0).map(_.name).mkString("; "))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty ||
      spark.sparkContext.getPersistentRDDs.values.forall(
        _.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "persistent RDD registry retains live storage levels after drain")
  }

  /** Round-11 (VERDICT r10 #1/#2): the r10 closing bench showed the
    * GC-dependent path above is NOT enough inside a long suite — flat
    * cheap-query controls with 2-7× inflation confined to the
    * checkpoint-heavy family, because clearCache() cannot see
    * localCheckpoint blocks and the ContextCleaner lags allocation.
    * `Lineage.releaseAll` (now called by Bench.runSuite between
    * queries) must leave ZERO cached partitions DETERMINISTICALLY —
    * no GC nudge, no polling — after each of the heaviest declared
    * queries, so no query's measurement can inherit its predecessors'
    * storage pressure.
    */
  test("Bench inter-query hygiene releases all storage blocks deterministically") {
    graft.sources.SessionMemo.clear()
    spark.catalog.clearCache()
    val heaviest = Seq("q_cluster_cap_sample", "q_dedup_canonical",
      "q_ngram_jaccard", "q_boilerplate", "q_kcore", "q_minhash_lsh",
      "q_neardup_lsh_verified", "q_dsir_weights", "q_leakage_split",
      "q_dedup_tokens_saved")
    heaviest.foreach { k =>
      assert(SparkEntry.queries(k)(spark, dir).count() >= 0)
      // the exact hygiene step Bench.runSuite applies between queries
      Bench.hygiene(spark)
      val residual = spark.sparkContext.getRDDStorageInfo
        .filter(_.numCachedPartitions > 0)
      assert(residual.isEmpty,
        s"$k left storage blocks after the bench hygiene step: " +
          residual.map(i => s"${i.name} (${i.numCachedPartitions} parts)")
            .mkString("; "))
    }
  }
}
