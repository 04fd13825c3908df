package graft

import graft.operators.DedupOps
import org.apache.spark.sql.functions._

/** Pins the incremental near-dup loop: per arriving batch, verified
  * edges against the persisted band/set index fold into the stored
  * cluster labels, and the maintained labels equal the from-scratch
  * clustering of the merged corpus.
  */
class StreamingNearDupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (100L, "alpha beta gamma delta epsilon"),
    (101L, "one two three four five"),
    (102L, "red green blue yellow purple"))
    .toDF("doc_id", "text")

  test("ingest loop maintains CLUSTER LABELS incrementally (round 14)") {
    import graft.operators.Lineage.LineageOps
    // The full incremental-dedup state machine: per batch, verified
    // edges (batch↔index AND batch-internal) fold into the stored
    // cluster labels via incrementalComponents, then the batch upserts
    // into the band/set index for the NEXT batch's probes. Batch 1
    // near-dups a corpus doc (extends cluster); batch 2 near-dups a
    // BATCH-1 doc (only a maintained index can even see it) and carries
    // an internal near-dup pair (10↔11 within one batch).
    val tau = 60
    var bands = DedupOps.corpusBandDocs(corpus, 16, 2).lineageTruncate()
    var sets = DedupOps.corpusHashedSets(corpus).lineageTruncate()
    var labels = DedupOps.connectedComponents(
      DedupOps.lshVerifiedJaccardPairsUnsorted(corpus, 16, 2, tau)
        .select("a_id", "b_id"))
      .select(col("id"), col("cluster_id"))
    var merged = corpus
    val batches = Seq(
      Seq((5L, "alpha beta gamma delta eta")),          // near-dups 100
      Seq((10L, "alpha beta gamma delta theta"),        // near-dups 100 & 5
        (11L, "alpha beta gamma delta iota"),           // near-dups 10
        (12L, "completely different vocabulary appears here")))
    for (batch <- batches) {
      val bdf = batch.toDF("doc_id", "text")
      val edges = DedupOps.pairsAgainstIndexVerified(bdf, bands, sets,
          16, 2, tau)
        .select(col("doc_id").as("a_id"), col("corpus_id").as("b_id"))
        .unionByName(DedupOps.lshVerifiedJaccardPairsUnsorted(bdf, 16, 2, tau)
          .select("a_id", "b_id"))
      labels = DedupOps.incrementalComponents(labels, edges)
      val up = DedupOps.indexUpsert(bands, sets, bdf, 16, 2)
      bands = up._1.lineageTruncate()
      sets = up._2.lineageTruncate()
      merged = merged.unionByName(bdf)
    }
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // loop invariant: the maintained labels ARE the from-scratch
    // clustering of the merged corpus
    val rebuilt = DedupOps.connectedComponents(
      DedupOps.lshVerifiedJaccardPairsUnsorted(merged, 16, 2, tau)
        .select("a_id", "b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == rebuilt, s"incremental $got != rebuild $rebuilt")
    // and the cross-batch chain actually formed: 5, 10, 11 all joined
    // doc 100's cluster (label = the component minimum, 5)
    assert(got.get(100L) == got.get(5L) && got.get(5L) == got.get(10L)
      && got.get(10L) == got.get(11L),
      s"cross-batch near-dup chain must share one cluster: $got")
    // the fresh doc 12 joined nothing
    assert(!got.contains(12L))
  }
}
