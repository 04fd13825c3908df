package graft

import org.apache.spark.sql.functions._
import graft.operators.DedupOps

/** Round-18 optimization pins (OPTIMIZATION_r18.md change 2):
  * structural guarantees of the optimized internals that behavioral
  * equality specs alone would not catch regressing.
  */
class Round18OptSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("connectedComponents folds round 1 into init: a graph whose " +
    "fixpoint is one propagation round converges under maxIter = 1") {
    import spark.implicits._
    // star around the minimum id: labels¹ (= the init groupBy) is
    // already the fixpoint, so the loop needs exactly ONE verification
    // round. The pre-round-18 engine (identity init) needed one
    // compute round PLUS one verification round and threw here — this
    // pin fails if the init fold ever regresses to identity labels.
    val star = (1L to 50L).map(i => (0L, i)).toDF("a_id", "b_id")
    val got = DedupOps.connectedComponents(star.coalesce(1), maxIter = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 51 && got.forall(_._2 == 0L),
      "star graph must collapse to cluster 0 within maxIter = 1")
  }
}
