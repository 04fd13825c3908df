package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared connected-components fixtures: a driver-side reference and
  * the adversarial layout that drives `DedupOps.connectedComponents`
  * past its min-label rounds into star contraction.
  */
object CcFixtures {

  /** Reference union-find: node → component minimum, for every node of
    * `pairs`.
    */
  def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** A chain over the ids 0..n, with the ids shuffled along it. */
  def shuffledChain(n: Int, seed: Long): Seq[(Long, Long)] = {
    val ids = new scala.util.Random(seed).shuffle((0L to n.toLong).toVector)
    (0 until n).map(i => (ids(i), ids(i + 1)))
  }

  /** `edges` as (a_id, b_id) with edge i in partition i mod `parts`: no
    * partition holds two adjacent edges of a chain, so the first
    * contraction pass merges nothing.
    */
  def scattered(spark: SparkSession, edges: Seq[(Long, Long)],
                parts: Int = 8): DataFrame = {
    import spark.implicits._
    val byResidue = (0 until parts).flatMap(p =>
      edges.indices.filter(_ % parts == p).map(edges))
    spark.sparkContext.parallelize(byResidue, parts).toDF("a_id", "b_id")
  }

  /** Runs `body` with AQE partition coalescing off — the wide-cluster
    * regime, in which the second contraction pass keeps all its
    * partitions instead of collapsing a small forest into one — and
    * restores the setting afterwards.
    */
  def withoutCoalescing[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, before)
  }
}
