package graft

import graft.sources.StorageOps
import org.apache.spark.sql.functions._

/** Structural evidence for the z-order layout claim: after
  * [[StorageOps.compactZOrder]] on (l_partkey, l_suppkey), EVERY output
  * file covers a bounded span of BOTH columns — the property parquet
  * min/max file pruning needs for predicates on either column — while
  * the 1-D range-clustered rewrite it upgrades (`repartitionByRange` on
  * the leading column) leaves the non-leading column at ~full range per
  * file (a filter on it prunes nothing).
  */
class ZOrderSpec extends SparkSpec {

  private val in = "/root/testdata/sf0.001/lineitem.parquet"

  /** Rows the parquet scan actually DECODED for `pred` over `dir` —
    * i.e. after row-group min/max pruning (one row group per file at
    * this size, so this equals file-level pruning). The number the
    * layout exists to shrink.
    */
  private def rowsScanned(dir: String, pred: String): Long = {
    val df = spark.read.parquet(dir).filter(pred)
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScanExec in plan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  /** Per-file (max-min)/(globalMax-globalMin) for `c` under `dir`. */
  private def spanFractions(dir: String, c: String): Seq[Double] = {
    val df = spark.read.parquet(dir)
    val g = df.agg(min(col(c)).cast("double"), max(col(c)).cast("double"))
      .collect()(0)
    val range = math.max(g.getDouble(1) - g.getDouble(0), 1e-9)
    df.withColumn("__f", input_file_name())
      .groupBy("__f")
      .agg(((max(col(c)) - min(col(c))).cast("double") / range).as("span"))
      .collect().map(_.getAs[Double]("span")).toSeq
  }

  test("z-order bounds per-file spans on BOTH dimensions; 1-D clustering cannot") {
    val dz = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val dr = java.nio.file.Files.createTempDirectory("graft_range").toString
    val target = 16000L
    val nz = StorageOps.compactZOrder(spark, in, s"$dz/li", target,
      Seq("l_partkey", "l_suppkey"))
    // the 1-D baseline: the same file count, range-clustered on partkey
    spark.read.parquet(in).repartitionByRange(nz, col("l_partkey"))
      .write.parquet(s"$dr/li")
    val nr = new java.io.File(s"$dr/li").listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(nz >= 4 && nr >= 4, s"want a multi-file layout, got z=$nz r=$nr")
    // z-order: files bounded on BOTH dims IN AGGREGATE. A file whose
    // z-range straddles a high-order Morton bit flip legitimately spans
    // one dimension (the curve's big-jump edge), so the pruning claim —
    // and the assert — is about the typical file, not the worst one.
    val zPart = spanFractions(s"$dz/li", "l_partkey")
    val zSupp = spanFractions(s"$dz/li", "l_suppkey")
    assert(zPart.sum / zPart.size <= 0.65, s"z-order partkey spans: $zPart")
    assert(zSupp.sum / zSupp.size <= 0.65, s"z-order suppkey spans: $zSupp")
    assert(zPart.count(_ > 0.8) <= 2 && zSupp.count(_ > 0.8) <= 2,
      s"too many boundary-straddling files: $zPart / $zSupp")
    // 1-D clustering: leading column tight, second column ~full range
    val rPart = spanFractions(s"$dr/li", "l_partkey")
    val rSupp = spanFractions(s"$dr/li", "l_suppkey")
    assert(rPart.max <= 0.75, s"range-clustered partkey spans: $rPart")
    assert(rSupp.sum / rSupp.size >= 0.8,
      s"expected ~full suppkey span per file under 1-D clustering: $rSupp")
    // the point of the layout: a predicate on the SECOND dimension
    // decodes strictly fewer rows under z-order (row-group stats
    // exclude files whose supp-box misses the value) than under 1-D
    // partkey clustering (every file spans ~all suppkeys — nothing
    // prunes). Same predicate, same data, same reader.
    val zScan = rowsScanned(s"$dz/li", "l_suppkey = 3")
    val rScan = rowsScanned(s"$dr/li", "l_suppkey = 3")
    val total = spark.read.parquet(in).count()
    assert(zScan < rScan,
      s"z-order must prune on the second dim: z=$zScan vs 1-D=$rScan")
    assert(rScan.toDouble >= 0.9 * total,
      s"1-D layout unexpectedly pruned the second dim: $rScan of $total")
    // layout-only: content survives byte-identically (same multiset)
    assert(spark.read.parquet(s"$dz/li").count() ===
      spark.read.parquet(in).count())
    assert(spark.read.parquet(s"$dz/li")
      .agg(sum(crc32(concat_ws("|",
        col("l_orderkey"), col("l_linenumber"), col("l_partkey")))))
      .collect()(0).getLong(0) ===
      spark.read.parquet(in)
        .agg(sum(crc32(concat_ws("|",
          col("l_orderkey"), col("l_linenumber"), col("l_partkey")))))
        .collect()(0).getLong(0))
  }
}
