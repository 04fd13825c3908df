package graft

import graft.sources.StorageOps
import org.apache.spark.sql.functions._

/** Storage-layout management: memoized layout rewrites keyed on the
  * source fingerprint.
  */
class StorageOpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$name")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Snapshot of (name → mtime) for every data file under a location —
    * the observable that distinguishes "rewrote the layout" from
    * "skipped the rewrite".
    */
  private def fileMtimes(dir: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isFile)
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
  }

  test("cached layout rewrites skip while the source fingerprint holds and rerun when it moves") {
    val base = tmp("layout_memo")
    val src = s"$base/src"
    val zout = s"$base/zout"
    (1 to 2000).map(i => (i.toLong, i % 7, i * 1.5)).toDF("id", "grp", "value")
      .write.parquet(src)

    // z-order path: first call writes, second call must not touch a file
    StorageOps.compactZOrderCached(spark, src, zout,
      targetBytes = 64 * 1024, zCols = Seq("id", "value"))
    val after1 = fileMtimes(zout)
    assert(after1.nonEmpty)
    StorageOps.compactZOrderCached(spark, src, zout,
      targetBytes = 64 * 1024, zCols = Seq("id", "value"))
    assert(fileMtimes(zout) == after1, "unchanged source must skip the rewrite")
    // bucketed path: same contract, observed on the warehouse location
    def bucketedWrite(): Unit = StorageOps.writeBucketedTableCached(
      spark.read.parquet(src), src, "layout_memo_rb", "id", 4)
    bucketedWrite()
    val loc = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier("layout_memo_rb")).toString
    val bAfter1 = fileMtimes(loc)
    assert(bAfter1.nonEmpty)
    bucketedWrite()
    assert(fileMtimes(loc) == bAfter1, "unchanged source must skip the bucketed rewrite")

    // staleness: regenerate the source (different rows AND different
    // fingerprint) — both layouts must rewrite and serve the new data
    Thread.sleep(1100) // mtime granularity guard (some filesystems are 1 s)
    (1 to 100).map(i => (i.toLong + 10000, i % 7, i * 2.5))
      .toDF("id", "grp", "value")
      .write.mode("overwrite").parquet(src)
    StorageOps.compactZOrderCached(spark, src, zout,
      targetBytes = 64 * 1024, zCols = Seq("id", "value"))
    assert(spark.read.parquet(zout).agg(min("id")).head().getLong(0) == 10001L,
      "moved fingerprint must force the z-order rewrite")
    bucketedWrite()
    assert(spark.table("layout_memo_rb").count() == 100,
      "moved fingerprint must force the bucketed rewrite")
    spark.sql("DROP TABLE IF EXISTS layout_memo_rb")
  }
}
