package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout management (SURVEY.md §2 A extensions) — the table
  * maintenance a 100 TB lakehouse runs continuously: z-order
  * compaction and bucketed tables, each memoized on the source
  * fingerprint.
  * All pure Spark (parquet + the DataFrame writer); no table-format
  * dependency, so the same shapes apply under any catalog.
  */
object StorageOps {

  /** Scoped TIMESTAMP(NANOS) read tolerance for the compaction ops:
    * inside `body` the legacy nanosAsLong shim is on, so a ns-encoded
    * parquet reads as LongType instead of throwing at schema
    * conversion — and the previous conf state is restored afterwards,
    * so the shim never leaks into unrelated session reads (an
    * application may rely on the loud PARQUET_TYPE_ILLEGAL).
    *
    * Honest schema contract for ns inputs: Spark cannot WRITE
    * TIMESTAMP(NANOS) at all, so a compacted copy of a ns column
    * carries plain INT64 epoch-nanos — exactly the engine's internal
    * `ts` contract ([[graft.Tables.events]]), with row VALUES
    * byte-identical. µs/ms timestamp columns round-trip with their
    * annotations intact. An external reader that needs the ns
    * annotation back must keep the original files.
    */
  private def withNanosShim[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Z-ORDER compaction: rewrite a parquet directory clustered on the
    * MORTON interleave of several columns' quantile codes, so each
    * output file covers a small hyper-box in ALL `zCols` dimensions and
    * parquet row-group min/max stats (≡ file-level at one row group per
    * file) prune the scan for predicates on ANY of them — ZOrderSpec
    * measures the decoded-row reduction directly.
    * This is the multi-dimensional upgrade of a 1-D range-clustered
    * rewrite (`repartitionByRange` on one column), which makes files
    * tight on the leading column and leaves every other column's span
    * at ~full range (a filter on the second column prunes nothing);
    * interleaving bits trades a little per-dimension tightness for
    * bounded spans on every clustered dimension — the layout a table
    * with TWO hot filter columns needs.
    *
    * Scale shape: per-column codes come from `approxQuantile`
    * boundaries (sampling-based sketch, one pass, driver state =
    * 2^bits doubles per column) — NOT a `percent_rank` global window,
    * which would sort the whole table on one partition. Bucket lookup
    * is a codegen'd fold over the broadcast boundary array; the only
    * shuffle is the final `repartitionByRange` on the z-code, which is
    * the rewrite's raison d'être. `bits`=8 → 256 buckets/dimension =
    * 65k cells for 2 columns, plenty for FILE-level (not row-level)
    * clustering at any corpus size.
    *
    * Returns the output file count. Numeric/date/timestamp `zCols`
    * (cast to double for coding); codes are layout-only — row VALUES
    * are byte-identical to the input (TIMESTAMP(NANOS) inputs, which
    * Spark cannot write back, re-emerge as the engine's INT64
    * epoch-nanos contract — see [[withNanosShim]]). Known z-curve edge (ZOrderSpec
    * pins it): a file whose z-range straddles a high-order Morton bit
    * flip spans ~the full range of one dimension — the clustering
    * guarantee is about the TYPICAL file, and aggregate pruning still
    * dominates 1-D layouts whenever more than one column is filtered.
    */
  def compactZOrder(spark: SparkSession, inDir: String, outDir: String,
                    targetBytes: Long, zCols: Seq[String],
                    bits: Int = 8): Int = {
    require(zCols.size >= 2, "z-order needs at least two columns")
    require(bits >= 1 && bits <= 16 && bits * zCols.size <= 60,
      s"bits=$bits × ${zCols.size} cols must fit a Long")
    require(targetBytes > 0)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inDir), spark.sparkContext.hadoopConfiguration)
    val inputBytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(inDir)).getLength
    val nFiles = math.max(1, math.ceil(inputBytes.toDouble / targetBytes).toInt)
    withNanosShim(spark) {
    val src = spark.read.parquet(inDir)
    val nBuckets = 1 << bits
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val asDouble = zCols.map(c => col(c).cast("double").as(s"__zd_$c"))
    val forQuantiles = src.select(asDouble: _*)
    // ONE approxQuantile pass for ALL z-columns (r10: the multi-column
    // overload merges every column's quantile sketch in the same scan —
    // the per-column form cost one full input read per dimension, which
    // at 100 TB is the difference between 1× and |zCols|× the compaction
    // read amplification before the rewrite even starts)
    val allBounds = forQuantiles.stat.approxQuantile(
      zCols.map(c => s"__zd_$c").toArray, probs, 1.0 / (4 * nBuckets))
    val codes = zCols.zip(allBounds).map { case (c, bounds) =>
      val boundsArr = array(bounds.toSeq.map(lit): _*)
      // code = #boundaries <= value  (codegen'd fold, 0..nBuckets-1)
      aggregate(boundsArr, lit(0L),
        (acc, b) => acc + when(col(c).cast("double") >= b, 1L).otherwise(0L))
    }
    val z = (0 until bits).flatMap { b =>
      codes.zipWithIndex.map { case (code, i) =>
        shiftleft(shiftrightunsigned(code, b).bitwiseAND(lit(1L)),
          b * zCols.size + i)
      }
    }.reduce[org.apache.spark.sql.Column](_.bitwiseOR(_))
    src.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
    }
    fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Write `df` as a BUCKETED parquet table: rows are hash-distributed
    * into `nBuckets` files per partition by `bucketCol`, and the bucket
    * spec is recorded in the catalog. This is the pay-the-shuffle-once
    * layout lever for 100 TB JOIN/AGG workloads: two tables bucketed by
    * the same key into the same bucket count join with ZERO Exchange on
    * either side (BucketedJoinSpec plan-asserts it) — the nightly
    * fact⋈fact join that would shuffle 100 TB per run instead reads
    * co-located buckets, paying the distribution cost once at write
    * time. `sortCols` additionally sorts within each bucket file, which
    * upgrades the join to sort-free SortMergeJoin and tightens per-file
    * min/max stats.
    *
    * Bucketing requires a catalog entry (the bucket spec lives in table
    * metadata, not parquet footers), hence `saveAsTable` — under the
    * in-memory session catalog here, a Hive/Glue/Unity catalog in
    * production; the layout on disk is identical.
    *
    * Sizing discipline the caller owns: `nBuckets` is FIXED at write
    * time — pick it so a bucket ≈ one healthy task (128-512 MB) at the
    * table's TARGET size, not today's; re-bucketing is a full rewrite.
    */
  def writeBucketedTable(df: DataFrame, tableName: String, bucketCol: String,
                         nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(nBuckets > 0)
    // tableName is interpolated into a backtick-quoted DROP TABLE — a
    // backtick (or any SQL punctuation) in the name would break out of
    // the identifier (the constraint-name lesson applied to every
    // interpolated string): accept plain identifiers only.
    require(tableName.matches("[A-Za-z0-9_]+"),
      s"writeBucketedTable: unsafe table name '$tableName'")
    // Overwrite must survive a PREVIOUS JVM's leftovers: an in-memory
    // session catalog dies with its JVM but the managed table's
    // warehouse directory does not, and CTAS onto an orphaned location
    // throws LOCATION_ALREADY_EXISTS instead of overwriting. Drop any
    // catalog entry, then clear the stale location explicitly — the
    // rewrite-every-run staleness discipline depends on this being
    // idempotent across sessions.
    val ss = df.sparkSession
    ss.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val loc = new org.apache.hadoop.fs.Path(
      ss.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(tableName)))
    val fs = loc.getFileSystem(ss.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCol)
    (if (sortCols.isEmpty) w else w.sortBy(sortCols.head, sortCols.tail: _*))
      .saveAsTable(tableName)
  }

  /** [[writeBucketedTable]] memoized as a [[SessionMemo]] artifact of
    * its layout spec (VERDICT r10 #3: the layout read-back queries used
    * to re-run the full rewrite on every invocation): skips the rewrite
    * while this session's table exists and was written from
    * byte-identical source files, and re-runs it the moment the source
    * fingerprint moves. `srcDir` must be the parquet location `df`
    * reads from.
    */
  def writeBucketedTableCached(df: DataFrame, srcDir: String,
                               tableName: String, bucketCol: String,
                               nBuckets: Int,
                               sortCols: Seq[String] = Nil): Unit =
    SessionMemo.tableArtifact(df.sparkSession,
      s"bucketed:$tableName:$bucketCol:$nBuckets:${sortCols.mkString(",")}",
      srcDir, tableName) {
      writeBucketedTable(df, tableName, bucketCol, nBuckets, sortCols)
    }

  /** [[compactZOrder]] memoized the same way: rewrite once per
    * (session, z-spec, source fingerprint), skip while the input files
    * and the output directory are both intact.
    */
  def compactZOrderCached(spark: SparkSession, inDir: String, outDir: String,
                          targetBytes: Long, zCols: Seq[String],
                          bits: Int = 8): Unit =
    SessionMemo.artifact(spark,
      s"zorder:$outDir:${zCols.mkString(",")}:$bits:$targetBytes",
      inDir, outDir) {
      compactZOrder(spark, inDir, outDir, targetBytes, zCols, bits)
    }
}
