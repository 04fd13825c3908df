package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one store of session-scoped derived state: trained IVF indexes,
  * integer centroid sets and PQ codebooks, fitted BPE merge tables, and
  * the on-disk artifacts (layouts, codes, indexes, media files) that
  * declared queries rebuild only when their source moves. Bench and
  * Verify invoke a declared query repeatedly; retraining or rewriting
  * per invocation would be the "index that isn't an index"
  * anti-pattern. Every operator goes through this object and keeps no
  * store of its own.
  *
  * The policy, in one place:
  *
  *  - '''One memo per `SparkSession` object.''' Entries are keyed by
  *    session identity, so `newSession()` sees none of its parent's
  *    entries: a fleet worker serves from artifacts alone.
  *  - '''Data identity.''' A frame-derived value is keyed on a
  *    [[FrameId]]: the semantic hash of the analyzed plan (WHAT is
  *    computed) plus [[filesFingerprint]] of the files under it (WHICH
  *    data — the plan hash is identical before and after the files at
  *    one path are rewritten, so the plan alone would serve stale
  *    centroids or merges against regenerated data). An operator works
  *    the identity out once per call and reuses it across its lookups.
  *    An artifact is keyed on its spec and holds only the latest
  *    [[dirFingerprint]] of its source directory: it rebuilds when that
  *    fingerprint moves or its output is missing.
  *  - '''Computing.''' Each key is computed once, under a lock of its
  *    own, outside the map's lock: different keys compute concurrently,
  *    and a compute may look up other keys. A compute that throws
  *    stores nothing, so the next lookup computes again.
  *  - '''Lifetime.''' Sessions are weak keys, so a discarded session's
  *    entries can be collected — unless a value references its own
  *    session (a `SimilarityOps.IvfIndex`'s DataFrames do), which pins
  *    the key. So every lookup also drops the entries of sessions whose
  *    context has stopped, releasing [[Releasable]] values; [[clear]]
  *    releases and drops every entry. Nothing else clears the memo: Bench's
  *    between-keys hygiene leaves it alone.
  */
object SessionMemo {

  /** A memoized value that holds Spark storage, released when its
    * entry is dropped.
    */
  trait Releasable { def release(): Unit }

  /** The data identity of a frame: see the policy above. */
  final case class FrameId(planHash: Int, files: String)

  def frameId(df: DataFrame): FrameId =
    FrameId(df.queryExecution.analyzed.semanticHash(), filesFingerprint(df))

  /** The value memoized for `key` in `spark`'s memo, computing it on a
    * miss. `key` must name the kind of value (keys of different kinds
    * share one map) and every input the value depends on.
    */
  def value[V](spark: SparkSession, key: Any)(compute: => V): V = {
    val slot = slotFor(spark, key)
    slot.synchronized {
      slot.value match {
        case Some(v) => v.asInstanceOf[V]
        case None =>
          val v = compute
          slot.value = Some(v)
          v
      }
    }
  }

  /** Run `build` unless this session already built artifact `key` from
    * the current contents of `srcDir` and `outDir` still exists.
    * `srcDir` must hold the files the artifact derives from.
    */
  def artifact(spark: SparkSession, key: String, srcDir: String,
               outDir: String)(build: => Unit): Unit =
    rebuildUnless(spark, key, srcDir, {
      val out = new org.apache.hadoop.fs.Path(outDir)
      out.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(out)
    })(build)

  /** [[artifact]] whose output is the catalog table `table`. */
  def tableArtifact(spark: SparkSession, key: String, srcDir: String,
                    table: String)(build: => Unit): Unit =
    rebuildUnless(spark, key, srcDir, spark.catalog.tableExists(table))(build)

  private def rebuildUnless(spark: SparkSession, key: String, srcDir: String,
                            present: => Boolean)(build: => Unit): Unit = {
    val fp = dirFingerprint(spark, srcDir)
    val slot = slotFor(spark, ("artifact", key))
    slot.synchronized {
      if (!slot.value.contains(fp) || !present) {
        slot.value = None
        build
        slot.value = Some(fp)
      }
    }
  }

  /** Release and drop every entry of every session. */
  def clear(): Unit = sessions.synchronized {
    sessions.values.forEach(release)
    sessions.clear()
  }

  private final class Slot { @volatile var value: Option[Any] = None }

  private val sessions =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Any, Slot]]()

  private def slotFor(spark: SparkSession, key: Any): Slot = {
    val store = sessions.synchronized {
      val it = sessions.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.sparkContext.isStopped) {
          it.remove()
          release(e.getValue)
        }
      }
      sessions.computeIfAbsent(spark, _ => new ConcurrentHashMap[Any, Slot]())
    }
    store.computeIfAbsent(key, _ => new Slot)
  }

  private def release(store: ConcurrentHashMap[Any, Slot]): Unit =
    store.values.forEach(_.value match {
      // unpersist on a stopped context may throw
      case Some(r: Releasable) => scala.util.Try(r.release())
      case _ => ()
    })

  /** Source-staleness fingerprint of a parquet file/directory: the
    * sorted (name, length, mtime) tuples of every plain file under
    * `dir`, md5'd. Cheap (one filesystem listing, no data read) and
    * exactly the signal the rewrite-every-run staleness discipline
    * needs: the driver regenerating the testdata rewrites the parquet
    * files, which moves their length or mtime, which invalidates any
    * artifact memoized against the old fingerprint. Listing is
    * NON-recursive by design — the engine's artifact sources are flat
    * parquet files/dirs; a partitioned source would need the recursive
    * form (and at 10⁸ files a manifest/catalog snapshot id instead).
    */
  def dirFingerprint(spark: SparkSession, dir: String): String = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(path).filter(_.isFile)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** DATA-IDENTITY fingerprint of a DataFrame's file-backed inputs
    * (VERDICT r13 #4): the sorted (path, length, mtime) tuples of every
    * file the plan reads (`Dataset.inputFiles` — the public leaf-scan
    * enumeration), md5'd — the [[dirFingerprint]] discipline extended
    * from explicit directories to arbitrary plans. Frames with no
    * file-backed leaves (memory streams, literal ranges) fingerprint as
    * a constant, so the plan hash alone keys them.
    *
    * Cost: ONE listStatus RPC per distinct parent directory (ADVICE
    * r14: a serial getFileStatus per FILE is N round-trips on an object
    * store where the directory listing is one) — listing cost,
    * negligible next to the refit it guards. A file named by
    * `inputFiles` but absent from its directory's listing (an external
    * regeneration replaced the part files between plan construction and
    * this call) folds in as a `missing` marker instead of throwing: a
    * mid-rewrite race moves the fingerprint and forces a refit — the
    * safe outcome — rather than failing with FileNotFoundException.
    */
  def filesFingerprint(df: DataFrame): String = {
    val files = df.inputFiles
    if (files.isEmpty) "nofiles"
    else {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val stats = files.groupBy(f =>
          new org.apache.hadoop.fs.Path(f).getParent)
        .flatMap { case (dir, names) =>
          val wanted = names.map(f =>
            new org.apache.hadoop.fs.Path(f).getName).toSet
          val listed =
            try {
              dir.getFileSystem(conf).listStatus(dir).iterator
                .filter(s => wanted(s.getPath.getName))
                .map(s => s.getPath.getName ->
                  s"${s.getLen}:${s.getModificationTime}")
                .toMap
            } catch {
              // directory itself vanished mid-rewrite: every file in it
              // fingerprints as missing (refit, not crash)
              case _: java.io.FileNotFoundException =>
                Map.empty[String, String]
            }
          names.toSeq.map { f =>
            val name = new org.apache.hadoop.fs.Path(f).getName
            f -> listed.getOrElse(name, "missing")
          }
        }
      val entries = files.sorted.map(f => s"$f:${stats(f)}").mkString("|")
      java.security.MessageDigest.getInstance("MD5")
        .digest(entries.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
  }
}
