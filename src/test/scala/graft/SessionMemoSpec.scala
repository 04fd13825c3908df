package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.sources.SessionMemo

/** The session-memo policy ([[graft.sources.SessionMemo]]) pinned
  * directly, for the behaviour the operator specs do not reach: session
  * scoping, failed computes, missing artifact outputs, nested and
  * concurrent lookups, and `clear()`. The stopped-session sweep is not
  * exercised: stopping a context here would stop the one session every
  * suite in this JVM shares.
  */
class SessionMemoSpec extends SparkSpec {

  /** A key no other test (or operator) can share. */
  private def freshKey(tag: String) =
    ("session-memo-spec", tag, java.util.UUID.randomUUID().toString)

  private def tmpDir(tag: String): Path = Files.createTempDirectory(tag)

  test("a newSession() misses where its parent hits") {
    val key = freshKey("scope")
    val computes = new AtomicInteger()
    def lookup(s: org.apache.spark.sql.SparkSession, v: String) =
      SessionMemo.value(s, key) { computes.incrementAndGet(); v }
    assert(lookup(spark, "parent") == "parent")
    assert(lookup(spark, "again") == "parent", "the parent must hit")
    val child = spark.newSession()
    assert(lookup(child, "child") == "child",
      "a new session must not see its parent's entry")
    assert(lookup(spark, "again") == "parent")
    assert(computes.get == 2)

    // artifacts are scoped the same way: the child rebuilds
    val src = tmpDir("memo_scope_src")
    Files.writeString(src.resolve("part-0"), "rows")
    val out = tmpDir("memo_scope_out").resolve("artifact").toString
    val builds = new AtomicInteger()
    def build(s: org.apache.spark.sql.SparkSession): Unit =
      SessionMemo.artifact(s, key.toString, src.toString, out) {
        builds.incrementAndGet()
        Files.createDirectories(Paths.get(out))
      }
    build(spark); build(spark)
    assert(builds.get == 1)
    build(child)
    assert(builds.get == 2, "a new session must rebuild its own artifact")
  }

  test("a compute that throws stores nothing and is retried") {
    val key = freshKey("throw")
    val e = intercept[IllegalStateException] {
      SessionMemo.value[String](spark, key) {
        throw new IllegalStateException("fit failed")
      }
    }
    assert(e.getMessage == "fit failed")
    assert(SessionMemo.value(spark, key)("retried") == "retried")
    assert(SessionMemo.value(spark, key)("not again") == "retried")

    // an artifact build that throws after creating its output leaves
    // no fingerprint behind: the next call builds again
    val src = tmpDir("memo_throw_src")
    Files.writeString(src.resolve("part-0"), "rows")
    val out = tmpDir("memo_throw_out").toString
    val builds = new AtomicInteger()
    intercept[RuntimeException] {
      SessionMemo.artifact(spark, key.toString, src.toString, out) {
        builds.incrementAndGet()
        throw new RuntimeException("write failed")
      }
    }
    SessionMemo.artifact(spark, key.toString, src.toString, out) {
      builds.incrementAndGet()
    }
    assert(builds.get == 2, "a failed build must not be memoized")
  }

  test("an artifact rebuilds when its output is deleted or its source moves") {
    val key = freshKey("artifact").toString
    val src = tmpDir("memo_art_src")
    Files.writeString(src.resolve("part-0"), "rows")
    val out = tmpDir("memo_art_out").resolve("artifact")
    val builds = new AtomicInteger()
    def build(): Unit =
      SessionMemo.artifact(spark, key, src.toString, out.toString) {
        builds.incrementAndGet()
        Files.createDirectories(out)
      }
    build(); build()
    assert(builds.get == 1, "an intact artifact must be a memo hit")
    Files.delete(out)
    build()
    assert(builds.get == 2,
      "a deleted output must rebuild under an unchanged fingerprint")
    build()
    assert(builds.get == 2)
    Files.writeString(src.resolve("part-1"), "more rows")
    build()
    assert(builds.get == 3, "a moved source fingerprint must rebuild")
  }

  test("lookups nest, and different keys compute concurrently") {
    val outer = freshKey("outer")
    val inner = freshKey("inner")
    assert(SessionMemo.value(spark, outer) {
      SessionMemo.value(spark, inner)(20) + 1
    } == 21)
    assert(SessionMemo.value(spark, inner)(-1) == 20)

    // key A's compute waits until key B's compute has run on another
    // thread: a memo-wide lock during compute would deadlock here
    val a = freshKey("a")
    val b = freshKey("b")
    val bRan = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def await[T](f: Future[T]): T = Await.result(f, 60.seconds)
    try {
      val fa = Future(SessionMemo.value(spark, a) {
        assert(bRan.await(30, TimeUnit.SECONDS), "key B never computed")
        "a"
      })
      val fb = Future(SessionMemo.value(spark, b) {
        bRan.countDown()
        "b"
      })
      assert(await(fa) == "a")
      assert(await(fb) == "b")

      // one key looked up from two threads at once computes once
      val c = freshKey("c")
      val computes = new AtomicInteger()
      val started = new CountDownLatch(1)
      val slow = Future(SessionMemo.value(spark, c) {
        started.countDown()
        Thread.sleep(300)
        computes.incrementAndGet()
      })
      assert(started.await(30, TimeUnit.SECONDS))
      val waiter = Future(SessionMemo.value(spark, c) {
        computes.incrementAndGet()
      })
      assert(await(slow) == 1)
      assert(await(waiter) == 1)
      assert(computes.get == 1)
    } finally pool.shutdownNow()
  }

  test("clear() releases held storage and drops every entry") {
    final class Held extends SessionMemo.Releasable {
      @volatile var released = false
      def release(): Unit = released = true
    }
    val key = freshKey("clear")
    val held = SessionMemo.value(spark, key)(new Held)
    SessionMemo.clear()
    assert(held.released, "clear() must release a Releasable value")
    val next = SessionMemo.value(spark, key)(new Held)
    assert(!(next eq held), "clear() must drop the entry")
  }

  test("no src/main file but SessionMemo keeps a session-keyed store") {
    val markers = Seq("isStopped", "SessionRef", "WeakHashMap[SparkSession")
    val root = Paths.get("src/main")
    val files = Files.walk(root).iterator()
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    while (files.hasNext) {
      val f = files.next()
      if (Files.isRegularFile(f) &&
          f.getFileName.toString != "SessionMemo.scala") {
        val text = Files.readString(f)
        markers.filter(text.contains).foreach(m => offenders += s"$f: $m")
      }
    }
    assert(offenders.isEmpty,
      "session-scoped state belongs in graft.sources.SessionMemo: " +
        offenders.mkString("; "))
  }
}
