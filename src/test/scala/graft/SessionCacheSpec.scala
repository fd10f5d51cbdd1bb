package graft

import java.util.concurrent.{CountDownLatch, ExecutionException, FutureTask,
  TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.core.SessionCache

/** The session artifact cache's lifecycle on plain values (claim, hit,
  * failed build, reentrant claim, evict racing a build, prefix evict),
  * plus one run through `Queries`' on-disk artifacts. Each plain test
  * uses its own scope. */
class SessionCacheSpec extends SparkSpec {

  /** `f` on a fresh daemon thread, failing the test if it takes longer
    * than 30 s — a hang fails instead of stalling the suite. */
  private def within[A](f: => A): A = {
    val task = new FutureTask[A](() => f)
    val t = new Thread(task, "session-cache-spec")
    t.setDaemon(true)
    t.start()
    try task.get(30, TimeUnit.SECONDS)
    catch { case e: ExecutionException => throw e.getCause }
  }

  test("session cache: a hit returns the cached value without rebuilding") {
    val builds = new AtomicInteger(0)
    def get() = SessionCache.get("hit", "t")(builds.incrementAndGet())(_ => ())
    assert(get() == 1)
    assert(get() == 1)
    assert(builds.get == 1)
  }

  test("session cache: a failed build rethrows and a retry rebuilds") {
    val builds = new AtomicInteger(0)
    val e = intercept[IllegalArgumentException] {
      SessionCache.get("fail", "t") {
        builds.incrementAndGet()
        throw new IllegalArgumentException("boom")
      }((_: Int) => ())
    }
    assert(e.getMessage == "boom")
    assert(SessionCache.get("fail", "t")(builds.incrementAndGet())(_ => ()) == 2)
  }

  test("session cache: a build that asks for its own key fails fast instead of hanging") {
    val e = within {
      intercept[IllegalStateException] {
        SessionCache.get("reentrant", "t") {
          SessionCache.get("reentrant", "t")(1)(_ => ())
        }(_ => ())
      }
    }
    assert(e.getMessage.contains("own build"))
    // The failed claim is gone: the next call builds normally.
    assert(within(SessionCache.get("reentrant", "t")(2)(_ => ())) == 2)
  }

  test("session cache: an evict racing a build releases the built value exactly once") {
    val started = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    val releases = new AtomicInteger(0)
    val builds = new AtomicInteger(0)
    val builder = new FutureTask[Int](() =>
      SessionCache.get("race", "graph") {
        started.countDown()
        gate.await()
        builds.incrementAndGet()
      }(_ => releases.incrementAndGet(): Unit))
    new Thread(builder).start()
    assert(started.await(30, TimeUnit.SECONDS))
    val evictor = new FutureTask[Unit](() => SessionCache.evict("race", "graph"))
    new Thread(evictor).start()
    // The evict waits for the build rather than dropping its claim.
    Thread.sleep(200)
    assert(!evictor.isDone, "evict returned while the build was in flight")
    assert(releases.get == 0)
    gate.countDown()
    assert(builder.get(30, TimeUnit.SECONDS) == 1)
    evictor.get(30, TimeUnit.SECONDS)
    assert(releases.get == 1)
    // The evicted entry is gone: the next get rebuilds, and a second
    // evict releases only that new value.
    assert(within(SessionCache.get("race", "graph")(builds.incrementAndGet())(
      _ => releases.incrementAndGet(): Unit)) == 2)
    SessionCache.evict("race", "graph")
    assert(releases.get == 2)
  }

  test("session cache: a prefix evict releases every matching entry and only those") {
    val released = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val builds = new AtomicInteger(0)
    def get(tag: String) = SessionCache.get("prefix", tag) {
      builds.incrementAndGet(); tag
    }(released.add(_): Unit)
    val tags = Seq("n18_layer_1", "n18_layer_2", "n18_levels", "n18_app_layer_1")
    tags.foreach(get)
    SessionCache.evict("prefix", "n18_layer_")
    import scala.jdk.CollectionConverters._
    assert(released.asScala.toSet == Set("n18_layer_1", "n18_layer_2"))
    assert(builds.get == 4)
    tags.foreach(get)
    assert(builds.get == 6, "only the evicted tags rebuild")
    assert(released.size == 2)
  }

  test("session cache: an evicted on-disk artifact's directory and tables are gone") {
    val p1 = Queries.lineIndexPath(spark, sf0001)
    assert(new java.io.File(p1).isDirectory)
    Bench.evictArtifacts(spark, sf0001, "d26_index_build")
    assert(!new java.io.File(p1).exists, s"$p1 survived the evict")
    val p2 = Queries.lineIndexPath(spark, sf0001)
    assert(p2 != p1 && new java.io.File(p2).isDirectory)

    val (li, ord) = Queries.bucketedTableNames(spark, sf0001)
    assert(spark.catalog.tableExists(li) && spark.catalog.tableExists(ord))
    Bench.evictArtifacts(spark, sf0001, "j01_bucket_build")
    assert(!spark.catalog.tableExists(li) && !spark.catalog.tableExists(ord))
    assert(Queries.bucketedTableNames(spark, sf0001) == ((li, ord)))
    assert(spark.catalog.tableExists(li))
  }
}
