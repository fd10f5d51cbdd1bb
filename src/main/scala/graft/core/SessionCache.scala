package graft.core

import java.util.concurrent.{CompletableFuture, CompletionException,
  ConcurrentHashMap}

import scala.jdk.CollectionConverters._

/** The session artifact cache: the one place that claims, builds,
  * waits on, evicts and releases an artifact built once per session and
  * served many times (a checkpointed DataFrame, a temp-dir path, a
  * driver count). Keys are (scope, tag): the scope is the owning
  * session (the Spark `applicationId`), the tag names the artifact. A
  * miss drops every other scope's entries unreleased: their values died
  * with their session. */
object SessionCache {
  private final class Entry[A](val release: A => Unit) {
    val owner: Thread = Thread.currentThread
    val result = new CompletableFuture[A]()
  }

  private val entries = new ConcurrentHashMap[(String, String), Entry[_]]()

  /** The value under (scope, tag); `release` frees it on evict. A miss
    * claims the key and runs `build` outside the map's lock, so
    * independent builds (a stack's layers under [[Par]]) overlap, and
    * other callers of the key wait for it. A failed build drops its
    * claim and rethrows; the next call rebuilds. A call from the thread
    * whose build of this key is still running throws
    * `IllegalStateException` instead of waiting on itself. */
  def get[A](scope: String, tag: String)(build: => A)(release: A => Unit): A = {
    val key = (scope, tag)
    if (!entries.containsKey(key)) entries.keySet.removeIf(_._1 != scope)
    val fresh = new Entry[A](release)
    entries.putIfAbsent(key, fresh) match {
      case null =>
        try fresh.result.complete(build)
        catch {
          case e: Throwable =>
            fresh.result.completeExceptionally(e)
            entries.remove(key, fresh)
            throw e
        }
        fresh.result.join()
      case existing =>
        checkNotOwner(existing, key)
        try existing.asInstanceOf[Entry[A]].result.join()
        catch { case e: CompletionException => throw Option(e.getCause).getOrElse(e) }
    }
  }

  /** Remove every entry of `scope` whose tag starts with `tagPrefix` and
    * release each value once. An entry still building is released when
    * its build finishes, so an evict racing a build cannot orphan what
    * the build made; a failed build has nothing to release. */
  def evict(scope: String, tagPrefix: String): Unit =
    entries.keySet.asScala.toList
      .filter { case (s, tag) => s == scope && tag.startsWith(tagPrefix) }
      .foreach { key =>
        val e = entries.get(key)
        if (e != null) {
          checkNotOwner(e, key)
          if (entries.remove(key, e)) releaseWhenBuilt(e)
        }
      }

  private def releaseWhenBuilt[A](e: Entry[A]): Unit =
    (try Some(e.result.join()) catch { case _: CompletionException => None })
      .foreach(e.release)

  private def checkNotOwner(e: Entry[_], key: (String, String)): Unit =
    if (!e.result.isDone && (e.owner eq Thread.currentThread))
      throw new IllegalStateException(
        s"session artifact $key requested by its own build")
}
