package graft

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of what an operator caches or spools on its way to a
  * result: persists, local checkpoints, broadcasts and temp dirs are
  * created through a `Scope` and released by it — at the end of the
  * block that opened it, on the error path too — instead of by
  * hand-paired `unpersist` calls. tinymr's task object plays this role
  * for its run's intermediates; here the block is the lifetime.
  *
  * Three ways in:
  *   - [[Scope.pinned]]: the body returns the operator's (bounded)
  *     result; it is persisted and counted, then everything the scope
  *     owned is released. The result stays cached (LRU/clearCache).
  *   - [[Scope.apply]]: release at block end, for callers that
  *     materialize on their own (collect-and-recreate, sink writes,
  *     specs).
  *   - [[Scope.lru]]: never releases. For lazily returned frames, whose
  *     caches must outlive the call: reclaimed by LRU eviction or
  *     `clearCache`, temp dirs by the JVM-exit sweep.
  */
final class Scope private (releases: Boolean) {
  private[this] val owned = ArrayBuffer.empty[(AnyRef, () => Unit)]

  private def own[A <: AnyRef](handle: A)(free: => Unit): A = {
    if (releases) synchronized { owned += (handle -> (() => free)) }
    handle
  }

  def persist[T](ds: Dataset[T]): Dataset[T] =
    own(ds.persist())(ds.unpersist(blocking = false))

  def persist[T](ds: Dataset[T], level: StorageLevel): Dataset[T] =
    own(ds.persist(level))(ds.unpersist(blocking = false))

  /** `localCheckpoint(eager)`. Its blocks live at the RDD layer, where
    * `Dataset.unpersist` does not reach, so the release unpersists the
    * checkpointed RDD under the `LogicalRDD` leaf.
    */
  def checkpoint[T](ds: Dataset[T], eager: Boolean): Dataset[T] = {
    val cp = ds.localCheckpoint(eager)
    cp.queryExecution.analyzed match {
      case lr: LogicalRDD => own(cp)(lr.rdd.unpersist(blocking = false))
      case _ => cp
    }
  }

  /** Released with `unpersist`, not `destroy`: the driver keeps the
    * value, so a cached result evicted later can still recompute.
    */
  def broadcast[T: ClassTag](s: SparkSession, value: T): Broadcast[T] = {
    val b = s.sparkContext.broadcast(value)
    own(b)(b.unpersist(blocking = false))
  }

  /** A fresh temp dir, deleted recursively on release; any dir still
    * live at JVM exit is deleted by one shutdown hook.
    */
  def tempDir(prefix: String): File = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    Scope.exitSweep
    Scope.liveDirs.add(dir)
    own(dir) { Scope.liveDirs.remove(dir); Scope.deleteTree(dir) }
  }

  /** Release one owned handle now (a superseded loop round); a handle
    * this scope does not own is left alone.
    */
  def release(handle: AnyRef): Unit = {
    val hit = synchronized {
      val i = owned.indexWhere(_._1 eq handle)
      if (i < 0) None else Some(owned.remove(i)._2)
    }
    hit.foreach(_())
  }

  /** Hand an owned handle over to the LRU contract: it outlives this
    * scope (a loop's last round, returned lazily).
    */
  def keep[A <: AnyRef](handle: A): A = {
    synchronized { owned.filterInPlace(_._1 ne handle) }
    handle
  }

  private def close(): Unit = {
    val frees = synchronized { try owned.reverse.map(_._2) finally owned.clear() }
    var first: Throwable = null
    frees.foreach { f =>
      try f() catch { case NonFatal(e) => if (first == null) first = e else first.addSuppressed(e) }
    }
    if (first != null) throw first
  }
}

object Scope {

  /** Run `body`, then release everything it owned. */
  def apply[A](body: Scope => A): A = {
    val sc = new Scope(releases = true)
    try body(sc) finally sc.close()
  }

  /** Run `body`, persist and count the frame it returns, then release
    * everything it owned. On failure the result's persist is dropped
    * too, so nothing stays registered.
    */
  def pinned[T](body: Scope => Dataset[T]): Dataset[T] = apply { sc =>
    val out = body(sc).persist()
    try { out.count(); out }
    catch { case e: Throwable => out.unpersist(blocking = false); throw e }
  }

  /** The never-releasing owner: lazily returned frames keep their
    * caches until LRU eviction or `clearCache`.
    */
  val lru: Scope = new Scope(releases = false)

  private val liveDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[File]()

  private lazy val exitSweep: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => liveDirs.forEach(deleteTree(_))))

  private def deleteTree(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete(); ()
  }
}
