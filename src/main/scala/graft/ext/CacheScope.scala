package graft.ext

import java.nio.file.Path

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.storage.StorageLevel

/** The one lifetime rule for what graft materializes while it builds a
  * frame. Three kinds of thing outlive the call that makes them, because
  * the returned frame still reads them lazily:
  *  - `persistScoped` frames (MEMORY_AND_DISK; each blocks a measured
  *    4–40× re-evaluation of a scan+kernel lineage);
  *  - the loop barriers ([[graft.ops.Iterate]]) a result reads: local
  *    checkpoints of packed row bytes, freed only by
  *    [[GraftSqlShim.freeBarrier]];
  *  - [[graft.io.Scratch.dir]] directories that round-trip queries write
  *    and read back.
  *
  * '''A query build owns all three.''' Every [[graft.SparkEntry.queries]]
  * entry runs in [[build]]: it first closes the thread's previous build
  * scope, then builds inside a fresh one, which owns every persist,
  * every barrier the result reads (an outermost loop, or a barrier made
  * outside any loop, hands it over) and every scratch dir the build
  * makes. The scope stays open while the caller consumes the frame and
  * closes when the next build starts on the same thread; the JVM deletes
  * the scratch dirs of the build still open when it exits.
  *
  * [[withCacheScope]] opens a scope for a block: it owns the persists
  * made inside the block and frees them when the block ends, also inside
  * a build. Barriers and scratch dirs made inside it stay with the build,
  * since the frame could not be recomputed without them.
  *
  * Outside any scope, a persist lives until the session's cache is
  * cleared, a barrier until the ContextCleaner collects it, and a
  * scratch dir until the JVM exits.
  *
  * {{{
  * val pairs = CacheScope.withCacheScope { _ =>
  *   val p = Dedup.minhashLsh(docs)
  *   p.collect()        // materialize INSIDE the scope
  * }                    // all operator-persisted blocks freed here
  * }}}
  *
  * Scopes are per-thread (registration uses a thread-local, matching
  * driver-side plan construction) and nest: the innermost active scope
  * owns new persists.
  */
final class CacheScope private[ext] () {
  private val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
  private val barriers = scala.collection.mutable.ArrayBuffer[RDD[_]]()
  private val dirs = scala.collection.mutable.ArrayBuffer[Path]()

  /** Frames persisted under this scope so far (test/inspection hook). */
  def registered: Seq[DataFrame] = synchronized(frames.toSeq)

  /** Unpersist every registered frame, blocking until blocks are freed,
    * then free the barriers and delete the scratch dirs. Idempotent. */
  def close(): Unit = synchronized {
    frames.foreach(_.unpersist(blocking = true))
    barriers.foreach(GraftSqlShim.freeBarrier)
    dirs.foreach(graft.io.Scratch.delete)
    frames.clear(); barriers.clear(); dirs.clear()
  }
}

object CacheScope {

  private val active = new ThreadLocal[List[CacheScope]] {
    override def initialValue(): List[CacheScope] = Nil
  }
  /** The thread's last build: in progress while it is active, then open
    * until the next build starts. */
  private val lastBuild = new ThreadLocal[CacheScope]

  private def building: Option[CacheScope] =
    Option(lastBuild.get).filter(b => active.get().exists(_ eq b))

  private def within[A](scope: CacheScope)(body: => A): A = {
    active.set(scope :: active.get())
    try body
    finally active.set(active.get().filterNot(_ eq scope))
  }

  /** Run `body` with a fresh innermost scope; all frames ext operators
    * persist inside it are freed when the block exits (also on throw). */
  def withCacheScope[A](body: CacheScope => A): A = {
    val scope = new CacheScope
    try within(scope)(body(scope))
    finally scope.close()
  }

  /** Builds one query as the owner of what it materializes: closes the
    * thread's previous build scope, then runs `body` in a fresh one that
    * stays open until the next build on this thread. */
  private[graft] def build[A](body: => A): A = {
    Option(lastBuild.get).foreach(_.close())
    val scope = new CacheScope
    lastBuild.set(scope)
    within(scope)(body)
  }

  /** The single persist point for ext operators (and the query layer's
    * composition barriers): MEMORY_AND_DISK, owned by the innermost
    * active scope when one exists. */
  private[graft] def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    active.get().headOption.foreach(s => s.synchronized(s.frames += p))
    p
  }

  /** Hands a loop barrier to the build in progress, if any. */
  private[graft] def ownBarrier(rdd: RDD[_]): Unit =
    building.foreach(s => s.synchronized(s.barriers += rdd))

  /** Hands a scratch dir to the build in progress, if any. */
  private[graft] def ownDir(dir: Path): Unit =
    building.foreach(s => s.synchronized(s.dirs += dir))
}
