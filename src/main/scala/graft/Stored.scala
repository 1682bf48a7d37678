package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.StoreBridge
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/**
 * The one place that stores an intermediate frame and releases it. Every
 * form stores MEMORY_AND_DISK.
 *
 * Which form:
 *  - `now` (eager local checkpoint): the rows are computed here, by one job,
 *    and every later reader reads exactly those rows. Use it when the rows
 *    carry a non-deterministic column (a monotonically increasing id, a
 *    partition id, a rank that depends on partition order or a range
 *    partitioner's sample), when stages submitted concurrently read the
 *    frame, or when the frame must outlive what it was computed from (an
 *    enclosing scope, a search point-in-time or a temp view that is
 *    dropped next).
 *  - `once` (lazy local checkpoint): cuts the lineage and is filled by the
 *    first job that reads it, so it costs no job of its own. Use it for a
 *    deterministic frame that several later plans read, above all the
 *    state of an iterative loop, whose plan would otherwise grow each round.
 *  - `cached` (persist): keeps the frame's plan, so a later plan still
 *    sees its output partitioning (a join on the same key adds no
 *    exchange, as PageRank's plan audit pins) and a plan that rebuilds the
 *    same query reads the stored rows. Use it when a plan on top needs the
 *    stored frame's plan.
 *
 * Lifetime: `scoped { ... }` releases every frame the current thread
 * stored inside the block when the block ends, normally or by an
 * exception, last stored first. A frame the block returns is not released:
 * it passes to the enclosing scope. So an operator can compute its result
 * from intermediates it releases at once, store the result with `now` and
 * return it. Scopes nest, and a scope never releases what another thread
 * stored. Until it ends, a scope keeps each frame stored in it, and the
 * frame it was stored from, reachable. Outside any scope nothing is
 * registered: the caller owns what it stores, and it is released when
 * garbage collection reclaims it.
 *
 * A released `cached` frame is unpersisted through `Dataset.unpersist`, so
 * its entry leaves the session's cache too; a plan built on it recomputes
 * it. A released checkpoint's blocks are gone and its lineage was cut, so
 * nothing may read it, or a plan built on it, after its scope ends.
 */
object Stored {

  /** A stored frame, the frame it was stored from and how to release it.
    * The entry keeps both frames, and so the plan (and the SQL metrics) of
    * the source, reachable until its scope ends: a stage that still runs the
    * source after a lazy checkpoint has cut its lineage then reports its
    * metrics to live accumulators, not to collected ones. */
  private final class Entry(val stored: Dataset[_], val source: Dataset[_], val release: () => Unit)

  /** This thread's open scopes, innermost first. */
  private val scopes = new ThreadLocal[List[ArrayBuffer[Entry]]] {
    override def initialValue(): List[ArrayBuffer[Entry]] = Nil
  }

  def now[T](ds: Dataset[T]): Dataset[T] = checkpointed(ds, ds.localCheckpoint())

  def once[T](ds: Dataset[T]): Dataset[T] = checkpointed(ds, ds.localCheckpoint(false))

  def cached[T](ds: Dataset[T]): Dataset[T] = {
    val stored = ds.persist(StorageLevel.MEMORY_AND_DISK)
    register(new Entry(stored, ds, () => { stored.unpersist(blocking = false); () }))
    stored
  }

  /** Runs `body` in a scope; see the object's scaladoc. */
  def scoped[A](body: => A): A = counted(body)._1

  /** `scoped`, also returning how many frames the scope released. */
  def counted[A](body: => A): (A, Int) = {
    val outer = scopes.get
    val mine = ArrayBuffer.empty[Entry]
    scopes.set(mine :: outer)
    val result =
      try body
      catch { case e: Throwable => release(mine); throw e }
      finally scopes.set(outer)
    mine.find(_.stored eq result.asInstanceOf[AnyRef]).foreach { e =>
      mine -= e
      outer.headOption.foreach(_ += e)
    }
    (result, release(mine))
  }

  private def checkpointed[T](source: Dataset[T], stored: Dataset[T]): Dataset[T] = {
    val rdd = stored.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    register(new Entry(stored, source, () => StoreBridge.dropCheckpoint(rdd.sparkContext, rdd.id)))
    stored
  }

  private def register(e: Entry): Unit = scopes.get.headOption.foreach(_ += e)

  private def release(entries: ArrayBuffer[Entry]): Int = {
    entries.reverseIterator.foreach(_.release())
    entries.size
  }
}
