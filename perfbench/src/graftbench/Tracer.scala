package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graftbench.SpanListener
import org.apache.spark.storage.StorageLevel

import graft.docset.DocSet

/**
 * Spans around the benchmark's calls into the engine. When tracing is off
 * every method is a pass-through, so the untraced run executes exactly the
 * library user's lazy pipeline. When it is on, each span runs its Spark
 * jobs under a job group named after the span, and `cut` materializes the
 * span's result at its boundary so the work lands in the span that asked
 * for it.
 */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private final class Agg { var wall = 0.0; var child = 0.0; var rows = 0L }
  private val aggs = mutable.LinkedHashMap[String, Agg]()
  private var stack: List[(Agg, Array[Double])] = Nil
  private val held = mutable.ArrayBuffer[Dataset[_]]()
  val listener = new SpanListener
  if (on) spark.sparkContext.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(name, name)
      val agg = aggs.getOrElseUpdate(name, new Agg)
      val childWall = Array(0.0)
      stack = (agg, childWall) :: stack
      val t0 = System.nanoTime
      try body
      finally {
        val wall = (System.nanoTime - t0) / 1e9
        stack = stack.tail
        stack.headOption.foreach(_._2(0) += wall)
        agg.wall += wall; agg.child += childWall(0)
        if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
      }
    }

  /** Count `n` output rows for the innermost open span. */
  def rows(n: Long): Unit = stack.headOption.foreach(_._1.rows += n)

  def cut[T](ds: Dataset[T]): Dataset[T] =
    if (!on) ds
    else {
      val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
      held += p
      rows(p.count())
      p
    }

  def cut(d: DocSet): DocSet = if (!on) d else DocSet.wrap(cut(d.ds))

  /** Unpersist the frames that only tracing persisted. */
  def release(): Unit = { held.foreach(_.unpersist(blocking = true)); held.clear() }

  def rowsOut(name: String): Long = aggs.get(name).map(_.rows).getOrElse(0L)

  /** The five counters of every named span (zeros for spans that never ran). */
  def spanMetrics(names: Seq[String], cores: Int): Seq[(String, Double, String)] = {
    SpanListener.drain(spark.sparkContext)
    names.flatMap { name =>
      val a = aggs.getOrElse(name, new Agg)
      val c = listener.get(name)
      val self = math.max(0.0, a.wall - a.child)
      val idle = if (self <= 0) 0.0 else math.max(0.0, 1.0 - c.taskRunMs / 1000.0 / (self * cores))
      Seq((s"$name.self_s", self, "s"),
        (s"$name.task_cpu_s", c.taskCpuNs / 1e9, "s"),
        (s"$name.shuffle_write_mb", c.shuffleWriteBytes / 1048576.0, "MB"),
        (s"$name.slot_idle_ratio", idle, "ratio"),
        (s"$name.rows_out", a.rows.toDouble, "rows"))
    }
  }

  def jobs(name: String): Long = { SpanListener.drain(spark.sparkContext); listener.get(name).jobs }
  def joinRows(name: String): Long = { SpanListener.drain(spark.sparkContext); listener.get(name).joinRows }
  def spillMb: Double = { SpanListener.drain(spark.sparkContext); listener.all.map(_.spillBytes).sum / 1048576.0 }
}
