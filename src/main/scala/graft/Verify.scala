package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Correctness dump: each gate's result → parquet, plus oracle_sql.json,
  * for a DuckDB compare (`tools/check_oracle.py`). With the optional
  * comma-separated gate list, only those gates are dumped and only their
  * oracles are written, so `tools/check_oracle.py` checks just them.
  *
  * usage: runMain graft.Verify <sfDir> <outDir> [q_a,q_b]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3, "usage: Verify <sfDir> <outDir> [q_a,q_b]")
    val Array(sfDir, outDir) = args.take(2)
    val names = GateHarness.select(args.lift(2))
    val spark = GateHarness.session()
    dump(spark, sfDir, outDir, names)
    // corpus-derived oracles (e.g. the BPE merge table as SQL literals);
    // never let a dynamic-oracle failure sink the static gate — the worst
    // case is the affected query degrading to the driver's rows-only check
    val dynamic = try SparkEntry.oracleSqlDynamic(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] dynamic oracles failed: ${e.getMessage}")
        Map.empty[String, String]
      }
    // a full run writes every declared oracle, so one whose gate wrote no
    // output (renamed gate, mistyped key) fails check_oracle.py
    val all = SparkEntry.oracleSql ++ dynamic
    val oracles = args.lift(2).fold(all)(_ => all.filter { case (k, _) => names.contains(k) })
    val json = oracles.map { case (k, v) => s"${GateHarness.jsonString(k)}: ${GateHarness.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes each gate of `names` to `<outDir>/<name>` as parquet. The old
    * output of every gate is deleted first, so `outDir` ends up holding just
    * this run's gates, and a gate that fails (logged; the run goes on)
    * leaves no stale parquet for `tools/check_oracle.py` to pass. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String]): Unit = {
    val out = new Path(outDir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SparkEntry.queries.keys.foreach(name => fs.delete(new Path(out, name), true))
    fs.mkdirs(out)
    names.foreach { name =>
      System.err.println(s"[verify] running $name")
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      GateHarness.sweep(spark)
    }
  }
}
