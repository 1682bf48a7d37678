package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Try

/** What the gate mains (`Bench`, `Verify`, `PlanDump`, `Scratch`) share: the
  * one session they run in, the choice of gates, the one step that runs a
  * gate and the JSON string escape of what they write. */
object GateHarness {

  /** Env int `name`, or `default` when unset. A value that is not an
    * integer fails with the variable's name and value. */
  def envInt(name: String, default: Int): Int = sys.env.get(name).map { v =>
    require(v.trim.matches("-?\\d+"), s"$name must be an integer, got '$v'")
    v.trim.toInt
  }.getOrElse(default)

  /** `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = {
    val cpus = envInt("SPARK_GRAFT_CPUS", 4)
    require(cpus > 0, s"SPARK_GRAFT_CPUS must be positive, got $cpus")
    cpus
  }

  /** A local session on `cpus` cores with as many shuffle partitions, UTC
    * session time, no UI and log level WARN. A caller that needs another
    * runtime conf sets it on the session it gets.
    *
    * The codegen class cache (a static conf, default 100 entries) holds 4096
    * classes: one pass over the gates generates several hundred, and with
    * the default every gate recompiled its classes on every pass, so no
    * timed run ever hit JIT-warm generated code. */
  def session(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The gates in name order: all of them, or those in the comma-separated
    * `names`. An unknown name fails the run, so a typo cannot give a partial
    * run that reports success. Name order keeps a gate's position, and so
    * the JIT and GC state it runs in, fixed when other gates are added. */
  def select(names: Option[String]): Seq[String] = {
    val all = SparkEntry.queries.keySet
    names match {
      case None => all.toSeq.sorted
      case Some(list) =>
        val keep = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
        require(keep.nonEmpty, s"no gate named in '$list'")
        val unknown = keep -- all
        require(unknown.isEmpty, s"unknown gates: ${unknown.toSeq.sorted.mkString(", ")}")
        keep.toSeq.sorted
    }
  }

  /** Builds gate `name` over `sfDir`, hands it to `use` and then releases
    * every frame the gate stored, all in one `Stored` scope. Returns what
    * `use` returned, or the failure of the build or of `use` (a gate that
    * fails must not end the run), with the number of frames released. A
    * gate's stored frames thus last exactly as long as its run: none
    * competes with a later gate for memory, and no later plan is matched
    * against a cache entry this gate left behind. */
  def runGate[A](spark: SparkSession, sfDir: String, name: String)(use: DataFrame => A): (Try[A], Int) =
    Stored.counted(Try(use(SparkEntry.queries(name)(spark, sfDir))))

  /** `s` as a JSON string literal. Quote, backslash and every control char
    * below 0x20 are escaped: a raw tab or CR in oracle SQL would otherwise
    * make a JSON reader reject the whole file. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
