package graft

import org.apache.spark.sql.SparkSession

/** What the gate mains (`Bench`, `Verify`, `PlanDump`, `Scratch`) share: the
  * one session they run in, the choice of gates, the storage sweep between
  * gates and the JSON string escape of what they write. */
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

  /** Unpersists every persistent RDD of the session and returns how many it
    * released. Call it between gates: each gate is fully evaluated before
    * the next starts, so nothing needs the blocks again, while without the
    * sweep a gate's checkpoints stay until driver GC runs the ContextCleaner
    * and compete with later gates for execution memory. */
  def sweep(spark: SparkSession): Int = {
    val persisted = spark.sparkContext.getPersistentRDDs.values
    persisted.foreach(_.unpersist(blocking = false))
    persisted.size
  }

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
