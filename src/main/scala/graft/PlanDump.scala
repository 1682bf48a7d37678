package graft

/** Dump `.explain("formatted")` for every declared query (or a named
  * subset) to a directory — the optimization-round audit tool: the judge
  * checks plan claims against these files, and grepping them for Exchange /
  * join-strategy / PushedFilters patterns finds plan-shape waste across the
  * whole surface. NOTE (ADVICE r21): "dumping a plan" is not free —
  * constructing the e2e/streaming DataFrames (q_stream_e2e, q_curation_e2e,
  * ...) executes their full pipelines inside the builder, so a sweep runs
  * real jobs. Per-query failures are counted and the process exits nonzero
  * when any plan is missing, so an audit run cannot silently lose files.
  *
  * usage: runMain graft.PlanDump <outDir> [q_a,q_b]
  * env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as Bench)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(sys.error("usage: PlanDump <outDir> [q_a,q_b]"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = GateHarness.select(args.lift(1))
    val spark = GateHarness.session()
    val dir = new java.io.File(outDir)
    dir.mkdirs()
    var failed = 0
    names.foreach { name =>
      GateHarness.runGate(spark, sfDir, name) { df =>
        // queryExecution.explainString gives the same text explain() prints
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(new java.io.File(dir, s"$name.txt"), "UTF-8")
        try w.println(txt) finally w.close()
      }._1.fold({ e =>
        failed += 1
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }, _ => println(s"[plandump] $name ok"))
    }
    println(s"[plandump] done: ${names.size - failed}/${names.size} ok, $failed failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
