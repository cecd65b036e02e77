package graft

/** Dev tool (round 14 optimization): dump `.explain("formatted")` for the
  * named queries to `<outDir>/<query>_<tag>.txt` and print an isolated
  * noop-sink timing for each — the guide §1 measure-first loop in one
  * command. Same session and timing as Bench ([[Harness]]).
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <query...>
  *        (tag is `before`/`after`; queries default to a standard set)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r14")
    val tag = if (args.length > 1) args(1) else "before"
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("x34_pagerank", "s11_bm25_topk", "t28_dsir", "x36_interval_overlap")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus())
    Harness.warm(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      CacheRegistry.unpersistAll()
      graft.queries.ExtensionQueries.clearArtifactCaches()
      spark.sparkContext.setJobDescription(s"plandump: $name")
      // loop-iteration tap (r15): operators note() each round's frame
      // before its action; collect those plans into <query>_<tag>_loop.txt
      // so per-round Exchange counts are verifiable (checkpointed loops
      // otherwise dump as a bare scan of the final RDD)
      val loopPlans = new StringBuilder
      PlanProbe.sink = (tag, d) => {
        loopPlans ++= s"== $tag ==\n"
        loopPlans ++= d.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        loopPlans ++= "\n"
      }
      val df = try SparkEntry.queries(name)(spark, sfDir)
        finally PlanProbe.sink = null
      if (loopPlans.nonEmpty)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_${tag}_loop.txt"),
          loopPlans.toString.getBytes("UTF-8"))
      // the formatted string BEFORE execution (initial AQE plan), as
      // explain() prints it
      val planTxt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        planTxt.getBytes("UTF-8"))
      // Timed runs = Bench's regime exactly (Harness.time). This host
      // carries roving 10-30x drag spikes (NOTES.md), so PLANDUMP_REPS
      // (default 3, at least 1) repeats each timing and the MIN is the
      // signal — the least-dragged observation is the closest to the
      // query's true cost. Rep 1 is Bench-cold; later reps run with warm
      // page cache/JIT, so the printed per-rep list keeps the first
      // observation visible.
      val reps = math.max(1, Harness.intEnv("PLANDUMP_REPS", 3))
      val els = (1 to reps).map(_ => Harness.time(spark, sfDir, name, "plandump"))
      val el = els.min
      println(f"PLANDUMP $name%-40s min $el%8.3f s of ${els.map(e => f"$e%.2f").mkString("/")} -> $outDir/${name}_$tag.txt")
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
