package graft

/** Batch plan capture for the optimization rounds:
  * `runMain graft.PlanDump <outDir> <suffix> [sfDir] [q1 q2 ...]`
  * writes `<outDir>/<query>_<suffix>.txt` with the formatted physical
  * plan of each named declared query (all queries when none named), in
  * ONE JVM under Bench's session posture. Bench's warm-up builds the
  * standing artifacts first so the captured plan is the steady-state
  * serving plan, not the build.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) { // r13 ADVICE: usage, not a bare AIOOBE
      System.err.println(
        "usage: graft.PlanDump <outDir> <suffix> [sfDir] [q1 q2 ...]")
      sys.exit(2)
    }
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val names =
      if (args.length > 3) args.drop(3).toSeq else SparkEntry.queries.keys.toSeq
    val spark = Bench.session()
    Bench.warm(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { q =>
      SparkEntry.queries.get(q) match {
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"),
              plan.getBytes("UTF-8"))
            println(s"[plandump] $q ok")
          } catch { case e: Throwable =>
            println(s"[plandump] $q FAILED: ${e.getMessage}")
          }
        case None => println(s"[plandump] $q UNKNOWN")
      }
    }
    spark.stop()
  }
}
