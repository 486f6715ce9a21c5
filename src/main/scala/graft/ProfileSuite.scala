package graft

/** Optimization-round instrument: for each named query (default: all),
  * time separately (a) DataFrame construction — driver-side operator
  * code incl. any eager side work the operator does, (b) first
  * `.count()` — analysis+optimization+codegen+execution, (c) second
  * `.count()` — re-execution with the plan warm. Printed as one TSV
  * line per query so the split driver-work / first-run / steady-state
  * is visible per query and summable across the suite. Runs under
  * Bench's session posture after Bench's warm-up.
  * `runMain graft.ProfileSuite [sfDir] [q1 q2 ...]`
  */
object ProfileSuite {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Bench.session()
    Bench.warm(spark, sfDir)
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    println("query\tbuild_s\trun1_s\trun2_s")
    names.foreach { q =>
      SparkEntry.queries.get(q).foreach { fn =>
        try {
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.count()
          val t2 = System.nanoTime()
          df.count()
          val t3 = System.nanoTime()
          println(f"$q\t${(t1 - t0) / 1e9}%.3f\t${(t2 - t1) / 1e9}%.3f\t${(t3 - t2) / 1e9}%.3f")
        } catch { case e: Throwable => println(s"$q\tFAILED\t${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
