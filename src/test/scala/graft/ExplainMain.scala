package graft

/** Ad-hoc plan dump (test scope): prints the executed plan of named queries.
  * Usage: Test/runMain graft.ExplainMain <sfDir> <query...>
  *
  * With `SPARK_GRAFT_PLAN_DIR` set, additionally writes each query's
  * `.explain("formatted")` text (plus the executed plan, which carries the
  * AQE-final shape) to `<dir>/<query>_<SPARK_GRAFT_PLAN_TAG>.txt` — the
  * before/after plan evidence the optimization rounds commit under
  * `plans/rN/`.
  */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q40_cosine_topk")
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planTag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val spark = Harness.session(8)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.collect()
      println(s"==== $n ====")
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val executed = df.queryExecution.executedPlan.toString
      println(executed)
      planDir.foreach { d =>
        val dir = new java.io.File(d); dir.mkdirs()
        val out = new java.io.File(dir, s"${n}_$planTag.txt")
        val w = new java.io.PrintWriter(out, "UTF-8")
        try {
          w.println(s"== $n @ $sfDir (explain formatted) ==")
          w.println(formatted)
          w.println("== executed plan (AQE-final) ==")
          w.println(executed)
        } finally w.close()
        println(s"[explain] wrote ${out.getPath}")
      }
    }
    spark.stop()
  }
}
