package graft
/** Dumps selected queries for a local oracle check.
  * Usage: Test/runMain graft.VerifyOne <q1,q2> [sfDir] [outDir] [k=v,k=v] */
object VerifyOne {
  def main(a: Array[String]): Unit = {
    val names = a(0).split(",")
    val sfDir = if (a.length > 1) a(1) else "/root/testdata/sf0.01"
    val out = if (a.length > 2) a(2) else "/tmp/vone"
    // optional 4th arg: comma-separated k=v session confs (conf-gated forms)
    val confs = if (a.length > 3) Harness.parseConfs(a(3)) else Nil
    val spark = Harness.session(8, confs: _*)
    spark.sparkContext.setLogLevel("ERROR")
    val sqls = scala.collection.mutable.LinkedHashMap[String, String]()
    names.foreach { n =>
      SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").parquet(s"$out/$n")
      SparkEntry.oracleSql.get(n).foreach(sqls += n -> _)
      println(s"[vone] $n dumped")
    }
    def esc(s: String) =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
    val json = sqls.map { case (k, v) => s"${esc(k)}: ${esc(v)}" }
      .mkString("{", ",\n", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
