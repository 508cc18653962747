package graft
/** Times queries sequentially in one session (scale debugging).
  * Usage: Test/runMain graft.IsoQ <q1,q2,...> <sfDir> [cpus] [k=v,k=v] */
object IsoQ {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",")
    val dir = args(1)
    val cpus = if (args.length > 2) args(2).toInt else 32
    val confs = if (args.length > 3) Harness.parseConfs(args(3)) else Nil
    val spark = Harness.session(cpus, confs: _*)
    names.foreach { name =>
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, dir).count()
      println(f"[iso] $name ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
    }
    spark.stop()
  }
}
