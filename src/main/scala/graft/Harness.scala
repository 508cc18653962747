package graft

import org.apache.spark.sql.SparkSession

/** The repo's one harness session: every main (Bench, Verify, ScaleBench,
  * PlanAudit) and the test suites build their SparkSession here, so a
  * harness-wide pin is added in one place. Each caller passes only its real
  * difference as `confs`.
  */
object Harness {

  /** `local[cpus]` with shuffle width = `cpus`, UTC session time, AQE on,
    * UI off, and the replay-harness streaming state width; `confs` are
    * applied last. */
  def session(cpus: Int, confs: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the engine default for streaming state width is cluster parallelism
      // (scale-safe); the measured tiny-replay optimum is 4 (see
      // EventsStream.statePartitions) and belongs to the harness
      .config("graft.stream.statePartitions", "4")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A `k=v,k=v` conf argument as pairs ("" is none); a piece without `=`
    * or with an empty key fails naming the piece, never silently drops it. */
  def parseConfs(arg: String): Seq[(String, String)] =
    arg.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"conf argument '$kv' is not of the form key=value")
      }
    }
}
