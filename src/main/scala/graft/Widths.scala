package graft

import org.apache.spark.sql.SparkSession

/** The engine's size-derived width rule for the boundaries AQE cannot size
  * itself (a checkpoint's pinned layout, a loop run with AQE off): bytes
  * over `spark.sql.adaptive.advisoryPartitionSizeInBytes` — the sizing AQE
  * would pick — clamped to the cluster's default parallelism, with a
  * minimum-parallelism floor of min(parallelism, 4) (the idea of
  * spark.sql.files.minPartitionNum on scans: such loops are latency-bound
  * at small volumes; q138 measured width 1 at 4.6 s vs 3.2 s at the floor
  * of 4 at sf0.1, flat from 4 to 8). Derive partitioning from input size,
  * not from a constant tuned to local mode or to one cluster.
  */
object Widths {
  def forBytes(spark: SparkSession, bytes: Long): Int = {
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    val defPar = spark.sparkContext.defaultParallelism.toLong
    math.max(math.min(defPar, 4L),
      math.min(defPar, (bytes + advisory - 1L) / advisory)).toInt
  }
}
