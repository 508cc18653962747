package graft.perfbench

import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Records the expected digest of every query for one input directory.
  *
  * Usage: `Record <dataDir> <workloadsDir> <outFile> <scratchDir> [verifyDir]`
  *
  * Each query runs twice, each time in a fresh session; a query whose two
  * digests differ is reported and the recording fails. With `verifyDir` (the
  * output of `graft.Verify` over the same `dataDir`, checked against the
  * DuckDB oracle by `scripts/check_oracle.py`), each recorded digest is also
  * compared with the digest of the oracle-checked output and differences are
  * listed, so the committed values trace back to an oracle-checked result.
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, workloadsDir, outFile, scratch) = args.take(4)
    val verifyDir = args.lift(4)
    val lists = Workloads.read(Paths.get(workloadsDir))
    val problems = Workloads.partitionProblems(lists, SparkEntry.queries.keySet)
    require(problems.isEmpty, problems.mkString("; "))
    val base = Runner.session("perfbench-record", scratch)
    val queries = lists.values.flatten.map(_.query).toSeq.sorted
    var bad = 0
    def digest(q: String, run: Int): Digest = {
      val s = base.newSession()
      s.conf.set(graft.assets.AssetStore.DirConf, s"$scratch/assets/$q-$run")
      SparkSession.setActiveSession(s)
      s.catalog.clearCache()
      Digest.of(SparkEntry.queries(q)(s, dataDir))
    }
    val digests = queries.map { q =>
      val d1 = digest(q, 1)
      val d2 = digest(q, 2)
      if (d1 != d2) { bad += 1; println(s"[record] $q NONDETERMINISTIC ${d1.render} vs ${d2.render}") }
      verifyDir.foreach { v =>
        val dv = scala.util.Try(Digest.of(base.read.parquet(s"$v/$q")))
        val status = dv.map(d => if (d == d1) "MATCH" else s"DIFF verify=${d.render}")
          .getOrElse("NO_VERIFY_OUTPUT")
        println(s"[record] $q ${d1.render} $status")
      }
      q -> d1
    }.toMap
    Digest.write(Paths.get(outFile),
      s"Expected (rows, hash-hi-sum, hash-lo-sum) of every query over $dataDir,\n" +
      "recorded by graft.perfbench.Record (see perfbench/README.md).", digests)
    base.stop()
    if (bad > 0) sys.exit(1)
  }
}
