package graft

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.functions.col
import graft.streaming.EventsStream

/** The local filesystem under the `failrename` scheme, except that renaming
  * a `.staging` dir fails: the crash window between writing a sink's new
  * generation and swapping it into place. */
class FailingStagingRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def rename(src: Path, dst: Path): Boolean =
    !src.getName.endsWith(".staging") && super.rename(src, dst)
}

/** Failure injection for the streaming tier's sink targets: crashes in the
  * publish rename path and the sweep of earlier runs' target dirs. */
class StreamTargetSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(prefix).toFile

  test("a failed publish after a crash keeps the set-aside generation") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.failrename.impl", classOf[FailingStagingRenameFs].getName)
    hconf.setBoolean("fs.failrename.impl.disable.cache", true)
    val dir = tempDir("graft_publish_crash")
    try {
      // post-crash state: the previous generation sits aside, target missing
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/arch.old")
      val target = s"failrename://$dir/arch"
      intercept[java.io.IOException](
        EventsStream.upsertBatch(target, Seq("k"), Seq(col("v").desc))(
          Seq((2L, "c"), (3L, "d")).toDF("k", "v")))
      assert(!new java.io.File(s"$dir/arch").exists())
      val aside = spark.read.parquet(s"$dir/arch.old").as[(Long, String)]
        .collect().sorted.toSeq
      assert(aside == Seq((1L, "a"), (2L, "b")),
        "the only surviving generation was deleted before the new one landed")
    } finally {
      hconf.unset("fs.failrename.impl")
      hconf.unset("fs.failrename.impl.disable.cache")
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("a later q132 run never sweeps a target an earlier run returned") {
    val first = EventsStream.streamingKmvUpdate(spark, sf001)
    val expected = first.collect().toSeq
    assert(expected.nonEmpty)
    // age the first run's target (and any namespace dir above it) past
    // every age horizon a sweep could use
    val parent = new java.io.File("/tmp/graft_kmv_upsert").getCanonicalFile
    val target = new java.io.File(new java.net.URI(first.inputFiles.head))
      .getCanonicalFile.getParentFile
    val threeHoursAgo = System.currentTimeMillis() - 3L * 3600 * 1000
    Iterator.iterate(target)(_.getParentFile)
      .takeWhile(d => d != null && d != parent)
      .foreach(_.setLastModified(threeHoursAgo))
    EventsStream.streamingKmvUpdate(spark, sf001).collect()
    // a fresh plan over the first frame: re-collecting `first` itself would
    // reuse its finished shuffle output and never open the target's files
    assert(first.select("*").collect().toSeq == expected)
  }
}
