package graft.perfbench

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Letter

/** The letters job of `etl_letters`: render the letters of a seeded set of
  * clients (`Letter.renderedDocx`), archive them partitioned by client
  * (`Sinks.archiveLetters`), compact the archive (`Compaction`), and read
  * seeded clients back (`Sinks.readClientArchive`), checking that every
  * letter read back parses and carries its client, parcel and fee.
  *
  * The seeded clients' orders and the customer table are written once, at
  * set-up, to `inputDir`; the program only sees that table directory. */
final class LettersJob(spark: SparkSession, dataDir: String, val inputDir: String,
    seed: Long, clients: Int, readBack: Int) {

  private val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)

  /** Letters each archived client should have, after validation: the
    * seeded clients are drawn among those with 8 to 12 valid letters, so
    * every seed renders a similar amount of work. */
  val expectedPerClient: Map[String, Long] = {
    val requests = Letter.lettersPlane(spark, dataDir).select(col("client_name"), col("request_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).groupBy(_._1)
    val eligible = requests.filter { case (_, rs) => rs.length >= 8 && rs.length <= 12 }.keys
    val chosen = rnd.shuffle(eligible.toSeq.sorted).take(clients)
    val ids = chosen.flatMap(c => requests(c).map(_._2))
    spark.read.parquet(s"$dataDir/orders.parquet").filter(col("o_orderkey").isin(ids: _*))
      .coalesce(1).write.mode("overwrite").parquet(s"$inputDir/orders.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dataDir/customer.parquet"),
      java.nio.file.Paths.get(s"$inputDir/customer.parquet"))
    chosen.map(c => c -> requests(c).length.toLong).toMap
  }

  val readBackClients: Seq[String] = rnd.shuffle(expectedPerClient.keys.toSeq.sorted).take(readBack)

  val letters: Long = expectedPerClient.values.sum
}

object LettersJob {
  /** Clients whose letters are rendered and archived, and how many of them
    * are read back, per pass. */
  val Clients = 2
  val ReadBack = 1

  /** Paragraph lines of one archived letter that must match its row. */
  def intact(docx: Array[Byte], client: String, requestId: Long, fee: String,
      reader: graft.multimodal.DocxCodec.ZipReader): Boolean = {
    import graft.multimodal.DocxCodec
    val texts = scala.util.Try(
      DocxCodec.paragraphTexts(DocxCodec.documentXml(reader.entries(docx)))).getOrElse(Nil)
    texts.length == 10 && texts(1) == s"Client: $client" &&
      texts(4) == s"Parcel ID: $requestId" && texts(5) == s"Fee: $fee"
  }

  /** The read-back action: every column of the client's archive is
    * deserialized, returning (rows, rows whose letter parses back intact). */
  def verify(df: DataFrame): (Long, Long) = {
    val f = df.schema.fieldIndex _
    val (iDocx, iName, iReq, iFee) =
      (f("letter_docx"), f("client_name"), f("request_id"), f("fee_formatted"))
    val checked = df.mapPartitions { rows =>
      val reader = new graft.multimodal.DocxCodec.ZipReader
      rows.map(r => if (intact(r.getAs[Array[Byte]](iDocx), r.getString(iName), r.getLong(iReq),
        r.getString(iFee), reader)) 1L else 0L)
    }(Encoders.scalaLong)
    val r = checked.agg(count(lit(1)), sum(col("value"))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Compaction target: every client's archive fits one file. */
  val TargetBytes: Long = 64L << 20
}
