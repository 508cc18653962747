package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A query output's row count and order-independent multiset hash: the two
  * halves of the sum of every row's `xxhash64` over all output columns.
  * Hashing every column makes the action consume the whole projection (a
  * bare `count()` lets Catalyst prune projected columns, so an expensive
  * projection might never run). Splitting the 64-bit row hash into two
  * 32-bit halves keeps both sums exact for any row count below 2^31.
  */
final case class Digest(rows: Long, hi: Long, lo: Long) {
  def render: String = s"$rows\t$hi\t$lo"
}

object Digest {

  /** Map values have no defined entry order, so they are hashed as their
    * key-sorted entry arrays; a map nested deeper hashes as its JSON text. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case m: MapType if !hasMap(m.keyType) && !hasMap(m.valueType) => array_sort(map_entries(c))
    case _ if hasMap(t) => to_json(c)
    case _ => c
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The aggregate the timed action runs: one job over the query's plan. */
  def of(df: DataFrame): Digest = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.agg(count(lit(1)), sum(shiftrightunsigned(h, 32)), sum(h.bitwiseAND(0xFFFFFFFFL)))
      .collect()(0)
    def long(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Digest(long(0), long(1), long(2))
  }

  def read(path: Path): Map[String, Digest] =
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(q, n, hi, lo) = l.split("\t")
        q -> Digest(n.toLong, hi.toLong, lo.toLong)
      }.toMap

  def write(path: Path, header: String, digests: Map[String, Digest]): Unit = {
    val body = digests.toSeq.sortBy(_._1).map { case (q, d) => s"$q\t${d.render}" }
    Files.write(path, (header.linesIterator.map("# " + _).toSeq ++ body).asJava,
      StandardCharsets.UTF_8)
    ()
  }
}
