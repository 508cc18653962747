package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The benchmark's three workloads: one query list per workload, each line
  * `<SparkEntry.queries name> <module of its function> <timed|->`, kept as
  * text files under `perfbench/workloads/`. Between them the lists must
  * cover every registered query exactly once, so a new query cannot escape
  * its workload. A run times the queries marked `timed` (the whole list
  * with `--queries all`).
  */
object Workloads {
  final case class Entry(query: String, module: String, timed: Boolean)

  val Names: Seq[String] = Seq("etl_letters", "corpus_dedup", "stream_replay")

  def parse(lines: Seq[String]): Seq[Entry] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      l.split("\\s+") match {
        case Array(q, m, t) if t == "timed" || t == "-" => Entry(q, m, t == "timed")
        case _ => throw new IllegalArgumentException(s"bad workload line: '$l'")
      }
    }

  def read(dir: Path): Map[String, Seq[Entry]] =
    Names.map { n =>
      n -> parse(Files.readAllLines(dir.resolve(s"$n.txt"), StandardCharsets.UTF_8).asScala.toSeq)
    }.toMap

  /** Every way `lists` fails to partition `all`: queries no list names,
    * names no query has, and names listed more than once. Empty = a
    * partition. */
  def partitionProblems(lists: Map[String, Seq[Entry]], all: Set[String]): Seq[String] = {
    val listed = lists.toSeq.flatMap { case (w, es) => es.map(e => e.query -> w) }
    val counts = listed.groupBy(_._1)
    val unassigned = (all -- counts.keySet).toSeq.sorted.map(q => s"unassigned query $q")
    val unknown = (counts.keySet -- all).toSeq.sorted.map(q => s"unknown query $q")
    val twice = counts.filter(_._2.size > 1).toSeq.sortBy(_._1)
      .map { case (q, ws) => s"query $q listed ${ws.size} times (${ws.map(_._2).mkString(", ")})" }
    unassigned ++ unknown ++ twice
  }
}
