package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a module's public function: `build` is the call
  * itself, `exec` the action on the frame it returned. Times are epoch
  * milliseconds (to line up with listener event times); the durations are
  * measured with `nanoTime`. `openMs` is when the runner began the call's
  * bookkeeping (cache clear, call property), before `startMs`. */
final case class Call(id: String, query: String, module: String,
    openMs: Long, startMs: Long, buildEndMs: Long, endMs: Long, buildS: Double, execS: Double) {
  def phaseAt(ms: Long): String = if (ms < buildEndMs) "build" else "exec"
}

/** In-memory recorder for a traced pass: a SparkListener (jobs, stages,
  * tasks), a QueryExecutionListener (planning phases, asset scans) and a
  * StreamingQueryListener (micro-batch progress). Jobs are tied to calls
  * through the local property [[Tracer.CallProp]], which the runner sets
  * before each call; everything else is tied to the call whose time window
  * holds it (the client runs one call at a time). */
final class Tracer(sc: SparkContext, assetRoot: String) {
  import Tracer._

  private final class Job(val id: Int, val call: Option[String], val startMs: Long,
      val stageIds: Seq[Int]) { var endMs: Long = startMs }
  private final class Stage(val id: Int) {
    var startMs = 0L; var endMs = 0L; var tasks = 0L; var cpuNs = 0L
    var shuffleWriteBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  private val batches = mutable.ArrayBuffer.empty[Batch]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val call = Option(e.properties).flatMap(p => Option(p.getProperty(CallProp)))
      jobs(e.jobId) = new Job(e.jobId, call, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId))
      s.startMs = e.stageInfo.submissionTime.getOrElse(0L)
      s.endMs = e.stageInfo.completionTime.getOrElse(s.startMs)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId))
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.cpuNs += m.executorCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.filter { case (k, _) => PlanPhases.contains(k) }.values
    val planMs = phases.map(p => p.endTimeMs - p.startTimeMs).sum
    val atMs = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.endTimeMs).max
    val assets = scala.util.Try(scannedPaths(qe.optimizedPlan).filter(_.startsWith(assetRoot)))
      .getOrElse(Set.empty[String])
    synchronized { plans += Plan(atMs, planMs, assets) }
  }

  /** Files a plan reads, including through cached relations (the engine
    * caches memoized asset frames). */
  private def scannedPaths(plan: LogicalPlan): Set[String] =
    plan.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath).toSet
        case _ => Set.empty[String]
      }
      case m: InMemoryRelation => m.cacheBuilder.cachedPlan.collect {
        case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toUri.getPath)
      }.flatten.toSet
    }.flatten.toSet

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      val at = scala.util.Try(java.time.Instant.parse(p.timestamp).toEpochMilli)
        .getOrElse(System.currentTimeMillis())
      synchronized {
        batches += Batch(at, d("triggerExecution"), d("queryPlanning"),
          d("walCommit") + d("commitOffsets") + ops.map(_.commitTimeMs).sum,
          ops.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Per-module layer sums over `calls` (all traced calls of the run). */
  def moduleLayers(calls: Seq[Call]): Map[String, Map[String, Double]] = synchronized {
    val byId = calls.map(c => c.id -> c).toMap
    def callAt(ms: Long): Option[Call] = calls.find(c => c.startMs <= ms && ms <= c.endMs)
    val jobsOf = jobs.values.toSeq.groupBy(j => j.call.flatMap(byId.get).orElse(callAt(j.startMs)))
    val plansOf = plans.toSeq.groupBy(p => callAt(p.atMs))
    val batchesOf = batches.toSeq.groupBy(b => callAt(b.atMs))
    val perCall = calls.map { c =>
      val js = jobsOf.getOrElse(Some(c), Nil)
      val ss = js.flatMap(_.stageIds).flatMap(stages.get)
      val covered = unionMs(js.map(j => (j.startMs max c.startMs, j.endMs min c.endMs)))
      val bs = batchesOf.getOrElse(Some(c), Nil)
      val ps = plansOf.getOrElse(Some(c), Nil)
      c.module -> Map(
        "build_s" -> c.buildS,
        "exec_s" -> c.execS,
        "outside_jobs_s" -> math.max(0.0, c.buildS + c.execS - covered / 1e3),
        "plan_s" -> ps.map(_.planMs).sum / 1e3,
        "jobs" -> js.size.toDouble,
        "tasks" -> ss.map(_.tasks).sum.toDouble,
        "task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
        "shuffle_write_mb" -> ss.map(_.shuffleWriteBytes).sum / 1048576.0,
        "batches" -> bs.size.toDouble,
        "batch_plan_s" -> bs.map(_.planMs).sum / 1e3,
        "batch_commit_s" -> bs.map(_.commitMs).sum / 1e3,
        "state_mb" -> bs.map(_.stateBytes).maxOption.getOrElse(0L) / 1048576.0)
    }
    val batchDurs = calls.groupBy(_.module).map { case (m, cs) =>
      m -> cs.flatMap(c => batchesOf.getOrElse(Some(c), Nil)).map(_.durMs / 1e3)
    }
    perCall.groupBy(_._1).map { case (m, rows) =>
      val summed = rows.map(_._2).reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
      m -> (summed + ("batch_p50_s" -> median(batchDurs.getOrElse(m, Nil))))
    }
  }

  /** The asset artifacts each call's plans read. An artifact's root is
    * fresh per pass, so its first use in a pass builds it and every later
    * use loads it. */
  def assetUses(calls: Seq[Call]): Seq[(Call, Set[String])] = synchronized {
    calls.map(c => c -> plans.filter(p => c.startMs <= p.atMs && p.atMs <= c.endMs)
      .flatMap(_.assets).toSet)
  }

  /** Spans of the traced calls, run → query → build/exec → job → stage,
    * each with its parent; plus every layer's self time (its span minus
    * the union of its children's spans). */
  def spans(runStartMs: Long, runEndMs: Long, calls: Seq[Call])
      : (Seq[Span], Map[String, Double]) = synchronized {
    val out = mutable.ArrayBuffer.empty[Span]
    val self = mutable.LinkedHashMap("run" -> 0.0, "query" -> 0.0, "build" -> 0.0,
      "exec" -> 0.0, "job" -> 0.0, "stage" -> 0.0)
    def add(parent: Int, kind: String, name: String, s: Long, e: Long): Int = {
      out += Span(out.size, parent, kind, name, s, e); out.size - 1
    }
    val run = add(-1, "run", "run", runStartMs, runEndMs)
    val byId = calls.map(c => c.id -> c).toMap
    val jobsOf = jobs.values.toSeq.groupBy(j => j.call.flatMap(byId.get)
      .orElse(calls.find(c => c.startMs <= j.startMs && j.startMs <= c.endMs)))
    calls.foreach { c =>
      val q = add(run, "query", c.id, c.openMs, c.endMs)
      val phases = Seq("build" -> (c.startMs, c.buildEndMs), "exec" -> (c.buildEndMs, c.endMs))
      val phaseIds = phases.map { case (k, (s, e)) => k -> add(q, k, c.id, s, e) }.toMap
      self("query") += (c.startMs - c.openMs) / 1e3
      val js = jobsOf.getOrElse(Some(c), Nil)
      phases.foreach { case (k, (s, e)) =>
        val inPhase = js.filter(j => c.phaseAt(j.startMs) == k)
        self(k) += ((e - s) - unionMs(inPhase.map(j => (j.startMs max s, j.endMs min e)))) / 1e3
        inPhase.foreach { j =>
          val jid = add(phaseIds(k), "job", s"job ${j.id}", j.startMs, j.endMs)
          val ss = j.stageIds.flatMap(stages.get).filter(_.endMs > 0)
          ss.foreach(st => add(jid, "stage", s"stage ${st.id}", st.startMs, st.endMs))
          self("job") += ((j.endMs - j.startMs) -
            unionMs(ss.map(st => (st.startMs max j.startMs, st.endMs min j.endMs)))) / 1e3
          self("stage") += unionMs(ss.map(st => (st.startMs, st.endMs))) / 1e3
        }
      }
    }
    self("run") = ((runEndMs - runStartMs) - unionMs(calls.map(c => (c.openMs, c.endMs)))) / 1e3
    (out.toSeq, self.toMap)
  }
}

final case class Span(id: Int, parent: Int, kind: String, name: String, startMs: Long, endMs: Long)

object Tracer {
  val CallProp = "perfbench.call"

  private final case class Plan(atMs: Long, planMs: Long, assets: Set[String])
  private final case class Batch(atMs: Long, durMs: Long, planMs: Long, commitMs: Long,
      stateBytes: Long)
  private val PlanPhases = Set("analysis", "optimization", "planning")

  /** Total length of the union of half-open intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
