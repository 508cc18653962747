package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.assets.AssetStore
import graft.pipeline.{Compaction, Letter, Sinks}

/** One benchmark run of one workload in one JVM: a closed loop with one
  * client that runs the workload's queries in a seeded order, pass after
  * pass, until `--seconds` have been measured.
  *
  * Set-up (session, seeded inputs, one warm-up pass) ends where the first
  * timed pass starts. Every timed pass runs in a fresh session with an empty
  * asset root, and every query starts with a cleared cache; no GC is forced.
  * Each query's action digests its whole output and compares it with the
  * committed expected digest; a throw or a mismatch is a failed execution
  * and its time is never used as a measurement.
  *
  * With `--trace 1` passes alternate untraced and traced: the untraced ones
  * give the end-to-end figures, the traced ones the per-module layers, and
  * the difference of the two is the tracing overhead. The run's results go
  * to `--out` as one JSON object; traced spans go to `--spans`.
  */
object Runner {

  val MinPasses = 2

  val Modules: Seq[String] = Seq("Relational", "EventOps", "Temporal", "Analytics",
    "ParcelLookup", "Letter", "TextOps", "SimilarityOps", "Multimodal", "EventsStream",
    "DocsStream", "Sinks", "Compaction")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, workloads: Path, expected: Path, scratch: Path, out: Path,
      spans: Option[Path], launchedMs: Long, injectThrow: Option[String],
      corruptHash: Option[String], allQueries: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("data"), Paths.get(req("workloads")), Paths.get(req("expected")),
      Paths.get(req("scratch")), Paths.get(req("out")), m.get("spans").map(Paths.get(_)),
      req("launched-ms").toLong,
      m.get("inject-throw"), m.get("corrupt-hash"), m.get("queries").contains("all"))
  }

  final case class Exec(call: Call, ok: Boolean, error: Option[String])
  final case class Pass(index: Int, traced: Boolean, wallS: Double, startMs: Long, endMs: Long,
      execs: Seq[Exec], lettersS: Double, lettersOk: Boolean, gcS: Double, cpuS: Double,
      assetBuilds: Long, assetBuildS: Double)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val mainMs = System.currentTimeMillis()
    val lists = Workloads.read(o.workloads)
    val problems = Workloads.partitionProblems(lists, SparkEntry.queries.keySet)
    if (problems.nonEmpty) {
      problems.foreach(p => System.err.println(s"[perfbench] workload lists: $p"))
      sys.exit(3)
    }
    val entries = lists.getOrElse(o.workload, {
      System.err.println(s"[perfbench] unknown workload ${o.workload}"); sys.exit(2)
    }).filter(e => o.allQueries || e.timed)
    val expected0 = Digest.read(o.expected)
    val missing = entries.map(_.query).filterNot(expected0.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] no expected digest for ${missing.mkString(", ")}")
      sys.exit(3)
    }
    val expected = o.corruptHash.fold(expected0)(q =>
      expected0.updated(q, expected0(q).copy(lo = expected0(q).lo + 1)))
    val fns: Map[String, (SparkSession, String) => DataFrame] =
      SparkEntry.queries ++ o.injectThrow.map(q => q -> ((_: SparkSession, _: String) =>
        throw new IllegalStateException(s"injected failure in $q")))
    val order = new scala.util.Random(o.seed).shuffle(entries)

    val scratch = o.scratch.toAbsolutePath.toString
    val base = session(s"perfbench-${o.workload}", scratch)
    val sc = base.sparkContext
    val sessionMs = System.currentTimeMillis()

    val letters = if (o.workload == "etl_letters")
      Some(new LettersJob(base, o.data, s"$scratch/letters_input", o.seed,
        LettersJob.Clients, LettersJob.ReadBack))
      else None

    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    }

    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuNs: Long = os.getProcessCpuTime

    def timedCall[A](s: SparkSession, pass: Int, id: String, query: String, module: String)
        (build: => A)(exec: A => Option[String]): Exec = {
      val openMs = System.currentTimeMillis()
      s.catalog.clearCache()
      sc.setLocalProperty(Tracer.CallProp, s"p$pass:$id")
      val startMs = System.currentTimeMillis(); val n0 = System.nanoTime()
      var buildEndMs = startMs; var n1 = n0
      val error =
        try {
          val a = build
          n1 = System.nanoTime(); buildEndMs = System.currentTimeMillis()
          exec(a)
        } catch { case t: Throwable =>
          Some(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(200)}")
        } finally sc.setLocalProperty(Tracer.CallProp, null)
      val n2 = System.nanoTime()
      if (n1 == n0) { n1 = n2; buildEndMs = System.currentTimeMillis() }
      Exec(Call(s"p$pass:$id", query, module, openMs, startMs, buildEndMs,
        System.currentTimeMillis(), (n1 - n0) / 1e9, (n2 - n1) / 1e9), error.isEmpty, error)
    }

    def lettersJob(s: SparkSession, pass: Int, job: LettersJob): Seq[Exec] = {
      val archive = s"$scratch/archive/pass-$pass"
      var rendered: DataFrame = null
      val steps = mutable.ArrayBuffer.empty[Exec]
      steps += timedCall(s, pass, "letters/render", "letters", "Letter")(
        Letter.renderedDocx(s, job.inputDir))(df => { rendered = df; None })
      if (steps.last.ok) steps += timedCall(s, pass, "letters/archive", "letters", "Sinks")(
        Sinks.archiveLetters(rendered, archive))(_ => None)
      if (steps.last.ok) steps += timedCall(s, pass, "letters/compact", "letters", "Compaction")(
        Compaction.compactToTargetBytes(s, archive, "client_dir", LettersJob.TargetBytes))(_ => None)
      job.readBackClients.foreach { client =>
        if (steps.last.ok) steps += timedCall(s, pass, s"letters/read/$client", "letters", "Sinks")(
          Sinks.readClientArchive(s, archive, client)) { df =>
          val (rows, intact) = LettersJob.verify(df)
          val want = job.expectedPerClient(client)
          if (rows == want && intact == rows) None
          else Some(s"client $client: read $rows letters, $intact intact, expected $want")
        }
      }
      deleteTree(Paths.get(archive))
      steps.toSeq
    }

    def runPass(index: Int, tracer: Option[Tracer]): Pass = {
      val s = base.newSession()
      val assetDir = s"$scratch/assets/pass-$index"
      s.conf.set(AssetStore.DirConf, assetDir)
      SparkSession.setActiveSession(s)
      tracer.foreach(_.attach(s))
      val (cpu0, gc0) = (cpuNs, gcMs)
      val (b0, bn0) = (AssetStore.buildCount.get(), AssetStore.buildNanos.get())
      val startMs = System.currentTimeMillis(); val t0 = System.nanoTime()
      val queries = order.map { e =>
        timedCall(s, index, e.query, e.query, e.module)(fns(e.query)(s, o.data)) { df =>
          val got = Digest.of(df)
          val want = expected(e.query)
          if (got == want) None else Some(s"digest ${got.render} != expected ${want.render}")
        }
      }
      val job = letters.map(j => lettersJob(s, index, j)).getOrElse(Nil)
      val wallS = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      tracer.foreach(_.detach(s))
      val p = Pass(index, tracer.isDefined, wallS, startMs, endMs, queries ++ job,
        job.map(e => e.call.buildS + e.call.execS).sum,
        letters.isEmpty || (job.nonEmpty && job.forall(_.ok) &&
          job.size == 3 + letters.get.readBackClients.size),
        (gcMs - gc0) / 1e3, (cpuNs - cpu0) / 1e9, AssetStore.buildCount.get() - b0,
        (AssetStore.buildNanos.get() - bn0) / 1e9)
      deleteTree(Paths.get(assetDir))
      p
    }

    val inputsMs = System.currentTimeMillis()
    // set-up ends with one untimed warm-up pass (JIT, first-touch file reads)
    runPass(0, None)
    val setupS = (System.currentTimeMillis() - o.launchedMs) / 1e3

    val tracer = if (o.trace) Some(new Tracer(sc, s"$scratch/assets")) else None
    val passes = mutable.ArrayBuffer.empty[Pass]
    val measureStart = System.nanoTime()
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    // at least MinPasses untraced passes (and as many traced ones when
    // tracing), so every median below has a middle
    def enough = passes.count(!_.traced) >= MinPasses &&
      (!o.trace || passes.count(_.traced) >= MinPasses - 1)
    while (elapsed < o.seconds || !enough) {
      val traced = o.trace && passes.size % 2 == 1
      passes += runPass(passes.size + 1, if (traced) tracer else None)
    }
    val measuredS = elapsed

    SparkSession.clearActiveSession()
    // Spark's ContextCleaner frees the blocks of collected RDDs, shuffles and
    // broadcasts asynchronously after a GC finds them; collect until it has run
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(500) }
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val liveHeapMb = heap / 1048576.0

    val untraced = passes.filterNot(_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val allExecs = passes.toSeq.flatMap(_.execs)
    val failures = allExecs.filterNot(_.ok)
    val samples = untraced.flatMap(_.execs).filter(e => e.ok && e.call.query != "letters")
    val perQuery = samples.groupBy(_.call.query).map { case (q, es) =>
      q -> Tracer.median(es.map(e => e.call.buildS + e.call.execS)) }
    // highest percentile of all timed executions with at least ten beyond it
    val times = samples.map(e => e.call.buildS + e.call.execS).sorted
    val tailIdx = math.max(0, times.size - 11)
    def lettersRate(ps: Seq[Pass]): Double = {
      val ok = ps.filter(_.lettersOk)
      if (letters.isEmpty || ok.isEmpty) 0.0
      else letters.get.letters / Tracer.median(ok.map(_.lettersS))
    }

    val json = new Json
    json.num("setup_s", setupS)
    json.num("wall_s", Tracer.median(untraced.map(_.wallS)))
    json.num("query_p50_s", Tracer.median(perQuery.values.toSeq))
    json.num("query_tail_s", if (times.isEmpty) 0.0 else times(tailIdx))
    json.num("query_tail_pct", if (times.isEmpty) 0.0 else 100.0 * (tailIdx + 1) / times.size)
    json.num("query_tail_n", times.size)
    json.num("letters_per_s", lettersRate(untraced))
    json.num("letters", letters.map(_.letters.toDouble).getOrElse(0.0))
    json.num("live_heap_mb", liveHeapMb)
    json.num("measured_s", measuredS)
    json.num("passes", untraced.size)
    json.num("traced_passes", traced.size)
    json.num("attempted", allExecs.size)
    json.num("failed", failures.size)
    json.num("failed_frac", failures.size.toDouble / math.max(1, allExecs.size))
    json.strs("failures", failures.map(e => s"${e.call.id} ${e.error.getOrElse("")}").distinct.take(20))
    json.num("queries", entries.size)
    json.strs("pass_walls_s", passes.toSeq.map(p =>
      f"${p.wallS}%.3f cpu ${p.cpuS}%.3f${if (p.traced) " traced" else ""}"))
    json.obj("setup_phases_s", Seq("jvm" -> (mainMs - o.launchedMs) / 1e3,
      "session" -> (sessionMs - mainMs) / 1e3, "inputs" -> (inputsMs - sessionMs) / 1e3,
      "warmup" -> (setupS - (inputsMs - o.launchedMs) / 1e3)))
    json.obj("query_s", perQuery.toSeq.sortBy(-_._2))

    tracer.foreach { t =>
      val calls = traced.flatMap(_.execs.map(_.call))
      val n = traced.size.toDouble
      val layers = t.moduleLayers(calls)
      def per(m: String) = layers.getOrElse(m, Map.empty[String, Double])
      val metrics = mutable.LinkedHashMap.empty[String, Double]
      Modules.foreach { m =>
        Seq("build_s", "exec_s", "outside_jobs_s", "plan_s", "jobs", "tasks", "task_cpu_s",
          "shuffle_write_mb").foreach(k => metrics(s"$m.$k") = per(m).getOrElse(k, 0.0) / n)
      }
      Seq("EventsStream", "DocsStream").foreach { m =>
        Seq("batches", "batch_plan_s", "batch_commit_s", "state_mb")
          .foreach(k => metrics(s"$m.$k") = per(m).getOrElse(k, 0.0) / n)
        metrics(s"$m.batch_p50_s") = per(m).getOrElse("batch_p50_s", 0.0)
      }
      val assetUses = t.assetUses(calls)
      val uses = assetUses.map(_._2.size).sum
      val distinctAssets = assetUses.flatMap(_._2).distinct.size
      json.strs("asset_uses", assetUses.filter(_._2.nonEmpty).map { case (c, a) =>
        s"${c.id} ${a.map(p => p.substring(p.lastIndexOf('/') + 1)).toSeq.sorted.mkString(",")}" })
      metrics("AssetStore.builds") = traced.map(_.assetBuilds).sum / n
      metrics("AssetStore.build_s") = traced.map(_.assetBuildS).sum / n
      metrics("AssetStore.hit_ratio") = if (uses == 0) 0.0 else (uses - distinctAssets).toDouble / uses
      metrics("jvm.gc_s") = traced.map(_.gcS).sum / n
      metrics("letters_per_s") = lettersRate(traced)
      json.obj("layers", metrics.toSeq)
      val tracedWall = Tracer.median(traced.map(_.wallS))
      val modSum = Modules.map(m => metrics(s"$m.build_s") + metrics(s"$m.exec_s")).sum
      json.num("traced_wall_s", tracedWall)
      json.num("tracing_overhead_s", tracedWall - Tracer.median(untraced.map(_.wallS)))
      json.num("module_build_exec_s", modSum)
      json.num("reconcile_gap_s", tracedWall - modSum)
      val allSpans = mutable.ArrayBuffer.empty[Span]
      val selfSum = mutable.LinkedHashMap.empty[String, Double]
      traced.foreach { p =>
        val (sp, self) = t.spans(p.startMs, p.endMs, p.execs.map(_.call))
        val off = allSpans.size
        allSpans ++= sp.map(x => x.copy(id = x.id + off, parent = if (x.parent < 0) -1 else x.parent + off))
        self.foreach { case (k, v) => selfSum(k) = selfSum.getOrElse(k, 0.0) + v / n }
      }
      json.obj("self_s", selfSum.toSeq)
      o.spans.foreach { path =>
        val lines = allSpans.map(x =>
          s"""{"id":${x.id},"parent":${x.parent},"kind":"${x.kind}","name":${Json.str(x.name)},""" +
          s""""start_ms":${x.startMs},"end_ms":${x.endMs}}""")
        Files.createDirectories(path.toAbsolutePath.getParent)
        Files.write(path, (lines :+ "").mkString("\n").getBytes("UTF-8"))
      }
    }
    Files.write(o.out, json.render.getBytes("UTF-8"))
    base.stop()
  }

  /** The benchmark's session: all cores, shuffle width = core count, and
    * every directory the engine writes (assets, warehouse, spill, streaming
    * checkpoints) under the run's own scratch directory. */
  def session(app: String, scratch: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/checkpoints")
      .config(AssetStore.DirConf, s"$scratch/assets/setup")
      // the replay-harness state width every other harness of the repo pins
      .config("graft.stream.statePartitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(x => Files.deleteIfExists(x))
}

/** A flat JSON object writer, enough for the run's result file. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  def num(k: String, v: Double): Unit =
    fields += s"${Json.str(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"
  def strs(k: String, vs: Seq[String]): Unit =
    fields += s"${Json.str(k)}:${vs.map(Json.str).mkString("[", ",", "]")}"
  def obj(k: String, kv: Seq[(String, Double)]): Unit =
    fields += s"${Json.str(k)}:" + kv.map { case (a, b) =>
      s"${Json.str(a)}:${if (b.isNaN || b.isInfinite) "null" else b.toString}" }.mkString("{", ",", "}")
  def render: String = fields.mkString("{", ",", "}")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
