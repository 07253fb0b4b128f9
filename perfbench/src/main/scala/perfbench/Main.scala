package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import graft.{Engine, SparkEntry}
import graft.ops.Q4112
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The benchmark's JVM side. Runs one workload in one process and writes
  * the raw measurements (per-query samples, set-up times, traced layer
  * counters) as one JSON file; `run.py` turns them into the metrics.
  *
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <sfDir> --suite <sf_suite.json> --out <raw.json>`
  *
  * `--mode list --out <file>` lists the SparkEntry queries;
  * `--mode digests --out <dir>` instead dumps every sf_suite gated form's
  * digest and result (parquet) plus its oracle SQL, for the one-time
  * DuckDB validation of the expected digests (`tools/make_suite.py`).
  */
object Main {
  final case class Sample(query: String, family: String, seconds: Double, error: Option[String])

  /** Route labels `Q4112.lastChosenPlan` can take; anything else counts as `other`. */
  val routes: Seq[String] = Seq("dense", "broadcast", "bucketed-shj", "partial", "partial_dense",
    "shared_dense", "packed", "bypass", "bucketed", "bucketed_routed", "joined_bucketed")

  val families: Seq[String] = Seq("dedup", "text", "graph", "tpch", "agg", "sim", "index",
    "events", "sample", "join", "window", "q4112")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = Engine.session(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      opts.get("mode") match {
        case Some("digests") => dumpDigests(spark, opt("data"), Suite.load(opt("suite")), opt("out"))
        case Some("list") => listQueries(opt("out"))
        case _ => run(spark, opt, jvmStartMs, sessionS, cores)
      }
    } finally spark.stop()
  }

  private def run(spark: SparkSession, opt: String => String, jvmStartMs: Long,
      sessionS: Double, cores: Int): Unit = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dataDir = opt("data")
    val suite = Suite.load(opt("suite"))
    val sc = spark.sparkContext

    val prepared = workload match {
      case "q4112" => Workloads.q4112(spark, Workloads.q4112Shapes(seed))
      case "sf_suite" => Workloads.sfSuite(spark, dataDir, suite, seed)
      case other => sys.error(s"unknown workload $other")
    }
    val queries = prepared.queries
    def guarded(f: => Option[String]): Option[String] =
      try f
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    def attempt(q: Query): Option[String] = guarded(q.run(q.build()))

    // warm-up: the first execution of each query pays codegen, JIT and
    // first-touch costs; it is also where each output is checked
    val checks = queries.map { q =>
      val t = System.nanoTime()
      val err = guarded(q.check())
      (q.name, err, (System.nanoTime() - t) / 1e9)
    }
    System.gc()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"[perfbench] session $sessionS%.3f s, gen ${prepared.genDataS}%.3f s, " +
      f"oracle ${prepared.genOracleS}%.3f s, checks ${checks.map(_._3).sum}%.3f s, set-up $setupS%.3f s")

    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    /** Whole passes over `queries` until `seconds` have elapsed, and at
      * least two, so that every query has more than one sample.
      */
    def timedSection(each: Query => Sample): (Seq[Sample], Int, Double) = {
      val samples = ArrayBuffer.empty[Sample]
      val cpu0 = osBean.getProcessCpuTime
      val start = System.nanoTime()
      var passes = 0
      while (passes < 2 || (System.nanoTime() - start) / 1e9 < seconds) {
        queries.foreach(q => samples += each(q))
        passes += 1
      }
      (samples.toSeq, passes, (osBean.getProcessCpuTime - cpu0) / 1e9)
    }

    val (samples, passes, cpuS) = timedSection { q =>
      val t = System.nanoTime()
      val err = attempt(q)
      Sample(q.name, q.family, (System.nanoTime() - t) / 1e9, err)
    }
    // memory the workload still holds after a full GC: blocks of
    // unreachable datasets are released by Spark's ContextCleaner on its
    // own thread once the GC has cleared their references, then collected.
    // A fixed trivial job first, so what Spark keeps of the last execution
    // does not depend on which query happened to run last.
    spark.range(1).count()
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heapMb = {
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }
    val cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

    val raw = ArrayBuffer[JField](
      "workload" -> JString(workload), "seed" -> JLong(seed), "cores" -> JInt(cores),
      "setup_s" -> JDouble(setupS), "process_cpu_s" -> JDouble(cpuS),
      "heap_mb" -> JDouble(heapMb), "passes" -> JInt(passes),
      "samples" -> samplesJson(samples),
      "checks" -> JArray(checks.toList.map { case (n, e, t) =>
        JObject("query" -> JString(n), "s" -> JDouble(t),
          "error" -> e.map(JString(_)).getOrElse(JNull)) }),
      "unchecked" -> JArray(prepared.unchecked.toList.map(JString(_))),
      "oracles" -> JObject(prepared.oracles.toList.map { case (n, o) =>
        n -> o.map(JLong(_)).getOrElse(JNull) }))

    if (trace) {
      val spans = new Spans
      val exec = new ExecListener
      val plan = new PlanListener
      sc.addSparkListener(exec)
      spark.listenerManager.register(plan)
      val routeCounts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      val (tSamples, tPasses, tCpuS) = timedSection { q =>
        val qid = spans.newQueryId()
        val t = System.nanoTime()
        val err = spans.record(qid, 0L, "query", q.name) { root =>
          try {
            sc.setJobGroup(s"${q.name}/build", q.name)
            val df = spans.record(qid, root, q.buildLayer, q.name)(_ => q.build())
            if (q.buildLayer == "route") routeCounts(Q4112.lastChosenPlan) += 1L
            sc.setJobGroup(s"${q.name}/exec", q.name)
            spans.record(qid, root, "execute", q.name)(_ => q.run(df))
          } catch {
            case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          } finally sc.clearJobGroup()
        }
        Sample(q.name, q.family, (System.nanoTime() - t) / 1e9, err)
      }
      BusDrain(sc)
      sc.removeSparkListener(exec)
      spark.listenerManager.unregister(plan)
      val all = attachPlanSpans(spans, plan)

      val perPass = 1.0 / tPasses
      def inFamily(family: String, f: String) = family == f || family.startsWith(f + ".")
      val familyOf = queries.map(q => q.name -> q.family).toMap
      def spanS(name: String, family: Option[String] = None): Double = {
        val roots = all.filter(_.name == "query").map(s => s.id -> s.label).toMap
        all.filter(s => s.name == name && family.forall(f =>
          roots.get(s.parent).exists(n => inFamily(familyOf(n), f))))
          .map(s => (s.endNs - s.startNs) / 1e9).sum * perPass
      }
      def familyS(f: String): Double =
        tSamples.filter(x => inFamily(x.family, f)).map(_.seconds).sum * perPass
      val (kernels, kernelRows) = Kernels.measure(spark, dataDir)
      val scanS = Seq.fill(3)(sourcesScan(spark, dataDir)).sorted.apply(1)
      val ns = (a: java.util.concurrent.atomic.LongAdder) => a.sum() / 1e9 * perPass
      val mb = (a: java.util.concurrent.atomic.LongAdder) => a.sum() / 1048576.0 * perPass
      val cnt = (a: java.util.concurrent.atomic.LongAdder) => a.sum().toDouble * perPass
      val q4112Build = if (workload == "sf_suite") "build" else "route"
      val layers = Seq[(String, Double)](
        "engine.session_s" -> sessionS,
        "gen.data_s" -> prepared.genDataS,
        "gen.oracle_s" -> prepared.genOracleS,
        "sources.scan_s" -> scanS,
        "entry.build_s" -> spanS("build"),
        "entry.eager_jobs" -> cnt(exec.buildJobs),
        "plan.analysis_s" -> plan.totalNs(QueryPlanningTracker.ANALYSIS) / 1e9 * perPass,
        "plan.optimization_s" -> plan.totalNs(QueryPlanningTracker.OPTIMIZATION) / 1e9 * perPass,
        "plan.physical_s" -> plan.totalNs(QueryPlanningTracker.PLANNING) / 1e9 * perPass,
        "q4112.route_s" -> spanS(q4112Build, Some("q4112")),
        "q4112.exec_s" -> spanS("execute", Some("q4112")),
        "q4112.probe_s" -> familyS("q4112.probe"),
        "q4112.groupby_s" -> familyS("q4112.groupby"),
        "exec.jobs" -> cnt(exec.jobs),
        "exec.stages" -> cnt(exec.stages),
        "exec.tasks" -> cnt(exec.tasks),
        "exec.task_run_s" -> ns(exec.taskRunNs),
        "exec.task_cpu_s" -> ns(exec.taskCpuNs),
        "exec.cpu_util" -> exec.taskCpuNs.sum().toDouble / math.max(1L, exec.taskRunNs.sum()),
        "exec.task_wait_s" -> ns(exec.taskWaitNs),
        "exec.stage_max_task_s" -> ns(exec.stageMaxTaskNs),
        "exec.single_task_stage_s" -> ns(exec.singleTaskStageNs),
        "exec.gc_s" -> ns(exec.gcNs),
        "exec.shuffle_write_mb" -> mb(exec.shuffleWriteBytes),
        "exec.shuffle_read_mb" -> mb(exec.shuffleReadBytes),
        "exec.spill_mb" -> mb(exec.spillBytes),
        "exec.task_failures" -> cnt(exec.taskFailures),
        "cache.input_mb" -> cachedMb,
        "process.cpu_s" -> tCpuS * perPass) ++
        routes.map(r => s"q4112.route.$r" -> routeCounts(r) * perPass) ++
        Seq("q4112.route.other" ->
          routeCounts.filter { case (r, _) => !routes.contains(r) }.values.sum * perPass) ++
        families.map(f => s"family.$f.s" -> familyS(f)) ++
        kernels
      raw ++= Seq(
        "traced_samples" -> samplesJson(tSamples),
        "traced_passes" -> JInt(tPasses),
        "kernel_rows" -> JInt(kernelRows),
        "layers" -> JObject(layers.map { case (k, v) => k -> JDouble(v) }.toList))
      writeSpans(opt("out").stripSuffix(".json") + ".spans.json", all)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")),
      compact(render(JObject(raw.toList))))
  }

  private def samplesJson(s: Seq[Sample]): JArray = JArray(s.toList.map(x => JObject(
    "query" -> JString(x.query), "family" -> JString(x.family), "s" -> JDouble(x.seconds),
    "error" -> x.error.map(JString(_)).getOrElse(JNull))))

  /** Noop scan of every testdata table through `Engine.table`. */
  private def sourcesScan(spark: SparkSession, dataDir: String): Double = {
    val t = System.nanoTime()
    Engine.tableNames.foreach(n => Workloads.noop(Engine.table(spark, dataDir, n)))
    (System.nanoTime() - t) / 1e9
  }

  /** Plan phases become `plan` spans under the innermost build, route or
    * execute span whose interval holds them.
    */
  private def attachPlanSpans(spans: Spans, plan: PlanListener): Seq[Span] = {
    val inner = spans.all.filter(_.parent != 0L).sortBy(_.startNs).toIndexedSeq
    plan.phases.forEach { case (phase, s, e) =>
      val startNs = s * 1000000L
      inner.find(p => p.startNs <= startNs + 1000000L && startNs <= p.endNs)
        .foreach(p => spans.add(p.query, p.id, "plan", phase, startNs, e * 1000000L))
    }
    spans.all
  }

  private def writeSpans(path: String, all: Seq[Span]): Unit = {
    val out = new java.io.PrintWriter(path)
    try all.sortBy(_.id).foreach { s =>
      out.println(compact(render(JObject(
        "id" -> JLong(s.id), "query" -> JLong(s.query), "parent" -> JLong(s.parent),
        "name" -> JString(s.name), "label" -> JString(s.label),
        "start_ns" -> JLong(s.startNs), "end_ns" -> JLong(s.endNs)))))
    } finally out.close()
  }

  /** Writes every SparkEntry query name with whether it has a separate
    * production (bench) form, one per line: `<name> <gated|production>`.
    */
  private def listQueries(out: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      SparkEntry.queries.keys.toSeq.sorted.map { n =>
        s"$n ${if (SparkEntry.benchOverrides.contains(n)) "production" else "gated"}\n"
      }.mkString)

  /** Writes `<out>/<query>` (parquet result), `<out>/digests.json` and
    * `<out>/oracle_sql.json` for every gated query of the suite.
    */
  private def dumpDigests(spark: SparkSession, dataDir: String, suite: Suite, out: String): Unit = {
    val gated = suite.queries.map(_.name).filterNot(SparkEntry.benchOverrides.contains)
    val digests = gated.map { n =>
      val df = SparkEntry.queries(n)(spark, dataDir)
      df.write.mode("overwrite").parquet(s"$out/$n")
      n -> JString(Workloads.digest(df))
    }
    val sql = gated.flatMap(n => SparkEntry.oracleSql.get(n).map(s => n -> JString(s)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/digests.json"),
      compact(render(JObject(digests.toList))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      compact(render(JObject(sql.toList))))
  }
}
