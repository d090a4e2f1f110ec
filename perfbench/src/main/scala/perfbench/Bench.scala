package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.{Caches, Tables}
import graft.pipeline.PipelineSpec

/** One metric as reported: value and unit, plus a note printed beside it. */
final case class Metric(value: Double, unit: String, note: String = "")

/** Runs one workload: set-up, the measured closed loop, and the
  * report. Untraced runs give the end-to-end metrics; a traced run also
  * records spans and Spark task metrics and gives the per-layer metrics. */
object Bench {
  /** Latency bands of the stratified query order: one round takes one
    * query from each. */
  val Strata = 12
  /** A query run times the tour and then whole rounds, one per this many
    * seconds of the run's length, at least one. */
  val RoundS = 45
  /** The query set-up ends with: the first query in a JVM pays Spark's
    * one-time initialisation, which belongs to set-up, not to the loop. */
  val WarmupQuery = "j1_revenue_by_nation"
  /** `pipeline_http` runs one whole cycle per this many seconds of the
    * run's length, at least one. */
  val CycleS = 30
  val FixtureTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings", "events")

  /** The end-to-end metrics every workload puts in its result line; the
    * others are printed (see BENCHMARK.md for why). */
  val E2E: Seq[String] = Seq("setup_s", "throughput_qpm", "query_p50_s", "heap_live_mb")

  /** Every per-layer metric with its unit. A traced run reports all of
    * them; a layer a workload does not reach reads 0. */
  val Layers: Seq[(String, String)] = Seq(
    "core.session_start_s" -> "s", "core.table_load_ms" -> "ms",
    "core.release_ms" -> "ms", "ops.build_s" -> "s", "ops.build_jobs" -> "count",
    "catalyst.analyze_ms" -> "ms", "catalyst.optimize_ms" -> "ms",
    "catalyst.plan_ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.action_s" -> "s", "exec.gc_s" -> "s",
    "exec.stage_skew" -> "ratio", "exec.task_cpu_s" -> "s", "exec.task_run_s" -> "s",
    "exec.cpu_util" -> "ratio", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB", "exec.input_mb" -> "MB",
    "pipeline.critical_path_s" -> "s", "pipeline.critical_path_edit_s" -> "s",
    "pipeline.overhead_ms" -> "ms", "pipeline.write_mb" -> "MB",
    "pipeline.reuse_ratio" -> "ratio", "pipeline.reuse_ratio_cold" -> "ratio",
    "pipeline.reuse_ratio_warm" -> "ratio", "api.ping_ms" -> "ms",
    "api.submit_ms" -> "ms", "api.status_ms" -> "ms", "api.collect_ms" -> "ms",
    "api.logs_ms" -> "ms", "api.polls" -> "count", "jvm.driver_gc_s" -> "s")

  private def nowMs: Long = System.currentTimeMillis()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private val MB = 1.0 / (1 << 20)

  /** Old-generation heap in use after the latest collection, in MB. */
  private def oldGenAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed.toDouble).sum * MB

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** `heap_live_mb`: the peak of the old-generation heap after a full
    * collection, sampled between operations at points that come in the same
    * order on every seed, while the last operation's blocks are still held.
    * The time sampling takes, and its collections, are left out of the
    * run's wall time and of `jvm.driver_gc_s`. */
  final class HeapPeak {
    var peakMb = 0.0
    var peakAfter = ""
    var spentS = 0.0
    var gcS = 0.0
    def sample(after: String): Unit = {
      val (t0, g0) = (System.nanoTime(), gcSeconds)
      System.gc()
      val mb = oldGenAfterGcMb
      if (mb > peakMb) { peakMb = mb; peakAfter = after }
      gcS += gcSeconds - g0
      spentS += secs(t0)
    }
  }

  private def load1: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally w.close()
    }

  private def treeBytes(p: Path): Long = {
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    finally w.close()
  }

  /** Numbers with up to 10 significant digits, as measured. */
  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).round(new java.math.MathContext(10))
      .stripTrailingZeros.toPlainString

  final class Counts {
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer[String]()
    def fail(what: String): Unit = { failed += 1; failures += what }
  }

  /** One timed operation of a traced run: the wall-clock window (ms) it ran
    * in, split where its build ended, and its timings. */
  final case class OpTrace(startMs: Long, buildEndMs: Long, endMs: Long,
      wallS: Double, releaseMs: Double = 0, buildS: Double = 0,
      analyzeMs: Double = 0, optimizeMs: Double = 0, planMs: Double = 0,
      actionS: Double = 0)

  def run(a: Main.Args): Int = {
    val procStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tr = new Tracer(a.trace)
    val expect = Expect.load(a.expected.resolve("queries.tsv"))
    val pipeExpect = Files.readAllLines(a.expected.resolve("pipeline.tsv")).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> f(1).toLong }.toMap
    val counts = new Counts
    val m = mutable.LinkedHashMap[String, Metric]()
    val layer = mutable.LinkedHashMap[String, Metric]()
    val dir = a.fixtures
    Files.createDirectories(a.work)

    // ---- set-up, from process start: JVM start, class loading, session,
    // HTTP facade and a first query, which pays Spark's one-time
    // initialisation; a user pays all of it before the first answer ----
    val httpMs = mutable.Map[String, Vector[Double]]()
    val t0 = System.nanoTime()
    val beforeS = (nowMs - procStartMs) / 1e3
    val (spark, srv) = tr.span("setup", 0) {
      val spark = tr.span("core.session_start", 0)(Main.session(a.cpus))
      layer("core.session_start_s") = Metric(secs(t0), "s")
      val srv = tr.span("api.start", 0)(
        new PipelineHttp.Server(spark, a.work.resolve("setup"), httpMs))
      val (code, _) = srv.http.get("ping", "/ping")
      require(code == 200, s"/ping answered $code")
      tr.span("warmup", 0)(checkQuery(spark, dir, WarmupQuery, expect, counts))
      (spark, srv)
    }
    m("setup_s") = Metric(beforeS + secs(t0), "s", f"JVM start $beforeS%.3f s")

    val listener = if (a.trace) {
      val l = new ExecListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    if (a.trace) {
      val perTable = FixtureTables.map { t =>
        Stats.median((1 to 3).map { _ =>
          val t0 = System.nanoTime()
          tr.span("core.table_load", 0) {
            if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t)
          }
          secs(t0) * 1e3
        })
      }
      layer("core.table_load_ms") = Metric(Stats.median(perTable), "ms")
      layer("api.ping_ms") = Metric(Stats.median((1 to 20).map { _ =>
        val t0 = System.nanoTime()
        tr.span("api.ping", 0)(srv.http.get("ping", "/ping"))
        secs(t0) * 1e3
      }), "ms")
    }
    srv.stop()

    val gc0 = gcSeconds
    val heap = new HeapPeak
    val ops: Seq[OpTrace] = a.workload match {
      case w @ ("ops_relational" | "ops_similarity") =>
        runQueries(a, w, spark, dir, expect, tr, counts, m, heap)
      case "pipeline_http" =>
        runPipeline(a, spark, dir, pipeExpect, tr, counts, m, layer, httpMs, heap)
      case other => sys.error(s"unknown workload '$other'")
    }
    layer("jvm.driver_gc_s") = Metric(gcSeconds - gc0 - heap.gcS, "s")
    listener.foreach { l =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      opLayers(ops, l, a.cpus, layer)
    }
    m("heap_live_mb") = Metric(heap.peakMb, "MB",
      f"peak after ${heap.peakAfter}; sampling took ${heap.spentS}%.2f s, left out of the run's wall")
    m("fail_ratio") = Metric(counts.failed.toDouble / math.max(1, counts.attempted), "ratio",
      s"${counts.failed} of ${counts.attempted}")
    for ((k, unit) <- Layers if !layer.contains(k)) layer(k) = Metric(0, unit)

    // ---- report ----
    val out = System.out
    out.println(f"[perfbench] workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      f"trace=${if (a.trace) 1 else 0} nproc=${a.cpus} load1=$load1%.2f")
    counts.failures.foreach(f => out.println(s"[perfbench] FAILED $f"))
    def show(k: String, v: Metric): Unit =
      out.println(s"metric $k ${fmt(v.value)} ${v.unit}" +
        (if (v.note.nonEmpty) s"  (${v.note})" else ""))
    m.foreach { case (k, v) => show(k, v) }
    if (a.trace) Layers.foreach { case (k, _) => show(k, layer(k)) }
    a.traceOut.foreach(tr.write)
    def json(ms: Iterable[(String, Metric)], notes: Boolean): String = ms.map { case (k, v) =>
      s""""$k": {"value": ${fmt(v.value)}, "unit": "${v.unit}"""" +
        (if (notes) s""", "note": "${v.note}"}""" else "}")
    }.mkString("{", ", ", "}")
    a.resultOut.foreach { p =>
      Files.createDirectories(p.getParent)
      Files.write(p, (s"""{"workload": "${a.workload}", "seed": ${a.seed}, "trace": ${a.trace}, """ +
        s""""e2e": ${json(m, true)}, "layers": ${json(layer, true)}}""")
        .getBytes(StandardCharsets.UTF_8))
    }
    val reported = if (a.trace) Layers.map { case (k, _) => k -> layer(k) }
      else E2E.map(k => k -> m(k))
    val correct = counts.failed == 0
    out.println(s"""{"correct": $correct, "attempted": ${counts.attempted}, """ +
      s""""failed": ${counts.failed}, "metrics": ${json(reported, false)}}""")
    if (correct) 0 else 1
  }

  /** Run one declared query with the fingerprint action, check it, and
    * count it as attempted (and failed when wrong). */
  private def checkQuery(spark: SparkSession, dir: String, name: String,
      expect: Map[String, Expect], counts: Counts): Unit = {
    counts.attempted += 1
    val e = expect(name)
    Caches.releaseAll(spark)
    try {
      val (rows, hash) =
        Fingerprint.read(Fingerprint.frame(SparkEntry.queries(name)(spark, dir)))
      if (rows != e.rows || hash != e.hash) counts.fail(mismatch(name, rows, hash, e))
    } catch { case ex: Exception => counts.fail(s"$name threw $ex") }
  }

  private def mismatch(name: String, rows: Long, hash: BigDecimal, e: Expect): String =
    s"$name: rows $rows hash $hash, expected rows ${e.rows} hash ${e.hash}"

  private def latencyMetrics(lat: Seq[Double], ok: Int, wallS: Double,
      m: mutable.LinkedHashMap[String, Metric]): Unit = {
    m("throughput_qpm") = Metric(ok / (wallS / 60), "queries/min",
      f"$ok correct in $wallS%.2f s")
    m("query_p50_s") = Metric(Stats.median(lat), "s", s"${lat.size} samples")
    val (tv, tp, tn) = Stats.tail(lat)
    m("query_tail_s") = Metric(tv, "s", f"p$tp%.1f of $tn samples")
  }

  private def runQueries(a: Main.Args, workload: String, spark: SparkSession,
      dir: String, expect: Map[String, Expect], tr: Tracer, counts: Counts,
      m: mutable.LinkedHashMap[String, Metric], heap: HeapPeak): Seq[OpTrace] = {
    val (tour, rounds) = QueryOps.order(workload, expect, a.seed, Strata)
    // a fixed number of queries, so every run has the same latency mix
    val order = tour ++ rounds.take(math.max(1, a.seconds / RoundS)).flatten
    val lat = mutable.ArrayBuffer[Double]()
    val traces = mutable.ArrayBuffer[OpTrace]()
    var ok = 0
    val t0 = System.nanoTime()
    for ((name, i) <- order.zip(LazyList.from(1))) {
      val e = expect(name)
      counts.attempted += 1
      tr.span("op", i) {
        val r0 = System.nanoTime()
        tr.span("core.release", i)(Caches.releaseAll(spark))
        val releaseMs = secs(r0) * 1e3
        val ms0 = nowMs
        val q0 = System.nanoTime()
        try {
          val df = tr.span("ops.build", i)(SparkEntry.queries(name)(spark, dir))
          val buildS = secs(q0)
          val msB = nowMs
          val fp = Fingerprint.frame(df)
          val a0 = System.nanoTime()
          val (rows, hash) = tr.span("exec.action", i)(Fingerprint.read(fp))
          val actionS = secs(a0)
          val latency = secs(q0)
          if (rows == e.rows && hash == e.hash) { ok += 1; lat += latency }
          else counts.fail(mismatch(name, rows, hash, e))
          System.err.println(f"[perfbench] op $i $name $latency%.3f s")
          if (a.trace) {
            val phases = fp.queryExecution.tracker.phases
            def ms(k: String) = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
            // analysis ran when the fingerprint frame was built; the
            // other phases ran inside the action
            phases.foreach { case (k, p) =>
              val (span, parent) = k match {
                case "analysis" => ("catalyst.analyze", tr.current)
                case "optimization" => ("catalyst.optimize", tr.lastId("exec.action", i))
                case _ => ("catalyst.plan", tr.lastId("exec.action", i))
              }
              tr.add(span, i, parent, p.startTimeMs * 1000000L, p.endTimeMs * 1000000L)
            }
            traces += OpTrace(ms0, msB, nowMs, latency, releaseMs, buildS,
              ms("analysis"), ms("optimization"), ms("planning"), actionS)
          }
        } catch {
          case ex: Exception => counts.fail(s"$name threw $ex")
        }
      }
      // the tour only: what the JVM holds after an operation depends on
      // the operations before it, and the seed shuffles the rounds
      if (i <= tour.size) heap.sample(name)
    }
    latencyMetrics(lat.toSeq, ok, secs(t0) - heap.spentS, m)
    traces.toSeq
  }

  /** Per-operation layer metrics from the timed operations: medians of
    * times, means of counts and bytes, and the job, stage and task figures
    * of the jobs each operation started. */
  private def opLayers(ops: Seq[OpTrace], l: ExecListener, cpus: Int,
      layer: mutable.LinkedHashMap[String, Metric]): Unit = {
    final case class Exec(buildJobs: Int, jobs: Int, stages: Int, tasks: Int,
        cpuS: Double, runS: Double, gcS: Double, skew: Double, shW: Double,
        shR: Double, spill: Double, input: Double)
    val ex = ops.map { o =>
      val (jobs, tasks) = l.window(o.startMs, o.endMs)
      val skew = tasks.groupBy(_.stageId).values.filter(_.size >= 2).map { ts =>
        val med = Stats.median(ts.map(_.durNs.toDouble))
        if (med > 0) ts.map(_.durNs).max / med else 1.0
      }.foldLeft(1.0)(math.max)
      Exec(l.window(o.startMs, o.buildEndMs)._1.size, jobs.size,
        jobs.flatten.distinct.size, tasks.size, tasks.map(_.cpuNs).sum / 1e9,
        tasks.map(_.runNs).sum / 1e9, tasks.map(_.gcNs).sum / 1e9, skew,
        tasks.map(_.shuffleWrite).sum * MB, tasks.map(_.shuffleRead).sum * MB,
        tasks.map(_.spill).sum * MB, tasks.map(_.input).sum * MB)
    }
    def med[T](xs: Seq[T])(f: T => Double) = if (xs.isEmpty) 0.0 else Stats.median(xs.map(f))
    def mean[T](xs: Seq[T])(f: T => Double) = if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
    def put(k: String, v: Double) = layer(k) = Metric(v, Layers.toMap.apply(k))
    if (ops.exists(_.buildS > 0)) {
      put("core.release_ms", med(ops)(_.releaseMs))
      put("ops.build_s", med(ops)(_.buildS))
      put("ops.build_jobs", mean(ex)(_.buildJobs))
      put("catalyst.analyze_ms", med(ops)(_.analyzeMs))
      put("catalyst.optimize_ms", med(ops)(_.optimizeMs))
      put("catalyst.plan_ms", med(ops)(_.planMs))
      put("exec.action_s", med(ops)(_.actionS))
    }
    put("exec.jobs", mean(ex)(_.jobs))
    put("exec.stages", mean(ex)(_.stages))
    put("exec.tasks", mean(ex)(_.tasks))
    put("exec.gc_s", mean(ex)(_.gcS))
    put("exec.stage_skew", med(ex)(_.skew))
    put("exec.task_cpu_s", mean(ex)(_.cpuS))
    put("exec.task_run_s", mean(ex)(_.runS))
    val wall = ops.map(_.wallS).sum
    put("exec.cpu_util", if (wall > 0) ex.map(_.cpuS).sum / (wall * cpus) else 0.0)
    put("exec.shuffle_write_mb", mean(ex)(_.shW))
    put("exec.shuffle_read_mb", mean(ex)(_.shR))
    put("exec.spill_mb", mean(ex)(_.spill))
    put("exec.input_mb", mean(ex)(_.input))
  }

  private def runPipeline(a: Main.Args, spark: SparkSession, dir: String,
      expect: Map[String, Long], tr: Tracer, counts: Counts,
      m: mutable.LinkedHashMap[String, Metric], layer: mutable.LinkedHashMap[String, Metric],
      httpMs: mutable.Map[String, Vector[Double]], heap: HeapPeak): Seq[OpTrace] = {
    import PipelineHttp._
    val editQ = EditQualities(QueryOps.random(a.seed).nextInt(EditQualities.size))
    val baseBody = spec(dir, BaseQuality)
    val editBody = spec(dir, editQ)
    val (baseSpec, editSpec) = (parse(baseBody), parse(editBody))
    val subs = mutable.ArrayBuffer[Submission]()
    val traces = mutable.ArrayBuffer[OpTrace]()
    val statusMs = mutable.ArrayBuffer[Double]()
    val writeMb = mutable.ArrayBuffer[Double]()
    var op = 0

    def cycle(name: String): Seq[Submission] = {
      val srv = new Server(spark, a.work.resolve(s"cycle-$name"), httpMs)
      def one(phase: String, body: String, sp: PipelineSpec, quality: String,
          reuseWant: Double, check: Boolean): Submission = {
        op += 1
        counts.attempted += 1
        val since = nowMs
        val (runId, state, lat, polls) =
          submit(srv, body, tr, op, if (phase == "cold") Some(statusMs) else None)
        val end = nowMs
        // before the output checks, whose requests follow the collection
        // the way the next submission would: a collection leaves the
        // connection idle long enough for Linux to leave delayed-ACK mode,
        // which would hide the transport wait of the request after it.
        // Warm submissions run no Spark job and are not sampled.
        if (phase != "warm") heap.sample(s"$phase submission $op")
        val done = recomputed(srv, sp, since)
        val reuse = 1.0 - done.size.toDouble / Steps.size
        val problems = mutable.ArrayBuffer[String]()
        if (state != "finished") problems += s"workflow $state"
        if (math.abs(reuse - reuseWant) > 1e-9) problems += s"reuse $reuse, expected $reuseWant"
        if (phase == "cold") writeMb += treeBytes(srv.warehouse) * MB
        if (check && state == "finished")
          problems ++= checkOutputs(spark, srv, runId, sp, expectedRows(expect, quality), tr, op)
        stepSpans(srv, runId, done, tr, op)
        problems.foreach(p => counts.fail(s"$phase submission $op: $p"))
        traces += OpTrace(since, since, end, lat)
        Submission(phase, lat, reuse, criticalPathS(srv, sp, done), polls, problems.isEmpty)
      }
      try {
        val cold = one("cold", baseBody, baseSpec, BaseQuality, 0.0, check = true)
        val warm = (1 to Warm).map(_ =>
          one("warm", baseBody, baseSpec, BaseQuality, 1.0, check = false))
        (cold +: warm) :+ one("edit", editBody, editSpec, editQ, 0.7, check = true)
      } finally {
        srv.stop()
        deleteTree(srv.warehouse)
      }
    }

    httpMs.clear()
    // whole cycles only, so every run has the same mix of phases
    val t0 = System.nanoTime()
    for (c <- 1 to math.max(1, a.seconds / CycleS))
      subs ++= cycle(c.toString)
    val wallS = secs(t0) - heap.spentS
    val good = subs.filter(_.ok).toSeq
    latencyMetrics(good.map(_.latencyS), good.size, wallS, m)
    def phase(p: String) = good.filter(_.phase == p)
    def medOf(p: String)(f: Submission => Double) =
      if (phase(p).isEmpty) Double.NaN else Stats.median(phase(p).map(f))
    m("cold_run_s") = Metric(medOf("cold")(_.latencyS), "s", s"${phase("cold").size} samples")
    m("edit_run_s") = Metric(medOf("edit")(_.latencyS), "s",
      s"${phase("edit").size} samples, min_quality $editQ")
    m("warm_run_s") = Metric(medOf("warm")(_.latencyS), "s", s"${phase("warm").size} samples")
    m("status_p50_ms") = Metric(Stats.median(statusMs.toSeq), "ms", s"${statusMs.size} polls")

    layer("pipeline.critical_path_s") = Metric(medOf("cold")(_.criticalS), "s")
    layer("pipeline.critical_path_edit_s") = Metric(medOf("edit")(_.criticalS), "s")
    layer("pipeline.overhead_ms") =
      Metric(medOf("warm")(s => (s.latencyS - s.criticalS) * 1e3), "ms")
    layer("pipeline.write_mb") = Metric(Stats.median(writeMb.toSeq), "MB")
    layer("pipeline.reuse_ratio") = Metric(medOf("edit")(_.reuse), "ratio")
    layer("pipeline.reuse_ratio_cold") = Metric(medOf("cold")(_.reuse), "ratio")
    layer("pipeline.reuse_ratio_warm") = Metric(medOf("warm")(_.reuse), "ratio")
    for ((route, k) <- Seq("run" -> "api.submit_ms", "status" -> "api.status_ms",
        "collect" -> "api.collect_ms", "logs" -> "api.logs_ms"); v <- httpMs.get(route))
      layer(k) = Metric(Stats.median(v), "ms")
    layer("api.polls") = Metric(subs.map(_.polls).sum.toDouble / math.max(1, subs.size), "count")
    traces.toSeq
  }
}
