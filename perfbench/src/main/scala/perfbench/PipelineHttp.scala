package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.json4s._

import graft.api.{HttpApi, SpecJson}
import graft.pipeline.{PipelineSpec, Runner, Transforms}

/** The `pipeline_http` workload: a 10-step DAG submitted through the
  * program's HTTP facade and polled until it finishes.
  *
  * Text branch (with a diamond): docs → train, eval → clean → kept (a join
  * of train and clean) → terms. Relational branch: li, ord → rev; q runs a
  * declared TPC-H query. Editing `clean.min_quality` recomputes clean, kept
  * and terms and reuses the other seven steps. */
object PipelineHttp {
  val Steps: Seq[String] =
    Seq("docs", "train", "eval", "clean", "kept", "terms", "li", "ord", "rev", "q")
  val Checked: Seq[String] = Seq("terms", "rev", "q")
  val BaseQuality = "0.4"
  val EditQualities: Seq[String] = Seq("0.3", "0.35", "0.45", "0.5")
  val Warm = 5
  /** Status polls start this far apart, whatever a poll costs. */
  val PollMs = 50L

  def spec(dir: String, minQuality: String): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def step(id: String, transform: String, inputs: Seq[(String, String)],
        params: Seq[(String, String)]): String =
      s"""{"id":${q(id)},"transform":${q(transform)},""" +
        inputs.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("\"inputs\":{", ",", "},") +
        params.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("\"params\":{", ",", "}}")
    val steps = Seq(
      step("docs", "source", Nil, Seq("dir" -> dir, "table" -> "documents")),
      step("train", "sql", Seq("docs" -> "docs"),
        Seq("sql" -> "SELECT * FROM docs WHERE doc_id % 20 <> 0")),
      step("eval", "sql", Seq("docs" -> "docs"),
        Seq("sql" -> "SELECT * FROM docs WHERE doc_id % 20 = 0")),
      step("clean", "pipeline_clean", Seq("train" -> "train", "eval" -> "eval"),
        // min_shared 50 (the declared l22 query's 5 flags nearly every
        // document of this corpus as contaminated): clean keeps 1,247 to
        // 4,625 of 4,750 documents across the min_quality values used
        Seq("min_quality" -> minQuality, "min_shared" -> "50")),
      step("kept", "sql", Seq("train" -> "train", "clean" -> "clean"),
        Seq("sql" -> ("SELECT t.doc_id, t.text FROM train t " +
          "JOIN clean c ON t.doc_id = c.doc_id"))),
      step("terms", "tfidf", Seq("docs" -> "kept"), Nil),
      step("li", "source", Nil, Seq("dir" -> dir, "table" -> "lineitem")),
      step("ord", "source", Nil, Seq("dir" -> dir, "table" -> "orders")),
      step("rev", "sql", Seq("li" -> "li", "ord" -> "ord"),
        Seq("sql" -> ("SELECT o.o_orderpriority, count(*) AS n_lines, " +
          "sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue " +
          "FROM li l JOIN ord o ON l.l_orderkey = o.o_orderkey " +
          "GROUP BY o.o_orderpriority"))),
      step("q", "query", Nil, Seq("dir" -> dir, "name" -> "tq3_shipping_priority")))
    steps.mkString("{\"steps\":[", ",", "]}")
  }

  /** One submission as the client saw it. */
  final case class Submission(phase: String, latencyS: Double,
      reuse: Double, criticalS: Double, polls: Int, ok: Boolean)

  /** A server over a fresh, empty warehouse, and the client connected to
    * it. */
  final class Server(spark: SparkSession, val warehouse: Path,
      latencies: scala.collection.mutable.Map[String, Vector[Double]]) {
    Files.createDirectories(warehouse)
    val runner = new Runner(spark, Transforms.standard(), warehouse.toString)
    val api: HttpApi = new HttpApi(runner).start()
    val http = new Http(api.boundPort, latencies)
    def stop(): Unit = api.stop()
  }

  /** Submit `body`, then poll `/status` every [[PollMs]] until the run
    * leaves `running`. Returns the run id, the final workflow state and the
    * client-observed latency in seconds. */
  def submit(srv: Server, body: String, tr: Tracer, op: Int,
      statusMs: Option[scala.collection.mutable.ArrayBuffer[Double]]): (String, String, Double, Int) =
    tr.span("api.submit", op) {
      val t0 = System.nanoTime()
      val (code, r) = srv.http.post("run", "/run", body)
      require(code == 202, s"POST /run answered $code: $r")
      val runId = (r \ "run_id").asInstanceOf[JString].s
      var state = "running"
      var polls = 0
      var next = System.nanoTime()
      while (state == "running") {
        val wait = next - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        next = System.nanoTime() + PollMs * 1000000L
        val p0 = System.nanoTime()
        val (_, s) = tr.span("api.poll", op)(srv.http.get("status", s"/status/$runId"))
        statusMs.foreach(_ += (System.nanoTime() - p0) / 1e6)
        polls += 1
        state = (s \ "workflow") match {
          case JString(v) => v
          case other => sys.error(s"bad /status answer: $other")
        }
      }
      (runId, state, (System.nanoTime() - t0) / 1e9, polls)
    }

  /** Steps this submission recomputed, judged from the runner's durable
    * records: a step counts when its run started after `sinceMs`. */
  def recomputed(srv: Server, spec: PipelineSpec, sinceMs: Long): Set[String] =
    Steps.filter(id => srv.runner.runOf(spec, id).startedAt.exists(_ >= sinceMs)).toSet

  /** Sum of recomputed step durations along the DAG's longest path. */
  def criticalPathS(srv: Server, spec: PipelineSpec, done: Set[String]): Double = {
    val memo = scala.collection.mutable.Map[String, Double]()
    def path(id: String): Double = memo.getOrElseUpdate(id, {
      val own = if (done(id)) srv.runner.runOf(spec, id).durationMs.getOrElse(0L) / 1e3 else 0.0
      own + spec.byId(id).inputs.values.map(path).foldLeft(0.0)(math.max)
    })
    Steps.map(path).max
  }

  /** Output checks of a run that computed steps: `/collect` row counts of
    * the checked steps, and every output row's lineage stamp equal to the
    * step's impression. Returns the failures. */
  def checkOutputs(spark: SparkSession, srv: Server, runId: String,
      spec: PipelineSpec, expectRows: Map[String, Long], tr: Tracer, op: Int): Seq[String] =
    Checked.flatMap { id =>
      val (code, a) = tr.span("api.collect", op)(srv.http.get("collect", s"/collect/$runId/$id"))
      if (code != 200) Seq(s"$id: /collect answered $code")
      else {
        val rows = (a \ "rows").asInstanceOf[JInt].num.toLong
        val imp = (a \ "impression").asInstanceOf[JString].s
        val path = (a \ "path").asInstanceOf[JString].s
        val stamps = spark.read.parquet(path).select(Runner.LineageCol).distinct()
          .collect().map(_.getString(0)).toSeq
        Seq(
          Option.when(rows != expectRows(id))(s"$id: ${rows} rows, expected ${expectRows(id)}"),
          Option.when(imp != srv.runner.impressionId(spec, id))(s"$id: /collect impression $imp"),
          Option.when(stamps != Seq(imp))(s"$id: lineage stamps ${stamps.mkString(",")} != $imp")
        ).flatten
      }
    }

  /** Rebuild `pipeline.step` spans from the durable records `/logs` serves,
    * for the steps this submission recomputed. */
  def stepSpans(srv: Server, runId: String, done: Set[String], tr: Tracer, op: Int): Unit =
    if (tr.enabled) {
      val parent = tr.lastId("api.submit", op)
      Steps.foreach { id =>
        val (_, l) = tr.span("api.logs", op)(srv.http.get("logs", s"/logs/$runId/$id"))
        (l \ "started_at", l \ "finished_at") match {
          case (JInt(s), JInt(f)) if done(id) =>
            tr.add("pipeline.step", op, parent, s.toLong * 1000000L, f.toLong * 1000000L)
          case _ => ()
        }
      }
    }

  /** Expected `/collect` row counts for a given `clean.min_quality`. */
  def expectedRows(expect: Map[String, Long], minQuality: String): Map[String, Long] =
    Checked.map(id => id -> expect(s"$id@$minQuality")).toMap

  def parse(body: String): PipelineSpec = SpecJson.parse(body)._1
}
