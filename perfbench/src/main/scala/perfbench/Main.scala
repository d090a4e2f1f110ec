package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py` (which builds the
  * program and this package first). Prints human-readable report lines and,
  * last, one JSON result line. */
object Main {
  final case class Args(
      workload: String = "",
      seed: Long = 1L,
      seconds: Int = 10,
      trace: Boolean = false,
      fixtures: String = "",
      work: Path = Paths.get("."),
      cpus: Int = Runtime.getRuntime.availableProcessors(),
      expected: Path = Paths.get("."),
      traceOut: Option[Path] = None,
      resultOut: Option[Path] = None,
      record: Option[Path] = None,
      recordPipeline: Option[Path] = None)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--fixtures" :: v :: t => parse(t, a.copy(fixtures = v))
    case "--work" :: v :: t => parse(t, a.copy(work = Paths.get(v)))
    case "--cpus" :: v :: t => parse(t, a.copy(cpus = v.toInt))
    case "--expected" :: v :: t => parse(t, a.copy(expected = Paths.get(v)))
    case "--trace-out" :: v :: t => parse(t, a.copy(traceOut = Some(Paths.get(v))))
    case "--result-out" :: v :: t => parse(t, a.copy(resultOut = Some(Paths.get(v))))
    case "--record" :: v :: t => parse(t, a.copy(record = Some(Paths.get(v))))
    case "--record-pipeline" :: v :: t => parse(t, a.copy(recordPipeline = Some(Paths.get(v))))
    case other :: _ => sys.error(s"unknown argument $other")
  }

  /** The session every workload runs on: the program's own tuning at
    * `local[cpus]`. */
  def session(cpus: Int): SparkSession = {
    val s = graft.core.Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]").appName("perfbench"),
      cpus.toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val code =
      try (a.record, a.recordPipeline) match {
        case (None, None) => Bench.run(a)
        case (queries, pipeline) =>
          val spark = session(a.cpus)
          pipeline.foreach(Record.pipeline(spark, a.fixtures, _, a.work))
          queries.foreach(Record.run(spark, a.fixtures, _))
          0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          3
      }
    // exit explicitly: the program's HTTP server and runner pools are
    // non-daemon threads; shutdown hooks still remove its scratch dirs
    System.out.flush()
    sys.exit(code)
  }
}
