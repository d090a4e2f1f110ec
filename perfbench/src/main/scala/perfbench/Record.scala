package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.Caches

/** Records the expected fingerprint and reference latency of every query
  * in both query pools. Each query runs once per pass, the two passes run
  * in forward and reverse order, and a query whose fingerprint differs
  * between them is reported as unstable. */
object Record {
  val Passes = 2

  def run(spark: SparkSession, dir: String, out: Path): Unit = {
    val pools = Seq("ops_relational", "ops_similarity")
      .flatMap(w => QueryOps.pool(w).map(_ -> w))
    val names = pools.map(_._1)
    val seen = scala.collection.mutable.Map[String, List[(Long, BigDecimal, Double)]]()
    for (pass <- 1 to Passes) {
      val ord = if (pass % 2 == 1) names else names.reverse
      ord.foreach { n =>
        Caches.releaseAll(spark)
        val t0 = System.nanoTime()
        val r = try Fingerprint.read(Fingerprint.frame(SparkEntry.queries(n)(spark, dir)))
          catch { case e: Throwable => System.err.println(s"[record] $n failed: $e"); (-1L, BigDecimal(-1)) }
        val dt = (System.nanoTime() - t0) / 1e9
        seen(n) = (r._1, r._2, dt) :: seen.getOrElse(n, Nil)
        System.err.println(f"[record] pass $pass $n%-32s $dt%7.3f s rows=${r._1}")
      }
    }
    val unstable = names.filter(n => seen(n).map(x => (x._1, x._2)).distinct.size > 1)
    unstable.foreach(n => System.err.println(s"[record] UNSTABLE $n ${seen(n).reverse}"))
    val lines = pools.map { case (n, w) =>
      val xs = seen(n).reverse
      // reference latency: the median over the passes
      s"$n\t$w\t${xs.head._1}\t${xs.head._2}\t${"%.4f".format(Stats.median(xs.map(_._3)))}"
    }
    val header = "# name\tpool\trows\thash\tref_s"
    Files.write(out, (header +: lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[record] wrote ${lines.size} queries to $out; unstable: ${unstable.mkString(",")}")
  }

  /** Records the `/collect` row counts of the pipeline's checked steps for
    * the base and every edit value of `clean.min_quality`, running the spec
    * on the runner directly. */
  def pipeline(spark: SparkSession, dir: String, out: Path, work: Path): Unit = {
    val lines = (PipelineHttp.BaseQuality +: PipelineHttp.EditQualities).flatMap { q =>
      val wh = work.resolve(s"record-$q")
      val runner = new graft.pipeline.Runner(spark, graft.pipeline.Transforms.standard(), wh.toString)
      val spec = PipelineHttp.parse(PipelineHttp.spec(dir, q))
      runner.execute(spec, PipelineHttp.Steps)
      PipelineHttp.Checked.map(id => s"$id@$q\t${runner.collect(spec, id).get.rows}")
    }
    val header = "# step@min_quality\trows"
    Files.write(out, (header +: lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[record] wrote $out")
  }
}
