package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.ops._

/** A query's recorded output, row count and order-independent hash sum,
  * and its recorded latency, which stratifies the seed-shuffled order. */
final case class Expect(rows: Long, hash: BigDecimal, refS: Double)

object Expect {
  /** `name  pool  rows  hash  ref_s`, tab-separated, `#` comments. */
  def load(path: Path): Map[String, Expect] =
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        f(0) -> Expect(f(2).toLong, BigDecimal(f(3)), f(4).toDouble)
      }.toMap
}

object Fingerprint {
  /** The one action that materializes every output column: the row count
    * and the sum of a 64-bit hash over all columns. Columns are renamed by
    * position first, so duplicate names from joins cannot be ambiguous;
    * maps hash as their sorted entries. Not `count()`: Catalyst prunes the
    * output columns under it. */
  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val zero = lit(BigDecimal(0)).cast(DecimalType(38, 0))
    val hash =
      if (cols.isEmpty) zero
      else coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))), zero)
    named.agg(count(lit(1)).as("rows"), hash.as("hash"))
  }

  def read(fp: DataFrame): (Long, BigDecimal) = {
    val r = fp.collect()(0)
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}

/** The two query workloads: pools of declared queries by module. */
object QueryOps {
  private val relationalModules: Seq[Map[String, _]] = Seq(Relational.queries,
    Aggregates.queries, Windows.queries, SortsSets.queries, Functions.queries,
    EventOps.queries, TpcH.queries, StreamingOps.queries, Layout.queries,
    MultiModal.queries)
  private val similarityModules: Seq[Map[String, _]] =
    Seq(TextOps.queries, VectorOps.queries, Graphs.queries)

  /** The workload's queries, grouped by module. */
  def modules(workload: String): Seq[Seq[String]] = {
    val mods = workload match {
      case "ops_relational" => relationalModules
      case "ops_similarity" => similarityModules
      case other => sys.error(s"not a query workload: $other")
    }
    mods.map(_.keys.filter(SparkEntry.queries.contains).toSeq.sorted)
  }

  def pool(workload: String): Seq[String] = modules(workload).flatten.distinct.sorted

  /** Queries at the end of every tour. `g3_approx_distinct` takes 16-23 s,
    * over three times the next slowest query, so it stands outside every
    * latency band. `g11b_hll_persist` directly after `g14_hll_intersect`
    * leaves the JVM holding about 65 MB more than either does after any
    * other query, so a seed that shuffled them together read a far higher
    * memory peak than one that did not; run as a pair, they read it on
    * every seed. */
  val Always: Seq[String] =
    Seq("g3_approx_distinct", "g14_hll_intersect", "g11b_hll_persist")

  /** The operation order of a run: a tour and then rounds. The seed sets
    * only the order within each round, so every run times the same queries
    * and reads the same latency mix and memory peak. The tour is the fastest
    * recorded query of each module, so each module's one-time start-up (the
    * streaming engine, window and sketch code generation, ...) lands on the
    * same operations in every run, and then the workload's queries in
    * `Always`. The other queries are cut into `strata` bands of similar
    * recorded latency; round r takes from each band the query r places past
    * the band's middle, and the seed shuffles the round. */
  def order(workload: String, expect: Map[String, Expect], seed: Long,
      strata: Int): (Seq[String], Seq[Seq[String]]) = {
    def ref(n: String) = (expect.get(n).map(_.refS).getOrElse(0.0), n)
    val tour = modules(workload).filter(_.nonEmpty).map(_.minBy(ref)) ++
      Always.filter(pool(workload).contains)
    val rnd = random(seed)
    val byRef = pool(workload).filterNot(tour.contains).sortBy(ref)
    val n = byRef.size
    val bands = (0 until strata).map(b => byRef.slice(b * n / strata, (b + 1) * n / strata))
    val rounds = (0 until bands.map(_.size).max)
      .map(r => rnd.shuffle(bands.map(b => b((b.size / 2 + r) % b.size))))
    (tour, rounds)
  }

  /** The run's random source. The seed is scrambled first: the first draws
    * of java.util.Random, and of SplittableRandom under a power-of-two
    * bound, barely differ between neighbouring seeds. */
  def random(seed: Long): scala.util.Random =
    new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
}
