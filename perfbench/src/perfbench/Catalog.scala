package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** One recorded catalog query: its family, its warm wall when recorded,
  * and the result it must reproduce. */
final case class Expected(name: String, family: String, costS: Double,
                          mode: String, rows: Long, digest: String)

object Expected {
  /** Tab-separated: name, family, cost_s, mode (digest | rows), rows,
    * digest. Lines starting with `#` are comments. */
  def load(p: Path): Seq[Expected] =
    Files.readAllLines(p).toArray.map(_.toString).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val f = l.split("\t")
      Expected(f(0), f(1), f(2).toDouble, f(3), f(4).toLong, f(5))
    }.toSeq

  /** Catalog layer of a query, from the first letter of its name. */
  def family(name: String): String = name.head match {
    case 'a' => "catalog.profile"
    case 'd' => "catalog.drift"
    case 'v' | 'p' | 'c' => "catalog.privacy"
    case 'q' => "catalog.relational"
    case 's' => "catalog.events"
    case 't' => "catalog.text"
    case 'x' | 'm' => "catalog.ext"
    case _ => throw new IllegalArgumentException(s"no catalog layer for query $name")
  }
}

/** A fixed sample of `SparkEntry.queries` over generated fixture tables
  * (data seed 42, the same for every workload seed, so the result recorded
  * for each query at this commit holds). The workload seed only orders it.
  * Each op builds the query's DataFrame and materialises it with its digest
  * ([[Digest]]). */
final class Catalog private (spark: SparkSession, work: Path, seed: Long, tiny: Boolean,
                             expected: Seq[Expected]) extends Workload {
  import Catalog._

  private val dir = work.resolve("sf")
  private val scale = if (tiny) TinyScale else 1.0
  private val queries = SparkEntry.queries
  private var rows, bytes = 0L
  private val byName = expected.map(q => q.name -> q).toMap

  val sample: Seq[Expected] = {
    val order = new java.util.SplittableRandom(seed)
    Sample.map(byName).map(q => (order.nextLong(), q)).sortBy(_._1).map(_._2)
  }

  /** Ten tables at sf0.1 size take seconds to write: two repeats. */
  override def genRepeats: Int = 2
  def inputRows: Long = rows
  def inputBytes: Long = bytes
  def opsPerPass: Int = sample.size

  def generate(): Unit = {
    Files.createDirectories(dir)
    val (r, b) = Gen.tables(spark, dir, scale, DataSeed)
    rows = r; bytes = b
  }

  /** One untimed pass of the sample, so no timed execution is a query's
    * first. */
  def warmup(): Unit = sample.foreach(q => Digest.of(queries(q.name)(spark, dir.toString)))

  def op(i: Int): (String, () => Outcome) = {
    val q = sample(i % sample.size)
    q.name -> (() => check(q, Digest.of(queries(q.name)(spark, dir.toString))))
  }

  def traced(tr: Tracer): Seq[(String, Outcome)] = sample.map { q =>
    q.name -> tr.span(q.name, q.family) {
      val df: DataFrame = queries(q.name)(spark, dir.toString)
      val d = Digest.of(df)
      tr.addPlan(df.queryExecution)
      check(q, d)
    }
  }

  private def check(q: Expected, d: Digest.Result): Outcome =
    if (d.rows != q.rows) Outcome(ok = false, s"${d.rows} rows, recorded ${q.rows}")
    else if (q.mode == "digest" && d.hex != q.digest) Outcome(ok = false, s"digest ${d.hex}, recorded ${q.digest}")
    else Outcome(ok = true)

  override def extra: Map[String, Any] = Map("catalog" -> Json.obj(
    "scale" -> scale, "data_seed" -> DataSeed, "pool" -> expected.size,
    "sample" -> Json.arr(sample.map(_.name): _*)))
}

object Catalog {
  /** Fixture tables are drawn from one fixed seed; the workload seed only
    * orders the sample. */
  val DataSeed = 42L
  /** Scale 1.0 is the sf0.1 fixture's row counts; the self-test runs at
    * this scale. */
  val TinyScale = 0.01
  /** The sampled queries: every family, the dedup-cluster path and the
    * `a1_profile_approx_audit` overlap case. `x_dedup_cluster_sizes`
    * repeats `x_dedup_clusters`' work and would add ≈10 s to a run, so it
    * is left out. The list is fixed because query costs span two orders
    * of magnitude: a sample drawn per seed would change the work a run
    * times. */
  val Sample: Seq[String] = Seq(
    "a1_profile_approx_audit", // catalog.profile: sketch pass overlapped with an exact recount
    "d1_ks_statistic",         // catalog.drift
    "v8_k_anonymity",          // catalog.privacy
    "q_range_join",            // catalog.relational
    "s_tumbling",              // catalog.events
    "t_text_stats",            // catalog.text
    "x_dedup_clusters",        // catalog.ext: near-duplicate pairs, then clusters
    "x_dedup_exact",           // catalog.ext: exact-hash dedup
    "m_audio_features")        // catalog.ext: the multimodal `m_` prefix

  def expectedFile(base: Path, tiny: Boolean): Path =
    base.resolve(if (tiny) "catalog_expected_tiny.tsv" else "catalog_expected.tsv")

  def apply(spark: SparkSession, work: Path, seed: Long, tiny: Boolean, expectedDir: Path): Catalog =
    new Catalog(spark, work, seed, tiny, Expected.load(expectedFile(expectedDir, tiny)))
}
