package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.Instant
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.core.{GraftSession, RunSummary}
import graft.io.Csv
import graft.io.YamlConfig.PipelineConfig
import graft.report.{Html, Pdf}

/** The 6-step flow (upload → risk → protect → utility → compliance →
  * report) as one op: read the two inputs, then one
  * `GraftSession.runPipeline` call with a PDF and a fixed clock.
  *
  * Output checks, all per op: the report HTML has one SHA-256 across every
  * op of the run and the traced step-by-step pass (fixed clock and config
  * seed make it byte-stable); the risk score equals the share of anon rows
  * whose quasi-identifier tuple occurs in the real input, which the
  * generator knows; the run summary carries the input row counts. */
final class Pipeline private (spark: SparkSession, dir: Path, input: Pipeline.Input,
                              cfg: PipelineConfig, quasi: Seq[String],
                              target: Option[String], warmups: Int) extends Workload {

  private val clock = () => Instant.parse("2026-01-01T00:00:00Z")
  private val pdf = dir.resolve("report.pdf")
  private var reportSha: Option[String] = None
  private var lastQuasi = Seq.empty[String]

  def inputRows: Long = input.rows
  def inputBytes: Long = input.bytes
  def generate(): Unit = input.generate()
  def warmup(): Unit = (0 until warmups).foreach { _ =>
    val out = op(0)._2()
    require(out.ok, s"warm-up pipeline failed its checks: ${out.why}")
  }
  def opsPerPass: Int = 1
  /** At least three timed ops, whatever `--seconds` allows: their mean
    * spreads less between runs than the mean of two. */
  override def minPasses: Int = 3

  def op(i: Int): (String, () => Outcome) = "pipeline" -> { () =>
    val (real, anon) = input.read()
    val run = new GraftSession(spark).runPipeline(real, anon, cfg, quasi, target,
      pdfPath = Some(pdf.toString), clock = clock)
    check(run.reportHtml, run.risk.riskScore, run.risk.quasi)
  }

  /** `runPipeline`'s body, step by step through the public calls, each
    * step under the span of the layer it enters. */
  def traced(tr: Tracer): Seq[(String, Outcome)] = Seq("pipeline" -> tr.span("pipeline", "op") {
    val s = new GraftSession(spark)
    val (real, anon) = tr.span("io", "io")(input.read())
    s.uploadReal(real)
    s.uploadAnon(anon)
    val risk = tr.span("risk", "risk")(s.assessRisk(quasi))
    val prot = tr.span("protect", "protect")(s.protect(cfg))
    val utility = tr.span("utility", "utility")(s.measureUtility(target))
    val (checklist, complianceScore) = tr.span("compliance", "compliance")(s.compliance())
    val html = tr.span("report", "report") {
      val summary = RunSummary(quasiIds = risk.quasi, riskScore = Some(risk.riskScore),
        rowsBefore = s.anon.map(_.count()), rowsAfter = Some(prot.count()))
      val riskJson = s"""{"risk_score": ${risk.riskScore}, "quasi": ${
        risk.quasi.map(q => "\"" + q + "\"").mkString("[", ", ", "]")}}"""
      val html = Html.render("SafeData Run",
        Seq("run summary" -> summary.toJson, "risk summary" -> riskJson,
          "compliance" -> s"""{"checklist_score": $complianceScore}"""),
        Seq("stats BEFORE" -> utility.statsBefore, "stats AFTER" -> utility.statsAfter,
          "distribution drift" -> utility.drift, "compliance checklist" -> checklist,
          "anon preview" -> anon, "protected preview" -> prot) ++
          utility.modelUtility.map("model utility" -> _),
        clock = clock)
      Pdf.writeFromHtml(html, pdf.toString)
      html
    }
    check(html, risk.riskScore, risk.quasi)
  })

  private def check(html: String, risk: Double, usedQuasi: Seq[String]): Outcome = {
    val sha = MessageDigest.getInstance("SHA-256").digest(html.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expected = input.expectedRisk(usedQuasi)
    lastQuasi = usedQuasi
    val rows = s""""rows_before": ${input.rows}, "rows_after": ${input.rows}"""
    if (reportSha.isEmpty) reportSha = Some(sha)
    if (reportSha.get != sha) Outcome(ok = false, s"report sha $sha != ${reportSha.get}")
    else if (math.abs(risk - expected) > 1e-6) Outcome(ok = false, s"risk $risk != expected $expected")
    else if (!html.contains(rows)) Outcome(ok = false, s"run summary lacks $rows")
    else if (!Files.isRegularFile(pdf) || Files.size(pdf) == 0) Outcome(ok = false, "no PDF written")
    else Outcome(ok = true)
  }

  override def extra: Map[String, Any] = Map("pipeline" -> Json.obj(
    "input" -> input.describe, "report_sha256" -> reportSha.orNull,
    "quasi" -> Json.arr(lastQuasi: _*), "expected_risk" -> input.expectedRisk(lastQuasi)))
}

object Pipeline {

  sealed trait Input {
    def rows: Long
    def bytes: Long
    def describe: String
    def generate(): Unit
    def read(): (DataFrame, DataFrame)
    def expectedRisk(quasi: Seq[String]): Double
  }

  /** Reference-shaped CSV pair, read with schema inference every op. */
  private final class CsvInput(spark: SparkSession, dir: Path, seed: Long, n: Int) extends Input {
    private var pair: Gen.CsvPair = _
    def rows: Long = n
    def bytes: Long = pair.bytes
    def describe: String = s"CSV pair (age, gender, pincode, income, target), $n rows each, seed $seed"
    def generate(): Unit = pair = Gen.csvPair(dir, seed, n)
    def read(): (DataFrame, DataFrame) = (Csv.read(spark, pair.real), Csv.read(spark, pair.anon))
    def expectedRisk(quasi: Seq[String]): Double = pair.expectedRisk(quasi)
  }

  /** Lineitem-shaped parquet table (anon) and its seeded real side: the
    * anon rows whose (quantity, discount, returnflag) tuple is kept, so the
    * expected risk is real rows ÷ anon rows. */
  private final class LineitemInput(spark: SparkSession, dir: Path, seed: Long, n: Long) extends Input {
    private val (anonDir, realDir) = (dir.resolve("anon"), dir.resolve("real"))
    private var realRows, total = 0L
    def rows: Long = n
    def bytes: Long = total
    def describe: String = s"lineitem-shaped parquet, $n rows anon + $realRows rows real, seed $seed"
    def generate(): Unit = {
      Files.createDirectories(anonDir)
      Files.createDirectories(realDir)
      val a = Gen.writeParquet(spark, Gen.lineitem(spark, n, seed), anonDir, "lineitem")
      val r = Gen.writeParquet(spark,
        spark.read.parquet(a.toString).where(Gen.keepTupleSql(seed)), realDir, "lineitem")
      realRows = spark.read.parquet(r.toString).count()
      total = Files.size(a) + Files.size(r)
    }
    def read(): (DataFrame, DataFrame) =
      (Tables.load(spark, realDir.toString, "lineitem"), Tables.load(spark, anonDir.toString, "lineitem"))
    def expectedRisk(quasi: Seq[String]): Double = realRows.toDouble / n
  }

  /** Untimed ops of `pipeline_small`: in a fresh JVM on 4 cores its op
    * wall falls from ≈20 s to a steady ≈4.4 s over the first six ops. */
  val SmallWarmups = 4

  def small(spark: SparkSession, work: Path, seed: Long, tiny: Boolean): Pipeline = {
    val dir = work.resolve("pipeline")
    new Pipeline(spark, dir, new CsvInput(spark, dir, seed, if (tiny) 100 else 500),
      PipelineConfig(sdcCols = Seq("gender"), generalizeCols = Seq("income"),
        dpCols = Seq("age"), epsilon = 1.0, seed = 42L),
      quasi = Seq.empty, target = Some("target"), warmups = if (tiny) 1 else SmallWarmups)
  }

  /** Rows of the lineitem pipeline input at full size: the sf0.1 table. */
  val LineitemRows = 600000L

  def lineitem(spark: SparkSession, work: Path, seed: Long, tiny: Boolean): Pipeline = {
    val dir = work.resolve("pipeline")
    new Pipeline(spark, dir, new LineitemInput(spark, dir, seed, if (tiny) 6000L else LineitemRows),
      PipelineConfig(sdcCols = Seq("l_returnflag", "l_linestatus"), sdcThreshold = 5,
        generalizeCols = Seq("l_extendedprice"), generalizeBins = 10,
        dpCols = Seq("l_quantity"), epsilon = 1.0, seed = 42L),
      quasi = Seq("l_quantity", "l_discount", "l_returnflag"), target = None,
      warmups = if (tiny) 1 else 2)
  }
}
