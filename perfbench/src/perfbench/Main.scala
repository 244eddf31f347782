package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.Sessions

/** What one timed or traced op reports about its own output. */
final case class Outcome(ok: Boolean, why: String = "")

/** One workload: seeded inputs, warm-up, and the ops the closed loop runs. */
trait Workload {
  /** Input rows and bytes the engine receives (recorded in the output). */
  def inputRows: Long
  def inputBytes: Long
  /** Write the seeded inputs; called once per set-up repetition. */
  def generate(): Unit
  /** Untimed passes that fill JIT, codegen and page caches. */
  def warmup(): Unit
  /** The i-th op of the closed loop: (op name, run-and-check). */
  def op(i: Int): (String, () => Outcome)
  /** Ops in one pass; the loop runs whole passes, at least `minPasses`. */
  def opsPerPass: Int
  def minPasses: Int = 1
  /** One traced pass: the same work as `opsPerPass` ops, under spans. */
  def traced(tr: Tracer): Seq[(String, Outcome)]
  /** How often set-up regenerates the inputs; `setup_s` keeps the median. */
  def genRepeats: Int = 3
  /** Workload-specific fields of the result record. */
  def extra: Map[String, Any] = Map.empty
}

object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
                        trace: Boolean = false, work: Path = Paths.get(".bench_work"),
                        tiny: Boolean = false, expected: Path = Paths.get("perfbench"),
                        record: Option[Path] = None)

  val PipelineLayers = Seq("io", "risk", "protect", "utility", "compliance", "report")
  val CatalogLayers = Seq("catalog.profile", "catalog.drift", "catalog.privacy",
    "catalog.relational", "catalog.events", "catalog.text", "catalog.ext")
  val Layers: Seq[String] = PipelineLayers ++ CatalogLayers
  /** Unit of each per-layer metric (by suffix) and whole-pass metric. */
  private val Units = Map("wall_s" -> "s", "driver_s" -> "s", "plan_s" -> "s", "jobs" -> "count",
    "task_s" -> "s", "shuffle_bytes" -> "bytes", "result_bytes" -> "bytes", "busy_frac" -> "ratio",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.gc_s" -> "s",
    "spark.spill_bytes" -> "bytes", "spark.empty_task_frac" -> "ratio")

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = Paths.get(v)))
    case "--tiny" :: t => parse(t, o.copy(tiny = true))
    case "--expected" :: v :: t => parse(t, o.copy(expected = Paths.get(v)))
    case "--record" :: v :: t => parse(t, o.copy(record = Some(Paths.get(v))))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def session(work: Path, cores: Int): SparkSession =
    Sessions.local(cpus = cores.toString, appName = "perfbench", extraConf = Map(
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString))

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    Files.createDirectories(o.work)
    o.record match {
      case Some(out) => Record.run(o, out)
      case None => bench(o)
    }
  }

  private def bench(o: Opts): Unit = {
    val hostStart = Host.snapshot()
    val cores = Runtime.getRuntime.availableProcessors()
    val setupT0 = System.nanoTime()
    val spark = session(o.work, cores)
    val sessionS = (System.nanoTime() - setupT0) / 1e9
    try {
      val wl: Workload = o.workload match {
        case "pipeline_small" => Pipeline.small(spark, o.work, o.seed, o.tiny)
        case "pipeline_sf0.1" => Pipeline.lineitem(spark, o.work, o.seed, o.tiny)
        case "catalog_mix" => Catalog(spark, o.work, o.seed, o.tiny, o.expected)
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
      // Input generation is repeated and its median kept; the session and
      // the warm-up are one-shot by nature (a second warm-up is already warm).
      val genS = median((1 to wl.genRepeats).map(_ => timed(wl.generate())))
      val warmS = timed(wl.warmup())
      val setupS = sessionS + genS + warmS

      val walls = mutable.ArrayBuffer.empty[(String, Double)]
      val failures = mutable.ArrayBuffer.empty[String]
      var cpuS = 0.0
      // heap in use right after the full collection before each op, and
      // after the last: what the program still holds between ops
      var liveHeapMb = 0.0
      def fullGc(): Unit = { System.gc(); liveHeapMb = math.max(liveHeapMb, Host.heapUsedMb()) }
      val loopT0 = System.nanoTime()
      var i = 0
      // whole passes only, so every run times the same mix of ops
      while (i < wl.opsPerPass * wl.minPasses || i % wl.opsPerPass != 0 ||
             (System.nanoTime() - loopT0) / 1e9 < o.seconds) {
        val (name, run) = wl.op(i)
        fullGc()
        val c0 = Host.cpuNs()
        val t0 = System.nanoTime()
        val out = try run() catch { case e: Throwable => Outcome(ok = false, s"threw ${e}") }
        walls += name -> (System.nanoTime() - t0) / 1e9
        cpuS += (Host.cpuNs() - c0) / 1e9
        if (!out.ok) failures += s"$name: ${out.why}"
        i += 1
      }
      fullGc()
      val opWalls = walls.map(_._2).toSeq
      val timedS = opWalls.sum

      val traceJson = if (!o.trace) None else Some {
        val tr = new Tracer(spark, cores).install()
        System.gc()
        val t0 = System.nanoTime()
        val outs = wl.traced(tr)
        val passS = (System.nanoTime() - t0) / 1e9
        val sum = tr.summary(Layers)
        tr.uninstall()
        outs.collect { case (n, out) if !out.ok => failures += s"traced $n: ${out.why}" }
        val untraced = outs.map { case (n, _) => median(walls.collect { case (`n`, w) => w }.toSeq) }.sum
        (sum, passS, passS - untraced, outs.size)
      }

      val attempted = walls.size + traceJson.map(_._4).getOrElse(0)
      val hostEnd = Host.snapshot()
      val endToEnd = Map(
        "setup_s" -> (setupS, "s"),
        "ops_per_s" -> (opWalls.size / timedS, "1/s"),
        "live_mem_mb" -> (liveHeapMb + Host.nonHeapPeakMb(), "MB"))
      val perLayer: Map[String, (Double, String)] = traceJson.map { case (sum, _, overhead, _) =>
        sum.layers.toSeq.flatMap { case (l, m) => m.map { case (k, v) => s"$l.$k" -> (v, Units(k)) } }.toMap ++
          sum.run.map { case (k, v) => k -> (v, Units(k)) } + ("trace.overhead_s" -> (overhead, "s"))
      }.getOrElse(Map.empty)

      val detail = Json.obj(
        "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
        "tiny" -> o.tiny, "loop" -> "closed, 1 client",
        "input" -> Json.obj("rows" -> wl.inputRows, "bytes" -> wl.inputBytes),
        "setup" -> Json.obj("session_s" -> sessionS, "generate_s_median" -> genS,
          "generate_repeats" -> wl.genRepeats, "warmup_s" -> warmS),
        "ops" -> Json.obj("count" -> opWalls.size, "timed_s" -> timedS,
          "p50_s" -> median(opWalls), "p90_s" -> pct(opWalls, 0.9),
          "p90_reportable" -> (opWalls.size * 0.1 >= 10),
          "rows_per_s" -> wl.inputRows * opWalls.size / timedS,
          "cpu_s_per_op" -> cpuS / opWalls.size,
          "live_heap_mb" -> liveHeapMb,
          "per_op" -> Json.obj(walls.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, ws) =>
            n -> Json.arr(ws.map(_._2).toSeq: _*) }: _*)),
        "attempted" -> attempted,
        "failed_frac" -> failures.size.toDouble / attempted,
        "failures" -> Json.arr(failures.toSeq: _*),
        "host" -> Json.obj("local_cores" -> cores, "nproc" -> Runtime.getRuntime.availableProcessors(),
          "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
          "non_heap_peak_mb" -> Host.nonHeapPeakMb(), "rss_peak_mb" -> Host.rssPeakMb(),
          "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
          "start" -> hostStart.json, "end" -> hostEnd.json,
          "steal_frac" -> hostStart.stealFracUntil(hostEnd)),
        "end_to_end" -> Json.obj(endToEnd.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
          k -> Json.obj("value" -> v, "unit" -> u) }: _*),
        "trace" -> traceJson.map { case (sum, passS, overhead, _) =>
          Json.obj("pass_s" -> passS, "overhead_s" -> overhead,
            "per_layer" -> Json.obj(perLayer.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
              k -> Json.obj("value" -> v, "unit" -> u) }: _*),
            "spans" -> Json.arr(sum.spans.map { s =>
              Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
                "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
                "self_s" -> sum.selfS(s.id)) }: _*))
        }.orNull) ++ wl.extra
      println("PERFBENCH_RESULT " + Json.render(detail))
    } finally spark.stop()
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile (the `statistics` inclusive rule). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Host record taken at the start and end of a run, so a noisy window is
  * visible in the artifact rather than read as a regression. */
final case class HostSnap(loadavg: Seq[Double], calibSortS: Double, cpuTicks: Seq[Long]) {
  def json: Map[String, Any] = Map("loadavg" -> Json.arr(loadavg: _*), "calib_sort_s" -> calibSortS)

  /** Share of the host's CPU time between two snapshots that the
    * hypervisor gave to other guests (`steal` in `/proc/stat`). */
  def stealFracUntil(end: HostSnap): Double =
    if (cpuTicks.size < 8 || end.cpuTicks.size < 8) Double.NaN
    else {
      val d = end.cpuTicks.zip(cpuTicks).map { case (b, a) => b - a }
      d(7).toDouble / d.take(8).sum
    }
}

object Host {
  def snapshot(): HostSnap = HostSnap(loadavg(), calibrate(), cpuTicks())

  /** The aggregate `cpu` line of `/proc/stat`: user, nice, system, idle,
    * iowait, irq, softirq, steal, ... in clock ticks. */
  private def cpuTicks(): Seq[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong).toSeq
    catch { case _: Exception => Seq.empty }

  private def loadavg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Seq.empty }

  /** Fixed single-thread probe, `graft.Bench`'s calibration at half size:
    * sort 2M seeded doubles. */
  private def calibrate(): Double = {
    val rnd = new java.util.Random(42)
    val a = Array.fill(1 << 21)(rnd.nextDouble())
    val t0 = System.nanoTime()
    java.util.Arrays.sort(a)
    (System.nanoTime() - t0) / 1e9
  }

  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def heapUsedMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Peak use of the non-heap pools (metaspace, code cache), in MB.
    * "Compressed Class Space" is skipped: metaspace already counts it. */
  def nonHeapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.NON_HEAP && p.getName != "Compressed Class Space")
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), in MB. It is kept in the
    * record only: it follows how much of the fixed heap the collector has
    * cycled through, not what the program holds. */
  def rssPeakMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => Double.NaN }
}

/** Minimal JSON writer for the result record. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = scala.collection.immutable.ListMap(kv: _*)
  def arr(xs: Any*): Seq[Any] = xs.toSeq

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
