package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a benchmark-side interval around a call into an engine layer.
  * Times are epoch milliseconds (the clock Spark stamps its events with)
  * plus a nanoTime pair for the wall itself. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startMs: Long, endMs: Long, wallS: Double)

/** Per-layer and whole-run figures of a traced pass. */
final case class TraceSummary(layers: Map[String, Map[String, Double]],
                              run: Map[String, Double], spans: Seq[Span],
                              selfS: Map[Int, Double])

/** Records spans around the public calls the benchmark makes, and the
  * Spark work that falls inside them: jobs and tasks from a
  * [[SparkListener]], plan time from a [[QueryExecutionListener]] (and
  * from trackers handed in directly, for DataFrames materialised through
  * `toRdd`, which fires no listener callback).
  *
  * A job belongs to the leaf span that was open when it started; a task
  * to the job that submitted its stage. Spans stay in memory until
  * [[summary]]. Installed only for the traced pass: untraced runs carry
  * no listener. */
final class Tracer(spark: SparkSession, cores: Int)
    extends SparkListener with QueryExecutionListener {

  private final class JobRec(val startMs: Long, var endMs: Long)
  private final class StageAgg {
    var tasks, empty = 0L
    var runMs, gcMs, shuffleBytes, resultBytes, spillBytes = 0L
  }

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageAgg = mutable.HashMap.empty[Int, StageAgg]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)] // (start ms, plan s)
  private val directPlans = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def uninstall(): Unit = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Run `body` inside a span; nested calls record the parent. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val id = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, parent, name, layer, System.currentTimeMillis(), -1L, 0.0)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      open = open.tail
      spans(id) = spans(id).copy(endMs = System.currentTimeMillis(), wallS = wall)
    }
  }

  /** Plan time of a DataFrame the benchmark itself materialised, charged
    * to the innermost open span. */
  def addPlan(qe: QueryExecution): Unit =
    open.headOption.foreach(id => directPlans(id) += planSeconds(qe))

  private def planSeconds(qe: QueryExecution): Double = {
    val ph = qe.tracker.phases
    Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(ph.get).map(_.durationMs).sum / 1e3
  }

  // ---------------------------------------------------------------- listeners

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobs(e.jobId) = new JobRec(e.time, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.resultBytes += m.resultSize
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0) a.empty += 1
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = {
    val starts = qe.tracker.phases.values.map(_.startTimeMs)
    if (starts.nonEmpty) lock.synchronized { plans += ((starts.min, planSeconds(qe))) }
  }

  // ---------------------------------------------------------------- summary

  /** Drains the listener bus, then attributes every recorded job, task and
    * plan to its span and folds spans into layers. `layerNames` lists every
    * layer to report, present in this pass or not. */
  def summary(layerNames: Seq[String]): TraceSummary = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    lock.synchronized {
      val leaves = spans.filter(s => !spans.exists(_.parent == s.id)).sortBy(_.startMs)
      // the leaf open at time t: latest start ≤ t among those not yet ended
      def leafAt(t: Long): Option[Span] =
        leaves.filter(s => s.startMs <= t && t <= s.endMs).sortBy(-_.startMs).headOption
      val jobSpan: Map[Int, Span] = jobs.toSeq.flatMap { case (id, j) => leafAt(j.startMs).map(id -> _) }.toMap
      val zero = Map("wall_s" -> 0.0, "driver_s" -> 0.0, "plan_s" -> 0.0, "jobs" -> 0.0,
        "task_s" -> 0.0, "shuffle_bytes" -> 0.0, "result_bytes" -> 0.0)
      val acc = mutable.LinkedHashMap(layerNames.map(_ -> mutable.Map(zero.toSeq: _*)): _*)
      def add(layer: String, k: String, v: Double): Unit =
        acc.getOrElseUpdate(layer, mutable.Map(zero.toSeq: _*))(k) += v

      leaves.foreach { s =>
        val mine = jobSpan.collect { case (id, sp) if sp.id == s.id => jobs(id) }
        val busyMs = coveredMs(mine.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs))).toSeq)
        add(s.layer, "wall_s", s.wallS)
        add(s.layer, "driver_s", math.max(0.0, s.wallS - busyMs / 1e3))
        add(s.layer, "jobs", mine.size.toDouble)
        add(s.layer, "plan_s", directPlans(s.id) +
          plans.collect { case (t, p) if leafAt(t).exists(_.id == s.id) => p }.sum)
      }
      var tasks, empty, gcMs, spill = 0L
      stageAgg.foreach { case (stage, a) =>
        stageJob.get(stage).flatMap(jobSpan.get).foreach { s =>
          add(s.layer, "task_s", a.runMs / 1e3)
          add(s.layer, "shuffle_bytes", a.shuffleBytes.toDouble)
          add(s.layer, "result_bytes", a.resultBytes.toDouble)
          tasks += a.tasks; empty += a.empty; gcMs += a.gcMs; spill += a.spillBytes
        }
      }
      val layers = acc.map { case (l, m) =>
        val wall = m("wall_s")
        l -> (m.toMap + ("busy_frac" -> (if (wall > 0) m("task_s") / (wall * cores) else 0.0)))
      }.toMap
      val attributedStages = stageAgg.keys.count(s => stageJob.get(s).exists(jobSpan.contains))
      val run = Map(
        "spark.stages" -> attributedStages.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.gc_s" -> gcMs / 1e3,
        "spark.spill_bytes" -> spill.toDouble,
        "spark.empty_task_frac" -> (if (tasks > 0) empty.toDouble / tasks else 0.0))
      val selfS = spans.map { s =>
        val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).toSeq
        s.id -> math.max(0.0, s.wallS - coveredMs(kids) / 1e3)
      }.toMap
      TraceSummary(layers, run, spans.toSeq, selfS)
    }
  }

  /** Length of the union of [start, end] intervals, in ms. */
  private def coveredMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var started = false
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!started || s > curE) {
        if (started) total += curE - curS
        curS = s; curE = e; started = true
      } else curE = math.max(curE, e)
    }
    if (started) total += curE - curS
    total
  }
}
