package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** The traced run's instrumentation: one `SparkListener` that charges
  * every job, stage and task to the span (row, layer) that submitted it,
  * and sums streaming progress.
  *
  * Attribution rides on a job-local property (`Tracer.Key`) that the
  * harness sets before each layer of each row. Spark copies local
  * properties into threads the driver thread starts afterwards (the
  * engine's `util.inParallel` threads, stream execution threads) and
  * into the jobs they submit, so every job is charged to the row and layer
  * that caused it. Streaming progress reaches the listener bus for every
  * session (clones included) as `QueryProgressEvent`s.
  *
  * Everything is kept in memory; `spansJson` writes the span tree out.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  @volatile private var timed = false

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val streamQueries = new ConcurrentHashMap[String, (Long, Long)]()
  private val stream = new Counters
  private val spans = mutable.ArrayBuffer.empty[Span]

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Key))).getOrElse("")

  /** Counters of one layer ("ops", "plans", "exec"); untagged work goes
    * to "other". */
  private def layer(tag: String): Counters =
    counters.computeIfAbsent(layerOf(tag), _ => new Counters)

  /** Tag the calling thread (and threads it starts from now on). */
  def enter(row: Int, layer: String): Unit = sc.setLocalProperty(Key, s"$row/$layer")

  def exit(): Unit = sc.setLocalProperty(Key, null)

  /** Record a finished layer span of a row; times in epoch milliseconds. */
  def span(row: Int, name: String, layer: String, startMs: Double, endMs: Double): Unit =
    spans.synchronized { spans += Span(row, name, layer, startMs, endMs) }

  /** Wait for the bus, then count only what happens from here on. */
  def startTimed(): Unit = {
    drain()
    jobs.clear(); stageTag.clear(); submitted.clear(); counters.clear()
    streamQueries.clear(); stream.reset()
    timed = true
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (timed) {
    val tag = tagOf(e.properties)
    jobs.put(e.jobId, Job(e.jobId, tag, e.time.toDouble, Double.NaN, e.stageIds))
    e.stageIds.foreach(stageTag.put(_, tag))
    layer(tag).add("jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (timed) {
    Option(jobs.get(e.jobId)).foreach { j =>
      jobs.put(e.jobId, j.copy(endMs = e.time.toDouble))
      val skipped = j.stageIds.count(s => !submitted.contains(s))
      layer(j.tag).add("stages_skipped", skipped)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (timed)
    submitted.add(e.stageInfo.stageId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (timed)
    layer(stageTag.getOrDefault(e.stageInfo.stageId, "")).add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (timed) {
    val c = layer(stageTag.getOrDefault(e.stageId, ""))
    c.add("tasks", 1)
    if (!e.taskInfo.successful) c.add("tasks_failed", 1)
    Option(e.taskMetrics).foreach { m =>
      c.add("task_ms", m.executorRunTime)
      c.add("cpu_ns", m.executorCpuTime)
      c.add("input_bytes", m.inputMetrics.bytesRead)
      c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      c.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      c.add("write_bytes", m.outputMetrics.bytesWritten)
      c.add("write_records", m.outputMetrics.recordsWritten)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent if timed =>
      val pr = p.progress
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      stream.add("batches", 1)
      Seq("addBatch", "queryPlanning", "walCommit", "latestOffset", "commitOffsets")
        .foreach(k => stream.add(k, d.getOrElse(k, 0L)))
      stream.add("input_rows", pr.numInputRows)
      val ops = pr.stateOperators
      streamQueries.merge(pr.runId.toString,
        (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum),
        (a, b) => (b._1, math.max(a._2, b._2)))
    case _ =>
  }

  /** Per-layer totals of the timed pass. `layerSeconds` holds each layer's
    * summed span time (seconds); `wallS` the pass wall time; `cores` the
    * session's task slots. */
  def metrics(layerSeconds: Map[String, Double], wallS: Double, cores: Int): Map[String, Double] = {
    drain()
    def c(l: String) = Option(counters.get(l)).getOrElse(new Counters)
    val all = new Counters
    counters.values.asScala.foreach(all.addAll)
    val byRowLayer = spans.synchronized(spans.toList).map(s => (s.row, s.layer) -> s).toMap
    val jobList = jobs.values.asScala.toList
    def driverS(l: String): Double = byRowLayer.collect { case ((row, `l`), s) =>
      val kids = jobList.filter(j => j.tag == s"$row/$l" && !j.endMs.isNaN)
        .map(j => (j.startMs, j.endMs))
      Stats.selfTime((s.startMs, s.endMs), kids)
    }.sum / 1000.0
    val (stateRows, stateMem) = streamQueries.values.asScala
      .foldLeft((0L, 0L)) { case ((r, m), (a, b)) => (r + a, m + b) }
    Map(
      "ops.s" -> layerSeconds.getOrElse("ops", 0.0),
      "ops.driver_s" -> driverS("ops"),
      "ops.jobs" -> c("ops")("jobs"),
      "ops.tasks" -> c("ops")("tasks"),
      "ops.task_s" -> c("ops")("task_ms") / 1e3,
      "plans.s" -> layerSeconds.getOrElse("plans", 0.0),
      "exec.s" -> layerSeconds.getOrElse("exec", 0.0),
      "exec.driver_s" -> driverS("exec"),
      "exec.jobs" -> c("exec")("jobs"),
      "exec.stages" -> c("exec")("stages"),
      "exec.tasks" -> c("exec")("tasks"),
      "exec.task_s" -> c("exec")("task_ms") / 1e3,
      "exec.cpu_s" -> c("exec")("cpu_ns") / 1e9,
      "exec.input_bytes" -> c("exec")("input_bytes"),
      "exec.shuffle_read_bytes" -> c("exec")("shuffle_read_bytes"),
      "exec.shuffle_write_bytes" -> c("exec")("shuffle_write_bytes"),
      "exec.spill_bytes" -> c("exec")("spill_bytes"),
      "sources.write_bytes" -> all("write_bytes"),
      "sources.write_records" -> all("write_records"),
      "stream.batches" -> stream("batches"),
      "stream.add_batch_s" -> stream("addBatch") / 1e3,
      "stream.query_planning_s" -> stream("queryPlanning") / 1e3,
      "stream.wal_commit_s" -> stream("walCommit") / 1e3,
      "stream.latest_offset_s" -> stream("latestOffset") / 1e3,
      "stream.commit_offsets_s" -> stream("commitOffsets") / 1e3,
      "stream.input_rows" -> stream("input_rows"),
      "stream.state_rows" -> stateRows.toDouble,
      "stream.state_mem_bytes" -> stateMem.toDouble,
      "spark.task_util" -> (all("task_ms") / 1e3) / (wallS * cores),
      "spark.tasks_failed" -> all("tasks_failed"),
      "spark.stages_skipped" -> all("stages_skipped"),
      "spark.jobs_untagged" -> c("other")("jobs"))
  }

  /** The span tree of the timed pass (row → layer → job), one JSON object
    * per line. */
  def spansJson(): Seq[String] = {
    drain()
    val jobList = jobs.values.asScala.toList.sortBy(_.id)
    spans.synchronized(spans.toList).sortBy(s => (s.startMs, s.row)).map { s =>
      val kids = jobList.filter(_.tag == s"${s.row}/${s.layer}")
      Stats.Json.render(Stats.Obj(
        "row" -> s.row, "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "jobs" -> kids.map(j => Stats.Obj(
          "job" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> j.stageIds.size)),
        "self_ms" -> Stats.selfTime((s.startMs, s.endMs),
          kids.filter(!_.endMs.isNaN).map(j => (j.startMs, j.endMs)))))
    }
  }
}

object Tracer {
  /** The job-local property naming the span a job belongs to: "row/layer". */
  val Key = "perfbench.span"

  final case class Job(id: Int, tag: String, startMs: Double, endMs: Double, stageIds: Seq[Int])
  final case class Span(row: Int, name: String, layer: String, startMs: Double, endMs: Double)

  def layerOf(tag: String): String = tag.split('/') match {
    case Array(_, l) if Set("ops", "plans", "exec")(l) => l
    case _ => "other"
  }

  /** Additive named counters, safe to bump from the listener thread. */
  final class Counters {
    private val m = new ConcurrentHashMap[String, java.lang.Long]()
    def add(k: String, v: Long): Unit = m.merge(k, v, (a, b) => a + b)
    def apply(k: String): Double = Option(m.get(k)).map(_.toDouble).getOrElse(0.0)
    def addAll(o: Counters): Unit = o.m.forEach((k, v) => add(k, v))
    def reset(): Unit = m.clear()
  }

  def install(sc: SparkContext): Tracer = {
    val t = new Tracer(sc)
    sc.addSparkListener(t)
    t
  }
}
