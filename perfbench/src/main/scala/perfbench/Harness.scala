package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One workload run in one fresh JVM.
  *
  * Set-up: build a single `local[cpus]` session and warm it up by running
  * every row of the workload once on the small warm-up tables. Then one
  * timed pass over the rows, in an order permuted by `--seed`, on the
  * bench tables. Each row is timed by layer:
  *   - ops:   `SparkEntry.queries(row)(spark, dir)`, with any eager jobs;
  *   - plans: `df.queryExecution.executedPlan` (analysis is already done
  *            by the ops call; this is optimization and physical planning);
  *   - exec:  one action over that plan, which fingerprints the output
  *            (see [[Fingerprint]]) for the correctness check.
  * With `--trace 1` a [[Tracer]] charges every Spark job to its row and
  * layer; without it no listener is registered.
  *
  * Prints one JSON object as its last line of standard output.
  *
  * Arguments: --rows a,b,c --warm-dir D --timed-dir D --seed N --trace 0|1
  *            --cpus N [--expect fingerprints.tsv] [--spans out.jsonl]
  * or `--fingerprint-parquet DIR row...` to fingerprint saved outputs.
  */
object Harness {

  final case class Args(
      rows: Seq[String], warmDir: String, timedDir: String, seed: Long,
      trace: Boolean, cpus: Int, expect: Option[String], spans: Option[String])

  final case class RowResult(
      name: String, opsS: Double, plansS: Double, execS: Double,
      fp: Option[String], error: Option[String], exchanges: Int) {
    def seconds: Double = opsS + plansS + execS
  }

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      rows = need("rows").split(',').map(_.trim).filter(_.nonEmpty).toSeq,
      warmDir = need("warm-dir"), timedDir = need("timed-dir"),
      seed = need("seed").toLong, trace = need("trace") == "1",
      cpus = need("cpus").toInt, expect = kv.get("expect"), spans = kv.get("spans"))
  }

  /** Memo honesty: the engine memoizes per (session, dir) and per dir, so
    * a timed pass over the warm-up tables would be served from the memos
    * the warm-up filled. Refuse that. */
  def checkDistinctDirs(warmDir: String, timedDir: String): Unit = {
    def real(d: String): Path = {
      val p = Paths.get(d).toAbsolutePath.normalize
      if (Files.exists(p)) p.toRealPath() else p
    }
    require(real(warmDir) != real(timedDir),
      s"the timed pass must not reuse the warm-up directory ($timedDir)")
  }

  def session(cpus: Int): SparkSession = {
    val tmp = System.getProperty("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Exchange nodes (shuffle and broadcast) in the final physical plan,
    * subqueries and adaptive query stages included. */
  def exchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    def walk(p: SparkPlan): Int = {
      val here = p match { case _: Exchange => 1; case _ => 0 }
      val inner = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ => 0
      }
      here + inner + p.children.map(walk).sum + p.subqueries.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  private def describe(t: Throwable): String = {
    val msg = Option(t.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
    s"${t.getClass.getName}: ${msg.take(300)}"
  }

  private def nowMs(): Double = System.nanoTime() / 1e6 - nanoOffsetMs
  // epoch-aligned monotonic clock, comparable with listener event times
  private val nanoOffsetMs = System.nanoTime() / 1e6 - System.currentTimeMillis()

  /** Run one row through the three layers on `dir`. */
  def runRow(spark: SparkSession, name: String, dir: String, row: Int,
      tracer: Option[Tracer]): RowResult = {
    val fn = graft.SparkEntry.queries(name)
    var times = Vector.empty[Double]
    var fp: Option[String] = None
    var error: Option[String] = None
    var nEx = 0
    var df: DataFrame = null
    var t = nowMs()
    def phase(layer: String)(body: => Unit): Unit = if (error.isEmpty) {
      tracer.foreach(_.enter(row, layer))
      try body
      catch { case e: Throwable => error = Some(describe(e)) }
      finally {
        tracer.foreach(_.exit())
        val end = nowMs()
        tracer.foreach(_.span(row, name, layer, t, end))
        times :+= (end - t) / 1e3
        t = end
      }
    }
    phase("ops") { df = fn(spark, dir) }
    phase("plans") { df.queryExecution.executedPlan }
    phase("exec") { fp = Some(Fingerprint.of(df).toString) }
    if (error.isEmpty) nEx = exchanges(df)
    val Seq(o, p, e) = times.padTo(3, 0.0)
    RowResult(name, o, p, e, fp, error, nEx)
  }

  /** Expected fingerprints: lines "row<TAB>fingerprint". */
  def readExpect(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split('\t'); k -> v }.toMap

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = argv.toSeq match {
    case Seq("--fingerprint-parquet", dir, rows @ _*) => fingerprintParquet(dir, rows)
    case _ => run(parse(argv.toSeq))
  }

  /** Fingerprint parquet outputs `dir/<row>` (as graft.Verify writes them),
    * printing "row<TAB>fingerprint" lines. */
  def fingerprintParquet(dir: String, rows: Seq[String]): Unit = {
    val spark = session(2)
    rows.foreach(r => println(s"$r\t${Fingerprint.of(spark.read.parquet(s"$dir/$r"))}"))
    spark.stop()
  }

  def run(a: Args): Unit = {
    checkDistinctDirs(a.warmDir, a.timedDir)
    val unknown = a.rows.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown rows: ${unknown.mkString(",")}")
    val expect = a.expect.map(readExpect).getOrElse(Map.empty)
    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val t0 = nowMs()
    val spark = session(a.cpus)
    val tracer = if (a.trace) Some(Tracer.install(spark.sparkContext)) else None
    val t1 = nowMs()
    val warm = a.rows.zipWithIndex.map { case (r, i) => runRow(spark, r, a.warmDir, i, None) }
    val t2 = nowMs()
    warm.filter(_.error.nonEmpty).foreach(w =>
      System.err.println(s"[perfbench] warm-up ${w.name} failed: ${w.error.get}"))

    tracer.foreach(_.startTimed())
    val gc0 = gcSeconds()
    val order = Stats.order(a.rows, a.seed)
    val p0 = nowMs()
    val timed = order.zipWithIndex.map { case (r, i) => runRow(spark, r, a.timedDir, i, tracer) }
    val wallS = (nowMs() - p0) / 1e3
    val gcS = gcSeconds() - gc0

    def verdict(r: RowResult): Option[String] = r.error.orElse {
      expect.get(r.name) match {
        case None => if (expect.isEmpty) None else Some("no stored fingerprint")
        case Some(want) if r.fp.contains(want) => None
        case Some(want) => Some(s"fingerprint ${r.fp.getOrElse("-")} != stored $want")
      }
    }
    val failures = timed.flatMap(r => verdict(r).map(r.name -> _))
    val lat = timed.map(_.seconds)
    val layerS = Map("ops" -> timed.map(_.opsS).sum, "plans" -> timed.map(_.plansS).sum,
      "exec" -> timed.map(_.execS).sum)

    val e2e = Stats.Obj(
      "wall_s" -> wallS,
      "op_p50_s" -> Stats.quantile(lat, 0.5),
      "op_p75_s" -> Stats.quantile(lat, 0.75),
      "setup_s" -> (t2 - launchMs) / 1e3,
      "peak_rss_mb" -> peakRssMb(),
      "failed_frac" -> failures.size.toDouble / timed.size)
    val layers = tracer.map { tr =>
      val m = tr.metrics(layerS, wallS, a.cpus) ++ Map(
        "session.start_s" -> (t1 - t0) / 1e3,
        "session.jvm_s" -> (t0 - launchMs) / 1e3,
        "session.warmup_s" -> (t2 - t1) / 1e3,
        "plans.exchanges" -> timed.map(_.exchanges).sum.toDouble,
        "jvm.gc_s" -> gcS,
        "trace.wall_s" -> wallS)
      a.spans.foreach(p => Files.write(Paths.get(p), tr.spansJson().asJava))
      m
    }
    spark.stop()

    println(Stats.Json.render(Stats.Obj(
      "attempted" -> timed.size,
      "failed" -> failures.size,
      "failures" -> failures.map { case (n, why) => Stats.Obj("row" -> n, "error" -> why) },
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "warm_up" -> warm.map(r => Stats.Obj("name" -> r.name, "s" -> r.seconds, "error" -> r.error)),
      "rows" -> timed.map(r => Stats.Obj(
        "name" -> r.name, "s" -> r.seconds, "ops_s" -> r.opsS, "plans_s" -> r.plansS,
        "exec_s" -> r.execS, "fp" -> r.fp, "error" -> r.error)))))
  }
}
