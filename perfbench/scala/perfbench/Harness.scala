package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Command-line settings passed by `perfbench/run.py`. */
final case class Args(workload: String, inputs: String, runDir: String,
                      out: String, seconds: Double, trace: Boolean,
                      cores: Int, seed: Long)

/** Times ops and their layer parts from outside the library: every
  * part is a call into one module's public functions. With tracing on
  * it also registers [[Probe]]'s listeners and records spans; with
  * tracing off nothing but `System.nanoTime` runs around the calls. */
final class Harness(val a: Args) {
  var spark: SparkSession = _
  val records = ArrayBuffer[Map[String, Any]]()
  val floorMs = ArrayBuffer[Double]()
  val notes = mutable.LinkedHashMap[String, Any]()
  private var opSeq = 0

  def startSession(): SparkSession = {
    val b = graft.GraftSession.builder(a.cores, s"local[${a.cores}]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/spark-warehouse")
      .config("spark.graft.stats.dir", s"${a.runDir}/graft-stats")
    if (a.trace)
      b.config("spark.sql.streaming.streamingQueryListeners", "perfbench.StreamProbe")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (a.trace) {
      spark.sparkContext.addSparkListener(Probe.sparkListener)
      Probe.tracing = true
    }
    spark
  }

  private def drain(): Unit =
    if (a.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** One op: `body` gets a part timer and returns the op's extra
    * fields. Layer parts are summed per name. An op that throws is
    * recorded with an `error` field instead of its extra fields, and
    * the run goes on. */
  def op(name: String, kind: String, phase: String, rep: Int)
        (body: Parts => Map[String, Any]): Map[String, Any] = {
    opSeq += 1
    val id = opSeq
    drain()
    val before = Probe.counters
    val parts = new Parts(id)
    val t0 = System.nanoTime()
    val extra =
      try Probe.span(s"op.$kind", id)(body(parts))
      catch { case NonFatal(e) => Map[String, Any]("error" -> e.toString.take(2000)) }
    val t1 = System.nanoTime()
    drain()
    val rec = Map[String, Any](
      "op" -> id, "name" -> name, "kind" -> kind, "phase" -> phase, "rep" -> rep,
      "wall_ms" -> (t1 - t0) / 1e6, "parts" -> parts.ms.toMap) ++
      (if (a.trace) Map("counters" -> (Probe.counters - before).toJson,
        "driver_gap_ms" -> parts.gapMs) else Map.empty) ++ extra
    records += rec
    rec
  }

  /** Per-op layer timer. `run` also records the action's interval, so
    * that with tracing the wall time it spends outside any Spark job
    * (the driver gap) can be read once the listener bus has drained. */
  final class Parts(op: Int) {
    val ms = mutable.LinkedHashMap[String, Double]()
    private val runs = ArrayBuffer[(Long, Long)]()
    def apply[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try Probe.span(name, op)(body)
      finally ms(name) = ms.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6
    }
    def run[T](body: => T): T = {
      val t0 = System.nanoTime()
      try apply("exec.run")(body)
      finally runs += ((t0, System.nanoTime()))
    }
    def gapMs: Double = runs.map { case (t0, t1) =>
      (t1 - t0 - covered(Probe.jobsBetween(t0, t1), t0, t1)) / 1e6 }.sum
  }

  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var end = lo
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = math.max(s0, end); val e = math.min(e0, hi)
      if (e > s) { total += e - s; end = e }
    }
    total
  }

  /** Plan-phase times and, with tracing, scan file counts of an
    * executed query. */
  def planFields(df: DataFrame): Map[String, Any] = {
    val phases = df.queryExecution.tracker.phases.map { case (k, v) =>
      k -> v.durationMs.toDouble }
    val files =
      if (!a.trace) Map.empty[String, Any]
      else {
        val scans = Harness.PlanWalk.collectWithSubqueries(df.queryExecution.executedPlan) {
          case s: FileSourceScanExec => s }
        Map("files_read" -> scans.map(s =>
          s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum)
      }
    Map("phases" -> phases) ++ files
  }

  /** The fixed floor: a trivial one-stage query (a narrow scan of a
    * generated range), timed beside the workloads. */
  def floor(): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 20000, 1, a.cores).selectExpr("id * 3 AS x")
      .filter("x % 7 = 1").collect()
    val ms = (System.nanoTime() - t0) / 1e6
    floorMs += ms
    ms
  }

  def env(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "spark_cores" -> a.cores,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "java_version" -> System.getProperty("java.version"),
    "spark_version" -> spark.version,
    "scala_version" -> scala.util.Properties.versionNumberString)

  /** Driver JVM peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def spansJson: Seq[Map[String, Any]] = Probe.allSpans.map(s => Map(
    "id" -> s.id, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
    "parent" -> s.parent, "op" -> s.op))
}

object Harness {
  object PlanWalk extends AdaptiveSparkPlanHelper

  /** Rows as JSON-ready values: numbers as doubles, everything else as
    * its string form, nulls as null. */
  def jsonRows(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map { r =>
    (0 until r.length).map { i =>
      if (r.isNullAt(i)) null
      else r.get(i) match {
        case n: java.lang.Number => n.doubleValue
        case v => v.toString
      }
    }
  }
}
