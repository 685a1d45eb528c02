package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The run record's JSON writer (Jackson, from Spark's classpath). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def bytes(v: Any): Array[Byte] = mapper.writeValueAsBytes(v)
}

/** Benchmark driver JVM: one workload per process.
  *
  * `--workload etl_weekly|analytics|defect_probes --inputs <dir>
  *  --run-dir <dir> --out <file> --seconds <s> --trace 0|1 --cores <n>
  *  --seed <n> --bench-dir <perfbench dir>
  *  [--corpus <dir> --probe-limit <s>]` (the last two for `defect_probes`,
  *  whose `--inputs` is the football raw)
  *
  * Writes one JSON record of every op (wall time, layer parts, and with
  * tracing Spark's counters and spans) to `--out`; `run.py` turns it
  * into metrics and checks the outputs. */
object Main {
  /** Set-ups per run: each a session start and its first Spark job;
    * the run reports their median. */
  val Setups = 7

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("inputs"), kv("run-dir"), kv("out"),
      kv("seconds").toDouble, kv("trace") == "1", kv("cores").toInt,
      kv("seed").toLong)
    require(a.cores <= Runtime.getRuntime.availableProcessors,
      s"refusing to run with ${a.cores} Spark cores on " +
        s"${Runtime.getRuntime.availableProcessors} processors")
    val h = new Harness(a)
    // every session but the last is stopped again; the first pays the
    // JVM's class loading
    val setups = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      h.startSession()
      val sessionMs = (System.nanoTime() - t0) / 1e6
      val f0 = System.nanoTime()
      h.floor()
      val firstJobMs = (System.nanoTime() - f0) / 1e6
      if (i < Setups) h.spark.stop()
      Map("session_ms" -> sessionMs, "first_job_ms" -> firstJobMs)
    }
    h.floorMs.clear()
    a.workload match {
      case "etl_weekly" => Workloads.etlWeekly(h, a.inputs,
        s"${kv("bench-dir")}/dashboard.sql", rounds = 2)
      case "analytics" => Workloads.analytics(h, a.inputs)
      case "defect_probes" => Workloads.defectProbes(h, a.inputs, kv("corpus"),
        kv("probe-limit").toDouble)
      case w => sys.error(s"unknown workload $w")
    }
    val peakRss = h.peakRssMb()
    val out = Map[String, Any](
      "env" -> h.env(),
      "setups" -> setups,
      "peak_rss_mb" -> peakRss,
      "floor_ms" -> h.floorMs.toSeq,
      "ops" -> h.records.toSeq,
      "notes" -> h.notes,
      "spans" -> (if (a.trace) h.spansJson else Nil))
    Files.write(Paths.get(a.out), Json.bytes(out))
    h.spark.stop()
    sys.exit(0) // without waiting for a timed-out probe's worker thread
  }
}
