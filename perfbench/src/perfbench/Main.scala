package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark harness process: one workload at one seed in one
  * `local[cores]` Spark session. Writes a raw record (set-up samples,
  * every timed operation, and in traced runs the job records and layer
  * rows) as JSON for `perfbench/run.py` to summarise.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --cores N --work DIR --data DIR --raw FILE (--data holds the
  * analytics tables). */
object Main {

  private def session(cores: Int, work: String, engine: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    // the crawl engine sets its own partition counts; AQE's per-stage
    // jobs only add scheduling round-trips to a wave (as in graft.Bench)
    if (engine) b.config("spark.sql.adaptive.enabled", "false")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this process (Linux), 0 where unknown. */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else Files.readAllLines(status).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Notes on stderr how far into the run (JVM uptime) a phase ended. */
  private def phase(name: String): Unit =
    System.err.println(f"perfbench: $name done at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt.getOrElse("seconds", "0").toDouble
    val trace = opt.get("trace").contains("1")
    val cores = opt("cores").toInt
    val work = opt("work")

    val spark = session(cores, work, engine = name == "recrawl")
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    // session start counts from the JVM's own start
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val h = new Harness(spark, tracer)
    val wl: Workload = name match {
      case "recrawl" => new Recrawl(h, seed, work)
      case "analytics" => new Analytics(h, seed, opt("data"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    phase("session")
    val inputsS = (0 until 3).map(r => h.secondsOf(wl.inputs(r)))
    phase("inputs")
    val prebuildS = h.secondsOf(wl.prebuild())
    phase("pre-build")
    val fingerprint = wl.fingerprint
    phase("fingerprint")

    // blocks alternate untraced / traced in a traced run, so its
    // overhead is measured against untraced blocks of the same run
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var b = 0
    while (b < (if (trace) 2 else 1) || System.nanoTime() < deadline) {
      val traced = trace && b % 2 == 1
      h.settle()
      phase(s"settle $b")
      tracer.recording = traced
      wl.block(b, traced)
      h.drain()
      tracer.recording = false
      phase(s"block $b")
      b += 1
    }
    val measuredS = (System.nanoTime() - start) / 1e9
    val extras = if (trace) wl.traceExtras() else Map.empty[String, Any]

    val raw = Map(
      "workload" -> name, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "session_s" -> sessionS, "inputs_s" -> inputsS, "prebuild_s" -> prebuildS, "measured_s" -> measuredS,
      "fingerprint" -> fingerprint, "rss_peak_mb" -> peakRssMb(),
      "ops" -> h.ops, "jobs" -> tracer.jobs.map(_.toMap), "rows" -> h.rows,
      "extras" -> extras, "query_mix" -> Analytics.mix.map(_._1.takeWhile(_ != '_')))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(new java.io.File(opt("raw")), raw)
    spark.stop()
    phase("run")
  }
}
