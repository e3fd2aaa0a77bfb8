package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Wall and task CPU of one timed call. */
final case class Timing(startMs: Long, endMs: Long, wallS: Double, cpuS: Double)

/** One workload: set-up (input generation, repeated; then a one-time
  * pre-build or warm-up), then blocks of timed operations run as a
  * closed loop with one client (each operation starts when the previous
  * one has finished). */
trait Workload {
  /** Generates the inputs (into a fresh place on every repetition);
    * a workload over fixed tables generates nothing. */
  def inputs(rep: Int): Unit = ()
  /** Pre-built store or warm-up passes over the last generated inputs. */
  def prebuild(): Unit
  def block(b: Int, traced: Boolean): Unit
  /** Order-insensitive digest of the inputs (computed outside set-up's
    * timing: it is the harness's check, not the program's work). */
  def fingerprint: String
  /** Per-layer side data gathered after the timed blocks (traced runs). */
  def traceExtras(): Map[String, Any] = Map.empty
}

final class Harness(val spark: SparkSession, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val rows = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Any]]]

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Runs `body` between two drained listener states, so the task CPU
    * delta belongs to `body` alone. */
  def timed[T](body: => T): (Either[Throwable, T], Timing) = {
    drain()
    val c0 = tracer.cpuSeconds
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res =
      try Right(body)
      catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val e = System.currentTimeMillis()
    drain()
    (res, Timing(s, e, wall, tracer.cpuSeconds - c0))
  }

  def record(kind: String, name: String, step: Int, traced: Boolean,
      t: Timing, work: Long, errors: Seq[String], digest: String,
      extra: Map[String, Any] = Map.empty): Unit =
    ops += Map("kind" -> kind, "name" -> name, "step" -> step,
      "traced" -> traced, "start_ms" -> t.startMs, "end_ms" -> t.endMs,
      "wall_s" -> t.wallS, "cpu_s" -> t.cpuS,
      "work" -> work, "errors" -> errors, "digest" -> digest) ++ extra

  def addRow(table: String, row: Map[String, Any]): Unit =
    rows.getOrElseUpdate(table, mutable.ArrayBuffer.empty) += row

  /** Waits, untimed, for the heap and the JIT compiler to settle before
    * a timed block: a full collection, then until the compiler has had no
    * work for 300 ms (at most 5 s), so that a timed step does not share
    * the cores with compilation left over from set-up or the step
    * before. */
  def settle(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val end = System.nanoTime() + 5000000000L
    var last = -1L
    var quietSince = System.nanoTime()
    while (System.nanoTime() < end && System.nanoTime() - quietSince < 300000000L) {
      val t = jit.getTotalCompilationTime
      if (t != last) { last = t; quietSince = System.nanoTime() }
      Thread.sleep(50)
    }
  }

  def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}

object Harness {
  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close()
    }
  }
}
