package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** State of one measured run: timing samples, operation counts, output
  * checks and the values the Python side checks against DuckDB. */
final class Run(val spark: SparkSession, val trace: Trace, val work: String) {
  /** Wall seconds per operation kind: `load`, `step`, `write` (and the
    * traced run's `rewrite`). */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val outputs = mutable.LinkedHashMap.empty[String, Any]

  /** Seconds spent in [[TraceOnly]] operations, which a traced cycle adds. */
  var traceOnlyS = 0.0
  private var lastFailure: Throwable = null

  /** One operation a user waits for, timed under `kind`. A failure is
    * counted and rethrown, which ends the cycle. */
  def op[T](kind: String)(body: => T): T = {
    attempted += 1
    val t = System.nanoTime()
    try {
      val r = body
      val dt = (System.nanoTime() - t) / 1e9
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
      if (Run.TraceOnly(kind)) traceOnlyS += dt
      r
    } catch {
      case e: Throwable =>
        failed += 1
        lastFailure = e
        errors += s"$kind: ${e.getClass.getName}: ${e.getMessage}".take(2000)
        throw e
    }
  }

  /** Counts `e` as one failed operation unless [[op]] already counted it
    * (an operation's failure ends the cycle, so the cycle sees it again). */
  def failOutside(where: String, e: Throwable): Unit = if (e ne lastFailure) {
    attempted += 1
    failed += 1
    errors += s"$where: ${e.getClass.getName}: ${e.getMessage}".take(2000)
  }

  def span[T](name: String)(body: => T): T = trace.span(name)(body)

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
}

object Run {
  /** Operation kinds that run only in a traced cycle. */
  val TraceOnly: Set[String] = Set("rewrite")
}

/** A workload: cycles of engine calls over generated inputs. */
trait Workload {
  /** The workload's first operation, as timed in set-up. */
  def setupPass(): Unit
  /** Work done once, before the first cycle. */
  def prepare(): Unit = ()
  /** One cycle; false when the workload has no more input for one. */
  def cycle(i: Int): Boolean
  /** Output checks after the last cycle. */
  def finish(): Unit = ()
  /** Stops anything the workload left running. */
  def close(): Unit = ()
  /** Untimed work over the tiny inputs after set-up, before the cycles. */
  def prime(): Unit = ()
}

/** Runs one workload for a fixed time and writes a result file.
  *
  * Arguments: `--workload analyst|corpus --data <inputs dir>
  * --work <scratch dir> --seconds <s> --trace 0|1 --out <result.json>`.
  *
  * Set-up is session start plus the workload's [[Workload.setupPass]] over
  * the tiny inputs in `<data>/warm`, once, on a fresh JVM: the cold start
  * a user waits for. The same session then runs [[Workload.prime]] and
  * the measured cycles, which repeat until `--seconds` have passed (at
  * least one runs) or one fails. A traced run runs at least two cycles
  * and traces the even ones, so traced minus untraced cycle wall time,
  * less the traced-only operations, is the tracing overhead.
  */
object Main {
  def make(kind: String, run: Run, data: String): Workload = kind match {
    case "analyst"  => new Analyst(run, data)
    case "corpus"   => new Corpus(run, data)
    case other      => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val kind = opts("workload")
    val data = opts("data")
    val work = opts("work")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val threads = Runtime.getRuntime.availableProcessors

    val setupStart = System.nanoTime()
    val spark = GraftSession.local(threads = threads)
    val warm = make(kind, new Run(spark, new Trace(spark), s"$work/warm"), s"$data/warm")
    warm.setupPass()
    val setupS = (System.nanoTime() - setupStart) / 1e9
    warm.prime()
    val trace = new Trace(spark)
    val run = new Run(spark, trace, s"$work/run")
    val w = make(kind, run, data)
    val cycleS = mutable.ArrayBuffer.empty[Double]
    val tracedCycle = mutable.ArrayBuffer.empty[Boolean]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var more = true
    try {
      trace.setActive(traced)
      trace.cycle = -1
      w.prepare()
      var i = 0
      val minCycles = if (traced) 2 else 1
      while (more && (i < minCycles || elapsed < seconds)) {
        trace.setActive(traced && i % 2 == 0)
        trace.cycle = i
        trace.step = 0
        val t = System.nanoTime()
        val extra = run.traceOnlyS
        try more = w.cycle(i)
        catch {
          case e: Throwable =>
            e.printStackTrace()
            run.failOutside(s"cycle $i", e)
            more = false    // a failed cycle ends the run
        }
        cycleS += (System.nanoTime() - t) / 1e9 - (run.traceOnlyS - extra)
        tracedCycle += trace.isActive
        i += 1
      }
      trace.setActive(false)
      w.close()
      w.finish()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        run.failOutside("run", e)
    }
    trace.setActive(false)
    val measuredS = elapsed

    val layers: collection.Map[String, Any] =
      if (!traced) Map.empty
      else {
        Trace.writeJson(trace, s"$work/trace.json")
        Layers.summarize(trace, cycleS.toSeq, tracedCycle.toSeq)
      }
    val env = Map(
      "nproc" -> threads,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version)
    val result = Map(
      "setup_s" -> setupS,
      "measured_s" -> measuredS,
      "cycles" -> cycleS.size,
      "cycle_s" -> cycleS,
      "samples" -> run.samples,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "errors" -> run.errors,
      "checks" -> run.checks,
      "outputs" -> run.outputs,
      "layers" -> layers,
      "env" -> env,
      "peak_rss_mb" -> peakRssMb())
    spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")),
      Json.value(result).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
