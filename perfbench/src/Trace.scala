package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Spans around the benchmark's calls into the engine, and the Spark
  * jobs, tasks and streaming batches those calls cause.
  *
  * A span records name, start, end, parent span, and the cycle and step
  * it belongs to. While a span is open, the job-local property
  * [[SpanKey]] carries its id, so every job submitted from the client
  * thread — and from threads it starts, such as a streaming query's
  * batch thread — is charged to the innermost open span. The property
  * belongs to the benchmark, so the engine's own job descriptions can
  * change without breaking attribution. Jobs that arrive without the
  * property are charged to the span open on the client thread when the
  * job starts; with one closed-loop client that is the call that caused
  * them.
  *
  * File bytes come from the file scan nodes' own SQL metric ("size of
  * files read"), which a scan posts from the driver when it lists its
  * files; a SQL execution is charged to the span of its jobs. Reads of
  * cached blocks are not file reads and do not count.
  *
  * Everything is kept in memory; [[Trace.writeJson]] writes one trace
  * file when the run ends.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  /** Wall clock in ms on the same scale as Spark's event times. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var openSpan: Int = -1
  private var active = false
  var cycle = 0
  var step = 0

  // listener state, written on the listener bus thread
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val taskAcc = mutable.HashMap.empty[Int, TaskAcc]
  private val seenPersisted = mutable.HashSet.empty[Int]
  /** (span id, rdd id) of each persisted RDD the first time a job uses it. */
  val newPersisted = mutable.ArrayBuffer.empty[(Int, Int)]
  /** SQL execution id -> span of its first job. */
  private val executionSpan = mutable.HashMap.empty[Long, Int]
  /** Accumulator ids of every "size of files read" scan metric seen. */
  private val fileBytesIds = mutable.HashSet.empty[Long]
  /** (execution id, accumulator id, value) of every driver metric update. */
  private val driverUpdates = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  /** `addBatch` milliseconds of every streaming batch. */
  val addBatchMs = mutable.ArrayBuffer.empty[Double]
  @volatile private var started = 0
  @volatile private var ended = 0

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val fromProp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      val span = fromProp.map(_.toInt).getOrElse(openSpan)
      jobs(e.jobId) = Job(span, e.time.toDouble, Double.NaN)
      Option(e.properties).flatMap(p => Option(p.getProperty(ExecutionIdKey)))
        .foreach(id => executionSpan.getOrElseUpdate(id.toLong, span))
      e.stageInfos.foreach { s =>
        stageSpan.getOrElseUpdate(s.stageId, span)
        s.rddInfos.filter(_.storageLevel.isValid).foreach { r =>
          if (seenPersisted.add(r.id)) newPersisted += ((span, r.id))
        }
      }
      started += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
      ended += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val span = stageSpan.getOrElse(e.stageId, -1)
      val a = taskAcc.getOrElseUpdate(span, new TaskAcc)
      val m = e.taskMetrics
      if (m != null) {
        a.taskS += m.executorRunTime / 1e3
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
      }
      if (e.reason != org.apache.spark.Success) a.failedTasks += 1
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => noteScans(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => noteScans(u.sparkPlanInfo)
        case d: SparkListenerDriverAccumUpdates =>
          d.accumUpdates.foreach { case (id, v) => driverUpdates += ((d.executionId, id, v)) }
        case _ => ()
      }
    }
  }

  private def noteScans(plan: SparkPlanInfo): Unit = {
    plan.metrics.filter(_.name == FileBytesMetric).foreach(m => fileBytesIds += m.accumulatorId)
    plan.children.foreach(noteScans)
  }

  /** File bytes read by scans, per span. Resolved after the run, since a
    * scan may post its bytes before its execution's first job starts. */
  def fileBytesBySpan: Map[Int, Long] = synchronized {
    driverUpdates.toSeq.collect {
      case (exec, id, v) if fileBytesIds.contains(id) && executionSpan.contains(exec) =>
        executionSpan(exec) -> v
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.get("addBatch")
      if (d != null) Trace.this.synchronized { addBatchMs += d.doubleValue }
    }
  }

  /** Start or stop recording. Off means no listener is registered and no
    * property is set, so an untraced cycle runs the plain code path. */
  def setActive(on: Boolean): Unit = if (on != active) {
    active = on
    if (on) {
      spark.sparkContext.addSparkListener(jobListener)
      spark.streams.addListener(streamListener)
    } else {
      awaitQuiet()
      spark.sparkContext.removeSparkListener(jobListener)
      spark.streams.removeListener(streamListener)
    }
  }

  def isActive: Boolean = active

  /** Run `body` inside a span named `name` (a plain call when off). */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val sc = spark.sparkContext
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        cycle, step, nowMs, Double.NaN)
      spans += s
      val prevProp = sc.getLocalProperty(SpanKey)
      stack = s :: stack
      openSpan = s.id
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        openSpan = stack.headOption.map(_.id).getOrElse(-1)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  /** Wait until the listener has seen the end of every job it saw start
    * (task events precede their job's end on the bus). */
  def awaitQuiet(timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var quietSince = System.currentTimeMillis()
    var last = -1
    while (System.currentTimeMillis() < deadline &&
        (started != ended || System.currentTimeMillis() - quietSince < 300)) {
      if (started != last) { last = started; quietSince = System.currentTimeMillis() }
      Thread.sleep(20)
    }
  }
}

object Trace {
  /** Job-local property naming the span a job is charged to. */
  val SpanKey = "perfbench.span"
  /** Job-local property Spark sets to a job's SQL execution id. */
  val ExecutionIdKey = "spark.sql.execution.id"
  /** Name of the file scan nodes' bytes metric. */
  val FileBytesMetric = "size of files read"

  final case class Span(id: Int, name: String, parent: Int, cycle: Int, step: Int,
      startMs: Double, var endMs: Double)
  final case class Job(span: Int, startMs: Double, var endMs: Double)
  final class TaskAcc {
    var taskS = 0.0; var shuffleBytes = 0L; var spillBytes = 0L
    var outputBytes = 0L; var failedTasks = 0
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Counters of one span instance: self time, and the jobs, task time,
    * driver gap and bytes charged to it. */
  final case class SpanStats(name: String, cycle: Int, selfS: Double, jobs: Int,
      taskS: Double, gapS: Double, shuffleMb: Double, fileMb: Double,
      outputMb: Double, spillMb: Double, failedTasks: Int)

  def stats(t: Trace): Seq[SpanStats] = t.synchronized {
    val children = t.spans.groupBy(_.parent)
    val jobsBySpan = t.jobs.values.groupBy(_.span)
    val fileBytes = t.fileBytesBySpan
    t.spans.toSeq.map { s =>
      val wall = s.endMs - s.startMs
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)).toSeq
      val childMs = unionMs(kids, s.startMs, s.endMs)
      val own = jobsBySpan.getOrElse(s.id, Nil).toSeq
      val jobMs = unionMs(own.map(j => (j.startMs, if (j.endMs.isNaN) s.endMs else j.endMs)),
        s.startMs, s.endMs)
      val acc = t.taskAcc.getOrElse(s.id, new TaskAcc)
      val mb = 1024.0 * 1024.0
      SpanStats(s.name, s.cycle, (wall - childMs) / 1e3, own.size, acc.taskS,
        math.max(0.0, wall - childMs - jobMs) / 1e3, acc.shuffleBytes / mb,
        fileBytes.getOrElse(s.id, 0L) / mb, acc.outputBytes / mb, acc.spillBytes / mb,
        acc.failedTasks)
    }
  }

  def writeJson(t: Trace, path: String): Unit = {
    val doc = t.synchronized {
      val fileBytes = t.fileBytesBySpan
      Map(
        "spans" -> t.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "cycle" -> s.cycle, "step" -> s.step, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "file_bytes" -> fileBytes.getOrElse(s.id, 0L))),
        "jobs" -> t.jobs.map { case (id, j) =>
          Map("job" -> id, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs)
        })
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Json.value(doc).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
