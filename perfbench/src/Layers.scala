package perfbench

import scala.collection.mutable

/** Per-layer metrics from a traced run. Each layer is a span name named
  * after the engine module the wrapped call belongs to. */
object Layers {
  val Spans: Seq[String] = Seq(
    "sources.read", "pipeline.build", "sort.build", "introspect.shape",
    "sql.rewrite", "page.fetch", "sources.write",
    "dedup.exact", "dedup.minhash", "dedup.drop_near",
    "curation.policy", "curation.decontaminate", "sampling.budget",
    "pq.build", "pq.append", "pq.query", "pq.compact",
    "bm25.build", "bm25.append", "bm25.query", "bm25.compact",
    "sidecar.ingest")

  /** Byte counters reported only for the spans that move data in or out. */
  val Extra: Seq[(String, String)] = Seq(
    "sources.read" -> "input_mb", "page.fetch" -> "input_mb",
    "sources.write" -> "output_mb")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Every per-layer metric. A span's counters are the median over its
    * instances in the prepare phase and the traced cycles (0 when the
    * layer does not run in this workload). Workload totals are per traced
    * cycle. `trace_overhead_s` is the median traced cycle's wall time
    * minus the median untraced cycle's; `cycleS` holds wall times less the
    * operations only a traced cycle runs. */
  def summarize(t: Trace, cycleS: Seq[Double], traced: Seq[Boolean]): collection.Map[String, Double] = {
    val st = Trace.stats(t)
    val out = mutable.LinkedHashMap.empty[String, Double]
    Spans.foreach { name =>
      val xs = st.filter(_.name == name)
      def med(f: Trace.SpanStats => Double) = median(xs.map(f))
      out(s"$name.self_s") = med(_.selfS)
      out(s"$name.jobs") = med(_.jobs.toDouble)
      out(s"$name.task_s") = med(_.taskS)
      out(s"$name.gap_s") = med(_.gapS)
      out(s"$name.shuffle_mb") = med(_.shuffleMb)
    }
    Extra.foreach { case (name, counter) =>
      val xs = st.filter(_.name == name)
      out(s"$name.$counter") =
        median(xs.map(s => if (counter == "input_mb") s.fileMb else s.outputMb))
    }
    val (addBatchMs, persisted) = t.synchronized((t.addBatchMs.toSeq, t.newPersisted.toSeq))
    out("sidecar.add_batch_ms") = median(addBatchMs)

    val nTraced = math.max(1, traced.count(identity)).toDouble
    val spanCycle = t.spans.map(s => s.id -> s.cycle).toMap
    val inCycles = st.filter(_.cycle >= 0)
    val newInCycles = persisted.count { case (span, _) => spanCycle.getOrElse(span, -1) >= 0 }
    out("materialize.checkpoints") = newInCycles / nTraced
    out("spill_mb") = inCycles.map(_.spillMb).sum / nTraced
    out("failed_tasks") = inCycles.map(_.failedTasks).sum / nTraced
    val (on, off) = cycleS.zip(traced).partition(_._2)
    out("trace_overhead_s") =
      if (on.isEmpty || off.isEmpty) 0.0 else median(on.map(_._1)) - median(off.map(_._1))
    out
  }
}
