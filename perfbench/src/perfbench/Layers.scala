package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run: `<span>.<metric>` for every layer
  * span, plus the ratios that say how well a layer spent its work. Each
  * value is the median over the run's traced passes; a span the workload
  * does not reach reports 0. */
object Layers {
  val Spans: Seq[String] = Seq(
    "textkv.scan", "wikiparser.parse", "pagerank.run", "index.postings", "pipelines.sort",
    "textkv.write", "txlog.append", "txlog.optimize", "txlog.delete", "txlog.merge",
    "txlog.update", "txlog.delete_mor", "txlog.read_pruned", "txlog.vacuum")

  val PerSpan: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "task_cpu_s" -> "s", "gc_s" -> "s", "offstage_s" -> "s",
    "jobs" -> "count", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "records_out" -> "count")

  val Ratios: Seq[(String, String)] = Seq(
    "pagerank.run.task_skew" -> "ratio", "pagerank.run.loop_tasks" -> "count",
    "index.postings.task_skew" -> "ratio", "index.postings.combine_ratio" -> "ratio",
    "txlog.delete.read_frac" -> "ratio", "txlog.read_pruned.files_frac" -> "ratio",
    "trace.self_s" -> "s", "trace.overhead_s" -> "s")

  def names: Seq[(String, String)] =
    Spans.flatMap(s => PerSpan.map { case (m, u) => s"$s.$m" -> u }) ++ Ratios

  def metrics(tr: Tracer, l: SpanListener, in: Input, untracedJobS: Double)
      : Seq[(String, (Double, String))] = {
    val spans = tr.spans.toIndexedSeq
    val values = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit = values.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    spans.indices.foreach { i =>
      val s = spans(i)
      val c = l.get(i)
      if (s.parent < 0) {
        add("trace.self_s", Intervals.selfNanos(spans, i) / 1e9)
        add("trace.total_s", s.seconds)
      } else {
        val n = s.name
        add(s"$n.wall_s", s.seconds)
        add(s"$n.task_cpu_s", c.taskCpuNs / 1e9)
        add(s"$n.gc_s", tr.gcS.getOrElse(i, 0.0))
        add(s"$n.offstage_s", c.offstageMs(tr.epochMs(s.start), tr.epochMs(s.end)) / 1e3)
        add(s"$n.jobs", c.jobs)
        add(s"$n.shuffle_write_mb", c.shuffleWriteBytes / 1e6)
        add(s"$n.spill_mb", c.spillBytes / 1e6)
        add(s"$n.records_out", tr.records.getOrElse(i, c.recordsWritten).toDouble)
        n match {
          case "pagerank.run" =>
            add("pagerank.run.task_skew", c.taskSkew)
            add("pagerank.run.loop_tasks", c.largestStage.map(_.size).getOrElse(0).toDouble)
          case "index.postings" =>
            add("index.postings.task_skew", c.taskSkew)
            add("index.postings.combine_ratio", c.shuffleWriteRecords.toDouble / in.fact("occurrences"))
          case "txlog.delete" =>
            add("txlog.delete.read_frac", c.recordsRead.toDouble / in.fact("docs"))
          case _ =>
        }
      }
    }
    tr.notes.foreach { case (k, vs) => vs.foreach(add(k, _)) }
    values.get("trace.total_s").foreach(ts => add("trace.overhead_s", Main.median(ts.toSeq) - untracedJobS))
    names.map { case (k, u) => k -> (values.get(k).map(v => Main.median(v.toSeq)).getOrElse(0.0), u) }
  }
}
