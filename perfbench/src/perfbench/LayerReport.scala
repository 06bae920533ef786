package perfbench

/** Per-layer metrics of a traced run, each a mean per traced job. A layer
  * is an engine module; its spans are named `<module>` or
  * `<module>.<step>`. Modules a workload does not run report 0. */
object LayerReport {
  val Modules = Seq("textkv", "parse", "pagerank", "index", "txlog")
  val TxLogOps = Seq("append", "optimize", "delete_range", "merge", "replace_where",
    "optimize_where", "vacuum", "read_where")
  private val MB = 1024.0 * 1024.0

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] =
    Modules.flatMap(m => Seq("wall_s" -> "s", "self_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s",
      "driver_s" -> "s", "tasks" -> "count", "shuffle_write_mb" -> "MB",
      "shuffle_read_mb" -> "MB", "spill_mb" -> "MB").map { case (k, u) => s"$m.$k" -> u }) ++
    Seq("textkv.read_mb" -> "MB", "textkv.splits" -> "count", "textkv.records" -> "count",
      "textkv.write_mb" -> "MB", "parse.pages" -> "count", "parse.links" -> "count",
      "pagerank.loop_s" -> "s", "pagerank.sort_s" -> "s", "pagerank.jobs" -> "count",
      "pagerank.loop_parts" -> "count", "pagerank.cache_mb" -> "MB",
      "index.task_skew" -> "ratio", "index.postings" -> "count") ++
    TxLogOps.map(op => s"txlog.${op}_s" -> "s") ++
    Seq("txlog.commits" -> "count", "txlog.files_written" -> "count", "txlog.write_mb" -> "MB",
      "txlog.read_ratio" -> "ratio", "driver.jobs" -> "count", "driver.stages" -> "count",
      "driver.idle_s" -> "s", "host.steal_s" -> "s", "host.calib_s" -> "s",
      "trace.overhead_s" -> "s")

  /** `plain` are the run's untraced jobs: the `driver.*` metrics come from
    * them, since the traced jobs' forced boundaries add jobs and stages. */
  def apply(spans: Seq[Span], meter: Meter, counts: Map[String, Double],
            jobs: Int, plain: Seq[Main.Done]): Seq[(String, (Double, String))] = {
    val j = math.max(1, jobs).toDouble
    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val self = Span.selfNanos(spans)
    val byId = spans.map(s => s.id -> s).toMap
    val stages = meter.stages.values.toSeq
    def stageIvs(pred: String => Boolean, within: Span): Seq[(Long, Long)] =
      stages.filter(s => pred(s.layer) && s.end > s.start)
        .map(s => (math.max(s.start, within.start), math.min(s.end, within.end)))
    def inModule(m: String)(layer: String) = layer == m || layer.startsWith(m + ".")

    Modules.foreach { m =>
      val ms = spans.filter(_.module == m)
      val top = ms.filter(s => s.parent < 0 || byId(s.parent).module != m)
      val accs = meter.byLayer.collect { case (l, a) if inModule(m)(l) => a }
      def sum(f: meter.Acc => Long) = accs.map(f).sum.toDouble
      v(s"$m.wall_s") = top.map(_.nanos).sum / 1e9 / j
      v(s"$m.self_s") = ms.map(s => self(s.id)).sum / 1e9 / j
      v(s"$m.cpu_s") = sum(_.cpuNs) / 1e9 / j
      v(s"$m.gc_s") = sum(_.gcMs) / 1e3 / j
      v(s"$m.driver_s") =
        top.map(s => s.nanos - Span.covered(stageIvs(inModule(m), s))).sum / 1e9 / j
      v(s"$m.tasks") = sum(_.tasks) / j
      v(s"$m.shuffle_write_mb") = sum(_.shufW) / MB / j
      v(s"$m.shuffle_read_mb") = sum(_.shufR) / MB / j
      v(s"$m.spill_mb") = sum(_.spill) / MB / j
    }
    def acc(layer: String) = meter.byLayer.get(layer)
    def wallOf(name: String) = spans.filter(_.name == name).map(_.nanos).sum / 1e9

    v("textkv.read_mb") = acc("textkv.read").map(_.inBytes).getOrElse(0L) / MB / j
    v("textkv.splits") = counts.getOrElse("textkv.splits", 0.0) / j
    v("textkv.records") = acc("textkv.read").map(_.inRecords).getOrElse(0L) / j
    v("textkv.write_mb") = acc("textkv.write").map(_.outBytes).getOrElse(0L) / MB / j
    v("parse.pages") = counts.getOrElse("parse.pages", 0.0) / j
    v("parse.links") = counts.getOrElse("parse.links", 0.0) / j

    v("pagerank.loop_s") = wallOf("pagerank.loop") / j
    v("pagerank.sort_s") = wallOf("pagerank.sort") / j
    v("pagerank.jobs") = meter.jobs.count(x => inModule("pagerank")(x.layer) && !x.force) / j
    // the last job PageRank.run starts reads the loop's final rank layout:
    // its result stage (highest id) has one task per loop partition
    v("pagerank.loop_parts") = meter.jobs.filter(x => x.layer == "pagerank.loop" && !x.force)
      .lastOption.map(_.stages.maxBy(_._1)._2.toDouble).getOrElse(0.0)
    v("pagerank.cache_mb") = spans.filter(_.name == "pagerank.loop")
      .map(s => meter.peak(s.id, rddOnly = true) / MB).maxOption.getOrElse(0.0)

    // heaviest index stage (most summed task time): max over median task
    v("index.task_skew") = stages.filter(s => inModule("index")(s.layer) && s.taskMs.nonEmpty)
      .maxByOption(_.taskMs.sum).map { s =>
        val med = Util.median(s.taskMs.map(_.toDouble).toSeq)
        if (med > 0) s.taskMs.max / med else 1.0
      }.getOrElse(0.0)
    v("index.postings") = counts.getOrElse("index.postings", 0.0) / j

    TxLogOps.foreach { op =>
      val ss = spans.filter(_.name == s"txlog.$op")
      v(s"txlog.${op}_s") = if (ss.isEmpty) 0.0 else ss.map(_.nanos).sum / 1e9 / ss.size
    }
    v("txlog.commits") = counts.getOrElse("txlog.commits", 0.0) / j
    v("txlog.files_written") = counts.getOrElse("txlog.files_written", 0.0) / j
    v("txlog.write_mb") = meter.byLayer.collect { case (l, a) if inModule("txlog")(l) => a.outBytes }
      .sum / MB / j
    val sliceRows = counts.getOrElse("txlog.deleted_slice_rows", 0.0)
    v("txlog.read_ratio") =
      if (sliceRows > 0) acc("txlog.delete_range").map(_.inRecords).getOrElse(0L) / sliceRows else 0.0

    val p = math.max(1, plain.size).toDouble
    v("driver.jobs") = plain.map(_.sparkJobs).sum / p
    v("driver.stages") = plain.map(_.sparkStages).sum / p
    v("driver.idle_s") = plain.map { d =>
      val ivs = stages.filter(s => s.end > s.start)
        .map(s => (math.max(s.start, d.start), math.min(s.end, d.end)))
      d.end - d.start - Span.covered(ivs)
    }.sum / 1e9 / p

    val units = names.toMap
    v.toSeq.map { case (k, x) => k -> (x, units(k)) }
  }
}
