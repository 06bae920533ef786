package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.Drain
import org.apache.spark.sql.SparkSession

/** The benchmark's entry point:
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * run from the repository root (normally through `perfbench/run.py`,
  * which builds the classes first). It generates the inputs (untimed),
  * builds the session several times for `setup_s`, runs the number of
  * jobs the given seconds set ([[Workload.jobSeconds]]), checks every
  * job's output, and prints one JSON result as the last line of stdout.
  * With `--trace 1` it alternates untraced and traced jobs and reports the
  * per-layer metrics instead. */
object Main {
  val SetupReps = 3
  val MB = 1024.0 * 1024.0

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  /** One timed job: wall seconds, executor CPU seconds, peak cached MB,
    * per-op latencies, items done, its [start, end) in System.nanoTime, and
    * the Spark jobs and stages it started. */
  final case class Done(wall: Double, cpu: Double, peakMb: Double, ops: Seq[Double], items: Long,
                        start: Long, end: Long, sparkJobs: Int, sparkStages: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val known = Set("workload", "seed", "seconds", "trace")
    require(argv.length % 2 == 0 && m.size * 2 == argv.length && m.keySet.subsetOf(known),
      s"usage: --workload <${Workloads.names.mkString("|")}> --seed <n> --seconds <s> --trace <0|1>")
    val a = Args(m("workload"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1")
    require(Workloads.names.contains(a.workload), s"unknown workload '${a.workload}'")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** The repo's session: GraftExtensions, the txlog catalog, Kryo, and
    * local[N] with N shuffle partitions. Scratch dirs stay under `work`. */
  def session(work: Path): SparkSession = {
    val n = cores
    SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions())
      .config("spark.sql.catalog.spark_catalog", "graft.sources.txlog.GraftCatalog")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: Exception => System.err.println(e.getMessage); sys.exit(2)
    }
    val root = Paths.get("").toAbsolutePath
    val build = root.resolve(".bench_build")
    val work = build.resolve("tmp").resolve(s"${a.workload}-${ProcessHandle.current.pid}")
    Files.createDirectories(work)
    val exit =
      try { run(a, build, work); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally Util.deleteTree(work)
    sys.exit(exit)
  }

  private val started = System.nanoTime
  private def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.nanoTime - started) / 1e9}%7.2fs] $msg")

  def run(a: Args, build: Path, work: Path): Unit = {
    val steal0 = Util.stealSeconds()
    val calib = Util.calibProbe()
    val w = Workloads(a.workload)
    log(s"calibration probe ${calib}s; preparing inputs")
    val digest = w.prepare(build.resolve("inputs"), a.seed)
    log("inputs ready")

    // set-up: session build + one warm-up job, several times; the last
    // session stays up for the timed jobs
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 1 to SetupReps) {
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = System.nanoTime
      spark = session(work)
      w.warmup(spark, work)
      setups += (System.nanoTime - t0) / 1e9
      log(s"set-up $k: ${setups.last}s")
      Util.deleteTree(work.resolve("warm"))
    }
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val meter = new Meter
    sc.addSparkListener(meter)
    val storageMaxMb = sc.getExecutorMemoryStatus.values.map(_._1).sum / MB

    var attempted = 0L; var failed = 0L
    val counts = new Counts
    var jobIdx = 0
    def runJob(tr: Option[Tracer]): Done = {
      val i = jobIdx; jobIdx += 1
      System.gc()
      Drain(sc)
      meter.tag = 1000000 + i
      val cpu0 = meter.cpuNanos
      val (jobs0, stages0) = meter.counts
      val t0 = System.nanoTime
      val out =
        try Some(tr.fold(w.job(spark, work, i, None, counts))(t =>
          t.span("job", s"job-$i")(w.job(spark, work, i, tr, counts))))
        catch { case e: Exception => e.printStackTrace(); None }
      val t1 = System.nanoTime
      val wall = (t1 - t0) / 1e9
      Drain(sc)
      meter.tag = -1
      val (jobs1, stages1) = meter.counts
      log(s"job $i${if (tr.isDefined) " (traced)" else ""}: ${wall}s")
      val cpu = (meter.cpuNanos - cpu0) / 1e9
      out match {
        case Some(o) =>
          val bad = try o.check() catch { case e: Exception => e.printStackTrace(); o.ops }
          attempted += o.ops; failed += bad
          Done(wall, cpu, meter.peak(1000000 + i, rddOnly = false) / MB,
            if (o.opSecs.isEmpty) Seq(wall) else o.opSecs, o.items, t0, t1, jobs1 - jobs0,
            stages1 - stages0)
        case None =>
          attempted += 1; failed += 1
          Done(wall, cpu, 0.0, Seq(wall), 0L, t0, t1, jobs1 - jobs0, stages1 - stages0)
      }
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var spansJson = "[]"
    var jobs: Seq[Done] = Nil
    if (w.primed) {
      runJob(None) // untimed: its output is checked, its times dropped
      log("prime job done")
    }
    val timedJobs = math.max(1, math.ceil(a.seconds / w.jobSeconds).toInt)
    if (!a.trace) {
      jobs = Seq.fill(timedJobs)(runJob(None))
      val ops = jobs.flatMap(_.ops)
      metrics("wall_s") = (Util.median(jobs.map(_.wall)), "s")
      metrics("op_p50_s") = (Util.median(ops), "s")
      metrics("op_p90_s") = (Util.percentile(ops, 0.9), "s")
      metrics("items_per_s") = (jobs.map(_.items).sum / jobs.map(_.wall).sum, "1/s")
      metrics("cpu_s") = (Util.median(jobs.map(_.cpu)), "s")
      metrics("cache_peak_mb") = (Util.median(jobs.map(_.peakMb)), "MB")
      metrics("success_rate") = (1.0 - failed.toDouble / math.max(1L, attempted), "ratio")
      metrics("setup_s") = (Util.median(setups.toSeq), "s")
    } else {
      // untraced and traced jobs alternate, so JIT warm-up and host noise
      // fall on both sides of the tracing-overhead difference
      val tracer = new Tracer(sc, meter)
      val pairs = (1 to math.max(1, timedJobs / 2)).map(_ => (runJob(None), runJob(Some(tracer))))
      val plain = pairs.map(_._1)
      jobs = pairs.map(_._2)
      Drain(sc)
      val layers = LayerReport(tracer.spans.toSeq, meter, counts.values.toMap, jobs.size, plain.toSeq)
      layers.foreach { case (k, v) => metrics(k) = v }
      metrics("trace.overhead_s") =
        (Util.median(jobs.map(_.wall)) - Util.median(plain.map(_.wall)), "s")
      metrics("host.calib_s") = (calib, "s")
      spansJson = s"""{"spans":${tracer.toJson},\n"stages":${tracer.stagesJson}}"""
    }
    val steal = { val s1 = Util.stealSeconds(); if (s1 < 0 || steal0 < 0) -1.0 else s1 - steal0 }
    if (a.trace) metrics("host.steal_s") = (steal, "s")
    spark.stop()

    // side file beside the metrics: host noise, sizes, samples, spans
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val results = build.resolve("results")
    Files.createDirectories(results)
    val metricsJson = Util.obj(metrics.toSeq.map { case (k, (v, u)) =>
      k -> Util.obj(Seq("value" -> Util.num(v), "unit" -> Util.str(u)))
    })
    val side = Util.obj(Seq(
      "workload" -> Util.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> a.trace.toString,
      "cores" -> cores.toString, "clients" -> "1", "input_digest" -> Util.str(digest),
      "sizes" -> Util.obj(w.sizes.map { case (k, v) => k -> Util.str(v.toString) }),
      "host" -> Util.obj(Seq("steal_s" -> Util.num(steal), "calib_s" -> Util.num(calib))),
      "storage_max_mb" -> Util.num(storageMaxMb),
      "setup_s" -> setups.map(Util.num).mkString("[", ",", "]"),
      "job_wall_s" -> jobs.map(j => Util.num(j.wall)).mkString("[", ",", "]"),
      "op_samples" -> jobs.map(_.ops.size).sum.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> metricsJson))
    Files.write(results.resolve(s"$tag.json"), (side + "\n").getBytes(UTF_8))
    if (a.trace) Files.write(results.resolve(s"$tag-spans.json"), spansJson.getBytes(UTF_8))

    println("host " + Util.obj(Seq("steal_s" -> Util.num(steal), "calib_s" -> Util.num(calib),
      "storage_max_mb" -> Util.num(storageMaxMb), "op_samples" -> jobs.map(_.ops.size).sum.toString,
      "jobs" -> jobs.size.toString)))
    println(Util.obj(Seq(
      "correct" -> (failed == 0 && attempted > 0).toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> metricsJson)))
  }
}
