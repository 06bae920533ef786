package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Drain
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId, StorageLevel}

/** One timed interval at a layer boundary. `parent` is the enclosing
  * span's id (-1 at top level); spans of one job share `run`. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, run: String) {
  def module: String = name.takeWhile(_ != '.')
  def nanos: Long = end - start
}

object Span {
  /** Total length of the union of [start, end) intervals. */
  def covered(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    ivs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Each span's duration minus the part of it its child spans cover. */
  def selfNanos(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> (s.nanos - covered(ivs))
    }.toMap
  }
}

/** Spans kept in memory while the run lasts. Entering a span sets the
  * `graft.layer` local property and the job group to the span's name, so
  * every Spark job started inside is attributed to it by [[Meter]]. */
final class Tracer(sc: SparkContext, meter: Meter) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var run = ""

  def span[T](name: String, runId: String = null)(body: => T): T = {
    if (runId != null) run = runId
    Drain(sc)
    val id = spans.size
    spans += null
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    enter(id, name)
    stack = (id, name) :: stack
    val t0 = System.nanoTime
    try body
    finally {
      Drain(sc)
      val t1 = System.nanoTime
      stack = stack.tail
      spans(id) = Span(id, name, t0, t1, parent, run)
      stack.headOption match {
        case Some((outerId, outer)) => enter(outerId, outer)
        case None =>
          sc.setLocalProperty("graft.layer", null); sc.clearJobGroup(); meter.tag = -1
      }
    }
  }

  private def enter(id: Int, name: String): Unit = {
    sc.setLocalProperty("graft.layer", name)
    sc.setJobGroup(name, name)
    meter.tag = id
  }

  /** Marks the jobs `body` starts as the harness's boundary forcing, not
    * the layer's own work. */
  def forcing[T](body: => T): T = {
    sc.setLocalProperty("perfbench.force", "1")
    try body finally sc.setLocalProperty("perfbench.force", null)
  }

  /** Persist + count: the layer's output is computed inside its span. The
    * caller unpersists. */
  def force(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    forcing(p.count())
    p
  }

  def stagesJson: String = meter.stages.values.map { s =>
    s"""{"stage":${s.id},"layer":"${s.layer}","tasks":${s.numTasks},"start_ns":${s.start},"end_ns":${s.end},"input_bytes":${s.inBytes}}"""
  }.mkString("[", ",\n", "]")

  def toJson: String = spans.filter(_ != null).map { s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"run":"${s.run}"}"""
  }.mkString("[", ",\n", "]")
}

/** Task, stage, job and block accounting from the listener bus. Read its
  * fields only after [[Drain]]. */
final class Meter extends SparkListener {
  final class Acc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shufW = 0L; var shufR = 0L; var spill = 0L
    var inBytes = 0L; var inRecords = 0L; var outBytes = 0L
  }
  final case class StageRec(id: Int, layer: String, numTasks: Int, var start: Long = 0L,
                            var end: Long = 0L, var inBytes: Long = 0L,
                            taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty)
  final case class JobRec(id: Int, layer: String, force: Boolean, stages: Seq[(Int, Int)])

  // wall-clock ms of the bus events -> System.nanoTime of the spans
  private val nanoBase = System.nanoTime
  private val milliBase = System.currentTimeMillis
  def toNanos(ms: Long): Long = (ms - milliBase) * 1000000L + nanoBase

  val total = new Acc
  val byLayer = mutable.HashMap.empty[String, Acc]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val jobs = mutable.ArrayBuffer.empty[JobRec]

  /** Blocks are charged to the tag current when they first appear. */
  @volatile var tag: Int = -1
  private val blockTag = mutable.HashMap.empty[String, (Int, Boolean, Long)]
  private val cur = mutable.HashMap.empty[(Int, Boolean), Long].withDefaultValue(0L)
  private val peakBy = mutable.HashMap.empty[(Int, Boolean), Long].withDefaultValue(0L)

  private def layerOf(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty("graft.layer"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val force = Option(e.properties).exists(_.getProperty("perfbench.force") != null)
    jobs += JobRec(e.jobId, layerOf(e.properties), force,
      e.stageInfos.map(s => (s.stageId, s.numTasks)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    stages(s.stageId) = StageRec(s.stageId, layerOf(e.properties), s.numTasks)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages.get(s.stageId).foreach { r =>
      r.start = toNanos(s.submissionTime.getOrElse(0L))
      r.end = toNanos(s.completionTime.getOrElse(0L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val st = stages.get(e.stageId)
      val layer = st.map(_.layer).getOrElse("")
      st.foreach { r => r.taskMs += e.taskInfo.duration; r.inBytes += m.inputMetrics.bytesRead }
      Seq(total, byLayer.getOrElseUpdate(layer, new Acc)).foreach { a =>
        a.tasks += 1; a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead; a.inRecords += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val rdd = info.blockId.isInstanceOf[RDDBlockId]
    if (rdd || info.blockId.isInstanceOf[BroadcastBlockId]) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val (t, isRdd, old) = blockTag.getOrElse(key, (tag, rdd, 0L))
      // broadcast cleanup follows GC timing, so a removed broadcast piece
      // keeps counting until its tag's job is over
      if (isRdd || size > old) {
        if (size > 0) blockTag(key) = (t, isRdd, size) else blockTag.remove(key)
        val keys = if (isRdd) Seq((t, true), (t, false)) else Seq((t, false))
        keys.foreach { k =>
          cur(k) += size - old
          if (cur(k) > peakBy(k)) peakBy(k) = cur(k)
        }
      }
    }
  }

  /** Peak bytes held at once by blocks first stored under `tag`: RDD
    * blocks only, or RDD blocks plus every broadcast piece stored. */
  def peak(tag: Int, rddOnly: Boolean): Long = synchronized(peakBy((tag, rddOnly)))
  def cpuNanos: Long = synchronized(total.cpuNs)
  def counts: (Int, Int) = synchronized((jobs.size, stages.size))
}
