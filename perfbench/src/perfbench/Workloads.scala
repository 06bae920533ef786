package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.index.InvertedIndex
import graft.pagerank.PageRank
import graft.parse.WikiParser
import graft.pipelines.WikiPipelines
import graft.sources.{TextKV, TxLog}

/** What one timed job returns. `opSecs` holds per-op latencies when a job
  * is made of several ops (empty: the job is one op). `check` runs after
  * the timer stops and returns how many of the job's ops were wrong. */
final case class JobOut(items: Long, ops: Int, opSecs: Seq[Double], check: () => Int)

/** Layer-specific counts a traced job records beside its spans. */
final class Counts {
  val values = scala.collection.mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = values(k) += v
}

/** One benchmark workload. `job` runs the engine's public entry points on
  * the generated inputs; with a [[Tracer]] it runs the same layers one at
  * a time, each inside its own span with its output forced at the
  * boundary. */
abstract class Workload(val name: String) {
  /** A run of `--seconds s` times ceil(s / jobSeconds) jobs. The count
    * depends on the flag only, never on how fast the jobs ran, so two
    * versions of the program are always measured on the same number of
    * jobs. Chosen per workload for enough samples within the run budget. */
  def jobSeconds: Double
  /** Input sizes, as recorded in the run's side file. */
  def sizes: Seq[(String, Any)]
  /** Untimed: generate (or reuse) the inputs and the expected results;
    * returns the inputs' content digest. */
  def prepare(inputs: Path, seed: Long): String
  /** The warm-up job of the set-up, on a tiny input. */
  def warmup(spark: SparkSession, scratch: Path): Unit
  /** Whether one untimed full-size job runs before the timed jobs: for
    * workloads whose first full-size jobs carry far more one-off JIT
    * compilation than the tiny warm-up can absorb. */
  def primed: Boolean = false
  def job(spark: SparkSession, scratch: Path, i: Int, tr: Option[Tracer], c: Counts): JobOut

  protected def layer[T](tr: Option[Tracer], span: String)(body: => T): T =
    tr.fold(body)(_.span(span)(body))

  protected def partFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator.asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)

  /** `key \t value` lines of a TextKV output directory, in part order. */
  protected def kvLines(dir: Path): Iterator[(String, String)] =
    partFiles(dir).iterator.flatMap(f => Files.readAllLines(f).asScala).map { l =>
      val t = l.indexOf('\t'); (l.substring(0, t), l.substring(t + 1))
    }
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "wiki_pagerank" => new WikiPageRankW
    case "wiki_index" => new WikiIndexW
    case "pagerank_small" => new PageRankSmallW
    case "txlog_tape" => new TxLogTapeW
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names = Seq("wiki_pagerank", "wiki_index", "pagerank_small", "txlog_tape")

  def dumpDir(inputs: Path, name: String, seed: Long, g: Gen.Graph): (Path, String) =
    Gen.cached(inputs, name, seed, Seq(g.pages, g.linkCount))(d =>
      Gen.writeDump(g, seed, d.resolve("dump.xml")))

  /** The traced decomposition of `WikiPipelines.pageRank`:
    * readPages -> linkGraphFused -> PageRank.run -> sort. */
  def tracedRanked[T](spark: SparkSession, in: String, tr: Tracer, c: Counts,
                      sort: DataFrame => T): (T, Seq[DataFrame]) = {
    val raw = tr.span("textkv.read") {
      val p = tr.force(TextKV.readPages(spark, in))
      c.add("textkv.splits", p.rdd.getNumPartitions); p
    }
    val graph = tr.span("parse") {
      val p = WikiParser.linkGraphFused(raw).persist(StorageLevel.MEMORY_AND_DISK)
      val row = tr.forcing(p.agg(count(lit(1)), sum(size(col("outlinks")))).head())
      c.add("parse.pages", row.getLong(0).toDouble); c.add("parse.links", row.getLong(1).toDouble)
      p
    }
    val ranked = tr.span("pagerank") {
      val ranks = tr.span("pagerank.loop") {
        val r = PageRank.run(graph, 10, 0.85) // returns materialized ranks
        tr.forcing(r.count()); r
      }
      tr.span("pagerank.sort")(sort(ranks.orderBy(desc("rank"), asc("title"))))
    }
    (ranked, Seq(raw, graph))
  }
}

/** Paper workload 1 at a size above the PageRank fast-path gate. */
final class WikiPageRankW extends Workload("wiki_pagerank") {
  val jobSeconds = 4.0
  val pages = 255000
  val meanDegree = 3.0
  def sizes = Seq("pages" -> pages, "mean_out_degree" -> meanDegree, "iterations" -> 10)
  private var graph: Gen.Graph = _
  private var want: Array[Double] = _
  private var in: String = _
  private var warmIn: String = _

  def prepare(inputs: Path, seed: Long): String = {
    graph = Gen.graph(seed, pages, meanDegree)
    val (dir, digest) = Workloads.dumpDir(inputs, name, seed, graph)
    in = dir.resolve("dump.xml").toString
    warmIn = Workloads.dumpDir(inputs, name + "-warm", seed, Gen.graph(seed + 1, 1000, meanDegree))
      ._1.resolve("dump.xml").toString
    want = Reference.pageRank(graph)
    digest
  }

  def warmup(spark: SparkSession, scratch: Path): Unit =
    TextKV.writeKV(WikiPipelines.pageRank(spark, warmIn)
      .select(col("title"), col("rank").cast("string")), scratch.resolve("warm").toString)

  /** The warm-up graph is below the gate, so the first full-size job is the
    * first to run the distributed loop: it takes about twice as long as the
    * jobs after it. */
  override def primed = true

  def job(spark: SparkSession, scratch: Path, i: Int, tr: Option[Tracer], c: Counts): JobOut = {
    // the WikiPageRank CLI writes <out>_sortedOutput
    val out = scratch.resolve(s"ranks-$i" + "_sortedOutput")
    def write(df: DataFrame): Unit =
      TextKV.writeKV(df.select(col("title"), col("rank").cast("string")), out.toString)
    tr match {
      case None => write(WikiPipelines.pageRank(spark, in))
      case Some(t) =>
        val (ranked, cached) = Workloads.tracedRanked(spark, in, t, c, t.force)
        t.span("textkv.write")(write(ranked))
        (ranked +: cached).foreach(_.unpersist(false))
    }
    JobOut(pages, 1, Nil, () => {
      val got = kvLines(out).map { case (k, v) => (k, v.toDouble) }.toSeq
      val bad = Reference.rankProblems(graph, want, got)
      bad.take(3).foreach(b => System.err.println(s"[wiki_pagerank] $b"))
      Util.deleteTree(out)
      if (bad.isEmpty) 0 else 1
    })
  }
}

/** Paper workload 2: the inverted index over a text-heavy dump. */
final class WikiIndexW extends Workload("wiki_index") {
  val jobSeconds = 3.5
  val docs = 6000
  val meanTokens = 150
  val vocab = 40000
  def sizes = Seq("docs" -> docs, "mean_tokens" -> meanTokens, "vocabulary" -> vocab)
  private var want: Reference.IndexSummary = _
  private var in: String = _
  private var warmIn: String = _

  def prepare(inputs: Path, seed: Long): String = {
    val corpus = Gen.corpus(seed, docs, meanTokens, vocab)
    val (dir, digest) = Gen.cached(inputs, name, seed, Seq(docs, meanTokens, vocab))(d =>
      Gen.writeCorpus(corpus, d.resolve("dump.xml")))
    in = dir.resolve("dump.xml").toString
    val warm = Gen.corpus(seed + 1, 200, meanTokens, vocab)
    warmIn = Gen.cached(inputs, name + "-warm", seed, Seq(200, meanTokens, vocab))(d =>
      Gen.writeCorpus(warm, d.resolve("dump.xml")))._1.resolve("dump.xml").toString
    want = Reference.index(corpus, Reference.sampleWords(corpus, seed, 24))
    digest
  }

  def warmup(spark: SparkSession, scratch: Path): Unit =
    TextKV.writeKV(WikiPipelines.invertedIndex(spark, warmIn), scratch.resolve("warm").toString)

  def job(spark: SparkSession, scratch: Path, i: Int, tr: Option[Tracer], c: Counts): JobOut = {
    val out = scratch.resolve(s"index-$i")
    tr match {
      case None => TextKV.writeKV(WikiPipelines.invertedIndex(spark, in), out.toString)
      case Some(t) =>
        val raw = t.span("textkv.read") {
          val p = t.force(TextKV.readPages(spark, in))
          c.add("textkv.splits", p.rdd.getNumPartitions); p
        }
        val docsDf = t.span("parse") {
          val p = WikiParser.pagesFused(raw).persist(StorageLevel.MEMORY_AND_DISK)
          val row = t.forcing(p.agg(count(lit(1)), sum(size(col("links")))).head())
          c.add("parse.pages", row.getLong(0).toDouble); c.add("parse.links", row.getLong(1).toDouble)
          p
        }
        val index = t.span("index") {
          val p = InvertedIndex.postingStrings(WikiParser.docs(docsDf), "doc_id", "text",
            salted = true).orderBy("word").persist(StorageLevel.MEMORY_AND_DISK)
          val row = t.forcing(p.agg(sum(size(split(col("doc_ids"), ",")))).head())
          c.add("index.postings", row.getLong(0).toDouble)
          p
        }
        t.span("textkv.write")(TextKV.writeKV(index, out.toString))
        Seq(raw, docsDf, index).foreach(_.unpersist(false))
    }
    JobOut(docs, 1, Nil, () => {
      val bad = Reference.indexProblems(want, kvLines(out))
      bad.foreach(b => System.err.println(s"[wiki_index] $b"))
      Util.deleteTree(out)
      if (bad.isEmpty) 0 else 1
    })
  }
}

/** Closed loop, one caller: small dumps below the fast-path gate, each
  * ranked and collected. One job is one call. */
final class PageRankSmallW extends Workload("pagerank_small") {
  val jobSeconds = 0.5
  val graphs = 12
  val minPages = 400
  val maxPages = 4000
  val meanDegree = 5.0
  def sizes = Seq("graphs" -> graphs, "min_pages" -> minPages, "max_pages" -> maxPages,
    "mean_out_degree" -> meanDegree, "clients" -> 1)
  private var models: IndexedSeq[(String, Gen.Graph, Array[Double])] = _

  def prepare(inputs: Path, seed: Long): String = {
    // the same spread of sizes for every seed, in a seeded order
    val r = new java.util.SplittableRandom(seed)
    val sizesK = new scala.util.Random(r.nextLong()).shuffle((0 until graphs).map(k => minPages + k * (maxPages - minPages) / (graphs - 1)))
    val digests = scala.collection.mutable.ArrayBuffer.empty[String]
    models = sizesK.zipWithIndex.map { case (n, k) =>
      val g = Gen.graph(seed * 1000 + k, n, meanDegree)
      val (dir, digest) = Workloads.dumpDir(inputs, s"$name-$k", seed * 1000 + k, g)
      digests += digest
      (dir.resolve("dump.xml").toString, g, Reference.pageRank(g))
    }
    Gen.sha256Hex(digests.toSeq)
  }

  def warmup(spark: SparkSession, scratch: Path): Unit =
    WikiPipelines.pageRank(spark, models.last._1).collect()

  def job(spark: SparkSession, scratch: Path, i: Int, tr: Option[Tracer], c: Counts): JobOut = {
    val (in, g, want) = models(Math.floorMod(i, graphs))
    val rows = tr match {
      case None => WikiPipelines.pageRank(spark, in).collect()
      case Some(t) =>
        val (ranked, cached) = Workloads.tracedRanked(spark, in, t, c, _.collect())
        cached.foreach(_.unpersist(false))
        ranked
    }
    JobOut(1, 1, Nil, () => {
      val bad = Reference.rankProblems(g, want, rows.map(r => (r.getString(0), r.getDouble(1))).toSeq)
      bad.take(3).foreach(b => System.err.println(s"[pagerank_small] $b"))
      if (bad.isEmpty) 0 else 1
    })
  }
}

/** Write-path work on the transaction-log table format: a bulk append,
  * an optimize into bucket slices, then a tape of small commits and
  * stats-pruned reads. One job is one pass over a fresh table. */
final class TxLogTapeW extends Workload("txlog_tape") {
  val jobSeconds = 3.0
  val rows = 20000
  val buckets = 24
  def sizes = Seq("rows" -> rows, "buckets" -> buckets, "tape_ops" -> 12)
  private val schema = "bucket INT, doc_id BIGINT, text STRING"
  private var table: Gen.Table = _
  private var want: Reference.TapeExpect = _
  private var files: Map[String, String] = _
  private var warmFiles: Map[String, String] = _
  private var warmTable: Gen.Table = _

  private def render(t: Gen.Table)(d: Path): Unit = {
    Gen.writeRows(t.rows, d.resolve("docs.tsv"))
    Gen.writeRows(t.tape.updates, d.resolve("updates.tsv"))
    Gen.writeRows(t.tape.backfill, d.resolve("backfill.tsv"))
  }
  private def paths(d: Path) =
    Seq("docs", "updates", "backfill").map(k => k -> d.resolve(s"$k.tsv").toString).toMap

  def prepare(inputs: Path, seed: Long): String = {
    table = Gen.table(seed, rows, buckets)
    val (dir, digest) = Gen.cached(inputs, name, seed, Seq(rows, buckets))(render(table))
    files = paths(dir)
    warmTable = Gen.table(seed + 1, 600, 8)
    warmFiles = paths(Gen.cached(inputs, name + "-warm", seed, Seq(600, 8))(render(warmTable))._1)
    want = Reference.tape(table)
    digest
  }

  private def read(spark: SparkSession, f: String): DataFrame =
    spark.read.schema(schema).option("sep", "\t").csv(f)

  /** Runs the tape (when `short`, only the append and one read); returns
    * (op name, seconds) and the pruned-read counts. */
  private def pass(spark: SparkSession, dir: String, t: Gen.Table, fs: Map[String, String],
                   tr: Option[Tracer], c: Counts,
                   short: Boolean = false): (Seq[(String, Double)], Seq[Long]) = {
    val lat = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val root = java.nio.file.Paths.get(dir)
    def listing(): Set[String] =
      if (!Files.exists(root)) Set.empty
      else Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
    def op[T](name: String)(body: => T): T = {
      val before = if (tr.isDefined) listing() else Set.empty[String]
      val t0 = System.nanoTime
      val v = layer(tr, s"txlog.$name")(body)
      lat += name -> (System.nanoTime - t0) / 1e9
      if (tr.isDefined) c.add("txlog.files_written", (listing() -- before).size)
      v
    }
    val stats = Seq("bucket")
    val tp = t.tape
    val reads = layer(tr, "txlog") {
      op("append")(TxLog.append(read(spark, fs("docs")), dir))
      if (!short) {
        op("optimize")(TxLog.optimize(spark, dir, Seq("bucket"), t.buckets, statsCols = stats))
        tp.deletes.foreach(b =>
          op("delete_range")(TxLog.deleteRange(spark, dir, "bucket", b.toString, b.toString, stats)))
        op("merge")(TxLog.merge(spark, dir, read(spark, fs("updates")), "doc_id", stats))
        op("replace_where")(TxLog.replaceWhere(spark, dir, s"bucket = ${tp.backfillBucket}",
          read(spark, fs("backfill")), stats))
        op("optimize_where")(TxLog.optimizeWhere(spark, dir, "bucket",
          tp.optimizeRange._1.toString, tp.optimizeRange._2.toString, Seq("doc_id"), 2, stats))
        op("vacuum")(TxLog.vacuum(dir, keepVersions = 2))
      }
      (if (short) tp.reads.take(1) else tp.reads).map(b =>
        op("read_where")(TxLog.readWhere(spark, dir, s"bucket = $b").count()))
    }
    if (tr.isDefined) {
      c.add("txlog.commits", TxLog.headVersion(dir) + 1)
      val initial = t.rows.groupBy(_.bucket).map { case (b, rs) => b -> rs.length }
      c.add("txlog.deleted_slice_rows", tp.deletes.map(b => initial.getOrElse(b, 0)).sum)
    }
    (lat.toSeq, reads)
  }

  def warmup(spark: SparkSession, scratch: Path): Unit = {
    val dir = scratch.resolve("warm-table")
    pass(spark, dir.toString, warmTable, warmFiles, None, new Counts, short = true)
    Util.deleteTree(dir)
  }

  /** The first two full passes of a run take about 1.4x and 1.15x as long
    * as the passes after them, even after the warm-up. */
  override def primed = true

  /** Wrong pruned reads and a wrong final slice count each fail one op. */
  private def check(spark: SparkSession, dir: Path, reads: Seq[Long],
                    want: Reference.TapeExpect, ops: Int): Int = {
    val slices = TxLog.read(spark, dir.toString).groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val bad = Reference.tapeProblems(want, reads, slices)
    bad.foreach(b => System.err.println(s"[txlog_tape] $b"))
    Util.deleteTree(dir)
    math.min(ops, bad.size)
  }

  def job(spark: SparkSession, scratch: Path, i: Int, tr: Option[Tracer], c: Counts): JobOut = {
    val dir = scratch.resolve(s"table-$i")
    val (lat, reads) = pass(spark, dir.toString, table, files, tr, c)
    JobOut(lat.size, lat.size, lat.map(_._2), () => check(spark, dir, reads, want, lat.size))
  }
}
