package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. Every input the benchmark feeds the engine is
  * built here from (seed, size); the same pair always yields the same
  * bytes. Each generator returns an in-memory model (the ground truth the
  * checker uses) and renders it to files the engine reads.
  *
  * Bump [[Version]] whenever the rendered bytes change for a given seed,
  * so cached inputs from an older generator are never reused. */
object Gen {
  val Version = "perfbench-gen-3"

  /** Zipf(s) sampler over ranks 0 until n (inverse CDF, binary search). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); c(i) = acc; i += 1 }
      i = 0
      while (i < n) { c(i) /= acc; i += 1 }
      c
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      lo
    }
  }

  private def permutation(n: Int, r: SplittableRandom): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
    p
  }

  private def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  // ---- link graph dumps (wiki_pagerank, pagerank_small) --------------

  /** A page graph. `links(i)` lists page i's link occurrences in order:
    * a value >= 0 is a page index, a negative value -(k+1) is red link k
    * (a title no page carries). */
  final case class Graph(titles: Array[String], links: Array[Array[Int]]) {
    def pages: Int = titles.length
    def linkCount: Long = links.iterator.map(_.length.toLong).sum
  }

  def pageTitle(i: Int): String = s"Page $i"
  def redTitle(k: Int): String = s"Missing $k"

  /** Link-dense, text-light graph: power-law in-degree (Zipf over a seeded
    * permutation, so hubs are scattered), ~5% dangling pages, ~9% red
    * links, ~1% self-loops, ~5% repeated links. */
  def graph(seed: Long, pages: Int, meanDegree: Double): Graph = {
    val r = rng(seed, "graph")
    val perm = permutation(pages, r)
    val zipf = new Zipf(pages, 0.9)
    val links = Array.tabulate(pages) { i =>
      if (r.nextDouble() < 0.05) Array.emptyIntArray
      else {
        val d = 1 + math.min(400, (-math.log(1.0 - r.nextDouble()) * (meanDegree - 1)).toInt)
        val out = new Array[Int](d)
        var k = 0
        while (k < d) {
          val u = r.nextDouble()
          out(k) =
            if (u < 0.09) -(r.nextInt(math.max(1, pages / 2)) + 1)
            else if (u < 0.10) i
            else if (u < 0.15 && k > 0) out(k - 1)
            else perm(zipf.sample(r))
          k += 1
        }
        out
      }
    }
    Graph(Array.tabulate(pages)(pageTitle), links)
  }

  private def linkTitle(t: Int, g: Graph): String =
    if (t >= 0) g.titles(t) else redTitle(-t - 1)

  /** MediaWiki-export rendering: a page id followed by a revision id (the
    * parser must take the first), links in three spellings (plain, padded,
    * nested `[[x|[[t]]`), plus empty `[[]]` links the parser drops. */
  def writeDump(g: Graph, seed: Long, out: Path): Unit = {
    val r = rng(seed, "dump-render")
    withWriter(out) { w =>
      w.write("<mediawiki>\n<siteinfo><sitename>bench</sitename></siteinfo>\n")
      var i = 0
      while (i < g.pages) {
        w.write("<page>\n<title>"); w.write(g.titles(i)); w.write("</title>\n<ns>0</ns>\n<id>")
        w.write((i + 1).toString)
        w.write("</id>\n<revision><id>"); w.write((1000000 + i).toString)
        w.write("</id><text xml:space=\"preserve\">")
        val ls = g.links(i)
        var k = 0
        while (k < ls.length) {
          val u = r.nextDouble()
          if (u < 0.3) w.write("see ")
          val t = linkTitle(ls(k), g)
          if (u < 0.03) { w.write("[[Topic|[["); w.write(t); w.write("]] ") }
          else if (u < 0.06) { w.write("[[ "); w.write(t); w.write(" ]] ") }
          else { w.write("[["); w.write(t); w.write("]] ") }
          if (u > 0.99) w.write("[[]] ")
          k += 1
        }
        w.write("</text></revision>\n</page>\n")
        i += 1
      }
      w.write("</mediawiki>\n")
    }
  }

  // ---- text-heavy corpus (wiki_index) --------------------------------

  final case class Corpus(ids: Array[Long], texts: Array[String])

  private def word(r: SplittableRandom, len0: Int = -1): String = {
    val len = if (len0 > 0) len0 else 2 + r.nextInt(9)
    val sb = new java.lang.StringBuilder(len)
    var k = 0
    while (k < len) { sb.append(('a' + r.nextInt(26)).toChar); k += 1 }
    sb.toString
  }

  /** Text-heavy, link-light corpus: Zipf(1.05) vocabulary of `vocab`
    * words (hot stop-words), with mixed case, digits glued to words,
    * stand-alone numbers, hyphens and punctuation. */
  def corpus(seed: Long, docs: Int, meanTokens: Int, vocab: Int): Corpus = {
    val r = rng(seed, "corpus")
    // word length follows the rank, not the seed, so every seed's corpus
    // has the same bytes and hot-word shape; duplicates merge harmlessly
    val words = Array.tabulate(vocab)(k => word(r, 2 + k % 9))
    val zipf = new Zipf(vocab, 1.05)
    val punct = Array(",", ".", ";", ":", "!", "?", ")", "'s")
    val texts = Array.tabulate(docs) { _ =>
      val n = meanTokens / 2 + r.nextInt(meanTokens + 1)
      val sb = new java.lang.StringBuilder(n * 8)
      var k = 0
      while (k < n) {
        val w = words(zipf.sample(r))
        val u = r.nextDouble()
        if (u < 0.12) sb.append(w.substring(0, 1).toUpperCase).append(w.substring(1))
        else if (u < 0.15) sb.append(w.toUpperCase)
        else if (u < 0.18) sb.append(w).append(r.nextInt(100))
        else if (u < 0.20) sb.append(r.nextInt(3000))
        else if (u < 0.22) sb.append(w).append('-').append(words(zipf.sample(r)))
        else if (u < 0.24) sb.append('(').append(w).append(')')
        else sb.append(w)
        if (r.nextDouble() < 0.08) sb.append(punct(r.nextInt(punct.length)))
        sb.append(if (r.nextDouble() < 0.02) "\n" else " ")
        if (r.nextDouble() < 0.01) sb.append("[[").append(words(zipf.sample(r))).append("]] ")
        k += 1
      }
      sb.toString
    }
    Corpus(Array.tabulate(docs)(i => i + 1L), texts)
  }

  def writeCorpus(c: Corpus, out: Path): Unit =
    withWriter(out) { w =>
      w.write("<mediawiki>\n")
      var i = 0
      while (i < c.ids.length) {
        w.write("<page>\n<title>Doc "); w.write(c.ids(i).toString)
        w.write("</title>\n<id>"); w.write(c.ids(i).toString)
        w.write("</id>\n<revision><id>"); w.write((5000000L + i).toString)
        w.write("</id><text xml:space=\"preserve\">"); w.write(c.texts(i))
        w.write("</text></revision>\n</page>\n")
        i += 1
      }
      w.write("</mediawiki>\n")
    }

  // ---- docs table + tape (txlog_tape) ---------------------------------

  final case class Row(bucket: Int, docId: Long, text: String)

  /** The tape run after the bulk append and the optimize. */
  final case class Tape(deletes: Seq[Int], updates: Seq[Row], backfillBucket: Int,
                        backfill: Seq[Row], optimizeRange: (Int, Int),
                        reads: Seq[Int])

  final case class Table(buckets: Int, rows: Array[Row], tape: Tape)

  def table(seed: Long, rows: Int, buckets: Int): Table = {
    val r = rng(seed, "table")
    def text(): String = {
      val n = 4 + r.nextInt(8)
      Iterator.fill(n)(word(r)).mkString(" ")
    }
    // uniform slices, so every seed's tape touches the same amount of data
    val data = Array.tabulate(rows)(i => Row(r.nextInt(buckets), i + 1L, text()))
    val order = permutation(buckets, r)
    val deletes = order.take(3).toSeq
    val backfillBucket = order(3)
    val updates = {
      val existing = Iterator.continually(1L + r.nextInt(rows)).distinct.take(60).toSeq
      val fresh = (1 to 20).map(k => rows.toLong + k)
      (existing ++ fresh).map(id => Row(r.nextInt(buckets), id, text()))
    }
    val backfill = (1 to 300).map(k =>
      Row(backfillBucket, 10L * rows + k, text()))
    val lo = r.nextInt(math.max(1, buckets - 7))
    val reads = order.drop(2).take(3).toSeq
    Table(buckets, data, Tape(deletes, updates, backfillBucket, backfill, (lo, math.min(buckets - 1, lo + 7)), reads))
  }

  def writeRows(rows: Iterable[Row], out: Path): Unit =
    withWriter(out) { w =>
      rows.foreach { row =>
        w.write(row.bucket.toString); w.write('\t'); w.write(row.docId.toString)
        w.write('\t'); w.write(row.text); w.write('\n')
      }
    }

  // ---- shared ---------------------------------------------------------

  private def withWriter(out: Path)(body: BufferedWriter => Unit): Unit = {
    Files.createDirectories(out.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(out), UTF_8), 1 << 16)
    try body(w) finally w.close()
  }

  def sha256Hex(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\u0000").getBytes(UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** SHA-256 over every regular file under `dir` (names and bytes). */
  def contentDigest(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val files = Files.walk(dir).filter(Files.isRegularFile(_)).toArray
      .map(_.asInstanceOf[Path]).filterNot(_.getFileName.toString.startsWith("_"))
      .sortBy(p => dir.relativize(p).toString)
    val buf = new Array[Byte](1 << 16)
    files.foreach { f =>
      md.update(dir.relativize(f).toString.getBytes(UTF_8))
      val in = Files.newInputStream(f)
      try {
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Render into `<root>/<name>-<key digest>` once; later calls with the same
    * (generator version, name, seed, sizes) reuse the files. A `_done`
    * marker holding the content digest is written last, so a run killed
    * mid-write regenerates. Returns the directory and its content digest. */
  def cached(root: Path, name: String, seed: Long, sizes: Seq[Any])(
      render: Path => Unit): (Path, String) = {
    val key = sha256Hex(Seq(Version, name, seed.toString) ++ sizes.map(_.toString)).take(16)
    val dir = root.resolve(s"$name-$key")
    val done = dir.resolve("_done")
    if (Files.exists(done)) (dir, new String(Files.readAllBytes(done), UTF_8))
    else {
      if (Files.exists(dir)) Util.deleteTree(dir)
      Files.createDirectories(dir)
      render(dir)
      val digest = contentDigest(dir)
      Files.write(done, digest.getBytes(UTF_8))
      (dir, digest)
    }
  }
}
