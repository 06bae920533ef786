package perfbench

import scala.collection.mutable

/** Expected results, computed from the generators' models with plain
  * single-threaded code that shares nothing with the engine. */
object Reference {

  /** The reference recurrence (PageRankAlgorithm.java): rank0 = 1/N,
    * rank' = d * sum(rank(q)/outDeg(q)) + (1 - d). The out-degree counts
    * every link occurrence, red links included; contributions to red links
    * are dropped; dangling pages contribute nothing. */
  def pageRank(g: Gen.Graph, iters: Int = 10, d: Double = 0.85): Array[Double] = {
    val n = g.pages
    var rank = Array.fill(n)(1.0 / n)
    var it = 0
    while (it < iters) {
      val sums = new Array[Double](n)
      var i = 0
      while (i < n) {
        val ls = g.links(i)
        if (ls.length > 0) {
          val c = rank(i) / ls.length
          var k = 0
          while (k < ls.length) { if (ls(k) >= 0) sums(ls(k)) += c; k += 1 }
        }
        i += 1
      }
      rank = sums.map(s => d * s + (1.0 - d))
      it += 1
    }
    rank
  }

  def close(got: Double, want: Double, tol: Double = 1e-9): Boolean =
    math.abs(got - want) <= tol * math.max(1.0, math.abs(want))

  /** Problems in a ranked (title, rank) list, in output order, against the
    * reference ranks: missing/extra/duplicate titles, values off by more
    * than 1e-9 (relative above 1), and order breaks (rank descending, then
    * title ascending). Empty when the output is right. */
  def rankProblems(g: Gen.Graph, want: Array[Double],
                   got: Seq[(String, Double)]): Seq[String] = {
    val idx = new java.util.HashMap[String, Integer](g.pages * 2)
    g.titles.indices.foreach(i => idx.put(g.titles(i), i))
    val seen = new Array[Boolean](g.pages)
    val bad = mutable.ArrayBuffer.empty[String]
    var prev: (String, Double) = null
    got.foreach { case (t, r) =>
      val i = idx.get(t)
      if (i == null) bad += s"unexpected title '$t'"
      else if (seen(i)) bad += s"duplicate title '$t'"
      else {
        seen(i) = true
        if (!close(r, want(i))) bad += s"rank of '$t' is $r, want ${want(i)}"
      }
      if (prev != null && (r > prev._2 || (r == prev._2 && t < prev._1)))
        bad += s"'$t' ($r) sorted after '${prev._1}' (${prev._2})"
      prev = (t, r)
    }
    val missing = seen.count(!_)
    if (missing > 0) bad += s"$missing titles missing"
    bad.toSeq
  }

  // ---- inverted index --------------------------------------------------

  /** Maximal ASCII-letter runs, lowercased (the reference tokenizer). */
  def tokens(text: String): Iterator[String] = new Iterator[String] {
    private var i = 0
    private def isAlpha(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    private def skip(): Unit = while (i < text.length && !isAlpha(text.charAt(i))) i += 1
    skip()
    def hasNext: Boolean = i < text.length
    def next(): String = {
      val start = i
      while (i < text.length && isAlpha(text.charAt(i))) i += 1
      val t = text.substring(start, i).toLowerCase(java.util.Locale.ROOT)
      skip()
      t
    }
  }

  final case class IndexSummary(occurrences: Long, words: Long,
                                postings: Map[String, String])

  /** Total occurrences, distinct words and the exact posting strings
    * ("id,id,...", one id per occurrence, ids ascending) of `sample`. */
  def index(c: Gen.Corpus, sample: Set[String]): IndexSummary = {
    val distinct = new java.util.HashSet[String]()
    val lists = sample.iterator.map(_ -> new java.lang.StringBuilder).toMap
    var occ = 0L
    var i = 0
    while (i < c.ids.length) {
      tokens(c.texts(i)).foreach { t =>
        occ += 1
        distinct.add(t)
        lists.get(t).foreach { sb =>
          if (sb.length > 0) sb.append(','); sb.append(c.ids(i))
        }
      }
      i += 1
    }
    IndexSummary(occ, distinct.size.toLong, lists.map { case (w, sb) => w -> sb.toString })
  }

  /** Problems in an index output, given as (word, "id,id,...") lines in
    * output order: distinct-word count, total occurrence count, the exact
    * posting strings of the sampled words, and ascending word order. */
  def indexProblems(want: IndexSummary, lines: Iterator[(String, String)]): Seq[String] = {
    var words = 0L; var occ = 0L; var prev = ""; var unordered = 0
    val seen = mutable.HashMap.empty[String, String]
    lines.foreach { case (w, ids) =>
      words += 1
      occ += ids.count(_ == ',') + 1
      if (w <= prev) unordered += 1
      prev = w
      if (want.postings.contains(w)) seen(w) = ids
    }
    val wrong = want.postings.count { case (w, ids) => !seen.get(w).contains(ids) }
    Seq(s"distinct words $words, want ${want.words}" -> (words != want.words),
      s"occurrences $occ, want ${want.occurrences}" -> (occ != want.occurrences),
      s"$wrong sampled posting lists differ" -> (wrong > 0),
      s"$unordered words out of order" -> (unordered > 0)).filter(_._2).map(_._1)
  }

  /** Words whose posting lists the checker compares: the hottest word,
    * plus a seeded mix of common and rare words. */
  def sampleWords(c: Gen.Corpus, seed: Long, n: Int): Set[String] = {
    val counts = mutable.HashMap.empty[String, Int]
    c.texts.iterator.take(2000).foreach(t => tokens(t).foreach(w => counts(w) = counts.getOrElse(w, 0) + 1))
    val byFreq = counts.toSeq.sortBy { case (w, k) => (-k, w) }.map(_._1)
    val r = new java.util.SplittableRandom(seed)
    (byFreq.take(1) ++ Seq.fill(n - 1)(byFreq(r.nextInt(byFreq.size)))).toSet
  }

  // ---- txlog tape ------------------------------------------------------

  final case class TapeExpect(readCounts: Seq[Long], sliceCounts: Map[Int, Long])

  /** Apply the tape to the table in memory: deletes drop slices, the merge
    * replaces rows by doc id (inserting unknown ids), the backfill replaces
    * one slice; optimizeWhere and vacuum change nothing visible. Each pruned
    * read sees the state after every commit before it. */
  def tape(t: Gen.Table): TapeExpect = {
    val bucketOf = mutable.LinkedHashMap.empty[Long, Int]
    t.rows.foreach(r => bucketOf(r.docId) = r.bucket)
    t.tape.deletes.foreach(b => bucketOf.filterInPlace((_, v) => v != b))
    t.tape.updates.foreach(u => bucketOf(u.docId) = u.bucket)
    bucketOf.filterInPlace((_, v) => v != t.tape.backfillBucket)
    t.tape.backfill.foreach(u => bucketOf(u.docId) = u.bucket)
    val slices = bucketOf.values.groupBy(identity).map { case (b, vs) => b -> vs.size.toLong }
    TapeExpect(t.tape.reads.map(b => slices.getOrElse(b, 0L)), slices)
  }

  /** Problems in a tape's pruned-read counts and final per-slice counts. */
  def tapeProblems(want: TapeExpect, reads: Seq[Long], slices: Map[Int, Long]): Seq[String] =
    Seq(s"pruned reads $reads, want ${want.readCounts}" -> (reads != want.readCounts),
      s"slice counts $slices, want ${want.sliceCounts}" -> (slices != want.sliceCounts))
      .filter(_._2).map(_._1)
}
