package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** The harness's own tests (no Spark session needed):
  *
  * {{{
  *   python3 perfbench/run.py --selftest
  * }}}
  *
  * Prints one line per test and exits non-zero if any fails. */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit = {
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += name; println(s"FAIL $name: $e") }
  }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    val scratch = Paths.get("").toAbsolutePath.resolve(".bench_build").resolve("tmp")
      .resolve(s"selftest-${ProcessHandle.current.pid}")
    try run(scratch) finally Util.deleteTree(scratch)
    println(if (failures.isEmpty) "all tests passed" else s"${failures.size} failed: ${failures.mkString(", ")}")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }

  /** Renders every generator's inputs for `seed` into a fresh cache under
    * `root`, returning the content digests. */
  private def digests(root: Path, seed: Long): Seq[String] = Seq(
    Workloads.dumpDir(root, "graph", seed, Gen.graph(seed, 3000, 6.0))._2,
    Gen.cached(root, "corpus", seed, Nil)(d =>
      Gen.writeCorpus(Gen.corpus(seed, 300, 100, 2000), d.resolve("dump.xml")))._2,
    Gen.cached(root, "table", seed, Nil)(d =>
      Gen.writeRows(Gen.table(seed, 1000, 8).rows, d.resolve("docs.tsv")))._2)

  def run(scratch: Path): Unit = {
    test("same seed gives the same input digest, another seed a different one") {
      val a = digests(scratch.resolve("a"), 7)
      val b = digests(scratch.resolve("b"), 7)
      val c = digests(scratch.resolve("c"), 8)
      expect(a == b, s"seed 7 rendered twice: $a vs $b")
      a.zip(c).foreach { case (x, y) => expect(x != y, s"seeds 7 and 8 share digest $x") }
    }

    test("cached inputs are reused, not regenerated") {
      var renders = 0
      (1 to 2).foreach(_ => Gen.cached(scratch.resolve("reuse"), "x", 1, Seq(3)) { d =>
        renders += 1; Files.write(d.resolve("f"), Array[Byte](1))
      })
      expect(renders == 1, s"rendered $renders times")
    }

    test("generated graph has the dump properties") {
      val g = Gen.graph(3, 20000, 6.0)
      val links = g.links.flatten
      val red = links.count(_ < 0).toDouble / links.length
      val dangling = g.links.count(_.isEmpty).toDouble / g.pages
      val self = g.links.indices.count(i => g.links(i).contains(i))
      val dup = g.links.count(ls => ls.distinct.length < ls.length)
      val indeg = links.filter(_ >= 0).groupBy(identity).values.map(_.length).toSeq.sorted.reverse
      expect(red > 0.07 && red < 0.11, s"red-link share $red")
      expect(dangling > 0.03 && dangling < 0.07, s"dangling share $dangling")
      expect(self > 0 && dup > 0, s"self-loops $self, pages with repeated links $dup")
      expect(indeg.head > 50 * (links.length.toDouble / g.pages), s"top in-degree ${indeg.head}")
    }

    val g = Gen.graph(5, 2000, 6.0)
    val want = Reference.pageRank(g)
    val ranked = g.titles.indices.map(i => (g.titles(i), want(i)))
      .sortBy { case (t, r) => (-r, t) }

    test("rank checker accepts the exact ranking") {
      val bad = Reference.rankProblems(g, want, ranked)
      expect(bad.isEmpty, bad.mkString("; "))
    }

    test("rank checker rejects one rank off by 1e-6") {
      val k = ranked.size / 2
      val perturbed = ranked.updated(k, (ranked(k)._1, ranked(k)._2 + 1e-6))
      expect(Reference.rankProblems(g, want, perturbed).nonEmpty, "accepted")
    }

    test("rank checker rejects a missing page and a broken order") {
      expect(Reference.rankProblems(g, want, ranked.tail).nonEmpty, "accepted a missing page")
      expect(Reference.rankProblems(g, want, ranked.reverse).nonEmpty, "accepted ascending order")
    }

    test("reference PageRank follows the recurrence on a hand-made graph") {
      // 0 -> 1, 0 -> red, 1 -> 0, 1 -> 1, 2 dangling
      val h = Gen.Graph(Array("a", "b", "c"), Array(Array(1, -1), Array(0, 1), Array.emptyIntArray))
      val r1 = Reference.pageRank(h, iters = 1)
      val n = 1.0 / 3
      expect(Reference.close(r1(0), 0.85 * (n / 2) + 0.15), s"a: ${r1(0)}")
      expect(Reference.close(r1(1), 0.85 * (n / 2 + n / 2) + 0.15), s"b: ${r1(1)}")
      expect(Reference.close(r1(2), 0.15), s"c: ${r1(2)}")
    }

    val corpus = Gen.corpus(9, 400, 80, 3000)
    val sample = Reference.sampleWords(corpus, 9, 12)
    val summary = Reference.index(corpus, sample)
    val index: Seq[(String, String)] = {
      val lists = mutable.TreeMap.empty[String, mutable.ArrayBuffer[Long]]
      corpus.ids.indices.foreach(i => Reference.tokens(corpus.texts(i)).foreach(w =>
        lists.getOrElseUpdate(w, mutable.ArrayBuffer.empty) += corpus.ids(i)))
      lists.toSeq.map { case (w, ids) => (w, ids.mkString(",")) }
    }

    test("tokenizer splits on non-letters and lowercases") {
      expect(Reference.tokens("Abc1def, X-ray's [[Zz]] 42").toSeq ==
        Seq("abc", "def", "x", "ray", "s", "zz"), "token split")
    }

    test("index checker accepts the exact index") {
      val bad = Reference.indexProblems(summary, index.iterator)
      expect(bad.isEmpty, bad.mkString("; "))
    }

    test("index checker rejects one dropped posting") {
      val hot = sample.maxBy(w => summary.postings(w).length)
      val perturbed = index.map { case (w, ids) =>
        if (w == hot) (w, ids.substring(ids.indexOf(',') + 1)) else (w, ids)
      }
      expect(Reference.indexProblems(summary, perturbed.iterator).nonEmpty, "accepted")
      val rare = index.find { case (w, ids) => !sample(w) && ids.contains(',') }.get._1
      val dropped = index.map { case (w, ids) =>
        if (w == rare) (w, ids.substring(ids.indexOf(',') + 1)) else (w, ids)
      }
      expect(Reference.indexProblems(summary, dropped.iterator).nonEmpty,
        "accepted a dropped posting of an unsampled word")
    }

    val table = Gen.table(11, 2000, 8)
    val tape = Reference.tape(table)

    test("tape model: deletes, merge, backfill") {
      expect(tape.sliceCounts(table.tape.backfillBucket) == table.tape.backfill.size, "backfill slice")
      expect(tape.sliceCounts.values.sum ==
        Reference.tape(table).sliceCounts.values.sum, "deterministic")
      val total0 = table.rows.length
      expect(tape.sliceCounts.values.sum != total0, "the tape changed the row count")
    }

    test("tape checker rejects one missing row") {
      expect(Reference.tapeProblems(tape, tape.readCounts, tape.sliceCounts).isEmpty, "rejected exact")
      val b = tape.sliceCounts.maxBy(_._2)._1
      val missing = tape.sliceCounts.updated(b, tape.sliceCounts(b) - 1)
      expect(Reference.tapeProblems(tape, tape.readCounts, missing).nonEmpty, "accepted a missing row")
      val reads = tape.readCounts.updated(0, tape.readCounts(0) + 1)
      expect(Reference.tapeProblems(tape, reads, tape.sliceCounts).nonEmpty, "accepted a wrong read")
    }

    test("span self time subtracts the union of child spans") {
      val spans = Seq(
        Span(0, "job", 0, 100, -1, "r"),
        Span(1, "parse", 10, 30, 0, "r"),
        Span(2, "pagerank", 20, 50, 0, "r"),      // overlaps parse
        Span(3, "pagerank.loop", 25, 45, 2, "r"), // grandchild of job
        Span(4, "textkv.write", 90, 120, 0, "r")) // runs past its parent
      val self = Span.selfNanos(spans)
      expect(self(0) == 100 - 40 - 10, s"job self ${self(0)}")
      expect(self(1) == 20, s"parse self ${self(1)}")
      expect(self(2) == 30 - 20, s"pagerank self ${self(2)}")
      expect(self(3) == 20 && self(4) == 30, s"leaf self ${self(3)}, ${self(4)}")
    }

    test("interval union") {
      expect(Span.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L), (30L, 31L))) == 26, "overlap/touch")
      expect(Span.covered(Nil) == 0 && Span.covered(Seq((5L, 5L))) == 0, "empty")
    }

    test("percentiles and median") {
      val xs = (1 to 100).map(_.toDouble)
      expect(Util.percentile(xs, 0.9) == 90 && Util.percentile(xs, 0.5) == 50, "nearest rank")
      expect(Util.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "even median")
    }
  }
}
