package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.parse.WikiParser
import graft.sources.TextKV

/** The splittable `</page>`-delimited reader (TextKV.readPages) must be a
  * drop-in replacement for the wholetext read: same pages, same graph —
  * including when the file is carved into many input splits whose
  * boundaries fall mid-page (the scale property VERDICT round 1 flagged
  * as missing). */
class SplittableIngestSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val fixtureXml = {
    val src = scala.io.Source.fromResource("wiki/fixture.xml")
    try src.mkString finally src.close()
  }

  private def writeTemp(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft-split").toFile
    dir.deleteOnExit()
    val f = new java.io.File(dir, name)
    Files.write(f.toPath, content.getBytes("UTF-8"))
    f.getAbsolutePath
  }

  private def graphMap(pages: DataFrame): Map[String, Seq[String]] =
    WikiParser.linkGraph(pages).as[(String, Seq[String])].collect().toMap

  test("readPages reproduces the golden fixture graph exactly") {
    val path = writeTemp("fixture.xml", fixtureXml)
    val viaSplit = graphMap(WikiParser.pages(TextKV.readPages(spark, path)))
    val viaWhole = graphMap(WikiParser.pages(Seq(fixtureXml).toDF("value")))
    assert(viaSplit == viaWhole)
    assert(viaSplit("Dup") == Seq("A", "B")) // dup-title merge survives
  }

  test("flagship pipeline end-to-end: file → splittable read → fused parse → ranks") {
    import graft.pagerank.PageRank
    val path = writeTemp("fixture.xml", fixtureXml)
    val viaPipeline = graft.pipelines.WikiPipelines.pageRank(spark, path)
      .as[(String, Double)].collect().toSeq
    val viaMemory = PageRank.ranked(
        WikiParser.linkGraph(WikiParser.pages(Seq(fixtureXml).toDF("value"))))
      .as[(String, Double)].collect().toSeq
    assert(viaPipeline.map(_._1) == viaMemory.map(_._1), "same rank order + titles")
    viaPipeline.zip(viaMemory).foreach { case ((t, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-12, s"$t: $a vs $b")
    }
  }

  test("comma-separated input paths read every dir exactly once (reference addInputPaths)") {
    // the reference accepts comma-joined input dirs
    // (PageRankAlgorithm.java:66 addInputPaths); readPages must too
    def dump(n: Int, offset: Int): String = {
      val sb = new StringBuilder
      for (i <- 0 until n)
        sb.append(s"<page><title>D${offset + i}</title><id>${offset + i}</id>" +
          s"<text xml:space=\"preserve\">[[D${offset + ((i + 1) % n)}]]</text></page>\n")
      sb.toString
    }
    val p1 = writeTemp("a.xml", dump(40, 0))
    val p2 = writeTemp("b.xml", dump(60, 1000))
    val both = TextKV.readPages(spark, s"$p1 , $p2")
    val g = graphMap(WikiParser.pages(both))
    assert(g.size == 100, s"40 + 60 pages across two dirs, got ${g.size}")
    assert(g.contains("D0") && g.contains("D1059"))
    // single-path behavior unchanged
    assert(graphMap(WikiParser.pages(TextKV.readPages(spark, p1))).size == 40)
  }

  test("path split keeps Hadoop brace-globs intact, splits on commas outside braces") {
    assert(TextKV.splitPaths("/d/a.xml,/d/b.xml") == Seq("/d/a.xml", "/d/b.xml"))
    assert(TextKV.splitPaths("/d/{a,b}.xml") == Seq("/d/{a,b}.xml"))
    assert(TextKV.splitPaths("/d/{a,b}.xml, /e/c.xml") ==
      Seq("/d/{a,b}.xml", "/e/c.xml"))
    assert(TextKV.splitPaths("/d/{x,{y,z}}.xml,/e/f.xml") ==
      Seq("/d/{x,{y,z}}.xml", "/e/f.xml"))
    assert(TextKV.splitPaths(" /one.xml ") == Seq("/one.xml"))
    // a brace-glob really is ONE newAPIHadoopFile path end-to-end
    def dump(n: Int, offset: Int): String =
      (0 until n).map(i =>
        s"<page><title>G${offset + i}</title><id>${offset + i}</id>" +
          s"<text xml:space=\"preserve\">[[G$offset]]</text></page>").mkString("\n")
    val dir = Files.createTempDirectory("graft-glob").toFile
    dir.deleteOnExit()
    Files.write(new java.io.File(dir, "ga.xml").toPath, dump(5, 0).getBytes("UTF-8"))
    Files.write(new java.io.File(dir, "gb.xml").toPath, dump(7, 100).getBytes("UTF-8"))
    val g = graphMap(WikiParser.pages(
      TextKV.readPages(spark, s"${dir.getAbsolutePath}/{ga,gb}.xml")))
    assert(g.size == 12, s"brace glob must match both files, got ${g.size}")
  }

  /** ~4 MB dump: ~2 KB of filler per page, each page linking two others. */
  private def bigDump(nPages: Int): String = {
    val filler = "lorem ipsum dolor sit amet " * 75
    val sb = new StringBuilder("<mediawiki>\n")
    for (i <- 0 until nPages) {
      sb.append(
        s"""<page>
           |  <title>Page$i</title>
           |  <id>$i</id>
           |  <text xml:space="preserve">$filler [[Page${(i + 1) % nPages}]] [[Page${(i + 7) % nPages}]]</text>
           |</page>
           |""".stripMargin)
    }
    sb.append("</mediawiki>\n")
    writeTemp("big.xml", sb.toString)
  }

  test("multi-MB dump under a tiny split.maxsize attributes every page once") {
    val nPages = 2000
    // 64 KB max splits => ~70 splits with boundaries falling mid-page
    // all over the file.
    val path = bigDump(nPages)

    val df = TextKV.readPages(spark, path, maxSplitSize = 64 * 1024)
    assert(df.rdd.getNumPartitions > 10, "tiny maxsize must force many splits")

    val g = graphMap(WikiParser.pages(df))
    assert(g.size == nPages, "every page exactly once, none torn or doubled")
    for (i <- Seq(0, 1, 499, 1000, 1999)) {
      assert(g(s"Page$i") ==
        Seq(s"Page${(i + 1) % nPages}", s"Page${(i + 7) % nPages}").sorted, s"Page$i")
    }
  }

  test("adaptive splits: a few-MB dump fans out over every core, < 1 MB stays one split") {
    val path = bigDump(2000)
    val len = new java.io.File(path).length
    assert(len > (3L << 20) && len < (5L << 20), s"fixture is ~4 MB, got $len")
    // local[4] → ~2 waves per core would be 0.5 MB splits; the 1 MB floor
    // leaves one split per MB
    val adaptive = TextKV.readPages(spark, path)
    assert(adaptive.rdd.getNumPartitions >= 4,
      s"~4 MB at local[4] must use >= 4 splits, got ${adaptive.rdd.getNumPartitions}")
    val oneSplit = TextKV.readPages(spark, path, maxSplitSize = len)
    assert(oneSplit.rdd.getNumPartitions == 1)
    assert(graphMap(WikiParser.pages(adaptive)) == graphMap(WikiParser.pages(oneSplit)))

    val small = writeTemp("fixture.xml", fixtureXml)
    assert(new java.io.File(small).length < (1L << 20))
    assert(TextKV.readPages(spark, small).rdd.getNumPartitions == 1)

    // a path whose length cannot be read falls back to default splits
    val conf = spark.sparkContext.hadoopConfiguration
    assert(TextKV.adaptiveSplitSize(conf, Seq(path), 4).contains(1L << 20))
    assert(TextKV.adaptiveSplitSize(conf, Seq(path, path + ".missing"), 4).isEmpty)
  }
}
