package perfbench

import java.nio.file.{Files, Path}

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).toArray.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount)
      all.foreach(Files.deleteIfExists)
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile, q in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  /** Cumulative steal seconds from the aggregate `cpu` line of /proc/stat
    * (USER_HZ = 100); -1 where it cannot be read. */
  def stealSeconds(): Double =
    try {
      val line = Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (line(0) == "cpu" && line.length > 8) line(8).toDouble / 100.0 else -1.0
    } catch { case _: Exception => -1.0 }

  /** Seconds for a fixed amount of single-threaded integer work (after a
    * JIT warm-up): a host-speed probe recorded beside each run. */
  def calibProbe(): Double = {
    def burn(n: Long): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0L
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    val warm = burn(20000000L)
    val t0 = System.nanoTime
    val r = burn(200000000L)
    val sec = (System.nanoTime - t0) / 1e9
    if (warm == r) System.err.print("")
    sec
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
