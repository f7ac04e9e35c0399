package lakebench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Small helpers shared by the workloads: JSON output, percentiles,
  * file accounting and a deterministic RNG. */
object Util {

  /** Minimal JSON encoder for maps, sequences, strings and numbers. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ": " + json(x) }
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Nearest-rank percentile of `xs` (p in [0, 100]); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size).toInt
      s(math.min(s.size - 1, math.max(0, rank - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }

  /** Write `text` under a hidden name, then rename it into place, so a
    * file-stream source never lists a half-written file. */
  def writeAtomic(dir: String, name: String, text: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, "." + name + ".tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Regular data files under `dir` (recursive), skipping checksum and
    * marker files. */
  def dataFiles(dir: String, suffix: String = ".parquet"): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val root = new File(dir)
    if (!root.exists()) Seq.empty
    else walk(root).filter { f =>
      val n = f.getName
      n.endsWith(suffix) && !n.startsWith(".")
    }
  }

  def bytesUnder(dir: String, suffix: String = ".parquet"): Long =
    dataFiles(dir, suffix).map(_.length).sum

  /** Copies the tree at `from` to `to`. */
  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val q = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Zipf(s) sampler over ranks 1..n by inverse CDF (table built once). */
  final class Zipf(n: Int, s: Double, rng: java.util.Random) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def next(): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      val r = if (i >= 0) i else -i - 1
      math.min(r, n - 1)
    }
  }
}
