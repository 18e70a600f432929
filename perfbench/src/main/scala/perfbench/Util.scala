package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

object Files {
  /** Bytes on disk under `path` (a file or a directory tree). */
  def bytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  /** Number of directories directly under `path`. */
  def subdirs(path: String): Int =
    Option(new File(path).listFiles()).map(_.count(_.isDirectory)).getOrElse(0)

  def rm(path: String): Unit = {
    def walk(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(walk))
      f.delete()
    }
    walk(new File(path))
  }

  def writeText(path: String, text: String): Unit = {
    new File(path).getParentFile.mkdirs()
    JFiles.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
  }

  def readText(path: String): String =
    new String(JFiles.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** JSON through the json4s that ships with Spark. */
object Json {
  import org.json4s.{DefaultFormats, Formats, JValue}
  import org.json4s.jackson.{JsonMethods, Serialization}

  private implicit val formats: Formats = DefaultFormats

  def render(v: Any): String = Serialization.write(v.asInstanceOf[AnyRef])
  def pretty(v: Any): String = Serialization.writePretty(v.asInstanceOf[AnyRef])
  def parse(text: String): JValue = JsonMethods.parse(text)
}
