package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

/** Minimal JSON rendering for the result line and the result file. Objects
  * are ordered `Seq[(String, Any)]` so keys print in a stable order. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])

  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Deterministic generators: every input is a function of `--seed`. */
object Rand {
  /** SplitMix64 finalizer: a stateless hash for per-key attributes. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def mix(a: Long, b: Long): Long = mix(mix(a) ^ b)

  def mix(a: Long, b: Long, c: Long): Long = mix(mix(a, b) ^ c)

  /** Non-negative value in [0, n). */
  def below(h: Long, n: Int): Int = java.lang.Math.floorMod(h, n.toLong).toInt
}

/** Writes JSON lines and counts the bytes written. */
final class LineWriter(file: File) extends AutoCloseable {
  file.getParentFile.mkdirs()
  private val out = new BufferedWriter(
    new OutputStreamWriter(new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
  var bytes = 0L

  def line(s: String): Unit = {
    out.write(s)
    out.write('\n')
    bytes += s.getBytes(StandardCharsets.UTF_8).length + 1
  }

  override def close(): Unit = out.close()
}

object Files {
  def sizeOf(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

/** Timed samples of a workload's end-to-end figures, by name. */
final class Samples {
  private val data = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()

  def add(name: String, v: Double): Unit = data.getOrElseUpdate(name, ArrayBuffer()) += v

  def values(name: String): Seq[Double] = data.get(name).map(_.toSeq).getOrElse(Nil)

  def median(name: String): Double = Stats.median(values(name))

  def all: Map[String, Seq[Double]] = data.map { case (k, v) => k -> v.toSeq }.toMap
}
