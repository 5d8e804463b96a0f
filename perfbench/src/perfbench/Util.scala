package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** SplitMix64: the one random source of every generator, so a seed fixes
  * every input byte. `mix` is its finaliser, used to derive independent
  * streams from (seed, key) pairs without carrying generator state. */
final class Rng(seed: Long) {
  private var s = seed
  def next(): Long = { s += 0x9E3779B97F4A7C15L; Rng.mix(s) }
  def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
  def uniform(): Double = (next() >>> 11) * (1.0 / (1L << 53))
  def uniform(lo: Double, hi: Double): Double = lo + (hi - lo) * uniform()
}

object Rng {
  def mix(v: Long): Long = {
    var z = v
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix(a: Long, b: Long): Long = mix(mix(a) + b * 0x9E3779B97F4A7C15L)
  def stream(seed: Long, key: Long): Rng = new Rng(mix(seed, key))
}

/** Minimal JSON writer/reader for the result lines, trace files and the
  * expectation records (no dependency beyond what Spark already ships). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** Parse into Scala maps/seqs/doubles/strings/booleans (Jackson does the
    * lexing). */
  def parse(s: String): Any = {
    import com.fasterxml.jackson.databind.JsonNode
    import scala.jdk.CollectionConverters._
    def conv(n: JsonNode): Any =
      if (n.isObject) n.fields().asScala.map(e => e.getKey -> conv(e.getValue)).toMap
      else if (n.isArray) n.elements().asScala.map(conv).toVector
      else if (n.isNumber) n.asDouble()
      else if (n.isBoolean) n.asBoolean()
      else if (n.isNull) null
      else n.asText()
    conv(new com.fasterxml.jackson.databind.ObjectMapper().readTree(s))
  }
}

object Files2 {
  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
  def read(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** (bytes, regular files) under a directory tree. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes, files = 0L
        s.filter(f => Files.isRegularFile(f)).forEach { f => bytes += Files.size(f); files += 1 }
        (bytes, files)
      } finally s.close()
    }
}

object Stats {
  /** median of a non-empty sample (mean of the middle two when even) */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
