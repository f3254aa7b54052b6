package perfbench

import scala.collection.mutable

/** Seeded closed-form generators. Every input of every workload is a
  * pure function of (seed, index), so the checkers can recompute any
  * expected value without asking the program. */
object Gen {
  /** splitmix64 finalizer: a bijection on Long. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix2(a: Long, b: Long): Long = mix(mix(a) ^ (b * 0x632BE59BD9B4E019L))
  /** Uniform draw in [0, n) from a hash. */
  def below(h: Long, n: Int): Int = java.lang.Math.floorMod(h, n.toLong).toInt
  /** Order-independent checksum term of one key-value entry. */
  def entry(k: Long, v: Long): Long = mix2(k, v)
}

/** Latency samples of one op kind, in milliseconds. */
final class Samples {
  val ms = mutable.ArrayBuffer.empty[Double]
  def add(v: Double): Unit = ms += v
  def n: Int = ms.size
  def p50: Double = Stats.quantile(ms.toSeq, 0.5)
}

object Stats {
  /** Linear-interpolated quantile; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p90/p95/p99 with at least ten samples beyond it
    * (None when fewer than forty samples: no tail to speak of). */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(("p99", 0.99), ("p95", 0.95), ("p90", 0.90))
      .find { case (_, q) => xs.size * (1 - q) >= 10 }
      .filter(_ => xs.size >= 40)
      .map { case (name, q) => (name, quantile(xs, q)) }
}

/** Collects correctness mismatches; a run is correct iff none. */
final class Checker {
  val failures = mutable.ArrayBuffer.empty[String]
  var checks = 0L
  def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) {
      if (failures.size < 20) System.err.println(s"perfbench: CHECK FAILED: $what")
      failures += what
    }
  }
  def ok: Boolean = failures.isEmpty
}

/** Minimal JSON writer for the result and detail lines (numbers,
  * strings, booleans, maps). */
object Json {
  def apply(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }
        .mkString("{", ", ", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case null => "null"
    case other => str(other.toString)
  }
  private def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
}
