package graftbench

import java.io.File
import java.security.MessageDigest

import scala.collection.mutable

/** Seeded generator state. Every workload input is drawn from one of these,
  * created from the run's seed; the engine only ever sees the drawn data.
  */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def long(n: Long): Long = r.nextLong(n)
  def unit(): Double = r.nextDouble()
  def chance(p: Double): Boolean = r.nextDouble() < p
  /** Index skewed toward the END of [0, n): recent items are picked most. */
  def recent(n: Int, skew: Double = 3.0): Int =
    math.min(n - 1, n - 1 - (math.pow(r.nextDouble(), skew) * n).toInt)
}

/** Running digest of everything a generator produced, so two runs can show
  * that they measured the same inputs.
  */
final class InputDigest {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
  def hex: String = md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
}

/** Latency samples in named series. A failed operation is recorded as an
  * infinite latency: it misses every limit.
  */
final class Samples {
  private val series = mutable.LinkedHashMap[String, mutable.ArrayBuffer[(Double, Long)]]()
  def add(name: String, ms: Double, weight: Long = 1L): Unit = synchronized {
    if (weight > 0) series.getOrElseUpdate(name, mutable.ArrayBuffer()) += ((ms, weight))
  }
  def clear(): Unit = synchronized(series.clear())
  def get(name: String): Seq[(Double, Long)] = synchronized(series.get(name).map(_.toList).getOrElse(Nil))
}

object Stat {
  /** Weighted sample expanded into sorted values (weights are row counts). */
  private def sorted(xs: Seq[(Double, Long)]): IndexedSeq[Double] =
    xs.flatMap { case (v, w) => Iterator.fill(w.toInt)(v) }.sorted.toIndexedSeq

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def p50(xs: Seq[(Double, Long)]): Double = median(sorted(xs))

  /** Nearest-rank percentile `p` of sorted values. */
  def rank(s: IndexedSeq[Double], p: Double): Double =
    s(math.max(0, math.min(s.size - 1, math.ceil(p / 100 * s.size).toInt - 1)))

  /** Percentile `p` of a weighted sample (the median at p = 50) and how
    * many samples lie beyond it.
    */
  def tail(xs: Seq[(Double, Long)], p: Double): (Double, Int) = {
    val s = sorted(xs)
    if (s.isEmpty) (Double.NaN, 0)
    else {
      val v = if (p == 50.0) median(s) else rank(s, p)
      (v, s.count(_ > v))
    }
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Minimal JSON rendering for the result and record lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN) "null"
    else if (d.isInfinite) (if (d > 0) "1e12" else "-1e12")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

object Fs {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete(): Unit
  }

  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
    else Iterator.single(f)

  /** Bytes of the regular files under `dir` whose path passes `keep`. */
  def bytes(dir: String, keep: File => Boolean = _ => true): Long =
    walk(new File(dir)).filter(f => f.isFile && keep(f)).map(_.length).sum

  def count(dir: String, keep: File => Boolean): Int =
    walk(new File(dir)).count(f => f.isFile && keep(f))

  def isData(f: File): Boolean =
    !f.getName.startsWith(".") && !f.getName.startsWith("_") &&
      !f.getPath.contains("_graft_log") && f.getName.endsWith(".parquet")
}

/** Wall-clock helper: `ms(t0)` = milliseconds since a `System.nanoTime()`. */
object Clock {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
}
