package perfbench

import org.apache.spark.sql.SparkSession

/** Handed to an operation while it runs. The operation wraps the part that
  * a user waits for in `timed` (exactly once); work outside it — dropping
  * new input files, checking results — is not charged to its latency. */
final class OpCtx(val tracer: Tracer, val opName: String, val cycle: Int,
    val checking: Boolean = true) {
  private var ms = -1.0
  def elapsedMs: Double = ms
  private var noted = Map.empty[String, Double]
  def notes: Map[String, Double] = noted

  /** A value the operation knows (a batch size, a candidate count) that
    * the traced run keeps with the operation's span. */
  def note(key: String, value: Double): Unit = noted += key -> value

  def timed[T](body: => T): T = {
    require(ms < 0, s"$opName: timed twice")
    val t0 = System.nanoTime()
    val out = tracer.span(s"op.$opName")(body)
    ms = (System.nanoTime() - t0) / 1e6
    out
  }

  /** A span around one public call into a layer, inside `timed`. */
  def call[T](layer: String)(body: => T): T = tracer.span(layer)(body)
}

/** One operation of a workload's cycle. `write` marks operations that
  * commit or write output; the others only read. `run` returns the
  * problems its output check found (empty when the output is right, and
  * always empty when the context is not checking). */
final case class Op(name: String, write: Boolean)(val run: OpCtx => Seq[String])

/** A seeded workload: inputs generated from the seed under `dir`, a fixed
  * cycle of operations, and its own output checks. */
trait Workload {
  def name: String
  /** Generate inputs and prepare state; `dir` is empty and owned. */
  def setup(spark: SparkSession, dir: String): Unit
  /** Run the cycle once, unchecked, so the window starts warm. */
  def warmup(spark: SparkSession): Unit = {
    val quiet = new Tracer(spark, enabled = false)
    cycle.foreach(op => op.run(new OpCtx(quiet, op.name, -1, checking = false)))
  }
  def cycle: Seq[Op]
  /** (bytes the workload leaves on disk, live user bytes); taken once,
    * after the first measured cycle, so it does not depend on speed. */
  def space(): (Double, Double)
  /** End-of-run checks, on a fresh session where the workload needs one. */
  def finalCheck(fresh: () => SparkSession): Seq[String]
  /** Per-layer metrics from the traced window's spans. */
  def layerMetrics(spans: Seq[Span]): Map[String, Double]
  /** Input sizes for the report (files, rows, versions, ...). */
  def sizes: Map[String, Double]
  /** SHA-256 of the generated inputs, for the determinism self-test. */
  def inputDigest: String
}

/** Several workloads run as one: their set-ups in sub-directories, their
  * cycles back to back, their checks and metrics together. */
final class CombinedWorkload(val name: String, parts: Seq[Workload]) extends Workload {
  def setup(spark: SparkSession, dir: String): Unit =
    parts.foreach(p => p.setup(spark, s"$dir/${p.name}"))
  val cycle: Seq[Op] = parts.flatMap(_.cycle)
  def space(): (Double, Double) = parts.map(_.space()).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  def finalCheck(fresh: () => SparkSession): Seq[String] = parts.flatMap(_.finalCheck(fresh))
  def layerMetrics(spans: Seq[Span]): Map[String, Double] = parts.flatMap(_.layerMetrics(spans)).toMap
  def sizes: Map[String, Double] =
    parts.flatMap(p => p.sizes.map { case (k, v) => s"${p.name}.$k" -> v }).toMap
  def inputDigest: String = Digest.sha256(parts.iterator.map(p => Digest.utf8(p.inputDigest)))
}

object Disk {
  /** Bytes of every file under `f`. */
  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L) else f.length()
}

object Digest {
  def sha256(parts: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
  def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
}

/** A tiny JSON writer: the benchmark prints one object per run. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Harrell-Davis estimate of the `q` quantile: a Beta-weighted mean of
    * all order statistics. A run holds one or two samples of each of a
    * dozen operations with different latencies, so the plain median jumps
    * between neighbouring operations from run to run; this estimate moves
    * smoothly with all of them. */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val n = s.size
    val beta = new org.apache.commons.math3.distribution.BetaDistribution(
      q * (n + 1), (1 - q) * (n + 1))
    s.indices.map(i => (beta.cumulativeProbability((i + 1.0) / n) -
      beta.cumulativeProbability(i.toDouble / n)) * s(i)).sum
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
