package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** What every workload gets: the session, its scratch directory inside
  * the checkout, the seed, the run length and whether inputs are tiny.
  */
final case class Ctx(spark: SparkSession, work: Path, seed: Long, seconds: Int, tiny: Boolean) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** One timed pass: its wall time, the latency of each operation in it
  * (a `run()` call or a query) and the operations it attempted and lost.
  * A failed operation contributes no latency.
  */
final case class Pass(runS: Double, latencies: Seq[Double], attempted: Int, failed: Int)

/** Outcome of the oracles run after the timed window. */
final case class Checks(attempted: Int, failed: Int)

trait Workload {
  /** Rows of input one pass processes (for `rows_per_s`). */
  def inputRows: Long
  /** Repeatable part of set-up: build the inputs (and base load). The
    * first call also pays the JVM's JIT and first-use costs, which the
    * median over repetitions leaves out of `setup_s`.
    */
  def prepare(): Unit
  /** Untimed warm-up after the last `prepare`. */
  def warmUp(): Unit
  /** One timed pass. In a traced run the tracer records spans. */
  def pass(tr: Tracer): Pass
  /** Re-arm the inputs for another pass from the same seed. */
  def reset(): Unit
  /** Oracles over the output of the last pass. */
  def verify(): Checks
  /** Per-layer figures of a traced pass, including any differential
    * probes that need extra materializations (run after the pass).
    */
  def layers(tr: Tracer): Map[String, Double]
  /** How many passes an untraced run makes. */
  def passes: Int = 1
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Order-independent fingerprint of a frame: row count and the sum of
  * the low 32 bits of each row's hash over its columns in name order.
  */
object Fingerprint {
  def columns(df: DataFrame): Seq[String] = df.columns.toSeq.sorted

  def aggregates(df: DataFrame): Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("rows"),
    sum(xxhash64(columns(df).map(c => col(s"`$c`")): _*).bitwiseAND(lit(0xffffffffL))).as("hash"))

  def of(df: DataFrame): (Long, Long) = {
    val r = df.agg(aggregates(df).head, aggregates(df).tail: _*).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Attach the same fingerprint to a frame as an observation, so the
    * timed write itself yields it without a second execution.
    */
  def observed(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, aggregates(df).head, aggregates(df).tail: _*)

  def read(obs: Observation): (Long, Long) = {
    val m = obs.get
    def long(k: String): Long = m.get(k) match {
      case Some(n: Number) => n.longValue()
      case _ => 0L
    }
    (long("rows"), long("hash"))
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(apply).mkString("[", ", ", "]")
    case Some(x) => apply(x)
    case other => str(other.toString)
  }
}
