package perfbench

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  // Double.toString: locale-independent and keeps every digit
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples above it, or
    * None when the sample is too small to have one. */
  def tailPercentile(n: Int): Option[Int] =
    if (n < 11) None else Some(((1.0 - 10.0 / n) * 100).floor.toInt)

  /** "median (n=…)" plus the tail percentile when the sample has one. */
  def describe(xs: Seq[Double]): String =
    if (xs.isEmpty) "no samples"
    else {
      val tail = tailPercentile(xs.size)
        .map(p => f", p$p=${quantile(xs, p / 100.0)}%.4f").getOrElse(f", max=${xs.max}%.4f")
      f"median=${median(xs)}%.4f$tail (n=${xs.size}) samples=" + xs.map(x => f"$x%.3f").mkString(",")
    }
}

/** Counts operations (timed runs and output checks) and names each failure
  * on stderr. Only non-fatal exceptions are counted as failed operations;
  * anything fatal ends the run. */
final class Ledger {
  var attempted = 0L
  var failed = 0L

  /** Runs `body` as one operation; None when it threw. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $what: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** One output check; `detail` is printed when it does not hold. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $what $detail")
    }
  }

  def failedFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
}

/** What one run reports: the end-to-end metrics (untraced run) or the
  * per-layer metrics (traced run), and lines for the human report. */
final case class Metric(name: String, value: Double, unit: String)

object Engine {
  val cpus: Int = Runtime.getRuntime.availableProcessors

  /** The session every workload runs on: `local[nproc]` with shuffle
    * partitions = nproc and the remaining settings of `graft.Bench`, so
    * the benchmark times the engine configuration the library ships with.
    * Spark's scratch space and warehouse stay under `work`. */
  def session(work: Path): SparkSession = {
    Files.createDirectories(work)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** MB of RDD blocks (caches and checkpoints) the block manager holds. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Setups per untraced run; `setup_s` is their median. */
  val Setups = 3

  /** Timed cycles an ETL run makes at least, even past `--seconds`. */
  val MinCycles = 3

  /** Runs `setup` on a fresh session [[Setups]] times (once when traced)
    * and keeps the last session; returns it with each setup's seconds.
    * Input generation is not part of `setup`. */
  def repeatedSetup(ctx: Ctx)(setup: SparkSession => Unit): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val secs = (1 to (if (ctx.trace) 1 else Setups)).map { _ =>
      if (spark != null) spark.stop()
      System.gc()
      seconds { spark = session(ctx.work); setup(spark) }._2
    }
    (spark, secs)
  }
}
