package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** What a run works with: the checkout root, a private scratch directory
  * under it, the arguments, and the operation ledger. */
final case class Ctx(root: Path, work: Path, workload: String, seed: Long, seconds: Int,
    trace: Boolean, ledger: Ledger)

/** The human-readable report (stderr) and the trace file. */
object Report {
  def lines(ls: String*): Unit = ls.foreach(l => System.err.println(s"[perfbench] $l"))

  /** Traced seconds over the mean of the untraced runs of the same steps
    * just before and just after it, minus one; the before/after mean
    * cancels the steady speed-up of a warming JVM. */
  def overhead(before: Seq[Option[Double]], traced: Seq[Option[Double]],
      after: Seq[Option[Double]]): Double = {
    val u = (before.flatten.sum + after.flatten.sum) / 2
    val t = traced.flatten.sum
    lines(f"tracing overhead: untraced $u%.4f s (mean of before and after), traced $t%.4f s")
    if (u > 0) t / u - 1.0 else 0.0
  }

  def writeTrace(tracer: Tracer, ctx: Ctx): Unit = {
    val out = ctx.root.resolve(s".bench_build/trace/${ctx.workload}-seed${ctx.seed}.jsonl")
    tracer.write(out)
    tracer.close()
    lines(s"spans written to ${ctx.root.relativize(out)}")
  }
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --root <checkout>` runs one workload and prints one JSON result line
  * last on stdout. `--record` instead rewrites the query suite's expected
  * row counts. */
object Main {
  /** Every per-layer metric, in the order `BENCHMARK.json` lists them. A
    * traced run reports all of them; a layer its workload does not run
    * reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.catalog.s" -> "s", "sources.catalog.pages" -> "count", "sources.catalog.rows_out" -> "count",
    "ops.forward_fill.s" -> "s", "ops.forward_fill.rows_in" -> "count", "ops.forward_fill.rows_out" -> "count",
    "ops.forward_fill.shuffle_mb" -> "MB", "ops.forward_fill.spill_mb" -> "MB",
    "ops.forward_fill.useful_ratio" -> "ratio", "ops.pricing.s" -> "s", "ops.pricing.rows_out" -> "count",
    "ops.validation.s" -> "s", "ops.validation.jobs" -> "count", "ops.validation.records_read" -> "count",
    "sink.jdbc.insert_s" -> "s", "sink.jdbc.update_s" -> "s", "sink.jdbc.rows" -> "count",
    "sink.jdbc.round_trips" -> "count", "sink.jdbc.commits" -> "count",
    "sink.jdbc.rows_per_round_trip" -> "ratio", "sink.jdbc.failed" -> "count",
    "sink.parquet.s" -> "s", "sink.parquet.files" -> "count", "sink.parquet.mb" -> "MB",
    "sink.parquet.partitions" -> "count", "refresh.written_ratio" -> "ratio",
    "queries.construct.s" -> "s", "queries.construct.jobs" -> "count",
    "engine.analysis.s" -> "s", "engine.optimization.s" -> "s", "engine.planning.s" -> "s",
    "engine.exec.s" -> "s", "exec.tasks" -> "count", "exec.input_mb" -> "MB", "exec.shuffle_mb" -> "MB",
    "exec.spill_mb" -> "MB", "memo.builds" -> "count", "memo.build_s" -> "s", "memo.cached_mb" -> "MB",
    "suite.query_p50_s" -> "s", "suite.query_p75_s" -> "s") ++
    QuerySuite.Families.map { case (f, _) => s"suite.$f.s" -> "s" } ++
    Seq("trace.overhead_frac" -> "ratio")

  val Workloads: Map[String, Ctx => Seq[Metric]] = Map(
    "etl" -> Etl.run, "query_suite" -> QuerySuite.run)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val root = Paths.get(opts.getOrElse("root", ".")).toAbsolutePath.normalize
    val workload = opts.getOrElse("workload", "")
    val record = args.contains("--record")
    require(record || Workloads.contains(workload),
      s"--workload must be one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    val work = root.resolve(s".bench_build/work/${if (record) "record" else workload}-${ProcessHandle.current.pid}")
    val ctx = Ctx(root, work, workload, opts.getOrElse("seed", "1").toLong,
      opts.getOrElse("seconds", "10").toInt, opts.getOrElse("trace", "0") == "1", new Ledger)
    try {
      if (record) QuerySuite.record(ctx)
      else {
        val measured = Workloads(workload)(ctx)
        val metrics = if (!ctx.trace) measured else {
          val byName = measured.map(m => m.name -> m).toMap
          require(byName.keySet.subsetOf(PerLayer.map(_._1).toSet),
            s"unregistered layer metrics ${byName.keySet -- PerLayer.map(_._1)}")
          PerLayer.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
        }
        val l = ctx.ledger
        Report.lines(f"failed_frac ${l.failedFrac}%.4f (${l.failed} of ${l.attempted} operations)")
        val ms = metrics.map(m => m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))
        println(Json.obj(Seq("correct" -> (l.failed == 0).toString, "attempted" -> l.attempted.toString,
          "failed" -> l.failed.toString, "metrics" -> Json.obj(ms))))
      }
    } finally {
      org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
      if (Files.exists(work))
        Files.walk(work).sorted(Comparator.reverseOrder[Path]).forEach(p => Files.delete(p))
    }
  }
}
