package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.ops.SessionCache
import graft.queries._
import org.apache.spark.sql.SparkSession

/** `query_suite`: registered `SparkEntry.queries` entries over the sf0.01
  * tables, a cold pass on a fresh session and then warm passes. */
object QuerySuite {
  /** Every `Stride`-th name in sorted order, starting with the first. */
  val Stride = 50

  /** The public `*.defs` objects, one per query family. */
  val Families: Seq[(String, Iterable[String])] = Seq(
    "CoreQueries" -> CoreQueries.defs.keys, "PricenowQueries" -> PricenowQueries.defs.keys,
    "FunctionQueries" -> FunctionQueries.defs.keys, "ExtensionQueries" -> ExtensionQueries.defs.keys,
    "RelationalExtras" -> RelationalExtras.defs.keys, "AnalyticQueries" -> AnalyticQueries.defs.keys,
    "WarehouseQueries" -> WarehouseQueries.defs.keys, "GraphQueries" -> GraphQueries.defs.keys,
    "StatsQueries" -> StatsQueries.defs.keys, "RankStatsQueries" -> RankStatsQueries.defs.keys,
    "LayoutQueries" -> LayoutQueries.defs.keys, "ClassifierQueries" -> ClassifierQueries.defs.keys,
    "SpatialQueries" -> SpatialQueries.defs.keys, "GovernanceQueries" -> GovernanceQueries.defs.keys,
    "ActivityQueries" -> ActivityQueries.defs.keys, "SamplingQueries" -> SamplingQueries.defs.keys,
    "ExperimentQueries" -> ExperimentQueries.defs.keys, "Experiment2Queries" -> Experiment2Queries.defs.keys,
    "RetrievalEvalQueries" -> RetrievalEvalQueries.defs.keys,
    "Experiment3Queries" -> Experiment3Queries.defs.keys,
    "IvfMaintenanceQueries" -> IvfMaintenanceQueries.defs.keys,
    "TextNoveltyQueries" -> TextNoveltyQueries.defs.keys, "AgreementQueries" -> AgreementQueries.defs.keys,
    "CurationQueries" -> CurationQueries.defs.keys, "KeywordQueries" -> KeywordQueries.defs.keys,
    "TpchShapeQueries" -> TpchShapeQueries.defs.keys, "CrossRunDedupQueries" -> CrossRunDedupQueries.defs.keys,
    "KnnGraphQueries" -> KnnGraphQueries.defs.keys, "MaxScoreQueries" -> MaxScoreQueries.defs.keys,
    "AnnEvalQueries" -> AnnEvalQueries.defs.keys)

  private lazy val familyOf: Map[String, String] =
    Families.flatMap { case (f, names) => names.map(_ -> f) }.toMap

  def sample(stride: Int): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % stride == 0 => n }

  private def dataDir(ctx: Ctx): String = ctx.root.resolve("perfbench/data/sf0.01").toString
  private def expectedFile(ctx: Ctx): Path = ctx.root.resolve("perfbench/expected_counts.tsv")

  private def expected(ctx: Ctx): Map[String, Long] =
    Files.readAllLines(expectedFile(ctx)).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, c) = l.split("\t"); n -> c.toLong
    }.toMap

  /** Untimed warm-up that touches no query and no memo. */
  private def setup(spark: SparkSession, dir: String): Unit = {
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/lineitem.parquet").selectExpr("sum(l_quantity)").collect()
  }

  /** One pass: each query built and counted; returns per-query seconds. */
  private def pass(spark: SparkSession, ctx: Ctx, dir: String, names: Seq[String],
      want: Map[String, Long], label: String): Seq[(String, Double)] = {
    System.gc()
    names.flatMap { n =>
      val fn = SparkEntry.queries(n)
      ctx.ledger.op(s"$label $n")(Engine.seconds(fn(spark, dir).count())).map { case (rows, s) =>
        ctx.ledger.check(s"$label $n rows", want.get(n).contains(rows), s"got $rows want ${want.get(n)}")
        n -> s
      }
    }
  }

  private def memoSnapshot: Map[String, Double] = SessionCache.buildSeconds

  /** (build count, build seconds) between two ledger snapshots. */
  private def memoDelta(a: Map[String, Double], b: Map[String, Double]): (Int, Double) = {
    val d = b.map { case (k, v) => v - a.getOrElse(k, 0.0) }.filter(_ > 0)
    (d.size, d.sum)
  }

  def run(ctx: Ctx): Seq[Metric] = {
    val dir = dataDir(ctx)
    val want = expected(ctx)
    val names = new scala.util.Random(ctx.seed).shuffle(sample(Stride))
    val (first, setups) = Engine.repeatedSetup(ctx)(setup(_, dir))
    // One untimed pass compiles the JVM's hot paths; the cold pass then
    // runs on a new session, whose memos are empty. It measures what a new
    // session pays (memo builds, first planning), not JIT warm-up, which
    // swings with the machine's load far more than the library's work.
    pass(first, ctx, dir, names, want, "jit warm-up")
    first.stop()
    val spark = Engine.session(ctx.work)

    val m0 = memoSnapshot
    val cold = pass(spark, ctx, dir, names, want, "cold")
    val coldS = cold.map(_._2).sum
    val m1 = memoSnapshot
    val warm = ArrayBuffer.empty[Seq[(String, Double)]]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    // the traced run's percentiles want 40 warm samples: p75 then has ten
    // above it
    val minPasses = if (ctx.trace) math.ceil(40.0 / names.size).toInt else 2
    while (warm.size < minPasses || (!ctx.trace && System.nanoTime() < deadline))
      warm += pass(spark, ctx, dir, names, want, s"warm${warm.size + 1}")
    val m2 = memoSnapshot
    val warmTotals = warm.map(_.map(_._2).sum).toSeq
    val perQuery = warm.flatten.map(_._2).toSeq
    val (coldBuilds, coldBuildS) = memoDelta(m0, m1)
    val (warmBuilds, warmBuildS) = memoDelta(m1, m2)
    val cached = Engine.cachedMb(spark)

    if (!ctx.trace) {
      Report.lines(
        s"setup_s ${Stats.describe(setups)}",
        f"cold_pass_s $coldS%.4f (${cold.size} queries, stride $Stride)",
        s"warm_pass_s ${Stats.describe(warmTotals)}",
        s"query_p50_s / tail per query ${Stats.describe(perQuery)}",
        f"memo builds cold $coldBuilds ($coldBuildS%.3f s), warm $warmBuilds ($warmBuildS%.3f s)",
        f"cached_mb $cached%.3f")
      Seq(Metric("setup_s", Stats.median(setups), "s"),
        Metric("first_s", coldS, "s"),
        Metric("repeat_s", Stats.median(warmTotals), "s"))
    } else traced(spark, ctx, dir, names, want, warm.toSeq, warmTotals) ++ Seq(
      Metric("memo.builds", coldBuilds.toDouble, "count"),
      Metric("memo.build_s", coldBuildS, "s"),
      Metric("memo.cached_mb", cached, "MB"),
      Metric("suite.query_p50_s", Stats.median(perQuery), "s"),
      Metric("suite.query_p75_s", Stats.quantile(perQuery, 0.75), "s"))
  }

  private def traced(spark: SparkSession, ctx: Ctx, dir: String, names: Seq[String],
      want: Map[String, Long], warm: Seq[Seq[(String, Double)]], warmTotals: Seq[Double]): Seq[Metric] = {
    val tracer = new Tracer(spark)
    var analysis, optimization, planning = 0.0
    def phase(t: org.apache.spark.sql.catalyst.QueryPlanningTracker, p: String): Double =
      t.phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    val (_, tracedS) = Engine.seconds(names.foreach { n =>
      val fn = SparkEntry.queries(n)
      ctx.ledger.op(s"traced $n") {
        val df = tracer.span(s"construct:$n")(fn(spark, dir))
        val counted = df.groupBy().count()
        val plan = counted.queryExecution
        tracer.span(s"plan:$n")(plan.executedPlan)
        val rows = tracer.span(s"exec:$n")(counted.collect().head.getLong(0))
        ctx.ledger.check(s"traced $n rows", want.get(n).contains(rows), s"got $rows want ${want.get(n)}")
        analysis += phase(df.queryExecution.tracker, "analysis") + phase(plan.tracker, "analysis")
        optimization += phase(plan.tracker, "optimization")
        planning += phase(plan.tracker, "planning")
      }
    })
    val after = pass(spark, ctx, dir, names, want, "after").map(_._2).sum
    val construct = tracer.work("construct")
    val exec = tracer.work("exec")
    val medianPerQuery = warm.flatten.groupBy(_._1).map { case (n, xs) => n -> Stats.median(xs.map(_._2)) }
    val families = Families.map { case (f, _) =>
      Metric(s"suite.$f.s", medianPerQuery.collect { case (n, s) if familyOf.get(n).contains(f) => s }.sum, "s")
    }
    Report.writeTrace(tracer, ctx)
    Seq(
      Metric("queries.construct.s", tracer.seconds("construct"), "s"),
      Metric("queries.construct.jobs", construct.jobs.toDouble, "count"),
      Metric("engine.analysis.s", analysis, "s"),
      Metric("engine.optimization.s", optimization, "s"),
      Metric("engine.planning.s", planning, "s"),
      Metric("engine.exec.s", tracer.seconds("exec"), "s"),
      Metric("exec.tasks", exec.tasks.toDouble, "count"),
      Metric("exec.input_mb", exec.inputBytes / 1e6, "MB"),
      Metric("exec.shuffle_mb", exec.shuffleBytes / 1e6, "MB"),
      Metric("exec.spill_mb", exec.spillBytes / 1e6, "MB"),
      Metric("trace.overhead_frac", Report.overhead(Seq(Some(warmTotals.last)), Seq(Some(tracedS)),
        Seq(Some(after))), "ratio")) ++ families
  }

  /** Counts every registered query once over the sf0.01 tables and writes
    * `expected_counts.tsv`; run on a commit that passes the oracle gate. */
  def record(ctx: Ctx): Unit = {
    val dir = dataDir(ctx)
    val spark = Engine.session(ctx.work)
    setup(spark, dir)
    val lines = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      val (rows, s) = Engine.seconds(SparkEntry.queries(n)(spark, dir).count())
      val (_, w) = Engine.seconds(SparkEntry.queries(n)(spark, dir).count())
      System.err.println(f"[perfbench] record $n rows=$rows cold=$s%.3f warm=$w%.3f")
      s"$n\t$rows"
    }
    Files.write(expectedFile(ctx), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
