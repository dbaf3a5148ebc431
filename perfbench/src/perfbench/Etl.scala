package perfbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

/** `etl`: the reference's pipeline into both of its sinks. A cycle is a
  * first load into empty Derby tables, a rerun over them, a parquet refresh
  * of all season months and a refresh of one month. The JDBC half runs on a
  * small input, where the sink dominates; the refresh half on a larger one,
  * where forward fill, pricing and the parquet write do the work. */
object Etl {
  val JdbcProducts = 150
  val RefreshProducts = 1800
  val ChangesPerProduct = 6

  def run(ctx: Ctx): Seq[Metric] = {
    val jdbcInput = Gen(JdbcProducts, ChangesPerProduct, ctx.seed)
    val refreshInput = Gen(RefreshProducts, ChangesPerProduct, ctx.seed + 1)
    val jdbcModel = new Model(jdbcInput)
    val refreshModel = new Model(refreshInput)
    val jdbcPages = ctx.work.resolve("jdbc-pages")
    val refreshPages = ctx.work.resolve("refresh-pages")
    jdbcInput.writePages(jdbcPages)
    refreshInput.writePages(refreshPages)
    val fact = ctx.work.resolve("fact")
    CountingDriver.register()

    val (spark, setups) = Engine.repeatedSetup(ctx) { s =>
      s.range(0, 1000000).selectExpr("sum(id)").collect()
      EtlJdbc.dropDb("schema")
      EtlJdbc.createDb("schema")
      Files.createDirectories(fact)
    }
    EtlJdbc.dropDb("schema")
    EtlJdbc.fixtureCheck(spark, ctx)
    EtlRefresh.fixtureCheck(spark, ctx)
    val refreshChanges = Inputs.changesFromParquet(spark, refreshInput, ctx.work.resolve("refresh-changes"))
    val jdbc = new EtlJdbc(spark, ctx, jdbcModel, jdbcPages.toString,
      Inputs.changesFromParquet(spark, jdbcInput, ctx.work.resolve("jdbc-changes")))
    val refresh = new EtlRefresh(spark, ctx, refreshModel, refreshPages.toString, refreshChanges, fact)

    var cycles = 0
    def realCycle(): (JdbcCycle, RefreshCycle) = {
      cycles += 1
      (jdbc.cycle(s"db$cycles")(jdbc.run), refresh.cycle(refresh.run))
    }

    // one untimed cycle first: the timed cycles then run past the steep part
    // of the JIT's warm-up, where timings swing most with the machine's load
    realCycle()
    if (!ctx.trace) {
      val done = ArrayBuffer.empty[(JdbcCycle, RefreshCycle)]
      val deadline = System.nanoTime() + ctx.seconds * 1000000000L
      while (done.size < Engine.MinCycles || System.nanoTime() < deadline) done += realCycle()
      val counts = done.map { case (j, _) => (j.insert, j.update) }
      ctx.ledger.check("sink counts repeat every cycle", counts.distinct.size == 1, s"got ${counts.distinct}")
      val firsts = done.toSeq.flatMap { case (j, r) => for (a <- j.first; b <- r.all) yield a + b }
      val repeats = done.toSeq.flatMap { case (j, r) => for (a <- j.rerun; b <- r.one) yield a + b }
      Report.lines(
        s"setup_s ${Stats.describe(setups)}",
        s"first_s (first load + refresh all) ${Stats.describe(firsts)}",
        s"repeat_s (rerun + refresh one month) ${Stats.describe(repeats)}",
        s"first_load_s ${Stats.describe(done.toSeq.flatMap(_._1.first))}",
        s"rerun_s ${Stats.describe(done.toSeq.flatMap(_._1.rerun))}",
        s"refresh_all_s ${Stats.describe(done.toSeq.flatMap(_._2.all))}",
        s"refresh_month_s ${Stats.describe(done.toSeq.flatMap(_._2.one))}",
        s"jdbc insert path ${counts.head._1}; update path ${counts.head._2}",
        f"cached_mb ${Engine.cachedMb(spark)}%.3f",
        s"jdbc input: ${jdbcModel.catalog.size} catalog rows, ${jdbcModel.total.rows} price rows; " +
          s"refresh input: ${refreshModel.catalog.size} catalog rows, ${refreshModel.gridRows} grid rows, " +
          s"${refreshModel.total.rows} price rows")
      Seq(Metric("setup_s", Stats.median(setups), "s"),
        Metric("first_s", Stats.median(firsts), "s"),
        Metric("repeat_s", Stats.median(repeats), "s"))
    } else {
      def timings(c: (JdbcCycle, RefreshCycle)) = Seq(c._1.first, c._1.rerun, c._2.all, c._2.one)
      val before = realCycle()
      val tracer = new Tracer(spark)
      val traced = (jdbc.cycle("traced")(jdbc.composed(tracer)), refresh.cycle(refresh.composed(tracer)))
      val after = realCycle()
      val layers = Layers.isolated(spark, tracer, ctx, refreshInput, refreshPages.toString, refreshChanges)
      val metrics = layers.metrics ++ jdbc.isolatedSink(tracer) ++
        refresh.isolatedSink(tracer, layers.gridRows, traced._2.month) :+
        Metric("trace.overhead_frac", Report.overhead(timings(before), timings(traced), timings(after)), "ratio")
      Report.writeTrace(tracer, ctx)
      metrics
    }
  }
}
