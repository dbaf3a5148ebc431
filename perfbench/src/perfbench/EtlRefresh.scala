package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.PricenowPipeline
import graft.sink.PartitionedParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Timings of one refresh cycle: all season months, then `month`. */
final case class RefreshCycle(all: Option[Double], one: Option[Double], month: String)

/** The parquet half of the `etl` workload: `PricenowPipeline.refreshMonths`
  * into month-partitioned parquet under `fact`. */
final class EtlRefresh(spark: SparkSession, ctx: Ctx, model: Model, pages: String, changes: DataFrame,
    fact: Path) {
  import EtlRefresh._

  // the one-month refreshes rotate through the months in calendar order, so
  // every seed refreshes the same months
  private var cycles = 0

  /** Refreshes all months, then one, with `refresh`; checks both against
    * the model and checks that the one-month refresh left the other
    * months' files untouched. */
  def cycle(refresh: (String, Seq[String]) => Unit): RefreshCycle = {
    val months = model.months
    System.gc()
    val all = ctx.ledger.op("refresh all")(Engine.seconds(refresh("all", months))._2)
    checkMonths(spark, ctx.ledger, fact.toString, months, model, "after refresh all")
    val m = months(cycles % months.size)
    cycles += 1
    val others = months.filterNot(_ == m)
    val before = files(fact, others)
    System.gc()
    val one = ctx.ledger.op(s"refresh $m")(Engine.seconds(refresh("month", Seq(m)))._2)
    checkMonths(spark, ctx.ledger, fact.toString, Seq(m), model, "after refresh month")
    ctx.ledger.check(s"refresh $m leaves other months' files untouched",
      files(fact, others) == before && before.nonEmpty)
    RefreshCycle(all, one, m)
  }

  /** The real pipeline. */
  def run(phase: String, months: Seq[String]): Unit =
    PricenowPipeline.refreshMonths(spark, pages, changes, config, fact.toString, months)

  /** `refreshMonths` recomposed from its public steps on the same lazy
    * frames, one span per call: catalog, prices, the emptiness guard over
    * the checkpointed slice, and the parquet write. */
  def composed(tracer: Tracer)(phase: String, months: Seq[String]): Unit = tracer.span(phase) {
    val cat = tracer.span(s"$phase/sources.catalog:construct")(PricenowPipeline.products(spark, pages, config))
    val pr = tracer.span(s"$phase/ops.prices:construct")(PricenowPipeline.prices(changes, cat, config))
      .filter(date_format(col("valid_from"), "yyyy-MM").isin(months: _*))
      .localCheckpoint(false)
    val produced = tracer.span(s"$phase/refresh.guard")(
      pr.select(date_format(col("valid_from"), "yyyy-MM")).distinct().collect().map(_.getString(0)).toSet)
    require(months.forall(produced), s"no rows for ${months.filterNot(produced)}")
    tracer.span(s"$phase/sink.parquet:write")(PartitionedParquet.writeByMonth(pr, "valid_from", fact.toString))
  }

  /** The sink alone: the checkpointed price table written by month into an
    * empty directory; and the share of computed grid rows that the last
    * one-month refresh wrote. */
  def isolatedSink(tracer: Tracer, gridRows: Long, lastMonth: String): Seq[Metric] = {
    val out = ctx.work.resolve("isolated-fact")
    val priced = PricenowPipeline.prices(changes, PricenowPipeline.products(spark, pages, config), config)
      .localCheckpoint(true)
    ctx.ledger.op("sink.parquet")(tracer.span("sink.parquet")(
      PartitionedParquet.writeByMonth(priced, "valid_from", out.toString)))
    checkMonths(spark, ctx.ledger, out.toString, model.months, model, "isolated parquet sink")
    val written = Files.walk(out).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
    val partitions = Files.list(out).iterator().asScala.count(_.getFileName.toString.startsWith("part_month="))
    Seq(
      Metric("sink.parquet.s", tracer.seconds("sink.parquet"), "s"),
      Metric("sink.parquet.files", written.size.toDouble, "count"),
      Metric("sink.parquet.mb", written.map(Files.size(_)).sum / 1e6, "MB"),
      Metric("sink.parquet.partitions", partitions.toDouble, "count"),
      Metric("refresh.written_ratio", model.byMonth(lastMonth).rows.toDouble / math.max(1L, gridRows), "ratio"))
  }
}

object EtlRefresh {
  private def config = EtlJdbc.config("unused")

  /** Reads each month back through `readMonth` and compares it with the
    * model. */
  def checkMonths(spark: SparkSession, ledger: Ledger, fact: String, months: Seq[String],
      model: Model, label: String): Unit = months.foreach { m =>
    val got = ledger.op(s"$label read $m") {
      val r = PartitionedParquet.readMonth(spark, fact, m)
        .agg(count(lit(1)), sum(col("price").cast("long")), sum(when(col("active"), 1L).otherwise(0L)))
        .head()
      Agg(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    got.foreach(g => ledger.check(s"$label month $m", g == model.byMonth(m), s"got $g want ${model.byMonth(m)}"))
  }

  /** (relative path, size, mtime) of every file under the partitions of
    * `months`. */
  private def files(fact: Path, months: Seq[String]): Set[(String, Long, Long)] =
    months.flatMap { m =>
      val dir = fact.resolve(s"part_month=$m")
      if (!Files.isDirectory(dir)) Nil
      else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        (fact.relativize(f).toString, Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toSeq
    }.toSet

  /** Refreshes the `PricenowPipelineSpec` fixture and compares every month
    * with the model. */
  def fixtureCheck(spark: SparkSession, ctx: Ctx): Unit = {
    val model = new Model(Gen.fixture)
    val pages = ctx.work.resolve("fixture-pages")
    Gen.fixture.writePages(pages)
    val fact = ctx.work.resolve("fixture-fact").toString
    ctx.ledger.op("fixture refresh") {
      PricenowPipeline.refreshMonths(spark, pages.toString, Inputs.changes(spark, Gen.fixture),
        config, fact, model.months)
    }
    checkMonths(spark, ctx.ledger, fact, model.months, model, "fixture")
    ctx.ledger.check("fixture model has the spec's 133 rows", model.total.rows == 133)
  }
}
