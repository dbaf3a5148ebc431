package perfbench

import java.nio.file.Path

import graft.PricenowPipeline
import graft.ops.{ForwardFill, PricenowPricing}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Spark frames of the generated inputs. */
object Inputs {
  private val schema = StructType(Seq(
    StructField("product_id", LongType, nullable = false),
    StructField("day", IntegerType),
    StructField("price", IntegerType, nullable = false),
    StructField("ord", IntegerType, nullable = false)))

  /** The change log in the pipeline's shape: (product_id, valid_at DATE,
    * price, ord). */
  def changes(spark: SparkSession, input: EtlInput): DataFrame = {
    val rows = input.changes.map(c => Row(c.id, c.day.map(Int.box).orNull, c.price, c.ord))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .selectExpr("product_id", "date_from_unix_date(day) AS valid_at", "price", "ord")
  }

  /** The change log written once to parquet and read back, as a stored log
    * would be. Not part of any timed step. */
  def changesFromParquet(spark: SparkSession, input: EtlInput, path: Path): DataFrame = {
    changes(spark, input).write.mode("overwrite").parquet(path.toString)
    spark.read.parquet(path.toString)
  }
}

/** Isolated cost of each ETL layer: each public call timed once on a
  * materialized input, so that the layer's own work is not mixed with the
  * recompute of the frames it reads. */
final case class Layers(gridRows: Long, metrics: Seq[Metric])

object Layers {
  def isolated(spark: SparkSession, tracer: Tracer, ctx: Ctx, input: EtlInput, pages: String,
      changes: DataFrame): Layers = {
    val cfg = EtlJdbc.config("unused")
    val cat = PricenowPipeline.products(spark, pages, cfg)
    val catRows = ctx.ledger.op("sources.catalog")(tracer.span("sources.catalog")(cat.count())).getOrElse(0L)

    val changesMat = changes.localCheckpoint(true)
    val grid = ForwardFill.dailyGrid(changesMat, "product_id", "valid_at", "price",
        tieBreak = Seq("ord"), start = cfg.seasonStart, end = cfg.seasonEnd)
      .withColumnRenamed("valid_at", "valid_from")
    val gridRows = ctx.ledger.op("ops.forward_fill")(tracer.span("ops.forward_fill")(grid.count()))
      .getOrElse(0L)
    val ff = tracer.work("ops.forward_fill")

    val gridMat = grid.localCheckpoint(true)
    val catMat = cat.select("product_id", "duration_days").localCheckpoint(true)
    val priced = ctx.ledger.op("ops.pricing")(tracer.span("ops.pricing")(
      PricenowPricing.priceTable(gridMat, catMat, "valid_from", cfg.seasonEnd, cfg.updatedAt).count()))
      .getOrElse(0L)
    val model = new Model(input)
    ctx.ledger.check("isolated layer row counts match the model",
      catRows == model.catalog.size && gridRows == model.gridRows && priced == model.total.rows,
      s"catalog $catRows grid $gridRows priced $priced")

    Layers(gridRows, Seq(
      Metric("sources.catalog.s", tracer.seconds("sources.catalog"), "s"),
      Metric("sources.catalog.pages", input.pageCount.toDouble, "count"),
      Metric("sources.catalog.rows_out", catRows.toDouble, "count"),
      Metric("ops.forward_fill.s", tracer.seconds("ops.forward_fill"), "s"),
      Metric("ops.forward_fill.rows_in", input.changes.size.toDouble, "count"),
      Metric("ops.forward_fill.rows_out", gridRows.toDouble, "count"),
      Metric("ops.forward_fill.shuffle_mb", ff.shuffleBytes / 1e6, "MB"),
      Metric("ops.forward_fill.spill_mb", ff.spillBytes / 1e6, "MB"),
      Metric("ops.forward_fill.useful_ratio", priced.toDouble / math.max(1L, gridRows), "ratio"),
      Metric("ops.pricing.s", tracer.seconds("ops.pricing"), "s"),
      Metric("ops.pricing.rows_out", priced.toDouble, "count")))
  }
}
