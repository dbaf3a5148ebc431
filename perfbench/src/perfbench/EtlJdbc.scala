package perfbench

import java.sql.{Connection, DriverManager, SQLException}

import graft.PricenowPipeline
import graft.ops.Validation
import graft.sink.JdbcUpsert
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Timings and sink counts of one JDBC cycle: a first load into empty
  * tables (insert path) and a rerun of the same input (update path). */
final case class JdbcCycle(first: Option[Double], rerun: Option[Double], insert: JdbcCounts,
    update: JdbcCounts)

/** The JDBC half of the `etl` workload: `PricenowPipeline.run` into
  * in-memory Derby with the settings of `PricenowPipelineSpec` (generic
  * UPDATE-then-INSERT dialect, one writer). */
final class EtlJdbc(spark: SparkSession, ctx: Ctx, model: Model, pages: String, changes: DataFrame) {
  import EtlJdbc._

  private def timed(db: String, what: String)(load: PricenowPipeline.Config => Unit)
      : (Option[Double], JdbcCounts) = {
    val c0 = CountingDriver.counts
    System.gc()
    val s = ctx.ledger.op(s"$what $db")(Engine.seconds(load(config(db)))._2)
    checkDb(ctx.ledger, db, model, s"$what $db")
    (s, CountingDriver.counts - c0)
  }

  /** A first load into a new database `db` and a rerun, each checked
    * against the model; `load` runs the pipeline for a phase. */
  def cycle(db: String)(load: (String, PricenowPipeline.Config) => Unit): JdbcCycle = {
    createDb(db)
    try {
      val (first, ins) = timed(db, "first load")(load("first_load", _))
      val (rerun, upd) = timed(db, "rerun")(load("rerun", _))
      JdbcCycle(first, rerun, ins, upd)
    } finally dropDb(db)
  }

  /** The real pipeline. */
  def run(phase: String, cfg: PricenowPipeline.Config): Unit =
    PricenowPipeline.run(spark, pages, changes, cfg)

  /** `PricenowPipeline.run` recomposed from its public steps in the same
    * order and on the same lazy frames, one span per call, so a recompute
    * shows in the span where it happens. */
  def composed(tracer: Tracer)(phase: String, cfg: PricenowPipeline.Config): Unit =
    tracer.span(phase) {
      val cat = tracer.span(s"$phase/sources.catalog:construct")(PricenowPipeline.products(spark, pages, cfg))
      val pr = tracer.span(s"$phase/ops.prices:construct")(PricenowPipeline.prices(changes, cat, cfg))
      val prods = cat.select("product_id", "category", "age", "duration", "updated_at")
      tracer.span(s"$phase/ops.validation:products")(Validation.requireNonNull(prods, Seq("product_id")))
      tracer.span(s"$phase/ops.validation:prices")(
        Validation.requireNonNull(pr, Seq("product_id", "valid_from")))
      tracer.span(s"$phase/sink.jdbc:prices")(upsertPrices(pr, cfg))
      tracer.span(s"$phase/sink.jdbc:products")(upsertProducts(prods, cfg))
    }

  /** The sink alone (both tables, checkpointed, upserted into empty tables
    * and then again), plus the validation spans of the traced first load. */
  def isolatedSink(tracer: Tracer): Seq[Metric] = {
    val cfg = config("isolated")
    val catalog = PricenowPipeline.products(spark, pages, cfg)
    val prices = PricenowPipeline.prices(changes, catalog, cfg).localCheckpoint(true)
    val products = catalog.select("product_id", "category", "age", "duration", "updated_at")
      .localCheckpoint(true)
    var failed = 0
    val c0 = CountingDriver.counts
    cycle("isolated") { (phase, cfg) =>
      val ok = ctx.ledger.op(s"sink.jdbc.$phase")(tracer.span(s"sink.jdbc.$phase") {
        upsertPrices(prices, cfg)
        upsertProducts(products, cfg)
      })
      if (ok.isEmpty) failed += 1
    }
    val sink = CountingDriver.counts - c0
    val validation = tracer.work("first_load/ops.validation")
    Seq(
      Metric("ops.validation.s", tracer.seconds("first_load/ops.validation"), "s"),
      Metric("ops.validation.jobs", validation.jobs.toDouble, "count"),
      Metric("ops.validation.records_read", validation.recordsRead.toDouble, "count"),
      Metric("sink.jdbc.insert_s", tracer.seconds("sink.jdbc.first_load"), "s"),
      Metric("sink.jdbc.update_s", tracer.seconds("sink.jdbc.rerun"), "s"),
      Metric("sink.jdbc.rows", sink.rows.toDouble, "count"),
      Metric("sink.jdbc.round_trips", sink.roundTrips.toDouble, "count"),
      Metric("sink.jdbc.commits", sink.commits.toDouble, "count"),
      Metric("sink.jdbc.rows_per_round_trip", sink.rows.toDouble / math.max(1L, sink.roundTrips), "ratio"),
      Metric("sink.jdbc.failed", failed.toDouble, "count"))
  }
}

object EtlJdbc {
  val Stamp = "2026-04-01 06:00:00"

  private val Ddl = Seq(
    """CREATE TABLE pricenow_products (
      |  product_id BIGINT NOT NULL PRIMARY KEY, category VARCHAR(64),
      |  age VARCHAR(32), duration VARCHAR(8), updated_at TIMESTAMP)""".stripMargin,
    """CREATE TABLE pricenow_prices (
      |  product_id BIGINT NOT NULL, valid_from DATE NOT NULL,
      |  price INT, active BOOLEAN, updated_at TIMESTAMP,
      |  PRIMARY KEY (product_id, valid_from))""".stripMargin)

  private def url(db: String) = s"jdbc:derby:memory:$db"

  def createDb(db: String): Unit = {
    val c = DriverManager.getConnection(url(db) + ";create=true")
    try Ddl.foreach(c.createStatement().execute) finally c.close()
  }

  /** Drops an in-memory database if it exists. Derby reports a drop as
    * SQLState 08006 and a missing database as XJ004. */
  def dropDb(db: String): Unit =
    try DriverManager.getConnection(url(db) + ";drop=true").close()
    catch { case e: SQLException if Set("08006", "XJ004")(e.getSQLState) => () }

  /** Pipeline config writing through the counting driver. No durable
    * flush: the database is in memory and `JdbcUpsert` commits every
    * 1,000 rows plus once per partition. */
  def config(db: String): PricenowPipeline.Config =
    PricenowPipeline.Config(updatedAt = Stamp,
      jdbcUrl = CountingDriver.Prefix + s"derby:memory:$db",
      dialect = JdbcUpsert.Dialect.Generic, writePartitions = Some(1))

  private def upsertPrices(df: DataFrame, cfg: PricenowPipeline.Config): Unit =
    JdbcUpsert.upsert(df, cfg.jdbcUrl, cfg.pricesTable, Seq("product_id", "valid_from"), cfg.dialect,
      writePartitions = cfg.writePartitions)

  private def upsertProducts(df: DataFrame, cfg: PricenowPipeline.Config): Unit =
    JdbcUpsert.upsert(df, cfg.jdbcUrl, cfg.productsTable, Seq("product_id"), cfg.dialect,
      writePartitions = cfg.writePartitions)

  private def rows[T](c: Connection, sql: String)(f: java.sql.ResultSet => T): Seq[T] = {
    val rs = c.createStatement().executeQuery(sql)
    try Iterator.continually(rs).takeWhile(_.next()).map(f).toVector finally rs.close()
  }

  /** Compares both tables with the model: counts, sums, the active flag per
    * month and the single run stamp. */
  def checkDb(ledger: Ledger, db: String, model: Model, label: String): Unit = {
    val c = DriverManager.getConnection(url(db))
    try {
      val (n, idSum) = rows(c, "SELECT count(*), sum(product_id) FROM pricenow_products")(
        r => (r.getLong(1), r.getLong(2))).head
      ledger.check(s"$label products", n == model.catalog.size && idSum == model.productIdSum,
        s"got ($n, $idSum) want (${model.catalog.size}, ${model.productIdSum})")
      val months = rows(c,
        """SELECT YEAR(valid_from), MONTH(valid_from), count(*), sum(CAST(price AS BIGINT)),
          |  sum(CASE WHEN active THEN 1 ELSE 0 END)
          |FROM pricenow_prices GROUP BY YEAR(valid_from), MONTH(valid_from)""".stripMargin) { r =>
        f"${r.getInt(1)}%04d-${r.getInt(2)}%02d" -> Agg(r.getLong(3), r.getLong(4), r.getLong(5))
      }.toMap
      val want = model.byMonth.filter(_._2.rows > 0)
      ledger.check(s"$label prices by month", months == want, s"got $months want $want")
      val stamps = rows(c, "SELECT DISTINCT updated_at FROM pricenow_prices")(_.getTimestamp(1).toString)
      ledger.check(s"$label run stamp", stamps == Seq(Stamp + ".0"), s"got $stamps")
    } finally c.close()
  }

  /** Runs the pipeline on the `PricenowPipelineSpec` fixture and compares
    * every loaded row with the model. */
  def fixtureCheck(spark: SparkSession, ctx: Ctx): Unit = {
    val model = new Model(Gen.fixture)
    val pages = ctx.work.resolve("fixture-pages")
    Gen.fixture.writePages(pages)
    createDb("fixture")
    try {
      ctx.ledger.op("fixture run") {
        PricenowPipeline.run(spark, pages.toString, Inputs.changes(spark, Gen.fixture), config("fixture"))
      }
      val c = DriverManager.getConnection(url("fixture"))
      try {
        val got = rows(c, "SELECT product_id, valid_from, price, active FROM pricenow_prices")(r =>
          PriceRow(r.getLong(1), r.getDate(2).toLocalDate.toEpochDay.toInt, r.getInt(3), r.getBoolean(4))).toSet
        ctx.ledger.check("fixture rows match the model", got == model.prices.toSet && got.size == 133,
          s"got ${got.size} rows, model ${model.prices.size}")
      } finally c.close()
    } finally dropDb("fixture")
  }
}
