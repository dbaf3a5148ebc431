package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.util.Random

/** One generated change point: `day` and `price` are the reference's
  * nullable columns, `ord` the ingest order that breaks same-day ties. */
final case class Change(id: Long, day: Option[Int], price: Int, ord: Int)

/** One catalog product definition as the reference's API page lists it. */
final case class Product(id: Long, category: String, age: String, duration: String)

/** A generated ETL input: the catalog (written out as page JSON) and the
  * change-point log. */
final case class EtlInput(products: Seq[Product], changes: Seq[Change]) {
  def pageCount: Int = (products.size + Gen.PerPage - 1) / Gen.PerPage

  /** Writes one `{"data": [...]}` page per `Gen.PerPage` definitions, each
    * definition under its own category object, as the reference's
    * `GET /api/products/admin/?page=N` returns them. */
  def writePages(dir: Path): Unit = {
    Files.createDirectories(dir)
    products.grouped(Gen.PerPage).zipWithIndex.foreach { case (page, i) =>
      val body = page.map { p =>
        s"""{"name": "${p.category}", "productDefinitions": [{"id": ${p.id}, """ +
          s""""attributes": {"age": {"value": "${p.age}"}, """ +
          s""""duration": {"value": "${p.duration}"}}}]}"""
      }.mkString("{\"data\": [\n", ",\n", "]}\n")
      Files.write(dir.resolve(f"page-$i%05d.json"), body.getBytes(StandardCharsets.UTF_8))
    }
  }
}

/** Seeded generator of pipeline inputs. Sizes are exact for every seed
  * (product count, changes per product, the `small_child` share) so that
  * seeds vary the values, not the amount of work. The edge cases are the
  * reference's: `small_child` definitions (dropped from the catalog but
  * still present in the change log, so their grid rows are computed and
  * then discarded by the pricing join), pre-season seeds, same-day
  * duplicates resolved by ingest order, null days and post-season
  * changes. */
object Gen {
  val SeasonStart: LocalDate = LocalDate.parse("2025-12-13")
  val SeasonEnd: LocalDate = LocalDate.parse("2026-04-12")
  /** Definitions per catalog page; each page is one input partition. */
  val PerPage = 250
  private val Categories = Seq("skitickets", "wintercard", "parking", "rental", "lessons")
  private val Ages = Seq("adult", "child", "senior")
  private val Durations = Seq("4h", "1d", "2d", "3d", "6d", "13d")

  def apply(products: Int, changesPerProduct: Int, seed: Long): EtlInput = {
    val rnd = new Random(seed)
    val ids = (0 until products).map(i => 100000L + i)
    // exactly one third small_child, spread by the seed
    val smallChild = rnd.shuffle(ids.indices.toVector).take(products / 3).toSet
    val catalog = ids.zipWithIndex.map { case (id, i) =>
      Product(id, Categories(rnd.nextInt(Categories.size)),
        if (smallChild(i)) "small_child" else Ages(rnd.nextInt(Ages.size)),
        Durations(rnd.nextInt(Durations.size)))
    }
    val start = SeasonStart.toEpochDay.toInt
    val seasonDays = (SeasonEnd.toEpochDay - SeasonStart.toEpochDay).toInt + 1
    val raw = ids.flatMap { id =>
      var prev = start
      (0 until changesPerProduct).map { k =>
        val day =
          if (k == 0 && rnd.nextDouble() < 0.5) start - 1 - rnd.nextInt(20) // pre-season seed
          else if (k > 0 && rnd.nextDouble() < 0.1) prev                     // same-day duplicate
          else start + rnd.nextInt(seasonDays + 10)                          // in season, or after it
        prev = day
        (id, if (rnd.nextDouble() < 0.03) None else Some(day), 1000 + 10 * rnd.nextInt(2000))
      }
    }
    // ingest order is a permutation, so same-day ties are not resolved by
    // generation order
    val ords = rnd.shuffle((0 until raw.size).toVector)
    val changes = raw.zip(ords).map { case ((id, day, price), ord) => Change(id, day, price, ord) }
    EtlInput(catalog, changes)
  }

  /** The `PricenowPipelineSpec` fixture: one adult 1-day ticket seeded
    * before the season, a `small_child` definition that must be dropped,
    * and a 13-day card whose first change comes late (leading gap). */
  val fixture: EtlInput = {
    def d(s: String) = Some(LocalDate.parse(s).toEpochDay.toInt)
    EtlInput(
      Seq(Product(101, "skitickets", "adult", "1d"),
        Product(103, "skitickets", "small_child", "1d"),
        Product(201, "wintercard", "adult", "13d")),
      Seq(Change(101, d("2025-12-01"), 5000, 1), Change(101, d("2026-01-10"), 6500, 2),
        Change(201, d("2026-04-01"), 9000, 3)))
  }
}

/** Aggregates of one table slice that the checks compare exactly. */
final case class Agg(rows: Long, priceSum: Long, active: Long)

/** A priced grid row of the model. */
final case class PriceRow(id: Long, day: Int, price: Int, active: Boolean)

/** Plain-Scala model of the pipeline's output: LOCF onto the daily season
  * grid, the `small_child` catalog filter, the duration parse and the
  * piecewise days-remaining rule, written independently of the Spark
  * operators it checks. */
final class Model(input: EtlInput) {
  import Gen.{SeasonEnd, SeasonStart}
  private val start = SeasonStart.toEpochDay.toInt
  private val end = SeasonEnd.toEpochDay.toInt

  /** Catalog rows that survive the `small_child` filter. */
  val catalog: Seq[Product] = input.products.filter(_.age != "small_child")

  private def durationDays(d: String): Int = if (d == "4h") 1 else d.replace("d", "").toInt

  private def daysRemaining(day: Int): Int = {
    val twoDay = start // 2025-12-13
    val oneDay = start + 1 // 2025-12-14
    val reopen = LocalDate.parse("2025-12-19").toEpochDay.toInt
    if (day == twoDay) 2 else if (day == oneDay) 1
    else if (day > oneDay && day < reopen) 0
    else end - day + 1
  }

  /** Forward-filled grid per id, every id of the change log. */
  val grid: Map[Long, IndexedSeq[(Int, Int)]] =
    input.changes.filter(c => c.day.exists(_ <= end)).groupBy(_.id).map { case (id, cs) =>
      val sorted = cs.sortBy(c => (c.day.get, c.ord)).toIndexedSeq
      val first = math.max(start, sorted.head.day.get)
      var p = 0
      var value = 0
      id -> (first to end).map { day =>
        while (p < sorted.size && sorted(p).day.get <= day) { value = sorted(p).price; p += 1 }
        (day, value)
      }
    }

  val gridRows: Long = grid.valuesIterator.map(_.size.toLong).sum

  val prices: Seq[PriceRow] = catalog.flatMap { p =>
    val dur = durationDays(p.duration)
    grid.getOrElse(p.id, IndexedSeq.empty).map { case (day, price) =>
      PriceRow(p.id, day, price, daysRemaining(day) >= dur)
    }
  }

  val months: Seq[String] = {
    val first = SeasonStart.withDayOfMonth(1)
    Iterator.iterate(first)(_.plusMonths(1)).takeWhile(!_.isAfter(SeasonEnd))
      .map(_.toString.take(7)).toSeq
  }

  private def agg(rows: Seq[PriceRow]) =
    Agg(rows.size.toLong, rows.map(_.price.toLong).sum, rows.count(_.active).toLong)

  val total: Agg = agg(prices)

  val byMonth: Map[String, Agg] = {
    val m = prices.groupBy(r => LocalDate.ofEpochDay(r.day).toString.take(7))
      .map { case (k, rs) => k -> agg(rs) }
    months.map(k => k -> m.getOrElse(k, Agg(0, 0, 0))).toMap
  }

  val productIdSum: Long = catalog.map(_.id).sum
}
