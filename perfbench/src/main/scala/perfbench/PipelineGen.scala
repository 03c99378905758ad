package perfbench

import java.time.LocalDate

/** One product definition as it appears in a catalog page. `id = None`
  * writes a definition without an id, which the catalog source drops. */
final case class Definition(id: Option[Long], category: String, age: String, duration: String)

/** One price change point: `day` is an epoch day, `ord` the ingest order
  * that breaks same-day ties (the last in `ord` wins). */
final case class Change(productId: Long, day: Option[Int], price: Option[Int], ord: Int)

/** Generated inputs of one pipeline workload: the catalog page payloads,
  * the definitions they encode, the first-run change points and the rerun
  * change points (the first run's plus a re-pricing of some products). */
final case class PipelineInput(
    pages: Seq[String], defs: Seq[Definition],
    changes: Seq[Change], rerunChanges: Seq[Change])

/** Seeded generator of Pricenow-shaped inputs. It never calls into the
  * engine: the pipeline under test only ever sees the files and frames
  * built from what this returns.
  *
  * Every seed contains `small_child` definitions (dropped by the catalog
  * filter), definitions without an id, pre-season seed prices, late first
  * changes, same-day ties listed against `ord` order, null prices and
  * days, changes after the season end and changes for ids missing from
  * the catalog.
  */
object PipelineGen {
  val SeasonStart: LocalDate = LocalDate.parse("2025-12-13")
  val SeasonEnd: LocalDate = LocalDate.parse("2026-04-12")
  val Categories: Seq[String] = Seq("skitickets", "wintercard", "parking", "lessons", "rental")
  val Ages: Seq[String] = Seq("adult", "child", "senior", "youth")
  val Durations: Seq[String] = Seq("4h", "1d", "2d", "3d", "6d", "13d")

  private val start = SeasonStart.toEpochDay.toInt
  private val end = SeasonEnd.toEpochDay.toInt

  def generate(seed: Long, products: Int, pageRows: Int): PipelineInput = {
    require(products >= 4 && pageRows >= 1)
    val rnd = new scala.util.Random(seed)
    // disjoint 7-wide slots keep ids unique without a set
    val ids = (0 until products).map(i => 100000L + i * 7L + rnd.nextInt(7))
    val defs = ids.zipWithIndex.map { case (id, i) =>
      // product 0 is always small_child so every seed exercises the filter
      val age = if (i == 0 || rnd.nextDouble() < 0.1) "small_child"
        else Ages(rnd.nextInt(Ages.size))
      Definition(Some(id), Categories(rnd.nextInt(Categories.size)), age,
        Durations(rnd.nextInt(Durations.size)))
    }
    val idless = (0 until (products / 100).max(1)).map(_ =>
      Definition(None, Categories(rnd.nextInt(Categories.size)), "adult", "1d"))
    val allDefs = rnd.shuffle(defs ++ idless)

    var ord = 0
    def nextOrd(): Int = { ord += 1; ord }
    def price(): Int = 1000 + rnd.nextInt(90) * 100
    val changes = ids.zipWithIndex.flatMap { case (id, i) =>
      val first =
        if (rnd.nextBoolean()) start - 1 - rnd.nextInt(40) // pre-season seed
        else start + rnd.nextInt(110)                      // late first change
      val later = Seq.fill(rnd.nextInt(4))(first + 1 + rnd.nextInt((end + 5 - first).max(1)))
      val base = (first +: later).map(d => Change(id, Some(d), Some(price()), nextOrd()))
      // product 1 always carries a same-day tie; about 5% of the others too.
      // The winner (higher ord) is listed first so row order cannot decide.
      val tie = if (i == 1 || rnd.nextDouble() < 0.05) {
        val d = base.last.day.get
        val lo = nextOrd(); val hi = nextOrd()
        Seq(Change(id, Some(d), Some(price()), hi), Change(id, Some(d), Some(price()), lo))
      } else Nil
      val junk =
        if (rnd.nextDouble() < 0.02) Seq(Change(id, Some(start + rnd.nextInt(100)), None, nextOrd()))
        else if (rnd.nextDouble() < 0.02) Seq(Change(id, None, Some(price()), nextOrd()))
        else Nil
      base ++ tie ++ junk
    }
    val strangers = (0 until (products / 50).max(1)).map(k =>
      Change(50000L + k, Some(start + rnd.nextInt(100)), Some(price()), nextOrd()))
    val firstRun = rnd.shuffle(changes ++ strangers)

    // the rerun re-prices a tenth of the products
    val repriced = rnd.shuffle(ids).take((products / 10).max(1))
    val extra = repriced.map(id => Change(id, Some(start + rnd.nextInt(end - start + 1)), Some(price()), nextOrd()))

    PipelineInput(pages(allDefs, pageRows), allDefs, firstRun, firstRun ++ extra)
  }

  /** Page payloads of `pageRows` definitions each. Consecutive definitions
    * of one category share a product object; the envelope rotates through
    * the `data`/`items`/`results` wrappers and a bare array. */
  def pages(defs: Seq[Definition], pageRows: Int): Seq[String] =
    defs.grouped(pageRows).zipWithIndex.map { case (page, p) =>
      val products = groupRuns(page).map { case (cat, ds) =>
        val pds = ds.map { d =>
          val id = d.id.map(v => s""""id": $v, """).getOrElse("")
          s"""{$id"attributes": {"age": {"value": "${d.age}"}, "duration": {"value": "${d.duration}"}}}"""
        }
        s"""{"name": "$cat", "productDefinitions": [${pds.mkString(", ")}]}"""
      }.mkString("[", ",\n ", "]")
      p % 4 match {
        case 0 => s"""{"data": $products}"""
        case 1 => s"""{"items": $products, "page": $p}"""
        case 2 => s"""{"results": $products}"""
        case _ => products
      }
    }.toSeq

  private def groupRuns(ds: Seq[Definition]): Seq[(String, Seq[Definition])] =
    ds.foldLeft(Vector.empty[(String, Vector[Definition])]) {
      case (acc :+ ((c, run)), d) if c == d.category => acc :+ (c -> (run :+ d))
      case (acc, d) => acc :+ (d.category -> Vector(d))
    }
}
