package graft.perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator.
  *
  * Two layers, each cached on disk under a checksum:
  *
  *  - the BASE tables (`orders`, `lineitem`, `part`, `documents` as
  *    single-file parquet, the TPC-H-ish shape `RefShape` and the
  *    operator queries read). They depend only on the scale factor — the
  *    query workload's expected hashes are recorded against them. Their
  *    distributions are the ones measured on the project's reference
  *    tables by `perfbench/reference/shape.py` (figures committed there as
  *    `sf0.01.json` and `sf0.1.json`, the generated tables' own figures as
  *    `generated-sf*.json`);
  *  - the BATCHES of one pipeline workload: multi-part CSV in the
  *    pipeline's source format (`orders_partN.csv`, `order_items_partN.csv`,
  *    one standing `products.csv`) cut from the base orders by order date.
  *    The seed picks the cut, the part assignment, which days are
  *    re-delivered or made dirty, and the arrival jitter.
  *
  * Everything is a pure function of (sf, seed): the same arguments give
  * byte-identical files.
  */
object Gen {

  val BaseSeed = 42L
  val Parts = 4

  // ---- measured shape of the reference tables (reference/sf0.1.json) -----
  /** Order dates: uniform over 1995-01-01 .. 2001-08-01 at every SF, so a
    * day carries ~62 orders at sf0.1 (sd 7.9) and a trickle batch is one
    * day. */
  val Epoch: LocalDate = LocalDate.of(1995, 1, 1)
  val Days = 2405
  /** Line items: 4 per order, each on a uniform random order (so lines per
    * order are Poisson-like: mean 4.08, sd 1.94, 1.8 % of orders have
    * none) with a uniform line number 1..7 (24 % duplicate
    * (order, line) pairs) and a uniform random part. */
  val ItemsPerOrder = 4
  val LineNumbers = 7
  /** Ship date: uniform order-date range plus 1..95 days, independent of
    * the item's own order. */
  val ShipLagDays = 95
  /** Prices are independent of quantity and part: order totals uniform on
    * [1000, 500000), line prices on [900, 105000). */
  val TotalCents: (Long, Long) = (100000L, 50000000L)
  val LineCents: (Long, Long) = (90000L, 10500000L)
  /** Documents: 10..99 words from a 30-word vocabulary; 5 % are a copy of
    * another document with " dup" appended. */
  val DocWords: (Int, Int) = (10, 99)
  val DupTwinShare = 0.05
  /** Language shares: en 41 %, the other four ~14.7 % each. */
  private val Langs = Array("en", "de", "es", "fr", "zh")
  private val LangCum = Array(0.41, 0.5575, 0.705, 0.8525, 1.0)

  final case class Base(orderDay: Array[Int], orderCust: Array[Long],
      orderStatus: Array[Char], orderPriority: Array[Int],
      orderTotalCents: Array[Long], itemOrder: Array[Int],
      itemLine: Array[Int], itemPart: Array[Long], itemSupp: Array[Long],
      itemQty: Array[Int], itemCents: Array[Long], itemDisc: Array[Int],
      itemTax: Array[Int], itemFlag: Array[Char], itemLineStatus: Array[Char],
      itemShipDay: Array[Int], partType: Array[Int], partName: Array[String],
      partBrand: Array[Int], partSize: Array[Int], partCents: Array[Long],
      docText: Array[String], docLang: Array[String]) {
    def nOrders: Int = orderDay.length
    def nItems: Int = itemOrder.length
    def nParts: Int = partType.length
    /** A content hash: generated files are cached under it, so a changed
      * generator never reuses the old files. */
    lazy val digest: String = {
      import scala.util.hashing.MurmurHash3.{arrayHash, orderedHash}
      f"${orderedHash(productIterator.map {
        case a: Array[_] => arrayHash(a)
        case x => x.##
      })}%08x"
    }
    /** Item indices of each order, in item order. */
    lazy val itemsOf: Array[Array[Int]] = {
      val b = Array.fill(nOrders)(ArrayBuffer.empty[Int])
      itemOrder.indices.foreach(i => b(itemOrder(i)) += i)
      b.map(_.toArray)
    }
    lazy val ordersByDay: Array[Array[Int]] = {
      val b = Array.fill(Days)(ArrayBuffer.empty[Int])
      orderDay.indices.foreach(o => b(orderDay(o)) += o)
      b.map(_.toArray)
    }
  }

  val Types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW")
  private val Adjectives = Array("blue", "cold", "hot", "large", "new", "old",
    "red", "small")
  private val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring",
    "rod", "widget")
  private val Words = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Row counts per SF, as in the reference tables. */
  def sizes(sf: Double): (Int, Int, Int, Int, Int) = (
    (1500000 * sf).round.toInt,                 // orders
    math.max(200, (200000 * sf).round.toInt),   // parts
    math.max(1, (150000 * sf).round.toInt),     // customers
    math.max(10, (10000 * sf).round.toInt),     // suppliers
    math.max(500, (50000 * sf).round.toInt))    // documents

  def base(sf: Double): Base = {
    val r = new SplittableRandom(BaseSeed)
    val (nOrders, nParts, nCust, nSupp, nDocs) = sizes(sf)
    def between(lh: (Long, Long)): Long = lh._1 + r.nextLong(lh._2 - lh._1)

    val partType = Array.fill(nParts)(r.nextInt(Types.length))
    val partName = Array.fill(nParts)(
      s"${Adjectives(r.nextInt(Adjectives.length))} ${Nouns(r.nextInt(Nouns.length))}")
    val partBrand = Array.fill(nParts)(1 + r.nextInt(25))
    val partSize = Array.fill(nParts)(1 + r.nextInt(50))
    val partCents = Array.tabulate(nParts)(p => 90000L + (p % 1000) * 10L)

    val orderDay = Array.fill(nOrders)(r.nextInt(Days))
    val orderCust = Array.fill(nOrders)(r.nextLong(nCust.toLong))
    val orderStatus = Array.fill(nOrders)("FOP".charAt(r.nextInt(3)))
    val orderPriority = Array.fill(nOrders)(r.nextInt(Priorities.length))
    val orderTotalCents = Array.fill(nOrders)(between(TotalCents))

    val nItems = nOrders * ItemsPerOrder
    val itemOrder = Array.fill(nItems)(r.nextInt(nOrders))
    val itemLine = Array.fill(nItems)(1 + r.nextInt(LineNumbers))
    val itemPart = Array.fill(nItems)(r.nextLong(nParts.toLong))
    val itemSupp = Array.fill(nItems)(r.nextLong(nSupp.toLong))
    val itemQty = Array.fill(nItems)(1 + r.nextInt(50))
    val itemCents = Array.fill(nItems)(between(LineCents))
    // a uniform rate rounded to whole percents: the end values are half
    // as frequent, as measured
    val itemDisc = Array.fill(nItems)(math.round(r.nextDouble() * 10).toInt)
    val itemTax = Array.fill(nItems)(math.round(r.nextDouble() * 8).toInt)
    val itemFlag = Array.fill(nItems)("ANR".charAt(r.nextInt(3)))
    val itemLineStatus = Array.fill(nItems)("FO".charAt(r.nextInt(2)))
    val itemShipDay = Array.fill(nItems)(r.nextInt(Days) + 1 + r.nextInt(ShipLagDays))

    val docText = Array.fill(nDocs)(
      Array.fill(DocWords._1 + r.nextInt(DocWords._2 - DocWords._1 + 1))(
        Words(r.nextInt(Words.length))).mkString(" "))
    // near-duplicate twins: distinct docs, each rewritten in turn as a copy
    // of another doc plus " dup"
    val docs = Array.range(0, nDocs)
    for (i <- docs.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = docs(i); docs(i) = docs(j); docs(j) = t
    }
    docs.take(math.round(nDocs * DupTwinShare).toInt).foreach { d =>
      val src = (d + 1 + r.nextInt(nDocs - 1)) % nDocs
      docText(d) = docText(src) + " dup"
    }
    val docLang = Array.fill(nDocs) {
      val u = r.nextDouble(); Langs(LangCum.indexWhere(u < _))
    }

    Base(orderDay, orderCust, orderStatus, orderPriority, orderTotalCents,
      itemOrder, itemLine, itemPart, itemSupp, itemQty, itemCents, itemDisc,
      itemTax, itemFlag, itemLineStatus, itemShipDay, partType, partName,
      partBrand, partSize, partCents, docText, docLang)
  }

  def date(day: Int): String = Epoch.plusDays(day.toLong).toString
  private def money(cents: Long): String =
    f"${cents / 100}%d.${cents % 100}%02d"
  private def ts(day: Int): java.time.LocalDateTime =
    Epoch.plusDays(day.toLong).atStartOfDay()

  // ---- base tables as parquet -------------------------------------------

  /** Write the base tables as `<dir>/<table>.parquet` single files (the
    * layout the query bodies and the DuckDB oracle both read). */
  def writeBase(spark: SparkSession, b: Base, dir: Path): Unit = {
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = dir.resolve(s"_$name.tmp")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").option("compression", "snappy")
        .parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(s"$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Fs.deleteTree(tmp)
    }
    Files.createDirectories(dir)
    write("orders", StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, " +
      "o_orderpriority STRING"),
      (0 until b.nOrders).map { o =>
        Row(o.toLong, b.orderCust(o), b.orderStatus(o).toString,
          b.orderTotalCents(o) / 100.0, ts(b.orderDay(o)),
          Priorities(b.orderPriority(o)))
      })
    write("lineitem", StructType.fromDDL("l_orderkey BIGINT, l_partkey BIGINT, " +
      "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
      "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
      (0 until b.nItems).map { i =>
        Row(b.itemOrder(i).toLong, b.itemPart(i), b.itemSupp(i), b.itemLine(i),
          b.itemQty(i).toDouble, b.itemCents(i) / 100.0, b.itemDisc(i) / 100.0,
          b.itemTax(i) / 100.0, b.itemFlag(i).toString,
          b.itemLineStatus(i).toString, ts(b.itemShipDay(i)))
      })
    write("part", StructType.fromDDL("p_partkey BIGINT, p_name STRING, " +
      "p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE"),
      (0 until b.nParts).map { p =>
        Row(p.toLong, b.partName(p), s"Brand#${b.partBrand(p)}",
          Types(b.partType(p)), b.partSize(p), b.partCents(p) / 100.0)
      })
    write("documents", StructType.fromDDL("doc_id BIGINT, text STRING, " +
      "lang STRING, source STRING, n_chars BIGINT"),
      b.docText.indices.map { d =>
        Row(d.toLong, b.docText(d), b.docLang(d), s"src${d % 20}",
          b.docText(d).length.toLong)
      })
  }

  // ---- pipeline batches as reference CSV ---------------------------------

  sealed trait Kind { def name: String }
  case object Clean extends Kind { val name = "clean" }
  final case class Redelivery(of: Int) extends Kind { val name = "redelivery" }
  case object DirtyNull extends Kind { val name = "dirty_null" }
  case object DirtyRi extends Kind { val name = "dirty_ri" }

  /** One batch of the plan: the calendar days it carries, and how. */
  final case class BatchSpec(index: Int, days: Seq[Int], kind: Kind) {
    def expectedError: Option[String] = kind match {
      case DirtyNull => Some("NULL_VALIDATION_ERROR")
      case DirtyRi => Some("REFERENTIAL_ERROR")
      case _ => None
    }
  }

  /** `daily_bulk`: the whole day range cut into `n` contiguous batches at
    * seeded cut points (each cut within ±25% of an even split). */
  def bulkPlan(b: Base, n: Int, seed: Long): Seq[BatchSpec] = {
    val r = new SplittableRandom(seed)
    val step = Days.toDouble / n
    val cuts = 0 +: (1 until n).map { i =>
      (i * step + (r.nextDouble() - 0.5) * step / 2).toInt
    } :+ Days
    cuts.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) =>
      BatchSpec(i, lo until hi, Clean)
    }.toSeq
  }

  /** `trickle_late`: `n` single-day batches in a fixed shape — batch 1
    * carries a null `user_id`, the last batch an unknown `product_id`, and
    * every fifth batch from the fourth on re-delivers, byte for byte, the
    * clean batch three before it. The seed picks the days. */
  def tricklePlan(b: Base, n: Int, seed: Long): Seq[BatchSpec] = {
    require(n >= 4, "a trickle plan needs at least four batches")
    val days = shuffledDays(b, seed)
    (0 until n).foldLeft(Vector.empty[BatchSpec]) { (plan, i) =>
      plan :+ (
        if (i == 1) BatchSpec(i, Seq(days(i)), DirtyNull)
        else if (i == n - 1) BatchSpec(i, Seq(days(i)), DirtyRi)
        else if (i % 5 == 3 && plan(i - 3).kind == Clean)
          BatchSpec(i, plan(i - 3).days, Redelivery(i - 3))
        else BatchSpec(i, Seq(days(i)), Clean))
    }
  }

  /** `plan` behind `w` clean single-day batches for the untimed warm-up
    * (the plan's indices shift by `w`). The seed draws the warm-up days,
    * from the days the plan does not carry while there are enough. */
  def withWarmUp(b: Base, plan: Seq[BatchSpec], w: Int, seed: Long)
      : Seq[BatchSpec] = {
    val used = plan.flatMap(_.days).toSet
    val (free, taken) = shuffledDays(b, seed ^ 0x3A5EL).partition(!used(_))
    val warm = (free ++ taken).take(w).zipWithIndex.map { case (d, i) =>
      BatchSpec(i, Seq(d), Clean) }
    warm ++ plan.map { s =>
      BatchSpec(s.index + w, s.days, s.kind match {
        case Redelivery(of) => Redelivery(of + w)
        case k => k
      })
    }
  }

  /** Every day with at least one item, so every batch has rows to make
    * dirty, in a seeded order. */
  private def shuffledDays(b: Base, seed: Long): Array[Int] = {
    val r = new SplittableRandom(seed)
    val days = Array.range(0, Days)
      .filter(d => b.ordersByDay(d).exists(b.itemsOf(_).nonEmpty))
    for (i <- days.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = days(i); days(i) = days(j); days(j) = t
    }
    days
  }

  /** An arrival: one input file and its arrival instant (epoch seconds) on
    * a synthetic arrival date, the debounce group key. */
  final case class FileArrival(path: String, ts: Long, date: String)

  /** The debounce window the arrivals are cut for (seconds). */
  val WindowSec = 60L

  /** Write one batch plan's CSVs under `dir` and return the file arrivals
    * in arrival order. Batch k's files arrive on arrival date k within
    * one debounce window, jittered by the seed; the standing products file
    * arrives before all of them. Rows map from the base tables as
    * `RefShape` maps them (sale price = line price, returned = return flag
    * R), with the line item's row index as the item id. */
  def writeBatches(b: Base, plan: Seq[BatchSpec], dir: Path, seed: Long)
      : Seq[FileArrival] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    Files.createDirectories(dir)
    val arrivals = ArrayBuffer.empty[FileArrival]
    val products = dir.resolve("products.csv")
    writeCsv(products, "id,sku,cost,category,name,brand,retail_price,department",
      (0 until b.nParts).iterator.map { p =>
        s"$p,SKU-$p,${money(b.partCents(p) * 6 / 10)},${Types(b.partType(p))}," +
          s"${b.partName(p)},Brand#${b.partBrand(p)},${money(b.partCents(p))}," +
          (if (p % 2 == 0) "Women" else "Men")
      })
    val t0 = 1900000000L
    arrivals += FileArrival(products.toString, t0 - 3600, date(20000))
    plan.foreach { s =>
      val bdir = dir.resolve(f"b${s.index}%03d")
      Files.createDirectories(bdir)
      val orders = s.days.flatMap(d => b.ordersByDay(d)).sorted
      // the seed assigns each order (with its items) to one of the parts;
      // a re-delivery reuses its original's assignment (same bytes)
      val partSeed = s.kind match {
        case Redelivery(of) => seed * 1000003L + of
        case _ => seed * 1000003L + s.index
      }
      val pr = new SplittableRandom(partSeed)
      val part = orders.map(_ => pr.nextInt(Parts))
      val badOrder = if (s.kind == DirtyNull) orders(pr.nextInt(orders.size)) else -1
      val badItem = if (s.kind == DirtyRi) {
        val withItems = orders.filter(b.itemsOf(_).nonEmpty)
        b.itemsOf(withItems(pr.nextInt(withItems.size))).head
      } else -1
      val secs = pr.nextInt(86400)
      for (k <- 0 until Parts) {
        val mine = orders.indices.filter(i => part(i) == k).map(orders)
        val of = bdir.resolve(s"orders_part${k + 1}.csv")
        writeCsv(of, "order_id,user_id,status,created_at,returned_at," +
          "shipped_at,delivered_at,num_of_item", mine.iterator.map { o =>
            val n = b.itemsOf(o).length
            val user = if (o == badOrder) "" else b.orderCust(o).toString
            s"$o,$user,${statusOf(b.orderStatus(o))}," +
              s"${stamp(b.orderDay(o), secs + o % 3600)},,,,$n"
          })
        val itf = bdir.resolve(s"order_items_part${k + 1}.csv")
        writeCsv(itf, "id,order_id,user_id,product_id,status,created_at," +
          "shipped_at,delivered_at,returned_at,sale_price",
          mine.iterator.flatMap { o =>
            b.itemsOf(o).iterator.map { i =>
              val product = if (i == badItem) 1000000000L else b.itemPart(i)
              val returned = b.itemFlag(i) == 'R'
              s"$i,$o,${b.orderCust(o)},$product," +
                s"${if (returned) "returned" else "complete"}," +
                s"${stamp(b.orderDay(o), secs + o % 3600)}," +
                s"${stamp(b.itemShipDay(i), 0)},," +
                s"${if (returned) stamp(b.itemShipDay(i) + 9, 0) else ""}," +
                money(b.itemCents(i))
            }
          })
        val jitter = r.nextLong(WindowSec / 2)
        val arrDate = date(20001 + s.index)
        val anchor = t0 + s.index * 86400L
        arrivals += FileArrival(of.toString, anchor + jitter, arrDate)
        arrivals += FileArrival(itf.toString, anchor + r.nextLong(WindowSec / 2),
          arrDate)
      }
    }
    arrivals.sortBy(a => (a.ts, a.path)).toSeq
  }

  private def statusOf(c: Char): String = c match {
    case 'O' => "Processing"; case 'F' => "Complete"; case _ => "Shipped"
  }
  private def stamp(day: Int, secs: Int): String = {
    val s = secs % 86400
    f"${date(day)} ${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d"
  }

  private def writeCsv(p: Path, header: String, rows: Iterator[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(p), UTF_8), 1 << 16)
    try {
      w.write(header); w.write('\n')
      rows.foreach { l => w.write(l); w.write('\n') }
    } finally w.close()
  }
}
