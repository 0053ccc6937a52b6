package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The `query_mix` workload: passes over the reference subset and the
  * iterative operators, each query run through its verified body in
  * `SparkEntry.queries` and consumed by an order-insensitive hash of
  * every result row (so the whole result is computed, and checked). */
object QueryMix {

  /** The scale factor of the query pass. */
  val Sf = 0.01
  /** Expected rows and hash per query, written by [[Record]]. */
  def ExpectedFile: Path = Paths.get(sys.props.getOrElse("perfbench.expected",
    "perfbench/expected")).resolve(s"query_mix-sf$Sf.json")

  /** The 13-query reference subset (`Bench`'s `subsetNames`). */
  val Subset: Seq[String] = Seq(
    "a1_category_kpi", "a2_order_kpi_complete", "a3_order_kpi_items_only",
    "a4_order_kpi_orders_only", "a6_null_check", "a8_distinct_keys",
    "j3_ri_items_without_order", "j4_ri_items_without_product",
    "m1_merge_category_kpi", "p1_filter_project",
    "p3_anti_orders_without_items", "u1_union_parts_agg",
    "w1_processing_date")
  /** The iterative operators: duplicate clustering, MinHash-LSH
    * signatures (built through `spreadSmallScan`) and connected components
    * by rounds of min-label propagation, the substrate d16, s4 and mix4
    * build on. g1, g3, g4, d16, s4 and mix4 are left out: with them a pass
    * does not fit the run budget (g4 alone takes as long as d9). */
  val Iterative: Seq[String] = Seq("d9_dup_clusters")
  val All: Seq[String] = Subset ++ Iterative
  /** Untimed before the timed passes: one whole pass. The first pass
    * compiles every query's generated code and JIT-compiles the planner
    * and operators; on 4 cores it takes ~20 s against ~10 s for the
    * passes after it, and its time swings with machine load far more. */
  val WarmUp: Seq[String] = All
  /** The KPI reads among them: category and order KPIs, and the category
    * KPI merged into a store. Together they are one dashboard refresh; its
    * time in a pass (their wall times summed) is the query side of
    * `kpi_read_p50_s`. */
  val KpiReads: Seq[String] = Seq("a1_category_kpi", "a2_order_kpi_complete",
    "a3_order_kpi_items_only", "a4_order_kpi_orders_only",
    "m1_merge_category_kpi")

  /** One query run: wall time, row count, order-insensitive hash and the
    * bytes of its rows as JSON. */
  final case class Result(name: String, wallS: Double, rows: Long,
      hash: String, bytes: Long, error: Option[String])

  /** Run one query to completion and hash its rows. */
  def run(spark: SparkSession, name: String, dataDir: String,
      tracer: Option[Tracer]): Result = {
    val t0 = System.nanoTime()
    val res = Tracer.maybe(tracer, name, "operators", name) {
      try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        val json = to_json(struct(df.columns.map(c => col(s"`$c`")): _*))
        val row = df.agg(count(lit(1)), sum(xxhash64(json).cast("decimal(38,0)")),
          coalesce(sum(length(json)), lit(0L))).head()
        Right((row.getLong(0), String.valueOf(row.get(1)), row.getLong(2)))
      } catch { case e: Exception =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    // the same cache protocol as Bench and Verify: nothing a query
    // cached outlives it, and dropping it is not timed
    spark.catalog.clearCache()
    res match {
      case Right((rows, hash, bytes)) => Result(name, wallS, rows, hash, bytes, None)
      case Left(err) => Result(name, wallS, -1, "", 0, Some(err))
    }
  }

  private val Entry = """"([a-z0-9_]+)": \{"rows": (\d+), "hash": "([^"]*)"\}""".r

  /** Expected (rows, hash) per query, from the file [[record]] writes. */
  def expected(file: Path): Map[String, (Long, String)] =
    if (!Files.exists(file)) Map.empty
    else Entry.findAllMatchIn(Files.readString(file))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap

  /** Write the expected results (only [[Record]] does, after the oracle
    * check passed on the same tables). */
  def record(file: Path, sf: Double, results: Seq[Result]): Unit = {
    val body = results.sortBy(_.name).map(r =>
      s"""    "${r.name}": {"rows": ${r.rows}, "hash": "${r.hash}"}""")
      .mkString(",\n")
    Files.createDirectories(file.getParent)
    Files.writeString(file, s"{\n  \"sf\": $sf,\n  \"queries\": {\n$body\n  }\n}\n")
  }

  /** Queries whose result differs from the recorded one (or failed). */
  def mismatches(results: Seq[Result], want: Map[String, (Long, String)])
      : Seq[(String, String)] =
    results.flatMap { r =>
      (r.error, want.get(r.name)) match {
        case (Some(e), _) => Seq(r.name -> e)
        case (None, None) => Seq(r.name -> "no recorded expectation")
        case (None, Some((rows, hash))) =>
          if (rows == r.rows && hash == r.hash) Nil
          else Seq((r.name, s"rows ${r.rows} hash ${r.hash}, expected rows " +
            s"$rows hash $hash"))
      }
    }
}
