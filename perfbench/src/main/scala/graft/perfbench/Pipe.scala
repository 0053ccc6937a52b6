package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.Sources
import graft.kpi.Kpi
import graft.pipeline.Pipeline
import graft.runner.{BatchRunner, Runner}
import graft.runner.BatchRunner.BatchChunk
import graft.runner.Runner._
import graft.schema.Schemas
import graft.validate.Validation

/** The pipeline workloads: generated batches debounced by
  * `BatchRunner.assembleChunks` and dispatched one tick at a time, with a
  * dashboard read of both KPI tables after every commit. */
object Pipe {

  /** Injected `last_updated` stamp, so stores compare exactly. */
  val Now = "2030-01-01T00:00:00"
  /** Dashboard viewers: after each commit each reads both KPI tables in
    * turn (closed loop), so a run has a few samples of read latency per
    * commit. */
  val Viewers = 3
  /** After every k-th commit the first viewer also time-travels to an
    * older epoch. */
  val ReadAtEvery = 3

  /** A KPI table of the store: the schema, merge keys and updated fields
    * `Pipeline.transformJob` passes to `upsertStore` (private there, so
    * repeated here once, for the traced tick and the checks alike). */
  final case class KpiTable(name: String, schema: StructType, keys: Seq[String],
      fields: Seq[String])

  val Tables: Seq[KpiTable] = Seq(
    KpiTable("category_kpi", StructType.fromDDL(
      "category STRING, order_date STRING, daily_revenue DOUBLE, " +
        "avg_order_value DOUBLE, avg_return_rate DOUBLE, " +
        "data_sources ARRAY<STRING>, last_updated STRING"),
      Seq("category", "order_date"),
      Seq("daily_revenue", "avg_order_value", "avg_return_rate", "last_updated")),
    KpiTable("order_kpi", StructType.fromDDL(
      "order_date STRING, total_orders BIGINT, total_revenue DOUBLE, " +
        "total_items_sold BIGINT, return_rate DOUBLE, unique_customers BIGINT, " +
        "data_sources ARRAY<STRING>, last_updated STRING"),
      Seq("order_date"),
      Seq("total_orders", "total_revenue", "total_items_sold", "return_rate",
        "unique_customers", "last_updated")))
  private def table(name: String): KpiTable = Tables.find(_.name == name).get

  final class Alerts extends BatchRunner.Alerter {
    val sent = mutable.ArrayBuffer.empty[(String, String)]
    def alert(subject: String, message: String): Unit = sent += ((subject, message))
  }

  /** One dispatched batch: its plan entry, final chunk state, and tick
    * wall time (tick start to commit for a batch that commits). */
  final case class Outcome(spec: Gen.BatchSpec, batchId: String,
      status: Status, error: Option[String], tickS: Double)

  /** Store-side counts a traced round collects per commit. */
  final class StoreCounts {
    var partitionsTouched = 0L
    var inserted = 0L
    var updated = 0L
    var untouched = 0L
    var fsOps = 0L
    var joinRows = 0L
    var writeBytes = 0L
    var writeFiles = 0L
    var partitionsWritten = 0L
    var ingestRows = 0L
    var ingestBytes = 0L
  }

  final case class Round(drainS: Double, assembleS: Double,
      outcomes: Seq[Outcome], readS: Seq[Double], readAtS: Seq[Double],
      alerts: Seq[(String, String)], chunks: Int, store: StoreCounts,
      gauges: Seq[(Int, Int)])

  private def specOf(plan: Seq[Gen.BatchSpec], c: BatchChunk): Gen.BatchSpec =
    plan(Paths.get(c.ordersPaths.head).getParent.getFileName.toString
      .stripPrefix("b").toInt)

  def storeBase(workDir: Path): String = workDir.resolve("store").toString

  /** Drain `plan` into a fresh store under `workDir`. With a tracer the
    * tick runs through [[tracedTick]] and per-commit store counts are
    * collected; the timed path is otherwise identical. */
  def round(spark: SparkSession, plan: Seq[Gen.BatchSpec],
      arrivals: Seq[Gen.FileArrival], workDir: Path,
      tracer: Option[Tracer], gauge: () => (Int, Int) = () => (0, 0)): Round = {
    Fs.deleteTree(workDir)
    Files.createDirectories(workDir)
    val alerts = new Alerts
    val counts = new StoreCounts
    val a0 = System.nanoTime()
    val chunks = Tracer.maybe(tracer, "assembleChunks", "runner", "assemble") {
      BatchRunner.assembleChunks(
        arrivals.map(a => BatchRunner.Arrival(a.path, a.ts, a.date)),
        Gen.WindowSec)
    }
    val assembleS = (System.nanoTime() - a0) / 1e9
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    val reads = mutable.ArrayBuffer.empty[Double]
    val readAts = mutable.ArrayBuffer.empty[Double]
    val gauges = mutable.ArrayBuffer.empty[(Int, Int)]
    var snapshot = Map.empty[String, Array[Row]]
    val first = System.nanoTime()
    var lastCommit = first
    var more = true
    while (more) {
      val t0 = System.nanoTime()
      val ran = tracer match {
        case Some(tr) => tracedTick(spark, chunks, workDir.toString, alerts,
          tr, counts)
        case None => BatchRunner.tick(spark, chunks, workDir.toString, Now,
          alerts)
      }
      val t1 = System.nanoTime()
      more = ran.nonEmpty
      if (more && tracer.nonEmpty) gauges += gauge()
      ran.foreach { c =>
        val spec = specOf(plan, c)
        outcomes += Outcome(spec, c.batchId, c.status, c.error, (t1 - t0) / 1e9)
        if (c.status == Done) {
          lastCommit = t1
          val n = outcomes.count(_.status == Done)
          val rows = (0 until Viewers).map { v =>
            val (rs, ras, rows) = Tracer.maybe(tracer, "dashboardRead", "store",
              s"${c.batchId}/read$v")(dashboardRead(spark, storeBase(workDir),
                v == 0 && n % ReadAtEvery == 0))
            reads += rs
            ras.foreach(readAts += _)
            rows
          }.last
          if (tracer.nonEmpty) {
            diffStore(snapshot, rows, workDir, c, counts)
            snapshot = rows
            val (files, bytes) = Fs.usage(workDir.resolve(s"validated/${c.batchId}"))
            counts.writeFiles += files
            counts.writeBytes += bytes
            counts.partitionsWritten += Fs.walk(workDir.resolve(
              s"validated/${c.batchId}")).count(_.getFileName.toString.startsWith("dt="))
          }
        }
      }
    }
    Round((lastCommit - first) / 1e9, assembleS, outcomes.toSeq, reads.toSeq,
      readAts.toSeq, alerts.sent.toSeq, chunks.size, counts, gauges.toSeq)
  }

  /** The closed-loop dashboard read: both KPI tables at the committed
    * snapshot; with `travel`, both also at the epoch before last.
    * Returns (read s, time-travel s, rows per table). */
  def dashboardRead(spark: SparkSession, base: String, travel: Boolean)
      : (Double, Option[Double], Map[String, Array[Row]]) = {
    val t0 = System.nanoTime()
    val rows = Tables.map { t =>
      t.name -> Pipeline.readOrInit(spark, s"$base/${t.name}", t.schema)
        .select(t.schema.fieldNames.map(col): _*).collect()
    }.toMap
    val readS = (System.nanoTime() - t0) / 1e9
    val readAtS = if (!travel) None else {
      val t1 = System.nanoTime()
      Tables.foreach { t =>
        val epoch = latestEpoch(spark, s"$base/${t.name}")
        if (epoch > 1) Pipeline.readAt(spark, s"$base/${t.name}", epoch - 1,
          t.schema).collect()
      }
      Some((System.nanoTime() - t1) / 1e9)
    }
    (readS, readAtS, rows)
  }

  def latestEpoch(spark: SparkSession, path: String): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    Pipeline.latestManifest(fs, path).map(_.epoch).getOrElse(0L)
  }

  /** Row counts of one commit from the snapshots around it: keys new to
    * the store are inserted; keys already there are updated when their
    * partition (the batch's processing date) was rewritten, untouched
    * otherwise. */
  private def diffStore(before: Map[String, Array[Row]],
      after: Map[String, Array[Row]], workDir: Path, c: BatchChunk,
      counts: StoreCounts): Unit = {
    val doc = Files.readString(workDir.resolve(s"results/${c.batchId}.json"))
    val date = """"processing_date": "([^"]*)"""".r.findFirstMatchIn(doc)
      .map(_.group(1)).getOrElse("")
    Tables.foreach { t =>
      val dateIdx = t.schema.fieldIndex("order_date")
      def keyOf(r: Row) = t.keys.map(k => r.get(t.schema.fieldIndex(k)))
      val old = before.getOrElse(t.name, Array.empty[Row])
      val oldKeys = old.map(keyOf).toSet
      counts.partitionsTouched += 1
      counts.inserted += after(t.name).count(r => !oldKeys.contains(keyOf(r)))
      counts.updated += old.count(_.getString(dateIdx) == date)
      counts.untouched += old.count(_.getString(dateIdx) != date)
    }
  }

  /** `BatchRunner.tick` with `Pipeline.validateJob` and
    * `Pipeline.transformJob` inlined, calling the same layer functions
    * in the same order, each inside a span. The store it leaves must equal
    * the untraced tick's; the benchmark checks that. */
  def tracedTick(spark: SparkSession, chunks: Seq[BatchChunk], workDir: String,
      alerter: BatchRunner.Alerter, tr: Tracer, counts: StoreCounts)
      : Option[BatchChunk] = {
    val asRunner = chunks.map(c => Chunk(c.batchId, c.createdAt, c.status))
    Runner.nextChunk(asRunner).map { picked =>
      val chunk = chunks.find(_.batchId == picked.batchId).get
      val op = chunk.batchId
      tr.span("tick", "runner", op) {
        chunk.status = transition(chunk.status, Processing)
          .getOrElse(chunk.status)
        val outBase = s"$workDir/validated/${chunk.batchId}"
        val resultPath = s"$workDir/results/${chunk.batchId}.json"
        val result = Runner.withRetry(3, 10L) { () =>
          val res = tracedValidate(spark, chunk, outBase, resultPath, tr, op,
            counts)
          if (res.status != "success")
            throw new Runner.NonRetryableFailure(
              s"${res.errorType.getOrElse("UNKNOWN")}: " +
                res.message.getOrElse(""))
          tracedTransform(spark, outBase, res.processingDate.get,
            s"$workDir/store", tr, op, counts)
          res
        }
        result match {
          case scala.util.Success(_) =>
            chunk.status = transition(chunk.status, Done).getOrElse(chunk.status)
          case scala.util.Failure(e) =>
            chunk.status =
              transition(chunk.status, FailedStatus).getOrElse(chunk.status)
            chunk.error = Some(e.getMessage)
            alerter.alert(s"batch ${chunk.batchId} failed", e.getMessage)
        }
        chunk
      }
    }
  }

  private def tracedValidate(spark: SparkSession, chunk: BatchChunk,
      outBase: String, resultPath: String, tr: Tracer, op: String,
      counts: StoreCounts): Pipeline.ValidateResult = {
    def emit(r: Pipeline.ValidateResult): Pipeline.ValidateResult = {
      tr.span("writeResultJson", "io", op) {
        Sources.writeResultJson(resultPath,
          Map("status" -> r.status) ++
            r.processingDate.map("processing_date" -> _) ++
            r.errorType.map("error_type" -> _) ++
            r.message.map("message" -> _))
      }
      r
    }
    val inputs = chunk.ordersPaths ++ chunk.itemsPaths ++ chunk.productsPath
    counts.ingestBytes += inputs.map(p => Files.size(Paths.get(p))).sum
    counts.ingestRows += inputs.map { p =>
      val s = Files.lines(Paths.get(p))
      try s.count() - 1 finally s.close()
    }.sum
    try {
      val (orders, items, products) = tr.span("readAndUnion", "io", op) {
        (Sources.readAndUnion(spark, chunk.ordersPaths.map(Sources.normalizeScheme),
          Some(Schemas.orders)),
          Sources.readAndUnion(spark, chunk.itemsPaths.map(Sources.normalizeScheme),
            Some(Schemas.orderItems)),
          chunk.productsPath.map(p => Sources.readParquetOrCsv(spark,
            Sources.normalizeScheme(p), Some(Schemas.products))))
      }
      (orders, items) match {
        case (Some(o), Some(i)) =>
          tr.span("validate", "validate", op) {
            Validation.validate(o, i, products, Schemas.requiredNonNull)
          } match {
            case Some(err) =>
              emit(Pipeline.ValidateResult("failed", None, Some(err.errorType),
                Some(err.message)))
            case None =>
              val dt = tr.span("processingDate", "validate", op) {
                o.agg(substring(min(col("created_at")), 1, 10)).head().getString(0)
              }
              tr.span("writePartitioned", "io", op) {
                Sources.writePartitioned(o, s"$outBase/orders", dt)
                Sources.writePartitioned(i, s"$outBase/order_items", dt)
                products.foreach(p =>
                  Sources.writeUnpartitioned(p, s"$outBase/products"))
              }
              emit(Pipeline.ValidateResult("success", Some(dt), None, None))
          }
        case _ =>
          emit(Pipeline.ValidateResult("failed", None, Some("UNKNOWN"),
            Some("orders and order_items inputs are required")))
      }
    } catch {
      case e: Exception =>
        emit(Pipeline.ValidateResult("failed", None, Some("UNKNOWN"),
          Some(Option(e.getMessage).getOrElse(e.getClass.getName))))
    }
  }

  private def tracedTransform(spark: SparkSession, validatedBase: String,
      processingDate: String, storeBase: String, tr: Tracer, op: String,
      counts: StoreCounts): Unit = {
    def readValidated(name: String): Option[DataFrame] =
      Sources.readTable(spark, s"$validatedBase/$name")
        .map(df => if (df.columns.contains("dt"))
          df.where(col("dt") === processingDate) else df)
    val (orders, items, products) = tr.span("readTable", "io", op) {
      (readValidated("orders"), readValidated("order_items"),
        Sources.readTable(spark, s"$validatedBase/products"))
    }
    val sources: Seq[String] =
      (if (orders.nonEmpty) Seq("orders") else Nil) ++
        (if (items.nonEmpty) Seq("order_items") else Nil)
    val (catKpi, ordKpi) = tr.span("computeKpis", "kpi", op) {
      Kpi.computeKpis(orders, items, products)
    }
    // computeKpis runs its join inside checkpoint jobs no query listener
    // sees; count the same join once more, as tracing overhead
    tr.span("joinRowsProbe", "trace", op) {
      for (o <- orders; i <- items; p <- products)
        counts.joinRows += Kpi.threeWayJoin(o, i, p).count()
    }
    def upsert(kpi: Option[DataFrame], t: KpiTable): Unit =
      kpi.foreach { k =>
        val updates = k
          .withColumn("order_date", lit(processingDate))
          .withColumn("data_sources", typedLit(sources))
          .withColumn("last_updated", lit(Now))
          .select(t.schema.fieldNames.map(col): _*)
        val ops0 = CountingFs.ops.get
        tr.span(s"upsertStore.${t.name}", "store", op) {
          Pipeline.upsertStore(spark, s"$storeBase/${t.name}", t.schema, updates,
            t.keys, t.fields)
        }
        counts.fsOps += CountingFs.ops.get - ops0
      }
    upsert(catKpi, table("category_kpi"))
    upsert(ordKpi, table("order_kpi"))
  }

  // ---- correctness ------------------------------------------------------

  /** Every store row as a canonical string, sorted: two stores are equal
    * iff these are. */
  def storeDump(spark: SparkSession, workDir: Path): Seq[String] =
    Tables.flatMap { t =>
      Pipeline.readOrInit(spark, s"${storeBase(workDir)}/${t.name}", t.schema)
        .collect().map(r => s"${t.name}|${r.mkString("|")}")
    }.sorted

  /** Compare the final store with a from-scratch SQL recompute over the
    * committed batches' input CSVs (each distinct batch once; the
    * re-deliveries carry identical bytes and leave values unchanged).
    * Returns one message per mismatch. */
  def checkKpis(spark: SparkSession, plan: Seq[Gen.BatchSpec], batchDir: Path,
      workDir: Path): Seq[String] = {
    val clean = plan.filter(_.kind == Gen.Clean)
    def csv(schema: StructType, name: String): DataFrame =
      clean.map { s =>
        val dir = batchDir.resolve(f"b${s.index}%03d")
        spark.read.option("header", "true").schema(schema)
          .csv((1 to Gen.Parts).map(k => dir.resolve(s"${name}_part$k.csv").toString): _*)
          .withColumn("batch", lit(s.index))
      }.reduce(_ unionByName _)
    csv(Schemas.orders, "orders").createOrReplaceTempView("pb_orders")
    csv(Schemas.orderItems, "order_items").createOrReplaceTempView("pb_items")
    spark.read.option("header", "true").schema(Schemas.products)
      .csv(batchDir.resolve("products.csv").toString)
      .createOrReplaceTempView("pb_products")
    val ctes =
      """WITH d AS (SELECT batch, substr(min(created_at), 1, 10) AS order_date
        |           FROM pb_orders GROUP BY batch),
        |j AS (SELECT o.batch, o.order_id, o.user_id, i.id, i.status,
        |             i.sale_price, p.category
        |      FROM pb_orders o JOIN pb_items i
        |        ON o.batch = i.batch AND o.order_id = i.order_id
        |      JOIN pb_products p ON i.product_id = p.id)
        |""".stripMargin
    val money = "CAST(sum(CAST(sale_price AS DECIMAL(18,2))) AS DOUBLE)"
    val returned = "CAST(count(CASE WHEN status = 'returned' THEN 1 END) AS DOUBLE)"
    val tail = s"array('order_items', 'orders') AS data_sources, '$Now' AS last_updated"
    val expected = Map(
      "category_kpi" -> spark.sql(
        s"""$ctes SELECT category, order_date, $money AS daily_revenue,
           |  CASE WHEN count(sale_price) = 0 THEN NULL
           |       ELSE $money / count(sale_price) END AS avg_order_value,
           |  CASE WHEN count(id) = 0 THEN NULL
           |       ELSE $returned / count(id) END AS avg_return_rate, $tail
           |FROM j JOIN d USING (batch) GROUP BY category, order_date""".stripMargin),
      "order_kpi" -> spark.sql(
        s"""$ctes SELECT order_date, count(DISTINCT order_id) AS total_orders,
           |  $money AS total_revenue, count(id) AS total_items_sold,
           |  CASE WHEN count(id) = 0 THEN NULL
           |       ELSE $returned / count(id) END AS return_rate,
           |  count(DISTINCT user_id) AS unique_customers, $tail
           |FROM j JOIN d USING (batch) GROUP BY order_date""".stripMargin))
    // both sides are a few rows per committed day: compare them exactly,
    // as multisets, in this JVM
    def rows(df: DataFrame, schema: StructType) =
      df.select(schema.fieldNames.map(col): _*).collect().toSeq
        .groupMapReduce(identity)(_ => 1)(_ + _)
    Tables.flatMap { t =>
      val got = rows(Pipeline.readOrInit(spark, s"${storeBase(workDir)}/${t.name}",
        t.schema), t.schema)
      val want = rows(expected(t.name), t.schema)
      if (got == want) Nil
      else Seq(s"${t.name}: the store holds ${got.values.sum} rows, the recompute " +
        s"${want.values.sum}; ${(got.keySet -- want.keySet).size} store rows " +
        "are not in the recompute")
    }
  }

  /** Each batch must end as planned: clean and re-delivered batches
    * `done`; a dirty batch `failed` with its error type in both the chunk
    * error and the result doc, and exactly one alert. Returns the batches
    * whose outcome differs, with the reason. */
  def checkOutcomes(r: Round, workDir: Path): Seq[(String, String)] =
    r.outcomes.flatMap { o =>
      val alerts = r.alerts.count(_._1 == s"batch ${o.batchId} failed")
      o.spec.expectedError match {
        case None =>
          if (o.status == Done && alerts == 0) Nil
          else Seq((o.batchId, s"expected done, got ${o.status.name}: " +
            o.error.getOrElse("").take(200)))
        case Some(errType) =>
          val doc = Files.readString(workDir.resolve(s"results/${o.batchId}.json"))
          if (o.status == FailedStatus && o.error.exists(_.startsWith(errType)) &&
              doc.contains(s""""error_type": "$errType"""") && alerts == 1) Nil
          else Seq((o.batchId, s"expected failed/$errType with one alert, got " +
            s"${o.status.name} ${o.error.getOrElse("").take(200)} ($alerts alerts)"))
      }
    } ++ (if (r.outcomes.size == r.chunks) Nil
          else Seq(("queue", s"${r.chunks} chunks but ${r.outcomes.size} dispatched")))
}
