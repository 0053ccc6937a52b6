package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.runner.Runner.Done

/** Benchmark entry point (started by `run.py`, which builds the classpath).
  *
  * {{{
  * Main --workload trickle_late|daily_bulk|query_mix --seed N --seconds S
  *      --trace 0|1 --work DIR [--source SHA]
  * }}}
  *
  * The last line of standard output is the result: `correct`, `attempted`,
  * `failed` and the end-to-end metrics (`--trace 0`) or the per-layer
  * metrics (`--trace 1`). The line before it is a report with the
  * workload-specific figures, each with its unit, and the run's stamp.
  * Exit code 1 on any correctness failure.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, source: String) {
    /** Pipelines cut batches from the sf0.1 orders; the query pass reads
      * sf0.01, the largest whose pass fits a run. */
    def sf: Double = if (workload == "query_mix") QueryMix.Sf else 0.1
  }

  /** Untimed clean single-day batches into a throw-away store before the
    * timed pipeline rounds. Batch latency falls over the first batches as
    * the JVM warms (on 4 cores: ~20 s, ~8 s, then ~7 s and ~6.5 s). Two
    * take the steep part; the benchmark's time budget leaves no room for more,
    * so the first timed commit still runs ~10 % above the later ones. Each
    * run reports `warmup_batch_s` and `batch_s` to show it. */
  val WarmUpBatches = 2
  /** Batches of one trickle round (see [[Gen.tricklePlan]]). */
  val TrickleBatches = 5

  /** End-to-end metrics: (name, unit), the order BENCHMARK.json lists. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "drain_s" -> "s",
    "op_mean_s" -> "s", "kpi_read_p50_s" -> "s",
    "output_bytes" -> "bytes")

  val Workloads = Set("trickle_late", "daily_bulk", "query_mix")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val workload = m.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads(workload), s"unknown workload $workload")
    Args(workload, m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "30").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m.getOrElse("work", ".bench_build/work")).toAbsolutePath,
      m.getOrElse("source", "unknown"))
  }

  /** The benchmark's session: `local[cores]`, one shuffle partition per
    * core; a traced run counts filesystem calls ([[CountingFs]]). */
  def session(cores: Int, work: Path, countFs: Boolean): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (countFs) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, a.work, a.trace)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val code =
      try new Bench(spark, a, cores, sessionS).run()
      finally spark.stop()
    System.exit(code)
  }

  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Runtime.getRuntime.totalMemory / 1048576.0
    else """VmHWM:\s+(\d+) kB""".r.findFirstMatchIn(Files.readString(status))
      .map(_.group(1).toDouble / 1024).getOrElse(0.0)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private val Json = new ObjectMapper()
  def jsonStr(s: String): String = Json.writeValueAsString(s)

  /** A figure as the result line and the report print it. */
  def metric(v: Double, unit: String): String =
    s"""{"value": ${num(v)}, "unit": ${jsonStr(unit)}}"""
}

/** One benchmark invocation. */
final class Bench(spark: SparkSession, a: Main.Args, cores: Int,
    sessionS: Double) {
  import Main._

  private val report = mutable.LinkedHashMap.empty[String, String]
  private def note(k: String, v: Double, unit: String): Unit =
    report(k) = metric(v, unit)
  private def noteStr(k: String, v: String): Unit = report(k) = jsonStr(v)
  private val problems = mutable.ArrayBuffer.empty[String]
  private val t0 = System.nanoTime()
  private def progress(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1fs $what")

  def run(): Int = {
    Files.createDirectories(a.work)
    noteStr("workload", a.workload)
    note("seed", a.seed.toDouble, "count")
    note("sf", a.sf, "sf")
    note("cores", cores.toDouble, "count")
    noteStr("master", spark.sparkContext.master)
    noteStr("source", a.source)
    noteStr("spark", spark.version)
    val (attempted, failed, metrics) =
      if (a.workload == "query_mix") queryMix() else pipeline()
    note("failed_share", Stats.failedShare(failed, attempted), "share")
    problems.foreach(p => System.err.println(s"[perfbench] FAIL $p"))
    val correct = failed == 0 && problems.isEmpty
    println("report " + report.map { case (k, v) => s"${jsonStr(k)}: $v" }
      .mkString("{", ", ", "}"))
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      "\"metrics\": " + metrics.map { case (k, (v, u)) =>
        s"${jsonStr(k)}: ${metric(v, u)}" }.mkString("{", ", ", "}") + "}")
    System.out.flush()
    if (correct) 0 else 1
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def seconds(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString(" ")

  private def endToEnd(setupS: Double, drainS: Double, ops: Seq[Double],
      kpiReads: Seq[Double], outputBytes: Long): Seq[(String, (Double, String))] = {
    val v = Map("setup_s" -> setupS, "drain_s" -> drainS,
      "op_mean_s" -> ops.sum / ops.size,
      "kpi_read_p50_s" -> Stats.median(kpiReads),
      "output_bytes" -> outputBytes.toDouble)
    // no percentile is bounded: a run has 3 commits or 14 different
    // queries, too few for a tail with 10 samples beyond it, and their
    // median is a single operation whose time swings with the host's load
    // (spread 0.19 over 10 trickle runs, against 0.14 for the mean)
    note("op_p50_s", Stats.median(ops), "s")
    note("op_p75_s", Stats.percentile(ops, 75), "s")
    note("ops_timed", ops.size.toDouble, "count")
    EndToEnd.map { case (n, u) => n -> (v(n), u) }
  }

  // ---- pipeline workloads -------------------------------------------------

  private def pipeline(): (Long, Long, Seq[(String, (Double, String))]) = {
    val ((base, plan, batchDir, arrivals), genS) = timed {
      val base = Gen.base(a.sf)
      val work = if (a.workload == "daily_bulk") Gen.bulkPlan(base, 8, a.seed)
        else Gen.tricklePlan(base, TrickleBatches, a.seed)
      val plan = Gen.withWarmUp(base, work, WarmUpBatches, a.seed)
      // keyed by the plan too, so a changed plan shape never reuses old files
      val dir = a.work.resolve(
        f"data/${a.workload}-sf${a.sf}-seed${a.seed}-${base.digest}-${plan.hashCode}%08x")
      val arrivals = Cache.batches(dir, () => Gen.writeBatches(base, plan, dir, a.seed))
      (base, plan, dir, arrivals)
    }
    note("gen_s", genS, "s")
    progress("inputs ready")
    val (warm, timedPlan) = plan.splitAt(WarmUpBatches)
    note("batches", timedPlan.size.toDouble, "count")
    note("orders_per_batch", timedPlan.map(_.days.map(base.ordersByDay(_).length)
      .sum).sum.toDouble / timedPlan.size, "count")
    /** The standing products file and the given batches' files. */
    def arrivalsOf(specs: Seq[Gen.BatchSpec]): Seq[Gen.FileArrival] = {
      val dirs = specs.map(s => f"b${s.index}%03d").toSet
      arrivals.filter { f =>
        val p = Paths.get(f.path)
        p.getFileName.toString == "products.csv" ||
          dirs(p.getParent.getFileName.toString)
      }
    }
    val runDir = a.work.resolve("run")
    Fs.deleteTree(runDir)

    val warmDir = runDir.resolve("warmup")
    val (warmRound, warmS) = timed(Pipe.round(spark, plan, arrivalsOf(warm),
      warmDir, None))
    val setupS = sessionS + warmS
    progress("warmed up")
    note("session_s", sessionS, "s")
    note("warmup_ops", WarmUpBatches.toDouble, "count")
    noteStr("warmup_batch_s", seconds(warmRound.outcomes.map(_.tickS)))

    val timedArrivals = arrivalsOf(timedPlan)
    val rounds = mutable.ArrayBuffer.empty[(Pipe.Round, Path)]
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    var last = 0.0
    // traced: the traced round runs first and an untraced round after it,
    // so the overhead (traced minus untraced drain) also carries the
    // warm-up the traced round absorbed: an upper bound
    val traced = if (!a.trace) None else {
      val tr = new Tracer(spark)
      val dir = runDir.resolve("traced")
      val baseline = gauges()
      tr.start()
      val r = Pipe.round(spark, plan, timedArrivals, dir, Some(tr), () => gauges())
      tr.finish()
      Some((tr, r, dir, baseline))
    }
    do {
      val dir = runDir.resolve(s"round${rounds.size}")
      val (r, s) = timed(Pipe.round(spark, plan, timedArrivals, dir, None))
      rounds += ((r, dir))
      last = s
    } while (elapsed + last <= a.seconds)
    progress("measured")
    val all = rounds.toSeq ++ traced.map { case (_, r, d, _) => (r, d) }
    val wrong = all.flatMap { case (r, d) => Pipe.checkOutcomes(r, d) }
    wrong.foreach { case (b, why) => problems += s"batch $b: $why" }
    Pipe.checkOutcomes(warmRound, warmDir).foreach { case (b, why) =>
      problems += s"warm-up batch $b: $why" }
    Pipe.checkKpis(spark, timedPlan, batchDir, all.last._2).foreach(problems += _)
    traced.foreach { case (_, _, dir, _) =>
      if (Pipe.storeDump(spark, dir) != Pipe.storeDump(spark, rounds.last._2))
        problems += "the traced round's store differs from the untraced round's"
    }

    progress("checked")
    val done = rounds.flatMap(_._1.outcomes.filter(_.status == Done).map(_.tickS)).toSeq
    val drainS = Stats.median(rounds.map(_._1.drainS).toSeq)
    val reads = rounds.flatMap(_._1.readS).toSeq
    val outputBytes = Fs.usage(rounds.last._2)._2
    note("rounds", rounds.size.toDouble, "count")
    noteStr("batch_s", seconds(done))
    note("kpi_read_p50_s", Stats.median(reads), "s")
    note("output_bytes", outputBytes.toDouble, "bytes")
    note("peak_rss_mb", peakRssMb(), "MB")
    val attempted = all.map(_._1.outcomes.size.toLong).sum

    val metrics = traced match {
      case None => endToEnd(setupS, drainS, done, reads, outputBytes)
      case Some((tr, r, dir, baseline)) =>
        note("traced_drain_s", r.drainS, "s")
        Layers.pipeline(spark, tr, r, dir, drainS, baseline)
    }
    (attempted, wrong.size.toLong, metrics)
  }

  /** Leak gauges: persisted RDDs and registered query listeners. */
  def gauges(): (Int, Int) = (spark.sparkContext.getPersistentRDDs.size,
    org.apache.spark.sql.perfbench.Gauges.queryListeners(spark))

  // ---- query workload -----------------------------------------------------

  private def queryMix(): (Long, Long, Seq[(String, (Double, String))]) = {
    val (dataDir, genS) = timed(Cache.base(spark, a.work.resolve("data"), a.sf))
    note("gen_s", genS, "s")
    progress("inputs ready")
    val order = QueryMix.All

    val (warmRes, warmS) = timed(QueryMix.WarmUp.map(
      QueryMix.run(spark, _, dataDir.toString, None)))
    note("warmup_ops", QueryMix.WarmUp.size.toDouble, "count")
    val setupS = sessionS + warmS
    progress("warmed up")
    note("session_s", sessionS, "s")

    val passes = mutable.ArrayBuffer.empty[(Seq[QueryMix.Result], Double)]
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    // traced: first, then an untraced pass, as for the pipeline
    val traced = if (!a.trace) None else {
      val tr = new Tracer(spark)
      val baseline = gauges()
      tr.start()
      val gaugesAfter = mutable.ArrayBuffer.empty[(Int, Int)]
      val (res, wall) = timed(order.map { q =>
        val r = QueryMix.run(spark, q, dataDir.toString, Some(tr))
        gaugesAfter += gauges()
        r
      })
      tr.finish()
      val leaks = order.zip(gaugesAfter).zip(baseline +: gaugesAfter.init).collect {
        case ((q, now), before) if now._1 > before._1 || now._2 > before._2 => q }
      noteStr("leaking_queries", leaks.mkString(","))
      Some((tr, res, wall, baseline, gaugesAfter.toSeq))
    }
    // passes until the time is up; the last one may run past it
    do {
      passes += timed(order.map(QueryMix.run(spark, _, dataDir.toString, None)))
    } while (elapsed < a.seconds)
    progress("measured")
    val all = warmRes ++ passes.flatMap(_._1) ++ traced.toSeq.flatMap(_._2)
    val bad = QueryMix.mismatches(all.toSeq, QueryMix.expected(QueryMix.ExpectedFile))
    bad.foreach { case (q, why) => problems += s"query $q: $why" }

    val perQuery = passes.flatMap(_._1).groupBy(_.name).map { case (q, rs) =>
      q -> Stats.median(rs.map(_.wallS).toSeq) }
    val kpiReads = passes.map(_._1.filter(r => QueryMix.KpiReads.contains(r.name))
      .map(_.wallS).sum).toSeq
    val outputBytes = passes.head._1.map(_.bytes).sum
    val drainS = Stats.median(passes.map(_._2).toSeq)
    note("passes", passes.size.toDouble, "count")
    noteStr("pass_s", seconds(passes.map(_._2).toSeq))
    noteStr("query_s", order.map(q => f"$q=${perQuery(q)}%.3f").mkString(" "))
    note("drain_s", drainS, "s")
    note("query_total_s", perQuery.values.sum, "s")
    note("subset_s", QueryMix.Subset.map(perQuery).sum, "s")
    note("iterative_s", QueryMix.Iterative.map(perQuery).sum, "s")
    note("kpi_read_p50_s", Stats.median(kpiReads), "s")
    note("output_bytes", outputBytes.toDouble, "bytes")
    note("peak_rss_mb", peakRssMb(), "MB")

    val metrics = traced match {
      case None => endToEnd(setupS, drainS, perQuery.values.toSeq, kpiReads,
        outputBytes)
      case Some((tr, res, wall, baseline, after)) =>
        note("traced_drain_s", wall, "s")
        Layers.queries(tr, res, wall - drainS, baseline, after)
    }
    (all.size.toLong, bad.size.toLong, metrics)
  }
}
