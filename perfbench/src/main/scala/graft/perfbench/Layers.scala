package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.runner.Runner.Done
import graft.schema.Schemas

/** The per-layer metrics of a traced run, in the order BENCHMARK.json
  * lists them. Every workload reports every metric; a layer the workload
  * does not touch reports 0. Times are seconds of self time summed over
  * the traced round unless the name says otherwise; `/op` units are per
  * operation (batch or query). */
object Layers {

  val NullRules: Seq[String] = Seq("orders", "order_items", "products")
    .flatMap(t => Schemas.requiredNonNull(t).map(c => s"$t.$c"))
  /** Referential rules, named by the foreign key they check. */
  val RiRules: Seq[String] = Seq("order_items.order_id", "order_items.product_id")

  val PerLayer: Seq[(String, String)] = Seq(
    "runner.self_s" -> "s", "runner.assemble_s" -> "s",
    "runner.dispatch_s" -> "s", "runner.chunks" -> "count",
    "runner.alerts" -> "count",
    "io.self_s" -> "s", "io.ingest_rows" -> "count", "io.ingest_bytes" -> "bytes",
    "io.raw_scans_per_batch" -> "count/op", "io.write_s" -> "s",
    "io.write_bytes" -> "bytes", "io.write_files" -> "count",
    "io.partitions_written" -> "count", "io.output_bytes" -> "bytes",
    "validate.self_s" -> "s", "validate.gate_s" -> "s",
    "validate.jobs" -> "count", "validate.rows_scanned" -> "count") ++
    NullRules.map(r => s"validate.violations.$r" -> "count") ++
    RiRules.map(r => s"validate.violations.ri.$r" -> "count") ++ Seq(
    "kpi.self_s" -> "s", "kpi.compute_s" -> "s", "kpi.jobs" -> "count",
    "kpi.join_rows" -> "count", "kpi.shuffle_bytes" -> "bytes",
    "store.self_s" -> "s", "store.upsert_s" -> "s", "store.jobs" -> "count",
    "store.partitions_touched" -> "count", "store.rows_inserted" -> "count",
    "store.rows_updated" -> "count", "store.rows_untouched" -> "count",
    "store.fs_ops" -> "count/op", "store.epoch" -> "count",
    "store.files" -> "count", "store.bytes" -> "bytes",
    "store.hist_bytes" -> "bytes", "store.read_s" -> "s",
    "store.readat_s" -> "s",
    "engine.jobs" -> "count/op", "engine.stages" -> "count/op",
    "engine.tasks" -> "count/op", "engine.executor_run_s" -> "s",
    "engine.shuffle_read_bytes" -> "bytes/op",
    "engine.shuffle_write_bytes" -> "bytes/op",
    "engine.spill_bytes" -> "bytes/op", "engine.task_skew" -> "ratio",
    "engine.plan_s" -> "s", "engine.codegen_compiles" -> "count/op",
    "engine.cached_relations_after" -> "count",
    "engine.listeners_after" -> "count", "engine.unattributed_jobs" -> "count",
    "operators.self_s" -> "s") ++
    QueryMix.Iterative.flatMap(q => Seq(s"operators.$q.wall_s" -> "s",
      s"operators.$q.jobs" -> "count", s"operators.$q.plan_s" -> "s")) ++ Seq(
    "trace.self_s" -> "s", "trace.overhead_s" -> "s", "trace.self_gap_s" -> "s")

  type Metrics = Seq[(String, (Double, String))]

  private def emit(values: Map[String, Double]): Metrics = {
    val unknown = values.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"unregistered per-layer metrics: $unknown")
    PerLayer.map { case (n, u) => n -> (values.getOrElse(n, 0.0), u) }
  }

  /** Engine counters summed over the spans `keep` selects. */
  private def engine(tr: Tracer, keep: Span => Boolean): EngineCounts = {
    val sum = new EngineCounts
    tr.allSpans.filter(keep).map(s => tr.engine(s.id)).foreach { c =>
      sum.jobs += c.jobs; sum.stages += c.stages; sum.tasks += c.tasks
      sum.executorRunMs += c.executorRunMs
      sum.shuffleReadBytes += c.shuffleReadBytes
      sum.shuffleWriteBytes += c.shuffleWriteBytes
      sum.spillBytes += c.spillBytes; sum.planMs += c.planMs
      sum.csvScans += c.csvScans; sum.scanRows += c.scanRows
      sum.taskSkew = math.max(sum.taskSkew, c.taskSkew)
    }
    sum
  }

  /** Engine-layer metrics over every span but the tracer's own probes,
    * plus unattributed work. */
  private def engineMetrics(tr: Tracer, ops: Int, gauges: Seq[(Int, Int)],
      baseline: (Int, Int)): Map[String, Double] = {
    val e = engine(tr, _.layer != "trace")
    val u = tr.unattributed
    val per = (x: Long) => x.toDouble / ops.max(1)
    Map(
      "engine.jobs" -> per(e.jobs + u.jobs),
      "engine.stages" -> per(e.stages + u.stages),
      "engine.tasks" -> per(e.tasks + u.tasks),
      "engine.executor_run_s" -> (e.executorRunMs + u.executorRunMs) / 1e3,
      "engine.shuffle_read_bytes" -> per(e.shuffleReadBytes + u.shuffleReadBytes),
      "engine.shuffle_write_bytes" -> per(e.shuffleWriteBytes + u.shuffleWriteBytes),
      "engine.spill_bytes" -> per(e.spillBytes + u.spillBytes),
      "engine.task_skew" -> math.max(e.taskSkew, u.taskSkew),
      "engine.plan_s" -> (e.planMs + u.planMs) / 1e3,
      "engine.codegen_compiles" -> per(tr.codegenCompiles),
      // the tracer's own query listener is registered while gauges are read
      "engine.cached_relations_after" ->
        gauges.map(_._1 - baseline._1).maxOption.getOrElse(0).toDouble,
      "engine.listeners_after" ->
        gauges.map(_._2 - baseline._2 - 1).maxOption.getOrElse(0).toDouble,
      "engine.unattributed_jobs" -> u.jobs.toDouble)
  }

  private def selfOf(tr: Tracer, keep: Span => Boolean): Double = {
    val self = Stats.selfTimes(tr.allSpans)
    tr.allSpans.filter(keep).map(s => self(s.id)).sum / 1e9
  }

  private def layerSelf(tr: Tracer): Map[String, Double] =
    Stats.layerSelfSeconds(tr.allSpans).map { case (l, s) => s"$l.self_s" -> s }

  private def violations(errors: Seq[String]): Map[String, Double] = {
    val nulls = """(\w+)\.(\w+) has (\d+) null values""".r
    val ri = """(\d+) (\w+) values in (\w+) missing from""".r
    val found = errors.flatMap { e =>
      nulls.findAllMatchIn(e).map(m =>
        s"validate.violations.${m.group(1)}.${m.group(2)}" -> m.group(3).toDouble) ++
        ri.findAllMatchIn(e).map(m =>
          s"validate.violations.ri.${m.group(3)}.${m.group(2)}" -> m.group(1).toDouble)
    }
    found.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def hist(store: Path): (Long, Long) =
    Fs.walk(store).filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.endsWith(".hist")).map(Fs.usage)
      .foldLeft((0L, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }

  def pipeline(spark: SparkSession, tr: Tracer, r: Pipe.Round, dir: Path,
      untracedDrainS: Double, baseline: (Int, Int)): Metrics = {
    val batches = r.outcomes.size
    val c = r.store
    val inLayer = (l: String) => (s: Span) => s.layer == l
    val named = (n: String) => (s: Span) => s.name.startsWith(n)
    val storeDir = dir.resolve("store")
    val (histFiles, histBytes) = hist(storeDir)
    val (allFiles, allBytes) = Fs.usage(storeDir)
    val ticks = tr.allSpans.filter(_.name == "tick").map(s => s.op -> s.wallS).toMap
    emit(layerSelf(tr) ++ engineMetrics(tr, batches, r.gauges, baseline) ++
      violations(r.outcomes.flatMap(_.error)) ++ Map(
      "runner.assemble_s" -> selfOf(tr, named("assembleChunks")),
      "runner.dispatch_s" -> selfOf(tr, named("tick")),
      "runner.chunks" -> r.chunks.toDouble,
      "runner.alerts" -> r.alerts.size.toDouble,
      "io.ingest_rows" -> c.ingestRows.toDouble,
      "io.ingest_bytes" -> c.ingestBytes.toDouble,
      "io.raw_scans_per_batch" -> engine(tr, _.layer != "trace").csvScans.toDouble /
        batches.max(1),
      "io.write_s" -> selfOf(tr, named("writePartitioned")),
      "io.write_bytes" -> c.writeBytes.toDouble,
      "io.write_files" -> c.writeFiles.toDouble,
      "io.partitions_written" -> c.partitionsWritten.toDouble,
      "io.output_bytes" -> Fs.usage(dir)._2.toDouble,
      "validate.gate_s" -> selfOf(tr, s => s.name == "validate"),
      "validate.jobs" -> engine(tr, inLayer("validate")).jobs.toDouble,
      "validate.rows_scanned" -> engine(tr, inLayer("validate")).scanRows.toDouble,
      "kpi.compute_s" -> selfOf(tr, named("computeKpis")),
      "kpi.jobs" -> engine(tr, inLayer("kpi")).jobs.toDouble,
      "kpi.join_rows" -> c.joinRows.toDouble,
      "kpi.shuffle_bytes" -> engine(tr, inLayer("kpi")).shuffleWriteBytes.toDouble,
      "store.upsert_s" -> selfOf(tr, named("upsertStore")),
      "store.jobs" -> engine(tr, inLayer("store")).jobs.toDouble,
      "store.partitions_touched" -> c.partitionsTouched.toDouble,
      "store.rows_inserted" -> c.inserted.toDouble,
      "store.rows_updated" -> c.updated.toDouble,
      "store.rows_untouched" -> c.untouched.toDouble,
      "store.fs_ops" -> c.fsOps.toDouble / r.outcomes.count(_.status == Done).max(1),
      "store.epoch" -> Pipe.Tables.map(t =>
        Pipe.latestEpoch(spark, s"$storeDir/${t.name}")).sum.toDouble,
      "store.files" -> (allFiles - histFiles).toDouble,
      "store.bytes" -> (allBytes - histBytes).toDouble,
      "store.hist_bytes" -> histBytes.toDouble,
      "store.read_s" -> (if (r.readS.isEmpty) 0.0 else Stats.median(r.readS)),
      "store.readat_s" -> (if (r.readAtS.isEmpty) 0.0 else Stats.median(r.readAtS)),
      "trace.overhead_s" -> (r.drainS - untracedDrainS),
      "trace.self_gap_s" -> r.outcomes.map(o =>
        math.abs(o.tickS - ticks.getOrElse(o.batchId, 0.0))).maxOption.getOrElse(0.0)))
  }

  def queries(tr: Tracer, results: Seq[QueryMix.Result], overheadS: Double,
      baseline: (Int, Int), gauges: Seq[(Int, Int)]): Metrics = {
    val spans = tr.allSpans.map(s => s.op -> s).toMap
    emit(layerSelf(tr) ++ engineMetrics(tr, results.size, gauges, baseline) ++
      QueryMix.Iterative.flatMap { q =>
        spans.get(q).toSeq.flatMap { s =>
          val e = tr.engine(s.id)
          Seq(s"operators.$q.wall_s" -> s.wallS,
            s"operators.$q.jobs" -> e.jobs.toDouble,
            s"operators.$q.plan_s" -> e.planMs / 1e3)
        }
      } ++ Map(
      "trace.overhead_s" -> overheadS,
      "trace.self_gap_s" -> results.map(r =>
        math.abs(r.wallS - spans.get(r.name).map(_.wallS).getOrElse(0.0)))
        .maxOption.getOrElse(0.0)))
  }
}
