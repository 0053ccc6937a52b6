package graft.perfbench

import java.nio.file.Paths

/** Records the query workload's expected results, outside the timed entry
  * point:
  *
  * {{{
  * Record --work DIR --out FILE
  * }}}
  *
  * Writes the generated base tables for [[QueryMix.Sf]] under `DIR`, runs
  * every query of the pass once, writes their rows and hashes to `FILE`
  * and prints the tables' directory as its last line. `perfbench/record.py`
  * runs it, checks the same queries over the same tables against the
  * DuckDB oracle, and installs `FILE` as the expected results only when
  * that check passes.
  */
object Record {

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(m.getOrElse("work", ".bench_build/work")).toAbsolutePath
    val out = Paths.get(m.getOrElse("out", sys.error("--out is required")))
    val spark = Main.session(Runtime.getRuntime.availableProcessors, work, false)
    val code = try {
      val dir = Cache.base(spark, work.resolve("data"), QueryMix.Sf)
      val results = QueryMix.All.map(QueryMix.run(spark, _, dir.toString, None))
      val failed = results.filter(_.error.nonEmpty)
      failed.foreach(r => System.err.println(s"[record] ${r.name}: ${r.error.get}"))
      if (failed.isEmpty) QueryMix.record(out, QueryMix.Sf, results)
      println(dir)
      if (failed.isEmpty) 0 else 1
    } finally spark.stop()
    System.exit(code)
  }
}
