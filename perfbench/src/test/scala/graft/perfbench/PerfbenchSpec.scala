package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median takes the middle value, or the mean of the two middle ones") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("percentile interpolates linearly between the closest ranks") {
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 75) == 3.25)
    assert(Stats.percentile(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 75) == 4.0)
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == Stats.median(Seq(1.0, 2.0, 3.0, 4.0)))
    assert(Stats.percentile(Seq(9.0), 75) == 9.0)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0) == 1.0)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 100) == 100.0)
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("failed share is failed over attempted, and refuses nonsense") {
    assert(Stats.failedShare(0, 7) == 0.0)
    assert(Stats.failedShare(1, 4) == 0.25)
    intercept[IllegalArgumentException](Stats.failedShare(0, 0))
    intercept[IllegalArgumentException](Stats.failedShare(5, 4))
  }

  test("self time is wall minus direct children; a tree's self times sum to its root wall") {
    val spans = Seq(
      Span(0, "tick", "runner", -1, "b0", 0, 100),
      Span(1, "validate", "validate", 0, "b0", 10, 40),
      Span(2, "upsertStore", "store", 0, "b0", 50, 90),
      Span(3, "readTable", "io", 2, "b0", 60, 70),
      Span(4, "tick", "runner", -1, "b1", 100, 110))
    val self = Stats.selfTimes(spans)
    assert(self == Map(0 -> 30L, 1 -> 30L, 2 -> 30L, 3 -> 10L, 4 -> 10L))
    assert(spans.filter(_.op == "b0").map(s => self(s.id)).sum == 100L)
    val layers = Stats.layerSelfSeconds(spans)
    assert(layers == Map("runner" -> 40e-9, "validate" -> 30e-9,
      "store" -> 30e-9, "io" -> 10e-9))
  }
}

class GenSpec extends AnyFunSuite {

  private lazy val base = Gen.base(0.01)

  private def tmp() = Files.createTempDirectory(
    Paths.get("target").toAbsolutePath, "gen")

  test("the same seed writes byte-identical batches; another seed does not") {
    val plan = Gen.tricklePlan(base, 6, 7)
    val (a, b, c) = (tmp(), tmp(), tmp())
    val arrA = Gen.writeBatches(base, plan, a, 7)
    val arrB = Gen.writeBatches(base, plan, b, 7)
    Gen.writeBatches(base, Gen.tricklePlan(base, 6, 8), c, 8)
    assert(Fs.checksum(a) == Fs.checksum(b))
    assert(arrA.map(x => (a.relativize(Paths.get(x.path)), x.ts, x.date)) ==
      arrB.map(x => (b.relativize(Paths.get(x.path)), x.ts, x.date)))
    assert(Fs.checksum(a) != Fs.checksum(c))
    Seq(a, b, c).foreach(Fs.deleteTree)
  }

  test("trickle plan: one re-delivery per five, two dirty batches, each re-delivery after its original") {
    for (seed <- 1L to 20L; n <- Seq(5, 10)) {
      val plan = Gen.tricklePlan(base, n, seed)
      assert(plan.map(_.index) == plan.indices)
      assert(plan.count(_.kind == Gen.DirtyNull) == 1)
      assert(plan.count(_.kind == Gen.DirtyRi) == 1)
      val redeliveries = plan.collect { case s @ Gen.BatchSpec(_, _, Gen.Redelivery(_)) => s }
      assert(redeliveries.size == (n + 1) / 5)
      redeliveries.foreach { r =>
        val Gen.Redelivery(of) = r.kind
        assert(of < r.index && plan(of).kind == Gen.Clean && plan(of).days == r.days)
      }
      assert(plan.flatMap(_.days).forall(d => base.ordersByDay(d).nonEmpty))
    }
  }

  test("a re-delivery carries its original's bytes") {
    val plan = Gen.tricklePlan(base, 6, 3)
    val dir = tmp()
    Gen.writeBatches(base, plan, dir, 3)
    plan.collect { case s @ Gen.BatchSpec(i, _, Gen.Redelivery(of)) =>
      assert(Fs.checksum(dir.resolve(f"b$i%03d")) == Fs.checksum(dir.resolve(f"b$of%03d")))
    }
    Fs.deleteTree(dir)
  }

  test("bulk plan covers every day exactly once") {
    val plan = Gen.bulkPlan(base, 8, 5)
    assert(plan.size == 8)
    assert(plan.flatMap(_.days) == (0 until Gen.Days))
  }

  test("warm-up batches are clean single days ahead of the plan, on days it does not carry") {
    val plan = Gen.tricklePlan(base, 7, 4)
    val all = Gen.withWarmUp(base, plan, 3, 4)
    val (warm, rest) = all.splitAt(3)
    assert(all.map(_.index) == all.indices)
    assert(warm.forall(s => s.kind == Gen.Clean && s.days.size == 1))
    assert(warm.flatMap(_.days).distinct.size == 3)
    assert(warm.flatMap(_.days).intersect(plan.flatMap(_.days)).isEmpty)
    assert(rest.map(s => (s.days, s.kind)) == plan.map(s => (s.days, s.kind match {
      case Gen.Redelivery(of) => Gen.Redelivery(of + 3)
      case k => k
    })))
  }

  test("the sf0.1 base tables have the measured shape of the reference tables") {
    val ref = Files.readString(Paths.get("reference", "sf0.1.json"))
    def want(k: String): Double = (s""""${java.util.regex.Pattern.quote(k)}": ([-0-9.e]+)""")
      .r.findFirstMatchIn(ref).get.group(1).toDouble
    def near(got: Double, k: String, tol: Double): Unit =
      assert(math.abs(got - want(k)) <= tol * math.abs(want(k)), s"$k: $got vs ${want(k)}")
    val b = Gen.base(0.1)
    val perOrder = b.itemsOf.map(_.length)
    near(b.nOrders, "orders.rows", 0)
    near(b.nItems, "lineitem.rows", 0)
    near(b.nParts, "part.rows", 0)
    near(b.docText.length, "documents.rows", 0)
    near(b.ordersByDay.count(_.nonEmpty), "orders.days", 0.01)
    near(b.nOrders.toDouble / b.ordersByDay.count(_.nonEmpty), "orders.per_day_mean", 0.02)
    near(perOrder.count(_ == 0).toDouble / b.nOrders, "orders.without_lines_share", 0.1)
    near(perOrder.filter(_ > 0).sum.toDouble / perOrder.count(_ > 0),
      "lineitem.per_order_mean", 0.02)
    near(b.docText.count(_.endsWith(" dup")).toDouble / b.docText.length,
      "documents.dup_twin_share", 0.05)
    near(b.docText.flatMap(_.split(' ')).distinct.length, "documents.vocabulary", 0)
    near(b.partName.distinct.length, "part.names", 0)
    near(b.itemCents.sum / 100.0 / b.nItems, "lineitem.price_mean", 0.01)
  }

  test("base tables are byte-identical across writes") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    try {
      val (a, b) = (tmp(), tmp())
      Gen.writeBase(spark, base, a)
      Gen.writeBase(spark, base, b)
      assert(Fs.checksum(a) == Fs.checksum(b))
      assert(spark.read.parquet(a.resolve("lineitem.parquet").toString).count() ==
        base.nItems)
      Seq(a, b).foreach(Fs.deleteTree)
    } finally spark.stop()
  }
}

class ContractSpec extends AnyFunSuite {

  private def names(section: String): Seq[String] = {
    val json = Files.readString(Paths.get("..", "BENCHMARK.json"))
    val body = s""""$section": \\[(.*?)\\]""".r.findFirstMatchIn(
      json.replace("\n", " ")).map(_.group(1)).getOrElse("")
    """"name": "([^"]+)"""".r.findAllMatchIn(body).map(_.group(1)).toSeq
  }

  test("BENCHMARK.json lists exactly the metrics the harness prints") {
    assert(names("end_to_end") == Main.EndToEnd.map(_._1))
    assert(names("per_layer") == Layers.PerLayer.map(_._1))
    assert(names("workloads").toSet == Set("trickle_late", "query_mix"))
    assert(Main.EndToEnd.map(_._1).contains("setup_s"))
  }
}
