package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Generated inputs are kept between runs: a directory is reused when its
  * recorded checksum still matches its content, else regenerated. */
object Cache {

  private val Seal = "_checksum"

  private def fresh(dir: Path): Boolean = {
    val sum = dir.resolve(Seal)
    Files.exists(sum) && Files.readString(sum) == Fs.checksum(dir, Seal)
  }

  private def seal(dir: Path): Unit =
    Files.writeString(dir.resolve(Seal), Fs.checksum(dir, Seal))

  /** The base tables for `sf`, in a directory under `root` named by their
    * content hash; returns that directory. */
  def base(spark: SparkSession, root: Path, sf: Double): Path = {
    val b = Gen.base(sf)
    val dir = root.resolve(s"base-sf$sf-${b.digest}")
    if (!fresh(dir)) {
      Fs.deleteTree(dir)
      Gen.writeBase(spark, b, dir)
      seal(dir)
    }
    dir
  }

  /** A workload's batches under `dir`, written by `gen` when not cached.
    * The arrival list is stored beside them with paths relative to `dir`. */
  def batches(dir: Path, gen: () => Seq[Gen.FileArrival]): Seq[Gen.FileArrival] = {
    val list = dir.resolve("arrivals.tsv")
    if (!fresh(dir)) {
      Fs.deleteTree(dir)
      val arrivals = gen()
      Files.writeString(list, arrivals.map(a =>
        s"${dir.relativize(java.nio.file.Paths.get(a.path))}\t${a.ts}\t${a.date}")
        .mkString("", "\n", "\n"))
      seal(dir)
    }
    scala.io.Source.fromFile(list.toFile).getLines().map(_.split('\t')).map {
      case Array(p, ts, d) => Gen.FileArrival(dir.resolve(p).toString, ts.toLong, d)
    }.toSeq
  }
}
