package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The sharded path of `Bench` and `Verify`: `Local.runTranches` splits the
  * query names, runs one child JVM per tranche and reports each child's
  * exit; each main turns a dead tranche into its own failure records.
  * The children here run [[TrancheProbe]], which starts no Spark.
  */
class TrancheSpec extends AnyFunSuite {

  private val names = (1 to 13).map(i => f"q$i%02d")

  test("a trailing tranche smaller than MinTranche joins the one before") {
    assert(Local.tranches(names, 4).map(_.size) == Seq(4, 4, 5))
    assert(Local.tranches(names, 5).map(_.size) == Seq(5, 8))
    assert(Local.tranches(names, 6).map(_.size) == Seq(6, 7))
    assert(Local.tranches(names.take(12), 6).map(_.size) == Seq(6, 6))
    assert(Local.tranches(names.take(3), 2) == Seq(names.take(3)))
    assert(Local.tranches(names, 4).flatten == names)
  }

  test("a dead child is reported with its exit code and the next tranche still runs; " +
      "Verify marks what it never reached died") {
    val dir = Path.of(SparkSpec.scratch("tranche"))
    val seen = scala.collection.mutable.ArrayBuffer[Local.Tranche]()
    val (out, err) = (new ByteArrayOutputStream, new ByteArrayOutputStream)
    val (stdout, stderr) = (System.out, System.err)
    System.setOut(new PrintStream(out, true)); System.setErr(new PrintStream(err, true))
    val ts =
      try Local.runTranches("graft.TrancheProbe", Seq(dir.toString, "1"), names, 4) { t =>
        seen += t
        if (t.exit != 0) Verify.markDied(dir.toString, t.names)
      }
      finally { System.setOut(stdout); System.setErr(stderr) }

    assert(ts == seen.toSeq)
    assert(ts.map(t => (t.i, t.count, t.names.size, t.exit)) ==
      Seq((0, 3, 4, 0), (1, 3, 4, 3), (2, 3, 5, 0)))
    assert(ts.forall(_.peakRssMb > 0), ts)
    // the protocol: each child got its own index and subset
    ts.foreach(t => assert(Files.readAllLines(dir.resolve(s"tranche_${t.i}")).asScala == t.names))
    // child stdout lands on the parent's stderr, never its stdout
    assert(err.toString.contains("probe 2 on stdout"))
    assert(!out.toString.contains("probe"))

    val manifest = Verify.parseManifest(Files.readString(dir.resolve("manifest.json")))
    val dead = ts(1).names
    assert(manifest == names.map(_ -> "ok").toMap ++
      dead.map(_ -> "died") + (dead.head -> "error"))

    // each child's scratch root went with it, the sys.exit(3) one too
    val roots = ts.map(t => Files.readString(dir.resolve(s"root_${t.i}")))
    assert(roots.distinct.size == ts.size && roots.forall(_.startsWith("/tmp/graft-")), roots)
    assert(roots.forall(r => !Files.exists(Path.of(r))), roots)
  }

  test("Bench reads a dead, missing or truncated tranche file as failed rows") {
    val dir = Path.of(SparkSpec.scratch("bench_tranche"))
    val t = Local.Tranche(0, 1, Seq("qa", "qb"), 1.5, 0, 100)
    val good = dir.resolve("good.json")
    Files.writeString(good, """{"metric":"total","value":1.0,""" +
      """"queries":{"qa":1.0,"qb":2.0},"spread":{"qa":[0.9,1.1],"qb":[1.5,2.5]},""" +
      """"failed":["qb"],"output_rows":{"qa":7},"sf":"x","cpus":4}""")
    val read = Bench.readTranche(t, good)
    assert(read.rows == Seq(Bench.Timing("qa", 1.0, 0.9, 1.1, ok = true),
      Bench.Timing("qb", 2.0, 1.5, 2.5, ok = false)))
    assert(read.outputRows == Map("qa" -> 7L) && read.outputBytes.isEmpty)
    val record = new com.fasterxml.jackson.databind.ObjectMapper().readTree(read.json)
    assert(record.fieldNames().asScala.toSeq ==
      Seq("i", "n", "first", "last", "wall_sec", "exit", "child_peak_rss_mb"))

    val failed = t.names.map(Bench.Timing(_, 0.0, 0.0, 0.0, ok = false))
    val truncated = dir.resolve("truncated.json")
    Files.writeString(truncated, Files.readString(good).take(40))
    for ((tr, file) <- Seq(t -> dir.resolve("missing.json"), t -> truncated,
        t.copy(exit = 137) -> good))
      assert(Bench.readTranche(tr, file).rows == failed, file)
  }
}

/** A tranche child for [[TrancheSpec]]: `<dir> <dieOn> <subset>`. Writes its
  * subset to `<dir>/tranche_<i>`, writes a file under its own scratch
  * root and that root's path to `<dir>/root_<i>`, prints a line on stdout,
  * and records every query ok in the Verify manifest; tranche `dieOn`
  * records only its first query, as an error, and exits 3.
  */
object TrancheProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, dieOn, subset) = args
    val i = Local.trancheIndex.get
    val qs = subset.split(',').toSeq
    Files.write(Path.of(dir, s"tranche_$i"), qs.asJava)
    val scratch = Files.createDirectories(Path.of(ScratchDirs.fresh(dir, "probe")))
    Files.writeString(scratch.resolve("state"), "x")
    Files.writeString(Path.of(dir, s"root_$i"), ScratchDirs.root.getPath)
    println(s"probe $i on stdout")
    Thread.sleep(300) // long enough for the parent's RSS sampler to see it
    if (i == dieOn.toInt) {
      Verify.mergeManifest(dir, Seq(qs.head -> "error"))
      sys.exit(3)
    }
    Verify.mergeManifest(dir, qs.map(_ -> "ok"))
  }
}
