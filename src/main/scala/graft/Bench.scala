package graft
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}

/** Benchmark main. Two modes:
  *
  *   - SHARDED (default for > SPARK_GRAFT_TRANCHE_SIZE queries): the
  *     parent process creates NO SparkSession — it runs the sorted query
  *     list through [[Local.runTranches]] (tranches of ≤
  *     SPARK_GRAFT_TRANCHE_SIZE, default 50, each in its own child JVM
  *     with the same flags, sequential), merges the per-tranche JSON
  *     files, and emits the usual artifact. One
  *     JVM running 200+ whole-stage-codegen'd queries saturates even a
  *     1 GB reserved code cache mid-run and the sweeper deoptimizes
  *     hot methods — round-8's artifact showed 16 queries timing
  *     SLOWER at sf0.1 in the full run than at sf1 in isolation, a
  *     2.3× phantom regression. Per-tranche JVMs keep every query's
  *     steady-state JIT within cache budget, so the artifact is
  *     comparable round-over-round. A dead child or a truncated tranche
  *     file reads as failed rows, and the merged record is rewritten
  *     after every tranche.
  *   - INLINE (tranche child, small SPARK_GRAFT_BENCH_ONLY subsets, or
  *     SPARK_GRAFT_TRANCHE_SIZE=0): the single-JVM timed loop.
  *
  * Each query is timed [[Samples]] times in interleaved passes. The
  * artifact's `queries` map holds each query's median, `spread` its
  * `[min, max]`, and `dispersion` the run's noise level: the median over
  * queries of (max − min) / median.
  */
object Bench {

  /** Timed samples per query. Three is the fewest whose median ignores
    * one sample hit by a burst of host load. */
  val Samples = 3

  def main(args: Array[String]): Unit = {
    // a tranche child gets its subset as its one argument
    val only: Option[Set[String]] =
      (if (Local.trancheIndex.isDefined) args.headOption
       else sys.env.get("SPARK_GRAFT_BENCH_ONLY")).map(_.split(',').toSet)
    // SKIP complements ONLY for full-lineup runs that must drop a few
    // deliberately-expensive rows (the sf1 artifact excludes the
    // payload-ER pair: q242 is comparison-heavy BY DESIGN and owns a
    // dedicated sf1 artifact, BENCH_ERP_SF1.json, instead)
    val skip: Set[String] =
      sys.env.get("SPARK_GRAFT_BENCH_SKIP").map(_.split(',').toSet)
        .getOrElse(Set.empty)
    // bench lineup = oracled queries + the sketch-tier scale-path rows
    val names = SparkEntry.rows.map(_.name)
      .filter(n => only.forall(_.contains(n)) && !skip.contains(n)).sorted
    if (Local.sharded(names)) runSharded(names) else runInline(names)
  }

  // ---------------------------------------------------------- per-query row

  /** One query's row in the artifact. `ok` only when every sample
    * succeeded. */
  private[graft] final case class Timing(name: String, median: Double,
      min: Double, max: Double, ok: Boolean)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** `samples` holds Some(seconds) per successful sample and None per
    * failed one. A failed sample fails the query; its band then covers
    * the samples that did succeed (0 when none did). */
  private[graft] def summarize(name: String,
      samples: Seq[Option[Double]]): Timing = {
    val ts = samples.flatten
    Timing(name, median(ts), if (ts.isEmpty) 0.0 else ts.min,
      if (ts.isEmpty) 0.0 else ts.max,
      ok = ts.nonEmpty && ts.size == samples.size)
  }

  /** Run-level figures: the sum of the ok queries' medians, the failed
    * queries, and the median over ok queries of (max − min) / median. */
  private[graft] final case class Totals(total: Double, failed: Seq[String],
      dispersion: Double)

  private[graft] def totals(rows: Seq[Timing]): Totals = {
    // a failed query's wall time is meaningless — exclude it from the
    // total and name it in `failed` so a broken round can never read as a
    // speedup (round-6 advisor finding: 7 dead queries timed at ~0.06 s
    // silently "improved" the total)
    val ok = rows.filter(_.ok)
    Totals(ok.map(_.median).sum, rows.filterNot(_.ok).map(_.name),
      median(ok.collect { case t if t.median > 0 =>
        (t.max - t.min) / t.median }))
  }

  // ---------------------------------------------------------------- sharded

  /** One tranche's child run: its record for the artifact's `tranches`
    * array plus the per-query rows it produced. */
  private[graft] final case class TrancheRun(t: Local.Tranche,
      rows: Seq[Timing], outputRows: Map[String, Long],
      outputBytes: Map[String, Long]) {
    def json: String =
      s"""{"i":${t.i},"n":${t.names.size},"first":"${t.names.head}",""" +
        s""""last":"${t.names.last}","wall_sec":${ms(t.wall)},""" +
        s""""exit":${t.exit},"child_peak_rss_mb":${t.peakRssMb}}"""
  }

  /** A finished tranche's rows from the JSON file its child wrote. A dead
    * child, a missing file or an unparseable one degrades the tranche to
    * all-failed rows, never aborts the merged run. */
  private[graft] def readTranche(t: Local.Tranche, file: Path): TrancheRun = {
    def dead = TrancheRun(t, t.names.map(Timing(_, 0.0, 0.0, 0.0, ok = false)),
      Map.empty, Map.empty)
    if (t.exit != 0 || !Files.exists(file)) {
      // a dead tranche must surface as FAILURES, never vanish
      System.err.println(s"[bench] tranche ${t.i} exited ${t.exit} without output")
      dead
    } else {
      // a child killed mid-write leaves a truncated file that EXISTS —
      // a parse failure must degrade this tranche to failures, exactly
      // like the missing-file path, never abort the merged run
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(Files.readAllBytes(file))
        def fields(key: String) = Option(node.get(key))
          .map(_.fields().asScala.map(e => e.getKey -> e.getValue).toMap)
          .getOrElse(Map.empty[String, com.fasterxml.jackson.databind.JsonNode])
        val medians = fields("queries")
        val spread = fields("spread")
        val failed = node.get("failed").elements().asScala
          .map(_.asText()).toSet
        val rows = t.names.map { n =>
          (medians.get(n), spread.get(n)) match {
            case (Some(m), Some(b)) => Timing(n, m.asDouble(),
              b.get(0).asDouble(), b.get(1).asDouble(), !failed(n))
            case _ => Timing(n, 0.0, 0.0, 0.0, ok = false)
          }
        }
        TrancheRun(t, rows,
          fields("output_rows").map { case (k, v) => k -> v.asLong() },
          fields("output_bytes").map { case (k, v) => k -> v.asLong() })
      } catch {
        case NonFatal(e) =>
          System.err.println(
            s"[bench] tranche ${t.i} output unparseable ($e) — marking failed")
          dead
      }
    }
  }

  /** `BENCH_LOCAL.json` → `BENCH_LOCAL.32c.json`: the per-run sibling of a
    * durable artifact path, keyed by core count, so a run at another core
    * count never overwrites it. */
  private def cpuTagged(path: String, cpus: Int): String =
    if (path.endsWith(".json"))
      path.stripSuffix(".json") + s".${cpus}c.json"
    else path + s".${cpus}c.json"

  private def runSharded(names: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The child inherits this JVM's flags and ADDS the heap pre-commit
    // flags the slimmed parent deliberately lacks (round-9 verdict: the
    // do-nothing orchestrator was booting with -Xms8g -XX:+AlwaysPreTouch,
    // fully committing 8 GiB of dead weight before the child committed its
    // own 8 GiB — the run was SIGKILLed in tranche 0 and the whole artifact
    // vanished). Only JVMs that actually run queries pre-touch their heap.
    val heapFlags = {
      val base = Local.jvmFlags
      val xmx = base.find(_.startsWith("-Xmx")).map(_.stripPrefix("-Xmx"))
        .getOrElse("8g")
      Seq(s"-Xms$xmx", "-XX:+AlwaysPreTouch").filterNot(base.contains)
    }
    val tmp = Files.createDirectories(Paths.get(ScratchDirs.fresh(sfDir, "bench")))
    def out(i: Int) = tmp.resolve(s"tranche_$i.json")
    val done = scala.collection.mutable.ArrayBuffer[TrancheRun]()
    Local.runTranches("graft.Bench", Nil, names, Local.trancheSize, heapFlags,
        i => Map("SPARK_GRAFT_BENCH_OUT" -> out(i).toString)) { t =>
      done += readTranche(t, out(t.i))
      // Crash-proofing (the round-9 deliverable failure): rewrite the
      // merged partial artifact to the durable out-path and print a short
      // self-contained partial-total line after EVERY tranche, so a
      // SIGKILL at any point — including of this parent — leaves both a
      // parseable file on disk and a parseable last line on stdout. The
      // last tranche's emit is the final record.
      emit(done.toSeq.flatMap(_.rows), sfDir, Some(done.toSeq.map(_.json)),
        partial = if (t.i + 1 < t.count) Some((t.i + 1, t.count)) else None,
        outputRows = done.toSeq.flatMap(_.outputRows).toMap,
        outputBytes = done.toSeq.flatMap(_.outputBytes).toMap)
    }
  }

  // ----------------------------------------------------------------- inline

  /** One timed sample: seconds when it succeeded, plus the observed
    * output cardinality where the query has one. */
  private final case class Sample(secs: Option[Double],
      outputRows: Option[Long], outputBytes: Option[Long])

  private def runInline(names: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val byName = SparkEntry.rows.map(q => q.name -> q).toMap
    val benchQueries = names.map(byName)
    val spark = Local.session(Local.cpus)
    // warmup outside the timed section: run EVERY query once at sf0.001
    // so codegen compilation + JIT for each query's operators happen
    // before its timed run — the timed section then measures steady-state
    // execution, not first-run compilation
    val warmDir = "/root/testdata/sf0.001"
    benchQueries.foreach { q =>
      try q.run(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // touch the target-SF tables so the timed section reads a warm page
    // cache instead of charging the first query per table with the disk
    // I/O. The OS page cache is shared across processes, so in sharded
    // mode only tranche 0 needs the touch — re-reading every table in all
    // five child JVMs was pure fixed overhead against a possible driver
    // wall-clock kill (round-9 verdict 1c).
    if (Local.trancheIndex.forall(_ == 0))
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        try ops.Load.table(spark, sfDir, t).write
          .format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    spark.catalog.clearCache()
    // settle: let GC reclaim warmup garbage so the first timed query
    // doesn't absorb the collection pause
    System.gc()
    Thread.sleep(3000)

    // Interleaved passes (q1..qn, then q1..qn again), not back-to-back
    // repeats: a burst of host load then lands on one sample of several
    // queries, which their medians drop, instead of on every sample of one.
    val passes = (1 to Samples).map { pass =>
      benchQueries.map(timeOnce(spark, sfDir, _, pass))
    }
    val samples = names.indices.map(j => passes.map(_(j)))
    val rows = names.zip(samples).map { case (n, ss) =>
      summarize(n, ss.map(_.secs)) }
    // Stop Spark BEFORE emitting the metric lines so shutdown chatter can
    // never land after them — the short JSON must be the very last line.
    spark.stop()
    emit(rows, sfDir, None,
      outputRows = names.zip(samples).flatMap { case (n, ss) =>
        ss.flatMap(_.outputRows).headOption.map(n -> _) }.toMap,
      outputBytes = names.zip(samples).flatMap { case (n, ss) =>
        ss.flatMap(_.outputBytes).headOption.map(n -> _) }.toMap)
  }

  private def timeOnce(spark: SparkSession, sfDir: String, q: Query,
      pass: Int): Sample = {
    val name = q.name
    // persisted-artifact queries: run the index build OUTSIDE the clock
    // (Query.prepare) — the timed section is reload + probe only.
    // A FAILED prepare must fail the sample: the self-sufficient query fn
    // would otherwise rebuild the index INSIDE the clock and record a
    // silently-wrong number (the exact build-masks-probe distortion the
    // prepare hook exists to eliminate).
    val prepOk = q.prepare.forall { p =>
      val r = try { p(spark, sfDir); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] prepare($name) FAILED: $e"); false }
      spark.catalog.clearCache()
      r
    }
    // output telemetry (Query.observeRows / observeBytes): an
    // `observe` count or byte sum aggregates during the same noop
    // write — no second evaluation, negligible overhead — and ships in the artifact so an output-driven wall
    // ratio (pairs grow with ScaleUp replicas) is distinguishable
    // from a plan regression without re-deriving it in prose.
    // an Observation serves one action, so each sample gets its own
    val obs =
      if (q.observeRows || q.observeBytes.isDefined)
        Some(new Observation(s"__rows_${name}_$pass"))
      else None
    val t0 = System.nanoTime()
    // noop sink forces full evaluation of every output column —
    // count() would let Catalyst prune the projection away
    val ok = prepOk &&
      (try {
        val df0 = q.run(spark, sfDir)
        val df = obs.map { o =>
          // one Observation, up to two aggregates (rows and/or the
          // blob family's decoded-bytes sum) — still no re-evaluation
          val aggs =
            (if (q.observeRows) Seq(count(lit(1)).as("rows")) else Nil) ++
              q.observeBytes.map(e => sum(e).as("bytes")).toSeq
          df0.observe(o, aggs.head, aggs.tail: _*)
        }.getOrElse(df0)
        df.write.format("noop").mode("overwrite").save(); true
      }
      catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); false })
    val t = (System.nanoTime() - t0) / 1e9
    def obsLong(key: String): Option[Long] =
      if (!ok) None
      else obs.flatMap(o =>
        try o.get.get(key).collect {
          case v: Number => v.longValue()
        }
        catch { case NonFatal(_) => None })
    // intra-query persists are part of the measured time; dropping them
    // AFTER the clock keeps queries independent (no cross-query memory
    // pressure / eviction noise)
    spark.catalog.clearCache()
    Sample(if (ok) Some(t) else None,
      if (q.observeRows) obsLong("rows") else None,
      if (q.observeBytes.isDefined) obsLong("bytes") else None)
  }

  // ------------------------------------------------------------------- emit

  // ms precision on the stdout line keeps the 200-query record compact;
  // BENCH_LOCAL.json keeps full nanosecond-derived precision.
  // Locale.ROOT: the default-locale format would print "1,234" on
  // comma-decimal locales and break the JSON the driver tail-parses.
  private def ms(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Writes the merged artifact to the durable out-path and prints the
    * stdout record(s). `partial = Some((done, total))` marks a mid-run
    * checkpoint: the durable file is rewritten in full and ONE short
    * self-contained line (flagged `"partial":true`) goes to stdout, so a
    * kill between tranches still leaves a reader of the last line a valid
    * total for the completed prefix. */
  private def emit(rows: Seq[Timing], sfDir: String,
      tranches: Option[Seq[String]],
      partial: Option[(Int, Int)] = None,
      outputRows: Map[String, Long] = Map.empty,
      outputBytes: Map[String, Long] = Map.empty): Unit = {
    val Totals(total, failed, dispersion) = totals(rows)
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def perQuery(fmt: Double => String): String =
      s""""queries":${obj(rows.map(t => t.name -> fmt(t.median)))},""" +
        s""""spread":${obj(rows.map(t =>
          t.name -> s"[${fmt(t.min)},${fmt(t.max)}]"))}"""
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val trancheJson = tranches
      .map(t => s""","tranches":${t.mkString("[", ",", "]")}""")
      .getOrElse("")
    // output cardinality for the dedup-pair family (verdict #5): wall
    // time there scales with pairs FOUND, so the artifact must carry the
    // denominator a reader needs to normalize it; the blob family's
    // decoded bytes likewise (round-12 verdict #6)
    def counts(key: String, m: Map[String, Long]): String =
      if (m.isEmpty) ""
      else s""","$key":${obj(m.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> v.toString })}"""
    val partialJson = partial
      .map { case (d, t) => s""","partial":true,"tranches_done":$d,"tranches_total":$t""" }
      .getOrElse("")
    val cpus = Local.cpus
    val rest = s""""failed":$failedJson$trancheJson""" +
      counts("output_rows", outputRows) + counts("output_bytes", outputBytes) +
      s"""$partialJson,"sf":"$sfDir","cpus":$cpus}"""
    val jsonFull =
      s"""{"metric":"total","value":$total,"unit":"sec",${perQuery(_.toString)},"dispersion":$dispersion,"samples":$Samples,$rest"""
    val jsonDetail =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec",${perQuery(ms)},"dispersion":${ms(dispersion)},"samples":$Samples,$rest"""
    // Durable copy so a harness that misses the stdout line can still
    // recover the record from disk. Ad-hoc SUBSET runs default to their
    // own file so a smoke run never overwrites the full-lineup record.
    val subset = sys.env.contains("SPARK_GRAFT_BENCH_ONLY")
    val outStr = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (subset) "BENCH_SUBSET.json" else "BENCH_LOCAL.json")
    // Full-lineup runs also write a record per core count (round-13
    // verdict #2): the 8-core re-run used to overwrite the 32-core record.
    val tagged = !subset && Local.trancheIndex.isEmpty
    val record = if (tagged) cpuTagged(outStr, cpus) else outStr
    // The driver's tail capture keeps only the last ~2 KB of stdout; a
    // 200-query detail line is bigger than that, so its head (with
    // "value":total) gets truncated and the round scores parsed:null
    // (round-4 verdict #1). Emit the detail line first, then a SHORT
    // self-contained total record as the very last line — whatever prefix
    // the tail loses, the final line always fits, always parses, and
    // names the file that holds the per-query map.
    val jsonTail =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,"n_queries":${rows.size},"n_failed":${failed.size},"dispersion":${ms(dispersion)},"record":"$record"$partialJson}"""
    // Best-effort: an unwritable path must not abort the run before the
    // primary stdout metric line prints.
    try {
      val bytes = jsonFull.getBytes("UTF-8")
      Files.write(java.nio.file.Paths.get(outStr), bytes)
      if (tagged) Files.write(java.nio.file.Paths.get(record), bytes)
    } catch {
      // NonFatal only: an OOM/VM error must kill the run, not be masked
      // by a clean-looking metric line
      case NonFatal(e) =>
        System.err.println(s"[bench] durable write failed: $e")
    }
    System.out.flush()
    if (partial.isEmpty) println(jsonDetail) // checkpoints stay short
    println(jsonTail)
    System.out.flush()
  }
}
