package graft
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Crash-proofed like the bench (round-10 verdict #1: CORRECTNESS_r10.json
  * landed as `{}` while every query passes — the verify→compare chain died
  * and nothing partial survived). Three rules:
  *
  *   1. `oracle_sql.json` is written BEFORE the first query runs — it
  *      depends only on the static SparkEntry maps, and the compare step
  *      needs it. A kill during query N still leaves a complete oracle
  *      map plus N finished result dirs → a PARTIAL artifact, never `{}`.
  *   2. `manifest.json` is REWRITTEN after every query (atomic tmp+move,
  *      read-merge-write so tranche children extend, never clobber), so
  *      "attempted so far" is always on disk, never only in memory.
  *   3. SHARDED by default, through the bench's child-JVM launcher
  *      ([[Local.runTranches]]): the parent creates NO SparkSession and
  *      runs each tranche of ≤ SPARK_GRAFT_TRANCHE_SIZE (default 50)
  *      queries in its own child JVM — a JVM-level death (OOM kill,
  *      codegen segfault) loses only the running tranche; the parent marks
  *      its unfinished queries "died" in the manifest and CONTINUES with
  *      the next tranche.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // dev convenience / child contract: optional 3rd arg = comma-separated
    // query subset
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n))).sorted
    val isChild = Local.trancheIndex.isDefined
    new java.io.File(outDir).mkdirs()
    // A fresh top-level run must not inherit the previous run's manifest:
    // read-merge-write would carry stale 'ok' statuses, so a tranche child
    // dying in run 2 would leave run 1's entries for its unreached queries
    // and nothing would be marked 'died' — the compare would then read
    // run 1's stale parquet as this round's all-green coverage (the exact
    // silent-shrink failure the manifest exists to prevent). Children
    // (same run) must keep merging, so only the parent resets — and a
    // SUBSET rerun (explicit args(2) without the child env, the dev flow
    // for re-running a died tranche) must ALSO merge: wiping the manifest
    // there would erase every other query's status from the round
    // (round-11 advice). Reset only on full-lineup parent runs.
    if (!isChild && only.isEmpty)
      Files.deleteIfExists(Paths.get(s"$outDir/manifest.json"))
    if (Local.sharded(names)) {
      writeOracleSql(outDir) // FIRST: the compare's static input survives any kill
      Local.runTranches("graft.Verify", Seq(sfDir, outDir), names, Local.trancheSize) { t =>
        if (t.exit != 0) markDied(outDir, t.names)
      }
    } else runInline(sfDir, outDir, names, writeOracle = !isChild)
  }

  private val Json = new ObjectMapper()

  private def writeOracleSql(outDir: String): Unit =
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.writeValueAsString(SparkEntry.oracleSql.asJava))

  /** The run manifest's statuses. A file that is not a flat object of
    * strings (a killed writer pre-ATOMIC_MOVE can't produce one, but
    * belt-and-braces) degrades to empty, never aborts the run.
    */
  private[graft] def parseManifest(s: String): Map[String, String] =
    try {
      val node = Json.readTree(s)
      val fields = node.fields().asScala.map(e => e.getKey -> e.getValue).toSeq
      if (!node.isObject || !fields.forall(_._2.isTextual)) Map.empty
      else fields.map { case (k, v) => k -> v.asText }.toMap
    } catch { case NonFatal(_) => Map.empty }

  private def readManifest(outDir: String): Map[String, String] =
    try parseManifest(Files.readString(Paths.get(s"$outDir/manifest.json")))
    catch { case NonFatal(_) => Map.empty }

  /** Read-merge-write the run manifest: later statuses win, so a parent
    * "died" mark is replaced if a rerun finishes the query, and tranche
    * children extend the accumulated map instead of clobbering it.
    * Values are bare statuses (ok / error / died).
    */
  private[graft] def mergeManifest(outDir: String,
      updates: Seq[(String, String)]): Unit = {
    val merged = new java.util.TreeMap[String, String]((readManifest(outDir) ++ updates).asJava)
    val tmp = Paths.get(s"$outDir/manifest.json.tmp")
    Files.writeString(tmp, Json.writeValueAsString(merged))
    Files.move(tmp, Paths.get(s"$outDir/manifest.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** A dead tranche must surface, never vanish: the queries its child did
    * not reach get an explicit "died" status (the child's own per-query
    * merges already recorded everything it finished).
    */
  private[graft] def markDied(outDir: String, names: Seq[String]): Unit = {
    val done = readManifest(outDir).keySet
    mergeManifest(outDir, names.filterNot(done).map(_ -> "died"))
  }

  // ----------------------------------------------------------------- inline

  private def runInline(sfDir: String, outDir: String, names: Seq[String],
      writeOracle: Boolean): Unit = {
    val spark = Local.session(Local.cpus)
    if (writeOracle) writeOracleSql(outDir)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val status =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          "ok"
        } catch { case e: Throwable =>
          // a failed query must be VISIBLE to the compare, not vanish: a
          // missing result dir reads as "not attempted" and silently
          // shrinks the round's coverage (round-6: 7 broken event queries
          // produced an all-green 107-entry artifact). Leave an _ERROR
          // marker in the query's own dir plus the run-level manifest.
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          try {
            val d = new java.io.File(s"$outDir/$name")
            d.mkdirs()
            Files.writeString(Paths.get(s"$outDir/$name/_ERROR"),
              s"${e.getClass.getName}: ${e.getMessage}\n")
          } catch { case _: Throwable => () }
          "error"
        }
      spark.catalog.clearCache() // release intra-query persists (sortOnce etc.)
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[verify] $name $status in $sec%.1fs")
      mergeManifest(outDir, Seq(name -> status))
    }
    spark.stop()
  }
}
