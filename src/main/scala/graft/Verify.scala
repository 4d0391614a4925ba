package graft
import java.nio.file.{Files, Paths}

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
  *      ([[Local.child]]): the parent creates NO SparkSession and runs
  *      each tranche of ≤ SPARK_GRAFT_VERIFY_TRANCHE_SIZE (default 60)
  *      queries in its own child JVM — a JVM-level death (OOM kill, codegen segfault) loses
  *      only the running tranche; the parent marks its unfinished queries
  *      "died" in the manifest and CONTINUES with the next tranche.
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
    val trancheSize =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_TRANCHE_SIZE", "60").toInt
    val isChild = sys.env.contains("SPARK_GRAFT_VERIFY_TRANCHE")
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
    if (isChild || trancheSize <= 0 || names.size <= trancheSize)
      runInline(sfDir, outDir, names, writeOracle = !isChild)
    else
      runSharded(sfDir, outDir, names, trancheSize)
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeOracleSql(outDir: String): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** Read-merge-write the run manifest: later statuses win, so a parent
    * "died" mark is replaced if a rerun finishes the query, and tranche
    * children extend the accumulated map instead of clobbering it.
    * Values are bare statuses (ok / error / died) — parse-free merge via
    * a flat string map.
    */
  private[graft] def mergeManifest(outDir: String,
      updates: Seq[(String, String)]): Unit = {
    val path = Paths.get(s"$outDir/manifest.json")
    val existing: Map[String, String] =
      if (Files.exists(path)) parseFlatJson(Files.readString(path))
      else Map.empty
    val merged = existing ++ updates
    val body = merged.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    val tmp = Paths.get(s"$outDir/manifest.json.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, path,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Minimal flat {"k":"v",...} parser — both k and v are written by
    * [[q]] above, so escapes are the JSON basics only. A truncated or
    * corrupt file (killed writer pre-ATOMIC_MOVE can't produce one, but
    * belt-and-braces) degrades to empty, never aborts the run.
    */
  private[graft] def parseFlatJson(s: String): Map[String, String] = {
    try {
      val m = scala.collection.mutable.LinkedHashMap[String, String]()
      var i = s.indexOf('"')
      def str(from: Int): (String, Int) = {
        val sb = new StringBuilder
        var j = from + 1
        while (s.charAt(j) != '"') {
          if (s.charAt(j) == '\\') {
            s.charAt(j + 1) match {
              case 'n' => sb.append('\n'); j += 2
              case 'r' => sb.append('\r'); j += 2
              case 't' => sb.append('\t'); j += 2
              case 'u' =>
                sb.append(Integer.parseInt(s.substring(j + 2, j + 6), 16)
                  .toChar); j += 6
              case c => sb.append(c); j += 2
            }
          } else { sb.append(s.charAt(j)); j += 1 }
        }
        (sb.toString, j + 1)
      }
      while (i >= 0) {
        val (k, afterK) = str(i)
        // a missing colon must DEGRADE, not hang: indexOf(':', afterK)
        // returning -1 would make indexOf('"', -1) rescan from 0 and the
        // loop stop advancing — an infinite loop the NonFatal catch can't
        // convert to Map.empty (round-11 advice). Bail on any non-advance.
        val colonPos = s.indexOf(':', afterK)
        if (colonPos < 0) return Map.empty
        val colon = s.indexOf('"', colonPos)
        if (colon < afterK) return Map.empty
        val (v, afterV) = str(colon)
        m(k) = v
        i = s.indexOf('"', afterV)
      }
      m.toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  // ---------------------------------------------------------------- sharded

  private def runSharded(sfDir: String, outDir: String,
      names: Seq[String], trancheSize: Int): Unit = {
    writeOracleSql(outDir) // FIRST: the compare's static input survives any kill
    val tranches = names.grouped(trancheSize).toSeq
    tranches.zipWithIndex.foreach { case (qs, i) =>
      System.err.println(
        s"[verify] tranche $i/${tranches.size}: ${qs.size} queries " +
          s"(${qs.head}..${qs.last})")
      val pb = Local.child("graft.Verify", Seq(sfDir, outDir, qs.mkString(",")),
        Map("SPARK_GRAFT_VERIFY_TRANCHE" -> i.toString))
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      pb.redirectOutput(ProcessBuilder.Redirect.INHERIT)
      val code = pb.start().waitFor()
      if (code != 0) {
        // a dead tranche must surface, never vanish: queries the child
        // didn't reach get an explicit "died" manifest status (the child's
        // own per-query merges already recorded everything it finished)
        System.err.println(s"[verify] tranche $i child exited $code")
        val done = parseFlatJson(
          try Files.readString(Paths.get(s"$outDir/manifest.json"))
          catch { case _: Exception => "{}" }).keySet
        mergeManifest(outDir, qs.filterNot(done).map(_ -> "died"))
      }
    }
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
