package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump `explain("formatted")` for the named queries into
  * per-query files — the before/after plan evidence the optimization
  * rounds commit under plans/rNN/.
  *
  *   sbt "runMain graft.tools.PlanSnap plans/r13 before q242_er_payload_full,q243_er_payload_incremental"
  *
  * Data dir comes from SPARK_GRAFT_SF_DIR (default sf0.001 — plan SHAPE
  * is scale-independent; AQE-final shapes are checked live, not here).
  * Prepare hooks run first so artifact-probing queries plan against a
  * real artifact, exactly as Bench times them.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: PlanSnap <outDir> <suffix> <q1,q2,...|all>")
    val Array(outDir, suffix, qcsv) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val names =
      if (qcsv == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else qcsv.split(',').toSeq
    val spark = graft.Local.session(8)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      graft.SparkEntry.prepare.get(name).foreach(p => p(spark, sfDir))
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"), plan.getBytes("UTF-8"))
      println(s"[plansnap] $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
