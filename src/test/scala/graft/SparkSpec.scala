package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * getOrCreate reuses it across suites in the same test run).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with automatic broadcast joins off, then restores the confs. */
  def withoutBroadcast[T](body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  def scratch(tag: String): String = SparkSpec.scratch(tag)
}

object SparkSpec {
  /** An empty dir for `tag` in this JVM's [[ScratchDirs]] root, which
    * the root's exit hook removes. Tags are unique per call site. */
  def scratch(tag: String): String =
    Files.createDirectories(Paths.get(ScratchDirs.fresh("spec", tag))).toString

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
