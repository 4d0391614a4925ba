package graft.ops

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

/** `Load.parquet` infers each path's schema once per fingerprint: a read
  * of an unchanged file reuses it without a Spark job, a changed file or
  * inference conf re-infers, and paths it cannot fingerprint read exactly
  * as a bare `spark.read.parquet`.
  */
class LoadSchemaCacheSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-load-cache").toString

  /** Spark jobs started while `body` ran, and its result. */
  private def jobsDuring[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      TestBus.drain(sc)
      (n.get, r)
    } finally sc.removeSparkListener(l)
  }

  private def fields(s: StructType) = s.map(f => f.name -> f.dataType)

  test("a second read of an unchanged file starts no Spark job and returns the same schema") {
    val dir = s"${tmp()}/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1).write.parquet(dir)
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val file = s"${tmp()}/single.parquet"
    Files.copy(part.toPath, java.nio.file.Paths.get(file))
    // a flat directory as Spark writes it, and a single file
    Seq(dir, file).foreach { p =>
      val (inferJobs, first) = jobsDuring(Load.parquet(spark, p).schema)
      val (jobs, df) = jobsDuring(Load.parquet(spark, p))
      assert(inferJobs > 0, s"$p: the first read infers")
      assert(jobs == 0, s"$p: the second read started $jobs job(s)")
      assert(df.schema == first)
      assert(df.orderBy("k").collect().toSeq == Seq(Row(1L, "a"), Row(2L, "b")))
    }
  }

  test("overwriting the path with different columns returns the new schema") {
    val p = s"${tmp()}/t.parquet"
    Seq((1L, "a")).toDF("k", "v").write.parquet(p)
    assert(fields(Load.parquet(spark, p).schema) == Seq("k" -> LongType, "v" -> StringType))
    Seq((1.5, true)).toDF("x", "y").write.mode("overwrite").parquet(p)
    val df = Load.parquet(spark, p)
    assert(fields(df.schema) == Seq("x" -> DoubleType, "y" -> BooleanType))
    assert(df.collect().toSeq == Seq(Row(1.5, true)))
  }

  test("flipping spark.sql.legacy.parquet.nanosAsLong re-infers the schema") {
    val p = s"${tmp()}/nanos.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(p)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("ts", 1500L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(key)
    def cachedAndBare = (Try(Load.parquet(spark, p).schema).toEither.left.map(_.getClass),
      Try(spark.read.parquet(p).schema).toEither.left.map(_.getClass))
    try {
      spark.conf.set(key, "true")
      assert(fields(Load.parquet(spark, p).schema) == Seq("id" -> LongType, "ts" -> LongType))
      spark.conf.set(key, "false")
      val (cached, bare) = cachedAndBare
      assert(cached == bare, "a conf flip must read as a bare spark.read.parquet does")
      assert(cached.map(s => s("ts").dataType) != Right(LongType))
    } finally spark.conf.set(key, before)
    assert(Load.parquet(spark, p).schema("ts").dataType == LongType)
  }

  test("a partitioned directory, a glob and a missing path take the uncached path") {
    val base = tmp()
    val rows = Seq((1L, "a", 1), (2L, "b", 2))
    rows.toDF("k", "v", "part").write.partitionBy("part").parquet(s"$base/pt")
    rows.toDF("k", "v", "part").write.parquet(s"$base/flat")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "part").orderBy("k").collect().toSeq
    Seq(s"$base/pt", s"$base/flat/*.parquet").foreach { p =>
      Load.parquet(spark, p)
      val (jobs, df) = jobsDuring(Load.parquet(spark, p))
      assert(jobs > 0, s"$p: every read infers, as a bare spark.read.parquet does")
      val bare = spark.read.parquet(p)
      assert(df.schema == bare.schema)
      assert(sorted(df) == sorted(bare))
      assert(sorted(df) == rows.map(Row.fromTuple))
    }
    val missing = s"$base/missing.parquet"
    val e = intercept[Exception](Load.parquet(spark, missing))
    val bareError = intercept[Exception](spark.read.parquet(missing))
    assert(e.getClass == bareError.getClass && e.getMessage == bareError.getMessage)
  }

  test("two Load.table reads of one table keep distinct attribute ids") {
    val a = Load.table(spark, sf, "orders")
    val (jobs, b) = jobsDuring(Load.table(spark, sf, "orders"))
    assert(jobs == 0, "the second read is a cache hit")
    val ids = (a.queryExecution.analyzed.output ++ b.queryExecution.analyzed.output)
      .map(_.exprId)
    assert(ids.distinct.size == ids.size)
    val joined = a.join(b, a("o_orderkey") === b("o_orderkey"))
    assert(joined.count() == a.count())
    assert(joined.filter(a("o_custkey") =!= b("o_custkey")).isEmpty)
  }
}
