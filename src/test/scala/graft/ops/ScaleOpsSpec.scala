package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin produces identical results to a plain join") {
    val large = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val small = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = large.join(small, Seq("l_orderkey")).count()
    val salted = Skew.saltedJoin(large, small, "l_orderkey", factor = 4).count()
    assert(salted == plain)
  }

  test("saltedJoin with no hot keys takes the plain path — zero __salt replication") {
    // lineitem orderkeys are near-uniform: nothing crosses the 1% share
    // threshold, so the plan must be a single unsalted join (the small
    // side stays broadcast-eligible, nothing is replicated)
    val large = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val small = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val salted = Skew.saltedJoin(large, small, "l_orderkey", factor = 4)
    val plan = salted.queryExecution.executedPlan.toString
    assert(!plan.contains("__salt"), s"cold-key join must not salt:\n$plan")
    assert(!plan.toLowerCase.contains("union"), s"cold-key join must be one join:\n$plan")
  }

  test("saltedJoin salts ONLY detected hot keys; cold keys join unreplicated") {
    import spark.implicits._
    // key 7 holds ~91% of large rows; 100 cold keys hold one row each
    val large = (Seq.fill(1000)(7L) ++ (100L to 199L)).map(k => (k, s"v$k"))
      .toDF("k", "payload")
    val small = (Seq(7L) ++ (100L to 199L)).map(k => (k, s"dim$k")).toDF("k", "dim")
    val out = Skew.saltedJoin(large, small, "k", factor = 4)
    // correctness: exactly the plain-join result
    assert(out.count() == large.join(small, Seq("k")).count())
    // detection found exactly the hot key
    assert(Skew.detectHotKeys(large, "k", minShare = 0.01, maxKeys = 10) == Seq(7L))
    // the hot path exists (union of cold + salted-hot) and only the hot
    // key's dim rows are replicated: the explode feeding the salted join
    // sees 1 small-side row, not 101
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"hot key must be salted:\n$plan")
  }

  test("keySkew reports shares summing <= 1 in descending order") {
    val ev = Load.events(spark, sf)
    val skew = Skew.keySkew(ev, "event_type", topN = 5).collect()
    val shares = skew.map(_.getAs[Double]("share"))
    assert(shares.zip(shares.tail).forall { case (a, b) => a >= b })
    assert(shares.sum <= 1.0 + 1e-9)
  }

  test("bucketed tables join with zero Exchange") {
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    Bucketing.writeBucketed(li, "b_lineitem", "l_orderkey", numBuckets = 8)
    Bucketing.writeBucketed(o, "b_orders", "o_orderkey", numBuckets = 8)
    // disable auto-broadcast so the join would otherwise shuffle
    withoutBroadcast {
      val joined = Bucketing.read(spark, "b_lineitem")
        .join(Bucketing.read(spark, "b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      assert(graft.plans.PlanInspect(joined).exchangeFree,
        s"expected no Exchange:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() > 0)
    }
  }

  test("managed tables go under the scratch root, never into ./spark-warehouse") {
    def cwdWarehouse = Option(new java.io.File("spark-warehouse").list()).toSeq.flatten.toSet
    val before = cwdWarehouse
    assert(graft.queries.SinkQueries.q96BucketedJoin(spark, sf).count() > 0)
    assert(cwdWarehouse == before)
    val location = spark.sql(s"DESCRIBE TABLE EXTENDED b96_li_${graft.ScratchDirs.pathKey(sf)}")
      .filter(col("col_name") === "Location").head().getString(1)
    assert(location.stripPrefix("file:").startsWith(graft.ScratchDirs.warehouse + "/"), location)
  }

  test("Par.fanOut raises partition count for small inputs, no-ops otherwise") {
    val one = spark.read.parquet(s"$sf/documents.parquet")
    assert(one.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    val fanned = Par.fanOut(one)
    assert(fanned.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(Par.fanOut(fanned).rdd.getNumPartitions == fanned.rdd.getNumPartitions)
  }

  test("BoundedCollectLong: groups past the cap or below 2 evaluate to NULL") {
    import org.apache.spark.sql.functions._
    import graft.functions.BoundedCollect.boundedCollectLong
    val spark0 = spark
    import spark0.implicits._
    // key 1: 3 values (kept); key 2: 1 value (null); key 3: 6 > cap=5 (null)
    val df = (Seq.fill(1)(2L).map(("k2", _)) ++
      (1L to 3L).map(("k1", _)) ++ (1L to 6L).map(("k3", _))).toDF("k", "v")
    val got = df.groupBy("k").agg(boundedCollectLong(col("v"), 5).as("vs"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(got("k1").isDefined &&
      got("k1").get.asInstanceOf[scala.collection.Seq[Long]].sorted.toSeq == Seq(1L, 2L, 3L))
    assert(got("k2").isEmpty, "singleton group must be NULL")
    assert(got("k3").isEmpty, "over-cap group must be NULL")
  }
}
