package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Load

/** Dev tool: scale the driver's sf0.1 testdata up K× for scaling
  * measurements (SCALING.md §"measured ratios"). NOT part of the library
  * surface — the driver's testdata is read-only, so scaled copies land
  * under the repo's gitignored `bench_data/`.
  *
  * Construction: K deterministic replicas of every fact table with ids
  * offset by `replica * OFF`, preserving referential integrity
  * (l_orderkey offsets match o_orderkey offsets, o_custkey matches
  * c_custkey, …). Dimension tables (region, nation) stay fixed — exactly
  * how TPC-H itself scales. Text gets a short per-replica suffix and
  * embeddings a per-replica epsilon on one coordinate, so replicas are
  * NEAR-duplicates, not bit-duplicates: dedup/ANN paths see the
  * (realistic) heavy near-dup workload a big crawl has, without
  * degenerate identical-key blowup.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <K>
  */
object ScaleUp {

  /** Id offset between replicas. Far above any sf0.1 key (max ~600k) and
    * small enough that K·OFF stays in int53, keeping ids exact even if a
    * downstream tool round-trips through doubles.
    */
  val OFF = 10000000L

  private def replicate(df: DataFrame, k: Int)(edit: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until k).map(i => edit(df, i)).reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val k = args(2).toInt
    val spark = graft.Local.session(graft.Local.maxCpus)

    def t(name: String): DataFrame = Load.parquet(spark, s"$src/$name.parquet")
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$dst/$name.parquet")

    // dimensions: fixed across scale factors
    write(t("region"), "region", 1)
    write(t("nation"), "nation", 1)

    def off(c: String, i: Int) = col(c) + lit(i * OFF)

    write(replicate(t("customer"), k) { (df, i) =>
      df.withColumn("c_custkey", off("c_custkey", i))
    }, "customer", 4)

    write(replicate(t("supplier"), k) { (df, i) =>
      df.withColumn("s_suppkey", off("s_suppkey", i))
    }, "supplier", 1)

    write(replicate(t("part"), k) { (df, i) =>
      df.withColumn("p_partkey", off("p_partkey", i))
    }, "part", 4)

    write(replicate(t("orders"), k) { (df, i) =>
      df.withColumn("o_orderkey", off("o_orderkey", i))
        .withColumn("o_custkey", off("o_custkey", i))
    }, "orders", 8)

    write(replicate(t("lineitem"), k) { (df, i) =>
      df.withColumn("l_orderkey", off("l_orderkey", i))
        .withColumn("l_partkey", off("l_partkey", i))
        .withColumn("l_suppkey", off("l_suppkey", i))
    }, "lineitem", 16)

    write(replicate(t("events"), k) { (df, i) =>
      df.withColumn("event_id", off("event_id", i))
        .withColumn("user_id", off("user_id", i))
    }, "events", 8)

    // replica 0 byte-identical to the source corpus; replicas 1..K-1 get a
    // two-token suffix — near-duplicates under shingling, distinct under
    // exact hashing
    write(replicate(t("documents"), k) { (df, i) =>
      val d = df.withColumn("doc_id", off("doc_id", i))
      if (i == 0) d
      else d.withColumn("text", concat(col("text"), lit(s" replica r$i")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents", 8)

    write(replicate(t("embeddings"), k) { (df, i) =>
      val d = df.withColumn("vec_id", off("vec_id", i))
      if (i == 0) d
      else d.withColumn("embedding",
        // epsilon on coordinate 0 only: replicas stay inside the same ANN
        // neighborhoods (cosine shift ~1e-3) but are not bit-identical
        transform(col("embedding"), (v, idx) =>
          when(idx === 0, v + lit(i * 1e-3f)).otherwise(v)))
    }, "embeddings", 4)

    spark.stop()
    println(s"scaled $src x$k -> $dst")
  }
}
