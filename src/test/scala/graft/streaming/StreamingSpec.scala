package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Structured Streaming parity: the windowed aggregation that q50 runs in
  * batch must produce identical results when driven through readStream
  * over the same parquet (AvailableNow semantics via processAllAvailable).
  */
class StreamingSpec extends SparkSpec {

  test("streaming windowed agg == batch windowed agg") {
    // file stream source needs a DIRECTORY of files
    val dir = java.nio.file.Paths.get(scratch("events_stream"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("part-0.parquet"))
    val stream = Streams.readEvents(spark, dir.toString)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("hour_start"), col("event_type"), col("n"))
    val qname = "stream_windowed"
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName(qname)
      .trigger(Trigger.ProcessingTime("1 second")).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(qname).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    val batch = graft.queries.MiscOps.q50WindowedEvents(spark, sf)
      .select("hour_start", "event_type", "n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("streaming KMV windowed-distinct == batch q116 exactly (set-function state)") {
    val dir = java.nio.file.Paths.get(scratch("events_kmv_stream"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("part-0.parquet"))
    val stream = Streams.windowedDistinctUsers(
      Streams.readEvents(spark, dir.toString))
    val qname = "stream_kmv_distinct"
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName(qname)
      .trigger(Trigger.ProcessingTime("1 second")).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(qname).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.queries.MiscOps.q116StreamDistinct(spark, sf)
      .select("hour_start", "n_events", "sketch_size", "est_users").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // EXACT equality, not approximate: the sketch is a set-function, so
    // incremental state-store accumulation and one batch pass agree bit
    // for bit
    assert(streamed == batch)
  }

  test("streaming MG trending == batch q137 exactly (summary as state buffer)") {
    val dir = java.nio.file.Paths.get(scratch("events_mg_stream"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("part-0.parquet"))
    val stream = Streams.windowedTrending(
      Streams.readEvents(spark, dir.toString), "event_type")
    val qname = "stream_mg_trending"
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName(qname)
      .trigger(Trigger.ProcessingTime("1 second")).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(qname).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4))).toSet
    val batch = graft.queries.MiscOps.q137StreamTrending(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4))).toSet
    // exact, not approximate: capacity exceeds the window's distinct
    // keys, so the MG summary IS the exact per-window count relation
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming dedup-within-watermark drops planted duplicate event_ids") {
    // source dir: the events file + a copy of itself = every event twice
    val dir = java.nio.file.Paths.get(scratch("events_dup_stream"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("b.parquet"))
    val deduped = Streams.dedupWithinWatermark(
      Streams.readEvents(spark, dir.toString), Seq("event_id"), watermark = "10 days")
    val qname = "stream_dedup"
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName(qname)
      .trigger(Trigger.ProcessingTime("1 second")).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(qname).select("event_id").collect().map(_.getLong(0))
    val expect = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id").collect().map(_.getLong(0))
    assert(got.length == expect.length,
      s"expected ${expect.length} unique events, got ${got.length}")
    assert(got.toSet == expect.toSet)
  }

  test("streaming interval join == batch funnel join (q53 twin)") {
    val dir = java.nio.file.Paths.get(scratch("events_join_stream"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("part-0.parquet"))
    val src = Streams.readEvents(spark, dir.toString)
    val joined = Streams.intervalJoin(
      src.filter(col("event_type") === "view"),
      src.filter(col("event_type") === "purchase"),
      maxDelaySeconds = 1800, watermark = "1 hour")
    val qname = "stream_interval_join"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(qname)
      .trigger(Trigger.ProcessingTime("1 second")).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(qname)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.queries.MiscOps.q53FunnelJoin(spark, sf)
      .select("view_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
    assert(batch.nonEmpty, "fixture must produce at least one funnel pair")
  }

  test("stream-stream LEFT OUTER interval join == batch twin after the watermark flush (q186 twin)") {
    val dir = java.nio.file.Paths.get(scratch("events_outer_stream"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("part-0.parquet"))
    val src = Streams.readEvents(spark, dir.toString)
    val joined = Streams.intervalJoinOuter(
      src.filter(col("event_type") === "view"),
      src.filter(col("event_type") === "purchase"),
      maxDelaySeconds = 1800, watermark = "1 hour")
    val qname = "stream_interval_join_outer"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(qname)
      .trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      // "no match" is only decided when the watermark clears the window,
      // and the watermark applied in batch N is computed from batch N-1's
      // data — so evicting the corpus TAIL takes two flush batches: the
      // first carries the +10d event time, the second makes the engine
      // run with it (eviction-only batches don't fire without new data)
      Seq(("flush1", 10, -1L), ("flush2", 20, -2L)).foreach {
        case (d, days, id) =>
          val tmp = java.nio.file.Paths.get(scratch(s"outer_$d"))
          val base = spark.read.parquet(s"$sf/events.parquet")
            .orderBy(col("ts").desc).limit(1)
            .withColumn("ts", col("ts") + expr(s"interval $days days"))
            .withColumn("event_id", lit(id))
            .withColumn("user_id", lit(-999L))
          // the global watermark is the MIN across both inputs — a
          // view-only flush leaves the purchase side's watermark at the
          // corpus tail and strands the last ~90 min of views in state
          base.withColumn("event_type", lit("view"))
            .unionByName(base.withColumn("event_type", lit("purchase")))
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          // the file source lists only top-level files: the flush must
          // land NEXT TO part-0.parquet, not in a subdirectory
          val part = java.nio.file.Files.list(tmp).iterator().asScala
            .find(_.toString.endsWith(".parquet")).get
          java.nio.file.Files.copy(part, dir.resolve(s"$d.parquet"))
          q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table(qname)
      .filter(col("left_id") >= 0L) // flush rows' own windows never all close
      .select(col("left_id"),
        coalesce(col("right_id"), lit(-1L)).as("right_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.queries.MiscOps.q186FunnelOuter(spark, sf)
      .select(col("view_id"), coalesce(col("purchase_id"), lit(-1L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
    assert(batch.exists(_._2 == -1L), "fixture must contain unconverted views")
    assert(batch.exists(_._2 != -1L), "fixture must contain conversions")
  }

  test("stream-static dedup probe == batch twin (q78 twin)") {
    import graft.text.TextAnalysis
    // arriving stream source: the documents file (ids %3<>0 are new)
    // plus a replay of the history slice under shifted ids
    val dir = java.nio.file.Paths.get(scratch("docs_stream"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val history = docs.filter(col("doc_id") % 3 === 0)
    docs.filter(col("doc_id") % 3 =!= 0)
      .write.mode("overwrite").parquet(dir.resolve("a").toString)
    history.select((col("doc_id") + 100000).as("doc_id"), col("text"))
      .write.mode("overwrite").parquet(dir.resolve("b").toString)
    val index = history.select(TextAnalysis.fingerprint(col("text")).as("fp"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"${dir.toString}/{a,b}")
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val out = Streams.dedupAgainstIndex(stream, index, Seq("fp"))
    val qname = "stream_static_dedup"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(qname)
      .trigger(Trigger.ProcessingTime("1 second")).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(qname).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val batch = graft.queries.MiscOps.q78StreamDedupTwin(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
    assert(batch.nonEmpty && streamed.forall(_ < 100000),
      "every replayed copy must be dropped by the index probe")
  }

  test("streaming near-dup filter == batch twin regardless of micro-batch boundaries (q130 twin)") {
    val dir = java.nio.file.Paths.get(scratch("neardup_stream"))
    val out = scratch("neardup_out")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val history = docs.filter(col("doc_id") % 3 === 0)
    // three source files → three micro-batches with different chunkings
    docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("a").toString)
    docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 2 =!= 0)
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("b").toString)
    history.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" rev2 marker tail")).as("text"))
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("c").toString)
    val index = graft.dedup.Dedup.buildSignatureIndex(history, "text", "doc_id")
      .persist()
    index.count()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // force separate micro-batches
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"${dir.toString}/{a,b,c}")
    val q = Streams.nearDupFilterSink(stream, index, history,
      "text", "doc_id", out)
    try q.processAllAvailable() finally q.stop()
    index.unpersist()
    val streamed = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val batch = graft.queries.MiscOps.q130StreamNearDup(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch,
      s"stream ${streamed.size} vs batch ${batch.size}")
    // replays of LONG docs must drop (a 17-char suffix on a short doc
    // legitimately falls under 0.8 Jaccard — those survive by design)
    val longReplays = history.filter(length(col("text")) > 400)
      .select((col("doc_id") + 100000).as("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(longReplays.nonEmpty && longReplays.forall(!streamed.contains(_)),
      "every long-doc edited replay must be dropped by the near-dup probe")
  }

  test("late rows beyond the watermark are dropped from closed windows") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(scratch("late_stream"))
    def addFile(tag: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Paths.get(scratch(s"late_$tag"))
      rows.toDF("event_id", "ts_s")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, dir.resolve(s"$tag.parquet"))
    }
    // batch A: two rows in the 00:00 window + a sentinel at 10:00 that
    // pushes the watermark to 09:00 (1 hour delay)
    addFile("a", Seq(
      (1L, "2026-01-01 00:10:00"), (2L, "2026-01-01 00:20:00"),
      (3L, "2026-01-01 10:00:00")))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType)))
    val agg = spark.readStream.schema(schema).parquet(dir.toString)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("n"))
    val qname = "late_agg"
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName(qname)
      .trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      // batch B: a LATE row for the already-expired 00:00 window — the
      // watermark (09:00) must evict it instead of reopening the window
      addFile("b", Seq((4L, "2026-01-01 00:30:00")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(qname).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val w0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime / 1000
    assert(out.get(w0).contains(2L),
      s"closed 00:00 window must hold ONLY the on-time rows: $out")
    // the 10:00 window is still open (watermark has not passed its end)
    assert(out.size == 1, s"no other window may have closed: $out")
  }

  test("idempotent foreachBatch sink: a replayed batch does not duplicate") {
    val src = java.nio.file.Paths.get(scratch("idem_src"))
    val out = scratch("idem_out")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      src.resolve("part-0.parquet"))
    val q = Streams.idempotentParquetSink(
      Streams.readEvents(spark, src.toString).select("event_id", "ts"), out)
    try q.processAllAvailable() finally q.stop()
    val n = spark.read.parquet(s"$sf/events.parquet").count()
    assert(spark.read.parquet(out).count() == n)
    // simulate crash-before-commit re-delivery: the SAME batch id arrives
    // again — overwrite semantics must leave the store unchanged
    Streams.writeBatchIdempotent(
      graft.ops.Load.events(spark, sf).select("event_id", "ts"), out, batchId = 0L)
    assert(spark.read.parquet(out).count() == n,
      "replaying batch 0 must not change the row count")
  }
}
