package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Regression guard for the `events` time-encoding normalization
  * (Load.events): the driver regenerates testdata between rounds and
  * has switched the parquet writer's physical time encoding before —
  * TIMESTAMP(NANOS)-as-long vs timestamp[us] vs timestamp_ntz[us].
  * Round 6 shipped 7 silently-dead event queries because only one
  * branch was exercised. Here the SAME rows are written in all three
  * encodings and every branch must produce bit-identical (ts, ts_ns).
  */
class LoadEventsEncodingSpec extends SparkSpec {
  import spark.implicits._

  test("all three physical time encodings yield identical (ts, ts_ns)") {
    val dir = scratch("evt_enc")
    // exact-microsecond instants, incl. epoch, sub-second, and a
    // realistic 2024 value; all ns values are exact 1000-multiples so
    // truncating and flooring division agree (the Load.events contract)
    val micros = Seq(0L, 1L, 999999L, 1723680000000000L, 1723680000123456L)
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us) }.toDF("event_id", "us")
    // (a) BIGINT nanoseconds — what nanosAsLong yields for TIMESTAMP(NANOS)
    base.select($"event_id", ($"us" * 1000L).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/nanos/events.parquet")
    // (b) timestamp[us] (TimestampType)
    base.select($"event_id", timestamp_micros($"us").as("ts"))
      .write.mode("overwrite").parquet(s"$dir/us/events.parquet")
    // (c) timestamp_ntz[us] (TimestampNTZType; naive = UTC by contract)
    base.select($"event_id",
        timestamp_micros($"us").cast("timestamp_ntz").as("ts"))
      .write.mode("overwrite").parquet(s"$dir/ntz/events.parquet")

    def read(sub: String) = Load.events(spark, s"$dir/$sub")
      .select($"event_id", $"ts", $"ts_ns".cast("long"))
      .orderBy("event_id").collect().toSeq
    val (a, b, c) = (read("nanos"), read("us"), read("ntz"))
    assert(a == b, s"BIGINT-nanos vs timestamp[us] disagree:\n$a\n$b")
    assert(b == c, s"timestamp[us] vs timestamp_ntz disagree:\n$b\n$c")
    // and the absolute values are right, not just mutually consistent
    micros.zipWithIndex.foreach { case (us, i) =>
      val row = a(i)
      assert(row.getLong(2) == us * 1000L, s"ts_ns wrong for $us")
      assert(row.getTimestamp(1).getTime == us / 1000L, // ms precision
        s"ts instant wrong for $us")
    }
  }
}
