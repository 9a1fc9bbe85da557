package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableLoader
import graft.streaming.{StatefulOps, StreamOps}

/** Structured Streaming semantics (SURVEY.md §2.8 prose rows + §5.4):
  * batch/stream parity for the window queries, watermark late-data
  * dropping, session-gap boundary rule, stateful running totals, and
  * the same stateful results under the HDFS-backed and RocksDB state
  * store providers (SURVEY §4.3's large-keyspace configuration).
  */
class StreamingSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.session

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling window MemoryStream replay matches batch result") {
    val ev = TableLoader.events(spark, sfDir)
      .select($"ts", $"event_type", $"value")
      .as[(Timestamp, String, Double)].collect().toSeq
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(ev)
    val q = stream.toDF().toDF("ts", "event_type", "value")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .select($"window.start".cast("timestamp_ntz").as("w"),
        $"event_type", $"n", $"total")
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("tumbling_out").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("tumbling_out")
      .orderBy($"w", $"event_type").collect().toSeq
    val batch = SparkEntry.queries("q_stream_tumbling")(spark, sfDir)
      .collect().toSeq
    assert(streamed == batch)
  }

  test("sliding window MemoryStream replay matches batch result") {
    val ev = TableLoader.events(spark, sfDir)
      .select($"ts", $"event_type", $"value")
      .as[(Timestamp, String, Double)].collect().toSeq
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(ev)
    val q = graft.streaming.StreamOps
      .slidingCounts(stream.toDF().toDF("ts", "event_type", "value"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("sliding_out").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("sliding_out")
      .withColumn("w", $"w".cast("timestamp_ntz"))
      .orderBy($"w").collect().toSeq
    val batch = SparkEntry.queries("q_stream_sliding")(spark, sfDir)
      .collect().toSeq
    assert(streamed == batch)
  }

  test("session window MemoryStream replay matches batch result") {
    val ev = TableLoader.events(spark, sfDir)
      .select($"ts", $"user_id", $"value")
      .as[(Timestamp, Long, Double)].collect().toSeq
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long, Double)]
    stream.addData(ev)
    val q = graft.streaming.StreamOps
      .sessionAggregates(stream.toDF().toDF("ts", "user_id", "value"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("session_out").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("session_out")
      .withColumn("session_start", $"session_start".cast("timestamp_ntz"))
      .withColumn("session_end", $"session_end".cast("timestamp_ntz"))
      .orderBy($"user_id", $"session_start").collect().toSeq
    val batch = SparkEntry.queries("q_stream_session")(spark, sfDir)
      .select($"user_id", $"session_start", $"session_end", $"n", $"total")
      .collect().toSeq
    assert(streamed == batch)
  }

  test("watermark drops late rows (append mode)") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long)]
    val q = stream.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("w"), $"n")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wm_out").start()
    try {
      // batch 1: 10:05 on time, 11:20 advances max event time to 11:20
      stream.addData(Seq((ts("2024-03-01 10:05:00"), 1L),
        (ts("2024-03-01 11:20:00"), 2L)))
      q.processAllAvailable() // watermark after batch: 11:10
      // batch 2: 10:30 is LATE (its window [10:00,11:00) closed at
      // watermark 11:10) and must be dropped; 12:30 advances watermark
      stream.addData(Seq((ts("2024-03-01 10:30:00"), 3L),
        (ts("2024-03-01 12:30:00"), 4L)))
      q.processAllAvailable() // emits finalized [10:00,11:00)
      stream.addData(Seq((ts("2024-03-01 13:30:00"), 5L)))
      q.processAllAvailable() // finalizes [11:00,12:00) and [12:00,13:00)
    } finally q.stop()
    val out = spark.table("wm_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
    // late 10:30 row NOT counted: window holds only the 10:05 event
    assert(out("2024-03-01 10:00:00.0") == 1L)
    assert(out("2024-03-01 11:00:00.0") == 1L)
  }

  test("session_window gap boundary: exactly prev+gap merges (> rule)") {
    // events at t0, t0+29:59, then exactly 30:00 after the second
    // (merges — Spark's rule is diff > gap), then 30:01 later (breaks)
    val rows = Seq(
      (ts("2024-03-01 00:00:00"), 10L),
      (ts("2024-03-01 00:29:59"), 10L),
      (ts("2024-03-01 00:59:59"), 10L),
      (ts("2024-03-01 01:30:00"), 10L))
    val sessions = rows.toDF("ts", "user_id")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"session_window.start".as("s"), $"n")
      .orderBy($"s").collect().toSeq
    assert(sessions.map(_.getLong(1)) == Seq(3L, 1L),
      s"expected sessions of 3 and 1 events, got $sessions")
  }

  test("dropDuplicatesWithinWatermark dedups inside the horizon and " +
    "re-admits a key once the watermark passed it") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long)]
    val q = stream.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ddww_out").start()
    try {
      // batch 1: k=1 twice within the delay -> ONE row survives
      stream.addData(Seq(
        (ts("2024-01-01 10:00:00"), 1L),
        (ts("2024-01-01 10:05:00"), 1L),
        (ts("2024-01-01 10:00:00"), 2L)))
      q.processAllAvailable()
      // batch 2: watermark moves to ~11:50, far past k=1's state
      stream.addData(Seq((ts("2024-01-01 12:00:00"), 3L)))
      q.processAllAvailable()
      // batch 3: k=1 returns AFTER its state was evicted -> re-admitted
      stream.addData(Seq((ts("2024-01-01 12:01:00"), 1L)))
      q.processAllAvailable()
      val got = spark.table("ddww_out").collect()
        .map(r => (r.getLong(1), r.getTimestamp(0).toString)).toSeq
      assert(got.count(_._1 == 1L) == 2,
        s"k=1 must appear once per watermark era, got $got")
      assert(got.count(_._1 == 2L) == 1 && got.count(_._1 == 3L) == 1)
      // the dedup'd duplicate (10:05) never surfaced
      assert(!got.contains((1L, "2024-01-01 10:05:00.0")), got.toString)
    } finally q.stop()
  }

  test("flatMapGroupsWithState running totals match batch window cumsum") {
    val ev = TableLoader.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"value")
      .as[StatefulOps.Ev]
    val got = StatefulOps.runningTotals(ev)
      .withColumn("running", round($"running", 2))
      .orderBy($"user_id", $"event_id")
      .collect().toSeq
    val want = SparkEntry.queries("q_window_cumsum")(spark, sfDir)
      .select($"user_id", $"event_id",
        $"running".cast("double").as("running"))
      .collect().toSeq
    assert(got.length == want.length)
    got.zip(want).foreach { case (g: Row, w: Row) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1)
        && math.abs(g.getDouble(2) - w.getDouble(2)) < 1e-6,
        s"mismatch: $g vs $w")
    }
  }

  test("running-total fold: sub-millisecond ordering, null ts " +
    "tolerance, and exact cents accumulation (r11 review)") {
    import spark.implicits._
    // two events in the SAME millisecond, microsecond order OPPOSITE
    // to event_id order — getTime()-keyed sorting folded id order
    val t1 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    t1.setNanos(123456000)
    val t2 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    t2.setNanos(123999000)
    val ev = Seq(
      StatefulOps.Ev(5, t1, 7, 10.0), // earlier micros, higher id
      StatefulOps.Ev(2, t2, 7, 1.0), // later micros, lower id
      StatefulOps.Ev(9, null, 7, 0.5) // null ts folds FIRST (SQL order)
    ).toDS()
    val got = StatefulOps.runningTotals(ev).collect()
      .map(r => r.event_id -> r.running).toMap
    assert(got == Map(9L -> 0.5, 5L -> 10.5, 2L -> 11.5), got.toString)
    // exact decimal accumulation: 0.1 summed 100 times is exactly
    // 10.0 in cents arithmetic (raw doubles give 9.99999...)
    val drift = (1 to 100)
      .map(i => StatefulOps.Ev(i.toLong,
        java.sql.Timestamp.valueOf(f"2024-03-01 00:${i / 60}%02d:${i % 60}%02d"),
        8, 0.1)).toDS()
    val last = StatefulOps.runningTotals(drift).collect()
      .maxBy(_.event_id).running
    assert(last == 10.0, s"expected exactly 10.0, got $last")
  }

  test("stateful running totals persist across micro-batches") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[StatefulOps.Ev]
    val q = StatefulOps.runningTotals(stream.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("state_out").start()
    try {
      stream.addData(StatefulOps.Ev(1, ts("2024-03-01 00:00:00"), 7, 1.5))
      q.processAllAvailable()
      stream.addData(StatefulOps.Ev(2, ts("2024-03-01 00:01:00"), 7, 2.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("state_out").orderBy($"event_id")
      .as[StatefulOps.Running].collect().toSeq
    assert(out.map(_.running) == Seq(1.5, 3.5)) // state carried: 1.5+2.0
  }

  test("windowed aggregation matches under HDFS-backed and RocksDB " +
    "state stores") {
    def windowed(name: String): Seq[Row] = {
      implicit val ctx = spark.sqlContext
      val stream = MemoryStream[(Timestamp, String, Double)]
      val q = StreamOps
        .tumblingCounts(stream.toDF().toDF("ts", "event_type", "value"))
        .writeStream.outputMode(OutputMode.Complete)
        .format("memory").queryName(name).start()
      try {
        stream.addData(
          (ts("2024-03-01 00:10:00"), "click", 1.0),
          (ts("2024-03-01 00:40:00"), "click", 2.5),
          (ts("2024-03-01 01:10:00"), "view", 4.0))
        q.processAllAvailable()
        stream.addData((ts("2024-03-01 00:55:00"), "click", 3.0))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).orderBy($"w", $"event_type").collect().toSeq
    }
    // runningTotals over two micro-batches: each key's second batch
    // folds onto the total its first batch left in the state store
    def running(name: String): Seq[StatefulOps.Running] = {
      implicit val ctx = spark.sqlContext
      val stream = MemoryStream[StatefulOps.Ev]
      val q = StatefulOps.runningTotals(stream.toDS())
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(name).start()
      try {
        stream.addData(
          StatefulOps.Ev(1, ts("2024-03-01 00:00:00"), 7, 1.5),
          StatefulOps.Ev(3, ts("2024-03-01 00:02:00"), 9, 4.0))
        q.processAllAvailable()
        stream.addData(
          StatefulOps.Ev(2, ts("2024-03-01 00:01:00"), 7, 2.0),
          StatefulOps.Ev(4, ts("2024-03-01 00:03:00"), 9, 0.5))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).orderBy($"user_id", $"event_id")
        .as[StatefulOps.Running].collect().toSeq
    }
    val (hdfsWin, hdfsRun) = (windowed("win_hdfs"), running("run_hdfs"))
    val restore = StreamOps.configureRocksDBStateStore(spark)
    val (rocksWin, rocksRun) =
      try (windowed("win_rocks"), running("run_rocks")) finally restore()
    assert(hdfsWin == rocksWin)
    assert(hdfsWin.nonEmpty)
    // user 7: 1.5 then 1.5+2.0; user 9: 4.0 then 4.0+0.5
    assert(hdfsRun == Seq(
      StatefulOps.Running(7, 1, 1.5), StatefulOps.Running(7, 2, 3.5),
      StatefulOps.Running(9, 3, 4.0), StatefulOps.Running(9, 4, 4.5)))
    assert(rocksRun == hdfsRun)
  }
}
