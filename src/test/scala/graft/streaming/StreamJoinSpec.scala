package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Streaming semantics the batch oracle can't cover: watermarked stream-stream
  * interval join (J3/T1) and watermarked windowed aggregation (§2.9 under
  * Structured Streaming). */
class StreamJoinSpec extends SparkSpec {

  private def ts(ms: Long) = new Timestamp(ms)
  private val base = 1700000000000L

  test("stream-stream interval join emits pairs inside the time bound") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val pay = MemoryStream[(Long, Long, Timestamp)]
    val ord = MemoryStream[(Long, Long, Timestamp)]
    val p = pay.toDF().toDF("p_id", "p_key", "p_time").withWatermark("p_time", "5 seconds")
    val o = ord.toDF().toDF("o_id", "o_key", "o_time").withWatermark("o_time", "5 seconds")
    // payment within [order - 15 min, order + 5 s] (reference bound,
    // DwdTradeOrderPaySucDetail.java:141)
    val joined = p.join(o, expr(
      """p_key = o_key AND
        |p_time BETWEEN o_time - interval 15 minutes AND o_time + interval 5 seconds
        |""".stripMargin))
      .select(col("p_id"), col("o_id"))

    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      ord.addData((100L, 1L, ts(base)), (101L, 2L, ts(base)))
      pay.addData(
        (200L, 1L, ts(base - 10 * 60 * 1000)), // 10 min before   → match
        (201L, 1L, ts(base + 4000)),           // 4 s after       → match
        (202L, 1L, ts(base + 60 * 1000)),      // 1 min after     → out of bound
        (203L, 2L, ts(base - 16 * 60 * 1000))) // 16 min before   → out of bound
      q.processAllAvailable()
      val got = s.table("ij_out").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((200L, 100L), (201L, 100L)))
    } finally q.stop()
  }

  test("stream-stream left outer join null-pads unmatched rows after watermark expiry") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val ord = MemoryStream[(Long, Long, Timestamp)]
    val pay = MemoryStream[(Long, Long, Timestamp)]
    val o = ord.toDF().toDF("o_id", "o_key", "o_time").withWatermark("o_time", "5 seconds")
    val p = pay.toDF().toDF("p_id", "p_key", "p_time").withWatermark("p_time", "5 seconds")
    val joined = o.join(p, expr(
        "o_key = p_key AND p_time BETWEEN o_time AND o_time + interval 10 seconds"),
        "left_outer")
      .select(col("o_id"), col("p_id"))

    val q = joined.writeStream.format("memory").queryName("loj_out")
      .outputMode("append").start()
    try {
      ord.addData((1L, 100L, ts(base)), (2L, 200L, ts(base)))
      pay.addData((10L, 100L, ts(base + 3000)))            // matches order 1
      q.processAllAvailable()
      // advance both watermarks far past order 2's join window
      ord.addData((9L, 999L, ts(base + 60000)))
      pay.addData((99L, 998L, ts(base + 60000)))
      q.processAllAvailable()
      val got = s.table("loj_out").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(got.contains((1L, 10L)), s"matched pair missing: $got")
      assert(got.contains((2L, -1L)), s"unmatched left row not null-padded: $got")
    } finally q.stop()
  }

  test("watermarked tumbling window aggregation closes windows as time advances") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val ev = MemoryStream[(Long, Timestamp)]
    val agg = ev.toDF().toDF("id", "t")
      .withWatermark("t", "5 seconds")
      .groupBy(window(col("t"), "10 seconds"))
      .agg(count(lit(1)).as("ct"))
      .select(col("window.start").as("ws"), col("ct"))

    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      ev.addData((1L, ts(base + 1000)), (2L, ts(base + 2000)), (3L, ts(base + 11000)))
      q.processAllAvailable()
      // advance watermark past the first window's end (base+10s) + 5s delay
      ev.addData((4L, ts(base + 30000)))
      q.processAllAvailable()
      ev.addData((5L, ts(base + 60000)))
      q.processAllAvailable()
      val got = s.table("win_out").collect()
        .map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
      assert(got.get(base) == Some(2L), s"first window: $got")
      assert(got.get(base + 10000) == Some(1L), s"second window: $got")
    } finally q.stop()
  }

  test("idle input: under the min watermark policy the join's watermark stalls") {
    // Watermarks in Stream Processing Systems (VLDB 2021): an operator with
    // several inputs takes the MIN of their watermarks, so one idle input
    // holds the global watermark back. Spark's default
    // multipleWatermarkPolicy is "min"; "max" lets the busy input drive it.
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val policyKey = "spark.sql.streaming.multipleWatermarkPolicy"
    val hour = 3600000L

    /** Orders go idle after the first batch while payments move two hours
      * ahead; returns (watermark ms, join state rows) after each later batch. */
    def run(policy: Option[String]): Seq[(Long, Long)] = {
      val pay = MemoryStream[(Long, Long, Timestamp)]
      val ord = MemoryStream[(Long, Long, Timestamp)]
      val p = pay.toDF().toDF("p_id", "p_key", "p_time")
        .withWatermark("p_time", "5 seconds")
        .withColumn("p_ms", unix_millis(col("p_time")))
      val o = ord.toDF().toDF("o_id", "o_key", "o_time")
        .withWatermark("o_time", "5 seconds")
        .withColumn("o_ms", unix_millis(col("o_time")))
      val joined = graft.ops.Joins.interval(p, o, (col("p_key"), col("o_key")),
          (col("p_ms"), col("o_ms")), 15 * 60 * 1000L, 5000L)
        .select(col("p_id"), col("o_id"))
      policy.foreach(s.conf.set(policyKey, _))
      val q = try joined.writeStream.format("memory").queryName("idle_out")
          .outputMode("append").start()
        finally s.conf.unset(policyKey)
      def progress(): (Long, Long) = {
        val lp = q.lastProgress
        (java.time.Instant.parse(lp.eventTime.get("watermark")).toEpochMilli,
          lp.stateOperators.map(_.numRowsTotal).sum)
      }
      try {
        ord.addData((100L, 1L, ts(base)))
        pay.addData((200L, 1L, ts(base + 1000)))
        q.processAllAvailable()
        val later = Seq(201L -> hour, 202L -> 2 * hour).map { case (id, dt) =>
          pay.addData((id, id, ts(base + dt))) // orders stay idle
          q.processAllAvailable()
          progress()
        }
        assert(s.table("idle_out").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((200L, 100L)))
        later
      } finally q.stop()
    }

    // default policy (min): the idle orders input pins the watermark at its
    // own last event time minus the delay, and join state only grows
    assert(s.conf.get(policyKey) == "min")
    assert(run(None) == Seq((base - 5000, 3L), (base - 5000, 4L)))
    // max: the payments input alone moves the watermark past the stall
    val (wmMax, _) = run(Some("max")).last
    assert(wmMax >= base + hour - 5000, s"max policy watermark $wmMax")
  }
}
