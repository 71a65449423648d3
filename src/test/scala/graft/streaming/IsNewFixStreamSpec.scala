package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Envelopes
import graft.ops.{Project, Stateful}
import graft.streaming.IsNewFix.LogEvent

/** T5 streaming form: flatMapGroupsWithState state rules across micro-batches,
  * and equivalence with the batch window form — including the mixed-is_new
  * case where a mid's first event claims is_new=0 (state backfills to
  * yesterday, so a same-day is_new=1 must still be rewritten to 0). Every
  * streaming run goes through both state-store providers (the HDFS-backed
  * default and RocksDB), which must agree record for record. */
class IsNewFixStreamSpec extends SparkSpec {

  private def run(batches: Seq[Seq[LogEvent]]): Map[Long, String] =
    onEveryStateStore(runOnce(batches))

  private def runOnce(batches: Seq[Seq[LogEvent]]): Map[Long, String] = {
    val s = spark
    import s.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = s
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[LogEvent]
    val q = IsNewFix(mem.toDS()).writeStream
      .format("memory").queryName("isnew_out").outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      s.table("isnew_out").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("is_new_fixed")).toMap
    } finally q.stop()
  }

  private def batchFix(events: Seq[LogEvent]): Map[Long, String] = {
    val s = spark
    import s.implicits._
    val lg = events.toDF()
      .withColumn("dt", date_format(timestamp_millis(col("ts")), "yyyy-MM-dd"))
    Stateful.isNewFixBatch(lg, col("mid"), col("dt"), col("is_new"),
        Seq(col("ts"), col("event_id")))
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[String]("is_new_fixed")).toMap
  }

  private val d1 = 1700000000000L // 2023-11-14
  private val d2 = d1 + 86400000L

  private val synthetic = Seq(
    Seq(LogEvent("A", "1", d1, 1), LogEvent("A", "1", d1 + 1000, 2), // first day: keep 1
      LogEvent("B", "0", d1, 3),              // old visitor: 0
      LogEvent("D", "0", d1, 7),              // old visitor first...
      LogEvent("D", "1", d1 + 1000, 8)),      // ...same-day new claim → 0 (state = yesterday)
    Seq(LogEvent("A", "1", d2, 4),  // next day, still claiming new → rewritten to 0
      LogEvent("B", "1", d2, 5),    // B's state = yesterday(d1) ≠ today → 0
      LogEvent("C", "1", d2, 6)))   // brand new → 1

  private val syntheticFixed = Map(1L -> "1", 2L -> "1", 3L -> "0", 4L -> "0",
    5L -> "0", 6L -> "1", 7L -> "0", 8L -> "0")

  test("state rules across micro-batches match the reference's ValueState logic") {
    assert(withStateStore(None)(runOnce(synthetic)) == syntheticFixed)
  }

  test("state rules hold on the RocksDB state store") {
    assert(withStateStore(Some(SparkSpec.RocksDbProvider))(runOnce(synthetic)) ==
      syntheticFixed)
  }

  test("batch window form equals streaming on mixed-is_new mids") {
    assert(batchFix(synthetic.flatten) == run(synthetic))
  }

  test("single-replay streaming result equals the batch window form on the fixture") {
    val s = spark
    import s.implicits._
    val lg = Project.logEtl(Envelopes.logRecords(s, sfDir()))
      .select(col("common.mid").as("mid"), col("common.is_new").as("is_new"),
        col("ts"), col("event_id"))
    val events = lg.as[LogEvent].collect().toSeq.sortBy(e => (e.ts, e.event_id))
    assert(run(Seq(events)) == batchFix(events))
  }
}
