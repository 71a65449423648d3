package graft.streaming

import scala.concurrent.duration._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** J7 — idle-state TTL join: pairs joining while the key is live are
  * emitted; a key idle past the retention loses its buffers, so a later
  * probe finds nothing (Flink setIdleStateRetention semantics, which differ
  * from watermark eviction in being processing-time driven).
  *
  * The same scenario runs once per state-store provider: the default
  * HDFS-backed one and RocksDB.
  *
  * NOTE: a query with registered processing-time timeouts re-triggers
  * batches continuously (the engine must poll for expiry), so
  * `processAllAvailable` never sees a quiesced stream — the spec polls the
  * sinks with deadlines instead, and paces batches with a real trigger. */
class TtlStateSpec extends SparkSpec {

  test("join state survives within the TTL and is evicted after idling past it") {
    evictionScenario(None, "ttl_join_out")
  }

  test("RocksDB join state survives within the TTL, evicted past it") {
    evictionScenario(Some(SparkSpec.RocksDbProvider), "ttl_join_rocksdb_out")
  }

  private def evictionScenario(provider: Option[String], sink: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val left = MemoryStream[(Long, String)]
    val right = MemoryStream[(Long, String)]

    val query = withStateStore(provider) {
      TtlState.ttlJoin(left.toDS(), right.toDS(), ttl = 8.seconds)
        .toDF("k", "l", "r").writeStream
        .format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.ProcessingTime("200 milliseconds"))
        .start()
    }

    def rows: Set[(Long, String, String)] =
      s.table(sink).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    def awaitRows(expected: Set[(Long, String, String)], what: String): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (System.currentTimeMillis < deadline && rows != expected)
        Thread.sleep(200)
      assert(rows == expected, s"$what ($sink): got $rows")
    }

    try {
      // left row buffers under k1; right row arrives while k1 is live → joins
      left.addData((1L, "a"))
      right.addData((1L, "x"))
      awaitRows(Set((1L, "a", "x")), "live-key join")

      // idle k1 well past the 8 s TTL: the polling batches fire the timeout
      // and evict its buffers (TTL is sized generously so a loaded box can
      // never evict DURING the live-join phase above)
      Thread.sleep(12000)

      // probe k1 again: with watermark semantics "a" would still be there —
      // under idle-state TTL the buffer is gone, so no pair may be emitted
      right.addData((1L, "y"))
      Thread.sleep(3000) // bounded grace for a wrong emission to surface
      assert(rows == Set((1L, "a", "x")), s"evicted key must not rejoin ($sink): $rows")

      // but the fresh right row re-opened k1's buffers: a new left row joins
      left.addData((1L, "b"))
      awaitRows(Set((1L, "a", "x"), (1L, "b", "y")), "re-opened key join")
    } finally query.stop()
  }
}
