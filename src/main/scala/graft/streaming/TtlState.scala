package graft.streaming

import scala.concurrent.duration.FiniteDuration
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** J7 — idle-state TTL (`tableEnv.getConfig().setIdleStateRetention(...)`,
  * `DwdTradeOrderDetail.java:32` 5 s, `DwdTradeOrderPaySucDetail.java:31`
  * 15 s): Flink SQL drops a join key's buffered state after the key has been
  * idle for the retention, measured in PROCESSING time — unlike Spark's
  * built-in stream-stream join, whose state eviction is event-time
  * (watermark) driven.
  *
  * This operator reproduces the Flink semantics exactly where they differ:
  * both sides' rows are buffered per key in `GroupState`, every touch of the
  * key refreshes a processing-time timeout, and when the timeout fires the
  * key's buffers are dropped — a probe row arriving after eviction finds
  * nothing, even if its event time would still be inside a watermark bound.
  *
  * Scale posture: state is partitioned by key (one shuffle), per-key buffers
  * are bounded by the TTL window's traffic, and eviction is O(evicted keys)
  * per batch — the same asymptotics as Flink's RocksDB TTL state. Use the
  * watermark-bounded built-in join where event-time retention is acceptable
  * (SURVEY §7.3); use this where the reference's processing-time contract
  * matters. Like every keyed operator here it runs on any state-store
  * provider (HDFS-backed default or RocksDB).
  */
object TtlState {

  /** Streaming inner equi-join with idle-state TTL. Emits one row per
    * (left, right) pair whose arrivals both happen while the key is live;
    * a key idle longer than `ttl` loses its buffers.
    *
    * Late pairs relative to EVICTION (not event time) are dropped — that is
    * the reference's documented trade-off for bounding state. */
  def ttlJoin[K, L, R](left: Dataset[(K, L)], right: Dataset[(K, R)],
      ttl: FiniteDuration)(implicit
      kEnc: Encoder[K], lEnc: Encoder[L], rEnc: Encoder[R],
      tagEnc: Encoder[(K, Option[L], Option[R])],
      bufEnc: Encoder[(List[L], List[R])],
      outEnc: Encoder[(K, L, R)]): Dataset[(K, L, R)] = {
    val tagged = left.map { case (k, l) => (k, Option(l), Option.empty[R]) }
      .union(right.map { case (k, r) => (k, Option.empty[L], Option(r)) })
    tagged.groupByKey(_._1)
      .flatMapGroupsWithState[(List[L], List[R]), (K, L, R)](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (key: K, rows: Iterator[(K, Option[L], Option[R])],
         state: GroupState[(List[L], List[R])]) =>
          if (state.hasTimedOut) { // idle past TTL: drop the key's buffers
            state.remove()
            Iterator.empty
          } else {
            var (ls, rs) = state.getOption.getOrElse((List.empty[L], List.empty[R]))
            val out = List.newBuilder[(K, L, R)]
            rows.foreach {
              case (_, Some(l), _) => rs.foreach(r => out += ((key, l, r))); ls ::= l
              case (_, _, Some(r)) => ls.foreach(l => out += ((key, l, r))); rs ::= r
              case _               => ()
            }
            state.update((ls, rs))
            state.setTimeoutDuration(ttl.toMillis) // every touch refreshes the TTL
            out.result().iterator
          }
      }
  }

  /** Convenience encoders bundle for primitive-keyed string payloads (the
    * envelope-decoded shape most reference joins run on). */
  object implicits {
    implicit val longStrStr: Encoder[(Long, String, String)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.STRING)
  }
}
