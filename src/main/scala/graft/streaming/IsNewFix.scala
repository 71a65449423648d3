package graft.streaming

import java.time.{Instant, ZoneId, ZoneOffset}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** T5 — keyed-state new-visitor repair, streaming form
  * (`DwdBaseLog.isNewFix:135-183`, rules :154-178).
  *
  * Keyed `first_login_dt` state per device id, exactly the reference's
  * `ValueState<String>`:
  *   - `is_new=1`, no state        → store today, keep 1
  *   - `is_new=1`, state == today  → keep 1
  *   - `is_new=1`, state != today  → rewrite to 0
  *   - `is_new=0`, no state        → backfill yesterday (an old visitor from
  *                                    before the log system), keep 0
  *   - `is_new=0`, state set       → keep 0
  *
  * Scale: state is one short string per mid behind a hash shuffle on mid —
  * the same layout the reference holds in its HashMap state backend. Events
  * inside a micro-batch are applied in (ts, event_id) order so results are
  * deterministic and equal to [[graft.ops.Stateful.isNewFixBatch]] on a
  * complete replay.
  *
  * Runs on every state-store provider (the HDFS-backed default and
  * RocksDB); the provider is a deployment setting, not a code path.
  */
object IsNewFix {

  final case class LogEvent(mid: String, is_new: String, ts: Long, event_id: Long)
  final case class FixedEvent(mid: String, is_new: String, ts: Long,
      event_id: Long, is_new_fixed: String)

  private def day(tsMs: Long, zone: ZoneId): String =
    Instant.ofEpochMilli(tsMs).atZone(zone).toLocalDate.toString

  private def yesterday(tsMs: Long, zone: ZoneId): String =
    Instant.ofEpochMilli(tsMs).atZone(zone).toLocalDate.minusDays(1).toString

  /** One micro-batch group. The group is buffered and sorted by
    * (ts, event_id) because every event's output depends on the state the
    * group's FIRST event establishes — a single forward pass cannot know the
    * minimum before emitting. Per-group memory is therefore bounded by the
    * hottest mid's events per micro-batch; a bot-grade hot device id needs a
    * pre-filter or shorter trigger interval (the reference's per-record
    * ValueState pays the same total work but streams it).
    *
    * @param zone the SESSION timezone — must match the `date_format` zone the
    *             batch twin uses, or the two forms disagree near midnight. */
  def fixGroup(zone: ZoneId)(mid: String, events: Iterator[LogEvent],
      state: GroupState[String]): Iterator[FixedEvent] = {
    val sorted = events.toSeq.sortBy(e => (e.ts, e.event_id))
    var st = state.getOption.orNull
    val out = sorted.map { e =>
      val today = day(e.ts, zone)
      val fixed =
        if (e.is_new == "1") {
          if (st == null) { st = today; "1" }
          else if (st == today) "1"
          else "0"
        } else {
          if (st == null) st = yesterday(e.ts, zone)
          "0"
        }
      FixedEvent(e.mid, e.is_new, e.ts, e.event_id, fixed)
    }
    if (st != null) state.update(st)
    out.iterator
  }

  /** Apply the repair to a (possibly streaming) Dataset of log events. The
    * day boundary follows `spark.sql.session.timeZone`, matching the batch
    * twin's `date_format` — the two forms stay equal on any session zone,
    * not just UTC. */
  def apply(events: Dataset[LogEvent])(implicit spark: SparkSession): Dataset[FixedEvent] = {
    import spark.implicits._
    val zone = ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone", ZoneOffset.UTC.getId))
    events.groupByKey(_.mid)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fixGroup(zone))
  }
}
