package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2.4, J1–J6).
  *
  * Scale posture: dim/config sides are always `broadcast()` (they are small by
  * construction — the reference point-reads them from HBase/MySQL per record);
  * fact×fact joins shuffle on their equi-keys and rely on AQE for skew/plan
  * fixes. Interval joins keep an equi-key so Spark plans a hash/SMJ with the
  * range conjunct as a post-filter instead of a cartesian product.
  */
object Joins {

  /** J1 — streaming inner equi-join (`DwdTradeOrderDetail.getJoinTable:95-120`,
    * inner :113-115). Batch form: plain equi join; streaming form adds
    * watermarks on both sides (see graft.streaming). */
  def inner(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(right, cond, "inner")

  /** J2 — left outer equi-join (`DwdTradeOrderDetail.java:116-119`). The
    * reference emits retractions consumed by an upsert sink; parity is defined
    * on final per-key state (SURVEY.md §7.3), which the batch left join
    * produces directly. */
  def leftOuter(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(right, cond, "left_outer")

  /** J3 — interval join (`DwdTradeOrderPaySucDetail.intervalJoin:119-144`,
    * range :141): `l.key = r.key AND l.ts BETWEEN r.ts - lower AND r.ts + upper`
    * with epoch-ms columns. The equi-key keeps the plan a keyed join (shuffle by
    * key), never a cartesian.
    *
    * Streaming: with both inputs watermarked, the global watermark follows
    * Spark's default `spark.sql.streaming.multipleWatermarkPolicy=min`, the
    * policy this engine keeps: the join never drops a row as late while one
    * input lags, but an IDLE input stops the watermark from advancing
    * (`StreamJoinSpec` "idle input"). Spark derives a state-eviction bound
    * only from a range over the watermarked TIMESTAMP columns; over epoch-ms
    * columns it derives none, so this form keeps its join state for as long
    * as the query runs. */
  def interval(
      left: DataFrame, right: DataFrame,
      eqKey: (Column, Column),
      tsMs: (Column, Column),
      lowerMs: Long, upperMs: Long): DataFrame =
    left.join(right,
      eqKey._1 === eqKey._2 &&
        tsMs._1 >= tsMs._2 - lowerMs &&
        tsMs._1 <= tsMs._2 + upperMs,
      "inner")

  /** J4/J5 — lookup (temporal) join against a dim snapshot
    * (`DwdInteractionCommentInfo.lookUpJoin:64-80`,
    * `DwdTradeOrderPaySucDetail.lookupJoin:90-113`). The dim side is
    * re-resolved per micro-batch in streaming (`FOR SYSTEM_TIME AS OF proc_time`
    * semantics); batch form is a broadcast hash join — the dim is forced to the
    * build side so no shuffle ever hits the fact stream. */
  def lookup(fact: DataFrame, dim: DataFrame, cond: Column,
      leftOuter: Boolean = false): DataFrame =
    fact.join(broadcast(dim), cond, if (leftOuter) "left_outer" else "inner")

  /** J6 — broadcast config join (`DimAPP.connectionStream:104-110`,
    * `DimBroadcastFunction.java:26-97`). The reference's MapState preload +
    * broadcast-state dance collapses to re-reading the tiny config per
    * micro-batch and broadcasting it. */
  def broadcastConfig(main: DataFrame, config: DataFrame, cond: Column): DataFrame =
    main.join(broadcast(config), cond, "inner")

  /** Pure range join (no equi key): `left.value ∈ [right.lo, right.hi]`.
    * Without an equi condition Spark plans a broadcast-nested-loop (or
    * cartesian) — O(|L|·|R|) comparisons. Bin bucketing restores a hash
    * join: left rows key on their value's bin, each right range explodes to
    * every bin it overlaps, the equi-join runs on the bin, and the BETWEEN
    * residual filters inside the join. A value lies in exactly ONE bin, so
    * no post-join dedup is needed; right-side fan-out is
    * ceil(rangeWidth/binWidth) rows per range — pick `binWidth` near the
    * typical range width.
    *
    * Column names across the two inputs must be distinct (the residual
    * references them unqualified post-join). */
  def rangeBin(left: DataFrame, right: DataFrame, valueCol: Column,
      loCol: Column, hiCol: Column, binWidth: Double): DataFrame = {
    val lb = left.withColumn("__bin", floor(valueCol / binWidth))
    val rb = right.withColumn("__bin",
      explode(sequence(floor(loCol / binWidth), floor(hiCol / binWidth))))
    lb.join(rb, Seq("__bin"))
      .filter(valueCol.between(loCol, hiCol))
      .drop("__bin")
  }

  /** As-of join (point-in-time lookup, left outer): each left row picks THE
    * latest right row with `right.ts ≤ left.ts` on the same key; left rows
    * with no prior right row keep nulls. Spark has no built-in as-of join,
    * and the naive formulation (equi+range join, then rank) multiplies every
    * left row by its full right-side history before pruning — quadratic in
    * versions per key. This is the union-sort formulation instead: tag both
    * sides, ONE shuffle on the key, a running `last(_, ignoreNulls)` window
    * carries the latest right payload forward in (ts, side) order, keep the
    * left rows — O(|L|+|R|) rows through one exchange, the shape a 100 TB
    * point-in-time dim lookup needs. (DuckDB's native ASOF JOIN is the
    * oracle twin — see `q_asof_touch`.)
    *
    * Both inputs must expose `key` and `ts` columns under the same names.
    * Right rows MUST be unique per (key, ts) — compact versions first
    * ([[graft.ops.Stateful.lastWriteWins]]) so "the latest row" is
    * well-defined; ties between a left and right row at the SAME ts resolve
    * to the right row being visible (the ≤ bound is inclusive).
    *
    * @param rightPayload right columns carried onto matching left rows */
  def asof(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightPayload: Seq[String]): DataFrame = {
    val rp = struct(rightPayload.map(col): _*)
    val rpType = right.select(rp.as("__rp")).schema("__rp").dataType
    val l = left.withColumn("__side", lit(1))
      .withColumn("__rp", lit(null).cast(rpType))
    val r = right.select(col(key), col(ts), lit(0).as("__side"), rp.as("__rp"))
    // right rows miss the left-only columns → null-padded by unionByName
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__last", last(col("__rp"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(left.columns.map(col) ++
        rightPayload.map(p => col(s"__last.$p").as(p)): _*)
  }
}
