package graft.streaming

import scala.collection.mutable.ListBuffer
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming form of [[graft.ops.Cep.patternMatches]] — the Flink-CEP
  * `followedBy ... within` automaton as `flatMapGroupsWithState` keyed
  * state, exactly the (stage, start-ts) pair Flink's NFA holds per key for
  * this pattern class.
  *
  * Contract: events must arrive per-key in non-decreasing event-time order
  * ACROSS micro-batches (the upstream watermark's job — same contract as
  * [[IsNewFix]]); WITHIN a batch any order is fine, the group buffers and
  * sorts by (tms, oid, ty) before folding. Under that contract the
  * concatenation of per-batch folds IS the batch fold, so emitted matches
  * equal the batch operator on a complete replay regardless of where batch
  * boundaries fall (`CepStreamSpec`).
  *
  * Scale: state is two longs per key behind the key hash shuffle; per-batch
  * group memory is the key's pattern-events in THAT batch only (the batch
  * twin holds the key's full history instead — the streaming form is the
  * cheaper one at any horizon).
  *
  * Every form below is one `flatMapGroupsWithState` operator, so it runs on
  * any state-store provider (the HDFS-backed default or RocksDB).
  */
object CepStream {

  final case class CepEvent(k: Long, tms: Long, oid: Long, ty: String)
  final case class CepMatch(k: Long, match_start: Long, match_end: Long)
  /** st = stages matched so far; t0 = partial-match start (0 when st = 0). */
  final case class CepState(st: Int, t0: Long)

  /** One micro-batch group: sort, run the automaton from stored state,
    * store the final (st, t0), emit completed matches. */
  def matchGroup(pattern: IndexedSeq[String], withinMs: Long)(
      k: Long, events: Iterator[CepEvent],
      state: GroupState[CepState]): Iterator[CepMatch] = {
    val out = ListBuffer.empty[CepMatch]
    val sorted = events.toSeq.sortBy(e => (e.tms, e.oid, e.ty))
    var s = state.getOption.getOrElse(CepState(0, 0L))
    sorted.foreach { e =>
      // Flink-NFA boundary: a run times out at span >= window (a match
      // whose span exactly equals the window does not complete)
      if (s.st > 0 && e.tms - s.t0 >= withinMs) s = CepState(0, 0L)
      if (e.ty == pattern(s.st)) {
        val start = if (s.st == 0) e.tms else s.t0
        if (s.st == pattern.length - 1) {
          out += CepMatch(k, start, e.tms); s = CepState(0, 0L)
        } else s = CepState(s.st + 1, start)
      }
    }
    state.update(s)
    out.iterator
  }

  /** [[CepState]] for the NEGATION automaton: st = stages matched (or
    * `pattern.length` = watching the trailing ban); te = the final
    * positive stage's ts while watching. */
  final case class CepNegState(st: Int, t0: Long, te: Long)

  /** One micro-batch group for [[graft.ops.Cep.patternMatchesNeg]]'s
    * automaton: banned types kill partials (notBetween) or pending
    * matches (notAfter); a pending match emits when event time passes
    * `t0 + withinMs` — inline when a later event proves it, via the
    * event-time TIMEOUT when the key goes silent (the watermark stands in
    * for the batch twin's end-of-input). */
  def matchGroupNeg(pattern: IndexedSeq[String], withinMs: Long,
      notBetween: Map[Int, Set[String]], notAfter: Set[String])(
      k: Long, events: Iterator[CepEvent],
      state: GroupState[CepNegState]): Iterator[CepMatch] = {
    val watch = pattern.length
    val out = ListBuffer.empty[CepMatch]
    var s = state.getOption.getOrElse(CepNegState(0, 0L, 0L))
    if (state.hasTimedOut) {
      // silence past the deadline: the banned event never came. A stale
      // timeout can fire after later events moved the key off the watch
      // (the timestamp persists in state) — emit only a live watch; keep
      // a genuine partial, drop empty state.
      if (s.st == watch) { out += CepMatch(k, s.t0, s.te); state.remove() }
      else if (s.st == 0) state.remove()
      return out.iterator
    }
    val sorted = events.toSeq.sortBy(e => (e.tms, e.oid, e.ty))
    // the per-event semantics are the shared NegStepper's (one object with
    // the batch sorted plan — stream and batch cannot drift); the
    // watermark/timeout handling around it stays streaming-specific
    val stepper = new graft.ops.Cep.NegStepper(pattern, withinMs,
      notBetween, notAfter)
    sorted.foreach { e =>
      val next = stepper.step(s.st, s.t0, s.te, e.tms, e.ty,
        (st0, en) => out += CepMatch(k, st0, en))
      s = CepNegState(next._1, next._2, next._3)
    }
    if (s.st == watch && state.getCurrentWatermarkMs() >= s.t0 + withinMs) {
      // the watermark already proves the window closed banned-free (no
      // event of this key can arrive at tms <= watermark) — emitting now
      // instead of via a timeout that setTimeoutTimestamp would reject
      // as earlier than the watermark
      out += CepMatch(k, s.t0, s.te)
      state.remove()
    } else {
      state.update(s)
      if (s.st == watch) state.setTimeoutTimestamp(s.t0 + withinMs)
    }
    out.iterator
  }

  /** Attach the NEGATION automaton ([[graft.ops.Cep.patternMatchesNeg]])
    * to a keyed event stream. An event-time watermark over `tms` (with
    * `delay`) is attached here — pending trailing-negation matches emit
    * when the watermark passes their window end, the stream's stand-in
    * for the batch twin's end-of-input. Pre-filter to pattern ∪ banned
    * types before calling. As with [[attachSkipNext]], `delay` must
    * bound CROSS-KEY event-time skew (the watermark is global; a
    * lagging key's sub-watermark rows are dropped as late under the
    * event-time timeout), not just per-key disorder. */
  def attachNeg(ds: Dataset[CepEvent], pattern: Seq[String],
      withinMs: Long, notBetween: Map[Int, Seq[String]] = Map.empty,
      notAfter: Seq[String] = Seq.empty,
      delay: String = "0 milliseconds"): Dataset[CepMatch] = {
    require(pattern.nonEmpty, "pattern must not be empty")
    require(withinMs > 0, s"withinMs must be > 0, got $withinMs")
    require(notBetween.keys.forall(i => i >= 1 && i < pattern.length),
      s"notBetween stages must be in 1..${pattern.length - 1}")
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    val wm = ds.withColumn("__et", timestamp_millis(col("tms")))
      .withWatermark("__et", delay)
      .as[CepEvent]
    wm.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        matchGroupNeg(pattern.toIndexedSeq, withinMs,
          notBetween.map { case (i, ts) => i -> ts.toSet },
          notAfter.toSet))
  }

  /** State for the strict/notNext automaton: fr = stage just matched and
    * no event consumed since (the notNext slot is still open). */
  final case class CepNextState(st: Int, t0: Long, fr: Boolean)

  /** One micro-batch group for [[graft.ops.Cep.patternMatchesNext]]'s
    * automaton: stages in `nextStages` must be matched by the key's
    * immediately following event — any other event kills the partial
    * (and may re-open a stage-0 run). Feed it the UNFILTERED keyed
    * stream: strict adjacency makes every event state-relevant, so
    * unlike [[matchGroup]] there is no type pre-filter contract. */
  def matchGroupNext(pattern: IndexedSeq[String], withinMs: Long,
      nextStages: Set[Int], notNext: Map[Int, Set[String]])(
      k: Long, events: Iterator[CepEvent],
      state: GroupState[CepNextState]): Iterator[CepMatch] = {
    val out = ListBuffer.empty[CepMatch]
    val sorted = events.toSeq.sortBy(e => (e.tms, e.oid, e.ty))
    var s = state.getOption.getOrElse(CepNextState(0, 0L, fr = false))
    // shared StrictStepper — one step object with the batch sorted plan
    val stepper = new graft.ops.Cep.StrictStepper(pattern, withinMs,
      nextStages, notNext)
    sorted.foreach { e =>
      val next = stepper.step(s.st, s.t0, s.fr, e.tms, e.ty,
        (st0, en) => out += CepMatch(k, st0, en))
      s = CepNextState(next._1, next._2, next._3)
    }
    state.update(s)
    out.iterator
  }

  /** Attach the STRICT-CONTIGUITY automaton
    * ([[graft.ops.Cep.patternMatchesNext]]) to a keyed event stream —
    * pass the UNFILTERED stream (see [[matchGroupNext]]). */
  def attachNext(ds: Dataset[CepEvent], pattern: Seq[String],
      withinMs: Long, nextStages: Set[Int],
      notNext: Map[Int, Seq[String]] = Map.empty): Dataset[CepMatch] = {
    require(pattern.nonEmpty, "pattern must not be empty")
    require(withinMs > 0, s"withinMs must be > 0, got $withinMs")
    require(nextStages.nonEmpty || notNext.nonEmpty,
      "no strict stages and no notNext bans — use attach (pre-filtered scan)")
    require(nextStages.forall(i => i >= 1 && i < pattern.length),
      s"nextStages must be in 1..${pattern.length - 1}")
    require(notNext.keys.forall(i => i >= 1 && i < pattern.length),
      s"notNext stages must be in 1..${pattern.length - 1}")
    require(notNext.keySet.intersect(nextStages).isEmpty,
      "a stage cannot be both strict and notNext-banned")
    import ds.sparkSession.implicits._
    ds.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        matchGroupNext(pattern.toIndexedSeq, withinMs, nextStages,
          notNext.map { case (i, ts) => i -> ts.toSet }))
  }

  /** State for the quantified automaton ([[graft.ops.Cep.patternMatchesTimes]]):
    * st = current stage, c = occurrences counted within it (0 = idle),
    * t0 = partial-match start. The repeat counter is the only addition
    * over [[CepState]] — still O(1) per key. */
  final case class CepTimesState(st: Int, c: Int, t0: Long)

  /** One micro-batch group for the QUANTIFIED automaton — greedy loops,
    * relaxed contiguity, skip past last row, exact-count final stage (the
    * [[graft.ops.Cep.patternMatchesTimes]] contract, including its
    * determinization of Flink's looping-stage branching). The counter
    * carries across micro-batch boundaries, so a loop begun in one batch
    * completes in a later one. */
  def matchGroupTimes(pattern: IndexedSeq[(String, Int, Int)],
      withinMs: Long)(k: Long, events: Iterator[CepEvent],
      state: GroupState[CepTimesState]): Iterator[CepMatch] =
    // pre-sort with the full (tms, oid, ty) tie-break; matchGroupPred's
    // (tms, oid) re-sort is STABLE, so the ty order survives through it
    matchGroupPred[CepEvent](
      pattern.map { case (t, mn, mx) => (((e: CepEvent) => e.ty == t), mn, mx) },
      withinMs, _.tms, _.oid)(
      k, events.toSeq.sortBy(e => (e.tms, e.oid, e.ty)).iterator, state)

  /** [[matchGroupTimes]] generalized to PREDICATE stages — the step
    * semantics are [[graft.ops.Cep.TimesStepper]]'s (shared with the batch
    * sorted-iterator plan, so batch and stream cannot drift). Sorts the
    * batch's group by (tms, oid) and runs the stepper from stored state. */
  def matchGroupPred[E](pattern: IndexedSeq[(E => Boolean, Int, Int)],
      withinMs: Long, tmsOf: E => Long, oidOf: E => Long)(
      k: Long, events: Iterator[E],
      state: GroupState[CepTimesState]): Iterator[CepMatch] = {
    val out = ListBuffer.empty[CepMatch]
    val stepper =
      new graft.ops.Cep.TimesStepper[E](pattern, withinMs, tmsOf)
    val sorted = events.toSeq.sortBy(e => (tmsOf(e), oidOf(e)))
    var s = state.getOption.getOrElse(CepTimesState(0, 0, 0L))
    sorted.foreach { e =>
      val next = stepper.step(s.st, s.c, s.t0, e,
        (st0, en) => out += CepMatch(k, st0, en))
      s = CepTimesState(next._1, next._2, next._3)
    }
    state.update(s)
    out.iterator
  }

  /** Attach the QUANTIFIED automaton
    * ([[graft.ops.Cep.patternMatchesTimes]]) to a keyed event stream.
    * Pre-filter to the pattern's types before calling (relaxed contiguity
    * — non-pattern events never change state). */
  def attachTimes(ds: Dataset[CepEvent], pattern: Seq[(String, Int, Int)],
      withinMs: Long): Dataset[CepMatch] = {
    graft.ops.Cep.validateTimes(pattern, withinMs)
    import ds.sparkSession.implicits._
    ds.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        matchGroupTimes(pattern.toIndexedSeq, withinMs))
  }

  /** State for the CONSECUTIVE-loop automaton: [[CepTimesState]] plus the
    * closed flag (`cl` — the current loop broke at/above its floor and
    * cannot extend). */
  final case class CepConsecState(st: Int, c: Int, cl: Boolean, t0: Long)

  /** One micro-batch group for [[graft.ops.Cep
    * .patternMatchesTimesConsecutive]]'s automaton — the shared
    * [[graft.ops.Cep.ConsecStepper]] with (st, c, cl, t0) persisted
    * across batches, so a loop's strict adjacency (and a closed loop)
    * carry over the boundary: the end of batch N and the start of batch
    * N+1 are adjacent in the concatenation. Feed it the UNFILTERED keyed
    * stream — any event can break a loop. */
  def matchGroupTimesConsecutive(pattern: IndexedSeq[(String, Int, Int)],
      withinMs: Long, consecutive: Set[Int])(
      k: Long, events: Iterator[CepEvent],
      state: GroupState[CepConsecState]): Iterator[CepMatch] = {
    val out = ListBuffer.empty[CepMatch]
    val preds = pattern.map { case (t, mn, mx) =>
      (((e: CepEvent) => e.ty == t), mn, mx) }.toIndexedSeq
    val stepper = new graft.ops.Cep.ConsecStepper[CepEvent](preds,
      withinMs, consecutive, _.tms)
    val sorted = events.toSeq.sortBy(e => (e.tms, e.oid, e.ty))
    var s = state.getOption.getOrElse(CepConsecState(0, 0, cl = false, 0L))
    sorted.foreach { e =>
      val next = stepper.step(s.st, s.c, s.cl, s.t0, e,
        (st0, en) => out += CepMatch(k, st0, en))
      s = CepConsecState(next._1, next._2, next._3, next._4)
    }
    state.update(s)
    out.iterator
  }

  /** Attach the CONSECUTIVE-loop automaton
    * ([[graft.ops.Cep.patternMatchesTimesConsecutive]]) to a keyed event
    * stream — pass the UNFILTERED stream (any event can break a loop). */
  def attachTimesConsecutive(ds: Dataset[CepEvent],
      pattern: Seq[(String, Int, Int)], withinMs: Long,
      consecutive: Set[Int]): Dataset[CepMatch] = {
    graft.ops.Cep.validateTimes(pattern, withinMs)
    require(consecutive.nonEmpty,
      "no consecutive stages — use attachTimes (pre-filtered scan)")
    require(consecutive.forall(i => i >= 0 && i < pattern.length),
      s"consecutive stages must be in 0..${pattern.length - 1}")
    import ds.sparkSession.implicits._
    ds.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        matchGroupTimesConsecutive(pattern.toIndexedSeq, withinMs,
          consecutive))
  }

  /** State for the UNTIL-closed loop automaton: [[CepTimesState]] plus
    * `te`, the last accepted final-loop event's tms (the match end the
    * stop event reveals). */
  final case class CepUntilState(st: Int, c: Int, t0: Long, te: Long)

  /** One micro-batch group for the until-closed loop automaton — the
    * stepper is [[graft.ops.Cep.UntilStepper]], shared with the batch
    * sorted plan, so the forms cannot drift. */
  def matchGroupUntil(pattern: IndexedSeq[(String, Int, Int)],
      withinMs: Long, untilType: String)(
      k: Long, events: Iterator[CepEvent],
      state: GroupState[CepUntilState]): Iterator[CepMatch] = {
    val out = ListBuffer.empty[CepMatch]
    val preds = pattern.map { case (t, mn, mx) =>
      (((e: CepEvent) => e.ty == t), mn, mx) }.toIndexedSeq
    val stepper = new graft.ops.Cep.UntilStepper[CepEvent](preds,
      withinMs, _.ty == untilType, _.tms)
    val sorted = events.toSeq.sortBy(e => (e.tms, e.oid, e.ty))
    var s = state.getOption.getOrElse(CepUntilState(0, 0, 0L, 0L))
    sorted.foreach { e =>
      val next = stepper.step(s.st, s.c, s.t0, s.te, e,
        (st0, en) => out += CepMatch(k, st0, en))
      s = CepUntilState(next._1, next._2, next._3, next._4)
    }
    state.update(s)
    out.iterator
  }

  /** Attach the UNTIL-closed loop automaton
    * ([[graft.ops.Cep.patternMatchesUntil]]) to a keyed event stream —
    * the unbounded final loop's (st, c, t0, te) state crosses micro-batch
    * boundaries, so a loop accumulating in batch N closes on a stop event
    * in batch N+k. Pre-filter to the pattern types PLUS the until type. */
  def attachUntil(ds: Dataset[CepEvent], pattern: Seq[(String, Int, Int)],
      untilType: String, withinMs: Long): Dataset[CepMatch] = {
    graft.ops.Cep.validateUntil(pattern, untilType, withinMs)
    import ds.sparkSession.implicits._
    ds.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        matchGroupUntil(pattern.toIndexedSeq, withinMs, untilType))
  }

  /** Attach the PREDICATE-STAGE automaton ([[graft.ops.Cep
    * .patternMatchesWhere]]'s contract, Flink's `where()` conditions) to a
    * keyed stream of ANY event type `E` — the watermark-driven low-latency
    * form of the predicate surface (the store-backed form is
    * [[IncrementalCep.foldBatchWhere]]). Stage predicates are ordinary
    * Scala functions over `E`; step semantics are the shared
    * [[graft.ops.Cep.TimesStepper]] (greedy loops, relaxed contiguity,
    * optional middle stages, exact-count final stage, NFA timeout, skip
    * past last row), so batch/stream parity holds by construction
    * (`CepStreamSpec`). Pre-filter the stream to the union of the stage
    * predicates at the call site — semantics-preserving under relaxed
    * contiguity, and it keeps non-pattern events off the key shuffle.
    *
    * `oid` must totally order same-timestamp events per key (the
    * cross-batch order contract is per-key non-decreasing `tms`). */
  def attachWhere[E](ds: Dataset[E], key: E => Long, tms: E => Long,
      oid: E => Long, stages: Seq[(E => Boolean, Int, Int)],
      withinMs: Long): Dataset[CepMatch] = {
    graft.ops.Cep.validateTimes(
      stages.zipWithIndex.map { case ((_, mn, mx), i) => (s"stage$i", mn, mx) },
      withinMs)
    import ds.sparkSession.implicits._
    ds.groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        matchGroupPred[E](stages.toIndexedSeq, withinMs, tms, oid))
  }

  /** Keyed state for the ITERATIVE-condition automaton: the
    * [[CepTimesState]] triple plus the captured stage-0 OPENING event —
    * so a pattern whose opening event fell in an earlier micro-batch can
    * still evaluate `first.*` later (state stays O(1) per key: ONE
    * captured event, bounded regardless of loop length). */
  final case class CepIterState[E](st: Int, c: Int, t0: Long, f0: Option[E])

  /** One micro-batch group for the ITERATIVE automaton — the shared
    * stepper with each stage predicate receiving (event, captured opener).
    * The capture persists in state across batches. */
  def matchGroupIter[E](stages: IndexedSeq[((E, E) => Boolean, Int, Int)],
      withinMs: Long, tmsOf: E => Long, oidOf: E => Long)(
      k: Long, events: Iterator[E],
      state: GroupState[CepIterState[E]]): Iterator[CepMatch] = {
    val out = ListBuffer.empty[CepMatch]
    val init = state.getOption.getOrElse(CepIterState[E](0, 0, 0L, None))
    var f0 = init.f0
    // stage 0's predicate receives the event ITSELF as the opener (it IS
    // first if it opens — the batch API rejects first.* at stage 0, here
    // the second argument is simply self); later stages read the capture
    val preds = stages.zipWithIndex.map { case ((p, mn, mx), i) =>
      (if (i == 0) ((e: E) => p(e, e))
       else ((e: E) => f0.exists(p(e, _))), mn, mx)
    }
    val stepper = new graft.ops.Cep.TimesStepper[E](preds, withinMs, tmsOf,
      onOpen = e => f0 = Some(e))
    val sorted = events.toSeq.sortBy(e => (tmsOf(e), oidOf(e)))
    var st = init.st; var c = init.c; var t0 = init.t0
    sorted.foreach { e =>
      val next = stepper.step(st, c, t0, e,
        (st0, en) => out += CepMatch(k, st0, en))
      st = next._1; c = next._2; t0 = next._3
    }
    state.update(CepIterState[E](st, c, t0, f0))
    out.iterator
  }

  /** Attach the ITERATIVE-condition automaton ([[graft.ops.Cep
    * .patternMatchesIter]]'s contract): each stage predicate is
    * `(event, firstEvent) => Boolean` where `firstEvent` is the event
    * that OPENED the match (stage 0's first loop event; for stage 0
    * itself the second argument is the event itself — do not read it).
    * The capture crosses micro-batch boundaries through [[CepIterState]]
    * — the one surface [[attachWhere]] cannot express. Pre-filter as
    * with [[attachWhere]]. */
  def attachIter[E <: Product : scala.reflect.runtime.universe.TypeTag](
      ds: Dataset[E], key: E => Long, tms: E => Long, oid: E => Long,
      stages: Seq[((E, E) => Boolean, Int, Int)],
      withinMs: Long): Dataset[CepMatch] = {
    graft.ops.Cep.validateTimes(
      stages.zipWithIndex.map { case ((_, mn, mx), i) => (s"stage$i", mn, mx) },
      withinMs)
    import ds.sparkSession.implicits._
    implicit val stateEnc: org.apache.spark.sql.Encoder[CepIterState[E]] =
      org.apache.spark.sql.Encoders.product[CepIterState[E]]
    ds.groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        matchGroupIter[E](stages.toIndexedSeq, withinMs, tms, oid))
  }

  /** One concurrent NFA run of the SKIP-TO-NEXT-ROW automaton: the stage
    * reached and the run's own start. */
  final case class CepRun(st: Int, t0: Long)
  /** Keyed state for [[attachSkipNext]]: the key's ACTIVE runs — the
    * honest price of overlap (Flink's concurrent runs), the ONE CEP
    * stream form without a constant-size state row. Bounded two ways:
    * an event-time timeout prunes runs whose window the watermark closed
    * (and removes emptied state — a silent key holds nothing), and
    * `maxActiveRuns` caps a hot key's in-window run explosion. */
  final case class CepSkipState(runs: Seq[CepRun])

  /** One micro-batch group for AFTER MATCH SKIP TO NEXT ROW
    * ([[graft.ops.Cep.patternMatchesSkipNext]]'s contract): every
    * stage-0 event starts its OWN run; runs advance independently (one
    * event may advance several), each emits its earliest completion
    * within its own window and dies. Per-event semantics are the shared
    * [[graft.ops.Cep.SkipStepper]] — one step object with the batch
    * sorted plan, so stream and batch cannot drift (a run opened by
    * event e matches strictly AFTER e; existing runs advance before the
    * event opens its own).
    *
    * On timeout (the key went silent past some run's window end) runs
    * the watermark proves dead are pruned and emptied state is REMOVED —
    * Flink's within-pruning, so a dormant key costs nothing forever.
    * `maxActiveRuns` > 0 additionally evicts the OLDEST runs beyond the
    * cap after each batch. The guarantee is ONLY a bounded run set with
    * documented loss: by the monotone-run invariant the oldest runs are
    * the MOST advanced (an evicted run's would-be match never emits) —
    * but they are also nearest their window ends, i.e. the ones the
    * watermark would prune soonest; keeping the newest runs instead
    * preserves the fullest remaining windows under stage-0 spam. Size
    * the cap so eviction never fires on honest traffic.
    *
    * REQUIRES EventTimeTimeout + a watermark on the query (the
    * [[attachSkipNext]] wiring). Wired with `GroupStateTimeout
    * .NoTimeout` (its pre-r12 contract) or without a watermark, the
    * watermark/timeout calls degrade gracefully: no run pruning, no
    * timeout — the old NoTimeout behavior, state bounded only by
    * `maxActiveRuns`. */
  def matchGroupSkipNext(pattern: IndexedSeq[String], withinMs: Long,
      maxActiveRuns: Int = 0)(
      k: Long, events: Iterator[CepEvent],
      state: GroupState[CepSkipState]): Iterator[CepMatch] = {
    // NoTimeout/no-watermark degradation (the r12 advisor's contract
    // break): a caller wiring the pre-r12 GroupStateTimeout.NoTimeout —
    // or a query with no watermark — must not crash at runtime, it just
    // loses the pruning (Spark signals both as UnsupportedOperationException)
    def wmOpt: Option[Long] =
      try Some(state.getCurrentWatermarkMs())
      catch { case _: UnsupportedOperationException => None }
    def put(runs: Vector[(Int, Long)]): Unit =
      if (runs.isEmpty) state.remove()
      else {
        state.update(CepSkipState(runs.map { case (st, t0) => CepRun(st, t0) }))
        // earliest window end still live; watermark semantics guarantee
        // min(t0) + within > watermark here (dead runs were pruned)
        try state.setTimeoutTimestamp(runs.map(_._2).min + withinMs)
        catch { case _: UnsupportedOperationException => () }
      }
    var runs = state.getOption
      .map(_.runs.map(r => (r.st, r.t0)).toVector).getOrElse(Vector.empty)
    if (state.hasTimedOut) {
      val wm = state.getCurrentWatermarkMs()
      put(runs.filter { case (_, t0) => wm - t0 < withinMs })
      return Iterator.empty
    }
    val sorted = events.toSeq.sortBy(e => (e.tms, e.oid, e.ty))
    val out = ListBuffer.empty[CepMatch]
    val stepper = new graft.ops.Cep.SkipStepper(pattern, withinMs)
    sorted.foreach { e =>
      runs = stepper.step(runs, e.tms, e.ty,
        (t0, en) => out += CepMatch(k, t0, en))
    }
    // watermark pruning + the documented cap (drop OLDEST beyond it)
    runs = wmOpt.fold(runs)(wm =>
      runs.filter { case (_, t0) => wm - t0 < withinMs })
    if (maxActiveRuns > 0 && runs.length > maxActiveRuns)
      runs = runs.takeRight(maxActiveRuns)
    put(runs)
    out.iterator
  }

  /** Attach the SKIP-TO-NEXT-ROW automaton to a keyed event stream —
    * matches may overlap; per-key state is the active run set (the
    * documented overlap price; see the batch operator's cost model). An
    * event-time watermark over `tms` (with `delay`) is attached here so
    * runs whose window the watermark closed are PRUNED when the key goes
    * silent (event-time timeout — Flink's within-pruning; emptied state
    * is removed). `maxActiveRuns` > 0 bounds a hot key's run set by
    * evicting the oldest runs beyond the cap — matches those runs would
    * have emitted are LOST, so size it to the window's realistic stage-0
    * arrival count. Pre-filter to the pattern's types before calling.
    *
    * `delay` MUST BOUND CROSS-KEY EVENT-TIME SKEW, not just per-key
    * disorder: the watermark is GLOBAL, so a key whose event times lag
    * another key's by more than `delay` has its sub-watermark rows
    * dropped as late (Spark's event-time-timeout late-row filter) and
    * its watermark-closed runs pruned — a match the batch operator (and
    * [[attachNeg]]'s equivalent hazard aside, a NoTimeout stream) would
    * emit is silently lost. The DEFAULT (empty string) resolves to
    * `withinMs` itself, so skew up to one pattern window is tolerated
    * without opting in — silent match loss now requires an EXPLICIT
    * tighter delay (the r12 advisor's finding on the earlier 0 ms
    * default). Size an explicit `delay` to the source's cross-partition
    * skew (e.g. "10 minutes"), exactly as Flink's bounded-out-of-
    * orderness watermark must; tighter delays prune dormant keys'
    * state sooner. Pinned by CepStreamSpec "cross-key skew inside the
    * watermark delay". */
  def attachSkipNext(ds: Dataset[CepEvent], pattern: Seq[String],
      withinMs: Long, maxActiveRuns: Int = 0,
      delay: String = ""): Dataset[CepMatch] = {
    require(pattern.nonEmpty, "pattern must not be empty")
    require(withinMs > 0, s"withinMs must be > 0, got $withinMs")
    require(maxActiveRuns >= 0,
      s"maxActiveRuns must be >= 0 (0 = unbounded), got $maxActiveRuns")
    val wmDelay = if (delay.isEmpty) s"$withinMs milliseconds" else delay
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    val wm = ds.withColumn("__et", timestamp_millis(col("tms")))
      .withWatermark("__et", wmDelay)
      .as[CepEvent]
    wm.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        matchGroupSkipNext(pattern.toIndexedSeq, withinMs, maxActiveRuns))
  }

  /** Buffered event carried in [[CepSkipToState]] — the partial's
    * contiguous range from its stage-`skipTo` event onward. */
  final case class CepEvBuf(tms: Long, oid: Long, ty: String)
  /** Keyed state for [[attachSkipTo]]: the single run's (stage, start)
    * plus the replay buffer — O(one partial's in-window span) per key,
    * the window-bounded class (cleared on timeout/emit/idle). */
  final case class CepSkipToState(st: Int, t0: Long, buf: Seq[CepEvBuf])

  /** One micro-batch group for AFTER MATCH SKIP TO FIRST/LAST
    * ([[graft.ops.Cep.patternMatchesSkipTo]]'s contract): the shared
    * [[graft.ops.Cep.SkipToRunner]] with (stage, start, buffer)
    * persisted across batches — a match completing in a later batch
    * still rewinds into its buffered stage-`skipTo` segment, so the
    * concatenation of per-batch runs equals the batch operator under
    * the per-key event-time-order contract. */
  def matchGroupSkipTo(pattern: IndexedSeq[String], withinMs: Long,
      skipTo: Int)(k: Long, events: Iterator[CepEvent],
      state: GroupState[CepSkipToState]): Iterator[CepMatch] = {
    val out = ListBuffer.empty[CepMatch]
    val init = state.getOption.getOrElse(CepSkipToState(0, 0L, Nil))
    val runner = new graft.ops.Cep.SkipToRunner(pattern, withinMs, skipTo)
    runner.st = init.st; runner.t0 = init.t0
    init.buf.foreach(b => runner.buf.append((b.tms, b.oid, b.ty)))
    events.toSeq.sortBy(e => (e.tms, e.oid, e.ty)).foreach { e =>
      runner.feed(e.tms, e.oid, e.ty,
        (s, en) => out += CepMatch(k, s, en))
    }
    state.update(CepSkipToState(runner.st, runner.t0,
      runner.buf.toSeq.map { case (t, o, ty) => CepEvBuf(t, o, ty) }))
    out.iterator
  }

  /** Attach the SKIP-TO-FIRST/LAST automaton to a keyed event stream —
    * see [[graft.ops.Cep.patternMatchesSkipTo]] for semantics and the
    * skipTo-stage bounds. Pre-filter to the pattern's types before
    * calling. */
  def attachSkipTo(ds: Dataset[CepEvent], pattern: Seq[String],
      withinMs: Long, skipTo: Int): Dataset[CepMatch] = {
    require(pattern.length >= 2, "skip-to-first/last needs >= 2 stages")
    require(withinMs > 0, s"withinMs must be > 0, got $withinMs")
    require(skipTo >= 1 && skipTo < pattern.length,
      s"skipTo must be in 1..${pattern.length - 1}, got $skipTo")
    import ds.sparkSession.implicits._
    ds.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        matchGroupSkipTo(pattern.toIndexedSeq, withinMs, skipTo))
  }

  /** Matched-event reference carried in [[CepSelState]] / emitted by the
    * MATCH-PAYLOAD stream. */
  final case class CepEvRef(tms: Long, oid: Long)
  /** Keyed state for the match-payload automaton: the (stage, start)
    * pair plus the partial's matched event per stage (O(pattern)) and
    * the per-key match counter — so a partial spanning micro-batches
    * still reports ALL its stage events, and match_n is stable across
    * batches. */
  final case class CepSelState(st: Int, t0: Long, n: Int, es: Seq[CepEvRef])
  /** One output row per matched stage event — [[graft.ops.Cep
    * .patternMatchesSelect]]'s long format. */
  final case class CepSelMatch(k: Long, match_n: Int, stage_n: Int,
      ev_tms: Long, ev_oid: Long)

  /** One micro-batch group for the MATCH-PAYLOAD automaton — the shared
    * [[graft.ops.Cep.SelectStepper]] with the per-stage event buffer
    * persisted in keyed state across batches. */
  def matchGroupSelect(pattern: IndexedSeq[String], withinMs: Long)(
      k: Long, events: Iterator[CepEvent],
      state: GroupState[CepSelState]): Iterator[CepSelMatch] = {
    val out = ListBuffer.empty[CepSelMatch]
    val init = state.getOption.getOrElse(CepSelState(0, 0L, 0, Nil))
    val stepper = new graft.ops.Cep.SelectStepper(pattern, withinMs)
    val sorted = events.toSeq.sortBy(e => (e.tms, e.oid, e.ty))
    val es = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    init.es.foreach(r => es += ((r.tms, r.oid)))
    var st = init.st; var t0 = init.t0; var n = init.n
    sorted.foreach { e =>
      val next = stepper.step(st, t0, es, e.tms, e.oid, e.ty, evs => {
        n += 1
        evs.zipWithIndex.foreach { case ((t, o), j) =>
          out += CepSelMatch(k, n, j + 1, t, o)
        }
      })
      st = next._1; t0 = next._2
    }
    state.update(
      CepSelState(st, t0, n, es.map { case (t, o) => CepEvRef(t, o) }.toSeq))
    out.iterator
  }

  /** Attach the MATCH-PAYLOAD automaton ([[graft.ops.Cep
    * .patternMatchesSelect]] — Flink's `select`/`flatSelect` surface) to
    * a keyed event stream: emits the matched events per stage, one row
    * per (match, stage), with the partial's buffered stage events and the
    * per-key match counter carried across micro-batch boundaries. State
    * stays O(pattern) per key. Pre-filter to the pattern's types. */
  def attachSelect(ds: Dataset[CepEvent], pattern: Seq[String],
      withinMs: Long): Dataset[CepSelMatch] = {
    require(pattern.nonEmpty, "pattern must not be empty")
    require(withinMs > 0, s"withinMs must be > 0, got $withinMs")
    import ds.sparkSession.implicits._
    ds.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        matchGroupSelect(pattern.toIndexedSeq, withinMs))
  }

  /** [[graft.ops.Cep.patternMatchesGroup]]'s stream twin — the group
    * repeats whole, exactly `times` times, within one window: the same
    * lossless unroll delegation as the batch operator (`Seq.fill(times)
    * (group).flatten` through [[attach]]), so the stream form inherits
    * the batch semantics AND the unroll argument — the three drive forms
    * cannot drift because they are one operator. */
  def attachGroup(ds: Dataset[CepEvent], group: Seq[String], times: Int,
      withinMs: Long): Dataset[CepMatch] = {
    require(group.nonEmpty, "group must not be empty")
    require(times >= 1, s"times must be >= 1, got $times")
    require(group.length * times >= 2,
      "unrolled pattern needs >= 2 stages (a 1x1 group is just a filter)")
    attach(ds, Seq.fill(times)(group).flatten, withinMs)
  }

  /** Keyed state for [[attachTimesNfa]]: the branch family —
    * (stage, count) pairs sharing one start (see
    * [[graft.ops.Cep.NfaStepper]]); empty = the key is idle (state
    * removed). */
  final case class CepNfaBranch(st: Int, c: Int)
  final case class CepNfaState(branches: Seq[CepNfaBranch], t0: Long)

  /** One micro-batch group for the BRANCHING-NFA opt-in
    * ([[graft.ops.Cep.patternMatchesTimesNfa]]'s contract): the branch
    * family persists across micro-batches through keyed state, per-event
    * semantics are the shared [[graft.ops.Cep.NfaStepper]] — one step
    * object with the batch sorted plan, so stream and batch cannot
    * drift. An emptied branch family removes the key's state. */
  def matchGroupTimesNfa(pattern: IndexedSeq[(String, Int, Int)],
      withinMs: Long)(
      k: Long, events: Iterator[CepEvent],
      state: GroupState[CepNfaState]): Iterator[CepMatch] = {
    val out = ListBuffer.empty[CepMatch]
    val init = state.getOption.getOrElse(CepNfaState(Nil, 0L))
    val preds = pattern.map { case (t, mn, mx) =>
      (((e: CepEvent) => e.ty == t), mn, mx) }
    val sorted = events.toSeq.sortBy(e => (e.tms, e.oid, e.ty))
    var br = init.branches.map(b => (b.st, b.c)).toSet
    var t0 = init.t0
    val stepper = new graft.ops.Cep.NfaStepper[CepEvent](preds, withinMs, _.tms)
    sorted.foreach { e =>
      val next = stepper.step(br, t0, e, (s, en) => out += CepMatch(k, s, en))
      br = next._1; t0 = next._2
    }
    if (br.isEmpty) { if (state.exists) state.remove() }
    else state.update(
      CepNfaState(br.toSeq.sorted.map { case (st, c) => CepNfaBranch(st, c) }, t0))
    out.iterator
  }

  /** [[graft.ops.Cep.patternMatchesTimesNfa]]'s stream twin — the
    * branching opt-in with the branch family carried across
    * micro-batches. State is bounded by Σ stage max-counts per key (the
    * batch operator's bound), idle keys hold nothing. Pre-filter to the
    * pattern's types before calling. */
  def attachTimesNfa(ds: Dataset[CepEvent],
      pattern: Seq[(String, Int, Int)], withinMs: Long): Dataset[CepMatch] = {
    graft.ops.Cep.validateTimes(pattern, withinMs, warnOverlap = false)
    import ds.sparkSession.implicits._
    ds.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        matchGroupTimesNfa(pattern.toIndexedSeq, withinMs))
  }

  /** Attach the automaton to a keyed event stream. Pre-filter to the
    * pattern's types before calling (the batch twin does; non-pattern
    * events never change state, they only cost shuffle). */
  def attach(ds: Dataset[CepEvent], pattern: Seq[String],
      withinMs: Long): Dataset[CepMatch] = {
    require(pattern.nonEmpty, "pattern must not be empty")
    // batch-twin parity at the API boundary: Cep.patternMatches rejects a
    // non-positive window; here it would silently abandon every
    // multi-stage partial instead
    require(withinMs > 0, s"withinMs must be > 0, got $withinMs")
    import ds.sparkSession.implicits._
    ds.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        matchGroup(pattern.toIndexedSeq, withinMs))
  }
}
