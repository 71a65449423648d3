package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.streaming.CepStream.{CepEvent, CepMatch}

/** CEP stream forms on the RocksDB state-store provider. Every
  * `CepStream.attach*` form is one `flatMapGroupsWithState` operator; each
  * case drives it across micro-batches on the default provider and on
  * RocksDB, asserts the two runs agree, and pins the output. */
class CepStreamRocksDbSpec extends SparkSpec {

  private var runNo = 0

  private def drive(batches: Seq[Seq[CepEvent]])(
      mk: Dataset[CepEvent] => Dataset[CepMatch]): Seq[(Long, Long, Long)] =
    onEveryStateStore {
      val s = spark
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      runNo += 1
      val tbl = s"cep_rocksdb_out_$runNo"
      val mem = MemoryStream[CepEvent]
      val q = mk(mem.toDS()).writeStream
        .format("memory").queryName(tbl).outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cep_rocksdb_ckpt").toString)
        .start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        s.table(tbl).collect()
          .map(r => (r.getAs[Long]("k"), r.getAs[Long]("match_start"),
            r.getAs[Long]("match_end")))
          .sortBy(identity).toSeq
      } finally q.stop()
    }

  private val vcp = Seq("view", "click", "purchase")

  test("attach: cross-batch match and timeout reopen") {
    // partial spans the boundary; a second run times out mid-stream
    val batches = Seq(
      Seq(CepEvent(1, 10, 1, "view"), CepEvent(1, 20, 2, "click"),
        CepEvent(2, 10, 3, "view")),
      Seq(CepEvent(1, 30, 4, "purchase"), // completes across the boundary
        CepEvent(2, 2000, 5, "click")), // key 2's partial timed out
      Seq(CepEvent(2, 2010, 6, "view"), CepEvent(2, 2020, 7, "click"),
        CepEvent(2, 2030, 8, "purchase")))
    assert(drive(batches)(CepStream.attach(_, vcp, 1000)) ==
      Seq((1L, 10L, 30L), (2L, 2010L, 2030L)))
  }

  test("attachNeg: watch emit, ban kill, stale timer") {
    // key 1: watch opens (view click), watermark later passes the window
    //   end with the key SILENT -> the event-time timeout emits the
    //   pending match
    // key 2: watch opens, then a banned refund arrives -> killed; the
    //   superseded timeout hits the st-guard and must NOT emit
    // key 9: watermark mover
    val batches = Seq(
      Seq(CepEvent(1, 100, 1, "view"), CepEvent(1, 110, 2, "click"),
        CepEvent(2, 100, 3, "view"), CepEvent(2, 120, 4, "click")),
      Seq(CepEvent(2, 130, 5, "refund")),
      Seq(CepEvent(9, 5000, 6, "view"))) // watermark past both windows
    assert(drive(batches)(CepStream.attachNeg(_, Seq("view", "click"), 1000,
      notAfter = Seq("refund"))) == Seq((1L, 100L, 110L)))
  }

  test("attachNeg: notBetween kill and cross-batch partial") {
    val batches = Seq(
      Seq(CepEvent(1, 10, 1, "view"), CepEvent(2, 10, 2, "view")),
      Seq(CepEvent(1, 20, 3, "spam"), // kills key 1's partial
        CepEvent(2, 20, 4, "click")),
      Seq(CepEvent(1, 30, 5, "click"), // no live partial -> no match
        CepEvent(2, 30, 6, "purchase")))
    assert(drive(batches)(CepStream.attachNeg(_, vcp, 1000,
      notBetween = Map(1 -> Seq("spam")))) == Seq((2L, 10L, 30L)))
  }

  test("every other attach form: pinned matches on both providers") {
    // loops (view x2), strictness, skips, a cross-batch partial, a second
    // key with noise between stages and a timed-out partial, and a
    // far-future batch that moves the watermark for the skip-next path
    val batches = Seq(
      Seq(CepEvent(1, 10, 1, "view"), CepEvent(1, 20, 2, "view"),
        CepEvent(1, 30, 3, "click"), CepEvent(2, 10, 4, "view")),
      Seq(CepEvent(1, 40, 5, "purchase"), CepEvent(2, 15, 6, "spam"),
        CepEvent(2, 20, 7, "click")),
      Seq(CepEvent(2, 2000, 8, "view"), CepEvent(2, 2010, 9, "click"),
        CepEvent(2, 2020, 10, "purchase")))
    val loopPat = Seq(("view", 1, 2), ("click", 1, 1))
    // matches of the three-stage view→click→purchase forms
    val vcpMatches = Seq((1L, 10L, 40L), (2L, 2000L, 2020L))
    // matches of the two-stage view→click forms
    val vcMatches = Seq((1L, 10L, 30L), (2L, 10L, 20L), (2L, 2000L, 2010L))
    val forms: Seq[(String, Dataset[CepEvent] => Dataset[CepMatch],
        Seq[(Long, Long, Long)])] = Seq(
      ("times", ds => CepStream.attachTimes(ds,
        loopPat :+ (("purchase", 1, 1)), 1000), vcpMatches),
      ("next", ds => CepStream.attachNext(ds, vcp, 1000,
        nextStages = Set(2)), vcpMatches),
      ("consec", ds => CepStream.attachTimesConsecutive(ds, loopPat,
        1000, consecutive = Set(0)), vcMatches),
      ("where", ds => CepStream.attachWhere[CepEvent](ds, _.k, _.tms,
        _.oid,
        Seq((((e: CepEvent) => e.ty == "view"), 1, 2),
          (((e: CepEvent) => e.ty == "click"), 1, 1)), 1000), vcMatches),
      ("iter", ds => CepStream.attachIter[CepEvent](ds, _.k, _.tms,
        _.oid,
        Seq((((e: CepEvent, _: CepEvent) => e.ty == "view"), 1, 2),
          (((e: CepEvent, f: CepEvent) =>
            e.ty == "click" && e.tms >= f.tms), 1, 1)), 1000), vcMatches),
      ("skipto", ds => CepStream.attachSkipTo(ds, vcp, 1000, skipTo = 1),
        vcpMatches),
      ("nfa", ds => CepStream.attachTimesNfa(ds, loopPat, 1000), vcMatches),
      ("group", ds => CepStream.attachGroup(ds, Seq("view", "click"), 1,
        1000), vcMatches),
      // until: the stop event (purchase) is not part of the match
      ("until", ds => CepStream.attachUntil(ds,
        Seq(("view", 1, 2), ("click", 1, Int.MaxValue)), "purchase", 1000),
        Seq((1L, 10L, 30L), (2L, 2000L, 2010L))),
      // skip-next: overlapping runs, so key 1's second view opens its own
      ("skipnext", ds => CepStream.attachSkipNext(ds, vcp, 1000),
        Seq((1L, 10L, 40L), (1L, 20L, 40L), (2L, 2000L, 2020L))))
    forms.foreach { case (name, f, want) =>
      val got = drive(batches)(f)
      assert(got.nonEmpty, s"form $name emitted nothing — fixture too weak")
      assert(got == want, s"form $name:\n  got  $got\n  want $want")
    }
  }

  test("late rows: sub-watermark rows are dropped") {
    // batch 1 opens a partial for key 1 and moves the GLOBAL watermark far
    // past it via key 9; batch 2 delivers key 1's completing event LATE
    // (tms < watermark). The event-time timeout drops the late row AND
    // prunes the window-closed run — no match, on either provider.
    val batches = Seq(
      Seq(CepEvent(1, 8000, 1, "view"), CepEvent(9, 20000, 2, "view")),
      Seq(CepEvent(1, 8400, 3, "click")),
      Seq(CepEvent(9, 30000, 4, "view"))) // flush timeouts
    assert(drive(batches)(
      CepStream.attachSkipNext(_, Seq("view", "click"), 1000)).isEmpty)
    assert(drive(batches)(CepStream.attachNeg(_, Seq("view", "click"), 1000,
      notAfter = Seq("refund"))).isEmpty)
  }

  test("attachSelect: per-stage payload across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val batches = Seq(
      Seq(CepEvent(1, 10, 1, "view"), CepEvent(1, 20, 2, "click")),
      Seq(CepEvent(1, 30, 3, "purchase"), CepEvent(2, 10, 4, "view")),
      Seq(CepEvent(2, 20, 5, "click"), CepEvent(2, 30, 6, "purchase")))
    val got = onEveryStateStore {
      runNo += 1
      val tbl = s"cep_rocksdb_sel_$runNo"
      val mem = MemoryStream[CepEvent]
      val q = CepStream.attachSelect(mem.toDS(), vcp, 1000).writeStream
        .format("memory").queryName(tbl).outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cep_rocksdb_sel").toString)
        .start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        s.table(tbl).collect()
          .map(r => (r.getAs[Long]("k"), r.getAs[Int]("match_n"),
            r.getAs[Int]("stage_n"), r.getAs[Long]("ev_tms"),
            r.getAs[Long]("ev_oid")))
          .sortBy(identity).toSeq
      } finally q.stop()
    }
    // (k, match_n, stage_n, ev_tms, ev_oid): one row per matched stage event
    assert(got == Seq(
      (1L, 1, 1, 10L, 1L), (1L, 1, 2, 20L, 2L), (1L, 1, 3, 30L, 3L),
      (2L, 1, 1, 10L, 4L), (2L, 1, 2, 20L, 5L), (2L, 1, 3, 30L, 6L)))
  }
}
