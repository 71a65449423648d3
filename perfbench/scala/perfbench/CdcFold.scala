package perfbench

import java.io.File

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Profile
import graft.ops.Stateful
import graft.streaming.{IncrementalCms, IncrementalHll, IncrementalScd2,
  IncrementalTopK, KeyedStore}

/** `cdc_fold`: each micro-batch of the generated changelog is folded into
  * one store of each fold class. Set-up bulk-loads every store with batch 0
  * (one insert per key), so state is much larger than a batch. One op is
  * one store's fold of one micro-batch; one pass is one micro-batch through
  * all five stores, and pass 0 (the first micro-batch) is the cold pass.
  *
  * Checked after the window: every store equals its batch twin over the
  * concatenated changelog of the batches it folded. */
final class CdcFold(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}
  private val dir = ctx.args("input")
  private val root = s"${ctx.work}/stores"
  private val topK = 64
  def storeRoot: String = root
  val kinds = Seq("keyed", "scd2", "hll", "cms", "topk")
  private var folded = 0 // batches 1..folded have been folded

  private def batch(i: Int): DataFrame =
    spark.read.parquet(f"$dir/batch_$i%05d.parquet")
  private def upto(n: Int): DataFrame =
    spark.read.parquet((0 to n).map(i => f"$dir/batch_$i%05d.parquet"): _*)
  private def path(k: String) = s"$root/$k"

  private def keyedRows(b: DataFrame): DataFrame =
    b.select(col("order_id"), col("seq"), col("status"), col("sku_id"),
      col("amount"),
      when(col("type") === "delete", "delete").otherwise("put").as("op_type"))
  private def scd2Rows(b: DataFrame): DataFrame =
    b.select(col("order_id"), col("seq"), col("ts"), col("type").as("typ"),
      col("status"))

  /** Fold batch `b` (id `id`) into store kind `k`; returns rows of the frame
    * the fold hands back (the keyed store returns nothing). */
  private def fold(k: String, b: DataFrame, id: Long): Long = k match {
    case "keyed" =>
      KeyedStore.merge(keyedRows(b), path(k), keys = Seq("order_id"),
        seqCols = Seq("seq"), numBuckets = 16)
      -1L
    case "scd2" => ctx.drain(IncrementalScd2.mergeBatch(scd2Rows(b), path(k),
      keys = Seq("order_id"), ordCols = Seq("seq"), attrNames = Seq("status"),
      batchId = id))
    case "hll" => ctx.drain(IncrementalHll.mergeBatch(b, path(k),
      col("status"), col("user_id"), batchId = id))
    case "cms" => ctx.drain(IncrementalCms.mergeBatch(b, path(k),
      col("status"), col("sku_id"), batchId = id))
    case "topk" => ctx.drain(IncrementalTopK.mergeBatch(b, path(k),
      col("sku_id"), topK, id))
  }

  /** New-generation bucket directories and their bytes, from a listing. */
  private def lastGeneration(k: String): (Int, Long) = {
    val Dir = """__b=\d+__g(\d+)""".r
    val dirs = Option(new File(path(k)).listFiles).toSeq.flatten
      .flatMap(f => f.getName match {
        case Dir(g) => Some(g.toLong -> f)
        case _ => None
      })
    if (dirs.isEmpty) (0, 0L)
    else {
      val g = dirs.map(_._1).max
      val top = dirs.filter(_._1 == g).map(_._2)
      (top.size, top.map(Ctx.du).sum)
    }
  }

  /** Bulk-loads the five stores side by side: they share no files, and
    * set-up is not an op, so its first-use cost may overlap. */
  def setup(): Unit = {
    Ctx.rmrf(root)
    val bulk = batch(0)
    val loads = kinds.map(k => Future(fold(k, bulk, 0L))(ExecutionContext.global))
    loads.foreach(Await.result(_, Duration.Inf))
  }

  val ops: Int => Seq[Op] = { p =>
    val id = p + 1
    val b = batch(id)
    kinds.map(k => Op(s"streaming.$k.fold", "streaming", () => {
      val n = fold(k, b, id.toLong)
      if (tr.active) {
        val (buckets, bytes) = lastGeneration(k)
        tr.note("buckets_rewritten", buckets)
        tr.note("bytes_written", bytes.toDouble)
      }
      if (k == kinds.last) folded = id
      n
    }))
  }

  override def facts: Map[String, Any] =
    Map("files_live" -> kinds.map(k => countFiles(new File(path(k)))).sum)

  private def countFiles(f: File): Long =
    if (f.isFile) 1L
    else Option(f.listFiles).map(_.map(countFiles).sum).getOrElse(0L)

  /** Equal multisets: as many rows, and none stored that the twin lacks. */
  private def same(name: String, got: DataFrame, want: DataFrame) = {
    val cols = want.columns.sorted.map(col)
    val g = got.select(cols: _*)
    val w = want.select(cols: _*)
    val (ng, nw) = (g.count(), w.count())
    val extra = g.exceptAll(w).count()
    (name, ng == nw && extra == 0,
      s"$ng rows stored, $nw expected, $extra unexpected")
  }

  /** The five checks run side by side: they only read. */
  def check(): Seq[(String, Boolean, String)] = {
    val all = upto(folded)
    val hist = Seq("order_id", "status", "effective_from", "effective_to",
      "is_current", "ver")
    val checks: Seq[() => (String, Boolean, String)] = Seq(
      () => same("keyed",
        KeyedStore.readActive(spark, path("keyed")).get.drop("op_type"),
        Stateful.mergeFinalState(keyedRows(all), Seq(col("order_id")),
          Seq(col("seq")), col("op_type")).drop("op_type").localCheckpoint()),
      () => same("scd2",
        IncrementalScd2.readHistory(spark, path("scd2"), scd2Rows(all),
          Seq("order_id"), Seq("status")).select(hist.map(col): _*)
          .withColumn("ver", col("ver").cast("long")),
        Stateful.scd2History(scd2Rows(all), Seq(col("order_id")),
          Seq(col("seq")), col("ts"), Seq(col("status")), Seq("status"),
          col("typ")).select(hist.map(col): _*)
          .withColumn("ver", col("ver").cast("long")).localCheckpoint()),
      () => same("hll", IncrementalHll.readRegisters(spark, path("hll")),
        Profile.hllRegisters(all.select(col("status").as("g"), col("user_id")),
          Seq("g"), col("user_id")).localCheckpoint()),
      () => same("cms", IncrementalCms.readCells(spark, path("cms")),
        Profile.cmsCells(all.select(col("status").as("g"), col("sku_id")),
          Seq("g"), col("sku_id")).localCheckpoint()),
      () => topkCheck(all))
    checks.map(c => Future(c())(ExecutionContext.global))
      .map(Await.result(_, Duration.Inf))
  }

  /** Misra-Gries has no exact batch twin under re-splitting; its guarantee
    * is the twin: n_total is exact, every item counted more than
    * n/(k+1) times is present, and each counter undercounts by at most
    * n/(k+1). */
  private def topkCheck(all: DataFrame): (String, Boolean, String) = {
    val truth = all.groupBy(col("sku_id").cast("string").as("item"))
      .agg(count(lit(1)).as("true_ct")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = truth.values.sum
    val thresh = n / (topK + 1)
    val got = IncrementalTopK.readSummary(spark, path("topk"), topK).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bad = got.filter { case (it, ct, nt) =>
      nt != n || ct > truth.getOrElse(it, 0L) || truth.getOrElse(it, 0L) - ct > thresh
    }
    val absent = truth.filter(_._2 > thresh).keys.filterNot(got.map(_._1).toSet)
    ("topk", bad.isEmpty && absent.isEmpty,
      s"${got.length} counters, ${bad.length} out of bound, ${absent.size} heavy items absent")
  }
}
