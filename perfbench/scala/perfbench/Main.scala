package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.GraftSession

/** One timed call into the library. `run` returns the rows it produced
  * (-1 when the call has no natural row count). */
final case class Op(name: String, layer: String, run: () => Long)

final case class OpRec(pass: Int, name: String, layer: String, ms: Double,
    ok: Boolean, rows: Long)

/** The benchmark's JVM side: builds one session, sets up the workload, times
  * its ops for the requested window, checks the outputs, and writes one
  * JSON result file for `run.py` to turn into metrics.
  *
  * Arguments are `key=value`: workload, steady (steady pass count), trace
  * (0|1), input (the generated input directory), work (scratch root,
  * emptied by the caller), out (result file), and the workload's own
  * parameters. */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(Some(s"local[$cores]"), Some(cores))
      .getOrCreate()
    val sessionMs = (System.nanoTime() - t0) / 1e6
    spark.sparkContext.setLogLevel("WARN")
    val tr = new Trace(spark.sparkContext, a("trace") == "1")
    val ctx = new Ctx(spark, tr, a, a("work"))
    val w: Workload = a("workload") match {
      case "dwd_batch" => new DwdBatch(ctx)
      case "cdc_fold" => new CdcFold(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    ctx.loop(a("steady").toInt, w.ops)
    // store size, store facts and live heap describe the workload's state,
    // so they are read before the correctness twins add their own
    val storeBytes = Ctx.du(new File(w.storeRoot))
    val facts = w.facts
    // a second full collection after a pause, so what Spark's cleaner drops
    // after the first one (released shuffles, broadcasts) is not counted
    System.gc(); Thread.sleep(500); System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    val checks = w.check()
    if (tr.on) tr.drain()
    val res = Map[String, Any](
      "session_ms" -> sessionMs,
      "first_op_ms" -> ctx.firstOpMs,
      "ops" -> ctx.recs.toSeq.map(r => Map("pass" -> r.pass, "name" -> r.name,
        "layer" -> r.layer, "ms" -> r.ms, "ok" -> r.ok, "rows" -> r.rows)),
      "passes" -> ctx.passMs.toSeq,
      "pass_traced" -> ctx.passTraced.toSeq,
      "errors" -> ctx.errors.toSeq,
      "checks" -> checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "store_bytes" -> storeBytes,
      "heap_live_bytes" -> heap,
      "facts" -> facts,
      "spans" -> tr.toJson)
    Files.writeString(Paths.get(a("out")), Ctx.json(res))
    spark.stop()
  }
}

/** Shared run state: the session, the tracer, and the op log. */
final class Ctx(val spark: SparkSession, val tr: Trace,
    val args: Map[String, String], val work: String) {
  val recs = new ArrayBuffer[OpRec]()
  val passMs = new ArrayBuffer[Double]()
  val passTraced = new ArrayBuffer[Boolean]()
  val errors = new ArrayBuffer[String]()
  var firstOpMs = 0L

  /** Materialize a frame without keeping its rows (every column computed). */
  def drain(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop")
      .mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Time one op; a failure is logged and counted, never rethrown. */
  private def time(pass: Int, op: Op): Unit = {
    if (firstOpMs == 0L) firstOpMs = System.currentTimeMillis()
    val t = System.nanoTime()
    val (ok, rows) =
      try (true, tr.span(op.name, op.layer, recs.size)(op.run()))
      catch { case e: Throwable =>
        errors += s"${op.name}: ${e.getClass.getName}: ${e.getMessage}"
        (false, -1L)
      }
    recs += OpRec(pass, op.name, op.layer, (System.nanoTime() - t) / 1e6, ok,
      rows)
  }

  /** Pass 0 is the cold pass, then `steady` steady passes. A traced run
    * traces its cold pass and makes twice as many steady passes, untraced
    * and traced in the order U T T U U T T U ..., so its end-to-end figures
    * and its tracing overhead come from one JVM and neither kind gets all
    * the early (still warming) passes. */
  def loop(steady: Int, ops: Int => Seq[Op]): Unit = {
    (0 to (if (tr.on) 2 * steady else steady)).foreach { pass =>
      tr.active = tr.on && (pass == 0 || (pass - 1) % 4 == 1 ||
        (pass - 1) % 4 == 2)
      passTraced += tr.active
      val t = System.nanoTime()
      ops(pass).foreach(time(pass, _))
      passMs += (System.nanoTime() - t) / 1e6
    }
    tr.active = tr.on
  }
}

object Ctx {
  def json(v: Any): String =
    Serialization.write(v.asInstanceOf[AnyRef])(DefaultFormats)

  def du(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)

  def rmrf(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}

trait Workload {
  def setup(): Unit
  def ops: Int => Seq[Op]
  /** (check name, ok, detail) */
  def check(): Seq[(String, Boolean, String)]
  def storeRoot: String
  def facts: Map[String, Any] = Map.empty
}
