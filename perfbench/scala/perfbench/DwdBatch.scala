package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.dim.DimRouter
import graft.model.Envelopes
import graft.ops.{Project, Split}

/** `dwd_batch`: the reference's ODS -> DIM -> DWD -> DWS path as batch
  * calls over the generated table set. One pass decodes both envelopes
  * (model), routes the CDC rows to their dim tables (dim), runs the log
  * split branches (ops), then runs the query list (queries), each query
  * writing its result as parquet under `<work>/out/<name>` -- the directory
  * the DuckDB oracle check reads afterwards. */
final class DwdBatch(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}
  private val dir = ctx.args("input")
  private val out = s"${ctx.work}/out"
  private val names = ctx.args("queries").split(",").toSeq
  def storeRoot: String = out

  def setup(): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    Files.createDirectories(Paths.get(out))
  }

  private def query(name: String): Long = {
    val df = tr.span(s"$name.plan", "queries.plan", -1) {
      val df = SparkEntry.queries(name)(spark, dir)
      if (tr.active) df.queryExecution.executedPlan
      df
    }
    tr.span(s"$name.exec", "queries.exec", -1) {
      df.write.mode("overwrite").parquet(s"$out/$name")
    }
    -1L
  }

  private val fixed: Seq[Op] = Seq(
    Op("model.maxwell", "model", () => ctx.drain(Envelopes.maxwell(spark, dir))),
    Op("model.log_records", "model",
      () => ctx.drain(Envelopes.logRecords(spark, dir))),
    Op("dim.route", "dim", () => ctx.drain(
      DimRouter.route(Envelopes.maxwell(spark, dir), Envelopes.configDim(spark)))),
    Op("ops.split", "ops", () => {
      val valid = Project.logEtl(Envelopes.logRecords(spark, dir))
      Seq(Split.pageBranch(valid), Split.startBranch(valid),
        Split.errBranch(valid)).map(ctx.drain).sum
    }))

  val ops: Int => Seq[Op] = _ =>
    fixed ++ names.map(n => Op(n, "queries", () => query(n)))

  /** Results are checked by `tools/check.py` from `run.py`; this side only
    * writes the oracle statements and the declared query list it reads. */
  def check(): Seq[(String, Boolean, String)] = {
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Ctx.json(oracle))
    Files.writeString(Paths.get(s"$out/queries.json"), Ctx.json(names))
    Seq.empty
  }
}
