package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (tests fork one JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir(sf: String = "sf0.001"): String = s"/root/testdata/$sf"

  /** Poll a memory-sink streaming query until `table` holds at least
    * `atLeast` rows or the deadline passes: watermark-driven emission lands
    * in the batch AFTER the watermark advances, so a single
    * processAllAvailable is not enough. */
  def drainSink(q: org.apache.spark.sql.streaming.StreamingQuery,
      table: String, atLeast: Int,
      timeoutMs: Long = 30000): Array[org.apache.spark.sql.Row] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var got = spark.table(table).collect()
    while (got.length < atLeast && System.currentTimeMillis() < deadline) {
      q.processAllAvailable()
      got = spark.table(table).collect()
      if (got.length < atLeast) Thread.sleep(100)
    }
    got
  }

  /** Run `body` with the session's state-store provider set to `provider`
    * (None = Spark's HDFS-backed default). A streaming query reads the
    * provider when it starts, so only queries started inside `body` use it. */
  def withStateStore[A](provider: Option[String])(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    provider.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Run `drive` once per state-store provider (default, then RocksDB),
    * assert both runs agree, and return the result. */
  def onEveryStateStore[A](drive: => A): A = {
    val default = withStateStore(None)(drive)
    val rocks = withStateStore(Some(SparkSpec.RocksDbProvider))(drive)
    assert(rocks == default,
      s"RocksDB run differs from the default provider:\n  rocksdb $rocks\n  default $default")
    rocks
  }
}

object SparkSpec {
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  // the production builder: plans the suite asserts on must be the plans
  // the engine ships with
  lazy val session: SparkSession = GraftSession.builder(Some("local[4]"), Some(4))
    .appName("graft-tests")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
