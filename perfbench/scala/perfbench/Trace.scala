package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span. Counters are filled by [[Trace]]'s listener (jobs,
  * tasks and task metrics) and by the codegen deltas taken at the span's
  * edges. Times are driver wall clock: `startMs`/`endMs` share the clock of
  * Spark's job events, `durNs` is the monotonic duration. */
final class Span(val id: Int, val parent: Int, val name: String,
    val layer: String, val op: Int, val startMs: Long, val offNs: Long) {
  var endMs = 0L
  var durNs = 0L
  var classes = 0L
  var compileMs = 0.0
  val jobs = new ArrayBuffer[(Long, Long)]() // (start ms, end ms) per job
  var tasks = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Double]
}

/** Outside-in tracer: spans are opened around each call the benchmark makes
  * into a library module, kept in memory, and written once at the end.
  *
  * Jobs are attributed to the innermost open span through a local property
  * set on the calling thread before the call (Spark copies local
  * properties into every job it submits, including the ones adaptive
  * execution and broadcasts start from other threads). Generated-class
  * counts are deltas of Spark's `CodegenMetrics` around a span; compile
  * milliseconds come from the code generator's own "Code generated in"
  * log line, summed between the span's edges.
  *
  * With `on` false every call is a pass-through: no listener, no spans.
  * With `on` true, `active` switches span recording off and on, so one run
  * can time untraced and traced passes side by side. */
final class Trace(sc: SparkContext, val on: Boolean) {
  private val Prop = "perfbench.span"
  var active = on
  val spans = new ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  @volatile private var compileMsTotal = 0.0
  private val originNs = System.nanoTime()

  if (on) sc.addSparkListener(new SparkListener {
    private def spanOf(p: java.util.Properties): Option[Span] =
      Option(p).flatMap(q => Option(q.getProperty(Prop)))
        .map(id => spans.synchronized(spans(id.toInt)))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        jobSpan.put(e.jobId, s)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { s =>
        val t0 = jobStart.remove(e.jobId)
        s.synchronized(s.jobs += ((t0.longValue, e.time)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.synchronized {
          s.tasks += 1
          if (m != null) {
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.spill += m.diskBytesSpilled
            s.gcMs += m.jvmGCTime
          }
        }
      }
  })

  // the code generator logs each compile's wall time at INFO; route only
  // that logger, at INFO, into a summing appender
  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored
  if (on) {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case Generated(ms) => Trace.this.synchronized(compileMsTotal += ms.toDouble)
          case _ =>
        }
    }
    app.start()
    val cfg = ctx.getConfiguration
    cfg.addAppender(app)
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  private def classesNow: Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
  private def compileNow: Double = synchronized(compileMsTotal)

  /** Run `body` inside a span named `name` of module `layer`. */
  def span[T](name: String, layer: String, op: Int)(body: => T): T =
    if (active) traced(name, layer, op)(body) else body

  private def traced[T](name: String, layer: String, op: Int)(body: => T): T = {
    val parent = stack.headOption
    // a child span carries its parent's op id
    val opId = if (op >= 0) op else parent.map(_.op).getOrElse(-1)
    val s = spans.synchronized {
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name,
        layer, opId, System.currentTimeMillis(), System.nanoTime() - originNs)
      spans += s
      s
    }
    stack = s :: stack
    sc.setLocalProperty(Prop, s.id.toString)
    val (c0, m0, t0) = (classesNow, compileNow, System.nanoTime())
    try body
    finally {
      s.durNs = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      s.classes = classesNow - c0
      s.compileMs = compileNow - m0
      stack = stack.tail
      sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
    }
  }

  /** Record a named value on the innermost open span. */
  def note(key: String, v: Double): Unit =
    stack.headOption.foreach(s => s.extra(key) = s.extra.getOrElse(key, 0.0) + v)

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "op" -> s.op, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "t_ms" -> s.offNs / 1e6, "dur_ms" -> s.durNs / 1e6,
      "jobs" -> s.jobs.map { case (a, b) => Seq(a, b) }.toSeq,
      "tasks" -> s.tasks, "shuffle_read" -> s.shuffleRead,
      "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill,
      "gc_ms" -> s.gcMs,
      "classes" -> s.classes, "compile_ms" -> s.compileMs,
      "extra" -> s.extra.toMap)
  }
}
