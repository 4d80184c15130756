package perfbench

import java.util.Properties
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import graft.sources.Connector

/** Minimal JSON writer for the harness's flat records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null              => "null"
    case s: String         => str(s)
    case d: Double         => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean        => b.toString
    case n: Number         => n.toString
    case m: Map[_, _]      => obj(m.asInstanceOf[Map[String, Any]].toSeq)
    case s: Iterable[_]    => s.map(value).mkString("[", ",", "]")
    case o: Option[_]      => o.map(value).getOrElse("null")
    case other             => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Spans around every layer call the benchmark makes. Each span carries
  * the id of the operation it belongs to and its parent span; its id is
  * set as a Spark local property for the duration of the call, so every
  * Spark job the call triggers (AQE stage jobs included) is tagged with
  * the innermost open span. Spans stay in memory until the run ends.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Long]
  private var nextId = 1L
  private var currentOp = 0L
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Wall clock in epoch milliseconds at nanosecond resolution. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Open a new operation scope; returns its id. */
  def newOp(): Long = { currentOp = nextId; currentOp }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      stack = id :: stack
      val start = nowMs()
      try f
      finally {
        val end = nowMs()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prev)
        spans.synchronized { spans += Span(id, parent, currentOp, name, start, end) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

object Tracer {
  val SpanKey = "perfbench.span"
  final case class Span(id: Long, parent: Long, op: Long, name: String,
      startMs: Double, endMs: Double)
}

/** Records Spark jobs and stages with the span that caused them, plus the
  * cached-block footprint. Registered only for the traced phase.
  */
final class EngineListener extends SparkListener {
  import EngineListener._

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  private val stageSpan = scala.collection.mutable.Map.empty[(Int, Int), String]
  private val blocks = scala.collection.mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  private var blockPeak = 0L

  private def span(p: Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, span(e.properties), e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = span(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages += Stage(i.stageId, i.attemptNumber(),
      stageSpan.getOrElse((i.stageId, i.attemptNumber()), null), i.numTasks,
      m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockId.name
      blockBytes -= blocks.getOrElse(key, 0L)
      if (b.storageLevel.isValid) {
        val size = b.memSize + b.diskSize
        blocks(key) = size
        blockBytes += size
      } else blocks.remove(key)
      blockPeak = math.max(blockPeak, blockBytes)
    }
  }

  /** Peak cached-block bytes since the last call; resets to the current. */
  def takeBlockPeak(): Long = synchronized {
    val p = blockPeak; blockPeak = blockBytes; p
  }
}

object EngineListener {
  final case class Job(id: Int, span: String, startMs: Long, var endMs: Long)
  final case class Stage(id: Int, attempt: Int, span: String, tasks: Int,
      runMs: Long, cpuMs: Long, gcMs: Long, shuffleWriteBytes: Long,
      shuffleReadBytes: Long, spillBytes: Long, inRecords: Long, inBytes: Long,
      outRecords: Long, outBytes: Long)
}

/** Latest physical-plan text of any SQL execution (AQE final plan last). */
final class PlanListener extends SparkListener {
  @volatile var lastPlan = ""
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => lastPlan = s.physicalPlanDescription
    case u: SparkListenerSQLAdaptiveExecutionUpdate => lastPlan = u.physicalPlanDescription
    case _ => ()
  }
}

/** A Connector that wraps every call of the wrapped one in a span. */
final class TracedConnector(inner: Connector, layer: String, tracer: Tracer)
    extends Connector {
  def read(table: String): DataFrame = tracer.span(s"$layer.read")(inner.read(table))
  def write(df: DataFrame, target: String, mode: SaveMode): Unit =
    tracer.span(s"$layer.write")(inner.write(df, target, mode))
}
