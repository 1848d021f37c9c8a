package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer. `op` ties the spans of one operation
  * together; `parent` is the enclosing span's id, -1 at the top. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  /** Layer = the name up to the first dot (`sources.index` → `sources`). */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder for the single client thread. When off, a
  * span is just the body: an untraced call pays one branch. */
final class Tracer {
  var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  var op: Long = -1L

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      spans += null // reserve the id; filled when the span closes
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, name, parent, op, t0, System.nanoTime())
        open = open.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  def json: String = all.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** Self time per layer in ms: each span's duration minus the part its
    * direct children cover (children never overlap: one thread). */
  def selfMsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val childNs = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.durNs)(_ + _)
    spans.groupMapReduce(_.layer)(s => (s.durNs - childNs.getOrElse(s.id, 0L)) / 1e6)(_ + _)
  }
}

/** Spark work attributed to one benchmark operation (and phase), from
  * listener events. Times are wall-clock ms as Spark stamps them. */
final class OpAcc {
  var jobs = 0L; var stages = 0L; var oneTaskStages = 0L; var tasks = 0L
  var cpuNs = 0L; var runMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
}

/** Listener the harness registers on its own session. Jobs carry the
  * operation id and phase in local properties set by the client thread. */
final class OpListener extends SparkListener {
  val byKey = new ConcurrentHashMap[(Long, String), OpAcc]()
  private val stageKey = new ConcurrentHashMap[Int, (Long, String)]()
  private val jobStart = new ConcurrentHashMap[Int, ((Long, String), Long)]()

  private def acc(k: (Long, String)) = byKey.computeIfAbsent(k, _ => new OpAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpListener.OpKey)))
    op.foreach { o =>
      val k = (o.toLong, props.flatMap(p => Option(p.getProperty(OpListener.PhaseKey))).getOrElse(""))
      acc(k).synchronized { acc(k).jobs += 1 }
      e.stageInfos.foreach(s => stageKey.put(s.stageId, k))
      jobStart.put(e.jobId, (k, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (k, t0) =>
      val a = acc(k)
      a.synchronized { a.jobSpans += ((t0, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
      val a = acc(k)
      a.synchronized {
        a.stages += 1
        if (e.stageInfo.numTasks == 1) a.oneTaskStages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { k =>
      val a = acc(k)
      val m = Option(e.taskMetrics)
      a.synchronized {
        a.tasks += 1
        m.foreach { t =>
          a.cpuNs += t.executorCpuTime
          a.runMs += t.executorRunTime
          a.shuffleBytes += t.shuffleReadMetrics.totalBytesRead +
            t.shuffleWriteMetrics.bytesWritten
          a.spillBytes += t.memoryBytesSpilled + t.diskBytesSpilled
        }
      }
    }

  /** Sum of the accumulators of every phase of `op`. */
  def forOp(op: Long): Seq[OpAcc] =
    byKey.asScala.collect { case ((o, _), a) if o == op => a }.toSeq

  def phase(op: Long, phase: String): Option[OpAcc] = Option(byKey.get((op, phase)))
}

object OpListener {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  /** Wall ms inside [t0, t1] during which no job of the op ran. */
  def gapMs(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = t0
    jobs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (t1 - t0) - covered
  }
}
