package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-stage engine figures, summed over the stages charged to one key. */
final class StageSums {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Wall time of stages that never touch a ParallelCollectionRDD: inside
    * an OTF2 read these are the sort and zipWithIndex stages of the
    * dense-id pass, the rest being the archive decode. */
  var nonDecodeStageMs = 0L

  def add(o: StageSums): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    nonDecodeStageMs += o.nonDecodeStageMs
  }
}

/** Spark listener charging every job, stage and task to the span that was
  * open on the calling thread when the job started. The span id travels as
  * the local property [[Tracer.SpanProperty]]; work started with no span
  * open is charged to span -1. */
final class SpanListener extends SparkListener {
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val sums = mutable.HashMap[Int, StageSums]()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)

  private def at(span: Int): StageSums = sums.getOrElseUpdate(span, new StageSums)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    at(spanOf(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = at(stageSpan.getOrDefault(e.stageId, -1))
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val delay = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        e.taskInfo.gettingResultTime
      s.schedDelayMs += math.max(0L, delay)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val s = at(stageSpan.getOrDefault(si.stageId, -1))
    val m = si.taskMetrics
    s.stages += 1
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
    if (!si.rddInfos.exists(_.name == "ParallelCollectionRDD"))
      for (a <- si.submissionTime; b <- si.completionTime) s.nonDecodeStageMs += b - a
  }

  /** Figures per span id, after every queued event is delivered. */
  def snapshot(sc: SparkContext): Map[Int, StageSums] = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    synchronized { sums.toMap }
  }
}

final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. A span holds a name, start and end, its parent
  * span and the op id; spans are only recorded while `on` is set (during a
  * traced op), and are written out once at the end of the run. */
final class Tracer(sc: SparkContext) {
  var on = false
  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil

  def span[T](name: String, op: Int)(body: => T): T =
    if (!on) body
    else {
      val parent = open.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.size, name, parent, op, System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProperty,
          open.headOption.map(_.id.toString).orNull)
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Duration minus the part of the interval its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val covered = children(s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
        val from = math.max(a, end)
        (sum + math.max(0L, b - from), math.max(end, b))
      }._1
    (s.endNs - s.startNs - covered) / 1e9
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
        f""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_s": ${selfSeconds(s)}%.6f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
