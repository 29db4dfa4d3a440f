package catbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** One driver-side span: a call into a layer's public function, or the
  * whole op that caused it (`parent = -1`). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One Spark job, attributed to the op that launched it through the
  * `catbench.op` local property (epoch-ms clock, as Spark reports it). */
final case class JobRec(jobId: Int, op: Int, startMs: Long, var endMs: Long,
    stages: Seq[Int])

final case class StageRec(stageId: Int, op: Int, tasks: Int, inputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long)

/** Records spans in memory while tracing is on; a no-op pass-through
  * otherwise. Single client thread, so one stack suffices. */
final class Tracer(val on: Boolean) {
  val spans = new ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var currentOp = -1

  def beginOp(op: Int): Unit = currentOp = op
  def endOp(): Unit = currentOp = -1

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on || currentOp < 0) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, currentOp, name, layer, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }
}

/** The benchmark's own listener: job and stage spans keyed by op id. */
final class JobListener extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def opOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(JobListener.OpKey)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    jobs.put(e.jobId, JobRec(e.jobId, op, e.time, -1L, e.stageIds))
    e.stageIds.foreach(s => stageOp.put(s, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val op = Option(stageOp.get(i.stageId)).map(_.intValue).getOrElse(-1)
    if (m != null)
      stages.add(StageRec(i.stageId, op, i.numTasks, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
    else stages.add(StageRec(i.stageId, op, i.numTasks, 0L, 0L, 0L))
  }
}

object JobListener {
  val OpKey = "catbench.op"
}
