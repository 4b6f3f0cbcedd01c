package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.perfbench.Bridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

final case class TaskRec(stageId: Int, runMs: Long, durationMs: Long, shuffleWriteBytes: Long,
                         shuffleWriteRecords: Long, shuffleReadBytes: Long, spillBytes: Long)

final case class StageRec(stageId: Int, submittedMs: Long, completedMs: Long,
                          operators: Seq[String]) {
  def wallS: Double = (completedMs - submittedMs) / 1e3
  private def has(op: String): Boolean = operators.exists(_.startsWith(op))
  /** The fit cogroup of a LocalExpertOI.run job, which reads the two window
    * shuffles. A stage that reads the persisted results back also names
    * CoGroup (from the cached plan) but scans memory.
    */
  def isFitCoGroup: Boolean = has("CoGroup") && !has("InMemoryTableScan")
  /** A map stage that writes rows keyed by expert (groupByKey) for the cogroup. */
  def isWindowMap: Boolean = has("AppendColumns") && !has("CoGroup")
  /** The prediction side unions one marker row per expert into its rows. */
  def isPredSide: Boolean = has("Union")
}

/** Stage and task metrics of every finished stage, in completion order. */
final class StageLog extends SparkListener {
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, m.executorRunTime, e.taskInfo.duration,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.add(StageRec(i.stageId, s, c, Bridge.operatorNames(i)))
  }

  def stagesIn(fromMs: Long, toMs: Long): Seq[StageRec] =
    stages.asScala.filter(s => s.submittedMs >= fromMs && s.completedMs <= toMs).toSeq

  def tasksOf(ss: Seq[StageRec]): Seq[TaskRec] = {
    val ids = ss.map(_.stageId).toSet
    tasks.asScala.filter(t => ids.contains(t.stageId)).toSeq
  }
}

/** One traced pass: flat, sequential spans around calls into the layers.
  * Each span's body materialises its layer's output, so a span's duration
  * is that layer's self time; stages are attributed to the span whose
  * interval contains them.
  */
final class Tracer(spark: SparkSession, log: StageLog) {
  final case class Span(name: String, startMs: Long, endMs: Long, seconds: Double)
  private val spans = ArrayBuffer.empty[Span]

  def span[A](name: String)(body: => A): A = {
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    spark.sparkContext.setJobDescription(name)
    try body
    finally {
      spark.sparkContext.setJobDescription(null)
      spans += Span(name, ms, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Total seconds of every span with this name (0 when the layer was not called). */
  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  def startMs: Long = spans.headOption.map(_.startMs).getOrElse(0L)

  def spannedSeconds: Double = spans.map(_.seconds).sum

  def stages(name: String): Seq[StageRec] = {
    Bridge.drain(spark.sparkContext)
    spans.filter(_.name == name).flatMap(s => log.stagesIn(s.startMs, s.endMs)).toSeq
  }

  def tasksOf(ss: Seq[StageRec]): Seq[TaskRec] = log.tasksOf(ss)

  def allStages: Seq[StageRec] = {
    Bridge.drain(spark.sparkContext)
    if (spans.isEmpty) Nil else log.stagesIn(spans.head.startMs, spans.last.endMs)
  }
}

object Stats {
  /** Median (mean of the middle two for an even count); 0 for an empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else (s((s.length - 1) / 2) + s(s.length / 2)) / 2
  }

  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
}
