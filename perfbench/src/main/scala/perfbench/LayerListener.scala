package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Counters of one tagged unit of work (a query's build or action phase). */
final class Acc {
  var jobs = 0
  var stages = 0
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var fetchWaitMs = 0L
  var spillB = 0L
  /** Task durations (ms) per stage; filled only while tracing. */
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: Acc): Acc = {
    jobs += o.jobs; stages += o.stages; cpuNs += o.cpuNs
    runMs += o.runMs; shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB
    fetchWaitMs += o.fetchWaitMs; spillB += o.spillB
    o.taskMs.foreach { case (s, ds) => taskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ds }
    this
  }
}

/** The benchmark's SparkListener. Jobs are attributed to the tag in the
  * local property [[LayerListener.TagKey]] of the thread that started them;
  * stages and tasks inherit their job's tag. Write executions under the
  * pipeline output directory are recorded for per-stage attribution.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  @volatile var detailed = false
  private val byTag = mutable.Map.empty[String, Acc]
  private val stageTag = mutable.Map.empty[Int, String]
  private val sqlStart = mutable.Map.empty[Long, (Long, String)]
  private val writes = mutable.ArrayBuffer.empty[Write]

  private def acc(tag: String): Acc = byTag.getOrElseUpdate(tag, new Acc)

  /** Removes and returns the counters of `tag` (empty if nothing ran). */
  def take(tag: String): Acc = synchronized { byTag.remove(tag).getOrElse(new Acc) }

  /** Removes and returns the write executions recorded so far. */
  def takeWrites(): Seq[Write] = synchronized { val w = writes.toList; writes.clear(); w }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
    e.stageIds.foreach(stageTag(_) = tag)
    acc(tag).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val tag = stageTag.getOrElse(e.stageInfo.stageId, "")
    acc(tag).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val tag = stageTag.getOrElse(e.stageId, "")
      val a = acc(tag)
      a.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      a.runMs += m.executorRunTime
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillB += m.diskBytesSpilled
      if (detailed && e.taskInfo != null)
        acc(tag).taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      def nodes(i: SparkPlanInfo): Iterator[SparkPlanInfo] = Iterator(i) ++ i.children.iterator.flatMap(nodes)
      val path = Option(s.sparkPlanInfo).iterator.flatMap(nodes)
        .flatMap(n => WritePath.findFirstMatchIn(n.simpleString)).map(_.group(1)).nextOption()
      path.foreach(p => synchronized { sqlStart(s.executionId) = (s.time, p) })
    case end: SparkListenerSQLExecutionEnd => synchronized {
      sqlStart.remove(end.executionId).foreach { case (t0, p) => writes += Write(p, t0, end.time) }
    }
    case _ =>
  }
}

object LayerListener {
  val TagKey = "perfbench.tag"

  /** One finished write execution: its output path, start and end (epoch ms). */
  final case class Write(path: String, startMs: Long, endMs: Long)

  private val WritePath = """InsertIntoHadoopFsRelationCommand\s+([^,\s]+)""".r
}
