package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op runtime figures of a traced pass. Spark events are keyed by the
  * op's job group (`perfbench-<op>`), set on the thread that runs the op
  * and inherited by any thread the op starts; executed plans are
  * attributed to the op that is running when they complete.
  */
final class OpStats {
  var stages = 0L
  var tasks = 0L
  var smallTasks = 0L
  var failedTasks = 0L
  var taskWaitMs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var scanTasks = 0L
  var queries = 0L
  var exchanges = 0L
  var sortAggregates = 0L
  var broadcasts = 0L
  var unpartitionedWindows = 0L

  def fields: Seq[(String, Double)] = Seq(
    "spark.stages" -> stages, "spark.tasks" -> tasks,
    "spark.small_tasks" -> smallTasks, "spark.failed_tasks" -> failedTasks,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes,
    "spark.shuffle_read_bytes" -> shuffleReadBytes,
    "spark.spill_bytes" -> spillBytes,
    "scan.input_bytes" -> inputBytes, "scan.input_rows" -> inputRows,
    "scan.tasks" -> scanTasks, "plan.queries" -> queries,
    "plan.exchanges" -> exchanges, "plan.sort_aggregates" -> sortAggregates,
    "plan.broadcasts" -> broadcasts,
    "plan.unpartitioned_windows" -> unpartitionedWindows
  ).map { case (k, v) => k -> v.toDouble } ++ Seq(
    "spark.task_wait_s" -> taskWaitMs / 1e3, "spark.run_s" -> runMs / 1e3,
    "spark.gc_s" -> gcMs / 1e3)
}

final class Trace extends SparkListener with QueryExecutionListener {
  private val byGroup = mutable.Map.empty[String, OpStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  @volatile private var currentOp: String = ""
  var blockBytesPeak = 0L

  def begin(op: String): Unit = synchronized { currentOp = op }

  /** Figures of `op` collected so far (call after draining the bus). */
  def stats(op: String): OpStats = synchronized(byGroup.getOrElseUpdate(op, new OpStats))

  def blockBytesNow: Long = synchronized(blockBytes)

  private def stat(stageId: Int): Option[OpStats] =
    stageGroup.get(stageId).map(g => byGroup.getOrElseUpdate(g, new OpStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Trace.groupPrefix))
      .map(_.stripPrefix(Trace.groupPrefix))
    group.foreach(g => e.stageIds.foreach(stageGroup(_) = g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stat(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stat(e.stageId).foreach { s =>
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      stageSubmitted.get(e.stageId).foreach(t =>
        s.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        if (m.executorRunTime < Trace.smallTaskMs) s.smallTasks += 1
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        if (m.inputMetrics.bytesRead > 0) s.scanTasks += 1
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      blockBytes += size - rddBlocks.getOrElse(key, 0L)
      if (size > 0) rddBlocks(key) = size else rddBlocks.remove(key)
      blockBytesPeak = math.max(blockBytesPeak, blockBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (currentOp.nonEmpty) {
        val s = byGroup.getOrElseUpdate(currentOp, new OpStats)
        val plan = qe.executedPlan
        s.queries += 1
        s.exchanges += graft.plans.ShuffleMetrics.collectShuffles(plan).size
        val nodes = Trace.walk(plan)
        s.sortAggregates += nodes.count(_.isInstanceOf[SortAggregateExec])
        s.broadcasts += nodes.count(_.isInstanceOf[BroadcastExchangeLike])
        s.unpartitionedWindows += nodes.count {
          case w: WindowExec => w.partitionSpec.isEmpty
          case _ => false
        }
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Trace {
  val groupPrefix = "perfbench-"
  /** A task under this run time is "small": its launch overhead is of the
    * same order as its work. */
  val smallTaskMs = 10L

  /** Every physical node of an executed plan, descending through AQE
    * wrappers, query stages and subqueries the way
    * `graft.plans.ShuffleMetrics.collectShuffles` does; a reused exchange
    * is one physical exchange, counted where it was built. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case _: ReusedExchangeExec => Seq.empty
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }
}
