package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SqlPhases
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span around one of the benchmark's own calls into the library. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long)

/** In-memory span log; written out once, when the run ends. */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 0
  var op: Int = -1

  def apply[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name, System.nanoTime()) :: stack
    try body
    finally {
      val end = System.nanoTime()
      val (_, _, start) = stack.head
      stack = stack.tail
      done += Span(id, name, parent, op, start, end)
    }
  }

  def all: Seq[Span] = done.toSeq
}

/** Live heap right after each GC, from the collectors' notifications;
  * always on (one callback per GC). `peakBytes` is the highest value
  * seen since the last `reset`. */
final class GcWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  @volatile private var peak = 0L
  @volatile private var samples = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        GcWatch.this.synchronized {
          samples += 1
          if (live > peak) peak = live
        }
      }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  beans.foreach(_.asInstanceOf[NotificationEmitter]
    .addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = 0L; samples = 0L }
  def peakBytes: Long = peak
  def sampleCount: Long = samples
  /** Total collection time of every collector so far, ms. */
  def collectionMs: Long = beans.map(_.getCollectionTime.max(0L)).sum
}

/** Per-op totals the listeners gather during a traced op. */
final class OpStats {
  var jobs, stages, tasks, failedTasks, sqlExecs = 0L
  var taggedJobs = 0L
  var taskMs, taskCpuNs, schedWaitMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var storageBytes, storagePeak = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val streamBatches = mutable.ArrayBuffer.empty[Map[String, Long]]
}

/** The traced-run collector: a SparkListener (jobs, stages, tasks and
  * their intervals, block updates, and the Catalyst phase times of each
  * SQL execution from `QueryExecution.tracker`) and a
  * StreamingQueryListener (per-trigger durations). Events are
  * attributed to the op whose job tag the job carries; jobs without one
  * (submitted from library pool threads) fall to the op in progress,
  * which is exact because ops run one at a time and the listener bus
  * is drained between them. */
final class Collector(spark: SparkSession) {
  import Collector.TagPrefix

  private val stats = new ConcurrentHashMap[Int, OpStats]()
  @volatile private var current = -1
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val blockSizes = mutable.HashMap.empty[String, Long]

  private def of(op: Int): OpStats =
    if (op < 0) null else stats.computeIfAbsent(op, _ => new OpStats)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val tagged = tags.collectFirst {
        case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toInt
      }
      val op = tagged.getOrElse(current)
      e.stageIds.foreach(stageOp.put(_, op))
      Option(of(op)).foreach { s =>
        s.synchronized {
          s.jobs += 1
          if (tagged.isDefined) s.taggedJobs += 1
        }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = e.stageInfo.stageId
      stageSubmit.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      Option(of(stageOp.getOrDefault(id, current))).foreach(s =>
        s.synchronized { s.stages += 1 })
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = of(stageOp.getOrDefault(e.stageId, current))
      if (s == null) return
      val ti = e.taskInfo
      val m = Option(e.taskMetrics)
      s.synchronized {
        s.tasks += 1
        if (ti.failed || ti.killed) s.failedTasks += 1
        s.taskMs += ti.finishTime - ti.launchTime
        s.taskIntervals += ((ti.launchTime, ti.finishTime))
        Option(stageSubmit.get(e.stageId)).foreach(t0 =>
          s.schedWaitMs += (ti.launchTime - t0).max(0L))
        m.foreach { tm =>
          s.taskCpuNs += tm.executorCpuTime
          s.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
          s.fetchWaitMs += tm.shuffleReadMetrics.fetchWaitTime
          s.spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
          s.input += tm.inputMetrics.bytesRead
          s.output += tm.outputMetrics.bytesWritten
        }
      }
    }
    // SQL executions of every session, the cloned sessions streaming
    // queries run their batches in included
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        val s = of(current)
        if (s == null) return
        val (analysis, optimization, planning) = SqlPhases(end)
        s.synchronized {
          s.sqlExecs += 1
          s.analysisMs += analysis
          s.optimizationMs += optimization
          s.planningMs += planning
        }
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (!info.blockId.isRDD) return
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val s = of(current)
      blockSizes.synchronized {
        val old = blockSizes.getOrElse(info.blockId.name, 0L)
        if (size == 0L) blockSizes.remove(info.blockId.name)
        else blockSizes(info.blockId.name) = size
        if (s != null) s.synchronized {
          s.storageBytes += size - old
          if (s.storageBytes > s.storagePeak) s.storagePeak = s.storageBytes
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val s = of(current)
      if (s == null) return
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      s.synchronized { s.streamBatches += d }
    }
  }

  /** Start attributing events to `op` and attach the listeners. */
  def begin(op: Int): Unit = {
    current = op
    // storage held over from earlier ops is this op's baseline
    val base = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    blockSizes.synchronized(blockSizes.clear())
    val s = of(op)
    s.synchronized { s.storageBytes = base; s.storagePeak = base }
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach the listeners once every event of `op` has been delivered. */
  def end(op: Int): OpStats = {
    org.apache.spark.sql.graft.shim.drainListeners(spark)
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    current = -1
    of(op)
  }
}

object Collector {
  val TagPrefix = "perfbench-op-"
}
