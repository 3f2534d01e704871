package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.crawl.StateCatalog

/** A named interval on the wall clock (epoch ms), keyed by crawl round. */
final case class Span(name: String, start: Long, end: Long, parent: String, round: Int) {
  def json: String =
    s"""{"name":${Json.str(name)},"start_ms":$start,"end_ms":$end,"parent":${Json.str(parent)},"round":$round}"""
}

/**
 * Bytes of cached RDD blocks (memory + disk), from BlockUpdated events. Always
 * registered: `cached_mb_peak` is an end-to-end metric. Events arrive on the
 * listener-bus thread; readers drain the bus first ([[SparkInternals.drain]]).
 */
final class CacheTracker extends SparkListener {
  private val sizes = scala.collection.mutable.HashMap.empty[(String, String), Long]
  private var total = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = (info.blockManagerId.executorId, info.blockId.name)
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      total += now - sizes.getOrElse(key, 0L)
      if (now == 0L) sizes -= key else sizes(key) = now
      peak = math.max(peak, total)
    }
  }

  // unpersist drops an RDD's blocks without a BlockUpdated event per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val name = s"rdd_${e.rddId}_"
    val gone = sizes.keys.filter(_._2.startsWith(name)).toSeq
    gone.foreach(k => total -= sizes.remove(k).getOrElse(0L))
  }

  def resetPeak(): Unit = synchronized { peak = total }
  def peakBytes: Long = synchronized { peak }
}

/** Job, stage and task records for the traced crawl window. Each carries
  * its job group and SQL execution id: a commit's table writes run under
  * the `graft-commit-r*` group, and the broadcast jobs those writes spawn
  * run under their own group but the write's execution id. */
final class TaskTrace extends SparkListener {
  final case class JobRec(id: Int, group: String, exec: String, start: Long, var end: Long)
  final case class TaskRec(stage: Int, group: String, exec: String, launch: Long, finish: Long,
      runMs: Long, gcMs: Long, shuffleWrite: Long, diskSpill: Long, bytesWritten: Long)

  private val stageOwner = scala.collection.mutable.HashMap.empty[Int, (String, String)]
  private val jobsById = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val taskRecs = ArrayBuffer.empty[TaskRec]
  @volatile var recording = false

  private def owner(props: java.util.Properties): (String, String) = {
    def get(k: String) = Option(props).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    (get("spark.jobGroup.id"), get("spark.sql.execution.id"))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      val o = owner(e.properties)
      e.stageIds.foreach(stageOwner(_) = o)
      jobsById(e.jobId) = JobRec(e.jobId, o._1, o._2, e.time, -1L)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (recording) stageOwner(e.stageInfo.stageId) = owner(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (recording && e.taskInfo != null) {
      val m = e.taskMetrics
      val (run, gc, sw, spill, out) =
        if (m == null) (0L, 0L, 0L, 0L, 0L)
        else (m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled, m.outputMetrics.bytesWritten)
      val (group, exec) = stageOwner.getOrElse(e.stageId, ("", ""))
      taskRecs += TaskRec(e.stageId, group, exec, e.taskInfo.launchTime, e.taskInfo.finishTime,
        run, gc, sw, spill, out)
    }
  }

  def clear(): Unit = synchronized { stageOwner.clear(); jobsById.clear(); taskRecs.clear() }
  def jobs: Seq[JobRec] = synchronized { jobsById.values.toSeq }
  def tasks: Seq[TaskRec] = synchronized { taskRecs.toSeq }
}

/**
 * Delegating [[StateCatalog]] that times every load and commit. It changes
 * nothing it forwards: `metrics` stays by-name and `abort` is passed through.
 */
final class TracingCatalog(inner: StateCatalog) extends StateCatalog {
  final case class CommitRec(round: Int, start: Long, end: Long)
  final case class LoadRec(table: String, start: Long, end: Long, dirs: Int)

  private val commitRecs = ArrayBuffer.empty[CommitRec]
  private val loadRecs = ArrayBuffer.empty[LoadRec]

  override def latestRound: Option[Int] = inner.latestRound

  override def load(spark: SparkSession, table: String, atRound: Option[Int]): Option[DataFrame] = {
    val t0 = System.currentTimeMillis()
    val df = inner.load(spark, table, atRound)
    val t1 = System.currentTimeMillis()
    // each link of an append chain is its own data directory
    val dirs = df.map(_.inputFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length)
      .getOrElse(0)
    synchronized { loadRecs += LoadRec(table, t0, t1, dirs) }
    df
  }

  override def commit(round: Int, tables: Map[String, DataFrame], metrics: => Map[String, Long],
      appends: Map[String, DataFrame], abort: () => Boolean): String = {
    val t0 = System.currentTimeMillis()
    try inner.commit(round, tables, metrics, appends, abort)
    finally synchronized { commitRecs += CommitRec(round, t0, System.currentTimeMillis()) }
  }

  override def metricsOf(round: Int): Map[String, Long] = inner.metricsOf(round)
  override def compactTable(spark: SparkSession, table: String): Int =
    inner.compactTable(spark, table)
  override def expireSnapshots(keepFrom: Int): Seq[Int] = inner.expireSnapshots(keepFrom)
  override def vacuumOrphans(): Seq[String] = inner.vacuumOrphans()

  def commits: Seq[CommitRec] = synchronized { commitRecs.toSeq }
  def loads: Seq[LoadRec] = synchronized { loadRecs.toSeq }
}

/** JVM-wide GC time over a window, and the most heap still in use right
  * after any collection in it: the live-data high-water mark, which a
  * fixed-size heap's raw peak (eden fills to its limit) would hide. */
final class JvmWindow {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var gc0 = 0L
  private var liveMax = 0L
  private val onGc: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { liveMax = math.max(liveMax, live) }
    }
  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  def start(): Unit = {
    gc0 = gcMs
    gcBeans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(onGc, null, null))
  }
  def stop(): Unit =
    gcBeans.foreach(_.asInstanceOf[NotificationEmitter].removeNotificationListener(onGc))
  def gcSeconds: Double = (gcMs - gc0) / 1e3
  def heapLiveMb: Double = {
    val live = synchronized(liveMax)
    live / 1e6
  }
}
