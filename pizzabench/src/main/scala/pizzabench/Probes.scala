package pizzabench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Cumulative task-level counters seen by [[SparkCounters]]. */
final case class TaskTotals(tasks: Long = 0, cpuNs: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, bytesRead: Long = 0,
    recordsRead: Long = 0, scanRunMs: Long = 0, explodeRows: Long = 0) {
  def -(o: TaskTotals): TaskTotals = TaskTotals(tasks - o.tasks,
    cpuNs - o.cpuNs, shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    bytesRead - o.bytesRead, recordsRead - o.recordsRead, scanRunMs - o.scanRunMs,
    explodeRows - o.explodeRows)
}

/** Outside-in Spark counters from the public listener bus: task metrics,
  * plus the row count of every `Generate` (explode) operator, found by
  * name in the SQL plan info and summed from task accumulator updates. */
final class SparkCounters extends SparkListener {
  private var totals = TaskTotals()
  private val explodeAccs = mutable.Set.empty[Long]

  private def register(plan: SparkPlanInfo): Unit = {
    if (plan.nodeName.startsWith("Generate"))
      plan.metrics.filter(_.name == "number of output rows")
        .foreach(m => explodeAccs += m.accumulatorId)
    plan.children.foreach(register)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized(register(e.sparkPlanInfo))
    case e: SparkListenerSQLAdaptiveExecutionUpdate => synchronized(register(e.sparkPlanInfo))
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val explode = e.taskInfo.accumulables.iterator
      .filter(a => explodeAccs.contains(a.id))
      .flatMap(_.update).map(_.toString.toLong).sum
    if (m == null) totals = totals.copy(tasks = totals.tasks + 1, explodeRows = totals.explodeRows + explode)
    else {
      val read = m.inputMetrics.recordsRead
      totals = TaskTotals(
        tasks = totals.tasks + 1,
        cpuNs = totals.cpuNs + m.executorCpuTime,
        shuffleWriteBytes = totals.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = totals.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        bytesRead = totals.bytesRead + m.inputMetrics.bytesRead,
        recordsRead = totals.recordsRead + read,
        scanRunMs = totals.scanRunMs + (if (read > 0) m.executorRunTime else 0L),
        explodeRows = totals.explodeRows + explode)
    }
  }

  def snapshot(): TaskTotals = synchronized(totals)

  /** The listener bus is asynchronous: wait (bounded) until the counters
    * stop moving so a phase's last tasks are counted in that phase. */
  def settle(): TaskTotals = {
    var prev = snapshot()
    var stable = 0
    val deadline = System.nanoTime() + 2000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(30)
      val cur = snapshot()
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
    prev
  }
}

/** Collects every StreamingQueryProgress reported on the session. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(buf += e.progress)
  def all: Seq[StreamingQueryProgress] = synchronized(buf.toList)
}

object Probes {

  def attach(spark: SparkSession): (SparkCounters, ProgressLog) = {
    val c = new SparkCounters
    val p = new ProgressLog
    spark.sparkContext.addSparkListener(c)
    spark.streams.addListener(p)
    (c, p)
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).get
    }.getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Data files under a keyed table, by path relative to it, with sizes. */
  def listTable(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && isData(p))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  /** (bucket dirs whose file set changed, bytes of files that are new). */
  def diff(before: Map[String, Long], after: Map[String, Long]): (Int, Long) = {
    def bucket(f: String) = f.split('/').headOption.getOrElse("")
    val added = after.keySet -- before.keySet
    val removed = before.keySet -- after.keySet
    ((added ++ removed).map(bucket).size, added.toSeq.map(after).sum)
  }
}
