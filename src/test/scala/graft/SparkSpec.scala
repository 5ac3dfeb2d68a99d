package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites are
  * sequential under sbt's default test execution). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` and returns what it submitted to the scheduler. The
    * listener bus is asynchronous but delivers in order, so a marker job
    * is run after `body`: once its start arrives, every earlier event has
    * too. */
  def scheduled[A](body: => A): (A, SparkSpec.Scheduled) = {
    val sc = spark.sparkContext
    // Left(isMarker) for a job start, Right(tasks) for a submitted stage
    val events = new LinkedBlockingQueue[Either[Boolean, Int]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.put(Left(Option(e.properties)
          .exists(p => p.getProperty(SparkSpec.MarkerKey) != null)))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        events.put(Right(e.stageInfo.numTasks))
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setLocalProperty(SparkSpec.MarkerKey, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SparkSpec.MarkerKey, null)
      var jobs = 0
      val stageTasks = Seq.newBuilder[Int]
      var next = events.poll(60, TimeUnit.SECONDS)
      while (next != Left(true)) {
        assert(next != null, "the marker job's start never arrived")
        next.fold(_ => jobs += 1, stageTasks += _)
        next = events.poll(60, TimeUnit.SECONDS)
      }
      (result, SparkSpec.Scheduled(jobs, stageTasks.result()))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** Jobs started and the task count of each stage submitted. */
  final case class Scheduled(jobs: Int, stageTasks: Seq[Int])

  private val MarkerKey = "graft.sparkspec.marker"

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
