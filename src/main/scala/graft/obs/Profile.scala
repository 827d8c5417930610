package graft.obs

import org.apache.spark.GraftAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spark totals of the profiled jobs that share one description.
  * `exchanges` counts the shuffle-map stages that ran; `wallMs` is
  * Σ (job end − job start).
  */
final case class Group(name: String, jobs: Int, exchanges: Int, wallMs: Long,
    taskMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, gcMs: Long)

/** What the Spark jobs fired inside one `Profile(spark)(body)` cost,
  * one [[Group]] per job description in first-seen order: the
  * `graft:<name>` tags set by `Materialize` and `Confs.withJobDesc`
  * become `<name>`, jobs without a description fall into `untagged`.
  * `driverGapMs` is the part of `wallMs` during which none of the
  * body's jobs was running (planning, scheduling, driver-side work).
  * It is taken over the union of job intervals, since AQE runs the
  * map stages of a join's two sides as concurrent jobs.
  */
final case class Profile(groups: Seq[Group], wallMs: Long, driverGapMs: Long) {
  def jobs: Int = groups.map(_.jobs).sum
  def shuffleWriteBytes: Long = groups.map(_.shuffleWriteBytes).sum
}

object Profile {

  /** Local property carrying the run id; Spark copies local properties
    * into every job and stage, so only this run's jobs are counted,
    * whatever else runs on the SparkContext meanwhile.
    */
  val Key = "graft.profile"

  /** Run `body` with one listener attached; on exit, drain the
    * listener bus and detach it.
    */
  def apply[T](spark: SparkSession)(body: => T): (T, Profile) = {
    val sc = spark.sparkContext
    val rec = new Recorder(java.util.UUID.randomUUID.toString)
    val prior = sc.getLocalProperty(Key)
    sc.addSparkListener(rec)
    sc.setLocalProperty(Key, rec.id)
    val t0 = System.currentTimeMillis()
    var wallMs = 0L
    val out =
      try body
      finally {
        wallMs = System.currentTimeMillis() - t0
        sc.setLocalProperty(Key, prior)
        try GraftAccess.drain(sc) finally sc.removeSparkListener(rec)
      }
    (out, rec.profile(wallMs))
  }

  private final class Acc {
    var jobs, exchanges = 0
    var wallMs, taskMs, readBytes, writeBytes, spillBytes, gcMs = 0L
  }

  private final class Recorder(val id: String) extends SparkListener {
    private val groups = mutable.LinkedHashMap.empty[String, Acc]
    private val running = mutable.Map.empty[Int, (Acc, Long)]
    private val stages = mutable.Map.empty[Int, Acc]
    private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

    private def groupOf(p: java.util.Properties): Option[Acc] =
      Option(p).filter(_.getProperty(Key) == id).map { p =>
        val desc = Option(p.getProperty("spark.job.description"))
        groups.getOrElseUpdate(desc.fold("untagged")(_.stripPrefix("graft:")), new Acc)
      }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      groupOf(e.properties).foreach { a => a.jobs += 1; running(e.jobId) = (a, e.time) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      running.remove(e.jobId).foreach { case (a, t) =>
        a.wallMs += e.time - t
        intervals += ((t, e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      groupOf(e.properties).foreach(stages(e.stageInfo.stageId) = _)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      if (GraftAccess.isShuffleMap(s) && s.failureReason.isEmpty)
        stages.get(s.stageId).foreach(_.exchanges += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (a <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.readBytes += m.shuffleReadMetrics.totalBytesRead
        a.writeBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }

    def profile(wallMs: Long): Profile = synchronized {
      val (busyMs, _) = intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
        case ((busy, end), (s, e)) => (busy + math.max(0L, e - math.max(s, end)), math.max(end, e))
      }
      Profile(groups.toSeq.map { case (n, a) =>
        Group(n, a.jobs, a.exchanges, a.wallMs, a.taskMs, a.readBytes, a.writeBytes,
          a.spillBytes, a.gcMs)
      }, wallMs, wallMs - busyMs)
    }
  }
}
