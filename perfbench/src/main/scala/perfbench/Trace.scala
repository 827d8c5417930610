package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One closed span: a call into one layer, timed by the benchmark.
  * Job, task, shuffle and GC totals come from the Spark jobs that ran
  * while the span was open.
  */
final case class SpanRecord(name: String, wallS: Double, rows: Long,
    jobs: Long, taskS: Double, shuffleBytes: Long, gcS: Double)

/** Span recorder. Each span sets a local property on the SparkContext;
  * Spark copies local properties into every job and stage it submits,
  * so the listener can attribute task metrics to the span that was open
  * when the job started, whatever thread ran it. Spans stay in memory
  * and are reported when the run ends.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private final class Acc {
    var jobs = 0L; var taskMs = 0L; var shuffleBytes = 0L; var gcMs = 0L
  }

  private val accs = mutable.Map.empty[String, Acc]
  private val stageSpan = mutable.Map.empty[Int, String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = accs.synchronized {
      spanOf(e.properties).foreach { id =>
        accs.getOrElseUpdate(id, new Acc).jobs += 1
        e.stageIds.foreach(stageSpan(_) = id)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = accs.synchronized {
      spanOf(e.properties).foreach(stageSpan(e.stageInfo.stageId) = _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = accs.synchronized {
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = accs.getOrElseUpdate(id, new Acc)
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  private val open = mutable.ArrayBuffer.empty[(String, String, Double, Long)]
  private var seq = 0

  /** Run `body` inside span `name`. */
  def span[T](name: String)(body: => T): T = span(name, (_: T) => 0L)(body)

  /** Run `body` inside span `name`; `rows` reads the row count the call
    * produced from its result.
    */
  def span[T](name: String, rows: T => Long)(body: => T): T = {
    if (!enabled) return body
    seq += 1
    val id = s"$name#$seq"
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, id)
    val t0 = System.nanoTime()
    val out = try body finally sc.setLocalProperty(Key, prior)
    open += ((id, name, (System.nanoTime() - t0) / 1e9, rows(out)))
    out
  }

  /** The number of spans closed so far; see [[rollback]]. */
  def mark(): Int = open.size

  /** Forget the spans closed after `mark`. */
  def rollback(mark: Int): Unit = open.remove(mark, open.size - mark)

  /** Every span closed so far, with its Spark totals. Waits for the
    * listener bus to deliver the events of jobs that already ended.
    */
  def records(): Seq[SpanRecord] = {
    if (!enabled) return Seq.empty
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    accs.synchronized {
      open.toSeq.map { case (id, name, wall, rows) =>
        val a = accs.getOrElse(id, new Acc)
        SpanRecord(name, wall, rows, a.jobs, a.taskMs / 1e3, a.shuffleBytes, a.gcMs / 1e3)
      }
    }
  }
}

object Tracer {
  val Key = "perfbench.span"
  private def spanOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Key)))
}
