package graft.util

import org.apache.spark.sql.SparkSession

/** Scoped SQL-conf overrides: set, run, restore PRIOR values (not
  * hard-coded defaults) — a job must not leave the shared session
  * altered after it returns (round-1 ADVICE: ResolveJob clobbered a
  * caller's `spark.sql.codegen.wholeStage` with literal "true" and
  * left constraint propagation off permanently).
  *
  * SQL confs are per-SparkSession state, so a conf window is scoped to
  * the session, NOT to the pipeline that opened it: two pipelines
  * interleaving conf windows on ONE session can restore each other's
  * values mid-stage. Concurrent pipelines must use isolated sessions
  * (`spark.newSession()` shares the SparkContext but not SQL conf) and
  * build their frames from that session's reads.
  */
object Confs {

  def withConfs[T](spark: SparkSession)(pairs: (String, String)*)(body: => T): T = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => try spark.conf.unset(k) catch { case _: Exception => () }
    }
  }

  /** Tag every Spark job fired inside `body` with `graft:name` (shows
    * in the UI and as one row of a `graft.obs.Profile`); the prior
    * description is restored, so an enclosing tag survives.
    */
  def withJobDesc[T](spark: SparkSession)(name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft:$name")
    try body finally sc.setJobDescription(prior)
  }
}
