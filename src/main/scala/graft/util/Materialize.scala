package graft.util

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** The one way a pipeline stage is materialized eagerly. The cut
  * TRUNCATES the logical plan (`persist()` would keep it, and Catalyst
  * would re-transform the ~10^4-node normalize tree, or the CC
  * iteration's self-joins of unions, once per downstream branch).
  *
  *  - Tier: `localCheckpoint(true)` when `dir` is None — in-memory,
  *    non-replicated executor blocks that keep the physical plan's
  *    outputPartitioning (Assemble's hash(entity_id) layout relies on
  *    it); otherwise a parquet write + read-back, which survives
  *    executor loss but loses the partitioning.
  *  - Durable path: `<dir>/<applicationId>/<name>_<seq>`, `seq` a
  *    JVM-wide counter, so runs sharing one `dir` (in one app or
  *    several) never write the same path and a lazy frame over a
  *    snapshot is never clobbered. Dead apps' subdirs are garbage, as
  *    in any Spark checkpoint dir.
  *  - The job is tagged `graft:<name>` (the prior description is
  *    restored), and `rows` plus each `metrics` aggregate (integral)
  *    are OBSERVED on that same job: no extra action or scan.
  *
  * Conf windows (AQE off, codegen off, …) differ per caller and stay at
  * the call sites.
  */
object Materialize {

  private val seq = new java.util.concurrent.atomic.AtomicLong(0)

  def apply(df: DataFrame, name: String, dir: Option[String],
      metrics: (String, Column)*): (DataFrame, Map[String, Long]) = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    // UUID suffix: the Observation registry matches metrics BY NAME
    // session-wide, so concurrent runs must not cross-wire them
    val obs = Observation(s"graft_${name}_${java.util.UUID.randomUUID}")
    val aggs = count(lit(1)).as("rows") +: metrics.map { case (k, c) => c.as(k) }
    val observed = df.observe(obs, aggs.head, aggs.tail: _*)
    val out = Confs.withJobDesc(spark)(name) {
      dir match {
        case Some(d) =>
          val path = s"$d/${sc.applicationId}/${name}_${seq.getAndIncrement}"
          observed.write.mode("overwrite").parquet(path)
          spark.read.parquet(path)
        case None => observed.localCheckpoint(true)
      }
    }
    val row = obs.get
    (out, ("rows" +: metrics.map(_._1)).map(k => k -> row(k).asInstanceOf[Number].longValue).toMap)
  }
}
