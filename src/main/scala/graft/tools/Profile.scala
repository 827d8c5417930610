package graft.tools

import graft.jobs.ResolveJob
import graft.sources.DocCorpus
import graft.util.Confs
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Print a `graft.obs.Profile` of one run: one row per job description
  * (pipeline stage, CC iteration, …), then the total and the driver gap.
  *
  * Usage:
  *   runMain graft.tools.Profile resolve <entities> [cores]
  *     `ResolveJob.run` on `DocCorpus.synthetic(<entities>)` plus a noop
  *     write of its entities (row `write`), after an untimed 2k-entity
  *     warm-up; the config of `graft.Bench`'s scaling run (16 shuffle
  *     partitions, sort-merge scoring). `cores` defaults to the
  *     machine's processor count.
  *   runMain graft.tools.Profile query <name> <sfDir>
  *     one `SparkEntry.queries` entry, run to a noop write, on every
  *     core with as many shuffle partitions (as `graft.Bench` runs it).
  */
object Profile {

  private def session(cores: Int, shuffle: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def noopWrite(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val allCores = Runtime.getRuntime.availableProcessors
    val (spark, p) = args.toSeq match {
      case Seq("resolve", n, rest @ _*) =>
        val cores = rest.headOption.fold(allCores)(_.toInt)
        val spark = session(cores, 16)
        val cfg = ResolveJob.Config(
          blocking = graft.blocking.Blocking.Config(salts = math.max(4, cores)),
          numberEntities = false,
          broadcastFeatures = Some(false))
        def resolve(docs: DataFrame): Unit = {
          val r = ResolveJob.run(spark, docs, cfg)
          Confs.withJobDesc(spark)("write")(noopWrite(r.entities))
        }
        resolve(DocCorpus.synthetic(spark, 2000, seed = 7L).toDF())
        (spark, graft.obs.Profile(spark)(resolve(DocCorpus.synthetic(spark, n.toLong).toDF()))._2)
      case Seq("query", name, sfDir) =>
        val spark = session(allCores, allCores)
        (spark, graft.obs.Profile(spark)(noopWrite(graft.SparkEntry.queries(name)(spark, sfDir)))._2)
      case _ =>
        sys.error("usage: Profile resolve <entities> [cores] | query <name> <sfDir>")
    }
    def mb(b: Long) = b / 1048576.0
    println(f"${"group"}%-22s ${"jobs"}%5s ${"exch"}%5s ${"wall_s"}%8s ${"task_s"}%8s " +
      f"${"read_MB"}%9s ${"write_MB"}%9s ${"spill_MB"}%9s ${"gc_s"}%7s")
    p.groups.foreach { g =>
      println(f"${g.name}%-22s ${g.jobs}%5d ${g.exchanges}%5d ${g.wallMs / 1e3}%8.2f " +
        f"${g.taskMs / 1e3}%8.2f ${mb(g.shuffleReadBytes)}%9.1f ${mb(g.shuffleWriteBytes)}%9.1f " +
        f"${mb(g.spillBytes)}%9.1f ${g.gcMs / 1e3}%7.2f")
    }
    println(f"total: wall ${p.wallMs / 1e3}%.2f s, ${p.jobs} jobs, " +
      f"${p.groups.map(_.exchanges).sum} exchanges, driver gap ${p.driverGapMs / 1e3}%.2f s")
    spark.stop()
  }
}
