package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Runs one workload and prints one `PERFBENCH_RESULT {json}` line with
  * raw measurements; `perfbench/run.py` turns it into the reported
  * metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  */
object Main {

  /** One process, `local[nproc]`, one fixed configuration for every
    * workload. All scratch files stay under `work`.
    */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process, from /proc (0 where absent). */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0.0
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val workload = Workloads.all.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    try {
      val spark = session(work.toString)
      val bootS = (System.currentTimeMillis() - jvmStart) / 1e3
      System.err.println(f"perfbench: boot $bootS%.2f s")
      val tracer = new Tracer(spark, opts("trace") == "1")
      val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, tracer, work)
      val r = workload(ctx)
      val spans = tracer.records().groupBy(_.name).map { case (n, rs) =>
        def med(f: SpanRecord => Double) = Workloads.medianOf(rs.map(f))
        n -> Map("wall_s" -> med(_.wallS), "rows" -> med(_.rows.toDouble),
          "jobs" -> med(_.jobs.toDouble), "task_s" -> med(_.taskS),
          "shuffle_bytes" -> med(_.shuffleBytes.toDouble), "gc_s" -> med(_.gcS))
      }
      val perLayer = r.counters ++ spans.flatMap { case (n, m) => m.map { case (k, v) => s"$n.$k" -> v } }
      val opS = r.opWallS.sum
      val endToEnd = Map(
        "setup_s" -> (bootS + r.setupS),
        "op_p50_s" -> Workloads.medianOf(r.opWallS),
        "docs_per_s" -> (if (opS > 0) r.itemsPerOp.sum / opS else 0.0),
        "pair_f1" -> r.pairF1,
        "peak_rss_mb" -> peakRssMb())
      val failed = r.failures.keySet.size
      val json = new ObjectMapper().registerModule(DefaultScalaModule)
      println("PERFBENCH_RESULT " + json.writeValueAsString(Map(
        "workload" -> name,
        "attempted" -> r.opWallS.size,
        "failed" -> failed,
        "failures" -> r.failures.toSeq.sortBy(_._1).flatMap { case (i, fs) => fs.map(f => s"op $i: $f") },
        "ops" -> r.opWallS,
        "end_to_end" -> endToEnd,
        "per_layer" -> perLayer)))
      System.out.flush()
    } catch {
      case e: Throwable => e.printStackTrace(); System.err.flush(); Runtime.getRuntime.halt(1)
    }
    // Nothing is left to save: the runner deletes the scratch directory,
    // so the JVM ends here rather than spend a second in Spark's shutdown.
    Runtime.getRuntime.halt(0)
  }
}
