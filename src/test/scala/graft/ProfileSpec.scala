package graft

import graft.jobs.ResolveJob
import graft.obs.Profile
import graft.sources.DocCorpus
import graft.util.Confs
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

class ProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("a resolve profile has one group per stage and CC iteration; concurrent profiles never mix") {
    // independent tally: jobs per profile id, from the same local property
    val counted = scala.collection.mutable.Map.empty[String, Int]
    val tally = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = counted.synchronized {
        Option(e.properties).flatMap(p => Option(p.getProperty(Profile.Key)))
          .foreach(id => counted(id) = counted.getOrElse(id, 0) + 1)
      }
    }
    spark.sparkContext.addSparkListener(tally)
    val docs = DocCorpus.synthetic(spark, 300).toDF()
    val (resolve, other) = try {
      val run = Future(Profile(spark)(ResolveJob.run(spark, docs)))
      // a second run on another thread and session while the resolve runs
      val side = spark.newSession()
      val (_, other) = Profile(side) {
        def sideJob(): Unit = Confs.withJobDesc(side)("side")(side.range(1000).count())
        sideJob()
        while (!run.isCompleted) { Thread.sleep(100); sideJob() }
      }
      (Await.result(run, 10.minutes), other)
    } finally spark.sparkContext.removeSparkListener(tally)
    val (result, p) = resolve

    val names = p.groups.map(_.name)
    val cc = (0 to result.ccStats.iterations).map(i => s"cc_iter_$i")
    val expected = Seq("features_raw", "features", "bsj_hot", "pairs", "edges_raw") ++
      cc ++ Seq("cc_assignments", "asm_docs", "asm_entries")
    assert(expected.filterNot(names.contains).isEmpty, s"groups: $names")
    assert(p.groups.find(_.name == "pairs").get.shuffleWriteBytes > 0)
    assert(p.driverGapMs >= 0 && p.driverGapMs <= p.wallMs)

    assert(other.groups.map(_.name) == Seq("side"))
    assert(!names.contains("side"))
    assert(counted.size == 2)
    assert(counted.values.toSeq.sorted == Seq(p.jobs, other.jobs).sorted)
  }
}
