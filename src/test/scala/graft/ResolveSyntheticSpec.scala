package graft

import graft.jobs.ResolveJob
import graft.sources.DocCorpus
import graft.tools.FixtureEval
import graft.util.Confs
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** In-repo synthetic resolve: pairwise F1 against the corpus's known
  * ground truth, and labels that do not depend on parallelism.
  */
class ResolveSyntheticSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def assignMap(docs: DataFrame): Map[String, String] =
    ResolveJob.run(spark, docs).assignments.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("synthetic 500-entity resolve: pinned pair F1, identical at every parallelism") {
    val docs = DocCorpus.synthetic(spark, 500).toDF()
    val base = assignMap(docs)
    // doc ids encode the entity: truth = (record_id − 10^6) / 3
    val truth = base.keys.toSeq
      .groupBy(id => (id.split(":")(1).toLong - 1000000L) / 3).values.toSeq
    val (m, _, _) = FixtureEval.evaluate(base, truth)
    assert(m.f1 >= 0.99, s"f1=${m.f1} $m")
    // no false merge; 4 true pairs missed: f1 = 0.99714…
    assert(m == FixtureEval.Metrics(698, 0, 4), s"f1=${m.f1}")

    val oneShuffle = Confs.withConfs(spark)("spark.sql.shuffle.partitions" -> "1") {
      assignMap(docs)
    }
    assert(oneShuffle == base, "shuffle partitions 1 vs 8")
    assert(assignMap(docs.repartition(1)) == base, "input in 1 partition")
    assert(assignMap(docs.repartition(8)) == base, "input in 8 partitions")
  }
}
