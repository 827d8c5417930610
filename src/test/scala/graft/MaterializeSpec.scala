package graft

import graft.util.Materialize
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  test("durable and local tiers give the same rows and metrics; durable paths never collide") {
    val df = (0 until 500).map(i => (i.toLong, s"k${i % 7}")).toDF("id", "k")
    val metrics = Seq(
      "k0" -> count(when(col("k") === "k0", 1)),
      "id_sum" -> sum(col("id")))
    val dir = java.nio.file.Files.createTempDirectory("materialize").toString
    val (local, lm) = Materialize(df, "spec_frame", None, metrics: _*)
    val (d1, m1) = Materialize(df, "spec_frame", Some(dir), metrics: _*)
    val (d2, m2) = Materialize(df, "spec_frame", Some(dir), metrics: _*)
    val rows = local.as[(Long, String)].collect().toSet
    assert(rows.size == 500)
    assert(d1.as[(Long, String)].collect().toSet == rows)
    assert(d2.as[(Long, String)].collect().toSet == rows)
    assert(lm == Map("rows" -> 500L, "k0" -> 72L, "id_sum" -> 124750L))
    assert(m1 == lm && m2 == lm)
    // same name twice → two snapshots, both under the per-app subdir
    val appDir = new java.io.File(dir, spark.sparkContext.applicationId)
    val snaps = appDir.list().filter(_.startsWith("spec_frame_")).toSet
    assert(snaps.size == 2, s"expected two distinct snapshots, got $snaps")
    assert(d1.inputFiles.toSet.intersect(d2.inputFiles.toSet).isEmpty)
  }
}
