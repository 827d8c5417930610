package perfbench

import graft.SparkEntry
import graft.assemble.Assemble
import graft.blocking.Blocking
import graft.cluster.ConnectedComponents
import graft.io.SnapshotStore
import graft.jobs.{ExportJob, ResolveJob}
import graft.normalize.Normalize
import graft.score.{Ambiguity, Generic, Scoring}
import graft.sources.DocCorpus
import graft.streaming.IncrementalResolve
import graft.util.Confs
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

/** What one run of a workload hands back to [[Main]]. */
final case class Report(
    setupS: Double,
    opWallS: Seq[Double],
    /** input items (docs, or docs plus vectors) one operation processes */
    itemsPerOp: Seq[Long],
    pairF1: Double,
    /** op index -> failed gates */
    failures: Map[Int, Seq[String]],
    counters: Map[String, Double])

final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val tracer: Tracer, val work: Path) {
  def dir(name: String): String = {
    val d = work.resolve(name); Files.createDirectories(d); d.toString
  }
}

object Workloads {

  val all: Map[String, Ctx => Report] = Map(
    "resolve_batch" -> ResolveBatch.run,
    "resolve_incremental" -> ResolveIncremental.run,
    "dedup_ops" -> DedupOps.run)

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val out = body; (out, (System.nanoTime() - t0) / 1e9)
  }

  def medianOf(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Closed loop: one client; the next call starts when the previous one
    * returns. A call is started only while the run's budget, less the
    * median call so far, is not used up, so a run ends close to its
    * budget; the first call always runs. Stops at the first call that
    * throws, recording it as failed.
    */
  def closedLoop(seconds: Double, failures: mutable.Map[Int, Seq[String]],
      maxOps: Int = Int.MaxValue)(op: Int => Double): Seq[Double] = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var stop = false
    while (!stop && walls.size < maxOps &&
        (walls.isEmpty || elapsed + medianOf(walls.toSeq) <= seconds)) {
      val i = walls.size
      try walls += op(i)
      catch {
        case e: Exception =>
          failures(i) = failures.getOrElse(i, Nil) :+ s"call threw: $e"
          walls += elapsed
          stop = true
      }
    }
    System.err.println(s"perfbench: op walls ${walls.mkString(", ")} s")
    walls.toSeq
  }

  def gate(failures: mutable.Map[Int, Seq[String]], i: Int, ok: Boolean, what: => String): Unit =
    if (!ok) failures(i) = failures.getOrElse(i, Nil) :+ what

  /** Bytes of every file under `p` (0 when absent). */
  def dirBytes(p: Path): Long = if (Files.exists(p)) FileUtils.sizeOfDirectory(p.toFile) else 0L

  /** Lines of every data file Spark wrote under `dir`. */
  def countLines(dir: String): Long =
    FileUtils.listFiles(new java.io.File(dir), null, true).asScala.toSeq
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(f => Using.resource(Files.lines(f.toPath))(_.count())).sum

  /** Executor storage in use: bytes held by cached and checkpointed
    * RDD blocks, in memory and on disk.
    */
  def storageMb(spark: SparkSession): Double = {
    System.gc() // blocks of unreachable RDDs go; what stays is still referenced
    Thread.sleep(200) // the ContextCleaner removes them asynchronously
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
  }

  /** Materialize eagerly with the row count riding the same job. */
  def materialize(df: DataFrame, extras: (String, org.apache.spark.sql.Column)*): (DataFrame, Map[String, Long]) = {
    val obs = Observation(s"perfbench_${java.util.UUID.randomUUID}")
    val aggs = count(lit(1)).as("rows") +: extras.map { case (k, c) => c.as(k) }
    val out = df.observe(obs, aggs.head, aggs.tail: _*).localCheckpoint(true)
    val row = obs.get
    (out, row.keys.map(k => k -> row(k).asInstanceOf[Long]).toMap)
  }
}

import Workloads._

/** Batch resolve of a synthetic corpus, then a full JSONL export. */
object ResolveBatch {
  val Entities = 2000L
  val PrepareReps = 3

  private val cfg = ResolveJob.Config()

  /** One untraced operation: `ResolveJob.run` plus a full export write. */
  private def resolveAndExport(spark: SparkSession, docs: DataFrame, out: String, id: String)
      : (ResolveJob.Result, String) = {
    val r = ResolveJob.run(spark, docs, cfg)
    val store = new SnapshotStore(out) // a Full export never reads it
    val path = ExportJob.write(ExportJob.export(spark, store, r, ExportJob.Full), out, id,
      ExportJob.Full)
    (r, path)
  }

  /** The same pipeline as `ResolveJob.run` (no snapshot store), one
    * public call per layer, each in its own span and in the conf window
    * ResolveJob gives that stage. Returns the assignments and the
    * export path.
    */
  private def composed(ctx: Ctx, docs: DataFrame, out: String, id: String,
      counters: mutable.Map[String, mutable.ArrayBuffer[Double]]): (DataFrame, String) = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def rows(x: (DataFrame, Map[String, Long])): Long = x._2("rows")
    def note(k: String, v: Double): Unit = counters.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    Confs.withConfs(spark)("spark.sql.constraintPropagation.enabled" -> "false") {
      val (featsRaw, _) = tr.span("normalize.features", rows)(materialize(Normalize.features(docs)))
      val (feats, fr) = tr.span("generic.flags", rows)(
        materialize(Generic.withGenericFlags(featsRaw, cfg.generic)))
      val (keys, _) = tr.span("blocking.keys", rows)(
        materialize(Blocking.blockingKeys(feats, cfg.blocking)))
      val (pairs, pr) = tr.span("blocking.pairs", rows)(
        materialize(Blocking.candidatePairs(keys, cfg.blocking)))
      val resolvedCol = "resolved" -> count(when(col("level") === "RESOLVED", 1))
      val (raw, rr) = tr.span("scoring.score", rows) {
        Confs.withConfs(spark)("spark.sql.codegen.wholeStage" -> "false") {
          materialize(Scoring.scorePairs(pairs, feats, cfg.weights,
            broadcastFeatures = cfg.broadcastFeatures.getOrElse(fr("rows") < 3000000)), resolvedCol)
        }
      }
      val (amb, edges, ambDocs, nResolved) = tr.span("ambiguity.suppress",
          (x: (Ambiguity.Result, DataFrame, DataFrame, Long)) => x._1.firedCount) {
        val a = Ambiguity.suppress(raw, feats)
        if (a.firedCount == 0) (a, a.edges, a.ambiguousDocs, rr("resolved"))
        else {
          val (e, er) = materialize(a.edges, resolvedCol)
          (a, e, materialize(a.ambiguousDocs)._1, er("resolved"))
        }
      }
      val (assign, stats) = tr.span("cluster.assign",
          (x: (DataFrame, ConnectedComponents.Stats)) => x._2.iterations.toLong) {
        val (a, s) = ConnectedComponents.assign(spark, feats.select("doc_id"),
          edges.filter(col("level") === "RESOLVED"), cfg.checkpointDir)
        (materialize(a)._1, s)
      }
      val entities = tr.span("assemble.entities") {
        Assemble.entities(feats, docs, assign, edges, cfg.numberEntities,
          ambiguousDocs = if (amb.firedCount == 0) None else Some(ambDocs),
          checkpointDir = cfg.checkpointDir)
      }
      val path = tr.span("assemble.export") {
        ExportJob.write(Assemble.toExportJson(entities), out, id, ExportJob.Full)
      }
      note("blocking.pairs_generated", pr("rows"))
      note("scoring.edges_resolved", nResolved)
      note("blocking.useful_ratio", nResolved.toDouble / math.max(1L, pr("rows")))
      note("ambiguity.fired", amb.firedCount)
      note("cluster.iterations", stats.iterations)
      note("cluster.edges_iter0", stats.perIterationEdges.headOption.getOrElse(0L).toDouble)
      (assign, path)
    }
  }

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val out = ctx.dir("export")
    val prepared = (1 to PrepareReps).map { _ =>
      timeS {
        val d = DocCorpus.synthetic(spark, Entities, ctx.seed).toDF().localCheckpoint(true)
        (d, d.count())
      }
    }
    val (docs, nDocs) = prepared.last._1
    val setupS = medianOf(prepared.map(_._2))

    val failures = mutable.Map.empty[Int, Seq[String]]
    val counters = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var f1 = 0.0
    /** Gates one call's output; returns its assignments fingerprint. */
    def check(i: Int, assignDf: DataFrame, path: String): String = {
      val assign = Inputs.collectAssignments(assignDf)
      val entities = assign.iterator.map(_._2).distinct.size.toLong
      val lines = countLines(path)
      f1 = Inputs.pairF1(assign)
      gate(failures, i, assign.size == nDocs, s"assignments cover ${assign.size} of $nDocs docs")
      gate(failures, i, f1 >= 0.99, f"pair F1 $f1%.4f < 0.99")
      gate(failures, i, lines == entities, s"export has $lines lines for $entities entities")
      FileUtils.deleteDirectory(new java.io.File(path))
      Inputs.fingerprint(assign)
    }
    // A batch resolve is one job per process (one spark-submit), so the
    // measured call is the first in the JVM: JIT and code generation are
    // part of what its user waits for.
    var firstFp = ""
    val walls = closedLoop(ctx.seconds, failures, maxOps = 1) { i =>
      val ((assignDf, path), wall) =
        if (tr.enabled) timeS(composed(ctx, docs, out, s"op$i", counters))
        else timeS { val (r, p) = resolveAndExport(spark, docs, out, s"op$i"); (r.assignments, p) }
      firstFp = check(i, assignDf, path)
      wall
    }
    val extra = if (!tr.enabled || failures.nonEmpty) Map.empty[String, Double] else {
      // Both forms again, now warm. `ResolveJob.run` must give the traced
      // composition's assignments, and the wall difference of the two is
      // the tracing overhead. Spans of the warm call are not reported.
      val ((r, p), untracedS) = timeS(resolveAndExport(spark, docs, out, "untraced"))
      val fp = check(0, r.assignments, p)
      gate(failures, 0, fp == firstFp,
        s"ResolveJob.run assignments $fp differ from the traced composition's $firstFp")
      val mark = tr.mark()
      val ((a, p2), tracedS) = timeS(composed(ctx, docs, out, "traced", mutable.Map.empty))
      check(0, a, p2)
      tr.rollback(mark)
      Map("trace.overhead_s" -> (tracedS - untracedS))
    }
    Report(setupS, walls, walls.map(_ => nDocs), f1, failures.toMap,
      counters.map { case (k, v) => k -> medianOf(v.toSeq) }.toMap ++ extra)
  }
}

/** Delta batches applied to a resolved store, each followed by a read
  * of the affected entities.
  */
object ResolveIncremental {
  val Entities = 1000L
  /** docs per delta batch: 0.5% of the ≈2,000-doc corpus */
  val BatchDocs = 10
  /** delta batches held back from the base store */
  val Batches = 40

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val cfg = ResolveJob.Config()
    // docs in seeded hash order; batch b is the b-th run of BatchDocs docs,
    // and every doc past the held-back batches goes into the base store
    def slotted(entities: Long, seed: Long): DataFrame =
      DocCorpus.synthetic(spark, entities, seed).toDF()
        .withColumn("slot", floor((row_number().over(
          Window.orderBy(xxhash64(col("doc_id"), lit(seed)), col("doc_id"))) - 1) / BatchDocs))
        .localCheckpoint(true)
    def base(c: DataFrame) = c.filter(col("slot") >= Batches).drop("slot")
    def batch(c: DataFrame, b: Int) = c.filter(col("slot") === b).drop("slot")

    // Building the base store runs the pipeline's code paths, so the
    // delta batches that follow run warm, as in a long-lived consumer.
    val storePath = ctx.work.resolve("store")
    val store = new SnapshotStore(ctx.dir("store"))
    val (corpus, setupS) = timeS {
      val c = slotted(Entities, ctx.seed)
      IncrementalResolve.processBatch(spark, store, base(c), cfg)
      c
    }

    val failures = mutable.Map.empty[Int, Seq[String]]
    val per = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def note(k: String, v: Double): Unit = per.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    val tr = ctx.tracer
    var last: Option[DataFrame] = None
    var storageMb0 = storageMb(spark)
    val batchRows = mutable.ArrayBuffer.empty[Long]
    val walls = closedLoop(ctx.seconds, failures, maxOps = Batches) { b =>
      val delta = batch(corpus, b).localCheckpoint(true)
      val docs = delta.collect()
      val (rows, inBytes) = (docs.length.toLong, docs.iterator.map(_.json.length.toLong).sum)
      batchRows += rows
      val before = dirBytes(storePath)
      val t0 = System.nanoTime()
      val r = tr.span("incremental.batch", (x: IncrementalResolve.BatchResult) => x.newDocs)(
        IncrementalResolve.processBatch(spark, store, delta, cfg))
      tr.span("io.affected", (n: Long) => n)(r.affectedEntities.count())
      val wall = (System.nanoTime() - t0) / 1e9
      gate(failures, b, r.newDocs == rows, s"batch $b: newDocs ${r.newDocs} != $rows delta rows")
      last = Some(r.assignments)
      val written = dirBytes(storePath) - before
      val mb = storageMb(spark)
      note("incremental.featurized_docs", r.featurizedDocs)
      note("incremental.cc_vertices", r.ccVertices)
      note("incremental.cc_amplification", r.ccVertices.toDouble / math.max(1L, r.newDocs))
      note("io.bytes_written", written)
      note("io.write_amp", written.toDouble / math.max(1L, inBytes))
      note("spark.storage_mb", mb)
      note("spark.storage_growth_mb_per_batch", mb - storageMb0)
      storageMb0 = mb
      wall
    }
    val assign = last.map(Inputs.collectAssignments).getOrElse(Seq.empty)
    val f1 = Inputs.pairF1(assign)
    gate(failures, walls.size - 1, f1 >= 0.99, f"final pair F1 $f1%.4f < 0.99")
    note("io.store_bytes_per_doc", dirBytes(storePath).toDouble / math.max(1, assign.size))
    Report(setupS, walls, batchRows.toSeq, f1,
      failures.toMap, per.map { case (k, v) => k -> medianOf(v.toSeq) }.toMap)
  }
}

/** The near-duplicate operator family through `SparkEntry.queries`. */
object DedupOps {
  val Docs = 1500
  val Vectors = 800
  val PrepareReps = 3
  val Queries = Seq("dd_dedup_groups", "dd_ngram_jaccard", "dd_minhash_pairs",
    "dd_simhash_pairs", "dd_embed_near", "ann_cosine_topk")
  /** ann_cosine_topk: 10 probes, k = 5 */
  private val TopKRows = 50L

  /** Row count and an order-independent hash of a query's full output. */
  private def collected(df: DataFrame): (Array[Row], (Long, Long)) = {
    val rows = df.collect()
    (rows, (rows.length.toLong, rows.iterator.map(_.hashCode.toLong).sum))
  }

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = ctx.dir("tables")
    val prepared = (1 to PrepareReps).map { _ =>
      timeS {
        val docs = Inputs.documents(Docs, ctx.seed)
        Inputs.writeTables(spark, dir, docs, Inputs.embeddings(Vectors, ctx.seed))
        Inputs.jaccardOracle(docs)
      }
    }
    val (oraclePairs, oracleGroups) = prepared.last._1
    val setupS = medianOf(prepared.map(_._2))

    def pass(): Seq[(String, Array[Row], (Long, Long), Double)] =
      Queries.map { q =>
        val ((rows, fp), s) = timeS(tr.span(s"ops.$q", (x: (Array[Row], (Long, Long))) => x._2._1)(
          collected(SparkEntry.queries(q)(spark, dir))))
        (q, rows, fp, s)
      }
    val failures = mutable.Map.empty[Int, Seq[String]]
    var f1 = 0.0
    var fps = Map.empty[String, (Long, Long)]
    // The suite is measured as a batch of queries in a fresh process, as
    // graft.Bench runs it: one pass per process, code generation included.
    val walls = closedLoop(ctx.seconds, failures, maxOps = 1) { i =>
      val res = pass()
      fps = res.map { case (q, _, fp, _) => q -> fp }.toMap
      def rows(q: String) = fps(q)._1
      gate(failures, i, rows("dd_ngram_jaccard") == oraclePairs,
        s"dd_ngram_jaccard: ${rows("dd_ngram_jaccard")} pairs, oracle $oraclePairs")
      val groups = res.find(_._1 == "dd_dedup_groups").get._2
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      f1 = Inputs.labelPairF1(oracleGroups.toSeq.map { case (d, g) => (groups.get(d), g) })
      gate(failures, i, groups == oracleGroups,
        s"dd_dedup_groups: ${groups.size} labels disagree with the oracle's ${oracleGroups.size}")
      gate(failures, i, rows("dd_embed_near") >= Vectors * 99 / 100 && rows("dd_embed_near") <= Vectors,
        s"dd_embed_near: ${rows("dd_embed_near")} pairs for $Vectors planted")
      gate(failures, i, rows("ann_cosine_topk") == TopKRows,
        s"ann_cosine_topk: ${rows("ann_cosine_topk")} rows, expected $TopKRows")
      res.map(_._4).sum
    }
    if (tr.enabled && failures.isEmpty) {
      // a second, warm pass must repeat every query's output
      val mark = tr.mark()
      pass().foreach { case (q, _, fp, _) =>
        gate(failures, 0, fp == fps(q), s"$q: output fingerprint $fp differs from the first pass ${fps(q)}")
      }
      tr.rollback(mark)
    }
    Report(setupS, walls, walls.map(_ => (Docs + Vectors).toLong), f1, failures.toMap, Map.empty)
  }
}
