package graft.score

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ambiguous-match suppression — the batch emulation of Senzing's
  * sequential ambiguity handling.
  *
  * Senzing refuses a merge when a record matches two mutually-
  * exclusive identities comparably well, flags the relationships
  * `IS_AMBIGUOUS`, appends "(Ambiguous)" to their match keys, and
  * gives the stranded record an AMBIGUOUS_ENTITY feature (reference
  * fixture: Pat Smith record 1045 matches Patrick's passport but
  * shares an exact name+address with a record carrying Patricia's
  * passport → entities 29/30/31 of flow-output.jsonl stay separate
  * with ×4 IS_AMBIGUOUS entries).
  *
  * Batch rule (order-free, deterministic): for a doc `d` with a
  * RESOLVED edge to `u` and an edge at POSSIBLY_SAME-or-better to
  * `v` (u ≠ v), where u and v CONFLICT on an exclusive identifier
  * (SSN / passport / driver's license / national id), the d–u merge
  * is ambiguous — UNLESS d's claim on u outranks v's own strongest
  * resolved claim (then v is the suspect party, not d; this mirrors
  * the reference's ingest-order behavior where an already-ambiguous
  * competitor no longer blocks later merges, without depending on
  * order). Fired edges: the RESOLVED edge downgrades to
  * POSSIBLY_SAME, both edges flag `is_ambiguous`, and `d` lands in
  * the ambiguous-docs output (AMBIGUOUS_ENTITY feature holder).
  *
  * Scale: inputs are the RESOLVED/POSSIBLY_SAME edge set (sparse —
  * bounded by blocking caps); the triple join is Σ deg² over that
  * adjacency, and the conflict test joins the narrow id columns only.
  */
object Ambiguity {

  private val ExclusiveIds = Seq("ssn", "passport", "drlic", "national_id")

  final case class Result(edges: DataFrame, ambiguousDocs: DataFrame,
      firedCount: Long)

  def suppress(edges: DataFrame, features: DataFrame): Result = {
    val strong = edges
      .filter(col("level").isin("RESOLVED", "POSSIBLY_SAME"))
      .select("doc_a", "doc_b", "score", "level")
    val adj = strong
      .select(col("doc_a").as("d"), col("doc_b").as("n"), col("score"), col("level"))
      .unionAll(strong
        .select(col("doc_b").as("d"), col("doc_a").as("n"), col("score"), col("level")))

    // best resolved claim per doc (for the outranking exemption)
    val bestResolved = adj.filter(col("level") === "RESOLVED")
      .groupBy(col("n").as("v")).agg(max("score").as("v_best"))

    // triples (d, u RESOLVED, v any-strong), both orders of (u, v)
    val resolvedAdj = adj.filter(col("level") === "RESOLVED")
      .select(col("d"), col("n").as("u"), col("score").as("s_u"))
    val anyAdj = adj.select(col("d"), col("n").as("v"))
    val tri = resolvedAdj.join(anyAdj, "d").filter(col("u") =!= col("v"))

    val ids = features.select((Seq(col("doc_id")) ++ ExclusiveIds.map(col)): _*)
    val conflictExpr = ExclusiveIds.map(c =>
      col(s"fu.$c").isNotNull && col(s"fv.$c").isNotNull &&
        col(s"fu.$c") =!= col(s"fv.$c")).reduce(_ || _)

    val conflictType = ExclusiveIds.map(c =>
      when(col(s"fu.$c").isNotNull && col(s"fv.$c").isNotNull &&
        col(s"fu.$c") =!= col(s"fv.$c"), c.toUpperCase): org.apache.spark.sql.Column)
      .reduce(coalesce(_, _))
    // fired-triple count is the materialization's observed row count —
    // the fixpoint below costs ONE job per round, and the (common)
    // zero-conflict corpus exits after the first job with the edge
    // frame untouched.
    def materialize(df: DataFrame): (DataFrame, Long) = {
      val (out, m) = graft.util.Materialize(df, "ambiguity", None)
      (out, m("rows"))
    }
    // AQE scoped OFF for the fixpoint actions: joins key on doc ids
    // with blocking-capped degree (skew-free by construction), and AQE
    // charges per-exchange materialization jobs + re-planning on every
    // round — pure driver-serial latency, identical at any cluster size
    def ambConfs[T](body: => T): T = graft.util.Confs.withConfs(
      edges.sparkSession)("spark.sql.adaptive.enabled" -> "false")(body)
    val (fired0, nFired0) = ambConfs { materialize(tri
      .join(ids.as("fu"), col("u") === col("fu.doc_id"))
      .join(ids.as("fv"), col("v") === col("fv.doc_id"))
      .filter(conflictExpr)
      .join(bestResolved, Seq("v"), "left")
      // exemption: d's resolved claim outranks v's best resolved claim
      .filter(col("v_best").isNotNull && col("v_best") >= col("s_u"))
      .select(col("d"), col("u"), col("v"), conflictType.as("conflict_type"))) }

    if (nFired0 == 0) {
      val spark = edges.sparkSession
      import spark.implicits._
      return Result(
        edges.withColumn("is_ambiguous", lit(false)),
        Seq.empty[(String, String)].toDF("doc_id", "conflict_desc"), 0L)
    }

    // Sequential-order emulation: in the reference, a record that is
    // ALREADY ambiguous no longer blocks later records' merges (the
    // fixture's 1046 merges with Patricia because 1045 went ambiguous
    // first). Order-free fixpoint over doc_id-as-ingest-order: a triple
    // is cancelled while its competitor v is itself an ambiguous doc
    // with v < d. Conflict chains are short; 4 deterministic rounds
    // reach the fixpoint on anything non-adversarial (frames here are
    // the sparse conflict set — trivially small next to the edge set).
    var fired = fired0
    var nFired = nFired0
    var prev = -1L
    var iters = 0
    while (iters < 4 && nFired != prev) {
      prev = nFired
      val amb = fired.select(col("d").as("v")).distinct()
        .withColumn("_vamb", lit(true))
      val (next, n) = ambConfs { materialize(fired0.join(amb, Seq("v"), "left")
        .filter(!(coalesce(col("_vamb"), lit(false)) && col("v") < col("d")))
        .drop("_vamb")) }
      fired = next
      nFired = n
      iters += 1
    }

    // reference shape: FEAT_DESC "CONFLICTING EXCLUSIVE,<what>"
    // (flow-output.jsonl entity 31)
    val ambDocs = fired
      .groupBy(col("d").as("doc_id"))
      .agg(concat(lit("CONFLICTING EXCLUSIVE,"), min("conflict_type"))
        .as("conflict_desc"))
    val ambPairs = fired
      .select(col("d"), explode(array(col("u"), col("v"))).as("o"))
      .select(least(col("d"), col("o")).as("doc_a"),
        greatest(col("d"), col("o")).as("doc_b"))
      .distinct()
      .withColumn("_amb", lit(true))

    val out = edges.join(ambPairs, Seq("doc_a", "doc_b"), "left")
      .withColumn("is_ambiguous",
        coalesce(col("_amb"), lit(false)) &&
          col("level").isin("RESOLVED", "POSSIBLY_SAME"))
      .withColumn("level",
        when(col("is_ambiguous") && col("level") === "RESOLVED", "POSSIBLY_SAME")
          .otherwise(col("level")))
      .drop("_amb")
    Result(out, ambDocs, nFired)
  }
}
