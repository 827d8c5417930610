package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.util.SplittableRandom

/** Seeded inputs and the plain-Scala oracles that check outputs.
  * Every input is a pure function of the seed and its size.
  */
object Inputs {

  // --- entity-resolution ground truth --------------------------------

  /** `DocCorpus.synthetic` encodes the true entity in the record id:
    * docs of entity e have record ids 10^6 + {3e, 3e+1, 3e+2}.
    */
  def truthOf(docId: String): Long = (docId.split(":")(1).toLong - 1000000L) / 3

  /** Pairwise F1 of (doc_id, entity_id) assignments against the
    * synthetic ground truth.
    */
  def pairF1(assign: Seq[(String, String)]): Double =
    labelPairF1(assign.map { case (d, e) => (e, truthOf(d)) })

  /** Pairwise F1 of a clustering against a reference clustering, from
    * contingency counts of (predicted label, true label) per item — no
    * pair set is built.
    */
  def labelPairF1[P, T](labels: Seq[(P, T)]): Double = {
    def pairs(sizes: Iterable[Int]): Double = sizes.map(n => n.toDouble * (n - 1) / 2).sum
    val tp = pairs(labels.groupBy(identity).values.map(_.size))
    val pred = pairs(labels.groupBy(_._1).values.map(_.size))
    val truth = pairs(labels.groupBy(_._2).values.map(_.size))
    if (tp == 0) 0.0 else { val p = tp / pred; val r = tp / truth; 2 * p * r / (p + r) }
  }

  /** Collect a (doc_id, entity_id) frame, sorted by doc id. */
  def collectAssignments(df: DataFrame): Seq[(String, String)] =
    df.select(col("doc_id"), col("entity_id").cast("string")).collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq

  /** Order-independent fingerprint of a sorted assignment list. */
  def fingerprint(assign: Seq[(String, String)]): String =
    f"${assign.size}%d:${assign.map(_.hashCode.toLong).sum}%x"

  // --- near-duplicate documents and embeddings ---------------------------

  /** The word list of the documents table: thirty words plus the marker
    * that planted near-duplicates carry — 31 words, so a document's word
    * set fits one 64-bit mask.
    */
  val Vocab: Vector[String] = Vector("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val DupMarker = "dup"
  private val Langs = Vector("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)

  final case class TextDoc(docId: Long, text: String, lang: String, source: String)

  /** `n` documents of 10–100 words drawn from [[Vocab]]; about 5% are
    * near-copies of an earlier document (a tenth of the words replaced,
    * plus the marker word), in the same language.
    */
  def documents(n: Int, seed: Long): Vector[TextDoc] = {
    val rnd = new SplittableRandom(seed)
    def lang(): String = {
      var x = rnd.nextInt(100)
      Langs.find { case (_, w) => x -= w; x < 0 }.get._1
    }
    val out = Vector.newBuilder[TextDoc]
    val words = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val langs = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until n) {
      val (toks, lg) =
        if (i > 0 && rnd.nextInt(20) == 0) {
          val j = rnd.nextInt(i)
          val t = words(j).map(w => if (rnd.nextInt(10) == 0) Vocab(rnd.nextInt(Vocab.size)) else w)
          (t :+ DupMarker, langs(j))
        } else (Array.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))), lang())
      words += toks; langs += lg
      out += TextDoc(i.toLong, toks.mkString(" "), lg, s"src${i % 20}")
    }
    out.result()
  }

  /** `n` unit-norm 64-dimensional Gaussian vectors with labels 0–9. */
  def embeddings(n: Int, seed: Long): Vector[(Long, Array[Float], Int)] = {
    val rnd = new SplittableRandom(seed ^ 0x5deece66dL)
    def gauss(): Double = { // Box–Muller
      val u = 1.0 - rnd.nextDouble(); val v = rnd.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    Vector.tabulate(n) { i =>
      val v = Array.fill(64)(gauss())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), rnd.nextInt(10))
    }
  }

  /** Write `documents.parquet` and `embeddings.parquet` under `dir`, the
    * layout `SparkEntry.queries` reads.
    */
  def writeTables(spark: SparkSession, dir: String, docs: Seq[TextDoc],
      embs: Seq[(Long, Array[Float], Int)]): Unit = {
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    def write(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write(docs.map(d => Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong)),
      docSchema, "documents")
    write(embs.map { case (id, v, l) => Row(id, v.toSeq, l) }, embSchema, "embeddings")
  }

  /** Exact oracle for `dd_ngram_jaccard` / `dd_dedup_groups` (word
    * unigrams, threshold 0.5, blocks of equal language and
    * floor(chars / 100)): the qualifying pair count and every document's
    * group label (the smallest doc id of its connected component).
    */
  def jaccardOracle(docs: Seq[TextDoc], threshold: Double = 0.5): (Long, Map[Long, Long]) = {
    val index = (Vocab :+ DupMarker).zipWithIndex.toMap
    val mask = docs.map(d => d.docId ->
      d.text.split(" ").foldLeft(0L)((m, w) => m | (1L << index(w)))).toMap
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    var pairs = 0L
    docs.groupBy(d => (d.lang, d.text.length / 100)).values.foreach { block =>
      val ids = block.map(_.docId).toArray
      for (i <- ids.indices; j <- i + 1 until ids.length) {
        val a = mask(ids(i)); val b = mask(ids(j))
        val inter = java.lang.Long.bitCount(a & b)
        if (inter.toDouble / java.lang.Long.bitCount(a | b) >= threshold) {
          pairs += 1
          val (ra, rb) = (find(ids(i)), find(ids(j)))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
    }
    (pairs, docs.map(d => d.docId -> find(d.docId)).toMap)
  }
}
