package perfbench

import graft.GraftSession
import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextHash

/** `pipeline_batch`: full passes of the LLM-data operators over the
  * `documents` corpus held in a column table. Each pass runs every
  * operator once; the seed picks the top-k query vectors. No reference
  * answer runs the operator code under test: exact dedup and top-k are
  * recomputed on the driver in plain Scala; every other operator must
  * match the row count and digest recorded in [[ExpectedAnswers]], and
  * every MinHash and SimHash pair must meet its threshold when
  * recomputed.
  */
final class PipelineBatch(spark: SparkSession, dir: String, seed: Long)
    extends Workload {
  import PipelineBatch._

  private val g = GraftSession(spark)
  def storeTables: Seq[String] = Seq(Corpus)
  override def unitOps: Int = OpNames.size

  private lazy val docs = graft.Tables.load(spark, dir, "documents")
  private lazy val emb = graft.Tables.load(spark, dir, "embeddings")
  override lazy val docsPerUnit: Long = docs.count()

  def setup(): Unit = g.createTable(Corpus, docs)

  private def corpus = g.table(Corpus)
  private lazy val queryIds =
    topkQueries(seed, emb.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq)

  /** One operator call, projected to the columns its check compares. */
  private def call(op: String, d: DataFrame): DataFrame = op match {
    case "exact_dedup" => Dedup.exactDedup(d, "doc_id", "text").select("keep_id", "n_dups")
    case "minhash" => Dedup.minhashNearDupsFast(d, "doc_id", "text",
      shingleLen = 3, numHashes = 16, threshold = MinhashThreshold)
    case "simhash" =>
      Dedup.simhashNearDups(Dedup.simhashSignaturesFast(d, "doc_id", "text",
        sigBits = 60, md5Portable = true).localCheckpoint(true),
        maxHamming = MaxHamming, numChunks = 10, sigBits = 60)
        .select(col("a"), col("b"), col("hamming").cast("int"))
    case "containment" => Dedup.containmentPairs(d, "doc_id", "text", shingleLen = 3, threshold = 0.5)
    case "bigram_xent" => TextAnalysis.bigramCrossEntropy(d, "doc_id", "text")
      .select("doc_id", "n_bigrams", "xent2")
    case "skipgram" => TextAnalysis.skipgramPairs(d, "text", window = 3, minCount = 50L)
    case "topk" => Similarity.bruteForceTopK(emb, emb.filter(col("vec_id").isin(queryIds: _*)),
      "vec_id", "embedding", TopK)
  }

  def ops(): Iterator[Op] = Iterator.continually(OpNames).flatten.map { op =>
    Op(op, Kind.Pass, p => {
      val df = p.span("operators", s"$op.call")(call(op, corpus))
      val rows = p.span("operators", s"$op.exec")(df.collect().toSeq)
      p.add(s"operators.$op.rows_out", rows.size)
      Answer(rows, check(op, _))
    })
  }

  private lazy val expected = ExpectedAnswers.load()

  private def check(op: String, rows: Seq[Row]): Option[String] = op match {
    case "exact_dedup" => Answers.diff(rows, exactDedup(docRows)).map("differs from plain Scala: " + _)
    case "topk" => Answers.diff(rows, topK(vectors, queryIds)).map("differs from plain Scala: " + _)
    case _ =>
      val ExpectedAnswers.Entry(n, d) = expected(op)
      val got = Answers.digest(rows)
      (if (rows.size == n && got == d) None
      else Some(s"${rows.size} rows with digest $got, expected $n rows with digest $d"))
        .orElse(if (op == "minhash" || op == "simhash")
          rows.collectFirst(Function.unlift(r => pairHolds(op, r))) else None)
  }

  /** One operator's answer over the corpus, outside any timed phase. */
  private[perfbench] def answer(op: String): Seq[Row] = call(op, corpus).collect().toSeq

  private lazy val vectors: Map[Long, Array[Float]] =
    emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  private lazy val docRows: Seq[(Long, String)] =
    docs.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
  private lazy val texts: Map[Long, String] = docRows.toMap
  private lazy val signatures: Map[Long, Long] =
    Dedup.simhashSignaturesFast(corpus, "doc_id", "text", sigBits = 60, md5Portable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** None when the reported pair meets its threshold, recomputed here. */
  private def pairHolds(op: String, r: Row): Option[String] = op match {
    case "minhash" =>
      val j = TextHash.jaccard(texts(r.getLong(0)), texts(r.getLong(1)), 3)
      if (j + 1e-9 >= MinhashThreshold) None else Some(s"minhash pair $r has Jaccard $j")
    case _ =>
      val h = java.lang.Long.bitCount(signatures(r.getLong(0)) ^ signatures(r.getLong(1)))
      if (h <= MaxHamming && h == r.getInt(2)) None else Some(s"simhash pair $r has Hamming $h")
  }

  /** Verified pairs ÷ LSH candidate pairs of one MinHash pass. */
  override def extraLayerMetrics(): Map[String, Double] = {
    val (bands, _) = Dedup.minhashFrames(corpus, "doc_id", "text", 3, 16)
    val candidates = Dedup.lshCandidates(bands).count().toDouble
    val verified = call("minhash", corpus).count().toDouble
    Map("operators.minhash.verify_ratio" -> (if (candidates > 0) verified / candidates else 0.0))
  }
}

object PipelineBatch {
  /** `Dedup.exactDedup` in plain Scala: per distinct text (null is one
    * text), the smallest id and the number of documents.
    */
  def exactDedup(docs: Seq[(Long, String)]): Seq[Row] =
    docs.groupBy(_._2).values.map(g => Row(g.map(_._1).min, g.size.toLong)).toSeq

  /** `Similarity.bruteForceTopK` in plain Scala: for each query, the
    * [[TopK]] other vectors of highest cosine, ties toward the smaller id.
    */
  def topK(vectors: Map[Long, Array[Float]], queries: Seq[Long]): Seq[Row] = {
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot, na, nb = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        val x = a(i).toDouble
        val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    queries.flatMap { q =>
      vectors.iterator.collect { case (id, v) if id != q => (cosine(vectors(q), v), id) }
        .toSeq.sortBy { case (score, id) => (-score, id) }.take(TopK)
        .zipWithIndex.map { case ((score, id), i) => Row(q, i + 1, id, score) }
    }
  }

  /** The top-k query vectors: a seeded draw of [[TopkQueries]] ids. */
  def topkQueries(seed: Long, ids: Seq[Long]): Seq[Long] =
    new scala.util.Random(seed).shuffle(ids).take(TopkQueries).sorted

  val Corpus = "corpus"
  val MinhashThreshold = 0.7
  val MaxHamming = 8
  val TopkQueries = 10
  val TopK = 10
  val OpNames: Seq[String] =
    Seq("exact_dedup", "minhash", "simhash", "containment", "bigram_xent", "skipgram", "topk")
}
