package perfbench

import scala.util.Random

import graft.GraftSession
import org.apache.spark.sql.{Row, SparkSession}

/** `olap_store`: the 22 TPC-H rows of `graft.queries`, run as SQL text
  * through `spark.sql` over store tables. Each round runs every query
  * once, in a seeded order, with seeded literals; the timed phase ends on
  * a round boundary so every run covers the same query set. Answers are
  * compared with the same SQL and literals over the parquet tables,
  * computed after the timed phase.
  */
final class OlapStore(spark: SparkSession, dir: String, seed: Long, refs: RefCache)
    extends Workload {
  import OlapStore._

  private val g = GraftSession(spark)
  def storeTables: Seq[String] = TableNames
  override def unitOps: Int = Queries.size

  def setup(): Unit = TableNames.foreach { t =>
    val src = graft.Tables.load(spark, dir, t)
    BucketKey.get(t) match {
      case Some(k) => g.createTable(t, src, partitionBy = Seq(k), buckets = Buckets)
      case None => g.createTable(t, src)
    }
  }

  // the same plain table names over the parquet files, in a session of
  // its own so its temp views do not shadow the store tables
  private lazy val parquet = {
    val s = spark.newSession()
    TableNames.foreach(t => graft.Tables.load(s, dir, t).createOrReplaceTempView(t))
    s
  }
  /** q20 over the store: a broadcast subquery serializes the catalog. */
  override def knownDefect(cls: String, message: String): Boolean =
    cls == KnownDefect && message == "NotSerializableException: org.apache.spark.sql.graft.store.GraftCatalog"

  def ops(): Iterator[Op] = stream(seed).map { case (qi, v) =>
    val (qname, sql0) = Queries(qi)
    val sql = withVariant(sql0, v)
    Op(qname, Kind.Read, p => Answer(
      p.span("graft", "spark.sql")(spark.sql(sql).collect().toSeq),
      rows => Answers.diff(rows, refs("olap_store\n" + sql)(parquet.sql(sql).collect().toSeq))))
  }
}

object OlapStore {
  val TableNames: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  /** lineitem and orders are co-bucketed on the order key. */
  val BucketKey: Map[String, String] = Map("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")
  val Buckets = 8

  /** (name, SQL text) of the 22 TPC-H queries. */
  lazy val Queries: IndexedSeq[(String, String)] = {
    import graft.queries._
    (TpchQueries.defs ++ TpchQueries2.defs ++ TpchQueries3.defs)
      .flatMap(d => d.oracle.map(d.name -> _)).toIndexedSeq
  }

  val KnownDefect = "q20_potential_promotion"

  private val DateLit = """(TIMESTAMP|DATE) '(\d{4}-\d{2}-\d{2})""".r
  /** Literal variants per query: every date literal moves back by the
    * same multiple of 31 days, like TPC-H's substitution parameters. A
    * query without a date literal has one variant.
    */
  val DateVariants = 4

  def variants(sql: String): Int = if (DateLit.findFirstIn(sql).isDefined) DateVariants else 1

  def withVariant(sql: String, v: Int): String =
    if (v == 0) sql
    else DateLit.replaceAllIn(sql, m => scala.util.matching.Regex.quoteReplacement(
      s"${m.group(1)} '${java.time.LocalDate.parse(m.group(2)).minusDays(31L * v)}"))

  /** (query index, literal variant): rounds of every query once, each
    * round in a fresh seeded order. A query's variant starts from a seeded
    * one and moves on by one each round, so consecutive rounds never run
    * a query with a date literal on the same literals.
    */
  def stream(seed: Long, queries: IndexedSeq[(String, String)] = Queries): Iterator[(Int, Int)] = {
    val rnd = new Random(seed)
    val first = queries.map(q => rnd.nextInt(variants(q._2)))
    Iterator.from(0).flatMap(round => rnd.shuffle(queries.indices.toVector)
      .map(i => (i, (first(i) + round) % variants(queries(i)._2))))
  }
}

/** Order-insensitive comparison of two answers, with a relative
  * tolerance on floating values.
  */
object Answers {
  private def norm(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case f: Float => f.toDouble
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case o => o
  }

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Seq[_], y: Seq[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => close(p, q) }
    case _ => a == b
  }

  /** Doubles rounded to nine significant digits, so a digest does not
    * depend on the order in which an engine summed them.
    */
  private def rounded(v: Any): Any = v match {
    case d: Double if !d.isNaN && !d.isInfinite =>
      BigDecimal(d).round(new java.math.MathContext(9)).toDouble
    case s: Seq[_] => s.map(rounded)
    case o => o
  }

  /** Order-insensitive digest of an answer. */
  def digest(rows: Seq[Row]): String =
    RefCache.digest(rows.map(r => rounded(norm(r)).toString).sorted.mkString("\n"))

  def same(a: Row, b: Row): Boolean = close(norm(a), norm(b))

  def diff(got: Seq[Row], want: Seq[Row]): Option[String] = {
    val g = got.map(r => norm(r).asInstanceOf[Seq[Any]]).sortBy(_.toString)
    val w = want.map(r => norm(r).asInstanceOf[Seq[Any]]).sortBy(_.toString)
    if (g.size != w.size) Some(s"${g.size} rows, expected ${w.size}")
    else g.zip(w).collectFirst { case (a, b) if !close(a, b) => s"row $a, expected $b" }
  }
}
