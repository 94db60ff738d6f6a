package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.GraftSession
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftRowOps, GraftStoreOps, MatViews}

/** `htap_mixed`: keyed mutations, point and range reads, and matview
  * maintenance on one mutable `orders` column table and one `customer`
  * row table. The op stream is a seeded sequence of cycles: reads, then
  * a burst of writes, then a matview refresh; every third burst also
  * compacts `orders`. A Scala map keyed on `o_orderkey` replays every
  * write, and every answer is checked against it.
  */
final class HtapMixed(spark: SparkSession, dir: String, seed: Long) extends Workload {
  import HtapMixed._

  private val g = GraftSession(spark)
  def storeTables: Seq[String] = Seq("orders", "customer", View)
  override def unitOps: Int = CyclesPerUnit * (ReadsPerCycle + WritesPerBurst + 1) + 1

  private lazy val ordersSrc = graft.Tables.load(spark, dir, "orders")
  private lazy val customerSrc = graft.Tables.load(spark, dir, "customer")
  private lazy val initialOrders: Map[Long, Row] =
    ordersSrc.collect().iterator.map(r => r.getLong(0) -> r).toMap
  private lazy val customers: Map[Long, Row] =
    customerSrc.collect().iterator.map(r => r.getLong(0) -> r).toMap
  private lazy val inputs = Inputs(initialOrders.keys.toVector.sorted,
    customers.keys.toVector.sorted, initialOrders.values.map(_.getString(5)).toVector.distinct.sorted)

  private var sealedBytes = 0L
  private var evictionBudget = 0L
  override def sizes: Map[String, Double] = Map(
    "orders_sealed_mb" -> sealedBytes / Tracer.MiB, "orders_eviction_budget_mb" -> evictionBudget / Tracer.MiB)

  def setup(): Unit = {
    if (MatViews.isMatView(View)) g.dropMaterializedView(View)
    g.createTable("orders", ordersSrc, keyColumns = Seq("o_orderkey"),
      partitionBy = Seq("o_orderkey"), buckets = Buckets)
    sealedBytes = GraftColumnStore("orders").snapshot.sizeBytes
    evictionBudget = sealedBytes / 4
    GraftStoreOps.alterProperties(spark, "orders",
      Map("eviction_budget_bytes" -> evictionBudget.toString))
    g.createTable("customer", customerSrc, keyColumns = Seq("c_custkey"), provider = "row")
    GraftRowOps.createIndex(spark, "customer", "c_acctbal")
    g.createMaterializedView(View, ViewSql, buckets = Buckets)
  }

  private def schema = ordersSrc.schema

  /** The orders table as the replayed writes leave it. */
  private val model = mutable.Map.empty[Long, Row]

  def ops(): Iterator[Op] = {
    model.clear()
    model ++= initialOrders
    stream(seed, inputs).map(toOp)
  }

  private def toOp(spec: Spec): Op = {
    def sql(text: String)(p: Probe) = p.span("graft", "spark.sql")(spark.sql(text).collect().toSeq)
    def frame(rows: Seq[Row]) = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    spec match {
      case OrderLookup(k) =>
        val want = model.get(k).toSeq
        Op("order_lookup", Kind.Read, p =>
          Answer(sql(s"SELECT * FROM orders WHERE o_orderkey = $k")(p), Answers.diff(_, want)))
      case CustLookup(k) =>
        val want = customers.get(k).toSeq
        Op("customer_lookup", Kind.Read, p =>
          Answer(sql(s"SELECT * FROM customer WHERE c_custkey = $k")(p), Answers.diff(_, want)))
      case CustRange(lo, hi) =>
        val want = customers.valuesIterator.filter { r => val b = r.getDouble(3); b >= lo && b <= hi }
          .map(r => Row(r.getLong(0))).toSeq
        Op("customer_range", Kind.Read, p => Answer(
          sql(s"SELECT c_custkey FROM customer WHERE c_acctbal BETWEEN $lo AND $hi")(p),
          Answers.diff(_, want)))
      case Dashboard =>
        val want = dashboard(model.valuesIterator)
        Op("dashboard", Kind.Read, p => {
          val df = spark.sql(DashboardSql)
          val got = p.span("graft", "spark.sql")(df.collect().toSeq)
          if (p ne Probe.Off) {
            p.add("store.mv_reads", 1)
            if (df.queryExecution.optimizedPlan.toString.contains(View)) p.add("store.mv_served", 1)
          }
          Answer(got, Answers.diff(_, want))
        })
      case Insert(rows) =>
        rows.foreach(r => model(r.getLong(0)) = r)
        Op("insert", Kind.Write, p => { p.span("graft", "insert")(g.insert("orders", frame(rows))); Answer.Written })
      case Put(rows) =>
        rows.foreach(r => model(r.getLong(0)) = r)
        Op("put", Kind.Write, p => { p.span("graft", "putInto")(g.putInto("orders", frame(rows))); Answer.Written })
      case Update(keys, priority) =>
        keys.foreach { k => model.get(k).foreach(r => model(k) = updated(r, priority)) }
        Op("update", Kind.Write, p => {
          p.span("graft", "update")(g.update("orders", col("o_orderkey").isin(keys: _*),
            "o_orderpriority" -> lit(priority), "o_totalprice" -> (col("o_totalprice") + lit(1.0))))
          Answer.Written
        })
      case Delete(keys) =>
        keys.foreach(model.remove)
        Op("delete", Kind.Write, p => {
          p.span("graft", "delete")(g.delete("orders", col("o_orderkey").isin(keys: _*))); Answer.Written
        })
      case Refresh =>
        Op("refresh", Kind.Maint, p => {
          val path = p.span("graft", "refreshMaterializedView")(g.refreshMaterializedView(View))
          p.add(s"store.mv_refresh.$path", 1)
          Answer.Written
        })
      case Compact =>
        Op("compact", Kind.Maint, p => {
          p.span("store", "compact")(GraftStoreOps.compact(spark, "orders")); Answer.Written
        })
    }
  }

  override def finalChecks(): Seq[Option[String]] = {
    val got = spark.sql("SELECT * FROM orders").collect()
    val byKey = got.iterator.map(r => r.getLong(0) -> r).toMap
    Seq(if (got.length != model.size || byKey.size != model.size)
      Some(s"final orders contents: ${got.length} rows, expected ${model.size}")
    else model.collectFirst { case (k, r) if !byKey.get(k).exists(Answers.same(_, r)) =>
      s"final orders contents: key $k is ${byKey.get(k)}, expected $r" })
  }
}

object HtapMixed {
  val View = "orders_by_priority"
  val ViewSql: String =
    "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total FROM orders GROUP BY o_orderpriority"
  val DashboardSql: String = ViewSql
  val Buckets = 8
  val ReadsPerCycle = 12
  val WritesPerBurst = 6
  /** Write kinds of a mixed burst (insert, put, update, delete), and
    * which of a unit's bursts are append-only: every unit has the same
    * mix, in a seeded order. The first burst of a unit is always mixed: a
    * refresh right after a compact rebuilds in full whatever the burst,
    * so the append-only burst comes second or third, and its refresh
    * takes the O(delta) path in every unit.
    */
  val MixedBurst: Seq[Int] = Seq(0, 1, 2, 2, 3, 3)
  val BurstKinds: Seq[Boolean] = Seq(false, true, false)
  val CyclesPerUnit: Int = BurstKinds.size
  /** Rows touched by one write. */
  val RowsPerWrite = 4
  /** Width of a `c_acctbal` range lookup. */
  val RangeWidth = 15.0

  /** The data a stream is generated from. */
  final case class Inputs(orderKeys: Vector[Long], custKeys: Vector[Long], priorities: Vector[String])

  sealed trait Spec
  final case class OrderLookup(key: Long) extends Spec
  final case class CustLookup(key: Long) extends Spec
  final case class CustRange(lo: Double, hi: Double) extends Spec
  case object Dashboard extends Spec
  final case class Insert(rows: Seq[Row]) extends Spec
  final case class Put(rows: Seq[Row]) extends Spec
  final case class Update(keys: Seq[Long], priority: String) extends Spec
  final case class Delete(keys: Seq[Long]) extends Spec
  case object Refresh extends Spec
  case object Compact extends Spec

  def updated(r: Row, priority: String): Row =
    Row(r.get(0), r.get(1), r.get(2), r.getDouble(3) + 1.0, r.get(4), priority)

  def dashboard(rows: Iterator[Row]): Seq[Row] = {
    val acc = mutable.Map.empty[String, (Long, Double)]
    rows.foreach { r =>
      val (n, s) = acc.getOrElse(r.getString(5), (0L, 0.0))
      acc(r.getString(5)) = (n + 1, s + r.getDouble(3))
    }
    acc.map { case (p, (n, s)) => Row(p, n, s) }.toSeq
  }

  /** The seeded op stream. It depends only on the seed and `in`: which
    * keys exist is tracked here, not read from the store.
    */
  def stream(seed: Long, in: Inputs): Iterator[Spec] = {
    val rnd = new Random(seed)
    val keys = mutable.ArrayBuffer.empty[Long] ++= in.orderKeys // insertion order
    val live = mutable.HashSet.empty[Long] ++= in.orderKeys
    var nextKey = in.orderKeys.last + 1
    // recent keys are hot: the cube of a uniform draw, counted from the end
    def recentKey(): Long = keys(keys.size - 1 - (math.pow(rnd.nextDouble(), 3) * keys.size).toInt)
    def liveKeys(n: Int): Seq[Long] = {
      val out = mutable.LinkedHashSet.empty[Long]
      while (out.size < n) { val k = recentKey(); if (live(k)) out += k }
      out.toSeq
    }
    def newRow(k: Long): Row = Row(k, in.custKeys(rnd.nextInt(in.custKeys.size)), "O",
      math.round(rnd.nextDouble() * 4000000) / 100.0,
      java.time.LocalDateTime.of(1998, 8, 1, 0, 0).plusDays(rnd.nextInt(90)),
      in.priorities(rnd.nextInt(in.priorities.size)))
    def fresh(n: Int): Seq[Row] = (0 until n).map { _ =>
      val k = nextKey; nextKey += 1; keys += k; live += k; newRow(k)
    }
    def reads(): Seq[Spec] = rnd.shuffle(
      Seq.fill(5)(OrderLookup(recentKey())) ++
        Seq.fill(3)(CustLookup(in.custKeys(rnd.nextInt(in.custKeys.size)))) ++
        Seq.fill(2) { val lo = math.round(rnd.nextDouble() * 10000 - 1000).toDouble; CustRange(lo, lo + RangeWidth) } ++
        Seq.fill(ReadsPerCycle - 10)(Dashboard))
    def write(kind: Int): Spec = kind match {
      case 0 => Insert(fresh(RowsPerWrite))
      case 1 => Put(liveKeys(RowsPerWrite / 2).map(k => newRow(k)) ++ fresh(RowsPerWrite / 2))
      case 2 => Update(liveKeys(RowsPerWrite), in.priorities(rnd.nextInt(in.priorities.size)))
      case _ => val ks = liveKeys(RowsPerWrite); ks.foreach(live.remove); Delete(ks)
    }
    def burst(appendOnly: Boolean): Seq[Spec] =
      if (appendOnly) Seq.fill(WritesPerBurst)(write(0))
      else rnd.shuffle(MixedBurst).map(write)
    Iterator.continually {
      (BurstKinds.head +: rnd.shuffle(BurstKinds.tail)).flatMap(b => reads() ++ burst(b) :+ Refresh) :+
        Compact
    }.flatten
  }
}
