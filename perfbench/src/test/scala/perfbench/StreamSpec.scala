package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StreamSpec extends AnyFunSuite {
  private val queries = IndexedSeq(
    "a" -> "SELECT 1 FROM t WHERE d < TIMESTAMP '1998-03-15 00:00:00'",
    "b" -> "SELECT 2",
    "c" -> "SELECT 3 FROM t WHERE d >= DATE '1996-01-01' AND d < DATE '1997-01-01'")

  test("olap: a seed always gives the same query order and literals") {
    assert(OlapStore.stream(7, queries).take(30).toList == OlapStore.stream(7, queries).take(30).toList)
    assert(OlapStore.stream(7, queries).take(30).toList != OlapStore.stream(8, queries).take(30).toList)
  }

  test("olap: each round runs every query once") {
    OlapStore.stream(3, queries).take(30).grouped(queries.size).foreach { round =>
      assert(round.map(_._1).sorted == queries.indices)
    }
    assert(OlapStore.stream(3, queries).take(30).filter(_._1 == 1).forall(_._2 == 0))
  }

  test("olap: consecutive rounds run each dated query on other literals") {
    val rounds = OlapStore.stream(5, queries).take(3 * queries.size).toSeq
      .grouped(queries.size).map(_.toMap).toSeq
    rounds.sliding(2).foreach { case Seq(a, b) =>
      assert(a(0) != b(0) && a(2) != b(2))
      assert(a(1) == 0 && b(1) == 0)
    }
  }

  test("olap: a literal variant moves every date literal by the same amount") {
    val (_, sql) = queries(2)
    assert(OlapStore.withVariant(sql, 0) == sql)
    assert(OlapStore.withVariant(sql, 2) ==
      "SELECT 3 FROM t WHERE d >= DATE '1995-10-31' AND d < DATE '1996-10-31'")
  }

  test("olap: the 22 TPC-H rows, with the known-failing q20 kept") {
    assert(OlapStore.Queries.size == 22)
    assert(OlapStore.Queries.exists(_._1 == "q20_potential_promotion"))
  }

  private val inputs = HtapMixed.Inputs((1L to 500L).map(_ * 4).toVector,
    (1L to 50L).toVector, Vector("1-URGENT", "2-HIGH", "3-MEDIUM"))
  private def unit(seed: Long) = {
    import HtapMixed._
    stream(seed, inputs).take(CyclesPerUnit * (ReadsPerCycle + WritesPerBurst + 1) + 1).toList
  }

  test("htap: a seed always gives the same op stream") {
    assert(HtapMixed.stream(5, inputs).take(400).toList == HtapMixed.stream(5, inputs).take(400).toList)
    assert(unit(5) != unit(6))
  }

  test("htap: a unit has the fixed read, write and maintenance mix") {
    import HtapMixed._
    val ops = unit(9)
    val writes = ops.count { case _: Insert | _: Put | _: Update | _: Delete => true; case _ => false }
    assert(ops.count(_ == Refresh) == CyclesPerUnit)
    assert(ops.last == Compact)
    assert(writes == CyclesPerUnit * WritesPerBurst)
    assert(ops.size - writes - CyclesPerUnit - 1 == CyclesPerUnit * ReadsPerCycle)
  }

  test("htap: a unit opens with a mixed burst and has one append-only burst") {
    import HtapMixed._
    val ops = unit(13)
    val bursts = ops.foldLeft(List(List.empty[Spec])) {
      case (acc, Refresh) => Nil :: acc
      case (cur :: rest, op) => (op :: cur) :: rest
      case (Nil, _) => Nil
    }.reverse.init.map(_.filter { case _: Insert | _: Put | _: Update | _: Delete => true; case _ => false })
    val appendOnly = bursts.map(_.forall(_.isInstanceOf[Insert]))
    assert(appendOnly.size == CyclesPerUnit && !appendOnly.head && appendOnly.count(identity) == 1)
  }

  test("htap: writes only touch live keys and inserts use fresh keys") {
    import HtapMixed._
    val live = scala.collection.mutable.Set.empty[Long] ++= inputs.orderKeys
    HtapMixed.stream(11, inputs).take(2000).foreach {
      case Insert(rows) => rows.foreach { r => assert(!live(r.getLong(0))); live += r.getLong(0) }
      case Update(keys, _) => assert(keys.forall(live))
      case Delete(keys) => assert(keys.forall(live)); live --= keys
      case Put(rows) => live ++= rows.map(_.getLong(0))
      case _ =>
    }
  }

  test("pipeline: a seed always picks the same top-k query vectors") {
    val ids = (0L until 2000L).map(_ * 3)
    val a = PipelineBatch.topkQueries(4, ids)
    assert(a == PipelineBatch.topkQueries(4, ids))
    assert(a != PipelineBatch.topkQueries(5, ids))
    assert(a.size == PipelineBatch.TopkQueries && a.distinct.size == a.size && a.forall(ids.contains))
  }
}
