package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class ReferenceSpec extends AnyFunSuite {
  test("exact dedup: smallest id and count per distinct text, null texts together") {
    val got = PipelineBatch.exactDedup(Seq(3L -> "a", 1L -> "a", 2L -> "b", 5L -> null, 4L -> null))
    assert(Answers.diff(got, Seq(Row(1L, 2L), Row(2L, 1L), Row(4L, 2L))).isEmpty)
  }

  test("top-k: cosine order, the query itself excluded, ties toward the smaller id") {
    val v = Map(1L -> Array(1f, 0f), 2L -> Array(0f, 1f), 3L -> Array(1f, 1f),
      4L -> Array(2f, 2f), 5L -> Array(0f, 0f))
    val got = PipelineBatch.topK(v, Seq(1L)).take(3)
    assert(got.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))) ==
      Seq((1L, 1, 3L), (1L, 2, 4L), (1L, 3, 2L)))
    assert(math.abs(got.head.getDouble(3) - math.sqrt(0.5)) < 1e-12)
  }

  test("digest: row order and last-digit noise in doubles do not change it") {
    val a = Seq(Row(1L, 0.1 + 0.2), Row(2L, 1.5))
    val b = Seq(Row(2L, 1.5), Row(1L, 0.3))
    assert(Answers.digest(a) == Answers.digest(b))
    assert(Answers.digest(a) != Answers.digest(Seq(Row(1L, 0.31), Row(2L, 1.5))))
  }

  test("the recorded answers cover every operator without a plain-Scala reference") {
    assert(ExpectedAnswers.load().keySet == ExpectedAnswers.Ops.toSet)
  }
}
