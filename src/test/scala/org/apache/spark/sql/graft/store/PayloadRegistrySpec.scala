package org.apache.spark.sql.graft.store

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import org.scalatest.funsuite.AnyFunSuite

/** The shared payload tier on its own, with a small payload type: LRU
  * order, size metadata across a spill, transient fault-back, release
  * and the spill/release lock. No Spark session needed.
  */
class PayloadRegistrySpec extends AnyFunSuite {

  final class Blob(val bytes: Array[Byte]) extends Serializable

  private def registry() =
    new PayloadRegistry[Blob]("test blob", _.bytes.length.toLong, "graft-test-overflow-", "blob")

  private def blob(n: Int, fill: Int) = new Blob(Array.fill(n)(fill.toByte))

  test("LRU spills the least-recently-touched ids first") {
    val r = registry()
    val Seq(a, b, c) = Seq(1, 2, 3).map(i => r.put(blob(100, i)))
    r.get(a) // a is now the most recent; b is the least
    r.enforceBudget(Seq(a, b, c), 200L)
    assert(!r.isResident(b) && r.isResident(a) && r.isResident(c))
    r.enforceBudget(Seq(a, b, c), 100L)
    assert(!r.isResident(c) && r.isResident(a))
    r.enforceBudget(Seq(a, b, c), 100L) // already within budget: no-op
    assert(r.isResident(a))
    r.release(Seq(a, b, c))
  }

  test("a spill keeps sizeBytes and zeroes residentBytes") {
    val r = registry()
    val id = r.put(blob(64, 7))
    assert(r.sizeBytes(id) == 64L && r.residentBytes(id) == 64L)
    r.spill(id)
    assert(!r.isResident(id))
    assert(r.sizeBytes(id) == 64L)
    assert(r.residentBytes(id) == 0L)
    assert(Files.exists(r.spillPath(id)))
    r.release(Seq(id))
  }

  test("a faulted-back read returns equal content and stays off the heap tier") {
    val r = registry()
    val id = r.put(blob(32, 9))
    r.spill(id)
    val back = r.get(id)
    assert(back.bytes.sameElements(Array.fill(32)(9.toByte)))
    assert(!r.isResident(id) && r.residentBytes(id) == 0L)
    assert(r.peek(id).isEmpty, "peek must never fault a payload in")
    r.release(Seq(id))
  }

  test("release deletes the spill file; a later get throws payload missing") {
    val r = registry()
    val id = r.put(blob(16, 1))
    r.spill(id)
    val path = r.spillPath(id)
    assert(Files.exists(path))
    r.release(Seq(id))
    assert(!Files.exists(path))
    assert(r.sizeBytes(id) == 0L)
    val e = intercept[IllegalStateException](r.get(id))
    assert(e.getMessage.contains("payload missing"))
  }

  test("concurrent spill and release of one id leave neither a file nor an entry") {
    val r = registry()
    (1 to 200).foreach { i =>
      val id = r.put(blob(256, i))
      val go = new CountDownLatch(1)
      val spiller = new Thread(() => { go.await(); r.spill(id) })
      val releaser = new Thread(() => { go.await(); r.release(Seq(id)) })
      spiller.start(); releaser.start()
      go.countDown()
      spiller.join(); releaser.join()
      assert(!Files.exists(r.spillPath(id)), s"spill file of released id $id")
      assert(!r.isResident(id) && r.sizeBytes(id) == 0L)
      intercept[IllegalStateException](r.get(id))
    }
  }
}
