package org.apache.spark.sql.graft.store

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

/** Process-wide payload tier with LRU disk overflow — ONE region layer
  * under both stores, as in the reference, where `EVICTION_BY
  * 'LRUMEMSIZE n'` + `OVERFLOW 'true'` means the same GemFire
  * LRU-overflow region for column and row tables (StoreUtils.scala:42-58).
  *
  *  - Payloads are written directly by writer/mutation TASKS
  *    (executor-resident) and read by scan tasks; only ids cross the
  *    driver. On a real cluster this is the node-local store.
  *  - Spilled payloads live as LZ4-deflated serialized files; access
  *    reloads a TRANSIENT copy (not re-cached — a reload that re-entered
  *    the resident tier would thrash against the budget it was evicted
  *    for). On a cluster these files are executor-local disk, exactly
  *    where the payloads already live.
  *  - Sizes and access ticks are metadata, so planning
  *    (estimateStatistics) and the LRU policy never touch payloads.
  *    Sizes are computed on first ask and memoized (payloads are
  *    immutable); a spilled payload keeps its last resident size.
  *
  * `what` names the payload kind in errors; spill files are
  * `<fileStem>-<id>.lz4` in a temp directory named by `spillDirPrefix`.
  */
class PayloadRegistry[P <: Serializable](
    what: String,
    sizeOf: P => Long,
    spillDirPrefix: String,
    fileStem: String) {
  private val nextId = new AtomicLong(0)
  private val resident = TrieMap.empty[Long, P]
  private val spilledFiles = TrieMap.empty[Long, Path]
  private val sizes = TrieMap.empty[Long, Long]
  private val accessTick = new AtomicLong
  private val lastAccess = TrieMap.empty[Long, Long]

  // `File.deleteOnExit` cannot remove a non-empty directory, and spill
  // files are created AFTER the directory — so a shutdown hook sweeps
  // whatever is still live at exit (release deletes eagerly). If the JVM
  // is already shutting down at the first spill, the hook cannot
  // register and the files outlive the run like any temp file.
  private lazy val spillDir: Path = {
    val d = Files.createTempDirectory(spillDirPrefix)
    try {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try {
          val files = Files.list(d)
          try files.forEach(p => Files.deleteIfExists(p)) finally files.close()
          Files.deleteIfExists(d)
        } catch { case _: Throwable => () }
      }, spillDirPrefix + "sweep"))
    } catch { case _: IllegalStateException => () /* already shutting down */ }
    d
  }

  /** A fresh payload id. Subclasses holding other payload kinds draw
    * from the same counter, so ids never collide across kinds.
    */
  protected final def newId(): Long = nextId.incrementAndGet()

  private def touch(id: Long): Unit = lastAccess.put(id, accessTick.incrementAndGet())

  def put(p: P): Long = {
    val id = newId()
    resident.put(id, p)
    // sizes stay LAZY (see sizeBytes) — an O(rows) size fold here would
    // tax every ingest for a statistic only planning asks for
    touch(id)
    id
  }

  /** The payload, faulting a spilled one back transiently. Per-row loops
    * must hoist this out of the loop: a spilled payload deserializes on
    * every call.
    */
  def get(id: Long): P =
    // touch AFTER the hit — a blind put racing a release would leave a
    // permanent lastAccess entry for a dead id (the residual
    // hit-then-release window leaks one long per race; bounded by
    // concurrent scans, negligible)
    resident.get(id) match {
      case Some(p) =>
        touch(id)
        p
      case None => spilledFiles.get(id) match {
        case Some(path) =>
          touch(id)
          val in = new java.io.ObjectInputStream(
            new net.jpountz.lz4.LZ4BlockInputStream(Files.newInputStream(path)))
          try in.readObject().asInstanceOf[P] finally in.close()
        case None =>
          throw new IllegalStateException(s"$what payload missing: $id")
      }
    }

  /** Resident-tier peek: no spill reload, no LRU touch — for plan-time
    * heuristics that must never perturb the tier they inspect.
    */
  def peek(id: Long): Option[P] = resident.get(id)

  def isResident(id: Long): Boolean = resident.contains(id)

  /** Resident (heap) payload size; 0 once spilled. */
  def residentBytes(id: Long): Long =
    if (resident.contains(id)) sizeBytes(id) else 0L

  /** Size metadata, computed on first ask and memoized. */
  def sizeBytes(id: Long): Long = sizes.get(id) match {
    case Some(s) => s
    case None =>
      resident.get(id) match {
        case Some(p) =>
          val s = sizeOf(p)
          sizes.put(id, s)
          s
        case None => 0L
      }
  }

  /** Where [[spill]] writes `id`'s payload. */
  def spillPath(id: Long): Path = spillDir.resolve(s"$fileStem-$id.lz4")

  /** Move one resident payload to the disk tier (no-op if already there
    * or unknown). Synchronized so two concurrent evictions of the same id
    * don't double-write, and so it cannot interleave with [[release]].
    */
  def spill(id: Long): Unit = synchronized {
    resident.get(id).foreach { p =>
      sizes.put(id, sizeBytes(id)) // pin the size before the payload leaves heap
      val path = spillPath(id)
      val out = new java.io.ObjectOutputStream(
        new net.jpountz.lz4.LZ4BlockOutputStream(Files.newOutputStream(path)))
      try out.writeObject(p) finally out.close()
      spilledFiles.put(id, path)
      resident.remove(id)
    }
  }

  /** LRU eviction: spill least-recently-accessed resident payloads from
    * `ids` until their resident total is ≤ `budgetBytes`.
    */
  def enforceBudget(ids: Seq[Long], budgetBytes: Long): Unit = {
    var residentTotal = ids.map(residentBytes).sum
    if (residentTotal <= budgetBytes) return
    val lru = ids.filter(isResident).sortBy(id => lastAccess.getOrElse(id, 0L))
    var i = 0
    while (residentTotal > budgetBytes && i < lru.length) {
      val id = lru(i)
      val sz = residentBytes(id)
      spill(id)
      residentTotal -= sz
      i += 1
    }
  }

  // synchronized WITH spill(): an unsynchronized release racing a spill
  // could interleave after spill's payload read but before its
  // spilledFiles.put, resurrecting a file entry for a released id (disk
  // leak + get(id) silently serving a dead payload)
  def release(ids: Iterable[Long]): Unit = synchronized {
    ids.foreach { id =>
      resident.remove(id)
      sizes.remove(id)
      lastAccess.remove(id)
      spilledFiles.remove(id).foreach(p => Files.deleteIfExists(p))
    }
  }
}
