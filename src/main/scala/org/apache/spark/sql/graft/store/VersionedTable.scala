package org.apache.spark.sql.graft.store

import org.apache.spark.sql.types.StructType

/** A payload handle stamped with its seal wall-clock — the age EXPIRE
  * tests against.
  */
trait SealedRef {
  def createdAtMs: Long
}

/** What both stores' immutable table states share: a schema and payload
  * refs under an optional EXPIRE time-to-live (seconds, 0 = none).
  */
trait StoreSnapshot[Ref <: SealedRef] {
  def schema: StructType
  def refs: Vector[Ref]
  def expireSeconds: Long

  /** Ref-granularity TTL check (EXPIRE, reference region timeToLive):
    * true once the ref was sealed more than the TTL ago — then every row
    * in it is older than the TTL.
    */
  def isExpired(ref: Ref, nowMs: Long): Boolean =
    expireSeconds > 0 && ref.createdAtMs > 0 &&
      nowMs - ref.createdAtMs > expireSeconds * 1000L

  /** Refs with at least one row inside the TTL — what every read and
    * mutation-addressing path enumerates (expired rows are invisible).
    * One clock read per call, so a single planning sees one consistent
    * cut.
    */
  def liveRefs: Vector[Ref] =
    if (expireSeconds <= 0) refs
    else { val now = StoreClock.nowMs; refs.filterNot(isExpired(_, now)) }
}

/** A table as an immutable snapshot `S` swapped atomically under the
  * table lock — the swap and lease scaffolding both stores share.
  *
  * Reader-lease payload GC (see [[LeaseGc]]): the payload ids `R` a swap
  * supersedes stay resolvable while any scan pinned to an older snapshot
  * is still reachable (a physical plan is multi-execution, so lease
  * lifetime is reachability of the Scan/reader factory, not a count of
  * one execution's reader closes); then `free` releases them.
  */
abstract class VersionedTable[S <: StoreSnapshot[_ <: SealedRef], R](
    val name: String,
    initial: S,
    free: R => Unit,
    isEmpty: R => Boolean) {
  @volatile private var current: S = initial
  def snapshot: S = current
  def schema: StructType = current.schema

  private val gc = new LeaseGc[R](free)

  /** Atomically capture the snapshot AND open a reader lease at its
    * epoch — scans call this once, then register themselves (and their
    * reader factory) via [[addLeaseOwner]]; the lease drops when every
    * owner is unreachable.
    */
  def pinSnapshot(): (S, Long) = synchronized { (current, gc.pin()) }
  def addLeaseOwner(leaseId: Long, owner: AnyRef): Unit = gc.addOwner(leaseId, owner)
  /** (live leases, pending retiree sets) — spec telemetry. */
  def gcStats: (Int, Int) = gc.stats

  def mutate(f: S => S): S = mutateRetiring { s => (f(s), None) }

  /** Snapshot swap + retiree recording in ONE critical section: two
    * concurrent commits can never interleave swap and retire (the
    * round-4 epoch-lag bug that shrank the grace window to zero).
    */
  def mutateRetiring(f: S => (S, Option[R])): S = synchronized {
    val (next, retirees) = f(current)
    current = next
    gc.onSwap(retirees.filterNot(isEmpty))
    afterSwap(next)
    next
  }

  /** Hook run inside the swap's critical section, after the swap. */
  protected def afterSwap(next: S): Unit = ()

  private[store] def flushRetired(): Unit = gc.flushAll()
}
