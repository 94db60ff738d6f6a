/*
 * Catalyst side of materialized views: the defining-query analyzer (what
 * shape of SELECT can be materialized), the storage-column builders, and
 * the transparent rewrite rule.
 *
 * The rewrite is the exact-answer sibling of the reference's AQP sample
 * routing (SnappySession routes WITH ERROR queries to sample tables by
 * plan substitution); here substitution is gated on a metadata freshness
 * PROOF instead of an error bound, so it never changes results.
 */
package org.apache.spark.sql.graft.store

import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, LongType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

object MatViewSupport extends PredicateHelper {

  import MatViews.MvAgg

  /** Strip name-only wrappers between an Aggregate and its scan:
    * SubqueryAlias (temp-view resolution), attribute-only Projects
    * (column pruning), View bodies.
    */
  @scala.annotation.tailrec
  private[store] def strip(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, c) => strip(c)
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => strip(c)
    case v: View => strip(v.child)
    case other => other
  }

  /** Unwrap `child` down to a graft store relation, collecting at most
    * one Filter on the way (CombineFilters has merged stacks by the time
    * the optimizer rule runs; at CREATE time the analyzer leaves the one
    * WHERE as one Filter).
    */
  def unwrapScan(child: LogicalPlan,
      allowFilter: Boolean): Option[(Option[Expression], GraftTable, DataSourceV2Relation)] =
    strip(child) match {
      // a batch_ids-pinned read is a MAINTENANCE scan addressing exact
      // seals (a view's own delta/build pass above all): substituting a
      // sibling view's whole-table summary for it would merge full-table
      // totals as if they were the delta — a corrupt view that then
      // PROVES fresh. Never rewrite pinned scans.
      case r: DataSourceV2Relation if !r.options.containsKey("batch_ids") =>
        r.table match {
          case gt: GraftTable => Some((None, gt, r))
          case _ => None
        }
      case Filter(cond, inner) if allowFilter =>
        unwrapScan(inner, allowFilter = false).map {
          case (_, gt, r) => (Some(cond), gt, r) // inner filter impossible (allowFilter=false)
        }
      case _ => None
    }

  /** Analysis-time sugar the optimizer will have desugared on the QUERY
    * side by rewrite time; the CREATE path sees the ANALYZED plan and
    * must desugar itself so both sides canonicalize identically
    * (BETWEEN becomes its >=/<= conjunct pair — matched explicitly, not
    * via RuntimeReplaceable.replacement, because Spark 4 wraps that
    * replacement in With/CommonExpressionDef nodes).
    */
  private[store] def desugar(e: Expression): Expression = e.transformUp {
    case Between(input, lower, upper, _) =>
      And(GreaterThanOrEqual(input, lower), LessThanOrEqual(input, upper))
  }

  /** The column side of a comparison conjunct: a bare attribute, or an
    * attribute under the LOSSLESS widening cast the analyzer inserts
    * for mixed-type comparisons (e.g. a timestamp_ntz column against a
    * TIMESTAMP literal, an int column against a bigint literal).
    */
  private def cmpSide(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference => Some(a)
    case c @ Cast(a: AttributeReference, _, _, _)
        if Cast.canUpCast(a.dataType, c.dataType) => Some(a)
    case _ => None
  }

  private def sided(l: Expression, r: Expression, op: String,
      mirrored: String): Option[(AttributeReference, String, Expression)] =
    cmpSide(l) match {
      case Some(a) if r.foldable => Some((a, op, r))
      case _ => cmpSide(r).filter(_ => l.foldable).map(a => (a, mirrored, l))
    }

  /** Normalize a foldable comparison operand into the COLUMN's own
    * type, refusing (None) unless the value round-trips exactly. This
    * is what makes the CREATE side (analyzed plan: `CAST(col) op lit`
    * in the widened type) and the query side (optimized plan:
    * UnwrapCastInBinaryComparison has moved the cast ONTO the literal —
    * `col op lit-in-col-type`) canonicalize to the SAME string: both
    * roads end at the column-typed literal. The round-trip equality
    * check keeps it exact — a value not representable in the column
    * type (5.5 against an int column, an out-of-range long) declines
    * rather than silently shifting the predicate.
    */
  private def litTo(l: Expression, dt: DataType): Option[Literal] =
    scala.util.Try {
      val v = l.eval()
      if (v == null) None
      else if (l.dataType == dt) Some(Literal.create(v, dt))
      else {
        val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
        val down = Cast(Literal.create(v, l.dataType), dt, tz).eval()
        if (down == null) None
        else {
          val back = Cast(Literal.create(down, dt), l.dataType, tz).eval()
          if (back == v) Some(Literal.create(down, dt)) else None
        }
      }
    }.toOption.flatten

  /** One comparison conjunct in (attribute, operator, column-typed
    * literal) shape, for op ∈ {=, >=, <=, >, <} — either operand order
    * (a flipped range MIRRORS the operator: `lit <= col` IS
    * `col >= lit`), literal side foldable. Foldable-but-Unevaluable
    * sides (current_date() on an ANALYZED, pre-FinishAnalysis plan —
    * the CREATE path) fail litTo's fold and return None, so CREATE
    * refuses them with the actionable message instead of an opaque
    * UnsupportedOperationException.
    */
  private def cmpShape(e: Expression): Option[(AttributeReference, String, Literal)] = {
    val raw = e match {
      case EqualTo(l, r) => sided(l, r, "=", "=")
      case GreaterThanOrEqual(l, r) => sided(l, r, ">=", "<=")
      case LessThanOrEqual(l, r) => sided(l, r, "<=", ">=")
      case GreaterThan(l, r) => sided(l, r, ">", "<")
      case LessThan(l, r) => sided(l, r, "<", ">")
      case _ => None
    }
    raw.flatMap { case (a, op, l) => litTo(l, a.dataType).map(lit => (a, op, lit)) }
  }

  /** Canonical form of one comparison conjunct `col <op> <literal>` for
    * op ∈ {=, >=, <=, >, <} (BETWEEN arrives desugared to the >=/<=
    * pair; the literal renders in the COLUMN's type — see [[litTo]]).
    * The SAME string serves matching (query conjunct == stored
    * conjunct, VERBATIM containment — no implication engine: `> 4` does
    * not serve `>= 5`) and execution (expr(s) over the base scan during
    * build/refresh). None for any other predicate shape.
    */
  def canonicalEq(e: Expression): Option[String] =
    cmpShape(e).map { case (a, op, l) =>
      s"${canonicalName(a)} $op ${litSql(l)}"
    }.orElse(inShape(e).map { case (a, lits) =>
      inCanon(canonicalName(a), lits)
    }).orElse(rangeUnion(e))

  /** Disjunction-of-RANGES canonical form: `a < 5 OR a >= 10` — any mix
    * of comparisons / IN over ONE column with at least one inequality —
    * folds to a normalized interval union: one left ray, the uncovered
    * points sorted, one right ray, rendered as plain SQL so the SAME
    * string both matches and executes (expr() at build/refresh).
    * Normalizations make spelling irrelevant: same-side rays keep the
    * most inclusive bound (`a < 5 OR a < 3` → `a < 5`), covered points
    * drop, a point ON an open ray's endpoint CLOSES it
    * (`a < 110 OR a = 110` → `a <= 110`), and a single ray with no
    * points renders exactly as the plain comparison — so the OR
    * spelling and `a <= 110` land on one canonical string. Rays that
    * overlap into a column-domain tautology decline (a view would not
    * carry one, and set algebra over an unknown domain can't serve it).
    */
  private def rangeUnion(e: Expression): Option[String] = e match {
    case o: Or =>
      def flat(x: Expression): Seq[Expression] = x match {
        case Or(l, r) => flat(l) ++ flat(r)
        case other => Seq(other)
      }
      val parts = flat(o).map { d =>
        cmpShape(d).map { case (a, op, l) => (a, op, Seq(l)) }
          .orElse(inShape(d).map { case (a, ls) => (a, "=", ls) })
      }
      if (parts.exists(_.isEmpty)) return None
      val ps = parts.flatten
      val a = ps.head._1
      if (!ps.forall(_._1.exprId == a.exprId)) return None
      if (!ps.exists(_._2 != "=")) return None // pure equalities: IN form
      val dt = a.dataType
      val ord = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(dt)
      var left: Option[(Any, Boolean)] = None // (-inf, v) or v]
      var right: Option[(Any, Boolean)] = None // (v, +inf) or [v
      var points = Vector.empty[Literal]
      ps.foreach { case (_, op, ls) =>
        op match {
          case "=" => points ++= ls
          case "<" | "<=" =>
            val v = ls.head.value; val c = op == "<="
            left = Some(left match {
              case Some((lv, lc)) =>
                if (ord.gt(lv, v)) (lv, lc)
                else if (ord.lt(lv, v)) (v, c)
                else (v, lc || c)
              case None => (v, c)
            })
          case _ => // ">" | ">="
            val v = ls.head.value; val c = op == ">="
            right = Some(right match {
              case Some((rv, rc)) =>
                if (ord.lt(rv, v)) (rv, rc)
                else if (ord.gt(rv, v)) (v, c)
                else (v, rc || c)
              case None => (v, c)
            })
        }
      }
      var l2 = left; var r2 = right
      var pts = points.map(p => (litSql(p), p)).distinctBy(_._1)
        .sortBy(_._1).map(_._2)
      var changed = true
      while (changed) {
        changed = false
        pts = pts.filter { p =>
          val v = p.value
          if (l2.exists { case (lv, lc) =>
            ord.lt(v, lv) || (lc && ord.equiv(v, lv)) }) false // covered
          else if (r2.exists { case (rv, rc) =>
            ord.gt(v, rv) || (rc && ord.equiv(v, rv)) }) false // covered
          else if (l2.exists { case (lv, lc) => !lc && ord.equiv(v, lv) }) {
            l2 = l2.map { case (lv, _) => (lv, true) }; changed = true; false
          } else if (r2.exists { case (rv, rc) => !rc && ord.equiv(v, rv) }) {
            r2 = r2.map { case (rv, _) => (rv, true) }; changed = true; false
          } else true
        }
      }
      // overlapping rays cover the whole domain — a tautology: decline
      // ((-inf,v) ∪ (v,+inf) is NOT one: it excludes v and stays)
      (l2, r2) match {
        case (Some((lv, lc)), Some((rv, rc)))
          if ord.gt(lv, rv) || (ord.equiv(lv, rv) && (lc || rc)) => return None
        case _ =>
      }
      val name = canonicalName(a)
      def render(v: Any) = litSql(Literal.create(v, dt))
      val pieces =
        l2.map { case (v, c) => s"$name ${if (c) "<=" else "<"} ${render(v)}" }.toSeq ++
          pts.map(p => s"$name = ${litSql(p)}") ++
          r2.map { case (v, c) => s"$name ${if (c) ">=" else ">"} ${render(v)}" }.toSeq
      if (pieces.isEmpty) None
      else if (pieces.size == 1) Some(pieces.head) // degenerate: the plain form
      else Some(pieces.mkString("(", " OR ", ")"))
    case _ => None
  }

  /** Canonical IN rendering: literals SORTED by their rendered form and
    * deduplicated, so `IN (3, 1, 2, 1)` and `IN (1, 2, 3)` canonicalize
    * identically on the CREATE and the query side; a single surviving
    * literal renders as `=` — the optimizer rewrites one-element IN to
    * EqualTo on the query side, and both roads must land on one string.
    */
  private def inCanon(name: String, lits: Seq[Literal]): String =
    if (lits.size == 1) s"$name = ${litSql(lits.head)}"
    else s"$name IN (${lits.map(litSql).mkString(", ")})"

  /** `col IN (literals)` in (attribute, column-typed sorted distinct
    * literals) shape. Matches the analyzed CREATE side (In over a
    * possibly-cast column) AND the optimized query side (In, or InSet
    * once OptimizeIn converts past the threshold — its values are
    * already internal, in the comparison type). Every element must
    * round-trip into the column's own type (litTo) or the whole
    * predicate declines; NULL elements decline (IN over NULL is
    * three-valued, not a row filter the view could have applied).
    */
  private def inShape(e: Expression): Option[(AttributeReference, Seq[Literal])] = {
    def downAll(a: AttributeReference, lits: Seq[Literal]) = {
      val down = lits.map(l => litTo(l, a.dataType))
      if (down.exists(_.isEmpty) || down.isEmpty) None
      else Some((a, down.flatten.map(l => (litSql(l), l))
        .distinctBy(_._1).sortBy(_._1).map(_._2)))
    }
    e match {
      case In(v, list) if list.nonEmpty && list.forall(_.foldable) =>
        cmpSide(v).flatMap { a =>
          val lits = list.flatMap(l => scala.util.Try(l.eval()).toOption
            .filter(_ != null).map(Literal(_, l.dataType)))
          if (lits.size != list.size) None else downAll(a, lits)
        }
      case InSet(v, hset) if hset.nonEmpty =>
        cmpSide(v).flatMap { a =>
          if (hset.contains(null)) None
          else downAll(a, hset.toSeq.map(Literal(_, v.dataType)))
        }
      // a disjunction of equalities / IN / InSet on the SAME column is
      // the IN predicate in disguise: `a = 1 OR a = 3` canonicalizes to
      // `a IN (1, 3)`, so a view created with either spelling serves a
      // query written with the other (inCanon's sort/dedup makes the
      // rendering order-free). Any disjunct of another shape — a range,
      // a different column, IS NULL — declines the whole conjunct (an
      // OR the view didn't apply can't be proven contained).
      case o: Or =>
        def flat(x: Expression): Seq[Expression] = x match {
          case Or(l, r) => flat(l) ++ flat(r)
          case other => Seq(other)
        }
        val parts = flat(o).map {
          case eq @ EqualTo(_, _) => cmpShape(eq).collect {
            case (a, "=", l) => (a, Seq(l))
          }
          case in @ (_: In | _: InSet) => inShape(in)
          case _ => None
        }
        if (parts.exists(_.isEmpty)) None
        else {
          val ps = parts.flatten
          val a = ps.head._1
          if (ps.forall(_._1.exprId == a.exprId)) downAll(a, ps.flatMap(_._2))
          else None
        }
      case _ => None
    }
  }

  /** Literal rendering for canonical strings. `Literal.sql` renders
    * TIMESTAMP values in the CURRENT session's `spark.sql.session
    * .timeZone` — a canonical string built in one session and
    * re-applied (expr() during refresh, incl. the JDBC adopt path) in a
    * session with a different zone would silently shift the view's
    * window. Timestamps render as `timestamp_micros(<epoch-micros>)`
    * instead: the internal value IS zone-free, so matching AND refresh
    * agree across sessions regardless of timezone. DATE / TIMESTAMP_NTZ
    * literals have no zone and keep Literal.sql.
    */
  private def litSql(l: Literal): String = l.dataType match {
    case org.apache.spark.sql.types.TimestampType =>
      s"timestamp_micros(${l.value.asInstanceOf[Long]}L)"
    case _ => l.sql
  }

  def canonicalName(a: AttributeReference): String =
    "`" + a.name.toLowerCase(Locale.ROOT) + "`"

  // ---- join-view canonical forms --------------------------------------

  /** Table-QUALIFIED canonical column: `` `table`.`col` `` — the string
    * both matches (view definition vs query plan) and executes (expr()
    * under per-table DataFrame aliases during build/refresh).
    */
  def qualName(table: String, col: String): String =
    "`" + table.toLowerCase(Locale.ROOT) + "`.`" + col.toLowerCase(Locale.ROOT) + "`"

  /** Qualified comparison-vs-literal conjunct (same op family as
    * [[canonicalEq]]), or None.
    */
  def canonicalEqQual(e: Expression,
      owner: AttributeReference => Option[String]): Option[String] =
    cmpShape(e).flatMap { case (a, op, l) =>
      owner(a).map(t => s"${qualName(t, a.name)} $op ${litSql(l)}")
    }.orElse(inShape(e).flatMap { case (a, lits) =>
      owner(a).map(t => inCanon(qualName(t, a.name), lits))
    })

  /** One side of an equi-join conjunct: a bare column, or a column the
    * analyzer wrapped in a LOSSLESS widening cast (mismatched join-key
    * types, e.g. int = bigint). Upcasts are injective, so equality of
    * the cast values IS equality of the originals; and the same column
    * pair gets the same implicit cast on the CREATE and the query side,
    * so canonicalizing on the underlying columns stays consistent (the
    * build re-analyzes `t.a = u.b` into the identical cast).
    */
  private def joinSide(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference => Some(a)
    case c @ Cast(a: AttributeReference, _, _, _)
        if Cast.canUpCast(a.dataType, c.dataType) => Some(a)
    case _ => None
  }

  /** Canonical equi-join conjunct between two DIFFERENT tables — the
    * two sides sort lexicographically so `a.x = b.y` and `b.y = a.x`
    * canonicalize identically (join reorder / condition flip immune).
    */
  def canonicalJoinEq(e: Expression,
      owner: AttributeReference => Option[String]): Option[String] = e match {
    case EqualTo(l, r) =>
      (joinSide(l), joinSide(r)) match {
        case (Some(a), Some(b)) =>
          (owner(a), owner(b)) match {
            case (Some(ta), Some(tb)) if ta != tb =>
              val sa = qualName(ta, a.name)
              val sb = qualName(tb, b.name)
              Some(if (sa <= sb) s"$sa = $sb" else s"$sb = $sa")
            case _ => None
          }
        case _ => None
      }
    case _ => None
  }

  /** Recognize one defining/query aggregate call: a bare supported
    * function over a bare column (or count(*)/count(1)). Returns
    * (func, input attribute — None for count_star) or None overall.
    */
  def matchAggAttr(e: Expression): Option[(String, Option[AttributeReference])] = e match {
    case AggregateExpression(fn, Complete, false, None, _) => fn match {
      case s: Sum => s.child match {
        case a: AttributeReference => Some(("sum", Some(a)))
        case _ => None
      }
      case c: Count => c.children match {
        case Seq(a: AttributeReference) => Some(("count", Some(a)))
        case Seq(Literal(_, _)) => Some(("count_star", None))
        case _ => None
      }
      case m: Min => m.child match {
        case a: AttributeReference => Some(("min", Some(a)))
        case _ => None
      }
      case m: Max => m.child match {
        case a: AttributeReference => Some(("max", Some(a)))
        case _ => None
      }
      case av: Average => av.child match {
        // double averages re-derive as Σsum/Σcnt; decimal averages
        // re-derive BIT-exactly by replaying Average's own decimal
        // evaluate tree over the merged slots (the stored sum column
        // already has Average's internal sum-buffer type, decimal
        // p+10/s) — see MatViewRewrite.derive
        case a: AttributeReference if av.dataType == DoubleType ||
            av.dataType.isInstanceOf[DecimalType] =>
          Some(("avg", Some(a)))
        case _ => None
      }
      // sketch-typed slot: approx_count_distinct materializes as a
      // MERGEABLE DataSketches HLL (union across rows/epochs dedupes,
      // which numeric counts cannot) — same summary-answers-estimates
      // contract as StatsApproxDistinctRule, rsd-gated at rewrite time
      case h: HyperLogLogPlusPlus => h.child match {
        case a: AttributeReference => Some(("approx_distinct", Some(a)))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  /** [[matchAggAttr]] with bare column names (single-table views). */
  def matchAggCall(e: Expression): Option[(String, String)] =
    matchAggAttr(e).map { case (f, a) => (f, a.map(_.name).getOrElse("")) }

  /** DataSketches HLL lgConfigK for sketch slots; its standard error
    * (1.04/√2^lgK ≈ 1.63%) is the floor a query's rsd must tolerate.
    */
  val HllLgK = 12
  val HllRse: Double = 1.04 / math.sqrt(1 << HllLgK)

  /** Storage column names for agg slot `i` — sum/count pairs for avg. */
  def storageCols(func: String, i: Int): Seq[(String, String)] = func match {
    case "sum" => Seq((s"__g${i}_sum", "sum"))
    case "count" | "count_star" => Seq((s"__g${i}_cnt", "sum"))
    case "min" => Seq((s"__g${i}_min", "min"))
    case "max" => Seq((s"__g${i}_max", "max"))
    case "avg" => Seq((s"__g${i}_sum", "sum"), (s"__g${i}_cnt", "sum"))
    case "approx_distinct" => Seq((s"__g${i}_hll", "hll"))
  }

  /** The DataFrame aggregates that POPULATE the storage columns from the
    * base table (build + incremental delta share these).
    */
  def buildAggs(aggs: Seq[MvAgg]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    aggs.zipWithIndex.flatMap {
      case (MvAgg("sum", in, _), i) => Seq(sum(col(in)).as(s"__g${i}_sum"))
      case (MvAgg("count", in, _), i) => Seq(count(col(in)).as(s"__g${i}_cnt"))
      case (MvAgg("count_star", _, _), i) => Seq(count(lit(1)).as(s"__g${i}_cnt"))
      case (MvAgg("min", in, _), i) => Seq(min(col(in)).as(s"__g${i}_min"))
      case (MvAgg("max", in, _), i) => Seq(max(col(in)).as(s"__g${i}_max"))
      case (MvAgg("avg", in, _), i) =>
        Seq(sum(col(in)).as(s"__g${i}_sum"), count(col(in)).as(s"__g${i}_cnt"))
      case (MvAgg("approx_distinct", in, _), i) =>
        Seq(hll_sketch_agg(col(in), lit(HllLgK)).as(s"__g${i}_hll"))
      case (MvAgg(f, _, _), _) => throw new IllegalArgumentException(
        s"materialized view: unsupported aggregate '$f'")
    }
  }

  /** The DataFrame aggregates that MERGE existing storage rows with a
    * delta (incremental refresh): sums and counts add, min/max take
    * extrema — derived from the storage-column suffix so build and merge
    * can never disagree on a slot's semantics.
    */
  def mergeAggs(storageNames: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    storageNames.map { n =>
      val merged =
        if (n.endsWith("_min")) min(col(n))
        else if (n.endsWith("_max")) max(col(n))
        else if (n.endsWith("_hll")) hll_union_agg(col(n))
        else sum(col(n))
      // sum() widens (long→long is stable but decimal grows precision):
      // the merge casts back to the stored schema (GraftStoreOps.conform)
      merged.as(n)
    }
  }

  /** Parsed defining query. `tables` in leaf order (head = the base /
    * fact table); `groupQual`/`joinConds` empty for single-table views.
    * For join views, `MvAgg.input` and predicate conjuncts carry the
    * QUALIFIED `` `t`.`c` `` form; `groupCols` stay bare (they name the
    * summary's storage columns and are required unambiguous).
    */
  final case class MvDefinition(
      tables: Seq[(String, GraftTable)],
      groupCols: Seq[String],
      groupQual: Seq[String],
      aggs: Seq[MvAgg],
      predicate: Seq[String],
      joinConds: Seq[String])

  /** Parse a defining query's ANALYZED plan. Throws
    * IllegalArgumentException with an actionable message when the shape
    * is not materializable. The WHERE, when present, must be a
    * conjunction of `<column> <op> <literal>` comparisons, op ∈
    * {=, >=, <=, >, <} (BETWEEN desugars to the >=/<= pair) — the
    * exact-match containment the rewrite supports; anything needing an
    * implication engine (IN, disjunctions, range subsumption) is refused
    * here rather than silently never served. A multi-table FROM must be
    * INNER equi-joins of distinct store tables whose join graph is
    * connected.
    */
  def analyzeDefinition(analyzed: LogicalPlan): MvDefinition = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      "CREATE MATERIALIZED VIEW: " + why +
        " (supported shape: SELECT <group cols>, sum/count/min/max/avg(col) " +
        "FROM <store table> [JOIN <store table> ON t.a = u.b ...] " +
        "[WHERE col =|>=|<=|>|< literal [AND ...]] GROUP BY <group cols>)")
    strip(analyzed) match {
      case Aggregate(groupExprs, resultExprs, child, _) =>
        // collect the FROM tree: inner-join leaves + every conjunct
        val leaves = Seq.newBuilder[(GraftTable, DataSourceV2Relation)]
        val conjs = Seq.newBuilder[Expression]
        def walk(p: LogicalPlan): Unit = strip(p) match {
          case j: Join =>
            if (j.joinType != Inner) fail(
              s"only INNER joins are materializable, got ${j.joinType}")
            walk(j.left); walk(j.right)
            j.condition.toSeq.map(desugar).flatMap(splitConjunctivePredicates)
              .foreach(c => conjs += c)
          case Filter(c, inner) =>
            splitConjunctivePredicates(desugar(c)).foreach(x => conjs += x)
            walk(inner)
          case r: DataSourceV2Relation if !r.options.containsKey("batch_ids") =>
            r.table match {
              case gt: GraftTable => leaves += ((gt, r))
              case _ => fail("FROM must reference graft column-store tables")
            }
          case other => fail(s"unsupported FROM shape: ${other.nodeName}")
        }
        walk(child)
        val tables = leaves.result()
        if (tables.isEmpty) fail("FROM must reference a graft store table")

        if (tables.size == 1) {
          // ---- single-table path (the original contract) ----
          val predicate = conjs.result().map { c =>
            canonicalEq(c).getOrElse(fail(
              s"WHERE must be a conjunction of <column> <op> <literal> " +
                s"comparisons (op: = >= <= > < IN), got: ${c.sql}"))
          }
          val groupCols = groupExprs.map {
            case a: AttributeReference => a.name
            case e => fail(s"group expression must be a bare column, got: ${e.sql}")
          }
          val aggs = resultExprs.flatMap {
            case a: AttributeReference if groupCols.contains(a.name) => None
            case Alias(a: AttributeReference, _) if groupCols.contains(a.name) => None
            case al @ Alias(e, nm) => matchAggCall(e) match {
              case Some((f, in)) => Some(MvAgg(f, in, nm))
              case None => fail(s"unsupported select expression: ${al.sql}")
            }
            case e => fail(s"unsupported select expression: ${e.sql}")
          }
          if (aggs.isEmpty) fail("at least one aggregate is required")
          return MvDefinition(tables.map(t => (t._1.storeName, t._1)),
            groupCols, Nil, aggs, predicate, Nil)
        }

        // ---- join (star-schema) path ----
        val names = tables.map(_._1.storeName)
        if (names.distinct.size != names.size) fail(
          "self-joins are not materializable (each table may appear once)")
        val owner: Map[ExprId, String] = tables.flatMap { case (gt, r) =>
          r.output.map(a => a.exprId -> gt.storeName)
        }.toMap
        def ownerOf(a: AttributeReference): Option[String] = owner.get(a.exprId)
        val joinConds = Seq.newBuilder[String]
        val predicate = Seq.newBuilder[String]
        conjs.result().foreach { c =>
          canonicalJoinEq(c, ownerOf) match {
            case Some(jc) => joinConds += jc
            case None => canonicalEqQual(c, ownerOf) match {
              case Some(p) => predicate += p
              case None => fail("join/where conjuncts must be t.a = u.b " +
                s"equi-joins or <column> <op> <literal> comparisons " +
                s"(op: = >= <= > < IN), got: ${c.sql}")
            }
          }
        }
        val conds = joinConds.result().distinct.sorted
        if (conds.isEmpty) fail("a multi-table FROM needs equi-join conditions")
        // connectivity: every table must be reachable through the join
        // graph (a cartesian component would explode the build)
        locally {
          val reached = scala.collection.mutable.Set(names.head)
          var grew = true
          while (grew) {
            grew = false
            conds.foreach { c =>
              val ts = "`([^`]+)`\\.".r.findAllMatchIn(c).map(_.group(1)).toSeq
              if (ts.exists(reached.contains) && !ts.forall(reached.contains)) {
                ts.foreach(reached += _); grew = true
              }
            }
          }
          if (!names.forall(reached.contains)) fail(
            s"join graph is disconnected: ${names.filterNot(reached.contains).mkString(", ")}")
        }
        // bare-name uniqueness for everything that becomes a storage
        // column (group keys) or an agg input — ambiguity would make
        // the summary's flat schema lie about provenance
        val byBare: Map[String, Seq[String]] = tables.flatMap { case (gt, r) =>
          r.output.map(a => a.name.toLowerCase(Locale.ROOT) -> gt.storeName)
        }.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
        def requireUnique(a: AttributeReference): Unit = {
          val owners = byBare.getOrElse(a.name.toLowerCase(Locale.ROOT), Nil)
          if (owners.size > 1) fail(s"column name '${a.name}' is ambiguous " +
            s"across ${owners.mkString(", ")} — group/aggregate columns must " +
            "be uniquely named across the joined tables")
        }
        val (groupCols, groupQual) = groupExprs.map {
          case a: AttributeReference =>
            requireUnique(a)
            (a.name, qualName(ownerOf(a).getOrElse(fail(
              s"cannot resolve table of group column ${a.name}")), a.name))
          case e => fail(s"group expression must be a bare column, got: ${e.sql}")
        }.unzip
        val aggs = resultExprs.flatMap {
          case a: AttributeReference if groupCols.contains(a.name) => None
          case Alias(a: AttributeReference, _) if groupCols.contains(a.name) => None
          case al @ Alias(e, nm) => matchAggAttr(e) match {
            case Some((f, attr)) =>
              attr.foreach(requireUnique)
              val in = attr.map(a => qualName(ownerOf(a).getOrElse(fail(
                s"cannot resolve table of ${a.name}")), a.name)).getOrElse("")
              Some(MvAgg(f, in, nm))
            case None => fail(s"unsupported select expression: ${al.sql}")
          }
          case e => fail(s"unsupported select expression: ${e.sql}")
        }
        if (aggs.isEmpty) fail("at least one aggregate is required")
        MvDefinition(tables.map(t => (t._1.storeName, t._1)),
          groupCols, groupQual, aggs, predicate.result(), conds)
      case other => fail(s"defining query must be a grouped aggregate, got ${other.nodeName}")
    }
  }
}

/** Transparent matview substitution: an Aggregate (optionally above a
  * Filter) over a base table with a PROVEN-FRESH materialized view
  * rewrites to the same aggregate over the view's storage columns.
  * Grouping by a SUBSET of the view's group columns rolls up (sums add,
  * counts add, min/min, max/max, avg = Σsum/Σcnt). A FILTERED view
  * serves a query whose WHERE contains every view conjunct VERBATIM
  * (canonical `col <op> literal` form, op ∈ {=, >=, <=, >, <}; BETWEEN
  * desugars to the >=/<= pair — exact containment, no implication
  * engine: `>= DATE '2025-01-02'` is NOT served by a view filtered
  * `>= DATE '2025-01-01'`); the query's remaining conjuncts must
  * reference only group columns and apply as a residual Filter over
  * the summary.
  *
  * STAR-SCHEMA views (defining query = inner equi-joins of store
  * tables) substitute when the query's TABLE SET and canonical
  * JOIN-CONDITION SET exactly equal the view's — set matching, so join
  * reorder and flipped conditions still match — with the same rollup /
  * predicate-containment rules over table-qualified column identities;
  * freshness requires EVERY joined table's fingerprint to hold.
  *
  * Declines — leaving the base-scan plan untouched — whenever:
  *  - the view's freshness fingerprint no longer matches the base
  *    (any INSERT/UPDATE/DELETE/TTL-expiry since build → REFRESH first);
  *  - a row-level-security policy exists on the base (the policy filter
  *    is not visible in the view's pre-aggregated rows);
  *  - any aggregate/filter/grouping falls outside the derivable set.
  *
  * When several fresh views cover a query, the COARSEST one (fewest
  * group columns — the smallest summary that still answers) wins;
  * names break ties so the choice is deterministic.
  *
  * Timing semantics, stated: freshness is proven at OPTIMIZATION time.
  * Like the store's own scans — which pin their batch refs at planning —
  * a plan carries the snapshot it was planned against: a DataFrame whose
  * QueryExecution was planned while the view was fresh keeps serving the
  * view's (then-correct) contents for as long as the caller holds it,
  * and a base mutation committing in the window between planning and
  * execution is not observed — the same read-skew any snapshot-at-plan
  * scan has. A NEW query (fresh analysis) always re-proves freshness and
  * falls back to the base scan the moment the fingerprint moves.
  */
case class MatViewRewrite(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  import MatViewSupport._

  private def enabled: Boolean =
    session.conf.get("spark.sql.graft.matviewRewrite", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled || !MatViews.nonEmpty) return plan // cheap gate: runs on EVERY plan
    plan transformUp {
      case agg @ Aggregate(groupExprs, resultExprs, child, _) =>
        rewrite(agg, groupExprs, resultExprs, child)
          .orElse(joinRewrite(agg, groupExprs, resultExprs, child))
          .getOrElse(agg)
    }
  }

  private def rewrite(agg: Aggregate, groupExprs: Seq[Expression],
      resultExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    val (filter, gt, _) = unwrapScan(child, allowFilter = true).getOrElse(return None)
    val candidates = MatViews.on(gt.storeName).filter(_.joins.isEmpty)
    if (candidates.isEmpty) return None
    // RLS: pre-aggregated rows cannot re-apply a per-user row filter
    if (org.apache.spark.sql.graft.PolicyRegistry.all.exists(_.table == gt.storeName)) {
      return None
    }
    val groupCols = groupExprs.map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    if (filter.exists(!_.deterministic)) return None
    val conjuncts = filter.toSeq.flatMap(splitConjunctivePredicates)
    // cost order: the coarsest fresh cover (fewest group columns = the
    // smallest summary that still answers) wins; name breaks ties
    candidates.sortBy(c => (c.groupCols.size, c.name)).iterator.flatMap { mv =>
      if (!groupCols.forall(gc => mv.groupCols.exists(_.equalsIgnoreCase(gc)))) None
      else matchPredicate(mv, conjuncts) match {
        case Some(residual) if MatViews.isFresh(mv) =>
          substitute(mv, groupExprs, resultExprs, residual.reduceOption(And),
            matchAggCall)
        case _ => None
      }
    }.nextOption()
  }

  /** STAR-SCHEMA rewrite: an Aggregate over an inner equi-join tree of
    * store tables matches a join view when the TABLE SET and the
    * canonical JOIN-CONDITION SET are exactly the view's (set matching
    * — optimizer join reorder and condition flips cannot hide a match),
    * the view's predicate is contained verbatim, the query's group
    * columns (table-QUALIFIED) are a subset of the view's, and every
    * table's freshness fingerprint still proves current.
    */
  private def joinRewrite(agg: Aggregate, groupExprs: Seq[Expression],
      resultExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    if (!MatViews.hasJoinViews) return None
    val leaves = Seq.newBuilder[(String, DataSourceV2Relation)]
    val conjs = Seq.newBuilder[Expression]
    def walk(p: LogicalPlan): Boolean = strip(p) match {
      case j: Join if j.joinType == Inner =>
        val ok = walk(j.left) && walk(j.right)
        j.condition.toSeq.flatMap(splitConjunctivePredicates)
          .foreach(c => conjs += c)
        ok
      case Filter(c, inner) =>
        splitConjunctivePredicates(c).foreach(x => conjs += x)
        walk(inner)
      case r: DataSourceV2Relation if !r.options.containsKey("batch_ids") =>
        r.table match {
          case gt: GraftTable => leaves += ((gt.storeName, r)); true
          case _ => false
        }
      case _ => false
    }
    if (!walk(child)) return None
    val ls = leaves.result()
    if (ls.size < 2) return None
    val names = ls.map(_._1)
    if (names.distinct.size != names.size) return None
    if (org.apache.spark.sql.graft.PolicyRegistry.all
        .exists(p => names.contains(p.table))) return None
    val owner: Map[ExprId, String] = ls.flatMap { case (n, r) =>
      r.output.map(a => a.exprId -> n)
    }.toMap
    def ownerOf(a: AttributeReference): Option[String] = owner.get(a.exprId)
    val groupQual = groupExprs.map {
      case a: AttributeReference =>
        qualName(ownerOf(a).getOrElse(return None), a.name)
      case _ => return None
    }
    val conjList = conjs.result()
    if (conjList.exists(!_.deterministic)) return None
    val queryConds = scala.collection.mutable.Set.empty[String]
    val rest = Seq.newBuilder[Expression]
    conjList.foreach { c =>
      canonicalJoinEq(c, ownerOf) match {
        case Some(s) => queryConds += s
        case None => rest += c
      }
    }
    val restList = rest.result()
    val tableSet = names.toSet
    MatViews.all
      .filter(c => c.joins.exists(_.tables.toSet == tableSet))
      .sortBy(c => (c.groupCols.size, c.name)).iterator.flatMap { mv =>
        val j = mv.joins.get
        if (j.conds.toSet != queryConds.toSet ||
          !groupQual.forall(mv.groupQual.contains)) None
        else matchPredicateQual(mv, restList, ownerOf) match {
          case Some(residual) if MatViews.isFresh(mv) =>
            substitute(mv, groupExprs, resultExprs, residual.reduceOption(And),
              e => matchAggAttr(e).flatMap { case (f, attr) =>
                attr match {
                  case Some(a) => ownerOf(a).map(t => (f, qualName(t, a.name)))
                  case None => Some((f, ""))
                }
              })
          case _ => None
        }
      }.nextOption()
  }

  /** [[matchPredicate]]'s join-view sibling, over QUALIFIED canonical
    * forms. An IsNotNull is implied (droppable) when its column carries
    * a matched equality predicate OR is a side of any equi-join
    * condition (inner-join keys are non-null by construction).
    */
  private def matchPredicateQual(mv: MatViews.MvDef, conjuncts: Seq[Expression],
      ownerOf: AttributeReference => Option[String]): Option[Seq[Expression]] = {
    val viewPred = mv.predicate.toSet
    var seen = Set.empty[String]
    val residual = Seq.newBuilder[Expression]
    conjuncts.foreach { c =>
      canonicalEqQual(c, ownerOf).filter(viewPred.contains) match {
        case Some(s) => seen += s
        case None =>
          val onGroupCols = c.references.toSeq.forall {
            case ar: AttributeReference =>
              ownerOf(ar).exists(t => mv.groupQual.contains(qualName(t, ar.name)))
            case _ => false
          }
          if (onGroupCols) residual += c
          else c match {
            case IsNotNull(a: AttributeReference) =>
              val q = ownerOf(a).map(t => qualName(t, a.name))
              val implied = q.exists(qn =>
                viewPred.exists(_.startsWith(qn + " ")) ||
                  mv.joins.exists(_.conds.exists(_.split(" = ").contains(qn))))
              if (!implied) return None
            case _ => return None
          }
      }
    }
    if (seen.size == viewPred.size) Some(residual.result()) else None
  }

  /** Query WHERE vs view predicate: every view conjunct must appear
    * VERBATIM (canonical comparison form — `=`/`>=`/`<=`/`>`/`<` vs a
    * literal) among the query's conjuncts —
    * rows the view excluded can never be recovered from the summary, so
    * a query not re-stating the predicate wants rows the view lacks.
    * The remaining query conjuncts must each either reference only
    * group columns (they distribute over GROUP BY, so they apply as a
    * residual Filter on the summary) or be an IsNotNull the matched
    * equality already implies. Returns the residual conjuncts, or None
    * to decline this candidate.
    */
  private def matchPredicate(mv: MatViews.MvDef,
      conjuncts: Seq[Expression]): Option[Seq[Expression]] = {
    val viewPred = mv.predicate.toSet
    var seen = Set.empty[String]
    val residual = Seq.newBuilder[Expression]
    conjuncts.foreach { c =>
      canonicalEq(c).filter(viewPred.contains) match {
        case Some(s) => seen += s
        case None =>
          if (c.references.forall(a =>
            mv.groupCols.exists(_.equalsIgnoreCase(a.name)))) {
            residual += c
          } else c match {
            // implied by a matched comparison on the same column (any
            // =/>=/<=/>/< against a non-null literal can only hold on
            // non-null rows; a null literal folds the whole Filter away
            // upstream). canonicalName is backtick-delimited, so the
            // prefix test cannot cross column-name boundaries
            case IsNotNull(a: AttributeReference)
                if viewPred.exists(_.startsWith(canonicalName(a) + " ")) =>
            case _ => return None
          }
      }
    }
    if (seen.size == viewPred.size) Some(residual.result()) else None
  }

  /** Fresh relation over the matview's backing store table. Resolved
    * through the graft CATALOG when it is registered: only a
    * catalog-attached relation carries the bucket transform whose
    * function resolves to KeyGroupedPartitioning, which is what lets an
    * exact-group query over the view aggregate WITHOUT an exchange — at
    * 100 TB a summary can itself be large (billions of groups), so the
    * re-aggregation's shuffle matters. Falls back to a bare provider
    * relation (UnknownPartitioning) in sessions without the catalog.
    */
  private def mvRelation(name: String): DataSourceV2Relation = {
    // strict mode rides the scan options: the view scan re-proves the
    // fingerprint in planInputPartitions (execution start), closing the
    // plan-to-execution window; default stays snapshot-at-plan
    val strict = session.conf
      .get("spark.sql.graft.matviewStrictFreshness", "false").toBoolean
    val extra = if (strict) Map("mv_strict" -> name) else Map.empty[String, String]
    val viaCatalog = scala.util.Try {
      val cat = session.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier
        .of(Array.empty, name)
      DataSourceV2Relation.create(cat.loadTable(ident), Some(cat), Some(ident),
        new CaseInsensitiveStringMap(extra.asJava))
    }
    viaCatalog.getOrElse {
      val provider = new GraftColumnSource
      val opts = new CaseInsensitiveStringMap((Map("table" -> name) ++ extra).asJava)
      val schema = provider.inferSchema(opts)
      val table = provider.getTable(schema, Array.empty,
        new java.util.HashMap[String, String](Map("table" -> name).asJava))
      DataSourceV2Relation.create(table, None, None, opts)
    }
  }

  private def substitute(mv: MatViews.MvDef, groupExprs: Seq[Expression],
      resultExprs: Seq[NamedExpression],
      filter: Option[Expression],
      aggKey: Expression => Option[(String, String)]): Option[LogicalPlan] = {
    val rel = mvRelation(mv.name)
    val byName = rel.output.map(a => a.name.toLowerCase(Locale.ROOT) -> a).toMap
    def mvAttr(n: String): AttributeReference = byName(n.toLowerCase(Locale.ROOT))

    // storage slots for agg i of the view
    def slot(func: String, input: String): Option[Int] =
      mv.aggs.zipWithIndex.collectFirst {
        case (MatViews.MvAgg(f, in, _), i) if f == func && in == input => i
      }

    def sumOf(a: AttributeReference): AggregateExpression =
      Sum(a).toAggregateExpression()

    // derive one query aggregate from the view's storage columns; None
    // aborts the whole substitution (partial rewrites are not a thing)
    def derive(e: Expression, original: DataType): Option[Expression] =
      aggKey(e).flatMap {
        case ("sum", in) => slot("sum", in).orElse(slot("avg", in)).map { i =>
          val s = sumOf(mvAttr(s"__g${i}_sum"))
          if (s.dataType == original) s else Cast(s, original)
        }
        case ("count", in) => slot("count", in).orElse(slot("avg", in)).map { i =>
          Coalesce(Seq(sumOf(mvAttr(s"__g${i}_cnt")), Literal(0L)))
        }
        case ("count_star", _) => slot("count_star", "").map { i =>
          Coalesce(Seq(sumOf(mvAttr(s"__g${i}_cnt")), Literal(0L)))
        }
        case ("min", in) => slot("min", in).map(i =>
          Min(mvAttr(s"__g${i}_min")).toAggregateExpression())
        case ("max", in) => slot("max", in).map(i =>
          Max(mvAttr(s"__g${i}_max")).toAggregateExpression())
        case ("avg", in) => slot("avg", in).map { i =>
          val sumAttr = mvAttr(s"__g${i}_sum")
          val s = sumOf(sumAttr)
          val c = sumOf(mvAttr(s"__g${i}_cnt"))
          original match {
            case dec: DecimalType =>
              // BIT-exact: replay Average's own decimal evaluate tree
              // over the merged slots. The stored sum column already has
              // Average's internal sum-buffer type (decimal p+10/s —
              // sum() over decimal(p,s) widens exactly so), so dividing
              // Cast(Σsums, bufferType) by Cast(Σcnt, decimal(20,0))
              // reproduces the same intermediate division type and
              // HALF_UP rounding into Average.dataType. cnt 0 (all-null
              // group / empty view) → divide-by-zero in LEGACY mode →
              // NULL, matching avg
              Cast(Divide(Cast(s, sumAttr.dataType),
                Cast(c, DecimalType(20, 0)), EvalMode.LEGACY), dec)
            case _ =>
              // all-null group: cnt 0 → NULL (matches avg); empty view:
              // sum(cnt) NULL → condition NULL → divide of NULL → NULL
              If(EqualTo(c, Literal(0L)), Literal(null, DoubleType),
                Divide(Cast(s, DoubleType), Cast(c, DoubleType)))
          }
        }
        // estimate-for-estimate substitution (the same contract gate as
        // StatsApproxDistinctRule): only when the query's tolerated rsd
        // is no tighter than the stored sketch's own standard error.
        // Union of sketches DEDUPES across merged groups — the property
        // that makes distinct-count rollups possible at all
        case ("approx_distinct", in) => (e match {
          case AggregateExpression(h: HyperLogLogPlusPlus, _, _, _, _) =>
            h.relativeSD >= HllRse
          case _ => false
        }) match {
          case false => None
          case true => slot("approx_distinct", in).map { i =>
            val union = new HllUnionAgg(mvAttr(s"__g${i}_hll"))
              .toAggregateExpression()
            // all-null/empty → union NULL → estimate NULL; the original
            // returns 0 there
            Coalesce(Seq(HllSketchEstimate(union), Literal(0L)))
          }
        }
      }

    val groupColNames = groupExprs.map(_.asInstanceOf[AttributeReference].name)
    val newGroup: Seq[Expression] = groupColNames.map(mvAttr)
    val newResult: Seq[NamedExpression] = resultExprs.map {
      case a: AttributeReference if groupColNames.contains(a.name) =>
        Alias(mvAttr(a.name), a.name)(exprId = a.exprId, qualifier = a.qualifier)
      case al @ Alias(a: AttributeReference, nm) if groupColNames.contains(a.name) =>
        Alias(mvAttr(a.name), nm)(exprId = al.exprId, qualifier = al.qualifier)
      case al @ Alias(AggregateExpression(Count(children), Complete, true, None, _), nm)
          if children.nonEmpty && children.forall {
            // case-insensitive like every other group-column match here
            case a: AttributeReference =>
              mv.groupCols.exists(_.equalsIgnoreCase(a.name))
            case _ => false
          } =>
        // EXACT distinct rollup over group columns: the view holds one
        // row per full group key, so COUNT(DISTINCT <group subset>) is
        // the same distinct count over the summary's rows
        val d = Count(children.map { case a: AttributeReference => mvAttr(a.name) })
          .toAggregateExpression(isDistinct = true)
        Alias(d, nm)(exprId = al.exprId, qualifier = al.qualifier)
      case al @ Alias(e, nm) =>
        val d = derive(e, e.dataType).getOrElse(return None)
        // dataType must be preserved exactly — parents bound to this
        // exprId planned against the original type
        if (d.dataType != e.dataType) return None
        Alias(d, nm)(exprId = al.exprId, qualifier = al.qualifier)
      case _ => return None
    }
    // zero-count rows are subtractive-refresh tombstones (a group whose
    // every row was deleted keeps a zeroed summary row so maintenance
    // never needs a driver-side key collect) — mask them here; they
    // contribute nothing to rollup sums but would surface as phantom
    // groups in exact-group answers. Views without a count(*) slot are
    // never subtractively maintained, so no filter is added.
    val masked: LogicalPlan = mv.aggs.indexWhere(_.func == "count_star") match {
      case -1 => rel
      case i => Filter(GreaterThan(mvAttr(s"__g${i}_cnt"), Literal(0L)), rel)
    }
    val scanned: LogicalPlan = filter match {
      case Some(cond) => Filter(cond.transform {
        case a: AttributeReference => mvAttr(a.name)
      }, masked)
      case None => masked
    }
    Some(Aggregate(newGroup, newResult, scanned))
  }
}
