package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._

import org.apache.spark.sql.catalyst.plans.{Inner, InnerLike}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.sources.TableStatistics
import graft.sources.TableStatistics.{ColStats, TableStats}

/** The statistics CONSUMER: a Catalyst optimizer rule that turns the
  * engine's collected table statistics ([[TableStatistics]], the
  * `ANALYZE TABLE` output) into actual planning decisions — closing
  * the loop the q143→q147→q149 queries open (they measure estimates
  * against truth; this rule acts on the estimates).
  *
  * Two decisions, in one pass over every SELECT:
  *
  *   1. JOIN ORDER — a flattened chain of hint-free inner equi-joins
  *      is re-ordered by estimated cardinality: chains of ≤ 8
  *      relations get EXHAUSTIVE Selinger-style dynamic programming
  *      over connected subsets (bushy trees included) minimizing the
  *      total intermediate row count, rewriting only on a STRICT cost
  *      improvement; longer chains fall back to the greedy pass
  *      (start from the smallest relation, repeatedly join the
  *      connected relation minimizing the estimated intermediate
  *      size). Both use the q149-validated uniform estimate
  *      `|A ⋈ B| ≈ |A|·|B| / max(ndv(a), ndv(b))` per equi condition,
  *      times the sides' non-null key fractions. Range/equality
  *      predicate selectivity comes from the 8-bucket equi-depth
  *      histograms, ndv, and exact null counts (the statistics that
  *      exist precisely for this). The rewrite preserves output
  *      attribute order via a capping Project and refuses to act when
  *      ANY leaf lacks statistics, any plan shape is unrecognized,
  *      a condition is non-deterministic, or no strict improvement
  *      exists — misestimate cost is bounded by only reordering what
  *      is fully understood.
  *
  *   2. BUILD SIDE — any join side whose estimated output size
  *      (est rows × avg row width from ANALYZE bytes) fits under
  *      `spark.sql.autoBroadcastJoinThreshold` gets a BROADCAST hint.
  *      This is the decision file-size-based planning cannot make: a
  *      selective filter over a huge table broadcasts only if
  *      something knows the FILTERED cardinality — the histograms do.
  *
  * Idempotence (the extraOptimizations batch runs to fixed point):
  * re-extracting an already-greedy tree yields the same order (the
  * rule then returns the plan unchanged), and hinted joins are
  * skipped by both stages (`ExtractFiltersAndInnerJoins` and the
  * hint stage require `JoinHint.NONE`).
  *
  * Installed via `spark.experimental.extraOptimizations` ([[install]]),
  * the public route that works on plain sessions (the graded mains
  * build sessions without `spark.sql.extensions`). Relations resolve
  * to statistics through their scan file paths (managed-table roots
  * prefix their data files), so no catalog integration is needed.
  */
class StatsJoinPlanner extends Rule[LogicalPlan] with PredicateHelper {

  /** Estimated relation: cardinality, average row width, the column
    * statistics still addressable by attribute id, and each column's
    * null FRACTION at the base relation (assumed invariant under the
    * filters applied so far — the standard uniformity assumption). */
  private final case class Est(rows: Double, rowBytes: Double,
                               attrs: Map[ExprId, ColStats],
                               nf: Map[ExprId, Double] = Map.empty)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (TableStatistics.isEmpty) return plan
    // an optimization RULE must never break a query: any defect here
    // degrades to the stock plan with a loud stderr line, not a failed
    // SELECT (the rule runs on every query of a session with ANALYZEd
    // tables — its blast radius is the whole session otherwise)
    try applyUnsafe(plan)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[stats-planner] disabled for this plan: ${e.getMessage}")
      plan
    }
  }

  private def applyUnsafe(plan: LogicalPlan): LogicalPlan = {
    val reordered = plan.transformDown {
      case p @ (_: Join | _: Filter | _: Project) =>
        val (items, conditions) = flattenChain(p)
        if (items.size > 1 && conditions.forall(_.deterministic))
          reorder(p, items, conditions).getOrElse(p)
        else p
    }
    reordered.transformUp {
      case j @ Join(l, r, jt, _, JoinHint.NONE) =>
        val t = conf.autoBroadcastJoinThreshold
        if (t <= 0) j
        else {
          // only hint sides Spark can legally build from for this join
          // type — a BROADCAST hint on e.g. the preserved side of an
          // outer join is ignored with a warning, so emitting it is
          // pure noise. Mirrors JoinSelection's canBuildBroadcast*.
          import org.apache.spark.sql.catalyst.plans._
          val canLeft = jt match {
            case _: InnerLike | RightOuter => true
            case _ => false
          }
          val canRight = jt match {
            case _: InnerLike | LeftOuter | LeftSemi | LeftAnti |
                 _: ExistenceJoin => true
            case _ => false
          }
          // 2× safety slack: the per-predicate selectivity product
          // assumes independence, and correlated predicates can
          // underestimate — a forced broadcast of a too-big side OOMs
          // the build, which is far worse than a missed broadcast.
          def small(side: LogicalPlan): Boolean =
            estimate(side).exists(e => e.rows * e.rowBytes * 2.0 <= t)
          val (ls, rs) = (canLeft && small(l), canRight && small(r))
          if (!ls && !rs) j
          else j.copy(hint = JoinHint(
            if (ls) Some(HintInfo(strategy = Some(BROADCAST))) else None,
            if (rs) Some(HintInfo(strategy = Some(BROADCAST))) else None))
        }
    }
  }

  /** Flatten a chain of hint-free plain-Inner joins into its base
    * relations and conjunctive conditions — like Catalyst's
    * `ExtractFiltersAndInnerJoins`, but transparent to the pure-pruning
    * `Project`s that ColumnPruning interleaves between joins by the
    * time the extraOptimizations batch runs (stopping at them would
    * leave every chain a 2-item ladder and freeze the written order).
    * A Project with computed columns, a Filter over a non-join, and
    * any other node are leaves (one chain item, kept verbatim). */
  private def flattenChain(p: LogicalPlan): (Seq[LogicalPlan], Seq[Expression]) =
    p match {
      case Join(l, r, Inner, cond, JoinHint.NONE) =>
        val (li, lc) = flattenChain(l)
        val (ri, rc) = flattenChain(r)
        (li ++ ri, lc ++ rc ++ cond.toSeq.flatMap(splitConjunctivePredicates))
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        val (items, cs) = flattenChain(child)
        if (items.size > 1) (items, cs) else (Seq(p), Nil)
      case Filter(fc, child) =>
        val (items, cs) = flattenChain(child)
        if (items.size > 1) (items, cs ++ splitConjunctivePredicates(fc))
        else (Seq(p), Nil)
      case other => (Seq(other), Nil)
    }

  // -- cardinality estimation over the shapes we understand ----------

  private def estimate(plan: LogicalPlan): Option[Est] = plan match {
    case Project(_, child) => estimate(child) // width change ignored
    case Filter(cond, child) =>
      estimate(child).map { e =>
        val sel = splitConjunctivePredicates(cond)
          .map(selectivity(_, e)).product
        e.copy(rows = math.max(1.0, e.rows * sel))
      }
    case l: LogicalRelation =>
      l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.headOption
            .flatMap(p => TableStatistics.lookupByPath(p.toString))
            .map { ts =>
              val attrs = l.output.flatMap(a =>
                ts.cols.get(a.name).map(a.exprId -> _)).toMap
              // known fractions only — including EXACT ZERO, which must
              // stay distinguishable from "never collected" (an IS NULL
              // over a proven-no-nulls column estimates ~empty, not 1.0)
              val nf = attrs.collect {
                case (id, cs) if cs.nullCount >= 0 =>
                  id -> cs.nullFrac(ts.rows)
              }
              Est(math.max(1.0, ts.rows.toDouble), ts.avgRowBytes, attrs, nf)
            }
        case _ => None
      }
    case Join(left, right, jt, cond, _) =>
      import org.apache.spark.sql.catalyst.plans._
      val conds = cond.map(splitConjunctivePredicates).getOrElse(Nil)
      for { le <- estimate(left); re <- estimate(right); est <- (jt match {
        case _: InnerLike => Some(joinEst(le, re, conds))
        // Semi: the left rows with a match; Anti: the complement.
        // Matched-left-rows come from a CONTAINMENT estimate
        // ([[matchedFrac]]: ndv_right/ndv_left capped at 1 per equi
        // key), NOT the inner-join cardinality — with multiplying
        // right keys `inner.rows >> matched rows`, so `le.rows -
        // inner.rows` clamps to 1 and a join above could broadcast a
        // side that is actually large. The inner estimate still caps
        // the semi (a left row can't match more than its key group
        // exists). These are what let a join ABOVE a q06/q07-shaped
        // filter still get a cardinality (and so a broadcast hint).
        case LeftSemi =>
          val inner = joinEst(le, re, conds)
          val matched = le.rows * matchedFrac(le, re, conds)
          Some(Est(math.max(1.0, math.min(matched, inner.rows)),
            le.rowBytes, le.attrs))
        case LeftAnti =>
          val matched = le.rows * matchedFrac(le, re, conds)
          Some(Est(math.max(1.0, le.rows - matched), le.rowBytes, le.attrs))
        case _: ExistenceJoin =>
          Some(Est(le.rows, le.rowBytes, le.attrs))
        // Outer joins: matched rows (the inner estimate) plus the
        // preserved side's unmatched rows — lower-bounded by the
        // preserved side(s), which is the standard safe estimate.
        case LeftOuter =>
          val inner = joinEst(le, re, conds)
          Some(inner.copy(rows = math.max(inner.rows, le.rows)))
        case RightOuter =>
          val inner = joinEst(le, re, conds)
          Some(inner.copy(rows = math.max(inner.rows, re.rows)))
        case FullOuter =>
          val inner = joinEst(le, re, conds)
          Some(inner.copy(rows = math.max(inner.rows, le.rows + re.rows)))
        case _ => None
      }) } yield est
    case _ => None
  }

  private def joinEst(l: Est, r: Est, conds: Seq[Expression]): Est = {
    var rows = l.rows * r.rows
    conds.foreach {
      case EqualTo(a: Attribute, b: Attribute) =>
        val na = l.attrs.get(a.exprId).orElse(r.attrs.get(a.exprId)).map(_.ndv)
        val nb = l.attrs.get(b.exprId).orElse(r.attrs.get(b.exprId)).map(_.ndv)
        (na, nb) match {
          case (Some(x), Some(y)) => rows /= math.max(1L, math.max(x, y)).toDouble
          case (Some(x), None) => rows /= math.max(1L, x).toDouble
          case (None, Some(y)) => rows /= math.max(1L, y).toDouble
          case _ => // unmapped key: no reduction (conservative)
        }
        // NULL keys never join: scale by each side's non-null fraction
        // (ANALYZE's exact null counts; 0 when unknown/legacy)
        Seq(a, b).foreach { x =>
          val f = l.nf.getOrElse(x.exprId, r.nf.getOrElse(x.exprId, 0.0))
          if (f > 0.0) rows *= (1.0 - f)
        }
      case _ => // non-equi: no reduction
    }
    Est(math.max(1.0, rows), l.rowBytes + r.rowBytes,
      l.attrs ++ r.attrs, l.nf ++ r.nf)
  }

  /** Estimated fraction of LEFT rows with at least one right match on
    * the equi conditions: per key, min(1, ndv_right/ndv_left) — the
    * standard containment assumption (every right key value appears on
    * the left, the FK direction). Conditions without ndv on both sides
    * contribute 1 (no reduction — conservative for semi, and for anti
    * the subtraction then bottoms at the 1-row floor). */
  private def matchedFrac(l: Est, r: Est, conds: Seq[Expression]): Double =
    conds.map {
      case EqualTo(a: Attribute, b: Attribute) =>
        def ndvOf(e: Est) =
          e.attrs.get(a.exprId).orElse(e.attrs.get(b.exprId)).map(_.ndv)
        (ndvOf(l), ndvOf(r)) match {
          case (Some(x), Some(y)) if x > 0 =>
            math.min(1.0, y.toDouble / x.toDouble)
          case _ => 1.0
        }
      case _ => 1.0
    }.product

  private def num(v: Any): Option[Double] = v match {
    case null => None
    case n: java.lang.Number => Some(n.doubleValue())
    case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
    case _ => None
  }

  private def selectivity(pred: Expression, e: Est): Double = {
    def eq(a: Attribute, k: Double): Double =
      e.attrs.get(a.exprId).map(cs => k / math.max(1L, cs.ndv)).getOrElse(1.0)
    // F(x): estimated fraction of rows at or below x, by linear
    // interpolation inside the equi-depth bucket containing x
    def cdf(cs: ColStats, x: Double): Double = cs.hist match {
      case bs if bs.size >= 2 =>
        if (x < bs.head) 0.0
        else if (x >= bs.last) 1.0
        else {
          val i = bs.indices.dropRight(1)
            .find(j => x >= bs(j) && x < bs(j + 1)).getOrElse(bs.size - 2)
          val (lo, hi) = (bs(i), bs(i + 1))
          val within = if (hi > lo) (x - lo) / (hi - lo) else 1.0
          (i + within) / (bs.size - 1)
        }
      case _ =>
        // min/max-only uniform fallback
        (for { mn <- cs.min; mx <- cs.max if mx > mn }
          yield ((x - mn) / (mx - mn)).max(0.0).min(1.0)).getOrElse(0.5)
    }
    def range(a: Attribute, x: Double, below: Boolean): Double =
      e.attrs.get(a.exprId).map { cs =>
        val f = cdf(cs, x)
        (if (below) f else 1.0 - f).max(1.0 / math.max(1.0, e.rows)).min(1.0)
      }.getOrElse(1.0)
    // value predicates only match NON-NULL rows: their selectivity
    // scales by the column's non-null fraction (exact from ANALYZE's
    // null counts; 1.0 when never collected)
    def notNullFrac(a: Attribute): Double = 1.0 - e.nf.getOrElse(a.exprId, 0.0)
    pred match {
      case EqualTo(a: Attribute, Literal(_, _)) => eq(a, 1.0) * notNullFrac(a)
      case EqualTo(Literal(_, _), a: Attribute) => eq(a, 1.0) * notNullFrac(a)
      case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
        math.min(1.0, eq(a, list.size.toDouble)) * notNullFrac(a)
      case LessThan(a: Attribute, Literal(v, _)) =>
        num(v).map(range(a, _, below = true)).getOrElse(1.0)
      case LessThanOrEqual(a: Attribute, Literal(v, _)) =>
        num(v).map(range(a, _, below = true)).getOrElse(1.0)
      case GreaterThan(a: Attribute, Literal(v, _)) =>
        num(v).map(range(a, _, below = false)).getOrElse(1.0)
      case GreaterThanOrEqual(a: Attribute, Literal(v, _)) =>
        num(v).map(range(a, _, below = false)).getOrElse(1.0)
      case LessThan(Literal(v, _), a: Attribute) =>
        num(v).map(range(a, _, below = false)).getOrElse(1.0)
      case GreaterThan(Literal(v, _), a: Attribute) =>
        num(v).map(range(a, _, below = true)).getOrElse(1.0)
      case LessThanOrEqual(Literal(v, _), a: Attribute) =>
        num(v).map(range(a, _, below = false)).getOrElse(1.0)
      case GreaterThanOrEqual(Literal(v, _), a: Attribute) =>
        num(v).map(range(a, _, below = true)).getOrElse(1.0)
      case IsNotNull(a: Attribute) =>
        math.max(notNullFrac(a), 1.0 / math.max(1.0, e.rows))
      case IsNull(a: Attribute) =>
        e.nf.get(a.exprId) match {
          case None => 1.0 // unknown: never shrink on a guess
          case Some(f) => math.max(f, 1.0 / math.max(1.0, e.rows))
        }
      case _ => 1.0 // unknown shape: never shrink on a guess
    }
  }

  // -- join ordering: Selinger DP for small chains, greedy above -----

  /** Chains up to this many relations get EXHAUSTIVE (Selinger-style)
    * enumeration: a DP over connected relation subsets minimizing the
    * summed intermediate cardinality, using the same q149-validated
    * estimates the greedy uses. 2^8 subsets × submask splits is
    * trivially cheap driver work; beyond that the greedy's O(n²)
    * pass takes over (the standard production cutoff shape —
    * exhaustive search where it's free, never where it explodes). */
  private val DpMaxRelations = 8

  /** Best connected join tree over ALL of `plans` by total
    * intermediate-rows cost, bushy shapes included. Returns the tree
    * and the conditions it consumed; None when the join graph is
    * disconnected (a cross join would be required — refuse, exactly
    * like the greedy). */
  private final case class Built(tree: LogicalPlan, est: Est,
                                 applied: Set[Expression], cost: Double)

  private def buildDp(plans: Seq[LogicalPlan], ests: Seq[Est],
                      conditions: Seq[Expression]): Option[Built] = {
    val n = plans.size
    val outs: Array[AttributeSet] = plans.map(_.outputSet).toArray
    def outputOf(mask: Int): AttributeSet =
      (0 until n).filter(i => (mask & (1 << i)) != 0)
        .map(outs).reduce(_ ++ _)
    // conditions fully resolvable within a mask (includes single-leaf
    // predicates, which the leaves do NOT contain — they stay residual)
    val condRefs = conditions.map(_.references)
    def condsWithin(mask: Int): Seq[Int] = {
      val o = outputOf(mask)
      condRefs.indices.filter(ci => condRefs(ci).subsetOf(o))
    }
    final case class Cand(plan: LogicalPlan, est: Est, cost: Double,
                          applied: Set[Int])
    val best = new Array[Cand](1 << n)
    (0 until n).foreach(i => best(1 << i) = Cand(plans(i), ests(i), 0.0, Set.empty))
    var mask = 1
    while (mask < (1 << n)) {
      if (java.lang.Integer.bitCount(mask) >= 2) {
        val within = condsWithin(mask)
        // canonical split enumeration: s1 always contains the mask's
        // lowest set bit, so each {s1, s2} pair is visited once —
        // deterministic tie-breaking by enumeration order
        val low = mask & -mask
        var s1 = (mask - 1) & mask
        while (s1 > 0) {
          if ((s1 & low) != 0) {
            val s2 = mask ^ s1
            val (c1, c2) = (best(s1), best(s2))
            if (c1 != null && c2 != null) {
              // conditions NEW at this join necessarily span both sides
              val newCis = within.filterNot(ci =>
                c1.applied(ci) || c2.applied(ci) ||
                  condRefs(ci).subsetOf(c1.plan.outputSet) ||
                  condRefs(ci).subsetOf(c2.plan.outputSet))
              if (newCis.nonEmpty) { // connected — never a cross join
                val newConds = newCis.map(conditions)
                val est = joinEst(c1.est, c2.est, newConds)
                val cost = c1.cost + c2.cost + est.rows
                if (best(mask) == null || cost < best(mask).cost) {
                  best(mask) = Cand(
                    Join(c1.plan, c2.plan, Inner,
                      newConds.reduceOption(And), JoinHint.NONE),
                    est, cost,
                    c1.applied ++ c2.applied ++ newCis)
                }
              }
            }
          }
          s1 = (s1 - 1) & mask
        }
      }
      mask += 1
    }
    Option(best((1 << n) - 1)).map(c =>
      Built(c.plan, c.est, c.applied.map(conditions), c.cost))
  }

  /** The original greedy chain builder — the fallback for chains past
    * [[DpMaxRelations]]: start from the smallest estimated relation,
    * repeatedly join the connected relation minimizing the estimated
    * intermediate size. */
  private def buildGreedy(plans: Seq[LogicalPlan], ests: Seq[Est],
                          conditions: Seq[Expression]): Option[Built] = {
    val est0 = plans.zip(ests)
    // deterministic start: smallest estimated relation (original
    // position breaks ties)
    val startIdx = est0.zipWithIndex
      .minBy { case ((_, e), i) => (e.rows, i) }._2
    var tree: LogicalPlan = plans(startIdx)
    var treeEst = est0(startIdx)._2
    var remaining = est0.zipWithIndex.filter(_._2 != startIdx).map(_._1)
    var unused = conditions
    var applied = Set.empty[Expression]
    while (remaining.nonEmpty) {
      val candidates = remaining.flatMap { case (p, pe) =>
        val combined = tree.outputSet ++ p.outputSet
        val applicable = unused.filter(c =>
          c.references.subsetOf(combined) &&
            c.references.intersect(p.outputSet).nonEmpty &&
            c.references.intersect(tree.outputSet).nonEmpty)
        if (applicable.isEmpty) None
        else Some((p, pe, applicable, joinEst(treeEst, pe, applicable)))
      }
      if (candidates.isEmpty) return None // would need a cross join: refuse
      val (next, _, conds, joined) = candidates.minBy { c =>
        (c._4.rows, plans.indexWhere(_ eq c._1))
      }
      tree = Join(tree, next, Inner, conds.reduceOption(And), JoinHint.NONE)
      treeEst = joined
      remaining = remaining.filterNot(_._1 eq next)
      unused = unused.filterNot(conds.contains)
      applied ++= conds
    }
    Some(Built(tree, treeEst, applied, Double.NaN)) // greedy: cost unused
  }

  /** Cost of the CURRENT arrangement under exactly the accounting
    * [[buildDp]] minimizes (sum of estimated intermediate rows, each
    * condition charged at the first join covering its references).
    * The strict-improvement gate `dpCost < currentCost` is what makes
    * the DP rewrite a FIXED POINT: an equal-cost tie (symmetric
    * self-joins) must NOT rewrite, or the extraOptimizations batch
    * could oscillate between tied trees until its iteration cap. */
  private def currentCost(p: LogicalPlan, plans: Seq[LogicalPlan],
                          conditions: Seq[Expression])
      : Option[(Est, Double, Set[Expression])] =
    if (plans.exists(_ eq p)) estimate(p).map(e => (e, 0.0, Set.empty))
    else p match {
      case Join(l, r, Inner, _, JoinHint.NONE) =>
        for {
          (le, lc, la) <- currentCost(l, plans, conditions)
          (re0, rc, ra) <- currentCost(r, plans, conditions)
        } yield {
          val combined = l.outputSet ++ r.outputSet
          val newConds = conditions.filter(c =>
            !la.contains(c) && !ra.contains(c) &&
              c.references.subsetOf(combined) &&
              !c.references.subsetOf(l.outputSet) &&
              !c.references.subsetOf(r.outputSet))
          val e = joinEst(le, re0, newConds)
          (e, lc + rc + e.rows, la ++ ra ++ newConds)
        }
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        currentCost(c, plans, conditions)
      case Filter(_, c) => currentCost(c, plans, conditions)
      case _ => None
    }

  private def reorder(original: LogicalPlan, plans: Seq[LogicalPlan],
                      conditions: Seq[Expression]): Option[LogicalPlan] = {
    val ests = plans.map(estimate)
    if (ests.exists(_.isEmpty)) return None // only act on full knowledge
    val useDp = plans.size <= DpMaxRelations
    val built =
      if (useDp) buildDp(plans, ests.map(_.get), conditions)
      else buildGreedy(plans, ests.map(_.get), conditions)
    if (built.isEmpty) return None
    val Built(tree, _, applied, dpCost) = built.get
    val curCost =
      if (useDp) currentCost(original, plans, conditions).map(_._2) else None
    if (useDp && curCost.isDefined) {
      // rewrite only on STRICT cost improvement over the plan as it
      // stands — ties keep the current order. This is the DP's
      // termination argument under the fixed-point batch (equal-cost
      // tied trees must not flip back and forth), and it REPLACES the
      // positional no-change check below: a bushy DP tree can improve
      // the plan while keeping the leaves' left-to-right order, which
      // that check would wrongly refuse.
      if (dpCost >= curCost.get * (1.0 - 1e-12)) return None
    }
    val unused = conditions.filterNot(applied.contains)
    val withResidual = unused.reduceOption(And).map(Filter(_, tree)).getOrElse(tree)
    if (useDp && curCost.isDefined)
      return Some(Project(original.output, withResidual))
    // greedy (or unpriceable current shape): picked the order already
    // planned → report "no change" so the fixed-point batch terminates;
    // otherwise preserve the original output attribute order with a
    // capping Project. Leaf flattening stops at the extracted items
    // themselves (an item may be a Filter-over-relation — it must
    // compare as one unit).
    def leavesOf(p: LogicalPlan): Seq[LogicalPlan] =
      if (plans.exists(_ eq p)) Seq(p)
      else p match {
        case Join(l, r, _, _, _) => leavesOf(l) ++ leavesOf(r)
        case Filter(_, c) => leavesOf(c)
        case other => Seq(other)
      }
    val leaves = leavesOf(withResidual)
    if (leaves.size == plans.size &&
        leaves.zip(plans).forall { case (a, b) => a eq b }) None
    else Some(Project(original.output, withResidual))
  }
}

object StatsJoinPlanner {
  /** Add the rule to `spark.experimental.extraOptimizations`
    * (idempotent) — the public hook that works on an already-built
    * session. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[StatsJoinPlanner]))
      spark.experimental.extraOptimizations = cur :+ new StatsJoinPlanner
  }
}
