package graft.server

import scala.annotation.tailrec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.operators.Mvm

/** Materialized-view QUERY REWRITE: serve an aggregate over a base
  * table from its incrementally-maintained materialized view instead
  * of re-scanning the base — the read-side half of the MV feature
  * (the write side, delta maintenance, is `Mvm`/`MvSink`; until now a
  * user had to NAME the view to benefit from it).
  *
  * Two recognized shapes, both over a base-table scan (no join —
  * exact-shape matching; anything else stays untouched):
  *
  *   - EXACT: `GROUP BY` exactly the view's keys, selecting keys and
  *     aggregates the view maintains — becomes a plain PROJECTION of
  *     the view (the aggregation already happened, incrementally, at
  *     write time).
  *   - ROLLUP: `GROUP BY` a SUBSET of the keys (including none — the
  *     global aggregate) — becomes a small re-aggregation OVER the
  *     view: COUNT(*) rolls up as SUM(count), SUM as SUM, MIN/MAX as
  *     MIN/MAX, AVG from its maintained backing sum/count pair
  *     (`Mvm.avgBackingSum`/`Cnt` — the reason those are stored
  *     columns). |view| is bounded by the key-combination count, so
  *     this replaces a full base scan with group-count work.
  *
  * A `WHERE` whose every predicate references only VIEW KEY columns
  * (the common dashboard shape: `WHERE key = 'x' GROUP BY key`) is
  * accepted in both shapes and becomes the same filter over the view
  * — algebraically exact, because the view holds one row per key
  * combination, so a key-only predicate selects whole groups; it can
  * never split one. Any predicate touching a non-key column refuses
  * the rewrite (the base must be scanned to re-aggregate).
  *
  * Matched aggregates: COUNT(*) / COUNT(literal), and SUM / MIN /
  * MAX / AVG over exactly the bare column the view was declared on
  * (never DISTINCT, never FILTER'd). The substitution preserves the
  * original output attribute ids, names, and types (casting the
  * rolled-up value back when re-aggregation widens, e.g. decimal
  * sums), so HAVING / ORDER BY / LIMIT and enclosing plans above the
  * rewritten Aggregate keep resolving unchanged.
  *
  * Consistency contract: the router maintains every MV synchronously
  * inside the same statement that mutates its base, and a query reads
  * the view and its base at the snapshots its own statement resolved
  * (`snapshot`, the router's per-statement binding) — so for every
  * query the router serves, view and base agree by construction. The
  * rewrite fires only when the query's scan IS that statement's latest
  * snapshot of the base: a `VERSION AS OF` read or a shadowing CTE of
  * the same name never matches. (An out-of-band ManagedTable mutation
  * of the base, bypassing the router, leaves the view behind it;
  * REFRESH resyncs it.) Floating-point SUM/AVG may differ from a cold
  * recompute in last-ulp addition order — inherent to incremental
  * maintenance, same class as AQE re-partitioning.
  */
object MvRewrite {

  /** Measurement-only kill switch (ScaleBench's in-process A/B cells). */
  @volatile private[graft] var disabled: Boolean = false

  /** Rewrite `df` if some Aggregate in it matches a view; returns the
    * new frame plus (viewName, "exact"|"rollup") for the router's log
    * line. `snapshot` is the statement's binding of a managed name to
    * its latest snapshot frame. Never throws — an unmatched or
    * unexpected shape returns None and the original plan runs. */
  def maybe(spark: SparkSession, df: DataFrame, views: Seq[SqlRouter.MvSpec],
            snapshot: String => Option[DataFrame]): Option[(DataFrame, String, String)] =
    try {
      if (views.isEmpty) return None
      var hit: Option[(String, String)] = None
      val plan = df.queryExecution.analyzed
      val out = plan.transformUp {
        case agg: Aggregate if hit.isEmpty =>
          rewriteAgg(agg, views, snapshot) match {
            case Some((p, name, mode)) => hit = Some((name, mode)); p
            case None => agg
          }
      }
      hit.map { case (name, mode) =>
        (ColumnBridge.ofRows(spark, out), name, mode)
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[mv-rewrite] skipped: ${e.getMessage}")
      if (sys.env.get("GRAFT_MV_DEBUG").contains("1")) e.printStackTrace()
      None
    }

  /** The base-table name a plan subtree scans, if it is EXACTLY a
    * (possibly aliased) table reference: peel SubqueryAlias down to a
    * file relation, keeping the INNERMOST alias — `FROM t` yields t,
    * `FROM other AS t` yields other. */
  @tailrec
  private def baseScan(p: LogicalPlan, name: Option[String])
      : Option[(String, LogicalRelation)] = p match {
    case SubqueryAlias(id, child) => baseScan(child, Some(id.name))
    case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
      name.map((_, l))
    case _ => None
  }

  /** The scan IS the statement's latest snapshot of table `name` —
    * the name matched; this pins the RELATION (a CTE of the same name,
    * or the table at another version, must not rewrite). */
  private def isSnapshot(l: LogicalRelation, name: String,
                         snapshot: String => Option[DataFrame]): Boolean =
    snapshot(name).exists(_.queryExecution.analyzed.exists {
      case s: LogicalRelation => s.relation eq l.relation
      case _ => false
    })

  private def rewriteAgg(agg: Aggregate, views: Seq[SqlRouter.MvSpec],
                         snapshot: String => Option[DataFrame])
      : Option[(LogicalPlan, String, String)] = {
    // an optional WHERE between the Aggregate and the scan: kept and
    // re-applied over the view IF it only touches view keys (checked
    // per-view in tryView, where the key set is known)
    val (where, scanChild): (Option[Expression], LogicalPlan) = agg.child match {
      case Filter(cond, c) => (Some(cond), c)
      case c => (None, c)
    }
    scanChild match {
      case j: Join =>
        rewriteJoinAgg(agg, where, j, views.filter(_.joins.nonEmpty), snapshot)
      case _ =>
        val scan = baseScan(scanChild, None)
        if (scan.isEmpty) return None
        val (tbl, rel) = scan.get
        // grouping must be bare columns
        val groupNames = agg.groupingExpressions.map {
          case a: AttributeReference => a.name.toLowerCase
          case _ => return None
        }.toSet
        if (groupNames.size != agg.groupingExpressions.size) return None

        views.iterator
          .filter(v => v.joins.isEmpty && v.over.equalsIgnoreCase(tbl) &&
            isSnapshot(rel, v.over, snapshot))
          .flatMap(v => tryView(agg, groupNames, where, v, snapshot))
          .nextOption()
    }
  }

  /** Is `cond` servable from the view: deterministic, no subqueries,
    * and every referenced attribute is one of the view's key columns
    * (by lowercased name)? Key-only predicates select whole view rows
    * (= whole base groups), so re-applying them over the view is
    * exact at any grain — a non-key reference means the predicate
    * filters WITHIN groups and the rewrite must refuse. */
  private def keyOnlyPredicate(cond: Expression, keySet: Set[String]): Boolean =
    cond.deterministic &&
      cond.find(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.SubqueryExpression]).isEmpty &&
      cond.references.forall(a => keySet.contains(a.name.toLowerCase))

  /** `cond` re-targeted at the view's columns: the analyzed tree is
    * first NORMALIZED to plain expression nodes (RuntimeReplaceable →
    * its replacement, `With` common-expression defs inlined — see the
    * comment inside), then every resolved AttributeReference is
    * swapped for an UnresolvedAttribute of the same name, and the
    * view frame's own analyzer re-resolves those against its
    * identically-named key columns. The normalization step is what
    * makes the attribute graft legal on Spark 4 trees — `With`'s
    * CommonExpressionDef refuses unresolved child swaps, and
    * RuntimeReplaceable keeps its original args outside `children`.
    * A predicate that fails to re-resolve over the view aborts the
    * rewrite through maybe()'s catch — base scan, never a wrong
    * answer. */
  private def overView(mvDf: DataFrame, cond: Expression): DataFrame = {
    val rebound = normalize(cond).transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name))
    }
    mvDf.filter(ColumnBridge.column(rebound))
  }

  /** Normalize an analyzed tree to plain expression nodes:
    * RuntimeReplaceable (BETWEEN et al.) keeps its ORIGINAL args
    * outside `children`, and `With`'s CommonExpressionDef refuses
    * unresolved child swaps — both would defeat the attribute grafts
    * here. Replacing them by their runtime form and inlining the
    * common-expression defs yields an equivalent tree of ordinary
    * nodes (the def may then evaluate twice — irrelevant for a
    * key-count-sized filter). */
  private def normalize(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{CommonExpressionRef, RuntimeReplaceable, With}
    val once = e.transformUp {
      case rr: RuntimeReplaceable => rr.replacement
      case w: With =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transformUp { case r: CommonExpressionRef => defs(r.id) }
    }
    if (once.exists(x => x.isInstanceOf[RuntimeReplaceable] || x.isInstanceOf[With]))
      normalize(once)
    else once
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
      conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }

  /** Name-canonical form for predicate comparison: normalized tree
    * with every resolved attribute replaced by its lowercased
    * unresolved name. Two predicates resolved against the SAME base
    * schema canonicalize equal iff they are the same expression over
    * the same columns — exprIds and source aliases fall away. */
  private def canon(e: Expression): Expression =
    normalize(e).transformUp {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          Seq(a.name.toLowerCase))
    }

  // canonical view-predicate conjuncts per (view, base, predicate
  // text): a pure function of the immutable spec — the resolution
  // cannot drift because where-pred-referenced base columns refuse
  // schema evolution (requireNoMvReference covers the predicate).
  // Without the cache, every rewrite ATTEMPT against a filtered view
  // paid a parse + full Catalyst analysis round-trip on the hot
  // serving path.
  private val predCanonCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), Seq[Expression]]

  /** Drop every cached canonical predicate (and join-view resolution)
    * for `view` — called on DROP MATERIALIZED VIEW and on CREATE
    * (re-creation under the same key must re-resolve against the
    * current base schema; a stale entry only ever REFUSED rewrites,
    * but silently, and the caches would otherwise grow without bound
    * across view churn). */
  private[server] def invalidatePredCache(view: String): Unit = {
    predCanonCache.keys.filter(_._1 == view).foreach(predCanonCache.remove)
    joinInfoCache.keys.filter(_.startsWith(view + "\u0000"))
      .foreach(joinInfoCache.remove)
  }

  /** The view's declared predicate, resolved against the base table's
    * snapshot and canonicalized per conjunct (memoized). */
  private def viewPredCanon(base: DataFrame,
                            v: SqlRouter.MvSpec): Seq[Expression] =
    predCanonCache.getOrElseUpdate((v.name, v.over, v.where.get), {
      val parsed = base.sparkSession.sessionState.sqlParser.parseExpression(v.where.get)
      val analyzed = base.filter(ColumnBridge.column(parsed))
        .queryExecution.analyzed
      val cond = analyzed.collectFirst { case Filter(c, _) => c }
        .getOrElse(throw new IllegalStateException(
          s"view predicate '${v.where.get}' did not analyze to a Filter"))
      conjuncts(cond).map(canon)
    })

  /** A registered aggregate expression that is a BARE column name —
    * the only form we can equate to the query's attribute. */
  private def bare(e: String): Option[String] = {
    val t = e.trim
    if (t.matches("[A-Za-z_][A-Za-z0-9_]*")) Some(t.toLowerCase)
    else if (t.matches("`[^`]+`")) Some(t.substring(1, t.length - 1).toLowerCase)
    else None
  }

  private def tryView(agg: Aggregate, groupNames: Set[String],
                      where: Option[Expression], v: SqlRouter.MvSpec,
                      snapshot: String => Option[DataFrame])
      : Option[(LogicalPlan, String, String)] = {
    val keySet = v.keys.map(_.toLowerCase).toSet
    val exact = groupNames == keySet
    if (!exact && !groupNames.subsetOf(keySet)) return None
    // a FILTERED view serves only queries whose WHERE contains every
    // view-predicate conjunct (matched by canonical form); the
    // leftovers — and the whole WHERE for an unfiltered view — must be
    // key-only, and re-apply over the view. A query withOUT the view's
    // predicate must refuse: the view holds a strict subset of groups.
    val qconjs: Seq[Expression] = where.toSeq.flatMap(conjuncts)
    val leftover: Seq[Expression] = v.where match {
      case None => qconjs
      case Some(_) =>
        val vc = viewPredCanon(snapshot(v.over).getOrElse(return None), v)
        var remaining = qconjs.map(c => (c, canon(c)))
        val allMatched = vc.forall { vcon =>
          remaining.indexWhere(_._2 == vcon) match {
            case -1 => false
            case i => remaining = remaining.patch(i, Nil, 1); true
          }
        }
        if (!allMatched) return None
        remaining.map(_._1)
    }
    if (leftover.exists(!keyOnlyPredicate(_, keySet))) return None

    val mvDf = leftover.foldLeft(snapshot(v.name).getOrElse(return None))(overView)
    val mvCols = mvDf.columns.map(_.toLowerCase).toSet
    def find(xs: Seq[(String, String)], colName: String): Option[String] =
      xs.collectFirst { case (n, e) if bare(e).contains(colName) => n }

    // map every output expression to a Column over the view; None on
    // the first unmatchable one. Output i is carried under a
    // collision-proof name __mv_o_i until the final attribute graft.
    val built = agg.aggregateExpressions.map { ne =>
      mapOutput(ne, groupNames, v, exact, mvCols, find)
    }
    if (built.exists(_.isEmpty)) return None
    assemble(agg, mvDf, built.map(_.get), exact, groupNames.toSeq.sorted,
      v.name, (if (exact) "exact" else "rollup") +
        where.map(_ => "+where").getOrElse(""))
  }

  /** Build the replacement frame over the (already filtered) view and
    * graft it under the original Aggregate's attribute ids/types, so
    * everything above keeps resolving. `rollupKeys` are the VIEW
    * column names the coarser re-aggregation groups by. */
  private def assemble(agg: Aggregate, mvDf: DataFrame, cols: Seq[Mapped],
                       exact: Boolean, rollupKeys: Seq[String],
                       vName: String, mode: String)
      : Option[(LogicalPlan, String, String)] = {
    def tag(i: Int) = s"__mv_o_$i"

    val replacement: DataFrame =
      if (exact)
        mvDf.select(cols.zipWithIndex.map { case (c, i) => c.expr.as(tag(i)) }: _*)
      else {
        val aggOut = cols.zipWithIndex.filter(!_._1.isKey)
        if (aggOut.isEmpty)
          // pure key projection at coarser grain: the distinct subset
          mvDf.select(cols.zipWithIndex.map { case (c, i) => c.expr.as(tag(i)) }: _*)
            .distinct()
        else {
          val keyCols = rollupKeys.map(col)
          val aggCols = aggOut.map { case (c, i) => c.expr.as(tag(i)) }
          val g = mvDf.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
          // restore the query's output order (groupBy puts keys first)
          g.select(cols.zipWithIndex.map { case (c, i) =>
            if (c.isKey) c.expr.as(tag(i)) else col(tag(i))
          }: _*)
        }
      }

    // graft the replacement under the original attribute ids/types so
    // everything above the Aggregate keeps resolving
    val rplan = replacement.queryExecution.analyzed
    val aliases: Seq[NamedExpression] = agg.output.zip(rplan.output).map {
      case (orig, repl) =>
        val e: Expression =
          if (repl.dataType == orig.dataType) repl
          else Cast(repl, orig.dataType)
        Alias(e, orig.name)(exprId = orig.exprId)
    }
    Some((Project(aliases, rplan), vName, mode))
  }

  // ---------------- join-view matching ------------------------------
  //
  // A view declared `OVER fact JOIN d1 ON c1 [JOIN d2 ON c2]...` is
  // served to queries whose FROM is an inner-join tree over the SAME
  // member tables with the SAME total condition set — associativity
  // and join order fall away because an inner-join tree is exactly
  // sigma(all conditions)(t1 x t2 x ...). Attributes are matched by
  // RESOLVED IDENTITY (leaf table, column name), never by alias, so
  // `FROM orders o JOIN customer c ON o.custkey = c.custkey` matches a
  // view declared over `orders JOIN customer ON
  // orders.custkey = customer.custkey`. Extra query conjuncts (from ON
  // or WHERE) are leftovers and must be key-only, exactly like the
  // single-table path; a missing view conjunct refuses.

  import org.apache.spark.sql.catalyst.expressions.ExprId

  /** The query side of a join match: leaf tables (alias-resolved name,
    * relation, subtree output) and every inner-join conjunct. */
  private final case class JoinTree(
      leaves: Seq[(String, LogicalRelation,
        Seq[org.apache.spark.sql.catalyst.expressions.Attribute])],
      onConds: Seq[Expression])

  /** Collect an inner-join tree: every internal node a conditioned
    * INNER Join, every leaf a bare (aliased) table scan. Any other
    * shape (outer joins, subquery leaves, cross joins) returns None —
    * the rewrite refuses rather than risks. */
  private def collectTree(p: LogicalPlan): Option[JoinTree] = p match {
    case j: Join if j.joinType == Inner && j.condition.isDefined =>
      for { l <- collectTree(j.left); r <- collectTree(j.right) }
        yield JoinTree(l.leaves ++ r.leaves,
          l.onConds ++ r.onConds ++ conjuncts(j.condition.get))
    case leaf => baseScan(leaf, None).map { case (t, rel) =>
      JoinTree(Seq((t, rel, leaf.output)), Nil) }
  }

  /** Canonical form with RESOLVED table identity: each attribute
    * becomes `table.column` (both lowercased) via the leaf it resolves
    * to — the qualifier survives aliasing, so two predicates over the
    * same join compare equal iff they constrain the same columns of
    * the same tables. */
  private def canonId(e: Expression, attrTable: Map[ExprId, String]): Expression =
    normalize(e).transformUp {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          Seq(attrTable.getOrElse(a.exprId, "__unresolved"), a.name.toLowerCase))
    }

  /** A join view's resolution against its registered member tables:
    * member set, required canonical conjuncts (ON ++ WHERE), and the
    * identity -> view-column maps for keys and each aggregate kind. */
  private final case class JoinViewInfo(
      members: Set[String],
      required: Seq[Expression],
      countCol: String,
      keyIds: Map[(String, String), String],
      sumIds: Map[(String, String), String],
      minIds: Map[(String, String), String],
      maxIds: Map[(String, String), String],
      avgIds: Map[(String, String), String])

  // keyed by "<name> <spec fingerprint>"; invalidated with the
  // predicate cache on CREATE/DROP of the view
  private val joinInfoCache =
    scala.collection.concurrent.TrieMap.empty[String, Option[JoinViewInfo]]

  private def joinViewInfo(v: SqlRouter.MvSpec,
                           snapshot: String => Option[DataFrame]): Option[JoinViewInfo] = {
    val fp = (Seq(v.name, v.over) ++
      v.joins.flatMap { case (t, c) => Seq(t, c) } ++ v.keys ++
      Seq(v.where.getOrElse(""), v.countCol) ++
      (v.sums ++ v.mins ++ v.maxs ++ v.avgs).flatMap { case (n, e) => Seq(n, e) })
      .mkString("\u0000")
    joinInfoCache.getOrElseUpdate(fp, buildJoinViewInfo(v, snapshot))
  }

  private def buildJoinViewInfo(v: SqlRouter.MvSpec,
                                snapshot: String => Option[DataFrame]): Option[JoinViewInfo] =
    try {
      def member(t: String) = snapshot(t).get.alias(t)
      val base = member(v.over)
      def pcol(t: String) = ColumnBridge.column(
        base.sparkSession.sessionState.sqlParser.parseExpression(t))
      val frame = v.joins.foldLeft(base) {
        case (acc, (t, c)) => acc.join(member(t), pcol(c), "inner")
      }
      val full = v.where.map(w => frame.filter(pcol(w))).getOrElse(frame)
      @tailrec def peel(p: LogicalPlan, acc: Seq[Expression])
          : (LogicalPlan, Seq[Expression]) = p match {
        case Filter(c, ch) => peel(ch, acc ++ conjuncts(c))
        case x => (x, acc)
      }
      val (jp, wconjs) = peel(full.queryExecution.analyzed, Nil)
      collectTree(jp).flatMap { tree =>
        val attrT = tree.leaves.flatMap { case (t, _, out) =>
          out.map(_.exprId -> t.toLowerCase) }.toMap
        // a declared key/aggregate source must resolve to a bare
        // column of one member — anything else is unservable
        def ident(text: String): Option[(String, String)] =
          frame.select(pcol(text)).queryExecution.analyzed match {
            case Project(Seq(ne), _) =>
              (ne match { case Alias(c, _) => c; case x => x }) match {
                case a: AttributeReference =>
                  attrT.get(a.exprId).map(t => (t, a.name.toLowerCase))
                case _ => None
              }
            case _ => None
          }
        def aggMap(xs: Seq[(String, String)]): Map[(String, String), String] =
          xs.flatMap { case (n, e) => ident(e).map(_ -> n) }.toMap
        val keyIdsOpt = v.keys.map(k =>
          ident(k).map(_ -> SqlRouter.MvSpec.storageName(k).toLowerCase))
        if (keyIdsOpt.exists(_.isEmpty)) None
        else Some(JoinViewInfo(
          tree.leaves.map(_._1.toLowerCase).toSet,
          (tree.onConds ++ wconjs).map(canonId(_, attrT)),
          v.countCol,
          keyIdsOpt.flatten.toMap,
          aggMap(v.sums), aggMap(v.mins), aggMap(v.maxs), aggMap(v.avgs)))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def rewriteJoinAgg(agg: Aggregate, where: Option[Expression],
                             join: Join, views: Seq[SqlRouter.MvSpec],
                             snapshot: String => Option[DataFrame])
      : Option[(LogicalPlan, String, String)] = {
    if (views.isEmpty) return None
    val tree = collectTree(join) match {
      case Some(t) => t
      case None => return None
    }
    val names = tree.leaves.map(_._1.toLowerCase)
    if (names.distinct.size != names.size) return None // self-join: refuse
    val attrTable: Map[ExprId, String] = tree.leaves.flatMap {
      case (t, _, out) => out.map(_.exprId -> t.toLowerCase) }.toMap
    val groupIds = agg.groupingExpressions.map {
      case a: AttributeReference if attrTable.contains(a.exprId) =>
        (attrTable(a.exprId), a.name.toLowerCase)
      case _ => return None
    }
    if (groupIds.distinct.size != groupIds.size) return None
    val qcanon = (tree.onConds ++ where.toSeq.flatMap(conjuncts))
      .map(c => (c, canonId(c, attrTable)))
    views.iterator
      .flatMap(v => tryJoinView(agg, groupIds.toSet, qcanon,
        tree, attrTable, v, snapshot, where.nonEmpty))
      .nextOption()
  }

  private def tryJoinView(agg: Aggregate,
                          groupIds: Set[(String, String)],
                          qcanon: Seq[(Expression, Expression)],
                          tree: JoinTree, attrTable: Map[ExprId, String],
                          v: SqlRouter.MvSpec,
                          snapshot: String => Option[DataFrame],
                          hadWhere: Boolean)
      : Option[(LogicalPlan, String, String)] = {
    val info = joinViewInfo(v, snapshot) match {
      case Some(i) => i
      case None => return None
    }
    if (info.members != tree.leaves.map(_._1.toLowerCase).toSet) return None
    // pin every leaf relation to its member's latest snapshot
    if (!tree.leaves.forall { case (t, rel, _) => isSnapshot(rel, t, snapshot) })
      return None
    val exact = groupIds == info.keyIds.keySet
    if (!exact && !groupIds.subsetOf(info.keyIds.keySet)) return None
    // every view conjunct (ON and WHERE) must appear in the query's
    // total conjunct set; leftovers must be key-only and re-apply
    var remaining = qcanon
    val allMatched = info.required.forall { rc =>
      remaining.indexWhere(_._2 == rc) match {
        case -1 => false
        case i => remaining = remaining.patch(i, Nil, 1); true
      }
    }
    if (!allMatched) return None
    val leftover = remaining.map(_._1)
    def identOf(a: org.apache.spark.sql.catalyst.expressions.Attribute)
        : Option[(String, String)] =
      attrTable.get(a.exprId).map(t => (t, a.name.toLowerCase))
    val keyOnly = leftover.forall(c => c.deterministic &&
      c.find(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.SubqueryExpression]).isEmpty &&
      c.references.forall(a => identOf(a).exists(info.keyIds.contains)))
    if (!keyOnly) return None

    // leftover predicates re-target the view's storage-named keys
    val mvDf = leftover.foldLeft(snapshot(v.name).getOrElse(return None)) { (df, cond) =>
      val rebound = normalize(cond).transform {
        case a: AttributeReference =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            Seq(info.keyIds(identOf(a).get)))
      }
      df.filter(ColumnBridge.column(rebound))
    }
    val mvCols = mvDf.columns.map(_.toLowerCase).toSet
    val built = agg.aggregateExpressions.map(ne =>
      mapOutputJoin(ne, groupIds, attrTable, info, exact, mvCols))
    if (built.exists(_.isEmpty)) return None
    val rollupKeys = groupIds.toSeq.map(info.keyIds).sorted
    assemble(agg, mvDf, built.map(_.get), exact, rollupKeys, v.name,
      (if (exact) "exact" else "rollup") + "+join" +
        (if (hadWhere) "+where" else ""))
  }

  /** One query output expression -> its view-side form for a JOIN
    * view, matching aggregate sources by resolved (table, column)
    * identity. */
  private def mapOutputJoin(ne: NamedExpression,
                            groupIds: Set[(String, String)],
                            attrTable: Map[ExprId, String],
                            info: JoinViewInfo, exact: Boolean,
                            mvCols: Set[String]): Option[Mapped] = {
    def ident(a: AttributeReference): Option[(String, String)] =
      attrTable.get(a.exprId).map(t => (t, a.name.toLowerCase))
    def key(a: AttributeReference): Option[Mapped] =
      ident(a).filter(groupIds.contains).flatMap(info.keyIds.get)
        .map(n => Mapped(col(n), isKey = true))
    def agg(ae: AggregateExpression): Option[Mapped] = {
      if (ae.isDistinct || ae.filter.nonEmpty) return None
      ae.aggregateFunction match {
        case c: Count if c.children.sizeIs == 1 &&
            c.children.head.isInstanceOf[Literal] &&
            c.children.head.asInstanceOf[Literal].value != null =>
          val n = info.countCol
          Some(Mapped(if (exact) col(n)
                      else coalesce(sum(col(n)), lit(0L)), isKey = false))
        case s: Sum => s.child match {
          case a: AttributeReference =>
            ident(a).flatMap(info.sumIds.get).map(n =>
              Mapped(if (exact) col(n) else sum(col(n)), isKey = false))
          case _ => None
        }
        case m: Min => m.child match {
          case a: AttributeReference =>
            ident(a).flatMap(info.minIds.get).map(n =>
              Mapped(if (exact) col(n) else min(col(n)), isKey = false))
          case _ => None
        }
        case m: Max => m.child match {
          case a: AttributeReference =>
            ident(a).flatMap(info.maxIds.get).map(n =>
              Mapped(if (exact) col(n) else max(col(n)), isKey = false))
          case _ => None
        }
        case av: Average => av.child match {
          case a: AttributeReference =>
            ident(a).flatMap(info.avgIds.get).flatMap { n =>
              if (exact) Some(Mapped(col(n), isKey = false))
              else {
                val (bs, bc) = (Mvm.avgBackingSum(n), Mvm.avgBackingCnt(n))
                if (mvCols.contains(bs.toLowerCase) &&
                    mvCols.contains(bc.toLowerCase)) {
                  val ratio = ne.dataType match {
                    case _: org.apache.spark.sql.types.DecimalType =>
                      sum(col(bs)) / sum(col(bc))
                    case _ => sum(col(bs)).cast("double") / sum(col(bc))
                  }
                  Some(Mapped(when(sum(col(bc)) > 0, ratio), isKey = false))
                } else None
              }
            }
          case _ => None
        }
        case _ => None
      }
    }
    ne match {
      case a: AttributeReference => key(a)
      case Alias(a: AttributeReference, _) => key(a)
      case Alias(ae: AggregateExpression, _) => agg(ae)
      case _ => None
    }
  }

  /** A mapped output: the Column over the view, and whether it is a
    * grouping key (keys pass through the rollup's groupBy; everything
    * else re-aggregates). */
  private final case class Mapped(expr: Column, isKey: Boolean)

  /** One query output expression -> its view-side form, or None when
    * the view cannot serve it. */
  private def mapOutput(ne: NamedExpression, groupNames: Set[String],
                        v: SqlRouter.MvSpec, exact: Boolean,
                        mvCols: Set[String],
                        find: (Seq[(String, String)], String) => Option[String])
      : Option[Mapped] = {
    def agg(ae: AggregateExpression): Option[Mapped] = {
      if (ae.isDistinct || ae.filter.nonEmpty) return None
      ae.aggregateFunction match {
        case c: Count if c.children.sizeIs == 1 &&
            c.children.head.isInstanceOf[Literal] &&
            c.children.head.asInstanceOf[Literal].value != null =>
          val n = v.countCol
          Some(Mapped(if (exact) col(n)
                      else coalesce(sum(col(n)), lit(0L)), isKey = false))
        case s: Sum => s.child match {
          case a: AttributeReference => find(v.sums, a.name.toLowerCase).map { n =>
            Mapped(if (exact) col(n) else sum(col(n)), isKey = false)
          }
          case _ => None
        }
        case m: Min => m.child match {
          case a: AttributeReference => find(v.mins, a.name.toLowerCase).map { n =>
            Mapped(if (exact) col(n) else min(col(n)), isKey = false)
          }
          case _ => None
        }
        case m: Max => m.child match {
          case a: AttributeReference => find(v.maxs, a.name.toLowerCase).map { n =>
            Mapped(if (exact) col(n) else max(col(n)), isKey = false)
          }
          case _ => None
        }
        case a: Average => a.child match {
          case ar: AttributeReference => find(v.avgs, ar.name.toLowerCase).flatMap { n =>
            if (exact) Some(Mapped(col(n), isKey = false))
            else {
              // re-derive from the maintained backing pair; both must
              // still be stored view columns. DECIMAL averages divide
              // in decimal arithmetic (Spark's own Average for
              // decimal is exact to the result scale — routing
              // through double would perturb low-order digits); the
              // final Cast to the query's exact output type happens
              // in the attribute graft.
              val (bs, bc) = (Mvm.avgBackingSum(n), Mvm.avgBackingCnt(n))
              if (mvCols.contains(bs.toLowerCase) && mvCols.contains(bc.toLowerCase)) {
                val ratio = ne.dataType match {
                  case _: org.apache.spark.sql.types.DecimalType =>
                    sum(col(bs)) / sum(col(bc))
                  case _ => sum(col(bs)).cast("double") / sum(col(bc))
                }
                Some(Mapped(when(sum(col(bc)) > 0, ratio), isKey = false))
              } else None
            }
          }
          case _ => None
        }
        case _ => None
      }
    }
    ne match {
      case a: AttributeReference if groupNames.contains(a.name.toLowerCase) =>
        Some(Mapped(col(a.name), isKey = true))
      case Alias(a: AttributeReference, _)
          if groupNames.contains(a.name.toLowerCase) =>
        Some(Mapped(col(a.name), isKey = true))
      case Alias(ae: AggregateExpression, _) => agg(ae)
      case _ => None
    }
  }
}
