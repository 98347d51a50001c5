package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance for distributive
  * aggregates (COUNT / SUM): keep a pre-aggregated view current under
  * table mutations by applying DELTA-sized work, never a full
  * recompute — the maintenance loop that makes a 100 TB rollup
  * affordable to keep fresh.
  *
  * The algebra is the classic multiset-delta form: every change is a
  * bag of rows with multiplicity +1 (arrived) or -1 (departed); a
  * COUNT maintains as SUM(mult), a SUM(x) as SUM(mult * x); merging
  * the aggregated delta into the view is one outer join on the group
  * keys; groups whose maintained count reaches 0 leave the view (so an
  * insert-then-delete round-trips to the exact original view, row set
  * included).
  *
  * Scale shape: [[applyDelta]] touches |view| + |delta| rows — the
  * delta partials are grouped BEFORE the merge join (map-side combine
  * applies), and the join keys are the view's own group keys, so with
  * the view bucketed on them the merge is co-partitioned. A keyed
  * write hands its own change set to [[changeBag]] (+written,
  * −replaced, both read off the write's matched-key probe), so its
  * maintenance never scans the table: `streaming.MvSink` per batch,
  * and in `server.SqlRouter` ingest, UPSERT and INSERT. [[delta]]
  * derives a bag from two table versions via EXCEPT ALL both ways —
  * the version-log fallback (a shuffle over each whole version,
  * delta-sized output), left to statements that supply no change set:
  * UPDATE, DELETE, RESTORE and SYNC.
  *
  * Contract: group keys must be non-null — the merge is an equi-join
  * on them, and a null key would group in the aggregate but never
  * match in the join. Coalesce nullable keys to a sentinel upstream.
  */
object Mvm {

  /** Reserved multiplicity column carried by delta bags. */
  val MultCol = "__mult"

  /** The change bag between two snapshots of a table, as rows of
    * `cols` with [[MultCol]] = +1 (present in new, not old) or -1
    * (present in old, not new), bag semantics — a row changed in
    * place shows up once with -1 (old content) and once with +1 (new
    * content). Output is delta-sized; unchanged rows never appear. */
  def delta(oldSnap: DataFrame, newSnap: DataFrame,
            cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    require(!cols.contains(MultCol), s"$MultCol is reserved")
    val o = oldSnap.select(cols.map(col): _*)
    val n = newSnap.select(cols.map(col): _*)
    n.exceptAll(o).withColumn(MultCol, lit(1L))
      .unionByName(o.exceptAll(n).withColumn(MultCol, lit(-1L)))
  }

  /** The change bag of one keyed write, read off the write itself:
    * the rows it wrote at +1, the rows it replaced at −1 (same
    * columns). Unlike [[delta]] it scans no table version — and a
    * row rewritten unchanged appears at both signs, which every
    * aggregate below cancels. */
  def changeBag(written: DataFrame, replaced: DataFrame): DataFrame =
    written.withColumn(MultCol, lit(1L))
      .unionByName(replaced.withColumn(MultCol, lit(-1L)))

  /** Compute the view directly — the bootstrap (and the recompute an
    * incremental result must equal). `countCol` maintains COUNT(*);
    * each `(name, expr)` in `sums` maintains SUM(expr), in `mins`
    * MIN(expr), in `maxs` MAX(expr), in `avgs` AVG(expr). */
  def compute(base: DataFrame, keys: Seq[String], countCol: String,
              sums: Seq[(String, Column)],
              mins: Seq[(String, Column)] = Nil,
              maxs: Seq[(String, Column)] = Nil,
              avgs: Seq[(String, Column)] = Nil): DataFrame =
    withAvgs(base.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(countCol),
        (sums ++ avgBacking(avgs)).map { case (nm, e) => sum(e).as(nm) } ++
          mins.map { case (nm, e) => min(e).as(nm) } ++
          maxs.map { case (nm, e) => max(e).as(nm) }: _*),
      countCol, avgs)

  /** AVG maintains as its backing SUM (a plain distributive column in
    * the stored view) plus a DERIVED visible column recomputed after
    * every merge — `avg = backing_sum / count`, the only form that is
    * exactly incremental under inserts AND deletes (maintaining the
    * quotient directly is not). AVG ignores nulls, so the backing sum
    * pairs with a per-expression non-null count — COUNT(*) would
    * silently shift the average of a nullable expression. */
  def avgBackingSum(name: String): String = s"__avg_sum_$name"
  def avgBackingCnt(name: String): String = s"__avg_cnt_$name"

  private def avgBacking(avgs: Seq[(String, Column)]): Seq[(String, Column)] =
    avgs.flatMap { case (nm, e) => Seq(
      avgBackingSum(nm) -> e,
      avgBackingCnt(nm) -> when(e.isNotNull, lit(1L)).otherwise(lit(0L))) }

  private def withAvgs(df: DataFrame, countCol: String,
                       avgs: Seq[(String, Column)]): DataFrame =
    avgs.foldLeft(df) { case (d, (nm, _)) =>
      d.withColumn(nm,
        when(col(avgBackingCnt(nm)) > 0,
          col(avgBackingSum(nm)).cast("double") / col(avgBackingCnt(nm))))
    }

  /** [[applyDelta]]/[[applyDeltaExtrema]] with the AVG layer: backing
    * sums/counts maintain as ordinary distributive columns, visible
    * averages recompute from them afterwards. `base` is required only
    * when `mins`/`maxs` are present (delete-repair). */
  def applyDeltaAll(mv: DataFrame, deltaBag: DataFrame,
                    base: Option[DataFrame], keys: Seq[String],
                    countCol: String, sums: Seq[(String, Column)],
                    mins: Seq[(String, Column)], maxs: Seq[(String, Column)],
                    avgs: Seq[(String, Column)]): DataFrame = {
    val allSums = sums ++ avgBacking(avgs)
    val core =
      if (mins.isEmpty && maxs.isEmpty)
        applyDelta(mv, deltaBag, keys, countCol, allSums)
      else
        applyDeltaExtrema(mv, deltaBag,
          base.getOrElse(throw new IllegalArgumentException(
            "MIN/MAX maintenance needs the post-mutation base table")),
          keys, countCol, allSums, mins, maxs)
    withAvgs(core, countCol, avgs)
  }

  /** Merge a change bag into the view: aggregate the delta's partials
    * per group (COUNT -> SUM(mult), SUM(x) -> SUM(mult * x)), full-
    * outer join on the group keys, add with null-as-zero on BOTH
    * sides (new groups arrive, untouched groups carry), drop groups
    * whose maintained count is 0. The result is row-identical to
    * [[compute]] over the mutated base — MvmSpec pins that identity
    * and the q141 gate proves it against the DuckDB recompute. */
  def applyDelta(mv: DataFrame, deltaBag: DataFrame, keys: Seq[String],
                 countCol: String, sums: Seq[(String, Column)]): DataFrame = {
    require(keys.nonEmpty, "at least one group key")
    val outCols = countCol +: sums.map(_._1)
    require(outCols.forall(mv.columns.contains),
      s"view is missing maintained columns ${outCols.filterNot(mv.columns.contains).mkString(", ")}")
    val partials = deltaBag.groupBy(keys.map(col): _*)
      .agg(sum(col(MultCol)).as(s"__d_$countCol"),
        sums.map { case (nm, e) => sum(col(MultCol) * e).as(s"__d_$nm") }: _*)
    mv.join(partials, keys, "full_outer")
      .select(keys.map(col) ++ outCols.map(c =>
        (coalesce(col(c), lit(0L)) + coalesce(col(s"__d_$c"), lit(0L))).as(c)): _*)
      .filter(col(countCol) > 0)
  }

  /** [[applyDelta]] extended to MIN/MAX — the aggregates that are NOT
    * fully incremental under deletes. Inserts maintain for free
    * (`least(old_min, min(inserted))`); a delete can only change the
    * extremum when the deleted value IS the extremum, so exactly those
    * groups — `min(deleted) <= view_min` (resp `>=` for max) — are
    * DELETE-REPAIRED: their extrema recompute from `base` (the
    * post-mutation table), scoped by a semi-join on the dirty group
    * keys. Repair cost is |dirty groups|' rows of base — delta-scoped
    * in the common case, and the honest price of keeping MIN/MAX in an
    * incrementally-maintained view (every production MV engine either
    * pays it or refuses the aggregate).
    *
    * Null semantics match SQL aggregates: null expr values never set
    * or remove an extremum; a group whose live values are all null has
    * a null extremum (repair computes exactly that).
    */
  def applyDeltaExtrema(mv: DataFrame, deltaBag: DataFrame, base: DataFrame,
                        keys: Seq[String], countCol: String,
                        sums: Seq[(String, Column)],
                        mins: Seq[(String, Column)],
                        maxs: Seq[(String, Column)]): DataFrame = {
    if (mins.isEmpty && maxs.isEmpty)
      return applyDelta(mv, deltaBag, keys, countCol, sums)
    val outCols = countCol +: sums.map(_._1)
    val extCols = mins.map(_._1) ++ maxs.map(_._1)
    require((outCols ++ extCols).forall(mv.columns.contains),
      s"view is missing maintained columns " +
        (outCols ++ extCols).filterNot(mv.columns.contains).mkString(", "))
    val ins = col(MultCol) > 0
    val del = col(MultCol) < 0
    val partials = deltaBag.groupBy(keys.map(col): _*)
      .agg(sum(col(MultCol)).as(s"__d_$countCol"),
        sums.map { case (nm, e) => sum(col(MultCol) * e).as(s"__d_$nm") } ++
          mins.flatMap { case (nm, e) => Seq(
            min(when(ins, e)).as(s"__i_$nm"), min(when(del, e)).as(s"__x_$nm")) } ++
          maxs.flatMap { case (nm, e) => Seq(
            max(when(ins, e)).as(s"__i_$nm"), max(when(del, e)).as(s"__x_$nm")) }: _*)
    val joined = mv.join(partials, keys, "full_outer")
    // a group is dirty when a deleted value ties-or-beats the stored
    // extremum (a null stored extremum means no live non-null value —
    // inserts alone determine the new one, no repair needed)
    val dirtyCond = (mins.map { case (nm, _) =>
        col(s"__x_$nm").isNotNull && col(nm).isNotNull && col(s"__x_$nm") <= col(nm) } ++
      maxs.map { case (nm, _) =>
        col(s"__x_$nm").isNotNull && col(nm).isNotNull && col(s"__x_$nm") >= col(nm) })
      .reduce(_ || _)
    val merged = joined
      .select(keys.map(col) ++
        outCols.map(c =>
          (coalesce(col(c), lit(0L)) + coalesce(col(s"__d_$c"), lit(0L))).as(c)) ++
        mins.map { case (nm, _) => least(col(nm), col(s"__i_$nm")).as(nm) } ++
        maxs.map { case (nm, _) => greatest(col(nm), col(s"__i_$nm")).as(nm) } :+
        coalesce(dirtyCond, lit(false)).as("__dirty"): _*)
      .filter(col(countCol) > 0)
    val dirtyKeys = merged.filter(col("__dirty")).select(keys.map(col): _*)
    val repairAggs = mins.map { case (nm, e) => min(e).as(s"__r_$nm") } ++
      maxs.map { case (nm, e) => max(e).as(s"__r_$nm") }
    val repair = base.join(broadcast(dirtyKeys), keys, "left_semi")
      .groupBy(keys.map(col): _*)
      .agg(repairAggs.head, repairAggs.tail: _*)
    merged.join(broadcast(repair), keys, "left")
      .select(keys.map(col) ++ outCols.map(col) ++
        extCols.map(c =>
          when(col("__dirty"), col(s"__r_$c")).otherwise(col(c)).as(c)): _*)
  }
}
