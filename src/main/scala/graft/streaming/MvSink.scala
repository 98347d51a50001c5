package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Mvm
import graft.sources.ManagedTable

/** Streaming CDC apply that keeps a materialized rollup CURRENT: each
  * micro-batch lands in the base [[ManagedTable]] as a last-writer-
  * wins upsert (exactly [[ManagedSink]]'s apply) AND is folded into a
  * second managed table holding the view, via [[Mvm]]'s multiset-delta
  * algebra — so the rollup a dashboard reads is always one batch
  * behind the stream, at delta-sized cost, with no recompute anywhere.
  *
  * Per micro-batch:
  *   1. reduce the batch to its winners per key ([[ManagedSink.latestPerKey]]);
  *   2. upsert the winners into the base table
  *      ([[ManagedTable.upsertChanges]]), which hands back its change
  *      set: the rows it wrote (the winners write-time constraints
  *      admitted — quarantined rows never count) and the rows it
  *      replaced (the pre-image of the matched keys, materialized by
  *      the upsert's own matched-key probe before any file is
  *      rewritten — no second scan);
  *   3. the view delta is (+written, −replaced) — exactly the rows the
  *      upsert changed, at most |written| + |replaced| rows, counts the
  *      upsert already has;
  *   4. fold it into the view as ONE keyed replace
  *      ([[ManagedTable.replaceMatched]]): the probe that finds the view
  *      files holding the bag's groups also materializes those groups'
  *      rows, [[Mvm.applyDeltaAll]] merges them with the bag, and the
  *      merged groups replace them in a single commit, so a group whose
  *      maintained count hit 0 simply is not re-added. The view moves by
  *      exactly one version per batch, stays in as few files as its
  *      bytes need, and no reader sees a half-applied merge; an empty
  *      bag commits nothing.
  *
  * Idempotence (the foreachBatch retry contract): a re-applied batch
  * replaces each row with itself, the delta bag cancels to zero per
  * group, and the keyed replace rewrites the affected groups with
  * unchanged values — both tables converge to the same state.
  *
  * Scale shape: every step is batch- or group-delta-sized — the
  * pre-image comes from the upsert's key semi-join against the base
  * table, the view merge joins |affected groups| rows, and no row or
  * group key is collected (only the affected file names of each
  * keyed write are). Group keys must be non-null (join-key semantics;
  * same contract as [[Mvm]]).
  */
object MvSink {

  /** Create the view table at `viewRoot` from the base table's current
    * state — the one full compute (the bootstrap every incremental
    * scheme pays once). */
  def bootstrap(spark: SparkSession, tableRoot: String, viewRoot: String,
                viewKeys: Seq[String], countCol: String,
                sums: Seq[(String, Column)],
                mins: Seq[(String, Column)] = Nil,
                maxs: Seq[(String, Column)] = Nil,
                avgs: Seq[(String, Column)] = Nil): Unit = {
    val mv = Mvm.compute(ManagedTable.read(spark, tableRoot),
      viewKeys, countCol, sums, mins, maxs, avgs)
    ManagedTable.create(spark, viewRoot, mv.schema)
    ManagedTable.insert(spark, viewRoot, mv)
  }

  /** One micro-batch: base-table upsert + incremental view merge.
    * Exposed for batch backfills and tested directly. */
  def applyBatch(batch: DataFrame, tableRoot: String, viewRoot: String,
                 keys: Seq[String], orderCols: Seq[String],
                 viewKeys: Seq[String], countCol: String,
                 sums: Seq[(String, Column)],
                 mins: Seq[(String, Column)] = Nil,
                 maxs: Seq[(String, Column)] = Nil,
                 avgs: Seq[(String, Column)] = Nil): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val schema = ManagedTable.history(spark, tableRoot).last.schema
    val winners = ManagedSink.latestPerKey(batch, keys, orderCols)
      .select(schema.fieldNames.map(col): _*)
    val cs = ManagedTable.upsertChanges(spark, tableRoot, winners, keys)
    // extrema delete-repair reads the POST-upsert base (dirty groups only)
    val base = if (mins.isEmpty && maxs.isEmpty) None
               else Some(ManagedTable.read(spark, tableRoot))
    mergeBagIntoView(spark, viewRoot, Mvm.changeBag(cs.written, cs.replaced),
      viewKeys, countCol, sums, mins, maxs, base, avgs, bagRows = cs.rows)
  }

  /** Merge a multiset delta bag ([[Mvm.MultCol]]-tagged rows) into the
    * managed view table: affected groups only, committed as one keyed
    * replace ([[ManagedTable.replaceMatched]] — the affected groups'
    * rows out, the surviving merged rows in). Shared by the streaming
    * sink and the SQL router's post-DML maintenance, so every
    * maintenance path applies the identical algebra. `bagRows` bounds
    * the bag's rows when the caller knows it (a keyed write's change
    * set does); otherwise the bag is counted. An empty bag commits
    * nothing, and a NULL group key fails the merge. */
  def mergeBagIntoView(spark: SparkSession, viewRoot: String, bag: DataFrame,
                       viewKeys: Seq[String], countCol: String,
                       sums: Seq[(String, Column)],
                       mins: Seq[(String, Column)] = Nil,
                       maxs: Seq[(String, Column)] = Nil,
                       base: Option[DataFrame] = None,
                       avgs: Seq[(String, Column)] = Nil,
                       bagRows: Option[Long] = None): Unit = {
    require(mins.isEmpty && maxs.isEmpty || base.nonEmpty,
      "MIN/MAX maintenance needs the post-mutation base table for delete-repair")
    ManagedTable.replaceMatched(spark, viewRoot, bag, viewKeys,
      bagRows.getOrElse(bag.rdd.count())) { affectedView =>
      // dead groups (count 0) are absent from the merge, so the replace drops them
      Mvm.applyDeltaAll(affectedView, bag, base, viewKeys,
        countCol, sums, mins, maxs, avgs)
        .select(affectedView.columns.map(col): _*)
    }: Unit
  }

  /** Start the streaming apply: every micro-batch lands as one base
    * upsert + one incremental view merge. `checkpointDir` makes
    * restarts resume from the last committed batch; a replayed batch
    * is a no-op by the idempotence argument above. */
  def upsertStreamWithView(stream: DataFrame, tableRoot: String,
                           viewRoot: String, keys: Seq[String],
                           orderCols: Seq[String], viewKeys: Seq[String],
                           countCol: String, sums: Seq[(String, Column)],
                           checkpointDir: String,
                           trigger: Trigger = Trigger.AvailableNow(),
                           mins: Seq[(String, Column)] = Nil,
                           maxs: Seq[(String, Column)] = Nil,
                           avgs: Seq[(String, Column)] = Nil): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch, tableRoot, viewRoot, keys, orderCols,
          viewKeys, countCol, sums, mins, maxs, avgs)
      }
      .start()
}
