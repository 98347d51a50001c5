package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.ManagedTable

/** Streaming CDC apply INTO a managed table: the loop that closes the
  * engine's write path end-to-end — a change stream lands as
  * MERGE-upserts against [[ManagedTable]], so the table converges to
  * the latest row per key no matter how the stream is micro-batched.
  *
  * Per micro-batch:
  *   1. reduce the batch to its latest row per key (max struct over
  *      `orderCols` — the q83 total order, so ties are deterministic
  *      and redeliveries are harmless);
  *   2. [[ManagedTable.upsert]] the survivors (matched keys replaced,
  *      new keys inserted — copy-on-write on the affected files only).
  *
  * Cross-batch staleness is handled by the same total order argument
  * as `StatefulOps.latestVersion`: an older redelivery in a later
  * batch DOES overwrite — callers whose streams can redeliver stale
  * rows across batches should pre-filter with `latestVersion` (its
  * state drops stale re-emissions) or accept last-writer-wins per
  * batch. Within a batch, the reduce makes order irrelevant.
  *
  * Scale notes: the reduce is one hash aggregate on the key; the
  * upsert probe prunes to affected files. Exactly-once holds at the
  * TABLE level per batch via the snapshot commit: a retried batch
  * re-applies the same upsert, which is idempotent (same survivors
  * replace the same keys). `foreachBatch` + checkpoint gives at-least-
  * once batch delivery; idempotent apply upgrades it.
  */
object ManagedSink {

  /** The batch's latest row per `keys` under the total order of
    * `orderCols` (later = greater tuple): max(struct(orderCols...,
    * payload...)) picks the winning row per key in ONE hash aggregate
    * — the q83/q97 argmax convention. Shared with
    * [[MvSink.applyBatch]] so the view maintenance applies exactly the
    * rows the table apply does. */
  def latestPerKey(df: DataFrame, keys: Seq[String],
                   orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "need at least one ordering column for last-writer-wins")
    val others = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(col): _*)
      .agg(max(struct((orderCols ++ others.filterNot(orderCols.contains))
        .map(col): _*)).as("w"))
      .select(keys.map(col) ++
        others.map(c => col(s"w.$c").as(c)): _*)
  }

  /** Reduce `df` to its latest row per `keys` under the total order of
    * `orderCols` (later = greater tuple), then upsert into `root`.
    * Exposed for batch backfills and tested directly. */
  def applyBatch(df: DataFrame, root: String, keys: Seq[String],
                 orderCols: Seq[String]): Unit = {
    require(orderCols.nonEmpty, "need at least one ordering column for last-writer-wins")
    if (!df.isEmpty) {
      val winner = latestPerKey(df, keys, orderCols)
      val schema = ManagedTable.latest(df.sparkSession, root).schema
      ManagedTable.upsert(df.sparkSession, root,
        winner.select(schema.fieldNames.map(col): _*), keys)
    }
  }

  /** Start the streaming apply: every micro-batch lands as one
    * last-writer-wins upsert. `checkpointDir` makes restarts resume
    * from the last committed batch. */
  def upsertStream(stream: DataFrame, root: String, keys: Seq[String],
                   orderCols: Seq[String], checkpointDir: String,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch, root, keys, orderCols)
      }
      .start()
}
