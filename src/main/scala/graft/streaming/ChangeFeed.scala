package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.ManagedTable
import graft.util.Json

/** Table-follows-table incremental replication: the consumer side of
  * the CDC arc. `ManagedTable.changes` reads what a version transition
  * DID; this module APPLIES those deltas to a downstream managed
  * table, version by version, with a durable cursor — so a downstream
  * table follows an upstream one without recomputing or rescanning
  * anything but the delta.
  *
  * Batch-incremental by design: each [[sync]] call drains every
  * version committed upstream since the cursor, in ONE changes() read
  * (version spans compose — the delta from v_a to v_c equals the
  * composition of the per-version deltas, and changes() computes it
  * directly from the two snapshots). Drive it from a scheduler, an
  * ingest hook, or a stream's foreachBatch; the cursor makes any
  * cadence correct.
  *
  * Crash/replay contract (the same argument as [[ManagedSink]]):
  * the cursor file is written AFTER the apply commits, so a crash
  * between apply and cursor advance replays the span on the next
  * sync. Replay is idempotent — added/changed rows re-upsert to the
  * identical content, removed keys re-delete to a no-op — proven in
  * ChangeFeedSpec by replaying a span over an already-synced table.
  *
  * Scale shape: the changes() read reduces both snapshots to
  * (keys, 16-byte hash) before its full-outer join; the apply is one
  * [[ManagedTable.upsert]] (probe prunes to affected files) plus one
  * [[ManagedTable.deleteKeys]] (same probe) — all delta-sized on the
  * probe side, never table-sized.
  */
object ChangeFeed {

  /** One sync outcome: the upstream span applied ([from, to]; from ==
    * to means "already current, nothing applied") and the delta's row
    * counts by class. */
  final case class SyncResult(fromVersion: Int, toVersion: Int,
                              upserted: Long, removed: Long)

  private def cursorPath(downstreamRoot: String) =
    new Path(downstreamRoot, "_graft_feed/cursor.json")

  /** The upstream version the downstream has fully applied, or None
    * before the first sync. */
  def cursor(spark: SparkSession, downstreamRoot: String): Option[Int] = {
    val p = cursorPath(downstreamRoot)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(Json.readFile(fs, p)(text => Json.long(
      Json.field(Json.parseObj(text, "feed cursor"), "applied_version"), "applied_version").toInt))
  }

  private[graft] def writeCursor(spark: SparkSession, downstreamRoot: String,
                                 upstreamRoot: String, v: Int): Unit = {
    val p = cursorPath(downstreamRoot)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // write-then-rename: a reader (or a crash) never sees a torn cursor
    val tmp = new Path(p.getParent, s".cursor.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, /*overwrite=*/ true)
    try out.write(
      s"""{"upstream":${graft.util.Json.escape(upstreamRoot)},"applied_version":$v}"""
        .getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p), s"could not advance feed cursor at $p")
  }

  /** Create the downstream as a keyed copy of the upstream's CURRENT
    * snapshot and set the cursor to it — the bootstrap a follower
    * starts from (full copy once, deltas forever after). */
  def init(spark: SparkSession, upstreamRoot: String,
           downstreamRoot: String): SyncResult = {
    val snap = ManagedTable.latest(spark, upstreamRoot)
    ManagedTable.create(spark, downstreamRoot, snap.schema)
    // pinned to snap.version: a commit landing between history() and an
    // unpinned read() would copy rows newer than the cursor we record
    // (self-healing on the next sync only because replay is idempotent)
    val rows = ManagedTable.read(spark, upstreamRoot, Some(snap.version))
    if (!rows.isEmpty) ManagedTable.insert(spark, downstreamRoot, rows): Unit
    writeCursor(spark, downstreamRoot, upstreamRoot, snap.version)
    SyncResult(snap.version, snap.version, 0L, 0L)
  }

  /** Apply every upstream version committed since the cursor to the
    * downstream table, then advance the cursor. No-op (and cheap:
    * one manifest listing) when the downstream is current.
    *
    * Schema evolution follows automatically: columns the upstream
    * added since the cursor are added to the downstream (null-filled
    * backward, same semantics as upstream reads of old files) before
    * the delta applies.
    */
  def sync(spark: SparkSession, upstreamRoot: String, downstreamRoot: String,
           keys: Seq[String]): SyncResult = {
    val from = cursor(spark, downstreamRoot).getOrElse(
      throw new IllegalStateException(
        s"no feed cursor at $downstreamRoot — bootstrap with ChangeFeed.init"))
    val upSnap = ManagedTable.latest(spark, upstreamRoot)
    if (upSnap.version <= from) return SyncResult(from, from, 0L, 0L)

    // Evolve the downstream first so the upsert's schema check passes.
    // Renames and drops mirror via the UPSTREAM's physical-identity
    // between the cursor snapshot and head: the downstream's column
    // named X corresponds to whatever upstream called X at the cursor,
    // so upstream's own old->new mapping is exactly the rename list to
    // replay. (A pure rename commits file-identical snapshots — the
    // row diff is empty — so without this mirror the follower's new
    // column would stay null forever.) A vacuumed-away cursor manifest
    // degrades to the add-only behavior.
    //
    // The mirror PRE-VALIDATES every op before mutating anything, then
    // applies drops BEFORE renames:
    //   - drops-first lets an upstream drop-B-then-rename-A->B window
    //     replay cleanly (B's slot frees before the rename lands);
    //   - a rename whose target is STILL occupied after the simulated
    //     drops (a swap rename A<->B, or a name reused for an unrelated
    //     downstream column) cannot be replayed — silently skipping it
    //     would diverge the follower PERMANENTLY (a pure rename's row
    //     diff is empty, so nothing downstream would ever correct it).
    //     Fail loudly instead: re-bootstrap the follower.
    //   - a mirrored column the FOLLOWER declared constraints on would
    //     throw mid-way, leaving it partially evolved — surfaced here,
    //     before any mutation, with the remedy.
    ManagedTable.snapshotAt(spark, upstreamRoot, from)
      .foreach { oldSnap =>
        val newByPhys = upSnap.schema.fieldNames
          .map(c => upSnap.physicalName(c) -> c).toMap
        val downSchema0 = ManagedTable.latest(spark, downstreamRoot).schema
        val renames = Seq.newBuilder[(String, String)]
        val drops = Seq.newBuilder[String]
        oldSnap.schema.fieldNames.foreach { oldName =>
          newByPhys.get(oldSnap.physicalName(oldName)) match {
            case Some(newName) if newName != oldName =>
              if (downSchema0.fieldNames.contains(oldName)) renames += oldName -> newName
            case None => // dropped upstream since the cursor
              if (downSchema0.fieldNames.contains(oldName) && !keys.contains(oldName) &&
                  downSchema0.fields.length > 1) drops += oldName
            case _ => // unchanged
          }
        }
        val (dropList, renameList) = (drops.result(), renames.result())
        // pre-validation 1: follower-declared constraints on any mirrored
        // column (the downstream's OWN rules — upstream's were already
        // honored by its evolution)
        graft.sources.Constraints.load(spark, downstreamRoot).foreach { spec =>
          val checkRefs = spec.checks.flatMap { ck =>
            try spark.sessionState.sqlParser.parseExpression(ck.sql).collect {
              case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                ua.name.toLowerCase
            } catch { case scala.util.control.NonFatal(_) => Seq("*") }
          }.toSet
          val refs = (spec.primaryKey ++ spec.notNull).map(_.toLowerCase).toSet
          val blocked = (dropList ++ renameList.map(_._1)).filter(c =>
            refs.contains(c.toLowerCase) || checkRefs.contains(c.toLowerCase) ||
              checkRefs.contains("*"))
          if (blocked.nonEmpty) throw new IllegalStateException(
            s"sync: follower $downstreamRoot declares constraints on mirrored " +
              s"column(s) ${blocked.mkString(", ")} — the upstream evolution " +
              "cannot replay; DROP CONSTRAINTS on the follower (or re-bootstrap " +
              "it) before syncing")
        }
        // pre-validation 2: ORDER the renames so every target is free
        // when its rename applies (simulated over the post-drop name
        // set): a chain (b->c then a->b) replays by applying b->c
        // first. Only a genuine CYCLE (swap a<->b) or a name reused
        // for an unrelated still-present column has no such order —
        // that is unreplayable with single-column renames and no temp
        // name, and must fail loudly.
        var names = downSchema0.fieldNames.filterNot(dropList.contains).toSet
        var pending = renameList
        val ordered = Seq.newBuilder[(String, String)]
        var progress = true
        while (pending.nonEmpty && progress) {
          pending.find { case (_, to) => !names.contains(to) } match {
            case Some(r @ (from0, to)) =>
              ordered += r
              names = names - from0 + to
              pending = pending.filterNot(_ == r)
            case None => progress = false
          }
        }
        if (pending.nonEmpty) {
          val bad = pending.map { case (f, t) => s"$f->$t" }
          throw new IllegalStateException(
            s"sync: upstream rename(s) ${bad.mkString(", ")} cannot replay on " +
              s"$downstreamRoot in any order — the target name stays occupied " +
              "downstream (a pure rename's row diff is empty, so skipping it " +
              "would diverge the follower silently and permanently). " +
              "Re-bootstrap the follower (drop it and ChangeFeed.init) to " +
              "adopt the upstream schema")
        }
        dropList.foreach(c =>
          ManagedTable.dropColumn(spark, downstreamRoot, c): Unit)
        ordered.result().foreach { case (from0, to) =>
          ManagedTable.renameColumn(spark, downstreamRoot, from0, to): Unit }
      }
    val downSchema = ManagedTable.latest(spark, downstreamRoot).schema
    upSnap.schema.fields.filterNot(f => downSchema.fieldNames.contains(f.name))
      .foreach(f => ManagedTable.addColumn(spark, downstreamRoot, f.name, f.dataType): Unit)
    // mirror type WIDENINGS (int-family up, float->double): the
    // upsert's schema check compares types exactly, so a widened
    // upstream column must widen downstream too. A downstream column
    // that is ALREADY wider than upstream (someone widened the
    // follower directly) is a no-op — the delta apply below casts the
    // narrower upstream values up into it. Only a type pair where
    // NEITHER side widens to the other is unreplayable, and that gets
    // a sync-specific loud failure (not alterColumnType's misleading
    // "narrowing" refusal).
    val downTyped = ManagedTable.latest(spark, downstreamRoot).schema
    upSnap.schema.fields.foreach { f =>
      downTyped.fields.find(_.name == f.name)
        .filter(_.dataType != f.dataType)
        .foreach { d =>
          if (ManagedTable.isWidening(f.dataType, d.dataType)) {
            () // downstream already wider: delta casts up on apply
          } else if (ManagedTable.isWidening(d.dataType, f.dataType)) {
            ManagedTable.alterColumnType(spark, downstreamRoot, f.name, f.dataType): Unit
          } else throw new IllegalStateException(
            s"sync: column '${f.name}' is ${f.dataType.simpleString} upstream " +
              s"but ${d.dataType.simpleString} downstream — neither widens to " +
              "the other, so the delta cannot replay. Re-bootstrap the " +
              "follower (drop it and ChangeFeed.init) to adopt the upstream schema")
        }
    }
    // the schema the apply must match: downstream's, post-mirroring
    // (identical to upstream's except for downstream-wider columns)
    val applySchema = ManagedTable.latest(spark, downstreamRoot).schema

    val delta = ManagedTable.changes(spark, upstreamRoot, from,
      Some(upSnap.version), keys).localCheckpoint() // read once, apply twice
    val upserts = delta.filter(col("change") =!= "removed").drop("change")
    val removed = delta.filter(col("change") === "removed")
      .select(keys.map(col): _*)
    val nUp = upserts.count()
    val nRm = removed.count()
    if (nUp > 0)
      ManagedTable.upsert(spark, downstreamRoot,
        upserts.select(upSnap.schema.fieldNames.map(n =>
          col(n).cast(applySchema(n).dataType).as(n)): _*), keys): Unit
    if (nRm > 0)
      ManagedTable.deleteKeys(spark, downstreamRoot,
        removed.select(keys.map(k =>
          col(k).cast(applySchema(k).dataType).as(k)): _*), keys): Unit
    writeCursor(spark, downstreamRoot, upstreamRoot, upSnap.version)
    SyncResult(from, upSnap.version, nUp, nRm)
  }

  /** Continuous follower: a StreamingQuery that drives [[sync]] every
    * `intervalMs` until stopped — "downstream follows upstream" as one
    * call, the streaming face of the same cursor-driven batch apply
    * (the cursor makes any cadence, restart, or replayed trigger
    * correct; an already-current tick is one manifest listing).
    *
    * Mechanics: a 1-row/s rate stream is the trigger clock; its rows
    * are discarded and its checkpoint state is irrelevant — ALL
    * progress lives in the downstream's durable feed cursor, so the
    * checkpoint dir can be wiped freely and a restarted follower
    * resumes exactly where the cursor says. A concurrent writer on the
    * same downstream (another follower, a manual sync) loses the
    * version slot with a [[ManagedTable.CommitConflict]]; the tick
    * swallows it — the winner advanced the table, the cursor stays
    * correct, and the next tick re-reads from it — so a racing sync
    * never kills the follower.
    */
  def follow(spark: SparkSession, upstreamRoot: String, downstreamRoot: String,
             keys: Seq[String], intervalMs: Long,
             checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("rate").option("rowsPerSecond", 1L).load()
      .writeStream
      .queryName(s"graft_follow_${new Path(downstreamRoot).getName}")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(intervalMs))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        // a lost race is a skipped tick, not a dead follower: the winner
        // applied the span and the durable cursor already reflects it
        try sync(spark, upstreamRoot, downstreamRoot, keys): Unit
        catch { case _: ManagedTable.CommitConflict => () }
      }
      .start()
}
