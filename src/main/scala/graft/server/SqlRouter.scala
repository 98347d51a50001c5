package graft.server

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{DescribeRelation, LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.execution.command.DescribeQueryCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StructType
import graft.sources.ManagedTable
import graft.util.Json

/** SQL statement router: the front door that gives the HTTP surface
  * (and any embedding host) the reference's full SQL UX — DML included
  * — without teaching Spark's parser new statements. DML on managed
  * tables is routed to [[ManagedTable]]'s copy-on-write operations;
  * everything else is parsed by Spark's own parser, once per
  * statement, and every relation that names a registered managed
  * table is bound to that table's snapshot at statement time (see
  * [[Snapshots]]). The `tables` map is the only record of the managed
  * names: nothing is registered in the session catalog.
  *
  * Statement forms (leading keywords case-insensitive, the embedded
  * query/expressions are full Spark SQL):
  * {{{
  *   CREATE MANAGED TABLE t (id BIGINT, name STRING) LOCATION '/path'
  *     -- optional write-time constraints in the column list, enforced
  *     -- by every INSERT/UPSERT/UPDATE/ingest (Constraints.scala):
  *     --   ..., PRIMARY KEY (id), NOT NULL (name), CHECK (id >= 0))
  *     --   LOCATION '/path' ON VIOLATION REJECT|QUARANTINE
  *   SHOW QUARANTINE [FOR] t                       -- diverted rows
  *   OPEN MANAGED TABLE t LOCATION '/path'         -- attach existing
  *   INSERT INTO t SELECT ... | INSERT INTO t VALUES (...), (...)
  *   UPDATE t SET c = expr, ... [WHERE pred]
  *   DELETE FROM t [WHERE pred]
  *   UPSERT INTO t BY (k1, k2) SELECT ...          -- MERGE: replace
  *                                                 -- matched, insert new
  *   ALTER TABLE t ALTER COLUMN c TYPE BIGINT      -- metadata-only type
  *                                                 -- WIDENING (int-family
  *                                                 -- up, float->double)
  *   CREATE BLOOM INDEX ON t (c1, c2)              -- per-file bloom
  *                                                 -- filters: point/IN
  *                                                 -- pruning on
  *                                                 -- UNCLUSTERED columns
  *   DROP BLOOM INDEX ON t | SHOW BLOOM INDEX FOR t
  *   ANALYZE TABLE t [INCREMENTAL]                 -- collect optimizer
  *                                                 -- stats (see below)
  *   SHOW STATS [FOR] t                            -- inspect them
  *                                                 -- (incl. null counts)
  *   SHOW CHANGES t FROM v [TO v2] KEY (k1, ...)   -- CDC read: keyed
  *                                                 -- row deltas between
  *                                                 -- two versions
  *   BEGIN; <stmt>; <stmt>; ...; COMMIT            -- one atomic multi-
  *                                                 -- statement batch
  *                                                 -- (ROLLBACK: stage,
  *                                                 -- then discard)
  *   <anything else>                               -- spark.sql
  * }}}
  * Transactions are submitted as ONE batch statement (the whole
  * BEGIN…COMMIT text in a single request): the router runs the inner
  * statements inside [[graft.sources.Txn.transaction]], so every
  * managed-table mutation they perform — including MV maintenance and
  * constraint-quarantine writes those mutations trigger — publishes
  * atomically, and a failing statement aborts them all. The batch
  * shape is deliberate: an interactive OPEN transaction would have to
  * pin filesystem state to one HTTP connection across requests.
  * Registration metadata (CREATE/OPEN's name→root entry) is catalog
  * state, not table data — a rolled-back CREATE keeps the name
  * registered but the table stays empty/versionless. Isolation: each
  * statement reads its snapshots through [[ManagedTable]]'s visibility
  * rule, which is per thread — the batch's own statements read their
  * staged writes, and every other reader, in this session or any
  * other, sees only published versions.
  * Mutations return a one-row summary frame `(op, tbl, version)` —
  * JSON-friendly for the HTTP layer. Exceptions that carry extra
  * accounting widen it: ingest adds `n_applied` (post-dedup winners
  * the MERGE saw); OPTIMIZE adds `n_rows`/`n_bytes`(/`n_files_scanned`). Expressions inside SET/WHERE are
  * parsed by Spark's own parser (`parseExpression`), so functions,
  * casts, and column references all behave exactly as in queries.
  *
  * Parsing here is deliberately a thin statement-splitter, not a SQL
  * grammar: it recognizes the statement SHAPE and hands every
  * expression/query substring to Spark. Unknown shapes fall through
  * to `spark.sql`, whose errors are authoritative.
  *
  * `catalogRoot`, when given, makes the name→root registry DURABLE:
  * every CREATE/OPEN/register persists the mapping to
  * `<catalogRoot>/_graft_catalog.json` (write-temp-then-rename, so a
  * crashed write never leaves a torn catalog), and a new router over
  * the same root reloads and re-registers every table at
  * construction — the server restart no longer loses its tables. The
  * table DATA and snapshot logs were always durable; this file is
  * only the tiny name→path mapping (metadata-scale: bytes per table,
  * never row data). Without `catalogRoot` the registry is in-memory,
  * the embedded/test mode.
  */
final class SqlRouter(spark: SparkSession, catalogRoot: Option[String] = None) {
  import SqlRouter.splitTopLevel

  // every SELECT through this router benefits from ANALYZE statistics:
  // the rule reorders inner-join chains and injects broadcast hints
  // from them (no-op until something is ANALYZEd — see StatsJoinPlanner)
  graft.plans.StatsJoinPlanner.install(spark)
  // manifest-level data skipping: SELECTs over the registered managed
  // tables prune their file lists against the FileStats sidecars
  // (populated by every managed read) before the scan is planned
  graft.plans.FileSkipScan.install(spark)

  private val tables = TrieMap.empty[String, String] // name -> root path
  // materialized views by name; each is ALSO a managed table in
  // `tables` (SELECT-visible, durable) plus this maintenance spec,
  // persisted as a `_graft_mv.json` sidecar in the view's directory
  private val mviews = TrieMap.empty[String, SqlRouter.MvSpec]

  private def catalogFile: Option[org.apache.hadoop.fs.Path] =
    catalogRoot.map(r => new org.apache.hadoop.fs.Path(r, "_graft_catalog.json"))

  private def catalogFs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // reload on construction: each persisted entry must still be a
  // managed table (loud otherwise — a vanished root is an operator
  // problem to surface, not to skip silently)
  catalogFile.foreach { p =>
    val f = catalogFs(p)
    if (f.exists(p)) {
      Json.readFile(f, p)(SqlRouter.parseCatalog).foreach { case (name, root) =>
        try ManagedTable.latest(spark, root)
        catch { case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"catalog entry '$name' -> $root is not a managed table " +
              s"(moved or vacuumed away?) — fix or remove it from $p", e)
        }
        tables.put(name, root)
        graft.sources.TableStatistics.load(spark, root): Unit
        SqlRouter.readMvSidecar(spark, root).foreach(spec =>
          mviews.put(spec.name, spec))
      }
    }
  }

  private def persist(): Unit = catalogFile.foreach { p =>
    val f = catalogFs(p)
    val entries = tables.toSeq.sortBy(_._1).map { case (n, r) =>
      s"${graft.util.Json.escape(n)}:${graft.util.Json.escape(r)}"
    }.mkString("{", ",", "}")
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".tmp")
    f.mkdirs(p.getParent)
    val out = f.create(tmp, /*overwrite=*/ true)
    try out.write(s"""{"tables":$entries}""".getBytes("UTF-8")) finally out.close()
    if (f.exists(p)) f.delete(p, false)
    if (!f.rename(tmp, p))
      throw new java.io.IOException(s"could not move $tmp over $p")
  }

  /** Attach an existing managed table under `name` (also done by the
    * OPEN/CREATE statements). */
  def register(name: String, root: String): Unit = {
    ManagedTable.latest(spark, root) // fails loudly on a non-table
    tables.put(name, root)
    // restore durable ANALYZE statistics (only if they describe the
    // current snapshot — TableStatistics.load enforces the version)
    graft.sources.TableStatistics.load(spark, root): Unit
    persist()
  }

  def registered: Map[String, String] = tables.toMap

  // each table's head snapshot with its frame, reused while that
  // snapshot is still the head: building a frame (file index,
  // analysis) costs several times what finding the head does. The key
  // is the whole snapshot, so a version slot that a rolled-back batch
  // freed and another commit refilled, or a head staged by another
  // thread's batch, never matches
  private val heads = TrieMap.empty[String, (ManagedTable.Snapshot, DataFrame)]

  private def head(root: String): DataFrame = {
    val snap = ManagedTable.latest(spark, root)
    heads.get(root) match {
      case Some((s, df)) if s == snap =>
        // memoized per version; re-registers after a bloom index change
        graft.sources.FileSkip.register(spark, root, snap)
        df
      case _ =>
        val df = ManagedTable.read(spark, root, snap)
        heads.put(root, (snap, df))
        df
    }
  }

  private def root(name: String): String =
    tables.getOrElse(name, throw new IllegalArgumentException(
      s"no managed table '$name' — CREATE or OPEN it first " +
        s"(have: ${tables.keys.toSeq.sorted.mkString(", ")})"))

  /** The root for a ROW-mutating statement: refuses materialized-view
    * names (the engine maintains those; mutate the base table) —
    * file-level maintenance (OPTIMIZE/VACUUM) stays allowed. */
  private def mutableRoot(name: String): String = {
    require(!mviews.contains(name),
      s"'$name' is a materialized view maintained by the engine — " +
        s"mutate its base table '${mviews(name).over}' instead")
    val r = root(name)
    // a row mutation makes ANALYZE statistics stale — drop them rather
    // than let the planner act on them (re-ANALYZE when convenient);
    // OPTIMIZE/compaction keeps rows identical and goes through
    // root(), so its stats survive
    graft.sources.TableStatistics.invalidate(r)
    r
  }

  /** Post-DML incremental maintenance: every materialized view over
    * `tbl` absorbs the (preVersion -> newVersion) delta — delta-sized
    * work via the same [[graft.operators.Mvm]] algebra the streaming
    * sink uses. `changes` is the statement's own change set, whose
    * +written/−replaced rows ([[graft.operators.Mvm.changeBag]]) are
    * the delta: ingest, UPSERT and INSERT supply it, so their
    * maintenance never scans the table; a keyed write's change set
    * also bounds the bag's rows, so a non-join view merges it with no
    * count of its own (each view absorbs its bag as one keyed replace,
    * [[graft.streaming.MvSink.mergeBagIntoView]]). Statements without
    * one (UPDATE, DELETE, RESTORE, SYNC) fall back to
    * [[graft.operators.Mvm.delta]] of the two versions, and join views
    * count their joined bag. A mutation that matched nothing returns the
    * CURRENT snapshot without committing (preVersion == newVersion)
    * — that must be a maintenance no-op, not a re-applied previous
    * delta (caught by the SqlRouterSpec fuzz). The fallback diffs the
    * two versions' shared columns, so a metadata-only schema
    * evolution between reads cannot break it (an MV whose expressions
    * need the new column fails loudly at resolution — REFRESH it
    * instead). */
  private def maintainViews(tbl: String, preVersion: Int, newVersion: Int,
                            changes: Option[ManagedTable.ChangeSet] = None): Unit = {
    val specs = mviews.values.filter(_.members.contains(tbl))
    if (specs.nonEmpty && newVersion > preVersion) {
      val r = root(tbl)
      lazy val oldV = ManagedTable.read(spark, r, asOf = Some(preVersion))
      lazy val newV = ManagedTable.read(spark, r, asOf = Some(newVersion))
      lazy val shared = newV.columns.filter(oldV.columns.contains).toSeq
      // views share one bag; a FILTERED view restricts it to its own
      // predicate — a row entering/leaving the predicate then shows up
      // as an add/remove, which is exactly the delta its rollup needs.
      // (Join views filter AFTER the delta is joined — their predicate
      // may reference other members.)
      val changeBag =
        changes.map(cs => graft.operators.Mvm.changeBag(cs.written, cs.replaced))
      lazy val commonBag = changeBag.getOrElse(
        graft.operators.Mvm.delta(oldV, newV, shared).localCheckpoint())
      specs.foreach { mv =>
        def cols(xs: Seq[(String, String)]) =
          xs.map { case (n, e) => (n, parseCol(e)) }
        if (mv.joins.isEmpty) {
          val (mins, maxs) = (cols(mv.mins), cols(mv.maxs))
          val (bag, repairBase) = mv.where match {
            case None => (commonBag, newV)
            case Some(w) =>
              val pred = parseCol(w)
              (changeBag.map(_.filter(pred)).getOrElse(
                graft.operators.Mvm.delta(oldV.filter(pred), newV.filter(pred), shared)
                  .localCheckpoint()), newV.filter(pred))
          }
          graft.streaming.MvSink.mergeBagIntoView(spark, mv.root, bag,
            mv.keys, mv.countCol, cols(mv.sums), mins, maxs,
            // extrema delete-repair reads the post-mutation base version
            // (restricted to the view's predicate when it has one)
            if (mins.isEmpty && maxs.isEmpty) None else Some(repairBase),
            cols(mv.avgs),
            // a predicate only shrinks the change set's bag
            bagRows = changes.flatMap(_.rows))
        } else {
          // JOIN view, one member changed: Δ(F ⋈ D1 ⋈ ...) when only
          // T changed is exactly (ΔT) joined with every OTHER member's
          // CURRENT state — the delta-keyed probe (|ΔT| drives the
          // probe; dimensions broadcast when small, and no
          // inclusion-exclusion is needed because the router mutates
          // one table per statement). The bag's __mult multiplies
          // through the join unchanged (+1/-1 per produced row).
          def frameAt(t: String): DataFrame =
            if (t == tbl) commonBag else ManagedTable.read(spark, root(t))
          val bag = mvFlatJoin(mv, frameAt, withMult = true).localCheckpoint()
          val needRepair = mv.mins.nonEmpty || mv.maxs.nonEmpty
          graft.streaming.MvSink.mergeBagIntoView(spark, mv.root, bag,
            mv.storageKeys, mv.countCol, mvFlatAggs(mv.sums),
            mvFlatAggs(mv.mins), mvFlatAggs(mv.maxs),
            // extrema delete-repair recomputes dirty groups from the
            // post-mutation JOIN (flattened the same way)
            if (!needRepair) None
            else Some(mvFlatJoin(mv,
              t => ManagedTable.read(spark, root(t)), withMult = false)),
            mvFlatAggs(mv.avgs))
        }
        graft.sources.TableStatistics.invalidate(mv.root)
      }
    }
  }

  private def hasViews(tbl: String): Boolean =
    mviews.values.exists(_.members.contains(tbl))

  /** Keyed upsert of `rows` into `tbl` (at `r`), with its change set
    * when views over `tbl` will absorb it. The change set's pre-image
    * probe reads every column of the table; a table without views
    * merges with a probe that reads the key columns only. */
  private def upsertInto(tbl: String, r: String, rows: DataFrame,
                         keys: Seq[String]): ManagedTable.Merged =
    ManagedTable.merge(spark, r, rows, keys, preImage = hasViews(tbl))

  /** A join view's NORMALIZED input relation: the declared inner-join
    * tree (each member aliased by its table name, so qualified
    * references in ON/WHERE/aggregates resolve), the view predicate
    * applied, then projected to storage-named keys plus one generated
    * `__in_<agg>` column per aggregate source — the flat single-
    * relation shape Mvm's delta algebra consumes unchanged. `frameOf`
    * supplies each member's relation: current state for
    * compute/refresh; during maintenance, the changed member's delta
    * bag (carrying [[graft.operators.Mvm.MultCol]]). */
  private def mvFlatJoin(mv: SqlRouter.MvSpec,
                         frameOf: String => DataFrame,
                         withMult: Boolean): DataFrame = {
    val joined = mv.joins.foldLeft(frameOf(mv.over).alias(mv.over)) {
      case (acc, (t, cond)) => acc.join(frameOf(t).alias(t), parseCol(cond), "inner")
    }
    val filtered = mv.where.map(w => joined.filter(parseCol(w))).getOrElse(joined)
    val keyCols = mv.keys.map(k => parseCol(k).as(SqlRouter.MvSpec.storageName(k)))
    def ins(xs: Seq[(String, String)]) =
      xs.map { case (n, e) => parseCol(e).as(s"__in_$n") }
    val aggCols = ins(mv.sums) ++ ins(mv.mins) ++ ins(mv.maxs) ++ ins(mv.avgs)
    val mult =
      if (withMult) Seq(col(graft.operators.Mvm.MultCol)) else Nil
    filtered.select(keyCols ++ aggCols ++ mult: _*)
  }

  /** The flattened relation's aggregate sources, by generated name. */
  private def mvFlatAggs(xs: Seq[(String, String)]): Seq[(String, Column)] =
    xs.map { case (n, _) => (n, col(s"__in_$n")) }

  /** Streaming-ingest apply: one idempotent last-writer-wins
    * MERGE-upsert batch into managed table `name`, plus incremental
    * maintenance of every dependent materialized view — the HTTP
    * surface's row-batch write path, with exactly the per-batch
    * semantics of `streaming.ManagedSink`/`MvSink` (reduce to winners
    * per key under the `orderCols` total order, upsert, fold the
    * version delta into the views). A replayed batch re-applies the
    * same winners: the table converges to the same state and the view
    * delta cancels to zero — idempotent by the same argument as the
    * streaming sink's foreachBatch retry contract. */
  def ingest(name: String, batch: DataFrame, keys: Seq[String],
             orderCols: Seq[String]): DataFrame = {
    val r = mutableRoot(name)
    require(keys.nonEmpty, "ingest needs at least one key column")
    val pre = ManagedTable.latest(spark, r)
    // no explicit order -> the key columns themselves: an arbitrary
    // but DETERMINISTIC winner for in-batch duplicate keys
    val winners = graft.streaming.ManagedSink.latestPerKey(
      batch, keys, if (orderCols.nonEmpty) orderCols else keys)
    // in-batch duplicate keys reduce to fewer winners before the MERGE;
    // report what was APPLIED, not what was submitted: the merge counts
    // its distinct keys anyway. Write-time constraints may quarantine
    // winners first, and a winner still counts as applied, so a
    // constrained table counts the winners themselves
    val constrained =
      graft.sources.Constraints.load(spark, r).exists(spec => !spec.isEmpty)
    val counted = if (constrained) Some(winners.count()) else None
    val m = upsertInto(name, r, align(winners, pre.schema), keys)
    maintainViews(name, pre.version, m.snapshot.version, m.changes)
    import spark.implicits._
    Seq(("ingest", name, m.snapshot.version, counted.getOrElse(m.applied)))
      .toDF("op", "tbl", "version", "n_applied")
  }

  /** Typed batch frame from string-form cells (the HTTP body's
    * portable representation): every provided column must exist in the
    * table, and each cell casts through Spark's own string→type rules
    * — the same behavior VALUES-with-strings has in a query. */
  def batchFrame(name: String, columns: Seq[String],
                 rows: Seq[Seq[String]]): DataFrame = {
    val schema = ManagedTable.latest(spark, root(name)).schema
    val unknown = columns.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"unknown column(s): ${unknown.mkString(", ")}")
    rows.foreach(r => require(r.size == columns.size,
      s"row arity ${r.size} != ${columns.size} declared columns"))
    val strSchema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava, strSchema)
    df.select(columns.map(c => col(c).cast(schema(c).dataType).as(c)): _*)
  }

  private def summary(op: String, tbl: String, version: Int): DataFrame = {
    import spark.implicits._
    Seq((op, tbl, version)).toDF("op", "tbl", "version")
  }

  private def parseCol(exprText: String): Column =
    ColumnBridge.column(spark.sessionState.sqlParser.parseExpression(exprText))

  /** Align a query result to the table schema: by NAME when every
    * schema column is present (SELECT-shaped sources), else by
    * POSITION when the arity matches (VALUES-shaped sources, whose
    * columns are col1..colN); loud otherwise. Casts are explicit so a
    * VALUES literal int lands in a BIGINT column instead of failing
    * the schema check.
    */
  private def align(df: DataFrame, schema: StructType): DataFrame = {
    val byName = schema.fieldNames.forall(df.columns.contains)
    if (byName)
      df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    else {
      require(df.columns.length == schema.fields.length,
        s"cannot align ${df.columns.length} source column(s) to " +
          s"${schema.fields.length} table column(s) — name or arity must match")
      df.select(df.columns.zip(schema.fields).map { case (c, f) =>
        col(c).cast(f.dataType).as(f.name) }.toSeq: _*)
    }
  }

  private val Create =
    """(?is)\s*CREATE\s+MANAGED\s+TABLE\s+(\w+)\s*\((.+)\)\s*LOCATION\s+'([^']+)'(?:\s+ON\s+VIOLATION\s+(REJECT|QUARANTINE))?\s*""".r
  // table-level constraint clauses inside the CREATE column list
  private val PkClause = """(?is)\s*PRIMARY\s+KEY\s*\(([^)]+)\)\s*""".r
  private val NotNullClause = """(?is)\s*NOT\s+NULL\s*\(([^)]+)\)\s*""".r
  private val CheckClause = """(?is)\s*CHECK\s*\((.+)\)\s*""".r
  private val ShowQuarantine =
    """(?is)\s*SHOW\s+QUARANTINE\s+(?:FOR\s+)?(\w+)\s*""".r
  // CTAS: schema inferred from the query, create + insert in one
  // statement (one version-0 create commit + one version-1 insert)
  private val CreateAs =
    """(?is)\s*CREATE\s+MANAGED\s+TABLE\s+(\w+)\s+LOCATION\s+'([^']+)'\s+AS\s+(.+)""".r
  private val Open =
    """(?is)\s*OPEN\s+MANAGED\s+TABLE\s+(\w+)\s+LOCATION\s+'([^']+)'\s*""".r
  // EXPLAIN of a QUERY statement (never a mutation shape — those fall
  // through to Spark's own EXPLAIN, which cannot execute them either)
  private val ExplainQuery =
    """(?is)\s*EXPLAIN(\s+(?:EXTENDED|FORMATTED|CODEGEN|COST))?\s+((?:SELECT|WITH|VALUES|FROM|TABLE)\b.+)""".r
  private val Insert = """(?is)\s*INSERT\s+INTO\s+(\w+)\s+(.+)""".r
  private val Update = """(?is)\s*UPDATE\s+(\w+)\s+SET\s+(.+)""".r
  private val Delete = """(?is)\s*DELETE\s+FROM\s+(\w+)\s*(?:WHERE\s+(.+))?""".r
  private val Upsert =
    """(?is)\s*UPSERT\s+INTO\s+(\w+)\s+BY\s*\(([^)]+)\)\s+(.+)""".r
  private val AddCol =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+(\w+)\s+(.+?)\s*""".r
  private val RenameCol =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*""".r
  private val AlterColType =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+(.+?)\s*""".r
  private val DropColStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)\s*""".r
  private val Drop =
    """(?is)\s*DROP\s+MANAGED\s+TABLE\s+(\w+)(\s+PURGE)?\s*""".r
  private val VacuumStmt =
    """(?is)\s*VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*""".r
  private val HistoryStmt =
    """(?is)\s*SHOW\s+HISTORY\s+(?:FOR\s+)?(\w+)\s*""".r
  private val Restore =
    """(?is)\s*RESTORE\s+TABLE\s+(\w+)\s+TO\s+VERSION\s+(\d+)\s*""".r
  private val Optimize =
    """(?is)\s*OPTIMIZE\s+(\w+)\s+INTO\s+(\d+)\s+FILES(?:\s+(ZORDER\s+)?BY\s*\(([^)]+)\))?\s*""".r
  // the tail (agg clauses / WHERE / LOCATION) is split quote-aware by
  // SqlRouter.splitMvTail, not by this regex: a lazy-regex WHERE group
  // terminated by LOCATION '...' silently misparsed any predicate
  // containing the token LOCATION inside a string literal
  // OVER captures a table name OR an inner-join tree ("fact JOIN dim
  // ON cond ..."), parsed quote-aware by SqlRouter.parseOverBlob
  private val CreateMv =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+OVER\s+(.+?)\s+KEY\s*\(([^)]+)\)\s+COUNT\s+(\w+)(.*)""".r
  private val DropMv =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+(\w+)(\s+PURGE)?\s*""".r
  private val RefreshMv =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)\s*""".r
  private val ShowMv =
    """(?is)\s*SHOW\s+MATERIALIZED\s+VIEWS\s*""".r
  private val ShowTablesStmt =
    """(?is)\s*SHOW\s+MANAGED\s+TABLES\s*""".r
  private val ShowFiles =
    """(?is)\s*SHOW\s+FILES\s+(?:FOR\s+)?(\w+)\s*""".r
  private val ShowSchema =
    """(?is)\s*SHOW\s+SCHEMA\s+(?:FOR\s+)?(\w+)\s*""".r
  // opt-in per-column bloom index: point/IN pruning on unclustered
  // high-ndv columns (FileBloom sidecars consulted by FileSkipScan)
  private val CreateBloomIdx =
    """(?is)\s*CREATE\s+BLOOM\s+INDEX\s+ON\s+(\w+)\s*\(([^)]+)\)\s*""".r
  private val DropBloomIdx =
    """(?is)\s*DROP\s+BLOOM\s+INDEX\s+ON\s+(\w+)\s*""".r
  private val ShowBloomIdx =
    """(?is)\s*SHOW\s+BLOOM\s+INDEX\s+(?:FOR\s+)?(\w+)\s*""".r
  private val Analyze =
    """(?is)\s*ANALYZE\s+TABLE\s+(\w+)(\s+INCREMENTAL)?\s*""".r
  private val ShowStats =
    """(?is)\s*SHOW\s+STATS\s+(?:FOR\s+)?(\w+)\s*""".r
  private val ShowChanges =
    """(?is)\s*SHOW\s+CHANGES\s+(\w+)\s+FROM\s+(\d+)(?:\s+TO\s+(\d+))?\s+KEY\s*\(([^)]+)\)\s*""".r
  private val ShowConstraints =
    """(?is)\s*SHOW\s+CONSTRAINTS\s+(?:FOR\s+)?(\w+)\s*""".r
  // post-hoc constraint DDL: the clause reuses the CREATE-time grammar
  private val AddConstraintStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+CONSTRAINT\s+(.+?)(?:\s+ON\s+VIOLATION\s+(REJECT|QUARANTINE))?\s*""".r
  private val DropConstraintsStmt =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+CONSTRAINTS\s*""".r
  // table-follows-table CDC replication (ChangeFeed) on the SQL
  // surface; LOCATION only on the bootstrap call
  private val SyncStmt =
    """(?is)\s*SYNC\s+TABLE\s+(\w+)\s+FROM\s+(\w+)\s+KEY\s*\(([^)]+)\)(?:\s+LOCATION\s+'([^']+)')?\s*""".r
  // one multi-statement batch; greedy body + anchored terminator, so a
  // ';COMMIT' inside a quoted string cannot end the batch early
  private val TxnBatch =
    """(?is)\s*BEGIN\s*;(.+);\s*(COMMIT|ROLLBACK)\s*;?\s*""".r
  private val BareTxnKw = """(?is)\s*(BEGIN|COMMIT|ROLLBACK)\b.*""".r

  /** One statement's binding of managed names to snapshots. Every
    * relation the parsed statement reads — in FROM clauses, subqueries
    * and CTE bodies — that names a registered table (single-part and
    * case-insensitive, as the session catalog resolves names) becomes
    * `SubqueryAlias(name, <snapshot plan>)`; `t VERSION AS OF n`, which
    * Spark's grammar parses to a `RelationTimeTravel`, becomes the same
    * over snapshot n. A CTE of the same name shadows the table. Each
    * (table, version) is read once, at its first use, so a self-join
    * reads one snapshot, and the read applies ManagedTable's per-thread
    * transaction visibility. Any other name is left to Spark's
    * analyzer, which resolves or rejects it as before. */
  private final class Snapshots {
    private val read = scala.collection.mutable.Map.empty[(String, Option[Int]), DataFrame]

    /** The registered (name, root) that `name` names. */
    private def lookup(name: String): Option[(String, String)] =
      tables.get(name).map(name -> _).orElse(tables.find(_._1.equalsIgnoreCase(name)))

    /** The snapshot of the registered table `name` names, at `asOf`
      * (latest when None). */
    def frame(name: String, asOf: Option[Int] = None): Option[DataFrame] =
      lookup(name).map { case (n, r) =>
        read.getOrElseUpdate((n, asOf),
          if (asOf.isEmpty) head(r) else ManagedTable.read(spark, r, asOf)) }

    def plan(text: String): DataFrame =
      ColumnBridge.ofRows(spark, bind(spark.sessionState.sqlParser.parsePlan(text), Set.empty))

    private def bind(p: LogicalPlan, ctes: Set[String]): LogicalPlan = {
      // a one-part name of a registered table that no CTE in scope shadows
      object Managed {
        def unapply(parts: Seq[String]): Option[String] = parts match {
          case Seq(n) if !ctes.contains(n.toLowerCase) && lookup(n).isDefined => Some(n)
          case _ => None
        }
      }
      def snapshot(n: String, asOf: Option[Int]): LogicalPlan =
        SubqueryAlias(n, frame(n, asOf).getOrElse(unknownTable(n)).queryExecution.analyzed)
      p match {
        case w: UnresolvedWith =>
          // a definition sees the ones before it (all of them when RECURSIVE)
          val names = w.cteRelations.map(_._1.toLowerCase)
          val defs = w.cteRelations.zipWithIndex.map { case ((n, body, depth), i) =>
            val seen = ctes ++ (if (w.allowRecursion) names else names.take(i))
            (n, bind(body, seen).asInstanceOf[SubqueryAlias], depth)
          }
          w.copy(child = bind(w.child, ctes ++ names), cteRelations = defs)
        case RelationTimeTravel(UnresolvedRelation(Managed(n), _, _), ts, version) =>
          require(ts.isEmpty, s"managed table '$n' travels by VERSION AS OF <n>, not TIMESTAMP AS OF")
          snapshot(n, Some(version.flatMap(_.toIntOption).getOrElse(
            throw new IllegalArgumentException(
              s"VERSION AS OF on '$n' needs a version number, got '${version.getOrElse("")}'"))))
        case UnresolvedRelation(Managed(n), _, false) => snapshot(n, None)
        case DescribeRelation(UnresolvedTableOrView(Managed(n), _, _), spec, _, _) if spec.isEmpty =>
          DescribeQueryCommand(s"DESCRIBE $n", snapshot(n, None))
        case other =>
          other.mapChildren(bind(_, ctes)).transformExpressions {
            case sq: SubqueryExpression => sq.withNewPlan(bind(sq.plan, ctes))
          }
      }
    }
  }

  /** A query text with its managed tables bound to their snapshots. */
  private def query(text: String): DataFrame = new Snapshots().plan(text)

  /** Whether `sql` has a state-mutating statement shape (managed
    * DDL/DML, catalog registration, or any non-SELECT-shaped statement
    * handed to spark.sql) — what the server's writer-role gate checks.
    * Shape-based and default-deny: a mutation on an unknown table is
    * classified as a write ATTEMPT (then fails resolution downstream),
    * and an unrecognized leading keyword counts as a write rather than
    * slipping past the gate as a read. */
  def isMutation(sql: String): Boolean = sql match {
    // SHOW HISTORY / SHOW MATERIALIZED VIEWS are reads (and the SHOW
    // allowlist below already admits them); VACUUM deletes files — a
    // write.
    case HistoryStmt(_) | ShowMv() | ShowStats(_) |
         ShowChanges(_, _, _, _) | ShowConstraints(_) | ShowBloomIdx(_) => false
    case SyncStmt(_, _, _, _) => true
    case Create(_, _, _) | CreateAs(_, _, _) | Open(_, _) | Insert(_, _) | Update(_, _) |
         Delete(_, _) | Upsert(_, _, _) | AddCol(_, _, _) |
         RenameCol(_, _, _) | DropColStmt(_, _) | AlterColType(_, _, _) |
         AddConstraintStmt(_, _, _) | DropConstraintsStmt(_) |
         Optimize(_, _, _, _) | Drop(_, _) | VacuumStmt(_, _) |
         CreateBloomIdx(_, _) | DropBloomIdx(_) |
         Restore(_, _) | CreateMv(_, _, _, _, _) | DropMv(_, _) |
         RefreshMv(_) | Analyze(_, _) | TxnBatch(_, _) | BareTxnKw(_) => true
    case other =>
      val kw = other.trim.takeWhile(!_.isWhitespace).toUpperCase
      !Set("SELECT", "WITH", "VALUES", "TABLE",
        "SHOW", "DESCRIBE", "DESC", "EXPLAIN").contains(kw)
  }

  def execute(sql: String): DataFrame = sql match {
    case Create(name, ddl, path, onViolation) =>
      // split column defs from table-level constraint clauses: the
      // clauses come out, the rest is the schema DDL as before
      val parts = splitTopLevel(ddl, ',').map(_.trim).filter(_.nonEmpty)
      var pk = Seq.empty[String]
      var nn = Seq.empty[String]
      var checks = Seq.empty[graft.sources.Constraints.Check]
      val colParts = parts.filterNot {
        case PkClause(cols) => pk ++= cols.split(',').map(_.trim); true
        case NotNullClause(cols) => nn ++= cols.split(',').map(_.trim); true
        case CheckClause(e) =>
          checks :+= graft.sources.Constraints.Check(
            s"check_${checks.size + 1}", e.trim); true
        case _ => false
      }
      val schema = StructType.fromDDL(colParts.mkString(", "))
      val spec = graft.sources.Constraints.Spec(pk, nn, checks,
        Option(onViolation).map(_.toLowerCase).getOrElse("reject"))
      require(onViolation == null || !spec.isEmpty,
        "ON VIOLATION without any constraint clause")
      // validate BEFORE the create commit: a bad constraint must not
      // leave a half-made table behind
      if (!spec.isEmpty) graft.sources.Constraints.validate(spark, spec, schema)
      val snap = ManagedTable.create(spark, path, schema)
      if (!spec.isEmpty) graft.sources.Constraints.save(spark, path, spec, schema)
      register(name, path)
      summary("create", name, snap.version)

    // quarantined rows of a constrained table (empty before the first
    // violation — served with the right shape either way)
    case ShowQuarantine(name) if tables.contains(name) =>
      val qr = graft.sources.Constraints.quarantineRoot(root(name))
      val fs = new org.apache.hadoop.fs.Path(qr)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(qr, "_graft_log")))
        ManagedTable.read(spark, qr)
      else {
        val hostSchema = ManagedTable.latest(spark, root(name)).schema
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          hostSchema.add("_violation", org.apache.spark.sql.types.StringType))
      }

    case CreateAs(name, path, sel) =>
      // materialize the query ONCE (localCheckpoint) — its plan is
      // consumed twice (schema for the create, rows for the insert),
      // and a non-deterministic or mutating-source SELECT must not
      // run two different results into the two commits
      val df = query(sel).localCheckpoint()
      ManagedTable.create(spark, path, df.schema)
      val snap = ManagedTable.insert(spark, path, df)
      register(name, path)
      summary("ctas", name, snap.version)

    case Open(name, path) =>
      register(name, path)
      summary("open", name, ManagedTable.latest(spark, path).version)

    case Insert(name, rest) if tables.contains(name) =>
      val r = mutableRoot(name)
      val pre = ManagedTable.latest(spark, r)
      val rows = align(query(rest), pre.schema)
      // with views to maintain, the inserted rows are read twice (the
      // write, then the view bag): materialize them once so both see
      // the same rows
      val cs = ManagedTable.insertChanges(spark, r,
        if (hasViews(name)) rows.localCheckpoint() else rows)
      val snap = cs.snapshot
      maintainViews(name, pre.version, snap.version, Some(cs))
      summary("insert", name, snap.version)

    case Update(name, rest) if tables.contains(name) =>
      val r = mutableRoot(name)
      // SET list runs to the top-level WHERE (if any); WHERE inside a
      // quoted string or parens belongs to an expression, not to us
      val upper = rest.toUpperCase
      val whereIdx = {
        var depth = 0; var quote: Char = 0; var found = -1; var i = 0
        while (found < 0 && i < rest.length) {
          val c = rest.charAt(i)
          if (quote != 0) { if (c == quote) quote = 0 }
          else c match {
            case '\'' | '"' => quote = c
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ if depth == 0 && upper.startsWith("WHERE", i) &&
              (i == 0 || rest.charAt(i - 1).isWhitespace) &&
              (i + 5 == rest.length || rest.charAt(i + 5).isWhitespace) => found = i
            case _ =>
          }
          i += 1
        }
        found
      }
      val (setPart, wherePart) =
        if (whereIdx < 0) (rest, None)
        else (rest.substring(0, whereIdx), Some(rest.substring(whereIdx + 5)))
      val sets = splitTopLevel(setPart, ',').map { a =>
        val eq = a.indexOf('=')
        require(eq > 0, s"malformed assignment '$a' — expected col = expr")
        a.substring(0, eq).trim -> parseCol(a.substring(eq + 1))
      }.toMap
      val where = wherePart.map(parseCol).getOrElse(lit(true))
      val preU = ManagedTable.latest(spark, r).version
      val snap = ManagedTable.update(spark, r, where, sets)
      maintainViews(name, preU, snap.version)
      summary("update", name, snap.version)

    case Delete(name, wherePart) if tables.contains(name) =>
      val r = mutableRoot(name)
      val where = Option(wherePart).map(parseCol).getOrElse(lit(true))
      val preD = ManagedTable.latest(spark, r).version
      val snap = ManagedTable.delete(spark, r, where)
      maintainViews(name, preD, snap.version)
      summary("delete", name, snap.version)

    case AddCol(name, colName, typeDdl) if tables.contains(name) =>
      val r = mutableRoot(name)
      val dt = org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
      val snap = ManagedTable.addColumn(spark, r, colName, dt)
      summary("add_column", name, snap.version)

    // metadata-only schema evolution: RENAME remaps the logical name
    // over the column's fixed physical name, DROP removes the
    // projection — neither touches a data file. Refused when a
    // registered materialized view reads the column (the maintenance
    // expressions are stored by name and would silently break).
    case RenameCol(name, from, to) if tables.contains(name) =>
      val r = mutableRoot(name)
      requireNoMvReference(name, from, "rename")
      val snap = ManagedTable.renameColumn(spark, r, from, to)
      summary("rename_column", name, snap.version)

    case DropColStmt(name, colName) if tables.contains(name) =>
      val r = mutableRoot(name)
      requireNoMvReference(name, colName, "drop")
      val snap = ManagedTable.dropColumn(spark, r, colName)
      summary("drop_column", name, snap.version)

    // type WIDENING (int-family up, float->double): metadata-only —
    // old files upcast on read through the declared schema, new files
    // write the widened type natively. Refused when a materialized
    // view reads the column (its maintained output types would shift
    // under the stored expressions).
    case AlterColType(name, colName, typeDdl) if tables.contains(name) =>
      val r = mutableRoot(name) // widening invalidates ANALYZE stats (value strings change)
      requireNoMvReference(name, colName, "alter type of")
      val dt = org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
      val snap = ManagedTable.alterColumnType(spark, r, colName, dt)
      summary("alter_column_type", name, snap.version)

    case Optimize(name, nFiles, zorder, byCols) if tables.contains(name) =>
      val r = root(name)
      val cols = Option(byCols).map(splitTopLevel(_, ',').map(_.trim)).getOrElse(Nil)
      val snap =
        if (zorder != null)
          ManagedTable.compactTable(spark, r, nFiles.toInt, zorderCols = cols)
        else ManagedTable.compactTable(spark, r, nFiles.toInt, cols)
      summary("compact", name, snap.version)

    // VACUUM expires old manifests and sweeps unreferenced data files
    // (default retention 2 versions, explicit via RETAIN n VERSIONS);
    // SHOW HISTORY serves the snapshot log as rows — the time-travel
    // discovery surface (pick a version, then read asOf).
    case VacuumStmt(name, retain) if tables.contains(name) =>
      val removed = ManagedTable.vacuum(spark, root(name),
        Option(retain).map(_.toInt).getOrElse(2))
      import spark.implicits._
      Seq(("vacuum", name, removed.size)).toDF("op", "tbl", "n_removed")

    case HistoryStmt(name) if tables.contains(name) =>
      import spark.implicits._
      ManagedTable.history(spark, root(name))
        .map(s => (s.version, s.op, s.files.size)).toDF("version", "op", "n_files")

    // the CDC read side: keyed row deltas between two versions
    // (payload = new row for added/changed, old row for removed) —
    // what a downstream consumer replays after seeing SHOW HISTORY
    case ShowChanges(name, fromV, toV, keyList) if tables.contains(name) =>
      ManagedTable.changes(spark, root(name), fromV.toInt,
        Option(toV).map(_.toInt),
        splitTopLevel(keyList, ',').map(_.trim).filter(_.nonEmpty))

    // the declared write-time rules of a constrained table, one row
    // per rule (empty result, same shape, for an unconstrained one)
    case ShowConstraints(name) if tables.contains(name) =>
      import spark.implicits._
      val rows = graft.sources.Constraints.load(spark, root(name)) match {
        case None => Seq.empty[(String, String, String)]
        case Some(s) =>
          (if (s.primaryKey.isEmpty) Nil
           else Seq(("primary_key", "pk", s.primaryKey.mkString(", ")))) ++
            s.notNull.map(c => ("not_null", c, s"$c IS NOT NULL")) ++
            s.checks.map(c => ("check", c.name, c.sql)) :+
            (("on_violation", "policy", s.onViolation))
      }
      rows.toDF("rule_type", "rule_name", "definition")

    // post-hoc constraint DDL: the new rule must hold on the EXISTING
    // rows (one audit scan) before it persists — a rule the table
    // already violates is refused, never half-adopted. ON VIOLATION
    // re-declares the table's policy; omitted = keep the current one.
    case AddConstraintStmt(name, clause, onViol) if tables.contains(name) =>
      require(!mviews.contains(name),
        s"'$name' is a materialized view maintained by the engine — " +
          "constrain its base table instead")
      val r = root(name)
      val schema = ManagedTable.latest(spark, r).schema
      val cur = graft.sources.Constraints.load(spark, r)
        .getOrElse(graft.sources.Constraints.Spec(Nil, Nil, Nil, "reject"))
      val merged = clause.trim match {
        case PkClause(cols) =>
          require(cur.primaryKey.isEmpty,
            s"table '$name' already declares a PRIMARY KEY " +
              s"(${cur.primaryKey.mkString(", ")}) — DROP CONSTRAINTS first")
          cur.copy(primaryKey = cols.split(',').map(_.trim).toSeq)
        case NotNullClause(cols) =>
          cur.copy(notNull = (cur.notNull ++ cols.split(',').map(_.trim)).distinct)
        case CheckClause(e) =>
          cur.copy(checks = cur.checks :+ graft.sources.Constraints.Check(
            s"check_${cur.checks.size + 1}", e.trim))
        case other => throw new IllegalArgumentException(
          s"unsupported constraint clause '$other' — use PRIMARY KEY (...), " +
            "NOT NULL (...), or CHECK (...)")
      }
      val spec = Option(onViol)
        .map(v => merged.copy(onViolation = v.toLowerCase)).getOrElse(merged)
      graft.sources.Constraints.validate(spark, spec, schema)
      graft.sources.Constraints.requireTableClean(spark, r, spec)
      graft.sources.Constraints.save(spark, r, spec, schema)
      summary("add_constraint", name,
        ManagedTable.latest(spark, r).version)

    case DropConstraintsStmt(name) if tables.contains(name) =>
      require(!mviews.contains(name),
        s"'$name' is a materialized view — it has no declared constraints")
      graft.sources.Constraints.drop(spark, root(name))
      summary("drop_constraints", name,
        ManagedTable.latest(spark, root(name)).version)

    // SYNC TABLE dst FROM src KEY (...): apply every upstream version
    // committed since dst's durable feed cursor as one delta-sized
    // upsert + keyed delete (ChangeFeed). First call carries LOCATION
    // and bootstraps the follower from src's current snapshot; later
    // calls drain the span (no-op when current, replay-idempotent).
    // Dependent materialized views fold the synced delta like any DML.
    case SyncStmt(dst, srcName, keyList, loc) if tables.contains(srcName) =>
      import spark.implicits._
      val keys = splitTopLevel(keyList, ',').map(_.trim).filter(_.nonEmpty)
      val srcRoot = root(srcName)
      val res =
        if (!tables.contains(dst)) {
          require(loc != null,
            s"unknown table '$dst' — bootstrap the follower with " +
              s"SYNC TABLE $dst FROM $srcName KEY (...) LOCATION '<root>'")
          val r = graft.streaming.ChangeFeed.init(spark, srcRoot, loc)
          register(dst, loc)
          r
        } else {
          require(!mviews.contains(dst),
            s"'$dst' is a materialized view maintained by the engine — " +
              "SYNC into a managed table instead")
          val dstRoot = root(dst)
          val pre = ManagedTable.latest(spark, dstRoot).version
          val r = graft.streaming.ChangeFeed.sync(spark, srcRoot, dstRoot, keys)
          graft.sources.TableStatistics.invalidate(dstRoot)
          maintainViews(dst, pre,
            ManagedTable.latest(spark, dstRoot).version)
          r
        }
      Seq(("sync", dst, res.fromVersion, res.toVersion, res.upserted, res.removed))
        .toDF("op", "tbl", "from_version", "to_version", "n_upserted", "n_removed")

    // RESTORE: metadata-only rollback — commits a new version carrying
    // the target version's file list (SHOW HISTORY finds the point,
    // RESTORE makes it current; roll forward by restoring a later one)
    case Restore(name, ver) if tables.contains(name) =>
      val rr = mutableRoot(name)
      val preR = ManagedTable.latest(spark, rr).version
      val snap = ManagedTable.restore(spark, rr, ver.toInt)
      maintainViews(name, preR, snap.version)
      summary("restore", name, snap.version)

    // DROP detaches the name (catalog + view + durable file); PURGE
    // additionally deletes the table directory — the only destructive
    // form, so it must be asked for by keyword. A plain DROP leaves
    // the data and snapshot log intact for a later OPEN.
    case Drop(name, purge) if tables.contains(name) =>
      require(!mviews.contains(name),
        s"'$name' is a materialized view — use DROP MATERIALIZED VIEW")
      val dependents = mviews.values
        .filter(_.members.exists(_.equalsIgnoreCase(name))).map(_.name).toSeq.sorted
      require(dependents.isEmpty,
        s"table '$name' has dependent materialized view(s) " +
          s"${dependents.mkString(", ")} — DROP those first")
      val r = root(name)
      val v = ManagedTable.latest(spark, r).version
      tables.remove(name)
      heads.remove(r)
      persist()
      val purged = purge != null
      if (purged) {
        val p = new org.apache.hadoop.fs.Path(r)
        if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true))
          throw new java.io.IOException(s"could not purge $r")
      }
      summary(if (purged) "drop_purge" else "drop", name, v)

    case Upsert(name, keys, rest) if tables.contains(name) =>
      val r = mutableRoot(name)
      val pre = ManagedTable.latest(spark, r)
      val keyCols = splitTopLevel(keys, ',').map(_.trim)
      val m = upsertInto(name, r, align(query(rest), pre.schema), keyCols)
      maintainViews(name, pre.version, m.snapshot.version, m.changes)
      summary("merge", name, m.snapshot.version)

    // CREATE MATERIALIZED VIEW mv OVER t KEY (g) COUNT n
    //   [SUM (expr AS name, ...)] [MIN (expr AS name, ...)]
    //   [MAX (expr AS name, ...)] [AVG (expr AS name, ...)]
    //   LOCATION '/path'
    // — the one full compute (bootstrap); from then on every DML on t
    // through this router maintains mv incrementally (maintainViews).
    // COUNT/SUM maintain purely from deltas; MIN/MAX additionally
    // delete-repair the groups whose extremum was removed (see
    // Mvm.applyDeltaExtrema). The view is itself a managed table:
    // SELECT-visible, versioned, durable, with its maintenance spec
    // in a _graft_mv.json sidecar so a restarted router resumes
    // maintaining it.
    case CreateMv(name, overBlob, keys, countCol, tail) =>
      require(!tables.contains(name), s"name '$name' is already registered")
      val (over, joins) = SqlRouter.parseOverBlob(overBlob)
      val memberNames = over +: joins.map(_._1)
      require(memberNames.map(_.toLowerCase).distinct.size == memberNames.size,
        s"OVER join tree repeats a table (${memberNames.mkString(", ")}) — " +
          "self-joins are not maintainable incrementally")
      memberNames.foreach(t => root(t): Unit) // every member must be registered
      val keyCols = splitTopLevel(keys, ',').map(_.trim)
      val (aggBlob, where, path) = SqlRouter.splitMvTail(tail)
      val (sums, mins, maxs, avgs) = SqlRouter.parseAggClauses(aggBlob)
      def cols(xs: Seq[(String, String)]) =
        xs.map { case (n, e) => (n, parseCol(e)) }
      // optional WHERE: the view maintains a FILTERED rollup — the
      // delta algebra is unchanged (deltas just pass the predicate
      // first), and MvRewrite serves queries whose WHERE implies it.
      // A recreated view under the same (name, over, where) key must
      // re-resolve its predicate against the CURRENT base schema.
      MvRewrite.invalidatePredCache(name)
      val spec = SqlRouter.MvSpec(name, over, path, keyCols, countCol,
        sums, mins, maxs, avgs, where, joins)
      val mv0 =
        if (joins.isEmpty) {
          val base0 = ManagedTable.read(spark, root(over))
          val base = where.map(w => base0.filter(parseCol(w))).getOrElse(base0)
          graft.operators.Mvm.compute(base,
            keyCols, countCol, cols(sums), cols(mins), cols(maxs), cols(avgs))
        } else {
          require(spec.storageKeys.map(_.toLowerCase).distinct.size == keyCols.size,
            s"join-view keys collide after dropping qualifiers " +
              s"(${keyCols.mkString(", ")}) — stored key names must be distinct")
          val flat = mvFlatJoin(spec, t => ManagedTable.read(spark, root(t)),
            withMult = false)
          graft.operators.Mvm.compute(flat, spec.storageKeys, countCol,
            mvFlatAggs(sums), mvFlatAggs(mins), mvFlatAggs(maxs), mvFlatAggs(avgs))
        }
      ManagedTable.create(spark, path, mv0.schema)
      val snap = ManagedTable.insert(spark, path, mv0)
      SqlRouter.writeMvSidecar(spark, spec)
      mviews.put(name, spec)
      register(name, path)
      summary("create_mview", name, snap.version)

    case DropMv(name, purge) if mviews.contains(name) =>
      val r = root(name)
      val v = ManagedTable.latest(spark, r).version
      mviews.remove(name)
      tables.remove(name)
      heads.remove(r)
      MvRewrite.invalidatePredCache(name)
      persist()
      val purged = purge != null
      if (purged) {
        val p = new org.apache.hadoop.fs.Path(r)
        if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true))
          throw new java.io.IOException(s"could not purge $r")
      }
      summary(if (purged) "drop_mview_purge" else "drop_mview", name, v)

    // REFRESH: the full-recompute resync (after an out-of-band write
    // to the base table, or a schema evolution the delta path refuses)
    case RefreshMv(name) if mviews.contains(name) =>
      val mv = mviews(name)
      val fresh = if (mv.joins.isEmpty) {
        val refreshBase0 = ManagedTable.read(spark, root(mv.over))
        val refreshBase = mv.where.map(w => refreshBase0.filter(parseCol(w)))
          .getOrElse(refreshBase0)
        graft.operators.Mvm.compute(
          refreshBase, mv.keys, mv.countCol,
          mv.sums.map { case (n, e) => (n, parseCol(e)) },
          mv.mins.map { case (n, e) => (n, parseCol(e)) },
          mv.maxs.map { case (n, e) => (n, parseCol(e)) },
          mv.avgs.map { case (n, e) => (n, parseCol(e)) })
      } else graft.operators.Mvm.compute(
        mvFlatJoin(mv, t => ManagedTable.read(spark, root(t)), withMult = false),
        mv.storageKeys, mv.countCol, mvFlatAggs(mv.sums),
        mvFlatAggs(mv.mins), mvFlatAggs(mv.maxs), mvFlatAggs(mv.avgs))
      ManagedTable.delete(spark, mv.root, lit(true))
      val snap = ManagedTable.insert(spark, mv.root, fresh)
      graft.sources.TableStatistics.invalidate(mv.root)
      summary("refresh_mview", name, snap.version)

    // ANALYZE collects optimizer statistics for the current snapshot
    // (rows, bytes, per-column ndv, equi-depth histograms), persists
    // them alongside the snapshot log, and makes them live for the
    // session's StatsJoinPlanner immediately
    case Analyze(name, inc) if tables.contains(name) =>
      import spark.implicits._
      if (inc != null) {
        // delta-only refresh: scans just the files appended since the
        // last ANALYZE (sketch union), reports how many it touched.
        // `mode` says what actually ran — in particular the
        // full_drift(...) self-escalation when the histogram drift
        // budget was exceeded (the caller asked for INCREMENTAL and
        // got a full rescan, and must see that in the response).
        val (ts, scanned, mode) =
          graft.sources.TableStatistics.incrementalAnalyze(spark, root(name))
        if (mode.startsWith("full_drift"))
          System.err.println(s"[analyze] $name: $mode — histogram drift " +
            "budget exceeded; escalated to a full rescan")
        Seq(("analyze_incremental", name, ts.version, ts.rows, ts.bytes,
          scanned.toLong, mode))
          .toDF("op", "tbl", "version", "n_rows", "n_bytes",
            "n_files_scanned", "mode")
      } else {
        val ts = graft.sources.TableStatistics.analyze(spark, root(name))
        Seq(("analyze", name, ts.version, ts.rows, ts.bytes))
          .toDF("op", "tbl", "version", "n_rows", "n_bytes")
      }

    case ShowStats(name) if tables.contains(name) =>
      import spark.implicits._
      // hist_mode reports the histogram's provenance: "exact" (last
      // full ANALYZE), "merged" (maintained across appends by the
      // incremental CDF merge — an approximation), "none". n_nulls is
      // the exact per-column null count (null = never collected —
      // pre-null-stats sidecars).
      graft.sources.TableStatistics.get(root(name)) match {
        case None =>
          Seq.empty[(String, Long, Option[Double], Option[Double], Int, String,
            Option[Long], Long)]
            .toDF("col_name", "ndv", "min", "max", "n_hist_buckets",
              "hist_mode", "n_nulls", "table_rows")
        case Some(ts) => ts.cols.toSeq.sortBy(_._1)
          .map { case (c, cs) => (c, cs.ndv, cs.min, cs.max,
            math.max(0, cs.hist.size - 1),
            if (cs.hist.isEmpty) "none"
            else if (cs.histMerged) "merged" else "exact",
            if (cs.nullCount >= 0) Some(cs.nullCount) else None,
            ts.rows) }
          .toDF("col_name", "ndv", "min", "max", "n_hist_buckets",
            "hist_mode", "n_nulls", "table_rows")
      }

    case ShowTablesStmt() =>
      // the managed catalog as rows (Spark's own SHOW TABLES lists the
      // session catalog only): which names are engine tables, where
      // they live, and how far their logs have moved
      import spark.implicits._
      tables.toSeq.sortBy(_._1).map { case (n, r) =>
        val snap = ManagedTable.latest(spark, r)
        (n, r, if (mviews.contains(n)) "materialized_view" else "table",
          snap.version, snap.files.size.toLong)
      }.toDF("name", "location", "kind", "version", "n_files")

    case ShowFiles(name) if tables.contains(name) =>
      // the data-skipping introspection: each live file with its
      // stats-sidecar ranges — what a point SELECT's pruning sees.
      // One manifest + one sidecar read, never a data scan. Sidecar
      // entries are keyed by PHYSICAL column names; report them under
      // the user's LOGICAL names (an entry whose physical column was
      // dropped since simply isn't shown).
      import spark.implicits._
      val r = root(name)
      val snap = ManagedTable.latest(spark, r)
      val logicalOf = snap.schema.fieldNames
        .map(c => snap.physicalName(c) -> c).toMap
      val (stats, extras) = graft.sources.FileStats.readAll(spark, r, snap.version)
      snap.files.sorted.flatMap { f =>
        val extra = extras.get(f)
        val rows = extra.map(_.rows)
        val nullsOf = extra.map(_.nulls).getOrElse(Map.empty[String, Long])
        val ranged = stats.getOrElse(f, Map.empty)
          .flatMap { case (c, mm) => logicalOf.get(c).map(_ -> mm) }
        // a column can carry a null count without a range (all-null,
        // binary, legacy-typed) — still worth showing: it is exactly
        // what IS [NOT] NULL pruning consults
        val nullOnly = nullsOf.keySet.flatMap(logicalOf.get) -- ranged.keySet
        val cols = ranged.map { case (c, (mn, mx)) => (c, Option(mn), Option(mx)) } ++
          nullOnly.toSeq.sorted.map(c => (c, None, None))
        if (cols.isEmpty)
          Seq((f, Option.empty[String], Option.empty[String], Option.empty[String],
            Option.empty[Long], rows))
        else cols.toSeq.sortBy(_._1).map { case (c, mn, mx) =>
          (f, Some(c), mn, mx,
            nullsOf.get(snap.physicalName(c)), rows)
        }
      }.toDF("file", "col_name", "min", "max", "n_nulls", "n_rows")

    case ShowSchema(name) if tables.contains(name) =>
      // the evolution-aware DESCRIBE: logical name, type, and the
      // PHYSICAL column name the data files store (differs after a
      // RENAME, or for a re-added name after a DROP) — one manifest
      // read, never a data scan
      import spark.implicits._
      val snap = ManagedTable.latest(spark, root(name))
      snap.schema.fields.map(f =>
        (f.name, f.dataType.simpleString, snap.physicalName(f.name)))
        .toSeq.toDF("col_name", "data_type", "physical_name")

    // CREATE BLOOM INDEX ON t (c1, c2): opt-in per-column bloom
    // filters so point/IN predicates on UNCLUSTERED high-ndv columns
    // prune files (min/max can't help an interleaved layout). Backfills
    // the current snapshot's files in one distributed job; every later
    // commit harvests only its new files. Re-CREATE adds columns
    // (full re-backfill).
    case CreateBloomIdx(name, colList) if tables.contains(name) =>
      val r = root(name)
      val snap = ManagedTable.latest(spark, r)
      val cols = splitTopLevel(colList, ',').map(_.trim).filter(_.nonEmpty)
      val missing = cols.filterNot(snap.schema.fieldNames.contains)
      require(missing.isEmpty,
        s"bloom index: no such column(s) ${missing.mkString(", ")} " +
          s"(${snap.schema.toDDL})")
      val bad = cols.filterNot(c =>
        graft.sources.FileBloom.isEligible(snap.schema(c).dataType))
      require(bad.isEmpty,
        s"bloom index: column(s) ${bad.mkString(", ")} are not " +
          "integral/string/date/timestamp — bloom point lookups need a " +
          "canonical key form")
      val merged = (graft.sources.FileBloom.config(spark, r) ++
        cols.map(snap.physicalName)).distinct
      graft.sources.FileBloom.saveConfig(spark, r, merged)
      graft.sources.FileBloom.write(spark, r, snap) // backfill at current version
      // cached registry entries predate the new sidecar — re-register
      graft.sources.FileSkip.invalidate(spark, r)
      summary("create_bloom_index", name, snap.version)

    case DropBloomIdx(name) if tables.contains(name) =>
      val r = root(name)
      graft.sources.FileBloom.dropConfig(spark, r)
      // remove the sidecars too: future registrations stop consulting
      // them (results were never wrong — this is pure index removal)
      val logDir = new org.apache.hadoop.fs.Path(r, "_graft_log")
      val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(logDir))
        fs.listStatus(logDir).map(_.getPath)
          .filter(_.getName.matches("v\\d{8}\\.bloom\\.json"))
          .foreach(p => fs.delete(p, false): Unit)
      val segDir = graft.sources.FileBloom.segDirPath(r)
      if (fs.exists(segDir)) fs.delete(segDir, true): Unit
      graft.sources.FileSkip.invalidate(spark, r)
      summary("drop_bloom_index", name,
        ManagedTable.latest(spark, r).version)

    case ShowBloomIdx(name) if tables.contains(name) =>
      import spark.implicits._
      val r = root(name)
      val snap = ManagedTable.latest(spark, r)
      val logicalOf = snap.schema.fieldNames
        .map(c => snap.physicalName(c) -> c).toMap
      graft.sources.FileBloom.config(spark, r).map { phys =>
        (logicalOf.getOrElse(phys, null: String), phys,
          graft.sources.FileBloom.BitsPerKey, graft.sources.FileBloom.K)
      }.toDF("col_name", "physical_name", "bits_per_key", "k")

    case ShowMv() =>
      import spark.implicits._
      def show(xs: Seq[(String, String)]) =
        xs.map { case (n, e) => s"$e AS $n" }.mkString(", ")
      mviews.values.toSeq.sortBy(_.name)
        .map(m => (m.name,
          m.over + m.joins.map { case (t, c) => s" JOIN $t ON $c" }.mkString,
          m.root, m.keys.mkString(","), m.countCol,
          show(m.sums), show(m.mins), show(m.maxs), show(m.avgs),
          m.where.getOrElse("")))
        .toDF("name", "over_table", "location", "key_cols", "count_col",
          "sum_cols", "min_cols", "max_cols", "avg_cols", "where_pred")

    case TxnBatch(inner, term) =>
      import graft.sources.Txn
      val stmts = splitTopLevel(inner, ';').map(_.trim).filter(_.nonEmpty)
      require(stmts.nonEmpty, "empty transaction: BEGIN; <statements>; COMMIT")
      // SYNC advances a durable feed cursor OUTSIDE the manifest-marker
      // protocol — a rolled-back batch would still advance it and the
      // follower would silently skip the span on its next sync
      stmts.foreach {
        case SyncStmt(d, _, _, _) => throw new IllegalArgumentException(
          s"SYNC TABLE $d inside a transaction is not supported — the feed " +
            "cursor advance is not transactional; run SYNC as its own statement")
        case _ => ()
      }
      val anchor = txnAnchor(stmts)
      val wantCommit = term.trim.equalsIgnoreCase("COMMIT")
      var staged: Seq[(String, Int)] = Nil
      try Txn.transaction(spark, anchor) {
        stmts.foreach(s => execute(s): Unit)
        staged = Txn.currentStaged
        // ROLLBACK terminator = stage-and-discard (the dry-run
        // shape): unwinding through Txn.transaction aborts every
        // staged manifest, exactly like a failing statement would
        if (!wantCommit) throw new SqlRouter.RollbackRequested
      } catch { case _: SqlRouter.RollbackRequested => }
      val nameOf = tables.toMap.map(_.swap)
      import spark.implicits._
      val op = if (wantCommit) "commit" else "rollback"
      // one row per staged (table, version); a rollback reports the
      // versions it DISCARDED. A read-only batch stages nothing.
      val rows =
        if (staged.isEmpty) Seq((op, "", -1))
        else staged.map { case (r, v) => (op, nameOf.getOrElse(r, r), v) }
      rows.toDF("op", "tbl", "version")

    case BareTxnKw(kw) => throw new IllegalArgumentException(
      s"${kw.toUpperCase} outside a batch: transactions are submitted as ONE " +
        "statement 'BEGIN; <stmt>; ...; COMMIT' (or ROLLBACK to stage-and-" +
        "discard) — an open interactive transaction would pin filesystem " +
        "state to one connection across requests")

    case ExplainQuery(modeRaw, inner) =>
      // EXPLAIN through the engine, not around it: Spark's EXPLAIN
      // command plans the raw text, which would show the PRE-rewrite
      // plan — a SELECT the MV rewrite reshapes (or manifest skipping
      // prunes, visible once the plan optimizes) must explain as what
      // this router would actually run.
      val df = selectWithRewrite(inner)
      import org.apache.spark.sql.execution.{CodegenMode, CostMode, ExplainMode, ExtendedMode, FormattedMode, SimpleMode}
      val m: ExplainMode = Option(modeRaw).map(_.trim.toUpperCase).getOrElse("") match {
        case "EXTENDED" => ExtendedMode
        case "FORMATTED" => FormattedMode
        case "CODEGEN" => CodegenMode
        case "COST" => CostMode
        case _ => SimpleMode
      }
      import spark.implicits._
      Seq(Tuple1(df.queryExecution.explainString(m))).toDF("plan")

    // GRAFT-ONLY statements naming an UNREGISTERED table fall through
    // every guarded case above; without these they would reach
    // spark.sql and surface as a bewildering parse error on e.g.
    // 'SHOW FILES'. Report the canonical "no managed table" message
    // instead (mirroring root()'s wording). Deliberately NOT listed:
    // the ALTER TABLE family (ADD/RENAME/DROP COLUMN, constraints) —
    // those shapes are ALSO valid Spark SQL on ordinary catalog
    // tables, so an unregistered name continues to spark.sql, whose
    // resolution (or error) is authoritative.
    case ShowFiles(name) => unknownTable(name)
    case ShowSchema(name) => unknownTable(name)
    case ShowQuarantine(name) => unknownTable(name)
    case HistoryStmt(name) => unknownTable(name)
    case ShowStats(name) => unknownTable(name)
    case ShowChanges(name, _, _, _) => unknownTable(name)
    case ShowConstraints(name) => unknownTable(name)
    case Upsert(name, _, _) => unknownTable(name)
    case Optimize(name, _, _, _) => unknownTable(name)
    case VacuumStmt(name, _) => unknownTable(name)
    case Restore(name, _) => unknownTable(name)
    case Drop(name, _) => unknownTable(name)
    case CreateBloomIdx(name, _) => unknownTable(name)
    case DropBloomIdx(name) => unknownTable(name)
    case ShowBloomIdx(name) => unknownTable(name)
    case DropMv(name, _) => throw new IllegalArgumentException(
      s"no materialized view '$name' " +
        s"(have: ${mviews.keys.toSeq.sorted.mkString(", ")})")
    case RefreshMv(name) => throw new IllegalArgumentException(
      s"no materialized view '$name' " +
        s"(have: ${mviews.keys.toSeq.sorted.mkString(", ")})")
    case SyncStmt(_, srcName, _, _) => unknownTable(srcName)

    case other => selectWithRewrite(other)
  }

  /** Refuse schema evolution of a column any registered materialized
    * view over `tbl` reads — keys and aggregate source expressions
    * are stored by name; a rename/drop underneath them would silently
    * break incremental maintenance. DROP the view (or evolve, then
    * re-CREATE) instead. */
  private def requireNoMvReference(tbl: String, colName: String,
                                   op: String): Unit = {
    val lc = colName.toLowerCase
    // a qualified reference `t.c` only pins `tbl` when its qualifier
    // does; a bare `c` in a view over `tbl` (single-table or join
    // member) is conservatively treated as referencing it
    def refs(e: String): Boolean =
      try spark.sessionState.sqlParser.parseExpression(e).collect {
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          ua.nameParts.map(_.toLowerCase)
      }.exists(parts => parts.last == lc &&
        (parts.sizeIs == 1 || parts.init.last == tbl.toLowerCase))
      catch { case scala.util.control.NonFatal(_) => true } // unparseable: be safe
    val dependents = mviews.values
      .filter(_.members.exists(_.equalsIgnoreCase(tbl))).filter { mv =>
        mv.keys.exists(k => k.equalsIgnoreCase(colName) ||
          k.equalsIgnoreCase(s"$tbl.$colName")) ||
          (mv.sums ++ mv.mins ++ mv.maxs ++ mv.avgs ++
            mv.where.map(w => ("where", w)).toSeq ++
            mv.joins.map { case (t, c) => (s"on_$t", c) }).exists { case (_, e) =>
            refs(e)
          }
      }.map(_.name).toSeq.sorted
    require(dependents.isEmpty,
      s"$op column '$colName': read by materialized view(s) " +
        s"${dependents.mkString(", ")} — DROP MATERIALIZED VIEW first")
  }

  private def unknownTable(name: String): Nothing =
    throw new IllegalArgumentException(
      s"no managed table '$name' — CREATE or OPEN it first " +
        s"(have: ${tables.keys.toSeq.sorted.mkString(", ")})")

  /** The fall-through read path: Spark SQL plus the MV query rewrite.
    * An aggregate in a view's exact (or coarser rollup) shape is
    * served from the incrementally-maintained view instead of
    * re-scanning the base — sound here because this router maintains
    * every view synchronously inside the statement that mutates its
    * base, and because the view and its base are read at the same
    * statement's snapshots. Non-matching plans pass through
    * untouched. */
  private def selectWithRewrite(text: String): DataFrame = {
    val snapshots = new Snapshots
    val df = snapshots.plan(text)
    if (mviews.isEmpty || MvRewrite.disabled) df
    else MvRewrite.maybe(spark, df, mviews.values.toSeq, snapshots.frame(_)) match {
      case Some((df2, mvName, mode)) =>
        System.err.println(s"[mv-rewrite] served from materialized view " +
          s"'$mvName' ($mode)")
        df2
      case None => df
    }
  }

  /** The root whose `_graft_log/_txn/` holds the batch's publish
    * marker: the first statement that creates or mutates a managed
    * table. A batch with none has nothing to make atomic — refused
    * loudly rather than silently run unprotected. */
  private def txnAnchor(stmts: Seq[String]): String =
    stmts.collectFirst {
      case Create(_, _, path, _) => path
      case CreateAs(_, path, _) => path
      case Insert(n, _) if tables.contains(n) => root(n)
      case Update(n, _) if tables.contains(n) => root(n)
      case Delete(n, _) if tables.contains(n) => root(n)
      case Upsert(n, _, _) if tables.contains(n) => root(n)
      case Restore(n, _) if tables.contains(n) => root(n)
      case AddCol(n, _, _) if tables.contains(n) => root(n)
      case RenameCol(n, _, _) if tables.contains(n) => root(n)
      case DropColStmt(n, _) if tables.contains(n) => root(n)
      case AlterColType(n, _, _) if tables.contains(n) => root(n)
    }.getOrElse(throw new IllegalArgumentException(
      "transaction batch has no statement that creates or mutates a managed " +
        "table — nothing to make atomic"))
}

object SqlRouter {

  /** Control-flow signal for a BEGIN…ROLLBACK batch: unwinds through
    * `Txn.transaction` (aborting the staged manifests) and is caught
    * by the batch handler — never user-visible. */
  private final class RollbackRequested
    extends RuntimeException("rollback requested")

  /** A materialized view's maintenance spec: `name` rolls up `over`
    * (grouped by `keys`, COUNT(*) as `countCol`, SUM(expr) per
    * (outName, exprText) in `sums`) into the managed table at `root`.
    * Expressions are kept as SQL TEXT — parsed by Spark's own parser
    * at each use, the same discipline as the router's SET/WHERE — so
    * the spec survives serialization exactly. */
  final case class MvSpec(name: String, over: String, root: String,
                          keys: Seq[String], countCol: String,
                          sums: Seq[(String, String)],
                          mins: Seq[(String, String)] = Nil,
                          maxs: Seq[(String, String)] = Nil,
                          avgs: Seq[(String, String)] = Nil,
                          where: Option[String] = None,
                          joins: Seq[(String, String)] = Nil) {
    /** Every member table: the base plus each joined dimension. */
    def members: Seq[String] = over +: joins.map(_._1)
    /** A (possibly `t.c`-qualified) key's stored column name. */
    def storageKeys: Seq[String] = keys.map(MvSpec.storageName)
  }

  object MvSpec {
    /** The column name a declared key is STORED under in the view:
      * the last dot-component (`region.r_name` -> `r_name`). Join
      * views declare qualified keys to disambiguate; the rollup's
      * groupBy output drops the qualifier. */
    def storageName(key: String): String = {
      val t = key.trim
      val i = t.lastIndexOf('.')
      if (i < 0) t else t.substring(i + 1)
    }
  }

  /** Parse the CREATE MATERIALIZED VIEW `OVER` blob — either a single
    * table name or an inner-join tree `fact JOIN d1 ON cond [JOIN d2
    * ON cond]...` — into (base table, Seq[(table, onCondition)]).
    * Split points are TOP-LEVEL `JOIN` keywords (outside quotes and
    * parens), so a condition may itself contain parenthesized or
    * quoted anything. */
  private[server] def parseOverBlob(blob: String): (String, Seq[(String, String)]) = {
    val segs = splitAtKeyword(blob, "JOIN")
    val base = segs.head.trim
    require(base.matches("\\w+"),
      s"OVER must start with a table name, got '${base.take(40)}'")
    (base, joinSegs(segs.tail))
  }

  private val JoinSeg = """(?is)\s*(\w+)\s+ON\s+(.+?)\s*""".r

  /** `table ON condition` segments (a join tree split at its top-level
    * JOIN keywords) as (table, condition) pairs. */
  private def joinSegs(segs: Seq[String]): Seq[(String, String)] = segs.map {
    case JoinSeg(t, cond) => (t, cond)
    case other => throw new IllegalArgumentException(
      s"malformed JOIN clause '${other.trim.take(40)}' — expected 'table ON condition'")
  }

  /** Split `s` at every top-level occurrence of keyword `kw` (outside
    * quotes/parens, word-bounded); the keyword itself is dropped. */
  private[server] def splitAtKeyword(s: String, kw: String): Seq[String] = {
    val up = s.toUpperCase
    val KW = kw.toUpperCase
    def kwAt(i: Int): Boolean =
      up.startsWith(KW, i) &&
        (i == 0 || { val p = up.charAt(i - 1); !p.isLetterOrDigit && p != '_' }) &&
        (i + KW.length >= up.length || { val n = up.charAt(i + KW.length)
          !n.isLetterOrDigit && n != '_' })
    val cuts = Seq.newBuilder[Int]
    var i = 0; var depth = 0; var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ => if (depth == 0 && kwAt(i)) cuts += i
      }
      i += 1
    }
    val idx = cuts.result()
    if (idx.isEmpty) Seq(s)
    else {
      val parts = Seq.newBuilder[String]
      parts += s.substring(0, idx.head)
      idx.indices.foreach { k =>
        val from = idx(k) + KW.length
        val to = if (k + 1 < idx.length) idx(k + 1) else s.length
        parts += s.substring(from, to)
      }
      parts.result()
    }
  }

  /** Quote/paren-aware split of the CREATE MATERIALIZED VIEW tail
    * (everything after `COUNT col`) into (aggregate blob, optional
    * WHERE predicate, LOCATION path). The WHERE boundary is the first
    * top-level `WHERE` keyword and the LOCATION boundary the LAST
    * top-level `LOCATION` keyword — both outside quotes and parens —
    * so a predicate like `note <> 'x LOCATION ''y'''` can no longer
    * split the statement inside a string literal. */
  private[server] def splitMvTail(tail: String): (String, Option[String], String) = {
    val up = tail.toUpperCase
    def kwAt(i: Int, kw: String): Boolean =
      up.startsWith(kw, i) &&
        (i == 0 || { val p = up.charAt(i - 1)
          !p.isLetterOrDigit && p != '_' }) &&
        (i + kw.length >= up.length || { val n = up.charAt(i + kw.length)
          !n.isLetterOrDigit && n != '_' })
    var i = 0; var depth = 0; var quote: Char = 0
    var whereAt = -1; var locAt = -1
    while (i < tail.length) {
      val c = tail.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0) {
            if (whereAt < 0 && kwAt(i, "WHERE")) whereAt = i
            if (kwAt(i, "LOCATION")) locAt = i
          }
      }
      i += 1
    }
    require(locAt >= 0,
      "CREATE MATERIALIZED VIEW requires a trailing LOCATION '<path>'")
    val PathRe = """(?s)\s*'([^']+)'\s*""".r
    val path = tail.substring(locAt + "LOCATION".length) match {
      case PathRe(p) => p
      case other => throw new IllegalArgumentException(
        s"malformed LOCATION clause '${other.trim.take(40)}'")
    }
    if (whereAt >= 0 && whereAt < locAt)
      (tail.substring(0, whereAt),
        Some(tail.substring(whereAt + "WHERE".length, locAt).trim).filter(_.nonEmpty),
        path)
    else (tail.substring(0, locAt), None, path)
  }

  /** Parse the CREATE MATERIALIZED VIEW aggregate-clause blob — zero
    * or more of `SUM (...)`, `MIN (...)`, `MAX (...)` in any order,
    * each holding a `expr AS name, ...` list. Parens are matched
    * balanced with quote awareness (so `SUM (CAST(x AS INT) AS y)`
    * keeps its inner parens), and anything that is not one of the
    * three keywords fails loudly — a typo must not silently become an
    * unmaintained aggregate. Returns (sums, mins, maxs). */
  private[server] def parseAggClauses(blob: String):
      (Seq[(String, String)], Seq[(String, String)], Seq[(String, String)],
       Seq[(String, String)]) = {
    val sums = Seq.newBuilder[(String, String)]
    val mins = Seq.newBuilder[(String, String)]
    val maxs = Seq.newBuilder[(String, String)]
    val avgs = Seq.newBuilder[(String, String)]
    val up = blob.toUpperCase
    var i = 0
    while (i < blob.length) {
      if (blob.charAt(i).isWhitespace) i += 1
      else {
        val kw = Seq("SUM", "MIN", "MAX", "AVG").find(k => up.startsWith(k, i) &&
            (i + k.length >= blob.length || !blob.charAt(i + k.length).isLetterOrDigit))
          .getOrElse(throw new IllegalArgumentException(
            s"expected SUM/MIN/MAX/AVG in MV aggregate list, got '${blob.substring(i).take(30)}'"))
        i += 3
        while (i < blob.length && blob.charAt(i).isWhitespace) i += 1
        require(i < blob.length && blob.charAt(i) == '(', s"expected '(' after $kw")
        val start = i + 1
        var depth = 1
        var quote: Char = 0
        i += 1
        while (depth > 0) {
          require(i < blob.length, s"unbalanced parens after $kw")
          val c = blob.charAt(i)
          if (quote != 0) { if (c == quote) quote = 0 }
          else c match {
            case '\'' | '"' => quote = c
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          i += 1
        }
        val items = parseSumList(blob.substring(start, i - 1))
        kw match {
          case "SUM" => sums ++= items
          case "MIN" => mins ++= items
          case "MAX" => maxs ++= items
          case "AVG" => avgs ++= items
        }
      }
    }
    (sums.result(), mins.result(), maxs.result(), avgs.result())
  }

  /** Parse a `SUM (expr AS name, ...)` list: top-level commas split
    * items; the LAST top-level AS splits expr from name (so
    * `CAST(x AS INT) AS y` keeps its inner cast). */
  private[server] def parseSumList(text: String): Seq[(String, String)] = {
    val Item = """(?is)(.+)\s+AS\s+(\w+)\s*""".r
    splitTopLevel(text, ',').map(_.trim).filter(_.nonEmpty).map {
      case Item(e, n) => (n, e.trim)
      case other => throw new IllegalArgumentException(
        s"malformed SUM item '$other' — expected expr AS name")
    }
  }

  /** Split `s` on top-level `sep` (ignores separators inside (), ''
    * and "" — enough for argument lists whose elements are SQL
    * expressions; quote escaping is SQL-style doubled quotes, which
    * re-enter quote state and stay harmless to depth tracking). */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    for (c <- s) {
      if (quote != 0) { if (c == quote) quote = 0; cur += c }
      else c match {
        case '\'' | '"' => quote = c; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case `sep` if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
    }
    out += cur.toString
    out.result()
  }

  private def mvSidecarPath(root: String) =
    new org.apache.hadoop.fs.Path(root, "_graft_mv.json")

  private[graft] def writeMvSidecar(spark: SparkSession, spec: MvSpec): Unit = {
    val p = mvSidecarPath(spec.root)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def j(s: String) = graft.util.Json.escape(s)
    def aggList(xs: Seq[(String, String)]) =
      xs.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val body = Seq(
      j("name") + ":" + j(spec.name), j("over") + ":" + j(spec.over),
      j("keys") + ":" + j(spec.keys.mkString(",")),
      j("count") + ":" + j(spec.countCol),
      j("sums") + ":" + j(aggList(spec.sums)),
      j("mins") + ":" + j(aggList(spec.mins)),
      j("maxs") + ":" + j(aggList(spec.maxs)),
      j("avgs") + ":" + j(aggList(spec.avgs)),
      j("where") + ":" + j(spec.where.getOrElse("")),
      j("joins") + ":" + j(spec.joins
        .map { case (t, c) => s"$t ON $c" }.mkString(" JOIN "))
    ).mkString("{", ",", "}")
    val out = f.create(p, /*overwrite=*/ true)
    try out.write(s"""{"mv":$body}""".getBytes("UTF-8")) finally out.close()
  }

  /** Load the MV sidecar at `root`, if any — the restart path that
    * turns a reloaded catalog entry back into a maintained view. */
  private[graft] def readMvSidecar(spark: SparkSession,
                                   root: String): Option[MvSpec] = {
    val p = mvSidecarPath(root)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) None
    else Some(Json.readFile(f, p)(parseMvSidecar(root, _)))
  }

  private def parseMvSidecar(root: String, text: String): MvSpec = {
    val m = Json.strMap(Json.field(Json.parseObj(text, "MV sidecar"), "mv"), "mv")
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(
      s"MV sidecar missing '$k'"))
    // mins/maxs default empty so pre-extrema sidecars still load
    def aggList(k: String): Seq[(String, String)] =
      m.get(k).filter(_.trim.nonEmpty).map(parseSumList).getOrElse(Nil)
    // joins default empty so pre-join-view sidecars still load
    val joins = m.get("joins").filter(_.trim.nonEmpty)
      .map(blob => joinSegs(splitAtKeyword(blob, "JOIN"))).getOrElse(Nil)
    MvSpec(need("name"), need("over"), root,
      need("keys").split(',').map(_.trim).toSeq, need("count"),
      aggList("sums"), aggList("mins"), aggList("maxs"), aggList("avgs"),
      m.get("where").map(_.trim).filter(_.nonEmpty), joins)
  }

  /** The catalog file `{"tables":{"name":"root",...}}` as (name, root)
    * pairs in name order — the order `persist` writes them. */
  private[server] def parseCatalog(text: String): Seq[(String, String)] =
    Json.strMap(Json.field(Json.parseObj(text, "catalog"), "tables"), "tables")
      .toSeq.sortBy(_._1)
}
