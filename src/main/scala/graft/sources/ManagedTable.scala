package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.util.Json

/** Managed mutable tables: the engine's DDL/DML surface (CREATE TABLE /
  * INSERT / UPDATE / DELETE / MERGE), re-expressed for a columnar lake
  * the way Spark-native table formats do it — immutable parquet data
  * files under a versioned snapshot log, mutations as copy-on-write
  * file rewrites. This closes the reference's OLTP write path (its
  * users create tables and mutate rows over the query API) without
  * importing an OLTP storage engine: at 100 TB, row-in-place mutation
  * is the wrong primitive; rewrite-the-affected-files is the one every
  * production lakehouse format converged on.
  *
  * Layout:
  * {{{
  *   <root>/_graft_log/v00000000.json   snapshot manifests, one per commit
  *   <root>/data/<commit-uuid>/part-*.parquet   immutable data files
  * }}}
  * A snapshot manifest lists the data files (paths relative to root)
  * that make up that version, plus the schema DDL and the operation
  * that produced it. Readers resolve the latest (or an explicit
  * `asOf`) manifest and scan exactly those files — writers never
  * overwrite a data file, so readers are snapshot-isolated for free.
  *
  * Scale notes:
  *   - The ONLY driver-side state is the file list (metadata, bounded
  *     by file count, not rows) and the manifest JSON. Row data never
  *     visits the driver.
  *   - DELETE/UPDATE/MERGE first compute the AFFECTED FILE set with a
  *     distributed probe (`input_file_name()` under the predicate /
  *     match join), then rewrite only those files; untouched files are
  *     carried into the new snapshot by reference. A selective delete
  *     on a clustered table rewrites a handful of files, not 100 TB.
  *   - Commits are optimistic: the manifest is created with
  *     overwrite=false, so two concurrent writers race on the version
  *     number and the loser gets a loud [[CommitConflict]] (retry =
  *     re-read latest, re-plan, re-commit). No locks held during the
  *     (long) data-file write; the race window is the rename-sized
  *     commit only.
  *   - At real scale the JSON manifest becomes the bottleneck past
  *     ~1e6 files; the format documented here would swap it for
  *     parquet manifest shards (same contract). Out of scope for this
  *     engine's surface.
  */
object ManagedTable {

  final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** One committed snapshot: `files` are root-relative data paths.
    * `txn` (None for ordinary commits) is a staged transaction's
    * marker path — the manifest is INVISIBLE to readers until that
    * marker exists ([[graft.sources.Txn]]'s publish point).
    *
    * `physical` maps logical column name -> the name stored in the
    * parquet files (identity entries omitted, so pre-evolution
    * manifests parse to an empty map). A column's PHYSICAL name is
    * fixed at birth and never changes — RENAME is a remap of the
    * logical name (metadata-only), DROP removes the logical entry
    * (old files keep the bytes; readers stop projecting them), and a
    * re-ADD of a previously-used name mints a FRESH physical name so
    * dropped data can never resurrect. This is the column-mapping
    * design every production lakehouse format converged on: renames
    * and drops at ANY table size cost one manifest write. */
  final case class Snapshot(version: Int, op: String, schemaDdl: String,
                            files: Seq[String], txn: Option[String] = None,
                            physical: Map[String, String] = Map.empty) {
    def schema: StructType = StructType.fromDDL(schemaDdl)
    /** The parquet-side name of logical column `name`. */
    def physicalName(name: String): String = physical.getOrElse(name, name)
    /** The schema as stored in data files (fields under physical names). */
    def physicalSchema: StructType = StructType(schema.fields.map(f =>
      f.copy(name = physicalName(f.name))))
  }

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(root: String) = new Path(root, "_graft_log")
  private def manifestPath(root: String, v: Int) =
    new Path(logDir(root), f"v$v%08d.json")

  // -- manifest (de)serialization: util.Json --
  private[graft] def render(s: Snapshot): String = {
    val files = s.files.map(graft.util.Json.escape).mkString("[", ",", "]")
    val txn = s.txn.map(m => s""","txn":${graft.util.Json.escape(m)}""").getOrElse("")
    // physical map rendered as a flat string array [log1,phys1,...] —
    // reuses the existing string-array parser; omitted when identity
    val phys =
      if (s.physical.isEmpty) ""
      else s""","physical":${s.physical.toSeq.sorted
        .flatMap { case (l, p) => Seq(l, p) }
        .map(graft.util.Json.escape).mkString("[", ",", "]")}"""
    s"""{"version":${s.version},"op":${graft.util.Json.escape(s.op)},""" +
      s""""schema":${graft.util.Json.escape(s.schemaDdl)},"files":$files$phys$txn}"""
  }

  private[graft] def parse(text: String, v: Int): Snapshot = {
    val doc = Json.obj(Json.parse(text), "manifest")
    def strField(k: String) = Json.str(Json.field(doc, k), k)
    Snapshot(v, strField("op"), strField("schema"),
      Json.strs(Json.field(doc, "files"), "files"),
      // optional: staged-transaction marker (absent on ordinary commits
      // and on every pre-txn manifest)
      doc.get("txn").map(Json.str(_, "txn")),
      // optional: logical->physical column map as a flat
      // [l1,p1,l2,p2,...] array (absent = identity)
      doc.get("physical").map(Json.strs(_, "physical")).getOrElse(Vector.empty)
        .grouped(2).map {
          case Seq(l, p) => l -> p
          case odd => throw new IllegalArgumentException(
            s"manifest v$v: unpaired physical entry $odd")
        }.toMap)
  }

  private def readManifest(f: FileSystem, root: String, v: Int): Snapshot =
    Json.readFile(f, manifestPath(root, v))(parse(_, v))

  private val ManifestName = """v(\d{8})\.json""".r

  /** Every manifest version on disk, ascending — visible or not. */
  private def versions(f: FileSystem, root: String): Seq[Int] = {
    val dir = logDir(root)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case ManifestName(v) => v.toInt }.sorted
  }

  /** Reader visibility: a manifest staged by a transaction ([[Txn]])
    * is visible only once its marker is published — or to the staging
    * transaction itself (read-your-own-writes). The marker probe is
    * one `exists` per DISTINCT marker, memoized per predicate. */
  private def visibility(spark: SparkSession): Snapshot => Boolean = {
    val own = Txn.current.map(_.markerPath)
    val committed = scala.collection.mutable.Map.empty[String, Boolean]
    s => s.txn.forall(m =>
      own.contains(m) || committed.getOrElseUpdate(m, Txn.isCommitted(spark, m)))
  }

  /** All committed (visible) versions, ascending. Empty if not a
    * managed table. Opens every manifest; [[latest]] and time-travel
    * reads open only the one they need. */
  def history(spark: SparkSession, root: String): Seq[Snapshot] = {
    val f = fs(spark, root)
    versions(f, root).map(readManifest(f, root, _)).filter(visibility(spark))
  }

  /** (version, marker path) of every still-tagged manifest at `root` —
    * [[Txn.rollbackStale]]'s probe surface. */
  private[sources] def pendingManifests(spark: SparkSession,
                                        root: String): Seq[(Int, String)] = {
    val f = fs(spark, root)
    versions(f, root).flatMap(v => readManifest(f, root, v).txn.map(v -> _))
  }

  /** Version `v`, if its manifest is on disk and visible — opens only
    * that manifest. */
  def snapshotAt(spark: SparkSession, root: String, v: Int): Option[Snapshot] = {
    val f = fs(spark, root)
    if (v < 0 || !f.exists(manifestPath(root, v))) None
    else Some(readManifest(f, root, v)).filter(visibility(spark))
  }

  /** The newest visible snapshot: walks the manifests newest-first and
    * stops at the first visible one. Fails loudly if `root` is not a
    * managed table. */
  def latest(spark: SparkSession, root: String): Snapshot = {
    val f = fs(spark, root)
    val head = versions(f, root).reverseIterator.map(readManifest(f, root, _))
      .find(visibility(spark))
    require(head.isDefined, s"$root is not a managed table (no _graft_log)")
    head.get
  }

  /** Commit `s` as the next version. Optimistic: EXCLUSIVE creation
    * makes the filesystem the arbiter; a concurrent committer of the
    * same version throws [[CommitConflict]].
    *
    * On local paths the exclusive create is POSIX O_EXCL
    * (`CREATE_NEW`) — Hadoop's local `create(overwrite = false)` is a
    * non-atomic exists-then-open, so two TRULY concurrent committers
    * could both pass the check and one manifest would be silently
    * lost (caught by the withRetry concurrency spec). Non-local
    * filesystems keep the Hadoop create, whose exclusivity is the
    * store's own contract (atomic on HDFS; object stores document
    * their own conditional-create semantics).
    */
  private[graft] def commit(spark: SparkSession, root: String, s0: Snapshot): Snapshot = {
    // inside a transaction the manifest stages TAGGED (invisible until
    // the marker publishes) — same exclusive create, so version-slot
    // conflicts surface at stage time, not at publish
    val s = Txn.current.map(c => s0.copy(txn = Some(c.markerPath))).getOrElse(s0)
    val p = manifestPath(root, s.version)
    val bytes = render(s).getBytes("UTF-8")
    def conflict() = {
      // name the blocker when it's an unpublished transaction: that
      // slot never frees on its own (Txn.rollbackStale is the remedy)
      val detail =
        try {
          readManifest(fs(spark, root), root, s.version).txn match {
            case Some(m) if !Txn.isCommitted(spark, m) =>
              s" (slot held by an unpublished transaction, marker $m — " +
                "Txn.rollbackStale clears it if that writer crashed)"
            case _ => ""
          }
        } catch { case scala.util.control.NonFatal(_) => "" }
      new CommitConflict(
        s"version ${s.version} at $root was committed concurrently — " +
          s"re-read and retry$detail")
    }
    val scheme = Option(p.toUri.getScheme)
    if (scheme.forall(_ == "file")) {
      try java.nio.file.Files.write(java.nio.file.Paths.get(p.toUri.getPath), bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW): Unit
      catch { case _: java.nio.file.FileAlreadyExistsException => throw conflict() }
    } else {
      val out =
        try fs(spark, root).create(p, /*overwrite=*/ false)
        catch { case _: java.io.IOException => throw conflict() }
      try out.write(bytes) finally out.close()
    }
    // Data-skipping sidecar (FileStats): carried files reuse the
    // previous version's entries, new files get a footer harvest —
    // metadata-scale work. Best-effort BY DESIGN: the manifest above
    // is already durable, so a stats failure must degrade to
    // "no pruning" (readers keep every file), never fail the commit.
    // the manifest is durably staged: record it with the live
    // transaction (publish tags exactly these; abort deletes them)
    Txn.current.foreach(_.stage(root, s.version))
    try FileStats.write(spark, root, s)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[managed-table] stats sidecar for v${s.version} " +
        s"not written (${e.getMessage}) — range reads will scan unpruned")
    }
    // Bloom-filter sidecar (FileBloom): only for tables with a bloom
    // index configured; new files get a one-job harvest, carried files
    // reuse their filters. Same best-effort contract as the stats
    // sidecar — a bloom failure degrades to "point lookups scan
    // unpruned", never a failed commit.
    try FileBloom.write(spark, root, s)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[managed-table] bloom sidecar for v${s.version} " +
        s"not written (${e.getMessage}) — point lookups will scan unpruned")
    }
    // ANY row-changing commit makes ANALYZE statistics stale — dropped
    // HERE, at the one choke point every mutation path shares, so a
    // direct-API caller (bypassing SqlRouter) can never leave the
    // planner acting on a superseded snapshot's stats. Compaction
    // keeps rows identical, so its stats survive; create/add_column
    // have none/keep theirs.
    s.op match {
      case "compact" | "create" | "add_column" =>
      case _ => TableStatistics.invalidate(root)
    }
    s
  }

  /** Optimistic-concurrency retry loop: run `op` (any mutation here —
    * they all re-read the latest snapshot at entry), retrying on
    * [[CommitConflict]] up to `maxRetries` times. Each retry re-reads,
    * re-plans, and re-commits against the new head — the standard
    * loser's protocol this format's optimistic commits assume. The
    * conflict is rethrown once retries are exhausted (a hot table
    * needs coarser batching, not unbounded spinning).
    */
  def withRetry[T](maxRetries: Int = 5)(op: => T): T = {
    require(maxRetries >= 0, s"maxRetries must be >= 0, got $maxRetries")
    var attempt = 0
    while (true) {
      try return op
      catch { case e: CommitConflict =>
        attempt += 1
        if (attempt > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** CREATE TABLE: an empty v0 snapshot carrying the schema. Fails
    * loudly if the table already exists (no IF NOT EXISTS silent mode).
    */
  def create(spark: SparkSession, root: String, schema: StructType): Snapshot = {
    val f = fs(spark, root)
    require(!f.exists(logDir(root)), s"managed table already exists at $root")
    f.mkdirs(logDir(root))
    commit(spark, root, Snapshot(0, "create", schema.toDDL, Nil))
  }

  /** Write `df`'s rows (logical column names) as new immutable data
    * files under their PHYSICAL names, returning root-relative paths.
    * One commit-scoped subdirectory per call so concurrent writers
    * never collide on file names.
    */
  private def writeData(df0: DataFrame, root: String,
                        physical: Map[String, String]): Seq[String] = {
    val df =
      if (physical.isEmpty) df0
      else df0.select(df0.columns.map(c =>
        col(c).as(physical.getOrElse(c, c))).toSeq: _*)
    val sub = s"data/${java.util.UUID.randomUUID}"
    // INT64 micros, not Spark's default INT96: INT96 is deprecated AND
    // parquet refuses to expose its footer min/max (the stats are
    // marked invalid), so an INT96 timestamp column could never feed
    // the FileStats sidecar — time-range file skipping, the most
    // common pruning pattern, would silently not exist. The conf is
    // pinned on a CLONED session (shared context/catalog, independent
    // SQLConf), not save/set/restored on the caller's session: the
    // restore window raced concurrent writes on other threads of the
    // same session — a plain parquet write landing inside it silently
    // picked up TIMESTAMP_MICROS, and the restore could clobber a
    // concurrent user conf.set. (Readers handle INT96 and INT64 files
    // side by side in one managed table transparently.)
    val wspark = org.apache.spark.sql.graftbridge.ColumnBridge
      .cloneSession(df.sparkSession)
    wspark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    org.apache.spark.sql.graftbridge.ColumnBridge
      .ofRows(wspark, df.queryExecution.analyzed)
      .write.mode("errorifexists").parquet(s"$root/$sub")
    val f = fs(df.sparkSession, root)
    f.listStatus(new Path(root, sub)).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq.map(n => s"$sub/$n")
  }

  private def requireSchema(df: DataFrame, snap: Snapshot, op: String): Unit = {
    val expect = snap.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(got == expect,
      s"$op: schema mismatch — table is ${snap.schema.toDDL}, input is ${df.schema.toDDL}")
  }

  /** INSERT: append rows. Pure addition — no existing file is read or
    * rewritten, so insert cost scales with the inserted rows only.
    */
  def insert(spark: SparkSession, root: String, rows: DataFrame): Snapshot =
    insertChanges(spark, root, rows).snapshot

  /** [[insert]], returning its [[ChangeSet]]: `written` is the admitted
    * rows (quarantined ones excluded), `replaced` is empty. Rows that
    * passed write-time constraints are materialized; an unconstrained
    * insert's `written` is `rows` itself, so pass a materialized frame
    * when the change set must read back exactly what landed. */
  def insertChanges(spark: SparkSession, root: String, rows: DataFrame): ChangeSet = {
    val snap = latest(spark, root)
    requireSchema(rows, snap, "insert")
    // write-time constraints (declared at CREATE): violating rows are
    // refused or quarantined HERE — the choke point every insert
    // shares — never committed and audited later
    val admitted = Constraints.load(spark, root) match {
      case Some(spec) if !spec.isEmpty =>
        Constraints.enforceInsert(spark, root, rows, read(spark, root), spec)
      case _ => rows
    }
    val none = emptyFrame(spark, snap)
    if ((admitted ne rows) && admitted.isEmpty) // all quarantined
      return ChangeSet(snap, none, none)
    val added = writeData(admitted, root, snap.physical)
    ChangeSet(commit(spark, root, Snapshot(snap.version + 1, "insert", snap.schemaDdl,
      snap.files ++ added, physical = snap.physical)), admitted, none)
  }

  /** Read a snapshot (latest, or time-travel to `asOf`). The scan is a
    * plain multi-file parquet read — pushdown/pruning apply as usual.
    */
  def read(spark: SparkSession, root: String, asOf: Option[Int] = None): DataFrame =
    read(spark, root, resolve(spark, root, asOf))

  /** Read `snap`, a snapshot of the table at `root` that
    * [[latest]] or [[snapshotAt]] returned. */
  def read(spark: SparkSession, root: String, snap: Snapshot): DataFrame =
    scanFiles(spark, snap, root, snap.files)

  /** The CDC READ side: keyed row changes between two snapshot
    * versions — `(keys..., change, content columns...)` with change in
    * added | removed | changed, payload = the NEW row for
    * added/changed and the OLD row for removed (what a downstream
    * consumer needs to replay the delta). The complement of the
    * ingest/upsert write path: ingest moves rows IN, this reads what
    * a version transition DID.
    *
    * `keys` must identify rows within each snapshot (same contract as
    * upsert — it's a keyed table, not a bag). Schema evolution is
    * handled by aligning the OLD side to the new schema (added
    * columns null-fill backward, exactly like reads of pre-evolution
    * files), so "changed" reflects real content movement, never a
    * shape mismatch.
    *
    * Scale: both sides reduce to (keys, 16-byte hash) before the
    * full-outer join ([[graft.operators.Diff.snapshotDiff]]); the
    * payload joins are keyed equi-joins against the filtered change
    * set — delta-sized, not table-sized, on the probe side.
    */
  def changes(spark: SparkSession, root: String, fromVersion: Int,
              toVersion: Option[Int], keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val o0 = read(spark, root, Some(fromVersion))
    val n = read(spark, root, toVersion)
    val missing = keys.filterNot(n.schema.fieldNames.contains)
    require(missing.isEmpty, s"changes: no such key column(s): ${missing.mkString(", ")}")
    // Align old -> new schema by PHYSICAL column identity: a renamed
    // column is the same column (same physical name), so its rows
    // must diff as unchanged — by-name alignment would null the old
    // side and report every row "changed" after a rename. Columns
    // added since `fromVersion` null-fill backward (same semantics as
    // reads of pre-evolution files); columns dropped since simply
    // stop being compared.
    val oldSnap = resolve(spark, root, Some(fromVersion))
    val newSnap = resolve(spark, root, toVersion)
    val oldByPhys = oldSnap.schema.fieldNames
      .map(c => oldSnap.physicalName(c) -> c).toMap
    val o = o0.select(newSnap.schema.fields.map { f =>
      oldByPhys.get(newSnap.physicalName(f.name)) match {
        case Some(oldName) => col(oldName).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toSeq: _*)
    val contentCols = n.columns.filterNot(keys.contains).toSeq
    require(contentCols.nonEmpty,
      s"changes: keys (${keys.mkString(", ")}) cover every column — a CDC read " +
        "needs at least one non-key content column to diff")
    // NULL key values would match nothing in the payload equi-joins
    // below and vanish from the output silently — the one failure mode
    // a CDC consumer can never detect downstream. Raise loudly instead
    // (same contract as upsert: it's a keyed table). The guard rides
    // the delta-sized diff, not the table scan.
    val nullGuard = keys.map(k =>
      when(col(k).isNull, raise_error(lit(
        s"changes: NULL value in key column '$k' — CDC keys must be non-null " +
          s"(they identify rows across versions of $root)")))
        .otherwise(col(k)).as(k))
    val d = graft.operators.Diff.snapshotDiff(o, n, keys, contentCols)
      .filter(col("status") =!= "unchanged")
      .select(nullGuard :+ col("status").as("change"): _*)
    val fromNew = d.filter(col("change") =!= "removed").join(n, keys)
    val fromOld = d.filter(col("change") === "removed").join(o, keys)
    fromNew.unionByName(fromOld)
      .select((keys.map(col) :+ col("change")) ++ contentCols.map(col): _*)
  }

  private def resolve(spark: SparkSession, root: String, asOf: Option[Int]): Snapshot =
    asOf match {
      case Some(v) =>
        snapshotAt(spark, root, v).getOrElse(throw new IllegalArgumentException(
          s"no version $v at $root (have ${history(spark, root).map(_.version).mkString(",")})"))
      case None => latest(spark, root)
    }

  private def scanFiles(spark: SparkSession, snap: Snapshot, root: String,
                        files: Seq[String]): DataFrame =
    if (files.isEmpty) emptyFrame(spark, snap)
    else {
      // feed the data-skipping registry (memoized per version): any
      // session with plans.FileSkipScan installed can then prune THIS
      // scan's files against the stats sidecar at optimization time
      FileSkip.register(spark, root, snap)
      if (snap.physical.isEmpty)
        spark.read.schema(snap.schema).parquet(files.map(f => s"$root/$f"): _*)
      else {
        // read under PHYSICAL names, project to logical: one aliasing
        // Project, which Catalyst collapses into the scan (pushed
        // filters then reference physical attributes — exactly what
        // the FileSkip registry and parquet footers are keyed by)
        val raw = spark.read.schema(snap.physicalSchema)
          .parquet(files.map(f => s"$root/$f"): _*)
        raw.select(snap.schema.fields.map(f =>
          col(snap.physicalName(f.name)).as(f.name)): _*)
      }
    }

  private def emptyFrame(spark: SparkSession, snap: Snapshot): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)

  /** Range read with manifest-level data skipping: scan only the data
    * files whose [[FileStats]] range can intersect `lo <= col <= hi`,
    * then apply the predicate to the survivors (pruning is a superset
    * guarantee, the filter is the exact semantics — results are
    * row-identical to `read(...).filter(...)`, asserted in
    * ManagedTableSpec). On a table clustered on `colName` (OPTIMIZE
    * with clusterCols) a selective range touches a handful of files
    * with ZERO footer opens for the rest — the O(1)-planning path the
    * sidecar exists for. Files without recorded stats (pre-stats
    * versions, all-null columns) are scanned — never wrong, just
    * unpruned.
    *
    * `lo`/`hi` accept the JVM numeric primitives for numeric columns
    * and plain Strings for string columns (loud on any mismatch);
    * bounds are inclusive.
    */
  def readRange(spark: SparkSession, root: String, colName: String,
                lo: Any, hi: Any, asOf: Option[Int] = None): DataFrame = {
    val snap = resolve(spark, root, asOf)
    require(snap.schema.fieldNames.contains(colName),
      s"readRange: no such column '$colName' (${snap.schema.toDDL})")
    val colType = snap.schema(colName).dataType
    require(FileStats.isRangeType(colType),
      s"readRange: column '$colName' is ${colType.simpleString} — " +
        "range reads support numeric, date/timestamp, and string columns")
    if (colType == org.apache.spark.sql.types.StringType) {
      val (sLo, sHi) = (lo, hi) match {
        case (a: String, b: String) => (a, b)
        case _ => throw new IllegalArgumentException(
          s"readRange: column '$colName' is string — pass String bounds, " +
            s"got ${lo.getClass.getSimpleName}/${hi.getClass.getSimpleName}")
      }
      val stats = FileStats.read(spark, root, snap.version)
      val keep = FileStats.pruneStr(stats, snap.files,
        snap.physicalName(colName), sLo, sHi)
      return scanFiles(spark, snap, root, keep)
        .filter(col(colName) >= lit(sLo) && col(colName) <= lit(sHi))
    }
    def big(v: Any): BigDecimal = v match {
      case n: Byte => BigDecimal(n.toInt)
      case n: Short => BigDecimal(n.toInt)
      case n: Int => BigDecimal(n)
      case n: Long => BigDecimal(n)
      // NOT n.toDouble: 0.1f widens to 0.10000000149011612, which sorts
      // ABOVE the "0.1" FileStats.harvest records for a FloatType max —
      // a file whose max IS the bound would be wrongly pruned. Float's
      // shortest round-trip string preserves float order and matches
      // the sidecar representation exactly.
      case n: Float => BigDecimal(n.toString)
      case n: Double => BigDecimal(n)
      case n: BigDecimal => n
      case other => throw new IllegalArgumentException(
        s"readRange: unsupported bound ${other.getClass.getSimpleName} — pass a numeric")
    }
    val (bLo, bHi) = (big(lo), big(hi))
    val stats = FileStats.read(spark, root, snap.version)
    val keep = FileStats.prune(stats, snap.files,
      snap.physicalName(colName), bLo, bHi)
    scanFiles(spark, snap, root, keep)
      .filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))
  }

  /** The affected-file probe shared by every copy-on-write mutation:
    * which data files contain at least one row satisfying `hit`?
    * Distributed scan + distinct over `input_file_name()`; only file
    * NAMES come back to the driver (metadata-scale). On a clustered
    * table the predicate's parquet min/max pushdown already skips
    * non-matching files, so the probe reads footer-pruned data only.
    */
  private def affectedFiles(cur: DataFrame, root: String, hit: Column): Seq[String] =
    fileNames(cur.withColumn("_graft_file", input_file_name()).filter(hit), root)._1

  /** The distinct `_graft_file` values of `withFile`, as paths
    * relative to `root`, sorted — the collected end of a probe — and
    * the number of rows `withFile` holds, counted in the same pass.
    * Deduplicated within each partition first (a partition reads few
    * files), so the collect returns a handful of names per partition
    * and the probe needs no shuffle. */
  private def fileNames(withFile: DataFrame, root: String): (Seq[String], Long) = {
    val rootUri = new Path(root).toUri.getPath
    val perPartition = withFile.select("_graft_file").rdd
      .mapPartitions { it =>
        val names = scala.collection.mutable.Set.empty[String]
        var n = 0L
        it.foreach { r => names += r.getString(0); n += 1 }
        Iterator.single((names.toSet, n))
      }
      .collect()
    val names = perPartition.flatMap(_._1).distinct
      .map { f =>
        val p = new Path(f).toUri.getPath
        val i = p.indexOf(rootUri)
        require(i >= 0, s"data file $p outside table root $root")
        p.substring(i + rootUri.length).stripPrefix("/")
      }.toSeq.sorted
    (names, perPartition.map(_._2).sum)
  }

  /** [[writeData]] for a copy-on-write rewrite of the `affected`
    * files, packed into as few files as its bytes need: n = max(1,
    * ⌈bytes / `spark.sql.files.maxPartitionBytes`⌉), the bytes being
    * the affected files' sizes (from the filesystem) plus `newBytes`,
    * an estimate of the rows added beside them. A rewrite touching one
    * file leaves one file (written without a shuffle); above that the
    * rows spread round-robin over n files, so a range-clustered table's
    * rewritten files widen until the next OPTIMIZE. */
  private def writePacked(df: DataFrame, root: String, physical: Map[String, String],
                          affected: Seq[String], newBytes: Long): Seq[String] = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val bytes = affected.map(rel => f.getFileStatus(new Path(root, rel)).getLen).sum + newBytes
    val target = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val n = math.max(1L, (bytes + target - 1) / target).toInt
    writeData(if (n == 1) df.coalesce(1) else df.repartition(n), root, physical)
  }

  /** Do the data files `rels` hold no row? Parquet footers only. */
  private def allEmpty(spark: SparkSession, root: String, rels: Seq[String]): Boolean =
    rels.forall { rel =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(root, rel),
        spark.sparkContext.hadoopConfiguration))
      try r.getRecordCount == 0 finally r.close()
    }

  private def rewrite(spark: SparkSession, root: String, snap: Snapshot,
                      affected: Seq[String], transform: DataFrame => DataFrame,
                      op: String): Snapshot = {
    if (affected.isEmpty) return snap // nothing matched: current snapshot stands
    val affectedDf = scanFiles(spark, snap, root, affected)
    val replacement = transform(affectedDf)
    requireSchema(replacement, snap, op)
    val rewritten = writePacked(replacement, root, snap.physical, affected, 0L)
    val kept = snap.files.filterNot(affected.contains)
    commit(spark, root, Snapshot(snap.version + 1, op, snap.schemaDdl,
      kept ++ rewritten, physical = snap.physical))
  }

  /** DELETE WHERE: copy-on-write — rewrite only the files that contain
    * matching rows, without the matches; files with no match carry over
    * untouched (asserted in ManagedTableSpec).
    */
  def delete(spark: SparkSession, root: String, where: Column): Snapshot = {
    val snap = latest(spark, root)
    val cur = read(spark, root)
    rewrite(spark, root, snap, affectedFiles(cur, root, where),
      _.filter(!coalesce(where, lit(false))), "delete")
  }

  /** UPDATE SET ... WHERE: copy-on-write on the affected files;
    * `set` maps column name -> new-value expression (may reference any
    * table column). Unknown columns fail loudly.
    */
  def update(spark: SparkSession, root: String, where: Column,
             set: Map[String, Column]): Snapshot = {
    val snap = latest(spark, root)
    val cols = snap.schema.fieldNames
    val unknown = set.keySet.filterNot(cols.contains)
    require(unknown.isEmpty, s"update: no such column(s) ${unknown.mkString(", ")}")
    val cur = read(spark, root)
    val hit = coalesce(where, lit(false))
    // an UPDATE must not rewrite a row INTO violation: the in-plan
    // guard raises at materialization (reject-only — no incoming row
    // to quarantine), so a violating SET aborts before any commit.
    // PRIMARY KEY columns are immutable under UPDATE — a SET on one
    // could mint a NULL or duplicate key that no per-row guard can
    // catch (uniqueness is a cross-row property); moving a row to a
    // new key is what DELETE+INSERT / UPSERT are for
    val guard: DataFrame => DataFrame = Constraints.load(spark, root) match {
      case Some(spec) =>
        val pkTouched = spec.primaryKey.filter(set.keySet.contains)
        if (pkTouched.nonEmpty) throw new ConstraintViolation(
          s"UPDATE may not modify PRIMARY KEY column(s) ${pkTouched.mkString(", ")} " +
            "— use DELETE + INSERT (or UPSERT) to move rows to new keys")
        if (spec.notNull.nonEmpty || spec.checks.nonEmpty)
          Constraints.updateGuard(spec)
        else identity
      case _ => identity
    }
    rewrite(spark, root, snap, affectedFiles(cur, root, where), aff =>
      guard(aff.select(cols.map { c =>
        (if (set.contains(c)) when(hit, set(c)).otherwise(col(c)) else col(c))
          .cast(snap.schema(c).dataType).as(c)
      }: _*)), "update")
  }

  /** The merge probe's key frame: the `keys` columns of `keySet`
    * (which holds at most `nKeys` key tuples), hinted for broadcast
    * ONLY when provably small. A localCheckpointed frame
    * reports unknown (maximal) size to the planner, so it will never
    * auto-broadcast on stats — but an UNCONDITIONAL hint (the previous
    * formulation) forced a broadcast at ANY size, an OOM ceiling for
    * large backfill merges (10⁹-key sources exceed every broadcast
    * limit). The gate uses the measured (or bounded) key count × a
    * schema-derived per-row width against the session's own
    * `autoBroadcastJoinThreshold`; above it (or with broadcasting
    * disabled, threshold ≤ 0) the un-hinted join shuffles — the
    * correct shape for a big merge source. `private[graft]` so
    * ManagedTableSpec can assert the actual probe plan both ways.
    */
  private[graft] def mergeKeyFrame(keySet: DataFrame, keys: Seq[String],
                                   nKeys: Long, keyWidth: Long): DataFrame = {
    val kf = keySet.select(keys.map(col): _*)
    val threshold = keySet.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold > 0 && nKeys * keyWidth <= threshold) broadcast(kf) else kf
  }

  /** The key-replace core shared by [[upsert]], [[upsertChanges]],
    * [[deleteKeys]] and [[replaceMatched]]: in ONE commit, drop every
    * current row whose key tuple is in `keySet` (its `keys` columns
    * null-free, at most `nKeys` rows) and add `replacement(matched)`,
    * where `matched` is the rows dropped — the upsert's replacement is
    * its source whatever matched, a view's is the matched groups merged
    * with a change bag, and a key delete adds nothing. Returns the
    * committed snapshot, the matched rows when `readMatched`, and how
    * many rows matched.
    *
    * One probe finds the affected files and counts the matched rows: a
    * distributed semi-join of the snapshot against the key frame
    * (broadcast only when [[mergeKeyFrame]] bounds it small), collecting
    * file NAMES only. Without `readMatched` column pruning reads just
    * the key columns. With it the probe MATERIALIZES the matched rows,
    * whole, before anything is rewritten: they are key-set-sized, not
    * table-sized — the pre-image a caller maintaining something
    * downstream needs, with no other scan. The affected files'
    * survivors (left-anti against the key frame) and the replacement
    * land in ONE write, packed by [[writePacked]] with `newRows`
    * replacement rows estimated at the schema's default row width.
    * Nothing matched and no row to add commits nothing. */
  private def replaceKeys(spark: SparkSession, root: String, snap: Snapshot,
                          keySet: DataFrame, nKeys: Long, keys: Seq[String], op: String,
                          replacement: Option[DataFrame => DataFrame], readMatched: Boolean,
                          newRows: Long): (Snapshot, Option[DataFrame], Long) = {
    val cols = snap.schema.fieldNames.map(col).toSeq
    if (nKeys == 0)
      return (snap, if (readMatched) Some(emptyFrame(spark, snap)) else None, 0L)
    // estimated broadcast row width: fixed-size types from the schema
    // (variable-size defaults are Spark's own per-type estimates) plus
    // per-row object overhead
    val keyWidth = keys.map(k => snap.schema(k).dataType.defaultSize.toLong).sum + 16L
    val kf = mergeKeyFrame(keySet, keys, nKeys, keyWidth)
    val probe = scanFiles(spark, snap, root, snap.files)
      .withColumn("_graft_file", input_file_name())
      .join(kf, keys, "left_semi")
    val matched = if (readMatched) probe.localCheckpoint() else probe
    val (affected, nMatched) = fileNames(matched, root)
    val survivors =
      if (affected.isEmpty) None
      else Some(scanFiles(spark, snap, root, affected)
        .join(kf, keys, "left_anti").select(cols: _*))
    val added = replacement.map(_(matched.select(cols: _*)))
    added.foreach(requireSchema(_, snap, op))
    val written = (survivors ++ added.map(_.select(cols: _*))).reduceOption(_ unionByName _)
      .fold(Seq.empty[String])(writePacked(_, root, snap.physical,
        affected, newRows * snap.schema.defaultSize))
    // with nothing matched the write is the replacement alone; an empty
    // one (a view's bag that selects nothing) leaves only Spark's
    // schema-only file, which is deleted, not committed
    val committed =
      if (affected.isEmpty && allEmpty(spark, root, written)) {
        written.foreach(rel => fs(spark, root).delete(new Path(root, rel), false))
        snap
      } else commit(spark, root, Snapshot(snap.version + 1, op, snap.schemaDdl,
        snap.files.filterNot(affected.contains) ++ written, physical = snap.physical))
    (committed, if (readMatched) Some(matched.select(cols: _*)) else None, nMatched)
  }

  /** How many rows of the materialized frame `df` satisfy each of
    * `conds` — counted per partition, the partition counts collected
    * and summed: one stage, no shuffle. */
  private def countWhere(df: DataFrame, conds: Seq[Column]): Seq[Long] = {
    val n = conds.size
    df.select(conds.map(c => when(c, 1L).otherwise(0L)): _*).rdd
      .mapPartitions { it =>
        val acc = new Array[Long](n)
        it.foreach(r => (0 until n).foreach(i => acc(i) += r.getLong(i)))
        Iterator.single(acc)
      }
      .collect().foldLeft(Seq.fill(n)(0L))((a, b) => a.zip(b).map { case (x, y) => x + y })
  }

  /** DELETE by key set: drop every current row whose key tuple appears
    * in `keySource` — the apply path for a CDC "removed" delta
    * ([[changes]]), where the doomed rows arrive as a keyed frame, not
    * a predicate. Copy-on-write through [[upsert]]'s key-replace core
    * with nothing to add: only files holding matched keys rewrite;
    * everything else carries over untouched. Keys absent from the
    * table are a no-op, so replaying a delta is idempotent; an empty
    * key frame commits nothing.
    */
  def deleteKeys(spark: SparkSession, root: String, keySource: DataFrame,
                 keys: Seq[String]): Snapshot = {
    val snap = latest(spark, root)
    require(keys.nonEmpty, "deleteKeys needs at least one key column")
    val missing = keys.filterNot(snap.schema.fieldNames.contains)
    require(missing.isEmpty, s"deleteKeys: no such key column(s) ${missing.mkString(", ")}")
    val src = keySource.select(keys.map(col): _*).distinct().localCheckpoint()
    val Seq(nKeys, nNullKeys) =
      countWhere(src, Seq(lit(true), keys.map(col(_).isNull).reduce(_ || _)))
    if (nKeys == 0) return snap
    // loud on NULL key values (same contract as changes()): the
    // left_anti below is null-rejecting, so a null key would silently
    // delete NOTHING — worse than failing
    require(nNullKeys == 0,
      s"deleteKeys: $nNullKeys key row(s) with NULL in (${keys.mkString(", ")}) — " +
        "null keys never match (null-rejecting join); filter or fix them first")
    replaceKeys(spark, root, snap, src, nKeys, keys, "delete",
      replacement = None, readMatched = false, newRows = 0L)._1
  }

  /** What one write did: the committed `snapshot` (the unchanged
    * current one when the write committed nothing), the rows
    * `written` — the admitted source after write-time constraints, so
    * quarantined rows never appear — and the rows `replaced`: the
    * pre-image of every matched key. Both frames are materialized and
    * change-set-sized, in the table's column order; together they are
    * the write's exact multiset delta (+written, −replaced). `rows` is
    * |written| + |replaced| when the write counted them (a keyed write
    * does, an insert does not): a bound on any bag derived from the
    * change set, so its consumer needs no count of its own. */
  final case class ChangeSet(snapshot: Snapshot, written: DataFrame, replaced: DataFrame,
                             rows: Option[Long] = None)

  /** MERGE (upsert): rows of `source` matching on `keys` replace the
    * current rows (whole-row update); unmatched source rows are
    * inserted. The matched-file probe is a distributed semi-join (the
    * source's keys broadcast only when measured small — see
    * [[mergeKeyFrame]]) that reads only the key columns, so only files
    * holding matched keys are rewritten; the survivors of those files
    * and the source land together in as few files as their bytes need
    * (see [[writePacked]]) — an upsert touching one file leaves one
    * file, and one matching nothing adds one file beside the untouched
    * rest. Source must not contain duplicate or NULL keys (loud checks
    * — a dup key would make the merge result order-dependent).
    */
  def upsert(spark: SparkSession, root: String, source: DataFrame,
             keys: Seq[String]): Snapshot =
    merge(spark, root, source, keys, preImage = false).snapshot

  /** [[upsert]], returning its [[ChangeSet]]: the probe materializes
    * the matched rows whole (see [[replaceKeys]]), so the replaced
    * rows come back with no extra scan. */
  def upsertChanges(spark: SparkSession, root: String, source: DataFrame,
                    keys: Seq[String]): ChangeSet =
    merge(spark, root, source, keys, preImage = true).changes.get

  /** What [[merge]] did: the committed snapshot, how many rows it
    * wrote (the admitted source's distinct keys) and, when the
    * pre-image was asked for, the change set. */
  private[graft] final case class Merged(snapshot: Snapshot, applied: Long,
                                         changes: Option[ChangeSet])

  /** [[upsert]]'s body. The admitted source is grouped by `keys` ONCE
    * and materialized, each group keeping its row count and its row:
    * that frame is both the key frame the probe joins and the rows
    * written, and one per-partition count over it yields the dup-key
    * guard, the null-key guard and the distinct-key count (the rows
    * applied, and the broadcast gate's size). A source already
    * partitioned by `keys` (a last-writer-wins reduce) groups without
    * another shuffle. */
  private[graft] def merge(spark: SparkSession, root: String, source: DataFrame,
                           keys: Seq[String], preImage: Boolean): Merged = {
    val snap = latest(spark, root)
    requireSchema(source, snap, "merge")
    require(keys.nonEmpty, "merge needs at least one key column")
    val missing = keys.filterNot(snap.schema.fieldNames.contains)
    require(missing.isEmpty, s"merge: no such key column(s) ${missing.mkString(", ")}")
    // write-time constraints: a merge by anything OTHER than the
    // declared primary key could land two rows with one PK — refuse
    // the shape, then enforce the row-local rules on the source
    val admitted = Constraints.load(spark, root) match {
      case Some(spec) if !spec.isEmpty =>
        if (spec.primaryKey.nonEmpty)
          require(keys.toSet == spec.primaryKey.toSet,
            s"merge: keys (${keys.mkString(", ")}) must be the declared " +
              s"PRIMARY KEY (${spec.primaryKey.mkString(", ")})")
        Constraints.enforceUpsert(spark, root, source, spec)
      case _ => source
    }
    val cols = snap.schema.fieldNames.toSeq
    // a duplicate group fails below, so which of its rows `first` keeps
    // never matters
    val grouped = admitted.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_graft_n"),
        cols.filterNot(keys.contains).map(c => first(col(c)).as(c)): _*)
      .localCheckpoint()
    val Seq(nKeys, dupKeys, nullKeys) = countWhere(grouped, Seq(lit(true),
      col("_graft_n") > 1, keys.map(col(_).isNull).reduce(_ || _)))
    require(dupKeys == 0,
      s"merge: source has $dupKeys duplicate key group(s) on (${keys.mkString(", ")}) " +
        "— the merge result would be order-dependent; dedup the source first")
    // loud on NULL key values (same contract as changes()/deleteKeys):
    // every merge join is null-rejecting, so a null-key row would never
    // match and re-INSERT on every replay — silent duplicate growth
    require(nullKeys == 0,
      s"merge: $nullKeys key group(s) with NULL in " +
        s"(${keys.mkString(", ")}) — null keys never match; filter or fix them first")
    val rows = grouped.select(cols.map(col): _*)
    // an empty source (all of it quarantined, say) commits nothing
    val (committed, replaced, nReplaced) = replaceKeys(spark, root, snap, grouped, nKeys,
      keys, "merge", Some(_ => rows), readMatched = preImage, newRows = nKeys)
    Merged(committed, nKeys, replaced.map(ChangeSet(committed, rows, _,
      Some(nKeys + nReplaced))))
  }

  /** A keyed replace whose new rows derive from the rows they replace
    * — how a materialized view absorbs a change bag: every current row
    * whose `keys` tuple appears in `keySource` (at most `maxRows` rows,
    * duplicates allowed) is replaced by `replacement(matched)`, in ONE
    * commit. `matched` is those rows, materialized by the probe that
    * finds the affected files, so the replacement (the affected groups
    * merged with the bag) reads no other copy of the table; a group the
    * replacement omits is gone. `maxRows` — a bound the caller already
    * has — gates the key frame's broadcast, and 0 commits nothing with
    * no Spark job. A NULL key fails the probe in-plan: join keys never
    * match NULL, so its group would silently never merge. */
  private[graft] def replaceMatched(spark: SparkSession, root: String, keySource: DataFrame,
                                    keys: Seq[String], maxRows: Long)
                                   (replacement: DataFrame => DataFrame): Snapshot = {
    val snap = latest(spark, root)
    val kf = keySource.select(keys.map(k => when(col(k).isNull, raise_error(lit(
      s"keyed replace of $root: NULL in key column '$k' — null keys never match")))
      .otherwise(col(k)).as(k)): _*)
    replaceKeys(spark, root, snap, kf, maxRows, keys, "merge", Some(replacement),
      readMatched = true, newRows = maxRows)._1
  }

  /** RESTORE: commit a NEW version whose file list and schema are
    * those of `toVersion` — the write-side complement of time travel
    * (read-asOf finds the rollback point, restore makes it current)
    * at metadata cost only: no data file is copied or rewritten at
    * ANY table size. History is preserved — the restore is itself a
    * version, so rolling forward is just restoring a later version.
    * Fails loudly if any of the target's files was vacuumed away
    * (the probe is |files| existence checks — metadata-scale).
    */
  def restore(spark: SparkSession, root: String, toVersion: Int): Snapshot = {
    val head = latest(spark, root)
    val target = resolve(spark, root, Some(toVersion))
    val f = fs(spark, root)
    val missing = target.files.filterNot(rel => f.exists(new Path(root, rel)))
    require(missing.isEmpty,
      s"cannot restore v$toVersion: ${missing.size} data file(s) vacuumed away " +
        s"(first: ${missing.headOption.getOrElse("")}) — the version is outside the retention window")
    commit(spark, root, Snapshot(head.version + 1, s"restore(v$toVersion)",
      target.schemaDdl, target.files, physical = target.physical))
  }

  /** ALTER TABLE ADD COLUMN: schema evolution as a metadata-only
    * commit — existing data files are carried by reference and the
    * reader's declared schema fills the new column with nulls (the
    * parquet reader resolves requested-but-absent columns to null),
    * so the operation costs one manifest write at ANY table size.
    * Narrowing/retyping existing columns is deliberately not offered:
    * it would require rewriting every file or a cast-on-read layer.
    */
  def addColumn(spark: SparkSession, root: String, name: String,
                dataType: DataType): Snapshot = {
    val snap = latest(spark, root)
    require(!snap.schema.fieldNames.contains(name),
      s"column '$name' already exists (${snap.schema.toDDL})")
    // a name that ever appeared as a PHYSICAL column in any snapshot is
    // burned: old data files may carry bytes under it, and a re-added
    // column mapping to the same physical name would resurrect dropped
    // data. Mint a version-suffixed fresh physical name instead.
    val burned = history(spark, root).flatMap(s =>
      s.schema.fieldNames.map(s.physicalName)).toSet
    val phys = if (burned.contains(name)) s"${name}__v${snap.version + 1}" else name
    val widened = StructType(snap.schema.fields :+
      org.apache.spark.sql.types.StructField(name, dataType))
    commit(spark, root, Snapshot(snap.version + 1, "add_column",
      widened.toDDL, snap.files,
      physical = if (phys == name) snap.physical else snap.physical + (name -> phys)))
  }

  /** The legal type WIDENINGS: every old value is exactly
    * representable in the new type AND Spark's parquet readers upcast
    * the old physical encoding transparently (INT32/INT64 integer
    * promotion, FLOAT→DOUBLE — verified against both the vectorized
    * and row-based readers). Everything else would need a file
    * rewrite and is refused. */
  private val widenings: Map[DataType, Set[DataType]] = {
    import org.apache.spark.sql.types._
    Map(
      ByteType -> Set[DataType](ShortType, IntegerType, LongType),
      ShortType -> Set[DataType](IntegerType, LongType),
      IntegerType -> Set[DataType](LongType),
      FloatType -> Set[DataType](DoubleType))
  }

  /** Does `from` legally widen to `to`? (The [[widenings]] table as a
    * predicate — ChangeFeed's mirror uses it to tell a downstream-
    * already-wider column, a no-op, from a genuinely incompatible
    * pair.) */
  private[graft] def isWidening(from: DataType, to: DataType): Boolean =
    widenings.get(from).exists(_.contains(to))

  /** ALTER TABLE ALTER COLUMN c TYPE t: type WIDENING as a
    * metadata-only commit. The manifest records the widened logical
    * type; data files keep their physical encodings and readers
    * upcast through the declared schema (parquet integer/float
    * promotion — the reason only [[widenings]] qualify), so the
    * operation costs one manifest write at ANY table size. New files
    * written after the commit carry the widened type natively; the
    * two generations coexist in one table transparently.
    *
    * Stats interplay: ANALYZE statistics are invalidated (the ndv
    * sketch hashes values through their string forms, which change
    * across a float widening). The FileStats sidecar is kept BUT its
    * entries for a FLOAT→DOUBLE column are re-rendered as the exact
    * decimal expansion of the float value: the shortest-float string
    * "0.1" means 0.100000001490116… once rows are read as doubles,
    * and comparing the short form against double literals could
    * wrongly prune a boundary file. Integral widenings need no fix
    * (decimal strings are exact).
    */
  def alterColumnType(spark: SparkSession, root: String, name: String,
                      newType: DataType): Snapshot = {
    val snap = latest(spark, root)
    require(snap.schema.fieldNames.contains(name),
      s"alter type: no such column '$name' (${snap.schema.toDDL})")
    val oldType = snap.schema(name).dataType
    require(oldType != newType,
      s"alter type: column '$name' already is ${newType.simpleString}")
    require(widenings.get(oldType).exists(_.contains(newType)),
      s"alter type: ${oldType.simpleString} -> ${newType.simpleString} is not a " +
        "widening (allowed: byte/short/int -> wider integers, float -> double); " +
        "narrowing or re-typing would need a full rewrite — create a new table")
    val widened = StructType(snap.schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = newType) else f))
    val committed = commit(spark, root,
      Snapshot(snap.version + 1,
        s"alter_column_type($name:${oldType.simpleString}->${newType.simpleString})",
        widened.toDDL, snap.files, physical = snap.physical))
    if (oldType == org.apache.spark.sql.types.FloatType) {
      FileStats.refloatSidecar(spark, root, committed.version,
        snap.physicalName(name))
      // already-registered in-memory entries still carry the
      // shortest-float strings — drop them so reads re-register from
      // the re-rendered sidecar (same reasoning as the bloom backfill)
      FileSkip.invalidate(spark, root)
    }
    committed
  }

  /** ALTER TABLE RENAME COLUMN: a metadata-only commit remapping the
    * logical name onto the column's unchanged physical name — no data
    * file is touched at any table size. The new name must be free;
    * columns referenced by declared write-time constraints refuse
    * (the stored rule text would silently stop matching rows).
    */
  def renameColumn(spark: SparkSession, root: String, from: String,
                   to: String): Snapshot = {
    val snap = latest(spark, root)
    require(snap.schema.fieldNames.contains(from),
      s"rename: no such column '$from' (${snap.schema.toDDL})")
    require(!snap.schema.fieldNames.contains(to),
      s"rename: column '$to' already exists (${snap.schema.toDDL})")
    requireUnconstrained(spark, root, from, "rename")
    val renamed = StructType(snap.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val phys = snap.physicalName(from)
    val mapped = (snap.physical - from) ++
      (if (phys == to) Map.empty[String, String] else Map(to -> phys))
    commit(spark, root, Snapshot(snap.version + 1, s"rename_column($from->$to)",
      renamed.toDDL, snap.files, physical = mapped))
  }

  /** ALTER TABLE DROP COLUMN: a metadata-only commit removing the
    * logical column — readers stop projecting it; the bytes stay in
    * existing files (VACUUM-compaction eventually rewrites them out)
    * and can never resurrect (see [[addColumn]]'s burned-name rule).
    * Constraint-referenced columns refuse, and the last column cannot
    * be dropped.
    */
  def dropColumn(spark: SparkSession, root: String, name: String): Snapshot = {
    val snap = latest(spark, root)
    require(snap.schema.fieldNames.contains(name),
      s"drop: no such column '$name' (${snap.schema.toDDL})")
    require(snap.schema.fields.length > 1,
      s"drop: '$name' is the table's only column")
    requireUnconstrained(spark, root, name, "drop")
    val narrowed = StructType(snap.schema.fields.filterNot(_.name == name))
    commit(spark, root, Snapshot(snap.version + 1, s"drop_column($name)",
      narrowed.toDDL, snap.files, physical = snap.physical - name))
  }

  /** Refuse schema evolution on a column any declared constraint
    * references — the persisted rule text (PK list, NOT NULL list,
    * CHECK SQL) is by-name and would silently stop matching. DROP
    * CONSTRAINTS first, evolve, re-declare. */
  private def requireUnconstrained(spark: SparkSession, root: String,
                                   name: String, op: String): Unit =
    Constraints.load(spark, root).foreach { spec =>
      val inCheck = spec.checks.filter { ck =>
        try spark.sessionState.sqlParser.parseExpression(ck.sql).collect {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            ua.name
        }.exists(_.equalsIgnoreCase(name))
        catch { case scala.util.control.NonFatal(_) => true } // unparseable: be safe
      }.map(_.name)
      val refs =
        (if (spec.primaryKey.exists(_.equalsIgnoreCase(name))) Seq("PRIMARY KEY") else Nil) ++
          (if (spec.notNull.exists(_.equalsIgnoreCase(name))) Seq("NOT NULL") else Nil) ++
          inCheck.map(n => s"CHECK $n")
      require(refs.isEmpty,
        s"$op column '$name': referenced by declared constraint(s) " +
          s"${refs.mkString(", ")} — ALTER TABLE ... DROP CONSTRAINTS first")
    }

  /** OPTIMIZE: rewrite the current snapshot into `numFiles` files,
    * range-clustered and sorted on `clusterCols` when given (the
    * [[Tables.compact]] layout, committed as a snapshot) — the
    * maintenance pass that collapses mutation-fragmented small files
    * so footer min/max stats prune again. Old files become
    * unreferenced and fall to [[vacuum]].
    *
    * `zorderCols` (mutually exclusive with `clusterCols`, >= 2 numeric/
    * date/timestamp columns) instead lays the files out along the
    * Morton-interleaved rank key ([[Tables.zkey]]): every z-ordered
    * column's per-file min/max narrows AT ONCE, so the [[FileStats]]
    * sidecar written by this commit makes [[readRange]] selective on
    * ANY of them — 1-D clustering narrows only its leading column.
    */
  def compactTable(spark: SparkSession, root: String, numFiles: Int,
                   clusterCols: Seq[String] = Nil,
                   zorderCols: Seq[String] = Nil): Snapshot = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    require(clusterCols.isEmpty || zorderCols.isEmpty,
      "optimize: BY and ZORDER BY are mutually exclusive — pick one layout")
    require(zorderCols.isEmpty || zorderCols.size >= 2,
      s"optimize: ZORDER BY needs >= 2 columns (use BY for 1), got $zorderCols")
    val snap = latest(spark, root)
    val df = read(spark, root)
    val missing = (clusterCols ++ zorderCols).filterNot(snap.schema.fieldNames.contains)
    require(missing.isEmpty, s"optimize: no such column(s) ${missing.mkString(", ")}")
    val arranged =
      if (zorderCols.nonEmpty)
        Tables.zkey(df, zorderCols, bits = 16)
          .repartitionByRange(numFiles, col("_zkey"))
          .sortWithinPartitions(col("_zkey"))
          .drop(("_zkey" +: zorderCols.indices.map(i => s"_zr$i")): _*)
          .select(snap.schema.fieldNames.map(col): _*)
      else if (clusterCols.nonEmpty)
        df.repartitionByRange(numFiles, clusterCols.map(col): _*)
          .sortWithinPartitions(clusterCols.map(col): _*)
      else df.repartition(numFiles)
    val rewritten = writeData(arranged, root, snap.physical)
    commit(spark, root, Snapshot(snap.version + 1, "compact",
      snap.schemaDdl, rewritten, physical = snap.physical))
  }

  /** VACUUM: delete data files no snapshot references, and (optionally)
    * drop manifests older than `retainVersions` so their files become
    * unreferenced next vacuum. Two-phase so time travel within the
    * retention window always works: files referenced by ANY retained
    * manifest are kept.
    */
  def vacuum(spark: SparkSession, root: String, retainVersions: Int = 2): Seq[String] = {
    require(retainVersions >= 1, s"retainVersions must be >= 1, got $retainVersions")
    val f = fs(spark, root)
    val h = history(spark, root)
    require(h.nonEmpty, s"$root is not a managed table")
    val retained = h.takeRight(retainVersions)
    // expire old manifests (and their stats sidecars) first, then
    // sweep unreferenced files
    h.dropRight(retainVersions).foreach { s =>
      f.delete(manifestPath(root, s.version), false)
      f.delete(FileStats.statsPath(root, s.version), false)
      f.delete(FileBloom.bloomPath(root, s.version), false)
    }
    val live = retained.flatMap(_.files).toSet
    val dataDir = new Path(root, "data")
    if (!f.exists(dataDir)) return Nil
    val removed = Seq.newBuilder[String]
    f.listStatus(dataDir).filter(_.isDirectory).foreach { d =>
      f.listStatus(d.getPath).foreach { file =>
        val rel = s"data/${d.getPath.getName}/${file.getPath.getName}"
        if (!live.contains(rel)) { f.delete(file.getPath, false); removed += rel }
      }
      if (f.listStatus(d.getPath).isEmpty) f.delete(d.getPath, false)
    }
    removed.result().sorted
  }
}
