package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Json

/** Write-time constraint enforcement for [[ManagedTable]]s — the
  * complement of q140's after-the-fact audit: the same PK-uniqueness /
  * NOT NULL / domain-rule arithmetic, moved to the write path so a
  * violating row is refused (or quarantined) BEFORE it becomes part of
  * a snapshot, instead of discovered by a later audit.
  *
  * Declared at CREATE (`PRIMARY KEY (...)`, `NOT NULL (...)`,
  * `CHECK (expr)` clauses in the column list, `ON VIOLATION
  * REJECT|QUARANTINE` after LOCATION), persisted once as
  * `_graft_log/constraints.json`, and enforced by every row-creating
  * mutation:
  *   - INSERT: NOT NULL + CHECK per row; PRIMARY KEY both within the
  *     batch (a duplicated key group is wholly violating — no
  *     arbitrary winner) and against the table (key already present);
  *   - UPSERT/ingest: NOT NULL + CHECK per row (key collisions are the
  *     POINT of a merge; in-batch duplicates are already refused by
  *     the merge itself), and the merge keys must BE the primary key;
  *   - UPDATE: NOT NULL + CHECK on the rewritten rows via an in-plan
  *     guard (reject-only — an update has no "incoming row" to divert).
  *
  * REJECT fails the whole statement loudly with per-rule violation
  * counts; QUARANTINE diverts violating rows (plus a `_violation`
  * rule list) into a managed side table at `<root>/_quarantine` and
  * commits only the clean rows — the load-don't-stop mode a bulk
  * pipeline wants.
  *
  * Scale shape: NOT NULL/CHECK are per-row expressions in one pass
  * over the BATCH (delta-sized); the in-batch dup check is one
  * hash-partitioned window over the batch's keys; the key-collision
  * probe is one join against the table's distinct key projection —
  * the inherent cost of a PK check without an index, and the same
  * probe shape the upsert already pays. Nothing here scans table
  * content, only keys.
  */
object Constraints {

  final case class Check(name: String, sql: String)

  /** `onViolation` ∈ reject | quarantine. */
  final case class Spec(primaryKey: Seq[String], notNull: Seq[String],
                        checks: Seq[Check], onViolation: String) {
    require(onViolation == "reject" || onViolation == "quarantine",
      s"onViolation must be reject|quarantine, got '$onViolation'")
    def isEmpty: Boolean = primaryKey.isEmpty && notNull.isEmpty && checks.isEmpty
  }

  /** Quarantined rows live in their OWN managed table under the host's
    * root: invisible to host reads (manifests list files explicitly)
    * but versioned/time-travelable like any table. */
  def quarantineRoot(root: String): String = s"$root/_quarantine"

  private def specPath(root: String) =
    new Path(root, "_graft_log/constraints.json")

  // -- persistence: JSON written by `render`, read through util.Json --

  private def jarr(xs: Seq[String]): String =
    xs.map(graft.util.Json.escape).mkString("[", ",", "]")

  private[graft] def render(s: Spec): String =
    s"""{"primary_key":${jarr(s.primaryKey)},"not_null":${jarr(s.notNull)},""" +
      s""""checks":${s.checks.map(c =>
        s"""{"name":${graft.util.Json.escape(c.name)},"sql":${graft.util.Json.escape(c.sql)}}""")
        .mkString("[", ",", "]")},"on_violation":${graft.util.Json.escape(s.onViolation)}}"""

  private[graft] def parse(text: String): Spec = {
    val doc = Json.parseObj(text, "constraints sidecar")
    def strs(k: String): Seq[String] =
      doc.get(k).map(Json.strs(_, k)).getOrElse(Vector.empty)
    val checks = doc.get("checks").map(Json.arr(_, "checks")).getOrElse(Vector.empty)
      .map { c =>
        val m = Json.obj(c, "check")
        Check(Json.str(Json.field(m, "name"), "name"),
          Json.str(Json.field(m, "sql"), "sql"))
      }
    Spec(strs("primary_key"), strs("not_null"), checks,
      doc.get("on_violation").map(Json.str(_, "on_violation")).getOrElse("reject"))
  }

  /** Resolve every referenced column and CHECK expression against
    * `schema` — called before the CREATE commits, so a typo'd
    * constraint fails the CREATE, not the first INSERT a week later
    * (and never leaves a half-made table behind). */
  def validate(spark: SparkSession, spec: Spec,
               schema: org.apache.spark.sql.types.StructType): Unit = {
    val cols = schema.fieldNames.toSet
    val missing = (spec.primaryKey ++ spec.notNull).filterNot(cols.contains)
    require(missing.isEmpty,
      s"constraints reference unknown column(s): ${missing.mkString(", ")}")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    spec.checks.foreach { ck =>
      try empty.select(expr(ck.sql)).queryExecution.analyzed
      catch { case e: Exception => throw new IllegalArgumentException(
        s"CHECK ${ck.name} (${ck.sql}) does not resolve against the schema: " +
          e.getMessage.linesIterator.next(), e) }
    }
  }

  /** Persist at CREATE time (validates first — see [[validate]]). */
  def save(spark: SparkSession, root: String, spec: Spec,
           schema: org.apache.spark.sql.types.StructType): Unit = {
    validate(spark, spec, schema)
    val p = specPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, /*overwrite=*/ true)
    try out.write(render(spec).getBytes("UTF-8")) finally out.close()
  }

  /** The table's constraint spec, if one was declared. One small file
    * read — the same metadata-scale cost as the manifest read every
    * mutation already pays. */
  def load(spark: SparkSession, root: String): Option[Spec] = {
    val p = specPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(Json.readFile(fs, p)(parse))
  }

  /** Remove every declared constraint (the sidecar). Quarantined rows
    * already diverted are kept — they are data, not rules. */
  def drop(spark: SparkSession, root: String): Unit = {
    val p = specPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false): Unit
  }

  /** Audit the CURRENT table content against `spec` — the gate an
    * ALTER TABLE ADD CONSTRAINT passes before the rule persists: a
    * rule that existing rows already violate would make the table
    * unwritable-by-surprise on its next legitimate mutation, so the
    * ALTER is refused loudly (with per-rule counts) instead. ONE scan
    * of the table (plus the PK distinct-group probe when a key is
    * declared); no quarantine path — the rows were legal when written,
    * the proposed RULE is what gets rejected. */
  def requireTableClean(spark: SparkSession, root: String, spec: Spec): Unit = {
    val t = ManagedTable.read(spark, root)
    val counts = t.withColumn("_violation", rowRuleViolations(spec))
      .filter(col("_violation") =!= "")
      .groupBy("_violation").count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
    if (counts.nonEmpty)
      throw new ConstraintViolation(
        s"ALTER TABLE refused: existing rows in $root violate the proposed " +
          s"constraint(s): ${counts.mkString("; ")}")
    if (spec.primaryKey.nonEmpty) {
      val dups = t.groupBy(spec.primaryKey.map(col): _*)
        .count().filter(col("count") > 1).count()
      if (dups > 0) throw new ConstraintViolation(
        s"ALTER TABLE refused: $dups duplicate PRIMARY KEY group(s) " +
          s"already present in $root")
    }
  }

  // -- enforcement ----------------------------------------------------

  /** Comma-joined names of every row-local rule (NOT NULL + CHECK) the
    * row violates; empty string = clean. concat_ws skips the NULL arms
    * of the `when`s, so the list is exactly the violated rules. CHECK
    * follows the SQL standard: a row fails only when the predicate is
    * explicitly FALSE (UNKNOWN/null passes). */
  private def rowRuleViolations(spec: Spec): Column = {
    val flags =
      spec.notNull.map(c => when(col(c).isNull, lit(s"not_null:$c"))) ++
        spec.checks.map(ck =>
          when(expr(ck.sql) <=> lit(false), lit(s"check:${ck.name}")))
    if (flags.isEmpty) lit("") else concat_ws(",", flags: _*)
  }

  /** Split an INSERT batch into (clean, violating-with-`_violation`).
    * `table` is the current table content (key projection only is
    * read). The batch should be localCheckpointed by the caller — it
    * is traversed more than once. */
  private def splitInsert(batch: DataFrame, table: DataFrame,
                          spec: Spec): (DataFrame, DataFrame) = {
    val pk = spec.primaryKey
    var b = batch.withColumn("_v_rules", rowRuleViolations(spec))
    if (pk.nonEmpty) {
      // a NULL key value violates the PK outright (SQL: PRIMARY KEY
      // implies NOT NULL) — without this flag a single null-key row
      // would slip through BOTH probes below: the window groups nulls
      // together so only PAIRS trip pk_duplicate, and the left join is
      // null-rejecting so pk_exists never fires on a null
      b = b.withColumn("_v_pknull",
        when(pk.map(col(_).isNull).reduce(_ || _), lit("pk_null")))
      // in-batch duplicate groups: every member violates (no winner)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(pk.map(col): _*)
      b = b.withColumn("_v_dup",
        when(count(lit(1)).over(w) > 1, lit("pk_duplicate")))
      // key already present: one join against the table's distinct
      // keys (the indicator column makes clean/violating one pass,
      // not a semi+anti pair scanning the key set twice)
      val existing = table.select(pk.map(col): _*).distinct()
        .withColumn("_v_hit", lit(true))
      b = b.join(existing, pk, "left")
        .withColumn("_v_pk",
          when(col("_v_hit") === true, lit("pk_exists")))
        .drop("_v_hit")
    } else b = b.withColumn("_v_pknull", lit(null))
      .withColumn("_v_dup", lit(null)).withColumn("_v_pk", lit(null))
    // re-select in the BATCH's column order: the using-columns join
    // above moved the key columns to the front, and the clean frame
    // must land in the table's declared order
    val all = b.withColumn("_violation",
      concat_ws(",", when(col("_v_rules") =!= "", col("_v_rules")),
        col("_v_pknull"), col("_v_dup"), col("_v_pk")))
      .select(batch.columns.map(col) :+ col("_violation"): _*)
    (all.filter(col("_violation") === "").drop("_violation"),
      all.filter(col("_violation") =!= ""))
  }

  /** Split an UPSERT source: row-local rules only (key collisions are
    * merge semantics, in-batch dups are the merge's own loud check). */
  private def splitUpsert(batch: DataFrame, spec: Spec): (DataFrame, DataFrame) = {
    val all = batch.withColumn("_violation", rowRuleViolations(spec))
    (all.filter(col("_violation") === "").drop("_violation"),
      all.filter(col("_violation") =!= ""))
  }

  private def reject(bad: DataFrame, op: String, root: String): Unit = {
    val counts = bad.groupBy("_violation").count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
    if (counts.nonEmpty)
      throw new ConstraintViolation(
        s"$op into $root refused: ${counts.mkString("; ")} " +
          "(declare ON VIOLATION QUARANTINE to divert instead)")
  }

  private def quarantine(spark: SparkSession, root: String,
                         bad: DataFrame): Long = {
    val n = bad.count()
    if (n > 0) {
      val qr = quarantineRoot(root)
      val fs = new Path(qr).getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new Path(qr, "_graft_log")))
        ManagedTable.create(spark, qr, bad.schema): Unit
      else {
        // the host may have evolved (addColumn) since the quarantine
        // table was created — without the same evolution here, the
        // wider batch would fail insert's exact-schema check and turn
        // a QUARANTINE divert into a crashed statement
        val qSchema = ManagedTable.latest(spark, qr).schema
        bad.schema.fields.filterNot(f => qSchema.fieldNames.contains(f.name))
          .foreach(f => ManagedTable.addColumn(spark, qr, f.name, f.dataType): Unit)
      }
      // land in the quarantine table's own column order: its evolution
      // appends new columns AFTER _violation, the batch carries them
      // before. A quarantine column the batch no longer carries (the
      // host RENAMED or DROPPED it since) null-fills — the audit table
      // keeps its history under the old name rather than crashing the
      // divert.
      val qSchema2 = ManagedTable.latest(spark, qr).schema
      ManagedTable.insert(spark, qr, bad.select(qSchema2.fields.map { f =>
        if (bad.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)): Unit
    }
    n
  }

  /** The INSERT choke point: returns the rows allowed to land (and
    * diverts or refuses the rest per the spec). `table` = current
    * content for the PK probe. */
  private[graft] def enforceInsert(spark: SparkSession, root: String,
                                   batch: DataFrame, table: DataFrame,
                                   spec: Spec): DataFrame = {
    val b = batch.localCheckpoint()
    val (clean, bad) = splitInsert(b, table, spec)
    if (spec.onViolation == "reject") { reject(bad, "INSERT", root); b }
    else { quarantine(spark, root, bad); clean.localCheckpoint() }
  }

  /** The UPSERT/ingest choke point (row-local rules; the caller also
    * holds the merge-key = primary-key contract). */
  private[graft] def enforceUpsert(spark: SparkSession, root: String,
                                   batch: DataFrame, spec: Spec): DataFrame = {
    val b = batch.localCheckpoint()
    val (clean, bad) = splitUpsert(b, spec)
    if (spec.onViolation == "reject") { reject(bad, "UPSERT", root); b }
    else { quarantine(spark, root, bad); clean.localCheckpoint() }
  }

  /** In-plan reject guard for UPDATE rewrites: wraps each rewritten
    * column so that materializing a violating row raises instead of
    * committing it. Reject-only by design — an UPDATE has no incoming
    * row to quarantine; the write simply must not happen. */
  private[graft] def updateGuard(spec: Spec)(df: DataFrame): DataFrame = {
    val v = rowRuleViolations(spec)
    // the guard must live inside a SURVIVING column — a dropped helper
    // column would be pruned by Catalyst and never evaluate. Wrapping
    // the first column keeps types (when/otherwise coerces raise_error's
    // NullType to the column's own type) and costs nothing per clean row.
    val first = df.columns.head
    df.withColumn(first,
      when(v =!= "", raise_error(concat(
        lit("UPDATE refused: row violates "), v,
        lit(" (write-time constraints)"))))
        .otherwise(col(first)))
  }
}

/** Loud, catchable: the server maps it to HTTP 400, not a 500. */
class ConstraintViolation(msg: String) extends IllegalArgumentException(msg)
