package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Multi-statement transactions over managed tables: several mutations
  * — across SEVERAL tables — publish atomically, so readers see all of
  * them or none of them. The missing piece between per-statement
  * optimistic commits (each ManagedTable mutation is already atomic on
  * its own) and a multi-table load that must not be observed half-done.
  *
  * Protocol (two-phase, one atomic decision point):
  *   1. STAGE — inside [[transaction]], every mutation commits its
  *      manifest as usual (exclusive create = per-table conflict
  *      detection now, not at publish) but TAGGED with the
  *      transaction's marker path. Tagged manifests are invisible to
  *      every reader except this transaction (read-your-own-writes),
  *      so a half-staged transaction changes nothing observable.
  *   2. PUBLISH — one exclusive create of the marker file. That single
  *      filesystem operation is the all-or-nothing decision: the
  *      instant it exists, every staged manifest becomes visible to
  *      every reader; until it exists, none are. A crash between stage
  *      and publish leaves all tables at their old versions.
  *   3. ABORT — on any failure inside the body, staged manifests are
  *      deleted and the exception rethrown; data files written by the
  *      staged mutations become unreferenced (vacuum's usual sweep).
  *
  * Concurrency: staging reserves the version slot via the same
  * exclusive manifest create every commit uses, so two transactions
  * (or a transaction and a plain writer) touching the same table
  * conflict EARLY — the loser aborts cleanly, leaving every table it
  * touched at the old version. A crashed transaction's staged manifest
  * keeps its slot reserved (writers see a loud CommitConflict naming
  * the transaction); [[rollbackStale]] is the explicit operator action
  * that clears it after verifying the marker was never published.
  *
  * Scope: the transaction is thread-local to the driver thread running
  * the body — the embedded single-writer shape. It spans any number of
  * tables on any filesystems; the marker lives under the ANCHOR
  * table's log (pass the root whose filesystem you trust most).
  *
  * Scale: staging adds ZERO data work — the same files are written
  * either way; the only additions are one marker create at publish and
  * one `exists` probe per pending manifest a reader opens (cached per
  * snapshot lookup, and only for manifests still tagged).
  */
object Txn {

  final class Context private[Txn] (val id: String, val markerPath: String) {
    private[Txn] val staged =
      scala.collection.mutable.ArrayBuffer.empty[(String, Int)] // (root, version)
    private[sources] def stage(root: String, version: Int): Unit =
      synchronized { staged += ((root, version)): Unit }
  }

  private val active = new ThreadLocal[Context]

  /** The transaction the current thread is inside, if any. */
  private[sources] def current: Option[Context] = Option(active.get())

  /** (root, version) of every mutation the current thread's live
    * transaction has staged so far — empty outside a transaction. The
    * SQL surface reads this at the end of a BEGIN…COMMIT batch to
    * report which tables the transaction touched. */
  private[graft] def currentStaged: Seq[(String, Int)] =
    current.map(_.staged.toList).getOrElse(Nil)

  private def markerFor(anchorRoot: String, id: String): String =
    new Path(anchorRoot, s"_graft_log/_txn/$id.committed").toString

  /** Whether a marker path has been published (i.e. the transaction
    * that tagged a manifest committed). */
  private[sources] def isCommitted(spark: SparkSession, markerPath: String): Boolean = {
    val p = new Path(markerPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Run `body` as one transaction anchored at `anchorRoot` (any
    * managed-table root; its `_graft_log/_txn/` holds the marker).
    * Every ManagedTable mutation the body performs on THIS thread is
    * staged; they publish together when the body returns, or none
    * publish if it throws. Nested transactions are refused (no
    * savepoint semantics to fake). */
  def transaction[T](spark: SparkSession, anchorRoot: String)(body: => T): T = {
    require(active.get() == null, "already inside a transaction on this thread")
    val id = java.util.UUID.randomUUID().toString
    val ctx = new Context(id, markerFor(anchorRoot, id))
    active.set(ctx)
    try {
      val result = body
      publish(spark, ctx)
      result
    } catch {
      case e: Throwable => abort(spark, ctx); throw e
    } finally active.remove()
  }

  /** The atomic decision point: one exclusive create. Everything
    * staged becomes visible the instant this succeeds. */
  private def publish(spark: SparkSession, ctx: Context): Unit = {
    val p = new Path(ctx.markerPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val payload = ctx.staged.map { case (r, v) =>
      s"""{"root":${graft.util.Json.escape(r)},"version":$v}"""
    }.mkString("[", ",", "]")
    if (Option(p.toUri.getScheme).forall(_ == "file")) {
      fs.mkdirs(p.getParent): Unit
      java.nio.file.Files.write(java.nio.file.Paths.get(p.toUri.getPath),
        payload.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW): Unit
    } else {
      val out = fs.create(p, /*overwrite=*/ false)
      try out.write(payload.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Delete every staged manifest (the version slots reopen; data
    * files become unreferenced — vacuum's sweep). */
  private def abort(spark: SparkSession, ctx: Context): Unit =
    ctx.staged.foreach { case (root, v) =>
      val mp = new Path(root, f"_graft_log/v$v%08d.json")
      val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try fs.delete(mp, false): Unit
      catch { case scala.util.control.NonFatal(_) => }
    }

  /** Operator action after a crash: remove pending manifests at `root`
    * whose transaction marker was never published — they hold their
    * version slots forever otherwise (every writer of that version
    * conflicts loudly). Returns the versions cleared. NEVER touches a
    * manifest whose marker exists (that transaction committed) or one
    * belonging to this thread's live transaction. */
  def rollbackStale(spark: SparkSession, root: String): Seq[Int] = {
    val live = current.map(_.markerPath)
    ManagedTable.pendingManifests(spark, root).flatMap { case (v, marker) =>
      if (live.contains(marker) || isCommitted(spark, marker)) None
      else {
        val mp = new Path(root, f"_graft_log/v$v%08d.json")
        mp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(mp, false)
        Some(v)
      }
    }
  }
}
