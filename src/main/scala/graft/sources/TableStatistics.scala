package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap
import graft.util.Json

/** Optimizer-grade table statistics for [[ManagedTable]]s — the
  * ANALYZE side of the q112/q143/q147/q149 arc. Those queries REPORT
  * row counts, ndv, equi-depth histograms, and estimate-vs-truth join
  * cardinalities; this module is where the engine stops reporting and
  * starts CONSUMING them: `ANALYZE TABLE t` (SqlRouter) collects the
  * statistics below, and [[graft.plans.StatsJoinPlanner]] reads them
  * to pick join orders and broadcast build sides for every SELECT.
  *
  * What is collected, and why exactly this set:
  *   - row count + total data bytes → relation size and avg row width
  *     (the broadcast-threshold input);
  *   - per-column ndv (HyperLogLog `approx_count_distinct`, the only
  *     sketch that stays one pass at 100 TB) → equi-join denominator
  *     (`|A ⋈ B| ≈ |A|·|B| / max(ndv)` — the q143 uniform estimate
  *     q149 validated) and equality-predicate selectivity;
  *   - per-numeric-column min/max and an 8-bucket equi-depth histogram
  *     (`approxQuantile`, distributed Greenwald–Khanna — the same
  *     shape q147 computes exactly) → range-predicate selectivity by
  *     linear interpolation inside the hit bucket.
  *
  * Durability: stats persist as `_graft_log/v%08d.tablestats.json`
  * keyed to the analyzed snapshot version, and reload on OPEN only
  * when that version is still current — a planner acting on stale
  * statistics is worse than one with none, so row mutations
  * invalidate the in-memory entry (SqlRouter's mutableRoot choke
  * point) and a version-mismatched sidecar is ignored.
  *
  * Scale shape of ANALYZE itself: one full-scan aggregate (count +
  * HLL sketches + min/max, all map-side partial) plus one
  * Greenwald–Khenna pass for the histograms — two scans, no shuffle
  * beyond the 1-row agg collect, no driver-side row data.
  */
object TableStatistics {

  /** Equi-depth histogram = the 9 bucket boundaries (8 buckets).
    * `sketch` is the column's HLL sketch (base64 of the DataSketches
    * binary, "" = none/legacy sidecar) — the mergeable ndv state that
    * makes [[incrementalAnalyze]] possible: sketches union exactly
    * (register-wise max), so appending files never forces a rescan of
    * the base data. Kept as a String so TableStats stays a value type
    * (Array[Byte] equality is by reference). */
  final case class ColStats(ndv: Long, min: Option[Double],
                            max: Option[Double], hist: Seq[Double],
                            sketch: String = "",
                            histMerged: Boolean = false,
                            nullCount: Long = -1) {
    /** Fraction of NULL rows, or 0 when never collected (legacy
      * sidecars) — a planner consuming 0 simply keeps the estimate it
      * had before null statistics existed. */
    def nullFrac(tableRows: Long): Double =
      if (nullCount < 0 || tableRows <= 0) 0.0
      else math.min(1.0, nullCount.toDouble / tableRows.toDouble)
  }

  final case class TableStats(version: Int, rows: Long, bytes: Long,
                              cols: Map[String, ColStats],
                              histMerges: Int = 0,
                              mergedRows: Long = 0) {
    def avgRowBytes: Double = if (rows <= 0) 64.0 else bytes.toDouble / rows
  }

  /** Histogram DRIFT BUDGET: each incremental merge is a ≤18-knot
    * piecewise-linear CDF combination and adds approximation error, so
    * `hist_mode=merged` degrades silently over many cycles. When the
    * NEXT merge would exceed either budget — merge count, or the
    * fraction of the table's rows that arrived through merges since
    * the last exact histogram — ANALYZE INCREMENTAL escalates itself
    * to the full rescan (and says so in its response) instead of
    * waiting for someone to notice. */
  private[graft] val MaxHistMerges = 8
  private[graft] val MaxMergedFrac = 0.5

  // process-wide registry keyed by normalized table root — statistics
  // describe the TABLE, not a session, so sharing across sessions in
  // one JVM is correct (and what a metastore would do)
  private[graft] val registry = TrieMap.empty[String, TableStats]

  // Full qualified URI (scheme + authority + path): two tables at the
  // same path on different filesystems (file:// vs hdfs://nn1/) must
  // not collide in a process-wide registry. Scheme-less inputs stay
  // scheme-less, which is self-consistent as long as callers are.
  private[graft] def norm(p: String): String = {
    val u = new Path(p).toUri
    val scheme = Option(u.getScheme).map(_ + "://").getOrElse("")
    val auth = Option(u.getAuthority).getOrElse("")
    scheme + auth + u.getPath.stripSuffix("/")
  }

  def get(root: String): Option[TableStats] = registry.get(norm(root))

  def invalidate(root: String): Unit = { registry.remove(norm(root)): Unit }

  def isEmpty: Boolean = registry.isEmpty

  /** Stats for the table whose root contains `filePath` (a scan leaf's
    * data file) — how the planner maps a LogicalRelation back to its
    * managed table without a catalog in the loop. Longest matching
    * root wins: if one managed root is nested under another, the file
    * belongs to the inner table.
    *
    * Scan leaves always carry fully-qualified URIs (`file:/...`,
    * `hdfs://nn/...`) while callers register with whatever form they
    * used for ANALYZE — often scheme-less. Both the qualified form
    * and the bare path are therefore tried against the registry, so a
    * scheme-less registration still resolves a qualified scan path
    * (and vice versa) without collapsing genuinely distinct
    * filesystems that registered qualified roots. */
  def lookupByPath(filePath: String): Option[TableStats] = {
    val qualified = norm(filePath)
    val bare = new Path(filePath).toUri.getPath.stripSuffix("/")
    val candidates = if (qualified == bare) Seq(qualified) else Seq(qualified, bare)
    val hits = registry.filter {
      case (r, _) => candidates.exists(p => p == r || p.startsWith(r + "/"))
    }
    if (hits.isEmpty) None else Some(hits.maxBy(_._1.length)._2)
  }

  private def statsPath(root: String, v: Int) =
    new Path(root, f"_graft_log/v$v%08d.tablestats.json")

  /** The one-pass (count, per-column HLL sketch, numeric min/max)
    * aggregate used by both the full and the incremental scan: every
    * term is map-side partial, so the scan shape is a single
    * partial+final HashAggregate regardless of table size. ndv comes
    * from the sketch's own estimate (NOT a separate
    * approx_count_distinct) so full and incremental paths can never
    * disagree about what "ndv" means. Values sketch through a string
    * cast — HLL accepts int/long/string/binary only, and a uniform
    * cast keeps base and delta sketches merge-compatible on every
    * column type. */
  private def scanOnce(df: org.apache.spark.sql.DataFrame,
                       numeric: Seq[String]): org.apache.spark.sql.Row = {
    val fields = df.schema.fields.toSeq
    val aggs = count(lit(1)).as("_n") +: fields.flatMap { f =>
      Seq(hll_sketch_agg(col(f.name).cast("string")).as(s"_sk_${f.name}"),
        // count(col) skips NULLs: rows - it = the exact null count —
        // the selectivity input IS NULL / IS NOT NULL planning needs
        count(col(f.name)).as(s"_cnt_${f.name}")) ++
        (if (numeric.contains(f.name))
           Seq(min(col(f.name)).cast("double").as(s"_min_${f.name}"),
             max(col(f.name)).cast("double").as(s"_max_${f.name}"))
         else Nil)
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("*") +: fields.map(f =>
        hll_sketch_estimate(col(s"_sk_${f.name}")).as(s"_ndv_${f.name}")): _*)
      .head()
  }

  /** ANALYZE's min/max/histogram columns: plain numerics only. NOT
    * [[FileStats.isRangeType]] — that registry widened to timestamps/
    * dates (INT64/INT32 footer stats) for file skipping, but this
    * path casts to double for histograms, which TIMESTAMP_NTZ refuses
    * (reusing the widened predicate here crashed ANALYZE on orders). */
  private def isNumeric(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType => true
      case _ => false
    }

  private def b64(bytes: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(bytes)

  /** The shared collection pass: one [[scanOnce]] aggregate plus one
    * approxQuantile (Greenwald–Khanna) pass over `df`, sized by
    * `bytes`. Both callers — the managed-table ANALYZE and the
    * plain-parquet [[analyzeParquet]] — produce stats through here so
    * the two paths can never disagree about what a statistic means. */
  private def collectStats(df: org.apache.spark.sql.DataFrame,
                           bytes: Long, version: Int): TableStats = {
    val fields = df.schema.fields.toSeq
    val numeric = fields.collect {
      case f if isNumeric(f.dataType) => f.name
    }
    val row = scanOnce(df, numeric)
    def opt(name: String): Option[Double] =
      Option(row.getAs[Any](name)).map(_.toString.toDouble)
    val n = row.getAs[Long]("_n")
    val hists: Map[String, Seq[Double]] =
      if (n == 0 || numeric.isEmpty) Map.empty
      else numeric.zip(df.stat.approxQuantile(numeric.toArray,
          (0 to 8).map(_ / 8.0).toArray, 0.001).toSeq)
        .map { case (c, bs) => c -> bs.toSeq }.toMap
    val cols = fields.map { f =>
      f.name -> ColStats(
        ndv = row.getAs[Long](s"_ndv_${f.name}"),
        min = if (numeric.contains(f.name)) opt(s"_min_${f.name}") else None,
        max = if (numeric.contains(f.name)) opt(s"_max_${f.name}") else None,
        hist = hists.getOrElse(f.name, Nil),
        sketch = Option(row.getAs[Array[Byte]](s"_sk_${f.name}"))
          .map(b64).getOrElse(""),
        nullCount = n - row.getAs[Long](s"_cnt_${f.name}"))
    }.toMap
    TableStats(version, n, bytes, cols)
  }

  /** Collect + register + persist statistics for the CURRENT snapshot. */
  def analyze(spark: SparkSession, root: String): TableStats = {
    val snap = ManagedTable.latest(spark, root)
    val df = ManagedTable.read(spark, root)
    val fsys = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = snap.files.map(f => fsys.getFileStatus(new Path(root, f)).getLen).sum
    persist(spark, root, collectStats(df, bytes, snap.version))
  }

  /** Statistics for a PLAIN parquet table (no snapshot log): same
    * collection pass, registered in-memory under `path` but never
    * persisted — a read-only dataset (the graded testdata) has
    * nowhere to put a sidecar, so the caller owns the lifecycle and a
    * new JVM starts without these. The DataFrame comes in separately
    * from the path so loader quirks (the events ns/µs timestamp
    * adapter in `Tables.load`) stay with the loader while the
    * registry key remains the scan root the planner looks up; a
    * derived column whose stats don't match the raw leaf only ever
    * costs estimate precision, never correctness (the planner's
    * estimates are advisory). version = -1: no snapshot to pin to. */
  def analyzeParquet(spark: SparkSession, path: String,
                     df: org.apache.spark.sql.DataFrame): TableStats = {
    val fsys = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fsys.getContentSummary(new Path(path)).getLength
    val ts = collectStats(df, bytes, -1)
    registry.put(norm(path), ts)
    ts
  }

  private def persist(spark: SparkSession, root: String, ts: TableStats): TableStats = {
    registry.put(norm(root), ts)
    val fsys = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fsys.create(statsPath(root, ts.version), /*overwrite=*/ true)
    try out.write(render(ts).getBytes("UTF-8")) finally out.close()
    ts
  }

  /** Two equi-depth histograms (9 bucket boundaries each) merged into
    * one, row-count weighted: each input is a piecewise-uniform
    * distribution, the combined CDF is piecewise LINEAR between the
    * union of their boundaries (both inputs are linear there), and the
    * output re-extracts the 0/8..8/8 quantiles of that combined CDF by
    * exact interpolation. Pure driver-side arithmetic on ≤18 knots —
    * the mergeable-summary trick that keeps histogram maintenance
    * append-sized at any table size. Accuracy is bounded by the
    * inputs' own equi-depth resolution (tolerance-pinned in
    * StatsPlannerSpec against a full rescan); a side with no
    * histogram or no rows passes the other through. */
  private[graft] def mergeHistograms(a: Seq[Double], aRows: Long,
                                     b: Seq[Double], bRows: Long): Seq[Double] = {
    if (a.size < 2 || aRows <= 0) return b
    if (b.size < 2 || bRows <= 0) return a
    def cdf(bounds: Seq[Double])(x: Double): Double =
      if (x <= bounds.head) 0.0
      else if (x >= bounds.last) 1.0
      else {
        val i = math.min(bounds.lastIndexWhere(_ <= x), bounds.size - 2)
        val (lo, hi) = (bounds(i), bounds(i + 1))
        val within = if (hi > lo) (x - lo) / (hi - lo) else 1.0
        (i + within) / (bounds.size - 1)
      }
    val wa = aRows.toDouble / (aRows.toDouble + bRows.toDouble)
    val (fa, fb) = (cdf(a) _, cdf(b) _)
    val knots = (a ++ b).distinct.sorted
    val fAt = knots.map(k => (k, wa * fa(k) + (1.0 - wa) * fb(k)))
    (0 to 8).map { i =>
      val p = i / 8.0
      if (p <= fAt.head._2) knots.head
      else if (p >= fAt.last._2) knots.last
      else {
        val j = fAt.lastIndexWhere(_._2 <= p)
        val (x0, p0) = fAt(j)
        val (x1, p1) = fAt(j + 1)
        if (p1 > p0) x0 + (x1 - x0) * (p - p0) / (p1 - p0) else x1
      }
    }
  }

  /** Statistics refresh that scans ONLY the files appended since the
    * last ANALYZE — the 100 TB maintenance path, where a full rescan
    * after every ingest batch is unaffordable.
    *
    * Merge rules (the append-only fast path):
    *   - rows/bytes: add the delta;
    *   - min/max: element-wise extremes (exact);
    *   - ndv: HLL sketch UNION (register-wise max — mathematically
    *     identical to having sketched the whole table in one pass, so
    *     the incremental ndv equals the full-scan ndv exactly);
    *   - histograms: the delta's own equi-depth histogram (one
    *     Greenwald–Khanna pass over the appended files only) merges
    *     with the base's via [[mergeHistograms]] — marked
    *     `histMerged` so SHOW STATS can report the approximation; a
    *     full ANALYZE resets to exact.
    *
    * Falls back to a full [[analyze]] whenever the fast path is not
    * sound: no persisted sidecar, a legacy sidecar without sketches,
    * or any base file REMOVED since (update/delete/compaction rewrite
    * data — a sketch cannot "subtract" the old rows).
    *
    * Returns the stats and the number of data files actually scanned
    * (0 = metadata-only, the full file count = fallback).
    */
  def incrementalAnalyze(spark: SparkSession, root: String)
      : (TableStats, Int, String) = {
    val snaps = ManagedTable.history(spark, root)
    val cur = snaps.last
    val fsys = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseSnap = snaps.reverse.find(s => fsys.exists(statsPath(root, s.version)))
    baseSnap match {
      case None => (analyze(spark, root), cur.files.size, "full(no_prior_stats)")
      case Some(bs) =>
        val base = Json.readFile(fsys, statsPath(root, bs.version))(parse)
        val baseFiles = bs.files.toSet
        val removed = baseFiles -- cur.files.toSet
        val added = cur.files.filterNot(baseFiles)
        val hasSketches = base.cols.values.forall(_.sketch.nonEmpty)
        // the base sidecar's col entries are keyed by the LOGICAL names
        // of ITS snapshot — a rename since then moves the key; follow
        // it through the fixed physical name (dropped columns simply
        // find no entry and fall away)
        val baseLogicalOf: String => String = {
          val byPhys = bs.schema.fieldNames.map(n => bs.physicalName(n) -> n).toMap
          cname => byPhys.getOrElse(cur.physicalName(cname), cname)
        }
        def remapped(cols: Map[String, ColStats]): Map[String, ColStats] =
          cur.schema.fieldNames.flatMap(c =>
            cols.get(baseLogicalOf(c)).map(c -> _)).toMap
        if (base.version == cur.version) {
          registry.put(norm(root), base); (base, 0, "carry")
        } else if (removed.nonEmpty || !hasSketches) {
          (analyze(spark, root), cur.files.size,
            if (removed.nonEmpty) "full(files_removed)" else "full(legacy_sidecar)")
        } else if (base.histMerges + 1 > MaxHistMerges &&
            base.cols.values.exists(_.histMerged)) {
          // DRIFT BUDGET (merge count): the next merge would be the
          // (MaxHistMerges+1)-th piecewise-linear combination since the
          // last exact histogram — rescan instead, loudly
          (analyze(spark, root), cur.files.size,
            s"full_drift(hist_merges=${base.histMerges + 1}>$MaxHistMerges)")
        } else if (added.isEmpty) {
          // metadata-only commits since the base (addColumn, rename,
          // drop, restore onto the same file set): stats carry over to
          // the new version under the CURRENT logical names; evolved
          // columns have no stats until the next data commit or full
          // ANALYZE
          (persist(spark, root,
            base.copy(version = cur.version, cols = remapped(base.cols))), 0,
            "metadata")
        } else {
          val fields = cur.schema.fields.toSeq
          val numeric = fields.collect {
            case f if isNumeric(f.dataType) => f.name
          }
          // NOTE: appended files carry PHYSICAL column names; read
          // them as the current snapshot's physical schema and project
          // back to logical, mirroring ManagedTable's scan
          val delta0 = spark.read.schema(cur.physicalSchema)
            .parquet(added.map(f => s"$root/$f"): _*)
          val delta =
            if (cur.physical.isEmpty) delta0
            else delta0.select(cur.schema.fields.map(f =>
              org.apache.spark.sql.functions.col(cur.physicalName(f.name))
                .as(f.name)): _*)
          val row = scanOnce(delta, numeric)
          def opt(name: String): Option[Double] =
            Option(row.getAs[Any](name)).map(_.toString.toDouble)
          val deltaBytes =
            added.map(f => fsys.getFileStatus(new Path(root, f)).getLen).sum
          // the delta's own equi-depth histograms: one Greenwald–Khanna
          // pass over the APPENDED files only, merged below with the
          // base's (piecewise-linear CDF combination)
          val deltaRows = row.getAs[Long]("_n")
          val deltaHists: Map[String, Seq[Double]] =
            if (deltaRows == 0 || numeric.isEmpty) Map.empty
            else numeric.zip(delta.stat.approxQuantile(numeric.toArray,
                (0 to 8).map(_ / 8.0).toArray, 0.001).toSeq)
              .collect { case (c, bs2) if bs2.nonEmpty => c -> bs2.toSeq }
              .toMap
          // sketch unions + estimates run as ONE local 1-row job
          val dec = java.util.Base64.getDecoder
          val toMerge = fields.flatMap { f =>
            val b = base.cols.get(baseLogicalOf(f.name)).map(_.sketch).filter(_.nonEmpty)
            val d = Option(row.getAs[Array[Byte]](s"_sk_${f.name}"))
            (b, d) match {
              case (Some(bsk), Some(dsk)) => Some((f.name, dec.decode(bsk), dsk))
              case _ => None
            }
          }
          val merged: Map[String, (Long, String)] =
            if (toMerge.isEmpty) Map.empty
            else {
              import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
              val schema = StructType(toMerge.flatMap { case (c, _, _) =>
                Seq(StructField(s"b_$c", BinaryType), StructField(s"d_$c", BinaryType))
              })
              val r = org.apache.spark.sql.Row.fromSeq(
                toMerge.flatMap { case (_, b, d) => Seq(b, d) })
              import scala.jdk.CollectionConverters._
              val uf = spark.createDataFrame(Seq(r).asJava, schema)
                .select(toMerge.flatMap { case (c, _, _) =>
                  val u = hll_union(col(s"b_$c"), col(s"d_$c"))
                  Seq(hll_sketch_estimate(u).as(s"n_$c"), u.as(s"u_$c"))
                }: _*)
              val ur = uf.head()
              toMerge.map { case (c, _, _) =>
                c -> (ur.getAs[Long](s"n_$c"),
                  b64(ur.getAs[Array[Byte]](s"u_$c")))
              }.toMap
            }
          def mergeOpt(a: Option[Double], b: Option[Double],
                       f: (Double, Double) => Double): Option[Double] =
            (a, b) match {
              case (Some(x), Some(y)) => Some(f(x, y))
              case (x, y) => x.orElse(y)
            }
          val cols = fields.map { f =>
            val b = base.cols.get(baseLogicalOf(f.name))
            val dMin = if (numeric.contains(f.name)) opt(s"_min_${f.name}") else None
            val dMax = if (numeric.contains(f.name)) opt(s"_max_${f.name}") else None
            val dNdv = row.getAs[Long](s"_ndv_${f.name}")
            val dSk = Option(row.getAs[Array[Byte]](s"_sk_${f.name}"))
              .map(b64).getOrElse("")
            // null counts merge ADDITIVELY like rows/bytes (exact, not
            // an approximation); a legacy base without the statistic
            // stays unknown rather than pretending
            val dNull = deltaRows - row.getAs[Long](s"_cnt_${f.name}")
            def addNulls(baseNull: Long): Long =
              if (baseNull < 0) -1L else baseNull + dNull
            f.name -> (merged.get(f.name) match {
              case Some((ndv, sk)) =>
                val baseHist = b.map(_.hist).getOrElse(Nil)
                val deltaHist = deltaHists.getOrElse(f.name, Nil)
                ColStats(ndv,
                  mergeOpt(b.flatMap(_.min), dMin, math.min),
                  mergeOpt(b.flatMap(_.max), dMax, math.max),
                  mergeHistograms(baseHist, base.rows, deltaHist, deltaRows),
                  sk,
                  histMerged = b.exists(_.histMerged) ||
                    (baseHist.size >= 2 && deltaHist.size >= 2),
                  nullCount = addNulls(b.map(_.nullCount).getOrElse(-1L)))
              case None => b.filter(_.sketch.nonEmpty) match {
                case Some(bs) =>
                  // no delta values in this column (its delta sketch is
                  // null): every appended row is NULL here — values,
                  // ranges, ndv all carry; only the null count moves
                  bs.copy(nullCount = addNulls(bs.nullCount))
                case None =>
                  // column added since the base ANALYZE: the base files
                  // lack it entirely, so every base row reads NULL
                  ColStats(dNdv, dMin, dMax,
                    deltaHists.getOrElse(f.name, Nil), dSk,
                    nullCount = base.rows + dNull)
              }
            })
          }.toMap
          // did any column's histogram actually go through the
          // piecewise-linear merge this cycle? Only then does drift
          // accumulate (a hist-less or empty delta adds no error)
          val histsMergedNow = deltaRows > 0 && deltaHists.nonEmpty &&
            base.cols.values.exists(_.hist.size >= 2)
          val mergedRowsNow =
            if (histsMergedNow) base.mergedRows + deltaRows else base.mergedRows
          val totalRows = base.rows + deltaRows
          // DRIFT BUDGET (delta-mass fraction): if most of the table's
          // rows arrived through merged histograms, the knots no
          // longer describe the data — rescan now, loudly. (The delta
          // scan above is delta-sized; paying it once before the
          // escalation is cheaper than acting on a drifted histogram.)
          if (histsMergedNow && totalRows > 0 &&
              mergedRowsNow.toDouble / totalRows > MaxMergedFrac) {
            (analyze(spark, root), cur.files.size,
              f"full_drift(merged_frac=${mergedRowsNow.toDouble / totalRows}%.2f>" +
                f"$MaxMergedFrac%.2f)")
          } else {
            val ts = TableStats(cur.version, totalRows,
              base.bytes + deltaBytes, cols,
              histMerges =
                if (histsMergedNow) base.histMerges + 1 else base.histMerges,
              mergedRows = mergedRowsNow)
            (persist(spark, root, ts), added.size, "merged")
          }
        }
    }
  }

  /** Reload persisted stats IF they describe the current snapshot
    * version (stale stats mislead the planner — skip them). */
  def load(spark: SparkSession, root: String): Option[TableStats] = {
    val snap = ManagedTable.latest(spark, root)
    val p = statsPath(root, snap.version)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fsys.exists(p)) None
    else {
      val ts = Json.readFile(fsys, p)(parse)
      if (ts.version == snap.version) { registry.put(norm(root), ts); Some(ts) }
      else None
    }
  }

  // -- (de)serialization: one flat JSON string->string map; each
  //    column's value is an `ndv=…;min=…` mini-format --

  private[graft] def render(ts: TableStats): String = {
    def esc(s: String) = graft.util.Json.escape(s)
    val entries =
      Seq("_version" -> ts.version.toString, "_rows" -> ts.rows.toString,
        "_bytes" -> ts.bytes.toString) ++
        (if (ts.histMerges > 0) Seq("_hist_merges" -> ts.histMerges.toString,
          "_merged_rows" -> ts.mergedRows.toString) else Nil) ++
        ts.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
          val parts = Seq(s"ndv=${cs.ndv}") ++
            (if (cs.nullCount >= 0) Seq(s"nn=${cs.nullCount}") else Nil) ++
            cs.min.map(v => s"min=$v") ++ cs.max.map(v => s"max=$v") ++
            (if (cs.hist.nonEmpty) Seq(s"hist=${cs.hist.mkString("|")}") else Nil) ++
            (if (cs.histMerged) Seq("hm=1") else Nil) ++
            // base64 (no ';'/'|'/'=' except trailing padding, and the
            // field parser splits on the FIRST '=' — safe verbatim)
            (if (cs.sketch.nonEmpty) Seq(s"sk=${cs.sketch}") else Nil)
          s"col:$c" -> parts.mkString(";")
        }
    s"""{"table_stats":${entries.map { case (k, v) => s"${esc(k)}:${esc(v)}" }
      .mkString("{", ",", "}")}}"""
  }

  private[graft] def parse(text: String): TableStats = {
    val kv = Json.strMap(Json.field(Json.parseObj(text, "stats"), "table_stats"), "table_stats")
    val cols = kv.collect { case (k, v) if k.startsWith("col:") =>
      val fields = v.split(';').map { p =>
        val eq = p.indexOf('='); p.substring(0, eq) -> p.substring(eq + 1)
      }.toMap
      k.stripPrefix("col:") -> ColStats(
        ndv = fields("ndv").toLong,
        min = fields.get("min").map(_.toDouble),
        max = fields.get("max").map(_.toDouble),
        hist = fields.get("hist").toSeq.flatMap(_.split('|')).map(_.toDouble),
        sketch = fields.getOrElse("sk", ""),
        histMerged = fields.get("hm").contains("1"),
        nullCount = fields.get("nn").map(_.toLong).getOrElse(-1L))
    }
    TableStats(kv("_version").toInt, kv("_rows").toLong, kv("_bytes").toLong, cols,
      histMerges = kv.get("_hist_merges").map(_.toInt).getOrElse(0),
      mergedRows = kv.get("_merged_rows").map(_.toLong).getOrElse(0L))
  }
}
