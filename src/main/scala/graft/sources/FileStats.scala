package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import graft.util.Json

/** Per-data-file column statistics for [[ManagedTable]] — the
  * data-skipping index every production lakehouse format keeps in its
  * metadata layer. Each commit writes a stats SIDECAR
  * (`_graft_log/v%08d.stats.json`) mapping data file → numeric column
  * → (min, max), and a range read ([[ManagedTable.readRange]]) prunes
  * the file list against it BEFORE the scan is planned.
  *
  * Why this exists when parquet footers already hold min/max: footer
  * pruning happens inside the scan, after every file is listed and its
  * footer opened — at 10⁶ files that is 10⁶ metadata reads per query.
  * Manifest-level stats answer the same question from ONE driver-side
  * sidecar read, which is the difference between O(files) and O(1)
  * planning I/O at 100 TB.
  *
  * Cost discipline: stats are harvested from the parquet FOOTERS the
  * writer just produced (no second data scan), only for files not
  * already covered by the previous sidecar — so a metadata-only commit
  * (restore, add_column) re-harvests nothing, and an insert harvests
  * exactly its new files.
  *
  * Safety discipline: pruning must never change results. A file with
  * no entry for the probed column (old sidecar, all-null column,
  * non-numeric type, unparseable stats) is always KEPT; the residual
  * filter applies to every surviving row. NaN min/max (possible for
  * float columns) fails the numeric parse and drops the column's
  * entry — conservative, never wrong.
  */
object FileStats {

  /** file (root-relative) → column → (min, max) as plain decimal strings. */
  type Stats = Map[String, Map[String, (String, String)]]

  /** Per-file EXTENDED stats (v2 sidecar): exact row count plus exact
    * per-column null counts — what `IS NULL` / `IS NOT NULL` pruning
    * needs (an all-null file is provably empty under IS NOT NULL; a
    * no-null file under IS NULL). `nulls` holds only columns whose
    * count is PROVEN (every row group's footer carries a null count);
    * an absent column is unknown and its file is simply never pruned
    * on nullness. Unlike min/max, null counts exist for EVERY flat
    * primitive column — binary payloads included — because parquet
    * tracks them independently of value ordering. */
  final case class Extra(rows: Long, nulls: Map[String, Long])

  /** file (root-relative) → its extended stats (absent for files
    * carried from pre-v2 sidecars — unknown, never pruned). */
  type Extras = Map[String, Extra]

  /** Types whose parquet footer stats are totally ordered values we
    * can compare. Timestamps and dates qualify: Spark writes them as
    * INT64 micros / INT32 days, their footer stats come back as plain
    * longs/ints in those units, and Catalyst literals carry the SAME
    * units — so pruning is ordinary integer comparison (the lakehouse
    * bread-and-butter: time-range predicates over time-clustered
    * files). STRINGS qualify too: parquet's BINARY min/max for UTF8
    * columns uses unsigned lexicographic byte order, which is exactly
    * UTF-8 code-point order — the same total order Spark's
    * UTF8String comparison (default UTF8_BINARY collation) uses, so a
    * `lang = 'de'` point predicate prunes string-clustered files
    * correctly ([[utf8Compare]] is that shared order). Decimals come
    * back as unscaled Binary — out of scope, never pruned (safe).
    */
  private[graft] def isRangeType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case StringType => true
    case _ => false
  }

  /** The shared total order for string pruning: unsigned lexicographic
    * over UTF-8 bytes — identical to parquet's UNSIGNED Binary
    * comparator (what the footer min/max was computed under) AND to
    * Spark's UTF8String ordering, and therefore to code-point order.
    * Java's `String.compareTo` is NOT this order (UTF-16 code units
    * sort surrogate pairs below U+E000..U+FFFF), so using it would
    * mis-prune supplementary-plane boundaries. */
  private[graft] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Does this parquet column's PHYSICAL representation carry footer
    * stats whose values are directly comparable to Catalyst literals
    * of `dt` — same primitive, same logical-type UNIT? The unit check
    * is the safety gate: a legacy file written under
    * `outputTimestampType=TIMESTAMP_MILLIS` stores millis stats, and
    * comparing those against Catalyst's micros literals would wrongly
    * prune files (silently dropping rows). Any mismatch — wrong
    * primitive (INT96 timestamps), wrong unit, missing annotation —
    * drops the column from the sidecar, so those files are simply
    * always kept. */
  private[graft] def footerComparable(
      dt: DataType, pt: org.apache.parquet.schema.PrimitiveType): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val tn = pt.getPrimitiveTypeName
    val la = pt.getLogicalTypeAnnotation
    dt match {
      case ByteType | ShortType | IntegerType =>
        tn == INT32 &&
          (la == null || la.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation])
      case LongType =>
        tn == INT64 &&
          (la == null || la.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation])
      case FloatType => tn == FLOAT
      case DoubleType => tn == DOUBLE
      case DateType =>
        tn == INT32 && la.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
      case TimestampType | TimestampNTZType =>
        tn == INT64 && (la match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
          case _ => false
        })
      case StringType =>
        tn == BINARY && la.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      case _ => false
    }
  }

  private[graft] def statsPath(root: String, v: Int) =
    new Path(root, f"_graft_log/v$v%08d.stats.json")

  /** Harvest (min, max) per requested column — plus the file's exact
    * row count and per-column null counts ([[Extra]]) — from ONE
    * file's footer, row-group stats merged per column. `cols` maps
    * each RANGE-eligible column to its TABLE type, so every chunk's
    * physical+logical parquet type is validated against it
    * ([[footerComparable]]) before its range stats are trusted — a
    * millis-unit timestamp file or an INT96 legacy file contributes
    * nothing and stays always-kept. Returns only columns with a
    * usable range; anything doubtful is absent (→ the file is kept).
    * String values are recorded verbatim (UTF-8 decoded); numerics as
    * plain decimal strings.
    *
    * Null counts are harvested for `nullCols` (every flat column of
    * the table, any type — nullness needs no value ordering, so the
    * type gate above does not apply) and kept only when EVERY row
    * group's footer proves one; nested columns never match their flat
    * name and simply stay unknown.
    */
  private[graft] def harvest(spark: SparkSession, root: String, rel: String,
                               cols: Map[String, DataType],
                               nullCols: Set[String] = Set.empty)
      : (Map[String, (String, String)], Extra) = {
    val in = HadoopInputFile.fromPath(new Path(root, rel),
      spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try {
      val num = scala.collection.mutable.Map[String, (BigDecimal, BigDecimal)]()
      val str = scala.collection.mutable.Map[String, (String, String)]()
      val bad = scala.collection.mutable.Set[String]()
      val nulls = scala.collection.mutable.Map[String, Long]()
      val badNulls = scala.collection.mutable.Set[String]()
      var rows = 0L
      for (b <- r.getFooter.getBlocks.asScala) {
        rows += b.getRowCount
        for (c <- b.getColumns.asScala) {
          val name = c.getPath.toDotString
          val st = c.getStatistics
          if (nullCols.contains(name) && !badNulls(name)) {
            // a null count is a proof: every row group must carry one
            if (st == null || !st.isNumNullsSet || st.getNumNulls < 0) {
              badNulls += name; nulls.remove(name): Unit
            } else nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
          }
          val dt = cols.get(name)
          if (dt.isDefined && !bad(name)) {
            if (st == null || st.isEmpty) bad += name // no stats: cannot prune
            else if (!footerComparable(dt.get, c.getPrimitiveType)) bad += name
            else if (st.hasNonNullValue) {
              if (dt.get == StringType) {
                val mn = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8
                val mx = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8
                str(name) = str.get(name).fold((mn, mx)) { case (a, b) =>
                  (if (utf8Compare(mn, a) < 0) mn else a,
                   if (utf8Compare(mx, b) > 0) mx else b)
                }
              } else {
                try {
                  val mn = BigDecimal(st.genericGetMin.toString)
                  val mx = BigDecimal(st.genericGetMax.toString)
                  val merged = num.get(name).fold((mn, mx))(p => (p._1.min(mn), p._2.max(mx)))
                  num(name) = merged
                } catch { case _: NumberFormatException => bad += name } // NaN etc.
              }
            }
            // all-null row group: contributes no range — a range predicate
            // never matches NULL, so ignoring it is correct
          }
        }
      }
      bad.foreach { n => num.remove(n); str.remove(n) }
      val ranges = num.map { case (k, (mn, mx)) =>
        k -> (mn.bigDecimal.toPlainString, mx.bigDecimal.toPlainString)
      }.toMap ++ str.toMap
      (ranges, Extra(rows, nulls.toMap))
    } finally r.close()
  }

  // -- sidecar (de)serialization: util.Json --

  /** v2 sidecar: `{"v":2,"files":{"<f>":{"cols":{"c":["mn","mx"],...}
    * [,"rows":N,"nulls":{"c":N,...}]},...}}`. `rows`/`nulls` are
    * omitted for files whose extras are unknown (carried from a pre-v2
    * sidecar) — readers then simply never prune those on nullness.
    * [[parse]]/[[parseExtras]] read BOTH generations (v1 sidecars on
    * disk keep working; their extras are empty). */
  private[graft] def render(stats: Stats, extras: Extras = Map.empty): String = {
    val files = stats.toSeq.sortBy(_._1).map { case (f, cols) =>
      val cs = cols.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s"${graft.util.Json.escape(c)}:[${graft.util.Json.escape(mn)},${graft.util.Json.escape(mx)}]"
      }.mkString("{", ",", "}")
      val extra = extras.get(f).map { e =>
        val ns = e.nulls.toSeq.sortBy(_._1).map { case (c, n) =>
          s"${graft.util.Json.escape(c)}:$n"
        }.mkString("{", ",", "}")
        s""","rows":${e.rows},"nulls":$ns"""
      }.getOrElse("")
      s"""${graft.util.Json.escape(f)}:{"cols":$cs$extra}"""
    }.mkString("{", ",", "}")
    s"""{"v":2,"files":$files}"""
  }

  private[graft] def parse(text: String): Stats = parseAll(text)._1

  private[graft] def parseExtras(text: String): Extras = parseAll(text)._2

  private[graft] def parseAll(text: String): (Stats, Extras) = {
    val doc = Json.parseObj(text, "stats sidecar")
    val files = Json.obj(Json.field(doc, "files"), "files")
    def ranges(v: Any): Map[String, (String, String)] =
      Json.obj(v, "cols").map { case (c, r) =>
        Json.strs(r, c) match {
          case Vector(mn, mx) => c -> ((mn, mx))
          case other => throw new IllegalArgumentException(
            s"column '$c': expected [min, max], got $other")
        }
      }
    doc.get("v") match {
      // v1: {"files":{"<f>":{"c":["mn","mx"],...},...}} — no extras
      case None => (files.map { case (f, cols) => f -> ranges(cols) }, Map.empty)
      case Some(2L) =>
        val entries = files.map { case (f, e) => f -> Json.obj(e, f) }
        // rows and nulls are written together, and only when known
        val extras = entries.flatMap { case (f, e) =>
          e.get("rows").map(n => f -> Extra(Json.long(n, "rows"),
            Json.obj(Json.field(e, "nulls"), "nulls").map { case (c, k) => c -> Json.long(k, c) }))
        }
        (entries.map { case (f, e) => f -> ranges(Json.field(e, "cols")) }, extras)
      case Some(other) => throw new IllegalArgumentException(
        s"unknown stats sidecar version $other")
    }
  }

  /** The stats sidecar for `version`, or empty if never written /
    * vacuumed away (readers then keep every file — safe).
    */
  def read(spark: SparkSession, root: String, version: Int): Stats =
    readAll(spark, root, version)._1

  /** Ranges AND extended stats (one sidecar read). Extras are empty
    * for pre-v2 sidecars — nullness pruning then simply never fires. */
  def readAll(spark: SparkSession, root: String, version: Int): (Stats, Extras) = {
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = statsPath(root, version)
    if (!f.exists(p)) (Map.empty, Map.empty)
    else Json.readFile(f, p)(parseAll)
  }

  /** Write the sidecar for a just-committed snapshot: previous
    * sidecar entries are REUSED for carried files (restricted to the
    * snapshot's file list); only files the previous sidecar does not
    * cover get a footer harvest. Overwrite is safe — the manifest's
    * exclusive create already picked the unique winner for this
    * version. (A file carried from a pre-v2 sidecar keeps its ranges
    * and stays WITHOUT extras — data files are immutable, so
    * re-harvesting would be pure cost; its nullness is simply never
    * proven.)
    */
  private[graft] def write(spark: SparkSession, root: String,
                             snap: ManagedTable.Snapshot): Unit = {
    val (prev, prevExtra) = readAll(spark, root, snap.version - 1)
    // keyed by PHYSICAL names — what the footers (and any pushed-down
    // predicate over the scan relation) actually carry
    val rangeCols = snap.schema.fields.filter(f => isRangeType(f.dataType))
      .map(f => snap.physicalName(f.name) -> f.dataType).toMap
    val nullCols = snap.schema.fields.map(f => snap.physicalName(f.name)).toSet
    val harvested: Map[String, (Map[String, (String, String)], Extra)] =
      snap.files.filterNot(prev.contains)
        .map(f => f -> harvest(spark, root, f, rangeCols, nullCols)).toMap
    val merged: Stats = snap.files.map { f =>
      f -> prev.getOrElse(f, harvested(f)._1)
    }.toMap
    val extras: Extras = snap.files.flatMap { f =>
      prevExtra.get(f).orElse(harvested.get(f).map(_._2)).map(f -> _)
    }.toMap
    val fsys = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fsys.create(statsPath(root, snap.version), /*overwrite=*/ true)
    try out.write(render(merged, extras).getBytes("UTF-8")) finally out.close()
  }

  /** Re-render a FLOAT column's sidecar entries after a FLOAT→DOUBLE
    * widening: each recorded shortest-float string becomes the EXACT
    * decimal expansion of its float value (floats embed exactly in
    * double/BigDecimal), so comparisons against double literals stay
    * sound. Entries that don't parse as floats (defensive) drop — a
    * missing entry only costs pruning, never correctness. */
  private[graft] def refloatSidecar(spark: SparkSession, root: String,
                                    version: Int, physName: String): Unit = {
    val (stats, extras) = readAll(spark, root, version)
    if (stats.isEmpty) return
    val fixed: Stats = stats.map { case (f, cols) =>
      f -> cols.flatMap { case (c, (mn, mx)) =>
        if (c != physName) Some(c -> ((mn, mx)))
        else try {
          val lo = new java.math.BigDecimal(java.lang.Float.parseFloat(mn).toDouble)
          val hi = new java.math.BigDecimal(java.lang.Float.parseFloat(mx).toDouble)
          Some(c -> ((lo.toPlainString, hi.toPlainString)))
        } catch { case _: NumberFormatException => None }
      }
    }
    val fsys = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fsys.create(statsPath(root, version), /*overwrite=*/ true)
    try out.write(render(fixed, extras).getBytes("UTF-8")) finally out.close()
  }

  /** The surviving file list for `lo <= colName <= hi`: a file is
    * dropped only when its recorded range PROVES no row can match
    * (max < lo or min > hi); files without a recorded range are kept.
    */
  private[graft] def prune(stats: Stats, files: Seq[String], colName: String,
                           lo: BigDecimal, hi: BigDecimal): Seq[String] =
    files.filter { f =>
      stats.get(f).flatMap(_.get(colName)) match {
        case Some((mn, mx)) =>
          // a string-valued or otherwise unparseable entry keeps the
          // file — pruning is a proof, never a guess
          try !(BigDecimal(mx) < lo || BigDecimal(mn) > hi)
          catch { case _: NumberFormatException => true }
        case None => true
      }
    }

  /** String-column variant of [[prune]]: same drop-only-on-proof
    * contract, under the [[utf8Compare]] total order. */
  private[graft] def pruneStr(stats: Stats, files: Seq[String], colName: String,
                              lo: String, hi: String): Seq[String] =
    files.filter { f =>
      stats.get(f).flatMap(_.get(colName)) match {
        case Some((mn, mx)) =>
          !(utf8Compare(mx, lo) < 0 || utf8Compare(mn, hi) > 0)
        case None => true
      }
    }
}
