package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import graft.util.Json
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-file BLOOM-FILTER sidecars: the storage feature that makes
  * point/IN predicates on UNCLUSTERED high-ndv columns prune files.
  *
  * Min/max skipping ([[FileStats]]) only helps when the layout is
  * clustered on the predicate column — `doc_id = K` over a naturally
  * ordered (or zordered-on-other-columns) table has every file's
  * [min, max] covering K, so nothing prunes and the scan reads ALL of
  * 100 TB for one row. A per-file bloom over the column answers
  * "could this file contain K?" for ANY layout: ~3% false-positive
  * rate at 8 bits/key with k=3 hashes (the arithmetic the engine
  * already validates in-engine against exact truth — q146,
  * graft/queries/Introspection.scala), so a point lookup plans ~3% of
  * the files instead of 100%.
  *
  * Design:
  *   - OPT-IN per column (`CREATE BLOOM INDEX ON t (cols)`) — blooms
  *     cost a data scan of every NEWLY WRITTEN file at commit time
  *     (one distributed job per commit over just the new files, never
  *     the table) plus sidecar bytes; that is a price to pay only for
  *     genuine lookup keys, exactly like every production lakehouse
  *     bloom index.
  *   - The column list is stored under PHYSICAL names
  *     (`_graft_bloom.json`), so RENAME COLUMN keeps the index and
  *     DROP COLUMN simply orphans its entries.
  *   - One sidecar per version (`_graft_log/v%08d.bloom.json`), same
  *     carry discipline as the stats sidecar: data files are
  *     immutable, so carried files reuse their existing filters
  *     byte-for-byte and only new files are harvested.
  *   - Sizing: m = 8 bits per ROW of the file (an upper bound on its
  *     distinct keys — never under-sized, so the theoretical FPR
  *     (1-e^(-3/8))^3 ≈ 3.06% is a ceiling), clamped to [64, 2^23]
  *     bits. Above the 1 MiB/column/file cap the filter saturates
  *     gracefully — more false positives, never a wrong prune.
  *   - Hashing mirrors q146 exactly: position_i = first-32-bits of
  *     md5("b" + i + ":" + canonicalKey) mod m, i in 1..k. Canonical
  *     keys are the plain decimal string for integral columns and the
  *     UTF-8 string itself for string columns — the same form on the
  *     write side (row values) and the probe side (Catalyst
  *     literals), which is why eligibility is restricted to integral
  *     and string types (float equality keys are a smell anyway).
  *
  * Safety: a bloom can only prove ABSENCE. A file without a filter
  * for the probed column (pre-index files, dropped columns, saturated
  * harvest failures) is always kept, and the original Filter stays on
  * top of the pruned scan — identical results, fewer files planned.
  */
object FileBloom {

  /** Bits per row (≥ bits per distinct key) and hash count — the
    * q146-validated operating point (~3% FPR). */
  val BitsPerKey = 8
  val K = 3
  private val MinBits = 64
  private val MaxBits = 1 << 23 // 1 MiB of bits per column per file

  /** One column's filter for one file. `bits` length is the BitSet's
    * compact byte form; absent trailing zero bytes are implicit. */
  final case class Bloom(m: Int, k: Int, bits: java.util.BitSet) {
    def mightContain(baseHashes: Array[Long]): Boolean = {
      var i = 0
      while (i < k && i < baseHashes.length) {
        if (!bits.get((baseHashes(i) % m).toInt)) return false
        i += 1
      }
      true
    }
  }

  /** file (root-relative) → physical column → filter. */
  type Blooms = Map[String, Map[String, Bloom]]

  /** The k base hashes of a canonical key string — q146's arithmetic:
    * the first 32 bits of md5("b" + i + ":" + key) as an unsigned
    * long, reduced mod m only at probe time (m varies per file). */
  def baseHashes(key: String): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(K) { j =>
      md.reset()
      val d = md.digest(s"b${j + 1}:$key".getBytes(UTF_8))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
  }

  /** Types whose canonical key form is stable between row values and
    * Catalyst literals: plain decimal integers (integral columns),
    * the string itself, and — round 11 — dates/timestamps through
    * their PHYSICAL integer forms (managed writes pin INT32 days /
    * INT64 micros end-to-end, and a Catalyst date/timestamp literal's
    * value IS that integer, so the probe side needs no conversion at
    * all; the harvest projects the column through unix_date /
    * unix_micros). TIMESTAMP_NTZ stays excluded: extracting its
    * micros goes through a session-timezone-dependent cast, and a tz
    * mismatch between harvest and probe would poison the filter with
    * false negatives. */
  def isEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         DateType | TimestampType => true
    case _ => false
  }

  /** The harvest-side canonical key column: time types project to
    * their physical integers (days / micros) so the hashed string
    * equals the probe side's literal rendering; everything else scans
    * raw. */
  private def canonicalKeyCol(f: StructField): org.apache.spark.sql.Column =
    f.dataType match {
      case TimestampType => unix_micros(col(f.name)).as(f.name)
      case DateType => unix_date(col(f.name)).as(f.name)
      case _ => col(f.name)
    }

  private[graft] def sizeFor(rows: Long): Int =
    math.min(MaxBits.toLong, math.max(MinBits.toLong, rows * BitsPerKey)).toInt

  // -- index configuration (physical column names) --------------------

  private def configPath(root: String) = new Path(root, "_graft_bloom.json")

  /** The indexed PHYSICAL column names, or empty when no index. */
  def config(spark: SparkSession, root: String): Seq[String] = {
    val p = configPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else Json.readFile(fs, p) { text =>
      val bloom = Json.obj(Json.field(Json.parseObj(text, "bloom config"), "bloom"), "bloom")
      Json.str(Json.field(bloom, "cols"), "cols")
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    }
  }

  private[graft] def saveConfig(spark: SparkSession, root: String,
                                physCols: Seq[String]): Unit = {
    val p = configPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, /*overwrite=*/ true)
    // column names here are \w+ identifiers (validated at CREATE), so
    // the flat comma join needs no escaping
    try out.write(s"""{"bloom":{"cols":"${physCols.mkString(",")}"}}"""
      .getBytes("UTF-8")) finally out.close()
  }

  private[graft] def dropConfig(spark: SparkSession, root: String): Unit = {
    val p = configPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false): Unit
  }

  // -- sidecar ---------------------------------------------------------

  private[graft] def bloomPath(root: String, v: Int) =
    new Path(root, f"_graft_log/v$v%08d.bloom.json")

  private def b64(bs: java.util.BitSet): String =
    java.util.Base64.getEncoder.encodeToString(bs.toByteArray)

  private[graft] def render(blooms: Blooms): String = {
    val files = blooms.toSeq.sortBy(_._1).map { case (f, cols) =>
      val cs = cols.toSeq.sortBy(_._1).map { case (c, b) =>
        s"""${graft.util.Json.escape(c)}:{"m":${b.m},"k":${b.k},"bits":"${b64(b.bits)}"}"""
      }.mkString("{", ",", "}")
      s"${graft.util.Json.escape(f)}:$cs"
    }.mkString("{", ",", "}")
    s"""{"v":1,"files":$files}"""
  }

  private[graft] def parse(text: String): Blooms =
    Json.obj(Json.field(Json.parseObj(text, "bloom sidecar"), "files"), "files").map {
      case (f, cols) => f -> Json.obj(cols, f).map { case (c, b) =>
        val bloom = Json.obj(b, c)
        val m = Json.long(Json.field(bloom, "m"), "m").toInt
        require(m > 0, s"bloom for '$c' without m")
        c -> Bloom(m, bloom.get("k").map(Json.long(_, "k").toInt).getOrElse(K),
          java.util.BitSet.valueOf(java.util.Base64.getDecoder.decode(
            Json.str(Json.field(bloom, "bits"), "bits"))))
      }
    }

  // -- segment shards --------------------------------------------------
  //
  // Round 11: the per-version monolith (every live file's filter
  // re-rendered into one JSON on each commit, parsed whole by the
  // registry) is replaced by APPEND-ONLY SEGMENT SHARDS under
  // `_graft_log/bloomseg/`: each commit (or backfill partition) writes
  // one `<name>.seg.json` holding ONLY its own files' filters, plus a
  // light `<name>.meta.json` (covered columns + file list, no
  // filters). Data files are immutable, so a filter is a permanent
  // fact and a superset of segments is always safe to consult — no
  // per-version rewrite exists at all. Driver work per commit is
  // O(files in the commit); the commit-time carry check reads metas,
  // never filters. Legacy per-version monoliths are migrated into one
  // segment the first time a commit touches the table.

  private[graft] def segDirPath(root: String) = new Path(root, "_graft_log/bloomseg")

  private[graft] final case class SegEntry(name: String, cols: Set[String],
                                           files: Seq[String])

  private[graft] def renderMeta(e: SegEntry): String =
    s"""{"cols":${graft.util.Json.escape(e.cols.toSeq.sorted.mkString(","))},"files":[${e.files.map(graft.util.Json.escape).mkString(",")}]}"""

  private[graft] def parseMeta(name: String, text: String): SegEntry = {
    val doc = Json.parseObj(text, s"bloom segment meta $name")
    SegEntry(name,
      Json.str(Json.field(doc, "cols"), "cols").split(',').map(_.trim).filter(_.nonEmpty).toSet,
      Json.strs(Json.field(doc, "files"), "files"))
  }

  /** List the table's segment names (one FS listing). */
  private def listSegments(spark: SparkSession, root: String): Seq[String] = {
    val dir = segDirPath(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".meta.json")).map(_.stripSuffix(".meta.json")).toSeq.sorted
  }

  // per-root coverage cache: (segment names it reflects, file -> cols)
  private val coverCache = scala.collection.concurrent.TrieMap
    .empty[String, (Set[String], Map[String, Set[String]])]
  // segments already DELIVERED to the FileSkip registry, per root
  private val delivered = scala.collection.concurrent.TrieMap
    .empty[(String, String), Unit]

  /** Which columns each file provably has filters for — from segment
    * METAS only (no filter bytes touched); memoized per root and
    * refreshed when the segment listing changes. */
  private[graft] def coverage(spark: SparkSession,
                              root: String): Map[String, Set[String]] = {
    val names = listSegments(spark, root).toSet
    coverCache.get(root) match {
      case Some((seen, cov)) if seen == names => cov
      case prior =>
        val dir = segDirPath(root)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val (seen0, cov0) = prior.getOrElse((Set.empty[String],
          Map.empty[String, Set[String]]))
        val fresh = (names -- seen0).toSeq.sorted.map(n =>
          Json.readFile(fs, new Path(dir, s"$n.meta.json"))(parseMeta(n, _)))
        val cov = fresh.foldLeft(cov0) { (acc, e) =>
          e.files.foldLeft(acc)((a, f) =>
            a.updated(f, a.getOrElse(f, Set.empty) ++ e.cols))
        }
        coverCache.put(root, (names, cov))
        cov
    }
  }

  private def writeText(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                        text: String): Unit = {
    val out = fs.create(p, /*overwrite=*/ true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Driver-side segment write for a DELTA-sized bloom batch (the
    * per-commit path; the table-sized backfill goes through
    * [[backfillSegments]] and never holds filters on the driver). */
  private[graft] def writeSegment(spark: SparkSession, root: String,
                                  blooms: Blooms, cols: Set[String],
                                  tag: String): Option[SegEntry] = {
    if (blooms.isEmpty) return None
    val dir = segDirPath(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) fs.mkdirs(dir): Unit
    val name = f"$tag-${java.util.UUID.randomUUID().toString.take(8)}"
    writeText(fs, new Path(dir, s"$name.seg.json"), render(blooms))
    val entry = SegEntry(name, cols, blooms.keys.toSeq.sorted)
    writeText(fs, new Path(dir, s"$name.meta.json"), renderMeta(entry))
    coverCache.remove(root): Unit // listing changed; recompute lazily
    Some(entry)
  }

  private def readSegment(spark: SparkSession, root: String,
                          name: String): Blooms = {
    val p = new Path(segDirPath(root), s"$name.seg.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else Json.readFile(fs, p)(parse)
  }

  /** Column-wise merge (same file may appear in an old narrow segment
    * and a re-CREATE's wider one — contents for a shared column are
    * identical by determinism, so precedence is irrelevant). */
  private def mergeBlooms(a: Blooms, b: Blooms): Blooms =
    b.foldLeft(a) { case (acc, (f, cols)) =>
      acc.updated(f, acc.getOrElse(f, Map.empty) ++ cols)
    }

  private def readLegacy(spark: SparkSession, root: String,
                         version: Int): Blooms = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = bloomPath(root, version)
    if (!fs.exists(p)) Map.empty
    else Json.readFile(fs, p)(parse)
  }

  /** The full bloom view at `version`: the legacy per-version sidecar
    * (pre-shard tables) plus every segment shard. Segments hold only
    * immutable-file facts, so a superset is always safe. */
  def read(spark: SparkSession, root: String, version: Int): Blooms =
    listSegments(spark, root).foldLeft(readLegacy(spark, root, version)) {
      (acc, n) => mergeBlooms(acc, readSegment(spark, root, n))
    }

  /** The registry-feeding read: the legacy sidecar for `version` plus
    * only segments NOT yet delivered for this root — with
    * [[FileSkip]]'s gain-only merge, repeated registrations fold in
    * exactly the new shards instead of re-parsing the table
    * ([[invalidate]] resets delivery so a fresh registry reloads
    * everything). */
  private[graft] def readDelta(spark: SparkSession, root: String,
                               version: Int): Blooms = {
    val undeliveredSegs = listSegments(spark, root)
      .filter(n => delivered.putIfAbsent((root, n), ()).isEmpty)
    undeliveredSegs.foldLeft(readLegacy(spark, root, version)) {
      (acc, n) => mergeBlooms(acc, readSegment(spark, root, n))
    }
  }

  /** Forget this root's delivery/coverage state (DROP/re-CREATE index,
    * registry invalidation). */
  private[graft] def invalidate(root: String): Unit = {
    coverCache.remove(root): Unit
    delivered.keys.filter(_._1 == root).foreach(delivered.remove)
  }

  private[graft] def clearAll(): Unit = { coverCache.clear(); delivered.clear() }

  // -- harvest ---------------------------------------------------------

  /** Build filters for `files` (root-relative) over `physCols` in ONE
    * distributed job: every partition folds its rows into per-(file,
    * column) BitSets (file boundaries tracked via input_file_name —
    * parquet files don't split across partitions at these sizes, and a
    * split file would just produce two partials that OR together), and
    * the driver ORs the partials. Executor memory is bounded by
    * files-per-partition × columns × m/8 bytes (≤ 1 MiB each).
    *
    * `rowsOf` sizes each file's m from its exact row count (the stats
    * sidecar's extras); files it doesn't cover fall back to a default
    * sizing from the first partial's observation — never wrong, at
    * worst more false positives.
    */
  private[graft] def harvest(spark: SparkSession, root: String,
                             files: Seq[String], physCols: Seq[String],
                             schema: StructType,
                             rowsOf: Map[String, Long]): Blooms = {
    if (files.isEmpty || physCols.isEmpty) return Map.empty
    val present = physCols.filter(c => schema.fieldNames.contains(c))
    if (present.isEmpty) return Map.empty
    val subSchema = StructType(schema.fields.filter(f => present.contains(f.name)))
    // Files are keyed by their LAST TWO path segments
    // ("<commit-uuid>/<part-file>") — unique within one table (every
    // commit writes into its own uuid directory) and IDENTICAL on both
    // sides by construction: those segments are plain [A-Za-z0-9.-]
    // names, so input_file_name()'s URI form and the manifest's
    // relative path agree even when the table ROOT contains characters
    // the two representations encode differently (spaces etc.) — a
    // full-path key silently mis-attributed every row there, and a
    // wrong modulus poisons the filter with FALSE NEGATIVES.
    def suffixOf(path: String): String = {
      val parts = path.split('/')
      parts.takeRight(2).mkString("/")
    }
    val mOf: Map[String, Int] = files.map { f =>
      f -> sizeFor(rowsOf.getOrElse(f, 1L << 20))
    }.toMap
    val mBySuffix = files.map(f => suffixOf(f) -> mOf(f)).toMap
    require(mBySuffix.size == files.size,
      s"bloom harvest: non-unique file suffixes among ${files.size} files")
    val nCols = present.size
    val df = spark.read.schema(subSchema)
      .parquet(files.map(f => s"$root/$f"): _*)
      .select(input_file_name().as("_graft_bloom_file") +:
        present.map(c => canonicalKeyCol(subSchema(c))): _*)
    // partials per (file-suffix, column); column index -1 is the
    // "file seen" marker, emitted once per file per partition so the
    // driver can tell "no non-null values" (empty filter is a correct
    // proof) apart from "rows never attributed" (no filter at all —
    // the file is simply never pruned)
    val partials: Array[((String, Int), Array[Byte])] =
      df.rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map.empty[(String, Int), java.util.BitSet]
        var lastRaw: String = null
        var lastSuffix: String = null
        var lastM = 0
        it.foreach { row =>
          val raw = row.getString(0)
          if (raw ne lastRaw) { // memoized per file run within the partition
            lastRaw = raw
            lastSuffix = suffixOf(raw)
            lastM = mBySuffix.getOrElse(lastSuffix, -1)
            if (lastM > 0)
              acc.getOrElseUpdate((lastSuffix, -1), new java.util.BitSet(1)): Unit
          }
          if (lastM > 0) { // unknown file: contribute nothing (never wrong)
            var ci = 0
            while (ci < nCols) {
              if (!row.isNullAt(ci + 1)) {
                val key = row.get(ci + 1).toString
                val bs = acc.getOrElseUpdate((lastSuffix, ci),
                  new java.util.BitSet(lastM))
                val hs = baseHashes(key)
                var j = 0
                while (j < hs.length) {
                  bs.set((hs(j) % lastM).toInt)
                  j += 1
                }
              }
              ci += 1
            }
          }
        }
        acc.iterator.map { case (k, bs) => (k, bs.toByteArray) }
      }.collect()
    val merged = scala.collection.mutable.Map.empty[(String, Int), java.util.BitSet]
    partials.foreach { case (k, bytes) =>
      val bs = java.util.BitSet.valueOf(bytes)
      merged.get(k) match {
        case Some(m0) => m0.or(bs)
        case None => merged.put(k, bs): Unit
      }
    }
    val seen: Set[String] = merged.keysIterator.collect {
      case (sfx, -1) => sfx
    }.toSet
    // a filter is emitted only for files whose rows were provably
    // attributed (seen marker) or that provably have no rows at all —
    // an unattributed file gets NO filter and is simply never pruned
    files.flatMap { f =>
      val sfx = suffixOf(f)
      if (!seen(sfx) && rowsOf.getOrElse(f, -1L) != 0L) None
      else Some(f -> present.zipWithIndex.map { case (c, ci) =>
        c -> Bloom(mOf(f), K,
          merged.getOrElse((sfx, ci), new java.util.BitSet()))
      }.toMap)
    }.toMap
  }

  /** Files-per-segment target for the distributed backfill, and the
    * batch size above which the harvest folds and WRITES on executors
    * instead of collecting partials to the driver. */
  private[graft] val SegmentFiles = 512
  private[graft] val DriverHarvestMax = 256

  /** Maintain the bloom shards for a just-committed snapshot: files
    * whose metas already cover every required column carry FOR FREE
    * (their segments are immutable facts — nothing is rewritten); only
    * uncovered files harvest, into one new delta-sized segment (or,
    * for a table-sized backfill, executor-written segment shards —
    * the driver never holds a table's worth of filters). Called
    * best-effort from the commit choke point, exactly like the stats
    * sidecar. */
  private[graft] def write(spark: SparkSession, root: String,
                           snap: ManagedTable.Snapshot): Unit = {
    val cols = config(spark, root)
    if (cols.isEmpty) return
    val required = cols.filter(snap.physicalSchema.fieldNames.contains)
    if (required.isEmpty) return
    // one-time migration: a pre-shard table's latest monolith becomes
    // the first segment, so coverage and carry are uniform from here
    if (listSegments(spark, root).isEmpty) {
      val legacy = readLegacy(spark, root, snap.version - 1)
      if (legacy.nonEmpty) {
        val legacyCols = legacy.valuesIterator.flatMap(_.keys).toSet
        writeSegment(spark, root, legacy, legacyCols, "migrate"): Unit
      }
    }
    val cov = coverage(spark, root)
    val fresh = snap.files.filterNot(f =>
      cov.get(f).exists(c => required.forall(c.contains)))
    if (fresh.isEmpty) return
    val rowsOf = FileStats.readAll(spark, root, snap.version)._2
      .map { case (f, e) => f -> e.rows }
    if (fresh.size <= DriverHarvestMax) {
      val harvested = harvest(spark, root, fresh, required,
        snap.physicalSchema, rowsOf)
      writeSegment(spark, root, harvested, required.toSet, "commit"): Unit
    } else
      backfillSegments(spark, root, fresh, required,
        snap.physicalSchema, rowsOf)
  }

  /** Table-sized backfill with EXECUTOR-SIDE fold and write-out: row
    * partials reduce per (file, column) across the cluster
    * (`reduceByKey` — the OR happens where the partials live), group
    * per file, and each output partition STREAMS its files' filters
    * into its own segment shard directly from the task. The driver
    * sees segment names and file lists, never a filter — memory
    * O(files-per-commit) as the shard layout promises. Files with
    * zero rows (no partials can exist) get their empty-filter proofs
    * in one driver-written segment. */
  private[graft] def backfillSegments(spark: SparkSession, root: String,
                                      files: Seq[String], physCols: Seq[String],
                                      schema: StructType,
                                      rowsOf: Map[String, Long]): Unit = {
    val present = physCols.filter(c => schema.fieldNames.contains(c))
    if (files.isEmpty || present.isEmpty) return
    val subSchema = StructType(schema.fields.filter(f => present.contains(f.name)))
    def suffixOf(path: String): String =
      path.split('/').takeRight(2).mkString("/")
    val mOf: Map[String, Int] = files.map { f =>
      f -> sizeFor(rowsOf.getOrElse(f, 1L << 20))
    }.toMap
    val bySuffix: Map[String, (String, Int)] =
      files.map(f => suffixOf(f) -> (f, mOf(f))).toMap
    require(bySuffix.size == files.size,
      s"bloom backfill: non-unique file suffixes among ${files.size} files")
    val nCols = present.size
    val sc = spark.sparkContext
    val bSuffix = sc.broadcast(bySuffix)
    val bConf = sc.broadcast(new org.apache.spark.sql.graftbridge.SerConf(
      sc.hadoopConfiguration))
    val segDirStr = segDirPath(root).toString
    val df = spark.read.schema(subSchema)
      .parquet(files.map(f => s"$root/$f"): _*)
      .select(input_file_name().as("_graft_bloom_file") +:
        present.map(c => canonicalKeyCol(subSchema(c))): _*)
    val partials = df.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.Map.empty[(String, Int), java.util.BitSet]
      var lastRaw: String = null
      var lastSuffix: String = null
      var lastM = 0
      it.foreach { row =>
        val raw = row.getString(0)
        if (raw ne lastRaw) {
          lastRaw = raw
          lastSuffix = suffixOf(raw)
          lastM = bSuffix.value.get(lastSuffix).map(_._2).getOrElse(-1)
          if (lastM > 0)
            acc.getOrElseUpdate((lastSuffix, -1), new java.util.BitSet(1)): Unit
        }
        if (lastM > 0) {
          var ci = 0
          while (ci < nCols) {
            if (!row.isNullAt(ci + 1)) {
              val key = row.get(ci + 1).toString
              val bs = acc.getOrElseUpdate((lastSuffix, ci),
                new java.util.BitSet(lastM))
              val hs = baseHashes(key)
              var j = 0
              while (j < hs.length) {
                bs.set((hs(j) % lastM).toInt)
                j += 1
              }
            }
            ci += 1
          }
        }
      }
      acc.iterator.map { case (k, bs) => (k, bs.toByteArray) }
    }
    val numSegs = math.max(1, (files.size + SegmentFiles - 1) / SegmentFiles)
    // the fold happens ON EXECUTORS; each output partition then writes
    // one shard — the only things collected are (name, files) pairs
    val entries: Array[(String, Seq[String])] = partials
      .reduceByKey { (a, b) =>
        val x = java.util.BitSet.valueOf(a); x.or(java.util.BitSet.valueOf(b))
        x.toByteArray
      }
      .map { case ((sfx, ci), bytes) => (sfx, (ci, bytes)) }
      .groupByKey(new org.apache.spark.HashPartitioner(numSegs))
      .mapPartitionsWithIndex { (pi, it) =>
        val buffered = it.toSeq
        if (buffered.isEmpty) Iterator.empty
        else {
          val dir = new Path(segDirStr)
          val fs = dir.getFileSystem(bConf.value.value)
          if (!fs.exists(dir)) fs.mkdirs(dir): Unit
          val name = f"backfill-${java.util.UUID.randomUUID().toString.take(8)}-p$pi"
          val out = fs.create(new Path(dir, s"$name.seg.json"), true)
          val written = Seq.newBuilder[String]
          try {
            out.write("""{"v":1,"files":{""".getBytes(UTF_8))
            var first = true
            buffered.foreach { case (sfx, colBits) =>
              bSuffix.value.get(sfx).foreach { case (rel, m) =>
                val bits = colBits.filter(_._1 >= 0).toMap
                val entry = present.zipWithIndex.map { case (c, ci) =>
                  val bs = bits.get(ci).map(java.util.BitSet.valueOf)
                    .getOrElse(new java.util.BitSet())
                  s"""${graft.util.Json.escape(c)}:{"m":$m,"k":$K,"bits":"${b64(bs)}"}"""
                }.mkString("{", ",", "}")
                if (!first) out.write(','.toInt)
                first = false
                out.write(s"${graft.util.Json.escape(rel)}:$entry".getBytes(UTF_8))
                written += rel
              }
            }
            out.write("}}".getBytes(UTF_8))
          } finally out.close()
          Iterator.single((name, written.result()))
        }
      }.collect()
    // zero-row files never produce partials: their empty filters (a
    // correct proof of total absence) land in one driver-side segment
    val covered = entries.iterator.flatMap(_._2).toSet
    val zeroRow: Blooms = files.filterNot(covered)
      .filter(f => rowsOf.get(f).contains(0L))
      .map(f => f -> present.map(c =>
        c -> Bloom(mOf(f), K, new java.util.BitSet())).toMap).toMap
    if (zeroRow.nonEmpty)
      writeSegment(spark, root, zeroRow, present.toSet, "backfill-empty"): Unit
    // metas for the executor-written shards (names + file lists only)
    val dir = segDirPath(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    entries.foreach { case (name, fileList) =>
      writeText(fs, new Path(dir, s"$name.meta.json"),
        renderMeta(SegEntry(name, present.toSet, fileList.sorted)))
    }
    coverCache.remove(root): Unit
    bSuffix.destroy()
    bConf.destroy()
  }
}
