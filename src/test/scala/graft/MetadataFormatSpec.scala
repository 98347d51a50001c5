package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.server.SqlRouter
import graft.sources.{FileBloom, ManagedTable}
import graft.streaming.ChangeFeed

/** On-disk metadata formats that no other spec round-trips: each one
  * renders and reads back to the same value, and a text in the format
  * already on disk (written by earlier releases) still reads to the
  * value it encodes. */
class MetadataFormatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.tempDir("graft_meta").toString

  private def put(file: String, text: String): Unit = {
    val p = new Path(file)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }
  private def get(file: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")

  /** `write` renders `value` into `file`'s format; `read` reads `file`. */
  private final class Format[T](val name: String, file: String, value: T,
                                write: T => Unit, read: () => T,
                                parentText: String, parentValue: T) {
    def check(): Unit = {
      write(value)
      assert(read() == value)
      put(file, parentText)
      assert(read() == parentValue)
    }
  }

  private val comment =
    "has \"files\":[\"x\"], a \\ and a\nnewline, \u0001 and été 日本"
  private val manifestFile = s"$dir/manifest/v00000004.json"
  private val segName = "c00000004-ab12cd34"
  private val segFile = s"$dir/seg/$segName.meta.json"
  private val mvRoot = s"$dir/mv"

  private val formats: Seq[Format[_]] = Seq(
    new Format[ManagedTable.Snapshot]("manifest", manifestFile,
      ManagedTable.Snapshot(4, "upsert",
        StructType(Seq(StructField("id", LongType).withComment(comment),
          StructField("name", StringType))).toDDL,
        Seq("data/u1/part-0.parquet", "data/u2/a \"b\"\\c.parquet"),
        txn = Some("/lake/_graft_txn/t1.marker"),
        physical = Map("name" -> "name__v3", "id" -> "id0")),
      s => put(manifestFile, ManagedTable.render(s)),
      () => ManagedTable.parse(get(manifestFile), 4),
      """{"version":4,"op":"upsert","schema":"id BIGINT COMMENT 'has \"files\":[\"x\"], a \\ and a\nnewline, """ +
        "\\u0001" +
        """ and été 日本'","files":["data/u1/part-0.parquet"],"physical":["id","id0"],"txn":"/lake/_graft_txn/t1.marker"}""",
      ManagedTable.Snapshot(4, "upsert", s"id BIGINT COMMENT '$comment'",
        Seq("data/u1/part-0.parquet"), txn = Some("/lake/_graft_txn/t1.marker"),
        physical = Map("id" -> "id0"))),
    new Format[SqlRouter.MvSpec]("MV sidecar", s"$mvRoot/_graft_mv.json",
      SqlRouter.MvSpec("v_sales", "sales", mvRoot, Seq("region", "day"), "n",
        sums = Seq("s_amt" -> "amount"), mins = Seq("lo" -> "amount"),
        avgs = Seq("avg_amt" -> "amount"),
        where = Some("note <> 'say \"hi\"' AND path <> 'a\\b'\nAND amount > 0"),
        joins = Seq("dim" -> "sales.k = dim.k AND dim.tag <> 'q\"t\\d'\nAND dim.ok",
          "geo" -> "dim.g = geo.g")),
      spec => SqlRouter.writeMvSidecar(spark, spec),
      () => SqlRouter.readMvSidecar(spark, mvRoot).get,
      """{"mv":{"name":"v_old","over":"sales","keys":"region","count":"n","sums":"amount AS s_amt","mins":"","maxs":"","avgs":"","where":"note <> 'a\"b\\c'\nAND x > 0","joins":"dim ON sales.k = dim.k AND dim.tag <> 'x\"y'"}}""",
      SqlRouter.MvSpec("v_old", "sales", mvRoot, Seq("region"), "n",
        Seq("s_amt" -> "amount"), where = Some("note <> 'a\"b\\c'\nAND x > 0"),
        joins = Seq("dim" -> "sales.k = dim.k AND dim.tag <> 'x\"y'"))),
    new Format[Seq[String]]("bloom config", s"$dir/bloom/_graft_bloom.json",
      Seq("id", "k__v2"),
      cols => FileBloom.saveConfig(spark, s"$dir/bloom", cols),
      () => FileBloom.config(spark, s"$dir/bloom"),
      """{"bloom":{"cols":"id,name"}}""", Seq("id", "name")),
    new Format[FileBloom.SegEntry]("bloom segment meta", segFile,
      FileBloom.SegEntry(segName, Set("id", "k"),
        Seq("data/u/a\"b\\c.parquet", "data/u/plain.parquet")),
      e => put(segFile, FileBloom.renderMeta(e)),
      () => FileBloom.parseMeta(segName, get(segFile)),
      """{"cols":"id,k","files":["data/u1/part-0.parquet","data/u2/part-1.parquet"]}""",
      FileBloom.SegEntry(segName, Set("id", "k"),
        Seq("data/u1/part-0.parquet", "data/u2/part-1.parquet"))),
    new Format[Option[Int]]("feed cursor", s"$dir/down/_graft_feed/cursor.json", Some(7),
      v => ChangeFeed.writeCursor(spark, s"$dir/down", "/lake/up \"q\"", v.get),
      () => ChangeFeed.cursor(spark, s"$dir/down"),
      """{"upstream":"/lake/up","applied_version":12}""", Some(12))
  )

  formats.foreach { f =>
    test(s"${f.name}: round-trips, and the format on disk still reads")(f.check())
  }
}
