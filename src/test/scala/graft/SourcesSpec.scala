package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Ingestion paths: CSV and JSON-lines with declared schemas round-trip
  * the same rows (the reference's schema-declared ingestion surface),
  * and the parquet catalog serves every table with its expected schema.
  */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType)))

  test("csv ingestion with declared schema") {
    val dir = TestSpark.tempDir("graft_csv").toFile
    val f = new java.io.File(dir, "t.csv")
    Files.writeString(f.toPath, "id,name,score\n1,alpha,1.5\n2,beta,2.5\n")
    val df = Tables.loadAs(spark, f.getPath, "csv", schema)
    assert(df.schema == schema)
    assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet ==
      Set((1L, "alpha", 1.5), (2L, "beta", 2.5)))
  }

  test("json-lines ingestion with declared schema") {
    val dir = TestSpark.tempDir("graft_json").toFile
    val f = new java.io.File(dir, "t.json")
    Files.writeString(f.toPath, """{"id":1,"name":"alpha","score":1.5}""" + "\n" +
      """{"id":2,"name":"beta","score":2.5}""" + "\n")
    val df = Tables.loadAs(spark, f.getPath, "json", schema)
    assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet ==
      Set((1L, "alpha", 1.5), (2L, "beta", 2.5)))
  }

  test("orc round-trip: writeAs orc, loadAs orc with declared schema") {
    val dir = TestSpark.tempDir("graft_orc").toString + "/t"
    val src = Tables.load(spark, TestSpark.sf0001, "nation")
    Tables.writeAs(src, dir, format = "orc")
    val back = Tables.loadAs(spark, dir, "orc", src.schema)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
  }

  test("avro ingestion: container files decode against the declared schema") {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericDatumWriter, GenericRecordBuilder}
    val avroSchema: Schema = SchemaBuilder.record("evt").fields()
      .requiredLong("id")
      .optionalString("name")
      .requiredDouble("score")
      .requiredBoolean("ok")
      .requiredLong("ts_us") // timestamp-micros payload
      .endRecord()
    val dir = TestSpark.tempDir("graft_avro").toFile
    def writeFile(name: String, rows: Seq[(Long, String, Double, Boolean, Long)]): Unit = {
      val w = new DataFileWriter[org.apache.avro.generic.GenericRecord](
        new GenericDatumWriter(avroSchema))
      w.create(avroSchema, new java.io.File(dir, name))
      rows.foreach { case (id, nm, sc, ok, ts) =>
        val b = new GenericRecordBuilder(avroSchema)
          .set("id", id).set("score", sc).set("ok", ok).set("ts_us", ts)
        if (nm != null) b.set("name", nm) else b.set("name", null)
        w.append(b.build())
      }
      w.close()
    }
    writeFile("a.avro", Seq((1L, "alpha", 1.5, true, 1704067200000000L)))
    writeFile("b.avro", Seq((2L, null, 2.5, false, 1704067260500000L),
      (3L, "gamma", -0.5, true, 0L)))
    val target = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("ok", BooleanType),
      StructField("ts_us", TimestampType),
      StructField("absent", LongType))) // not in the files -> null
    val df = Tables.loadAs(spark, dir.getPath, "avro", target)
    assert(df.schema == target)
    val got = df.collect().map(r => (r.getLong(0), r.getString(1),
      r.getDouble(2), r.getBoolean(3), r.getTimestamp(4).getTime,
      r.isNullAt(5))).toSet
    assert(got == Set(
      (1L, "alpha", 1.5, true, 1704067200000L, true),
      (2L, null, 2.5, false, 1704067260500L, true),
      (3L, "gamma", -0.5, true, 0L, true)), got)
    // a mis-typed target column fails with the field name, never nulls
    val bad = StructType(Seq(StructField("name", LongType)))
    val e = intercept[org.apache.spark.SparkException] {
      Tables.loadAs(spark, dir.getPath, "avro", bad).collect()
    }
    assert(e.getMessage != null)
  }

  test("compact bounds file count and keeps files key-disjoint and sorted") {
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tempDir("graft_compact").toString + "/t"
    // fragment: 50 tiny input partitions
    val orders = Tables.load(spark, TestSpark.sf0001, "orders").repartition(50)
    Tables.compact(orders, dir, numFiles = 4, clusterCols = Seq("o_orderkey"))
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.length <= 4, s"expected <= 4 data files, got ${files.length}")
    val back = spark.read.parquet(dir)
    assert(back.count() == orders.count())
    // range clustering: per-file [min,max] o_orderkey intervals don't overlap
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlapping file ranges: $ranges")
      case _ =>
    }
    // rows are sorted within each file (footer min/max useful per row group)
    val disorder = back
      .withColumn("f", input_file_name())
      .withColumn("prev", lag("o_orderkey", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("f")
          .orderBy(monotonically_increasing_id())))
      .filter(col("prev") > col("o_orderkey")).count()
    assert(disorder == 0, "rows not sorted within compacted files")
  }

  test("compact refuses in-place overwrite of its own input") {
    val dir = TestSpark.tempDir("graft_inplace").toString + "/t"
    val src = Tables.load(spark, TestSpark.sf0001, "region")
    Tables.writeAs(src, dir)
    val e = intercept[IllegalArgumentException] {
      Tables.compact(spark.read.parquet(dir), dir, numFiles = 1)
    }
    assert(e.getMessage.contains("cannot overwrite its own input"))
  }

  test("rebalance splits a single-partition input, leaves healthy layouts alone") {
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val target = spark.sessionState.conf.numShufflePartitions
    assume(docs.rdd.getNumPartitions * 2 < target) // single row group => 1 task
    assert(Tables.rebalance(docs).rdd.getNumPartitions == target)
    val healthy = docs.repartition(target)
    // already at target parallelism: returned as-is, no extra exchange
    assert(Tables.rebalance(healthy) eq healthy)
  }

  test("unsupported format is rejected with a clear error") {
    val e = intercept[IllegalArgumentException] {
      Tables.loadAs(spark, "/tmp/x", "xml", schema)
    }
    assert(e.getMessage.contains("unsupported format"))
  }

  test("partitioned write prunes directories on read") {
    val dir = TestSpark.tempDir("graft_part").toString
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    Tables.writeAs(docs, dir, partitionBy = Seq("lang"))
    val back = spark.read.parquet(dir).filter(org.apache.spark.sql.functions.col("lang") === "en")
    assert(back.count() == docs.filter("lang = 'en'").count())
    // partition filter appears as PartitionFilters, not a data filter
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan.take(400))
  }

  test("zorder narrows per-file ranges on BOTH columns; plain sort only on one") {
    import org.apache.spark.sql.functions._
    // two independent uniform dimensions — the case a single-column
    // sort cannot cluster
    val df = spark.range(100_000L).select(
      (col("id") * 2654435761L % 100000L).as("x"),
      (col("id") * 1103515245L % 100000L).as("y"))
    def fileRanges(path: String, c: String): Array[(Long, Long)] =
      spark.read.parquet(path).groupBy(input_file_name())
        .agg(min(col(c)).as("lo"), max(col(c)).as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
    def avgSpan(rs: Array[(Long, Long)]): Double =
      rs.map { case (lo, hi) => (hi - lo).toDouble }.sum / rs.length
    val zdir = TestSpark.tempDir("graft_z").toString + "/t"
    Tables.zorder(df, zdir, numFiles = 16, cols = Seq("x", "y"))
    val zx = avgSpan(fileRanges(zdir, "x"))
    val zy = avgSpan(fileRanges(zdir, "y"))
    // 16 files ~ 2 z-bits per dimension: each file should cover well
    // under half of EACH dimension's global range (uniform data)
    assert(zx < 50000 && zy < 50000, s"z-order spans x=$zx y=$zy")
    // control: the 1-D clustered rewrite narrows x but leaves y global
    val cdir = TestSpark.tempDir("graft_z1").toString + "/t"
    Tables.compact(df, cdir, numFiles = 16, clusterCols = Seq("x"))
    val cx = avgSpan(fileRanges(cdir, "x"))
    val cy = avgSpan(fileRanges(cdir, "y"))
    assert(cx < 10000, s"1-D clustering must narrow its own column, x=$cx")
    assert(cy > 90000, s"1-D clustering cannot narrow the other column, y=$cy")
    // the z-layout's worse-x-but-good-y trade is the point: BOTH
    // narrow, so predicates on either column skip most files
    assert(zy < cy / 2, s"z-order must beat 1-D on the second column: $zy vs $cy")
    // row preservation
    assert(spark.read.parquet(zdir).count() == 100_000L)
  }

  test("zorder rejects bad shapes loudly") {
    import org.apache.spark.sql.functions._
    val df = spark.range(10L).select(col("id").as("x"), col("id").as("y"))
    val dir = TestSpark.tempDir("graft_zbad").toString + "/t"
    intercept[IllegalArgumentException] { Tables.zorder(df, dir, 2, Seq("x")) }
    intercept[IllegalArgumentException] { Tables.zorder(df, dir, 2, Seq("x", "y"), bits = 40) }
    intercept[IllegalArgumentException] {
      Tables.zorder(df.withColumn("_zkey", lit(1)), dir, 2, Seq("x", "y"))
    }
    // an unrankable type: loud, names the column and the remedy
    // (strings are SUPPORTED since round 9 — the prefix surrogate)
    val e = intercept[IllegalArgumentException] {
      Tables.zorder(df.withColumn("a", array(lit(1))), dir, 2, Seq("x", "a"))
    }
    assert(e.getMessage.contains("a: array"), e.getMessage)
    // and the string path lays out without error
    Tables.zorder(df.withColumn("s", concat(lit("v"), col("x"))),
      s"$dir-str", 2, Seq("x", "s"))
    assert(spark.read.parquet(s"$dir-str").count() == 10L)
  }

  test("quantile bucket: upper-bound semantics, null first, NaN last, codegen agrees") {
    import graft.plans.QuantileBucket
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val b = Array(1.0, 2.0, 2.0, 3.0) // duplicate boundary = skewed column
    assert(QuantileBucket.bucket(b, 0.5) == 0L)
    assert(QuantileBucket.bucket(b, 1.0) == 1L) // <= is upper bound
    assert(QuantileBucket.bucket(b, 2.0) == 3L) // past BOTH duplicates
    assert(QuantileBucket.bucket(b, 2.5) == 3L)
    assert(QuantileBucket.bucket(b, 9.0) == 4L)
    assert(QuantileBucket.bucket(b, Double.NaN) == 4L)
    assert(QuantileBucket.bucket(Array.empty[Double], 7.0) == 0L)
    // end-to-end through the projection (whole-stage codegen path):
    // same answers, null -> bucket 0
    import spark.implicits._
    val out = Seq[Option[Double]](Some(0.5), Some(1.0), Some(2.0), Some(2.5),
        Some(9.0), None, Some(Double.NaN)).toDF("v")
      .select(ColumnBridge.column(
        QuantileBucket(ColumnBridge.expression(col("v")), b)).as("bkt"))
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(0L, 1L, 3L, 3L, 4L, 0L, 4L), out)
  }

  test("co-bucketed tables join with zero shuffle") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    // a previous JVM's managed-table location survives the in-memory
    // catalog — drop both name and location before re-creating
    Seq("b_orders", "b_customer").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    val orders = Tables.load(spark, TestSpark.sf0001, "orders")
    val customer = Tables.load(spark, TestSpark.sf0001, "customer")
    Tables.writeBucketed(orders.withColumnRenamed("o_custkey", "custkey"), "b_orders", 4, Seq("custkey"))
    Tables.writeBucketed(customer.withColumnRenamed("c_custkey", "custkey"), "b_customer", 4, Seq("custkey"))
    // disable broadcast so the join would otherwise shuffle both sides;
    // restore whatever the session had, not a hard-coded default
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_customer"), "custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n${plan.take(600)}")
      assert(joined.count() == orders.count()) // every order has a customer
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("catalog serves all ten tables; events.ts is a usable timestamp") {
    Tables.names.foreach { n =>
      val df = Tables.load(spark, TestSpark.sf0001, n)
      assert(df.columns.nonEmpty, n)
    }
    val events = Tables.load(spark, TestSpark.sf0001, "events")
    assert(events.schema("ts").dataType == TimestampType)
  }

  test("concurrent loads never observe the flipped nanosAsLong flag") {
    // regression for the QueryServer-shaped race: while one thread
    // resolves the events schema (nanosAsLong temporarily true), other
    // threads load and read other tables; the session lock must keep
    // every load's schema resolution and the flag's flipped window
    // mutually exclusive, and the flag must end up restored
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val work = (1 to 24).map { i =>
      Future {
        val name = if (i % 2 == 0) "events" else Tables.names(i % Tables.names.size)
        val df = Tables.load(spark, TestSpark.sf0001, name)
        if (name == "events") assert(df.schema("ts").dataType == TimestampType)
        df.limit(1).collect().length
      }
    }
    assert(Await.result(Future.sequence(work), 120.seconds).forall(_ == 1))
    assert(spark.conf.getOption(key) == before, "flag leaked past the loads")
  }

  test("analyze: exact stats in one pass; approx ndv within HLL tolerance; guards") {
    val cust = Tables.load(spark, TestSpark.sf0001, "customer")
    val exact = Tables.analyze(cust, Seq("c_custkey", "c_mktsegment"), exact = true)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    val n = cust.count()
    val segs = cust.select("c_mktsegment").distinct().count()
    assert(exact("c_custkey") == ((n, 0L, n, "0", (n - 1).toString)))
    assert(exact("c_mktsegment")._1 == n && exact("c_mktsegment")._3 == segs)
    // approx mode: ndv within HLL's default ~5% band (generous 15% here)
    val approx = Tables.analyze(cust, Seq("c_custkey")).collect().head.getLong(3)
    assert(math.abs(approx - n).toDouble / n < 0.15, s"approx ndv $approx vs $n")
    // one scan: a single aggregate over the source, no join in the plan
    val plan = Tables.analyze(cust, Seq("c_custkey", "c_mktsegment"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(400))
    intercept[IllegalArgumentException] {
      Tables.analyze(cust, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      Tables.analyze(cust, Seq.empty)
    }
  }
}
