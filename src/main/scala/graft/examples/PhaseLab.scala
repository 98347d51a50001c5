package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev scratch: phase-by-phase wall attribution inside one composite
  * query (currently the q101 IVF-PQ stack), cold then warm in the same
  * session — separates JIT/codegen first-run cost from plan cost.
  * Not part of any graded path.
  */
object PhaseLab {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[phase] $name ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
    }
    spark.range(10000).selectExpr("id", "id % 7 AS k").groupBy("k")
      .agg(sum("id")).collect()
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    for (round <- 1 to 2) {
      println(s"=== run $round")
      val coarse = t("kmeans build+ckpt") {
        graft.operators.AnnSearch.kmeansCentroids(emb, 64, 4, 2, None).localCheckpoint()
      }
      val res = t("residuals ckpt") {
        graft.operators.Pq.residuals(emb, coarse).localCheckpoint()
      }
      val book = t("pq.train ckpt") {
        graft.operators.Pq.train(res, 64, 2, 4, 1, None).localCheckpoint()
      }
      val codes = graft.operators.Pq.encode(res, book, 64, 2)
      val q0 = t("q0 collect") {
        res.filter(col("vec_id") === 0).select(col("embedding"), col("bucket"))
          .collect().headOption.getOrElse(throw new IllegalStateException(
            "PhaseLab queries vec_id 0, which this embeddings table does not hold"))
      }
      val cands = codes.join(
        res.filter(col("bucket") === q0.getInt(1)).select("vec_id"),
        Seq("vec_id"), "left_semi")
      t("search count") {
        graft.operators.Pq.search(cands, book, q0.getSeq[Float](0).toArray,
          64, 2, 10).count()
      }
    }
    spark.stop()
  }
}
