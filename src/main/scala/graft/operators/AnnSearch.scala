package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Approximate-nearest-neighbor building blocks over embedding
  * columns. Three tiers, increasingly scalable:
  *   1. brute force (q38) — exact baseline, full scan per query;
  *   2. sign-bucket LSH (q44) — random-hyperplane buckets, no training;
  *   3. IVF (q56) — coarse centroids as an inverted file: vectors are
  *      assigned to their nearest centroid, queries search only their
  *      centroid's list (nprobe=1 here; union more buckets to raise
  *      recall).
  *
  * Determinism: centroids are exact decimal averages rounded to 6
  * digits (partitioning-independent), and every distance/similarity is
  * the same fixed-order left-to-right array fold on both engines — so
  * argmin assignments can't flip between runs or engines (the q38
  * parity precedent).
  */
object AnnSearch {

  /** Element-wise mean vector per `labelCol` group as an ordered double
    * array: (clabel, cent). Exact-decimal averages rounded to 6 digits
    * — partitioning-independent, so the same data gives bit-identical
    * centroids on any cluster size.
    *
    * Explode + groupBy(clabel, pos) + collect_list — deliberately NOT
    * the round-11 "one wide hash aggregate with dims decimal-avg
    * columns": at dims=64 that form carries ~128 aggregation-buffer
    * fields, over `spark.sql.codegen.maxFields` (100), so the hot
    * map side fell out of WholeStageCodegen into interpreted decimal
    * aggregation; raising maxFields instead traded it for multi-second
    * Janino compiles of the giant generated method (measured round 12:
    * q101 11.4 s → 18.7 s with maxFields=260, and the whole ANN family
    * regressed ×1.3–1.6 vs the round-10 explode form in a quiet A/B).
    * This form keeps every stage inside default codegen limits: the
    * explode multiplies rows ×dims, but they stream through a
    * codegen'd partial aggregate (map-side combine, guide §2.3), the
    * first exchange carries k×dims PARTIAL rows, and the second
    * (k×dims → k arrays) is k rows of payload. Values are
    * bit-identical in both forms (same DECIMAL(18,9) avg per
    * position). */
  private def meanCentroids(vecs: DataFrame, dims: Int, labelCol: String): DataFrame =
    vecs
      .select(col(labelCol).as("clabel"), explode(sequence(lit(1), lit(dims))).as("pos"),
        col("embedding"))
      .groupBy("clabel", "pos")
      .agg(round(avg(element_at(col("embedding"), col("pos")).cast(DecimalType(18, 9))), 6)
        .cast("double").as("c"))
      .groupBy("clabel")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cent"))

  /** Per-`labelCol` element-wise centroids as ordered double arrays:
    * (clabel, cent). `dims` = embedding width. A stand-in quantizer for
    * corpora that carry labels; unlabeled corpora train with
    * [[kmeansCentroids]]. */
  def centroids(emb: DataFrame, dims: Int, labelCol: String = "label"): DataFrame =
    meanCentroids(emb, dims, labelCol)

  /** Trained IVF quantizer: deterministic sampled k-means. Output
    * (clabel, cent) — drop-in for [[centroids]] in
    * [[assignBuckets]]/[[probeBuckets]]/[[searchIvf]], for corpora with
    * no labels (the real-world case).
    *
    * Everything is deterministic, on any engine or cluster size:
    *   - the training sample is content-addressed (md5(vec_id) below a
    *     hex-prefix `sampleBound`, the [[graft.operators.Sampling]]
    *     convention — no rand(), no partition-order dependence);
    *   - seeds are the first `k` sample vectors in (md5(vec_id),
    *     vec_id) order — a uniform pseudo-random draw that is still a
    *     total order (TakeOrderedAndProject, no driver collect);
    *   - each Lloyd round reassigns with the same argmin as
    *     [[assignBuckets]] (struct ordering, NaN greatest) and
    *     recomputes means in exact decimal rounded to 6 digits
    *     ([[meanCentroids]]), so round results never depend on
    *     partitioning or fp reduction order;
    *   - the iteration count is FIXED (no data-dependent convergence
    *     stop), so two runs always do identical work.
    *
    * A cluster that loses all members keeps its previous centroid
    * (coalesce against the prior round) — k never silently shrinks.
    *
    * Scale shape per round: one zero-shuffle broadcast argmin over the
    * SAMPLE + the two meanCentroids shuffles (sample x dims rows); the
    * full corpus is only touched once, by the final [[assignBuckets]]
    * the caller does. Centroids stay distributed (k rows,
    * localCheckpoint per round to keep the plan flat); the driver never
    * holds a vector.
    *
    * The result is a LAZY checkpoint: the last Lloyd round materializes
    * on the caller's first action, not inside this call. Run one action
    * on it (or checkpoint it eagerly) before fanning it into several
    * concurrent actions — otherwise each recomputes the last round
    * (deterministically, so the rows agree; only the work repeats).
    *
    * `sampleBound`: lowercase-hex md5 prefix bound ("4" keeps 4/16 =
    * 25% in expectation); None trains on every vector.
    *
    * `init`: `"md5"` seeds with the first k sample vectors in md5
    * order — one pass, but a pseudo-RANDOM draw: with k seeds over k
    * well-separated clusters the chance of hitting each exactly once
    * is k!/k^k (~0.2% at k=8), so duplicated/missed clusters are the
    * EXPECTED outcome, as for any random init. `"farthest"` is the
    * deterministic fix: greedy farthest-first traversal (the k-center
    * 2-approximation) — seed 1 by md5 order, then k-1 passes each
    * taking the vector with the LARGEST min-distance to the seeds so
    * far (ties by (md5, id); NaN/null distances order last so
    * degenerate vectors are never picked). Costs k-1 extra broadcast
    * passes over the sample; on well-separated clusters it provably
    * captures every cluster (ScaleSpec proves it at 1M vectors).
    * Reserved working columns on `emb`: `_cs`, `bucket`, `_mind`.
    */
  def kmeansCentroids(emb: DataFrame, dims: Int, k: Int, iters: Int = 5,
                      sampleBound: Option[String] = Some("4"),
                      vecIdCol: String = "vec_id",
                      init: String = "md5"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(init == "md5" || init == "farthest", s"unknown init '$init'")
    sampleBound.foreach(b =>
      require(b.nonEmpty && b.forall(c => ('0' <= c && c <= '9') || ('a' <= c && c <= 'f')),
        s"sampleBound '$b' is not lowercase hex"))
    val key = md5(col(vecIdCol).cast("string"))
    // Materialized once (the repo's intra-query reuse convention):
    // lazily-planned, the md5 filter + projection over the full input
    // would re-run for the seeding pass, each of the k-1 farthest
    // passes, and every Lloyd round — 2+iters(+k-1) full re-scans with
    // the hash recomputed each time. localCheckpoint(false) — LAZY,
    // the connectedComponents discipline: the seeding pass (the first
    // job that reads it) materializes the checkpoint as its side
    // effect, where the eager default runs a separate
    // materialization-only job first (round 12: each eager checkpoint
    // in this family costs one extra ~0.2 s single-task job at sf0.1,
    // and the family runs 2+iters of them per query).
    val sample = sampleBound.fold(emb)(b => emb.filter(key < lit(b)))
      .select(col(vecIdCol), col("embedding")).localCheckpoint(false)
    val seedOrd = Seq(key, col(vecIdCol))
    val asCent = transform(col("embedding"), x => x.cast("double")).as("cent")
    var cents =
      if (init == "md5")
        // row_number over k rows: the unpartitioned window is fine —
        // the frame was already reduced to k rows by TakeOrderedAndProject
        sample.orderBy(seedOrd: _*).limit(k)
          .withColumn("clabel", row_number().over(Window.orderBy(seedOrd: _*)))
          .select(col("clabel"), asCent)
          .localCheckpoint(false) // lazy: the seeding require's count materializes it
      else {
        var seeds = sample.orderBy(seedOrd: _*).limit(1)
          .select(lit(1).as("clabel"), asCent).localCheckpoint(false)
        for (i <- 2 to k) {
          val far = withCentroidArray(sample, seeds, "_mind")
            .withColumn("_mind", array_min(distStructs).getField("d"))
            .drop("_cs")
            // negate + asc_nulls_last = farthest first, with NaN
            // (negate(NaN) = NaN sorts greatest) and NULL distances
            // LAST — a degenerate vector can never become a seed
            .orderBy(negate(col("_mind")).asc_nulls_last +: seedOrd: _*)
            .limit(1)
          seeds = seeds.union(far.select(lit(i).as("clabel"), asCent))
            // lazy: the next pass's centroid-array broadcast build (or
            // the seeding require) materializes it
            .localCheckpoint(false)
        }
        seeds
      }
    // Fail loudly if the sample cannot seed k clusters (tiny input, or
    // an over-tight bound — e.g. "0" is valid hex but keeps NOTHING,
    // every md5 string compares >= "0"): silently returning fewer
    // centroids would hand the caller an index with fewer buckets than
    // they asked for, and downstream searches would quietly degrade.
    val seeded = cents.count()
    require(seeded == k,
      s"k-means sample seeded only $seeded of k=$k clusters — widen " +
        s"sampleBound ($sampleBound) or lower k")
    for (_ <- 1 to iters) {
      val assigned = assignBuckets(sample, cents)
      cents = cents
        .join(meanCentroids(assigned, dims, "bucket")
          .withColumnRenamed("cent", "ncent"), Seq("clabel"), "left")
        .select(col("clabel"), coalesce(col("ncent"), col("cent")).as("cent"))
        // lazy: the next round's centroid-array broadcast build (or the
        // caller's first action) materializes it — one job per Lloyd
        // round instead of two
        .localCheckpoint(false)
    }
    cents
  }

  /** Squared L2 distance between a float embedding and a double
    * centroid array — one flat primitive eval loop
    * ([[graft.plans.FloatDoubleSqDist]] via Vectors.sqDist) with the
    * same left-to-right double fold as the oracle's
    * list_sum/list_transform (bit-identity differential-tested against
    * [[sqDistHof]] in VectorExprSpec). Inside the `transform` lambda
    * below it runs interpreted (HOFs are CodegenFallback) — the win
    * over the old nested aggregate(zip_with(...)) is one loop per
    * distance instead of per-element closure dispatch (measured
    * q56 1.5 -> 1.0 s at sf0.1). */
  private def sqDist(v: Column, cent: Column): Column =
    graft.functions.Vectors.sqDist(v, cent)

  /** HOF twin of [[sqDist]] — differential-test surface only. */
  private[graft] def sqDistHof(v: Column, cent: Column): Column =
    aggregate(zip_with(v, cent, (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Shared prologue of [[assignBuckets]]/[[probeBuckets]]: rejects
    * reserved columns on the input and crossJoins the single broadcast
    * row holding all centroids as a `_cs` array of (clabel, cent)
    * structs (empty centroid table => empty result). Centroid fixes
    * (NaN handling, empty-table semantics) live HERE, once. */
  private def withCentroidArray(emb: DataFrame, cents: DataFrame,
                                outCol: String): DataFrame = {
    val reserved = Seq("_cs", outCol).filter(emb.columns.contains)
    require(reserved.isEmpty,
      s"reserved working columns ${reserved.mkString(", ")} — rename them on the input")
    val centArr = cents
      .agg(collect_list(struct(col("clabel"), col("cent"))).as("_cs"))
      .filter(size(col("_cs")) > 0)
    emb.crossJoin(broadcast(centArr))
  }

  /** Per-centroid (distance, label) structs for one embedding — the
    * ordering key both argmin and rank share. */
  private def distStructs: Column = transform(col("_cs"),
    c => struct(sqDist(col("embedding"), c.getField("cent")).as("d"),
      c.getField("clabel").as("l")))

  /** Assign each vector to its nearest centroid (ties by centroid
    * label): adds a `bucket` column. The centroid table collapses to a
    * single broadcast row (an array of (clabel, cent) structs), and the
    * argmin is `array_min` over per-centroid (distance, label) structs
    * computed INSIDE the vector scan — zero shuffles, embarrassingly
    * parallel, where a window/row_number argmin would shuffle and sort
    * |vectors| x |centroids| rows. Struct ordering compares (d, label)
    * lexicographically with NaN ordered greatest — exactly the previous
    * ORDER BY (d2, clabel) semantics, including NaN distances — and
    * each distance is computed once per (vector, centroid) pair.
    *
    * An empty centroid table yields an empty result (as the join
    * formulation did). Reserved working column names (must not exist on
    * `emb`): `_cs`, `bucket` — the same convention Skew.saltedJoin
    * documents for `_salt`. */
  def assignBuckets(emb: DataFrame, cents: DataFrame): DataFrame =
    withCentroidArray(emb, cents, "bucket")
      .withColumn("bucket", array_min(distStructs).getField("l"))
      .drop("_cs")

  /** [[assignBuckets]] plus the squared distance TO the chosen
    * centroid: adds (`bucket`, `d2`) — d2 is the vector's quantization
    * error, the per-row input of index-health reports (q108). Same
    * zero-shuffle broadcast argmin, same (d, label) tie/NaN ordering;
    * reserved columns: `_cs`, `_m`, `bucket`, `d2`. */
  def assignBucketsWithDist(emb: DataFrame, cents: DataFrame): DataFrame = {
    val reserved = Seq("_m", "d2").filter(emb.columns.contains)
    require(reserved.isEmpty,
      s"reserved working columns ${reserved.mkString(", ")} — rename them on the input")
    withCentroidArray(emb, cents, "bucket")
      .withColumn("_m", array_min(distStructs))
      .withColumn("bucket", col("_m").getField("l"))
      .withColumn("d2", col("_m").getField("d"))
      .drop("_cs", "_m")
  }

  /** The `nprobe` nearest centroid labels per vector, as a `buckets`
    * array ordered nearest-first (ties by label, same struct ordering
    * as [[assignBuckets]] — element 1 of the array IS assignBuckets'
    * `bucket`). Used on the QUERY side of an IVF search: probing more
    * buckets trades extra candidate scans for recall, the standard IVF
    * recall knob. Same zero-shuffle broadcast shape as
    * [[assignBuckets]]; reserved columns: `_cs`, `buckets`. */
  def probeBuckets(emb: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    withCentroidArray(emb, cents, "buckets")
      .withColumn("buckets",
        transform(slice(array_sort(distStructs), 1, nprobe), x => x.getField("l")))
      .drop("_cs")
  }

  /** IVF search: exact-cosine top-`k` base vectors per query, scanning
    * only the base lists of each query's probed buckets.
    *
    * `base` needs (vec_id, embedding, bucket) — from [[assignBuckets]];
    * `queries` needs (qid, qemb, buckets) — from [[probeBuckets]] with
    * the embedding column renamed. Plan shape: queries explode to
    * (qid, probe) — |queries| x nprobe rows — then an equi-join on
    * bucket prunes the base scan to probed lists; the planner
    * broadcasts the probe side when it is small and falls back to a
    * shuffle join for mass query batches (no forced hint — a forced
    * broadcast would OOM the driver on millions of queries). Ranking
    * is one window per qid over candidates only; base norms are
    * computed once per candidate row, queries' once per exploded row;
    * ties broken by vec_id so top-k is total-ordered. Degenerate
    * candidates never displace real neighbors: a zero-norm vector
    * yields cos = NaN, and the rank orders by -cos ASCENDING NULLS
    * LAST, where NaN sorts greatest — so NaN ranks after every real
    * similarity (the assignBuckets NaN convention) and a NULL cosine
    * (null/mismatched-length embedding) ranks after even those. */
  def searchIvf(base: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val probes = queries.select(col("qid"), col("qemb"),
      explode(col("buckets")).as("probe"))
    val scored = base.join(probes, col("bucket") === col("probe"))
      .select(col("qid"), col("vec_id"),
        (graft.functions.Vectors.dot(col("qemb"), col("embedding")) /
          (graft.functions.Vectors.l2Norm(col("qemb")) *
            graft.functions.Vectors.l2Norm(col("embedding")))).as("cos"))
    val w = Window.partitionBy("qid")
      .orderBy(negate(col("cos")).asc_nulls_last, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("qid", "vec_id", "cos", "rn")
  }
}
