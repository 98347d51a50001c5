package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Product quantization (PQ) for embedding columns — the MEMORY-bound
  * ANN tier. IVF (q56) bounds how many vectors a query scans; PQ
  * bounds how many BYTES each vector costs: the embedding is split
  * into `m` contiguous subvectors, each subspace gets its own
  * k-entry codebook (trained with the same deterministic sampled
  * k-means as IVF — [[AnnSearch.kmeansCentroids]] per subspace), and
  * a vector is stored as its `m` nearest-code ids — e.g. 64 float32
  * dims (256 B) become 8 single-byte codes at k <= 256, a 32x
  * compression that is what lets a 100 TB embedding corpus live in
  * cluster memory for search.
  *
  * Search is asymmetric distance computation (ADC): the query builds
  * an m x k table of exact subspace distances to every code (a tiny
  * broadcast — the codebook is m*k rows), and each encoded vector's
  * approximate distance is the sum of its m table lookups — one
  * explode, one broadcast join, one groupBy; no per-pair float math
  * at scan time.
  *
  * Determinism (the repo's §5 rules): codebooks inherit
  * kmeansCentroids' content-addressed sampling and exact-decimal
  * means; code assignment is the same struct-argmin (ties to the
  * lower label, NaN greatest) as [[AnnSearch.assignBuckets]]; ADC
  * table entries are rounded to 6 decimals and summed as
  * DECIMAL(18,6), so the total never depends on partial-aggregation
  * order; the final top-n orders by (distance, id) — a total order.
  *
  * Composes with IVF: coarse-quantize with kmeansCentroids, PQ-encode
  * the residual-free vectors per bucket, ADC within probed buckets —
  * the standard IVF-PQ layout; both halves are these two operators.
  */
object Pq {

  private def subWidth(dims: Int, m: Int): Int = {
    require(m >= 1 && dims >= 1 && dims % m == 0,
      s"dims ($dims) must split into m ($m) equal subspaces")
    dims / m
  }

  /** The embedding column, or a loud per-row error naming the vector
    * if its width is not `dims` (null counts as a violation): a short
    * or ragged vector would otherwise be silently sliced/null-padded
    * into NaN-free partial distances and encoded to an arbitrary code
    * — against the repo's loud-misassignment convention. */
  private def checkedEmbedding(idCol: Column, dims: Int, op: String): Column =
    when(size(col("embedding")) === dims, col("embedding"))
      .otherwise(raise_error(concat(
        lit(s"Pq.$op: embedding of "), idCol.cast("string"),
        lit(s" has width "),
        coalesce(size(col("embedding")).cast("string"), lit("null")),
        lit(s", expected $dims — fix or filter malformed vectors upstream"))))

  /** `d`, or a loud error if the (sub, code) lookup missed: an
    * inner join would silently drop the row, under-summing adc_dist
    * or losing the vector from the top-n — a mismatched codebook
    * (wrong m/k or training run) must fail, not corrupt ranks. */
  private def checkedLookup(d: Column, what: String): Column =
    when(d.isNotNull, d).otherwise(raise_error(concat(
      lit(s"Pq: no codebook entry for (sub="), col("sub").cast("string"),
      lit(", code="), col("code").cast("string"),
      lit(s") while computing $what — codebook/codes mismatch (wrong m, k, or training run)"))))

  /** Codes arrays must have exactly m entries: a LONGER array is
    * caught by [[checkedLookup]] (its extra subs miss the codebook),
    * but a SHORTER one (encoded with a smaller m) would hit on every
    * lookup and silently under-sum adc_dist / truncate the decode —
    * the quiet-corruption case the loud-mismatch contract exists
    * for. */
  private def checkedCodes(vecIdCol: String, m: Int, op: String): Column =
    when(size(col("codes")) === m, col("codes"))
      .otherwise(raise_error(concat(
        lit(s"Pq.$op: vector "), col(vecIdCol).cast("string"),
        lit(" has "), size(col("codes")).cast("string"),
        lit(s" codes, expected m=$m — encoded with a different m?"))))

  /** Per-centroid (distance, label) structs against the per-sub `_cs`
    * codebook array — the same ordering key AnnSearch.assignBuckets
    * uses, so argmin/min-distance semantics (ties to the lower label,
    * NaN greatest) are identical across encode, train, and IVF. */
  private def distStructs: Column = transform(col("_cs"), s =>
    struct(graft.functions.Vectors.sqDist(col("embedding"), s.getField("c")).as("d"),
      s.getField("l").as("l")))

  /** The codebook collapsed to one broadcastable row PER SUBSPACE:
    * (sub, _cs = array of (l, c) structs) — m rows total. */
  private def perSubArray(codebook: DataFrame): DataFrame =
    codebook.groupBy("sub")
      .agg(collect_list(struct(col("clabel").as("l"), col("cent").as("c"))).as("_cs"))

  /** Train one deterministic k-means codebook per subspace: output
    * (sub, clabel, cent) with m*k rows, cent of width dims/m.
    *
    * All m trainings run in ONE grouped Lloyd loop keyed by `sub`
    * rather than m sequential kmeansCentroids calls: the sample is
    * materialized once (the md5(vec_id) filter is subspace-blind, so
    * every subspace trains on the same rows), exploded to (vec_id,
    * sub, subvector), and each round does one broadcast argmin + one
    * grouped exact-decimal mean over all subspaces simultaneously.
    * That cuts the job's barrier count from O(m * iters) sequential
    * checkpoint/collect rounds to O(iters) — at 100 TB the sequential
    * form is stage-latency-bound (each subspace's tiny k-row
    * checkpoint is a full-cluster barrier), the grouped form does the
    * same arithmetic in 1/m the stages and keeps every executor busy
    * across all subspaces at once.
    *
    * Bit-identical to training each subspace independently (the
    * [[trainPerSubspace]] twin, differential-tested in PqSpec): seeds
    * are the SAME first-k sample vectors in (md5(vec_id), vec_id)
    * order for every subspace (the order never looks at the vector),
    * assignment is the same struct-argmin, means the same
    * DECIMAL(18,9) avg rounded to 6, empty clusters keep their prior
    * centroid, and `"farthest"` init runs the same greedy traversal
    * per subspace (each subspace picks its OWN farthest vector — a
    * grouped min-struct per pass, nulls ordered after NaN after real
    * distances, exactly kmeansCentroids' asc_nulls_last order).
    *
    * Like [[AnnSearch.kmeansCentroids]], the codebook is a LAZY
    * checkpoint: its last round materializes on the caller's first
    * action. Run one action on it before fanning it into several
    * concurrent actions, or each recomputes that round. */
  def train(emb: DataFrame, dims: Int, m: Int, k: Int, iters: Int = 5,
            sampleBound: Option[String] = Some("4"),
            vecIdCol: String = "vec_id", init: String = "md5"): DataFrame = {
    val w = subWidth(dims, m)
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(init == "md5" || init == "farthest", s"unknown init '$init'")
    sampleBound.foreach(b =>
      require(b.nonEmpty && b.forall(c => ('0' <= c && c <= '9') || ('a' <= c && c <= 'f')),
        s"sampleBound '$b' is not lowercase hex"))
    val key = md5(col(vecIdCol).cast("string"))
    val checked = emb.select(col(vecIdCol),
      checkedEmbedding(col(vecIdCol), dims, "train").as("embedding"))
    // Materialized once for the whole codebook (vs once per subspace
    // in the sequential form) — seeding, farthest passes, and every
    // Lloyd round re-derive their subvector slices from this.
    val sample = sampleBound.fold(checked)(b => checked.filter(key < lit(b)))
      // lazy (the connectedComponents discipline): the seeding pass
      // materializes it with its own job instead of a separate
      // materialization-only job per checkpoint
      .localCheckpoint(false)
    // Narrow re-derivable projection: each sample vector's m slices.
    val subs = sample.select(col(vecIdCol),
      explode(sequence(lit(0), lit(m - 1))).as("sub"), col("embedding"))
      .select(col(vecIdCol), col("sub"),
        slice(col("embedding"), col("sub") * w + 1, lit(w)).as("embedding"))
    val seedOrd = Seq(key, col(vecIdCol))
    def sliced(label: Column) = Seq(col("sub"), label.as("clabel"),
      transform(slice(col("embedding"), col("sub") * w + 1, lit(w)),
        x => x.cast("double")).as("cent"))
    var cents: DataFrame =
      if (init == "md5")
        // the k seed VECTORS are shared across subspaces (the order is
        // subspace-blind); each subspace's seed j is vector j's slice
        sample.orderBy(seedOrd: _*).limit(k)
          .withColumn("clabel", row_number().over(Window.orderBy(seedOrd: _*)))
          .select(col("clabel"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
            col("embedding"))
          .select(sliced(col("clabel")): _*)
          .localCheckpoint(false) // lazy: the seeding require's count materializes it
      else {
        var seeds = sample.orderBy(seedOrd: _*).limit(1)
          .select(explode(sequence(lit(0), lit(m - 1))).as("sub"), col("embedding"))
          .select(sliced(lit(1)): _*).localCheckpoint(false)
        for (i <- 2 to k) {
          // per-subspace farthest-first pick as ONE grouped min-struct
          // pass (vs an orderBy().limit(1) per subspace per pass): the
          // null flag orders null min-distances after NaN (negate(NaN)
          // = NaN sorts greatest among non-null doubles) — exactly
          // kmeansCentroids' negate(d).asc_nulls_last, (md5, id) ties
          val far = subs.join(broadcast(perSubArray(seeds)), Seq("sub"))
            .withColumn("_mind", array_min(distStructs).getField("d"))
            .groupBy("sub")
            .agg(min(struct(
              when(col("_mind").isNull, 1).otherwise(0).as("nf"),
              negate(col("_mind")).as("nd"),
              key.as("h"), col(vecIdCol).as("id"),
              col("embedding").as("e"))).as("_p"))
            .select(col("sub"), lit(i).as("clabel"),
              transform(col("_p").getField("e"), x => x.cast("double")).as("cent"))
          seeds = seeds.unionByName(far).localCheckpoint(false)
        }
        seeds
      }
    // Same loud seeding contract as kmeansCentroids: fewer than k
    // codes per subspace would silently degrade every search.
    val seeded = cents.count()
    require(seeded == m.toLong * k,
      s"PQ sample seeded only $seeded of m*k=${m * k} codebook entries — " +
        s"widen sampleBound ($sampleBound) or lower k")
    for (_ <- 1 to iters) {
      val assigned = subs.join(broadcast(perSubArray(cents)), Seq("sub"))
        .withColumn("bucket", array_min(distStructs).getField("l"))
      // meanCentroids' exact-decimal element-wise mean, grouped by
      // (sub, bucket): identical arithmetic, 1/m the barriers. The
      // explode + (sub, clabel, pos) aggregate form, like
      // AnnSearch.meanCentroids — the round-11 wide decimal-avg
      // aggregate fell out of WholeStageCodegen (buffer fields >
      // codegen maxFields at larger w) and measured slower in the
      // round-12 quiet A/B; this form keeps the partial aggregate
      // codegen'd and shuffles only partial rows (guide §2.3).
      val means = assigned
        .select(col("sub"), col("bucket").as("clabel"),
          explode(sequence(lit(1), lit(w))).as("pos"), col("embedding"))
        .groupBy("sub", "clabel", "pos")
        .agg(round(avg(element_at(col("embedding"), col("pos")).cast(DecimalType(18, 9))), 6)
          .cast("double").as("c"))
        .groupBy("sub", "clabel")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("ncent"))
      cents = cents.join(means, Seq("sub", "clabel"), "left")
        .select(col("sub"), col("clabel"),
          coalesce(col("ncent"), col("cent")).as("cent"))
        // lazy: the next round's per-sub codebook broadcast build (or
        // the caller's first action) materializes it
        .localCheckpoint(false)
    }
    cents
  }

  /** The sequential per-subspace formulation of [[train]] — m
    * independent kmeansCentroids runs over width-(dims/m) slices.
    * Kept as the differential-test twin proving the grouped loop is
    * bit-identical (PqSpec); not the production path (m times the
    * stage barriers). */
  private[graft] def trainPerSubspace(
      emb: DataFrame, dims: Int, m: Int, k: Int, iters: Int = 5,
      sampleBound: Option[String] = Some("4"),
      vecIdCol: String = "vec_id", init: String = "md5"): DataFrame = {
    val w = subWidth(dims, m)
    val checked = emb.select(col(vecIdCol),
      checkedEmbedding(col(vecIdCol), dims, "train").as("embedding"))
    (0 until m).map { s =>
      val sub = checked.select(col(vecIdCol),
        slice(col("embedding"), s * w + 1, w).as("embedding"))
      AnnSearch.kmeansCentroids(sub, w, k, iters, sampleBound, vecIdCol, init)
        .select(lit(s).as("sub"), col("clabel"), col("cent"))
    }.reduce(_ unionByName _)
  }

  /** Encode every vector as its m nearest-code ids: (vecId, codes)
    * where codes[i] is subspace i's chosen clabel. One in-row explode
    * (m rows per vector), one broadcast join on `sub` (the codebook
    * grouped to m rows), one groupBy back — every stage
    * hash-partitionable, no pair space anywhere. Reserved working
    * columns on `emb`: `sub`, `code`, `codes`, `_cs`. */
  def encode(emb: DataFrame, codebook: DataFrame, dims: Int, m: Int,
             vecIdCol: String = "vec_id"): DataFrame = {
    val w = subWidth(dims, m)
    val reserved = Seq("sub", "code", "codes", "_cs").filter(emb.columns.contains)
    require(reserved.isEmpty,
      s"reserved working columns ${reserved.mkString(", ")} — rename them on the input")
    val subs = emb
      .select(col(vecIdCol),
        explode(sequence(lit(0), lit(m - 1))).as("sub"),
        checkedEmbedding(col(vecIdCol), dims, "encode").as("embedding"))
      .select(col(vecIdCol), col("sub"),
        slice(col("embedding"), col("sub") * w + 1, lit(w)).as("embedding"))
    val cb = codebook.groupBy("sub")
      .agg(collect_list(struct(col("clabel").as("l"), col("cent").as("c"))).as("_cs"))
    subs.join(broadcast(cb), Seq("sub"), "left")
      .withColumn("code", when(col("_cs").isNotNull,
        array_min(transform(col("_cs"), s =>
          struct(graft.functions.Vectors.sqDist(col("embedding"), s.getField("c")).as("d"),
            s.getField("l").as("l")))).getField("l"))
        .otherwise(raise_error(concat(
          lit("Pq.encode: codebook has no entries for sub="), col("sub").cast("string"),
          lit(s" — codebook trained with a different m than $m?")))))
      .groupBy(vecIdCol)
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        x => x.getField("code")).as("codes"))
  }

  /** ADC search: approximate top-`n` nearest encoded vectors to
    * `query` by summed per-subspace code distances. The distance
    * table is computed ON the codebook relation (m*k rows, broadcast)
    * — 6-decimal-rounded DECIMAL entries so the m-way sum is
    * partition-order-independent; ties break by id. */
  def search(codes: DataFrame, codebook: DataFrame, query: Array[Float],
             dims: Int, m: Int, n: Int, vecIdCol: String = "vec_id"): DataFrame = {
    val w = subWidth(dims, m)
    require(query.length == dims, s"query has ${query.length} dims, expected $dims")
    require(n >= 1, s"n must be >= 1, got $n")
    val q = array(query.map(lit(_)): _*) // array<float>, same storage type as the corpus
    val table = codebook.select(col("sub"), col("clabel").as("code"),
      round(graft.functions.Vectors.sqDist(
        slice(q, col("sub") * w + 1, lit(w)), col("cent")), 6)
        .cast(DecimalType(18, 6)).as("d"))
    codes.select(col(vecIdCol),
        posexplode(checkedCodes(vecIdCol, m, "search")).as(Seq("sub", "code")))
      .join(broadcast(table), Seq("sub", "code"), "left")
      .groupBy(vecIdCol)
      .agg(sum(checkedLookup(col("d"), "adc_dist")).cast("double").as("adc_dist"))
      .orderBy(col("adc_dist"), col(vecIdCol)).limit(n)
  }

  /** Each vector's RESIDUAL against its assigned coarse centroid:
    * (vecId, bucket, embedding = v - cent(bucket)). This is the input
    * the textbook IVF-PQ trains and encodes on — residuals of a good
    * coarse quantizer are centered near zero, so the same k codes per
    * subspace spend their resolution on a far smaller volume than raw
    * vectors. Compose: `residuals` -> [[train]] -> [[encode]], then
    * search a probed bucket with the query's OWN residual against
    * that bucket's centroid. Zero-shuffle assignment + one broadcast
    * join; the float roundtrip keeps the codec's storage type. */
  def residuals(emb: DataFrame, coarse: DataFrame,
                vecIdCol: String = "vec_id"): DataFrame =
    AnnSearch.assignBuckets(emb, coarse)
      .join(broadcast(coarse.select(col("clabel").as("bucket"), col("cent"))), "bucket")
      .select(col(vecIdCol), col("bucket"),
        zip_with(col("embedding"), col("cent"),
          (x, y) => (x.cast("double") - y).cast("float")).as("embedding"))

  /** Reconstruct the quantized approximation of each encoded vector
    * (its codes' centroids concatenated in subspace order) — the
    * decode side of the codec, for measuring reconstruction error.
    * `m` is the expected code count per vector (the encode-time m):
    * a codes array of any other length fails loudly instead of
    * silently reconstructing a truncated vector. */
  def decode(codes: DataFrame, codebook: DataFrame, m: Int,
             vecIdCol: String = "vec_id"): DataFrame =
    codes.select(col(vecIdCol),
        posexplode(checkedCodes(vecIdCol, m, "decode")).as(Seq("sub", "code")))
      .join(broadcast(codebook.withColumnRenamed("clabel", "code")), Seq("sub", "code"), "left")
      .groupBy(vecIdCol)
      .agg(flatten(transform(array_sort(collect_list(
        struct(col("sub"), checkedLookup(col("cent"), "approx").as("cent")))),
        x => x.getField("cent"))).as("approx"))
}
