package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.{AnnSearch, Pq, Sampling}
import graft.sources.Tables

/** Composite wave (q99–q101, q121, q133): cyclic load profiling and
  * the CAPSTONES — the full curation pipeline (exact dedup → mixing-
  * plan downsample → train/val/test split → audit report), the full
  * residual IVF-PQ ANN stack (coarse k-means → residuals → per-subspace
  * PQ codebooks → encode → in-bucket ADC top-k), the DML round-trip
  * (create → insert → delete → update → merge over a
  * [[graft.sources.ManagedTable]], read back), and the TIME-TRAVEL
  * audit (the same mutation sequence, then `read(asOf)` of the
  * pre-mutation snapshot diffed against latest) — each built from the
  * library's own operators and replayed exactly by the DuckDB oracle
  * because every stage is deterministic (md5 content-addressing,
  * decimal means, fixed iteration counts, relational mutation replay).
  *
  * Same t2 gate as every other wave; determinism per SURVEY.md §5.
  */
object Composite {

  private def cnt = count(lit(1))

  def queries: Map[String, Queries.QueryFn] = Map(

    // Day-of-week x hour-of-day activity matrix — the cyclic
    // seasonality profile capacity planning reads. PURE integer epoch
    // arithmetic ((d+4)%7 — 1970-01-01 was a Thursday; hour from the
    // in-day micros remainder): no timezone/calendar functions, so
    // both engines agree bit-for-bit in UTC. One scan, one groupBy
    // with map-side partials; exact-decimal value mass.
    "q99_seasonality" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .select(expr("(unix_micros(ts) DIV 86400000000 + 4) % 7").as("dow"),
          expr("(unix_micros(ts) % 86400000000) DIV 3600000000").as("hour"),
          col("user_id"), col("value"))
        .groupBy("dow", "hour")
        .agg(cnt.as("n"), countDistinct(col("user_id")).as("users"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .orderBy("dow", "hour")
    }),

    // The curation pipeline end-to-end: (1) exact dedup keeping each
    // content hash's min doc_id; (2) Sampling.rateSample applies the
    // q92 mixing plan; (3) Sampling.deterministicSplit assigns
    // train/val/test — on a PREFIXED id ("s:" + doc_id): the rate
    // filter kept the LOW end of md5(doc_id), so splitting on the same
    // hash would put every survivor in 'train'; the prefix decorrelates
    // the two decisions while keeping both content-addressed; (4) the
    // per-(split, source) audit report. Stages 1–3 are a semi join +
    // two pure filters/projections — the report's groupBy is the only
    // aggregation shuffle after the dedup.
    "q100_curation_pipeline" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val rep = docs.groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id"))
      val uniq = docs.join(rep.select("doc_id"), Seq("doc_id"), "left_semi")
      val mixed = Sampling.rateSample(uniq, "doc_id", "source",
        Corpus.demoMixingPlan, defaultBound = Corpus.demoMixingDefault)
      Sampling.deterministicSplit(
          mixed.withColumn("sid", concat(lit("s:"), col("doc_id"))),
          "sid", Seq("train" -> "c", "val" -> "e"), default = "test")
        .groupBy("split", "source")
        .agg(cnt.as("n_docs"),
          sum(size(filter(split(lower(col("text")), " "), t => t =!= ""))).as("toks"))
        .orderBy("split", "source")
    }),

    // The ANN capstone: the WHOLE IVF-PQ stack composed end-to-end
    // under the hash gate — q85's trained coarse quantizer (k=4, 2
    // Lloyd rounds, full corpus), Pq.residuals against the assigned
    // centroid, per-subspace residual codebooks (m=2, k=4, 1 round),
    // Pq.encode, then in-bucket (nprobe=1) ADC top-10 for corpus
    // vector 0's residual. Every stage is deterministic (md5 seeding,
    // decimal means, fixed rounds, 6-decimal DECIMAL ADC entries,
    // ties by label/id), so the oracle replays the full pipeline in
    // SQL. The single-row collect is the query-vector boundary — the
    // one value a user hands a search API — not a driver-side loop.
    "q101_ivfpq" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val coarse = AnnSearch.kmeansCentroids(emb, dims = 64, k = 4, iters = 2,
        sampleBound = None).localCheckpoint()
      val res = Pq.residuals(emb, coarse).localCheckpoint()
      val book = Pq.train(res, dims = 64, m = 2, k = 4, iters = 1,
        sampleBound = None).localCheckpoint()
      val codes = Pq.encode(res, book, dims = 64, m = 2)
      val q0 = res.filter(col("vec_id") === 0)
        .select(col("embedding"), col("bucket")).collect().head
      val cands = codes.join(
        res.filter(col("bucket") === q0.getInt(1)).select("vec_id"),
        Seq("vec_id"), "left_semi")
      Pq.search(cands, book, q0.getSeq[Float](0).toArray, dims = 64, m = 2, n = 10)
    }),

    // The DML capstone: ManagedTable's whole write path (CREATE TABLE,
    // INSERT, DELETE WHERE, UPDATE SET..WHERE, MERGE-upsert) executed
    // against a fresh table, then the table read back and summarized —
    // and the oracle replays the same mutations RELATIONALLY (delete =
    // anti-filter, update = CASE, upsert = union of replaced + kept).
    // Any row the copy-on-write machinery loses, duplicates, or
    // half-updates shifts a group. The upsert deliberately overlaps
    // both earlier mutations: doc_id%7=3 rows include deleted 'de'
    // docs (re-inserted) and %10=0 updated docs (replaced with values
    // computed from the ORIGINAL rows). Side effects go to a fresh
    // temp dir per call, so the query stays idempotent for the
    // verify/bench replays; the report reads only the managed table.
    "q121_dml_roundtrip" -> ((s, dir) => {
      import graft.sources.ManagedTable
      val docs = Tables.load(s, dir, "documents")
      val root = graft.util.Scratch.tempDir("graft_q121").toString + "/t"
      ManagedTable.create(s, root, docs.schema)
      ManagedTable.insert(s, root, docs)
      ManagedTable.delete(s, root, col("lang") === "de")
      ManagedTable.update(s, root, col("doc_id") % 10 === 0,
        Map("n_chars" -> (col("n_chars") + 1000)))
      ManagedTable.upsert(s, root,
        docs.filter(col("doc_id") % 7 === 3)
          .withColumn("n_chars", col("n_chars") * 2),
        Seq("doc_id"))
      ManagedTable.read(s, root)
        .groupBy("lang")
        .agg(cnt.as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_len"))
        .orderBy("lang")
    }),

    // Time travel under the gate: q121's mutation sequence again, but
    // the REPORT is Diff.snapshotDiff between read(asOf = v1) — the
    // pre-mutation snapshot, via the snapshot log — and the latest
    // version. Every doc_id whose content changed/vanished between the
    // two versions is classified; the oracle replays BOTH versions
    // relationally (v1 = the raw table, latest = q121's replay) and
    // classifies by column comparison — equivalent to the diff's
    // md5-content classification. A read(asOf) that resolved the wrong
    // manifest, lost a carried file, or leaked a rewritten one shifts
    // statuses. Unchanged rows (the bulk) are excluded: the diff's
    // full-outer join means their absence from the result proves they
    // matched. Scale shape: both sides reduce to (key, 16-byte hash)
    // before the join — documents never shuffle.
    "q133_time_travel" -> ((s, dir) => {
      import graft.sources.ManagedTable
      val docs = Tables.load(s, dir, "documents")
      val root = graft.util.Scratch.tempDir("graft_q133").toString + "/t"
      ManagedTable.create(s, root, docs.schema)
      ManagedTable.insert(s, root, docs)
      ManagedTable.delete(s, root, col("lang") === "de")
      ManagedTable.update(s, root, col("doc_id") % 10 === 0,
        Map("n_chars" -> (col("n_chars") + 1000)))
      ManagedTable.upsert(s, root,
        docs.filter(col("doc_id") % 7 === 3)
          .withColumn("n_chars", col("n_chars") * 2),
        Seq("doc_id"))
      val v1 = ManagedTable.read(s, root, asOf = Some(1))
      val latest = ManagedTable.read(s, root)
      graft.operators.Diff.snapshotDiff(v1, latest, Seq("doc_id"),
          Seq("text", "lang", "source", "n_chars"))
        .filter(col("status") =!= "unchanged")
        .select("doc_id", "status")
        .orderBy("doc_id")
    })
  )

  /** q101's full IVF-PQ training/encode pipeline as DuckDB CTEs —
    * coarse k-means (seeds..c2, q85's text verbatim), full-corpus
    * assignment (a3/asg), float-rounded residuals (res), one-round
    * per-subspace PQ codebooks (p0cb/p1cb), and nearest-code encodes
    * (e0/e1). Shared with q134's multi-probe recall oracle
    * ([[Evaluation.oracle]]) so both gate the SAME trained stack. */
  private[queries] val ivfpqCtes: String = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
seeds AS (SELECT v, clabel FROM (
  SELECT v, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) clabel FROM e)
  WHERE clabel <= 4),
c0 AS (SELECT clabel, v AS cent FROM seeds),
a1 AS (SELECT e.vec_id, e.v, c.clabel,
         list_sum(list_transform(list_zip(e.v, c.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) d2
       FROM e CROSS JOIN c0 c),
b1 AS (SELECT vec_id, v, clabel FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) rn FROM a1) WHERE rn = 1),
m1 AS (SELECT clabel, r.pos, CAST(ROUND(AVG(CAST(v[CAST(r.pos AS INT)] AS DECIMAL(18,9))),6) AS DOUBLE) c
       FROM b1 CROSS JOIN range(1,65) r(pos) GROUP BY clabel, r.pos),
c1l AS (SELECT clabel, list(c ORDER BY pos) cent FROM m1 GROUP BY clabel),
c1 AS (SELECT c0.clabel, COALESCE(c1l.cent, c0.cent) cent FROM c0 LEFT JOIN c1l USING (clabel)),
a2 AS (SELECT e.vec_id, e.v, c.clabel,
         list_sum(list_transform(list_zip(e.v, c.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) d2
       FROM e CROSS JOIN c1 c),
b2 AS (SELECT vec_id, v, clabel FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) rn FROM a2) WHERE rn = 1),
m2 AS (SELECT clabel, r.pos, CAST(ROUND(AVG(CAST(v[CAST(r.pos AS INT)] AS DECIMAL(18,9))),6) AS DOUBLE) c
       FROM b2 CROSS JOIN range(1,65) r(pos) GROUP BY clabel, r.pos),
c2l AS (SELECT clabel, list(c ORDER BY pos) cent FROM m2 GROUP BY clabel),
c2 AS (SELECT c1.clabel, COALESCE(c2l.cent, c1.cent) cent FROM c1 LEFT JOIN c2l USING (clabel)),
a3 AS (SELECT e.vec_id, e.v, c.clabel,
         list_sum(list_transform(list_zip(e.v, c.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) d2
       FROM e CROSS JOIN c2 c),
asg AS (SELECT vec_id, v, clabel AS bucket FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) rn FROM a3) WHERE rn = 1),
res AS (SELECT a.vec_id, a.bucket,
         list_transform(list_zip(a.v, c.cent), p -> CAST(CAST(p[1]-p[2] AS FLOAT) AS DOUBLE)) rv
        FROM asg a JOIN c2 c ON c.clabel = a.bucket),
pseed AS (SELECT vec_id, clabel FROM (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) clabel FROM res)
  WHERE clabel <= 4),
r0 AS (SELECT vec_id, rv[1:32] sv FROM res),
r1 AS (SELECT vec_id, rv[33:64] sv FROM res),
p0c0 AS (SELECT ps.clabel, r0.sv AS cent FROM pseed ps JOIN r0 ON r0.vec_id = ps.vec_id),
p0a1 AS (SELECT r0.vec_id, r0.sv, c.clabel,
          list_sum(list_transform(list_zip(r0.sv, c.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) d2
         FROM r0 CROSS JOIN p0c0 c),
p0b1 AS (SELECT vec_id, sv, clabel FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) rn FROM p0a1) WHERE rn = 1),
p0m1 AS (SELECT clabel, r.pos, CAST(ROUND(AVG(CAST(sv[CAST(r.pos AS INT)] AS DECIMAL(18,9))),6) AS DOUBLE) c
         FROM p0b1 CROSS JOIN range(1,33) r(pos) GROUP BY clabel, r.pos),
p0c1l AS (SELECT clabel, list(c ORDER BY pos) cent FROM p0m1 GROUP BY clabel),
p0cb AS (SELECT c.clabel, COALESCE(l.cent, c.cent) cent FROM p0c0 c LEFT JOIN p0c1l l USING (clabel)),
p1c0 AS (SELECT ps.clabel, r1.sv AS cent FROM pseed ps JOIN r1 ON r1.vec_id = ps.vec_id),
p1a1 AS (SELECT r1.vec_id, r1.sv, c.clabel,
          list_sum(list_transform(list_zip(r1.sv, c.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) d2
         FROM r1 CROSS JOIN p1c0 c),
p1b1 AS (SELECT vec_id, sv, clabel FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) rn FROM p1a1) WHERE rn = 1),
p1m1 AS (SELECT clabel, r.pos, CAST(ROUND(AVG(CAST(sv[CAST(r.pos AS INT)] AS DECIMAL(18,9))),6) AS DOUBLE) c
         FROM p1b1 CROSS JOIN range(1,33) r(pos) GROUP BY clabel, r.pos),
p1c1l AS (SELECT clabel, list(c ORDER BY pos) cent FROM p1m1 GROUP BY clabel),
p1cb AS (SELECT c.clabel, COALESCE(l.cent, c.cent) cent FROM p1c0 c LEFT JOIN p1c1l l USING (clabel)),
e0a AS (SELECT r0.vec_id, c.clabel,
          list_sum(list_transform(list_zip(r0.sv, c.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) d2
        FROM r0 CROSS JOIN p0cb c),
e0 AS (SELECT vec_id, clabel AS code FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) rn FROM e0a) WHERE rn = 1),
e1a AS (SELECT r1.vec_id, c.clabel,
          list_sum(list_transform(list_zip(r1.sv, c.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) d2
        FROM r1 CROSS JOIN p1cb c),
e1 AS (SELECT vec_id, clabel AS code FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) rn FROM e1a) WHERE rn = 1)""".trim

  /** DuckDB oracles (validated at sf0.01/sf0.1 before the natives). */
  val oracle: Map[String, String] = Map(
    "q99_seasonality" -> """
SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
       (epoch_us(ts) % 86400000000) // 3600000000 AS hour,
       COUNT(*) AS n, COUNT(DISTINCT user_id) AS users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY dow, hour ORDER BY dow, hour""",

    "q100_curation_pipeline" -> """
WITH rep AS (SELECT MIN(doc_id) doc_id FROM documents GROUP BY md5(text)),
u AS (SELECT d.* FROM documents d SEMI JOIN rep ON rep.doc_id = d.doc_id),
k AS (SELECT * FROM u WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <= CASE source
  WHEN 'src0' THEN 'ffffffff' WHEN 'src1' THEN 'bfffffff'
  WHEN 'src2' THEN '7fffffff' WHEN 'src3' THEN '3fffffff'
  WHEN 'src4' THEN '19999999' ELSE '7fffffff' END),
s AS (SELECT *, CASE WHEN md5('s:' || CAST(doc_id AS VARCHAR)) < 'c' THEN 'train'
                     WHEN md5('s:' || CAST(doc_id AS VARCHAR)) < 'e' THEN 'val'
                     ELSE 'test' END split FROM k)
SELECT split, source, COUNT(*) AS n_docs,
  CAST(SUM(len(list_filter(string_split(lower(text),' '), x -> x <> ''))) AS BIGINT) AS toks
FROM s GROUP BY split, source ORDER BY split, source""",

    // q85's coarse-training CTEs verbatim (seeds..c2), then: full-corpus
    // assignment, float-rounded residuals, one Lloyd round of per-subspace
    // PQ training (seeds = first 4 by md5 order, decimal means, empty
    // clusters keep their seed), nearest-code encode, and the ADC sum of
    // 6-decimal DECIMAL table entries over the query's own coarse bucket.
    "q101_ivfpq" -> (ivfpqCtes + """,
q0 AS (SELECT rv[1:32] s0, rv[33:64] s1, bucket FROM res WHERE vec_id = 0),
t0 AS (SELECT c.clabel AS code,
         CAST(ROUND(list_sum(list_transform(list_zip(q.s0, c.cent), p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS DECIMAL(18,6)) d
       FROM p0cb c CROSS JOIN q0 q),
t1 AS (SELECT c.clabel AS code,
         CAST(ROUND(list_sum(list_transform(list_zip(q.s1, c.cent), p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS DECIMAL(18,6)) d
       FROM p1cb c CROSS JOIN q0 q),
cand AS (SELECT vec_id FROM res WHERE bucket = (SELECT bucket FROM q0))
SELECT c.vec_id, CAST(t0.d + t1.d AS DOUBLE) AS adc_dist
FROM cand c
JOIN e0 ON e0.vec_id = c.vec_id JOIN t0 ON t0.code = e0.code
JOIN e1 ON e1.vec_id = c.vec_id JOIN t1 ON t1.code = e1.code
ORDER BY adc_dist, c.vec_id LIMIT 10"""),

    // the same mutation sequence replayed relationally: DELETE is an
    // anti-filter, UPDATE a CASE, MERGE-upsert = source rows UNION ALL
    // the surviving non-matched rows (matched rows replaced with
    // values computed from the ORIGINAL relation, exactly like the
    // native's upsert source)
    "q121_dml_roundtrip" -> """
WITH survivors AS (SELECT doc_id, text, lang, source,
        CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
      FROM documents WHERE lang <> 'de'),
src AS (SELECT doc_id, text, lang, source, n_chars * 2 AS n_chars
        FROM documents WHERE doc_id % 7 = 3),
final AS (SELECT * FROM src UNION ALL SELECT * FROM survivors WHERE doc_id % 7 <> 3)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
  CAST(SUM(length(text)) AS BIGINT) AS sum_len
FROM final GROUP BY lang ORDER BY lang""",

    // v1 is the raw table; latest is q121's relational replay; the
    // diff classifies by column comparison (no null columns in the
    // fixture, so <> is total) — same classes as the md5 content diff
    "q133_time_travel" -> """
WITH survivors AS (SELECT doc_id, text, lang, source,
        CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
      FROM documents WHERE lang <> 'de'),
src AS (SELECT doc_id, text, lang, source, n_chars * 2 AS n_chars
        FROM documents WHERE doc_id % 7 = 3),
final AS (SELECT * FROM src UNION ALL SELECT * FROM survivors WHERE doc_id % 7 <> 3),
d AS (SELECT COALESCE(o.doc_id, f.doc_id) AS doc_id,
        CASE WHEN o.doc_id IS NULL THEN 'added'
             WHEN f.doc_id IS NULL THEN 'removed'
             WHEN o.text <> f.text OR o.lang <> f.lang OR o.source <> f.source
                  OR o.n_chars <> f.n_chars THEN 'changed'
             ELSE 'unchanged' END AS status
      FROM documents o FULL JOIN final f ON o.doc_id = f.doc_id)
SELECT doc_id, status FROM d WHERE status <> 'unchanged' ORDER BY doc_id"""
  ).map { case (k, v) => k -> v.trim }
}
