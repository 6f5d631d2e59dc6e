package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Similarity

/** Similarity-search gate queries over `embeddings` (vec_id, embedding:
  * array<float>[64], label). The cosine kernel folds arrays sequentially in
  * double on both engines, so raw similarity values are bit-identical and
  * hash-comparable without rounding.
  */
object Embeddings {

  private def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** Exact brute-force cosine top-10 for three probe vectors. */
  def q20EmbedTopK(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.filter(col("id") < 3).select(col("id").as("qid"), col("vec").as("qvec"))
    Similarity.bruteForceTopK(v, q, 10)
      .withColumnRenamed("id", "neighbor_id")
  }

  val q20EmbedTopKSql: String =
    """WITH q AS (
      |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id < 3),
      |s AS (
      |  SELECT qid, vec_id,
      |    list_cosine_similarity(embedding::DOUBLE[], qv) AS sim
      |  FROM embeddings, q WHERE vec_id <> qid),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      |  FROM s)
      |SELECT qid, CAST(rn AS BIGINT) AS rank, vec_id AS neighbor_id, sim
      |FROM r WHERE rn <= 10""".stripMargin

  /** Shared oracle fragment: md5-derived ±1 hyperplanes and the per-vector
    * LSH signatures, replicating [[Similarity.planes]] bit-for-bit (same
    * md5 material, same low-bit-of-first-nibble sign, same index-order
    * dot-product fold — DuckDB's `list_dot_product` folds sequentially
    * like the native [[graft.functions.DotProductF]]). */
  private[graft] def sigCtes(nTables: Int, bits: Int, dim: Int): String =
    s"""coeff AS (
       |  SELECT t, b, d,
       |    CASE WHEN (strpos('0123456789abcdef',
       |                      substr(md5('hp:'||t||':'||b||':'||d), 1, 1)) - 1) % 2 = 1
       |         THEN 1.0 ELSE -1.0 END AS c
       |  FROM range($nTables) r1(t), range($bits) r2(b), range($dim) r3(d)),
       |planes AS (SELECT t, b, list(c ORDER BY d) AS pv FROM coeff GROUP BY t, b),
       |sigs AS (
       |  SELECT e.vec_id AS id, p.t AS tbl,
       |    CAST(SUM(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pv) >= 0
       |             THEN (1::BIGINT << p.b) ELSE 0 END) AS BIGINT) AS sig
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id, p.t)""".stripMargin

  /** Embedding near-duplicate pairs via LSH blocking + exact-cosine verify
    * (the scale path: equi-join on (table, signature), never all-pairs).
    * The oracle replicates the md5-derived signatures, so the approximate
    * blocking itself is certified, not just the verify arithmetic.
    * [[Similarity.nearDupPairs]] (exact all-pairs) stays a test-suite
    * cross-check.
    *
    * SEMANTICS NOTE (changed in round 2, applies to q48 too): this gate is
    * approximate-by-design — LSH blocking at threshold 0.35 sits well
    * below the high-similarity regime the table defaults target, so
    * pairs the blocking misses are absent from BOTH engines (the oracle
    * replays the same blocking). The gate certifies determinism of the
    * blocked pipeline, not full recall; the exact all-pairs form remains
    * available as [[Similarity.nearDupPairs]].
    *
    * GEOMETRY (round 17): migrated from the pinned 16×6 width — the r16
    * verdict's named scale-killer (in-bucket pairs grew ~n²/2⁶, the
    * registry's worst 10× growth line at 6.7×) — to the [[Similarity
    * .autoBits]] density rule at targetBucketRows = 8, the TIGHT-occupancy
    * operating point (q73/q48 certify the same rule at 30 rows/bucket).
    * Verify work is now linear in n at both certified operating points,
    * and the oracle rebuilds the width from `COUNT(*)` exactly as the
    * engine does (the q48 precedent). */
  def q21EmbedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    Similarity.lshNearDupCandidatesAuto(v, threshold = 0.35,
      targetBucketRows = 8)
  }

  val q21EmbedNearDupSql: String =
    s"""WITH ${sigCtesAuto(16, 64, targetBucketRows = 8)},
      |cand AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.sig = b.sig AND a.id < b.id)
      |SELECT DISTINCT c.id_a, c.id_b,
      |  list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim
      |FROM cand c
      |JOIN embeddings ea ON ea.vec_id = c.id_a
      |JOIN embeddings eb ON eb.vec_id = c.id_b
      |WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) > 0.35""".stripMargin

  /** [[sigCtes]] with the signature WIDTH chosen by the density rule
    * inside the SQL itself: bits = the smallest b in [4,28] with
    * targetBucketRows·2ᵇ ≥ count(*) — the same integer comparison
    * [[Similarity.autoBits]] runs, so both engines derive the width from
    * the data rather than a pinned constant. The coefficient table is
    * built at the 28-bit maximum and filtered, keeping the md5 material
    * identical to the fixed-width form at every width. */
  private[graft] def sigCtesAuto(nTables: Int, dim: Int,
      targetBucketRows: Int = 30): String =
    s"""nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |bw AS (SELECT COALESCE((SELECT MIN(b) FROM range(4, 29) t(b), nn
       |                        WHERE ($targetBucketRows::BIGINT << b) >= nn.n), 28) AS bits),
       |coeff AS (
       |  SELECT t, b, d,
       |    CASE WHEN (strpos('0123456789abcdef',
       |                      substr(md5('hp:'||t||':'||b||':'||d), 1, 1)) - 1) % 2 = 1
       |         THEN 1.0 ELSE -1.0 END AS c
       |  FROM range($nTables) r1(t), range(28) r2(b), range($dim) r3(d)
       |  WHERE b < (SELECT bits FROM bw)),
       |planes AS (SELECT t, b, list(c ORDER BY d) AS pv FROM coeff GROUP BY t, b),
       |sigs AS (
       |  SELECT e.vec_id AS id, p.t AS tbl,
       |    CAST(SUM(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pv) >= 0
       |             THEN (1::BIGINT << p.b) ELSE 0 END) AS BIGINT) AS sig
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id, p.t)""".stripMargin

  /** Embedding near-dup with the AUTO-SIZED LSH geometry
    * ([[Similarity.lshNearDupCandidatesAuto]]) — q21's pipeline with
    * `autoBits(count)` instead of the pinned 6-bit width. This is the
    * production entry point at scale: the density rule holds expected
    * bucket occupancy constant, so in-bucket verify work grows LINEARLY
    * in n where the fixed width grows ~n²/2^bits (measured superlinear in
    * SCALING_r8.md). The width is a deterministic integer function of
    * count(*), so the oracle rebuilds the exact same geometry from the
    * data — certifying the auto-sizing rule itself, not just one pinned
    * configuration. */
  def q73AutoNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshNearDupCandidatesAuto(vectors(spark, dir), threshold = 0.35)

  val q73AutoNearDupSql: String =
    s"""WITH ${sigCtesAuto(16, 64)},
      |cand AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.sig = b.sig AND a.id < b.id)
      |SELECT DISTINCT c.id_a, c.id_b,
      |  list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim
      |FROM cand c
      |JOIN embeddings ea ON ea.vec_id = c.id_a
      |JOIN embeddings eb ON eb.vec_id = c.id_b
      |WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) > 0.35""".stripMargin

  /** Per-label centroids (the IVF building block): posexplode to (label,
    * dim, value), average per cell. Values are rounded to 6 decimals first
    * so the decimal-sum is exact cross-engine (floats are not 2-decimal). */
  def q22LabelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    e.select(col("label").cast("long").as("label"), posexplode(col("embedding")).as(Seq("dim", "val")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        round(col("val").cast("double"), 6).cast("decimal(18,6)").as("v"))
      .groupBy(col("label"), col("dim"))
      .agg((sum(col("v")).cast("double") / count(lit(1))).as("centroid"),
        count(lit(1)).as("n"))
  }

  val q22LabelCentroidsSql: String =
    """WITH expl AS (
      |  SELECT CAST(label AS BIGINT) AS label,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE), 6) AS DECIMAL(18,6)) AS v
      |  FROM embeddings)
      |SELECT label, dim,
      |  CAST(SUM(v) AS DOUBLE) / COUNT(*) AS centroid, COUNT(*) AS n
      |FROM expl
      |GROUP BY label, dim""".stripMargin

  /** Embedding-corpus curation: drop every vector whose verified cosine to
    * a lower-id LSH-candidate exceeds 0.35 (keep-first dedup over blocked
    * candidate pairs). Runs the AUTO-SIZED geometry (round 9 — was the
    * pinned 16×6 width, flagged scale-weak by the r8 verdict): the width
    * is `autoBits(count)`, so verify work stays linear in n and the
    * oracle rebuilds the identical geometry from `COUNT(*)`. Since r17
    * every near-dup gate runs autoBits — q21 certifies a SECOND
    * operating point (targetBucketRows = 8 vs the 30 here); no gate
    * pins a data-independent signature width anymore. */
  def q48EmbedCuration(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.curateEmbeddings(vectors(spark, dir), 0.35,
      method = "lsh-auto")
      .select(col("id").as("vec_id"))

  val q48EmbedCurationSql: String =
    s"""WITH ${sigCtesAuto(16, 64)},
      |cand AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.sig = b.sig AND a.id < b.id),
      |losers AS (
      |  SELECT DISTINCT c.id_b
      |  FROM cand c
      |  JOIN embeddings ea ON ea.vec_id = c.id_a
      |  JOIN embeddings eb ON eb.vec_id = c.id_b
      |  WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) > 0.35)
      |SELECT vec_id FROM embeddings
      |WHERE vec_id NOT IN (SELECT id_b FROM losers)""".stripMargin

  /** IVF ANN: Lloyd-trained centroids, nprobe-pruned exact rerank. Fully
    * oracle-certified: the sample init is md5-ordered and the Lloyd update
    * uses order-free decimal sums, so the DuckDB oracle replays the entire
    * training (two unrolled iterations) plus the probe-pruned search
    * bit-for-bit. */
  def q35AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.filter(col("id") < 3).select(col("id").as("qid"), col("vec").as("qvec"))
    val cents = Similarity.centroidCodebook(v, ivfArtifactPath(spark, dir),
      k = 16, iters = 2, init = "sample")
    Similarity.ivfTopK(v, q, 10, cents, nprobe = 4)
      .withColumnRenamed("id", "neighbor_id")
  }

  /** Artifact path for q35's trained centroids, keyed by the source
    * parquet's length + mtime so a regenerated dataset can never serve a
    * stale centroid table (a stale artifact would hash-fail the gate —
    * the oracle replays training on the CURRENT data). */
  private def ivfArtifactPath(spark: SparkSession, dir: String): String =
    graft.core.Artifacts.path(spark, s"$dir/embeddings.parquet",
      "ivf_k16_i2_sample")

  /** Two-level (coarse→fine) IVF gate ([[Similarity.twoLevelAssign]]):
    * fine codebook by the density rule (k_fine = autoK(n, 10) — 50 at
    * sf0.01, 200 at sf0.1), coarse codebook trained ON the fine
    * centroids (k_coarse = autoK(k_fine, 16)), both with the
    * q35-certified deterministic pipeline. The oracle replays BOTH
    * trainings (with the keep-previous-on-empty Lloyd convention made
    * explicit), the fine→coarse mapping, and the coarse→fine vector
    * assignment (nprobe = 4 coarse cells); `agree` compares against the
    * flat k_fine scan the two-level path replaces — the q49-style recall
    * evidence that the bounded assignment finds the same cell (measured:
    * 100% at sf0.01, 82% at sf0.1; disagreements are vectors near probed-
    * cell boundaries, the standard IVF approximation, and shrink as
    * nprobe grows). */
  def q92TwoLevelIvf(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val kFine = Similarity.autoK(v.count(), targetClusterRows = 10)
    val fine = Similarity.centroidCodebook(v,
      graft.core.Artifacts.path(spark, s"$dir/embeddings.parquet",
        "ivf2_fine_i2_sample_t10"),
      kFine, iters = 2, init = "sample")
    import spark.implicits._
    val fineDf = fine.toSeq.toDF("id", "vec")
    val kCoarse = Similarity.autoK(kFine.toLong, targetClusterRows = 16)
    val coarse = Similarity.centroidCodebook(fineDf,
      graft.core.Artifacts.path(spark, s"$dir/embeddings.parquet",
        "ivf2_coarse_i2_sample_t16"),
      kCoarse, iters = 2, init = "sample")
    val two = Similarity.twoLevelAssign(v, fine, coarse)
    val fs = fine.sortBy(_._1)
    val flat = v.select(col("id"),
      graft.functions.VectorFunctions.nearest_centroids(col("vec"),
        fs.map(_._2.toArray), fs.map(_._1), 1).getItem(0).as("fcid_flat"))
    two.join(flat, Seq("id"))
      .select(col("id").as("vec_id"), col("ccid"), col("fcid"),
        (col("fcid") === col("fcid_flat")).as("agree"))
  }

  val q92TwoLevelIvfSql: String = {
    val fSeedOrder = s"${OracleFragments.hex8Sql("vec_id::VARCHAR || '#ivf'")}, vec_id"
    val cSeedOrder = s"${OracleFragments.hex8Sql("id::VARCHAR || '#ivf'")}, id"
    // one Lloyd round over a generic (id, vec) source, with the engine's
    // keep-previous-on-empty convention explicit (a cid that attracts no
    // rows keeps its previous centroid instead of vanishing)
    def lloyd(i: Int, prev: String, src: String, pfx: String): String =
      s"""${pfx}asg$i AS (
         |  SELECT id, cid FROM (
         |    SELECT s.id, c.cid,
         |      row_number() OVER (PARTITION BY s.id
         |        ORDER BY -list_dot_product(s.vec, c.cvec), c.cid) AS rn
         |    FROM $src s CROSS JOIN $prev c)
         |  WHERE rn = 1),
         |${pfx}upd$i AS (
         |  SELECT a.cid, CAST(generate_subscripts(s.vec, 1) - 1 AS BIGINT) AS dim,
         |    CAST(round(CAST(unnest(s.vec) AS DOUBLE), 6) AS DECIMAL(18,6)) AS v
         |  FROM ${pfx}asg$i a JOIN $src s ON s.id = a.id),
         |${pfx}c$i AS MATERIALIZED (
         |  SELECT p.cid, COALESCE(u.cvec, p.cvec) AS cvec
         |  FROM $prev p LEFT JOIN (
         |    SELECT cid, list(CAST(CAST(m AS REAL) AS DOUBLE) ORDER BY dim) AS cvec FROM (
         |      SELECT cid, dim, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
         |      FROM ${pfx}upd$i GROUP BY cid, dim) GROUP BY cid) u USING (cid))""".stripMargin
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |kf AS (SELECT LEAST(4096, GREATEST(4, (n + 9) // 10)) AS k FROM nn),
       |kc AS (SELECT LEAST(4096, GREATEST(4, (k + 15) // 16)) AS k FROM kf),
       |fsrc AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
       |fseed AS MATERIALIZED (
       |  SELECT cid, cvec FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY $fSeedOrder) - 1 AS BIGINT) AS cid,
       |      embedding::DOUBLE[] AS cvec
       |    FROM embeddings)
       |  WHERE cid < (SELECT k FROM kf)),
       |${lloyd(1, "fseed", "fsrc", "f")},
       |${lloyd(2, "fc1", "fsrc", "f")},
       |csrc AS MATERIALIZED (SELECT cid AS id, cvec AS vec FROM fc2),
       |cseed AS MATERIALIZED (
       |  SELECT cid, cvec FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY $cSeedOrder) - 1 AS BIGINT) AS cid,
       |      vec AS cvec
       |    FROM csrc)
       |  WHERE cid < (SELECT k FROM kc)),
       |${lloyd(1, "cseed", "csrc", "c")},
       |${lloyd(2, "cc1", "csrc", "c")},
       |f2c AS MATERIALIZED (
       |  SELECT id AS fcid, cid AS ccid FROM (
       |    SELECT s.id, c.cid,
       |      row_number() OVER (PARTITION BY s.id
       |        ORDER BY -list_dot_product(s.vec, c.cvec), c.cid) AS rn
       |    FROM csrc s CROSS JOIN cc2 c)
       |  WHERE rn = 1),
       |vc AS (
       |  SELECT id AS vec_id, cid AS ccid FROM (
       |    SELECT s.id, c.cid,
       |      row_number() OVER (PARTITION BY s.id
       |        ORDER BY -list_dot_product(s.vec, c.cvec), c.cid) AS rn
       |    FROM fsrc s CROSS JOIN cc2 c)
       |  WHERE rn <= 4),
       |fin AS (
       |  SELECT vec_id, fcid FROM (
       |    SELECT v.vec_id, f.fcid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY -list_dot_product(e.vec, fc.cvec), f.fcid) AS rn
       |    FROM vc v
       |    JOIN f2c f USING (ccid)
       |    JOIN fc2 fc ON fc.cid = f.fcid
       |    JOIN fsrc e ON e.id = v.vec_id)
       |  WHERE rn = 1),
       |flat AS (
       |  SELECT id AS vec_id, cid AS fcid_flat FROM (
       |    SELECT s.id, c.cid,
       |      row_number() OVER (PARTITION BY s.id
       |        ORDER BY -list_dot_product(s.vec, c.cvec), c.cid) AS rn
       |    FROM fsrc s CROSS JOIN fc2 c)
       |  WHERE rn = 1)
       |SELECT f.vec_id, f2.ccid, f.fcid, (f.fcid = fl.fcid_flat) AS agree
       |FROM fin f
       |JOIN f2c f2 USING (fcid)
       |JOIN flat fl USING (vec_id)""".stripMargin
  }

  /** q101: incremental IVF ingest ([[Similarity.ivfIngest]]) — the ANN
    * analogue of the q68 incremental dedup index. The codebook trains
    * ONCE on the first batch (even vec_ids, the q35-certified
    * deterministic pipeline) and becomes the stable artifact; each later
    * batch is assigned against it and APPENDED to a posting index under
    * the exactly-once [[graft.ops.BatchIndex]] protocol — the gate
    * replays batch 2's ingest to certify idempotence (a doubled row
    * would double the output and hash-fail). The oracle replays the
    * batch-1 training and both assignments; per-ingest cost ∝ batch,
    * the index is never rewritten. */
  def q101IvfIngest(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val b1 = v.filter(col("id") % 2 === 0)
    val b2 = v.filter(col("id") % 2 === 1)
    val cents = Similarity.centroidCodebook(b1,
      graft.core.Artifacts.path(spark, s"$dir/embeddings.parquet",
        "ivf_ingest_cb_k16_i2_sample"),
      k = 16, iters = 2, init = "sample")
    val idx = graft.core.Artifacts.path(spark, s"$dir/embeddings.parquet",
      "ivf_ingest_idx_k16")
    Similarity.ivfIngest(b1, idx, cents, batchId = 1L)
    Similarity.ivfIngest(b2, idx, cents, batchId = 2L)
    Similarity.ivfIngest(b2, idx, cents, batchId = 2L) // replay: no-op
    Similarity.readIvfIndex(spark, idx)
      .select(col("id").as("vec_id"), col("cid"), col("batch_id"))
  }

  val q101IvfIngestSql: String = {
    val seedOrder = s"${OracleFragments.hex8Sql("vec_id::VARCHAR || '#ivf'")}, vec_id"
    // one Lloyd round over the batch-1 source, keep-previous-on-empty
    // (same convention the q92 oracle makes explicit)
    def lloyd(i: Int, prev: String): String =
      s"""iasg$i AS (
         |  SELECT id, cid FROM (
         |    SELECT s.id, c.cid,
         |      row_number() OVER (PARTITION BY s.id
         |        ORDER BY -list_dot_product(s.vec, c.cvec), c.cid) AS rn
         |    FROM b1 s CROSS JOIN $prev c)
         |  WHERE rn = 1),
         |iupd$i AS (
         |  SELECT a.cid, CAST(generate_subscripts(s.vec, 1) - 1 AS BIGINT) AS dim,
         |    CAST(round(CAST(unnest(s.vec) AS DOUBLE), 6) AS DECIMAL(18,6)) AS v
         |  FROM iasg$i a JOIN b1 s ON s.id = a.id),
         |ic$i AS MATERIALIZED (
         |  SELECT p.cid, COALESCE(u.cvec, p.cvec) AS cvec
         |  FROM $prev p LEFT JOIN (
         |    SELECT cid, list(CAST(CAST(m AS REAL) AS DOUBLE) ORDER BY dim) AS cvec FROM (
         |      SELECT cid, dim, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
         |      FROM iupd$i GROUP BY cid, dim) GROUP BY cid) u USING (cid))""".stripMargin
    s"""WITH b1 AS MATERIALIZED (
       |  SELECT vec_id AS id, embedding::DOUBLE[] AS vec
       |  FROM embeddings WHERE vec_id % 2 = 0),
       |seed AS MATERIALIZED (
       |  SELECT cid, cvec FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY $seedOrder) - 1 AS BIGINT) AS cid,
       |      embedding::DOUBLE[] AS cvec
       |    FROM embeddings WHERE vec_id % 2 = 0)
       |  WHERE cid < 16),
       |${lloyd(1, "seed")},
       |${lloyd(2, "ic1")},
       |all_v AS (
       |  SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
       |    CAST(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS batch_id
       |  FROM embeddings)
       |SELECT id AS vec_id, cid, batch_id FROM (
       |  SELECT s.id, c.cid, s.batch_id,
       |    row_number() OVER (PARTITION BY s.id
       |      ORDER BY -list_dot_product(s.vec, c.cvec), c.cid) AS rn
       |  FROM all_v s CROSS JOIN ic2 c)
       |WHERE rn = 1""".stripMargin
  }

  /** q102: per-cluster label entropy — the diversity diagnostic a
    * curation pipeline runs over its embedding clusters (a near-zero-
    * entropy cluster is single-topic; a max-entropy one is a mixing
    * hub — both drive SemDeDup-threshold and sampling decisions). Reuses
    * the q35 centroid ARTIFACT (same path, zero retrain — artifact reuse
    * is the point of the train/serve split) and certifies Shannon entropy
    * per cluster with the per-term fp9 integer-sum discipline (order-
    * free). One assignment projection + one (cid, label) aggregate;
    * grid-sized downstream. */
  def q102ClusterEntropy(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val cents = Similarity.centroidCodebook(v, ivfArtifactPath(spark, dir),
      k = 16, iters = 2, init = "sample")
    val fs = cents.sortBy(_._1)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
    val asg = e.select(col("id"), col("label"),
      graft.functions.VectorFunctions.nearest_centroids(col("vec"),
        fs.map(_._2.toArray), fs.map(_._1), 1).getItem(0).as("cid"))
    val cl = asg.groupBy(col("cid"), col("label")).agg(count(lit(1)).as("c"))
    val n = cl.groupBy(col("cid")).agg(sum(col("c")).as("n"))
    cl.join(n, "cid")
      .select(col("cid"), col("n"),
        round(-(col("c") / col("n")) * log(col("c") / col("n")) * lit(1e9))
          .cast("long").as("term_fp9"))
      .groupBy(col("cid"))
      .agg(first(col("n")).as("n"),
        count(lit(1)).as("n_labels"),
        sum(col("term_fp9")).as("entropy_fp9"))
  }

  val q102ClusterEntropySql: String = {
    val seedOrder = s"${OracleFragments.hex8Sql("vec_id::VARCHAR || '#ivf'")}, vec_id"
    s"""WITH seed AS (
       |  SELECT CAST(row_number() OVER (ORDER BY $seedOrder) - 1 AS BIGINT) AS cid,
       |    embedding::DOUBLE[] AS cvec
       |  FROM embeddings
       |  ORDER BY $seedOrder LIMIT 16),
       |${lloydCtes(1, "seed")},
       |${lloydCtes(2, "c1")},
       |asg3 AS (
       |  SELECT id, cid FROM (
       |    SELECT e.vec_id AS id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY -list_dot_product(e.embedding::DOUBLE[], c.cvec), c.cid) AS rn
       |    FROM embeddings e CROSS JOIN c2 c)
       |  WHERE rn = 1),
       |cl AS (
       |  SELECT a.cid, e.label, COUNT(*) AS c
       |  FROM asg3 a JOIN embeddings e ON e.vec_id = a.id
       |  GROUP BY 1, 2),
       |nn AS (SELECT cid, CAST(SUM(c) AS BIGINT) AS n FROM cl GROUP BY cid),
       |terms AS (
       |  SELECT cl.cid, nn.n,
       |    CAST(round(-(CAST(cl.c AS DOUBLE) / nn.n)
       |      * ln(CAST(cl.c AS DOUBLE) / nn.n) * 1e9) AS BIGINT) AS term_fp9
       |  FROM cl JOIN nn USING (cid))
       |SELECT cid, MAX(n) AS n, COUNT(*) AS n_labels,
       |  CAST(SUM(term_fp9) AS BIGINT) AS entropy_fp9
       |FROM terms GROUP BY cid""".stripMargin
  }

  /** q145: simplified (centroid-based) silhouette per cluster — the
    * standard cluster-quality audit (Rousseeuw 1987, medoid form replaced
    * by centroids as in scikit-learn's `silhouette` sampling guidance):
    * for each vector, `a` = cosine distance to its OWN centroid, `b` =
    * distance to the nearest OTHER centroid, `s = (b−a)/max(a,b)`; with
    * unit vectors and argmax-dot assignment this reduces to
    * `s = (d1−d2)/(1−d2)` where d1 ≥ d2 are the two largest centroid
    * dots. Near-0 mean silhouette flags clusters that blur into a
    * neighbor (SemDeDup-threshold and k-choice input); near-1 means
    * well-separated. Reuses the q35/q102 centroid ARTIFACT (zero
    * retrain); all 16 dots are ONE codegen'd projection per vector
    * ([[graft.functions.DotProductF]] per centroid literal), so the only
    * shuffle is the k-sized final aggregate. The oracle replays the
    * deterministic Lloyd pipeline and ranks the same dots. */
  def q145Silhouette(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val cents = Similarity.centroidCodebook(v, ivfArtifactPath(spark, dir),
      k = 16, iters = 2, init = "sample")
    val fs = cents.sortBy(_._1)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val dots = fs.map { case (_, c) =>
      graft.functions.VectorFunctions.dot_f(col("vec"), lit(c.toArray)) }
    val sorted = array_sort(array(dots: _*))
    val scored = e.select(
      graft.functions.VectorFunctions.nearest_centroids(col("vec"),
        fs.map(_._2.toArray), fs.map(_._1), 1).getItem(0).as("cid"),
      element_at(sorted, -1).as("d1"), element_at(sorted, -2).as("d2"))
    scored
      .select(col("cid"),
        // clamped denominator: d2 == 1.0 (vector collinear with its
        // second-best centroid) would yield NaN/Inf→null in Spark but a
        // DuckDB division error — clamp identically on both engines so
        // degenerate embeddings stay cross-engine deterministic
        round((col("d1") - col("d2")) /
            greatest(lit(1e-12), lit(1.0) - col("d2")) * lit(1e6))
          .cast("long").as("s_fp6"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("s_fp6")).cast("double") / count(lit(1))).cast("long")
          .as("mean_sil_fp6"))
  }

  val q145SilhouetteSql: String = {
    val seedOrder = s"${OracleFragments.hex8Sql("vec_id::VARCHAR || '#ivf'")}, vec_id"
    s"""WITH seed AS (
       |  SELECT CAST(row_number() OVER (ORDER BY $seedOrder) - 1 AS BIGINT) AS cid,
       |    embedding::DOUBLE[] AS cvec
       |  FROM embeddings
       |  ORDER BY $seedOrder LIMIT 16),
       |${lloydCtes(1, "seed")},
       |${lloydCtes(2, "c1")},
       |d AS (
       |  SELECT e.vec_id AS id, c.cid,
       |    list_dot_product(e.embedding::DOUBLE[], c.cvec) AS dot,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY -list_dot_product(e.embedding::DOUBLE[], c.cvec), c.cid)
       |      AS rn
       |  FROM embeddings e CROSS JOIN c2 c),
       |top2 AS (
       |  SELECT a.id, a.cid, a.dot AS d1, b.dot AS d2
       |  FROM d a JOIN d b ON b.id = a.id AND b.rn = 2
       |  WHERE a.rn = 1),
       |sil AS (
       |  SELECT cid,
       |    CAST(round((d1 - d2) / greatest(1e-12, 1.0 - d2) * 1000000.0)
       |      AS BIGINT) AS s_fp6
       |  FROM top2)
       |SELECT cid, COUNT(*) AS n,
       |  CAST(round(CAST(SUM(s_fp6) AS DOUBLE) / COUNT(*)) AS BIGINT)
       |    AS mean_sil_fp6
       |FROM sil GROUP BY cid""".stripMargin
  }

  /** One unrolled Lloyd iteration: nearest-centroid assignment (argmin of
    * −dot with cid tie-break, the same ordering Spark's min-over-struct
    * produces), then per-(cid, dim) means over 6-decimal DECIMAL sums —
    * order-free, so bit-identical across engines — cast through REAL to
    * mirror Spark's float centroid storage. */
  private def lloydCtes(i: Int, prev: String): String =
    s"""asg$i AS (
       |  SELECT id, cid FROM (
       |    SELECT e.vec_id AS id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY -list_dot_product(e.embedding::DOUBLE[], c.cvec), c.cid) AS rn
       |    FROM embeddings e CROSS JOIN $prev c)
       |  WHERE rn = 1),
       |upd$i AS (
       |  SELECT a.cid, CAST(generate_subscripts(e.embedding, 1) - 1 AS BIGINT) AS dim,
       |    CAST(round(CAST(unnest(e.embedding) AS DOUBLE), 6) AS DECIMAL(18,6)) AS v
       |  FROM asg$i a JOIN embeddings e ON e.vec_id = a.id),
       |c$i AS (
       |  SELECT cid, list(CAST(CAST(m AS REAL) AS DOUBLE) ORDER BY dim) AS cvec FROM (
       |    SELECT cid, dim, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
       |    FROM upd$i GROUP BY cid, dim) GROUP BY cid)""".stripMargin

  val q35AnnIvfSql: String = {
    val seedOrder = s"${OracleFragments.hex8Sql("vec_id::VARCHAR || '#ivf'")}, vec_id"
    s"""WITH seed AS (
       |  SELECT CAST(row_number() OVER (ORDER BY $seedOrder) - 1 AS BIGINT) AS cid,
       |    embedding::DOUBLE[] AS cvec
       |  FROM embeddings
       |  ORDER BY $seedOrder LIMIT 16),
       |${lloydCtes(1, "seed")},
       |${lloydCtes(2, "c1")},
       |asg3 AS (
       |  SELECT id, cid FROM (
       |    SELECT e.vec_id AS id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY -list_dot_product(e.embedding::DOUBLE[], c.cvec), c.cid) AS rn
       |    FROM embeddings e CROSS JOIN c2 c)
       |  WHERE rn = 1),
       |buckets AS (
       |  SELECT a.id, a.cid, e.embedding::DOUBLE[] AS vec,
       |    sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS norm
       |  FROM asg3 a JOIN embeddings e ON e.vec_id = a.id),
       |probes AS (
       |  SELECT qid, qvec, cid, sqrt(list_dot_product(qvec, qvec)) AS qnorm FROM (
       |    SELECT e.vec_id AS qid, e.embedding::DOUBLE[] AS qvec, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY -list_dot_product(e.embedding::DOUBLE[], c.cvec), c.cid) AS pr
       |    FROM embeddings e CROSS JOIN c2 c WHERE e.vec_id < 3)
       |  WHERE pr <= 4),
       |cand AS (
       |  SELECT p.qid, b.id,
       |    list_dot_product(b.vec, p.qvec) / (b.norm * p.qnorm) AS sim
       |  FROM buckets b JOIN probes p USING (cid) WHERE b.id <> p.qid),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rn
       |  FROM cand)
       |SELECT qid, CAST(rn AS BIGINT) AS rank, id AS neighbor_id, sim
       |FROM r WHERE rn <= 10""".stripMargin
  }

  /** Metadata-FILTERED vector search: the q35 IVF serving path with a
    * label predicate (label ≤ 2) applied to the posting side BEFORE
    * ranking — pre-filtering, the semantics a retrieval stack needs when
    * the query carries an access or freshness constraint. The codebook is
    * the UNCHANGED q35 artifact (trained on the full corpus, served
    * filtered — the production shape: one index, many predicates); the
    * filter prunes the bucket scan, so selective predicates make the
    * search CHEAPER, never a post-rank re-query. Oracle replays training,
    * probing, and the filtered rerank. */
  def q125FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val v = vectors(spark, dir)
    val q = v.filter(col("id") < 3).select(col("id").as("qid"), col("vec").as("qvec"))
    val cents = Similarity.centroidCodebook(v, ivfArtifactPath(spark, dir),
      k = 16, iters = 2, init = "sample")
    val allowed = v.join(
      e.filter(col("label") <= 2).select(col("vec_id").as("id")), Seq("id"), "left_semi")
    Similarity.ivfTopK(allowed, q, 10, cents, nprobe = 4)
      .withColumnRenamed("id", "neighbor_id")
  }

  val q125FilteredAnnSql: String = {
    val seedOrder = s"${OracleFragments.hex8Sql("vec_id::VARCHAR || '#ivf'")}, vec_id"
    s"""WITH seed AS (
       |  SELECT CAST(row_number() OVER (ORDER BY $seedOrder) - 1 AS BIGINT) AS cid,
       |    embedding::DOUBLE[] AS cvec
       |  FROM embeddings
       |  ORDER BY $seedOrder LIMIT 16),
       |${lloydCtes(1, "seed")},
       |${lloydCtes(2, "c1")},
       |asg3 AS (
       |  SELECT id, cid FROM (
       |    SELECT e.vec_id AS id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY -list_dot_product(e.embedding::DOUBLE[], c.cvec), c.cid) AS rn
       |    FROM embeddings e CROSS JOIN c2 c)
       |  WHERE rn = 1),
       |buckets AS (
       |  SELECT a.id, a.cid, e.embedding::DOUBLE[] AS vec,
       |    sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS norm
       |  FROM asg3 a JOIN embeddings e ON e.vec_id = a.id
       |  WHERE e.label <= 2),
       |probes AS (
       |  SELECT qid, qvec, cid, sqrt(list_dot_product(qvec, qvec)) AS qnorm FROM (
       |    SELECT e.vec_id AS qid, e.embedding::DOUBLE[] AS qvec, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY -list_dot_product(e.embedding::DOUBLE[], c.cvec), c.cid) AS pr
       |    FROM embeddings e CROSS JOIN c2 c WHERE e.vec_id < 3)
       |  WHERE pr <= 4),
       |cand AS (
       |  SELECT p.qid, b.id,
       |    list_dot_product(b.vec, p.qvec) / (b.norm * p.qnorm) AS sim
       |  FROM buckets b JOIN probes p USING (cid) WHERE b.id <> p.qid),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rn
       |  FROM cand)
       |SELECT qid, CAST(rn AS BIGINT) AS rank, id AS neighbor_id, sim
       |FROM r WHERE rn <= 10""".stripMargin
  }

  /** Approximate top-k via random-hyperplane LSH (the scale path). The
    * md5-derived signatures made this oracle-expressible: the SQL rebuilds
    * the same candidate buckets and re-ranks with exact cosine. */
  def q23AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.filter(col("id") < 3).select(col("id").as("qid"), col("vec").as("qvec"))
    Similarity.lshTopK(v, q, 10)
      .withColumnRenamed("id", "neighbor_id")
  }

  val q23AnnLshSql: String =
    s"""WITH ${sigCtes(16, 6, 64)},
      |qsigs AS (SELECT id AS qid, tbl, sig FROM sigs WHERE id < 3),
      |cand AS (
      |  SELECT DISTINCT s.id, q.qid
      |  FROM sigs s JOIN qsigs q ON s.tbl = q.tbl AND s.sig = q.sig
      |  WHERE s.id <> q.qid),
      |scored AS (
      |  SELECT c.qid, c.id,
      |    list_cosine_similarity(ev.embedding::DOUBLE[], eq.embedding::DOUBLE[]) AS sim
      |  FROM cand c
      |  JOIN embeddings ev ON ev.vec_id = c.id
      |  JOIN embeddings eq ON eq.vec_id = c.qid),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rn
      |  FROM scored)
      |SELECT qid, CAST(rn AS BIGINT) AS rank, id AS neighbor_id, sim
      |FROM r WHERE rn <= 10""".stripMargin

  /** ANN quality as a gated metric: recall@10 of the LSH top-k (q23)
    * against the exact top-k (q20), per query vector. Joins the two
    * pipelines and counts overlap — the oracle recomputes both, so the
    * recall number itself is certified. */
  def q49AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.filter(col("id") < 3).select(col("id").as("qid"), col("vec").as("qvec"))
    val exact = Similarity.bruteForceTopK(v, q, 10).select(col("qid"), col("id"))
    val approx = Similarity.lshTopK(v, q, 10).select(col("qid"), col("id"))
    val overlap = exact.join(approx, Seq("qid", "id"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    exact.select(col("qid")).distinct()
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"),
        (coalesce(col("hits"), lit(0L)).cast("double") / 10.0).as("recall_at_10"))
  }

  /** Exact top-10 by int8-quantized cosine ([[graft.ops.Quantize]]): the
    * quarter-bandwidth similarity path. Every dot is an order-free long
    * sum, so the oracle replays the whole pipeline without any
    * float-fold-order contract. */
  def q54QuantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.filter(col("id") < 3).select(col("id").as("qid"), col("vec").as("qvec"))
    graft.ops.Quantize.bruteForceTopKQ(v, q, 10)
      .withColumnRenamed("id", "neighbor_id")
  }

  val q54QuantizedTopKSql: String =
    """WITH q0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q1 AS (
      |  SELECT vec_id, v,
      |    127.0 / greatest(list_max(list_transform(v, y -> abs(y))), 1e-30) AS s
      |  FROM q0),
      |qz AS (
      |  SELECT vec_id,
      |    list_transform(v, x -> CAST(floor(x * s + 0.5) AS BIGINT)) AS q
      |  FROM q1),
      |qn AS (
      |  SELECT vec_id, q, sqrt(list_dot_product(q::DOUBLE[], q::DOUBLE[])) AS n
      |  FROM qz),
      |scored AS (
      |  SELECT b.vec_id AS qid, a.vec_id AS id,
      |    list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) / (a.n * b.n) AS sim
      |  FROM qn a CROSS JOIN qn b
      |  WHERE b.vec_id < 3 AND a.vec_id <> b.vec_id),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rn
      |  FROM scored)
      |SELECT qid, CAST(rn AS BIGINT) AS rank, id AS neighbor_id, sim
      |FROM r WHERE rn <= 10""".stripMargin

  /** q158: int8 quantization reconstruction-error audit — per label, the
    * mean |v − q/scale| over all dimensions: the number that says whether
    * the q54 quarter-bandwidth path is safe for a given embedding
    * population (theory bounds it by 0.5/scale; a label whose vectors
    * have one dominant dimension quantizes worse everywhere else). The
    * per-element error folds to an fp9 long INSIDE the row (sequential
    * index fold — no shuffle), so the corpus contributes one label-keyed
    * integer aggregate. */
  def q158QuantError(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("vec"), col("label"))
    val q = graft.ops.Quantize.quantize(e, "vec")
    val v = col("vec")
    // zip_with, NOT an index fold probing col("qvec"): CollapseProject
    // inlines the projected transform into each probe site, and HOF
    // lambdas evaluate interpreted with no cross-lambda subexpression
    // elimination — an element_at(qvec, i) fold re-ran the FULL
    // quantization transform per element, O(d²) per row (measured 4×:
    // 0.89 s → 0.23 s at sf0.1). zip_with evaluates qvec once as its
    // child and walks both arrays in lockstep.
    val rowErr = aggregate(
      zip_with(v, col("qvec"), (x, qq) =>
        round(abs(x.cast("double") - qq.cast("double") / col("qscale")) *
          lit(1e9)).cast("long")),
      lit(0L), (acc, e2) => acc + e2)
    q.select(col("label"), size(v).cast("long").as("dims"),
        rowErr.as("err_fp9"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dims")).as("n_dims"),
        sum(col("err_fp9")).as("sum_err_fp9"),
        round(sum(col("err_fp9")).cast("double") / sum(col("dims")))
          .cast("long").as("mean_err_fp9"))
  }

  val q158QuantErrorSql: String =
    """WITH q0 AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |q1 AS (
      |  SELECT vec_id, label, v,
      |    127.0 / greatest(list_max(list_transform(v, y -> abs(y))), 1e-30) AS s
      |  FROM q0),
      |errs AS (
      |  SELECT label, CAST(len(v) AS BIGINT) AS dims,
      |    list_reduce(list_concat([CAST(0 AS BIGINT)],
      |      list_transform(generate_series(1, len(v)),
      |        i -> CAST(round(abs(v[i] - floor(v[i] * s + 0.5) / s)
      |               * 1000000000.0) AS BIGINT))),
      |      (a, b) -> a + b) AS err_fp9
      |  FROM q1)
      |SELECT label, COUNT(*) AS n_vecs,
      |  CAST(SUM(dims) AS BIGINT) AS n_dims,
      |  CAST(SUM(err_fp9) AS BIGINT) AS sum_err_fp9,
      |  CAST(round(CAST(SUM(err_fp9) AS DOUBLE) / SUM(dims)) AS BIGINT)
      |    AS mean_err_fp9
      |FROM errs GROUP BY label""".stripMargin

  /** SemDeDup gate ([[Similarity.semDedup]]): k-means cluster (k chosen
    * by the [[Similarity.autoK]] density rule from COUNT(*)), then
    * keep-first semantic dedup WITHIN clusters at cosine > 0.5. The
    * oracle replays the whole pipeline — the integer k rule, the
    * md5-ordered sample init, two decimal-exact Lloyd iterations, the
    * (−dot, cid) assignment, and the in-cluster pair filter — so both
    * the clustering and the dedup semantics are certified, at a k that
    * varies with the corpus (4 at sf0.01, 40 at sf0.1). Returns
    * survivors with their cluster id for retention audits. */
  def q75SemDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(vectors(spark, dir),
      semDedupArtifactPath(spark, dir), threshold = 0.5)
      .select(col("id").as("vec_id"), col("cid"))

  /** Artifact path for q75's centroids. No k in the tag: the path is
    * keyed by the source parquet's len+mtime, and k is a deterministic
    * function of that data's row count, so same path ⇒ same k (a
    * targetClusterRows change reuses the path and is caught by the
    * artifact's parameter-fingerprint guard, which fails fast). */
  private def semDedupArtifactPath(spark: SparkSession, dir: String): String =
    graft.core.Artifacts.path(spark, s"$dir/embeddings.parquet",
      "semdedup_i2_sample")

  val q75SemDedupSql: String = {
    val seedOrder = s"${OracleFragments.hex8Sql("vec_id::VARCHAR || '#ivf'")}, vec_id"
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |kk AS (SELECT LEAST(4096, GREATEST(4, (n + 49) // 50)) AS k FROM nn),
       |seed AS (
       |  SELECT cid, cvec FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY $seedOrder) - 1 AS BIGINT) AS cid,
       |      embedding::DOUBLE[] AS cvec
       |    FROM embeddings)
       |  WHERE cid < (SELECT k FROM kk)),
       |${lloydCtes(1, "seed")},
       |${lloydCtes(2, "c1")},
       |asg3 AS (
       |  SELECT id, cid FROM (
       |    SELECT e.vec_id AS id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY -list_dot_product(e.embedding::DOUBLE[], c.cvec), c.cid) AS rn
       |    FROM embeddings e CROSS JOIN c2 c)
       |  WHERE rn = 1),
       |wv AS (
       |  SELECT a.id, a.cid, e.embedding::DOUBLE[] AS vec
       |  FROM asg3 a JOIN embeddings e ON e.vec_id = a.id),
       |losers AS (
       |  SELECT DISTINCT b.id
       |  FROM wv a JOIN wv b ON a.cid = b.cid AND a.id < b.id
       |  WHERE list_cosine_similarity(a.vec, b.vec) > 0.5)
       |SELECT w.id AS vec_id, w.cid FROM wv w
       |WHERE w.id NOT IN (SELECT id FROM losers)""".stripMargin
  }

  /** kNN-graph gate ([[Similarity.knnGraphLsh]]): every vector's top-5
    * cosine neighbors among its auto-geometry LSH candidates — the
    * corpus-wide neighborhood structure graph-based curation reads. The
    * oracle rebuilds the symmetric candidate set from the same
    * density-ruled signatures and re-ranks per vector. */
  def q96KnnGraph(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphLsh(vectors(spark, dir), k = 5)

  val q96KnnGraphSql: String =
    s"""WITH ${sigCtesAuto(16, 64)},
      |cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.sig = b.sig
      |  WHERE a.id <> b.id),
      |scored AS (
      |  SELECT c.id_a, c.id_b,
      |    list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim
      |  FROM cand c
      |  JOIN embeddings ea ON ea.vec_id = c.id_a
      |  JOIN embeddings eb ON eb.vec_id = c.id_b)
      |SELECT id_a AS id,
      |  CAST(row_number() OVER (PARTITION BY id_a
      |    ORDER BY sim DESC, id_b) AS BIGINT) AS rank,
      |  id_b AS neighbor_id, sim
      |FROM scored
      |QUALIFY rank <= 5""".stripMargin

  /** Hard-negative mining for contrastive training: per vector, the top-3
    * most-similar vectors under a DIFFERENT label, candidates from the
    * q96 auto-geometry symmetric bucket join. The oracle replays the
    * signature construction, the conflicting-label filter, and the
    * rerank, so the blocking itself is certified (the q21/q96
    * discipline). */
  def q114HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
    Similarity.hardNegatives(v, k = 3)
  }

  val q114HardNegativesSql: String =
    s"""WITH ${sigCtesAuto(16, 64)},
      |lab AS (SELECT vec_id AS id, label FROM embeddings),
      |cand AS (
      |  SELECT DISTINCT a.id AS id, la.label AS label,
      |    b.id AS neg_id, lb.label AS neg_label
      |  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.sig = b.sig
      |  JOIN lab la ON la.id = a.id
      |  JOIN lab lb ON lb.id = b.id
      |  WHERE la.label <> lb.label),
      |scored AS (
      |  SELECT c.id, c.label, c.neg_id, c.neg_label,
      |    list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim
      |  FROM cand c
      |  JOIN embeddings ea ON ea.vec_id = c.id
      |  JOIN embeddings eb ON eb.vec_id = c.neg_id)
      |SELECT id, label,
      |  CAST(row_number() OVER (PARTITION BY id
      |    ORDER BY sim DESC, neg_id) AS BIGINT) AS rank,
      |  neg_id, neg_label, sim
      |FROM scored
      |QUALIFY rank <= 3""".stripMargin

  /** Product-quantization ANN serving ([[graft.ops.Quantize]] PQ kernel):
    * 4 subspaces × 16 codewords over the 64-dim embeddings, deterministic
    * '#pq' seed codebook, argmax-dot encode, fp9 ADC lookup-table top-10
    * for the three q20 probe vectors. The oracle replays seed selection,
    * per-subspace assignment, the LUT, and the order-free integer score
    * sum — the full PQ serving path is certified, not just the ranking. */
  def q117PqAdc(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val cb = graft.ops.Quantize.pqCodebook(v, m = 4, k = 16, dim = 64)
    val codes = graft.ops.Quantize.pqEncode(v, cb, dim = 64)
    val queries = v.filter(col("id") < 3)
      .select(col("id"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)
    graft.ops.Quantize.pqAdcTopK(codes, queries, cb, k = 10)
  }

  val q117PqAdcSql: String = {
    val seedOrder = OracleFragments.hex8Sql("vec_id::VARCHAR || '#pq'")
    s"""WITH seeds AS (
      |  SELECT embedding::DOUBLE[] AS v,
      |    row_number() OVER (ORDER BY $seedOrder, vec_id) AS rn
      |  FROM embeddings QUALIFY rn <= 16),
      |cb AS (
      |  SELECT s, rn - 1 AS c,
      |    v[CAST(s * 16 + 1 AS INT) : CAST(s * 16 + 16 AS INT)] AS cv
      |  FROM seeds, range(4) t(s)),
      |sub AS (
      |  SELECT vec_id, s,
      |    (embedding::DOUBLE[])[CAST(s * 16 + 1 AS INT) : CAST(s * 16 + 16 AS INT)] AS sv
      |  FROM embeddings, range(4) t(s)),
      |codes AS (
      |  SELECT vec_id, s, c FROM (
      |    SELECT b.vec_id, b.s, cb.c,
      |      row_number() OVER (PARTITION BY b.vec_id, b.s
      |        ORDER BY -list_dot_product(b.sv, cb.cv), cb.c) AS rn
      |    FROM sub b JOIN cb ON cb.s = b.s)
      |  WHERE rn = 1),
      |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      |      FROM embeddings WHERE vec_id < 3),
      |lut AS (
      |  SELECT q.qid, cb.s, cb.c,
      |    CAST(round(list_dot_product(
      |      q.qv[CAST(cb.s * 16 + 1 AS INT) : CAST(cb.s * 16 + 16 AS INT)],
      |      cb.cv) * 1e9) AS BIGINT) AS w
      |  FROM q, cb),
      |scored AS (
      |  SELECT l.qid, co.vec_id, CAST(SUM(l.w) AS BIGINT) AS score_fp9
      |  FROM codes co JOIN lut l ON l.s = co.s AND l.c = co.c
      |  WHERE co.vec_id <> l.qid
      |  GROUP BY 1, 2)
      |SELECT qid,
      |  CAST(row_number() OVER (PARTITION BY qid
      |    ORDER BY score_fp9 DESC, vec_id) AS BIGINT) AS rank,
      |  vec_id, score_fp9
      |FROM scored
      |QUALIFY rank <= 10""".stripMargin
  }

  val q49AnnRecallSql: String =
    s"""WITH ${sigCtes(16, 6, 64)},
      |q AS (
      |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id < 3),
      |ex AS (
      |  SELECT qid, vec_id AS id FROM (
      |    SELECT q.qid, e.vec_id,
      |      row_number() OVER (PARTITION BY q.qid
      |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
      |                 e.vec_id) AS rn
      |    FROM embeddings e, q WHERE e.vec_id <> q.qid)
      |  WHERE rn <= 10),
      |qsigs AS (SELECT id AS qid, tbl, sig FROM sigs WHERE id < 3),
      |cand AS (
      |  SELECT DISTINCT s.id, qs.qid
      |  FROM sigs s JOIN qsigs qs ON s.tbl = qs.tbl AND s.sig = qs.sig
      |  WHERE s.id <> qs.qid),
      |ap AS (
      |  SELECT qid, id FROM (
      |    SELECT c.qid, c.id,
      |      row_number() OVER (PARTITION BY c.qid
      |        ORDER BY list_cosine_similarity(ev.embedding::DOUBLE[],
      |                                        eq.embedding::DOUBLE[]) DESC,
      |                 c.id) AS rn
      |    FROM cand c
      |    JOIN embeddings ev ON ev.vec_id = c.id
      |    JOIN embeddings eq ON eq.vec_id = c.qid)
      |  WHERE rn <= 10)
      |SELECT ex.qid,
      |  CAST(COUNT(ap.id) AS DOUBLE) / 10.0 AS recall_at_10
      |FROM ex LEFT JOIN ap ON ap.qid = ex.qid AND ap.id = ex.id
      |GROUP BY ex.qid""".stripMargin

  /** q131: per-dimension embedding column profile — n / mean / min / max
    * for every coordinate. The health check an embedding pipeline runs
    * after every encoder change or ingest batch: a collapsed dimension
    * (≈0 variance), a mis-scaled batch, or a NaN-poisoned coordinate all
    * surface here before they silently break every downstream ANN/dedup
    * job. Scale shape: posexplode fans out n·d rows but partial
    * aggregation reduces them to d partials per task BEFORE the shuffle —
    * the exchange carries only (dim × tasks) rows; d tiny groups would
    * skew a naive plan but the map-side combine makes the reduce trivial.
    * Determinism: float32→double widening is exact; per-value 1e-9
    * fixed-point longs make the sum order-free; mean is one double
    * division chain mirrored in the oracle. */
  def q131DimStats(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    e.select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"), col("v").cast("double").as("v"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("v") * lit(1e9)).cast("long")).as("sum_fp9"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
      .select(col("dim"), col("n"), col("sum_fp9"),
        round(col("sum_fp9").cast("double") / col("n") / lit(1000.0))
          .cast("long").as("mean_fp6"),
        col("min_v"), col("max_v"))
  }

  val q131DimStatsSql: String =
    """WITH vals AS (
      |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |agg AS (
      |  SELECT dim, COUNT(*) AS n,
      |    CAST(SUM(CAST(round(v * 1000000000.0) AS BIGINT)) AS BIGINT)
      |      AS sum_fp9,
      |    MIN(v) AS min_v, MAX(v) AS max_v
      |  FROM vals GROUP BY dim)
      |SELECT dim, n, sum_fp9,
      |  CAST(round(CAST(sum_fp9 AS DOUBLE) / n / 1000.0) AS BIGINT)
      |    AS mean_fp6,
      |  min_v, max_v
      |FROM agg""".stripMargin

  /** q171: Matryoshka truncation recall (Kusupati et al. 2022, MRL) — the
    * "can we search on the first 16 of 64 dims" audit read before buying
    * the 4× cheaper index: exact cosine top-10 on the full vectors vs the
    * same search on the dim-prefix, recall@10 per query. Truncation is a
    * zero-shuffle `slice` projection on BOTH sides of the search, so the
    * audit costs two q20-shaped passes; at 100 TB the prefix pass scans
    * 1/4 the bytes (columnar layouts can prune the tail dims entirely
    * when the prefix is stored as its own column). Integer recall
    * (overlap count and exact fp6 ratio) — no float compare. */
  def q171MatryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.filter(col("id") < 5).select(col("id").as("qid"), col("vec").as("qvec"))
    val full = Similarity.bruteForceTopK(v, q, 10)
    val trunc = Similarity.bruteForceTopK(
      v.select(col("id"), slice(col("vec"), 1, 16).as("vec")),
      q.select(col("qid"), slice(col("qvec"), 1, 16).as("qvec")), 10)
    full.select(col("qid"), col("id"))
      .join(trunc.select(col("qid"), col("id")), Seq("qid", "id"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_overlap"))
      .select(col("qid"), col("n_overlap"),
        (col("n_overlap") * 100000L).as("recall_fp6"))
  }

  val q171MatryoshkaRecallSql: String =
    """WITH q AS (
      |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
      |    (embedding[1:16])::DOUBLE[] AS qt
      |  FROM embeddings WHERE vec_id < 5),
      |full_r AS (
      |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
      |    ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC,
      |             vec_id) AS rn
      |  FROM embeddings, q WHERE vec_id <> qid),
      |trunc_r AS (
      |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
      |    ORDER BY list_cosine_similarity((embedding[1:16])::DOUBLE[], qt) DESC,
      |             vec_id) AS rn
      |  FROM embeddings, q WHERE vec_id <> qid)
      |SELECT f.qid, COUNT(*) AS n_overlap,
      |  CAST(COUNT(*) * 100000 AS BIGINT) AS recall_fp6
      |FROM full_r f JOIN trunc_r t ON t.qid = f.qid AND t.vec_id = f.vec_id
      |WHERE f.rn <= 10 AND t.rn <= 10
      |GROUP BY f.qid""".stripMargin

  /** q176: Johnson–Lindenstrauss sign-projection distortion audit — 64
    * dims down to 8 via the SAME md5-derived ±1 hyperplanes the LSH
    * family uses ([[Similarity.planes]], engine-portable by
    * construction), certifying per consecutive-id pair the ratio of the
    * (1/d′-scaled) projected squared distance to the true squared
    * distance. This is the decision table read before swapping full
    * vectors for cheap projections in dedup/blocking. Projection is a
    * zero-shuffle 8-dot-product projection; pairs come from ONE
    * consecutive-id self-join (linear, never all-pairs); both squared
    * distances are per-element fp12 integers summed exactly, so the only
    * doubles are the final ratio's — identical expression tree both
    * engines. Denominator clamped to ≥1 (identical-vector pairs). */
  def q176JlDistortion(spark: SparkSession, dir: String): DataFrame = {
    val pl = Similarity.planes(1, 8, 64).head
    val v = vectors(spark, dir)
    val proj = v.select(col("id"), col("vec"),
      array(pl.map(p =>
        graft.functions.VectorFunctions.dot_f(col("vec"), typedlit(p.toSeq))): _*)
        .as("proj"))
    def sqDiffFp12(a: Column, b: Column): Column =
      aggregate(
        zip_with(a, b, (x, y) => {
          val d = x.cast("double") - y.cast("double")
          round(d * d * lit(1e12)).cast("long")
        }),
        lit(0L), (acc, x) => acc + x)
    val a = proj.select(col("id").as("id_a"), col("vec").as("va"), col("proj").as("pa"))
    val b = proj.select((col("id") - 1).as("id_a"), col("vec").as("vb"), col("proj").as("pb"))
    a.join(b, Seq("id_a"))
      .select(col("id_a"), sqDiffFp12(col("pa"), col("pb")).as("num_fp12"),
        sqDiffFp12(col("va"), col("vb")).as("den_fp12"))
      .select(col("id_a"), col("num_fp12"), col("den_fp12"),
        round(lit(1e6) * (col("num_fp12").cast("double") / lit(8.0)) /
          greatest(lit(1L), col("den_fp12")).cast("double"))
          .cast("long").as("ratio_fp6"))
  }

  val q176JlDistortionSql: String =
    """WITH coeff AS (
      |  SELECT b, d,
      |    CASE WHEN (strpos('0123456789abcdef',
      |                      substr(md5('hp:0:'||b||':'||d), 1, 1)) - 1) % 2 = 1
      |         THEN 1.0 ELSE -1.0 END AS c
      |  FROM range(8) r1(b), range(64) r2(d)),
      |planes AS (SELECT b, list(c ORDER BY d) AS pv FROM coeff GROUP BY b),
      |proj AS (
      |  SELECT e.vec_id AS id, p.b,
      |    list_dot_product(e.embedding::DOUBLE[], p.pv) AS pr
      |  FROM embeddings e CROSS JOIN planes p),
      |num AS (
      |  SELECT a.id AS id_a,
      |    CAST(SUM(CAST(round((a.pr - b.pr) * (a.pr - b.pr) * 1e12)
      |      AS BIGINT)) AS BIGINT) AS num_fp12
      |  FROM proj a JOIN proj b ON b.id = a.id + 1 AND b.b = a.b
      |  GROUP BY 1),
      |vals AS (
      |  SELECT vec_id AS id, generate_subscripts(embedding, 1) AS d,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |den AS (
      |  SELECT a.id AS id_a,
      |    CAST(SUM(CAST(round((a.x - b.x) * (a.x - b.x) * 1e12)
      |      AS BIGINT)) AS BIGINT) AS den_fp12
      |  FROM vals a JOIN vals b ON b.id = a.id + 1 AND b.d = a.d
      |  GROUP BY 1)
      |SELECT n.id_a, n.num_fp12, d.den_fp12,
      |  CAST(round(1e6 * (CAST(n.num_fp12 AS DOUBLE) / 8.0)
      |    / CAST(greatest(1, d.den_fp12) AS DOUBLE)) AS BIGINT) AS ratio_fp6
      |FROM num n JOIN den d USING (id_a)""".stripMargin

  /** The q96 LSH kNN graph as shared oracle CTEs ending in
    * `g(id, neighbor_id, rank)` — the auto-geometry signatures, the
    * symmetric bucket join, and the per-source top-k rerank. */
  private def knnGraphCtes(k: Int): String =
    s"""${sigCtesAuto(16, 64)},
      |cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.sig = b.sig
      |  WHERE a.id <> b.id),
      |scored AS (
      |  SELECT c.id_a, c.id_b,
      |    list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim
      |  FROM cand c
      |  JOIN embeddings ea ON ea.vec_id = c.id_a
      |  JOIN embeddings eb ON eb.vec_id = c.id_b),
      |g AS (
      |  SELECT id_a AS id, id_b AS neighbor_id,
      |    row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rank
      |  FROM scored
      |  QUALIFY rank <= $k)""".stripMargin

  /** q177: hubness audit of the embedding space (Radovanović et al.
    * 2010) — the k-occurrence histogram: how many vectors appear in n
    * other vectors' top-5 lists. High-dim spaces grow hubs (vectors in
    * thousands of lists) and antihubs (n = 0); a heavy hub tail means
    * kNN-based dedup/retrieval over-weights a few points and the space
    * needs centering or csls-style rescaling BEFORE it ships. Built on
    * the q96 LSH graph: one count per neighbor id plus a LEFT join from
    * the vector table so antihubs surface as the n_occ = 0 row. The
    * histogram is occupancy-sized; nothing here is quadratic. */
  def q177Hubness(spark: SparkSession, dir: String): DataFrame = {
    val g = Similarity.knnGraphLsh(vectors(spark, dir), k = 5)
    val occ = g.groupBy(col("neighbor_id").as("id"))
      .agg(count(lit(1)).as("n_occ"))
    vectors(spark, dir).select(col("id"))
      .join(occ, Seq("id"), "left")
      .select(coalesce(col("n_occ"), lit(0L)).as("n_occ"))
      .groupBy(col("n_occ")).agg(count(lit(1)).as("n_vectors"))
  }

  val q177HubnessSql: String =
    s"""WITH ${knnGraphCtes(5)},
      |occ AS (SELECT neighbor_id AS id, COUNT(*) AS n_occ FROM g GROUP BY 1)
      |SELECT CAST(COALESCE(o.n_occ, 0) AS BIGINT) AS n_occ,
      |  COUNT(*) AS n_vectors
      |FROM embeddings e LEFT JOIN occ o ON o.id = e.vec_id
      |GROUP BY 1""".stripMargin

  /** q178: mutual (reciprocal) kNN pairs — edges where each endpoint is
    * in the OTHER's top-5: the high-precision filter image/text dedup
    * pipelines apply on top of a raw kNN graph, because one-directional
    * neighbors are exactly what hubs fabricate (q177's diagnosis; this is
    * the fix). One self-join of the q96 graph on the reversed key — edge-
    * count work, no re-scoring — emitting both directional ranks. */
  def q178MutualKnn(spark: SparkSession, dir: String): DataFrame = {
    val g = Similarity.knnGraphLsh(vectors(spark, dir), k = 5)
      .select(col("id"), col("neighbor_id"), col("rank"))
      .localCheckpoint() // two consumers of one LSH + rerank pass
    val rev = g.select(col("neighbor_id").as("id"), col("id").as("neighbor_id"),
      col("rank").as("rank_ba"))
    g.join(rev, Seq("id", "neighbor_id"))
      .filter(col("id") < col("neighbor_id"))
      .select(col("id").as("id_a"), col("neighbor_id").as("id_b"),
        col("rank").as("rank_ab"), col("rank_ba"))
  }

  val q178MutualKnnSql: String =
    s"""WITH ${knnGraphCtes(5)}
      |SELECT f.id AS id_a, f.neighbor_id AS id_b,
      |  CAST(f.rank AS BIGINT) AS rank_ab, CAST(r.rank AS BIGINT) AS rank_ba
      |FROM g f JOIN g r ON r.id = f.neighbor_id AND r.neighbor_id = f.id
      |WHERE f.id < f.neighbor_id""".stripMargin

  /** q179: MMR diversity re-rank ([[Similarity.mmrSelect]]) — top-20
    * brute-force retrieval per query re-ranked to 5 diverse results at
    * λ = 0.7. The oracle unrolls the greedy loop (the Lloyd/k-core
    * discipline) and replays the identical IEEE objective — the penalty
    * weight is spelled `(1.0 − 0.7)` on BOTH engines so each computes
    * the same double. Scores surface fp6; selection order is certified
    * by `sel_rank`. */
  def q179Mmr(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.filter(col("id") < 3).select(col("id").as("qid"), col("vec").as("qvec"))
    val pool = Similarity.bruteForceTopK(v, q, 20)
      .select(col("qid"), col("id"), col("sim").as("simq"))
      .localCheckpoint() // feeds the pair matrix AND every greedy round
    val withVec = pool.select(col("qid"), col("id")).join(v, Seq("id"))
    val a = withVec.select(col("qid"), col("id").as("id_x"), col("vec").as("vx"))
    val b = withVec.select(col("qid"), col("id").as("id_y"), col("vec").as("vy"))
    val ps = a.join(b, Seq("qid")).filter(col("id_x") =!= col("id_y"))
      .select(col("qid"), col("id_x"), col("id_y"),
        Similarity.cosine(col("vx"), col("vy")).as("sim"))
    Similarity.mmrSelect(pool, ps, lambda = 0.7, k = 5)
      .select(col("qid"), col("sel_rank"), col("id"),
        round(col("score") * lit(1e6)).cast("long").as("score_fp6"))
  }

  /** q186: multi-probe LSH recall audit (Lv et al. 2007) — probing each
    * query's bucket PLUS the `bits` single-bit-flip neighbors in every
    * table, versus exact-bucket lookup on the SAME geometry (4 tables ×
    * 8 bits). Multi-probing buys the recall extra tables would, at the
    * cost of query-side fan-out instead of another corpus index pass —
    * the trade a billion-vector deployment actually tunes. The query
    * side (5 ids × 4 tables × 9 probes) is broadcast-sized; the corpus
    * signature table is computed ONCE by the native kernel and serves
    * both candidate sets; recall certifies both against brute force,
    * integer-only. */
  def q186MultiProbe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nT = 4; val bits = 8
    val v = vectors(spark, dir)
    val sigs = v.select(col("id"),
        posexplode(graft.functions.VectorFunctions.lsh_signatures(
          col("vec"), nT, bits, 64)).as(Seq("tbl", "sig")))
      .localCheckpoint() // one kernel pass serves query AND corpus sides
    val qsig = sigs.filter(col("id") < 5)
      .select(col("id").as("qid"), col("tbl"), col("sig").as("qs"))
    val probes = qsig.select(col("qid"), col("tbl"),
      explode(array(col("qs") +:
        (0 until bits).map(b => col("qs").bitwiseXOR(lit(1L << b))): _*))
        .as("probe"))
    def rerank(cand: DataFrame): DataFrame = cand
      .join(v.select(col("id").as("qid"), col("vec").as("qvec")), Seq("qid"))
      .join(v.select(col("id"), col("vec")), Seq("id"))
      .select(col("qid"), col("id"),
        Similarity.cosine(col("vec"), col("qvec")).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))))
      .filter(col("rn") <= 10).select(col("qid"), col("id"))
    val corp = sigs.select(col("tbl").as("ctbl"), col("sig").as("csig"), col("id"))
    val candSingle = qsig.join(corp, col("tbl") === col("ctbl") &&
        col("qs") === col("csig") && col("qid") =!= col("id"))
      .select(col("qid"), col("id")).distinct().localCheckpoint()
    val candMulti = probes.join(corp, col("tbl") === col("ctbl") &&
        col("probe") === col("csig") && col("qid") =!= col("id"))
      .select(col("qid"), col("id")).distinct().localCheckpoint()
    val brute = Similarity.bruteForceTopK(
      v, v.filter(col("id") < 5).select(col("id").as("qid"), col("vec").as("qvec")), 10)
      .select(col("qid"), col("id"))
    def overlap(c: DataFrame, name: String): DataFrame =
      rerank(c).join(brute, Seq("qid", "id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as(name))
    v.filter(col("id") < 5).select(col("id").as("qid"))
      .join(candSingle.groupBy(col("qid")).agg(count(lit(1)).as("n_cand_single")),
        Seq("qid"), "left")
      .join(candMulti.groupBy(col("qid")).agg(count(lit(1)).as("n_cand_multi")),
        Seq("qid"), "left")
      .join(overlap(candSingle, "rec_single"), Seq("qid"), "left")
      .join(overlap(candMulti, "rec_multi"), Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_cand_single"), lit(0L)).as("n_cand_single"),
        coalesce(col("n_cand_multi"), lit(0L)).as("n_cand_multi"),
        coalesce(col("rec_single"), lit(0L)).as("rec_single"),
        coalesce(col("rec_multi"), lit(0L)).as("rec_multi"))
  }

  val q186MultiProbeSql: String =
    s"""WITH ${sigCtes(4, 8, 64)},
      |qsig AS (SELECT id AS qid, tbl, sig AS qs FROM sigs WHERE id < 5),
      |probes AS (
      |  SELECT qid, tbl, qs AS probe FROM qsig
      |  UNION ALL
      |  SELECT qid, tbl, xor(qs, 1::BIGINT << b) FROM qsig, range(8) r(b)),
      |cs AS (
      |  SELECT DISTINCT q.qid, s.id FROM qsig q
      |  JOIN sigs s ON s.tbl = q.tbl AND s.sig = q.qs AND s.id <> q.qid),
      |cm AS (
      |  SELECT DISTINCT p.qid, s.id FROM probes p
      |  JOIN sigs s ON s.tbl = p.tbl AND s.sig = p.probe AND s.id <> p.qid),
      |qv AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
      |       FROM embeddings WHERE vec_id < 5),
      |rs AS (
      |  SELECT qid, id FROM (
      |    SELECT c.qid, c.id, row_number() OVER (PARTITION BY c.qid
      |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec)
      |        DESC, c.id) AS rn
      |    FROM cs c JOIN qv q USING (qid) JOIN embeddings e ON e.vec_id = c.id)
      |  WHERE rn <= 10),
      |rm AS (
      |  SELECT qid, id FROM (
      |    SELECT c.qid, c.id, row_number() OVER (PARTITION BY c.qid
      |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec)
      |        DESC, c.id) AS rn
      |    FROM cm c JOIN qv q USING (qid) JOIN embeddings e ON e.vec_id = c.id)
      |  WHERE rn <= 10),
      |brute AS (
      |  SELECT qid, vec_id AS id FROM (
      |    SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
      |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec)
      |        DESC, e.vec_id) AS rn
      |    FROM embeddings e, qv q WHERE e.vec_id <> q.qid)
      |  WHERE rn <= 10)
      |SELECT g.qid,
      |  CAST(COALESCE((SELECT COUNT(*) FROM cs WHERE cs.qid = g.qid), 0)
      |    AS BIGINT) AS n_cand_single,
      |  CAST(COALESCE((SELECT COUNT(*) FROM cm WHERE cm.qid = g.qid), 0)
      |    AS BIGINT) AS n_cand_multi,
      |  CAST(COALESCE((SELECT COUNT(*) FROM rs JOIN brute b
      |    ON b.qid = rs.qid AND b.id = rs.id WHERE rs.qid = g.qid), 0)
      |    AS BIGINT) AS rec_single,
      |  CAST(COALESCE((SELECT COUNT(*) FROM rm JOIN brute b
      |    ON b.qid = rm.qid AND b.id = rm.id WHERE rm.qid = g.qid), 0)
      |    AS BIGINT) AS rec_multi
      |FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 5) g""".stripMargin

  val q179MmrSql: String = {
    def selUnion(r: Int): String =
      (1 to r).map(i => s"SELECT qid, id FROM s$i").mkString(" UNION ALL ")
    val stages = (2 to 5).map { r =>
      s"""pen$r AS (
         |  SELECT p.qid, p.id_x AS id, MAX(p.sim) AS pen
         |  FROM ps p JOIN (${selUnion(r - 1)}) s
         |    ON s.qid = p.qid AND s.id = p.id_y
         |  GROUP BY 1, 2),
         |sc$r AS (
         |  SELECT c.qid, c.id, 0.7 * c.simq - (1.0 - 0.7) * p.pen AS score
         |  FROM pool c JOIN pen$r p ON p.qid = c.qid AND p.id = c.id
         |  WHERE NOT EXISTS (SELECT 1 FROM (${selUnion(r - 1)}) s
         |                    WHERE s.qid = c.qid AND s.id = c.id)),
         |s$r AS (
         |  SELECT qid, id, score, $r AS sel_rank FROM sc$r
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY score DESC, id) = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
      |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id < 3),
      |pool AS (
      |  SELECT qid, vec_id AS id, sim AS simq FROM (
      |    SELECT q.qid, e.vec_id,
      |      list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim,
      |      row_number() OVER (PARTITION BY q.qid
      |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv)
      |          DESC, e.vec_id) AS rn
      |    FROM embeddings e, q WHERE e.vec_id <> q.qid)
      |  WHERE rn <= 20),
      |ps AS (
      |  SELECT a.qid, a.id AS id_x, b.id AS id_y,
      |    list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim
      |  FROM pool a JOIN pool b ON b.qid = a.qid AND b.id <> a.id
      |  JOIN embeddings ea ON ea.vec_id = a.id
      |  JOIN embeddings eb ON eb.vec_id = b.id),
      |s1 AS (
      |  SELECT qid, id, 0.7 * simq AS score, 1 AS sel_rank FROM pool
      |  QUALIFY row_number() OVER (PARTITION BY qid
      |    ORDER BY score DESC, id) = 1),
      |$stages
      |SELECT qid, CAST(sel_rank AS BIGINT) AS sel_rank, id,
      |  CAST(round(score * 1e6) AS BIGINT) AS score_fp6
      |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
      |      UNION ALL SELECT * FROM s5)""".stripMargin
  }

  /** q191: dimension-correlation audit over the first 16 embedding
    * dimensions — all 120 pairwise Pearson correlations. High |r| pairs
    * mean the representation wastes capacity (a whitening/PCA
    * candidate); a healthy isotropic embedding shows near-zero
    * off-diagonal mass. This is the integrity check a team runs before
    * trusting downstream cosine geometry (and before the q176 JL
    * projection, whose guarantees assume no degenerate collinearity).
    *
    * Determinism: each dimension value quantizes to an fp6 integer
    * FIRST (one shared `round(x·1e6)`), after which every moment —
    * Σq, Σq², Σqᵢqⱼ — is an exact 128-bit integer sum (q175
    * discipline); the correlation assembles the exact sums in one
    * shared IEEE expression. Scale shape: two pure projections feeding
    * tiny aggregates — a 16-group per-dim pass and a 120-group
    * cross-pass, both map-side combined, so shuffle bytes are CONSTANT
    * in corpus size; the 16-row dim table broadcasts back twice. No
    * vector ever meets another vector: all cross-moments are in-row. */
  def q191DimCorr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val nd = 16
    val v = vectors(spark, dir)
    val q = v.select((0 until nd).map(i =>
      round(element_at(col("vec"), i + 1).cast("double") * lit(1e6))
        .cast("long").as(s"q$i")): _*)
    val dims = q
      .select(posexplode(array((0 until nd).map(i => col(s"q$i")): _*))
        .as(Seq("i", "qi")))
      .groupBy(col("i"))
      .agg(count(lit(1)).as("n"), sum(col("qi")).as("s"),
        sum(col("qi").cast(DecimalType(19, 0)) * col("qi")).as("ss"))
      .localCheckpoint() // 16 rows; consumed by both sides of the pair join
    val pairStructs = for { i <- 0 until nd; j <- (i + 1) until nd } yield
      struct(lit(i).as("i"), lit(j).as("j"),
        (col(s"q$i").cast(DecimalType(19, 0)) * col(s"q$j")).as("p"))
    val pairs = q.select(explode(array(pairStructs: _*)).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.p").as("p"))
      .groupBy(col("i"), col("j")).agg(sum(col("p")).as("sp"))
    val di = dims.select(col("i"), col("n"), col("s").as("si"), col("ss").as("ssi"))
    val dj = dims.select(col("i").as("j"), col("s").as("sj"), col("ss").as("ssj"))
    val nD = col("n").cast("double")
    val num = nD * col("sp").cast("double") -
      col("si").cast("double") * col("sj").cast("double")
    val dx = nD * col("ssi").cast("double") -
      col("si").cast("double") * col("si").cast("double")
    val dy = nD * col("ssj").cast("double") -
      col("sj").cast("double") * col("sj").cast("double")
    pairs.join(broadcast(di), Seq("i")).join(broadcast(dj), Seq("j"))
      .filter(dx > 0 && dy > 0)
      .select(col("i").cast("long").as("dim_i"), col("j").cast("long").as("dim_j"),
        col("n").as("n_vecs"),
        round(lit(1e6) * num / (sqrt(dx) * sqrt(dy))).cast("long").as("corr_fp6"))
  }

  val q191DimCorrSql: String = {
    val qList = (1 to 16)
      .map(i => s"CAST(round(e[$i] * 1e6) AS BIGINT)")
      .mkString("[", ", ", "]")
    s"""WITH qv AS (
      |  SELECT vec_id, $qList AS q
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)),
      |d AS (
      |  SELECT CAST(r.i AS INTEGER) AS i, q[r.i + 1] AS qi
      |  FROM qv CROSS JOIN range(16) r(i)),
      |dims AS (
      |  SELECT i, COUNT(*) AS n, CAST(SUM(qi) AS BIGINT) AS s,
      |    SUM(CAST(qi AS HUGEINT) * qi) AS ss
      |  FROM d GROUP BY 1),
      |p AS (
      |  SELECT CAST(a.i AS INTEGER) AS i, CAST(b.j AS INTEGER) AS j,
      |    SUM(CAST(q[a.i + 1] AS HUGEINT) * q[b.j + 1]) AS sp
      |  FROM qv CROSS JOIN range(16) a(i) CROSS JOIN range(16) b(j)
      |  WHERE a.i < b.j GROUP BY 1, 2)
      |SELECT CAST(p.i AS BIGINT) AS dim_i, CAST(p.j AS BIGINT) AS dim_j,
      |  di.n AS n_vecs,
      |  CAST(round(1e6 * (CAST(di.n AS DOUBLE) * CAST(p.sp AS DOUBLE)
      |      - CAST(di.s AS DOUBLE) * CAST(dj.s AS DOUBLE))
      |    / (sqrt(CAST(di.n AS DOUBLE) * CAST(di.ss AS DOUBLE)
      |        - CAST(di.s AS DOUBLE) * CAST(di.s AS DOUBLE))
      |     * sqrt(CAST(di.n AS DOUBLE) * CAST(dj.ss AS DOUBLE)
      |        - CAST(dj.s AS DOUBLE) * CAST(dj.s AS DOUBLE)))) AS BIGINT)
      |    AS corr_fp6
      |FROM p JOIN dims di ON di.i = p.i JOIN dims dj ON dj.i = p.j
      |WHERE CAST(di.n AS DOUBLE) * CAST(di.ss AS DOUBLE)
      |    - CAST(di.s AS DOUBLE) * CAST(di.s AS DOUBLE) > 0
      |  AND CAST(di.n AS DOUBLE) * CAST(dj.ss AS DOUBLE)
      |    - CAST(dj.s AS DOUBLE) * CAST(dj.s AS DOUBLE) > 0""".stripMargin
  }

  /** q196: embedding centroid drift between deterministic corpus halves
    * (`vec_id % 2` — the stand-in for two ingest snapshots or two
    * encoder versions): per-dimension mean of each half, fp6-quantized
    * terms, and the absolute per-dim shift. A healthy re-embed shows
    * near-zero shift everywhere; a fingerprint of drifted dims is what
    * an embedding-pipeline monitor alerts on (before q131's global
    * stats would move).
    *
    * Determinism: values quantize to fp6 integers FIRST, so the
    * per-half sums are exact and the mean is one shared
    * integer-over-integer division. Scale shape: one projection into a
    * 64-group aggregate with both halves' sums as conditional columns
    * (single pass, no join, map-side combined) — constant shuffle
    * bytes. */
  def q196CentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val q = vectors(spark, dir)
      .select((col("id") % 2).cast("long").as("half"),
        posexplode(col("vec")).as(Seq("dim", "xv")))
      .select(col("half"), col("dim"),
        round(col("xv").cast("double") * lit(1e6)).cast("long").as("q"))
    val meanA = round(col("s_a").cast("double") / col("n_a")).cast("long")
    val meanB = round(col("s_b").cast("double") / col("n_b")).cast("long")
    q.groupBy(col("dim"))
      .agg(sum(when(col("half") === 0, lit(1L)).otherwise(lit(0L))).as("n_a"),
        sum(when(col("half") === 0, col("q")).otherwise(lit(0L))).as("s_a"),
        sum(when(col("half") === 1, lit(1L)).otherwise(lit(0L))).as("n_b"),
        sum(when(col("half") === 1, col("q")).otherwise(lit(0L))).as("s_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col("dim").cast("long").as("dim"),
        meanA.as("mean_a_fp6"), meanB.as("mean_b_fp6"),
        abs(meanA - meanB).as("shift_fp6"))
  }

  val q196CentroidDriftSql: String =
    """WITH q AS (
      |  SELECT vec_id % 2 AS half, r.i AS dim,
      |    CAST(round(e[r.i + 1] * 1e6) AS BIGINT) AS q
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
      |  CROSS JOIN range(64) r(i)),
      |a AS (
      |  SELECT dim,
      |    CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN half = 0 THEN q ELSE 0 END) AS BIGINT) AS s_a,
      |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN half = 1 THEN q ELSE 0 END) AS BIGINT) AS s_b
      |  FROM q GROUP BY 1)
      |SELECT CAST(dim AS BIGINT) AS dim,
      |  CAST(round(CAST(s_a AS DOUBLE) / n_a) AS BIGINT) AS mean_a_fp6,
      |  CAST(round(CAST(s_b AS DOUBLE) / n_b) AS BIGINT) AS mean_b_fp6,
      |  abs(CAST(round(CAST(s_a AS DOUBLE) / n_a) AS BIGINT)
      |    - CAST(round(CAST(s_b AS DOUBLE) / n_b) AS BIGINT)) AS shift_fp6
      |FROM a WHERE n_a > 0 AND n_b > 0""".stripMargin

  /** q206: degree assortativity of the kNN graph (Newman 2002) —
    * Pearson correlation of in-degree across the q96 edges: negative
    * assortativity means high-in-degree hubs are pointed at by
    * low-degree nodes, the signature of the hubness pathology q177
    * histograms; a healthy uniform-degree graph sits near zero. One
    * number that summarizes whether the ANN graph is navigable or
    * hub-collapsed.
    *
    * Determinism: in-degrees are exact integers, so all five Pearson
    * moments are exact (128-bit accumulators, q190 discipline) and the
    * coefficient is one shared IEEE expression. Scale shape: the edge
    * list (k·n rows) is barriered once; the degree table attaches via
    * two hash joins on the node key; the moments fold to a single
    * row. */
  def q206Assortativity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val g = q96KnnGraph(spark, dir)
      .select(col("id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint()
    val indeg = g.groupBy(col("dst")).agg(count(lit(1)).as("deg"))
    val e2 = g
      .join(indeg.select(col("dst").as("src"), col("deg").as("dx")),
        Seq("src"), "left")
      .join(indeg.select(col("dst"), col("deg").as("dy")), Seq("dst"), "left")
      .select(coalesce(col("dx"), lit(0L)).as("dx"),
        coalesce(col("dy"), lit(0L)).as("dy"))
    val agg = e2.agg(count(lit(1)).as("m"),
      sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("dx").cast(DecimalType(19, 0)) * col("dy")).as("sxy"),
      sum(col("dx").cast(DecimalType(19, 0)) * col("dx")).as("sxx"),
      sum(col("dy").cast(DecimalType(19, 0)) * col("dy")).as("syy"))
    val mD = col("m").cast("double")
    val num = mD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val dx = mD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val dy = mD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    agg.filter(dx > 0 && dy > 0)
      .select(col("m").as("m_edges"),
        round(lit(1e6) * num / (sqrt(dx) * sqrt(dy))).cast("long")
          .as("assortativity_fp6"))
  }

  val q206AssortativitySql: String =
    s"""WITH ${sigCtesAuto(16, 64)},
      |cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.sig = b.sig
      |  WHERE a.id <> b.id),
      |scored AS (
      |  SELECT c.id_a, c.id_b,
      |    list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim
      |  FROM cand c
      |  JOIN embeddings ea ON ea.vec_id = c.id_a
      |  JOIN embeddings eb ON eb.vec_id = c.id_b),
      |g AS (
      |  SELECT id_a AS src, id_b AS dst FROM scored
      |  QUALIFY row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b)
      |    <= 5),
      |indeg AS (SELECT dst, COUNT(*) AS deg FROM g GROUP BY 1),
      |e2 AS (
      |  SELECT COALESCE(ia.deg, 0) AS dx, COALESCE(ib.deg, 0) AS dy
      |  FROM g
      |  LEFT JOIN indeg ia ON ia.dst = g.src
      |  LEFT JOIN indeg ib ON ib.dst = g.dst),
      |a AS (
      |  SELECT COUNT(*) AS m,
      |    CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
      |    SUM(CAST(dx AS HUGEINT) * dy) AS sxy,
      |    SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
      |    SUM(CAST(dy AS HUGEINT) * dy) AS syy
      |  FROM e2)
      |SELECT m AS m_edges,
      |  CAST(round(1e6 * (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |     * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS BIGINT)
      |    AS assortativity_fp6
      |FROM a
      |WHERE CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |  AND CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
      |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0""".stripMargin

  /** q211: embedding anisotropy per label (Ethayarajh 2019) — the mean
    * pairwise cosine of all n·(n−1) vector pairs, computed in O(n) via
    * the sum identity `Σ_{i≠j} uᵢ·uⱼ = ‖Σu‖² − Σ‖u‖²` over normalized
    * vectors: the quantity that naively needs a quadratic self-join
    * collapses to per-dimension sums. High anisotropy ("cone effect")
    * means cosine similarities are inflated for every pair — the single
    * number that explains why a similarity threshold tuned on one
    * encoder misbehaves on another, read next to q131's per-dim stats
    * and q196's drift.
    *
    * Determinism: vectors normalize through the certified
    * `dot_f`/`list_dot_product` fold, quantize to fp6 integers, and
    * every sum after that is exact (128-bit); one shared division at
    * the end. Scale shape: a projection into a (label × 64)-cell
    * aggregate — constant shuffle bytes, NO pair enumeration ever. */
  def q211Anisotropy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val v = Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"), col("embedding").as("vec"))
      .withColumn("nrm", sqrt(Similarity.dot(col("vec"), col("vec"))))
      .filter(col("nrm") > 0)
    val q = v.select(col("label"), col("nrm"),
        posexplode(col("vec")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        round(lit(1e6) * col("x").cast("double") / col("nrm")).cast("long")
          .as("qd"))
    val dims = q.groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("qd")).as("s"),
        sum(col("qd").cast(DecimalType(19, 0)) * col("qd")).as("ssq"))
    dims.groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        sum(col("s").cast(DecimalType(38, 0)) * col("s")).as("s2"),
        sum(col("ssq")).as("t"))
      .filter(col("n_vecs") >= 2)
      .select(col("label"), col("n_vecs"),
        round((col("s2") - col("t")).cast("double") /
          (col("n_vecs") * (col("n_vecs") - 1)).cast("double") / lit(1e6))
          .cast("long").as("aniso_fp6"))
  }

  val q211AnisotropySql: String =
    """WITH v AS (
      |  SELECT CAST(label AS BIGINT) AS label, embedding::DOUBLE[] AS e,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      |      AS nrm
      |  FROM embeddings),
      |q AS (
      |  SELECT label, r.i AS dim,
      |    CAST(round(1e6 * e[r.i + 1] / nrm) AS BIGINT) AS qd
      |  FROM v CROSS JOIN range(64) r(i) WHERE nrm > 0),
      |dims AS (
      |  SELECT label, dim, COUNT(*) AS n, CAST(SUM(qd) AS BIGINT) AS s,
      |    SUM(CAST(qd AS HUGEINT) * qd) AS ssq
      |  FROM q GROUP BY 1, 2),
      |a AS (
      |  SELECT label, MAX(n) AS n_vecs,
      |    SUM(CAST(s AS HUGEINT) * s) AS s2, SUM(ssq) AS t
      |  FROM dims GROUP BY 1)
      |SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
      |  CAST(round(CAST(s2 - t AS DOUBLE)
      |    / CAST(n_vecs * (n_vecs - 1) AS DOUBLE) / 1e6) AS BIGINT)
      |    AS aniso_fp6
      |FROM a WHERE n_vecs >= 2""".stripMargin

  /** q199: Kendall-τ rank agreement between full-dimension and
    * 16-dim-truncated (Matryoshka) cosine rankings of each query's
    * full-dim top-20 pool — the ORDER-stability complement to q171's
    * set-overlap recall: recall@k can stay high while the ordering
    * inside the pool scrambles, and a reranker fed truncated scores
    * inherits exactly that scramble. Both rankings are distinct
    * integers over the same 20-member pool, so concordant/discordant
    * counts and `τ = (2C − P)/P` are exact until the single final
    * division.
    *
    * Scale shape: the pool is k rows per query, so the τ pair
    * enumeration is ≤ k²/2 per query, partitioned BY QUERY — millions
    * of queries score in parallel; the corpus-sized work underneath is
    * the already-certified brute-force/ANN retrieval. The tiny ranked
    * pool is barriered (localCheckpoint) because the pair self-join
    * consumes it twice. */
  def q199KendallTau(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = vectors(spark, dir)
    val q = v.filter(col("id") < 5).select(col("id").as("qid"), col("vec").as("qvec"))
    val pool = Similarity.bruteForceTopK(v, q, 20)
      .select(col("qid"), col("id"), col("rank").as("full_rank"))
    val tq = q.select(col("qid"), slice(col("qvec"), 1, 16).as("tq"))
    val ranked = pool
      .join(v.select(col("id"), slice(col("vec"), 1, 16).as("tv")), Seq("id"))
      .join(broadcast(tq), Seq("qid"))
      .select(col("qid"), col("id"), col("full_rank"),
        Similarity.cosine(col("tv"), col("tq")).as("tsim"))
      .withColumn("trunc_rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("tsim").desc, col("id")))
        .cast("long"))
      .select(col("qid"), col("id"), col("full_rank"), col("trunc_rank"))
      .localCheckpoint()
    val a = ranked.select(col("qid"), col("id").as("d1"),
      col("full_rank").as("f1"), col("trunc_rank").as("t1"))
    val b = ranked.select(col("qid"), col("id").as("d2"),
      col("full_rank").as("f2"), col("trunc_rank").as("t2"))
    val conc = when((col("f1") < col("f2")) === (col("t1") < col("t2")),
      lit(1L)).otherwise(lit(0L))
    a.join(b, Seq("qid")).filter(col("d1") < col("d2"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_pairs"), sum(conc).as("concordant"))
      .select(col("qid").as("query_id"), col("n_pairs"), col("concordant"),
        (col("n_pairs") - col("concordant")).as("discordant"),
        round(lit(1e6) *
          (lit(2L) * col("concordant") - col("n_pairs")).cast("double") /
          col("n_pairs")).cast("long").as("tau_fp6"))
  }

  val q199KendallTauSql: String =
    """WITH q AS (
      |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
      |    (embedding[1:16])::DOUBLE[] AS qt
      |  FROM embeddings WHERE vec_id < 5),
      |pool AS (
      |  SELECT qid, vec_id AS id,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC,
      |               vec_id) AS BIGINT) AS full_rank
      |  FROM embeddings, q WHERE vec_id <> qid
      |  QUALIFY full_rank <= 20),
      |tr AS (
      |  SELECT p.qid, p.id, p.full_rank,
      |    CAST(row_number() OVER (PARTITION BY p.qid
      |      ORDER BY list_cosine_similarity((e.embedding[1:16])::DOUBLE[], q.qt)
      |        DESC, p.id) AS BIGINT) AS trunc_rank
      |  FROM pool p JOIN embeddings e ON e.vec_id = p.id
      |  JOIN q ON q.qid = p.qid),
      |pr AS (
      |  SELECT a.qid AS query_id,
      |    CASE WHEN (a.full_rank < b.full_rank) = (a.trunc_rank < b.trunc_rank)
      |      THEN 1 ELSE 0 END AS conc
      |  FROM tr a JOIN tr b ON b.qid = a.qid AND a.id < b.id),
      |ag AS (
      |  SELECT query_id, COUNT(*) AS n_pairs,
      |    CAST(SUM(conc) AS BIGINT) AS concordant
      |  FROM pr GROUP BY 1)
      |SELECT query_id, n_pairs, concordant,
      |  n_pairs - concordant AS discordant,
      |  CAST(round(1e6 * CAST(2 * concordant - n_pairs AS DOUBLE) / n_pairs)
      |    AS BIGINT) AS tau_fp6
      |FROM ag""".stripMargin

  /** q215: PageRank centrality of the embedding kNN graph — the
    * eigenvector complement to q177's k-occurrence histogram and q206's
    * assortativity number: hubness counts who appears in top-5 lists,
    * PageRank weights those appearances by the RANK OF THE POINTERS,
    * which is what separates a true density-core authority from a
    * vector that merely sits near one. Top-20 authorities by integer
    * pico-unit score ([[graft.ops.Graphs.pageRank]]: damping 17/20,
    * 3 rounds, dangling mass — LSH-isolated vectors — redistributed
    * uniformly; every step exact integer floor arithmetic, so scores
    * hash-compare with no IEEE term). The oracle replays the signature
    * construction AND all 3 unrolled rounds, so the blocking and the
    * iteration are both certified (the q96/q177 discipline).
    *
    * Scale shape: see [[graft.ops.Graphs]] — per round one contribution
    * scatter on the pre-partitioned edge table plus a 1-row dangling
    * aggregate; the top-20 is TakeOrderedAndProject (per-partition
    * heaps), never a global node sort. */
  def q215Pagerank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = Similarity.knnGraphLsh(vectors(spark, dir), k = 5)
      .select(col("id").as("src"), col("neighbor_id").as("dst"))
    val nodes = Tables.embeddings(spark, dir).select(col("vec_id").as("id"))
    graft.ops.Graphs.pageRank(edges, nodes, iterations = 3)
      .orderBy(col("score").desc, col("id")).limit(20)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("score").desc, col("id"))).cast("long"))
      .select(col("rank"), col("id"), col("score").as("pr_fp12"))
  }

  val q215PagerankSql: String = {
    // one damped-update round: dangling mass, in-mass, new score —
    // integer floor arithmetic identical to Graphs.pageRank
    def round(i: Int): String = {
      val p = s"s${i - 1}"
      s"""d$i AS (
        |  SELECT COALESCE(SUM(score), 0) AS dm FROM $p
        |  WHERE id NOT IN (SELECT src FROM dg)),
        |i$i AS (
        |  SELECT e.dst AS id, SUM(s.score // d.deg) AS m
        |  FROM edges e JOIN $p s ON s.id = e.src
        |  JOIN dg d ON d.src = e.src GROUP BY 1),
        |s$i AS (
        |  SELECT nd.id, CAST((150000000000 // (SELECT n FROM nn))
        |    + (17 * (COALESCE(i.m, 0)
        |        + (SELECT dm FROM d$i) // (SELECT n FROM nn))) // 20
        |    AS BIGINT) AS score
        |  FROM nodes nd LEFT JOIN i$i i ON i.id = nd.id)""".stripMargin
    }
    s"""WITH ${knnGraphCtes(5)},
      |edges AS (SELECT id AS src, neighbor_id AS dst FROM g),
      |nodes AS (SELECT vec_id AS id FROM embeddings),
      |dg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
      |s0 AS (
      |  SELECT id, CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT)
      |    AS score
      |  FROM nodes),
      |${round(1)},
      |${round(2)},
      |${round(3)}
      |SELECT CAST(row_number() OVER (ORDER BY score DESC, id) AS BIGINT)
      |    AS rank,
      |  id, score AS pr_fp12
      |FROM s3
      |QUALIFY rank <= 20""".stripMargin
  }

  /** q222: split-conformal coverage audit. Even-id vectors calibrate,
    * odd-id vectors test; the nonconformity score is the squared L2
    * distance to the OWN-label centroid fitted on the calibration half;
    * q̂ is the exact ⌈0.9·(n+1)⌉-th smallest calibration score, and the
    * reported coverage is the test-half fraction within q̂ (split
    * conformal guarantees E[coverage] ≥ 0.9 under exchangeability — the
    * audit checks the corpus actually delivers it). Determinism: floats
    * are 6-decimal-quantized before the exact-decimal centroid mean (the
    * q22 idiom); each per-dimension distance term is fp9-rounded before
    * the per-vector integer sum, so scores are identical integers on both
    * engines and the rank quantile is exact.
    *
    * Scale: centroids are a label×dim-sized aggregate (map-side
    * combined); scoring joins each exploded row to its (label, dim)
    * centroid — a broadcast of the label×dim grid, never a corpus
    * shuffle. The calibration rank is the one ordered step; at 100 TB it
    * runs as ShardedOrder.shardedValueAtRank (value-range buckets, only
    * the bucket holding the target rank is windowed) — here the plain
    * window keeps the gate on the oracle's own operator.
    */
  def q222Conformal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val expl = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        (col("vec_id") % 2 === 0).as("is_cal"),
        posexplode(col("embedding")).as(Seq("dim", "raw")))
      .select(col("vec_id"), col("label"), col("is_cal"),
        col("dim").cast("long").as("dim"),
        round(col("raw").cast("double"), 6).cast("decimal(18,6)").as("v"))
    val cent = expl.filter(col("is_cal"))
      .groupBy(col("label"), col("dim"))
      .agg((sum(col("v")).cast("double") / count(lit(1))).as("c"))
    val dd = col("v").cast("double") - col("c")
    val scored = expl.join(broadcast(cent), Seq("label", "dim"))
      .select(col("vec_id"), col("is_cal"),
        round(dd * dd * lit(1e9)).cast("long").as("t9"))
      .groupBy(col("vec_id"), col("is_cal"))
      .agg(sum(col("t9")).as("s9"))
    val cal = scored.filter(col("is_cal")).select(col("s9"))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    // the one ordered step runs SHARDED (value-range buckets; only the
    // bucket holding rank ⌈0.9(n+1)⌉ is windowed) — the production path
    // this gate's scaladoc promises, certified by the UNCHANGED plain-
    // rank oracle (the q72/q98 semantic-identity discipline)
    val qhat = graft.ops.ShardedOrder.shardedValueAtRank(
        cal.withColumn("g", lit(0)), Seq("g"), "s9", Nil,
        n => ((lit(9L) * (n + lit(1L)) + lit(9L)) / lit(10L)).cast("long"),
        outCol = "qhat_s9")
      .select(col("qhat_s9"))
      .crossJoin(broadcast(nCal))
    scored.filter(!col("is_cal"))
      .crossJoin(broadcast(qhat))
      .agg(max(col("n_cal")).as("n_cal"), count(lit(1)).as("n_test"),
        max(col("qhat_s9")).as("qhat_s9"),
        sum(when(col("s9") <= col("qhat_s9"), 1L).otherwise(0L)).as("covered"))
      .withColumn("coverage_fp6",
        round(col("covered").cast("double") / col("n_test").cast("double") *
          lit(1e6)).cast("long"))
  }

  /** q231: leading principal component of the embedding covariance via
    * power iteration — the spectral complement to q191 (pairwise dim
    * correlation) and q211 (anisotropy): the top eigenvector IS the
    * anisotropy direction, and its eigenvalue share is the number
    * whitening decisions read. Over the same 16-dim leading block as
    * q191: one corpus pass builds exact integer Gram/mean sums, the
    * covariance is quantized to fp12 integers (sf-independent magnitude),
    * and FIVE normalized matvec rounds + a Rayleigh ratio run entirely
    * on the 16×16 grid — all integer/identically-mirrored arithmetic, so
    * the oracle replays every round bit-for-bit. Convergence to a true
    * eigenpair is the spec's job (StatGatesSpec bounds the residual
    * ‖Mv − λv‖/‖Mv‖); the GATE certifies the distributed iteration.
    *
    * Scale: the corpus is touched exactly once (the Gram aggregate, one
    * shuffle of dim²/2 partial cells per task); the iteration then runs
    * on the driver over the collected moment grid — the standard
    * distributed-PCA split (matvec on aggregated moments, never on rows;
    * MLlib's computePrincipalComponents does the same), with the collect
    * bounded at dim·(dim+1)/2 = 136 longs by the fixed-dim contract. An
    * earlier in-plan iteration was a semantic identity but re-derived
    * the grid lineage per round — a 3⁵ tiny-job blowup, 49 s at sf0.1
    * vs ~1 s for this form.
    */
  def q231PowerIteration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val nd = 16
    val v = vectors(spark, dir)
    val q = v.select((0 until nd).map(i =>
      round(element_at(col("vec"), i + 1).cast("double") * lit(1e6))
        .cast("long").as(s"q$i")): _*)
    val pairStructs = for { i <- 0 until nd; j <- i until nd } yield
      struct(lit(i.toLong).as("i"), lit(j.toLong).as("j"),
        (col(s"q$i").cast(DecimalType(38, 0)) * col(s"q$j")).as("p"))
    val sums = q.select(explode(array(pairStructs: _*)).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.p").as("p"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"))
    val si = q
      .select(posexplode(array((0 until nd).map(i => col(s"q$i")): _*))
        .as(Seq("i", "qi")))
      .select(col("i").cast("long").as("i"), col("qi"))
      .groupBy(col("i")).agg(sum(col("qi")).as("s"))
      .localCheckpoint() // 16 rows, feeds both sides of the M build
    val mUpper = sums
      .join(broadcast(si.select(col("i"), col("s").as("s_i"))), Seq("i"))
      .join(broadcast(si.select(col("i").as("j"), col("s").as("s_j"))),
        Seq("j"))
      .select(col("i"), col("j"),
        round((col("sp").cast("double") -
          col("s_i").cast("double") * col("s_j").cast("double") /
            col("n").cast("double")) / col("n").cast("double"))
          .cast("long").as("m"))
    // Driver-BOUNDED collect (the MLlib computePrincipalComponents
    // discipline: Gram/moment sums aggregate distributed, the k×k eigen
    // solve runs on the driver): exactly dim·(dim+1)/2 = 136 longs by the
    // operator's fixed-dim contract, corpus-size-independent. An earlier
    // in-plan iteration was a semantic identity but re-derived the grid
    // lineage per round — 3^5 tiny-job blowup, 49 s at sf0.1 vs ~1 s here.
    val cells = mUpper.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val mM = Array.tabulate(nd, nd) { (i, j) =>
      cells.getOrElse((math.min(i, j).toLong, math.max(i, j).toLong), 0L)
    }
    def matvec(v9: Array[Long]): Array[BigInt] =
      Array.tabulate(nd)(i =>
        (0 until nd).map(j => BigInt(mM(i)(j)) * v9(j)).sum)
    // half-AWAY-FROM-ZERO, matching Spark SQL round / DuckDB round on
    // negatives (math.round is half-toward-+infinity: an exact −x.5
    // quotient would round differently across engines — ADVICE r13)
    def rnd(x: Double): Long =
      // degenerate guard: an all-zero matvec makes mx = 0 and x = 0/0 =
      // NaN — BigDecimal(NaN) throws where the old math.round degraded
      // to 0; keep the degrade-to-0 behavior (ADVICE r14)
      if (x.isNaN || x.isInfinite) 0L
      else BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def normalize(w: Array[BigInt]): Array[Long] = {
      val mx = w.map(_.abs).max
      val w9 = w.map(x => rnd(x.toDouble / mx.toDouble * 1e9))
      val n2 = w9.map(x => BigInt(x) * x).sum
      w9.map(x => rnd(x.toDouble / math.sqrt(n2.toDouble) * 1e9))
    }
    var v9 = Array.fill(nd)(250000000L)
    for (_ <- 1 to 5) v9 = normalize(matvec(v9))
    val wNext = matvec(v9)
    val k = (0 until nd).minBy(i => (-math.abs(v9(i)), i))
    val lam = rnd(wNext(k).toDouble / v9(k).toDouble)
    import spark.implicits._
    (0 until nd).map(i => (i.toLong, v9(i), lam))
      .toDF("dim", "loading_fp9", "lam_fp12")
  }

  val q231PowerIterationSql: String = {
    val qList = (1 to 16)
      .map(i => s"CAST(round(e[$i] * 1e6) AS BIGINT)")
      .mkString("[", ", ", "]")
    // MATERIALIZED everywhere a CTE is consumed more than once: DuckDB's
    // default CTE inlining would otherwise re-expand the corpus scan into
    // every one of the six matvec rounds (measured: fd exhaustion at
    // sf0.01 — the q201 pathology, same fix)
    def round_(r: Int, prev: String): String =
      s"""w$r AS MATERIALIZED (
         |  SELECT mm.i, SUM(CAST(mm.m AS HUGEINT) * $prev.v9) AS w
         |  FROM mm JOIN $prev ON mm.j = $prev.j GROUP BY 1),
         |x$r AS (SELECT MAX(ABS(w)) AS mx FROM w$r),
         |u$r AS MATERIALIZED (
         |  SELECT i, CAST(round(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE)
         |    * 1e9) AS BIGINT) AS w9
         |  FROM w$r, x$r),
         |n$r AS (SELECT SUM(CAST(w9 AS HUGEINT) * w9) AS n2 FROM u$r),
         |v$r AS MATERIALIZED (
         |  SELECT i AS j, CAST(round(CAST(w9 AS DOUBLE)
         |    / sqrt(CAST(n2 AS DOUBLE)) * 1e9) AS BIGINT) AS v9
         |  FROM u$r, n$r)""".stripMargin
    s"""WITH qv AS MATERIALIZED (
       |  SELECT $qList AS q
       |  FROM (SELECT embedding::DOUBLE[] AS e FROM embeddings)),
       |pairs AS (
       |  SELECT a.i, b.j, COUNT(*) AS n,
       |    SUM(CAST(q[a.i + 1] AS HUGEINT) * q[b.j + 1]) AS sp
       |  FROM qv, range(16) a(i), range(16) b(j)
       |  WHERE a.i <= b.j GROUP BY 1, 2),
       |sv AS (
       |  SELECT a.i, CAST(SUM(q[a.i + 1]) AS BIGINT) AS s
       |  FROM qv, range(16) a(i) GROUP BY 1),
       |mu AS (
       |  SELECT p.i, p.j,
       |    CAST(round((CAST(p.sp AS DOUBLE)
       |      - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE)
       |        / CAST(p.n AS DOUBLE)) / CAST(p.n AS DOUBLE)) AS BIGINT) AS m
       |  FROM pairs p JOIN sv si ON si.i = p.i JOIN sv sj ON sj.i = p.j),
       |mm AS MATERIALIZED (
       |  SELECT i, j, m FROM mu
       |  UNION ALL SELECT j AS i, i AS j, m FROM mu WHERE i <> j),
       |v0 AS (SELECT r.j, CAST(250000000 AS BIGINT) AS v9 FROM range(16) r(j)),
       |${round_(1, "v0")},
       |${round_(2, "v1")},
       |${round_(3, "v2")},
       |${round_(4, "v3")},
       |${round_(5, "v4")},
       |w6 AS (
       |  SELECT mm.i, SUM(CAST(mm.m AS HUGEINT) * v5.v9) AS w
       |  FROM mm JOIN v5 ON mm.j = v5.j GROUP BY 1),
       |kk AS (
       |  SELECT j AS kdim, v9 AS vk FROM v5
       |  ORDER BY ABS(v9) DESC, j LIMIT 1),
       |lam AS (
       |  SELECT CAST(round(CAST(w6.w AS DOUBLE) / CAST(kk.vk AS DOUBLE))
       |    AS BIGINT) AS lam_fp12
       |  FROM w6, kk WHERE w6.i = kk.kdim)
       |SELECT v5.j AS dim, v5.v9 AS loading_fp9, lam.lam_fp12
       |FROM v5, lam""".stripMargin
  }

  val q222ConformalSql: String =
    """WITH expl AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    vec_id % 2 = 0 AS is_cal,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS v
      |  FROM embeddings),
      |cent AS (
      |  SELECT label, dim, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS c
      |  FROM expl WHERE is_cal GROUP BY 1, 2),
      |sc AS (
      |  SELECT e.vec_id, e.is_cal,
      |    CAST(SUM(CAST(round((CAST(e.v AS DOUBLE) - c.c)
      |      * (CAST(e.v AS DOUBLE) - c.c) * 1e9) AS BIGINT)) AS BIGINT) AS s9
      |  FROM expl e JOIN cent c ON e.label = c.label AND e.dim = c.dim
      |  GROUP BY 1, 2),
      |cal AS (SELECT s9 FROM sc WHERE is_cal),
      |nc AS (SELECT COUNT(*) AS n_cal FROM cal),
      |rk AS (SELECT s9, ROW_NUMBER() OVER (ORDER BY s9) AS r FROM cal),
      |qh AS (
      |  SELECT rk.s9 AS qhat_s9, nc.n_cal FROM rk, nc
      |  WHERE rk.r = (9 * (nc.n_cal + 1) + 9) // 10)
      |SELECT MAX(qh.n_cal) AS n_cal, COUNT(*) AS n_test,
      |  MAX(qh.qhat_s9) AS qhat_s9,
      |  CAST(SUM(CASE WHEN sc.s9 <= qh.qhat_s9 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS covered,
      |  CAST(round(CAST(SUM(CASE WHEN sc.s9 <= qh.qhat_s9 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1e6) AS BIGINT)
      |    AS coverage_fp6
      |FROM sc, qh WHERE NOT sc.is_cal""".stripMargin

  /** q251 geometry: the eps-ball radius on the 2-D projection follows
    * the DENSITY RULE eps = 0.45/√n (the autoBits discipline) — in 2-D
    * the expected eps-neighborhood count is ∝ n·eps², so the rule holds
    * occupancy constant as the corpus grows. A pinned eps degenerates
    * BOTH sides at 10× density: the clustering collapses toward one
    * giant component (no longer a useful density map) and the oracle's
    * reach-CTE — O(Σ comp²) rows — goes quadratic in it (measured: the
    * pinned 0.01 at sf1 merges 19.5k of 20k points into one component;
    * the rule keeps the largest at ~92 with Σ comp² ≈ 237k). Both
    * engines derive eps from count(*) with the identical double
    * arithmetic, so the oracle certifies the rule itself. minPts is the
    * DBSCAN density floor (|N_eps(p)| ≥ minPts, p included — i.e.
    * ≥ minPts−1 proper neighbors). */
  private[graft] def dbEps(n: Long): Double = 0.45 / math.sqrt(n.toDouble)
  private val DbMinPts = 4

  /** q251: grid-blocked DBSCAN over the (dim0, dim1) projection of the
    * embedding corpus — density clustering for the corpus-map /
    * visualization workflows that run DBSCAN on a 2-D reduction
    * (t-SNE/UMAP-style) of document embeddings. Core points (≥ minPts
    * points within eps, self included) cluster by connectivity through
    * core-core eps-edges (min-id representative); border points (non-
    * core with ≥ 1 core neighbor) join their minimum-rep core
    * neighbor's cluster — the deterministic resolution of DBSCAN's
    * classic border ambiguity; everything else is noise. Output: one
    * row per cluster (rep, size, core count, id checksum) plus the
    * noise row under cluster −1.
    *
    * Scale shape: the eps-neighborhood join never goes all-pairs — each
    * point lands in one eps-sized grid cell, one side explodes to its
    * 3×3 cell neighborhood, and the equi-join on cell ids yields every
    * ordered candidate pair exactly once (the b-side cell is unique)
    * before the exact distance filter. Pair volume is bounded by cell
    * occupancy (skewed-dense cells are AQE skew-join territory, same as
    * the LSH bucket joins); the CC runs on core-core edges only, via
    * the certified [[graft.ops.Dedup.connectedComponents]] doubling
    * loop. */
  def q251DbscanGrid(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"))
      .localCheckpoint() // points-sized (id, x, y); feeds both join sides
    val eps = dbEps(p.count()) // density-ruled; counts the checkpointed frame
    val cx = floor(col("x") / eps).cast("long")
    val cy = floor(col("y") / eps).cast("long")
    val offsets = array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy")))): _*)
    val a = p.select(col("id"), col("x"), col("y"),
        cx.as("acx"), cy.as("acy"), explode(offsets).as("o"))
      .select(col("id"), col("x"), col("y"),
        (col("acx") + col("o.dx")).as("jx"), (col("acy") + col("o.dy")).as("jy"))
    val b = p.select(col("id").as("nb"), col("x").as("bx"), col("y").as("by"),
      cx.as("jx"), cy.as("jy"))
    val d2 = (col("x") - col("bx")) * (col("x") - col("bx")) +
      (col("y") - col("by")) * (col("y") - col("by"))
    // every ordered pair (id, nb) exactly once: nb's home cell is unique
    // and id's 3x3 halo covers it iff they can be within eps. The shared
    // cell (jx, jy) rides along as the locality key for the condensed CC.
    val pairs = a.join(b, Seq("jx", "jy"))
      .filter(col("id") =!= col("nb") && d2 <= lit(eps * eps))
      .select(col("id"), col("nb"), col("jx"), col("jy"))
      .localCheckpoint() // read by the degree count, CC edges, and border
    val core = pairs.groupBy(col("id"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= DbMinPts - 1).select(col("id"))
    val ce = pairs
      .join(core, Seq("id"), "left_semi")
      .join(core.select(col("id").as("nb")), Seq("nb"), "left_semi")
      .filter(col("id") < col("nb"))
      .select(col("id").as("id_a"), col("nb").as("id_b"),
        col("jx"), col("jy"))
    // eps-graph components are FILAMENTS with ids uncorrelated to
    // geometry: plain min-label propagation is hop-bound (measured 27
    // rounds at eccentricity 37 on sf0.1, jump depth irrelevant). The
    // condensed pre-pass union-finds each 16×16-cell block locally, so
    // the loop runs on block-adjacency diameter — a few rounds.
    val block = struct(
      floor(col("jx").cast("double") / 16).cast("long"),
      floor(col("jy").cast("double") / 16).cast("long"))
    val comp = graft.ops.Dedup.connectedComponentsCondensed(
      ce, block, maxIter = 100)
    // singleton cores (no core neighbor) are their own cluster
    val coreRep = core.join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
      .localCheckpoint() // read by the border join and the core rollup
    val border = pairs
      .join(core, Seq("id"), "left_anti") // non-core side
      .join(coreRep.select(col("id").as("nb"), col("rep")), Seq("nb"))
      .groupBy(col("id")).agg(min(col("rep")).as("rep"))
    val assigned = coreRep.select(col("id"), col("rep"), lit(1L).as("is_core"))
      .unionByName(border.select(col("id"), col("rep"), lit(0L).as("is_core")))
    val clusters = assigned.groupBy(col("rep").as("cluster"))
      .agg(count(lit(1)).as("n_pts"), sum(col("is_core")).as("n_core"),
        sum(col("id")).as("id_sum"))
    val noise = p.join(assigned.select(col("id")), Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_pts"), sum(col("id")).as("id_sum"))
      .select(lit(-1L).as("cluster"), col("n_pts"), lit(0L).as("n_core"),
        coalesce(col("id_sum"), lit(0L)).as("id_sum"))
    clusters.unionByName(noise)
  }

  val q251DbscanGridSql: String = {
    s"""WITH RECURSIVE p AS (
       |  SELECT vec_id AS id, CAST(embedding[1] AS DOUBLE) AS x,
       |    CAST(embedding[2] AS DOUBLE) AS y
       |  FROM embeddings),
       |epsq AS (SELECT 0.45 / sqrt(COUNT(*)) AS eps FROM p),
       |cells AS (
       |  SELECT id, x, y, CAST(floor(x / eps) AS BIGINT) AS cx,
       |    CAST(floor(y / eps) AS BIGINT) AS cy
       |  FROM p, epsq),
       |e AS (
       |  SELECT a.id AS id, b.id AS nb
       |  FROM (SELECT c.id, c.x, c.y, c.cx + dx.dx AS jx, c.cy + dy.dy AS jy
       |        FROM cells c,
       |          (SELECT unnest([-1, 0, 1]) AS dx) dx,
       |          (SELECT unnest([-1, 0, 1]) AS dy) dy) a
       |  JOIN (SELECT id, x AS bx, y AS by, cx AS jx, cy AS jy
       |        FROM cells) b USING (jx, jy)
       |  CROSS JOIN epsq
       |  WHERE b.id <> a.id
       |    AND (a.x - b.bx) * (a.x - b.bx) + (a.y - b.by) * (a.y - b.by)
       |        <= epsq.eps * epsq.eps),
       |core AS (
       |  SELECT id FROM e GROUP BY id HAVING COUNT(*) >= ${DbMinPts - 1}),
       |ce AS (
       |  SELECT e.id AS src, e.nb AS dst FROM e
       |  WHERE e.id IN (SELECT id FROM core)
       |    AND e.nb IN (SELECT id FROM core)),
       |reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM ce
       |  UNION
       |  SELECT s.dst, reach.r FROM reach JOIN ce s ON s.src = reach.id),
       |comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
       |corerep AS (
       |  SELECT c.id, COALESCE(m.rep, c.id) AS rep
       |  FROM core c LEFT JOIN comp m ON m.id = c.id),
       |border AS (
       |  SELECT e.id, MIN(cr.rep) AS rep
       |  FROM e JOIN corerep cr ON cr.id = e.nb
       |  WHERE e.id NOT IN (SELECT id FROM core)
       |  GROUP BY e.id),
       |assigned AS (
       |  SELECT id, rep, 1 AS is_core FROM corerep
       |  UNION ALL
       |  SELECT id, rep, 0 AS is_core FROM border)
       |SELECT rep AS cluster, COUNT(*) AS n_pts,
       |  CAST(SUM(is_core) AS BIGINT) AS n_core,
       |  CAST(SUM(id) AS BIGINT) AS id_sum
       |FROM assigned GROUP BY rep
       |UNION ALL
       |SELECT -1, COUNT(*), 0, CAST(COALESCE(SUM(id), 0) AS BIGINT)
       |FROM p WHERE id NOT IN (SELECT id FROM assigned)""".stripMargin
  }

  /** q252: k-center greedy coreset (Gonzalez 1985 2-approximation) over
    * cosine distance — the geometric data-selection counterpart to the
    * relevance-based MMR (q179): pick the min-id seed, then k−1 times
    * the point FARTHEST from its nearest chosen center (tie → min id).
    * The selected set is a coverage coreset (every point within 2× the
    * optimal k-center radius of a pick) — the standard seed for
    * diversity sampling, k-means++-style init, and eval-set carving.
    * Output: (round, center_id, radius) where radius is the chosen
    * point's distance to the nearest earlier center — the coverage
    * radius of the first round−1 centers, a monotone curve both engines
    * must reproduce bit-identically (the cosine kernel folds
    * sequentially in double on both sides, the q20 discipline).
    *
    * Scale shape: the running min-distance column updates by ONE
    * cosine against the newly collected center per round — a literal-
    * embedded projection over the cached corpus, no join, no shuffle;
    * each round's argmax is a TakeOrdered (per-partition top-1, driver
    * merges partition winners). Recompute-from-cache gives the round-r
    * plan an r-deep least() chain (Σr ≈ k²/2 kernel passes) — chosen
    * over per-round checkpoints, which would write the corpus k times
    * to save arithmetic that is a bounded k× of the single mandatory
    * O(k·n) pass. */
  def q252KcenterCoreset(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val spark2 = spark
    import spark2.implicits._
    val v = vectors(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r17 (advice): head() on an empty corpus threw NoSuchElementException
    // before the driver loop ever ran — mirror the SQL's empty-result
    // behavior (no c1 row → zero output rows) with an empty frame
    val seedOpt = v.orderBy(col("id")).select(col("id"), col("vec"))
      .head(1).headOption
    if (seedOpt.isEmpty)
      return List.empty[(Long, Long, Double)]
        .toDF("round", "center_id", "radius")
    val seed = seedOpt.get
    var picks = List((1L, seed.getLong(0), 0.0))
    var centerVec: Seq[Float] = seed.getSeq[Float](1)
    var cur = v.withColumn("mind",
      lit(1.0) - Similarity.cosine(col("vec"), typedlit(centerVec)))
    (2 to k).foreach { r =>
      val next = cur.orderBy(col("mind").desc, col("id"))
        .select(col("id"), col("vec"), col("mind")).head()
      picks ::= ((r.toLong, next.getLong(0), next.getDouble(2)))
      centerVec = next.getSeq[Float](1)
      cur = cur.withColumn("mind", least(col("mind"),
        lit(1.0) - Similarity.cosine(col("vec"), typedlit(centerVec))))
    }
    picks.reverse.toDF("round", "center_id", "radius")
  }

  val q252KcenterCoresetSql: String = {
    val k = 8
    val ctes = (2 to k).map { r =>
      s"""c$r AS (SELECT id, vec, mind FROM d${r - 1}
         |  ORDER BY mind DESC, id LIMIT 1),
         |d$r AS (
         |  SELECT d.id, d.vec,
         |    LEAST(d.mind, 1.0 - list_cosine_similarity(d.vec, c$r.vec))
         |      AS mind
         |  FROM d${r - 1} d, c$r)""".stripMargin
    }.mkString(",\n")
    val rows = (2 to k)
      .map(r => s"SELECT ${r}::BIGINT, id, mind FROM c$r")
      .mkString(" UNION ALL ")
    s"""WITH v AS (
       |  SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
       |c1 AS (SELECT id, vec FROM v ORDER BY id LIMIT 1),
       |d1 AS (
       |  SELECT v.id, v.vec,
       |    1.0 - list_cosine_similarity(v.vec, c1.vec) AS mind
       |  FROM v, c1),
       |$ctes
       |SELECT round, CAST(center_id AS BIGINT) AS center_id, radius FROM (
       |  SELECT 1::BIGINT AS round, id AS center_id, 0.0 AS radius FROM c1
       |  UNION ALL $rows
       |) ORDER BY round""".stripMargin
  }
}
