package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for document corpora, exact and near-dup (north-star
  * extension). Scale notes per operator:
  *  - exact: one hash-shuffle on the content hash;
  *  - MinHash LSH: candidates come from equi-joins on (seed, minhash) —
  *    never a cross join; the shuffle key is a short hash, so skew is
  *    bounded by true near-dup cluster sizes;
  *  - SimHash: per-row fingerprint (no shuffle), then a band join;
  *  - embedding near-dup: see [[Similarity.lshNearDupCandidates]].
  */
object Dedup {

  /** Exact dedup: keep the first (min-id) row per distinct content value:
    * one hash shuffle + per-hash sort (row_number window).
    *
    * Deliberately NOT `min_by(struct(row), id)`: a struct holding string
    * columns can't live in a fixed-width HashAggregate buffer, so Spark
    * plans ObjectHashAggregate whose sort-based fallback (default 128
    * distinct keys per partition) degenerates to the same sort PLUS
    * object-buffer overhead — measured 3× slower than the window at 50k
    * docs ([[exactViaMinBy]] kept as the cross-checked alternative; it IS
    * the right shape when the payload is narrow fixed-width columns). */
  def exact(df: DataFrame, idCol: String, byCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(byCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** min_by form of [[exact]] (same result; spec cross-check; preferable
    * only for narrow fixed-width rows — see [[exact]]'s scaladoc). */
  private[graft] def exactViaMinBy(df: DataFrame, idCol: String, byCol: String): DataFrame = {
    val cols = df.columns
    df.groupBy(md5(col(byCol)).as("__h"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__r"))
      .select(cols.map(c => col(s"__r.`$c`").as(c)): _*)
  }

  /** Shingles as rows: posexplode tokens, window-lead the next
    * (width-1) tokens — avoids the interpreted per-element HOF transform
    * of the array form; one shuffle on id. */
  private def shingleRows(df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val parts = col("tok") +: (1 until shingleWidth).map(i => lead(col("tok"), i).over(w))
    df.select(col(idCol).as("id"),
        posexplode(TextOps.tokenize(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("sh", when(parts.last.isNotNull, concat_ws(" ", parts: _*)))
      .filter(col("sh").isNotNull)
      .select(col("id"), col("sh"))
  }

  /** MinHash signature in long format: (id, seed, mh) — one row per seed.
    * Seed `s` hashes a shingle to the 8-hex-char (32-bit) slice
    * `substr(md5(sh || '#'*(s/4)), (s%4)*8+1, 8)`: md5 nibbles are
    * independently uniform, so the four slices of one digest are four
    * independent uniform hashes, and `numHashes` seeds cost only
    * ceil(numHashes/4) md5 calls per shingle (the md5 calls dominated the
    * round-1 per-seed-md5 form 4×). Hex-string min (fixed width,
    * lowercase) equals numeric min and is reproducible in any engine with
    * md5 + substr — which is what the oracle gate does.
    *
    * Computed by the native codegen'd [[graft.functions.MinHashSlicesExpr]]:
    * one projection per row, zero shuffles — the first shuffle of the dedup
    * pipeline is the candidate join itself. [[minhashSignaturesViaShuffle]]
    * is the declarative same-result form, kept as the spec cross-check. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, shingleWidth: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.TextFunctions.min_hash_slices(
          col(textCol), shingleWidth, numHashes).as("mhs"))
      .select(col("id"), posexplode(col("mhs")).as(Seq("seed", "mh")))

  /** Declarative construction of the same signatures (shingle rows via
    * window-lead, then numHashes min-aggregates). Slower — a per-doc sort
    * shuffle plus a groupBy — but independently derived; specs assert it
    * equals the native path row-for-row. */
  private[graft] def minhashSignaturesViaShuffle(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 8, shingleWidth: Int = 3): DataFrame = {
    val rows = shingleRows(df, idCol, textCol, shingleWidth)
    val nDigests = (numHashes + 3) / 4
    val digests = rows.select(col("id") +: (0 until nDigests).map { j =>
      md5(if (j == 0) col("sh") else concat(col("sh"), lit("#" * j))).as(s"d$j")
    }: _*)
    val aggs = (0 until numHashes).map { s =>
      min(substring(col(s"d${s / 4}"), (s % 4) * 8 + 1, 8)).as(s"mh$s")
    }
    val wide = digests.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val stack = (0 until numHashes).map(s => s"$s, mh$s").mkString(", ")
    wide.selectExpr("id", s"stack($numHashes, $stack) AS (seed, mh)")
      .filter(col("mh").isNotNull) // docs shorter than the shingle width
  }

  /** LSH candidate pairs: docs sharing ≥1 of `numHashes` minhashes, with
    * the estimated Jaccard = matching-hash fraction. One equi-join on
    * (seed, mh); only ids and short hashes shuffle. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, shingleWidth: Int = 3): DataFrame =
    candidatesFromSignatures(
      minhashSignatures(df, idCol, textCol, numHashes, shingleWidth), numHashes)

  /** Candidate pairs from an ALREADY-COMPUTED exploded signature table
    * (id, seed, mh) — lets a pipeline that needs both self-candidates
    * and cross-candidates (q244's near-dup + decontam stages) pay the
    * shingle+md5 kernel once instead of per consumer. */
  private[graft] def candidatesFromSignatures(sig: DataFrame,
      numHashes: Int): DataFrame = {
    val a = sig.select(col("seed"), col("mh"), col("id").as("id_a"))
    val b = sig.select(col("seed"), col("mh"), col("id").as("id_b"))
    // r20: shuffle_hash on BOTH sides of the band self-join. Local size
    // estimates made Catalyst broadcast one side, which executes the
    // shingle+md5 signature kernel TWICE per candidate generation (a
    // BroadcastExchange build and the probe-side scan share no exchange);
    // with both sides shuffled on (seed, mh) the two exchanges are
    // canonically identical and ReuseExchange runs the kernel ONCE
    // (plan: q62 BroadcastHashJoin → ShuffledHashJoin + ReusedExchange).
    // At 100 TB the hint is also the only safe shape — the signature
    // table is corpus × numHashes rows and must never broadcast.
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("seed", "mh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg((count(lit(1)).cast("double") / numHashes).as("est_jaccard"))
  }

  /** Cross-table MinHash near-dup candidates — fuzzy decontamination
    * (corpus vs benchmark), the MinHash tier above q53's exact-n-gram
    * overlap: catches paraphrased / partially-edited benchmark leakage
    * exact n-grams miss, because the estimator degrades smoothly with
    * edit distance instead of zeroing at the first changed token. Same
    * LSH shape as [[minhashCandidates]], but the equi-join on (seed, mh)
    * is corpus-signatures × benchmark-signatures — the benchmark side is
    * tiny (a few thousand eval docs), so at 100 TB its signature table
    * broadcasts and the corpus is never shuffled.
    *
    * @return (corpus_id, bench_id, est_jaccard) for every pair sharing
    *         ≥1 seed-minimum; threshold downstream
    */
  def minhashCrossCandidates(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 8,
      shingleWidth: Int = 3): DataFrame =
    crossCandidatesFromSignatures(
      minhashSignatures(corpus, idCol, textCol, numHashes, shingleWidth),
      minhashSignatures(bench, idCol, textCol, numHashes, shingleWidth),
      numHashes)

  /** The cross-table candidate join over pre-computed signature tables —
    * see [[candidatesFromSignatures]] for why this is exposed. */
  private[graft] def crossCandidatesFromSignatures(corpusSig: DataFrame,
      benchSig: DataFrame, numHashes: Int): DataFrame = {
    val sa = corpusSig.select(col("seed"), col("mh"), col("id").as("corpus_id"))
    val sb = benchSig.select(col("seed"), col("mh"), col("id").as("bench_id"))
    sa.join(org.apache.spark.sql.functions.broadcast(sb), Seq("seed", "mh"))
      .groupBy(col("corpus_id"), col("bench_id"))
      .agg((count(lit(1)).cast("double") / numHashes).as("est_jaccard"))
  }

  /** FAST MinHash signatures — the production path when oracle
    * portability is not required: the md5 gate form pays one md5 per 4
    * seeds per SHINGLE; this form hashes each distinct shingle ONCE with
    * XXH64 (native [[graft.functions.ShingleHashesExpr]] kernel), then
    * derives all `numHashes` seed minima from the in-memory long array
    * with codegen'd builtins (`transform` + `array_min` over
    * xxhash64(h, seed)). Same MinHash estimator — P(min-collision) =
    * Jaccard per seed — just a different (non-md5) hash family, so
    * est_jaccard distributions match the gate path (spec-asserted);
    * `mh` is a long, halving the signature shuffle bytes.
    *
    * Measured at 50k docs / local[32]: the signature stage drops
    * 0.38→0.33 s wall (the md5 CPU is wider than the 32-way floor shows)
    * while END-TO-END candidates are join-bound and move ~nothing — the
    * hash saving is a cluster-CPU-dollar term, not a local-latency one,
    * which is exactly why the md5 form stays the gate and this stays the
    * scale path. */
  def minhashSignaturesFast(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, shingleWidth: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.TextFunctions
          .shingle_hashes(col(textCol), shingleWidth).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("id"), posexplode(array((0 until numHashes).map(s =>
        array_min(transform(col("hs"), h => xxhash64(h, lit(s))))): _*))
        .as(Seq("seed", "mh")))

  /** [[minhashCandidates]] over the fast signatures — identical join
    * shape, no md5 anywhere. */
  def minhashCandidatesFast(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, shingleWidth: Int = 3): DataFrame =
    candidatesFromSignatures(
      minhashSignaturesFast(df, idCol, textCol, numHashes, shingleWidth), numHashes)

  /** Persisted MinHash signature INDEX — the cross-run incremental dedup
    * surface. A 100 TB pipeline does not re-shingle its corpus per ingest:
    * it keeps the (id, seed, mh) signature table as a stored artifact and
    * dedups each NEW batch against it (the reference's incremental
    * contract, `API_manager.py:79-113` — fetch only what's new past the
    * stored state — applied to dedup). Signatures are tiny relative to
    * text (numHashes short values per doc), so the index is the cheap
    * thing to keep and the corpus never re-scans.
    *
    * Builds and writes the parquet index at `path` only when absent
    * (checked via the `_SUCCESS` marker, so a half-written dir rebuilds —
    * same artifact discipline as [[Similarity.centroidArtifact]]), then
    * reads it back. md5 signatures are deterministic strings, so results
    * are identical whether this run built the index or reused it.
    * `fast = true` builds XXH64/long signatures ([[minhashSignaturesFast]])
    * instead — the production hash family; keep one family per index. */
  /** One-line parameter fingerprint stored next to the index; a serve
    * call with different parameters must FAIL, not silently join 8-seed
    * signatures against 16-seed ones and halve every estimate. */
  private def sigIndexMeta(numHashes: Int, shingleWidth: Int, fast: Boolean) =
    s"minhash nh=$numHashes w=$shingleWidth family=${if (fast) "xxh64" else "md5"}"

  def signatureIndexArtifact(df: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 8, shingleWidth: Int = 3,
      fast: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, path)
    val metaPath = new org.apache.hadoop.fs.Path(path, "_graft_index_meta")
    val meta = sigIndexMeta(numHashes, shingleWidth, fast)
    // rebuild when absent OR when the parameter fingerprint is missing
    // (an index written before the guard existed has unknowable
    // parameters — rebuilding is the only safe serve); a PRESENT but
    // MISMATCHED fingerprint is a caller error and fails fast below
    val complete = fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))
    if (!complete || !fs.exists(metaPath)) {
      val sig = if (fast) minhashSignaturesFast(df, idCol, textCol, numHashes, shingleWidth)
                else minhashSignatures(df, idCol, textCol, numHashes, shingleWidth)
      sig.write.mode("overwrite").parquet(path)
      val out = fs.create(metaPath, true)
      try out.write(meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } else {
      // serving an existing index: its recorded parameters must match —
      // est_jaccard divides by the CALLER's numHashes, and a different
      // hash family would simply never collide
      val in = fs.open(metaPath)
      val stored =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      require(stored == meta,
        s"signature index at $path was built with [$stored] but is being " +
          s"served with [$meta]; rebuild the index or match the parameters")
    }
    // memoized on the exact committed FILE LIST, not the directory path:
    // appendToSignatureIndex (both the marker-committed and the legacy
    // batchId=-1 append) grows the file set under an unchanged path, so a
    // path-keyed memo would keep serving the pre-append relation and
    // silently miss dedup candidates. A changed file set is a changed key
    // by construction — same discipline as readSignatureIndex.
    graft.core.Tables.readCachedParquet(spark, committedIndexFiles(fs, path))
  }

  private def hPath(s: String) = new org.apache.hadoop.fs.Path(s)
  private def hFs(spark: org.apache.spark.sql.SparkSession, path: String) =
    hPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Name of the per-ingest commit marker: its presence proves the batch's
    * signature files are complete in the index (the marker is written LAST). */
  private def batchMarker(batchId: Long) = s"_graft_batch_$batchId"
  /** Filename prefix carried by a batch's moved part files — the unit of
    * deterministic retry cleanup. */
  private def batchFilePrefix(batchId: Long) = s"b${batchId}_"
  private val BatchFileRe = "^b(\\d+)_.*".r

  /** Data files of the index that are COMMITTED: flat base files (written
    * under the artifact's `_SUCCESS`) plus per-ingest `b<id>_*` files whose
    * commit marker exists. Files of a crashed, not-yet-retried ingest are
    * invisible — serving them would dedup future batches against docs that
    * were never actually admitted (ghost matches = silent data loss). */
  private def committedIndexFiles(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[String] = {
    val statuses = fs.listStatus(hPath(path))
    val names = statuses.map(_.getPath.getName).toSet
    statuses.iterator.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .filter(p => p.getName match {
        case BatchFileRe(id) => names.contains(batchMarker(id.toLong))
        case _ => true
      })
      .map(_.toString).toSeq
  }

  /** Heal the [[compactSignatureIndex]] crash window: the swap is
    * rename(path → path.compact_old) then rename(tmp → path), and a crash
    * between the two leaves the index GONE under its published path while
    * the old directory still holds every committed file. Without recovery,
    * the next ingest sees hasIndex=false and silently bootstraps a fresh
    * index — permanently abandoning all dedup history. Every serve/ingest
    * entry point calls this first: if the published path is missing but
    * `.compact_old` exists, the old directory is restored (the compaction
    * simply never happened; a leftover `.compact_tmp` is dropped). */
  private def recoverCompaction(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    val old = hPath(path + ".compact_old")
    if (!fs.exists(hPath(path)) && fs.exists(old)) {
      // a failed rename is NOT necessarily a failed recovery: a concurrent
      // entry point (serves race ingests here) may have restored the
      // published path first, making this rename lose benignly — re-check
      // the postcondition before declaring the index unrecoverable
      if (!fs.rename(old, hPath(path)) && !fs.exists(hPath(path)))
        throw new java.io.IOException(
          s"failed to restore interrupted compaction of $path from $old")
      fs.delete(hPath(path + ".compact_tmp"), true): Unit
    }
  }

  /** The committed view of a signature index (see [[committedIndexFiles]]).
    * This is the read every serve path must use — `spark.read.parquet(dir)`
    * on the raw directory would also surface a crashed ingest's partial
    * files. */
  def readSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val fs0 = hFs(spark, path)
    recoverCompaction(fs0, path)
    val files = committedIndexFiles(fs0, path)
    require(files.nonEmpty,
      s"signature index at $path has no committed data files — build it " +
        "via signatureIndexArtifact (or the first ingestBatch) before serving")
    // memoized on the exact committed file list: an append or compaction
    // changes the list and therefore the key, so the cache can never serve
    // a stale view of the index
    graft.core.Tables.readCachedParquet(spark, files)
  }

  /** Append a new batch's signatures to an existing index (the step after
    * a batch has been deduped and admitted) — no read, no rewrite of the
    * existing index files.
    *
    * With `batchId >= 0` the append is IDEMPOTENT and crash-safe (the
    * effectively-once discipline the Lake writes already follow): the
    * signatures are staged to a hidden temp dir, moved into the index under
    * a `b<batchId>_` filename prefix, and committed by writing the
    * `_graft_batch_<batchId>` marker LAST. A replay of an already-committed
    * batch returns without writing; a retry of a CRASHED attempt first
    * deletes the uncommitted prefixed files, so the batch's signatures land
    * exactly once no matter where the previous attempt died. Serve paths
    * read only committed files ([[readSignatureIndex]]). `batchId = -1`
    * (callers with no replay semantics) is a plain parquet append.
    *
    * After a committed append, the index auto-compacts when its data-file
    * count exceeds `compactAbove` (≤0 disables) — thousands of per-ingest
    * file sets would otherwise tax every candidate join's listing/footer
    * phase ([[compactSignatureIndex]]). */
  def appendToSignatureIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 8, shingleWidth: Int = 3,
      fast: Boolean = false, batchId: Long = -1L,
      compactAbove: Int = 64): Unit = {
    // appends are held to the same parameter guard as serving: appending
    // 16-seed or XXH64 signatures into an 8-seed md5 index would corrupt
    // every estimate that touches the appended rows
    val spark = df.sparkSession
    val fs = hFs(spark, path)
    recoverCompaction(fs, path)
    val metaPath = new org.apache.hadoop.fs.Path(path, "_graft_index_meta")
    val meta = sigIndexMeta(numHashes, shingleWidth, fast)
    if (fs.exists(metaPath)) {
      val in = fs.open(metaPath)
      val stored =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      require(stored == meta,
        s"signature index at $path was built with [$stored] but is being " +
          s"appended with [$meta]; rebuild the index or match the parameters")
    } else require(!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")),
      s"signature index at $path has no parameter metadata (pre-guard " +
        "index) — rebuild it via signatureIndexArtifact before appending")
    if (batchId >= 0 && fs.exists(new org.apache.hadoop.fs.Path(path, batchMarker(batchId))))
      return // replayed commit — the batch's signatures are already in
    val sig = if (fast) minhashSignaturesFast(df, idCol, textCol, numHashes, shingleWidth)
              else minhashSignatures(df, idCol, textCol, numHashes, shingleWidth)
    if (batchId < 0) sig.write.mode("append").parquet(path)
    else {
      val staging = new org.apache.hadoop.fs.Path(path, s".staging_$batchId")
      fs.delete(staging, true)
      sig.write.mode("overwrite").parquet(staging.toString)
      // deterministic retry cleanup: drop any uncommitted files a crashed
      // previous attempt moved in, so the re-move below can't double them
      val prefix = batchFilePrefix(batchId)
      fs.listStatus(hPath(path)).map(_.getPath)
        .filter(_.getName.startsWith(prefix))
        .foreach(p => fs.delete(p, false))
      fs.listStatus(staging).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .foreach { p =>
          if (!fs.rename(p, new org.apache.hadoop.fs.Path(path, prefix + p.getName)))
            throw new java.io.IOException(s"failed to move $p into index $path")
        }
      fs.delete(staging, true)
      fs.create(new org.apache.hadoop.fs.Path(path, batchMarker(batchId)), true).close()
    }
    if (!fs.exists(metaPath)) {
      val out = fs.create(metaPath, true)
      try out.write(meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    if (batchId >= 0 && compactAbove > 0 &&
        committedIndexFiles(fs, path).size > compactAbove)
      compactSignatureIndex(spark, path)
  }

  /** Rewrite a signature index to `targetFiles` files, preserving the
    * parameter fingerprint, `_SUCCESS`, and every batch-commit marker
    * (so a late replay of an already-compacted batch is still skipped).
    * Reads only COMMITTED files — a crashed ingest's uncommitted `b<id>_*`
    * files are deliberately dropped with the old directory; the batch has
    * no marker, so its retry re-stages from scratch and loses nothing.
    * The swap is two directory renames (build `<path>.compact_tmp`, move
    * old aside, move new in); a reader racing the swap window should
    * retry — single-writer ingest loops (the foreachBatch wrapper) never
    * race it. */
  def compactSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 8): Unit = {
    val fs = hFs(spark, path)
    // restore an interrupted previous compaction BEFORE the tmp/old
    // cleanup below — deleting a leftover `.compact_old` while the
    // published path is missing would destroy the only copy of the index
    recoverCompaction(fs, path)
    val tmp = hPath(path + ".compact_tmp")
    val old = hPath(path + ".compact_old")
    fs.delete(tmp, true); fs.delete(old, true)
    readSignatureIndex(spark, path)
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    val keep = fs.listStatus(hPath(path)).map(_.getPath.getName)
      .filter(n => n == "_graft_index_meta" || n.startsWith("_graft_batch_"))
    keep.foreach { n =>
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(path, n),
        fs, new org.apache.hadoop.fs.Path(tmp, n), false,
        spark.sparkContext.hadoopConfiguration)
    }
    if (!fs.rename(hPath(path), old)) throw new java.io.IOException(
      s"compaction failed to move $path aside")
    if (!fs.rename(tmp, hPath(path))) {
      fs.rename(old, hPath(path)) // restore — the new dir never became live
      throw new java.io.IOException(s"compaction failed to publish $tmp")
    }
    fs.delete(old, true)
  }

  /** Candidate pairs for a NEW batch against a stored signature index:
    * every (id_a, id_b, est_jaccard) with at least one batch endpoint —
    * batch-vs-index and batch-vs-batch, never index-vs-index (those pairs
    * were emitted when THEIR batches arrived; recomputing them per ingest
    * is the quadratic trap incremental mode exists to avoid). The new
    * batch's signatures are one codegen'd projection; the join shuffles
    * only (seed, mh, id) rows, and the index side arrives pre-computed
    * from parquet — at 100 TB the per-ingest cost is proportional to the
    * BATCH, not the corpus. Batch and index ids must be disjoint. */
  def minhashCandidatesIncremental(batch: DataFrame, idCol: String,
      textCol: String, index: DataFrame, numHashes: Int = 8,
      shingleWidth: Int = 3, fast: Boolean = false): DataFrame = {
    val newSig = (if (fast) minhashSignaturesFast(batch, idCol, textCol, numHashes, shingleWidth)
                  else minhashSignatures(batch, idCol, textCol, numHashes, shingleWidth))
      // the batch signatures feed BOTH join sides; Spark does no
      // common-subplan reuse across DataFrame references, so without a
      // persist the shingle+hash kernel — the dominant per-ingest CPU —
      // would run twice per ingest. The cached block is method-local and
      // lives until its owner releases it — fine for one-shot callers
      // (the q68 gate, released by `Gated.owned`); a long-lived ingest
      // loop should use [[withIncrementalCandidates]], which unpersists
      // after each ingest.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    candidatesIncremental(newSig, index, numHashes)
  }

  /** Candidate join over precomputed batch signatures (see
    * [[minhashCandidatesIncremental]] for the pair semantics). */
  private def candidatesIncremental(newSig: DataFrame, index: DataFrame,
      numHashes: Int): DataFrame = {
    val a = newSig.select(col("seed"), col("mh"), col("id").as("ia"))
    val b = index
      .select(col("seed"), col("mh"), col("id").as("ib"), lit(false).as("isNew"))
      .unionByName(newSig
        .select(col("seed"), col("mh"), col("id").as("ib"), lit(true).as("isNew")))
    a.join(b, Seq("seed", "mh"))
      // batch-vs-index pairs appear once (a is always the batch side);
      // batch-vs-batch pairs are kept in one orientation only
      .filter((!col("isNew") && col("ia") =!= col("ib")) ||
        (col("isNew") && col("ia") < col("ib")))
      .groupBy(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"))
      .agg((count(lit(1)).cast("double") / numHashes).as("est_jaccard"))
  }

  /** Loan-pattern wrapper for a production ingest loop: computes the
    * batch signatures ONCE (persisted), builds the incremental candidate
    * set, hands it to `f`, and ALWAYS unpersists afterwards — the
    * direct [[minhashCandidatesIncremental]] form cannot release its
    * internal cache (the reference is method-local), so a long-lived
    * ingest loop should use this wrapper to keep executor storage flat
    * across ingests. */
  def withIncrementalCandidates[T](batch: DataFrame, idCol: String,
      textCol: String, index: DataFrame, numHashes: Int = 8,
      shingleWidth: Int = 3, fast: Boolean = false)(f: DataFrame => T): T = {
    val newSig = (if (fast) minhashSignaturesFast(batch, idCol, textCol, numHashes, shingleWidth)
                  else minhashSignatures(batch, idCol, textCol, numHashes, shingleWidth))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(candidatesIncremental(newSig, index, numHashes))
    finally { newSig.unpersist(); () }
  }

  /** One EXACTLY-ONCE dedup-ingest step — the incremental-dedup surface
    * wired end-to-end, mirroring the reference's monotone state contract
    * (`API_manager.py:79-113`: fetch past the stored state, advance only
    * after the sink write) at the dedup layer:
    *
    *  1. candidates: the batch's signatures vs (committed index ∪ batch)
    *     — per-ingest cost ∝ batch, never corpus;
    *  2. admit: drop every batch doc whose est_jaccard to an earlier doc
    *     (lower batch id, or anything already in the index) ≥ `threshold`
    *     — keep-first at corpus granularity. Batch ids must be strictly
    *     greater than every indexed id (monotone ingest ids — enforced
    *     below), so "the greater endpoint loses" is exactly keep-first;
    *  3. sink: admitted docs land at `<admittedPath>/batch=<batchId>`
    *     (idempotent per-batch overwrite — the standard foreachBatch
    *     discipline);
    *  4. index: the ADMITTED docs' signatures append under the same
    *     batchId, committed by marker ([[appendToSignatureIndex]]).
    *
    * The batch marker is written LAST, so its presence proves steps 2-4
    * completed: a foreachBatch replay (same batchId) returns immediately;
    * a crash at ANY intermediate point is healed by the retry (sink
    * overwrite is idempotent, index files are replaced not doubled).
    * Admission is deterministic given (batch, committed index), so a
    * retried batch admits exactly the same docs. */
  def ingestBatch(batch: DataFrame, batchId: Long, indexPath: String,
      admittedPath: String, threshold: Double, idCol: String = "doc_id",
      textCol: String = "text", numHashes: Int = 8, shingleWidth: Int = 3,
      fast: Boolean = false, compactAbove: Int = 64): Unit = {
    val spark = batch.sparkSession
    val fs = hFs(spark, indexPath)
    // heal an interrupted compaction FIRST: with the index dir missing,
    // both the replay-marker check and hasIndex below would read false and
    // this ingest would silently bootstrap a fresh index over the history
    recoverCompaction(fs, indexPath)
    if (fs.exists(new org.apache.hadoop.fs.Path(indexPath, batchMarker(batchId))))
      return // replayed batch — already admitted and indexed exactly once
    val hasIndex = fs.exists(hPath(indexPath)) &&
      committedIndexFiles(fs, indexPath).nonEmpty
    def admittedOf(cands: DataFrame): DataFrame = {
      val losers = cands.filter(col("est_jaccard") >= threshold)
        .select(col("id_b").as("__loser")).distinct()
      batch.join(losers, batch(idCol) === col("__loser"), "left_anti")
    }
    val admitted = if (!hasIndex) {
      // first ingest bootstraps: dedup the batch against itself only
      admittedOf(if (fast) minhashCandidatesFast(batch, idCol, textCol, numHashes, shingleWidth)
                 else minhashCandidates(batch, idCol, textCol, numHashes, shingleWidth))
    } else {
      val index = readSignatureIndex(spark, indexPath)
      // monotone-id contract: a batch id at or below the index maximum
      // would make "greater endpoint loses" drop an ALREADY-ADMITTED doc.
      // Either side may be empty (a fully-deduped earlier batch appended
      // zero signature rows): max/min are then null and there is nothing
      // to violate.
      val bounds = index.agg(max(col("id"))).head
      val batchMin = batch.agg(min(col(idCol).cast("long"))).head
      if (!bounds.isNullAt(0) && !batchMin.isNullAt(0))
        require(batchMin.getLong(0) > bounds.getLong(0),
          s"ingest ids must be monotone: batch min id ${batchMin.getLong(0)} <= " +
            s"indexed max id ${bounds.getLong(0)} (the keep-first rule would " +
            "evict admitted docs)")
      withIncrementalCandidates(batch, idCol, textCol, index,
        numHashes, shingleWidth, fast)(admittedOf)
    }
    admitted.write.mode("overwrite").parquet(s"$admittedPath/batch=$batchId")
    appendToSignatureIndex(admitted, idCol, textCol, indexPath,
      numHashes, shingleWidth, fast, batchId, compactAbove)
  }

  // ---- winnowing fingerprint index (r17: the q68/q101 exactly-once
  // contract applied to the q250 span-fingerprint family) ----

  /** Winnowing fingerprint rows (id, h): the distinct per-window k-gram
    * hash minima from the codegen'd
    * [[graft.functions.TextExprs WinnowFingerprintsExpr]] kernel — one
    * projection per doc, ~2/(w+1) of the gram stream survives. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.TextFunctions.winnow_fingerprints(
        col(textCol), k, w)).as("h"))

  private def winnowIndexMeta(k: Int, w: Int) =
    s"winnow,k=$k,w=$w,hash=hex8md5"

  /** Exactly-once append of one batch's winnowing fingerprints to a
    * persisted index ([[BatchIndex]] protocol: staged files, `b<id>_`
    * prefix, marker committed LAST — replays are no-ops, crashed
    * attempts are healed on retry). Auto-compacts past `compactAbove`
    * committed files (≤0 disables). Per-ingest cost ∝ batch. */
  def appendToWinnowIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, batchId: Long, k: Int = 4, w: Int = 4,
      compactAbove: Int = 64): Unit = {
    val spark = df.sparkSession
    BatchIndex.appendBatch(winnowFingerprints(df, idCol, textCol, k, w),
      path, batchId, winnowIndexMeta(k, w))
    if (compactAbove > 0 &&
        BatchIndex.committedFileCount(spark, path) > compactAbove)
      BatchIndex.compact(spark, path)
  }

  /** Committed view of a winnowing fingerprint index. */
  def readWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = BatchIndex.readCommitted(spark, path)

  /** Span-overlap candidates for a NEW batch against a stored winnowing
    * index: every (id_a, id_b, n_shared) pair sharing ≥ `minShared`
    * surviving fingerprints with at least one batch endpoint —
    * batch-vs-index and batch-vs-batch, never index-vs-index (those
    * pairs were emitted when THEIR batches arrived; the
    * [[minhashCandidatesIncremental]] discipline). The boilerplate mask
    * (MOSS df > maxDf) is CUMULATIVE — counted over index ∪ batch.
    *
    * MASK MONOTONICITY (what the per-batch emissions guarantee): each
    * single emission equals the full recompute restricted to pairs with
    * ≥1 batch endpoint UNDER THE MASK AS OF THAT BATCH (q253 gates
    * exactly this identity). Across batches the mask only GROWS, and
    * pairs are never retracted — so a pair emitted before its shared
    * hash's cumulative df crossed `maxDf` survives in earlier outputs
    * that a from-scratch recompute would mask out. The union of all
    * emissions is therefore RECALL-PRESERVING: a superset of the full
    * recompute (no true span-overlap pair is ever lost), equal to it
    * exactly when no hash crosses `maxDf` mid-stream (DedupSpec pins
    * both directions, including an explicit df-crossing divergence).
    * Consumers that need the exact final-mask report re-filter the
    * accumulated pairs against the final mask — one anti-join, no
    * re-fingerprinting.
    *
    * 100 TB note: the mask aggregate reads ONE long column of the index
    * per ingest (fingerprints ≈ 2/(w+1) of the token stream). A
    * long-lived loop that can't afford even that scan should maintain
    * (h, df) running counts as their own compacted BatchIndex and union
    * only the batch's deltas — the protocol is identical. */
  def winnowCandidatesIncremental(batch: DataFrame, idCol: String,
      textCol: String, index: DataFrame, k: Int = 4, w: Int = 4,
      maxDf: Int = 50, minShared: Int = 2): DataFrame = {
    val newFp = winnowFingerprints(batch, idCol, textCol, k, w)
      // feeds the mask, the probe side, and the union — without a persist
      // the kernel (the dominant per-ingest CPU) would run three times.
      // The cached block is method-local and lives until its owner
      // releases it — fine for one-shot callers (the q253 gate, released
      // by `Gated.owned`); a long-lived ingest loop
      // must use [[winnowIngestBatch]] or [[withWinnowCandidates]],
      // which unpersist after each ingest (the
      // [[minhashCandidatesIncremental]] / [[withIncrementalCandidates]]
      // twin contract).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    winnowCandidatesFromFp(newFp, index, maxDf, minShared)
  }

  /** Loan-pattern twin of [[winnowCandidatesIncremental]] (the
    * [[withIncrementalCandidates]] discipline): fingerprints the batch
    * ONCE (persisted), hands the candidate frame to `f`, and ALWAYS
    * unpersists afterwards — the form a long-lived ingest loop must use
    * so per-batch caches don't accumulate across the loop. */
  def withWinnowCandidates[T](batch: DataFrame, idCol: String,
      textCol: String, index: DataFrame, k: Int = 4, w: Int = 4,
      maxDf: Int = 50, minShared: Int = 2)(f: DataFrame => T): T = {
    val newFp = winnowFingerprints(batch, idCol, textCol, k, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(winnowCandidatesFromFp(newFp, index, maxDf, minShared))
    finally { newFp.unpersist(); () }
  }

  /** [[winnowCandidatesIncremental]] over PRECOMPUTED batch fingerprints
    * (callers that also append the same fingerprints — the ingest loop —
    * compute them once and share). */
  private[graft] def winnowCandidatesFromFp(newFp: DataFrame,
      index: DataFrame, maxDf: Int, minShared: Int): DataFrame = {
    val all = index.select(col("id"), col("h"), lit(false).as("isNew"))
      .unionByName(newFp.select(col("id"), col("h"), lit(true).as("isNew")))
    // TOMBSTONE-AWARE df: [[compactWinnowIndex]] replaces an over-df
    // hash's posting rows with one (id = -df, h) row — the encoding is
    // lossless for df (a tombstone counts as the df it absorbed; real
    // rows count 1), so the cumulative mask is IDENTICAL before and
    // after GC and its monotonicity argument carries over unchanged.
    val mask = all.groupBy(col("h"))
      .agg(sum(when(col("id") < 0, -col("id")).otherwise(1L)).as("df"))
      .filter(col("df") > maxDf).select(col("h"))
    // tombstones are masked by construction (encoded df > maxDf) and are
    // additionally excluded as endpoints here, so no synthetic id can
    // ever reach a candidate pair even if a caller raises maxDf
    val b = all.filter(col("id") >= 0).join(mask, Seq("h"), "left_anti")
    val a = b.filter(col("isNew")).select(col("h"), col("id").as("ia"))
    a.join(b.select(col("h"), col("id").as("ib"), col("isNew")), Seq("h"))
      // batch-vs-index pairs appear once (a is always the batch side);
      // batch-vs-batch pairs are kept in one orientation only
      .filter((!col("isNew") && col("ia") =!= col("ib")) ||
        (col("isNew") && col("ia") < col("ib")))
      .groupBy(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** MASK-AWARE GC of a winnowing fingerprint index (r18 verdict item 7):
    * the cumulative MOSS mask (df > `maxDf`) identifies hashes that can
    * never again produce a candidate — yet their posting rows were
    * re-scanned by every subsequent ingest's mask aggregate and candidate
    * join. This compaction replaces each over-df hash's rows with ONE
    * tombstone row `(id = -df, h)`:
    *
    *  - df is preserved EXACTLY (the tombstone encodes the count it
    *    absorbed; [[winnowCandidatesFromFp]]'s mask aggregate counts it
    *    back), so the mask after GC equals the mask before GC for every
    *    future batch — the recall-preservation contract DedupSpec pins is
    *    untouched, and the mask stays monotone across the GC boundary;
    *  - candidate endpoints lose nothing: an over-df hash's rows were
    *    already excluded by the mask in every future ingest, and
    *    tombstone ids (negative — disjoint from real doc ids by the
    *    monotone-ingest contract) are explicitly filtered from the
    *    endpoint side;
    *  - the swap rides [[BatchIndex.compactWith]] (atomic two-rename,
    *    crash-healed), markers and meta preserved.
    *
    * Run it with the SAME `maxDf` as the ingest loop: GC at a LARGER
    * maxDf than later calls is still exact (the tombstoned hashes stay
    * over any smaller threshold), but RAISING maxDf after a GC would
    * unmask hashes whose ids are gone — don't. Row reduction at a
    * boilerplate-heavy corpus is df-distribution-dependent; the spec
    * asserts the mechanism (identical candidates, strictly fewer index
    * rows). */
  def compactWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, maxDf: Int, targetFiles: Int = 8): Unit =
    BatchIndex.compactWith(spark, path, targetFiles) { idx =>
      val dfs = idx.groupBy(col("h"))
        .agg(sum(when(col("id") < 0, -col("id")).otherwise(1L)).as("df"))
      val over = dfs.filter(col("df") > maxDf)
      idx.join(over.select(col("h")), Seq("h"), "left_anti")
        .select(col("id"), col("h"))
        .unionByName(over.select((-col("df")).cast("long").as("id"), col("h")))
    }

  /** One EXACTLY-ONCE winnowing-ingest step (the [[ingestBatch]] contract
    * on the span-fingerprint index — `foreachBatch` wires this per
    * micro-batch, [[graft.streaming.DocStream.winnowIngest]]):
    *
    *  1. candidates: the batch's span-overlap pairs vs (committed
    *     index ∪ batch) under the cumulative df mask — per-ingest cost
    *     ∝ batch (plus the one-long-column mask aggregate);
    *  2. sink: candidates land at `<candPath>/batch=<batchId>`
    *     (idempotent per-batch overwrite);
    *  3. index: the batch's fingerprints append under the same batchId,
    *     committed by marker LAST.
    *
    * The marker proves steps 1–3 completed: a replay (same batchId)
    * returns immediately; a crash at any intermediate point is healed by
    * the retry (sink overwrite is idempotent, index files are replaced
    * not doubled). Candidates are deterministic given (batch, committed
    * index), so a retried batch emits exactly the same pairs. Batch doc
    * ids must be disjoint from indexed ids (the monotone-ingest
    * contract). */
  def winnowIngestBatch(batch: DataFrame, batchId: Long, indexPath: String,
      candPath: String, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 4, w: Int = 4, maxDf: Int = 50, minShared: Int = 2,
      compactAbove: Int = 64): Unit = {
    val spark = batch.sparkSession
    if (BatchIndex.isCommitted(spark, indexPath, batchId)) return
    val newFp = winnowFingerprints(batch, idCol, textCol, k, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // first batch: no committed index yet — candidates are batch-only
      val index =
        if (BatchIndex.committedFileCount(spark, indexPath) > 0)
          BatchIndex.readCommitted(spark, indexPath)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("h",
              org.apache.spark.sql.types.LongType))))
      winnowCandidatesFromFp(newFp, index, maxDf, minShared)
        .write.mode("overwrite").parquet(s"$candPath/batch=$batchId")
      BatchIndex.appendBatch(newFp, indexPath, batchId, winnowIndexMeta(k, w))
      if (compactAbove > 0 &&
          BatchIndex.committedFileCount(spark, indexPath) > compactAbove)
        // mask-aware: the periodic compaction ALSO tombstones over-df
        // hashes (this loop's own maxDf — the contract compactWinnowIndex
        // documents), so a boilerplate-heavy stream's dead posting rows
        // stop taxing every later ingest
        compactWinnowIndex(spark, indexPath, maxDf)
    } finally { newFp.unpersist(); () }
  }

  /** Near-dup groups from candidate pairs above a threshold: connected
    * components approximated by min-representative propagation (1 round —
    * exact for pair-clusters, which dominate dedup workloads; iterate for
    * chains). Returns (id, rep_id). */
  def nearDupGroups(candidates: DataFrame, threshold: Double): DataFrame = {
    val edges = candidates.filter(col("est_jaccard") >= threshold)
    val rep = edges.groupBy(col("id_b").as("id"))
      .agg(min(col("id_a")).as("rep_id"))
    rep
  }

  /** [[connectedComponents]] with a LOCALITY-CONDENSED pre-pass — the
    * fix for topologies where min-label propagation is hop-bound:
    * label information travels one edge per round, and on a long
    * filament whose vertex ids are uncorrelated with its geometry the
    * pointer jump buys nothing (measured: q251's eps-graph needed 27
    * rounds at eccentricity 37, and extra jump depth changed NOTHING —
    * the binding constraint is the hop, not the jump).
    *
    * The pre-pass: edges shuffle ONCE on `localityKey` (any column
    * correlated with graph locality — a spatial block, an LSH band, a
    * shard of a sorted key); each partition runs an exact union-find
    * over its edges in one `mapPartitions` pass and emits the STAR
    * edges (node → partition-local component minimum). Stars preserve
    * connectivity exactly (two nodes joined by a local path share a
    * local rep; cross-partition paths connect through shared nodes),
    * so the main loop on the star graph returns the identical (id,
    * rep = component min) labels — but the star graph's diameter is
    * the number of PARTITION-BOUNDARY crossings, not the hop length:
    * with a locality-correlated key a 40-hop filament condenses to a
    * handful of super-nodes and the loop closes in a few rounds.
    *
    * Scale: one extra corpus-of-edges shuffle + an O(E α(E)) local
    * pass, against 20+ saved loop rounds (each a join + aggregate +
    * barrier job). Ids must be LONG (the union-find buffers them).
    * With a locality key that is pure noise the pre-pass still merges
    * whatever lands together and the loop degrades to its usual bound
    * — correctness never depends on the key quality.
    *
    * MEMORY BOUND (r17): the per-partition union-find holds one
    * HashMap entry per NON-ROOT node touched in that partition —
    * O(distinct ids per partition) longs (~48 B/entry), NOT O(edges)
    * (edges stream through the iterator). The hash repartition spreads
    * `localityKey` over spark.sql.shuffle.partitions tasks, so a
    * LOW-CARDINALITY key (distinct(_loc) ≪ partitions) funnels the
    * whole edge set into a few tasks: correctness holds but one task
    * carries O(all nodes) memory and the stage serializes. `salt > 1`
    * guards that regime — it splits each locality group across `salt`
    * sub-partitions (hash of id_a, deterministic), bounding any task
    * at ~1/salt of a group's nodes at the cost of proportionally less
    * condensation (cross-salt paths close in the main loop, exactly
    * like cross-partition paths). Size so a task's node count × 48 B
    * fits comfortably in executor heap; keep salt = 1 when the key
    * cardinality is ≳ the partition count (the q251 grid regime). */
  def connectedComponentsCondensed(edges: DataFrame, localityKey: Column,
      maxIter: Int = 100, reliable: Boolean = false,
      salt: Int = 1): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val saltCol =
      if (salt <= 1) lit(0) else pmod(hash(col("id_a")), lit(salt))
    val stars = edges
      .select(col("id_a").cast("long"), col("id_b").cast("long"),
        localityKey.as("_loc"))
      .repartition(col("_loc"), saltCol)
      .select(col("id_a"), col("id_b")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
          var c = x
          while (parent.getOrDefault(c, c) != c) {
            val next = parent.getOrDefault(c, c); parent.put(c, r); c = next
          }
          r
        }
        it.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        val seen = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        val keys = parent.keySet().iterator()
        val emitted = new java.util.HashSet[Long]()
        while (keys.hasNext) {
          val k = keys.next(); if (emitted.add(k)) seen += ((k, find(k)))
        }
        // roots with no parent entry never appear as keys; their star
        // edge is the identity and the loop adds them from the edge
        // endpoints it seeds with — emit them explicitly to be safe
        seen.iterator
      }
      .toDF("id_a", "id_b")
    // the star table omits pure-root self-edges; union the original
    // endpoints as identity stars so every vertex enters the loop
    val endpoints = edges.select(col("id_a").cast("long").as("v"))
      .union(edges.select(col("id_b").cast("long").as("v"))).distinct()
      .select(col("v").as("id_a"), col("v").as("id_b"))
    connectedComponents(stars.union(endpoints), maxIter, doubling = true,
      reliable = reliable)
  }

  /** Full connected components over a candidate-pair edge list (the exact
    * generalization of [[nearDupGroups]]'s one-round approximation):
    * returns (id, rep) with rep = the component's minimum id, for every id
    * appearing in an edge.
    *
    * Iterative min-label propagation WITH pointer jumping: each round is
    * (a) one equi-join of the symmetrized edges with the current labels
    * plus a groupBy-min (the 1-hop spread), then (b) a rep-of-rep lookup
    * against the same labels (the jump) — narrow (id, id) pairs only,
    * partitioned by vertex id. The jump roughly halves every label's
    * distance to its component minimum, so rounds = O(log diameter): a
    * 64-vertex chain closes in ~7 rounds where plain propagation needs
    * 63 (spec-pinned). Near-dup components are near-cliques and close in
    * 2-3 rounds either way; the log bound is what survives adversarial
    * chains at 100 TB. The loop is [[Lineage.iterate]]: each generation
    * is eagerly checkpointed — lineage TRUNCATION, not just caching:
    * generation n+1's plan reads generation n three times (1-hop join,
    * change test, jump join), so the plan tree triples per round — with
    * its change count observed on the same job and the generation before
    * it released. The loop exits on a zero-changes round; `maxIter` is
    * the safety bound, and exhausting it logs one WARN.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      doubling: Boolean = true, reliable: Boolean = false): DataFrame =
    ccWithRounds(edges, maxIter, doubling, reliable)._1

  /** Canonical-document selection per duplicate component — the KEEP
    * POLICY layer over [[connectedComponents]]: within each component,
    * the canonical survivor is the highest-`scoreCol` member (tie-break
    * min id), not the min-id member. The production policy this encodes
    * is "keep the most complete version": near-dup clusters of web docs
    * usually contain one full page and several truncated/boilerplate
    * variants, and min-id keeps an arbitrary one while score-argmax
    * keeps the best.
    *
    * Distributed shape: the argmax is a rank-1 window per component —
    * Spark compiles rank≤1 to `WindowGroupLimit`, so each input
    * partition forwards at most ONE row per component to the exchange —
    * then one equi-join on `rep` broadcasting the per-component winner
    * row back to members (canon table has one row per COMPONENT, orders
    * of magnitude smaller than the corpus).
    *
    * @param members (id, rep) component labels from [[connectedComponents]]
    * @param attrs   (`idCol`, `scoreCol`) per-document scores — must cover
    *                every member id: the join is inner, so an unscored
    *                member silently drops out of BOTH the ranking and the
    *                output (and its component's canonical is then chosen
    *                among the scored members only)
    * @return (id, rep, canon_id, keep) one row per member
    */
  def canonicalByScore(members: DataFrame, attrs: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val scored = members.join(
      attrs.select(col(idCol).as("id"), col(scoreCol)), Seq("id"))
    val w = Window.partitionBy(col("rep"))
      .orderBy(col(scoreCol).desc, col("id"))
    val canon = scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("rep"), col("id").as("canon_id"))
    members.join(canon, Seq("rep"))
      .select(col("id"), col("rep"), col("canon_id"),
        (col("id") === col("canon_id")).as("keep"))
  }

  /** [[connectedComponents]] + rounds run + convergence flag (spec evidence
    * for the pointer-jumping convergence bound; gates that need converged
    * labels check the flag). */
  private[graft] def ccWithRounds(edges: DataFrame, maxIter: Int = 20,
      doubling: Boolean = true, reliable: Boolean = false): (DataFrame, Int, Boolean) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the edge list is consumed by EVERY propagation round — persisted and
    // materialized once, or each round re-runs the (possibly expensive)
    // candidate-generation lineage upstream of it
    val sym = edges
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(lvl)
    // The eager count LOOKS redundant (the labels0 checkpoint job scans
    // sym and would materialize the persist in the same pass) but an r19
    // A/B that removed it measured every CC gate SLOWER (q62 1.30→1.62,
    // q88 1.36→1.59, q148 1.33→1.47 at sf0.1): fusing the cache write
    // into the checkpoint job makes one stage write cache blocks AND
    // checkpoint blocks together, and the contention costs more than the
    // extra driver round-trip saves. Keep the dedicated materialization.
    sym.count()
    /** One min-label propagation step (1-hop min + optional pointer jump)
      * from the (id, rep) generation `gen`; `old` is the incoming rep,
      * kept for the generation's change test. One step per generation:
      * batching two steps between barriers measured slower on every
      * CC-backed gate at sf0.1 (r20, 11.16→15.40 s over 9 gates) — these
      * graphs converge in 1-2 steps, so a second pass over the full sym
      * table costs more than the barrier job it saves. */
    def step(gen: DataFrame): DataFrame = {
      val l = gen.withColumn("old", col("rep"))
      val nbrMin = sym
        .join(l.select(col("id").as("src"), col("rep")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("rep")).as("nrep"))
      val hop = l.withColumnRenamed("rep", "prev")
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("prev"), coalesce(col("nrep"), col("prev"))).as("rep1"),
          col("old"))
      if (!doubling) hop.select(col("id"), col("rep1").as("rep"), col("old"))
      else hop
        // pointer jump: follow the chosen rep to ITS previous rep —
        // min(rep1, rep(rep1)) at least halves the remaining path length
        .join(l.select(col("id").as("rep1"), col("rep").as("rep2")),
          Seq("rep1"), "left")
        .select(col("id"),
          least(col("rep1"), coalesce(col("rep2"), col("rep1"))).as("rep"),
          col("old"))
    }
    val seed = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("rep"))
    val run = Lineage.iterate(seed, maxIter, reliable,
      changed = Some(col("rep") =!= col("old")))(step)
    sym.unpersist()
    (run.frame.select(col("id"), col("rep")), run.rounds, run.converged)
  }

  /** Exact n-gram Jaccard for a set of candidate pairs (verification pass
    * after LSH blocking). `pairs` must have (id_a, id_b). */
  def verifyJaccard(df: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, shingleWidth: Int = 3): DataFrame = {
    // shingle only the docs that appear in a candidate pair: after LSH
    // blocking, candidates are a small fraction of the corpus, so the
    // semi-join (broadcast of the tiny id set) prunes the shingling work
    // to the candidates — at scale this is the difference between
    // re-shingling 100 TB and re-shingling the near-dup fringe
    // both endpoints in one pass over `pairs` — the union-of-projections
    // form would evaluate the (often expensive, unpersisted) candidate
    // lineage once per side
    val candIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val candDocs = df.select(col(idCol).as("id"), col(textCol))
      .join(candIds, Seq("id"), "left_semi")
    // shingle sets built by the native codegen'd kernel (one pass per row);
    // array_intersect/array_union are codegen'd Spark built-ins
    val sh = candDocs.select(col("id"),
      graft.functions.TextFunctions.distinct_shingles(col(textCol), shingleWidth).as("sh"))
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
  }

  /** Exact CONTAINMENT verify over candidate pairs: |A∩B|/|A| and |A∩B|/|B|
    * over distinct shingle sets. Containment is the asymmetric complement
    * to [[verifyJaccard]]'s symmetric score — a short document quoted
    * wholesale inside a long one has containment ≈ 1 from the short side
    * while Jaccard stays low (the intersection is diluted by the long
    * side's union), so near-subset/template-inclusion pairs only surface
    * under this metric (Broder's containment, the C4/CCNet partial-dup
    * case). Same candidate-pruned scale shape as verifyJaccard: shingling
    * is semi-join-pruned to pair endpoints, sets never shuffle beyond the
    * two endpoint joins. */
  def verifyContainment(df: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, shingleWidth: Int = 3): DataFrame = {
    val candIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val candDocs = df.select(col(idCol).as("id"), col(textCol))
      .join(candIds, Seq("id"), "left_semi")
    val sh = candDocs.select(col("id"),
      graft.functions.TextFunctions.distinct_shingles(col(textCol), shingleWidth).as("sh"))
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_common"))
      .withColumn("cont_a", col("n_common").cast("double") / col("n_a"))
      .withColumn("cont_b", col("n_common").cast("double") / col("n_b"))
  }

  /** SimHash fingerprint per document: signature whose bit b is the sign of
    * Σ_tokens (±1 by bit b of the token hash). Near-dups differ in few
    * bits; compare with [[hammingDistance]]. Computed via explode + per-bit
    * conditional sums — distributed, one shuffle on id.
    *
    * `bitOf(tok, b)` supplies bit b of the token hash; default is Spark's
    * codegen'd xxhash64. [[md5NibbleBit]] is the engine-portable variant
    * (hex-nibble extraction from md5) used by the oracle gate. `bits` ≤ 62
    * keeps the signature a positive long.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 62,
      bitOf: (Column, Int) => Column = xxhashBit): DataFrame = {
    require(bits <= 62)
    val tok = df.select(col(idCol).as("id"),
      explode(TextOps.tokenize(col(textCol))).as("tok"))
    val bitSums = (0 until bits).map { b =>
      sum(when(bitOf(col("tok"), b) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val sums = tok.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    sums.select(col("id"), sig.as("simhash"))
  }

  /** Native per-row SimHash with the md5-nibble bit source — identical
    * output to `simhash(df, ..., bitOf = md5NibbleBit)` (spec-asserted),
    * but a single codegen'd projection instead of explode + 2·bits
    * conditional sums: zero shuffles, so at scale the fingerprint step is
    * pure map work. */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 62): DataFrame = {
    require(bits <= 62)
    df.select(col(idCol).as("id"),
      graft.functions.TextFunctions.simhash_md5(col(textCol), bits).as("simhash"))
  }

  def xxhashBit(tok: Column, b: Int): Column =
    shiftright(xxhash64(tok), b).bitwiseAND(1)

  /** Bit b of a 64-bit-from-md5-hex hash: nibble (b/4+1)-th hex char of
    * md5(tok), bit (b%4) of its value. `conv(_,16,10)` decodes the digit. */
  def md5NibbleBit(tok: Column, b: Int): Column =
    shiftright(conv(substring(md5(tok), b / 4 + 1, 1), 16, 10).cast("long"), b % 4)
      .bitwiseAND(1)

  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs by band-bucketed Hamming search (Manku et al.,
    * WWW'07 — the web-scale near-dup detector): the `bits`-bit signature
    * splits into `bands` equal slices, and by pigeonhole any pair with
    * Hamming distance ≤ bands−1 agrees EXACTLY on at least one slice, so
    * candidates are pairs sharing a (band, slice-value) bucket and the
    * verify is one row-local `bit_count(xor)` — never an all-pairs scan.
    * `maxHamming` must be ≤ bands−1 or recall breaks (guarded).
    *
    * Scale shape: same as MinHash banding — ONE shuffle on (band, key);
    * bucket sizes are ~n/2^(bits/bands) for random keys, and only true
    * duplicate clusters concentrate. The signature pass (the expensive
    * per-token md5) is persisted once and feeds both join sides.
    *
    * Output: (id_a, id_b, hamming) with id_a < id_b, verified pairs only.
    */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 60, bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(bits % bands == 0, s"bits=$bits must divide into bands=$bands")
    require(maxHamming <= bands - 1,
      s"maxHamming=$maxHamming needs at least ${maxHamming + 1} bands for " +
        "the pigeonhole guarantee")
    val w = bits / bands
    val mask = (1L << w) - 1
    val sig = simhashMd5(df, idCol, textCol, bits)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandRows = sig.select(col("id"), col("simhash"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("key",
        expr(s"shiftright(simhash, cast(band * $w as int)) & $mask"))
    bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct() // a pair sharing several bands is one candidate
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sa"), col("sb")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Paragraph/block-level dedup with document reconstruction (the C4/
    * RefinedWeb line-dedup move, on fixed `blockTokens`-token blocks since
    * the corpus carries no sentence punctuation): a block whose text
    * appears anywhere earlier in corpus order — in ANOTHER document or
    * earlier in the SAME one — is dropped; the first occurrence (min
    * (doc_id, block_idx) per block hash) survives. Each document is then
    * re-assembled from its surviving blocks in order.
    *
    * Scale shape: block texts never shuffle — the first-occurrence window
    * runs over (md5, doc_id, idx) triples only, and reconstruction joins
    * the winners back semi-style on (doc_id, idx) before a single per-doc
    * aggregate. One window shuffle on the 16-byte hash + one groupBy on
    * doc_id; no all-pairs, no corpus-wide text movement.
    *
    * Output: (doc_id, kept, dropped, text_clean).
    */
  def blockDedup(docs: DataFrame, idCol: String, textCol: String,
      blockTokens: Int = 16): DataFrame = {
    val blocks = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ts"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, cast(ceil(size(ts) / $blockTokens.0) as int) - 1), " +
          s"i -> struct(cast(i as bigint) as bi, " +
          s"array_join(slice(ts, i * $blockTokens + 1, $blockTokens), ' ') as bt))"))
        .as("b"))
      .select(col("doc_id"), col("b.bi").as("bi"), col("b.bt").as("bt"))
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("bi"))
    // winner rows only carry (hash, doc_id, idx) through the shuffle
    val keep = blocks.select(md5(col("bt")).as("h"), col("doc_id"), col("bi"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("bi"), lit(true).as("keep"))
    blocks.join(keep, Seq("doc_id", "bi"), "left")
      .withColumn("keep", coalesce(col("keep"), lit(false)))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("dropped"),
        // collect_list skips the nulls the `when` leaves for dropped
        // blocks; sort by bi restores document order
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("bi"), col("bt"))))),
          x => x.getField("bt")), " ").as("text_clean"))
  }
}
