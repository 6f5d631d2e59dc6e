package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** BM25 retrieval scoring over a document corpus (Robertson & Zaragoza
  * 2009, "The Probabilistic Relevance Framework: BM25 and Beyond") — a
  * first-class training-data-pipeline operator: quality-aware retrieval,
  * decontamination scoring ("which training docs score suspiciously high
  * against eval queries"), and targeted corpus audits all reduce to
  * "BM25 top-k per query".
  *
  * Scale shape (the part that must survive 100 TB):
  *  - the query set is SMALL by construction (a handful of terms) and is
  *    broadcast; the token stream is semi-join-pruned to query terms
  *    BEFORE any per-term aggregation, so df/tf stats are computed only
  *    for the terms that can score — never a full-vocabulary statistics
  *    pass;
  *  - per-document length is the one full-corpus aggregation (a narrow
  *    count per doc_id — one shuffle of (id, long));
  *  - the final top-k is a per-query window over docs that matched at
  *    least one query term — the non-matching corpus never reaches the
  *    shuffle.
  *
  * Determinism (the Det discipline): per-term contributions are computed
  * as IEEE doubles with an expression tree written IDENTICALLY in the
  * DuckDB oracle (same literals, same association), then rounded to
  * 1e-6 fixed-point LONGS before the per-(query, doc) sum — integer
  * sums are exact and order-free, so the emitted `score_fp6` and the
  * (score desc, doc_id) ranking are partition-order-independent and
  * hash-comparable across engines. The only cross-engine wobble is the
  * last ulp of `ln` (Java Math.log vs libm), ~1e-16 relative, which the
  * 1e-6 rounding absorbs except on astronomically thin half-integer
  * boundaries.
  */
object TextRank {

  /** BM25 k1: term-frequency saturation. */
  val K1 = 1.2
  /** BM25 b: document-length normalization strength. */
  val B = 0.75

  /** Top-k documents per query by BM25.
    *
    * @param docs    corpus with `idCol` (long) and `textCol` (whitespace
    *                tokens — pre-tokenized corpus contract; compose with
    *                [[TextOps.tokenizeRegex]] upstream for general text)
    * @param queries (query_id, terms) — small, broadcast
    * @return (query_id, rank, doc_id, score_fp6): rank 1..k per query by
    *         (score desc, doc_id asc); score_fp6 = BM25 × 1e6 as long
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(Long, Seq[String])],
      idCol: String, textCol: String, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val tok = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
    val lens = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("len_d"))
    // one-row corpus stats; broadcast cross join (the q72/q54 pattern)
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("len_d")).as("tot_len"))
    // document frequency ONLY for query terms: the broadcast semi-join
    // prunes the token stream before the distinct-doc aggregation
    val dfs = tok
      .join(broadcast(qt.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("term")).agg(count_distinct(col("doc_id")).as("df"))
    val tf = tok
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // expression tree mirrored verbatim in the oracle SQL (see
    // TextQueries.q76Bm25Sql): idf * tfn * 1e6, left-associated
    val avgdl = col("tot_len").cast("double") / col("n_docs")
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    // literal 2.2, not K1 + 1.0: the runtime sum 1.2+1.0 lands on a
    // round-to-even tie one ulp away from the parsed literal "2.2" the
    // oracle uses — the literal must be identical on both sides
    val tfn = (col("tf") * lit(2.2)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * (col("len_d") / avgdl)))
    val contrib = tf
      .join(broadcast(dfs), Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(idf * tfn * lit(1e6)).cast("long").as("c"))
    val scores = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("score_fp6"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp6").desc, col("doc_id"))
    scores
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_fp6"))
  }

  // ---- BM25 posting index (r17: serving-shape retrieval — the q101
  // exactly-once contract applied to the q76 scorer, so repeated
  // retrieval serves from a persisted inverted index instead of
  // re-tokenizing and re-scoring the raw corpus every run) ----

  private val postingIndexMeta = "bm25postings,tok=ws,stats=sentinel"

  /** One batch's posting rows: `(term, doc_id, tf, len_d)` per distinct
    * (term, doc) — the inverted index — plus ONE batch-stats sentinel
    * row (`term` NULL, `doc_id` = the batch's doc count, `tf` = its
    * total token count, `len_d` = 0). Storing the corpus stats inline
    * keeps each batch append ATOMIC (one marker commits postings and
    * stats together); serve paths aggregate the sentinels for
    * (n_docs, tot_len) and never scan the posting rows for them. */
  private[graft] def postingRows(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val tok = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
    val lens = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("len_d"))
    val posts = tok.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .join(lens, Seq("doc_id"))
      .select(col("term"), col("doc_id"), col("tf"), col("len_d"))
    val sentinel = lens
      .agg(count(lit(1)).as("doc_id"), sum(col("len_d")).as("tf"))
      .select(lit(null).cast("string").as("term"), col("doc_id"),
        col("tf"), lit(0L).as("len_d"))
    posts.unionByName(sentinel)
  }

  /** Exactly-once append of one batch's postings ([[graft.ops.BatchIndex]]
    * protocol — replays no-op, crashed attempts heal on retry;
    * auto-compacts past `compactAbove` committed files). Batch doc ids
    * must be DISJOINT across batches (the monotone-ingest contract every
    * index here shares): df-per-term is then the posting-row count, and
    * the stats sentinels sum without double counting. */
  def appendToPostingIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, batchId: Long, compactAbove: Int = 64): Unit = {
    val spark = docs.sparkSession
    BatchIndex.appendBatch(postingRows(docs, idCol, textCol), path, batchId,
      postingIndexMeta)
    if (compactAbove > 0 &&
        BatchIndex.committedFileCount(spark, path) > compactAbove)
      BatchIndex.compact(spark, path)
  }

  /** Committed view of a posting index. */
  def readPostingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = BatchIndex.readCommitted(spark, path)

  /** One EXACTLY-ONCE BM25 posting-ingest step — the
    * [[Dedup.ingestBatch]]/[[Dedup.winnowIngestBatch]] contract applied
    * to the retrieval index (`foreachBatch` wires this per micro-batch:
    * [[graft.streaming.DocStream.bm25Ingest]]):
    *
    *  1. admit: exact within-batch dedup (min-id per distinct text) —
    *     deterministic given the batch, so a replay admits exactly the
    *     same docs;
    *  2. index: the admitted docs' postings + the batch's corpus-stats
    *     sentinel append under the micro-batch id, marker committed LAST
    *     ([[appendToPostingIndex]]).
    *
    * The marker proves both steps completed: a replay (same batchId)
    * returns immediately; a crash at any intermediate point is healed by
    * the retry ([[BatchIndex]] protocol — uncommitted prefixed files are
    * dropped before the re-stage, so posting and sentinel rows land
    * exactly once). Batch doc ids must be disjoint across batches (the
    * monotone-ingest contract every index here shares): df-per-term
    * stays the posting-row count and the stats sentinels sum without
    * double counting. Cross-batch TEXT dedup is deliberately not this
    * loop's job — chain [[graft.streaming.DocStream.dedupIngest]]'s
    * admitted output in front when the corpus needs it. */
  def postingIngestBatch(batch: DataFrame, batchId: Long, indexPath: String,
      idCol: String = "doc_id", textCol: String = "text",
      compactAbove: Int = 64): Unit = {
    val spark = batch.sparkSession
    if (BatchIndex.isCommitted(spark, indexPath, batchId)) return
    appendToPostingIndex(Dedup.exact(batch, idCol, textCol), idCol, textCol,
      indexPath, batchId, compactAbove)
  }

  /** [[bm25TopK]] served FROM a posting index: identical scores (the
    * same literal-for-literal IEEE expression tree over the same exact
    * integer inputs — tf, len_d, df, n_docs, tot_len are lossless in
    * the index), but the per-query cost is an index lookup: the posting
    * scan is pruned to query terms (parquet row-group pruning on the
    * `term` dictionary does this at the scan), corpus stats come from
    * the per-batch sentinel rows, and the raw corpus is never touched.
    * At 100 TB this is the difference between a retrieval SERVICE and a
    * per-query corpus job — re-scoring from raw tokens costs a full
    * token explode + two corpus-wide aggregations per run; the index
    * amortizes that into the one-time (batched, exactly-once) build. */
  def bm25TopKIndexed(index: DataFrame, queries: Seq[(Long, Seq[String])],
      k: Int): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val qt = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val stats = index.filter(col("term").isNull)
      .agg(sum(col("doc_id")).as("n_docs"), sum(col("tf")).as("tot_len"))
    val post = index
      .join(broadcast(qt.select(col("term")).distinct()), Seq("term"))
    // one posting row per (term, doc) across disjoint batches → the row
    // count IS count_distinct(doc_id)
    val dfs = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tf = post.join(broadcast(qt), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("term"), col("tf"),
        col("len_d"))
    // expression tree mirrored VERBATIM from bm25TopK (and the oracle
    // SQL) — same literals, same association, so scores are identical
    val avgdl = col("tot_len").cast("double") / col("n_docs")
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val tfn = (col("tf") * lit(2.2)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * (col("len_d") / avgdl)))
    val contrib = tf
      .join(broadcast(dfs), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(idf * tfn * lit(1e6)).cast("long").as("c"))
    val scores = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("score_fp6"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_fp6").desc, col("doc_id"))
    scores
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_fp6"))
  }

  /** Graded-relevance cap for [[ndcgAtK]]: term-frequency-derived labels
    * saturate at this grade (the usual 0..4 editorial scale). */
  val MaxRel = 4L

  /** Rank-position discounts 1/log2(r+1) for r = 1..k, computed ONCE on
    * the driver. Embedding these as literals on BOTH engines (a broadcast
    * lookup here, a VALUES list in the oracle) removes the only
    * transcendental from the nDCG expression tree — no runtime log2 whose
    * last ulp could differ between Java's Math.log and DuckDB's libm. */
  def ndcgDiscounts(k: Int): Seq[(Long, Double)] =
    (1 to k).map(r => (r.toLong, 1.0 / (math.log(r + 1.0) / math.log(2.0))))

  /** nDCG@k evaluation of the [[bm25TopK]] ranking — the standard offline
    * retrieval-quality metric (Järvelin & Kekäläinen 2002), run here with
    * deterministic graded relevance derived from the corpus itself:
    * rel(q, d) = min(total occurrences of q's terms in d, [[MaxRel]]).
    * A retrieval/RAG pipeline runs exactly this shape of job to regression-
    * test its index after every rebuild; swapping the qrels source for a
    * human-labeled table changes one join input, not the plan.
    *
    * Scale shape: the relevance table is the semi-join-pruned token stream
    * aggregated per (query, doc) — the same bounded intermediate bm25TopK
    * already builds; DCG/IDCG are k-row-per-query window aggregations.
    * Nothing here scans the corpus a second time beyond the token pass.
    *
    * Determinism: gains (2^rel − 1) are exact integers, discounts are
    * shared literals, per-rank contributions round to 1e-9 fixed-point
    * longs before the per-query sum, and the final ratio is one double
    * division — hash-stable cross-engine.
    *
    * @return (query_id, dcg_fp9, idcg_fp9, ndcg_fp6)
    */
  def ndcgAtK(docs: DataFrame, queries: Seq[(Long, Seq[String])],
      idCol: String, textCol: String, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val tok = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
    val rel = tok
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(least(count(lit(1)), lit(MaxRel)).as("rel"))
    val disc = ndcgDiscounts(k).toDF("rank", "disc")
    // gain 2^rel − 1 as an exact integer (shiftleft, not pow: no float;
    // expr form — the Scala shiftleft helper only takes a literal shift)
    val gain = (expr("shiftleft(1L, cast(rel as int))") - lit(1L)).cast("double")
    val contrib = round(gain * col("disc") * lit(1e9)).cast("long")

    val sys = bm25TopK(docs, queries, idCol, textCol, k)
      .join(rel, Seq("query_id", "doc_id"), "left")
      .na.fill(0L, Seq("rel"))
      .join(broadcast(disc), Seq("rank"))
      .groupBy(col("query_id")).agg(sum(contrib).as("dcg_fp9"))

    val wIdeal = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("doc_id"))
    val idcg = rel
      .withColumn("rank", row_number().over(wIdeal).cast("long"))
      .filter(col("rank") <= k)
      .join(broadcast(disc), Seq("rank"))
      .groupBy(col("query_id")).agg(sum(contrib).as("idcg_fp9"))

    sys.join(idcg, Seq("query_id"))
      .select(col("query_id"), col("dcg_fp9"), col("idcg_fp9"),
        round(col("dcg_fp9").cast("double") / col("idcg_fp9") * lit(1e6))
          .cast("long").as("ndcg_fp6"))
  }

  /** TextRank damping factor (Mihalcea & Tarau 2004 use PageRank's 0.85). */
  val Damping = 0.85

  /** Corpus-level TextRank keyword extraction (Mihalcea & Tarau 2004,
    * "TextRank: Bringing Order into Texts"): weighted PageRank over the
    * term co-occurrence graph — nodes are distinct terms, an undirected
    * edge (u,v) weighted by how often u and v are ADJACENT tokens
    * anywhere in the corpus. The converged rank is a corpus-salience
    * score: which terms sit at the center of the corpus's phrase
    * structure — the keyword/topic audit a curation pipeline runs before
    * and after a filtering pass ("did dedup/quality gating shift what
    * the corpus is about?").
    *
    * Scale shape:
    *  - edge extraction is a PER-DOC PROJECTION (zip the token array
    *    with its own tail — no positional self-join) followed by one
    *    groupBy to weights: O(tokens) rows into one shuffle;
    *  - each PageRank iteration is one join (ranks ⋈ edges on src) plus
    *    one groupBy (sum by dst): 2 shuffles × a FIXED iteration count,
    *    the q62 pointer-jumping discipline — never per-row driver loops;
    *  - the edge table is persisted once and reused by all iterations.
    *
    * Determinism (the Det discipline): ranks live as 1e-6 fixed-point
    * LONGS. Per-edge contributions round to longs BEFORE the per-node
    * sum (integer sums are exact and order-free); the update
    * `150000 + round(0.85 * sum)` is one double multiply on an exactly-
    * representable integer — bit-identical across engines. The oracle
    * unrolls the same fixed iteration count as chained CTEs.
    *
    * Node-set contract: terms of one-token documents that are adjacent
    * to nothing appear in no edge and get no rank (graph nodes only) —
    * mirrored by the oracle construction.
    *
    * @param iterations fixed PageRank rounds (5 ≈ converged ordering on
    *                   natural corpora; fixed so the oracle can unroll)
    * @return (rank, term, score_fp6): top-k terms by
    *         (score desc, term asc); score_fp6 = rank mass × 1e6
    */
  /** @param mode iteration join strategy: `"broadcast"` broadcasts the
    *   rank table into every round (right at small vocabularies — one
    *   hash build, zero extra exchanges); `"partitioned"` pre-partitions
    *   the persisted edge table on `src` and keeps ranks co-clustered by
    *   the previous round's groupBy, so the per-round join needs NO
    *   exchange on either side and nothing vocabulary-sized ever lands
    *   on the driver (the 100 TB shape — broadcasting a 10M-term rank
    *   table every round is a driver-memory hazard); `"auto"` (default)
    *   picks by the optimizer's corpus size stats, the static analogue
    *   of AQE's runtime broadcast decision. Both modes are semantically
    *   identical (same fixed-point arithmetic, same iteration count). */
  def textRankKeywords(docs: DataFrame, idCol: String, textCol: String,
      k: Int, iterations: Int = 5, mode: String = "auto"): DataFrame = {
    val toks = docs.select(
      filter(split(col(textCol), " "), t => t =!= "").as("toks"))
    // adjacent pairs by zipping the token list with its own tail —
    // per-row projection, no join; drop self-loops (repeated tokens)
    val pairs = toks
      .filter(size(col("toks")) >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(least(a, b).as("u"), greatest(a, b).as("v"))))
        .as("e"))
      .select(col("e.u"), col("e.v"))
      .filter(col("u") =!= col("v"))
    val und = pairs.groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
    // symmetric directed view + per-source total weight; persisted once,
    // read by every iteration (and the node seed)
    val edges = und.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst"), col("w")))
    val wtot = edges.groupBy(col("src")).agg(sum(col("w")).as("wsrc"))
    // auto rule: interleaved in-process A/B at sf0.1 (same session,
    // alternating modes, 3 runs each) measured partitioned FASTER even at
    // a 594 KB-stats corpus (median 1.54 s vs 1.78 s) — the per-round
    // broadcast rebuild costs more than the reused exchange. Broadcast
    // keeps only the truly tiny regime (one hash build beats two base
    // exchanges when the whole graph is a few thousand edges; the gate
    // corpora at sf0.001/sf0.01 sit at ~65 KB)
    val partitioned = mode match {
      case "broadcast" => false
      case "partitioned" => true
      case "auto" =>
        docs.queryExecution.optimizedPlan.stats.sizeInBytes > (256L << 10)
      case other => throw new IllegalArgumentException(
        s"unknown mode '$other' (broadcast|partitioned|auto)")
    }
    // VERDICT r9 #4, the partitioned shape: the cached relation carries
    // hashpartitioning(src), and each iteration's rank table is clustered
    // on the SAME key by the previous iteration's groupBy(dst) — so the
    // per-round join needs NO exchange on either side, and the only
    // shuffle per round is the contribution scatter (groupBy dst), which
    // IS the PageRank step. The shuffle_hash hint keeps the planner from
    // broadcasting the vocabulary-sized rank table every round.
    val adjBase = edges.join(wtot, Seq("src"))
    // Partitioned mode carries a LINEAGE BARRIER, not a persist (r20):
    // persist dedups execution, but every iteration's logical plan still
    // embeds the full corpus->tokenize->aggregate subtree, so Catalyst
    // re-analyzes/re-optimizes a 5-copy tree — measured ~0.5 s of driver
    // gap per run at sf0.1 (2 jobs, ~1.0 s of job wall, ~0.54 s gap).
    // The eager localCheckpoint truncates the plan to a LogicalRDD leaf
    // that PRESERVES the repartition(src) clustering, so the per-round
    // join still needs no exchange on the edge side. The rank seed then
    // derives from the barriered table (distinct src — wtot's exact key
    // set, one row per source, by construction) instead of re-running
    // the corpus subtree a second time for the seed. Broadcast mode
    // keeps the persist: the barrier strips carried stats (default =
    // conservative-large), which would flip the tiny-graph per-round
    // broadcast join to a shuffle join.
    val adj =
      if (partitioned)
        Lineage.barrier(adjBase.repartition(col("src")), reliable = false)
      else adjBase.persist(StorageLevel.MEMORY_AND_DISK)
    var ranks =
      (if (partitioned) adj.select(col("src")).distinct() else wtot)
        .select(col("src").as("term"), lit(1000000L).as("r"))
    for (_ <- 1 to iterations) {
      val ranksSide = if (partitioned) ranks.hint("shuffle_hash") else ranks
      val contrib = adj.join(ranksSide, adj("src") === ranks("term"))
        .select(col("dst"),
          round((col("r").cast("double") * col("w")) / col("wsrc"))
            .cast("long").as("c"))
      ranks = contrib.groupBy(col("dst")).agg(
        (lit(150000L) + round(lit(Damping) * sum(col("c"))).cast("long"))
          .as("r"))
        .select(col("dst").as("term"), col("r"))
    }
    // distributed top-k (TakeOrderedAndProject — per-partition heaps,
    // never a global sort of the vocabulary); the rank column is then a
    // window over k rows, not over the corpus
    val topk = ranks.orderBy(col("r").desc, col("term")).limit(k)
    topk
      .withColumn("rank",
        row_number().over(Window.orderBy(col("r").desc, col("term"))).cast("long"))
      .select(col("rank"), col("term"), col("r").as("score_fp6"))
    // `adj` is released by the gate run's owner (Gated.owned)
  }
}
