package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(11)
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
  private def doc(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")

  private def corpus() = {
    val base = (0 until 30).map(i => (i.toLong, doc(60)))
    // near-dups: copy of doc i with one token appended
    val dups = (0 until 5).map(i => (100L + i, base(i)._2 + " omega"))
    // one exact dup
    (base ++ dups :+ (200L, base(7)._2)).toDF("doc_id", "text")
  }

  test("exact dedup keeps min-id representative") {
    val out = Dedup.exact(corpus(), "doc_id", "text")
    assert(out.count() === 35) // 36 rows - 1 exact dup
    assert(out.filter(col("doc_id") === 200L).isEmpty)
    assert(out.filter(col("doc_id") === 7L).count() === 1)
    assert(out.columns.toSeq === corpus().columns.toSeq) // schema preserved
  }

  test("min_by exact dedup equals the window form row-for-row") {
    val c = corpus()
    val a = Dedup.exact(c, "doc_id", "text").as[(Long, String)].collect().toSet
    val b = Dedup.exactViaMinBy(c, "doc_id", "text").as[(Long, String)].collect().toSet
    assert(a === b)
  }

  test("containment verify: subset doc scores 1.0 from its side, Jaccard stays low") {
    val a = (0 until 30).map(i => s"a$i").mkString(" ")
    val c = (0 until 30).map(i => s"c$i").mkString(" ")
    val docs = Seq((1L, a), (2L, a + " " + c), (3L, c)).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.verifyContainment(docs, pairs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // doc 1 (28 distinct shingles) is a prefix of doc 2 (58): full
    // containment from the short side, diluted from the long side
    val (_, _, nA, nB, nC, contA, contB) = out((1L, 2L))
    assert(nA === 28L && nB === 58L && nC === 28L)
    assert(contA === 1.0 && contB === 28.0 / 58.0)
    // the symmetric Jaccard the same pair would score: 28/58 ≈ 0.48 — the
    // asymmetric signal (1.0) is what flags the near-subset
    val (_, _, _, n3, nc3, ca3, _) = out((1L, 3L))
    assert(n3 === 28L && nc3 === 0L && ca3 === 0.0)
  }

  test("block dedup: first occurrence wins, documents rebuilt in order") {
    def block(tag: Int) = (0 until 16).map(j => s"w${tag}_$j").mkString(" ")
    val docs = Seq(
      (0L, block(0) + " " + block(1)),             // all first occurrences
      (1L, block(2) + " " + block(1)),             // block(1) repeated → dropped
      (2L, block(0) + " " + block(0)),             // both copies repeats → empty
      (3L, block(3) + " " + block(4).split(" ").take(8).mkString(" ")) // ragged tail
    ).toDF("doc_id", "text")
    val out = Dedup.blockDedup(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) === ((0L, 2L, 0L, block(0) + " " + block(1))))
    assert(out(1L) === ((1L, 1L, 1L, block(2))))
    assert(out(2L) === ((2L, 0L, 2L, "")))
    // ragged last block (8 tokens) survives as its own block
    assert(out(3L)._2 === 2L && out(3L)._4 === docs.filter(col("doc_id") === 3L)
      .select("text").as[String].head())
  }

  test("minhash candidates find planted near-dups with high est_jaccard") {
    val cand = Dedup.minhashCandidates(corpus(), "doc_id", "text")
    val hits = cand.filter(col("est_jaccard") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (0 until 5).map(i => (i.toLong, 100L + i)).toSet + ((7L, 200L))
    assert(expected.subsetOf(hits), s"missing ${expected -- hits}")
  }

  test("fast (XXH64) minhash recalls the same planted near-dups as the md5 gate path") {
    val c = corpus()
    val fast = Dedup.minhashCandidatesFast(c, "doc_id", "text")
    val hits = fast.filter(col("est_jaccard") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (0 until 5).map(i => (i.toLong, 100L + i)).toSet + ((7L, 200L))
    assert(expected.subsetOf(hits), s"missing ${expected -- hits}")
    // exact dup: every seed minimum collides in ANY hash family
    val exact = fast.filter(col("id_a") === 7L && col("id_b") === 200L)
      .select("est_jaccard").as[Double].collect().head
    assert(exact === 1.0)
    // both estimators target the same Jaccard: on the PLANTED pairs
    // (id, id+100) the two hash families must agree within the 8-seed
    // estimator's grain (each estimate is a k/8 binomial draw around the
    // true ~0.95 Jaccard)
    val md5est = Dedup.minhashCandidates(c, "doc_id", "text")
      .filter(col("id_b") === col("id_a") + 100)
      .select("id_a", "est_jaccard").as[(Long, Double)].collect().toMap
    val fastest = fast.filter(col("id_b") === col("id_a") + 100)
      .select("id_a", "est_jaccard").as[(Long, Double)].collect().toMap
    (0 until 5).foreach { i =>
      val d = math.abs(md5est.getOrElse(i.toLong, 0.0) - fastest.getOrElse(i.toLong, 0.0))
      assert(d <= 0.5, s"pair $i estimators diverge by $d")
    }
  }

  test("verifyJaccard: exact dup pair has jaccard 1.0, near-dup close to 1") {
    val pairs = Seq((7L, 200L), (0L, 100L)).toDF("id_a", "id_b")
    val v = Dedup.verifyJaccard(corpus(), pairs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(v(7L) === 1.0)
    assert(v(0L) > 0.9)
  }

  test("simhash: near-dups within small hamming distance, random docs far") {
    val sig = Dedup.simhash(corpus(), "doc_id", "text")
    val m = sig.as[(Long, Long)].collect().toMap
    (0 until 5).foreach { i =>
      val d = java.lang.Long.bitCount(m(i.toLong) ^ m(100L + i))
      assert(d <= 6, s"near-dup pair $i hamming $d")
    }
    val dRandom = java.lang.Long.bitCount(m(3L) ^ m(9L))
    assert(dRandom > 6, s"random pair too close: $dRandom")
  }

  test("native minhash kernel equals declarative shuffle form row-for-row") {
    val c = corpus()
    val native = Dedup.minhashSignatures(c, "doc_id", "text")
      .as[(Long, Int, String)].collect().toSet
    val shuffle = Dedup.minhashSignaturesViaShuffle(c, "doc_id", "text")
      .as[(Long, Int, String)].collect().toSet
    assert(native === shuffle)
    assert(native.nonEmpty)
  }

  test("native simhash kernel equals declarative md5-nibble form") {
    val c = corpus()
    val native = Dedup.simhashMd5(c, "doc_id", "text", bits = 60)
      .as[(Long, Long)].collect().toMap
    val decl = Dedup.simhash(c, "doc_id", "text", bits = 60,
        bitOf = Dedup.md5NibbleBit)
      .as[(Long, Long)].collect().toMap
    assert(native === decl)
  }

  test("nearDupGroups assigns min representative") {
    val cand = Dedup.minhashCandidates(corpus(), "doc_id", "text")
    val groups = Dedup.nearDupGroups(cand, 0.9).as[(Long, Long)].collect().toMap
    assert(groups(200L) === 7L)
  }

  test("connectedComponents: chains, separate components, fixpoint") {
    // component A: a 5-node PATH (diameter 4 — forces several propagation
    // rounds, the case nearDupGroups' single round cannot close);
    // component B: a triangle; C: a lone edge
    val edges = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), // path
      (20L, 21L), (21L, 22L), (20L, 22L),             // triangle
      (31L, 30L)                                      // edge (reversed ids)
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(got === Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L))
    // maxIter short-circuits before convergence: path end keeps a stale rep
    val capped = Dedup.connectedComponents(edges, maxIter = 1)
      .as[(Long, Long)].collect().toMap
    assert(capped(11L) === 10L)
    assert(capped(14L) === 13L) // one round only reaches the neighbor
    // converged labels: every component has exactly one self-labeled row
    // (the min-id node carries rep == id), so count(rep == id) ≡
    // countDistinct(rep) — the identity q244's near-dedup funnel row
    // rides its barrier with (an observation can sum a predicate but
    // cannot count distinct)
    assert(got.count { case (id, rep) => id == rep } ===
      got.values.toSet.size)
  }

  test("CC on an id-shuffled path: many rounds converge without the " +
      "carried-stats planning blowup (Lineage.barrier strips originStats)") {
    // a PATH whose node ids are a fixed pseudo-random permutation: with
    // ids uncorrelated to geometry the pointer jump degrades toward
    // hop-speed (the q251 eps-filament shape), forcing rounds well past
    // the default budget — exactly the regime where checkpoint-carried
    // statistics used to compound multiplicatively per round until the
    // driver wedged in BigInteger stats arithmetic
    val n = 120
    val ids = (0L until n.toLong).map(i => (i * 73L) % n) // 73 coprime to 120
    val path = (0 until n - 1).map(i => (ids(i), ids(i + 1))).toDF("id_a", "id_b")
    val t0 = System.nanoTime()
    val (labels, rounds, converged) = Dedup.ccWithRounds(path, maxIter = 100)
    val wall = (System.nanoTime() - t0) / 1e9
    assert(converged, s"did not converge in 100 rounds")
    assert(rounds > 20, s"expected a slow topology, converged in $rounds")
    assert(labels.as[(Long, Long)].collect().forall(_._2 === 0L))
    // the old behavior was minutes-to-wedged by round ~25; generous bound
    assert(wall < 120.0, f"CC took $wall%.1f s — stats blowup is back?")
  }

  test("condensed CC equals plain CC — with a locality key and with a " +
      "pure-noise key (correctness never depends on key quality)") {
    val n = 120
    val ids = (0L until n.toLong).map(i => (i * 73L) % n)
    val path = (0 until n - 1)
      .map(i => (ids(i), ids(i + 1), i / 10)) // position-block locality
      .toDF("id_a", "id_b", "blk")
    val plain = Dedup.connectedComponents(
        path.select(col("id_a"), col("id_b")), maxIter = 100)
      .as[(Long, Long)].collect().toMap
    val good = Dedup.connectedComponentsCondensed(path, col("blk"))
      .as[(Long, Long)].collect().toMap
    assert(good === plain)
    val noise = Dedup.connectedComponentsCondensed(
        path, pmod(col("id_a") * 2654435761L, lit(97L)))
      .as[(Long, Long)].collect().toMap
    assert(noise === plain)
    // r17: salting (the low-cardinality-key memory guard) splits each
    // locality group across sub-partitions — less condensation, same
    // labels (cross-salt paths close in the main loop)
    val salted = Dedup.connectedComponentsCondensed(
        path, lit(0), salt = 4)
      .as[(Long, Long)].collect().toMap
    assert(salted === plain)
  }

  test("pointer jumping closes a 64-chain in O(log n) rounds") {
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds, converged) = Dedup.ccWithRounds(chain, maxIter = 15)
    val got = labels.as[(Long, Long)].collect()
    assert(got.length === 64 && got.forall(_._2 === 0L))
    assert(converged)
    // distance to the minimum at least halves per round (+1 hop), plus the
    // zero-changes confirmation round: ~log2(63) + slack, nowhere near 63
    assert(rounds <= 10, s"doubling took $rounds rounds")
    // plain propagation moves the label one hop per round: provably NOT
    // converged within the same budget — and the flag says so
    val (lin, linRounds, linConv) = Dedup.ccWithRounds(chain, maxIter = 10, doubling = false)
    assert(linRounds === 10)
    assert(!linConv)
    assert(lin.as[(Long, Long)].collect().exists(_._2 !== 0L))
  }

  test("incremental winnowing index: batched appends + candidates equal " +
      "the full recompute; replayed appends are exactly-once") {
    val c = corpus()
    val split = 50L
    val tmp = java.nio.file.Files.createTempDirectory("graft_winidx_spec")
      .toString + "/idx"
    // the "already-ingested" half arrives in TWO committed batches
    Dedup.appendToWinnowIndex(c.filter(col("doc_id") < 10), "doc_id", "text",
      tmp, batchId = 0L)
    Dedup.appendToWinnowIndex(
      c.filter(col("doc_id") >= 10 && col("doc_id") < split), "doc_id",
      "text", tmp, batchId = 1L)
    val afterTwo = Dedup.readWinnowIndex(spark, tmp)
      .as[(Long, Long)].collect().sorted.toSeq
    // exactly-once: replaying a committed batch changes nothing
    Dedup.appendToWinnowIndex(c.filter(col("doc_id") < 10), "doc_id", "text",
      tmp, batchId = 0L)
    assert(Dedup.readWinnowIndex(spark, tmp)
      .as[(Long, Long)].collect().sorted.toSeq === afterTwo)
    // the index holds exactly the full recompute's fingerprints
    val fullFp = Dedup.winnowFingerprints(
        c.filter(col("doc_id") < split), "doc_id", "text")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(afterTwo === fullFp)
    // incremental candidates (batch vs index ∪ batch, cumulative mask)
    // equal the full recompute restricted to >= 1 new endpoint
    val inc = Dedup.winnowCandidatesIncremental(
        c.filter(col("doc_id") >= split), "doc_id", "text",
        Dedup.readWinnowIndex(spark, tmp), maxDf = 50, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    val allFp = Dedup.winnowFingerprints(c, "doc_id", "text")
    val masked = allFp.join(
      allFp.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > 50).select(col("h")), Seq("h"), "left_anti")
    val full = masked.select(col("h"), col("id").as("id_a"))
      .join(masked.select(col("h"), col("id").as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2 && col("id_b") >= split)
      .as[(Long, Long, Long)].collect().toSet
    assert(inc === full)
    assert(inc.nonEmpty)
  }

  test("incremental dedup against a stored index equals the full recompute") {
    val c = corpus()
    val split = 50L // base docs (0-29) in the index; 100-105 + 200 are new
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigidx_spec")
      .toString + "/idx"
    val index = Dedup.signatureIndexArtifact(
      c.filter(col("doc_id") < split), "doc_id", "text", tmp)
    val inc = Dedup.minhashCandidatesIncremental(
        c.filter(col("doc_id") >= split), "doc_id", "text", index)
      .as[(Long, Long, Double)].collect().toSet
    // full recompute, restricted to pairs with >= 1 new endpoint (id_b is
    // the greater endpoint, so id_b >= split is exactly that predicate)
    val full = Dedup.minhashCandidates(c, "doc_id", "text")
      .filter(col("id_b") >= split)
      .as[(Long, Long, Double)].collect().toSet
    assert(inc === full)
    assert(inc.nonEmpty)
    // second call serves from the artifact (no rebuild) — same result
    val again = Dedup.minhashCandidatesIncremental(
        c.filter(col("doc_id") >= split), "doc_id", "text",
        Dedup.signatureIndexArtifact(
          c.filter(col("doc_id") < split), "doc_id", "text", tmp))
      .as[(Long, Long, Double)].collect().toSet
    assert(again === inc)
    // appending the admitted batch extends the index for the NEXT batch:
    // a later exact copy of doc 3 must now collide with both 3 and 103
    Dedup.appendToSignatureIndex(
      c.filter(col("doc_id") >= split), "doc_id", "text", tmp)
    val batch3 = Seq((300L, c.filter(col("doc_id") === 3L)
      .select("text").as[String].head())).toDF("doc_id", "text")
    val round2 = Dedup.minhashCandidatesIncremental(
        batch3, "doc_id", "text", spark.read.parquet(tmp))
      .filter(col("est_jaccard") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(round2.contains((3L, 300L)) && round2.contains((103L, 300L)))
    // serving OR appending with different parameters must fail fast
    // (est_jaccard divides by the caller's numHashes — a silent mismatch
    // would halve every similarity estimate)
    val e = intercept[IllegalArgumentException] {
      Dedup.signatureIndexArtifact(
        c.filter(col("doc_id") < split), "doc_id", "text", tmp, numHashes = 16)
    }
    assert(e.getMessage.contains("nh=16"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.appendToSignatureIndex(batch3, "doc_id", "text", tmp, fast = true)
    }
    assert(e2.getMessage.contains("xxh64"))
    // the loan-pattern ingest form: same candidates, cache released after
    // (fresh index dir — tmp now also holds the APPENDED batch-2
    // signatures above, and batch/index ids must be disjoint)
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_sigidx_loan")
      .toString + "/idx"
    val loan = Dedup.withIncrementalCandidates(
        c.filter(col("doc_id") >= split), "doc_id", "text",
        Dedup.signatureIndexArtifact(
          c.filter(col("doc_id") < split), "doc_id", "text", tmp2)) {
      _.as[(Long, Long, Double)].collect().toSet
    }
    assert(loan === inc)
  }

  test("batch-id appends are exactly-once under replay and crash-retry") {
    val c = corpus()
    val tmp = tmpDir("graft_sigidx_once") + "/idx"
    Dedup.signatureIndexArtifact(c.filter(col("doc_id") < 50), "doc_id", "text", tmp)
    val batch = c.filter(col("doc_id") >= 50)
    def indexRows() = Dedup.readSignatureIndex(spark, tmp)
      .as[(Long, Int, String)].collect().toSeq.sorted
    Dedup.appendToSignatureIndex(batch, "doc_id", "text", tmp, batchId = 1L)
    val once = indexRows()
    // replayed commit (a foreachBatch restart): identical rows, no doubling
    Dedup.appendToSignatureIndex(batch, "doc_id", "text", tmp, batchId = 1L)
    assert(indexRows() === once,
      "replayed append changed the index — est_jaccard would inflate")
    // crash-retry: a previous attempt moved its files but died before the
    // marker; the uncommitted files must be invisible to serves and the
    // retry must land the batch exactly once
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp, "_graft_batch_1"), false)
    val visible = Dedup.readSignatureIndex(spark, tmp).count()
    assert(visible < once.size, "uncommitted batch files served to readers")
    Dedup.appendToSignatureIndex(batch, "doc_id", "text", tmp, batchId = 1L)
    assert(indexRows() === once)
  }

  test("compaction bounds the file count and preserves candidates exactly") {
    val c = corpus().persist()
    val tmp = tmpDir("graft_sigidx_compact") + "/idx"
    Dedup.signatureIndexArtifact(c.filter(col("doc_id") < 10), "doc_id", "text", tmp)
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath.getName).count(_.endsWith(".parquet"))
    // many small ingests with a low auto-compact threshold: the file count
    // must stay bounded instead of growing one file set per ingest
    (0 until 6).foreach { i =>
      Dedup.appendToSignatureIndex(
        c.filter(col("doc_id") >= 10 + i * 4 && col("doc_id") < 14 + i * 4),
        "doc_id", "text", tmp, batchId = i.toLong, compactAbove = 6)
      assert(dataFiles() <= 14, s"file count ${dataFiles()} after ingest $i")
    }
    val preRows = Dedup.readSignatureIndex(spark, tmp)
      .as[(Long, Int, String)].collect().toSet
    val preCand = Dedup.minhashCandidatesIncremental(
        c.filter(col("doc_id") >= 100), "doc_id", "text",
        Dedup.readSignatureIndex(spark, tmp))
      .as[(Long, Long, Double)].collect().toSet
    Dedup.compactSignatureIndex(spark, tmp, targetFiles = 2)
    assert(dataFiles() <= 2)
    assert(Dedup.readSignatureIndex(spark, tmp)
      .as[(Long, Int, String)].collect().toSet === preRows)
    val postCand = Dedup.minhashCandidatesIncremental(
        c.filter(col("doc_id") >= 100), "doc_id", "text",
        Dedup.readSignatureIndex(spark, tmp))
      .as[(Long, Long, Double)].collect().toSet
    assert(postCand === preCand)
    // batch markers survive compaction: a very late replay is still skipped
    val rows = Dedup.readSignatureIndex(spark, tmp)
      .as[(Long, Int, String)].collect().toSeq.sorted
    Dedup.appendToSignatureIndex(
      c.filter(col("doc_id") >= 10 && col("doc_id") < 14),
      "doc_id", "text", tmp, batchId = 0L)
    assert(Dedup.readSignatureIndex(spark, tmp)
      .as[(Long, Int, String)].collect().toSeq.sorted === rows)
    c.unpersist()
  }

  test("ingestBatch admits exactly once across a simulated restart") {
    val c = corpus()
    val root = tmpDir("graft_ingest")
    val idx = s"$root/idx"; val out = s"$root/admitted"
    // batch 0: base docs 0-29 (bootstrap — dedup within the batch only)
    Dedup.ingestBatch(c.filter(col("doc_id") < 50), 0L, idx, out, 0.5)
    val b0 = spark.read.parquet(s"$out/batch=0").select("doc_id")
      .as[Long].collect().toSet
    assert(b0 === (0L until 30L).toSet) // distinct docs: nothing dropped
    // batch 1: 5 near-dups of indexed docs + 1 exact dup (ids 100-104,
    // 200) + 3 genuinely new docs — only the new docs may be admitted
    val fresh = Seq((300L, doc(60)), (301L, doc(60)), (302L, doc(60)))
      .toDF("doc_id", "text")
    val batch1 = c.filter(col("doc_id") >= 50).unionByName(fresh)
    Dedup.ingestBatch(batch1, 1L, idx, out, 0.5)
    val b1 = spark.read.parquet(s"$out/batch=1").select("doc_id")
      .as[Long].collect().toSet
    assert(b1 === Set(300L, 301L, 302L), s"got $b1")
    val indexAfter = Dedup.readSignatureIndex(spark, idx)
      .as[(Long, Int, String)].collect().toSet
    // simulated restart: foreachBatch replays batch 1 with the same id —
    // admitted output and index must be byte-identical (marker short-circuit)
    Dedup.ingestBatch(batch1, 1L, idx, out, 0.5)
    assert(spark.read.parquet(s"$out/batch=1").select("doc_id")
      .as[Long].collect().toSet === b1)
    assert(Dedup.readSignatureIndex(spark, idx)
      .as[(Long, Int, String)].collect().toSet === indexAfter)
    // crash-retry: marker lost after the index append (crash between the
    // admitted-sink write and the marker) — the retry re-admits the SAME
    // docs and the index still holds each signature exactly once
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx, "_graft_batch_1"), false)
    Dedup.ingestBatch(batch1, 1L, idx, out, 0.5)
    assert(spark.read.parquet(s"$out/batch=1").select("doc_id")
      .as[Long].collect().toSet === b1)
    assert(Dedup.readSignatureIndex(spark, idx)
      .as[(Long, Int, String)].collect().toSet === indexAfter)
    // monotone-id contract: re-ingesting OLD ids as a new batch fails fast
    val e = intercept[IllegalArgumentException] {
      Dedup.ingestBatch(c.filter(col("doc_id") < 30), 2L, idx, out, 0.5)
    }
    assert(e.getMessage.contains("monotone"))
  }

  test("reliable-checkpoint CC matches the localCheckpoint path") {
    // reliable=true swaps localCheckpoint (executor blocks, lost on
    // executor death) for checkpoint() files per generation — the
    // preemptible-cluster mode; identical labels, identical rounds
    val chain = (0L until 31L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds, converged) =
      Dedup.ccWithRounds(chain, maxIter = 15, reliable = true)
    val got = labels.as[(Long, Long)].collect()
    assert(got.length === 32 && got.forall(_._2 === 0L))
    assert(converged && rounds <= 9)
    assert(spark.sparkContext.getCheckpointDir.isDefined)
  }

  test("reliable-checkpoint CC keeps only the final generation's checkpoint files") {
    val chain = (0L until 31L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def rddDirs(): Set[String] = spark.sparkContext.getCheckpointDir.toSeq
      .flatMap(d => Option(new java.io.File(new java.net.URI(d)).listFiles()).toSeq.flatten)
      .map(_.getName).filter(_.startsWith("rdd-")).toSet
    val before = rddDirs()
    val (labels, rounds, converged) =
      Dedup.ccWithRounds(chain, maxIter = 15, reliable = true)
    assert(converged && rounds > 1)
    assert((rddDirs() -- before).size === 1)
    // the surviving files are the ones the labels read
    assert(labels.as[(Long, Long)].collect().forall(_._2 === 0L))
  }

  test("minhashCrossCandidates: planted benchmark paraphrase found, bench broadcast") {
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // one-token edit of the benchmark doc: high Jaccard, must surface
      (100L, "alpha beta gamma delta epsilon zeta eta iota"),
      (101L, "totally unrelated words about something else entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashCrossCandidates(corpus, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.exists { case (c, b, j) => c == 100L && b == 1L && j >= 0.5 })
    assert(!got.exists(_._1 == 101L), "unrelated doc must produce no pair")
    val plan = Dedup.minhashCrossCandidates(corpus, bench, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "benchmark signatures must broadcast\n" + plan.take(1500))
  }

  test("canonicalByScore: argmax wins, ties break by min id, all rows kept") {
    val members = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("id", "rep")
    val attrs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (7L, 5L), (8L, 5L))
      .toDF("doc_id", "score")
    val got = Dedup.canonicalByScore(members, attrs, "doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    // component 1: ids 2 and 3 tie at score 30 -> min id 2 is canonical
    // component 7: ids 7 and 8 tie at score 5 -> 7
    assert(got === Array(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 1L, 2L, false),
      (7L, 7L, 7L, true), (8L, 7L, 7L, false)))
    val plan = Dedup.canonicalByScore(members, attrs, "doc_id", "score")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rank-1 argmax must prune per-partition before the exchange\n" + plan.take(1500))
  }

  test("simhashNearDup: exact dups at hamming 0, banding loses nothing <= bands-1") {
    // 3 exact copies + 1 distinct doc: the copy pairs MUST appear at 0
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "totally different words nothing shared here at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDup(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L, 0L)) && pairs.contains((1L, 3L, 0L)) &&
      pairs.contains((2L, 3L, 0L)), pairs)
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated doc joined a near-dup pair: $pairs")
    // recall identity vs the exact all-pairs scan at the same radius: the
    // pigeonhole guarantee says banding may never MISS a <=3 pair
    val sig = Dedup.simhashMd5(docs, "doc_id", "text", 60)
    val exact = sig.as("a").join(sig.as("b"), $"a.id" < $"b.id")
      .select($"a.id", $"b.id",
        Dedup.hammingDistance($"a.simhash", $"b.simhash").cast("long").as("h"))
      .filter($"h" <= 3).as[(Long, Long, Long)].collect().toSet
    assert(pairs == exact, s"banding missed pairs: ${exact diff pairs}")
    // misconfiguration (radius beyond the band guarantee) fails fast
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDup(docs, "doc_id", "text", bits = 60, bands = 4,
        maxHamming = 4)
    }
  }

  test("q248: repeat profile matches a plain-Scala sliding-window " +
      "re-derivation on raw window STRINGS (no hashing)") {
    // independent path: raw string windows + Scala sets — the gate's
    // md5-hex8 collapse must be collision-free on this corpus for the
    // two to agree, which the assertion also certifies
    val sf = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val widths = Seq(8, 16, 32, 64)
    // (w, window) -> set of docs containing it (distinct per doc)
    val perDocSets: Map[(Long, Int), Set[String]] = (for {
      (id, _, text) <- docs; w <- widths
      toks = text.split(" ", -1)
      if toks.length >= w
    } yield ((id, w), toks.sliding(w).map(_.mkString(" ")).toSet)).toMap
    val df = new scala.collection.mutable.HashMap[(Int, String), Int]()
    for (((_, w), set) <- perDocSets; s <- set)
      df((w, s)) = df.getOrElse((w, s), 0) + 1
    val expected = docs.map { case (id, src, _) =>
      val dupBy = widths.map { w =>
        w -> perDocSets.getOrElse((id, w), Set.empty)
          .count(s => df((w, s)) >= 2) }.toMap
      val maxW = widths.filter(dupBy(_) > 0).sorted.lastOption.getOrElse(0)
      (src, maxW, dupBy(8).toLong, id)
    }.groupBy { case (src, maxW, _, _) => (src, maxW) }
      .map { case ((src, maxW), g) =>
        (src, maxW, g.length.toLong, g.map(_._3).sum, g.map(_._4).sum) }
      .toSet
    val got = graft.queries.DedupQueries.q248RepeatProfile(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1),
        r.getAs[Long]("n_docs"), r.getAs[Long]("dup8_mass"),
        r.getAs[Long]("id_sum"))).toSet
    assert(got === expected)
  }

  test("winnow incremental emissions are recall-preserving, NOT equal to " +
      "the full recompute when a hash crosses maxDf mid-stream") {
    // four IDENTICAL docs → identical fingerprint sets. Batch 0 ingests
    // docs 1,2: every shared hash has cumulative df = 2 = maxDf (not
    // masked) → pair (1,2) is emitted. Batch 1 ingests docs 3,4: df
    // becomes 4 > maxDf, the mask swallows every hash → batch 1 emits
    // NOTHING. Pairs are never retracted, so the union keeps (1,2) —
    // while a from-scratch recompute under the FINAL mask reports no
    // pairs at all. This pins the one-way contract the scaladoc states:
    // union ⊇ full recompute (recall preserved), equality only when no
    // hash crosses maxDf mid-stream.
    val span = (0 until 30).map(i => s"s$i").mkString(" ")
    val all = Seq((1L, span), (2L, span), (3L, span), (4L, span))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_winnow_dfx").toString
    val idx = s"$root/idx"; val cand = s"$root/cand"
    Dedup.winnowIngestBatch(all.filter(col("doc_id") <= 2), 0L, idx, cand,
      maxDf = 2, minShared = 2)
    Dedup.winnowIngestBatch(all.filter(col("doc_id") > 2), 1L, idx, cand,
      maxDf = 2, minShared = 2)
    val union = spark.read.parquet(cand)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(union === Set((1L, 2L)),
      "batch 0 pair kept; batch 1 fully masked must emit nothing")
    // the full recompute under the final mask is EMPTY — strict divergence
    val allFp = Dedup.winnowFingerprints(all, "doc_id", "text")
    val mask = allFp.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 2).select(col("h"))
    val full = allFp.join(mask, Seq("h"), "left_anti")
      .select(col("h"), col("id").as("id_a"))
      .join(allFp.join(mask, Seq("h"), "left_anti")
        .select(col("h"), col("id").as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(full.isEmpty, "every hash crossed maxDf: final-mask report empty")
    assert(full.subsetOf(union), "recall preservation: union ⊇ full")
  }

  test("withWinnowCandidates releases the batch fingerprint cache") {
    // the loan-pattern twin: candidates match the direct form, and the
    // per-batch persist is gone once the loan returns (the long-lived
    // ingest-loop contract)
    val span = (0 until 30).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, span), (2L, span)).toDF("doc_id", "text")
    val emptyIdx = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.LongType))))
    val sc = spark.sparkContext
    val before = Bridge.rddsWithBlocks(sc)
    val got = Dedup.withWinnowCandidates(docs, "doc_id", "text", emptyIdx)(
      _.as[(Long, Long, Long)].collect().toSet)
    assert(got.map(t => (t._1, t._2)) === Set((1L, 2L)))
    // the loan's unpersist is non-blocking: its blocks go shortly after
    eventually(timeout(Span(15, Seconds))) {
      val leaked = Bridge.rddsWithBlocks(sc) -- before
      assert(leaked.isEmpty,
        s"loan must unpersist its fingerprint cache, leaked ids: $leaked")
    }
  }

  test("compactWinnowIndex: over-df hashes tombstone to one row — " +
      "candidates identical, index strictly smaller, df mask preserved") {
    // boiler appears in 4 docs (df > maxDf=3 → masked, the GC target);
    // rare appears in 2 (df 2 ≤ maxDf → live, must survive GC untouched)
    val boiler = (0 until 30).map(i => s"gb$i").mkString(" ")
    val rare = (0 until 30).map(i => s"gr$i").mkString(" ")
    def filler(tag: String) = (0 until 20).map(i => s"$tag$i").mkString(" ")
    val batch0 = Seq(
      (1L, s"$boiler $rare"),
      (2L, s"$boiler $rare ${filler("gx")}"),
      (3L, s"$boiler ${filler("gy")}"),
      (4L, s"$boiler ${filler("gz")}")).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_winnow_gc").toString
    val idx = s"$root/idx"; val cand = s"$root/cand"
    Dedup.winnowIngestBatch(batch0, 0L, idx, cand, maxDf = 3, minShared = 2)
    // freeze the PRE-GC index locally (compaction replaces the files)
    val preRows = Dedup.readWinnowIndex(spark, idx)
      .select("id", "h").as[(Long, Long)].collect().toSeq
    val preIdx = preRows.toDF("id", "h")
    val probe = Seq((10L, s"$boiler $rare ${filler("gw")}"))
      .toDF("doc_id", "text")
    val candPre = Dedup.winnowCandidatesIncremental(probe, "doc_id", "text",
      preIdx, maxDf = 3, minShared = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    Dedup.compactWinnowIndex(spark, idx, maxDf = 3)
    val postIdx = Dedup.readWinnowIndex(spark, idx)
    val postRows = postIdx.select("id", "h").as[(Long, Long)].collect().toSeq
    // strictly smaller: each over-df hash had 3-4 rows, now exactly one
    assert(postRows.size < preRows.size,
      s"GC must shrink the index: ${preRows.size} -> ${postRows.size}")
    // tombstones encode the absorbed df EXACTLY (lossless mask)
    val preDf = preRows.groupBy(_._2).view.mapValues(_.size).toMap
    val tombs = postRows.filter(_._1 < 0)
    assert(tombs.nonEmpty, "over-df hashes must leave tombstones")
    tombs.foreach { case (negDf, h) =>
      assert(-negDf === preDf(h), s"tombstone for $h encodes ${-negDf}, " +
        s"pre-GC df was ${preDf(h)}") }
    // under-df rows survive verbatim; no over-df posting row remains
    val overH = preDf.filter(_._2 > 3).keySet
    assert(postRows.filter(_._1 >= 0).forall(r => !overH.contains(r._2)),
      "no posting row of a masked hash may survive GC")
    assert(postRows.filter(_._1 >= 0).toSet === preRows.filter(
      r => !overH.contains(r._2)).toSet, "live rows must survive unchanged")
    // serve equivalence: the probe batch emits IDENTICAL candidates
    // against the GC'd index (rare-span pairs live, boiler masked — now
    // via the tombstone's encoded df instead of its rows)
    val candPost = Dedup.winnowCandidatesIncremental(probe, "doc_id", "text",
      postIdx, maxDf = 3, minShared = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(candPost === candPre, s"GC changed candidates: pre=$candPre post=$candPost")
    assert(candPre.contains((1L, 10L)) && candPre.contains((2L, 10L)),
      "rare-span pairs must exist for the equality to be a real check")
    assert(candPost.forall(p => p._1 >= 0 && p._2 >= 0),
      "tombstone ids must never surface as candidate endpoints")
    // and the ingest loop keeps running on the compacted index
    Dedup.winnowIngestBatch(probe, 1L, idx, cand, maxDf = 3, minShared = 2)
    val emitted = spark.read.parquet(s"$cand/batch=1")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(emitted === candPre)
  }
}
