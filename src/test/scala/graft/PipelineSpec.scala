package graft

import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** LLM-pipeline operators: dedup family, similarity search, text
  * analysis, multimodal plumbing. Planted duplicates/neighbors prove
  * the operators find what they should and nothing else. */
class PipelineSpec extends AnyFlatSpec with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about spark query engines and columnar execution"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "unrelated short text")
  ).toDF("doc_id", "text")

  "exact dedup" should "keep one row per key with the smallest tiebreak" in {
    val withFp = docs.select(TextAnalysis.fingerprint(col("text")).as("fp"), col("doc_id"))
    val out = Dedup.exact(withFp, "fp", "doc_id")
    out.count() shouldBe 4 // 1 and 4 collapse
    out.filter(col("doc_id") === 4).count() shouldBe 0
    out.filter(col("doc_id") === 1).count() shouldBe 1
  }

  "paragraph dedup" should "keep each paragraph once at its first (id, pos) occurrence" in {
    val in = Seq(
      (1L, "alpha\n\nCOMMON\n\nalpha"),  // self-dup: 2nd alpha drops
      (2L, "beta\n\nCOMMON"),            // COMMON lost to doc 1
      (3L, "COMMON\n\n\n\ngamma\n\n  "), // blank/ws-only paras dropped
      (4L, "COMMON")                     // everything dup → empty text
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(in, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out shouldBe Map(
      1L -> "alpha\n\nCOMMON",
      2L -> "beta",
      3L -> "gamma",
      4L -> "")
    // column order and non-text columns preserved
    val withExtra = in.withColumn("lang", lit("en"))
    val cols = Dedup.dedupParagraphs(withExtra, "doc_id", "text").columns
    cols.toSeq shouldBe Seq("doc_id", "text", "lang")
    // deterministic under repartitioning
    Dedup.dedupParagraphs(in.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap shouldBe out
  }

  it should "match an independent driver-side replay on random corpora" in {
    // seeded differential over the rewritten int-only-shuffle shape:
    // random docs from a dup-forcing pool (unicode, single-\n-inside
    // paragraphs, whitespace-only entries, empty docs), replayed by a
    // plain-Scala first-occurrence implementation that shares NO code
    // with the operator. -Dgraft.fuzz.seed explores new corpora.
    val seed = sys.props.get("graft.fuzz.seed").map(_.toInt).getOrElse(11)
    val rnd = new scala.util.Random(seed)
    val pool = Seq("alpha", "béta gamma", "line one\nline two", "  ",
      "δelta", "x" * 30, "tab\there", "", "shared footer", "0") ++
      (0 until 8).map(i => s"pool item $i")
    def doc(): String =
      (0 until rnd.nextInt(6)).map(_ => pool(rnd.nextInt(pool.size)))
        .mkString("\n\n")
    val docs = (1L to 80L).map(i => (i, doc()))
    val df = docs.toDF("doc_id", "text")

    // independent replay: Spark's split keeps trailing empties
    // (limit -1), so the replay must too for positions to align
    val re = java.util.regex.Pattern.compile("\n{2,}")
    val seen = scala.collection.mutable.Set.empty[String]
    val expected = docs.map { case (id, text) =>
      val parts = re.split(text, -1)
      val kept = parts.filter { p =>
        p.trim.nonEmpty && seen.add(p) // first corpus-wide occurrence
      }
      id -> kept.mkString("\n\n")
    }.toMap
    val got = Dedup.dedupParagraphs(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    withClue(s"seed=$seed: ") { got shouldBe expected }
    // non-trivial: the pool guarantees real suppressions happened
    withClue(s"seed=$seed suppressed nothing: ") {
      got.values.map(_.length).sum should be <
        docs.map(_._2.length).sum
    }

    // incremental form: first 20 docs are the corpus, rest the batch
    val (corpusDocs, batchDocs) = docs.splitAt(20)
    val corpusParas = scala.collection.mutable.Set.empty[String]
    corpusDocs.foreach { case (_, t) =>
      re.split(t, -1).filter(_.trim.nonEmpty).foreach(corpusParas.add)
    }
    val seenB = scala.collection.mutable.Set.empty[String]
    val expectedB = batchDocs.map { case (id, text) =>
      id -> re.split(text, -1).filter(p => p.trim.nonEmpty &&
        !corpusParas.contains(p) && seenB.add(p)).mkString("\n\n")
    }.toMap
    val fps = Dedup.paragraphFpTable(corpusDocs.toDF("doc_id", "text"), "text")
    val gotB = Dedup.dedupParagraphsAgainst(
      fps, batchDocs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    withClue(s"seed=$seed incremental: ") { gotB shouldBe expectedB }
  }

  "incremental paragraph dedup" should
    "dedup a batch against the corpus fp table and within itself" in {
    val corpus = Seq((1L, "old\n\nCOMMON")).toDF("doc_id", "text")
    val fps = Dedup.paragraphFpTable(corpus, "text")
    val batch = Seq(
      (10L, "fresh\n\nCOMMON"),       // COMMON already in the corpus
      (11L, "fresh\n\nnewer")         // fresh lost to doc 10
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphsAgainst(fps, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out shouldBe Map(10L -> "fresh", 11L -> "newer")
    // rolling the state forward makes a re-submitted batch fully dup
    val fps2 = fps.union(Dedup.paragraphFpTable(batch, "text")).distinct()
    Dedup.dedupParagraphsAgainst(fps2, batch, "doc_id", "text")
      .collect().map(_.getString(1)).toSet shouldBe Set("")
    // and batch-vs-empty-corpus equals plain dedupParagraphs
    val empty = fps.limit(0)
    Dedup.dedupParagraphsAgainst(empty, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap shouldBe
      Dedup.dedupParagraphs(batch, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  "MinHash-LSH" should "surface planted near-duplicates and skip dissimilar pairs" in {
    val cands = Dedup.minHashCandidates(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    cands should contain((1L, 2L)) // near-dup
    cands should contain((1L, 4L)) // exact dup
    cands should not contain ((1L, 3L))
    cands should not contain ((3L, 5L))
  }

  "portable MinHash-LSH" should "find the same planted pairs with replayable hashes" in {
    val cands = Dedup.portableMinHashCandidates(docs, "doc_id", "text",
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    cands should contain((1L, 2L))
    cands should contain((1L, 4L))
    cands should not contain ((1L, 3L))
  }

  it should "match an independent reimplementation of the hash family" in {
    import graft.functions.TextHashExprs
    // expected values computed OUTSIDE the expression under test:
    // md5-prefix shingle hashes and (a*x + b) mod 2^61-1 mins in plain
    // Scala, guarding the constants and formula wiring end to end
    val text = "alpha beta gamma delta beta gamma"
    val toks = text.split(" ").toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(s: String): Long = {
      md.reset()
      val d = md.digest(s.getBytes("UTF-8"))
      ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    }
    val shingleHashes = toks.sliding(3).map(_.mkString(" ")).map(h32).toSeq.distinct
    val (as, bs) = TextHashExprs.portableCoeffs(8)
    val expected = (0 until 8).map { i =>
      shingleHashes.map(x => (as(i) * x + bs(i)) % TextHashExprs.PortableMod).min
    }
    val row = Seq(Tuple1(text)).toDF("text")
      .select(TextHashExprs.portableMinHashCol(
        TextHashExprs.portableFingerprintsCol(
          Dedup.tokens(col("text")), 3, Int.MaxValue), 8).as("mh"))
      .head()
    row.getSeq[Long](0) shouldBe expected
    // coefficient bounds guarantee no ANSI overflow: a < 2^30, b < 2^32
    val (aAll, bAll) = TextHashExprs.portableCoeffs(256)
    all(aAll) should (be >= 1L and be < (1L << 30))
    all(bAll) should (be >= 0L and be < (1L << 32))
  }

  it should "compute exact n-gram Jaccard on verified pairs" in {
    val j = Dedup.minHashCandidates(docs, "doc_id", "text", threshold = 0.1)
      .filter(col("idA") === 1 && col("idB") === 4)
      .select("jaccard").head().getDouble(0)
    j shouldBe 1.0 +- 1e-9
  }

  it should "share a byte-identical hash-family CTE prefix between the all-pairs and incremental oracles" in {
    // the all-pairs oracle is built on the incremental oracle's shared
    // CTE helper, so the portable hash-family SQL exists once
    val allPairs = SparkEntry.oracleSql("q_dedup_minhash_portable")
    val incr = SparkEntry.oracleSql("q_dedup_incr_portable")
    // both open with WITH <shared CTEs>, and the shared prefix runs
    // through the end of the `bands` CTE — the whole hash family
    val bandsEnd = "GROUP BY doc_id, i // "
    val cut = allPairs.indexOf(bandsEnd)
    cut should be > 0
    val prefixEnd = allPairs.indexOf(")", cut)
    val prefix = allPairs.substring(0, prefixEnd + 1)
    incr should startWith(prefix)
    // and the family appears exactly once per oracle (no duplicated body)
    allPairs.sliding("mh AS (".length).count(_ == "mh AS (") shouldBe 1
    incr.sliding("mh AS (".length).count(_ == "mh AS (") shouldBe 1
  }

  "incremental dedup" should "find cross-batch near-dups against a signed corpus only" in {
    // corpus: docs 1-3; new batch: 10 (near-dup of 1), 11 (unrelated).
    // Within-corpus and within-batch pairs must NOT be reported.
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (3L, "completely different content about spark query engines and columnar execution"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (11L, "yet another unrelated snippet of text mentioning nothing in common at all"))
      .toDF("doc_id", "text")
    val corpusSigs = Dedup.minHashSignTable(corpus, "doc_id", "text")
    val batchSigs = Dedup.minHashSignTable(batch, "doc_id", "text")
    val pairs = Dedup.minHashCandidatesAgainst(batchSigs, corpusSigs,
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((10L, 1L))
    pairs should contain((10L, 2L))
    pairs.foreach { case (n, c) =>
      n should be >= 10L // left side is always the batch
      c should be <= 3L  // right side is always the corpus
    }
    pairs.exists(_._1 == 11L) shouldBe false
    // signature tables round-trip through parquet (the persisted-corpus path)
    val dir = java.nio.file.Files.createTempDirectory("graft-sigs").toString
    corpusSigs.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    Dedup.minHashCandidatesAgainst(batchSigs, reloaded, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe pairs
  }

  it should "find cross-batch SimHash pairs within the Hamming radius" in {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (3L, "completely different content about spark query engines and columnar execution"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "yet another unrelated snippet of text mentioning nothing in common at all"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashCandidatesAgainstSigs(
      Dedup.simHashSignTable(batch, "doc_id", "text"),
      Dedup.simHashSignTable(corpus, "doc_id", "text"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((10L, 1L)) // identical text → hamming 0
    pairs.exists(p => p._1 == 10L && p._2 == 3L) shouldBe false
  }

  "bucket-population caps" should "drop mega-buckets instead of going quadratic" in {
    // 300 identical docs = one hot bucket in EVERY band → cap² pairs
    // without the guard; with it the mega-cluster drops out of
    // candidate generation (exact dedup owns identical docs) while
    // ordinary near-dups elsewhere still surface
    val flood = (100L until 400L).map(i =>
      (i, "the same exact flooded document text repeated verbatim across the corpus"))
    val df = (flood ++ Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight")))
      .toDF("doc_id", "text")
    val cands = Dedup.minHashCandidates(df, "doc_id", "text",
      threshold = 0.5, maxBucketSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    cands should contain((1L, 2L))
    cands.count { case (a, b) => a >= 100L && b >= 100L } shouldBe 0
    // embedding variant: same guard on the RHP bucket
    val vecs = ((100L until 400L).map(i => (i, Array(1f, 0f, 0f, 0f))) ++ Seq(
      (1L, Array(0f, 1f, 0f, 0.01f)), (2L, Array(0f, 1f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val epairs = Dedup.embeddingCandidates(vecs, "vec_id", "embedding",
      dim = 4, numPlanes = 6, threshold = 0.9, maxBucketSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    epairs should contain((1L, 2L))
    epairs.count { case (a, b) => a >= 100L && b >= 100L } shouldBe 0
  }

  "portable SimHash" should "pair identical text at distance 0 and match an independent reimplementation" in {
    val cands = Dedup.portableSimHashCandidates(docs, "doc_id", "text",
      maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    cands.find(c => c._1 == 1L && c._2 == 4L).map(_._3) shouldBe Some(0L)
    cands.map(c => (c._1, c._2)) should contain((1L, 2L))
    // expected signature computed OUTSIDE the expression under test:
    // md5 first-8-byte token hashes and bit votes in plain Scala
    val text = "alpha beta gamma beta"
    val md = java.security.MessageDigest.getInstance("MD5")
    def h64(s: String): Long = {
      md.reset()
      md.digest(s.getBytes("UTF-8")).take(8)
        .foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xFFL))
    }
    val votes = new Array[Int](64)
    text.split(" ").foreach { t =>
      val h = h64(t)
      (0 until 64).foreach(b => votes(b) += (((h >>> b).toInt & 1) * 2) - 1)
    }
    val expected = (0 until 64)
      .foldLeft(0L)((acc, b) => if (votes(b) > 0) acc | (1L << b) else acc)
    import spark.implicits._
    Seq(Tuple1(text)).toDF("text")
      .select(graft.functions.TextHashExprs.portableSimHashCol(
        Dedup.tokens(col("text"))).as("sig"))
      .head().getLong(0) shouldBe expected
  }

  "SimHash" should "give distance 0 for identical text and find near-dups" in {
    val sigs = docs.select(col("doc_id"), Dedup.simHash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sigs(1L) shouldBe sigs(4L)
    val cands = Dedup.simHashCandidates(docs, "doc_id", "text", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    cands should contain((1L, 4L))
    cands should contain((1L, 2L))
  }

  it should "not explode candidates when all signatures share one chunk (adversarial skew)" in {
    // 20,000 signatures agreeing on their low chunk but random
    // elsewhere: single-chunk banding puts ALL of them in one bucket
    // (≈200M candidate pairs — the quadratic cliff); combination keys
    // require a SECOND matching chunk, so the join must stay sparse.
    val n = 20000
    val rnd = new scala.util.Random(11)
    val sharedLow = 0x1ABCL // bits [0,13) shared (chunk 0 when m=5)
    val sigs = (0 until n).map { i =>
      (i.toLong, (rnd.nextLong() << 13) | sharedLow)
    }.toDF("id", "sig")
    val t0 = System.nanoTime()
    val cnt = Dedup.simHashCandidatesFromSigs(sigs, maxHamming = 3).count()
    val secs = (System.nanoTime() - t0) / 1e9
    // random high bits at Hamming<=3 are essentially impossible to pair
    cnt should be < 50L
    secs should be < 60.0
  }

  it should "still find every pair within the radius (recall guarantee)" in {
    // planted neighbors at exactly maxHamming distance, dirtying
    // DIFFERENT chunks — the pigeonhole-combination key must catch all
    val base = 0x0F0F0F0F0F0F0F0FL
    val sigs = Seq(
      (1L, base),
      (2L, base ^ 7L),                        // 3 bits, all in chunk 0
      (3L, base ^ (1L << 5) ^ (1L << 20) ^ (1L << 60)), // spread across 3 chunks
      (4L, ~base)                             // far away
    ).toDF("id", "sig")
    val pairs = Dedup.simHashCandidatesFromSigs(sigs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
    pairs should contain((1L, 3L))
    pairs.exists(p => p._1 == 4L || p._2 == 4L) shouldBe false
  }

  private lazy val vecs: DataFrame = {
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.99f, 0.1f, 0f, 0f)), // near 0
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(-1f, 0f, 0f, 0f)),
      (4L, Array(0.9f, 0.3f, 0.2f, 0.1f))
    )
    rows.toDF("vec_id", "embedding")
  }

  "similarity search" should "rank exact cosine top-k correctly" in {
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0, 0.0), 3).collect()
    top.map(_.getLong(0)).toSeq shouldBe Seq(0L, 1L, 4L)
    top.head.getDouble(1) shouldBe 1.0 +- 1e-9
  }

  it should "return a subset consistent with brute force from the LSH path" in {
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0, 0.0), 3).collect().map(_.getLong(0)).toSet
    val approx = Similarity.lshTopK(vecs, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0, 0.0), 3, numPlanes = 4).collect().map(_.getLong(0)).toSet
    approx.subsetOf(brute ++ Set(2L, 3L)) shouldBe true
    approx should contain(0L) // the query vector itself always survives
  }

  "persisted ANN index" should "prune to probed bucket partitions and agree with brute force" in {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann").toString + "/idx"
    Similarity.buildIndex(vecs, "vec_id", "embedding", dir, dim = 4, numPlanes = 4)
    val res = Similarity.queryIndex(spark, dir, Seq(1.0, 0.0, 0.0, 0.0), 3)
    // candidates come only from the probe ring; ranking among them is exact
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0, 0.0), 3).collect().map(_.getLong(0)).toSet
    val ids = res.collect().map(_.getLong(0)).toSet
    ids should contain(0L)
    ids.subsetOf(brute ++ Set(2L, 3L)) shouldBe true
    // the scan must be partition-pruned to the 5 probed buckets — the
    // whole point of the persisted index (no full-table signature
    // recompute per query)
    val scan = res.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    scan.partitionFilters should not be empty
    scan.partitionFilters.mkString should include("bucket")
    scan.selectedPartitions.partitionCount should be <= 5 // qSig + 4 radius-1 probes
  }

  "IVF index" should "recover the planted clusters and prune to nprobe partitions" in {
    import graft.pipeline.Ivf
    // three orthogonal clusters with small in-cluster jitter
    val rnd = new scala.util.Random(3)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)
    val rows = (0 until 30).map { i =>
      val base = (i % 3) match {
        case 0 => Array(1f, 0f, 0f, 0f)
        case 1 => Array(0f, 1f, 0f, 0f)
        case 2 => Array(0f, 0f, 1f, 0f)
      }
      (i.toLong, jitter(base))
    }
    val df = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    Ivf.buildIndex(df, "vec_id", "embedding", dir, k = 3, iters = 4)
    val res = Ivf.queryIndex(spark, dir, Seq(1.0, 0.0, 0.0, 0.0), 5, nprobe = 1)
    val got = res.collect().map(_.getLong(0)).toSet
    // nprobe=1 must land in the x-axis cluster: ids ≡ 0 (mod 3)
    got.foreach(id => (id % 3) shouldBe 0L)
    // and within the probed cluster the ranking is exact = brute force
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0, 0.0), 5).collect().map(_.getLong(0)).toSet
    got shouldBe brute
    val scan = res.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    scan.partitionFilters.mkString should include("cid")
    scan.selectedPartitions.partitionCount shouldBe 1
  }

  it should "train on a deterministic sample when the corpus exceeds the cap" in {
    import graft.pipeline.Ivf
    val rnd = new scala.util.Random(5)
    val rows = (0 until 300).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f) else Array(0f, 1f)
      (i.toLong, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfs").toString + "/idx"
    // cap of 50 forces the sampled-training path on the 300-row corpus
    Ivf.buildIndex(df, "vec_id", "embedding", dir, k = 2, iters = 4,
      trainSample = 50L)
    // sampled centroids must still separate the two planted clusters,
    // and assignment covers EVERY vector despite sampled training
    val res = Ivf.queryIndex(spark, dir, Seq(1.0, 0.0), 4, nprobe = 1)
    res.collect().map(_.getLong(0)).foreach(id => (id % 2) shouldBe 0L)
    spark.read.parquet(dir).count() shouldBe 300
  }

  it should "survive duplicate-heavy corpora and trainSample <= 0" in {
    import graft.pipeline.Ivf
    // one distinct vector duplicated 300x: the value-hash sample keeps
    // it as a block or drops it entirely — the empty-sample fallback
    // must train on the full corpus rather than crash
    val dup = (0 until 300).map(i => (i.toLong, Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val d1 = java.nio.file.Files.createTempDirectory("graft-ivfd").toString + "/idx"
    Ivf.buildIndex(dup, "vec_id", "embedding", d1, k = 1, iters = 2,
      trainSample = 100L)
    spark.read.parquet(d1).count() shouldBe 300
    // trainSample <= 0 disables sampling (same convention as the caps)
    val d2 = java.nio.file.Files.createTempDirectory("graft-ivfd0").toString + "/idx"
    Ivf.buildIndex(dup, "vec_id", "embedding", d2, k = 1, iters = 1,
      trainSample = 0L)
    spark.read.parquet(d2).count() shouldBe 300
  }

  it should "reject a query of mismatched dimensionality" in {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann2").toString + "/idx"
    Similarity.buildIndex(vecs, "vec_id", "embedding", dir, dim = 4, numPlanes = 4)
    an[IllegalArgumentException] should be thrownBy
      Similarity.queryIndex(spark, dir, Seq(1.0, 0.0), 3)
  }

  "embedding dedup" should "find high-cosine pairs via RHP buckets" in {
    val pairs = Dedup.embeddingCandidates(vecs, "vec_id", "embedding",
      dim = 4, numPlanes = 6, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((0L, 1L))
    pairs should not contain ((0L, 3L))
  }

  "zero-norm embeddings" should "never rank as top matches (no NaN leak)" in {
    val withZero = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0f, 0f, 0f, 0f)) // zero vector → cosine undefined
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(withZero, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0, 0.0), 2).collect().map(_.getLong(0)).toSeq
    top shouldBe Seq(0L, 1L) // zero vector excluded, not first
    val pairs = Dedup.embeddingCandidates(withZero, "vec_id", "embedding",
      dim = 4, numPlanes = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs.exists(p => p._1 == 2L || p._2 == 2L) shouldBe false
  }

  "SimHash over NULL-text documents" should "keep them with signature 0" in {
    val rows = Seq[(Long, String)]((1L, null), (2L, null), (3L, "real content"))
      .toDF("doc_id", "text")
    val cands = Dedup.simHashCandidates(rows, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    cands should contain((1L, 2L)) // both signature 0, paired not dropped
  }

  "SimHash over empty documents" should "pair them instead of dropping them" in {
    val withEmpty = Seq(
      (1L, "   "), (2L, ""), (3L, "real content here")
    ).toDF("doc_id", "text")
    val cands = Dedup.simHashCandidates(withEmpty, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    cands should contain((1L, 2L)) // both sig 0
  }

  "text analysis" should "compute token counts, ratios and language id" in {
    val df = Seq((1L, "The quick brown fox and the dog")).toDF("id", "text")
      .select(
        TextAnalysis.tokenCount(col("text")).as("n"),
        TextAnalysis.bpeishTokenCount(col("text")).as("nb"),
        TextAnalysis.stopwordRatio(col("text")).as("sr"),
        TextAnalysis.avgWordLen(col("text")).as("awl"),
        TextAnalysis.langId(col("text")).as("lang"))
    val r = df.head()
    r.getLong(0) shouldBe 7
    r.getLong(1) shouldBe 7
    r.getDouble(2) shouldBe (3.0 / 7) +- 1e-9 // the, and, the
    r.getDouble(3) shouldBe (25.0 / 7) +- 1e-9
    r.getString(4) shouldBe "en"
  }

  it should "produce stable rolling fingerprints that overlap for shared runs" in {
    val df = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k l m n"), // shares 8-token runs with 1
      (3L, "z y x w v u t s r q p o")
    ).toDF("id", "text")
      .select(col("id"),
        TextAnalysis.rollingFingerprints(col("text")).as("fps"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    fps(1L).intersect(fps(2L)) should not be empty
    fps(1L).intersect(fps(3L)) shouldBe empty
  }

  it should "keep DISTINCT window hashes in the portable fingerprints too" in {
    // the same 8-token window repeated: both forms must dedup, so the
    // kept fingerprints cover more than the boilerplate run
    val boiler = "a b c d e f g h"
    val df = Seq((1L, s"$boiler $boiler $boiler x y z w q r s t"))
      .toDF("id", "text")
      .select(
        TextAnalysis.rollingFingerprints(col("text")).as("native"),
        TextAnalysis.portableRollingFingerprints(col("text")).as("portable"))
    val r = df.head()
    val native = r.getSeq[Long](0); val portable = r.getSeq[Long](1)
    native.distinct should have size native.size
    portable.distinct should have size portable.size // no repeated hash kept
  }

  "multimodal plumbing" should "extract fixed-width features and drop payload bytes" in {
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "image", "imagebytes".getBytes, Row(4, 4, null, "raw")),
        Row(2L, "audio", "audiobytes".getBytes, Row(null, null, 16000, "pcm")),
        Row(3L, "video", "videobytes".getBytes, Row(8, 8, null, "raw"))),
      Multimodal.mediaSchema)
    val feats = Multimodal.extractFeatures(media)
    feats.columns should contain("features")
    feats.columns should not contain "bytes"
    feats.count() shouldBe 3
    val f = feats.filter(col("media_id") === 1).select("features")
      .head().getSeq[Float](0)
    f should have size Multimodal.StubCodec.featureDim
    // deterministic: same payload → same features
    f shouldBe Multimodal.StubCodec.features("imagebytes".getBytes).toSeq
  }

  it should "explode sampled frames for video rows only" in {
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "image", "x".getBytes, Row(4, 4, null, "raw")),
        Row(2L, "video", "y".getBytes, Row(8, 8, null, "raw"))),
      Multimodal.mediaSchema)
    val frames = Multimodal.sampleFrames(media, 4)
    frames.filter(col("kind") === "video").count() shouldBe 4
    frames.filter(col("kind") === "image").count() shouldBe 1
  }

  it should "rewrite resize metadata" in {
    val media = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "image", "x".getBytes, Row(4, 4, null, "raw"))),
      Multimodal.mediaSchema)
    val r = Multimodal.resize(media, 224, 224).select("meta.width", "meta.height").head()
    (r.getInt(0), r.getInt(1)) shouldBe ((224, 224))
  }

  it should "leave the process-global ImageIO stream cache off after any codec touch" in {
    // both ImageIO-touching codecs run the shared Multimodal init in
    // their own initializer, so neither depends on the other being
    // loaded first
    graft.pipeline.Multimodal.VideoCodec.featureDim shouldBe 8
    javax.imageio.ImageIO.getUseCache shouldBe false
    graft.pipeline.Multimodal.ImageCodec.featureDim shouldBe 8
    javax.imageio.ImageIO.getUseCache shouldBe false
  }

  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    Multimodal.ImageCodec.encodePng(img)
  }

  it should "compute REAL pixel features for decodable images" in {
    val white = pngBytes(16, 16, 0xFFFFFF)
    val black = pngBytes(16, 16, 0x000000)
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "image", white, Row(16, 16, null, "png")),
        Row(2L, "image", black, Row(16, 16, null, "png")),
        Row(3L, "audio", "noise".getBytes, Row(null, null, 16000, "pcm"))),
      Multimodal.mediaSchema)
    val byId = Multimodal.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> r.getAs[Seq[Float]]("features")).toMap
    // luminance quadrants: white ≈ 1.0, black ≈ 0.0 — content-derived,
    // not hash-derived
    byId(1L).take(4).foreach(_ shouldBe 1.0f +- 0.01f)
    byId(2L).take(4).foreach(_ shouldBe 0.0f +- 0.01f)
    byId(1L)(7) shouldBe 1.0f +- 0.001f // aspect ratio
    // the audio row still uses the stub contract
    byId(3L) shouldBe Multimodal.StubCodec.features("noise".getBytes).toSeq
  }

  private def patternPng(size: Int, seed: Int): Array[Byte] =
    Multimodal.syntheticImagePng(size, seed)

  "image perceptual dedup" should
    "pair rescaled copies by dHash and skip different images" in {
    val a64 = patternPng(64, seed = 1)
    val a32 = patternPng(32, seed = 1) // same pattern, half resolution
    val b64 = patternPng(64, seed = 9) // different content
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "image", a64, Row(64, 64, null, "png")),
        Row(2L, "image", a32, Row(32, 32, null, "png")),
        Row(3L, "image", b64, Row(64, 64, null, "png")),
        Row(4L, "image", "notanimage".getBytes, Row(null, null, null, "raw")),
        Row(5L, "audio", "noise".getBytes, Row(null, null, 16000, "pcm"))),
      Multimodal.mediaSchema)
    val hashes = Multimodal.imageDHash(media).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(r.length - 1)) None else Some(r.getLong(r.length - 1))))
      .toMap
    // undecodable and non-image rows carry NO perceptual key
    hashes(4L) shouldBe None
    hashes(5L) shouldBe None
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    // rescaled copy lands within a few bits; different content far out
    ham(hashes(1L).get, hashes(2L).get) should be <= 6
    ham(hashes(1L).get, hashes(3L).get) should be > 10
    // the banded candidate join surfaces exactly the rescaled pair
    val pairs = Multimodal.imageNearDupCandidates(media)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((1L, 2L))
    // bytes never survive the signing pass
    Multimodal.imageDHash(media).columns should not contain "bytes"
  }

  "audio perceptual dedup" should
    "pair resampled copies by envelope dHash and skip different clips" in {
    val a16 = Multimodal.syntheticWavPcm(seed = 1, rate = 16000f)
    val a8 = Multimodal.syntheticWavPcm(seed = 1, rate = 8000f) // resampled copy
    val b16 = Multimodal.syntheticWavPcm(seed = 9, rate = 16000f)
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "audio", a16, Row(null, null, 16000, "wav")),
        Row(2L, "audio", a8, Row(null, null, 8000, "wav")),
        Row(3L, "audio", b16, Row(null, null, 16000, "wav")),
        Row(4L, "audio", "notaudio".getBytes, Row(null, null, null, "raw")),
        Row(5L, "image", "notanimage".getBytes, Row(null, null, null, "raw"))),
      Multimodal.mediaSchema)
    val hashes = Multimodal.audioDHash(media).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(r.length - 1)) None else Some(r.getLong(r.length - 1))))
      .toMap
    hashes(4L) shouldBe None // undecodable
    hashes(5L) shouldBe None // wrong kind
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    ham(hashes(1L).get, hashes(2L).get) should be <= 6
    ham(hashes(1L).get, hashes(3L).get) should be > 10
    // volume scaling is invisible to the comparative envelope bits:
    // decode, halve, re-hash → identical signature
    val (samples, _) = Multimodal.AudioCodec.decode(a16).get
    Multimodal.AudioCodec.dHash(samples.map(_ * 0.5)).get shouldBe hashes(1L).get
    val pairs = Multimodal.audioNearDupCandidates(media)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((1L, 2L))
  }

  "video perceptual dedup" should
    "pair frame-duplicated copies by clip dHash and skip different clips" in {
    val a1 = Multimodal.syntheticMjpegAvi(seed = 1, repeat = 1)
    val a2 = Multimodal.syntheticMjpegAvi(seed = 1, repeat = 2) // 2x frame rate
    val b1 = Multimodal.syntheticMjpegAvi(seed = 9, repeat = 1)
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "video", a1, Row(48, 48, null, "avi")),
        Row(2L, "video", a2, Row(48, 48, null, "avi")),
        Row(3L, "video", b1, Row(48, 48, null, "avi")),
        Row(4L, "video", "notavideo".getBytes, Row(null, null, null, "raw")),
        Row(5L, "image", "x".getBytes, Row(null, null, null, "raw"))),
      Multimodal.mediaSchema)
    val hashes = Multimodal.videoDHash(media).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(r.length - 1)) None else Some(r.getLong(r.length - 1))))
      .toMap
    hashes(4L) shouldBe None
    hashes(5L) shouldBe None
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    // mean grid of {a,a,b,b,...} equals {a,b,...} — only JPEG noise left
    ham(hashes(1L).get, hashes(2L).get) should be <= 6
    ham(hashes(1L).get, hashes(3L).get) should be > 10
    Multimodal.videoNearDupCandidates(media)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((1L, 2L))
  }

  "media dedup clustering" should
    "compose perceptual pairs with connected components unchanged" in {
    // the full media-dedup chain is pure composition: banded
    // perceptual pairs feed the SAME generic connected-components
    // the text dedups use — three rescaled copies of one image
    // collapse to one cluster, the distinct image stays a singleton
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "image", Multimodal.syntheticImagePng(64, 1), Row(64, 64, null, "png")),
        Row(2L, "image", Multimodal.syntheticImagePng(48, 1), Row(48, 48, null, "png")),
        Row(3L, "image", Multimodal.syntheticImagePng(32, 1), Row(32, 32, null, "png")),
        Row(4L, "image", Multimodal.syntheticImagePng(64, 9), Row(64, 64, null, "png"))),
      Multimodal.mediaSchema)
    val pairs = Multimodal.imageNearDupCandidates(media)
      .select(col("idA"), col("idB"))
    val comp = graft.pipeline.Clustering.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ids 1,2,3 share one representative; 4 appears in no pair
    Set(comp(1L), comp(2L), comp(3L)) should have size 1
    comp.contains(4L) shouldBe false
  }

  "incremental media near-dup" should
    "pair batch media against the signed corpus per kind only" in {
    val corpus = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "image", Multimodal.syntheticImagePng(64, 1), Row(64, 64, null, "png")),
        Row(2L, "audio", Multimodal.syntheticWavPcm(2, 16000f), Row(null, null, 16000, "wav")),
        Row(3L, "video", Multimodal.syntheticMjpegAvi(3, 1), Row(48, 48, null, "avi"))),
      Multimodal.mediaSchema)
    val sigs = Multimodal.mediaSignTable(corpus)
    sigs.count() shouldBe 3 // every kind signed in one pass
    // batch: a rescaled copy of corpus image 1, a resampled copy of
    // corpus audio 2, a frame-doubled copy of corpus clip 3, plus a
    // fresh image nothing matches
    val batch = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(10L, "image", Multimodal.syntheticImagePng(32, 1), Row(32, 32, null, "png")),
        Row(11L, "audio", Multimodal.syntheticWavPcm(2, 8000f), Row(null, null, 8000, "wav")),
        Row(12L, "video", Multimodal.syntheticMjpegAvi(3, 2), Row(48, 48, null, "avi")),
        Row(13L, "image", Multimodal.syntheticImagePng(64, 40), Row(64, 64, null, "png"))),
      Multimodal.mediaSchema)
    val pairs = Multimodal.mediaNearDupAgainst(sigs, batch)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    pairs shouldBe Set(("image", 10L, 1L), ("audio", 11L, 2L),
      ("video", 12L, 3L))
  }

  private def wavBytes(samples: Array[Double], rate: Float): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val raw = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      val v = math.max(-32768, math.min(32767, math.round(s * 32767).toInt))
      raw(2 * i) = (v & 0xFF).toByte
      raw(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  it should "compute REAL sample features for decodable audio" in {
    val rate = 16000f
    val n = 16000
    val sine = Array.tabulate(n)(i => 0.5 * math.sin(2 * math.Pi * 440 * i / rate))
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "audio", wavBytes(sine, rate), Row(null, null, 16000, "wav")),
        Row(2L, "audio", wavBytes(Array.fill(n)(0.0), rate), Row(null, null, 16000, "wav")),
        Row(3L, "audio", "noise".getBytes, Row(null, null, 16000, "pcm"))),
      Multimodal.mediaSchema)
    val byId = Multimodal.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> r.getAs[Seq[Float]]("features")).toMap
    // sine: RMS = amp/√2, zero-crossing rate = 2f/rate, peak = amp —
    // content-derived physics, not hash noise
    byId(1L)(4) shouldBe (0.5 / math.sqrt(2)).toFloat +- 0.01f
    byId(1L)(5) shouldBe (2 * 440f / 16000f) +- 0.005f
    byId(1L)(6) shouldBe 0.5f +- 0.01f
    byId(1L).take(4).foreach(_ shouldBe (0.5 / math.sqrt(2)).toFloat +- 0.01f)
    // silence: all-zero energy, ~1s duration in the log slot
    byId(2L).take(7).foreach(_ shouldBe 0.0f +- 1e-6f)
    byId(2L)(7) shouldBe math.log1p(1.0).toFloat +- 0.01f
    // undecodable payload falls back to the stub contract
    byId(3L) shouldBe Multimodal.StubCodec.features("noise".getBytes).toSeq
  }

  it should "report true duration for stride-sampled long audio" in {
    val rate = 16000f
    val n = 160000 // 10 s → stride 2, effective rate 8 kHz
    val sine = Array.tabulate(n)(i => 0.5 * math.sin(2 * math.Pi * 440 * i / rate))
    val (samples, eff) = Multimodal.AudioCodec.decode(wavBytes(sine, rate)).get
    samples.length shouldBe n / 2
    eff shouldBe rate / 2
    val f = Multimodal.AudioCodec.features(samples, eff)
    f(7) shouldBe math.log1p(10.0).toFloat +- 0.01f // not log1p(n_kept/rate)
    f(5) shouldBe (2 * 440f / eff) +- 0.01f // zcr per EFFECTIVE sample
  }

  it should "re-encode actually resized image payloads" in {
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "image", pngBytes(32, 16, 0x336699), Row(32, 16, null, "png")),
        Row(2L, "audio", "noise".getBytes, Row(null, null, 16000, "pcm"))),
      Multimodal.mediaSchema)
    val out = Multimodal.resizeImages(media, 8, 8).collect()
      .map(r => r.getLong(0) -> r).toMap
    val resized = Multimodal.ImageCodec.decode(
      out(1L).getAs[Array[Byte]]("bytes")).get
    (resized.getWidth, resized.getHeight) shouldBe ((8, 8))
    out(1L).getStruct(3).getString(3) shouldBe "png"
    (out(1L).getStruct(3).getInt(0), out(1L).getStruct(3).getInt(1)) shouldBe ((8, 8))
    // non-image payload untouched — and its meta must NOT be rewritten
    // to the target dims (that would describe bytes that don't exist)
    out(2L).getAs[Array[Byte]]("bytes") shouldBe "noise".getBytes
    out(2L).getStruct(3).isNullAt(0) shouldBe true
    out(2L).getStruct(3).getInt(2) shouldBe 16000
    out(2L).getStruct(3).getString(3) shouldBe "pcm"
  }

  private def solidFrame(rgb: Int, w: Int = 16, h: Int = 16) = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    img
  }

  "video codec" should "round-trip MJPEG-in-AVI and compute REAL frame features" in {
    val avi = Multimodal.VideoCodec.encodeMjpegAvi(
      Seq(solidFrame(0xFF0000), solidFrame(0xFF0000), solidFrame(0xFF0000)))
    val frames = Multimodal.VideoCodec.decodeFrames(avi).get
    frames should have size 3
    (frames.head.getWidth, frames.head.getHeight) shouldBe ((16, 16))
    val f = Multimodal.VideoCodec.features(frames)
    // red-dominant: mean R near 1, mean G/B near 0 (JPEG is lossy)
    f(4) should be > 0.8f
    f(5) should be < 0.2f
    f(6) should be < 0.2f
    // non-AVI bytes are rejected, not mis-parsed
    Multimodal.VideoCodec.decodeFrames("notavi".getBytes) shouldBe None
  }

  it should "sample frames across the WHOLE clip and survive hostile nesting" in {
    // 3 distinct frames, maxFrames=2: ceil stride picks first AND last,
    // not the first two (head-only sampling would miss the fade)
    val avi = Multimodal.VideoCodec.encodeMjpegAvi(
      Seq(solidFrame(0xFF0000), solidFrame(0x00FF00), solidFrame(0x0000FF)))
    val two = Multimodal.VideoCodec.decodeFrames(avi, maxFrames = 2).get
    two should have size 2
    ((two.head.getRGB(8, 8) >> 16) & 0xFF) should be > 200 // red first
    (two(1).getRGB(8, 8) & 0xFF) should be > 200 // BLUE last, not green
    // a crafted AVI of ~50k nested LIST headers must not blow the stack
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("RIFF".getBytes("US-ASCII"))
    val n = 50000
    val inner = 4 + n * 12 // "AVI " + nested LIST headers
    bos.write(Array[Byte]((inner & 0xFF).toByte, ((inner >> 8) & 0xFF).toByte,
      ((inner >> 16) & 0xFF).toByte, ((inner >> 24) & 0xFF).toByte))
    bos.write("AVI ".getBytes("US-ASCII"))
    var remaining = n * 12
    (1 to n).foreach { _ =>
      remaining -= 12
      val sz = remaining + 4
      bos.write("LIST".getBytes("US-ASCII"))
      bos.write(Array[Byte]((sz & 0xFF).toByte, ((sz >> 8) & 0xFF).toByte,
        ((sz >> 16) & 0xFF).toByte, ((sz >> 24) & 0xFF).toByte))
      bos.write("rec ".getBytes("US-ASCII"))
    }
    // no frames → None, and critically: no StackOverflowError
    Multimodal.VideoCodec.decodeFrames(bos.toByteArray) shouldBe None
  }

  it should "use the real video features in extractFeatures" in {
    val avi = Multimodal.VideoCodec.encodeMjpegAvi(Seq(solidFrame(0x00FF00)))
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "video", avi, Row(16, 16, null, "avi")),
        Row(2L, "video", "undecodable".getBytes, Row(null, null, null, "mp4"))),
      Multimodal.mediaSchema)
    val out = Multimodal.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](r.length - 1)).toMap
    out(1L)(5).toFloat should be > 0.8f // green channel
    // undecodable video falls back to the deterministic stub
    out(2L) shouldBe Multimodal.StubCodec.features("undecodable".getBytes).toSeq
  }

  it should "cut real PNG frames from MJPEG-in-AVI and fall back elsewhere" in {
    val avi = Multimodal.VideoCodec.encodeMjpegAvi(
      Seq(solidFrame(0x0000FF), solidFrame(0x0000FF), solidFrame(0x0000FF),
        solidFrame(0x0000FF)))
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "video", avi, Row(16, 16, null, "avi")),
        Row(2L, "video", "undecodable".getBytes, Row(null, null, null, "mp4")),
        Row(3L, "image", "img".getBytes, Row(4, 4, null, "raw"))),
      Multimodal.mediaSchema)
    val cut = Multimodal.cutFrames(media, 2).collect()
    val byId = cut.groupBy(_.getLong(0))
    byId(1L) should have size 2 // ≤ n evenly-spaced real frames
    val png = Multimodal.ImageCodec.decode(
      byId(1L).head.getAs[Array[Byte]]("bytes")).get
    ((png.getRGB(8, 8) & 0xFF) > 200) shouldBe true // blue survived
    byId(2L) should have size 2 // stub fallback: payload repeated
    byId(2L).head.getAs[Array[Byte]]("bytes") shouldBe "undecodable".getBytes
    byId(3L) should have size 1 // non-video passes through once
  }
}
