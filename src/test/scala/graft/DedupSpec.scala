package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.{Dedup, TextAnalysis}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "The  quick,, brown FOX jumps over the lazy dog!"), // fp dup of 0
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup (1 token)
    (4L, "completely different content about spark engines and parquet files"),
    (5L, "tiny")
  ).toDF("doc_id", "text")

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.register(spark)
  }

  test("segment dedup: corpus-wide keep-first drop, byte-exact reassembly") {
    def md5s(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq(
      (0L, "a b c d e f g h x1 x2"), // segments: [a..h], [x1 x2]
      (1L, "a b c d e f g h y1 y2"), // [a..h] already seen at (0,0) → dropped
      (2L, "x1 x2 p q")              // "x1 x2 p q" is ONE 4-token segment — no dup
    ).toDF("doc_id", "text")
    val r = Dedup.segmentDedup(docs, 8).orderBy("doc_id").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSeq ===
      Seq((0L, 2L, 2L, 0L), (1L, 2L, 1L, 1L), (2L, 1L, 1L, 0L)))
    assert(r(0).getString(4) === md5s("a b c d e f g h x1 x2"))
    assert(r(1).getString(4) === md5s("y1 y2"))
    assert(r(2).getString(4) === md5s("x1 x2 p q"))
  }

  test("segment dedup: a doc losing every segment reassembles to the empty hash") {
    def md5s(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq(
      (0L, "a b c"),
      (1L, "a b c") // single identical segment → doc 1 keeps nothing
    ).toDF("doc_id", "text")
    val r = Dedup.segmentDedup(docs, 8).orderBy("doc_id").collect()
    assert(r(1).getLong(2) === 0L && r(1).getLong(3) === 1L)
    assert(r(1).getString(4) === md5s(""))
  }

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs).collect()
    assert(out.length === 5) // 0/1 merge
    val merged = out.find(_.getLong(2) == 2L).get
    assert(merged.getLong(1) === 0L) // keeper = min id
  }

  test("fingerprint dedup additionally catches case/punct/space variants") {
    val out = Dedup.byFingerprint(docs).collect()
    assert(out.length === 4) // 0/1/2 merge
    assert(out.find(_.getLong(2) == 3L).get.getLong(1) === 0L)
  }

  test("ngram jaccard finds the near-dup pair and only it") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.4).collect()
    // exact dups 0-1 share everything; 0-3/1-3 are near; 0-2 differs in shingles (fp-normalizing not applied)
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((0L, 1L)))
    assert(keys.contains((0L, 3L)) && keys.contains((1L, 3L)))
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
    assert(pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L).get.getDouble(2) === 1.0)
  }

  test("minhash-lsh agrees with exact jaccard at high threshold") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashLshPairs(docs, 3, 0.4, bands = 32, rowsPerBand = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh === exact)
  }

  test("lsh pre-collapse: duplicate classes pair in full, bands see only representatives") {
    // 200 copies of one text + 3 copies of a near-dup + 1 unrelated: the
    // banding path must see ONE row per distinct text (the pre-collapse
    // guard against quadratic hot buckets), while the emitted pair set is
    // still the full member-level expansion
    val copies = (0L until 200L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
    val nears = Seq(500L, 501L, 502L).map(i => (i, "the quick brown fox jumps over the sleepy dog"))
    val other = Seq((900L, "completely different content about spark engines and parquet files"))
    val df = (copies ++ nears ++ other).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, 3, 0.4, bands = 32, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val within = pairs.filter(p => p._1 < 200L && p._2 < 200L)
    assert(within.length === 200 * 199 / 2, "full within-class expansion")
    assert(within.forall(_._3 === 1.0))
    val withinNear = pairs.filter(p => p._1 >= 500L && p._2 >= 500L && p._2 < 900L)
    assert(withinNear.length === 3)
    val cross = pairs.filter(p => p._1 < 200L && p._2 >= 500L && p._2 < 900L)
    assert(cross.length === 200 * 3, "full cross-class expansion")
    assert(cross.map(_._3).distinct.length === 1, "cross pairs inherit one verified jaccard")
    assert(!pairs.exists(p => p._1 == 900L || p._2 == 900L))
  }

  /** 360 docs of 30 words: 300 distinct texts, every 10th copied twice and
    * every 5th followed by a one-word edit, shuffled by `seed`.
    */
  private def lshCorpus(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val texts = (0 until 300).map(_ => Vector.fill(30)(s"w${rnd.nextInt(400)}"))
    val variants = texts.zipWithIndex.flatMap { case (t, i) =>
      val copies = if (i % 10 == 0) Seq(t, t) else Nil
      val near = if (i % 5 == 0) Seq(t.updated(15, "edit")) else Nil
      t +: (copies ++ near)
    }
    rnd.shuffle(variants).zipWithIndex.map { case (t, id) => (id.toLong, t.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  // (miner, first corpus seed, call): no two miners share an input, so
  // none can read blocks another left
  for ((miner, seed0, pairs) <- Seq[(String, Int, DataFrame => DataFrame)](
      ("minhashLshPairs", 0, Dedup.minhashLshPairs(_, 3, 0.5, bands = 32, rowsPerBand = 4)),
      ("ngramJaccardPairs", 10, Dedup.ngramJaccardPairs(_, 3, 0.5)),
      ("containmentPairs", 20, Dedup.containmentPairs(_, 3, 0.6)),
      ("simhashPairs", 30, Dedup.simhashPairs(_))))
    test(s"$miner leaves no persistent RDD or cache entry behind") {
      val entries = () => org.apache.spark.sql.GraftTestCacheBridge.cachedEntries(spark)
      val entries0 = entries()
      val mark = SparkSpec.rddMark()
      // three calls on distinct input, each result consumed and then dropped
      (0 until 3).foreach { i =>
        assert(pairs(lshCorpus(seed0 + i)).count() > 0L)
      }
      assert(entries() === entries0, s"$miner registered a Dataset cache")
      val left = SparkSpec.persistentSince(mark)
      assert(left.isEmpty, s"RDDs made by $miner still persistent after GC: $left")
    }

  test("job budget: ngramJaccardPairs mines and writes a 360-doc corpus in 22 Spark jobs") {
    // two owned checkpoints (representatives, sid index), the GlobalRank
    // offsets and the pair query; the count repeats exactly from call to
    // call because no join's strategy waits on a racing stage
    val jobs = SparkSpec.jobsOf(
      Dedup.ngramJaccardPairs(lshCorpus(7), 3, 0.5).write.format("noop").mode("overwrite").save())
    assert(jobs === 22, s"ngramJaccardPairs ran $jobs Spark jobs")
  }

  test("job budget: minhashLshPairs mines and writes a 360-doc corpus in ≤ 13 Spark jobs") {
    val jobs = SparkSpec.jobsOf(
      Dedup.minhashLshPairs(lshCorpus(7), 3, 0.5, bands = 32, rowsPerBand = 4)
        .write.format("noop").mode("overwrite").save())
    assert(jobs > 0 && jobs <= 13, s"minhashLshPairs ran $jobs Spark jobs")
  }

  test("minhashLshPairs computes each band signature once: one minhashbands in its plans") {
    val executions = SparkSpec.queryExecutions {
      Dedup.minhashLshPairs(lshCorpus(5).where(col("doc_id") < 200), 3, 0.5, bands = 32, rowsPerBand = 4)
        .write.format("noop").mode("overwrite").save()
    }
    // every executed plan of the call — the representative checkpoint and
    // the pair query — through AQE stages and broadcast builds
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val evals = executions.flatMap { qe =>
      helper.collectWithSubqueries(qe.executedPlan) { case p =>
        p.expressions.flatMap(_.collect { case m: graft.functions.MinHashBands => m })
      }.flatten
    }
    assert(evals.length === 1, s"minhashbands evaluated in ${evals.length} plan places")
  }

  test("lsh pre-collapse: too-short duplicate docs still never pair (size(sh)>0 guard)") {
    val df = Seq((0L, "tiny"), (1L, "tiny"), (2L, "tiny")).toDF("doc_id", "text")
    assert(Dedup.minhashLshPairs(df, 3, 0.4, bands = 32, rowsPerBand = 4).count() === 0L)
  }

  test("ngram pre-collapse: the inverted index mines representatives, members expand in full") {
    val copies = (0L until 150L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
    val nears = Seq(500L, 501L).map(i => (i, "the quick brown fox jumps over the sleepy dog"))
    val df = (copies ++ nears :+ (900L, "completely different content about spark engines and parquet files"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, 3, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val within = pairs.filter(p => p._1 < 150L && p._2 < 150L)
    assert(within.length === 150 * 149 / 2 && within.forall(_._3 === 1.0))
    val cross = pairs.filter(p => p._1 < 150L && p._2 >= 500L && p._2 < 900L)
    assert(cross.length === 150 * 2, "every member pairs with every near-dup")
    assert(cross.map(_._3).distinct.length === 1)
    assert(!pairs.exists(p => p._1 == 900L || p._2 == 900L))
  }

  test("ngram df counts DISTINCT texts: copies cannot stop-list their own shingles") {
    // 5 identical docs with maxDf=3: under copy-counting df every shingle
    // would be pruned and the class would (absurdly) not even self-match;
    // distinct-text df sees df=1 and the class pairs in full
    val df = (1L to 5L).map(i => (i, "all five documents share this exact sentence verbatim"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, 3, 0.4, maxDf = 3).collect()
    assert(pairs.length === 10)
    assert(pairs.forall(_.getDouble(2) === 1.0))
  }

  test("ngram pre-collapse: a duplicate class whose kept shingle set is empty never pairs") {
    // the dup class's only shingle also lives in 5 DISTINCT texts →
    // distinct-text df = 6 > maxDf = 3 → pruned everywhere → the class has
    // no surviving postings, so (10,11) must NOT pair (matching the
    // direct algorithm, where a fully-pruned doc has no postings at all)
    val fillers = (1 to 5).map(i =>
      (i.toLong, s"prefix$i alpha$i beta$i goes right before common tail phrase"))
    val dups = Seq((10L, "common tail phrase"), (11L, "common tail phrase"))
    val df = (fillers ++ dups).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, 3, 0.4, maxDf = 3).collect()
    assert(!pairs.exists(r => r.getLong(0) == 10L || r.getLong(1) == 11L), s"got: ${pairs.mkString}")
  }

  test("simhash: identical docs collide, near-dups are close") {
    val sigs = docs
      .select(col("doc_id"), GraftFunctions.simhash64(TextAnalysis.tokens(col("text"))).as("s"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(sigs(0L) === sigs(1L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(3L)) < 20)
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L && r.getInt(2) == 0))
  }

  test("x08 golden pin: simhash signatures byte-identical on sf0.001") {
    // x08 has no SQL oracle (xxhash-based sketch); this pins the exact
    // signature values against a committed fixture so any change to the
    // hash pipeline is a visible diff, not silent drift
    val docs500 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = docs500
      .select(col("doc_id"), GraftFunctions.simhash64(TextAnalysis.tokens(col("text"))).as("s"))
      .orderBy(col("doc_id"))
      .collect()
      .map(r => s"${r.getLong(0)},${r.getLong(1)}")
      .toSeq
    val expected = scala.io.Source
      .fromInputStream(getClass.getResourceAsStream("/golden/x08_simhash_sf0.001.csv"))
      .getLines().drop(1).toSeq
    assert(got === expected)
  }

  test("RP-LSH-blocked embedding near-dup ≡ exact all-pairs on the real corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Dedup.embeddingNearDupPairsExact(emb, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.embeddingNearDupPairsLsh(emb, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty)
    assert(lsh === exact)
  }

  test("x113 int-LSH near-dup = exact pair set ∩ banded candidates (precision exact, miss replayable)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Dedup.embeddingNearDupPairsExact(emb, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = Dedup.embeddingNearDupPairsIntLsh(emb, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // precision exact: every emitted pair is a true >= threshold pair
    assert(got.subsetOf(exact), s"false positives: ${got diff exact}")
    // the miss set is EXACTLY the exact pairs with no shared bucket —
    // replay candidate generation via the expression itself
    val buckets = emb
      .select($"vec_id",
        posexplode(graft.functions.GraftFunctions.intLshBuckets($"embedding", 8, 6))
          .as(Seq("t", "bucket")))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getInt(1), r.getInt(2))).toSet).toMap
    val expected = exact.filter { case (a, b, _) =>
      (buckets(a) intersect buckets(b)).nonEmpty
    }
    assert(got === expected)
    assert(got.nonEmpty, "banding dropped every pair — grid too aggressive for the corpus")
  }

  test("x11 posture decision launches ZERO jobs (metadata size estimate, not a count scan)") {
    val sc = spark.sparkContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val before = sc.statusTracker.getJobIdsForGroup(null).toSet
    val df = Dedup.embeddingNearDupPairs(emb, 0.45) // construction only — lazy
    assert(df.columns.toSeq === Seq("a_id", "b_id", "cos"))
    // job submission is synchronous on the calling thread; status-tracker
    // bookkeeping is async — give the bus a bounded window to surface any
    // job the construction might have launched
    val deadline = System.currentTimeMillis() + 1000
    while (System.currentTimeMillis() < deadline &&
      sc.statusTracker.getJobIdsForGroup(null).toSet == before) Thread.sleep(50)
    assert(sc.statusTracker.getJobIdsForGroup(null).toSet === before,
      "constructing embeddingNearDupPairs ran a Spark job — the posture decision scanned data")
    // and the estimate picked the same branch the exact count would have:
    // the small corpus routes to the exact form (crossJoin in the plan)
    assert(df.queryExecution.optimizedPlan.toString.toLowerCase.contains("join"))
    // knownCount forces the LSH branch past the cutover, zero jobs again
    val lshForced = Dedup.embeddingNearDupPairs(emb, 0.45, knownCount = 200000L)
    val direct = Dedup.embeddingNearDupPairsLsh(emb, 0.45, bitsPerTable = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshForced.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === direct)
  }

  test("embedding near-dup finds planted duplicate vector") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, 0.95).collect()
    assert(pairs.length === 1)
    assert((pairs(0).getLong(0), pairs(0).getLong(1)) === (0L, 1L))
  }

  test("incremental ingest: exact / near / novel with exact-over-near precedence") {
    val index = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "unrelated content entirely different words")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),       // exact copy of 1 (and near) → exact, match 1
      (11L, "one two three four five six EIGHT"),         // near dup of 2 (6/8 shingles... verify below)
      (12L, "totally novel text nothing shared here"),    // novel
      (13L, "xy")                                         // < 3 tokens: no shingles → novel
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalClassify(batch, index, n = 3, threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1)
    // 11 vs 2: 3-shingles of 7 tokens = 5 each; shared = first 4 windows
    // ("one two three" .. "four five six") = 4; jac 4/6 = 0.667 ≥ 0.5
    assert(got.toSeq === Seq(
      (10L, "exact", 1L),
      (11L, "near", 2L),
      (12L, "novel", -1L),
      (13L, "novel", -1L)
    ))
  }

  test("incremental ingest: near matches between two NEW docs never classify each other") {
    val index = Seq((1L, "index text completely alone here")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "shared shingle run one two three four"),
      (11L, "shared shingle run one two three four") // exact dup of 10, but 10 is NOT indexed
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalClassify(batch, index, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq === Seq((10L, "novel"), (11L, "novel")))
  }

  private def classifyRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long)] =
    df.collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq

  test("indexed ingest ≡ from-scratch ingest when no delivery df-flip (hand corpus + real corpus)") {
    val index = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "unrelated content entirely different words")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "one two three four five six EIGHT"),
      (12L, "totally novel text nothing shared here"),
      (13L, "xy")
    ).toDF("doc_id", "text")
    val idx = Dedup.buildNearDupIndex(index, n = 3, threshold = 0.5)
    assert(
      classifyRows(Dedup.incrementalClassifyIndexed(batch, idx)) ===
        classifyRows(Dedup.incrementalClassify(batch, index, n = 3, threshold = 0.5)))
    // and on the real sf0.001 corpus with the x67/x75 surface split: no
    // shingle approaches maxDf=1000 there, so the two postures must agree
    // row-for-row (the frozen-index equality theorem's no-flip case)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val rIdx = docs.where(col("doc_id") < 250)
    val rBatch = docs.where(col("doc_id") >= 250)
      .unionAll(docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val built = Dedup.buildNearDupIndex(rIdx, n = 3, threshold = 0.5)
    val indexed = classifyRows(Dedup.incrementalClassifyIndexed(rBatch, built))
    assert(indexed === classifyRows(Dedup.incrementalClassify(rBatch, rIdx, n = 3, threshold = 0.5)))
    assert(indexed.exists(_._2 == "exact") && indexed.exists(_._2 == "near")
      && indexed.exists(_._2 == "novel"))
  }

  test("indexed ingest: unseen delivery shingles dilute the Jaccard denominator, never the intersection") {
    // index doc: 6 tokens → 4 shingles; delivery shares all 4 and adds 3
    // index-unseen shingles → jac = 4 / (7 + 4 − 4) = 4/7 ≈ 0.5714
    val index = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val batch = Seq((10L, "a b c d e f p q r")).toDF("doc_id", "text")
    val at05 = Dedup.incrementalClassifyIndexed(
      batch, Dedup.buildNearDupIndex(index, n = 3, threshold = 0.5))
    assert(classifyRows(at05) === Seq((10L, "near", 1L)))
    // at threshold 0.6 the SAME intersection must fail — only possible if
    // the unseen shingles counted in the denominator (4/4 would pass)
    val at06 = Dedup.incrementalClassifyIndexed(
      batch, Dedup.buildNearDupIndex(index, n = 3, threshold = 0.6))
    assert(classifyRows(at06) === Seq((10L, "novel", -1L)))
  }

  test("indexed ingest: frozen-index df vs union df — the documented divergence under a delivery-induced flip") {
    // index shingles A="w1 w2 w3", B="w2 w3 w4" have index-df 1 (kept
    // frozen, maxDf=2). Three delivery docs all contain A and B, so the
    // UNION df is 4 > 2: from-scratch x67 stop-lists them, leaving the
    // index doc with NO postings → novel; the frozen index keeps its
    // build-time statistics → near. Both are self-consistent contracts;
    // the frozen one is what a production index does (a delivery does not
    // re-weight corpus statistics).
    val index = Seq((1L, "w1 w2 w3 w4")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "w1 w2 w3 w4 w5"),
      (11L, "w1 w2 w3 w4 x y"),
      (12L, "zz w1 w2 w3 w4")
    ).toDF("doc_id", "text")
    val frozen = classifyRows(Dedup.incrementalClassifyIndexed(
      batch, Dedup.buildNearDupIndex(index, n = 3, threshold = 0.5, maxDf = 2)))
    assert(frozen.head === ((10L, "near", 1L))) // jac 2/3 over frozen kept sets
    val union = classifyRows(Dedup.incrementalClassify(
      batch, index, n = 3, threshold = 0.5, maxDf = 2))
    assert(union.head === ((10L, "novel", -1L))) // A,B pruned at union df 4
  }

  private def contRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Scala reference: ordered-pair containment over distinct 3-shingle
    * sets, no prune.
    */
  private def contRef(docs: Seq[(Long, String)], t: Double): Set[(Long, Long, Double)] = {
    def sh(s: String): Set[String] = {
      val tk = s.trim.split("\\s+")
      if (tk.length >= 3) (0 to tk.length - 3).map(i => tk.slice(i, i + 3).mkString(" ")).toSet
      else Set.empty
    }
    val ss = docs.map { case (id, s) => id -> sh(s) }.filter(_._2.nonEmpty)
    (for {
      (a, sa) <- ss; (b, sb) <- ss if a != b
      c = BigDecimal(sa.intersect(sb).size.toDouble / sa.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= t
    } yield (a, b, c)).toSet
  }

  test("containment: an excerpt scores 1.0 against its parent while Jaccard stays invisible") {
    val parent = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14"
    val corpus = Seq(
      (1L, parent),               // 12 shingles
      (2L, "w1 w2 w3 w4 w5"),     // 3 shingles, all ⊂ parent's
      (3L, "q1 q2 q3 q4 q5 q6")   // unrelated
    ).toDF("doc_id", "text")
    // C(2,1) = 3/3 = 1.0; C(1,2) = 3/12 = 0.25; Jaccard(1,2) = 3/12 = 0.25
    assert(contRows(Dedup.containmentPairs(corpus, n = 3, threshold = 0.5)) ===
      Set((2L, 1L, 1.0)))
    // the symmetric miner must NOT see the pair at its threshold
    assert(Dedup.ngramJaccardPairs(corpus, n = 3, threshold = 0.5).count() === 0L)
    // at threshold 0.2 the reverse orientation surfaces with its own value
    assert(contRows(Dedup.containmentPairs(corpus, n = 3, threshold = 0.2)) ===
      Set((2L, 1L, 1.0), (1L, 2L, 0.25)))
  }

  test("containment: brute-force parity on the shared fixture, incl. exact-dup classes both ways") {
    val ref = contRef(
      Seq(
        (0L, "the quick brown fox jumps over the lazy dog"),
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "The  quick,, brown FOX jumps over the lazy dog!"),
        (3L, "the quick brown fox jumps over the sleepy dog"),
        (4L, "completely different content about spark engines and parquet files"),
        (5L, "tiny")
      ), 0.3)
    val got = contRows(Dedup.containmentPairs(docs, n = 3, threshold = 0.3))
    assert(got === ref)
    // identical texts 0/1 must appear in BOTH orientations at 1.0
    assert(got.contains((0L, 1L, 1.0)) && got.contains((1L, 0L, 1.0)))
  }

  test("containment: maxDf prune freezes the result to the kept-shingle space") {
    // shingle "a b c" occurs in all three distinct texts → df 3 > maxDf 2
    // → pruned everywhere; doc 20's remaining set {b c x, c x y} has one
    // shingle in doc 21's kept set → C = 1/2
    val corpus = Seq(
      (20L, "a b c x y"),
      (21L, "a b c x q"),
      (22L, "z a b c w")
    ).toDF("doc_id", "text")
    val got = contRows(Dedup.containmentPairs(corpus, n = 3, threshold = 0.5, maxDf = 2))
    assert(got.contains((20L, 21L, 0.5)) && got.contains((21L, 20L, 0.5)))
    assert(!got.exists(p => p._1 == 22L || p._2 == 22L)) // only stop+unique shingles left
  }

  test("containment: partitioning invariance") {
    val a = contRows(Dedup.containmentPairs(docs.repartition(1), n = 3, threshold = 0.3))
    val b = contRows(Dedup.containmentPairs(docs.repartition(7), n = 3, threshold = 0.3))
    assert(a === b && a.nonEmpty)
  }

  test("indexed ingest: exact precedence and partitioning invariance") {
    val index = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // exact AND near → exact wins
      (11L, "one two three four five six EIGHT")
    ).toDF("doc_id", "text")
    val expected = Seq((10L, "exact", 1L), (11L, "near", 2L))
    for (p <- Seq(1, 7)) {
      val idx = Dedup.buildNearDupIndex(index.repartition(p), n = 3, threshold = 0.5)
      assert(classifyRows(
        Dedup.incrementalClassifyIndexed(batch.repartition(p), idx)) === expected)
    }
  }

  test("semantic dedup: transitive groups keep exactly one min-id representative") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.14f, 0.0f)),  // ~0.990 vs 0, ~0.999 vs itself
      (2L, Array(0.95f, 0.31f, 0.0f)),  // near 1, farther from 0 — chain closure
      (3L, Array(0.0f, 1.0f, 0.0f)),    // singleton
      (4L, Array(0.0f, 0.0f, 1.0f))     // singleton
    ).toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(emb, threshold = 0.97)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // cos(0,1) ≈ .990, cos(1,2) ≈ .984, cos(0,2) ≈ .951 < .97: the group
    // {0,1,2} exists only through the transitive closure
    assert(got === Set(
      (0L, 0L, true), (1L, 0L, false), (2L, 0L, false),
      (3L, 3L, true), (4L, 4L, true)))
    // kept set is partitioning-invariant
    val again = Dedup.semanticDedup(emb.repartition(7), threshold = 0.97)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(again === got)
  }

  /** Brute-force winnowing reference: k-gram hash40s, every window of w,
    * min with RIGHTMOST tie, distinct selected (hash, pos).
    */
  private def winnowRef(text: String, k: Int, w: Int): Set[(Long, Int)] = {
    val toks = text.trim.split("\\s+")
    val grams = if (toks.length >= k)
      (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" "))
    else Seq.empty
    val hs = grams.map(graft.operators.DistinctSketch.hash40Scala)
    (0 to hs.length - w).map { i =>
      val win = (i until i + w)
      val minH = win.map(hs).min
      val pos = win.filter(j => hs(j) == minH).max // rightmost
      (minH, pos)
    }.toSet
  }

  test("winnowing: exact parity with a brute-force reference, incl. a rightmost tie inside one window") {
    // "a b c a b c d" has the gram "a b c" TWICE at pos 0 and 3 — both
    // inside the first w=4 window when that hash is the window min, so
    // the rightmost-tie rule is live (and if not min, other docs cover it)
    val docs = Seq(
      (1L, "a b c a b c d e f g h"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "x y"), // 0 grams at k=3
      (4L, "p q r s") // 2 grams < w → no full window, no fingerprints
    ).toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(docs, k = 3, w = 4)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getInt(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val texts = Map(
      1L -> "a b c a b c d e f g h",
      2L -> "the quick brown fox jumps over the lazy dog again and again")
    for ((id, t) <- texts) assert(got(id) === winnowRef(t, 3, 4), s"doc $id")
    assert(!got.contains(3L) && !got.contains(4L))
  }

  test("winnowing: coverage guarantee (every window selects) and partitioning invariance") {
    val body = (0 until 200).map(i => s"w${i % 37} t${(i * 7) % 23}").mkString(" ")
    val docs = Seq((1L, body)).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, k = 3, w = 4)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSet
    val ref = winnowRef(body, 3, 4)
    assert(fps === ref)
    // coverage: every window [i, i+3] contains at least one selected pos
    val positions = fps.map(_._2)
    val nGrams = body.trim.split("\\s+").length - 2
    for (i <- 0 to nGrams - 4)
      assert((i until i + 4).exists(positions.contains), s"window $i uncovered")
    // density lands near the theoretical 2/(w+1)
    val density = fps.size.toDouble / nGrams
    assert(density > 0.2 && density < 0.6, s"density $density")
    val re = Dedup.winnowFingerprints(docs.repartition(8), k = 3, w = 4)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSet
    assert(re === fps)
  }
}
