package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: word 3-grams, distinct, short docs empty") {
    val out = Seq("a b c d", "a b", "x y z x y z")
      .toDF("text")
      .select(TextAnalysis.shingles(TextAnalysis.tokens($"text"), 3).as("sh"))
      .collect()
      .map(_.getSeq[String](0).toSet)
    assert(out(0) === Set("a b c", "b c d"))
    assert(out(1) === Set.empty)
    assert(out(2) === Set("x y z", "y z x", "z x y")) // distinct collapses repeat
  }

  test("shingles expression ≡ the HOF algebra: n = 1..5, codegen and interpreted, ANSI on and off") {
    // WordShingles must reproduce shinglesHof element for element, in order:
    // trim strips only spaces, so tabs, CR/LF and a trailing space leave
    // empty tokens; concat_ws skips NULL elements; array_distinct keeps the
    // first occurrence; a NULL array and a too-short one shingle to []
    // 500 seeded texts over a 12-word vocabulary (so grams repeat) joined
    // by mixed whitespace runs, plus the hand-picked edge cases
    val rnd = new scala.util.Random(11)
    val seps = Vector(" ", " ", " ", "  ", "\t", "\r\n", " \t ")
    val generated = Seq.fill(500) {
      Seq.fill(rnd.nextInt(40))(s"w${rnd.nextInt(12)}" + seps(rnd.nextInt(seps.size))).mkString
    }
    val texts = (generated ++ Seq(
      "\tfoo bar\tbaz\t", "a b\r\nc d\r\n", "  lead and trail  ", "x \t y", "\t",
      "", null.asInstanceOf[String],
      "a b a b a b c a b", "z z z z z z", "one"
    )).toDF("text")
      .select(TextAnalysis.tokens($"text").as("toks"))
    val arrays = Seq(
      Seq("a", null, "b", "c"), Seq(null, null, "a", null), Seq[String](null, null),
      Seq("a", null, "a", null, "a"), Seq.empty[String], null
    ).toDF("toks")
    // repartition: no ConvertToLocalRelation, so the session's eval mode is what runs
    val input = texts.unionByName(arrays).repartition(3).cache()
    val ns = 1 to 5
    val cols = ns.flatMap(n => Seq(
      TextAnalysis.shingles($"toks", n).as(s"fast$n"), TextAnalysis.shinglesHof($"toks", n).as(s"hof$n")))
    val conf = spark.conf
    val keys = Seq("spark.sql.ansi.enabled", "spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      for (ansi <- Seq("true", "false"); (wholeStage, factory) <- Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN")) {
        conf.set(keys(0), ansi); conf.set(keys(1), wholeStage); conf.set(keys(2), factory)
        val out = input.select(cols: _*)
        ns.foreach(n => assert(out.schema(s"fast$n").dataType === out.schema(s"hof$n").dataType))
        assert(out.schema("fast3").dataType ===
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, containsNull = true))
        val rows = out.collect()
        for (r <- rows; n <- ns) {
          val (fast, hof) = (r.getSeq[String](2 * (n - 1)), r.getSeq[String](2 * n - 1))
          assert(fast === hof, s"n=$n ansi=$ansi wholeStage=$wholeStage")
        }
      }
    } finally {
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
      input.unpersist()
    }
    val edges = Seq(("a b a b a b c a b", 2), ("\tfoo bar\t", 2), ("z z z z", 1))
      .map { case (t, n) =>
        Seq(t).toDF("text").select(TextAnalysis.shingles(TextAnalysis.tokens($"text"), n))
          .head().getSeq[String](0)
      }
    assert(edges === Seq(Seq("a b", "b a", "b c", "c a"), Seq(" foo", "foo bar", "bar "), Seq("z")))
    val nulls = Seq(Seq("a", null, "b")).toDF("toks")
      .select(TextAnalysis.shingles($"toks", 2)).head().getSeq[String](0)
    assert(nulls === Seq("a", "b"))
    intercept[IllegalArgumentException](TextAnalysis.shingles($"toks", 0))
  }

  test("tfidf top-k: hand-computed scores, rounded-score ranking, term tie-break") {
    // N=3; every term has df=2 → idf = ln(4/3)+1; round(·,6) = 1.287682
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "b b b c")).toDF("doc_id", "text")
    val out = TextAnalysis
      .tfIdfTopTerms(docs, k = 2)
      .orderBy($"doc_id", $"rank")
      .select($"doc_id", $"rank", $"term", $"tfidf")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    val idf1 = BigDecimal(math.log(4.0 / 3.0) + 1.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq === Seq(
      (1L, 1, "a", BigDecimal(2 * (math.log(4.0 / 3.0) + 1.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
      (1L, 2, "b", idf1),
      (2L, 1, "a", idf1), // tie with c → term ascending
      (2L, 2, "c", idf1),
      (3L, 1, "b", BigDecimal(3 * (math.log(4.0 / 3.0) + 1.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
      (3L, 2, "c", idf1)
    ))
  }

  test("normalize + fingerprint collapse case/punct/whitespace") {
    val fps = Seq("Hello,  World!", "hello world", "HELLO ... world")
      .toDF("text")
      .select(TextAnalysis.fingerprintMd5($"text").as("fp"))
      .collect()
      .map(_.getString(0))
    assert(fps.toSet.size === 1)
  }

  test("text stats on a known string") {
    val r = TextAnalysis
      .withTextStats(Seq((1L, "aa bb aa")).toDF("doc_id", "text"))
      .select("n_chars_c", "n_tokens", "n_distinct_tokens", "avg_token_len", "type_token_ratio")
      .collect()(0)
    assert(r.getInt(0) === 8)
    assert(r.getInt(1) === 3)
    assert(r.getInt(2) === 2)
    assert(r.getDouble(3) === 2.0)
    assert(r.getDouble(4) === 0.6667)
  }

  test("bpe-ish token count") {
    val r = Seq("ab 12 c.d").toDF("text")
      .select(TextAnalysis.bpeishTokenCount($"text")).collect()(0)
    assert(r.getInt(0) === 5) // ab, 12, c, ., d
  }

  test("lang id picks marker-dominant language, und when none") {
    val out = Seq(
      "the cat and the dog of the house",
      "el gato y el perro de la casa que",
      "der hund und die katze ist nicht da",
      "le chat et les chiens est une dans",
      "zzz qqq www"
    ).toDF("text")
      .select(TextAnalysis.langId(TextAnalysis.tokens($"text")).as("l"))
      .collect()
      .map(_.getString(0))
      .toSeq
    assert(out === Seq("en", "es", "de", "fr", "und"))
  }

  test("langId expression path ≡ the Column algebra on real corpus text + edge cases") {
    // the r16 one-token-walk expression (LangIdArgmax) must match the
    // documented when-chain algebra row for row: marker-order tie-break,
    // every-occurrence counting, "und" on no hits, "und" on NULL tokens
    val docs = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id", $"text")
      .unionByName(Seq(
        (900001L, "the el der le"),        // 4-way tie at 1 → first list order: en
        (900002L, "el el the the"),        // 2-way tie at 2 → en (list order)
        (900003L, ""),                     // "" tokenizes to [""] → und
        (900004L, null.asInstanceOf[String]) // NULL text → NULL toks → und
      ).toDF("doc_id", "text"))
    val both = docs.select(
      $"doc_id",
      TextAnalysis.langId(TextAnalysis.tokens($"text")).as("fast"),
      TextAnalysis.langIdHof(TextAnalysis.tokens($"text")).as("algebra"))
    assert(both.where($"fast" =!= $"algebra" || $"fast".isNull).count() === 0)
    val edges = both.where($"doc_id" >= 900001L).orderBy($"doc_id")
      .collect().map(_.getString(1)).toSeq
    assert(edges === Seq("en", "en", "und", "und"))
  }

  test("quality score ranges and orders sensibly") {
    val rows = Seq(
      "the quick brown fox jumps over the lazy dog and runs to the river in the morning",
      "$$$ ### @@@"
    ).toDF("text")
      .select(TextAnalysis.qualityScore($"text").as("q"))
      .collect()
      .map(_.getDouble(0))
    assert(rows.forall(q => q >= 0.0 && q <= 1.0))
    assert(rows(0) > rows(1))
  }

  test("char entropy: hand-computed distributions, uniform max, degenerate zero") {
    val out = Seq(
      "aaaa",     // one symbol -> H = 0
      "abab",     // two symbols uniform -> H = ln 2
      "abcd",     // four symbols uniform -> H = ln 4
      "aab"       // p = (2/3, 1/3) -> H = ln 3 - (2 ln 2)/3
    ).toDF("text")
      .select(TextAnalysis.charEntropy($"text").as("h"))
      .collect()
      .map(_.getDouble(0))
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    assert(out(0) === 0.0)
    assert(out(1) === r4(math.log(2)))
    assert(out(2) === r4(math.log(4)))
    assert(out(3) === r4(math.log(3) - 2.0 * math.log(2) / 3.0))
  }

  test("top token count: sorted-run fold equals true max multiplicity") {
    val out = Seq(
      "a b a c a b",     // a×3
      "x",               // single token
      "same same same"   // all identical
    ).toDF("text")
      .select(TextAnalysis.topTokenCount(TextAnalysis.tokens($"text")).as("c"))
      .collect()
      .map(_.getInt(0))
      .toSeq
    assert(out === Seq(3, 1, 3))
  }

  test("repetition stats: fractions on known constructions") {
    val out = TextAnalysis
      .withRepetitionStats(
        Seq(
          (1L, "a b a b a b"), // 2-grams: [a b, b a, a b, b a, a b] → 2 distinct of 5
          (2L, "u v w x y z")  // no repetition at all
        ).toDF("doc_id", "text")
      )
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out(1L) === ((0.5, 0.6, 0.5))) // top a=3/6; 3-grams: 2 distinct of 4
    assert(out(2L) === ((round4(1.0 / 6), 0.0, 0.0)))
  }

  private def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("vocab top-k: total occurrences (not df), cnt-desc then gram-asc ties") {
    val docs = Seq(
      (1L, "a b a b"), // "a b" x2, "b a" x1
      (2L, "a b c"),   // "a b", "b c"
      (3L, "b c")      // "b c"
    ).toDF("doc_id", "text")
    val out = TextAnalysis
      .topNgramVocab(docs, n = 2, k = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("a b", 3L), ("b c", 2L), ("b a", 1L)))
  }

  test("vocab top-k plans as TakeOrderedAndProject, never a global sort") {
    val plan = TextAnalysis
      .topNgramVocab(Seq((1L, "a b c")).toDF("doc_id", "text"), n = 2, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected heap top-k, got:\n$plan")
    assert(!plan.contains("Sort "), s"expected no full sort, got:\n$plan")
  }

  test("ngram novelty: first-occurrence counting in doc-id order") {
    val docs = Seq(
      (1L, "a b c d"),   // shingles {a b c, b c d} — both first here: novel 2/2
      (2L, "b c d e"),   // {b c d, c d e} — b c d seen in doc 1: novel 1/2
      (3L, "a b c d e"), // {a b c, b c d, c d e} — all seen: novel 0/3
      (4L, "x y")        // too short: 0 shingles, novelty NULL
    ).toDF("doc_id", "text")
    val out = TextAnalysis
      .ngramNovelty(docs, n = 3)
      .orderBy($"doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 2, 2L, 1000000L),
      (2L, 2, 1L, 500000L),
      (3L, 3, 0L, 0L),
      (4L, 0, 0L, -1L)
    ))
  }

  test("ngram novelty counts DISTINCT shingles (repeats inside a doc count once)") {
    val docs = Seq((1L, "a b c a b c a b c")).toDF("doc_id", "text")
    // distinct 3-shingles: {a b c, b c a, c a b} = 3, all novel
    val r = TextAnalysis.ngramNovelty(docs, n = 3).collect()(0)
    assert((r.getInt(1), r.getLong(2), r.getLong(3)) === ((3, 3L, 1000000L)))
  }

  /** Brute-force Mikolov phrase scores from plain Scala collections. */
  private def refCollocations(docs: Seq[String], delta: Long)
      : Map[(String, String), (Long, Long, Long, Long)] = {
    val tokd = docs.map(_.trim.split("\\s+").toSeq)
    val uni = tokd.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = tokd.map(_.size.toLong).sum
    tokd.flatMap(ts => ts.zip(ts.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case ((a, b), cp) =>
        val lift = math.max(cp - delta, 0L) * n * 1000L / (uni(a) * uni(b))
        (a, b) -> (cp, uni(a), uni(b), lift)
      }
  }

  test("collocations: exact parity with brute force; phrase flag splits; pairs never cross docs") {
    // "new york" co-occurs always (phrase); "the cat"/"the dog" are
    // independent fillers; delta=1 zeroes the single-occurrence pair.
    // Doc boundary: doc 1 ends in "york", doc 2 starts with "the" — the
    // bigram (york, the) must NOT exist.
    val docs = Seq(
      "new york is big new york wins the cup",
      "the cat saw the dog in new york",
      "rare pair"
    )
    val want = refCollocations(docs, delta = 1L)
    val got = TextAnalysis
      .collocations(docs.toDF("text"), delta = 1L, thresholdX1000 = 1500L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
      .toMap
    assert(got.keySet === want.keySet)
    assert(!got.contains(("york", "the")), "bigram crossed a document boundary")
    want.foreach { case (k, (cp, ca, cb, lift)) =>
      val (gcp, gca, gcb, glift, gphrase) = got(k)
      assert((gcp, gca, gcb, glift) === ((cp, ca, cb, lift)), s"drift at $k")
      assert(gphrase === (lift >= 1500L))
    }
    // contract branches all exercised: a phrase, a non-phrase, a
    // discount-zeroed pair
    assert(got(("new", "york"))._5, "new york should be a phrase")
    assert(got.values.exists(!_._5))
    assert(got(("rare", "pair"))._4 === 0L, "delta should zero a 1-count pair")
  }

  test("collocations: shuffle-join path (broadcastUnigrams=false) agrees with broadcast path") {
    val docs = (0 until 50).map(i => s"p${i % 5} q${i % 5} r${i % 7}")
    def run(b: Boolean) = TextAnalysis
      .collocations(docs.toDF("text"), delta = 0L, thresholdX1000 = 1000L, broadcastUnigrams = b)
      .orderBy($"w1", $"w2")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(5), r.getBoolean(6)))
      .toSeq
    assert(run(true) === run(false))
  }

  test("lmFluency: hand-computed conditional / backoff ppm, multiplicity weighting, short-doc NULL") {
    // reference: "a b a b c"  → N=5; uni a=2 b=2 c=1; big ab=2 ba=1 bc=1
    val ref = Seq((0L, "a b a b c")).toDF("doc_id", "text")
    val tgt = Seq(
      (1L, "a b a b"), // pairs ab×2 (hit, 1e6·2/2=1000000), ba×1 (hit, 1e6·1/2=500000)
      (3L, "c z b"),   // cz miss → backoff z: 0·400000/5 = 0; zb miss → backoff b: 2·400000/5=160000
      (5L, "a"),       // <2 tokens → 0 pairs, NULL score
      (7L, "b c")      // bc hit → 1e6·1/2 = 500000
    ).toDF("doc_id", "text")
    val out = TextAnalysis
      .lmFluency(ref, tgt)
      .orderBy($"doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 3L, 3L, (2L * 1000000L + 500000L) / 3L), // m-weighted mean: 833333
      (3L, 2L, 0L, (0L + 160000L) / 2L),            // both backoff: 80000
      (5L, 0L, 0L, -1L),                            // NULL fluency
      (7L, 1L, 1L, 500000L)
    ))
  }

  test("lmFluency: shuffle-model path agrees with broadcast; empty reference scores 0 not ÷0") {
    val ref = Seq((0L, "a b c a b")).toDF("doc_id", "text")
    val tgt = (1 to 40).map(i => (i.toLong, s"a b w$i c")).toDF("doc_id", "text")
    def run(b: Boolean) = TextAnalysis
      .lmFluency(ref, tgt, broadcastModel = b)
      .orderBy($"doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(run(true) === run(false))

    val emptyRef = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = TextAnalysis
      .lmFluency(emptyRef, Seq((1L, "x y z")).toDF("doc_id", "text"))
      .collect()
    assert(out.length === 1)
    assert(out(0).getLong(1) === 2L) // n_pairs
    assert(out(0).getLong(2) === 0L) // no hits
    assert(out(0).getLong(3) === 0L) // backoff over empty ref → 0, not an error
  }

  test("cross-doc dup-gram fraction: hand-computed ppm, sentinel, distinct semantics") {
    val docs = Seq(
      // docs 1/2 share "a b c" (their only 2-gram overlap is a b + b c);
      // with n=2: doc1 grams {a b, b c, c d}, doc2 grams {a b, b c, c e}
      (1L, "a b c d"),
      (2L, "a b c e"),
      (3L, "zz yy xx"), // grams {zz yy, yy xx} — unique
      (4L, "t"), // < n tokens → no grams → sentinel
      // self-repetition: doc 5's repeated gram is DISTINCT-collapsed and
      // shared with nobody — dup fraction 0 despite 3 internal copies
      (5L, "q r q r q r")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .crossDocDupGramFraction(docs, n = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) === ((3L, 2L, 666666L)))
    assert(out(2L) === ((3L, 2L, 666666L)))
    assert(out(3L) === ((2L, 0L, 0L)))
    assert(out(4L) === ((0L, 0L, -1L)))
    // doc 5: distinct grams {q r, r q} — both self-only → 0 dup
    assert(out(5L) === ((2L, 0L, 0L)))
  }

  test("cross-doc dup-gram fraction: a full duplicate scores 10^6; partitioning invariant") {
    val docs = (1L to 12L)
      .map(i => (i, if (i <= 2) "same text for both copies here" else s"unique$i words$i only$i here$i now$i"))
    def run(parts: Int) = graft.operators.TextAnalysis
      .crossDocDupGramFraction(docs.toDF("doc_id", "text").repartition(parts), n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val r1 = run(1)
    assert(r1(1L) === 1000000L && r1(2L) === 1000000L)
    assert((3L to 12L).forall(i => r1(i) === 0L))
    assert(r1 === run(8))
  }
}
