package graft

/** Plan-regression guard: the scale claims SURVEY.md makes about the
  * flagship queries are physical-plan properties, and a refactor can
  * silently lose them while every value-level oracle stays green. This
  * suite pins the properties themselves:
  *
  *   - filters/limits push into the parquet scan where claimed;
  *   - the delta join stays broadcast (state is tail-300-bounded);
  *   - no oracled query ever degrades to a cartesian / nested-loop
  *     product, except the ones documented as verification joins over
  *     already-shrunk candidate sets.
  *
  * Uses sf0.001 so the whole sweep is seconds; plan SHAPE does not depend
  * on SF (AQE runtime re-planning can only improve on what's pinned here).
  */
class PlanGuardSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  test("q02 strike band reaches the scan as a pushed filter") {
    val p = plan("q02_band_filter")
    assert(p.contains("PushedFilters"), "no pushdown section in scan")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(
      pushed.contains("GreaterThanOrEqual(l_extendedprice") &&
        pushed.contains("LessThanOrEqual(l_extendedprice"),
      s"band not pushed: $pushed"
    )
  }

  /** Formatted plans of every query `body` executes, in order. */
  private def executedPlans(body: => Unit): Seq[String] =
    SparkSpec.queryExecutions(body)
      .map(_.explainString(org.apache.spark.sql.execution.FormattedMode))

  test("q13 delta join is broadcast, and the batch reads its source once") {
    val p = plan("q13_options_pipeline")
    assert(p.contains("BroadcastHashJoin"), "delta join lost its broadcast")
    // one parquet scan NODE over every query the batch executes — the
    // snapshot checkpoint and the main pass (the formatted detail section
    // lists each physical node once): a second scan node would mean the
    // policy pre-pass or the main pass re-reads the source (§8.4 lesson).
    val plans = executedPlans {
      SparkEntry.queries("q13_options_pipeline")(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    val scanNodes = plans.map("\\(\\d+\\) Scan parquet".r.findAllIn(_).size).sum
    assert(scanNodes === 1,
      s"expected 1 parquet scan node, saw $scanNodes in:\n${plans.mkString("\n")}")
  }

  test("column pruning: x03 text stats scans only (doc_id, text)") {
    val p = plan("x03_text_stats")
    val read = p.linesIterator.filter(_.trim.startsWith("ReadSchema")).mkString
    assert(read.contains("doc_id") && read.contains("text"), s"missing cols: $read")
    assert(!read.contains("lang") && !read.contains("source") && !read.contains("n_chars"),
      s"unpruned cols in scan: $read")
  }

  test("no oracled query plans a cartesian or nested-loop join (documented exceptions aside)") {
    // x09/x11/x41 brute-force paths legitimately cross the (tiny,
    // broadcast) query side against the corpus — that IS the documented
    // algorithm (x41 is x09's shape over dequantized SQ8 codes; x104's
    // exact miner is x87's all-pairs baseline with the root exclusion).
    // Every exempted surface's banded scale twin is ITSELF hash-oracled
    // since round 10 — x87 → x111 (knnGraphIntLsh), x104 → x112
    // (hardNegativesIntLsh), x11 → x113 (embeddingNearDupPairsIntLsh),
    // x09 → x91 (intLshTopK) — so the exemptions below cover only the
    // documented correctness BASELINES, not the production paths.
    // x117/x118 are the x41 posture over PQ codes: the brute scan over
    // the COMPRESSED corpus is the documented shape (compression is the
    // point; IVF/LSH banding composes in front unchanged — x118 only
    // swaps untrained codebooks for integer-Lloyd-trained ones).
    // x135/x144 are the retrieval-quality EVALs: x135's ANN side is
    // banded (query-sampled bucket join, no NLJ), but ground-truth
    // sides are definitionally brute force — a bounded query panel
    // broadcast onto the corpus (the x09 posture); an eval that only
    // scored LSH-found candidates would measure recall against itself,
    // and x144 compares exact panel top-k in TWO spaces by definition.
    val exempt = Set("x09_cosine_topk", "x11_embed_neardup", "x41_sq8_topk",
      "x87_knn_graph", "x104_hard_negatives", "x117_int_pq_adc",
      "x118_int_pq_trained", "x135_ann_recall", "x144_reduced_recall")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(exempt)
      .flatMap { n =>
        val p =
          try plan(n)
          catch { case e: Throwable => fail(s"$n failed to plan: ${e.getMessage}") }
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(n)
        else None
      }
    assert(offenders.isEmpty, s"cartesian/NLJ crept into: $offenders")
  }

  test("no oracled query funnels unbounded data through a single-partition exchange") {
    // Exchange SinglePartition means every row of its input flows through
    // ONE task — the q27 global-window scale-killer shape. Legitimate
    // single-reducer exchanges operate on already-bounded data:
    //   - q05: the tail-300 state read WindowGroupLimits each partition to
    //     ≤300 rows BEFORE its single reducer (pinned by its own test);
    //   - q13/q14: the options pipeline embeds the same tail-300 read.
    val exempt = Set("q05_snapshot_diff", "q13_options_pipeline", "q14_weekly_pipeline")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(exempt)
      .flatMap { n =>
        val p = plan(n)
        if (p.contains("Exchange SinglePartition")) Some(n) else None
      }
    assert(offenders.isEmpty, s"single-partition exchange crept into: $offenders")
  }

  test("q30 correlated subquery decorrelates to aggregate + join (no per-row subquery)") {
    val p = plan("q30_correlated")
    assert(!p.contains("ScalarSubquery"),
      "correlated scalar subquery survived to the physical plan — not decorrelated")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), "no aggregate in plan")
    assert(p.contains("Join"), "decorrelation should produce a join")
  }

  test("tail-300 state read window-limits each partition before the single-reducer exchange") {
    val p = plan("q05_snapshot_diff")
    assert(p.contains("WindowGroupLimit"), "rank<=N not pushed as WindowGroupLimit")
  }

  test("x75 candidate probe is a pinned BroadcastHashJoin with the delivery prefix as build side") {
    // incrementalClassifyIndexed's posture is delivery ≪ index: step 3
    // MUST probe the index postings map-side with the delivery prefix
    // broadcast. An AQE-decided sort-merge fallback would shuffle the
    // whole 100 TB postings frame, so the hint is explicit and this test
    // pins it: exactly one BroadcastHashJoin keyed on `sid`, BuildLeft
    // (the broadcast(dPrefix) side).
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idx = graft.operators.Dedup.buildNearDupIndex(
      docs.where(col("doc_id") < 100), n = 3, threshold = 0.5)
    val out = graft.operators.Dedup.incrementalClassifyIndexed(
      docs.where(col("doc_id") >= 100), idx)
    // simple mode keeps the join keys on the node line (formatted mode
    // moves them to a detail section), so the sid-keyed probe is greppable
    val p = out.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    val probes = p.linesIterator
      .filter(l => l.contains("BroadcastHashJoin") && l.contains("sid#"))
      .toSeq
    assert(probes.nonEmpty, s"x75 probe lost its broadcast pin:\n$p")
    assert(probes.forall(_.contains("BuildLeft")),
      s"x75 probe broadcasts the wrong side (index instead of delivery): $probes")
  }

  test("x91/x10 ANN candidate join broadcasts the QUERY side, never the corpus") {
    // lshTopK/intLshTopK posture is queries ≪ corpus: the bucket
    // candidate join MUST broadcast the exploded query side (BuildRight —
    // broadcast(q) is the right input) so the 100 TB corpus bucket frame
    // never exchanges. Both the integer twin (x91) and the float path
    // (x10) carry the pin.
    for (name <- Seq("x91_int_lsh_topk", "x10_ann_lsh")) {
      val p = SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      val cand = p.linesIterator
        .filter(l => l.contains("BroadcastHashJoin") &&
          l.contains("table_id#") && l.contains("bucket#"))
        .toSeq
      assert(cand.nonEmpty, s"$name candidate join lost its broadcast pin:\n$p")
      assert(cand.forall(_.contains("BuildRight")),
        s"$name broadcasts the corpus instead of the queries: $cand")
    }
  }

  test("x44 canonical selection is pure hash aggregation — no per-cluster window/sort") {
    // the argmax ships as max(struct(score, -id)) partial aggregates; a
    // refactor to row_number()-over-cluster would buffer whole clusters in
    // WindowExec and show up here
    val p = plan("x44_cluster_canonical")
    assert(!p.contains("(Window"), s"WindowExec crept into the canonical argmax")
  }

  test("x119 IVFADC probe join broadcasts the query side onto the code table") {
    // IVFADC's posture is probes ≪ codes: the list_id equi-join MUST
    // broadcast the exploded (query, probed-list) side so the corpus code
    // table — the 100 TB side, bucketed by list_id in a real deployment —
    // never exchanges. broadcast(probes) is the right input → BuildRight.
    val p = SparkEntry.queries("x119_ivf_pq_adc")(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    val probe = p.linesIterator
      .filter(l => l.contains("BroadcastHashJoin") && l.contains("list_id#"))
      .toSeq
    assert(probe.nonEmpty, s"x119 probe join lost its broadcast pin:\n$p")
    assert(probe.forall(_.contains("BuildRight")),
      s"x119 broadcasts the code table instead of the probes: $probe")
  }

  test("x121 encode joins the corpus explode against a BROADCAST segmentation table") {
    // the segmentation table is vocabulary-sized by construction; the
    // corpus's (doc, pos, word) explode — the 100 TB side — must never
    // exchange for the join. broadcast(seg) is the right input →
    // BuildRight.
    val p = SparkEntry.queries("x121_bpe_encode")(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    val joins = p.linesIterator.filter(_.contains("BroadcastHashJoin")).toSeq
    assert(joins.nonEmpty, s"x121 encode join lost its broadcast pin:\n$p")
    assert(joins.forall(_.contains("BuildRight")),
      s"x121 broadcasts the corpus side instead of the segmentation table: $joins")
  }

  test("x120 curation pipeline is exactly two exchanges (md5 dedup + source cap)") {
    // the composed pipeline's scale claim: map-side screens fuse into the
    // projections around two bounded window shuffles — a refactor that
    // sneaks in a join-back (e.g. recomputing flags on a separate branch)
    // or an extra repartition shows up as exchange #3
    val p = SparkEntry.queries("x120_curation_pipeline")(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    // dts() repartitions the scan (1) + md5 window (2) + source cap (3) +
    // the final orderBy's range exchange (4)
    assert(exchanges <= 4, s"exchange crept into the curation pipeline ($exchanges):\n$p")
    assert(!p.contains("Join"), s"join-back crept into the curation pipeline:\n$p")
  }

  test("x127 learned screen evaluates post-exchange, exactly once, above the dedup window") {
    // the r13 lesson: a text-only predicate pushes through a round-robin
    // repartition to the scan's few natural splits — 7.4 s of x127 wall
    // came from the model evaluating on 1-2 tasks. The dedup-first shape
    // parks the screen ABOVE the md5 window (whose partition key the
    // predicate doesn't reference, so pushdown stops there), post-
    // exchange, scoring each distinct text once. Pin: (a) the classifier
    // appears exactly once in the plan; (b) the scan-adjacent filter (if
    // any) does NOT contain it; (c) still zero joins.
    val p = plan("x127_ft_curation")
    // renders as ftbinarydots(text...) — once per dot the predicate reads
    val clsCount = "(?i)ftbinarydots\\(".r.findAllIn(p).size
    assert(clsCount >= 1, "classifier missing from the plan — the pin is vacuous")
    assert(clsCount <= 2, s"classifier expanded $clsCount times:\n${p.take(2000)}")
    // everything before the first exchange (tree overview + the scan
    // detail) must not carry the classifier
    val scanSection = p.split("\\(\\d+\\) Exchange")(0)
    assert(!scanSection.toLowerCase.contains("ftbinarydots"),
      s"classifier pushed below the spread exchange:\n${scanSection.take(2000)}")
    assert(!p.contains("Join"), "join crept into the learned-screen pipeline")
  }

  test("x133 uncertainty ranking is bounded top-k aggregation — no per-class window") {
    // 3 predicted classes: a row_number()-over-pred refactor would funnel
    // the scored corpus through 3 WindowExec tasks; the registered shape
    // keeps map-side partial top-k (≤ k rows per class per task) and
    // exchanges only the partials
    val p = plan("x133_uncertain_docs")
    assert(!p.contains("(Window"), s"WindowExec crept into the uncertainty top-k")
    assert(p.toLowerCase.contains("topkbylongscore"),
      "the bounded top-k aggregate is missing — the pin is vacuous")
    assert(!p.contains("Join"), "join crept into the uncertainty ranking")
  }
}
