package graft

import org.apache.spark.sql.functions._
import graft.operators.Cluster

class ClusterSpec extends SparkSpec {
  import spark.implicits._

  test("connected components: chain needs multi-hop propagation") {
    // 1-2-3-4-5 chain plus disjoint 10-11; min label must travel 4 hops
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (10L, 11L))
      .toDF("a_id", "b_id")
    val comps = Cluster.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: clique and bridge merge into one component") {
    val clique = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val pairs = (clique :+ ((4L, 7L)) :+ ((7L, 9L))).toDF("a_id", "b_id")
    val comps = Cluster.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.values.toSet === Set(1L))
    assert(comps.keySet === Set(1L, 2L, 3L, 4L, 7L, 9L))
  }

  test("non-convergence at maxIters fails loudly instead of splitting components") {
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      Cluster.connectedComponents(chain, maxIters = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("maxIters = 1: round 1 alone converges only an edgeless graph") {
    // round 1 folds the initial self-labels into the first edge pass, so it
    // still counts as one iteration: any edge relabels its larger end there
    val edge = Seq((5L, 3L)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      Cluster.connectedComponents(edge, maxIters = 1).collect()
    }
    assert(e.getMessage.contains("did not converge in 1 iterations"))
    assert(Cluster.connectedComponents(edge, maxIters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(3L -> 3L, 5L -> 3L))
    val none = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Cluster.connectedComponents(none, maxIters = 1).count() === 0L)
    intercept[IllegalStateException](Cluster.connectedComponents(none, maxIters = 0))
  }

  test("job budget: connectedComponents labels and writes 120 near-dup cliques in ≤ 11 Spark jobs") {
    // the near-dup shape: cliques of 2 to 5 docs, so every label settles in
    // round 1 and round 2 sees no change
    val pairs = (0L until 120L).flatMap { c =>
      val v = (0L until 2L + c % 4).map(c * 10 + _)
      for (a <- v.indices; b <- a + 1 until v.size) yield (v(b), v(a))
    }.toDF("a_id", "b_id")
    val jobs = SparkSpec.jobsOf(
      Cluster.connectedComponents(pairs).write.format("noop").mode("overwrite").save())
    assert(jobs > 0 && jobs <= 11, s"connectedComponents ran $jobs Spark jobs")
    assert(Cluster.connectedComponents(pairs).where($"comp" =!= $"id" - $"id" % 10).count() === 0L)
  }

  test("near-dup clusters: exact + near dups share a component, canonical is min id") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the sleepy dog"),
      (4L, "completely different content about spark engines and parquet files")
    ).toDF("doc_id", "text")
    val out = Cluster.nearDupClusters(docs, n = 3, threshold = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // doc 4 shares nothing → not clustered; 0/1/3 form one component rooted at 0
    assert(out.map(_._1).toSet === Set(0L, 1L, 3L))
    assert(out.forall(_._2 == 0L))
    assert(out.collect { case (id, _, canon) if canon => id }.toSeq === Seq(0L))
  }

  test("canonical: per-cluster argmax by (score desc, id asc); singletons self-cluster") {
    val scored = Seq(
      (0L, 0.5), (1L, 0.9), (2L, 0.9), // cluster 0: tie at 0.9 → keep id 1
      (5L, 0.2), (6L, 0.8), // cluster 5: clear winner 6
      (9L, 0.1) // singleton: no comp row
    ).toDF("id", "score")
    val comps = Seq((0L, 0L), (1L, 0L), (2L, 0L), (5L, 5L), (6L, 5L)).toDF("id", "comp")
    val out = Cluster.canonical(scored, comps)
      .orderBy("comp_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out === Array(
      (0L, 1L, 0.9, 3L), // tie on score broken by LOWER id, not arrival
      (5L, 6L, 0.8, 2L),
      (9L, 9L, 0.1, 1L) // singleton keeps itself, n_members 1
    ))
  }

  test("star contraction ≡ label propagation on a mixed graph") {
    // cliques, bridges, a short chain, isolated pair, a self-loop pair —
    // permuted ids so component minima don't align with edge order
    val edges = Seq(
      (42L, 7L), (7L, 13L), (13L, 42L), // triangle, min 7
      (13L, 99L), (99L, 3L), // bridge chains triangle down to min 3
      (50L, 60L), (60L, 50L), // duplicate + reversed edge
      (8L, 8L), // self-loop only → singleton
      (21L, 20L)
    ).toDF("a_id", "b_id")
    val lp = Cluster.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Cluster.connectedComponentsStar(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === lp)
    assert(star(8L) === 8L)
    assert(star(42L) === 3L)
  }

  test("star contraction: 300-hop path converges in O(log n) rounds") {
    // a path over PERMUTED ids (i*7919 mod 3001 is a bijection on 0..3000's
    // subrange) so the min sits mid-path and label propagation would need
    // ~300 shuffle rounds; star contraction must finish within 15
    def p(i: Long): Long = (i * 7919L) % 3001L
    val path = (0L until 300L).map(i => (p(i), p(i + 1))).toDF("a_id", "b_id")
    val want = (0L to 300L).map(p).min
    val out = Cluster.connectedComponentsStar(path, maxIters = 15).collect()
    assert(out.length === 301)
    assert(out.forall(_.getLong(1) == want))
    // the same budget starves label propagation — diameter is 300
    val e = intercept[IllegalStateException] {
      Cluster.connectedComponents(path, maxIters = 15).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("star contraction works on string ids (lexicographic minima)") {
    val edges = Seq(
      ("beta", "alpha"), ("gamma", "beta"), // chain → root "alpha"
      ("zeta", "yankee")
    ).toDF("a_id", "b_id")
    val out = Cluster.connectedComponentsStar(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out === Map(
      "alpha" -> "alpha", "beta" -> "alpha", "gamma" -> "alpha",
      "yankee" -> "yankee", "zeta" -> "yankee"))
  }

  test("star contraction non-convergence fails loudly") {
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      Cluster.connectedComponentsStar(chain, maxIters = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  private def lpaMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("label propagation: barbell splits into density communities where CC merges them") {
    // two triangles {1,2,3} and {4,5,6} bridged by 3-4: one COMPONENT,
    // but plurality propagation stabilizes on two communities by round 3
    // (hand-traced: r1 {1→2,2→1,3→1,4→3,5→4,6→4}, r2 {1→1,2→1,3→1,
    // 4→4,5→3,6→3}, r3 {1,2,3 → 1; 4,5,6 → 3})
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .toDF("a_id", "b_id")
    assert(lpaMap(Cluster.labelPropagation(pairs, rounds = 3)) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    assert(Cluster.connectedComponents(pairs).collect().map(_.getLong(1)).toSet === Set(1L))
  }

  test("label propagation: round-0 identity, plurality beats min, ties break to smallest label") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a_id", "b_id")
    assert(lpaMap(Cluster.labelPropagation(pairs, rounds = 0)) ===
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    // star 0-1, 0-2, 0-3: round 1 — center sees {1,2,3} all count 1, tie
    // → smallest label 1; leaves each see only {0}
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a_id", "b_id")
    assert(lpaMap(Cluster.labelPropagation(star, rounds = 1)) ===
      Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    // plurality must beat a smaller minority label — checked against an
    // independent Scala reference fold of the same (count desc, label
    // asc) rule on a graph where both effects occur
    val edges = Seq((7L, 8L), (7L, 10L), (8L, 10L), (9L, 7L), (9L, 8L), (9L, 5L))
    val r2 = lpaMap(Cluster.labelPropagation(edges.toDF("a_id", "b_id"), rounds = 2))
    val bidir = (edges ++ edges.map(_.swap)).distinct
    var ref = bidir.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to 2) {
      ref = bidir.groupBy(_._1).map { case (n, es) =>
        val counts = es.map(e => ref(e._2)).groupBy(identity).view.mapValues(_.size)
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    assert(r2 === ref)
  }

  test("label propagation: synchronous 2-cycle on a lone edge is the contract, not a bug") {
    // bipartite oscillation (Raghavan et al. §3): a single edge swaps
    // labels every round — odd rounds crossed, even rounds back to self
    val pair = Seq(("x", "y")).toDF("a_id", "b_id")
    def run(r: Int) = Cluster.labelPropagation(pair, rounds = r)
      .collect().map(row => row.getString(0) -> row.getString(1)).toMap
    assert(run(1) === Map("x" -> "y", "y" -> "x"))
    assert(run(2) === Map("x" -> "x", "y" -> "y"))
  }

  test("label propagation: string labels and partitioning invariance") {
    val pairs = Seq(("b", "a"), ("c", "b"), ("a", "c"), ("x", "y"), ("y", "z"), ("z", "x2"))
      .toDF("a_id", "b_id")
    def run(p: Int) = Cluster.labelPropagation(pairs.repartition(p), rounds = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val one = run(1)
    assert(one === run(7))
    // the triangle {a,b,c} converges onto "a" by plurality
    assert(one("a") === "a" && one("b") === "a" && one("c") === "a")
  }
}
