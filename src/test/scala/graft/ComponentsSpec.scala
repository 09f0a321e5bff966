package graft

import org.apache.spark.sql.functions._
import graft.dedup.{Components, Dedup}
import org.scalacheck.Gen

/**
 * Connected components (large-star/small-star) + near-dup clustering.
 * Reference semantics for every case: a driver-side union-find.
 */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side union-find oracle: (id → min id of its component). */
  private def unionFindComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  test("clique + chain + isolated pair resolve to min-id components") {
    // clique {1,2,3}, 6-link chain {10..16} (exercises multi-round
    // convergence — diameter 6), pair {100,101}
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (1, 3),
      (10, 11), (11, 12), (12, 13), (13, 14), (14, 15), (15, 16),
      (101, 100))
    val got = run(edges)
    assert(got === unionFindComponents(edges))
    assert(got(3) === 1L && got(16) === 10L && got(101) === 100L)
  }

  test("result is independent of edge order, direction, and duplication") {
    val edges = Seq[(Long, Long)]((5, 9), (9, 2), (7, 8), (8, 7), (2, 5))
    val expected = unionFindComponents(edges)
    assert(run(edges) === expected)
    assert(run(edges.reverse.map(_.swap) ++ edges) === expected)
  }

  test("empty and self-loop-only inputs produce no components") {
    assert(run(Seq.empty[(Long, Long)]).isEmpty)
    assert(run(Seq[(Long, Long)]((4, 4), (9, 9))).isEmpty)
  }

  test("property: matches driver-side union-find on random graphs") {
    // deterministic seeded sampling of the generator (plain ScalaCheck — no
    // scalatestplus bridge in the offline cache); 12 graphs × 40 edges
    val edgeGen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 24L), Gen.choose(0L, 24L)))
    val seed0 = org.scalacheck.rng.Seed(42L)
    Iterator.iterate(seed0)(_.next).take(12).foreach { seed =>
      val raw = edgeGen(Gen.Parameters.default, seed).get
      val edges = raw.filter { case (a, b) => a != b }
      // BOTH paths against the oracle: the default (size gate → driver
      // union-find at these sizes) AND the forced distributed loop — so the
      // fast path can never drift from star-contraction unnoticed
      assert(run(edges) === unionFindComponents(edges))
      val distributed = Components.connectedComponents(
          edges.toDF("id_a", "id_b"), smallEdgeLimit = 0L)
        .as[(Long, Long)].collect().toMap
      assert(distributed === unionFindComponents(edges))
    }
    // mixed int/long ids: both paths widen to bigint (the driver path once
    // typed its output from the int column and failed to encode the rows)
    val mixed = Seq((1, 2L), (2, 3L), (10, 11L)).toDF("id_a", "id_b")
    Seq(100000L, 0L).foreach { limit =>
      val cc = Components.connectedComponents(mixed, smallEdgeLimit = limit)
      assert(cc.schema.map(_.dataType.simpleString) === Seq("bigint", "bigint"))
      assert(cc.as[(Long, Long)].collect().toMap ===
        unionFindComponents(Seq((1L, 2L), (2L, 3L), (10L, 11L))))
    }
  }

  test("convergence costs at most 2 actions per round (checksum, not count+count+except)") {
    // r5 ran ss.count + edges.count + except.isEmpty — three shuffling
    // actions — EVERY round; the checksum convergence runs one agg per
    // round plus one final except when the checksum matches. A 16-node
    // chain needs several star-contraction rounds, so the per-round job
    // count dominates: pin a total budget of 2 setup jobs + 2 jobs/round
    // + the one-time final except (≤ 4 jobs under AQE).
    val chain = (0L until 15L).map(i => (i, i + 1))
    val group = s"cc-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "cc job-count probe")
    // smallEdgeLimit = 0 forces the DISTRIBUTED star-contraction loop (the
    // size gate would otherwise resolve a 15-edge graph on the driver)
    val got = try Components.connectedComponents(chain.toDF("id_a", "id_b"),
        smallEdgeLimit = 0L)
        .as[(Long, Long)].collect().toMap
      finally spark.sparkContext.clearJobGroup()
    val n = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    assert(got === unionFindComponents(chain), "chain must resolve to one component")
    val rounds = Components.lastRounds.get()
    assert(rounds >= 2, s"sanity: a 16-chain needs several rounds, got $rounds")
    // Per round the new shape runs TWO actions: the small-star eager
    // checkpoint (a 4-shuffle plan → ~5 AQE stage-jobs) and the checksum agg
    // (~2); the r5 shape added the large-star checkpoint + edges.count +
    // except.isEmpty ≈ +6 jobs/round. Budget: 9 jobs/round + 12 fixed
    // (init distinct+sig, one final except, output collect) — the old shape
    // blows this by ~50% on any multi-round input.
    assert(n <= 9 * rounds + 12,
      s"connectedComponents ran $n jobs over $rounds rounds — " +
      "convergence regressed toward the 3-actions/round shape")
  }

  test("string ids cluster by lexicographic min") {
    val got = Components.connectedComponents(
        Seq(("doc-b", "doc-a"), ("doc-b", "doc-c")).toDF("id_a", "id_b"))
      .as[(String, String)].collect().toMap
    assert(got === Map("doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a"))
  }

  test("nearDupClusters groups transitively; nearDupDedup keeps min survivor + singletons") {
    // 3-shingles over 8 tokens → 6 shingles/doc. J(1,2) = 5/7 ≥ 0.5,
    // J(2,3) = 4/8 = 0.5 EXACTLY (the epsilon-guarded threshold boundary),
    // J(1,3) = 3/9 < 0.5 — only the transitive closure puts all three in
    // one cluster
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh"),
      (2L, "aa bb cc dd ee ff gg xx"),
      (3L, "yy zz cc dd ee ff gg xx"),
      (4L, "totally unrelated content about spark engines and parquet files")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        shingleK = 3, minJaccard = 0.5, forceExact = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)))
    assert(!pairs.contains((1L, 3L))) // below threshold — transitivity needed

    val clusters = Components.nearDupClusters(docs, "text", "doc_id",
        shingleK = 3, minJaccard = 0.5, forceExact = true)
      .as[(Long, Long)].collect().toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))

    val kept = Components.nearDupDedup(docs, "text", "doc_id",
        shingleK = 3, minJaccard = 0.5, forceExact = true)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept === Seq(1L, 4L)) // cluster survivor + untouched singleton
  }
}
