package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f), 0),
    (2L, Array(0.9f, 0.1f, 0.0f), 0),
    (3L, Array(0.0f, 1.0f, 0.0f), 1),
    (4L, Array(0.0f, 0.95f, 0.05f), 1),
    (5L, Array(-1.0f, 0.0f, 0.0f), 0)
  ).toDF("vec_id", "embedding", "label")

  test("brute-force top-k ranks by cosine with id tie-break") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 1L), k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("cand_id")).toSeq == Seq(2L, 3L))
    val top = out.head.getAs[Double]("sim")
    assert(math.abs(top - 0.9 / math.sqrt(0.81 + 0.01)) < 1e-6) // float32 inputs
  }

  test("cell top-k only searches the query's cell") {
    val out = Similarity.cellTopK(vecs, vecs.filter($"vec_id" === 1L), k = 3)
      .collect()
    val cands = out.map(_.getAs[Long]("cand_id")).toSet
    assert(cands == Set(2L, 5L)) // label-0 cell only, self excluded
  }

  test("cell dup pairs finds within-cell near-dups above threshold") {
    val pairs = Similarity.cellDupPairs(vecs, 0.9)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
  }

  test("cell dup pairs: an over-grown cell leaves pairwise blocking") {
    import spark.implicits._
    // one 5-vector hot cell (label 0, all identical → all pairs qualify)
    // + a 2-vector cell with a real near-dup pair
    val hot = (1L to 5L).map(id => (id, Array.fill(4)(1.0f), 0))
    val ok = Seq((10L, Array(1.0f, 0.1f, 0f, 0f), 1),
                 (11L, Array(1.0f, 0.12f, 0f, 0f), 1))
    val corpus = (hot ++ ok).toDF("vec_id", "embedding", "label")
    val capped = Similarity.cellDupPairs(corpus, 0.9, maxCell = 4L)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((10L, 11L))) // C(5,2) hot-cell pairs dropped
    assert(Similarity.cellDupPairs(corpus, 0.9, maxCell = 0L).count() == 11L)
  }

  test("semDedup removes the later vector of each within-cell near-dup, keep-first") {
    val out = Similarity.semDedupRemovals(vecs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // (1,2) and (3,4) are near-identical and share a (refined) cell:
    // the HIGHER id of each pair is removed, with the lower as witness;
    // 5 is antipodal to its cell-mates and survives
    assert(out == Map(2L -> 1L, 4L -> 3L))
  }

  test("semDedup cap guard: an over-grown cell is excluded from pairwise work") {
    // 5 identical vectors (one degenerate cell, every pair cosine 1) +
    // a 2-vector near-dup cell; cap 4 must drop the hot cell's removals
    val hot = (1L to 5L).map(id => (id, Array.fill(4)(1.0f), 0))
    val ok = Seq((10L, Array(1.0f, 0.1f, 0f, 0f), 1),
                 (11L, Array(1.0f, 0.12f, 0f, 0f), 1))
    val corpus = (hot ++ ok).toDF("vec_id", "embedding", "label")
    val capped = Similarity.semDedupRemovals(corpus, 0.9, maxCell = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(capped == Map(11L -> 10L))
    val uncapped = Similarity.semDedupRemovals(corpus, 0.9, maxCell = 0L)
      .collect().map(_.getLong(0)).toSet
    assert(uncapped == Set(2L, 3L, 4L, 5L, 11L)) // keep-first: 1 survives
  }

  test("withAutoCells subdivides each label into ceil(pop/target) seed cells") {
    // label 0: 7 members with ids covering residues 0..3 (mod 4) →
    // target 2 ⇒ splits = ceil(7/2) = 4 distinct sub-cells; label 1:
    // 2 members ⇒ splits = 1, single cell = 1 * SplitCap
    val corpus = ((1L to 7L).map(id => (id, Array(1.0f, 0f), 0)) ++
      Seq((20L, Array(0f, 1.0f), 1), (21L, Array(0f, 1.0f), 1)))
      .toDF("vec_id", "embedding", "label")
    val cells = Similarity.withAutoCells(corpus, targetCell = 2L)
      .groupBy("label").agg(countDistinct($"auto_cell").as("k"),
                            collect_set($"auto_cell").as("cs"))
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(cells(0).getAs[Long]("k") == 4L)
    assert(cells(1).getAs[Long]("k") == 1L)
    assert(cells(1).getAs[scala.collection.Seq[Long]]("cs")
      == Seq(Similarity.SplitCap)) // 1 · SplitCap + (id mod 1 = 0)
  }

  test("withAutoCells with splits = 1 everywhere is the identity seeding") {
    // target ≥ every label's population ⇒ one sub-cell per label ⇒ the
    // refined dedup decision must equal the plain label-seeded path
    val plain = Similarity.semDedupRemovals(vecs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val auto = Similarity.semDedupRemovals(
        Similarity.withAutoCells(vecs, targetCell = 100L),
        0.9, cellCol = "auto_cell")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(auto == plain)
  }

  test("withAutoCells rejects a non-positive target") {
    intercept[IllegalArgumentException] {
      Similarity.withAutoCells(vecs, targetCell = 0L)
    }
  }

  test("withAutoCells fails loudly on cell ids outside the composable range") {
    // the composite encoding is cell * SplitCap + sub: a NEGATIVE cell
    // would break the truncating `div SplitCap` recovery (and diverge
    // from DuckDB's flooring //), and a cell past Long.MaxValue/SplitCap
    // would overflow into colliding/negative composites — both must
    // raise, not corrupt
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    val neg = Seq((1L, Array(1.0f, 0f), -3L), (2L, Array(1.0f, 0f), -3L))
      .toDF("vec_id", "embedding", "label")
    val e1 = intercept[Exception] {
      Similarity.withAutoCells(neg, targetCell = 10L).collect()
    }
    assert(msgs(e1).contains("composable range"))
    val huge = Seq((1L, Array(1.0f, 0f), Similarity.MaxSeedCell + 1L))
      .toDF("vec_id", "embedding", "label")
    val e2 = intercept[Exception] {
      Similarity.withAutoCells(huge, targetCell = 10L).collect()
    }
    assert(msgs(e2).contains("composable range"))
    // the top of the range still composes without overflow
    val top = Seq((1L, Array(1.0f, 0f), Similarity.MaxSeedCell))
      .toDF("vec_id", "embedding", "label")
    val cell = Similarity.withAutoCells(top, targetCell = 10L)
      .select("auto_cell").head().getLong(0)
    assert(cell == Similarity.MaxSeedCell * Similarity.SplitCap)
  }

  test("AutoKProbe's staged composition equals semDedupAutoKRemovals (drift pin)") {
    // the probe exists to attribute cost to the PRODUCTION stages; this
    // pin makes a drift between the two a failing test instead of a
    // silently-mistimed pipeline. Constants chosen so both auto layers
    // actually subdivide on the 50-vector fixture.
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val probe = graft.tools.AutoKProbe.removals(e, 2L, 3L, 0.4)(
      _ => df => df.localCheckpoint())
    val prod = Similarity.semDedupAutoKRemovals(e, 2L, 0.4, coarseTarget = 3L)
    assert(m(probe) == m(prod))
    assert(m(probe).nonEmpty, "the fixture must produce removals")
    // and with the work floor zeroed the LADDER engages on this fixture
    // (maxPop 50 > 3² with two stacked levels) — probe and production
    // must stay equal through the engaged recursion too
    val probeL = graft.tools.AutoKProbe.removals(e, 2L, 3L, 0.4,
      ladderRowsFloor = 0L)(_ => df => df.localCheckpoint())
    val prodL = Similarity.semDedupAutoKRemovals(e, 2L, 0.4,
      coarseTarget = 3L, ladderRowsFloor = 0L)
    assert(m(probeL) == m(prodL))
    assert(m(probeL).nonEmpty, "the engaged ladder must produce removals")
  }

  test("assignCellsAgg: the aggregated top-1 equals the window-based assignCells") {
    // same semantics, different plan: max over (sim, -cell) vs
    // row_number over (sim desc, cell asc) — must agree row for row,
    // including the sim value, on a real fixture
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val units = Similarity.unitVectors(e, Seq("vec_id" -> "id", "label" -> "cell"))
    val cents = Similarity.exactCentroids(units)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "assigned_cell", "cell_sim")
        .collect().map(_.toString).sorted.toSeq
    assert(rows(Similarity.assignCellsAgg(units, cents)) ==
           rows(Similarity.assignCells(units, cents)))
  }

  test("assignCellsWithinCoarse only scores a vector against its own coarse cell's sub-seeds") {
    // coarse cell 0 sub-seeds point along +x/+y, coarse cell 1 holds a
    // sub-seed IDENTICAL to the +x one. A +x vector in coarse cell 1
    // must take cell 1's sub-seed even though cell 0's scores the same;
    // a +y vector in coarse 1 must NOT reach coarse 0's +y seed — it
    // lands on cell 1's +x seed (the only one its coarse offers)
    val cents = Seq(
      (0L * Similarity.SplitCap + 0L, Array(1.0, 0.0)),
      (0L * Similarity.SplitCap + 1L, Array(0.0, 1.0)),
      (1L * Similarity.SplitCap + 0L, Array(1.0, 0.0))
    ).toDF("cell", "centroid")
    val units = Seq(
      (10L, 0L, Array(1.0, 0.0)), (11L, 0L, Array(0.0, 1.0)),
      (20L, 1L, Array(1.0, 0.0)), (21L, 1L, Array(0.0, 1.0))
    ).toDF("id", "coarse", "unit")
    val got = Similarity.assignCellsWithinCoarse(units, cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      10L -> 0L, 11L -> (0L * Similarity.SplitCap + 1L),
      20L -> (1L * Similarity.SplitCap + 0L),
      21L -> (1L * Similarity.SplitCap + 0L)))
    // and every assignment stays inside its coarse cell by construction
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val u = Similarity.unitVectors(e, Seq("vec_id" -> "id", "label" -> "cell"))
    val coarse = Similarity.assignCellsAgg(u, Similarity.exactCentroids(u))
      .select(col("id"), col("assigned_cell").as("coarse"))
    val seeded = Similarity.withAutoCells(
      u.select(col("id"), col("unit")).join(coarse, "id"),
      targetCell = 24L, idCol = "id", cellCol = "coarse", outCol = "scell")
    val subCents = Similarity.exactCentroids(
      seeded.select(col("scell").as("cell"), col("unit")), "cell", "unit")
    val crossers = Similarity.assignCellsWithinCoarse(seeded, subCents)
      .join(seeded.select("id", "coarse"), "id")
      .filter(expr(s"assigned_cell div ${Similarity.SplitCap}L") =!= col("coarse"))
    assert(crossers.count() == 0)
  }

  test("assignCellsWithinCoarse: broadcast hint OFF produces the identical relation") {
    // the hint is conditional on centroid count (an unconditional hint
    // would FAIL, not degrade, past Spark's broadcast hard limit at
    // 100 TB sub-seed counts); forcing it off (broadcastCap = 0) must
    // change only the physical join strategy — same rows, same
    // tie-breaks, same sims
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val u = Similarity.unitVectors(e, Seq("vec_id" -> "id", "label" -> "cell"))
    val coarse = Similarity.assignCellsAgg(u, Similarity.exactCentroids(u))
      .select(col("id"), col("assigned_cell").as("coarse"))
    // checkpointed: truncates withAutoCells' own broadcast(pops) hint
    // out of the lineage so the hint probe below sees ONLY the
    // within-coarse join's strategy
    val seeded = Similarity.withAutoCells(
      u.select(col("id"), col("unit")).join(coarse, "id"),
      targetCell = 8L, idCol = "id", cellCol = "coarse", outCol = "scell")
      .localCheckpoint()
    val subCents = Similarity.exactCentroids(
      seeded.select(col("scell").as("cell"), col("unit")), "cell", "unit")
      .localCheckpoint()
    def rows(cap: Long) =
      Similarity.assignCellsWithinCoarse(seeded, subCents, broadcastCap = cap)
        .collect().map(_.toString).sorted.toSeq
    assert(rows(0L) == rows(Similarity.BroadcastCentroidCap))
    // and the cap genuinely gates the HINT (the physical strategy is
    // then the planner's call — a tiny side may still auto-broadcast,
    // which is exactly the degrade-gracefully contract): under the cap
    // the optimized plan carries the broadcast hint; past it (cap 0
    // forces the "past" branch) no hint is pinned
    def hinted(cap: Long) = Similarity
      .assignCellsWithinCoarse(seeded, subCents, broadcastCap = cap)
      .queryExecution.optimizedPlan.toString.toLowerCase
      .contains("strategy=broadcast")
    assert(hinted(Similarity.BroadcastCentroidCap),
      "under the cap the centroid side must be hint-pinned broadcast")
    assert(!hinted(0L), "past the cap no broadcast hint may be pinned")
  }

  test("withAutoCells subdivides a NULL-label population under the data-derived sentinel") {
    // r17 left NULL labels riding the chain as ONE undivided cell (null
    // arithmetic); now they id-mod subdivide under sentinel = max(live
    // cell) + 1, written back into the label column so downstream
    // coarse-restricted joins see the same id the composite encodes
    val corpus = ((1L to 7L).map(id => (id, Array(1.0f, 0f), None)) ++
      Seq((20L, Array(0f, 1.0f), Some(0)), (21L, Array(0f, 1.0f), Some(0))))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.withAutoCells(corpus, targetCell = 2L)
      .localCheckpoint()
    // formerly-NULL rows: sentinel label 1, ceil(7/2) = 4 distinct cells
    val nulls = out.filter($"vec_id" <= 7L)
    assert(nulls.filter($"label".isNull).count() == 0)
    assert(nulls.select("label").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(nulls.select("auto_cell").distinct().count() == 4L)
    // sentinel cells live in 1·SplitCap.. — disjoint from label 0's cell
    val zeroCells = out.filter($"vec_id" >= 20L)
      .select("auto_cell").distinct().collect().map(_.getLong(0)).toSet
    assert(zeroCells == Set(0L * Similarity.SplitCap))
    assert(nulls.select("auto_cell").collect()
      .map(_.getLong(0)).forall(_ >= Similarity.SplitCap))
    // an all-NULL corpus gets sentinel 0, not a crash
    val allNull = Seq((1L, Array(1.0f, 0f), Option.empty[Int]),
                      (2L, Array(1.0f, 0f), Option.empty[Int]))
      .toDF("vec_id", "embedding", "label")
    val an = Similarity.withAutoCells(allNull, targetCell = 1L)
      .select("label", "auto_cell").collect()
    assert(an.map(_.getInt(0)).toSet == Set(0))
    assert(an.map(_.getLong(1)).toSet == Set(0L, 1L)) // 0·Cap + id mod 2
  }

  test("semDedupAutoK: a NULL-label population past maxCell subdivides and still dedups") {
    // the r17 residual this round closes: an all-NULL corpus used to
    // reach the pair stage as ONE cell, and past maxCell the
    // capPopulation guard dropped the WHOLE population (zero removals,
    // provably — 28 > 16). Under the sentinel it subdivides like any
    // labeled corpus, so the dupe clusters must dedup with the cap
    // still in force. Fixture: 4 orthogonal clusters of 7 near-identical
    // members (every within-cluster pair is a near-dup; Lloyd's
    // dupe-mass pull keeps the geometric re-assigns stable — singleton
    // twins would self-anchor instead, a k-means fixed point no seeding
    // could merge).
    val dim = 64
    def member(c: Int, m: Int): Array[Float] = {
      val a = Array.fill(dim)(0.0f)
      a(c) = 1.0f; a(8 + 4 * c + (m % 4)) = 0.002f + 0.001f * m
      a
    }
    val corpus = (for (c <- 0 until 4; m <- 0 until 7)
        yield ((c * 7 + m).toLong, member(c, m), Option.empty[Int]))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semDedupAutoKRemovals(corpus, targetCell = 6L,
        threshold = 0.99, maxCell = 16L, coarseTarget = 12L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.nonEmpty, "a NULL-only corpus past maxCell must still dedup")
    // every removal pairs within its own cluster, witness keep-first
    out.foreach { case (id, w) =>
      assert(w < id && w / 7 == id / 7, s"cross-cluster removal: $id <- $w")
    }
    // subdivision makes the dedup effective: each final cell keeps one
    // survivor, so with 4 clusters of 7 at least 16 of 28 must go
    assert(out.size >= 16, s"expected >= 16 removals, got ${out.size}: $out")
  }

  test("auto-C ladder: a population past coarseTarget² engages extra levels and stays correct") {
    // one label, 60 vectors, coarseTarget 2 → maxPop 60 > 2·2 > 4·2 →
    // the balance rule stacks subdivide→re-assign levels to the
    // MaxAutoCLevels cap; the dedup must stay correct through every
    // stacked geometric re-assign. Fixture: 6 orthogonal clusters of 10
    // near-identical members — removals must never cross clusters and
    // must collapse most of each cluster.
    val dim = 64
    def member(c: Int, m: Int): Array[Float] = {
      val a = Array.fill(dim)(0.0f)
      a(c) = 1.0f; a(8 + 5 * c + (m % 5)) = 0.002f + 0.001f * m
      a
    }
    val corpus = (for (c <- 0 until 6; m <- 0 until 10)
        yield ((c * 10 + m).toLong, member(c, m), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semDedupAutoKRemovals(corpus, targetCell = 4L,
        threshold = 0.99, coarseTarget = 2L, ladderRowsFloor = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    out.foreach { case (id, w) =>
      assert(w < id && w / 10 == id / 10, s"cross-cluster removal: $id <- $w")
    }
    // coarseTarget 2 caps the LEAF cells near pair size, so the dedup
    // granularity is ~one removal per surviving 2-member cell (measured
    // 18/60 here); the floor asserts every cluster still collapses
    assert(out.size >= 12, s"expected >= 12 removals, got ${out.size}: $out")
  }

  test("densifyCells relabels to dense 0-based ranks, order-preserved") {
    val a = Seq((1L, 7L), (2L, 3000000000L), (3L, 7L), (4L, 0L))
      .toDF("id", "coarse")
    val out = Similarity.densifyCells(a, "coarse")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 0L))
    // past the control gate the remap join is pinned SHUFFLED instead
    // of force-broadcast — same relabeling, different physical join
    val gated = Similarity.densifyCells(a, "coarse",
      cellsHint = Some(3L), maxControlRows = 1L)
    assert(gated.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == out)
    assert(gated.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("strategy=shuffle_hash"))
  }

  test("ladderTargets: the shared auto-C decision pins its boundaries") {
    import Similarity.{ladderTargets, MaxAutoCLevels}
    // the q143 gate point: sf0.01's coarse assign reads maxPop 66 of
    // N 500 — coarseTarget 5 with the floor zeroed decides EXACTLY two
    // levels (66 > 5² engages the second; a third would need > 125)
    assert(ladderTargets(66L, 500L, 5L, 0L) == List(25L, 5L))
    assert(ladderTargets(125L, 500L, 5L, 0L) == List(25L, 5L))
    assert(ladderTargets(126L, 500L, 5L, 0L) == List(125L, 25L, 5L))
    // balance rule: at or under coarseTarget² one level suffices
    assert(ladderTargets(25L, 500L, 5L, 0L) == List(5L))
    // the work floor blocks an extra level whose estimated scored
    // relation N × ceil(maxPop/t) can't clear it (division form)
    assert(ladderTargets(66L, 500L, 5L) == List(5L)) // default 64M floor
    assert(ladderTargets(66L, 500L, 5L,
      ladderRowsFloor = 500L * 14 - 1) == List(25L, 5L)) // 500·ceil(66/5)=7000
    assert(ladderTargets(66L, 500L, 5L, ladderRowsFloor = 500L * 14) == List(5L))
    // the level cap bounds the recursion gracefully
    assert(ladderTargets(Long.MaxValue / 2, 1L << 40, 5L, 0L).size ==
      MaxAutoCLevels)
    // the overflow guard stops target growth near Long.MaxValue
    assert(ladderTargets(Long.MaxValue / 2, 1L << 40, 1L << 40, 0L).size <=
      MaxAutoCLevels)
    // empty corpus: no levels beyond the base
    assert(ladderTargets(0L, 0L, 5L, 0L) == List(5L))
    intercept[IllegalArgumentException](ladderTargets(1L, 1L, 0L, 0L))
  }

  test("withAutoCells control gate: shuffled pops + 1-row sentinel equal the broadcast form") {
    // above MaxBroadcastControlRows the pops join is pinned shuffled
    // and the sentinel becomes a 1-row aggregate cross join — values
    // must be identical to the broadcast/global-window form, NULL
    // sentinel included
    val corpus = ((1L to 7L).map(id => (id, Array(1.0f, 0f), None)) ++
      Seq((20L, Array(0f, 1.0f), Some(0)), (21L, Array(0f, 1.0f), Some(0))))
      .toDF("vec_id", "embedding", "label")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "label", "auto_cell")
        .collect().map(_.toString).sorted.toSeq
    val below = Similarity.withAutoCells(corpus, targetCell = 2L)
    val above = Similarity.withAutoCells(corpus, targetCell = 2L,
      cellsHint = Some(2L), maxControlRows = 1L)
    assert(rows(above) == rows(below))
    // the gate genuinely switches the plan shape
    val planAbove = above.queryExecution.optimizedPlan.toString.toLowerCase
    assert(planAbove.contains("strategy=shuffle_hash"),
      "past the gate the pops join must be pinned shuffled")
    val planBelow = below.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!planBelow.contains("strategy=shuffle_hash"),
      "below the gate the control plan keeps the broadcast form")
    // a hint AT the gate keeps the broadcast plan (boundary inclusive)
    val atGate = Similarity.withAutoCells(corpus, targetCell = 2L,
      cellsHint = Some(1L), maxControlRows = 1L)
    assert(!atGate.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("strategy=shuffle_hash"))
    assert(rows(atGate) == rows(below))
  }

  test("withAutoCells without a hint leaves the pops join strategy to the planner") {
    // r19 verdict follow-up 2: only a hint <= the gate PROVES the
    // control relation broadcast-sized. Unhinted call sites no longer
    // force-broadcast — a future direct caller on a high-cardinality
    // cell column degrades to whatever the planner picks instead of
    // slamming into the 8 GiB broadcast hard limit
    val corpus = ((1L to 7L).map(id => (id, Array(1.0f, 0f), None)) ++
      Seq((20L, Array(0f, 1.0f), Some(0)), (21L, Array(0f, 1.0f), Some(0))))
      .toDF("vec_id", "embedding", "label")
    def pinned(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString.toLowerCase
        .contains("strategy=broadcast")
    val noHint = Similarity.withAutoCells(corpus, targetCell = 2L)
    val hinted = Similarity.withAutoCells(corpus, targetCell = 2L,
      cellsHint = Some(2L))
    assert(pinned(hinted), "a hint <= the gate must PIN the broadcast")
    assert(!pinned(noHint), "no hint must pin nothing — planner's call")
    // …and on a label-cardinality relation the planner still CHOOSES
    // broadcast at runtime (the no-hint plan is unchanged in practice)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "label", "auto_cell")
        .collect().map(_.toString).sorted.toSeq
    val got = rows(noHint)
    assert(noHint.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "AQE should still broadcast the tiny pops relation")
    assert(got == rows(hinted))
  }

  test("densifyCells above the gate ranks in parallel — identical to the window form") {
    // r19 verdict follow-up 3: past MaxBroadcastControlRows the
    // single-task DENSE_RANK window is replaced by range-repartition +
    // per-partition counts -> prefix offsets -> per-partition
    // row_number + offset. Fixture spans many range partitions
    // (shuffle.partitions=8 in SparkSpec-land or 32 — either way > 1
    // occupied), so the offset arithmetic is genuinely exercised.
    val rnd = new scala.util.Random(3)
    val cells = rnd.shuffle((0 until 100).map(i => i.toLong * 37L + 5L)).toSeq
    val a = cells.zipWithIndex.flatMap { case (c, i) =>
      Seq((i.toLong * 2L, c), (i.toLong * 2L + 1L, c)) // 2 rows per cell
    }.toDF("id", "coarse")
    val window = Similarity.densifyCells(a, "coarse")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parallel = Similarity.densifyCells(a, "coarse",
      cellsHint = Some(100L), maxControlRows = 1L)
    assert(parallel.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == window)
    // the relabel is the dense 0-based rank of the ORIGINAL cell value
    val sortedCells = cells.sorted.zipWithIndex
      .map { case (c, r) => c -> r.toLong }.toMap
    val byId = a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(window.forall { case (id, dto) => dto == sortedCells(byId(id)) })
    // corpus-side join stays pinned shuffled above the gate
    assert(parallel.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("strategy=shuffle_hash"))
  }

  test("densifyCells parallel rank: empty relation and NULL cells match the window form") {
    // the two edges the 100-cell fixture doesn't reach: an EMPTY input
    // (offsets relation empty — the join must yield empty, not throw)
    // and a NULL cell (post-sentinel none reach densify, but the
    // nulls-last tie-break contract must hold in BOTH plan shapes)
    val empty = Seq.empty[(Long, Long)].toDF("id", "coarse")
    assert(Similarity.densifyCells(empty, "coarse",
      cellsHint = Some(10L), maxControlRows = 1L).count() == 0L)
    assert(Similarity.densifyCells(empty, "coarse").count() == 0L)
    val withNull = Seq((1L, Some(7L)), (2L, None), (3L, Some(0L)), (4L, None))
      .toDF("id", "coarse")
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val win = got(Similarity.densifyCells(withNull, "coarse"))
    // nulls-last: 0 -> 0, 7 -> 1, NULL -> 2 (both NULL rows share it)
    assert(win == Map(1L -> 1L, 2L -> 2L, 3L -> 0L, 4L -> 2L))
    assert(got(Similarity.densifyCells(withNull, "coarse",
      cellsHint = Some(3L), maxControlRows = 1L)) == win)
  }

  test("withAutoCells fails loudly when the write-back cannot represent the sentinel") {
    // an Int label column maxed at Int.MaxValue plus NULLs: sentinel =
    // max+1 exceeds the type's ceiling — the write-back must raise, not
    // wrap to a colliding/negative id while the composite keeps the
    // correct long (r18 verdict watch 2)
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    val edge = Seq((1L, Array(1.0f, 0f), Some(Int.MaxValue)),
                   (2L, Array(1.0f, 0f), Option.empty[Int]))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[Exception] {
      Similarity.withAutoCells(edge, targetCell = 10L).collect()
    }
    assert(msgs(e).contains("cannot represent"))
    // without NULLs the same ceiling label round-trips fine
    val ok = Seq((1L, Array(1.0f, 0f), Int.MaxValue))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.withAutoCells(ok, targetCell = 10L)
      .select("label").head().getInt(0) == Int.MaxValue)
  }

  test("multi-probe IVFADC stays flat-ADC-equal on a NULL-labeled corpus") {
    // ADVICE r18: the probe tie-break is NULLS LAST and the probe/code
    // joins null-safe, so a NULL cell is a probeable population — with
    // nprobe >= |cells| (NULL cell included) the composed path must
    // still equal flat PQ-ADC bit for bit
    val withNull = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), Some(0)),
      (2L, Array(0.9f, 0.1f, 0.0f), Some(0)),
      (3L, Array(0.0f, 1.0f, 0.0f), Some(1)),
      (4L, Array(0.0f, 0.95f, 0.05f), None),
      (5L, Array(-1.0f, 0.0f, 0.0f), None)
    ).toDF("vec_id", "embedding", "label")
    val q = withNull.filter($"vec_id" <= 2L)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mp = ranked(Similarity.ivfPqTopKMultiProbe(withNull, q, k = 3,
      nprobe = 3, m = 1, subLen = 3, numCodes = 2, trainIters = 1))
    val flat = ranked(Similarity.pqTopK(withNull, q, k = 3,
      m = 1, subLen = 3, numCodes = 2, trainIters = 1))
    assert(mp == flat) // 3 cells exist (0, 1, NULL); probing all == flat
    // and with nprobe = 1 the NULL-cell population is still reachable:
    // query 5 (NULL cell) must find its NULL cell-mate
    val np1 = Similarity.ivfPqTopKMultiProbe(withNull,
        withNull.filter($"vec_id" === 5L), k = 3,
        nprobe = 1, m = 1, subLen = 3, numCodes = 2, trainIters = 1)
      .select("cand_id").collect().map(_.getLong(0)).toSet
    assert(np1.nonEmpty)
  }

  test("autoCLadder's returned cells bound covers the live cells it hands forward") {
    // the bound gates the NEXT withAutoCells' control plan, so it must
    // be a true upper bound on the refined assignment's distinct cells
    // (cells_in + N/t per level, clamped to N)
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val units = Similarity.unitVectors(e, Seq("vec_id" -> "id", "label" -> "cell"))
    val coarse0 = Similarity.assignCellsAgg(units, Similarity.exactCentroids(units))
      .select(col("id"), col("assigned_cell").as("coarse"))
      .localCheckpoint()
    for (ct <- Seq(3L, 100L)) {
      val (refined, bound) = Similarity.autoCLadder(units, coarse0, ct,
        ladderRowsFloor = 0L)()
      val live = refined.select("coarse").distinct().count()
      assert(live <= bound,
        s"coarseTarget $ct: live cells $live exceed the returned bound $bound")
      assert(bound <= coarse0.count(), "the bound must clamp to N")
    }
  }

  test("broadcastDecision sizes the pin by estimated bytes, not rows alone") {
    // ADVICE r17: the row cap assumed 64 double dims; the decision now
    // also estimates rows × dims × 8 so a wide-embedding centroid table
    // cannot be force-broadcast into executor OOM territory
    val cents = Seq((0L, Array.fill(64)(0.1)), (1L, Array.fill(64)(0.2)))
      .toDF("cell", "centroid")
    assert(Similarity.broadcastDecision(cents)) // 2 × 64 × 8 = 1 KiB
    assert(!Similarity.broadcastDecision(cents, maxBytes = 1023L))
    assert(!Similarity.broadcastDecision(cents, broadcastCap = 1L))
    assert(!Similarity.broadcastDecision(cents, broadcastCap = 0L))
    // empty relation: a decision, not a crash
    assert(Similarity.broadcastDecision(cents.filter(col("cell") < 0L)))
  }

  test("semDedupAutoK keeps NULL-label vectors in the dedup (null-safe chain)") {
    // a NULL label rides the whole chain as one NULL-id cell: NULL
    // coarse centroid, NULL composite seed/sub-seed ids, and a
    // null-safe pair join — its near-dups must still be removed, not
    // silently dropped at the first equi-join
    val withNull = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), Some(0)),
      (2L, Array(0.99f, 0.14f, 0.0f), Some(0)),
      (7L, Array(0.0f, 0.0f, 1.0f), None),
      (8L, Array(0.0f, 0.01f, 0.999f), None)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.semDedupAutoKRemovals(withNull, 100L, 0.9,
        coarseTarget = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(2L -> 1L, 8L -> 7L))
  }

  test("semDedupAutoK auto-C: coarseTarget >= every coarse population is the identity") {
    // one coarse sub-seed per coarse cell is a bijective relabeling
    // (coarse -> coarse * SplitCap), so the removals must equal the
    // coarseTarget = 0 path exactly — on the synthetic fixture and on
    // real data
    val sep = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0), (2L, Array(0.98f, 0.2f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 1), (4L, Array(0.0f, 0.97f, 0.05f), 1)
    ).toDF("vec_id", "embedding", "label")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(m(Similarity.semDedupAutoKRemovals(sep, 100L, 0.9, coarseTarget = 100L)) ==
           m(Similarity.semDedupAutoKRemovals(sep, 100L, 0.9)))
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    assert(m(Similarity.semDedupAutoKRemovals(e, 24L, 0.4, coarseTarget = 1000L)) ==
           m(Similarity.semDedupAutoKRemovals(e, 24L, 0.4)))
  }

  test("semDedupAutoK auto-C: the geometric coarse refine reunites id-mod-separated near-dups") {
    // ONE label, coarseTarget = 2 -> ceil(6/2) = 3 id-mod coarse seeds
    // that each MIX the +x and +y clusters (1,2 land in different
    // seeds); the restricted geometric re-assign must still converge
    // each cluster onto one refined coarse cell, so the planted pairs
    // (1,2) and (5,6) dedup — an arbitrary (non-geometric) coarse split
    // would wall 1 off from 2 forever
    val oneLabel = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0), (2L, Array(0.995f, 0.1f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0), (4L, Array(0.9f, 0.44f, 0.0f), 0),
      (5L, Array(0.44f, 0.9f, 0.0f), 0), (6L, Array(0.3f, 0.95f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.semDedupAutoKRemovals(oneLabel, 100L, 0.98,
        coarseTarget = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(2L -> 1L, 6L -> 5L))
  }

  test("semDedupAutoK: separated clusters with splits = 1 equal the plain label-seeded path") {
    // every label's members sit nearest their own label centroid and
    // populations are under targetCell, so the coarse layer is the
    // identity on labels and each coarse cell keeps ONE sub-seed — the
    // removals must equal semDedupRemovals' (cell ids differ by the
    // SplitCap encoding, which the output doesn't expose)
    val sep = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0), (2L, Array(0.98f, 0.2f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 1), (4L, Array(0.0f, 0.97f, 0.05f), 1)
    ).toDF("vec_id", "embedding", "label")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(m(Similarity.semDedupAutoKRemovals(sep, 100L, 0.9)) ==
           m(Similarity.semDedupRemovals(sep, 0.9)))
  }

  test("semDedupAutoK: the GEOMETRIC coarse assign catches a mislabeled near-dup") {
    // id 5 duplicates cluster 1's geometry but carries label 0: the
    // coarse layer must assign by GEOMETRY (nearest label-seeded
    // centroid), not by the raw label — a coarse = label shortcut would
    // wall 5 off from 3/4 before any sub-seed Lloyd could recover it,
    // since the restricted assign never crosses coarse cells
    val sep = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0), (2L, Array(0.98f, 0.2f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 1), (4L, Array(0.0f, 0.97f, 0.05f), 1),
      (5L, Array(0.0f, 0.99f, 0.01f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.semDedupAutoKRemovals(sep, 100L, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.get(5L).contains(3L),
      s"mislabeled near-dup must be removed with the min-id witness: $out")
  }

  test("native graft_dot is bit-identical to the ordered HOF fold") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val both = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .limit(2000)
      .select(Similarity.dot(col("a.v"), col("b.v")).as("native"),
              Similarity.foldDot(col("a.v"), col("b.v")).as("fold"))
    assert(both.filter(col("native") =!= col("fold")).count() == 0)
  }

  test("SRP near-dup pairs: exact subset with near-perfect recall on planted dups") {
    // 40 well-separated base vectors + a planted near-identical twin for
    // the first 10 (cosine ≥ 0.999): SRP must report ONLY true pairs
    // (sims verified exactly, so precision is structural) and, at this
    // similarity, find every planted twin — deterministic planes make
    // this a fixed outcome, not a flaky probabilistic bound.
    val dim = 64
    def base(i: Int): Array[Float] = {
      val a = Array.fill(dim)(0.0f)
      // orthogonal-ish: two disjoint hot coordinates per vector
      // secondary weight distinct per i: exact symmetric geometries
      // produce EXACTLY tied centroid scores that a twin's perturbation
      // breaks differently from its base (observed: both sides of a tie
      // at 0.25) — varied weights keep every margin ≫ the perturbation
      a(i % dim) = 1.0f; a((i * 7 + 13) % dim) = 0.2f + 0.01f * i
      a
    }
    val planted = (0 until 10).map { i =>
      val t = base(i).clone(); t((i * 3 + 29) % dim) += 0.02f
      (100L + i, t)
    }
    val rows = (0 until 40).map(i => (i.toLong, base(i))) ++ planted
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.srpDupPairs(df, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 10).map(i => (i.toLong, 100L + i)).toSet.subsetOf(got))
    // nothing below threshold sneaks in: verify stage is exact
    val sims = Similarity.srpDupPairs(df, threshold = 0.99)
      .collect().map(_.getAs[Double]("sim"))
    sims.foreach(s => assert(s >= 0.99))
  }

  test("SRP planes are deterministic integers in [-1000, 1000]") {
    val p1 = Similarity.srpPlanes(48, 64)
    val p2 = Similarity.srpPlanes(48, 64)
    assert(p1 == p2)
    assert(p1.flatten.forall(w => w >= -1000 && w <= 1000 && w == w.floor))
  }

  test("unit vectors have norm 1 (fold math sanity)") {
    val u = Similarity.unitVectors(vecs, Seq("vec_id" -> "id"))
    val norms = u.select(Similarity.norm(col("unit")).as("n")).collect().map(_.getDouble(0))
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-12))
  }

  test("multi-probe IVF with nprobe = all cells equals brute force") {
    val units = Similarity.unitVectors(vecs, Seq("vec_id" -> "id", "label" -> "cell"))
    val cents = Similarity.exactCentroids(units, "cell", "unit")
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mp = ranked(Similarity.cellTopKMultiProbe(
      vecs, vecs.filter($"vec_id" === 1L), cents, k = 4, nprobe = 2))
    val bf = ranked(Similarity.bruteForceTopK(
      vecs, vecs.filter($"vec_id" === 1L), k = 4))
    assert(mp == bf) // 2 cells exist; probing both == exhaustive search
  }

  test("kmeansRefineExact and kmeansRefine produce the same assignment") {
    val units = Similarity.unitVectors(
      Tables.load(spark, "/root/testdata/sf0.001", "embeddings"),
      Seq("vec_id" -> "id", "label" -> "cell"))
    val init = Similarity.exactCentroids(units, "cell", "unit")
    def assigns(c: org.apache.spark.sql.DataFrame) =
      Similarity.assignCells(units, c).select("id", "assigned_cell")
        .collect().map(r => (r.getLong(0), r.get(1))).toMap
    // decimal-exact and double-buffer centroids agree on where every
    // vector lands (same Lloyd fixed point; ulp noise far below any
    // assignment margin on this fixture)
    assert(assigns(Similarity.kmeansRefineExact(units, init, 1)) ==
           assigns(Similarity.kmeansRefine(units, init, 1)))
  }

  test("multi-probe IVFADC with nprobe >= all cells equals flat PQ-ADC") {
    // the q89 recall dial on the composed path: probing every cell
    // makes the coarse restriction vacuous, so the ranking must equal
    // the flat ADC scan bit for bit (same books, same LUT sums, same
    // tie-breaks) — and nprobe=1 must stay a legal restriction
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mp = ranked(Similarity.ivfPqTopKMultiProbe(e, q, k = 3, nprobe = 10))
    val flat = ranked(Similarity.pqTopK(e, q, k = 3))
    assert(mp == flat) // 10 labels exist; probing all == no restriction
    val np1 = Similarity.ivfPqTopKMultiProbe(e, q, k = 3, nprobe = 1)
    assert(np1.count() > 0)
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKMultiProbe(e, q, k = 3, nprobe = 0)
    }
  }

  test("ivfPqTopK restricts candidates to the query's cell") {
    val out = Similarity.ivfPqTopK(vecs, vecs.filter($"vec_id" === 1L), k = 3,
        m = 1, subLen = 3, numCodes = 2, trainIters = 1)
      .collect()
    assert(out.nonEmpty)
    val cands = out.map(_.getAs[Long]("cand_id")).toSet
    assert(cands.subsetOf(Set(2L, 5L))) // label-0 cell only, self excluded
  }

  test("own-cell probes: a NULL cell matches nothing, not even NULL") {
    // cellTopK and ivfPqTopK keep an equi-join's semantics on the cell:
    // a NULL-labeled query has no cell to search, and a NULL-labeled
    // candidate is in no query's cell — even though 4 and 5 are the
    // nearest vectors to query 1 and cell-mates of each other
    val withNull = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), Some(0)),
      (2L, Array(0.9f, 0.1f, 0.0f), Some(0)),
      (3L, Array(0.0f, 1.0f, 0.0f), Some(1)),
      (4L, Array(0.95f, 0.05f, 0.0f), None),
      (5L, Array(0.97f, 0.03f, 0.0f), None)
    ).toDF("vec_id", "embedding", "label")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def ivfPq(q: org.apache.spark.sql.DataFrame) = Similarity.ivfPqTopK(
      withNull, q, k = 3, m = 1, subLen = 3, numCodes = 2, trainIters = 1)
    val nullQ = withNull.filter($"vec_id" === 4L)
    assert(Similarity.cellTopK(withNull, nullQ, k = 3).count() == 0L)
    assert(ivfPq(nullQ).count() == 0L)
    val labeledQ = withNull.filter($"vec_id" === 1L)
    assert(pairs(Similarity.cellTopK(withNull, labeledQ, k = 3)) == Set((1L, 2L)))
    assert(pairs(ivfPq(labeledQ)) == Set((1L, 2L)))
  }

  test("srpDupPairs fails loudly on an embedding dim mismatch") {
    // vecs are dim 3; the default dim=64 must raise, not silently zero
    // sign bits via zip_with null-padding
    val ex = intercept[Exception] {
      Similarity.srpDupPairs(vecs, threshold = 0.5).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) ""
      else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    assert(msgs(ex).contains("dim mismatch"))
  }

  test("srpDupPairs bucket guard drops degenerate over-populated buckets") {
    import spark.implicits._
    // 10 identical vectors: every (band, bkey) bucket holds all 10
    val dup = (1L to 10L).map(i => (i, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val guarded = Similarity.srpDupPairs(dup, 0.9, dim = 8, maxBucket = 5L).count()
    assert(guarded == 0L) // every bucket over cap -> no candidates
    val unguarded = Similarity.srpDupPairs(dup, 0.9, dim = 8, maxBucket = 0L).count()
    assert(unguarded == 45L) // guard off: all C(10,2) pairs verify
  }

  test("parseMaxControlRows: valid override, malformed fallback, absent default") {
    val dflt = 4L * 1000 * 1000
    assert(Similarity.parseMaxControlRows(None) == dflt)
    assert(Similarity.parseMaxControlRows(Some("123")) == 123L)
    assert(Similarity.parseMaxControlRows(Some(" 42 ")) == 42L)
    // malformed values fall back LOUDLY to the default instead of
    // surfacing as an ExceptionInInitializerError for the whole object
    assert(Similarity.parseMaxControlRows(Some("not-a-long")) == dflt)
    assert(Similarity.parseMaxControlRows(Some("")) == dflt)
    assert(Similarity.parseMaxControlRows(Some("1e6")) == dflt)
  }
}
