package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Merge, Prioritizer, Watermarks}

/** Property tests (SURVEY.md §5.3): merge idempotence, commutativity
  * across disjoint sources, watermark monotonicity, priority totality.
  * Uses raw ScalaCheck generators with fixed seeds (deterministic, and
  * no scalatestplus bridge needed offline). */
class MergePropsSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = lit("2025-01-01 00:00:00").cast("timestamp")
  private val t1 = lit("2025-02-01 00:00:00").cast("timestamp")

  private val idGen = Gen.chooseNum(1, 30).map(n => s"CVE-2024-$n")
  private val deltaGen: Gen[Seq[(String, Double)]] =
    Gen.nonEmptyMap(Gen.zip(idGen, Gen.chooseNum(0.0, 1.0))).map(_.toSeq)

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("property: re-applying any delta is a no-op modulo updated_at (T4)") {
    samples(deltaGen, 8).foreach { rows =>
      val snap = Merge.init(rows.toDF("id", "epss"), t0)
      val delta = rows.toDF("id", "epss")
      val once = Merge.upsert(snap, delta, "id", t1)
      val twice = Merge.upsert(once, delta, "id", t1)
      assert(once.drop("updated_at").orderBy("id").collect().toSeq ==
             twice.drop("updated_at").orderBy("id").collect().toSeq,
             s"not idempotent for $rows")
    }
  }

  test("property: disjoint-column sources merge commutatively") {
    samples(Gen.zip(deltaGen, deltaGen), 8).foreach { case (a, b) =>
      val snap = Merge.init(Seq(("CVE-2024-1", "x")).toDF("id", "nvd"), t0)
      val da = a.toDF("id", "epss")
      val db = b.toDF("id", "kev_score")
      val ab = Merge.upsert(Merge.upsert(snap, da, "id", t1), db, "id", t1)
      val ba = Merge.upsert(Merge.upsert(snap, db, "id", t1), da, "id", t1)
      val ca = ab.select("id", "nvd", "epss", "kev_score").orderBy("id").collect().toSeq
      val cb = ba.select("id", "nvd", "epss", "kev_score").orderBy("id").collect().toSeq
      assert(ca == cb, s"not commutative for $a / $b")
    }
  }

  test("property: upsertMany == foldLeft(upsert), in one shuffle") {
    // Three sources: one shares a column with the snapshot (override
    // path), one shares with another delta (latest-wins path), one is
    // disjoint — plus random key overlap. Equality must hold exactly.
    samples(Gen.zip(deltaGen, deltaGen, deltaGen), 6).foreach { case (a, b, c) =>
      val snap = Merge.init(
        a.take(5).toDF("id", "epss"), t0) // snapshot already has epss
      val da = a.toDF("id", "epss")
      val db = b.toDF("id", "score")
      val dc = c.toDF("id", "score") // same column as db: later delta wins
      val deltas = Seq(da, db, dc)
      val folded = deltas.foldLeft(snap)(Merge.upsert(_, _, "id", t1))
      val fused = Merge.upsertMany(snap, deltas, "id", t1)
      assert(fused.columns.toSeq == folded.columns.toSeq)
      assert(fused.orderBy("id").collect().toSeq ==
             folded.orderBy("id").collect().toSeq,
             s"fused != folded for $a / $b / $c")
    }
    // The scale claim: ONE exchange for the whole N-way merge (the fold
    // pays one per join, on a growing intermediate).
    val snap = Merge.init(Seq(("k1", 0.5)).toDF("id", "epss"), t0)
    val fused = Merge.upsertMany(snap,
      Seq(Seq(("k1", 0.9)).toDF("id", "epss"),
          Seq(("k2", 1.0)).toDF("id", "score")), "id", t1)
    // (string count: AQE wraps the plan, hiding exchanges from collect)
    val plan = fused.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("property: watermark only moves forward under monotone upserts") {
    val dir = SparkSpec.tempDir("wmprop").toString + "/s"
    val times = (1 to 5).map(i => java.sql.Timestamp.valueOf(s"2025-01-0$i 00:00:00"))
    times.foreach { t =>
      Watermarks.upsert(spark, dir, "src", t)
      assert(Watermarks.lastUpdated(spark, dir, "src").get == t)
    }
  }

  test("property: priority is total over the threshold lattice (always 1..4)") {
    val caseGen = Gen.zip(
      Gen.option(Gen.const("kev")),
      Gen.chooseNum(-1.0, 11.0),
      Gen.option(Gen.chooseNum(-0.1, 1.1)))
    val rows = samples(caseGen, 40).map { case (kev, cvss, epss) =>
      (kev.orNull, cvss, epss.map(Double.box).orNull)
    }
    val out = rows.toDF("kev", "cvss", "epss")
      .select(Prioritizer.priority(col("kev"), col("cvss"), col("epss")).as("p"))
      .collect().map(_.getInt(0))
    assert(out.forall(p => p >= 1 && p <= 4))
    assert(out.length == rows.length)
  }
}
