package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * $SPARK_GRAFT_SF_DIR and prints one JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query is fully materialized through the `noop` sink — `count()`
  * would let Catalyst prune projections and undercount real work.
  *
  * Timing is REPEAT-MIN: each query runs `SPARK_GRAFT_BENCH_REPEAT`
  * times (default 2) and reports the minimum. A single cold measurement
  * in an 80+-query sequence conflates the query's cost with whatever
  * GC/JIT/cache residue the previous queries left behind (round 4: one
  * query printed 10.9× its warm cost in-sequence, ~1× in isolation);
  * min-of-2 bounds that interference at the cost of one extra run.
  * Between measurements the SQL cache is cleared and a GC cycle is
  * requested so the ContextCleaner can drop orphaned localCheckpoint
  * blocks from earlier queries — isolation, not warm-up manipulation
  * (queries manage their own persist lifecycles and never span runs).
  *
  * The CHECKPOINT-ITERATIVE entries (q98/q99: LSH pair pipeline +
  * multi-round localCheckpoint graph loops) get one extra repeat: their
  * first in-sequence measurement includes block-manager churn from
  * checkpoint allocation that min-of-2 was still letting through
  * (round-13 movers check flagged them drifting ±1.3× with no code
  * change; isolated Profile runs showed flat iter-2 times). Min-of-3
  * pins the steady state without touching what is measured.
  */
object Bench {

  /** Queries whose in-sequence cold run is dominated by checkpoint
    * block churn rather than the plan itself — benched with one extra
    * repeat so the reported min is the steady-state cost. */
  val ExtraRepeat: Set[String] = Set("q98_item_pairs", "q99_pagerank")

  /** Default steady-state PIN set (r17 verdict task 5): the heaviest
    * gate entries get two extra post-sequence measurements whose min is
    * emitted as a `pins` block next to the in-sequence map — the gate's
    * own Profile-pin record, so cross-round diffs can separate real
    * movement from in-sequence spread (r17's driver-vs-gate reads
    * differed 16% on identical code) without relitigating it. Override
    * with SPARK_GRAFT_BENCH_PINS (comma-separated, "none" to disable);
    * pins run only on FULL runs — a prefix-filtered local iteration
    * skips them. */
  val DefaultPins: Seq[String] = Seq(
    "q128_daily_loop_delete", "q118_stream_index_dedup",
    "q119_daily_loop_dedup", "q127_daily_loop_postings",
    "q137_ann_pq_chain8")
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "2").toInt.max(1)
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("WARN")

    // Warm the JVM/codegen once on the smallest table so the first timed
    // query doesn't pay one-time init costs.
    Tables.load(spark, sfDir, "region").write.format("noop").mode("overwrite").save()

    // Optional args = query-name prefixes, for iterating on a subset
    // locally (the driver passes none and benches everything).
    val prefixed =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => args.exists(k.startsWith) }
    // q31/q73 are deliberately-UNCAPPED all-pairs oracle anchors (their
    // capped LSH twins q32/q83 are the scale paths) — quadratic on a hot
    // shingle by design, so they bench only at oracle scale (sf ≤ 0.01);
    // above that they'd report a workload no deployment would run.
    // strict numeric token (sf0.1.bak must not parse as "0.1."), matched
    // against the sf directory's OWN name — a parent path component like
    // /srv/sf0.001-archive/sf1 must not decide the gate. An unparseable
    // name counts as big: skipping the anchors is the safe default and
    // is visible in the emitted `skipped` field.
    val sf = """sf(\d+(?:\.\d+)?)""".r
      .findFirstMatchIn(new java.io.File(sfDir).getName)
      .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption)
    val uncappedAnchors = Set("q31_dedup_jaccard", "q73_containment")
    val selected =
      if (sf.exists(_ <= 0.01)) prefixed
      else prefixed.removedAll(uncappedAnchors)
    val skipped = prefixed.keySet.diff(selected.keySet).toSeq.sorted
    val (results, failed) = run(spark, sfDir, selected, repeat)
    // a failed query's entry is null — never a fake 0.0 — and the total
    // sums only real measurements (ADVICE r19)
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(_.toString).getOrElse("null")
    }.mkString("{", ",", "}")
    val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sk = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    // the iterative entries run one extra repeat (ExtraRepeat) — emit
    // which, so the recorded methodology matches what was measured
    val er = ExtraRepeat.intersect(selected.keySet).toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // steady-state pins AFTER the sequence (see DefaultPins): min of 2
    // warm re-measurements per pinned query, full runs only
    val pinNames =
      if (args.nonEmpty) Seq.empty
      else sys.env.get("SPARK_GRAFT_BENCH_PINS")
        .map(_.split(",").map(_.trim).filter(n => n.nonEmpty && n != "none").toSeq)
        .getOrElse(DefaultPins)
        .filter(n => selected.contains(n) && !failed.contains(n))
    // a pin run that fails INDEPENDENTLY (the main sequence was green,
    // e.g. a transient OOM) must not land a bogus timing in the pins
    // JSON: destructure its failed list and omit the entry (ADVICE r18)
    val pinVals: Seq[(String, Double)] = pinNames.sorted.flatMap { name =>
      val (r, pf) = run(spark, sfDir, Map(name -> selected(name)), 2)
      if (pf.nonEmpty) {
        System.err.println(s"[bench] pin run for $name failed — omitted")
        None
      } else r.head._2.map(v => name -> v)
    }
    val pins = pinVals.map { case (n, v) => "\"" + n + "\":" + v }
      .mkString("{", ",", "}")
    // steadyTotal (r22, carrying out the r20 advice / r21 verdict task 1):
    // the headline total with each PINNED query's in-sequence measurement
    // replaced by its post-sequence steady-state pin — the number that
    // separates real plan movement from in-sequence machine spread
    // without hand arithmetic. Equals `value` exactly when no pins ran
    // (prefix-filtered runs, pins disabled).
    val inseq = results.toMap
    val steadyTotal = pinVals.foldLeft(total) { case (t, (n, v)) =>
      t - inseq.get(n).flatten.getOrElse(0.0) + v
    }
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fl,"skipped":$sk,"repeat":$repeat,"extraRepeat":$er,"pins":$pins,"steadyTotal":$steadyTotal,"sf":"$sfDir"}"""
    println(json)
    // Also land the line at a stable path, so a reader need not pick it
    // out of sbt's own output; a write failure must not fail the bench
    // itself.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    spark.stop()
  }

  /** Materialize every query through the noop sink `repeat` times; report
    * the per-query MINIMUM. A dead query lands in the returned `failed`
    * list so it is visible in the emitted JSON, not just on stderr —
    * otherwise it would report a (tiny) wall time and the round would
    * look green. Its per-query value is None (emitted as JSON null, not
    * a fake 0.0), so the headline total aggregates only REAL
    * measurements and a cross-round total diff cannot misread a failure
    * round as a speedup (ADVICE r19). */
  def run(spark: SparkSession, sfDir: String,
          queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
          repeat: Int = 2): (Seq[(String, Option[Double])], Seq[String]) = {
    val failed = scala.collection.mutable.ListBuffer[String]()
    val results = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      var best = Double.MaxValue
      var dead = false
      var i = 0
      val reps = if (ExtraRepeat(name)) repeat + 1 else repeat
      while (i < reps && !dead) {
        isolate(spark)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          // only a SUCCESSFUL materialization contributes a timing —
          // elapsed-until-exception is not a measurement (ADVICE r18)
          best = best.min((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          dead = true
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        i += 1
      }
      name -> (if (best == Double.MaxValue) None else Some(best))
    }
    (results, failed.toSeq)
  }

  /** Per-measurement isolation: drop any cached relations and nudge the
    * JVM so the ContextCleaner reclaims checkpoint blocks of frames that
    * went out of scope — the prior measurement's residue must not be
    * charged to (or subsidize) the next one. */
  private def isolate(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }
}
