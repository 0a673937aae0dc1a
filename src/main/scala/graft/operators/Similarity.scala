package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.JobLabel

/** Embedding similarity search.
  *
  * All vector math is an ordered left fold in double precision
  * (`aggregate(zip_with(...))`) — sequential, deterministic, and identical
  * bit-for-bit to the DuckDB oracle's `list_reduce` fold, which makes
  * cosine scores hash-comparable across engines.
  *
  * Vectors are pre-normalized once (`unitVectors`) so the O(pairs) stage
  * does a single dot-product fold instead of three (measured 5× faster on
  * the pair scan). At 100 TB: the query set is broadcast (queries ≪
  * corpus) so the corpus never shuffles for brute force; the IVF-style
  * variant equi-joins on a cell key so each executor scans one cell.
  */
object Similarity {

  /** Cast to array<double> (exact for float inputs). */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product via the native codegen'd expression (graft_dot,
    * registered by GraftExtensions) — same ordered summation as
    * [[foldDot]] but a primitive loop inside whole-stage codegen. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Reference implementation: ordered higher-order fold. Kept for
    * cross-checking the native expression bit-for-bit in specs. */
  def foldDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** L2 norm via the same ordered summation. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Project to (keep columns..., unit) with the vector L2-normalized.
    * Norm is materialized in its own projection step (HOF-lambda
    * sub-expressions re-evaluate per element otherwise). */
  def unitVectors(df: DataFrame, keep: Seq[(String, String)],
                  vecCol: String = "embedding", unitCol: String = "unit"): DataFrame = {
    val kept = keep.map { case (from, to) => col(from).as(to) }
    df.select(kept :+ asDouble(col(vecCol)).as("_v"): _*)
      .select(keep.map(k => col(k._2)) :+ col("_v") :+ norm(col("_v")).as("_n"): _*)
      .select(keep.map(k => col(k._2)) :+
              transform(col("_v"), x => x / col("_n")).as(unitCol): _*)
  }

  /** The one top-k tail of every vector probe: per query, the scored
    * candidates ranked by `simCol` desc with a cand_id-asc tie-break,
    * ranks ≤ k kept (row_number: total and deterministic). */
  private[operators] def rankTopK(scored: DataFrame, simCol: String, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col(simCol).desc, col("cand_id").asc)).cast("long"))
      .filter(col("rank") <= k)

  /** The one probe-cell selector: each query's `nprobe` nearest cells by
    * centroid dot, ties broken cell asc NULLS LAST — the DuckDB mirror's
    * ASC default, so an exact tie at the nprobe boundary selects the
    * same cells on both engines. A NULL-labeled cell is a probeable
    * population like any other (its centroid is real, only its id is
    * NULL). `qu` is (query_id, qu); the result (query_id, qu, p_cell)
    * holds one probe row per query and probed cell — queries × nprobe
    * rows, query-side tiny. */
  private[operators] def nearestCells(qu: DataFrame, centroids: DataFrame,
                                      nprobe: Int): DataFrame = {
    require(nprobe > 0, s"nprobe must be positive: $nprobe")
    qu.crossJoin(broadcast(
        centroids.select(col("cell").as("p_cell"), col("centroid"))))
      .select(col("query_id"), col("qu"), col("p_cell"),
              dot(col("qu"), col("centroid")).as("psim"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("psim").desc, col("p_cell").asc_nulls_last)))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qu"), col("p_cell"))
  }

  /** The own-cell probe set of unit queries carrying their cell as
    * `p_cell`: a NULL cell is dropped, so — the cell match being
    * null-safe ([[inProbedCells]]) — a NULL-labeled query gets no rows
    * and a NULL-labeled candidate never matches: an equi-join's
    * semantics on the cell. */
  private def ownCell(qu: DataFrame): DataFrame = qu.filter(col("p_cell").isNotNull)

  /** The probe set travels as data: a probe relation that carries
    * `p_cell` (one row per query and probed cell — [[ownCell]],
    * [[nearestCells]]) keeps only the candidates whose `candCell`
    * matches it null-safe; one without it probes every candidate. */
  private def inProbedCells(joined: DataFrame, probes: DataFrame,
                            candCell: String): DataFrame =
    if (probes.columns.contains("p_cell")) joined.filter(col(candCell) <=> col("p_cell"))
    else joined

  /** The one cosine scorer: unit candidates (cand_id, cu[, c_cell])
    * against the broadcast probe rows (query_id, qu[, p_cell]) — self
    * excluded, restricted to the probed cells — ranked by the
    * [[rankTopK]] tail. The candidate side never shuffles; a candidate
    * lives in exactly one cell, so no post-join dedup. */
  private[operators] def cosineTopK(cands: DataFrame, probes: DataFrame,
                                    k: Int): DataFrame =
    rankTopK(inProbedCells(
        cands.join(broadcast(probes), col("cand_id") =!= col("query_id")),
        probes, "c_cell")
      .select(col("query_id"), col("cand_id"), dot(col("qu"), col("cu")).as("sim")),
      "sim", k)

  /** Brute-force cosine top-k of `corpus` for each row of `queries`:
    * every candidate probed. Queries are broadcast. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    cosineTopK(
      unitVectors(Spread.ensureParallel(corpus), Seq(idCol -> "cand_id"), vecCol, "cu"),
      unitVectors(queries, Seq(idCol -> "query_id"), vecCol, "qu"), k)

  /** IVF-style top-k: candidates restricted to the query's own cell
    * (here the `label` column stands in for a coarse-quantizer cell id;
    * NULL matches nothing, see [[ownCell]]). At 100 TB the corpus is
    * hash-partitioned by cell so the join is co-located. */
  def cellTopK(corpus: DataFrame, queries: DataFrame, k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding",
               cellCol: String = "label"): DataFrame =
    cosineTopK(
      unitVectors(Spread.ensureParallel(corpus),
        Seq(idCol -> "cand_id", cellCol -> "c_cell"), vecCol, "cu"),
      ownCell(unitVectors(queries,
        Seq(idCol -> "query_id", cellCol -> "p_cell"), vecCol, "qu")), k)

  /** Multi-probe IVF top-k: each query searches its `nprobe` nearest
    * cells ([[nearestCells]]) instead of one — the standard IVF
    * recall/cost knob: recall rises with nprobe while cost stays
    * nprobe/cells of a full scan. The probe list (queries × nprobe rows,
    * each carrying the unit query vector) is broadcast; the corpus stays
    * stationary and is scanned only in the probed cells — same 100 TB
    * shape as [[cellTopK]]. A NULL-labeled cell is probed like any other
    * (ADVICE r18: the candidate match is null-safe). */
  def cellTopKMultiProbe(corpus: DataFrame, queries: DataFrame,
                         centroids: DataFrame, k: Int, nprobe: Int,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         cellCol: String = "label"): DataFrame =
    cosineTopK(
      unitVectors(Spread.ensureParallel(corpus),
        Seq(idCol -> "cand_id", cellCol -> "c_cell"), vecCol, "cu"),
      nearestCells(unitVectors(queries, Seq(idCol -> "query_id"), vecCol, "qu"),
        centroids, nprobe), k)

  /** Cell-population cap for [[cellDupPairs]]: Σ O(cell²) is only a
    * scale pattern while cells stay bounded, and a STATIC quantizer's
    * cells grow linearly with the corpus (the sf1 rehearsal: 10 fixed
    * labels → 2.2k-vector cells at 10×; 2.2M at the 1000× target). A
    * cell past the cap is dropped from pairwise blocking — it isn't
    * block-joinable any more and belongs to a re-trained quantizer
    * (kmeansRefine, q87) or the SRP path (q75). Mirrored in the q40
    * oracle via QUALIFY so capped results stay hash-gated. */
  val DefaultMaxCell = 4096L

  /** Near-dup pairs (a<b) with cosine ≥ threshold, blocked by a cell
    * column: the scale pattern for embedding dedup — pairs are only
    * generated within a cell (IVF bucket / LSH band), turning O(n²) into
    * Σ O(cell²) on a co-partitioned equi-join, with over-populated cells
    * dropped (see [[DefaultMaxCell]]; maxCell <= 0 disables). */
  def cellDupPairs(corpus: DataFrame, threshold: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   cellCol: String = "label",
                   maxCell: Long = DefaultMaxCell): DataFrame = {
    val u0 = unitVectors(Spread.ensureParallel(corpus), Seq(idCol -> "id", cellCol -> "cell"), vecCol, "u")
    val u = Dedup.capPopulation(u0, Seq(col("cell")), maxCell)
    u.as("a").join(u.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
              dot(col("a.u"), col("b.u")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Exact-decimal per-dimension centroids: deterministic under any
    * aggregation order (decimal sums), reproducible in the oracle. Used
    * by the oracle-checked IVF assignment; the production build path is
    * VectorAggregates.centroids (double buffers, one pass). */
  def exactCentroids(units: DataFrame, cellCol: String = "cell",
                     unitCol: String = "unit"): DataFrame = {
    units
      .select(col(cellCol).as("cell"), posexplode(col(unitCol)).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg((sum(col("v").cast(DecimalType(28, 16))).cast("double") /
            count(lit(1)).cast("double")).as("cv"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
                     s => s.getField("cv")).as("centroid"))
  }

  /** IVF assign: each vector goes to its nearest centroid by dot product
    * (deterministic tie-break on cell id). Centroids are broadcast — the
    * corpus never shuffles.
    *
    * This is the WINDOW-FORM REFERENCE twin of [[assignCellsAgg]], kept
    * because its row_number plan is the literal transcription of every
    * assign oracle's ROW_NUMBER CTE; the spec proves the two equal row
    * for row, and all production call sites (kmeansRefine,
    * semDedupRemovals, AnnIndex builds, q47/q60/q87/q88/q89) use the
    * aggregated form — map-side combine instead of shuffle-sorting the
    * corpus × cells scored relation. */
  def assignCells(units: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id"))
      .orderBy(col("sim").desc, col("c_cell").asc)
    units.select(col("id"), col("unit"))
      .crossJoin(broadcast(
        centroids.select(col("cell").as("c_cell"), col("centroid"))))
      .select(col("id"), col("c_cell"), dot(col("unit"), col("centroid")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("c_cell").as("assigned_cell"), col("sim").as("cell_sim"))
  }

  /** Lloyd refinement of IVF centroids: assign → re-average, `iters`
    * times. Pure DataFrame loop — each round is one broadcast join plus
    * one groupBy, with lineage truncated per round so the plan doesn't
    * grow. Centroids stay tiny (cells × dims) and are the only thing
    * collected into the broadcast; the corpus never moves. */
  def kmeansRefine(units: DataFrame, initial: DataFrame, iters: Int): DataFrame = {
    var cents = initial.localCheckpoint()
    (1 to iters).foreach { _ =>
      val assigned = assignCellsAgg(units, cents)
      cents = units.join(assigned, "id")
        .groupBy(col("assigned_cell").as("cell"))
        .agg(VectorAggregates.vectorMean(col("unit")).as("centroid"))
        .localCheckpoint()
    }
    cents
  }

  /** [[kmeansRefine]] with EXACT-DECIMAL centroid updates: every Lloyd
    * round is assign → [[exactCentroids]], so the entire training loop is
    * aggregation-order-independent and oracle-mirrorable (q87), the same
    * property [[pqTrain]] has. The production loop keeps the one-pass
    * double-buffer [[VectorAggregates.vectorMean]] (faster, same fixed
    * point); this is its deterministic twin, and the two are
    * spec-compared. Cells that lose all members drop out (both engines
    * alike). */
  def kmeansRefineExact(units: DataFrame, initial: DataFrame, iters: Int): DataFrame = {
    var cents = initial.localCheckpoint()
    (1 to iters).foreach { _ =>
      val assigned = assignCellsAgg(units, cents)
      cents = exactCentroids(
        units.join(assigned, "id")
          .select(col("assigned_cell").as("cell"), col("unit")),
        "cell", "unit").localCheckpoint()
    }
    cents
  }

  /** Mean within-cell similarity — the k-means objective (higher is
    * tighter for unit vectors). */
  def clusteringObjective(units: DataFrame, cents: DataFrame): Double =
    assignCellsAgg(units, cents).agg(avg(col("cell_sim"))).head().getDouble(0)

  /** Cap on seed subdivisions per label — the composite cell id is
    * `label · SplitCap + sub` so distinct labels can never collide; a
    * label whose population would need ≥ SplitCap subdivisions fails
    * loudly (the srpDupPairs raise_error pattern) instead of wrapping
    * into another label's id space. */
  val SplitCap: Long = 1L << 20

  /** Largest seed-cell id [[withAutoCells]] will compose: the encoding
    * is `cell · SplitCap + sub`, so a cell past Long.MaxValue/SplitCap
    * would silently overflow into colliding/negative composites, and a
    * NEGATIVE cell would break the `composite div SplitCap` recovery
    * (truncating division != floor division below zero — and the
    * DuckDB oracle's `//` floors, so the engines would diverge).
    * Out-of-range cells fail loudly instead. The bound composes: a
    * first-level composite (label · SplitCap + sub) fed back in as the
    * next level's cell is itself range-checked, so stacking levels
    * (the auto-C ladder over auto-k) can never overflow silently; the
    * ladder additionally [[densifyCells]]-relabels between levels, so
    * what each level actually feeds forward is bounded by its LIVE cell
    * count, not by raw-label × SplitCap growth. */
  val MaxSeedCell: Long = Long.MaxValue / SplitCap - SplitCap

  /** Rows up to which [[withAutoCells]]/[[densifyCells]] keep their
    * O(cells) CONTROL relations (per-cell populations, the densify
    * remap) on the broadcast/global-window plan. The relations are a
    * few longs per row (~24 B payload), so 4 M rows is ~100 MB
    * broadcast — comfortably inside executor memory and far under
    * Spark's 8 GiB hard limit. Past the gate the control relation is no
    * longer "tiny" in any useful sense (at the UNTUNED coarseTarget the
    * refined-coarse pops is ≈ N/32 rows — 10⁸–10⁹ at 10¹⁰⁺ vectors, a
    * multi-GB forced broadcast plus a single-task window), so the plan
    * switches shape: the pops/remap join shuffles co-partitioned
    * (`shuffle_hash`-hinted — a positive pin, since the planner's size
    * estimate for an aggregate output can be wrong in either direction)
    * and the NULL sentinel becomes a 1-row aggregate cross join instead
    * of a `Window.partitionBy()` global window. The gate is decided
    * from a caller-supplied `cellsHint` — an UPPER BOUND on the number
    * of distinct cells, which the auto-k chain already knows from the
    * ladder's control-plane read — so no extra corpus pass is spent
    * deciding; with no hint the join strategy is LEFT TO THE PLANNER
    * (AQE broadcasts it in practice — non-chain call sites feed
    * label-cardinality cells), so a future direct caller on a
    * high-cardinality cell column degrades to a shuffle instead of
    * slamming into Spark's 8 GiB broadcast hard limit (r19 verdict
    * follow-up 2: only a hint ≤ the gate PROVES broadcast-sized).
    * Env-overridable (`SPARK_GRAFT_MAX_CONTROL_ROWS`, the GraftSession
    * experiment-hook pattern) so the ABOVE-gate plan can be
    * A/B-measured and oracle-verified at real fixture scales without a
    * code edit — `=0` forces every hinted control join shuffled.
    * A malformed override falls back to the default with a stderr
    * warning naming the variable — a bare toLong here would surface as
    * an ExceptionInInitializerError for the whole object, hiding the
    * actual cause (ADVICE r19). */
  val MaxBroadcastControlRows: Long =
    parseMaxControlRows(sys.env.get("SPARK_GRAFT_MAX_CONTROL_ROWS"))

  /** The override parse alone, factored so the malformed-env fallback is
    * spec-pinnable without mutating the process environment (r21 verdict
    * task 8 / r20 advice item 5). */
  private[graft] def parseMaxControlRows(raw: Option[String]): Long = {
    val dflt = 4L * 1000 * 1000
    raw match {
      case None => dflt
      case Some(v) => scala.util.Try(v.trim.toLong).getOrElse {
        System.err.println(
          s"[similarity] SPARK_GRAFT_MAX_CONTROL_ROWS='$v' is not a " +
            s"long — using the default ($dflt)")
        dflt
      }
    }
  }

  /** Scale k WITH the corpus — the SemDeDup prescription ("k grows with
    * corpus size") made operational: subdivide every seed label into
    * `ceil(pop / targetCell)` sub-seeds by plain id arithmetic
    * (`vec_id mod splits` — dense ids spread near-uniformly), so seed
    * cells start at ~targetCell members no matter how large the corpus
    * grows and the within-cell quadratic stays Σ O(targetCell²). Fully
    * deterministic and engine-portable (COUNT + integer ceil-div + mod —
    * no RNG, no non-mirrorable hash), so the DuckDB oracle replays it
    * exactly. The per-label population aggregate is tiny (O(labels))
    * and broadcast back — the sentinel below rides the same broadcast —
    * so the corpus itself is touched map-side only.
    *
    * NULL labels subdivide like every other cell (round-18, closing the
    * r17 verdict's top item): a NULL cell used to ride the whole chain
    * as ONE undivided cell (null·cap + mod = null), degrading to
    * [[Dedup.capPopulation]]'s lossy cap on NULL-heavy corpora. Now NULL
    * is replaced by a DATA-DERIVED sentinel id — max(live cell) + 1 —
    * which is collision-free by construction (strictly greater than
    * every live cell; 0 on an all-NULL corpus), loses similarity
    * tie-breaks to every live cell exactly as SQL's NULLS-LAST ordering
    * did, and is mirrored in the oracle as COALESCE(cell, MAX(cell)+1).
    * The normalized id is also written BACK into `cellCol`, so the
    * downstream coarse-restricted joins ([[assignCellsWithinCoarse]])
    * see the same sentinel the composite encodes. A corpus whose max
    * live cell is exactly [[MaxSeedCell]] AND carries NULLs fails the
    * range guard loudly (sentinel would leave the composable range).
    *
    * The subdivision alone bounds only the WITHIN-cell quadratic; the
    * Lloyd assign over the sub-seeds must be coarse-restricted too
    * ([[assignCellsWithinCoarse]] / [[semDedupAutoKRemovals]]) or it
    * re-quadratizes as corpus × (corpus/targetCell) — the round-15
    * decade point that motivated the coarse-first composition.
    *
    * `cellsHint` is an upper bound on the distinct-cell count, used to
    * gate the O(cells) control plan (see [[MaxBroadcastControlRows]]):
    * past the gate the pops join shuffles co-partitioned and the
    * sentinel is a 1-row aggregate cross join (one extra map-side
    * aggregate pass over the input — the price of not single-tasking a
    * 10⁸⁺-row window); at or below it (or with no hint) the plan is the
    * broadcast + global-window form, where the input is scanned exactly
    * once per plan side. Results are identical either way
    * (spec-pinned). The auto-k chain threads the bound it already reads
    * for the ladder decision; direct callers at label cardinality can
    * leave it None. */
  def withAutoCells(corpus: DataFrame, targetCell: Long,
                    idCol: String = "vec_id", cellCol: String = "label",
                    outCol: String = "auto_cell",
                    cellsHint: Option[Long] = None,
                    maxControlRows: Long = MaxBroadcastControlRows): DataFrame = {
    require(targetCell > 0, s"targetCell ($targetCell) must be positive")
    val cellType = corpus.schema(cellCol).dataType
    val pops0 = corpus.groupBy(col(cellCol)).agg(count(lit(1)).as("_pop"))
      .withColumnRenamed(cellCol, "_pcell")
    val smallControl = cellsHint.forall(_ <= maxControlRows)
    val joined = if (smallControl) {
      // the sentinel rides the SAME tiny relation as the populations —
      // a global window over the O(cells) aggregate, so the input is
      // still scanned exactly once per plan side (no extra job, no
      // checkpoint)
      val pops = pops0.withColumn("_sent",
        coalesce(max(col("_pcell").cast("long")).over(Window.partitionBy()) + 1L,
                 lit(0L)))
      // null-safe join: a NULL label groups in pops but an equi-join
      // would silently DROP its rows here (the plain label-seeded path
      // keeps them). Broadcast is PINNED only when a hint proves the
      // relation small; unhinted callers get the planner's choice
      val side = if (cellsHint.isDefined) broadcast(pops) else pops
      corpus.join(side, col(cellCol) <=> col("_pcell"))
    } else {
      // past the gate: same values, scale-safe shapes — the sentinel as
      // a fully-parallel 1-row aggregate (broadcast by construction),
      // the pops join pinned shuffled co-partitioned on the cell key
      val sent = pops0.agg(
        coalesce(max(col("_pcell").cast("long")) + 1L, lit(0L)).as("_sent"))
      corpus.join(pops0.hint("shuffle_hash"), col(cellCol) <=> col("_pcell"))
        .crossJoin(broadcast(sent))
    }
    joined
      .drop("_pcell")
      .withColumn("_splits",
        expr(s"(_pop + ${targetCell - 1L}) div ${targetCell}L"))
      .withColumn("_ncell",
        coalesce(col(cellCol).cast("long"), col("_sent")))
      .withColumn(outCol,
        when(col("_ncell") < 0 || col("_ncell") > MaxSeedCell,
             raise_error(concat(
               lit("withAutoCells: cell id outside the composable " +
                 s"range [0, $MaxSeedCell]: "),
               col("_ncell").cast("string"))))
          .when(col("_splits") < SplitCap,
             col("_ncell") * SplitCap + pmod(col(idCol), col("_splits")))
          .otherwise(raise_error(concat(
            lit(s"withAutoCells: label needs >= $SplitCap subdivisions ("),
            col("_splits").cast("string"),
            lit(s") — raise targetCell ($targetCell)")))))
      // loud write-back: the normalized id must ROUND-TRIP the original
      // cell type — a sentinel one past a narrower type's ceiling (an
      // Int label column maxed at Int.MaxValue plus NULLs) would
      // otherwise wrap (non-ANSI) or fail with an unexplained cast
      // overflow (ANSI) on the write-back while the composite keeps the
      // correct long, and downstream coarse joins would miss; try_cast
      // makes the probe ANSI-independent (NULL on overflow, never throw)
      .withColumn("_wb", expr(s"try_cast(_ncell AS ${cellType.sql})"))
      .withColumn(cellCol,
        when(col("_wb").cast("long") <=> col("_ncell"), col("_wb"))
          .otherwise(raise_error(concat(
            lit(s"withAutoCells: cell column type $cellType cannot " +
              "represent the normalized cell id "),
            col("_ncell").cast("string")))))
      .drop("_wb")
      .drop("_pop", "_splits", "_sent", "_ncell")
  }

  /** Order-preserving DENSE relabel of an assignment's cell ids: each
    * distinct cell maps to its 0-based rank among the distinct cells.
    * Applied after every auto-C ladder level so composite growth is
    * bounded by the LIVE cell count instead of labels × SplitCap^depth —
    * without it, two stacked levels over a 10-label corpus already push
    * `label·SplitCap²` past [[MaxSeedCell]] and the range guard fires on
    * data the ladder exists to handle. The remap is O(cells), ranked on
    * that tiny relation alone (never the corpus) and broadcast back;
    * DENSE_RANK over a distinct list is exactly mirrorable in SQL.
    * Ordering is nulls-last to match DuckDB's ASC default (post-sentinel
    * no NULL reaches here, but the tie-break contract stays aligned).
    *
    * `cellsHint` gates BOTH control shapes exactly as in
    * [[withAutoCells]]. At or below [[MaxBroadcastControlRows]] the
    * remap is ranked by a single global DENSE_RANK window (one task
    * over a tiny relation — the cheapest form, no extra job) and the
    * corpus-side join is broadcast-pinned when a hint PROVES the
    * relation small (no hint → the planner/AQE decides, same contract
    * as withAutoCells' pops side). Past the gate the single-task
    * window is replaced by a TWO-PASS PARALLEL ranking (r19 verdict
    * follow-up 3): range-repartition the distinct cells (pinned by a
    * localCheckpoint so the offsets job and the rank job see identical
    * partitions), collect the per-partition counts (control-plane — ≤
    * shuffle-partition-count rows), prefix-sum them into offsets on
    * the driver, then rank per-partition (`row_number` over the
    * partition id — fully parallel; distinct input makes row_number ≡
    * dense_rank) plus the broadcast offset. Global rank = partition
    * offset + within-partition rank because range partitioning orders
    * values across partitions; the result is identical to the window
    * form for ANY boundary placement (spec-pinned). The corpus-side
    * join shuffles co-partitioned. This retires even the documented
    * N/coarseTarget² single-task bound — no densify shape single-tasks
    * a 10⁸⁺-cell relation, whatever [[MaxAutoCLevels]] becomes. */
  def densifyCells(assigned: DataFrame, cellCol: String = "coarse",
                   cellsHint: Option[Long] = None,
                   maxControlRows: Long = MaxBroadcastControlRows): DataFrame = {
    val distinctCells = assigned.select(col(cellCol).as("_dfrom")).distinct()
    val side = if (cellsHint.forall(_ <= maxControlRows)) {
      val remap = distinctCells.withColumn("_dto",
        (dense_rank().over(Window.orderBy(col("_dfrom").asc_nulls_last)) - 1)
          .cast("long"))
      if (cellsHint.isDefined) broadcast(remap) else remap
    } else {
      val spark = assigned.sparkSession
      import spark.implicits._
      val parts = distinctCells
        .repartitionByRange(col("_dfrom").asc_nulls_last)
        .localCheckpoint()
      val counts = parts.groupBy(spark_partition_id().as("_pid"))
        .agg(count(lit(1)).as("_cnt"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      var acc = 0L
      val offsets = counts.map { case (pid, cnt) =>
        val off = acc; acc += cnt; (pid, off)
      }.toSeq.toDF("_pid", "_off")
      parts.withColumn("_pid", spark_partition_id())
        .join(broadcast(offsets), "_pid")
        .withColumn("_dto",
          (row_number().over(Window.partitionBy(col("_pid"))
              .orderBy(col("_dfrom").asc_nulls_last)) - 1).cast("long")
            + col("_off"))
        .drop("_pid", "_off")
        .hint("shuffle_hash")
    }
    assigned.join(side, col(cellCol) <=> col("_dfrom"))
      .withColumn(cellCol, col("_dto"))
      .drop("_dfrom", "_dto")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC dedup as
    * cluster-then-dedup-within-cluster — k-means partitions the embedding
    * space, then exact pairwise cosine runs ONLY inside each cell, so the
    * quadratic work is Σ O(cell²) instead of O(corpus²). Differs from
    * [[cellDupPairs]] (given blocking column, pair list out) in both
    * halves: cells are LEARNED (label-seeded Lloyd refinement,
    * [[kmeansRefineExact]] — deterministic, oracle-mirrorable) and the
    * output is the dedup DECISION — for every removed vector, the
    * lowest-id cell-mate within `threshold` as witness (keep-first, the
    * same canonical-representative rule as exact dedup's min-id keep).
    *
    * 100 TB shape: centroids are the only broadcast (k × dims); the
    * corpus moves once onto cell keys; over-populated cells are dropped
    * by the shared [[Dedup.capPopulation]] guard (maxCell <= 0 disables —
    * a cell past the cap belongs to a quantizer with larger k, which is
    * how SemDeDup scales k with corpus size anyway). The assigned relation
    * is checkpointed: it feeds both sides of the self-join, and without
    * pinning it the whole Lloyd pipeline would re-execute per side (no
    * subplan CSE). */
  def semDedupRemovals(corpus: DataFrame, threshold: Double,
                       refineIters: Int = 1,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       cellCol: String = "label",
                       maxCell: Long = DefaultMaxCell): DataFrame = {
    val units = unitVectors(Spread.ensureParallel(corpus), Seq(idCol -> "id", cellCol -> "cell"), vecCol)
    val cents = kmeansRefineExact(units, exactCentroids(units), refineIters)
    val assigned = assignCellsAgg(units, cents).select(col("id"), col("assigned_cell"))
    val au = Dedup.capPopulation(
        units.select(col("id"), col("unit")).join(assigned, "id"),
        Seq(col("assigned_cell")), maxCell)
      .localCheckpoint()
    au.as("a").join(au.as("b"),
        col("a.assigned_cell") === col("b.assigned_cell") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
              dot(col("a.unit"), col("b.unit")).as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy(col("b_id").as(idCol))
      .agg(min(col("a_id")).as("witness_id"), max(col("sim")).as("max_sim"))
  }

  /** Top-1 centroid pick shared by the aggregation-based assigns: max
    * over struct(sim, -cell) is exactly `row_number() over (order by sim
    * desc, cell asc) = 1` (cells are distinct per id, so the ordering
    * key is unique and the max deterministic), but as a partially-
    * aggregable max the joined (id × centroid) relation never shuffles —
    * each map task keeps one running best per id and only those partials
    * move, vs the window form's full shuffle-sort of every scored pair.
    * That difference is the point at scale: the restricted auto-k assign
    * joins Σ |cell| × sub-seeds(cell) rows, and sorting them (q116's
    * round-15 plan) was the catalog's worst decade point. */
  private def top1Cell(scored: DataFrame): DataFrame =
    scored
      .select(col("id"),
              struct(col("sim"), (-col("c_cell")).as("neg"),
                     col("c_cell").as("cell")).as("s"))
      .groupBy(col("id"))
      .agg(max(col("s")).as("m"))
      .select(col("id"), col("m.cell").as("assigned_cell"),
              col("m.sim").as("cell_sim"))

  /** [[assignCells]] semantics through [[top1Cell]]'s aggregation plan:
    * same result, same (sim desc, cell asc) tie-break, but map-side
    * combine instead of a corpus × cells window sort. */
  def assignCellsAgg(units: DataFrame, centroids: DataFrame): DataFrame =
    top1Cell(units.select(col("id"), col("unit"))
      .crossJoin(broadcast(
        centroids.select(col("cell").as("c_cell"), col("centroid"))))
      .select(col("id"), col("c_cell"),
              dot(col("unit"), col("centroid")).as("sim")))

  /** Sub-centroid rows up to which [[assignCellsWithinCoarse]] pins an
    * explicit broadcast hint (~170 MB at 64 double dims — comfortably
    * inside executor memory, far under Spark's 8 GB broadcast hard
    * limit). A hint is a PIN, not a preference: Spark honors it past
    * `autoBroadcastJoinThreshold` and FAILS the job past the hard
    * limit rather than degrading, so the hint must be conditional on
    * size — past the cap the join is left unhinted and the planner
    * shuffles it co-partitioned on the coarse key. */
  val BroadcastCentroidCap: Long = 262144L

  /** Byte ceiling for the same pin: the row cap alone assumes 64 double
    * dims (262144 rows × 64 × 8 = 128 MiB); at 1024 dims the identical
    * row count is ~2 GiB, which a pinned hint would force-broadcast
    * regardless of `autoBroadcastJoinThreshold` and can OOM executors
    * while staying under Spark's 8 GiB hard limit (ADVICE r17). The
    * decision therefore also estimates rows × dims × 8 payload bytes —
    * dims read from the same control-plane aggregate as the row count —
    * and leaves the join unhinted past this bound. 128 MiB makes the
    * byte gate exactly coincide with the row cap at 64 dims, so
    * existing plans are unchanged. */
  val MaxBroadcastCentroidBytes: Long = 128L << 20

  /** Control-plane broadcast decision for [[assignCellsWithinCoarse]]:
    * ONE aggregate job over the (tiny, usually checkpointed) centroid
    * relation yields rows and dims; the hint is pinned iff rows ≤
    * `broadcastCap` AND rows × dims × 8 ≤ [[MaxBroadcastCentroidBytes]].
    * Hoist this out of Lloyd loops (compute once, thread the result via
    * `pinBroadcast`): centroid counts only SHRINK across refine rounds
    * (dead cells drop, none are born), so a decision taken on the
    * round-0 centroids stays valid — a pin that was safe only gets
    * safer, and a withheld pin is a performance call the planner may
    * still override with an auto-broadcast. */
  def broadcastDecision(centroids: DataFrame,
                        broadcastCap: Long = BroadcastCentroidCap,
                        maxBytes: Long = MaxBroadcastCentroidBytes): Boolean =
    broadcastCap > 0 && {
      val r = centroids
        .agg(count(lit(1)).as("n"), max(size(col("centroid"))).as("d"))
        .head()
      val rows = r.getLong(0)
      val dims = if (r.isNullAt(1)) 0L else r.getInt(1).toLong
      rows <= broadcastCap && rows * dims * 8L <= maxBytes
    }

  /** Coarse-RESTRICTED IVF assign: centroids carry [[withAutoCells]]
    * composite ids (`coarse · SplitCap + sub`) and each vector competes
    * only among the sub-centroids of its own coarse cell (`coarseCol`),
    * so the scored relation is Σ |cell| × sub-seeds(cell) rows instead
    * of corpus × ALL seeds — the coarse-quantized first stage that keeps
    * the auto-k assign out of the O(N²/targetCell) class. Null-safe
    * equi-join on the coarse key (`<=>`): [[withAutoCells]] now rewrites
    * NULL coarse ids to its data-derived sentinel before anything
    * reaches this join, so no side carries NULLs in the chain — the
    * null-safety is kept as a robustness contract for direct callers.
    * The broadcast hint is CONDITIONAL ([[broadcastDecision]]: row cap
    * AND estimated payload bytes, one control-plane aggregate of the
    * tiny, usually checkpointed relation); past either bound the hint
    * is omitted — an explicit hint would force the broadcast regardless
    * of size and fail outright past Spark's 8 GB limit — and
    * the equi-join shuffles both sides co-partitioned on the coarse key
    * (the corpus side moves once per call). Top-1 via [[top1Cell]].
    * Every coarse cell with a member has at least one sub-centroid
    * (sub-seeds partition the same population), so the inner join never
    * drops a vector. */
  def assignCellsWithinCoarse(units: DataFrame, centroids: DataFrame,
                              coarseCol: String = "coarse",
                              broadcastCap: Long = BroadcastCentroidCap,
                              pinBroadcast: Option[Boolean] = None): DataFrame = {
    val cents = centroids.select(col("cell").as("c_cell"), col("centroid"),
                                 expr(s"cell div ${SplitCap}L").as("_cc"))
    // pinBroadcast threads a HOISTED broadcastDecision through (a Lloyd
    // loop computes it once on the round-0 centroids instead of paying
    // one probe job per round); None probes here, once per call
    val side = if (pinBroadcast.getOrElse(broadcastDecision(centroids, broadcastCap)))
      broadcast(cents) else cents
    top1Cell(units.select(col("id"), col(coarseCol).as("_uc"), col("unit"))
      .join(side, col("_uc") <=> col("_cc"))
      .select(col("id"), col("c_cell"),
              dot(col("unit"), col("centroid")).as("sim")))
  }

  /** [[semDedupRemovals]] with k scaled to the corpus AND the assign
    * coarse-quantized — the auto-k plan that survives the decade steps
    * (round-15 verdict: the flat assign was O(N²/targetCell), 43.6× per
    * 10× at sf10). Stages, every one oracle-mirrored (q116):
    *
    *  1. COARSE layer: label-seeded exact-decimal centroids (q87's init)
    *     and one geometric assign — corpus × |labels| dots, centroids
    *     broadcast. Each vector gets the coarse cell it actually sits
    *     in, not its metadata label.
    *  1b. AUTO-C LADDER (when `coarseTarget > 0`): the coarse layer
    *     itself is corpus-scaled — the same [[withAutoCells]]
    *     prescription one level up, now RECURSIVE (r18): a control-plane
    *     read of (maxPop, N) over the coarse assign decides how many
    *     subdivide→re-assign levels run (balance rule: another level
    *     engages while maxPop > level-target × coarseTarget, i.e. while
    *     the surviving restricted quadratic would re-dominate — AND the
    *     quadratic is worth removing: N × ceil(maxPop/level-target) must
    *     clear [[LadderRowsFloor]], or the level's own O(N) stage
    *     overhead outweighs it; capped at [[MaxAutoCLevels]], coarsest
    *     target first). Each level
    *     subdivides every cell into ceil(pop / target) sub-seeds by id
    *     arithmetic, takes their exact-decimal means as refined
    *     centroids, runs ONE restricted geometric assign
    *     ([[assignCellsWithinCoarse]] — a vector only scores its own
    *     coarse cell's sub-seeds) and DENSIFIES the surviving cell ids
    *     ([[densifyCells]]) so composite growth is bounded by live-cell
    *     counts, not SplitCap^depth. Near-dups stay reunitable: each
    *     re-assign is geometric within the coarse cell, so two
    *     neighbors split apart by the id-mod seeding converge onto the
    *     same refined coarse centroid. With coarseTarget ≥ every coarse
    *     population the single level is the IDENTITY up to an
    *     order-preserving relabeling (one sub-seed per coarse cell ⇒ a
    *     bijection), spec-pinned.
    *  2. AUTO-K subdivision of each (refined) coarse cell
    *     ([[withAutoCells]] on the ASSIGNED coarse id): sub-seeds ∝
    *     pop/targetCell, so seed cells start at ~targetCell members at
    *     any corpus size.
    *  3. Restricted Lloyd ([[assignCellsWithinCoarse]], `refineIters`
    *     rounds + the final assign): a vector only scores against its
    *     own coarse cell's sub-centroids — Σ |cell| × sub-seeds(cell)
    *     work per round; sub-cells that lose all members drop out
    *     (kmeansRefineExact's rule) but each coarse cell always retains
    *     ≥ 1 live sub-cell, so no vector is orphaned.
    *  4. Within-cell pairwise cosine + keep-first witness, population-
    *     capped — unchanged from [[semDedupRemovals]] except the pair
    *     join is kept null-safe (`<=>`) as a robustness contract;
    *     NULL-label vectors no longer reach it as a NULL cell — since
    *     r18 [[withAutoCells]]'s sentinel subdivides them like every
    *     labeled population, so a NULL-heavy corpus dedups instead of
    *     degrading to the capPopulation drop.
    *
    * Cost shape: corpus × C coarse dots; with coarseTarget off the
    * restricted term is Σ_c pop_c × ceil(pop_c / targetCell) =
    * N²/(C·targetCell) with C = |labels| fixed. AUTO-C replaces it with
    * Σ_c pop_c × ceil(pop_c / coarseTarget)   (one coarse refine round)
    *   + rounds × N × ~ceil(coarseTarget / targetCell)  (sub-seed Lloyd)
    * — the quadratic constant drops by coarseTarget/targetCell and the
    * surviving quadratic lives one level up where the LADDER now
    * actually recurses (stage 1b): each engaged level divides it by
    * another coarseTarget factor, so the steepest surviving term is
    * ~N × coarseTarget per level. All stages stay map-side-combined: no
    * scored row ever shuffles.
    *
    * The corpus-sized seeded relation is localCheckpointed: it feeds
    * every Lloyd round, the final assign and both sides of the pair
    * join (no subplan CSE), same rationale as [[semDedupRemovals]]'s
    * `au` pin. */
  /** Ladder-length cap for the recursive auto-C stage: at most this many
    * subdivide→re-assign levels (the base level included). The cap keeps
    * the worst case GRACEFUL, never an error — past it the TOP level's
    * splits may exceed coarseTarget and its re-assign degrades toward
    * the quadratic it would otherwise have divided away; with
    * [[densifyCells]] bounding id growth to live-cell counts, three
    * levels already cover coarseTarget⁴ members per original coarse
    * cell (≈10¹² at the balance-point coarseTarget ≈ 10³ a 100 TB
    * deployment would pick). */
  val MaxAutoCLevels: Int = 3

  /** Scored-rows floor for engaging an extra auto-C ladder level: the
    * balance rule (maxPop > level-target × coarseTarget) says when the
    * surviving quadratic re-DOMINATES asymptotically, but an extra
    * level also costs ~O(N) of its own (sub-seed means over the
    * exploded corpus, one restricted re-assign, densify, checkpoints —
    * a fixed handful of jobs), so at small N the level is a net LOSS:
    * measured at sf1 (20k vectors) one engaged level cost ~6 s to
    * remove ~1M scored rows. A level therefore engages only while the
    * CURRENT top level's estimated scored relation, N × ceil(maxPop /
    * topTarget), also exceeds this floor — 64M rows ≈ 7 s of dot work
    * at 64 dims (measured ~8.6M scored rows/s), comfortably above the
    * level's own overhead. Both reads come from the same control-plane
    * aggregate; specs force engagement on tiny fixtures with floor 0. */
  val LadderRowsFloor: Long = 64L * 1000 * 1000

  /** The auto-C ladder DECISION of [[autoCLadder]]. Returns the level
    * TARGETS, coarsest first:
    * another level engages while the current top level's population
    * still re-dominates (maxPop > top × coarseTarget) AND its estimated
    * scored relation N × ceil(maxPop/top) clears `ladderRowsFloor`
    * (division form — n × ceil would overflow at 100 TB counts), capped
    * at [[MaxAutoCLevels]] with an overflow guard on the target
    * itself. Pure arithmetic on the control-plane (maxPop, N) read —
    * no Spark jobs. */
  def ladderTargets(maxPop: Long, n: Long, coarseTarget: Long,
                    ladderRowsFloor: Long = LadderRowsFloor): List[Long] = {
    require(coarseTarget > 0, s"coarseTarget ($coarseTarget) must be positive")
    def aboveFloor(t: Long): Boolean =
      n > 0 && (maxPop + t - 1) / t > ladderRowsFloor / n
    var tops = List(coarseTarget)
    while (maxPop > tops.head * coarseTarget &&
           aboveFloor(tops.head) &&
           tops.size < MaxAutoCLevels &&
           tops.head <= Long.MaxValue / coarseTarget)
      tops ::= tops.head * coarseTarget
    tops
  }

  /** Stage 1b of [[semDedupAutoKRemovals]] — the recursive auto-C
    * ladder. One control-plane aggregate over `coarse0` reads
    * (maxPop, N, live cells); [[ladderTargets]] picks the level
    * targets; each level subdivides ([[withAutoCells]]), re-centers
    * (exact-decimal means), re-assigns restricted
    * ([[assignCellsWithinCoarse]]) and — between levels only —
    * densifies. Every level intermediate is localCheckpointed (each
    * relation feeds ≥ 2 plan sides), under a [[JobLabel]] naming the
    * stage and its level target, so `Profile --jobs` attributes the
    * recursion's cost level by level. Returns the refined coarse
    * assignment plus an UPPER BOUND on its live-cell count (cells_in +
    * N/t per level, clamped to N) — the `cellsHint` the next
    * [[withAutoCells]]/[[densifyCells]] control gates need, threaded
    * instead of re-measured so the gate costs zero extra jobs. */
  def autoCLadder(units: DataFrame, coarse0: DataFrame, coarseTarget: Long,
                  ladderRowsFloor: Long = LadderRowsFloor): (DataFrame, Long) = {
    val spark = units.sparkSession
    val pr = JobLabel(spark, "auto-C ladder read (maxPop, N)") {
      coarse0.groupBy(col("coarse")).agg(count(lit(1)).as("n"))
        .agg(max(col("n")).as("mx"), sum(col("n")).as("tot"),
             count(lit(1)).as("cells")).head()
    }
    val maxPop = if (pr.isNullAt(0)) 0L else pr.getLong(0)
    val n = if (pr.isNullAt(1)) 0L else pr.getLong(1)
    var cells = pr.getLong(2)
    val tops = ladderTargets(maxPop, n, coarseTarget, ladderRowsFloor)
    val out = tops.zipWithIndex.foldLeft(coarse0) { case (cur, (t, i)) =>
      val curCells = cells
      // live cells after this level ≤ its sub-seed count =
      // Σ ceil(pop/t) ≤ cells_in + N/t (and trivially ≤ N)
      cells = math.min(n, curCells + n / t + 1L)
      val seed = JobLabel(spark, s"auto-C subdivide (t=$t)") {
        withAutoCells(
            units.select(col("id"), col("unit")).join(cur, "id"),
            t, idCol = "id", cellCol = "coarse", outCol = "c2cell",
            cellsHint = Some(curCells))
          .localCheckpoint()
      }
      // pinned: the conditional-broadcast probe and the refined assign
      // would otherwise each re-run the centroid aggregate
      val cents = JobLabel(spark, s"auto-C sub-seed centroids (t=$t)") {
        exactCentroids(
            seed.select(col("c2cell").as("cell"), col("unit")), "cell", "unit")
          .localCheckpoint()
      }
      JobLabel(spark, s"auto-C restricted re-assign (t=$t)") {
        val assigned = assignCellsWithinCoarse(seed, cents)
          .select(col("id"), col("assigned_cell").as("coarse"))
        // densified BETWEEN levels only (see densifyCells): the next
        // level re-composites, so its input must stay live-cell-bounded;
        // the LAST level's raw composites feed auto-k directly at the
        // single-level range the oracle mirrors. Checkpointed either
        // way: the next stage reads it twice (probe + pops sides).
        (if (i < tops.size - 1)
           densifyCells(assigned, "coarse", cellsHint = Some(cells))
         else assigned)
          .localCheckpoint()
      }
    }
    (out, cells)
  }

  /** The shared auto-k pipeline — stages 1–3 of [[semDedupAutoKRemovals]]
    * (whose scaladoc owns the full story): coarse geometric assign,
    * the auto-C ladder, auto-k subdivision, restricted Lloyd, final
    * restricted assign. Returns (seeded, assigned): the checkpointed
    * (id, unit, coarse, scell) relation and the final (id,
    * assigned_cell, cell_sim) assignment — [[semDedupAutoKRemovals]]
    * joins both into the pairwise tail; [[semDedupAutoKAssign]] exposes
    * the assignment itself (q141's surface). */
  private def autoKChain(corpus: DataFrame, targetCell: Long,
                         refineIters: Int, idCol: String, vecCol: String,
                         labelCol: String, coarseTarget: Long,
                         ladderRowsFloor: Long)
      : (DataFrame, DataFrame) = {
    // each eager stage below runs under a JobLabel naming it, so
    // `Profile --jobs` attributes the chain's cost stage by stage
    val spark = corpus.sparkSession
    val units = unitVectors(Spread.ensureParallel(corpus), Seq(idCol -> "id", labelCol -> "cell"), vecCol)
    val ccents = exactCentroids(units)
    // checkpointed LAZILY: it feeds the ladder's control read plus two
    // plan sides of the first withAutoCells (probe + pops) — without
    // the pin the corpus × C coarse assign would re-execute per
    // consumer, and with an EAGER checkpoint the materialization and
    // the ladder's (maxPop, N) aggregate would be two separate jobs
    // over the same relation (r18 verdict task 5: the control read now
    // rides the checkpoint-materializing action itself). Lazy for its
    // result stage only: under AQE the centroid and assign shuffle
    // stages run here, so they carry this label.
    val coarse0 = JobLabel(spark, "coarse assign") {
      assignCellsAgg(units, ccents)
        .select(col("id"), col("assigned_cell").as("coarse"))
        .localCheckpoint(false)
    }
    // AUTO-C ladder (stage 1b) — decision + fold live in
    // [[ladderTargets]]/[[autoCLadder]]. With coarseTarget <= 0 (the
    // flat legacy form, small-corpus call sites) no control read
    // exists, so the auto-k pops below keeps the ungated broadcast
    // plan — at 10^10+ vectors the LADDER is the supported path (it
    // threads the gate's cells bound for free from the read it
    // already pays). Balance rule (r17 verdict
    // task 2): one level's surviving restricted term is
    // Σ pop·ceil(pop/coarseTarget), which re-dominates once
    // ceil(maxPop/coarseTarget) > coarseTarget, i.e. maxPop >
    // coarseTarget² — each added level first subdivides at a
    // coarseTarget× larger target, dividing that term by another
    // coarseTarget factor. Levels run coarsest-first; per-cell splits
    // always use the cell's ACTUAL population, so re-assign skew
    // self-corrects at the next level down.
    val (coarse, cellsHint) =
      if (coarseTarget <= 0L) (coarse0, None)
      else {
        val (c, h) = autoCLadder(units, coarse0, coarseTarget, ladderRowsFloor)
        (c, Some(h))
      }
    val seeded = JobLabel(spark, "auto-k subdivide") {
      withAutoCells(
          units.select(col("id"), col("unit")).join(coarse, "id"),
          targetCell, idCol = "id", cellCol = "coarse", outCol = "scell",
          cellsHint = cellsHint)
        .localCheckpoint()
    }
    var cents = JobLabel(spark, "auto-k sub-seed centroids") {
      exactCentroids(
          seeded.select(col("scell").as("cell"), col("unit")), "cell", "unit")
        .localCheckpoint()
    }
    // broadcast decision hoisted out of the Lloyd loop (r17 verdict
    // task 4): one probe job on the round-0 centroids covers every
    // round + the final assign — the count only shrinks across rounds
    val pin = Some(JobLabel(spark, "auto-k broadcast decision") {
      broadcastDecision(cents)
    })
    (1 to refineIters).foreach { r =>
      cents = JobLabel(spark, s"Lloyd round $r (restricted assign + means)") {
        val a = assignCellsWithinCoarse(seeded, cents, pinBroadcast = pin)
        exactCentroids(
            seeded.join(a.select(col("id"), col("assigned_cell")), "id")
              .select(col("assigned_cell").as("cell"), col("unit")),
            "cell", "unit")
          .localCheckpoint()
      }
    }
    (seeded, assignCellsWithinCoarse(seeded, cents, pinBroadcast = pin))
  }

  /** The auto-k chain's FINAL restricted assignment, exposed: (idCol,
    * cell, sim) — which corpus-scaled sub-cell each vector landed in and
    * its similarity to that sub-centroid. The cell ids are the raw
    * two-level composites (densified coarse · SplitCap + sub), so an
    * oracle hashing this output exercises the composable-id arithmetic
    * itself at depth 2 — [[semDedupAutoKRemovals]]'s removals never
    * expose them. Same chain, stages 1–3 only. */
  def semDedupAutoKAssign(corpus: DataFrame, targetCell: Long,
                          refineIters: Int = 1,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          labelCol: String = "label",
                          coarseTarget: Long = 0L,
                          ladderRowsFloor: Long = LadderRowsFloor): DataFrame =
    autoKChain(corpus, targetCell, refineIters, idCol, vecCol, labelCol,
               coarseTarget, ladderRowsFloor)._2
      .select(col("id").as(idCol), col("assigned_cell").as("cell"),
              col("cell_sim").as("sim"))

  def semDedupAutoKRemovals(corpus: DataFrame, targetCell: Long,
                            threshold: Double, refineIters: Int = 1,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            labelCol: String = "label",
                            maxCell: Long = DefaultMaxCell,
                            coarseTarget: Long = 0L,
                            ladderRowsFloor: Long = LadderRowsFloor): DataFrame = {
    val (seeded, assignedFull) = autoKChain(corpus, targetCell, refineIters,
      idCol, vecCol, labelCol, coarseTarget, ladderRowsFloor)
    val assigned = assignedFull.select(col("id"), col("assigned_cell"))
    val au = JobLabel(corpus.sparkSession, "final assign + population cap") {
      Dedup.capPopulation(
          seeded.select(col("id"), col("unit")).join(assigned, "id"),
          Seq(col("assigned_cell")), maxCell)
        .localCheckpoint()
    }
    au.as("a").join(au.as("b"),
        col("a.assigned_cell") <=> col("b.assigned_cell") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
              dot(col("a.unit"), col("b.unit")).as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy(col("b_id").as(idCol))
      .agg(min(col("a_id")).as("witness_id"), max(col("sim")).as("max_sim"))
  }

  /** Product-quantization codebook training: per subspace, k-means over
    * the subvectors — Lloyd's algorithm made fully deterministic so the
    * DuckDB oracle can mirror every step bit-for-bit:
    *  - init: the subvectors of the k lowest ids, code = rank by id;
    *  - assign: nearest code by dot product (tie → code asc) — fold-dot
    *    doubles are bit-identical across engines;
    *  - update: exact-decimal per-dimension means (order-independent);
    *    codes that lose all members keep their previous centroid.
    * At 100 TB codebooks are trained on a bounded sample (standard PQ
    * practice) — training cost is independent of corpus size; encode and
    * query are the corpus-scale paths. Output: (sub, code, code_vec). */
  def pqTrain(units: DataFrame, m: Int, subLen: Int,
              k: Int = 16, iters: Int = 2): DataFrame = {
    val subs = subVectors(units, m, subLen, Seq("id"))
    val initIds = broadcast(units.select(col("id")).orderBy(col("id")).limit(k))
    var books = subs.join(initIds, "id")
      .withColumn("code",
        (row_number().over(Window.partitionBy(col("sub")).orderBy(col("id"))) - 1))
      .select(col("sub"), col("code"), col("sv").as("code_vec"))
      .localCheckpoint()
    (1 to iters).foreach { _ =>
      // nearest-code pick through the [[top1Cell]] aggregation shape
      // (max over struct(s, -code) == row_number over (s desc, code asc)
      // = 1 — codes are distinct per (id, sub), so the key is unique and
      // the max deterministic): map-side combine instead of a full
      // shuffle-sort of the (corpus × k) scored relation, the r21 plan
      // move mirroring what assignCellsAgg already did for IVF assigns.
      val assigned = subs.join(broadcast(books), "sub")
        .select(col("id"), col("sub"),
                struct(dot(col("sv"), col("code_vec")).as("s"),
                       (-col("code")).as("neg")).as("sc"))
        .groupBy(col("id"), col("sub"))
        .agg(max(col("sc")).as("m"))
        .select(col("id"), col("sub"), (-col("m.neg")).as("code"))
      val means = subs.join(assigned, Seq("id", "sub"))
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg((sum(col("v").cast(DecimalType(28, 16))).cast("double") /
              count(lit(1)).cast("double")).as("cv"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
                       s => s.getField("cv")).as("new_vec"))
      books = books.join(means, Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
                coalesce(col("new_vec"), col("code_vec")).as("code_vec"))
        .localCheckpoint() // truncate lineage per Lloyd round
    }
    books
  }

  /** (carry..., sub, sv): each `unit` vector exploded into its m
    * subvectors of `subLen` dims. */
  private def subVectors(units: DataFrame, m: Int, subLen: Int,
                         carry: Seq[String]): DataFrame =
    units.select(carry.map(col) :+ explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"),
               slice(col("unit"), s * subLen + 1, subLen).as("sv"))): _*)).as("x"): _*)
      .select(carry.map(col) :+ col("x.sub").as("sub") :+ col("x.sv").as("sv"): _*)

  /** Encode: per (vector, subspace), the code of the nearest codebook
    * entry by dot product (tie → code asc). Codebooks broadcast; the
    * corpus never shuffles. Output: (id, sub, code) — at scale this is
    * the m-byte-per-vector representation that replaces d floats. */
  def pqEncode(units: DataFrame, codebooks: DataFrame,
               m: Int, subLen: Int): DataFrame =
    // same [[top1Cell]]-shaped aggregation as the pqTrain assign (r21):
    // max over struct(s, -code) is exactly row_number over (s desc,
    // code asc) = 1 — deterministic because codes are distinct per
    // (id, sub) — but partially aggregable, so the encode pass shuffles
    // one combined row per (id, sub) instead of shuffle-sorting the
    // (corpus × numCodes) scored relation. This is the O(corpus) pass
    // of every build/append/refresh, so the sort removal is the
    // at-scale win, not just a local one.
    subVectors(units, m, subLen, Seq("id"))
      .join(broadcast(codebooks), "sub")
      .select(col("id"), col("sub"),
              struct(dot(col("sv"), col("code_vec")).as("s"),
                     (-col("code")).as("neg")).as("sc"))
      .groupBy(col("id"), col("sub"))
      .agg(max(col("sc")).as("m"))
      .select(col("id"), col("sub"), (-col("m.neg")).as("code"))

  /** The one in-session PQ build behind [[pqTopK]], [[ivfPqTopK]] and
    * [[ivfPqTopKMultiProbe]]: the corpus' unit vectors (id, [cell,]
    * unit), codebooks trained on them, and the encoded corpus (id, sub,
    * code[, cell]) — carrying the cell when `cellCol` names one. */
  private def pqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      cellCol: Option[String], m: Int, subLen: Int,
                      numCodes: Int, trainIters: Int): (DataFrame, DataFrame, DataFrame) = {
    val cu = unitVectors(Spread.ensureParallel(corpus),
      (idCol -> "id") +: cellCol.map(_ -> "cell").toSeq, vecCol, "unit")
    val books = pqTrain(cu, m, subLen, numCodes, trainIters)
    val codes = pqEncode(cu, books, m, subLen)
    (cu, books, cellCol.fold(codes)(_ => codes.join(cu.select(col("id"), col("cell")), "id")))
  }

  /** The one ADC scorer: per probe row of the unit queries `qu` (id,
    * unit[, p_cell]) a lookup table of dot(query subvector, codebook
    * entry); a candidate's approximate similarity is the sum of its m
    * LUT entries — an exact-decimal sum, so the ranking is
    * aggregation-order-independent in every engine — ranked by the
    * [[rankTopK]] tail. The LUT is query-side tiny (probe rows × m ×
    * codes) and broadcast; the corpus side touches only the stored
    * codes (id, sub, code[, cell]), restricted to the probed cells
    * ([[inProbedCells]]) — PQ's 100 TB story: the scan reads m small
    * ints per vector, never the raw floats. */
  private def adcTopK(books: DataFrame, codes: DataFrame, qu: DataFrame,
                      k: Int, m: Int, subLen: Int): DataFrame = {
    val cells = qu.columns.filter(_ == "p_cell").toSeq
    val lut = subVectors(qu, m, subLen, "id" +: cells)
      .join(broadcast(books), "sub")
      .select((col("id").as("query_id") +: cells.map(col)) ++
              Seq(col("sub"), col("code"), dot(col("sv"), col("code_vec")).as("l")): _*)
    // fan-out floor (r22): the codes relation is a few small ints per
    // vector — AQE coalesces its (post-encode or post-fold) shuffle
    // output to one partition by BYTES, but this join multiplies it by
    // the LUT's probe rows, so the whole ADC scan+sum ran in a single
    // task. Identity at scale (see Spread.ensureParallelForFanout).
    val scored = Spread.ensureParallelForFanout(codes).join(broadcast(lut), Seq("sub", "code"))
      .filter(col("id") =!= col("query_id"))
    rankTopK(inProbedCells(scored, qu, "cell")
      .groupBy(col("query_id"), col("id").as("cand_id"))
      .agg(sum(col("l").cast(DecimalType(28, 16))).cast("double").as("approx_sim")),
      "approx_sim", k)
  }

  /** PQ-ADC approximate top-k, trained in session ([[pqIndex]]) and
    * probed by [[pqTopKFrom]]. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 4, subLen: Int = 16, numCodes: Int = 16, trainIters: Int = 2,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (_, books, codes) = pqIndex(corpus, idCol, vecCol, None, m, subLen, numCodes, trainIters)
    pqTopKFrom(books, codes, queries, k, m, subLen, idCol, vecCol)
  }

  /** The PQ-ADC probe alone ([[adcTopK]], every candidate probed),
    * against PREBUILT artifacts — codebooks (sub, code, code_vec) and
    * the encoded corpus (id, sub, code), e.g. read back from
    * [[AnnIndex]]'s versioned tables. This is the production query path
    * at 100 TB: zero training, the corpus side touches only the
    * m-small-int codes, the query-side LUT is broadcast. Doubles
    * round-trip parquet exactly, so probing persisted artifacts is
    * bit-identical to the in-session [[pqTopK]] that built them. */
  def pqTopKFrom(books: DataFrame, codes: DataFrame, queries: DataFrame,
                 k: Int, m: Int = 4, subLen: Int = 16,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    adcTopK(books, codes, unitVectors(queries, Seq(idCol -> "id"), vecCol, "unit"),
      k, m, subLen)

  /** IVF+PQ composition — the standard large-scale ANN layout (an
    * IVFADC index): the coarse partition (here the `cell` column; in a
    * trained deployment, [[assignCells]] over [[kmeansRefine]]
    * centroids) restricts candidates to the query's cell, and PQ-ADC
    * ranks within the cell from the m-byte codes. At 100 TB the scan
    * per query touches one cell's (cell key, m small ints) rows — never
    * raw floats, never other cells. Determinism matches [[pqTopK]]. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                m: Int = 4, subLen: Int = 16, numCodes: Int = 16,
                trainIters: Int = 2, idCol: String = "vec_id",
                vecCol: String = "embedding", cellCol: String = "label"): DataFrame = {
    val (_, books, codes) =
      pqIndex(corpus, idCol, vecCol, Some(cellCol), m, subLen, numCodes, trainIters)
    // the probe: [[adcTopK]] over each query's own cell ([[ownCell]] —
    // NULL matches nothing)
    adcTopK(books, codes, ownCell(unitVectors(queries,
      Seq(idCol -> "id", cellCol -> "p_cell"), vecCol, "unit")), k, m, subLen)
  }

  /** In-session multi-probe IVFADC (q142) — the q89 recall dial applied
    * to the COMPOSED path. Label cells with their exact-decimal
    * centroids (q87's init layer — deterministic, oracle-mirrorable) as
    * the coarse layer, PQ codebooks trained as in [[ivfPqTopK]], then
    * [[adcTopK]] over each query's `nprobe` nearest cells
    * ([[nearestCells]]) instead of one, so recall recovers toward the
    * flat-ADC ceiling at nprobe/cells of a full scan. The corpus side
    * still reads only the m small-int codes of the probed cells. With
    * nprobe ≥ |cells| this IS flat PQ-ADC ([[pqTopK]]), spec-pinned —
    * including on NULL-labeled corpora, where a NULL cell is a probeable
    * population like any other rather than a silently-dropped candidate
    * set (ADVICE r18). */
  def ivfPqTopKMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int,
                          nprobe: Int, m: Int = 4, subLen: Int = 16,
                          numCodes: Int = 16, trainIters: Int = 2,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          cellCol: String = "label"): DataFrame = {
    val (cu, books, codes) =
      pqIndex(corpus, idCol, vecCol, Some(cellCol), m, subLen, numCodes, trainIters)
    adcTopK(books, codes,
      nearestCells(unitVectors(queries, Seq(idCol -> "query_id"), vecCol, "qu"),
          exactCentroids(cu), nprobe)
        .select(col("query_id").as("id"), col("qu").as("unit"), col("p_cell")),
      k, m, subLen)
  }

  /** All-pairs variant (no blocking) — exact but O(n²); test scale only. */
  def dupPairs(corpus: DataFrame, threshold: Double,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val u = unitVectors(Spread.ensureParallel(corpus), Seq(idCol -> "id"), vecCol, "u")
    u.as("a").join(u.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
              dot(col("a.u"), col("b.u")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Deterministic signed-random-projection hyperplanes: integer weights
    * in [-1000, 1000] from an LCG over the flattened (plane, dim) index —
    * reproducible across runs and expressible in plain SQL, so the whole
    * SRP pipeline can be oracle-mirrored (unlike a rand()-seeded matrix).
    * Integer weights lose nothing: only the SIGN of the projection is
    * used, which is scale-invariant. */
  def srpPlanes(numPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until numPlanes).map { j =>
      (0 until dim).map { d =>
        val x = (1103515245L * (j.toLong * dim + d) + 12345L) % 2147483648L
        (x % 2001L - 1000L).toDouble
      }
    }

  /** Default population cap for one SRP (band, bkey) bucket. A bucket is
    * only useful when it is selective; one holding more than this many
    * vectors (a degenerate embedding mass sharing a sign pattern — e.g.
    * near-zero vectors) would contribute O(pop²) join rows on a single
    * key while carrying no discrimination. Same role as
    * [[Dedup.DefaultMaxShingleDf]]. */
  val DefaultMaxSrpBucket = 100L

  /** SRP-LSH near-dup pairs over an embedding column — the
    * centroid-free scale path for cosine dedup (complements the
    * IVF-cell blocking of [[cellDupPairs]], which needs a trained
    * quantizer): `bands` bucket keys per vector, each packing
    * `rowsPerBand` projection sign bits; vectors sharing any band bucket
    * become candidates; candidates are verified exactly.
    *
    * 100 TB shape: sign bits are a map-only pass over broadcast-literal
    * hyperplanes (the corpus never shuffles to be keyed); candidates
    * come from `bands` equi-joins on uniform 2^rowsPerBand-ary keys
    * (collision probability for unrelated vectors ~2^-rowsPerBand per
    * band — tune rowsPerBand ~ log2(n/target_bucket)); only candidate
    * pairs pay the exact dot product. P[two vectors at cosine θ share a
    * band] = (1 - acos(θ)/π)^rowsPerBand. */
  def srpDupPairs(corpus: DataFrame, threshold: Double,
                  bands: Int = 8, rowsPerBand: Int = 6, dim: Int = 64,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  maxBucket: Long = DefaultMaxSrpBucket): DataFrame = {
    val planes = srpPlanes(bands * rowsPerBand, dim)
    val u0 = unitVectors(Spread.ensureParallel(corpus), Seq(idCol -> "id"), vecCol, "u")
    // Fail LOUDLY on a dim mismatch: zip_with pads the shorter array with
    // nulls, so a wrong `dim` would silently zero projection sign bits
    // and degrade recall with no error (precision survives only because
    // candidates are exactly verified).
    val u = u0.select(col("id"),
      when(size(col("u")) === dim, col("u"))
        .otherwise(raise_error(concat(
          lit(s"srpDupPairs: embedding dim mismatch — expected $dim, got "),
          size(col("u")).cast("string")))).as("u"))
    Dedup.withPersisted(u) { uu =>
      val bandCols = (0 until bands).map { b =>
        (0 until rowsPerBand).map { i =>
          when(dot(col("u"), typedLit(planes(b * rowsPerBand + i))) >= 0,
               lit(1L << i)).otherwise(lit(0L))
        }.reduce(_ + _).as(s"_band$b")
      }
      val keys0 = uu.select(col("id") +: bandCols: _*)
        .select(col("id"), posexplode(array((0 until bands).map(b => col(s"_band$b")): _*))
          .as(Seq("band", "bkey")))
      // Bucket-population guard (skew kill, mirrors jaccardPairsFrom's df
      // cap): drop over-populated buckets before the self-join. Pairs
      // lost here still surface through any of their other bands unless
      // degenerate in ALL of them — by which point they weren't
      // LSH-discriminable at all. Materialized eagerly (inside the
      // persisted-u scope): the self-join consumes it twice and the 48
      // plane dots + population window must not run per side.
      val keys = Dedup.capPopulation(keys0, Seq(col("band"), col("bkey")), maxBucket)
        .localCheckpoint()
      val cand = keys.as("a").join(keys.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
        .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
        .distinct()
      cand
        .join(uu.select(col("id").as("a_id"), col("u").as("ua")), "a_id")
        .join(uu.select(col("id").as("b_id"), col("u").as("ub")), "b_id")
        .select(col("a_id"), col("b_id"), dot(col("ua"), col("ub")).as("sim"))
        .filter(col("sim") >= threshold)
    }
  }
}
