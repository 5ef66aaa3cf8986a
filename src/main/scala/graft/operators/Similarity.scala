package graft.operators

import graft.Rnd.rnd
import graft.{QDef, Standing, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** §2.9 [EXT] Embedding similarity search over `embeddings` (64-dim FLOAT).
  *
  * All arithmetic is done after casting to DOUBLE (float accumulation order
  * would diverge between engines; double FP noise is ~1e-16 against a 1e-6
  * rounding grid, so order differences are harmless — SURVEY §7.4).
  *
  * Scale notes (100 TB):
  *  - `sim_cosine`/`sim_knn_topk` broadcast the probe set (always small) and
  *    stream the corpus once — no shuffle of the big side; top-k per probe is
  *    a partial-aggregating window.
  *  - `sim_ann_lsh` is the scale path: random-hyperplane signatures bucket
  *    the corpus (one narrow shuffle on the bucket id); probes only scan
  *    their own bucket — the brute-force pass becomes a per-bucket join.
  *    The same layout pre-computed+bucketed-on-disk turns ANN lookups into
  *    partition-pruned scans.
  *  - `dedup_embed` runs its exact pairwise pass over the hyperplane-bucket
  *    candidate pairs — the post-LSH precision pass of embedding near-dup
  *    detection, quadratic only in per-bucket population.
  */
object Similarity {

  /** Executed plan of sim_graph_ann's pre-checkpoint beam chain — the
    * localCheckpoints that bound lineage (standing graph artifact; one
    * result feeding recall + require + output) truncate the declared
    * query's own plan to ExistingRDD scans, so PlanShapeSpec re-asserts
    * the beam shape from here (the join_skew_aqe precedent). */
  @volatile private[graft] var lastGraphAnnPlan: String = ""

  /** Embedding cast FLOAT[] → DOUBLE[]. */
  private def emb(c: Column): Column = transform(c, _.cast("double"))

  /** Embedding dimensionality (fixed 64, verified in FIXTURES.md). */
  private val Dims = 64

  /** ANN tuning knobs — centralized in [[graft.GraftConfig]] with the full
    * recall story per knob (hyperplane recall ≈ (1−θ/π)^planes raised via L
    * tables or multiprobe; IVF scan cost ≈ corpus/cells per probe). The
    * harness sizes keep per-bucket populations large enough for the
    * oracle's determinism checks while exercising the exact plan shape a
    * 100 TB run uses. */
  private val LshPlanes = graft.GraftConfig.HyperplanePlanes
  private val IvfCells = graft.GraftConfig.IvfCells
  private val KMeansIters = graft.GraftConfig.KMeansIters

  /** Sequential-order dot product via the native codegen expression
    * [[graft.functions.DotProduct]] (same left-to-right IEEE accumulation as
    * DuckDB `list_dot_product`, so hash-parity holds). The earlier 64-term
    * unrolled `element_at` form produced expression trees too large for
    * whole-stage codegen and fell back to interpretation — ~100× slower. */
  private def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  private[graft] def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** DuckDB-side cosine via list_dot_product on DOUBLE[] casts. */
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  private val probeSql =
    "SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe FROM embeddings WHERE vec_id < 5"
  private val corpusSql =
    "SELECT vec_id, label, embedding::DOUBLE[] AS ce FROM embeddings"

  private[graft] def probes(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    T.embeddings(s, dir).where(col("vec_id") < 5L)
      .select(col("vec_id").as("probe_id"), emb(col("embedding")).as("pe"))
  }

  private[graft] def corpus(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(s)
    T.embeddings(s, dir)
      .select(col("vec_id"), col("label"), emb(col("embedding")).as("ce"))
  }

  // ---- shared IVF machinery (sim_ivf / sim_ivfpq / sim_index_probe /
  // ---- sim_index_maintain all run the same coarse quantizer) ----

  /** Seed centroids: the first IvfCells corpus vectors (deterministic, no
    * RNG — SURVEY §7.4's cross-engine reproducibility rule). */
  private[graft] def ivfSeeds(s: SparkSession, dir: String): DataFrame =
    T.embeddings(s, dir).where(col("vec_id") < IvfCells.toLong)
      .select(col("vec_id").as("cid"), emb(col("embedding")).as("centroid"))

  /** argmax-cosine cell assignment: max(struct(cos, -cid)) ≡ row_number
    * over (cos DESC, cid ASC) = 1, but with partial aggregation — the
    * corpus never shuffles on anything wider than its own id. */
  private[graft] def assignCell(df: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame =
    df.crossJoin(broadcast(cents))
      .select(col(idCol), col(vecCol),
        cosine(col(vecCol), col("centroid")).as("ccos"), col("cid"))
      .groupBy(idCol)
      .agg(max(struct(col("ccos"), (-col("cid")).as("ncid"))).as("m"),
        first(col(vecCol)).as(vecCol))
      .select(col(idCol), col(vecCol), (-col("m.ncid")).as("cell"))

  /** One Lloyd step over `src` (a (vec_id, ce) frame): per-cell elementwise
    * mean of the assigned vectors, rounded to the cross-engine 1e-6 grid.
    * Seed cells can't empty out at iteration 1 (each seed is its own
    * nearest member, cos = 1). */
  private def lloydStep(src: DataFrame, cents: DataFrame): DataFrame =
    assignCell(src, "vec_id", "ce", cents)
      .select(col("cell"), posexplode(col("ce")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(rnd(avg(col("v")), 6).as("mv"))
      .groupBy("cell")
      .agg(sort_array(collect_list(struct(col("pos"), col("mv")))).as("sm"))
      .select(col("cell").as("cid"),
        transform(col("sm"), x => x.getField("mv")).as("centroid"))

  /** The fitted coarse quantizer: KMeansIters Lloyd steps from the seeds.
    * Each step is one scan of `src` + a tiny broadcast update — the fit
    * cost is KMeansIters corpus passes, paid at INDEX BUILD time, never
    * per query. */
  private[graft] def ivfFit(src: DataFrame, seeds: DataFrame): DataFrame =
    (1 to KMeansIters).foldLeft(seeds)((c, _) => lloydStep(src, c))

  private val StandingIvf = "similarity.ivf"
  private val StandingGraph = "similarity.graph"
  private val StandingBase = "similarity.base"

  /** Query names that consume the shared fit/assignment — harnesses warm
    * only when one of these is selected. `sim_index_maintain` is NOT a
    * member: its day-0 fit runs over the base slice only (the frozen
    * geometry the append lands in), so it shares nothing with the
    * full-corpus fit. */
  val sharedFamily: Set[String] = Set("sim_ivf", "sim_ivfpq",
    "sim_index_probe", "sim_refine", "sim_recall_report", "sim_cell_report",
    "mm_crossmodal", "sim_ann_filtered", "sim_graph_ann",
    "sim_graph_ann_persist", "sim_graph_ann_refit", "sim_index_delete",
    "sim_autotune")

  /** Query names that probe the two-tier GRAPH index. The tiers are built
    * lazily on first use; a bench pre-warms them at the TIMED dir (its JIT
    * warm-up loop builds them at the warm-up dir, which a dir switch
    * discards) so every timed pass measures probe-only work. */
  val graphFamily: Set[String] = Set("sim_graph_ann", "sim_graph_ann_persist",
    "sim_graph_ann_refit", "sim_graph_ann_maintain")

  /** Eagerly build the shared graph tiers (full-corpus AND day-0 base) for
    * (s, dir); a no-op when already standing at this (session, dir). */
  def warmGraphShared(s: SparkSession, dir: String): Unit = {
    sharedGraphTiers(s, dir)
    sharedBaseTiers(s, dir)
    ()
  }

  /** Build the [[graft.Standing]] IVF fit and cell assignment
    * (checkpointed) for (s, dir) — the index `sim_index_probe` persists —
    * and return [[graft.Standing.keepIds]], which harness cache sweeps must
    * exempt. */
  def warmShared(s: SparkSession, dir: String): Set[Int] = {
    Standing(StandingIvf, s, dir) {
      val f = ivfFit(corpus(s, dir), ivfSeeds(s, dir)).localCheckpoint()
      (f, assignCell(corpus(s, dir), "vec_id", "ce", f).localCheckpoint())
    }
    Standing.keepIds
  }

  /** Release every standing artifact: forwards to [[graft.Standing.clear]]. */
  def clearWarm(): Unit = Standing.clear()

  /** RDD ids pinned by every standing artifact: forwards to
    * [[graft.Standing.keepIds]]. */
  def warmKeepIds: Set[Int] = Standing.keepIds

  private def warmIvf(s: SparkSession, dir: String)
      : Option[(DataFrame, DataFrame)] =
    Standing.get[(DataFrame, DataFrame)](StandingIvf, s, dir)

  private def sharedFit(s: SparkSession, dir: String): DataFrame =
    warmIvf(s, dir).map(_._1)
      .getOrElse(ivfFit(corpus(s, dir), ivfSeeds(s, dir)))

  private[graft] def sharedAssigned(s: SparkSession, dir: String): DataFrame =
    warmIvf(s, dir).map(_._2)
      .getOrElse(assignCell(corpus(s, dir), "vec_id", "ce", sharedFit(s, dir)))

  // ---- shared two-tier graph-ANN index (sim_graph_ann / _persist) ----

  /** Graph-ANN knobs — ONE definition feeding the index builder, both query
    * variants, and the mirrored oracle SQL (a drifting copy would silently
    * diverge the hash compare). */
  private val GannDeg = 4 // base / tier-1 link degree (top-M per node)
  private val GannEntryE = 4 // entry candidates kept before the beam
  private val GannBeamB = 6 // beam width per round
  private val GannRounds = 2 // fixed beam rounds
  private val GannK = 3 // declared top-k
  private val GannHubM = 8 // tier-2 hub link degree
  private val GannHubMod = 4L // tier-2 sampling modulus over medoid cells

  /** The two-tier graph index: base edges (top-M within IVF cell + top-M
    * onto the tier-1 medoids), the tier-1 medoid set (vec_id, cell, ce),
    * the tier-2 hash-sampled hub set, and the tier-2 descent edges. graph /
    * medoids / hubEdges are checkpointed — together they ARE the standing
    * artifact the probe path reads (sim_graph_ann_persist commits exactly
    * these rows to the transaction log). */
  private[graft] final case class GraphTiers(graph: DataFrame, medoids: DataFrame,
    hubs2: DataFrame, hubEdges: DataFrame)

  /** Determinized top-`deg` out-edges from (vec_id, ce, nb, nbe) candidate
    * pairs — the edge-selection primitive shared by the index build and
    * the append path's new-node linking. */
  private def topMEdges(edges: DataFrame, deg: Int): DataFrame = {
    val wEdge = Window.partitionBy("vec_id")
      .orderBy(col("raw").desc, col("nb").asc)
    edges
      .where(col("vec_id") =!= col("nb"))
      .select(col("vec_id"), col("nb"),
        cosine(col("ce"), col("nbe")).as("raw"))
      .withColumn("rn", row_number().over(wEdge))
      .where(col("rn") <= deg)
      .select("vec_id", "nb")
  }

  private def buildGraphTiers(s: SparkSession, dir: String): GraphTiers =
    buildGraphTiersFrom(sharedFit(s, dir), sharedAssigned(s, dir),
      corpus(s, dir))

  /** The two-tier build over EXPLICIT frames, so the same construction
    * serves the full corpus (sharedGraphTiers) and the base slice of the
    * maintain lifecycle (day-0 build, frozen thereafter). */
  private def buildGraphTiersFrom(fitted: DataFrame, assigned: DataFrame,
      co: DataFrame): GraphTiers = {
    def topM(edges: DataFrame, deg: Int = GannDeg): DataFrame =
      topMEdges(edges, deg)
    // Base layer: top-M cosine per node within its IVF cell; tier-1
    // hub layer: top-M links onto the broadcast seed vectors.
    val inCell = topM(assigned.select(col("vec_id"), col("ce"), col("cell"))
      .join(assigned.select(col("vec_id").as("nb"),
        col("ce").as("nbe"), col("cell")), Seq("cell")))
    // Tier 1 = the cell MEDOIDS (the corpus vector nearest each FITTED
    // centroid — real members, so a medoid's in-cell edges lead into
    // its cell; the raw vec_id<IvfCells seeds lose that binding after
    // the Lloyd refit). argmax per cell via struct-max: partial-agg
    // friendly, determinized by (cos, -vec_id).
    val medoids = assigned.select(col("vec_id"), col("ce"), col("cell"))
      .join(broadcast(fitted
        .select(col("cid").as("cell"), col("centroid"))), Seq("cell"))
      .select(col("cell"), col("vec_id"),
        cosine(col("ce"), col("centroid")).as("mc"))
      .groupBy("cell")
      .agg(max(struct(col("mc"), (-col("vec_id")).as("nid"))).as("m"))
      .select(col("cell"), (-col("m.nid")).as("vec_id"))
      .join(co.select(col("vec_id"), col("ce")), Seq("vec_id"))
      .localCheckpoint() // IvfCells rows — the tier-1 hub set
    val toSeed = topM(co.select("vec_id", "ce")
      .crossJoin(broadcast(medoids
        .select(col("vec_id").as("nb"), col("ce").as("nbe")))))
    val graph = inCell.union(toSeed)
      .localCheckpoint() // the standing index artifact, reused per round
    // Tier 2: hash-sampled medoids; descent edges onto the full tier 1.
    val hubs2 = medoids.where(col("cell") % GannHubMod === 0L)
      .select(col("vec_id"), col("ce"))
    val hubEdges = topM(hubs2
      .crossJoin(broadcast(medoids
        .select(col("vec_id").as("nb"), col("ce").as("nbe")))), GannHubM)
      .localCheckpoint() // tiny: |tier2| × hubM rows
    GraphTiers(graph, medoids, hubs2, hubEdges)
  }

  /** The two-tier graph index for (s, dir), built on FIRST USE and then
    * probed by every later graph-ANN query of the run (a production user
    * probes a persisted index; sim_graph_ann_persist is that lifecycle on
    * disk). */
  private[graft] def sharedGraphTiers(s: SparkSession, dir: String): GraphTiers =
    Standing(StandingGraph, s, dir)(buildGraphTiers(s, dir))

  /** The DAY-0 (base-slice) index frames the maintain/refit lifecycle
    * queries share: the frozen-geometry fit over the pre-delta corpus
    * slice, its cell assignment, and the two-tier graph built on it —
    * built on first use like [[sharedGraphTiers]] (a production deployment
    * has ONE day-0 build; each lifecycle query re-commits the artifact to
    * its own fresh log table, but the frames themselves are deterministic
    * and value-identical to an in-query rebuild, so warm ≡ cold). */
  private def sharedBaseTiers(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, GraphTiers) =
    Standing(StandingBase, s, dir) {
      val m = graft.GraftConfig.AnnDeltaMod
      val r = graft.GraftConfig.AnnDeltaRem
      val base = corpus(s, dir).where(!(col("vec_id") % m === r))
      val fit = ivfFit(base, ivfSeeds(s, dir)).localCheckpoint()
      val assigned = assignCell(base, "vec_id", "ce", fit)
        .localCheckpoint()
      (fit, assigned, buildGraphTiersFrom(fit, assigned, base))
    }

  /** The hub-entry probe path over a two-tier graph index, parameterized by
    * the index FRAMES so the same arithmetic runs against the in-memory
    * build (sim_graph_ann's warm tiers) or the cold on-disk artifact
    * (sim_graph_ann_persist): score the tier-2 hubs, drop along the best
    * hub's descent links to the best tier-1 medoid, enter that medoid's
    * cell whole, then GannRounds of frontier-∪-neighbors beam. Descent
    * scoring keeps self-pairs (navigation may land on the probe's own
    * vector — that IS the right region); only candidate scoring excludes
    * self. Returns (probe_id, vec_id, raw) — the final frontier. */
  private[graft] def gannHubProbe(pr: DataFrame, co: DataFrame, cellsV: DataFrame,
      medoids: DataFrame, hubs2: DataFrame, hubEdges: DataFrame,
      graph: DataFrame): DataFrame =
    gannBeamFrom(
      gannHubEntry(pr, co, cellsV, medoids, hubs2, hubEdges), pr, co, graph)

  /** Score candidate (probe_id, vec_id) pairs against the probes —
    * self-pairs excluded (result scoring; NAVIGATION keeps them, see
    * [[gannHubEntry]]). BEAM-ROUND candidates ONLY: the sets scored here
    * are O(probes × beam × degree) — corpus-INDEPENDENT by the family's
    * scale contract — so they are the broadcast side and the corpus is the
    * streamed side (without the hint, a localCheckpoint'd frontier has no
    * size estimate and the planner falls back to a sort-merge join that
    * exchanges BOTH sides). The ENTRY set must NOT come through here: the
    * best medoid's whole cell is O(corpus/cells) per probe and GROWS with
    * the corpus — broadcasting it would exceed the 8 GB broadcast cap at
    * scale (the r18 ADVICE flag); [[gannHubEntry]] scores it off the
    * cell-assignment frame itself instead. */
  private[graft] def gannScore(cand: DataFrame, pr: DataFrame, co: DataFrame)
      : DataFrame = co.select("vec_id", "ce")
    .join(broadcast(cand), Seq("vec_id"))
    .join(broadcast(pr), Seq("probe_id"))
    .where(col("probe_id") =!= col("vec_id"))
    .select(col("probe_id"), col("vec_id"),
      cosine(col("pe"), col("ce")).as("raw"))

  /** The hub DESCENT: score tier-2 hubs, drop along the best hub's links
    * to the best tier-1 medoid, enter that medoid's cell whole (plus the
    * medoids read on the way down). Returns the SCORED DISTINCT entry
    * candidate set (probe_id, vec_id, raw), self-pairs excluded. Descent
    * scoring keeps self-pairs (navigation may land on the probe's own
    * vector — that IS the right region); only the returned entry scores
    * exclude self. `cellsV` carries the vectors (vec_id, cell, ce): the
    * best cell's membership is O(corpus/cells) per probe and GROWS with
    * the corpus, so it is scored off this frame directly — broadcasting
    * only the O(probes)-row cell choice and the probes — never collected
    * into a corpus-growing broadcast list (the r18 ADVICE scale flag:
    * the old shape force-broadcast O(probes × V/cells) candidate pairs,
    * which exceeds the 8 GB broadcast cap at survey scale). */
  private[graft] def gannHubEntry(pr: DataFrame, co: DataFrame, cellsV: DataFrame,
      medoids: DataFrame, hubs2: DataFrame, hubEdges: DataFrame)
      : DataFrame = {
    val (cellLane, descentLane) =
      gannEntryLanes(pr, co, cellsV, medoids, hubs2, hubEdges)
    // Distinct on (probe, vec): the cell and descent lanes overlap, and
    // duplicate rows carry the IDENTICAL raw (same sequential-order dot
    // on the same values — PropertySpec pins it), so a max over the key
    // set dedups exactly.
    cellLane.unionAll(descentLane)
      .groupBy("probe_id", "vec_id")
      .agg(max(col("raw")).as("raw"))
  }

  /** The two scored lanes of [[gannHubEntry]], (probe_id, vec_id, raw)
    * each, self-pairs excluded: the best medoid's whole cell, and the
    * medoids read on the descent. */
  private[graft] def gannEntryLanes(pr: DataFrame, co: DataFrame,
      cellsV: DataFrame, medoids: DataFrame, hubs2: DataFrame,
      hubEdges: DataFrame): (DataFrame, DataFrame) = {
    val wProbe = Window.partitionBy("probe_id")
      .orderBy(col("raw").desc, col("vec_id").asc)
    val e2best = pr.crossJoin(broadcast(hubs2))
      .select(col("probe_id"), col("vec_id"),
        cosine(col("pe"), col("ce")).as("raw"))
      .withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= 1)
      .select("probe_id", "vec_id")
    val mDesc = e2best.join(broadcast(hubEdges), Seq("vec_id"))
      .select(col("probe_id"), col("nb").as("vec_id"))
      .union(e2best)
    // Descent candidates are O(1 + hubM) per probe — broadcast them and
    // stream the corpus (same contract as [[gannScore]]). The scores
    // serve BOTH the medoid choice (self-pairs kept) and, self excluded,
    // the descent lane of the returned entry set — one scoring pass, not
    // two.
    val mScored = co.select("vec_id", "ce")
      .join(broadcast(mDesc.distinct()), Seq("vec_id"))
      .join(broadcast(pr), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosine(col("pe"), col("ce")).as("raw"))
    val bestMed = mScored
      .join(broadcast(medoids
        .select(col("vec_id"), col("cell").as("mcell"))), Seq("vec_id"))
      .withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= 1)
      .select(col("probe_id"), col("mcell"))
    val cellScored = cellsV
      .join(broadcast(bestMed), col("cell") === col("mcell"))
      .join(broadcast(pr), Seq("probe_id"))
      .where(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        cosine(col("pe"), col("ce")).as("raw"))
    (cellScored, mScored.where(col("probe_id") =!= col("vec_id")))
  }

  /** Entry-candidate top-E over the SCORED entry set, then GannRounds of
    * frontier-∪-neighbors beam. Returns (probe_id, vec_id, raw) — the
    * final frontier. */
  private[graft] def gannBeamFrom(entryScored: DataFrame, pr: DataFrame,
      co: DataFrame, graph: DataFrame): DataFrame = {
    val wProbe = Window.partitionBy("probe_id")
      .orderBy(col("raw").desc, col("vec_id").asc)
    val f0 = entryScored
      .withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= GannEntryE)
      .select("probe_id", "vec_id", "raw")
    (1 to GannRounds).foldLeft(f0) { (f, _) =>
      // The frontier is O(probes × beam) — broadcast it onto the edge
      // table (O(V·deg) at scale, never shuffled per probe; without the
      // hint this is a two-exchange sort-merge join, the edge table
      // re-shuffled every round).
      gannScore(f.select("probe_id", "vec_id")
          .union(graph.join(broadcast(f.select("probe_id", "vec_id")),
              Seq("vec_id"))
            .select(col("probe_id"), col("nb").as("vec_id")))
          .distinct(), pr, co)
        .withColumn("rn", row_number().over(wProbe))
        .where(col("rn") <= GannBeamB)
        .select("probe_id", "vec_id", "raw")
    }
  }

  /** The on-disk artifact rows for a built index — the unified
    * (kind, tier, src, dst) long schema sim_graph_ann_persist commits and
    * sim_graph_ann_maintain appends to: node rows carry (vec_id → cell)
    * with tier 0/1/2 = member/medoid/hub-2, edge rows carry (vec_id → nb)
    * with tier 0 = base graph, 2 = hub descent links. Vectors are NOT
    * copied in — the index references vec_ids and scoring joins the data
    * table, so the artifact stays O(V·deg) longs, not O(V·dims) floats. */
  private def gannArtifactRows(assigned: DataFrame, tiers: GraphTiers)
      : DataFrame = {
    // Medoid / hub sets are O(cells) — broadcast them onto the corpus-sized
    // assignment (stat-less localCheckpoint frames otherwise sort-merge).
    val nodeRows = assigned.select(col("vec_id"), col("cell"))
      .join(broadcast(tiers.medoids.select(col("vec_id"),
        lit(1L).as("isMed"))), Seq("vec_id"), "left")
      .join(broadcast(tiers.hubs2.select(col("vec_id"),
        lit(1L).as("isHub"))), Seq("vec_id"), "left")
      .select(lit("node").as("kind"),
        coalesce(col("isHub") * 2L, col("isMed"), lit(0L)).as("tier"),
        col("vec_id").as("src"), col("cell").as("dst"))
    val edgeRows = tiers.graph
      .select(lit("edge").as("kind"), lit(0L).as("tier"),
        col("vec_id").as("src"), col("nb").as("dst"))
      .unionAll(tiers.hubEdges
        .select(lit("edge").as("kind"), lit(2L).as("tier"),
          col("vec_id").as("src"), col("nb").as("dst")))
    nodeRows.unionAll(edgeRows)
  }

  /** Derive the probe-side frames from a COLD artifact read: cell
    * assignments, medoids (vectors joined from the data table), tier-2
    * hubs, hub descent edges, base graph. */
  private[graft] def gannFramesFrom(artC: DataFrame, co: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val cNodes = artC.where(col("kind") === "node")
      .select(col("src").as("vec_id"), col("dst").as("cell"), col("tier"))
    // The full cell assignment WITH vectors (vec_id, cell, ce): node rows
    // meet the data table on the corpus's own key — an O(V) equi-join the
    // planner is free to shuffle (both sides are corpus-sized; at survey
    // scale artifact and data table share the id layout), feeding the
    // entry scoring WITHOUT ever broadcasting a corpus-growing set
    // (the r18 ADVICE scale flag).
    val cCellsV = co.select("vec_id", "ce")
      .join(cNodes.select("vec_id", "cell"), Seq("vec_id"))
    // Medoid / hub node sets are O(cells) — broadcast them and stream the
    // data table (same contract as [[gannScore]]; the artifact read is a
    // stat-less LogicalRDD, so without the hint both joins sort-merge).
    val cMedoids = co.select("vec_id", "ce")
      .join(broadcast(cNodes.where(col("tier") >= 1L)
        .select(col("vec_id"), col("cell"))), Seq("vec_id"))
      .select("vec_id", "cell", "ce")
    val cHubs2 = co.select("vec_id", "ce")
      .join(broadcast(cNodes.where(col("tier") === 2L).select("vec_id")),
        Seq("vec_id"))
    def cEdges(t: Long) = artC
      .where(col("kind") === "edge" && col("tier") === t)
      .select(col("src").as("vec_id"), col("dst").as("nb"))
    (cCellsV, cMedoids, cHubs2, cEdges(2L), cEdges(0L))
  }

  /** Oracle-SQL builders for the graph-ANN family — ONE definition of the
    * index + hub-lane arithmetic shared by sim_graph_ann (which appends the
    * ivf lane, candidate logs, and the recall baseline) and
    * sim_graph_ann_persist (which selects straight from the hub beam:
    * persistence is semantics-free, so the same WITH-chain oracles both). */
  private def gannBeamSql(prev: String, cd: String, f: String,
      g: String = "g"): String =
    s"""$cd AS MATERIALIZED (
       |  SELECT DISTINCT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id FROM $prev
       |    UNION ALL
       |    SELECT fr.probe_id, $g.nb AS vec_id
       |    FROM $prev fr JOIN $g ON $g.vec_id = fr.vec_id)),
       |$f AS MATERIALIZED (
       |  SELECT probe_id, vec_id, raw FROM (
       |    SELECT cd.probe_id, cd.vec_id, ${cosSql("p.pe", "x.ce")} AS raw,
       |      row_number() OVER (PARTITION BY cd.probe_id
       |        ORDER BY ${cosSql("p.pe", "x.ce")} DESC, cd.vec_id ASC) AS rn
       |    FROM $cd cd
       |    JOIN call x ON x.vec_id = cd.vec_id
       |    JOIN pr p ON p.probe_id = cd.probe_id
       |    WHERE cd.probe_id <> cd.vec_id)
       |  WHERE rn <= $GannBeamB)""".stripMargin

  private def gannEntrySql(ec: String, f0: String): String =
    s"""$f0 AS MATERIALIZED (
       |  SELECT probe_id, vec_id, raw FROM (
       |    SELECT e.probe_id, e.vec_id, ${cosSql("p.pe", "x.ce")} AS raw,
       |      row_number() OVER (PARTITION BY e.probe_id
       |        ORDER BY ${cosSql("p.pe", "x.ce")} DESC, e.vec_id ASC) AS rn
       |    FROM $ec e
       |    JOIN call x ON x.vec_id = e.vec_id
       |    JOIN pr p ON p.probe_id = e.probe_id
       |    WHERE e.probe_id <> e.vec_id)
       |  WHERE rn <= $GannEntryE)""".stripMargin

  /** Two-tier index CTEs (med/medv/g/h2/hubE) over whatever the enclosing
    * chain bound `c` to (full-corpus assigned for sim_graph_ann/_persist;
    * BASE-slice assigned under ivfChainSql(Some(r)) for the maintain
    * lifecycle). `seedSrc` is the (vec_id, ce) node source for the
    * to-medoid seed edges — `call` when the whole corpus is indexed, `c0`
    * when only the base slice is (a delta vector must NOT get day-0 seed
    * edges). */
  private def gannIndexCtes(seedSrc: String): String =
    s"""med AS MATERIALIZED (
       |  SELECT cell, vec_id FROM (
       |    SELECT x.cell, x.vec_id,
       |      row_number() OVER (PARTITION BY x.cell
       |        ORDER BY ${cosSql("x.ce", "ct.centroid")} DESC,
       |          x.vec_id ASC) AS rn
       |    FROM c x JOIN cents$KMeansIters ct ON ct.cid = x.cell)
       |  WHERE rn = 1),
       |medv AS MATERIALIZED (
       |  SELECT m.cell, x.vec_id, x.ce
       |  FROM med m JOIN call x ON x.vec_id = m.vec_id),
       |g AS MATERIALIZED (
       |  SELECT vec_id, nb FROM (
       |    SELECT a.vec_id, b.vec_id AS nb,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${cosSql("a.ce", "b.ce")} DESC, b.vec_id ASC) AS rn
       |    FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id <> b.vec_id)
       |  WHERE rn <= $GannDeg
       |  UNION ALL
       |  SELECT vec_id, nb FROM (
       |    SELECT a.vec_id, s.vec_id AS nb,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${cosSql("a.ce", "s.ce")} DESC, s.vec_id ASC) AS rn
       |    FROM $seedSrc a CROSS JOIN medv s
       |    WHERE a.vec_id <> s.vec_id)
       |  WHERE rn <= $GannDeg),
       |h2 AS (SELECT vec_id, ce FROM medv WHERE cell % $GannHubMod = 0),
       |hubE AS (
       |  SELECT vec_id, nb FROM (
       |    SELECT a.vec_id, s.vec_id AS nb,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${cosSql("a.ce", "s.ce")} DESC, s.vec_id ASC) AS rn
       |    FROM h2 a CROSS JOIN medv s WHERE a.vec_id <> s.vec_id)
       |  WHERE rn <= $GannHubM)""".stripMargin

  /** Hub-descent CTEs (e2/mdesc/bmed) — VERSION-INDEPENDENT: descent only
    * touches the frozen hub tiers, so the maintain oracle's two beams
    * share one descent. */
  private def gannDescentCtes: String =
    s"""e2 AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT p.probe_id, h.vec_id,
       |      row_number() OVER (PARTITION BY p.probe_id
       |        ORDER BY ${cosSql("p.pe", "h.ce")} DESC, h.vec_id ASC) AS rn
       |    FROM pr p CROSS JOIN h2 h)
       |  WHERE rn <= 1),
       |mdesc AS MATERIALIZED (
       |  SELECT DISTINCT probe_id, vec_id FROM (
       |    SELECT e.probe_id, hubE.nb AS vec_id
       |    FROM e2 e JOIN hubE ON hubE.vec_id = e.vec_id
       |    UNION ALL SELECT probe_id, vec_id FROM e2)),
       |bmed AS (
       |  SELECT probe_id, mcell FROM (
       |    SELECT d.probe_id, mv.cell AS mcell,
       |      row_number() OVER (PARTITION BY d.probe_id
       |        ORDER BY ${cosSql("p.pe", "x.ce")} DESC,
       |          d.vec_id ASC) AS rn
       |    FROM mdesc d JOIN call x ON x.vec_id = d.vec_id
       |    JOIN pr p ON p.probe_id = d.probe_id
       |    JOIN medv mv ON mv.vec_id = d.vec_id)
       |  WHERE rn = 1)""".stripMargin

  /** Entry + GannRounds beam for one index VERSION: cell entry reads
    * `nodesCte` (which nodes exist at this version), expansion joins
    * `graphCte` (which edges exist). CTE names suffix with `sfx`
    * (ec/f0/cd1/f1/cd2/f2 + sfx); NOTE the beam rounds are unrolled
    * literally — two gannBeamSql calls ⇔ GannRounds == 2. */
  private def gannEntryBeamCtes(sfx: String, nodesCte: String,
      graphCte: String): String = {
    require(GannRounds == 2, "gannEntryBeamCtes unrolls exactly 2 beam rounds")
    s"""ec$sfx AS MATERIALIZED (
       |  SELECT DISTINCT probe_id, vec_id FROM (
       |    SELECT b.probe_id, x.vec_id
       |    FROM bmed b JOIN $nodesCte x ON x.cell = b.mcell
       |    UNION ALL SELECT probe_id, vec_id FROM mdesc)),
       |${gannEntrySql(s"ec$sfx", s"f0$sfx")},
       |${gannBeamSql(s"f0$sfx", s"cd1$sfx", s"f1$sfx", graphCte)},
       |${gannBeamSql(s"f1$sfx", s"cd2$sfx", s"f2$sfx", graphCte)}""".stripMargin
  }

  /** The shared WITH-chain for the full-corpus graph queries: IVF fit,
    * two-tier index, probes, descent, and the hub lane's entry + beams
    * ending in `f2h`. */
  private def gannCommonSql: String =
    s"""${ivfChainSql(None)},
       |${gannIndexCtes("call")},
       |pr AS MATERIALIZED ($probeSql),
       |$gannDescentCtes,
       |${gannEntryBeamCtes("h", "c", "g")}""".stripMargin

  /** IVF probe oracle — the Lloyd fit unrolled to CTEs (a<i> = assignment
    * to cents<i-1>, cents<i> = rounded per-cell mean), shared by `sim_ivf`
    * (fit + index + probe all in one query), `sim_index_probe` (the SAME
    * index persisted bucketed and probed from disk — storage and join
    * strategy are semantics-free), and `sim_index_maintain`
    * (deltaRem = Some(r): the fit sees only the base slice, the delta's
    * vectors join the index assigned against the FROZEN final centroids —
    * exactly the append the Spark side performs). MATERIALIZED on the
    * multi-referenced CTEs (c0 feeds every fit round — the kcore lesson).
    * generate_subscripts zips with unnest positionally (1-based vs Spark's
    * 0-based pos — ordering, not values, is what matters for the
    * re-assembled array). */
  /** The CTE chain only (fit → index → probe assignment → `scored` →
    * `ranked`), no final select — so consumers can compose their own tail:
    * [[ivfProbeOracleSql]] appends the probe answer,
    * `sim_recall_report`'s oracle appends an exact-top-k comparison. */
  private def ivfChainSql(deltaRem: Option[Long],
      probeSrcSql: String = probeSql): String = {
    val m = graft.GraftConfig.AnnDeltaMod
    def assignSql(src: String, idCol: String, vecCol: String,
        cents: String): String =
      s"""SELECT $idCol, $vecCol, cid AS cell FROM (
         |    SELECT $idCol, $vecCol, cid,
         |      row_number() OVER (PARTITION BY $idCol
         |        ORDER BY ${cosSql(vecCol, "centroid")} DESC, cid ASC) AS rn
         |    FROM $src CROSS JOIN $cents)
         |  WHERE rn = 1""".stripMargin
    def meanSql(a: String): String =
      s"""SELECT cell AS cid, list(mv ORDER BY pos) AS centroid FROM (
         |    SELECT cell, pos, floor((avg(v)) * 1e6 + 0.5) / 1e6 AS mv FROM (
         |      SELECT cell, unnest(ce) AS v, generate_subscripts(ce, 1) AS pos
         |      FROM $a)
         |    GROUP BY cell, pos)
         |  GROUP BY cell""".stripMargin
    val basePred = deltaRem.map(r => s" WHERE vec_id % $m <> $r").getOrElse("")
    val iters = (1 to KMeansIters).map { i =>
      s"""a$i AS MATERIALIZED (${assignSql("c0", "vec_id", "ce", s"cents${i - 1}")}),
         |cents$i AS MATERIALIZED (${meanSql(s"a$i")})""".stripMargin
    }.mkString(",\n")
    val deltaCte = deltaRem.map { r =>
      s""",
         |d AS MATERIALIZED (${assignSql(
          s"(SELECT vec_id, ce FROM call WHERE vec_id % $m = $r)",
          "vec_id", "ce", s"cents$KMeansIters")})""".stripMargin
    }.getOrElse("")
    val idxSql =
      if (deltaRem.isDefined)
        "SELECT vec_id, ce, cell FROM c UNION ALL SELECT vec_id, ce, cell FROM d"
      else "SELECT vec_id, ce, cell FROM c"
    // With a delta, the probe answers in two result lanes: top-3 over the
    // whole maintained index ('all') plus the best match among the day's
    s"""WITH call AS MATERIALIZED ($corpusSql),
       |c0 AS MATERIALIZED (SELECT vec_id, ce FROM call$basePred),
       |cents0 AS (
       |  SELECT vec_id AS cid, embedding::DOUBLE[] AS centroid
       |  FROM embeddings WHERE vec_id < $IvfCells),
       |$iters,
       |c AS MATERIALIZED (${assignSql("c0", "vec_id", "ce", s"cents$KMeansIters")})$deltaCte,
       |idx AS ($idxSql),
       |p AS (${assignSql(s"($probeSrcSql)", "probe_id", "pe", s"cents$KMeansIters")}),
       |scored AS MATERIALIZED (
       |  SELECT probe_id, cell, vec_id, ${cosSql("pe", "ce")} AS raw
       |  FROM idx JOIN p USING (cell) WHERE probe_id <> vec_id),
       |ranked AS (
       |  SELECT probe_id, cell, vec_id, raw,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY raw DESC, vec_id ASC) AS rank
       |  FROM scored)""".stripMargin
  }

  private[graft] def ivfProbeOracleSql(deltaRem: Option[Long],
      probeSrcSql: String = probeSql): String = {
    val m = graft.GraftConfig.AnnDeltaMod
    // With a delta, the probe answers in two result lanes: top-3 over the
    // whole maintained index ('all') plus the best match among the day's
    // arrivals ('fresh') — the lane that makes the append observable.
    val finalSql = deltaRem match {
      case None =>
        s"""
           |SELECT probe_id, cell, vec_id, floor((raw) * 1e6 + 0.5) / 1e6 AS cos, rank
           |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin
      case Some(r) =>
        s""",
           |fresh AS (
           |  SELECT probe_id, cell, vec_id, raw,
           |    row_number() OVER (PARTITION BY probe_id
           |      ORDER BY raw DESC, vec_id ASC) AS rank
           |  FROM scored WHERE vec_id % $m = $r)
           |SELECT probe_id, scope, cell, vec_id, cos, rank FROM (
           |  SELECT probe_id, 'all' AS scope, cell, vec_id,
           |    floor((raw) * 1e6 + 0.5) / 1e6 AS cos, rank
           |  FROM ranked WHERE rank <= 3
           |  UNION ALL
           |  SELECT probe_id, 'fresh' AS scope, cell, vec_id,
           |    floor((raw) * 1e6 + 0.5) / 1e6 AS cos, rank
           |  FROM fresh WHERE rank = 1)
           |ORDER BY probe_id, scope, rank""".stripMargin
    }
    ivfChainSql(deltaRem, probeSrcSql) + finalSql
  }

  /** Recall@3 of the IVF probe against exact brute force — the index-
    * quality monitor: the same `ranked` chain as `sim_ivf`, compared to an
    * exact all-corpus top-3 per probe (identical (raw DESC, vec_id ASC)
    * tie discipline on both sides). */
  /** Cell-balance report oracle: per-cell population, corpus share, and
    * mean member-to-centroid cosine over the same fitted chain. */
  private def ivfCellReportOracleSql: String =
    ivfChainSql(None) + s""",
       |per AS (
       |  SELECT c.cell, count(*) AS n_vectors,
       |    floor((avg(${cosSql("ce", "centroid")})) * 1e6 + 0.5) / 1e6 AS mean_cos
       |  FROM c JOIN cents$KMeansIters ON cid = cell
       |  GROUP BY c.cell)
       |SELECT cell, n_vectors,
       |  floor((CAST(n_vectors AS DOUBLE) /
       |    CAST(sum(n_vectors) OVER () AS BIGINT)) * 1e6 + 0.5) / 1e6 AS share,
       |  mean_cos
       |FROM per ORDER BY cell""".stripMargin

  private def ivfRecallOracleSql: String =
    ivfChainSql(None) + s""",
       |approx AS (SELECT probe_id, vec_id FROM ranked WHERE rank <= 3),
       |ex AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY ${cosSql("pe", "ce")} DESC, vec_id ASC) AS rank
       |    FROM call CROSS JOIN ($probeSql) WHERE probe_id <> vec_id)
       |  WHERE rank <= 3)
       |SELECT e.probe_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  floor((CAST(count(a.vec_id) AS DOUBLE) / 3.0) * 1e6 + 0.5) / 1e6 AS recall
       |FROM ex e LEFT JOIN approx a
       |  ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
       |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin

  /** sim_autotune oracle: three independent unrolled Lloyd chains (seeds
    * = first c corpus vectors, KMeansIters steps each), every candidate
    * probed at nprobe=1 over the same 5-probe panel and scored against
    * the SHARED exact top-3 — tuning table, floor filter, and the
    * cheapest-qualifying choice all reconstructed DuckDB-side, so the
    * DECISION itself is hash-checked, not just the metrics. */
  private def simAutotuneOracleSql: String = {
    val floor = graft.GraftConfig.SimTuneRecallFloorMicro
    def assignSql(src: String, idCol: String, vecCol: String,
        cents: String): String =
      s"""SELECT $idCol, $vecCol, cid AS cell FROM (
         |    SELECT $idCol, $vecCol, cid,
         |      row_number() OVER (PARTITION BY $idCol
         |        ORDER BY ${cosSql(vecCol, "centroid")} DESC, cid ASC) AS rn
         |    FROM $src CROSS JOIN $cents)
         |  WHERE rn = 1""".stripMargin
    def meanSql(a: String): String =
      s"""SELECT cell AS cid, list(mv ORDER BY pos) AS centroid FROM (
         |    SELECT cell, pos, floor((avg(v)) * 1e6 + 0.5) / 1e6 AS mv FROM (
         |      SELECT cell, unnest(ce) AS v, generate_subscripts(ce, 1) AS pos
         |      FROM $a)
         |    GROUP BY cell, pos)
         |  GROUP BY cell""".stripMargin
    val chains = Seq(4, 8, 16).map { c =>
      val iters = (1 to KMeansIters).map { i =>
        s"""a${i}_$c AS MATERIALIZED (${assignSql("tc0", "vec_id", "ce", s"cents${i - 1}_$c")}),
           |cents${i}_$c AS MATERIALIZED (${meanSql(s"a${i}_$c")})""".stripMargin
      }.mkString(",\n")
      s"""cents0_$c AS MATERIALIZED (
         |  SELECT vec_id AS cid, embedding::DOUBLE[] AS centroid
         |  FROM embeddings WHERE vec_id < $c),
         |$iters,
         |ca_$c AS MATERIALIZED (${assignSql("tc0", "vec_id", "ce", s"cents${KMeansIters}_$c")}),
         |pa_$c AS (${assignSql("tpr", "probe_id", "pe", s"cents${KMeansIters}_$c")}),
         |scored_$c AS MATERIALIZED (
         |  SELECT p.probe_id, x.vec_id, ${cosSql("p.pe", "x.ce")} AS raw
         |  FROM ca_$c x JOIN pa_$c p ON p.cell = x.cell
         |  WHERE p.probe_id <> x.vec_id),
         |approx_$c AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY raw DESC, vec_id ASC) AS rank FROM scored_$c)
         |  WHERE rank <= 3),
         |row_$c AS (
         |  SELECT CAST($c AS BIGINT) AS cells,
         |    (SELECT count(*) FROM scored_$c) AS n_scanned,
         |    (SELECT count(*) FROM approx_$c a JOIN ex e
         |       ON e.probe_id = a.probe_id AND e.vec_id = a.vec_id) AS n_hits)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH tc0 AS MATERIALIZED (SELECT vec_id, ce FROM ($corpusSql)),
       |tpr AS MATERIALIZED ($probeSql),
       |ex AS MATERIALIZED (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id
       |      ORDER BY ${cosSql("pe", "ce")} DESC, vec_id ASC) AS rank
       |    FROM tc0 CROSS JOIN tpr WHERE probe_id <> vec_id)
       |  WHERE rank <= 3),
       |$chains,
       |tune AS (
       |  SELECT cells, n_scanned, n_hits, (n_hits * 1000000) // 15 AS recall_micro
       |  FROM (SELECT * FROM row_4 UNION ALL SELECT * FROM row_8
       |        UNION ALL SELECT * FROM row_16)),
       |pick AS (
       |  SELECT cells FROM tune WHERE recall_micro >= $floor
       |  ORDER BY n_scanned, cells LIMIT 1)
       |SELECT cells, n_scanned, n_hits, recall_micro,
       |  cells = (SELECT cells FROM pick) AS chosen
       |FROM tune ORDER BY cells""".stripMargin
  }

  /** The IVFPQ ADC pipeline shared by `sim_ivfpq` (the approx ranking IS
    * the answer, top-5) and `sim_refine` (the approx ranking is a
    * SHORTLIST, re-scored exactly): coarse cells from the shared Lloyd
    * fit, residuals vs the own-cell centroid, PQ codes from cell-shared
    * codebooks, probes ADC-scored inside their own cell only. Returns the
    * per-probe approx-distance ranking UNFILTERED — consumers cut at their
    * own depth. */
  private def ivfpqAdcRanked(s: SparkSession, dir: String): DataFrame = {
    val M = 8; val D = 8; val K = 4L
    // -- coarse quantizer: the shared sim_ivf fit --
    val fitted = sharedFit(s, dir)
    val fittedC = fitted.select(col("cid").as("cell"), col("centroid"))
    // -- residuals vs the own-cell centroid --
    val cRes = sharedAssigned(s, dir)
      .join(broadcast(fittedC), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("ce"), col("centroid"), (a, b) => a - b).as("rv"))
    val pRes = assignCell(probes(s, dir), "probe_id", "pe", fitted)
      .join(broadcast(fittedC), "cell")
      .select(col("probe_id"), col("cell"),
        zip_with(col("pe"), col("centroid"), (a, b) => a - b).as("rv"))
    // -- PQ on residuals: the sim_pq machinery, codebooks cell-shared --
    def subvecs(df: DataFrame, idCol: String): DataFrame =
      df.select(col(idCol), col("cell"),
        posexplode(array((0 until M).map(m => slice(col("rv"), m * D + 1, D)): _*))
          .as(Seq("sub", "sv")))
    def d2(x: Column, c: Column): Column =
      rnd(dot(x, x) - lit(2.0) * dot(x, c) + dot(c, c), 6)
    val sv = subvecs(cRes, "vec_id")
    val cents0 = sv.where(col("vec_id") < K)
      .select(col("sub"), col("vec_id").as("cid"), col("sv").as("cv"))
    def assignCode(df: DataFrame, idCol: String, cents: DataFrame): DataFrame =
      df.join(broadcast(cents), "sub")
        .select(col(idCol), col("cell"), col("sub"), col("sv"), col("cid"),
          d2(col("sv"), col("cv")).as("dr"))
        .groupBy(idCol, "sub")
        .agg(min(struct(col("dr"), col("cid"))).as("m"),
          first(col("sv")).as("sv"), first(col("cell")).as("cell"))
        .select(col(idCol), col("cell"), col("sub"), col("sv"),
          col("m").getField("cid").as("cid"))
    val a1 = assignCode(sv, "vec_id", cents0)
    val cents1 = a1
      .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("sub", "cid", "pos").agg(rnd(avg(col("v")), 6).as("mv"))
      .groupBy("sub", "cid")
      .agg(sort_array(collect_list(struct(col("pos"), col("mv")))).as("sm"))
      .select(col("sub"), col("cid"),
        transform(col("sm"), x => x.getField("mv")).as("cv"))
    val codes = assignCode(sv, "vec_id", cents1)
      .select(col("vec_id"), col("cell"), col("sub"), col("cid"))
    // -- probe ADC table against the probe's OWN residual --
    val ptab = subvecs(pRes, "probe_id").join(broadcast(cents1), "sub")
      .select(col("probe_id"), col("cell"), col("sub"), col("cid"),
        d2(col("sv"), col("cv")).as("cell_d2"))
    // -- ADC scoring confined to the probed cell --
    val w = Window.partitionBy("probe_id")
      .orderBy(col("approx_d2").asc, col("vec_id").asc)
    codes.join(broadcast(ptab), Seq("cell", "sub", "cid"))
      .where(col("probe_id") =!= col("vec_id"))
      .groupBy("probe_id", "cell", "vec_id")
      .agg(rnd(sum(col("cell_d2")), 6).as("approx_d2"))
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** The IVFPQ composition unrolled to CTEs, parameterized by the consumer:
    * refine = None → `sim_ivfpq` (approx top-5 is the output); refine =
    * Some(r) → `sim_refine` (approx top-r is a shortlist, re-scored with
    * exact cosine over the RAW vectors joined back from c0/pa, final top-3).
    * MATERIALIZED on every multi-referenced stage: the Lloyd chain +
    * residual + PQ chain is deep enough that DuckDB's default CTE inlining
    * would expand it multiplicatively (the kcore lesson). */
  private def ivfpqOracleSql(refine: Option[Long]): String = {
    def cellAssignSql(src: String, idCol: String, vecCol: String,
        cents: String): String =
      s"""SELECT $idCol, $vecCol, cid AS cell FROM (
         |    SELECT $idCol, $vecCol, cid,
         |      row_number() OVER (PARTITION BY $idCol
         |        ORDER BY ${cosSql(vecCol, "centroid")} DESC, cid ASC) AS rn
         |    FROM $src CROSS JOIN $cents)
         |  WHERE rn = 1""".stripMargin
    def d2Sql(x: String, c: String): String =
      s"floor((list_dot_product($x, $x) - 2 * list_dot_product($x, $c) + list_dot_product($c, $c)) * 1e6 + 0.5) / 1e6"
    def codeAssignSql(src: String, idCol: String, cents: String): String =
      s"""SELECT $idCol, cell, sub, sv, cid FROM (
         |    SELECT v.$idCol, v.cell, v.sub, v.sv, c.cid,
         |      row_number() OVER (PARTITION BY v.$idCol, v.sub
         |        ORDER BY ${d2Sql("v.sv", "c.cv")} ASC, c.cid ASC) AS rn
         |    FROM $src v JOIN $cents c USING (sub))
         |  WHERE rn = 1""".stripMargin
    def resSql(assigned: String, idCol: String, vecCol: String): String =
      s"""SELECT $idCol, cell, list(av - bv ORDER BY pos) AS rv FROM (
         |    SELECT a.$idCol, a.cell, unnest(a.$vecCol) AS av,
         |      unnest(f.centroid) AS bv,
         |      generate_subscripts(a.$vecCol, 1) AS pos
         |    FROM $assigned a JOIN icents$KMeansIters f ON f.cid = a.cell)
         |  GROUP BY $idCol, cell""".stripMargin
    val iters = (1 to KMeansIters).map { i =>
      s"""ia$i AS MATERIALIZED (${cellAssignSql("c0", "vec_id", "ce", s"icents${i - 1}")}),
         |icents$i AS MATERIALIZED (
         |  SELECT cell AS cid, list(mv ORDER BY pos) AS centroid FROM (
         |    SELECT cell, pos, floor((avg(v)) * 1e6 + 0.5) / 1e6 AS mv FROM (
         |      SELECT cell, unnest(ce) AS v, generate_subscripts(ce, 1) AS pos
         |      FROM ia$i)
         |    GROUP BY cell, pos)
         |  GROUP BY cell)""".stripMargin
    }.mkString(",\n")
    val finalSql = refine match {
      case None =>
        s"""
           |SELECT probe_id, cell, vec_id, approx_d2, rank
           |FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin
      case Some(r) =>
        s""",
           |short AS (SELECT probe_id, cell, vec_id FROM ranked WHERE rank <= $r),
           |ex AS (
           |  SELECT s.probe_id, s.cell, s.vec_id, ${cosSql("p.pe", "v.ce")} AS raw
           |  FROM short s
           |  JOIN pa p ON p.probe_id = s.probe_id
           |  JOIN c0 v ON v.vec_id = s.vec_id),
           |rr AS (
           |  SELECT probe_id, cell, vec_id, raw,
           |    row_number() OVER (PARTITION BY probe_id
           |      ORDER BY raw DESC, vec_id ASC) AS rank
           |  FROM ex)
           |SELECT probe_id, cell, vec_id, floor((raw) * 1e6 + 0.5) / 1e6 AS cos, rank
           |FROM rr WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin
    }
    s"""WITH c0 AS MATERIALIZED ($corpusSql),
       |icents0 AS (
       |  SELECT vec_id AS cid, embedding::DOUBLE[] AS centroid
       |  FROM embeddings WHERE vec_id < $IvfCells),
       |$iters,
       |ca AS MATERIALIZED (${cellAssignSql("c0", "vec_id", "ce", s"icents$KMeansIters")}),
       |pa AS MATERIALIZED (${cellAssignSql(s"($probeSql)", "probe_id", "pe", s"icents$KMeansIters")}),
       |cres AS MATERIALIZED (${resSql("ca", "vec_id", "ce")}),
       |pres AS MATERIALIZED (${resSql("pa", "probe_id", "pe")}),
       |sv AS MATERIALIZED (
       |  SELECT vec_id, cell, g.i AS sub, list_slice(rv, g.i * 8 + 1, g.i * 8 + 8) AS sv
       |  FROM cres CROSS JOIN generate_series(0, 7) g(i)),
       |pqc0 AS MATERIALIZED (SELECT sub, vec_id AS cid, sv AS cv FROM sv WHERE vec_id < 4),
       |pq1 AS MATERIALIZED (${codeAssignSql("sv", "vec_id", "pqc0")}),
       |pqc1 AS MATERIALIZED (
       |  SELECT sub, cid, list(mv ORDER BY pos) AS cv FROM (
       |    SELECT sub, cid, pos, floor((avg(v)) * 1e6 + 0.5) / 1e6 AS mv FROM (
       |      SELECT sub, cid, unnest(sv) AS v, generate_subscripts(sv, 1) AS pos
       |      FROM pq1)
       |    GROUP BY sub, cid, pos)
       |  GROUP BY sub, cid),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, cell, sub, cid FROM (${codeAssignSql("sv", "vec_id", "pqc1")})),
       |psv AS MATERIALIZED (
       |  SELECT probe_id, cell, g.i AS sub, list_slice(rv, g.i * 8 + 1, g.i * 8 + 8) AS sv
       |  FROM pres CROSS JOIN generate_series(0, 7) g(i)),
       |ptab AS MATERIALIZED (
       |  SELECT p.probe_id, p.cell, c.sub, c.cid, ${d2Sql("p.sv", "c.cv")} AS cell_d2
       |  FROM psv p JOIN pqc1 c USING (sub)),
       |adc AS (
       |  SELECT t.probe_id, k.cell, k.vec_id,
       |    floor((sum(t.cell_d2)) * 1e6 + 0.5) / 1e6 AS approx_d2
       |  FROM codes k JOIN ptab t
       |    ON t.cell = k.cell AND t.sub = k.sub AND t.cid = k.cid
       |  WHERE t.probe_id <> k.vec_id
       |  GROUP BY t.probe_id, k.cell, k.vec_id),
       |ranked AS (
       |  SELECT probe_id, cell, vec_id, approx_d2,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY approx_d2 ASC, vec_id ASC) AS rank
       |  FROM adc)$finalSql""".stripMargin
  }

  val defs: Seq[QDef] = Seq(

    // Brute-force cosine: probe set × corpus, probe side broadcast.
    QDef(
      "sim_cosine",
      (s, dir) =>
        corpus(s, dir)
          .join(broadcast(probes(s, dir)), col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("vec_id"),
            rnd(cosine(col("pe"), col("ce")), 6).as("cos"))
          .orderBy("probe_id", "vec_id"),
      Some(s"""WITH p AS ($probeSql), c AS ($corpusSql)
              |SELECT probe_id, vec_id, floor((${cosSql("pe", "ce")}) * 1e6 + 0.5) / 1e6 AS cos
              |FROM c JOIN p ON probe_id <> vec_id
              |ORDER BY probe_id, vec_id""".stripMargin)),

    // Top-10 nearest neighbors per probe (rank on raw cosine, vec_id ties).
    QDef(
      "sim_knn_topk",
      (s, dir) => {
        val w = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        corpus(s, dir)
          .join(broadcast(probes(s, dir)), col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("vec_id"), col("label"),
            cosine(col("pe"), col("ce")).as("raw"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 10L)
          .select(col("probe_id"), col("vec_id"), col("label"),
            rnd(col("raw"), 6).as("cos"), col("rank"))
          .orderBy("probe_id", "rank")
      },
      Some(s"""WITH p AS ($probeSql), c AS ($corpusSql),
              |scored AS (
              |  SELECT probe_id, vec_id, label, ${cosSql("pe", "ce")} AS raw
              |  FROM c JOIN p ON probe_id <> vec_id),
              |ranked AS (
              |  SELECT probe_id, vec_id, label, raw,
              |    row_number() OVER (PARTITION BY probe_id
              |      ORDER BY raw DESC, vec_id ASC) AS rank
              |  FROM scored)
              |SELECT probe_id, vec_id, label, floor((raw) * 1e6 + 0.5) / 1e6 AS cos, rank
              |FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin)),

    // HYBRID RETRIEVAL — reciprocal-rank fusion of a LEXICAL ranking
    // (BM25, k1 = 1.2, b = 0.75 — the Robertson/Sparck Jones defaults)
    // with the VECTOR ranking (cosine over `embeddings`, the sim_knn_topk
    // plan), the standard modern retrieval stack for curation and RAG:
    // each side retrieves its top-20 per probe document, the lists merge
    // FULL OUTER on (probe, doc), and rrf = Σ 1/(60 + rank) over the
    // lists that retrieved the doc (Cormack et al. 2009's k = 60). Rank
    // arithmetic is integral, and 1/(60+r) is a single IEEE division, so
    // the fused score is deterministic; the BM25 ranking itself orders by
    // the 1e-6-ROUNDED score (its Σ-over-terms is FP-order-sensitive,
    // unlike the dot product's sequential-order native expression, which
    // lets the vector side rank raw exactly as sim_knn_topk does).
    // Scale: tf/df/dlen are corpus aggregates computed once (the
    // text_tfidf shuffles); per-probe candidates are the posting-list
    // join on the probe's own terms (never a corpus scan per query); the
    // vector side broadcasts probes and streams the corpus once; both
    // top-20 cuts are partial-aggregating windows, and the fusion join
    // runs on O(probes × 20) rows.
    QDef(
      "sim_rrf_fusion",
      (s, dir) => {
        val d = T.documents(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
        val tf = d.select(col("doc_id"), explode(col("toks")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dlen = d.select(col("doc_id"),
          size(col("toks")).cast("long").as("dl"))
        val stats = dlen.agg(count(lit(1)).as("n_docs"),
          avg("dl").as("avgdl"))
        val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val qt = tf.where(col("doc_id") < 5L)
          .select(col("doc_id").as("probe_id"), col("tok")).distinct()
        val bm = tf.join(qt, "tok").where(col("doc_id") =!= col("probe_id"))
          .join(broadcast(df), "tok").join(dlen, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("idf", log(lit(1.0) +
            (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
              (col("df").cast("double") + lit(0.5))))
          .withColumn("st", col("idf") *
            (col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))))
          .groupBy("probe_id", "doc_id")
          .agg(rnd(sum("st"), 6).as("bm25"))
        val wl = Window.partitionBy("probe_id")
          .orderBy(col("bm25").desc, col("doc_id").asc)
        val lex = bm.withColumn("r_lex", row_number().over(wl).cast("long"))
          .where(col("r_lex") <= 20L).select("probe_id", "doc_id", "r_lex")
        val wv = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        val vec = corpus(s, dir)
          .join(broadcast(probes(s, dir)), col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
          .withColumn("r_vec", row_number().over(wv).cast("long"))
          .where(col("r_vec") <= 20L)
          .select(col("probe_id"), col("vec_id").as("doc_id"), col("r_vec"))
        val wf = Window.partitionBy("probe_id")
          .orderBy(col("rrf").desc, col("doc_id").asc)
        lex.join(vec, Seq("probe_id", "doc_id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60L) + col("r_lex")).cast("double"), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60L) + col("r_vec")).cast("double"), lit(0.0)))
          .withColumn("rank", row_number().over(wf).cast("long"))
          .where(col("rank") <= 10L)
          .select(col("probe_id"), col("doc_id"),
            coalesce(col("r_lex"), lit(0L)).as("r_lex"),
            coalesce(col("r_vec"), lit(0L)).as("r_vec"),
            rnd(col("rrf"), 6).as("rrf"), col("rank"))
          .orderBy("probe_id", "rank")
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              |tf AS (
              |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
              |  FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
              |  GROUP BY doc_id, tok),
              |dlen AS (
              |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
              |stats AS (
              |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dlen),
              |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
              |qt AS (
              |  SELECT DISTINCT doc_id AS probe_id, tok FROM tf WHERE doc_id < 5),
              |bm AS (
              |  SELECT probe_id, tf.doc_id,
              |    floor((sum(
              |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
              |        (CAST(df AS DOUBLE) + 0.5)) *
              |      (CAST(tf AS DOUBLE) * 2.2) /
              |      (CAST(tf AS DOUBLE) + 1.2 *
              |        (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)))) * 1e6 + 0.5) / 1e6
              |      AS bm25
              |  FROM tf JOIN qt USING (tok) JOIN df USING (tok)
              |    JOIN dlen ON tf.doc_id = dlen.doc_id CROSS JOIN stats
              |  WHERE tf.doc_id <> probe_id
              |  GROUP BY probe_id, tf.doc_id),
              |lex AS (
              |  SELECT probe_id, doc_id, r_lex FROM (
              |    SELECT probe_id, doc_id, row_number() OVER (
              |      PARTITION BY probe_id ORDER BY bm25 DESC, doc_id ASC) AS r_lex
              |    FROM bm) WHERE r_lex <= 20),
              |p AS ($probeSql), c AS ($corpusSql),
              |vec AS (
              |  SELECT probe_id, doc_id, r_vec FROM (
              |    SELECT probe_id, vec_id AS doc_id, row_number() OVER (
              |      PARTITION BY probe_id
              |      ORDER BY ${cosSql("pe", "ce")} DESC, vec_id ASC) AS r_vec
              |    FROM c JOIN p ON probe_id <> vec_id) WHERE r_vec <= 20),
              |fused AS (
              |  SELECT coalesce(lex.probe_id, vec.probe_id) AS probe_id,
              |    coalesce(lex.doc_id, vec.doc_id) AS doc_id,
              |    coalesce(r_lex, 0) AS r_lex, coalesce(r_vec, 0) AS r_vec,
              |    coalesce(1.0 / CAST(60 + r_lex AS DOUBLE), 0.0) +
              |      coalesce(1.0 / CAST(60 + r_vec AS DOUBLE), 0.0) AS rrf
              |  FROM lex FULL OUTER JOIN vec
              |    ON lex.probe_id = vec.probe_id AND lex.doc_id = vec.doc_id)
              |SELECT probe_id, doc_id, r_lex, r_vec,
              |  floor((rrf) * 1e6 + 0.5) / 1e6 AS rrf, rank
              |FROM (
              |  SELECT *, row_number() OVER (PARTITION BY probe_id
              |    ORDER BY rrf DESC, doc_id ASC) AS rank
              |  FROM fused)
              |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin)),

    // ANN scale path: 4 fixed pseudo-random hyperplanes → 4-bit bucket;
    // probes compare only against their own bucket, then top-3 per probe.
    // Plane j component i = ((j*64+i)*2654435761 % 1000)/1000 - 0.5 —
    // deterministic, identical in both engines.
    QDef(
      "sim_ann_lsh",
      (s, dir) => {
        // Plane components computed at plan-build time and embedded as array
        // LITERALS (the prior `transform(sequence(...))` expression form was
        // re-evaluated per element_at — O(dims²) interpreted work per row).
        val planes = (0 until LshPlanes).map { j =>
          typedlit((0 until Dims).map(i =>
            ((i.toLong + j * 64) * 2654435761L % 1000L).toDouble / 1000.0 - 0.5))
        }
        def bucketOf(e: Column): Column =
          (0 until LshPlanes).map { j =>
            when(dot(e, planes(j)) > 0.0, 1L << j).otherwise(0L)
          }.reduce(_ + _)
        val c = corpus(s, dir).withColumn("bucket", bucketOf(col("ce")))
        val p = probes(s, dir).withColumn("bucket", bucketOf(col("pe")))
        val w = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        c.join(broadcast(p), Seq("bucket"))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 3L)
          .select(col("probe_id"), col("vec_id"),
            rnd(col("raw"), 6).as("cos"), col("rank"))
          .orderBy("probe_id", "rank")
      },
      Some(s"""WITH planes AS (
              |  SELECT j, list_transform(generate_series(0, 63),
              |    i -> CAST((i + j * 64) * 2654435761 % 1000 AS DOUBLE) / 1000.0 - 0.5) AS plane
              |  FROM (SELECT unnest(generate_series(0, ${LshPlanes - 1})) AS j)),
              |c AS (SELECT vec_id, ce, (
              |    SELECT CAST(sum(CASE WHEN list_dot_product(ce, plane) > 0.0
              |      THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) FROM planes) AS bucket
              |  FROM ($corpusSql)),
              |p AS (SELECT probe_id, pe, (
              |    SELECT CAST(sum(CASE WHEN list_dot_product(pe, plane) > 0.0
              |      THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) FROM planes) AS bucket
              |  FROM ($probeSql)),
              |scored AS (
              |  SELECT probe_id, vec_id, ${cosSql("pe", "ce")} AS raw
              |  FROM c JOIN p ON c.bucket = p.bucket AND probe_id <> vec_id),
              |ranked AS (
              |  SELECT probe_id, vec_id, raw,
              |    row_number() OVER (PARTITION BY probe_id
              |      ORDER BY raw DESC, vec_id ASC) AS rank
              |  FROM scored)
              |SELECT probe_id, vec_id, floor((raw) * 1e6 + 0.5) / 1e6 AS cos, rank
              |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin)),

    // Multi-probe LSH + exact rerank: the recall lever single-table LSH
    // lacks without L independent tables — each probe queries its OWN bucket
    // plus every Hamming-1 neighbor (one sign-bit flip ≈ the plane the
    // vector sits closest to), 1 + LshPlanes buckets total, then the
    // candidate union is exactly reranked to a top-5. This is the two-stage
    // retrieve-then-rerank shape of production vector search: stage 1 cheap
    // and bucket-pruned (probe side explodes ×5, corpus side UNCHANGED —
    // still one narrow bucket shuffle), stage 2 exact only on candidates.
    // A corpus vector lives in exactly one bucket, so the 5 probed buckets
    // are disjoint — no candidate dedup pass is needed.
    QDef(
      "sim_multiprobe",
      (s, dir) => {
        val planes = (0 until LshPlanes).map { j =>
          typedlit((0 until Dims).map(i =>
            ((i.toLong + j * 64) * 2654435761L % 1000L).toDouble / 1000.0 - 0.5))
        }
        def bucketOf(e: Column): Column =
          (0 until LshPlanes).map { j =>
            when(dot(e, planes(j)) > 0.0, 1L << j).otherwise(0L)
          }.reduce(_ + _)
        val flips = typedlit(0L +: (0 until LshPlanes).map(j => 1L << j))
        val c = corpus(s, dir).withColumn("bucket", bucketOf(col("ce")))
        val p = probes(s, dir).withColumn("b0", bucketOf(col("pe")))
          .withColumn("f", explode(flips))
          .select(col("probe_id"), col("pe"),
            col("b0").bitwiseXOR(col("f")).as("bucket"))
        val w = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        c.join(broadcast(p), Seq("bucket"))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 5L)
          .select(col("probe_id"), col("vec_id"),
            rnd(col("raw"), 6).as("cos"), col("rank"))
          .orderBy("probe_id", "rank")
      },
      Some(s"""WITH planes AS (
              |  SELECT j, list_transform(generate_series(0, 63),
              |    i -> CAST((i + j * 64) * 2654435761 % 1000 AS DOUBLE) / 1000.0 - 0.5) AS plane
              |  FROM (SELECT unnest(generate_series(0, ${LshPlanes - 1})) AS j)),
              |c AS (SELECT vec_id, ce, (
              |    SELECT CAST(sum(CASE WHEN list_dot_product(ce, plane) > 0.0
              |      THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) FROM planes) AS bucket
              |  FROM ($corpusSql)),
              |p0 AS (SELECT probe_id, pe, (
              |    SELECT CAST(sum(CASE WHEN list_dot_product(pe, plane) > 0.0
              |      THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) FROM planes) AS b0
              |  FROM ($probeSql)),
              |p AS (SELECT probe_id, pe, xor(b0, f.f) AS bucket
              |      FROM p0, (SELECT unnest([${(0L +: (0 until LshPlanes).map(j => 1L << j)).mkString(", ")}]) AS f) f),
              |scored AS (
              |  SELECT probe_id, vec_id, ${cosSql("pe", "ce")} AS raw
              |  FROM c JOIN p ON c.bucket = p.bucket AND probe_id <> vec_id),
              |ranked AS (
              |  SELECT probe_id, vec_id, raw,
              |    row_number() OVER (PARTITION BY probe_id
              |      ORDER BY raw DESC, vec_id ASC) AS rank
              |  FROM scored)
              |SELECT probe_id, vec_id, floor((raw) * 1e6 + 0.5) / 1e6 AS cos, rank
              |FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin)),

    // Product quantization + ADC: the third ANN family next to LSH
    // (bucketing) and IVF (coarse partitioning) — COMPRESSION. Each vector
    // splits into 8 subvectors of 8 dims; a per-subspace K=4 codebook (seeded
    // from the first 4 corpus vectors, one deterministic Lloyd step with
    // centroids rounded to the 1e-6 grid) encodes the corpus as 8 small code
    // ids per vector. A probe then scores the WHOLE corpus from a tiny
    // asymmetric-distance table — per (sub, cid) squared-L2 cells, 8×4 rows
    // per probe, BROADCAST — summed over the 8 code joins: the corpus side
    // touches only its code rows, never the raw vectors. At 100 TB the
    // embedding store shrinks 64×8 bytes → 8 bytes/vector and the scan is
    // codes-only; this plan is exactly that layout. All argmins and the ADC
    // sum compare ROUNDED values (every distance is a 1e-6 multiple, so the
    // 8-term sum is grid-exact in both engines regardless of merge order).
    QDef(
      "sim_pq",
      (s, dir) => {
        val M = 8; val D = 8; val K = 4L
        def subvecs(df: DataFrame, idCol: String, vecCol: String) =
          df.select(col(idCol),
            posexplode(array((0 until M).map(m => slice(col(vecCol), m * D + 1, D)): _*))
              .as(Seq("sub", "sv")))
        def d2(x: Column, c: Column): Column =
          rnd(dot(x, x) - lit(2.0) * dot(x, c) + dot(c, c), 6)
        val sv = subvecs(corpus(s, dir), "vec_id", "ce")
        val cents0 = sv.where(col("vec_id") < K)
          .select(col("sub"), col("vec_id").as("cid"), col("sv").as("cv"))
        def assign(df: DataFrame, idCol: String, cents: DataFrame) =
          df.join(broadcast(cents), "sub")
            .select(col(idCol), col("sub"), col("sv"), col("cid"),
              d2(col("sv"), col("cv")).as("dr"))
            .groupBy(idCol, "sub")
            .agg(min(struct(col("dr"), col("cid"))).as("m"), first(col("sv")).as("sv"))
            .select(col(idCol), col("sub"), col("sv"),
              col("m").getField("cid").as("cid"))
        val a1 = assign(sv, "vec_id", cents0)
        val cents1 = a1
          .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("pos", "v")))
          .groupBy("sub", "cid", "pos").agg(rnd(avg(col("v")), 6).as("mv"))
          .groupBy("sub", "cid")
          .agg(sort_array(collect_list(struct(col("pos"), col("mv")))).as("sm"))
          .select(col("sub"), col("cid"),
            transform(col("sm"), x => x.getField("mv")).as("cv"))
        val codes = assign(sv, "vec_id", cents1)
          .select(col("vec_id"), col("sub"), col("cid"))
        val psv = subvecs(probes(s, dir), "probe_id", "pe")
        val ptab = psv.join(broadcast(cents1), "sub")
          .select(col("probe_id"), col("sub"), col("cid"),
            d2(col("sv"), col("cv")).as("cell_d2"))
        val w = Window.partitionBy("probe_id")
          .orderBy(col("approx_d2").asc, col("vec_id").asc)
        codes.join(broadcast(ptab), Seq("sub", "cid"))
          .where(col("probe_id") =!= col("vec_id"))
          .groupBy("probe_id", "vec_id")
          .agg(rnd(sum(col("cell_d2")), 6).as("approx_d2"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 5L)
          .orderBy("probe_id", "rank")
      },
      Some {
        def d2Sql(x: String, c: String): String =
          s"floor((list_dot_product($x, $x) - 2 * list_dot_product($x, $c) + list_dot_product($c, $c)) * 1e6 + 0.5) / 1e6"
        def assignSql(src: String, idCol: String, cents: String): String =
          s"""SELECT $idCol, sub, sv, cid FROM (
             |    SELECT v.$idCol, v.sub, v.sv, c.cid,
             |      row_number() OVER (PARTITION BY v.$idCol, v.sub
             |        ORDER BY ${d2Sql("v.sv", "c.cv")} ASC, c.cid ASC) AS rn
             |    FROM $src v JOIN $cents c USING (sub))
             |  WHERE rn = 1""".stripMargin
        s"""WITH c0 AS ($corpusSql),
           |sv AS (
           |  SELECT vec_id, g.i AS sub, list_slice(ce, g.i * 8 + 1, g.i * 8 + 8) AS sv
           |  FROM c0 CROSS JOIN generate_series(0, 7) g(i)),
           |cents0 AS (SELECT sub, vec_id AS cid, sv AS cv FROM sv WHERE vec_id < 4),
           |a1 AS (${assignSql("sv", "vec_id", "cents0")}),
           |cents1 AS (
           |  SELECT sub, cid, list(mv ORDER BY pos) AS cv FROM (
           |    SELECT sub, cid, pos, floor((avg(v)) * 1e6 + 0.5) / 1e6 AS mv FROM (
           |      SELECT sub, cid, unnest(sv) AS v, generate_subscripts(sv, 1) AS pos
           |      FROM a1)
           |    GROUP BY sub, cid, pos)
           |  GROUP BY sub, cid),
           |codes AS (SELECT vec_id, sub, cid FROM (${assignSql("sv", "vec_id", "cents1")})),
           |psv AS (
           |  SELECT probe_id, g.i AS sub, list_slice(pe, g.i * 8 + 1, g.i * 8 + 8) AS sv
           |  FROM ($probeSql) CROSS JOIN generate_series(0, 7) g(i)),
           |ptab AS (
           |  SELECT p.probe_id, c.sub, c.cid, ${d2Sql("p.sv", "c.cv")} AS cell_d2
           |  FROM psv p JOIN cents1 c USING (sub)),
           |adc AS (
           |  SELECT t.probe_id, k.vec_id,
           |    floor((sum(t.cell_d2)) * 1e6 + 0.5) / 1e6 AS approx_d2
           |  FROM codes k JOIN ptab t ON t.sub = k.sub AND t.cid = k.cid
           |  WHERE t.probe_id <> k.vec_id
           |  GROUP BY t.probe_id, k.vec_id),
           |ranked AS (
           |  SELECT probe_id, vec_id, approx_d2,
           |    row_number() OVER (PARTITION BY probe_id
           |      ORDER BY approx_d2 ASC, vec_id ASC) AS rank
           |  FROM adc)
           |SELECT probe_id, vec_id, approx_d2, rank
           |FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin
      }),

    // IVF-style ANN with a REAL (if small) coarse-quantizer fit: the first
    // `IvfCells` vectors seed `KMeansIters` deterministic Lloyd iterations
    // (assign-to-nearest → per-cell elementwise mean), then corpus and probes
    // are assigned to the fitted centroids and probes search only their own
    // cell (top-3) — the inverted-file layout: pre-partitioned by cell on
    // disk, a probe reads one partition.
    //
    // Scale/parity notes:
    //  - Assignment is a partial-aggregating argmax (max(struct(cos, -cid)))
    //    — no per-key window, one map-side-combining shuffle per iteration at
    //    any corpus size. The centroid update is posexplode → (cell, pos)
    //    partial-agg mean → re-assembled array: shuffle rows ≤ cells × dims ×
    //    partitions, never O(corpus).
    //  - Updated centroids are ROUNDED to the 1e-6 grid each iteration, so
    //    both engines feed bit-identical centroid arrays into the next
    //    sequential-dot cosine — the FP divergence window is one rounded avg,
    //    the same bet every rnd()'d aggregate in this suite takes.
    QDef(
      "sim_ivf",
      (s, dir) => {
        val fitted = sharedFit(s, dir)
        val c = sharedAssigned(s, dir)
        val p = assignCell(probes(s, dir), "probe_id", "pe", fitted)
        val w = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        c.join(broadcast(p), Seq("cell"))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("cell"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 3L)
          .select(col("probe_id"), col("cell"), col("vec_id"),
            rnd(col("raw"), 6).as("cos"), col("rank"))
          .orderBy("probe_id", "rank")
      },
      Some(ivfProbeOracleSql(None))),

    // FILTERED vector search — top-k restricted by a metadata predicate
    // (label ≡ 0 mod 3 here; "only English docs", "only this tenant" in
    // production), the ANN feature every real deployment needs and most
    // benchmarks skip. Semantics are PRE-filtering: the predicate applies
    // to the index side BEFORE ranking, so the top-3 are all valid —
    // post-filtering a generic top-k can return fewer than k (or nothing)
    // for selective predicates. Shape: the standing assignment attaches
    // its metadata with one equi-join on the vector id (in production the
    // index table CARRIES the filter columns — written once at indexing
    // time, cf. sim_index_probe's persisted layout — so this join
    // disappears into the index scan), the predicate prunes candidates
    // before any cosine is computed, and the rest is the sim_ivf probe
    // unchanged: broadcast probes, cell equi-join, rank-pushdown top-3.
    // Filter selectivity compounds with cell pruning — at 100 TB a
    // filtered probe reads one cell's index rows and scores only the
    // predicate's survivors.
    QDef(
      "sim_ann_filtered",
      (s, dir) => {
        val fitted = sharedFit(s, dir)
        val labels = T.embeddings(s, dir).select(col("vec_id"), col("label"))
        val p = assignCell(probes(s, dir), "probe_id", "pe", fitted)
        val w = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        sharedAssigned(s, dir).join(labels, Seq("vec_id"))
          .where(col("label") % 3 === 0)
          .join(broadcast(p), Seq("cell"))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("cell"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 3L)
          .select(col("probe_id"), col("cell"), col("vec_id"),
            rnd(col("raw"), 6).as("cos"), col("rank"))
          .orderBy("probe_id", "rank")
      },
      Some(ivfChainSql(None) + s""",
         |fscored AS (
         |  SELECT s.probe_id, s.cell, s.vec_id, s.raw
         |  FROM scored s JOIN call ON call.vec_id = s.vec_id
         |  WHERE call.label % 3 = 0),
         |franked AS (
         |  SELECT probe_id, cell, vec_id, raw,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY raw DESC, vec_id ASC) AS rank
         |  FROM fscored)
         |SELECT probe_id, cell, vec_id,
         |  floor((raw) * 1e6 + 0.5) / 1e6 AS cos, rank
         |FROM franked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin)),

    // IVF + PQ composition — the index shape production vector search
    // actually deploys (FAISS-style IVFADC [PK]): the coarse quantizer
    // confines the search to one cell, and product quantization compresses
    // what the cell scan reads. The same `sim_ivf` Lloyd fit assigns every
    // vector a cell; each vector's RESIDUAL against its own cell centroid
    // (`zip_with` subtraction — exact IEEE, both engines see identical
    // inputs) is PQ-encoded with the `sim_pq` machinery (8×8-dim subspaces,
    // K=4 codebooks seeded from the first 4 residuals + one rounded Lloyd
    // step — codebooks SHARED across cells, as real IVFPQ trains them); a
    // probe then scores ONLY its own cell, from a broadcast ADC table
    // built against its own residual. Encoding residuals instead of raw
    // vectors is what makes the composition better than either part: cell
    // centroids absorb the coarse structure, so the 4-entry codebooks
    // spend their bits on local detail.
    //
    // Scale: at query time the corpus side touches codes only — (vec_id,
    // cell, sub, cid) rows, 8 B/vector of payload — never raw vectors; the
    // ADC table is probes × 8 × 4 rows, broadcast; the cell equi-join
    // prunes the scan to corpus/cells per probe. Every argmin/argmax is a
    // partial-aggregating max(struct)/min(struct), and every FP boundary
    // crosses the 1e-6 grid (rounded Lloyd means, rounded distance cells,
    // re-rounded 8-term ADC sums) — the same determinism bet sim_ivf and
    // sim_pq each take, composed.
    QDef(
      "sim_ivfpq",
      (s, dir) =>
        ivfpqAdcRanked(s, dir)
          .where(col("rank") <= 5L)
          .select("probe_id", "cell", "vec_id", "approx_d2", "rank")
          .orderBy("probe_id", "rank"),
      Some(ivfpqOracleSql(None))),

    // Two-stage retrieval — the refine step production ANN serves queries
    // with (FAISS IVFADC+refine [PK]): the IVFPQ ADC ranking is demoted to
    // a CANDIDATE GENERATOR (top-AnnRefineShortlist per probe, scored on
    // 8-byte codes), and only the shortlist's RAW vectors are fetched and
    // re-scored with exact cosine for the final top-3. This is the shape
    // that makes PQ's lossy compression safe to deploy: approximation
    // bounds the candidate set, exactness decides the answer.
    //
    // Scale: the expensive side stays codes-only (the sim_ivfpq cost
    // model); the refine step touches raw vectors for probes ×
    // AnnRefineShortlist rows ONLY, attached by BROADCASTING the shortlist
    // into the corpus scan — the corpus never shuffles, and the fetch cost
    // is one pruned pass independent of corpus size. At 100 TB the
    // shortlist fetch is a point-lookup batch against the vector store;
    // the broadcast hash join is exactly that shape.
    QDef(
      "sim_refine",
      (s, dir) => {
        val shortlist = ivfpqAdcRanked(s, dir)
          .where(col("rank") <= graft.GraftConfig.AnnRefineShortlist)
          .select("probe_id", "cell", "vec_id")
        val withProbe = shortlist.join(probes(s, dir), "probe_id")
        val w = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        corpus(s, dir).join(broadcast(withProbe), "vec_id")
          .select(col("probe_id"), col("cell"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 3L)
          .select(col("probe_id"), col("cell"), col("vec_id"),
            rnd(col("raw"), 6).as("cos"), col("rank"))
          .orderBy("probe_id", "rank")
      },
      Some(ivfpqOracleSql(Some(graft.GraftConfig.AnnRefineShortlist)))),

    // Recall@3 report — the index-quality monitor an ANN deployment runs
    // continuously: the IVF probe's top-3 (the sim_ivf answer, from the
    // shared standing fit/assignment) compared per probe against the exact
    // brute-force top-3, with the intersection size and recall fraction
    // per probe. Both rankings use the identical (raw DESC, vec_id ASC)
    // tie discipline, so the comparison measures the INDEX (cell pruning
    // recall), not rounding noise. Scale shape: the approx side is the
    // standing-index probe (zero fit recompute when warm); the exact side
    // is one corpus pass with the probe batch broadcast — the evaluation
    // a production deployment runs over a SAMPLED probe set precisely
    // because it costs one exact pass; recall aggregates to
    // O(probes) rows map-side. Production sweeps nprobe/cells against
    // this number — the op that closes the ANN tuning loop.
    QDef(
      "sim_recall_report",
      (s, dir) => {
        val fitted = sharedFit(s, dir)
        val cAssigned = sharedAssigned(s, dir)
        val p = assignCell(probes(s, dir), "probe_id", "pe", fitted)
        def top3(scored: DataFrame): DataFrame = {
          val w = Window.partitionBy("probe_id")
            .orderBy(col("raw").desc, col("vec_id").asc)
          scored.withColumn("rank", row_number().over(w))
            .where(col("rank") <= 3)
            .select("probe_id", "vec_id")
        }
        val approx = top3(cAssigned.join(broadcast(p), Seq("cell"))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw")))
        val exact = top3(corpus(s, dir)
          .join(broadcast(probes(s, dir)), col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw")))
        exact.join(approx.withColumn("hit", lit(1L)),
            Seq("probe_id", "vec_id"), "left")
          .groupBy("probe_id")
          .agg(count(col("hit")).as("n_hit"))
          .select(col("probe_id"), col("n_hit"),
            rnd(col("n_hit").cast("double") / 3.0, 6).as("recall"))
          .orderBy("probe_id")
      },
      Some(ivfRecallOracleSql)),

    // Cell-balance report — the other half of index monitoring next to
    // sim_recall_report: per-cell population, corpus share, and mean
    // member-to-centroid cosine (cell cohesion). Production watches this
    // because IVF probe latency is the SKEW of this table (a probe scans
    // corpus × share of its cell — one hot cell is a tail-latency
    // incident), and refit schedules trigger on share drift / cohesion
    // decay. Scale shape: the standing assignment rolls up map-side to
    // O(cells) rows against the broadcast centroid table; the share
    // denominator is a full-frame window over that bounded aggregate —
    // the corpus is never re-scanned (warm) and never re-shuffled.
    QDef(
      "sim_cell_report",
      (s, dir) => {
        val fitted = sharedFit(s, dir)
        val wAll = Window
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        sharedAssigned(s, dir)
          .join(broadcast(fitted), col("cell") === col("cid"))
          .select(col("cell"), cosine(col("ce"), col("centroid")).as("ccos"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n_vectors"), rnd(avg(col("ccos")), 6).as("mean_cos"))
          .withColumn("share",
            rnd(col("n_vectors").cast("double") / sum("n_vectors").over(wAll), 6))
          .select("cell", "n_vectors", "share", "mean_cos")
          .orderBy("cell")
      },
      Some(ivfCellReportOracleSql)),

    // IVF AUTO-TUNING — sim_cell_report/sim_recall_report made ACTIONABLE
    // (dedup_autotune's pattern on the ANN side): candidate cell counts
    // {4, 8, 16} are measured through ONE fused corpus pass, the cheapest
    // layout clearing the recall floor (`SimTuneRecallFloorMicro`) is
    // recommended, and the chosen layout re-fits STANDALONE with its
    // realized (n_scanned, n_hits) `require`d equal to its tuning row —
    // fused ≡ standalone, the property that makes the report a safe
    // reconfiguration basis (the fused pass shares one argmax over the
    // UNION of candidate centroid sets; the standalone path is the
    // production single-config probe). Cost anatomy at 100 TB: the Lloyd
    // fits run on a sample (centroids are all that survives them), the
    // fused assignment is one corpus pass against a ≤28-row broadcast
    // with per-config argmax as partial agg, probe scoring stays confined
    // to cells, and the report is O(configs) rows. Metrics integer-exact:
    // candidate volume over the 5-probe panel, hits vs the exact top-3,
    // recall in micro — so the DECISION itself is oracle-checked.
    QDef(
      "sim_autotune",
      (s, dir) => {
        val floor = graft.GraftConfig.SimTuneRecallFloorMicro
        val cfgs = Seq(4, 8, 16)
        def seedsFor(c: Int) = T.embeddings(s, dir)
          .where(col("vec_id") < c.toLong)
          .select(col("vec_id").as("cid"), emb(col("embedding")).as("centroid"))
        def fitFor(c: Int): DataFrame =
          if (c == IvfCells) sharedFit(s, dir)
          else ivfFit(corpus(s, dir), seedsFor(c))
        val centsAll = cfgs.map(c => fitFor(c).withColumn("cells", lit(c.toLong)))
          .reduce(_.unionByName(_)).localCheckpoint()
        // ONE fused assignment pass measures every candidate layout: the
        // per-(cells, id) argmax is the same partial-agg shape as
        // assignCell, just keyed one level wider.
        def assignAll(df: DataFrame, idCol: String, vecCol: String): DataFrame =
          df.crossJoin(broadcast(centsAll))
            .select(col("cells"), col(idCol), col(vecCol),
              cosine(col(vecCol), col("centroid")).as("ccos"), col("cid"))
            .groupBy(col("cells"), col(idCol))
            .agg(max(struct(col("ccos"), (-col("cid")).as("ncid"))).as("m"),
              first(col(vecCol)).as(vecCol))
            .select(col("cells"), col(idCol), col(vecCol),
              (-col("m.ncid")).as("cell"))
        val scoredAll = assignAll(corpus(s, dir), "vec_id", "ce")
          .join(broadcast(assignAll(probes(s, dir), "probe_id", "pe")),
            Seq("cells", "cell"))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("cells"), col("probe_id"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
          .localCheckpoint()
        def top3(df: DataFrame, part: Seq[String]): DataFrame = {
          val w = Window.partitionBy(part.map(col): _*)
            .orderBy(col("raw").desc, col("vec_id").asc)
          df.withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
        }
        val approx = top3(scoredAll, Seq("cells", "probe_id"))
          .select("cells", "probe_id", "vec_id")
        val exact = top3(corpus(s, dir)
            .join(broadcast(probes(s, dir)), col("probe_id") =!= col("vec_id"))
            .select(col("probe_id"), col("vec_id"),
              cosine(col("pe"), col("ce")).as("raw")),
          Seq("probe_id"))
          .select("probe_id", "vec_id").localCheckpoint()
        val denom = 3L * 5L // k × probe panel
        val tuning = scoredAll.groupBy("cells")
          .agg(count(lit(1)).as("n_scanned"))
          .join(approx.join(exact, Seq("probe_id", "vec_id"))
            .groupBy("cells").agg(count(lit(1)).as("n_hits")),
            Seq("cells"), "left")
          .select(col("cells"), col("n_scanned"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"))
          .withColumn("recall_micro", expr(s"(n_hits * 1000000) div $denom"))
          .localCheckpoint()
        // RECOMMEND: cheapest qualifying layout (bounded 3-row collect).
        val pick = tuning.where(col("recall_micro") >= floor)
          .orderBy(col("n_scanned").asc, col("cells").asc)
          .limit(1).collect()
        require(pick.nonEmpty,
          s"no cell count meets the $floor-micro recall floor")
        val cStar = pick(0).getLong(0)
        val (nScan, nHits) = (pick(0).getLong(1), pick(0).getLong(2))
        // APPLY: the chosen layout standalone — own fit, own argmax, own
        // cell join, the production single-config path — must reproduce
        // its tuning row exactly.
        val fitC = fitFor(cStar.toInt)
        val scoredC = assignCell(corpus(s, dir), "vec_id", "ce", fitC)
          .join(broadcast(assignCell(probes(s, dir), "probe_id", "pe", fitC)),
            Seq("cell"))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
          .localCheckpoint()
        val applied = scoredC.count()
        val appliedHits = top3(scoredC, Seq("probe_id"))
          .select("probe_id", "vec_id")
          .join(exact, Seq("probe_id", "vec_id")).count()
        require(applied == nScan && appliedHits == nHits,
          s"applied layout c$cStar diverged from its tuning row: standalone " +
            s"($applied, $appliedHits) vs fused ($nScan, $nHits)")
        tuning.withColumn("chosen", col("cells") === lit(cStar))
          .orderBy("cells")
      },
      Some(simAutotuneOracleSql)),

    // Embedding-cosine near-dup: top-20 most similar pairs among the LSH
    // candidate pairs — the exact precision pass over hyperplane-bucket
    // candidates, run on the WHOLE corpus (no id-range shortcut). A pair is
    // a candidate iff both vectors land in the same 4-bit hyperplane bucket
    // (the sim_ann_lsh bucketing), so candidate volume is Σ bucket² — the
    // quadratic term is confined to per-bucket population, which more
    // planes shrink at scale; the corpus itself shuffles once on the
    // narrow (bucket, id, vec) rows. Top-20 is a global sort over the
    // already-tiny candidate scores.
    QDef(
      "dedup_embed",
      (s, dir) => {
        val planes = (0 until LshPlanes).map { j =>
          typedlit((0 until Dims).map(i =>
            ((i.toLong + j * 64) * 2654435761L % 1000L).toDouble / 1000.0 - 0.5))
        }
        def bucketOf(e: Column): Column =
          (0 until LshPlanes).map { j =>
            when(dot(e, planes(j)) > 0.0, 1L << j).otherwise(0L)
          }.reduce(_ + _)
        val c = corpus(s, dir).withColumn("bucket", bucketOf(col("ce")))
        val l = c.select(col("bucket"), col("vec_id").as("d1"), col("ce").as("e1"))
        val r = c.select(col("bucket"), col("vec_id").as("d2"), col("ce").as("e2"))
        l.join(r, Seq("bucket"))
          .where(col("d1") < col("d2"))
          .select(col("d1"), col("d2"),
            rnd(cosine(col("e1"), col("e2")), 6).as("cos"))
          .orderBy(col("cos").desc, col("d1").asc, col("d2").asc)
          .limit(20)
      },
      Some(s"""WITH planes AS (
              |  SELECT j, list_transform(generate_series(0, 63),
              |    i -> CAST((i + j * 64) * 2654435761 % 1000 AS DOUBLE) / 1000.0 - 0.5) AS plane
              |  FROM (SELECT unnest(generate_series(0, ${LshPlanes - 1})) AS j)),
              |c AS (SELECT vec_id, ce, (
              |    SELECT CAST(sum(CASE WHEN list_dot_product(ce, plane) > 0.0
              |      THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) FROM planes) AS bucket
              |  FROM ($corpusSql)),
              |pairs AS (
              |  SELECT a.vec_id AS d1, b.vec_id AS d2,
              |    floor((${cosSql("a.ce", "b.ce")}) * 1e6 + 0.5) / 1e6 AS cos
              |  FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
              |SELECT d1, d2, cos FROM pairs
              |ORDER BY cos DESC, d1 ASC, d2 ASC LIMIT 20""".stripMargin)),

    // MATRYOSHKA two-stage retrieval [PK — Kusupati et al. 2022: MRL
    // embeddings are trained so a PREFIX of the vector is itself a valid
    // lower-dimensional embedding; retrieval ranks coarsely on the first
    // m dims and re-ranks the shortlist on the full vector (m = 32 here:
    // the fixture embeddings are random, not MRL-trained, so the prefix
    // needs half the dims for a 0.8+ recall — a trained MRL model gets
    // the same recall from 8) — the modern
    // codebook-free alternative to sim_refine's PQ shortlist]. Coarse
    // stage: cosine over slice(·, 1, m) — the ONLY corpus pass, 64/m× fewer
    // multiply-adds, and at rest the prefix can live as its OWN thin
    // column so the coarse scan reads m/64 of the vector bytes (column
    // pruning does the shrinking, no second index to maintain). Exact
    // stage: full-dim cosine on probes × shortlist rows only. Recall vs
    // the exact full-scan top-5 is require'd ≥ 0.6 in-query AND declared
    // per row (the sim_graph_ann honesty contract). Rank boundaries use
    // raw sequential-order dots (graft_dot ≡ list_dot_product) with
    // vec_id tie-breaks — deterministic cross-engine, rounding only on
    // the declared score.
    QDef(
      "sim_mrl",
      (s, dir) => {
        val mDims = 32
        val shortlist = 100L
        val k = 5L
        val p = probes(s, dir).withColumn("pp", slice(col("pe"), 1, mDims))
        val c = corpus(s, dir).withColumn("cp", slice(col("ce"), 1, mDims))
        val coarseW = Window.partitionBy("probe_id")
          .orderBy(col("craw").desc, col("vec_id").asc)
        val short = c.join(broadcast(p), col("probe_id") =!= col("vec_id"))
          .withColumn("craw", cosine(col("pp"), col("cp")))
          .withColumn("crank", row_number().over(coarseW).cast("long"))
          .where(col("crank") <= shortlist)
        val exactW = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        val mrl = short
          .withColumn("raw", cosine(col("pe"), col("ce")))
          .withColumn("rank", row_number().over(exactW).cast("long"))
          .where(col("rank") <= k)
          .select(col("probe_id"), col("rank"), col("vec_id"),
            rnd(col("raw"), 6).as("cos"))
        // Ground truth: the exact full-scan top-k (sim_knn_topk's plan).
        val gt = corpus(s, dir)
          .join(broadcast(probes(s, dir)), col("probe_id") =!= col("vec_id"))
          .withColumn("raw", cosine(col("pe"), col("ce")))
          .withColumn("grank", row_number().over(exactW).cast("long"))
          .where(col("grank") <= k)
          .select(col("probe_id"), col("vec_id"), lit(true).as("hit"))
        val out = mrl.join(gt, Seq("probe_id", "vec_id"), "left")
          .select(col("probe_id"), col("rank"), col("vec_id"), col("cos"),
            coalesce(col("hit"), lit(false)).as("hit"))
          .localCheckpoint() // one retrieval feeds the law and the output
        val rec = out.agg((sum(when(col("hit"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("recall")).head.getDouble(0)
        require(rec >= 0.6,
          f"MRL prefix retrieval recall $rec%.2f fell below the 0.6 floor")
        out.orderBy("probe_id", "rank")
      },
      Some(s"""WITH p AS ($probeSql), c AS ($corpusSql),
              |coarse AS (
              |  SELECT probe_id, vec_id, pe, ce,
              |    row_number() OVER (PARTITION BY probe_id
              |      ORDER BY ${cosSql("pe[1:32]", "ce[1:32]")} DESC,
              |        vec_id ASC) AS crank
              |  FROM c JOIN p ON probe_id <> vec_id),
              |mrl AS (
              |  SELECT probe_id, vec_id,
              |    ${cosSql("pe", "ce")} AS raw,
              |    row_number() OVER (PARTITION BY probe_id
              |      ORDER BY ${cosSql("pe", "ce")} DESC, vec_id ASC) AS rank
              |  FROM coarse WHERE crank <= 100),
              |gt AS (
              |  SELECT probe_id, vec_id FROM (
              |    SELECT probe_id, vec_id,
              |      row_number() OVER (PARTITION BY probe_id
              |        ORDER BY ${cosSql("pe", "ce")} DESC, vec_id ASC) AS g
              |    FROM c JOIN p ON probe_id <> vec_id) WHERE g <= 5)
              |SELECT m.probe_id, m.rank, m.vec_id,
              |  floor((m.raw) * 1e6 + 0.5) / 1e6 AS cos,
              |  (g.vec_id IS NOT NULL) AS hit
              |FROM mrl m LEFT JOIN gt g
              |  ON g.probe_id = m.probe_id AND g.vec_id = m.vec_id
              |WHERE m.rank <= 5
              |ORDER BY m.probe_id, m.rank""".stripMargin)),

    // SemDeDup-style semantic deduplication [PK — cluster the embedding
    // space, then drop the most-similar members within each cluster]:
    // the CLUSTER-SCOPED complement of dedup_embed's LSH-bucket near-dup
    // pass. Cells come from the same broadcast-centroid argmax assignment
    // as sim_ivf (production fits k-means; seed centroids keep the oracle
    // compact — the plan shape is identical). Within each cell, pairs rank
    // by cosine and the top ceil(n/SemDedupDenom) pairs mark their
    // higher-id member dropped — the drop-BUDGET form of SemDeDup's
    // threshold sweep, with an integer boundary so the decision is
    // engine-exact even on random fixture embeddings where no fixed τ
    // would fire. Scale: pairing is confined to cells (Σ cell², never
    // corpus²), the rank window partitions by cell (no global ordering),
    // and the budget join is 8 broadcast rows.
    QDef(
      "dedup_semantic",
      (s, dir) => {
        val denom = graft.GraftConfig.SemDedupDenom
        val seeds = T.embeddings(s, dir).where(col("vec_id") < IvfCells.toLong)
          .select(col("vec_id").as("cid"), emb(col("embedding")).as("centroid"))
        val assigned = corpus(s, dir).crossJoin(broadcast(seeds))
          .select(col("vec_id"), col("ce"),
            cosine(col("ce"), col("centroid")).as("ccos"), col("cid"))
          .groupBy("vec_id")
          .agg(max(struct(col("ccos"), (-col("cid")).as("ncid"))).as("m"),
            first(col("ce")).as("ce"))
          .select(col("vec_id"), col("ce"), (-col("m.ncid")).as("cell"))
        val cellN = assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
        val w = Window.partitionBy("cell")
          .orderBy(col("cos").desc, col("v1").asc, col("v2").asc)
        val dropped = assigned
          .select(col("cell"), col("vec_id").as("v1"), col("ce").as("e1"))
          .join(assigned.select(col("cell"), col("vec_id").as("v2"), col("ce").as("e2")),
            Seq("cell"))
          .where(col("v1") < col("v2"))
          .select(col("cell"), col("v1"), col("v2"),
            cosine(col("e1"), col("e2")).as("cos"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .join(broadcast(cellN), Seq("cell"))
          .where(col("rk") <= expr(s"(n_vecs + $denom - 1) div $denom"))
          .select(col("v2").as("vec_id")).distinct()
          .withColumn("dropped", lit(true))
        assigned.select("vec_id", "cell")
          .join(dropped, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"),
            coalesce(col("dropped"), lit(false)).as("dropped"))
          .orderBy("vec_id")
      },
      Some {
        val denom = graft.GraftConfig.SemDedupDenom
        s"""WITH c0 AS ($corpusSql),
           |cents AS (
           |  SELECT vec_id AS cid, embedding::DOUBLE[] AS centroid
           |  FROM embeddings WHERE vec_id < $IvfCells),
           |a AS (
           |  SELECT vec_id, ce, cid AS cell FROM (
           |    SELECT vec_id, ce, cid, row_number() OVER (PARTITION BY vec_id
           |      ORDER BY ${cosSql("ce", "centroid")} DESC, cid ASC) AS rn
           |    FROM c0 CROSS JOIN cents) WHERE rn = 1),
           |n AS (SELECT cell, count(*) AS n_vecs FROM a GROUP BY cell),
           |p AS (
           |  SELECT x.cell, x.vec_id AS v1, y.vec_id AS v2,
           |    ${cosSql("x.ce", "y.ce")} AS cos
           |  FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id),
           |rk AS (
           |  SELECT cell, v1, v2,
           |    row_number() OVER (PARTITION BY cell
           |      ORDER BY cos DESC, v1 ASC, v2 ASC) AS rk
           |  FROM p),
           |d AS (
           |  SELECT DISTINCT v2 AS vec_id FROM rk JOIN n USING (cell)
           |  WHERE rk <= (n_vecs + $denom - 1) // $denom)
           |SELECT a.vec_id, a.cell, (d.vec_id IS NOT NULL) AS dropped
           |FROM a LEFT JOIN d ON a.vec_id = d.vec_id
           |ORDER BY a.vec_id""".stripMargin
      }),

    // [EXT] Cross-modal retrieval — the multimodal decode family composed
    // with the standing ANN index lifecycle: a stub media encoder (typed
    // mapPartitions, one model context per partition — the FakeCodec
    // discipline of multimodal/Multimodal.scala, payload bytes → Dims-dim
    // vector; a real CLIP-style image tower slots in unchanged) produces
    // QUERY vectors from the documents' opaque payloads, and those queries
    // probe the TEXT-embedding IVF index through the exact sim_ivf path:
    // broadcast-centroid cell assignment, cell equi-join against the
    // standing assignment, top-3 cosine per query (probe's own doc row
    // excluded — "find OTHER documents near this image"). The composition
    // is the point: cross-modal search at 100 TB is a small encoded-query
    // frame meeting a persisted index — payloads never shuffle (encoding
    // is narrow in the scan), the index side is the same artifact every
    // other ANN query uses, and per-query cost is cells-pruned, never
    // corpus-wide. Encoder output is exact byte arithmetic (byte/255 − ½,
    // correctly-rounded IEEE ops on identical inputs), so the DuckDB
    // oracle reproduces the vectors from the text column and runs the
    // same unrolled Lloyd chain.
    QDef(
      "mm_crossmodal",
      (s, dir) => {
        graft.functions.DotProduct.register(s)
        import s.implicits._
        // The stub encoder reads the first Dims BYTES of the UTF-8 payload,
        // while the oracle reads the first Dims CHARACTERS — equal only
        // when those characters are ASCII. Rather than assume the fixture
        // is ASCII, both sides filter to documents whose Dims-char prefix
        // is ASCII (char-based substr + the same RE2/Java-compatible class
        // on both engines), making parity encoding-independent: non-ASCII
        // docs are excluded identically, and for the kept set bytes ≡ chars.
        val q = T.documents(s, dir)
          .where(length(col("text")) >= Dims && col("doc_id") < 10L &&
            col("text").substr(lit(1), lit(Dims)).rlike("^[\\x00-\\x7f]*$"))
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            // per-partition media-encoder context would be initialized here
            it.map { case (id, bytes) =>
              (id, bytes.take(Dims).map(b => (b & 0xff).toDouble / 255.0 - 0.5))
            }
          }.toDF("probe_id", "pe")
        val p = assignCell(q, "probe_id", "pe", sharedFit(s, dir))
        val w = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        sharedAssigned(s, dir).join(broadcast(p), Seq("cell"))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("cell"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 3L)
          .select(col("probe_id"), col("cell"), col("vec_id"),
            rnd(col("raw"), 6).as("cos"), col("rank"))
          .orderBy("probe_id", "rank")
      },
      Some(ivfProbeOracleSql(None, probeSrcSql =
        s"""SELECT doc_id AS probe_id,
           |  list_transform(generate_series(1, $Dims),
           |    i -> CAST(ascii(substr(text, i, 1)) AS DOUBLE) / 255.0 - 0.5) AS pe
           |FROM documents WHERE length(text) >= $Dims AND doc_id < 10
           |  AND regexp_matches(substr(text, 1, $Dims), '^[\\x00-\\x7f]*$$')""".stripMargin))),

    // Multimodal column join: docs ⋈ embeddings, text + vector + label.
    QDef(
      "multimodal_join",
      (s, dir) => {
        val d = T.documents(s, dir)
        val e = T.embeddings(s, dir)
        d.join(e, d("doc_id") === e("vec_id"))
          .select(col("doc_id"), col("lang"), col("n_chars"), col("label"),
            size(col("embedding")).cast("long").as("n_dims"),
            rnd(element_at(col("embedding"), 1).cast("double"), 6).as("e_head"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars, label,
             |  len(embedding) AS n_dims,
             |  floor((CAST(embedding[1] AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS e_head
             |FROM documents JOIN embeddings ON doc_id = vec_id
             |ORDER BY doc_id""".stripMargin)),

    // Threshold (range) similarity search: ALL corpus pairs with cosine ≥ τ,
    // found inside LSH buckets — the complement of top-k search (dedup,
    // clustering, and link-discovery pipelines want "everything above τ",
    // not "the best k"). Same hyperplane bucketing as sim_ann_lsh; the
    // self-join meets only within a bucket, so candidate volume is
    // Σ bucket², never corpus² — the quadratic term is confined to bucket
    // population, which more planes shrink. The τ compare uses the ROUNDED
    // cosine (engine-stable boundary).
    QDef(
      "sim_range",
      (s, dir) => {
        val planes = (0 until LshPlanes).map { j =>
          typedlit((0 until Dims).map(i =>
            ((i.toLong + j * 64) * 2654435761L % 1000L).toDouble / 1000.0 - 0.5))
        }
        def bucketOf(e: Column): Column =
          (0 until LshPlanes).map { j =>
            when(dot(e, planes(j)) > 0.0, 1L << j).otherwise(0L)
          }.reduce(_ + _)
        val c = corpus(s, dir).withColumn("bucket", bucketOf(col("ce")))
        val l = c.select(col("bucket"), col("vec_id").as("v1"), col("ce").as("e1"))
        val r = c.select(col("bucket"), col("vec_id").as("v2"), col("ce").as("e2"))
        l.join(r, Seq("bucket"))
          .where(col("v1") < col("v2"))
          .withColumn("cos", rnd(cosine(col("e1"), col("e2")), 6))
          .where(col("cos") >= 0.35)
          .select("v1", "v2", "cos")
          .orderBy("v1", "v2")
      },
      Some(s"""WITH planes AS (
              |  SELECT j, list_transform(generate_series(0, 63),
              |    i -> CAST((i + j * 64) * 2654435761 % 1000 AS DOUBLE) / 1000.0 - 0.5) AS plane
              |  FROM (SELECT unnest(generate_series(0, ${LshPlanes - 1})) AS j)),
              |c AS (SELECT vec_id, ce, (
              |    SELECT CAST(sum(CASE WHEN list_dot_product(ce, plane) > 0.0
              |      THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) FROM planes) AS bucket
              |  FROM ($corpusSql)),
              |scored AS (
              |  SELECT a.vec_id AS v1, b.vec_id AS v2,
              |    floor((${cosSql("a.ce", "b.ce")}) * 1e6 + 0.5) / 1e6 AS cos
              |  FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
              |SELECT v1, v2, cos FROM scored WHERE cos >= 0.35
              |ORDER BY v1, v2""".stripMargin)),

    // Nearest-class-mean classification: per-label centroids from a
    // deterministic train split, test vectors assigned to the most-cosine-
    // similar centroid, confusion matrix out. The centroid build is the
    // DENSE-VECTOR AGGREGATION shape: posexplode to (label, dim, val) →
    // partial-aggregating groupBy(label, dim) — shuffle volume is
    // labels × dims partial states per task, CONSTANT in corpus size —
    // then the tiny (labels × dims) table reassembles into array centroids
    // that broadcast to the test stream (corpus streamed once, per-vector
    // work = labels cosines via the codegen dot). Centroid dims are rounded
    // to the 1e-6 grid before scoring (engine-stable, same as sim_ivf).
    QDef(
      "sim_centroid",
      (s, dir) => {
        val e = corpus(s, dir)
        val ex = e
          .select(col("vec_id"), col("label"), posexplode(col("ce")).as(Seq("dim0", "v")))
          .select(col("vec_id"), col("label"), (col("dim0") + 1).as("dim"), col("v"))
        val cent = ex.where(col("vec_id") % 5L =!= 0L)
          .groupBy(col("label").as("clabel"), col("dim"))
          .agg(rnd(avg(col("v")), 6).as("cval"))
        val cvec = cent.groupBy("clabel")
          .agg(transform(sort_array(collect_list(struct(col("dim"), col("cval")))),
            x => x.getField("cval")).as("cv"))
        val w = Window.partitionBy("vec_id")
          .orderBy(col("cos").desc, col("clabel").asc)
        e.where(col("vec_id") % 5L === 0L)
          .crossJoin(broadcast(cvec))
          .withColumn("cos", rnd(cosine(col("ce"), col("cv")), 6))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .groupBy(col("label"), col("clabel").as("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy("label", "pred")
      },
      Some(s"""WITH e AS ($corpusSql),
              |ex AS (
              |  SELECT vec_id, label, unnest(ce) AS v,
              |    generate_subscripts(ce, 1) AS dim
              |  FROM e),
              |cent AS (
              |  SELECT label AS clabel, dim, floor((avg(v)) * 1e6 + 0.5) / 1e6 AS cval
              |  FROM ex WHERE vec_id % 5 <> 0 GROUP BY label, dim),
              |cvec AS (SELECT clabel, list(cval ORDER BY dim) AS cv FROM cent GROUP BY clabel),
              |scored AS (
              |  SELECT t.vec_id, t.label, c.clabel,
              |    floor((${cosSql("t.ce", "c.cv")}) * 1e6 + 0.5) / 1e6 AS cos
              |  FROM (SELECT * FROM e WHERE vec_id % 5 = 0) t CROSS JOIN cvec c),
              |best AS (
              |  SELECT vec_id, label, clabel,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel ASC) AS rn
              |  FROM scored)
              |SELECT label, clabel AS pred, count(*) AS n
              |FROM best WHERE rn = 1
              |GROUP BY label, clabel ORDER BY label, pred""".stripMargin)),

    // The `sim_ivf` comment ("pre-partitioned by cell on disk, a probe
    // reads one partition") made a demonstrated fact — the ANN analog of
    // `dedup_index_probe`: the fitted centroids and the cell-assigned
    // corpus are WRITTEN ONCE (centroids as a tiny parquet artifact, the
    // assignment as a bucketed saved table keyed on `cell`) and the probe
    // runs entirely FROM DISK — read centroids, assign the probe its cell,
    // merge-join the index on `cell`. With the index bucketed on the join
    // key its side needs NO Exchange and NO recompute (PlanShapeSpec pins
    // it); only the (small) probe side shuffles, into the index's bucket
    // layout. The merge hint models the at-scale reality that a BATCH of
    // probes (re-embedding yesterday's corpus, a dedup sweep) outgrows
    // broadcast — the index side still never moves. At 100 TB this is the
    // deployment shape of vector search: the KMeansIters-pass Lloyd fit
    // and the corpus assignment are paid once at build; a query's cost is
    // centroid lookup (tiny artifact) + one bucket-pruned cell scan.
    // Output and oracle are identical to `sim_ivf`: storage and join
    // strategy are semantics-free.
    QDef(
      "sim_index_probe",
      (s, dir) => {
        val run = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        val centPath = Scans.runTmpPath(s, "graft_ivf_cents_")
        val path = Scans.runTmpPath(s, "graft_ivf_index_")
        val tbl = s"graft_ivf_index_$run"
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        // BUILD (once): fit, then persist both standing artifacts. Doubles
        // round-trip parquet bit-exactly, so the disk hop is invisible to
        // the 1e-6-grid determinism contract.
        sharedFit(s, dir).write.mode("overwrite").parquet(centPath)
        sharedAssigned(s, dir)
          .write.mode("overwrite")
          .bucketBy(8, "cell")
          .sortBy("cell")
          .option("path", path)
          .saveAsTable(tbl)
        // PROBE (from disk only): no fit, no corpus pass.
        val cents = s.read.parquet(centPath)
        val p = assignCell(probes(s, dir), "probe_id", "pe", cents)
        val index = s.table(tbl)
        val w = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        index.join(p.hint("merge"), Seq("cell"))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("cell"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 3L)
          .select(col("probe_id"), col("cell"), col("vec_id"),
            rnd(col("raw"), 6).as("cos"), col("rank"))
          .orderBy("probe_id", "rank")
      },
      Some(ivfProbeOracleSql(None))),

    // The standing ANN index's write path completed into a LIFECYCLE (the
    // `dedup_index_maintain` story for vectors): day 0 fits the coarse
    // quantizer on the BASE corpus and writes the index; day 1's new
    // embeddings (vec_id % AnnDeltaMod == AnnDeltaRem) are assigned
    // against the FROZEN day-0 centroids — read back from the persisted
    // artifact, exactly as a production ingest job would — and APPENDED
    // into the same bucket layout (base files untouched, append cost
    // proportional to the day's vectors); the probe then meets the
    // MAINTAINED index and can return day-1 arrivals as neighbors, which
    // the day-0 index could not. Freezing the quantizer is the production
    // discipline: the coarse geometry refits on a schedule, never per
    // append, so every day's arrivals land in comparable cells. At 100 TB
    // the per-day cost is assignment of the delta (broadcast centroids,
    // one pass) + a bucket-aligned append; probes keep the zero-index-side
    // -Exchange merge join (PlanShapeSpec pins it — multiple files per
    // bucket is the appended table's steady state, and the bucket join
    // tolerates it).
    QDef(
      "sim_index_maintain",
      (s, dir) => {
        val m = graft.GraftConfig.AnnDeltaMod
        val r = graft.GraftConfig.AnnDeltaRem
        val day1 = col("vec_id") % m === r
        val run = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        val centPath = Scans.runTmpPath(s, "graft_ivf_cents_m_")
        val path = Scans.runTmpPath(s, "graft_ivf_index_m_")
        val tbl = s"graft_ivf_index_m_$run"
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        // Day 0: fit on the base slice only (the corpus that existed
        // before today) and write the standing artifacts.
        val base = corpus(s, dir).where(!day1)
        val fitted = ivfFit(base, ivfSeeds(s, dir))
        fitted.write.mode("overwrite").parquet(centPath)
        assignCell(base, "vec_id", "ce", fitted)
          .write.mode("overwrite")
          .bucketBy(8, "cell")
          .sortBy("cell")
          .option("path", path)
          .saveAsTable(tbl)
        // Day 1: assign the day's vectors against the FROZEN persisted
        // centroids and append. Same bucket spec — Spark validates it
        // against the catalog entry, so a drifting writer fails loudly.
        val cents = s.read.parquet(centPath)
        assignCell(corpus(s, dir).where(day1), "vec_id", "ce", cents)
          .write.mode("append")
          .bucketBy(8, "cell")
          .sortBy("cell")
          .saveAsTable(tbl)
        // Probe the maintained index in TWO result lanes: top-3 over the
        // whole index ('all') and the best match among the day's arrivals
        // ('fresh') — the lane that makes the append OBSERVABLE in the
        // output at any scale (a top-k over a large corpus rarely surfaces
        // a 10% delta, so without it the append would be invisible — and
        // a freshness-scoped answer is a real ANN product query: "what is
        // the closest thing that arrived today"). Both lanes ride the same
        // bucket-aligned merge join; the fresh filter prunes AFTER the
        // cell join, so the index side still never shuffles.
        val p = assignCell(probes(s, dir), "probe_id", "pe", cents)
        val scored = s.table(tbl).join(p.hint("merge"), Seq("cell"))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("cell"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
        val w = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        val top3 = scored
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 3L)
          .withColumn("scope", lit("all"))
        val fresh = scored.where(col("vec_id") % m === r)
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") === 1L)
          .withColumn("scope", lit("fresh"))
        top3.unionAll(fresh)
          .select(col("probe_id"), col("scope"), col("cell"), col("vec_id"),
            rnd(col("raw"), 6).as("cos"), col("rank"))
          .orderBy("probe_id", "scope", "rank")
      },
      Some(ivfProbeOracleSql(Some(graft.GraftConfig.AnnDeltaRem)))),

    // THE ANN INDEX AS A COMMIT-LOG TABLE — the two flagship families
    // unified: sim_index_maintain's artifacts move from metastore tables
    // into the transaction log, which buys exactly what it buys for data
    // tables — TIME-TRAVELABLE index versions (a probe AS OF v1 answers
    // from the pre-append index — reproducibility for yesterday's dedup
    // decisions), atomic conflict-checked appends, and vacuum reclaiming
    // retired refits. Mechanics: day-0 fit commits the centroid artifact
    // (its own log table) and the cell-assigned codes (range-partitioned
    // by cell, ONE metadata pass computing per-file cell min/max into the
    // add-action stats — the log's own file skipping becomes CELL
    // PRUNING, the log-native analog of the metastore bucket join); the
    // day-1 delta is assigned against the FROZEN v1 centroids read back
    // from the log and lands as ONE NON-CONSUMING CHECKED commit
    // (`commitCheckedNonConsuming`): its read set is the v1 code files,
    // so a concurrent refit (a replace commit) aborts it instead of
    // letting incompatible cell geometry in — CommitLogSpec pins both
    // race orders. The probe prunes files by its cells at BOTH versions:
    // asof=1 answers from the base-only index, asof=2 adds the 'fresh'
    // lane — versioning observable in the declared output. At 100 TB:
    // append = O(delta) files + one commit, probe = O(live files) driver
    // stats arithmetic + a scan of ~probe-cells files, refit = one atomic
    // replace whose predecessor the log keeps serving until vacuum.
    QDef(
      "sim_index_log",
      (s, dir) => {
        import graft.sources.CommitLog
        val m = graft.GraftConfig.AnnDeltaMod
        val r = graft.GraftConfig.AnnDeltaRem
        val day1 = col("vec_id") % m === r
        val rootCents = Scans.freshRunTmpPath(s, "graft_annlog_cents_")
        val root = Scans.freshRunTmpPath(s, "graft_annlog_codes_")
        // v1: day-0 fit on the base slice; centroids committed to their
        // own log table (versioned like any data — a refit is a new
        // version, vacuum reclaims the old artifact when it expires).
        val base = corpus(s, dir).where(!day1)
        ivfFit(base, ivfSeeds(s, dir))
          .write.mode("overwrite").parquet(s"$rootCents/s1")
        CommitLog.commit(rootCents, 1L, "s1")
        val cents1 = CommitLog.readAsOf(s, rootCents, 1L)
        def stageCodes(assigned: DataFrame,
            sub: String): (Seq[String], Map[String, (Long, Long)]) = {
          // Range-partitioned by cell so each file covers a contiguous
          // cell range — the per-file (min, max) stats the probe prunes
          // on stay tight (hash mixing would widen every range).
          assigned.repartitionByRange(graft.GraftConfig.IvfCells, col("cell"))
            .write.mode("overwrite").parquet(s"$root/$sub")
          val rows = s.read.parquet(s"$root/$sub")
            .groupBy(col("_metadata.file_path").as("fp"))
            .agg(min("cell").as("mn"), max("cell").as("mx"))
            .collect() // O(files) metadata, never rows
          val stats = rows.map { row =>
            // file_path is a percent-encoded URI — relativize via the
            // encoding-exact helper, never raw index arithmetic.
            CommitLog.relToRoot(root, row.getString(0)) ->
              (row.getLong(1), row.getLong(2))
          }.toMap
          (stats.keys.toSeq.sorted, stats)
        }
        val (adds1, stats1) = stageCodes(
          assignCell(base, "vec_id", "ce", cents1), "s1")
        CommitLog.commitFiles(root, 1L, adds = adds1, removes = Nil,
          stats = stats1)
        // Day 1: assign the delta against the FROZEN v1 centroids (read
        // from the log, as an ingest job would) and land it as ONE
        // non-consuming checked commit reading the v1 code files.
        val (adds2, stats2) = stageCodes(
          assignCell(corpus(s, dir).where(day1), "vec_id", "ce", cents1), "s2")
        val v2 = CommitLog.commitCheckedNonConsuming(root, "s2", 1L,
          reads = CommitLog.filesAsOf(root, 1L),
          addsKnown = Some(adds2), stats = stats2)
        require(v2 == 2L, s"append landed at $v2, expected 2")
        // Probe: cells resolved once (≤5 probes — bounded metadata), then
        // each version's read opens ONLY the files whose declared cell
        // range intersects a probe cell.
        val p = assignCell(probes(s, dir), "probe_id", "pe", cents1)
        val pcells = p.select("cell").distinct()
          .collect().map(_.getLong(0)).sorted
        def prunedRead(v: Long): DataFrame = {
          val live = CommitLog.filesAsOf(root, v)
          val files = pcells.toSeq
            .flatMap(c => CommitLog.filesAsOfPruned(root, v, c, c))
            .distinct.sorted
          require(files.size < live.size,
            s"cell-stats pruning must bite at v$v (kept ${files.size} of ${live.size})")
          require(files.toSet.subsetOf(live.toSet), "pruned ⊄ live")
          s.read.parquet(files.map(f => s"$root/$f"): _*)
        }
        def scoredAt(v: Long): DataFrame = prunedRead(v)
          .join(p.hint("merge"), Seq("cell"))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("cell"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
        val w = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        def lane(df: DataFrame, asof: Long, scope: String, k: Long) = df
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= k)
          .select(lit(asof).as("idx_v"), col("probe_id"),
            lit(scope).as("scope"), col("cell"), col("vec_id"),
            rnd(col("raw"), 6).as("cos"), col("rank"))
        val s2d = scoredAt(2L)
        lane(scoredAt(1L), 1L, "all", 3L)
          .unionAll(lane(s2d, 2L, "all", 3L))
          .unionAll(lane(s2d.where(col("vec_id") % m === r), 2L, "fresh", 1L))
          .orderBy("idx_v", "probe_id", "scope", "rank")
      },
      Some {
        val m = graft.GraftConfig.AnnDeltaMod
        val r = graft.GraftConfig.AnnDeltaRem
        ivfChainSql(Some(r)) + s""",
          |scored1 AS MATERIALIZED (
          |  SELECT probe_id, cell, vec_id, ${cosSql("pe", "ce")} AS raw
          |  FROM c JOIN p USING (cell) WHERE probe_id <> vec_id),
          |ranked1 AS (
          |  SELECT probe_id, cell, vec_id, raw,
          |    row_number() OVER (PARTITION BY probe_id
          |      ORDER BY raw DESC, vec_id ASC) AS rank
          |  FROM scored1),
          |fresh AS (
          |  SELECT probe_id, cell, vec_id, raw,
          |    row_number() OVER (PARTITION BY probe_id
          |      ORDER BY raw DESC, vec_id ASC) AS rank
          |  FROM scored WHERE vec_id % $m = $r)
          |SELECT idx_v, probe_id, scope, cell, vec_id, cos, rank FROM (
          |  SELECT CAST(1 AS BIGINT) AS idx_v, probe_id, 'all' AS scope, cell,
          |    vec_id, floor((raw) * 1e6 + 0.5) / 1e6 AS cos, rank
          |  FROM ranked1 WHERE rank <= 3
          |  UNION ALL
          |  SELECT CAST(2 AS BIGINT), probe_id, 'all', cell, vec_id,
          |    floor((raw) * 1e6 + 0.5) / 1e6, rank
          |  FROM ranked WHERE rank <= 3
          |  UNION ALL
          |  SELECT CAST(2 AS BIGINT), probe_id, 'fresh', cell, vec_id,
          |    floor((raw) * 1e6 + 0.5) / 1e6, rank
          |  FROM fresh WHERE rank = 1)
          |ORDER BY idx_v, probe_id, scope, rank""".stripMargin
      }),

    // GRAPH-BASED ANN [PK — the HNSW/NSW family (Malkov & Yashunin 2018)
    // re-expressed RELATIONALLY]: the modern ANN default is beam search
    // over a bounded-degree neighbor graph. The graph's base layer is
    // built from the IVF candidate structure (within-cell pairs — the
    // same linear-candidate discipline as dedup_semantic, never
    // all-pairs), each node keeping its top-M in-cell neighbors; the
    // navigable hierarchy is TWO hub tiers: tier 1 = the IvfCells seed
    // vectors (one hub per cell region, every node linking its top-M
    // onto them), tier 2 = a hash-sampled quarter of the seeds, linking
    // down onto the full seed tier — HNSW's layer stack, kept relational.
    // TWO entry disciplines run and the declared output compares them:
    // 'ivf' enters at the probe's own coarse-quantizer cell (cost
    // O(corpus/cells) per probe — grows with the corpus), 'hub' descends
    // the hierarchy (score the tier-2 hubs, drop to the best hub's
    // seed links — cost O(|tier2| + M), CORPUS-INDEPENDENT, no coarse
    // quantizer in the probe path at all). Both then run the same
    // FIXED-ROUND relational beam: frontier joins the edge table
    // (equi-join on node id — graph_bfs's shape), candidates dedup,
    // score against the probe, determinized top-B survive. Raw cosines
    // come from the sequential-order graft_dot ≡ list_dot_product, so
    // ranks are bit-identical cross-engine (the sim_ivf bet); output
    // cosines are rounded. Per (variant, probe) the output declares
    // recall vs the exact top-k AND candidates-read (distinct non-self
    // vectors scored across entry + all rounds); require'd: the hub
    // variant's recall holds the 60% floor AND dominates the ivf entry
    // at equal beam — the hierarchy must not cost recall to remove the
    // corpus-sized entry scan. Scale shape: graph build is one cell
    // equi-join + broadcast-seed passes, all WindowGroupLimit top-M
    // (linear in per-cell pairs, paid at INDEX time); each search round
    // moves O(probes × beam × degree) rows through one equi-join —
    // corpus size appears in the 'ivf' ENTRY only, which is exactly what
    // the declared cand_read comparison shows the hierarchy removing.
    QDef(
      "sim_graph_ann",
      (s, dir) => {
        val (entryE, beamB, rounds, k) = (GannEntryE, GannBeamB, GannRounds, GannK)
        // Extra hub-path rounds: the hierarchy's log-ish DESCENT — each
        // costs O(probes × beam × degree), corpus-independent.
        val hubDescent = 0
        // Hub-tier link degree: denser than the base layer (HNSW keeps
        // upper layers denser relative to their size; here it spans the
        // whole tier-1 set — at 100k cells this would be a top-M sample).
        val hubM = GannHubM
        val fitted = sharedFit(s, dir)
        val assigned = sharedAssigned(s, dir)
        val co = corpus(s, dir)
        val pr = probes(s, dir)
        // The standing two-tier index — built once per harness run
        // ([[sharedGraphTiers]]), probed here; the on-disk lifecycle of the
        // SAME artifact is sim_graph_ann_persist.
        val tiers = sharedGraphTiers(s, dir)
        val graph = tiers.graph
        val medoids = tiers.medoids
        val hubs2 = tiers.hubs2
        val hubEdges = tiers.hubEdges
        val wProbe = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        def score(cand: DataFrame): DataFrame = cand
          .join(co.select("vec_id", "ce"), Seq("vec_id"))
          .join(broadcast(pr), Seq("probe_id"))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
        // Shared beam: entry candidates → top-E, then `rounds` of
        // frontier ∪ neighbors, dedup, re-score, top-B. Returns the final
        // frontier and the distinct non-self candidates ever scored.
        def beamFrom(entryCand: DataFrame, entryLog: DataFrame,
            nRounds: Int): (DataFrame, DataFrame) = {
          // Each round's candidate set feeds BOTH the scorer and the
          // cand_read log — checkpoint at these shared nodes so the
          // fit+beam lineage executes once, not once per consumer.
          val ec = entryCand.distinct().localCheckpoint()
          val f0 = score(ec)
            .withColumn("rn", row_number().over(wProbe))
            .where(col("rn") <= entryE)
            .select("probe_id", "vec_id", "raw")
          var log = entryLog.select("probe_id", "vec_id")
            .union(ec.select("probe_id", "vec_id"))
          val fR = (1 to nRounds).foldLeft(f0) { (f, _) =>
            val cdPre = f.select("probe_id", "vec_id")
              .union(f.join(graph, Seq("vec_id"))
                .select(col("probe_id"), col("nb").as("vec_id")))
              .distinct()
            val cd = cdPre.localCheckpoint()
            log = log.union(cd)
            val next = score(cd)
              .withColumn("rn", row_number().over(wProbe))
              .where(col("rn") <= beamB)
              .select("probe_id", "vec_id", "raw")
            // Record the round's PRE-checkpoint shapes (frontier-expansion
            // equi-join + scored WindowGroupLimit) for PlanShapeSpec —
            // the declared output sits past the lineage cuts.
            lastGraphAnnPlan =
              cdPre.queryExecution.executedPlan.toString + "\n" +
                next.queryExecution.executedPlan.toString
            next
          }
          (fR, log.where(col("probe_id") =!= col("vec_id")).distinct())
        }
        // 'ivf' entry: the probe's own cell — O(corpus/cells) per probe.
        val pA = assignCell(pr, "probe_id", "pe", fitted)
        val ivfEntry = assigned.select(col("vec_id"), col("cell"))
          .join(broadcast(pA.select("probe_id", "cell")), Seq("cell"))
          .select("probe_id", "vec_id")
        // 'hub' entry: descend the hierarchy — score the tier-2 hubs,
        // drop to the best hub's seed links. Corpus-independent.
        val e2best = pr.crossJoin(broadcast(hubs2))
          .select(col("probe_id"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
          .withColumn("rn", row_number().over(wProbe))
          .where(col("rn") <= 1)
          .select("probe_id", "vec_id")
        val mDesc = e2best.join(broadcast(hubEdges), Seq("vec_id"))
          .select(col("probe_id"), col("nb").as("vec_id"))
          .union(e2best)
        // Descent scoring keeps self-pairs: NAVIGATION may land on the
        // probe's own vector (that IS the right region); only result
        // scoring excludes self. Without this, a probe that coincides
        // with its cell's medoid descends into a neighboring cell.
        val bestMed = mDesc.distinct()
          .join(co.select("vec_id", "ce"), Seq("vec_id"))
          .join(broadcast(pr), Seq("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
          .join(broadcast(medoids
            .select(col("vec_id"), col("cell").as("mcell"))), Seq("vec_id"))
          .withColumn("rn", row_number().over(wProbe))
          .where(col("rn") <= 1)
          .select(col("probe_id"), col("mcell"))
        // Enter the hierarchy-chosen cell whole (what the quantizer would
        // have picked, found by descent instead) plus the medoids read on
        // the way down — the beam's cross-cell escape hatches.
        val hubEntry = assigned.select(col("vec_id"), col("cell"))
          .join(broadcast(bestMed), col("cell") === col("mcell"))
          .select("probe_id", "vec_id")
          .union(mDesc)
        val hubScanLog = pr.select("probe_id")
          .crossJoin(broadcast(hubs2.select("vec_id")))
        val (fIvf, logIvf) = beamFrom(ivfEntry, ivfEntry, rounds)
        val (fHub, logHub) =
          beamFrom(hubEntry, hubScanLog, rounds + hubDescent)
        // Exact top-k (one brute-force corpus pass — the recall baseline).
        val exact = co.crossJoin(broadcast(pr))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
          .withColumn("rn", row_number().over(wProbe))
          .where(col("rn") <= k)
          .select("probe_id", "vec_id")
          .localCheckpoint() // one brute-force pass serves both variants
        def finish(fR: DataFrame, log: DataFrame, tag: String): DataFrame = {
          // approx feeds the declared rows AND the recall join — cut the
          // fit+beam lineage here so it executes once per variant.
          val approx = fR
            .withColumn("rank", row_number().over(wProbe).cast("long"))
            .where(col("rank") <= k)
            .localCheckpoint()
          val cand = log.groupBy("probe_id")
            .agg(count(lit(1)).as("cr"))
          val hits = approx.join(exact, Seq("probe_id", "vec_id"))
            .groupBy("probe_id").agg(count(lit(1)).as("h"))
          approx.join(broadcast(hits), Seq("probe_id"), "left")
            .na.fill(0L, Seq("h"))
            .join(broadcast(cand), Seq("probe_id"))
            .select(lit(tag).as("variant"), col("probe_id"), col("vec_id"),
              rnd(col("raw"), 6).as("cos"), col("rank"),
              (col("h") * 100L / k).cast("long").as("recall_pct"),
              col("cr").cast("long").as("cand_read"))
        }
        val outPre = finish(fHub, logHub, "hub")
          .unionAll(finish(fIvf, logIvf, "ivf"))
        val out = outPre
          .localCheckpoint() // feeds requires + output in one shape
        val sums = out.where(col("rank") === 1L).groupBy("variant")
          .agg(sum("recall_pct").cast("long").as("rs"),
            count(lit(1)).as("n"),
            sum("cand_read").cast("long").as("cr"))
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
        // The hierarchy's contract: hold the recall floor AND dominate the
        // coarse-quantizer entry at equal beam, while reading fewer
        // candidates (the corpus-sized entry scan is what it removes).
        if (sys.env.contains("GRAFT_ANN_DEBUG"))
          println(s"[ann-debug] $sums")
        require(sums("hub")._1 >= 60L * sums("hub")._2,
          s"hub-entry recall ${sums("hub")._1 / sums("hub")._2}% fell below the 60% floor")
        require(sums("hub")._1 >= sums("ivf")._1,
          s"two-tier entry recall ${sums("hub")._1} lost to the ivf entry ${sums("ivf")._1}")
        // Candidate-read bound: descent costs at most |tier2| + hubM extra
        // CORPUS reads per probe over the cell entry — a constant — while
        // removing the per-probe quantizer scan entirely (probe × every
        // centroid; not visible in cand_read, and the term that grows
        // with cell count: at 8 cells it is cheap, at the 100k cells of a
        // survey-scale index it is the entry bottleneck the hierarchy
        // exists to delete). |tier2| is COUNTED (hubs2 is sampling-modulus
        // dependent: cell % 4 of IvfCells cells), never hardcoded — a
        // literal would silently invalidate the bound if either knob moved.
        val tier2Count = hubs2.count()
        require(sums("hub")._3 <=
            sums("ivf")._3 + sums("hub")._2 * (tier2Count + hubM),
          "descent overhead exceeded its constant per-probe bound")
        out.orderBy("variant", "probe_id", "rank")
      },
      Some {
        val k = GannK
        def lane(tag: String, f2: String, log: String) =
          s"""SELECT '$tag' AS variant, a.probe_id, a.vec_id,
             |  floor((a.raw) * 1e6 + 0.5) / 1e6 AS cos, a.rank,
             |  coalesce(h.h, 0) * 100 // $k AS recall_pct,
             |  l.cr AS cand_read
             |FROM (SELECT probe_id, vec_id, raw,
             |    row_number() OVER (PARTITION BY probe_id
             |      ORDER BY raw DESC, vec_id ASC) AS rank
             |  FROM $f2 QUALIFY rank <= $k) a
             |LEFT JOIN (
             |  SELECT x.probe_id, CAST(count(*) AS BIGINT) AS h
             |  FROM (SELECT probe_id, vec_id, row_number() OVER (
             |      PARTITION BY probe_id ORDER BY raw DESC, vec_id ASC) AS rank
             |    FROM $f2 QUALIFY rank <= $k) x
             |  JOIN exact e ON x.probe_id = e.probe_id AND x.vec_id = e.vec_id
             |  GROUP BY 1) h ON h.probe_id = a.probe_id
             |JOIN (SELECT probe_id, CAST(count(*) AS BIGINT) AS cr
             |  FROM $log GROUP BY 1) l ON l.probe_id = a.probe_id""".stripMargin
        s"""$gannCommonSql,
           |eci AS MATERIALIZED (
           |  SELECT p.probe_id, x.vec_id FROM p JOIN c x USING (cell)
           |  WHERE p.probe_id <> x.vec_id),
           |${gannEntrySql("eci", "f0i")},
           |${gannBeamSql("f0i", "cd1i", "f1i")},
           |${gannBeamSql("f1i", "cd2i", "f2i")},
           |logi AS (
           |  SELECT DISTINCT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id FROM eci
           |    UNION ALL SELECT probe_id, vec_id FROM cd1i
           |    UNION ALL SELECT probe_id, vec_id FROM cd2i)
           |  WHERE probe_id <> vec_id),
           |logh AS (
           |  SELECT DISTINCT probe_id, vec_id FROM (
           |    SELECT p.probe_id, h.vec_id FROM pr p CROSS JOIN h2 h
           |    UNION ALL SELECT probe_id, vec_id FROM ech
           |    UNION ALL SELECT probe_id, vec_id FROM cd1h
           |    UNION ALL SELECT probe_id, vec_id FROM cd2h)
           |  WHERE probe_id <> vec_id),
           |exact AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT p.probe_id, x.vec_id,
           |      row_number() OVER (PARTITION BY p.probe_id
           |        ORDER BY ${cosSql("p.pe", "x.ce")} DESC, x.vec_id ASC) AS rn
           |    FROM pr p CROSS JOIN call x WHERE p.probe_id <> x.vec_id)
           |  WHERE rn <= $k)
           |SELECT * FROM (
           |  ${lane("hub", "f2h", "logh")}
           |  UNION ALL
           |  ${lane("ivf", "f2i", "logi")})
           |ORDER BY variant, probe_id, rank""".stripMargin
      }),

    // THE GRAPH-ANN INDEX AS A STANDING, VERSIONED ON-DISK ARTIFACT — the
    // lifecycle sim_index_log gives the IVF codes, extended to the graph
    // tier: build commits the WHOLE two-tier index (base edges, tier-1
    // medoid assignments, tier-2 hub links) as ONE commit-log version, and
    // the probe path reads that artifact COLD — no fit, no edge
    // construction, no corpus pass beyond scoring the candidates it
    // actually visits. The artifact is a unified long schema
    // (kind, tier, src, dst): node rows carry (vec_id → cell) with tier
    // 0/1/2 = member/medoid/hub-2, edge rows carry (vec_id → nb) with tier
    // 0 = base graph, 2 = hub descent links. Vectors are NOT copied in:
    // the index references vec_ids and scoring joins the data table, so
    // the artifact stays O(V·deg) longs, not O(V·dims) floats. Laws
    // require'd in-query: (1) the committed artifact round-trips the disk
    // hop EXACTLY (both exceptAll directions empty); (2) the cold probe's
    // declared results ≡ probing the freshly-built in-memory index — the
    // VERDICT-r16 contract that persistence is invisible to semantics.
    // Scale: build is paid ONCE per index version (the same candidate-
    // bucketed passes as sim_graph_ann); a probe moves O(|tier2| + hubM +
    // rounds × beam × degree) rows, corpus-independent, against an
    // artifact read of O(V·deg) longs — at survey scale the read prunes
    // further by kind/tier (pushed filters on the artifact scan).
    QDef(
      "sim_graph_ann_persist",
      (s, dir) => {
        import graft.sources.CommitLog
        val assigned = sharedAssigned(s, dir)
        val co = corpus(s, dir)
        val pr = probes(s, dir)
        val tiers = sharedGraphTiers(s, dir)
        // BUILD → COMMIT: one version, one atomic publish. `art` is NOT
        // checkpointed: it is narrow projections over the checkpointed
        // tiers/assignment, so the write materializes it once and the
        // round-trip law recomputes it cheaply inside the folded
        // violations job (round-18 fixed-overhead audit).
        val art = gannArtifactRows(assigned, tiers)
        val root = Scans.freshRunTmpPath(s, "graft_gann_idx_")
        art.write.mode("overwrite").parquet(s"$root/s1")
        CommitLog.commit(root, 1L, "s1")
        // COLD: everything below this line reads the v1 artifact from disk.
        // NOT checkpointed (round 19): the artifact is a real parquet
        // snapshot, so each consumer's scan keeps its column pruning and
        // pushed kind/tier filters (a checkpoint froze it into a stat-less
        // LogicalRDD and cost a materialization job); at scale the pruned
        // per-consumer scans read strict subsets of the artifact.
        val artC = CommitLog.readAsOf(s, root, 1L)
        val (cCells, cMedoids, cHubs2, cHubEdges, cGraph) =
          gannFramesFrom(artC, co)
        val coldRaw = gannHubProbe(pr, co, cCells, cMedoids, cHubs2,
          cHubEdges, cGraph)
        val wP = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        def top(df: DataFrame): DataFrame = df
          .withColumn("rank", row_number().over(wP).cast("long"))
          .where(col("rank") <= GannK.toLong)
          .select(col("probe_id"), col("vec_id"),
            rnd(col("raw"), 6).as("cos"), col("rank"))
        val cold = top(coldRaw)
          .localCheckpoint() // feeds the ≡-rebuilt law AND the output
        // The artifact contract: probing the COLD on-disk index returns
        // exactly what probing the freshly-built in-memory index returns.
        // `assigned` carries (vec_id, ce, cell) — the warm path's entry
        // scoring reads the vectors straight off it, zero extra join.
        val rebuilt = top(gannHubProbe(pr, co,
          assigned,
          tiers.medoids.select("vec_id", "cell"),
          tiers.hubs2, tiers.hubEdges, tiers.graph))
        // BOTH laws in ONE violations action (round-18 fixed-overhead
        // audit: two separate require jobs → one; same violations
        // detected — each leg is empty unless its law broke). Multiset
        // equality as a SINGLE signed-count aggregate per leg (round-19):
        // a.exceptAll(b) ∪ b.exceptAll(a) is empty ⟺ every row's
        // (+1 per a-copy, −1 per b-copy) sum is zero — one exchange per
        // leg instead of exceptAll's two full rewrites per direction.
        def diffs(a: DataFrame, b: DataFrame, label: String) = {
          val cols = a.columns.toIndexedSeq.map(col)
          a.withColumn("w", lit(1L))
            .unionAll(b.withColumn("w", lit(-1L)))
            .groupBy(cols: _*)
            .agg(sum("w").as("w"))
            .where(col("w") =!= 0L)
            .select(lit(label).as("law"))
        }
        val broken = diffs(artC, art, "artifact-roundtrip")
          .unionAll(diffs(cold, rebuilt, "cold≠rebuilt"))
          .groupBy("law").agg(count(lit(1)).as("n")).collect()
        require(broken.isEmpty,
          s"graph-ANN persistence laws violated: ${broken.mkString(", ")}")
        cold.orderBy("probe_id", "rank")
      },
      Some(s"""$gannCommonSql
           |SELECT probe_id, vec_id,
           |  floor((raw) * 1e6 + 0.5) / 1e6 AS cos, rank
           |FROM (SELECT probe_id, vec_id, raw,
           |    row_number() OVER (PARTITION BY probe_id
           |      ORDER BY raw DESC, vec_id ASC) AS rank
           |  FROM f2h QUALIFY rank <= $GannK)
           |ORDER BY probe_id, rank""".stripMargin)),

    // THE STANDING GRAPH INDEX'S APPEND LIFECYCLE [PK — HNSW insertion:
    // a new vector links to its nearest existing neighbors; existing
    // nodes do NOT relink (append-only — recall degrades gracefully until
    // the scheduled refit, which is the production discipline)]:
    // sim_index_maintain's day-0/day-1 story for the GRAPH tier. Day 0
    // fits the coarse quantizer on the BASE corpus slice, builds the
    // two-tier graph on it, and commits centroids + the full artifact
    // (the persist query's (kind, tier, src, dst) schema) as v1. Day 1's
    // vectors (vec_id % AnnDeltaMod == AnnDeltaRem) are assigned against
    // the FROZEN v1 centroids read back from the log, link to their top-M
    // among {their cell's base members} ∪ {the tier-1 medoids}, and land
    // as ONE NON-CONSUMING CHECKED commit reading the v1 files — a
    // concurrent refit (replace) aborts it instead of letting
    // incompatible geometry in (the sim_index_log arbitration,
    // CommitLogSpec-pinned). The probe runs the hub descent + beam COLD
    // at BOTH versions: asof=1 answers from the base-only graph, asof=2
    // adds the day's arrivals and a 'fresh' lane — the best day-1
    // arrival among the probe's ENTRY candidates, which is the honest
    // scope: append-only insertion gives new nodes OUT-edges only, so a
    // day-1 vector is reachable exactly through the cell entry (the
    // recall-vs-refit trade-off every HNSW deployment carries, made
    // observable). Laws require'd: (1) the append is O(delta) — exactly
    // |delta| node rows and ≤ |delta|·deg edge rows staged; (2) time
    // travel isolation — the v1 probe surfaces NO day-1 vector; (3) the
    // fresh lane is nonempty (the append is observable, not vacuous).
    // Scale: insertion cost per vector = one frozen-centroid assignment
    // + one bounded candidate scan (own cell + medoid tier) + GannDeg
    // edge rows appended; probes stay corpus-independent; the hub tiers
    // are FROZEN between refits so every day's arrivals land in
    // comparable geometry.
    QDef(
      "sim_graph_ann_maintain",
      (s, dir) => {
        import graft.sources.CommitLog
        val m = graft.GraftConfig.AnnDeltaMod
        val r = graft.GraftConfig.AnnDeltaRem
        val day1 = col("vec_id") % m === r
        val co = corpus(s, dir)
        val pr = probes(s, dir)
        val rootCents = Scans.freshRunTmpPath(s, "graft_gannm_cents_")
        val root = Scans.freshRunTmpPath(s, "graft_gannm_idx_")
        // Day 0: the warm-once base-slice build ([[sharedBaseTiers]] —
        // one day-0 build per harness run, the production shape);
        // centroids committed to their own log table, and the delta
        // assigned against the READ-BACK artifact (the ingest-job shape;
        // value-identical to the warm fit — doubles round-trip parquet
        // exactly).
        val (fit0, baseAssigned, tiers) = sharedBaseTiers(s, dir)
        fit0.write.mode("overwrite").parquet(s"$rootCents/s1")
        CommitLog.commit(rootCents, 1L, "s1")
        val cents1 = CommitLog.readAsOf(s, rootCents, 1L)
        gannArtifactRows(baseAssigned, tiers)
          .write.mode("overwrite").parquet(s"$root/s1")
        CommitLog.commit(root, 1L, "s1")
        // Day 1: assign against the FROZEN v1 centroids, link each new
        // vector to its top-M among {its cell's base members ∪ medoids}.
        val dAssigned = assignCell(co.where(day1), "vec_id", "ce", cents1)
          .localCheckpoint() // feeds candidates, artifact rows, the count
        val dCand = dAssigned.select(col("vec_id"), col("ce"), col("cell"))
          .join(baseAssigned.select(col("vec_id").as("nb"),
            col("ce").as("nbe"), col("cell")), Seq("cell"))
          .select("vec_id", "ce", "nb", "nbe")
          .union(dAssigned.select(col("vec_id"), col("ce"))
            .crossJoin(broadcast(tiers.medoids
              .select(col("vec_id").as("nb"), col("ce").as("nbe")))))
          .distinct()
        // `art2` is NOT checkpointed: the write materializes it once and
        // the O(delta) law recomputes it from the checkpointed delta/base
        // assignments inside the single folded law action below
        // (round-18 fixed-overhead audit).
        val art2 = dAssigned
          .select(lit("node").as("kind"), lit(0L).as("tier"),
            col("vec_id").as("src"), col("cell").as("dst"))
          .unionAll(topMEdges(dCand, GannDeg)
            .select(lit("edge").as("kind"), lit(0L).as("tier"),
              col("vec_id").as("src"), col("nb").as("dst")))
        art2.write.mode("overwrite").parquet(s"$root/s2")
        // ONE non-consuming checked commit reading the v1 files: a
        // concurrent refit would have replaced them and this append
        // aborts instead of mixing geometries.
        val v2 = CommitLog.commitCheckedNonConsuming(root, "s2", 1L,
          reads = CommitLog.filesAsOf(root, 1L))
        require(v2 == 2L, s"append landed at $v2, expected 2")
        // COLD probes at BOTH versions (time travel on one artifact).
        val wP = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        // Per-version frames. v2's entry IS checkpointed (two consumers —
        // the beam and the fresh lane — inside one materialization); v1's
        // entry and both beams are single-consumer through the
        // checkpointed `out`, so they carry no checkpoint of their own
        // (each was a separate driver job, round-18 fixed-overhead audit).
        def framesAt(v: Long) = {
          // Not checkpointed: plain parquet reads keep pushed kind/tier
          // filters per consumer (round 19, the persist QDef's reasoning).
          gannFramesFrom(CommitLog.readAsOf(s, root, v), co)
        }
        val (c1a, c1b, c1c, c1d, c1e) = framesAt(1L)
        val fr1 = gannBeamFrom(
          gannHubEntry(pr, co, c1a, c1b, c1c, c1d), pr, co, c1e)
        val (c2a, c2b, c2c, c2d, c2e) = framesAt(2L)
        val entry2 = gannHubEntry(pr, co, c2a, c2b, c2c, c2d)
          .localCheckpoint() // feeds the beam AND the fresh lane
        val fr2 = gannBeamFrom(entry2, pr, co, c2e)
        // 'fresh' = the best day-1 arrival among the probe's ENTRY
        // candidates. Entry — not the frontier — is the honest scope:
        // append-only insertion gives new nodes OUT-edges only, so a
        // day-1 vector is reachable exactly through the cell entry; the
        // lane makes both the append AND that reachability trade-off
        // observable. entry2 is already SCORED (gannHubEntry returns
        // (probe_id, vec_id, raw)), so the lane is a filter — the old
        // shape re-broadcast and re-scored the whole entry set here
        // (the second r18 ADVICE flag site).
        val fresh2 = entry2.where(col("vec_id") % m === r)
        def lane(df: DataFrame, v: Long, scope: String, k: Long) = df
          .withColumn("rank", row_number().over(wP).cast("long"))
          .where(col("rank") <= k)
          .select(lit(v).as("idx_v"), col("probe_id"),
            lit(scope).as("scope"), col("vec_id"),
            rnd(col("raw"), 6).as("cos"), col("rank"))
        val out = lane(fr1, 1L, "all", GannK.toLong)
          .unionAll(lane(fr2, 2L, "all", GannK.toLong))
          .unionAll(lane(fresh2, 2L, "fresh", 1L))
          .localCheckpoint() // feeds the laws AND the output
        // ALL THREE laws in ONE action (round-18 fixed-overhead audit:
        // the O(delta) count pair + the two probe laws were three driver
        // jobs): each lane is a labeled aggregate — "art2" kind counts +
        // the independent delta count for law 1, the per-(version, scope)
        // day-1 sums for laws 2+3.
        val sums = art2.groupBy(col("kind").as("k1"))
          .agg(count(lit(1)).as("n"), lit(0L).as("nd"))
          .select(lit("art2").as("law"), col("k1"), col("n"), col("nd"))
          .unionAll(dAssigned
            .agg(count(lit(1)).as("n"))
            .select(lit("delta").as("law"), lit("").as("k1"), col("n"),
              lit(0L).as("nd")))
          .unionAll(out.groupBy(
              concat_ws("/", col("idx_v"), col("scope")).as("k1"))
            .agg(count(lit(1)).as("n"),
              sum(when(col("vec_id") % m === r, 1L).otherwise(0L)).as("nd"))
            .select(lit("out").as("law"), col("k1"), col("n"), col("nd")))
          .collect()
          .map(x => (x.getString(0), x.getString(1)) ->
            (x.getLong(2), x.getLong(3))).toMap
        // Law 1: the append is O(delta), exactly.
        val deltaN = sums(("delta", ""))._1
        val nodeN = sums.getOrElse(("art2", "node"), (0L, 0L))._1
        val edgeN = sums.getOrElse(("art2", "edge"), (0L, 0L))._1
        require(nodeN == deltaN && edgeN <= deltaN * GannDeg,
          s"append staged node=$nodeN edge=$edgeN rows for $deltaN delta" +
            " vectors — not O(delta)")
        // Laws 2+3: v1 surfaces no day-1 vector; the fresh lane is
        // nonempty (the append is observable, not vacuous).
        require(sums(("out", "1/all"))._2 == 0L,
          "a day-1 vector leaked into the v1 (pre-append) probe")
        require(sums.get(("out", "2/fresh")).exists(_._1 > 0L),
          "the fresh lane must surface the append")
        out.orderBy("idx_v", "probe_id", "scope", "rank")
      },
      Some {
        val m = graft.GraftConfig.AnnDeltaMod
        val r = graft.GraftConfig.AnnDeltaRem
        s"""${ivfChainSql(Some(r))},
           |${gannIndexCtes("c0")},
           |gdcand AS (
           |  SELECT dv.vec_id, dv.ce, x.vec_id AS nb, x.ce AS nbe
           |  FROM d dv JOIN c x ON x.cell = dv.cell
           |  UNION
           |  SELECT dv.vec_id, dv.ce, s.vec_id AS nb, s.ce AS nbe
           |  FROM d dv CROSS JOIN medv s),
           |gd AS MATERIALIZED (
           |  SELECT vec_id, nb FROM (
           |    SELECT vec_id, nb,
           |      row_number() OVER (PARTITION BY vec_id
           |        ORDER BY ${cosSql("ce", "nbe")} DESC, nb ASC) AS rn
           |    FROM gdcand WHERE vec_id <> nb)
           |  WHERE rn <= $GannDeg),
           |g2 AS (SELECT vec_id, nb FROM g
           |  UNION ALL SELECT vec_id, nb FROM gd),
           |pr AS MATERIALIZED ($probeSql),
           |$gannDescentCtes,
           |${gannEntryBeamCtes("v1", "c", "g")},
           |${gannEntryBeamCtes("v2", "idx", "g2")}
           |SELECT idx_v, probe_id, scope, vec_id, cos, rank FROM (
           |  SELECT CAST(1 AS BIGINT) AS idx_v, probe_id, 'all' AS scope,
           |    vec_id, floor((raw) * 1e6 + 0.5) / 1e6 AS cos, rank
           |  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
           |      ORDER BY raw DESC, vec_id ASC) AS rank FROM f2v1)
           |  WHERE rank <= $GannK
           |  UNION ALL
           |  SELECT CAST(2 AS BIGINT), probe_id, 'all', vec_id,
           |    floor((raw) * 1e6 + 0.5) / 1e6, rank
           |  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
           |      ORDER BY raw DESC, vec_id ASC) AS rank FROM f2v2)
           |  WHERE rank <= $GannK
           |  UNION ALL
           |  SELECT CAST(2 AS BIGINT), probe_id, 'fresh', vec_id,
           |    floor((raw) * 1e6 + 0.5) / 1e6, rank
           |  FROM (SELECT e.probe_id, e.vec_id,
           |      ${cosSql("p.pe", "x.ce")} AS raw,
           |      row_number() OVER (PARTITION BY e.probe_id
           |        ORDER BY ${cosSql("p.pe", "x.ce")} DESC,
           |          e.vec_id ASC) AS rank
           |    FROM ecv2 e
           |    JOIN call x ON x.vec_id = e.vec_id
           |    JOIN pr p ON p.probe_id = e.probe_id
           |    WHERE e.vec_id % $m = $r AND e.probe_id <> e.vec_id)
           |  WHERE rank <= 1)
           |ORDER BY idx_v, probe_id, scope, rank""".stripMargin
      }),

    // THE SCHEDULED REFIT — the lifecycle sim_graph_ann_maintain leaves
    // open ("recall degrades gracefully until the scheduled refit"),
    // closed: after a day-0 build + day-1 append-only insertion, the
    // refit re-fits the coarse quantizer on the FULL corpus, rebuilds
    // BOTH tiers in the new geometry, and lands centroids + the whole
    // artifact as ONE atomic REPLACE commit per table (removes resolve
    // AT LANDING TIME — `commitRetrying(removesAsOf)`, the arbitration
    // CommitLogSpec pins: an interleaved append retires atomically with
    // the base, and a racing append whose read snapshot predates the
    // refit ABORTS instead of landing incompatible geometry —
    // exercised in-query below). The rebuilt index is definitionally
    // the full-corpus two-tier build, so the declared output — the COLD
    // probe of the v3 artifact with per-probe recall vs the exact
    // top-k — is oracled by the same full-corpus chain as
    // sim_graph_ann_persist. Laws require'd in-query: (1) the replace
    // is COMPLETE (no v2 file survives into v3); (2) a racing append
    // reading the pre-refit files aborts with the conflict exception;
    // (3) the pre-refit version stays TIME-TRAVELABLE — reading asof v2
    // after the refit reproduces base ∪ delta exactly (both exceptAll
    // directions, folded with (4) into one action); (4) the refit does
    // not LOSE recall — summed post-refit recall ≥ summed pre-refit
    // recall (the append-only geometry is what degraded; the refit is
    // the recovery), and the post-refit probe holds the family's 60%
    // floor. Scale: the refit pays one full index build — by design
    // paid on the REFIT SCHEDULE, not per append (the maintain QDef's
    // per-insert cost stays O(delta)); the replace commit is O(1)
    // metadata; pre-refit versions remain probe-able until vacuum.
    QDef(
      "sim_graph_ann_refit",
      (s, dir) => {
        import graft.sources.CommitLog
        val m = graft.GraftConfig.AnnDeltaMod
        val r = graft.GraftConfig.AnnDeltaRem
        val day1 = col("vec_id") % m === r
        val co = corpus(s, dir)
        val pr = probes(s, dir)
        val rootCents = Scans.freshRunTmpPath(s, "graft_gannrf_cents_")
        val root = Scans.freshRunTmpPath(s, "graft_gannrf_idx_")
        // Day 0: the warm-once base-slice build ([[sharedBaseTiers]]),
        // committed as v1 (the maintain QDef's day-0 shape; the centroid
        // table is version 1 of its own log so the refit can replace it
        // too).
        val (fit0, baseAssigned, tiers1) = sharedBaseTiers(s, dir)
        fit0.write.mode("overwrite").parquet(s"$rootCents/s1")
        CommitLog.commit(rootCents, 1L, "s1")
        val cents1 = CommitLog.readAsOf(s, rootCents, 1L)
        // NOT checkpointed: narrow projections over the warm checkpointed
        // base frames — the write materializes it once and the time-travel
        // law recomputes it cheaply inside the folded action below (the
        // maintain QDef's art2 discipline, applied here in round 19; the
        // eager checkpoint was a full extra materialization job).
        val art1 = gannArtifactRows(baseAssigned, tiers1)
        art1.write.mode("overwrite").parquet(s"$root/s1")
        CommitLog.commit(root, 1L, "s1")
        // Day 1: append-only insertion against the FROZEN v1 geometry.
        val dAssigned = assignCell(co.where(day1), "vec_id", "ce", cents1)
          .localCheckpoint()
        val dCand = dAssigned.select(col("vec_id"), col("ce"), col("cell"))
          .join(baseAssigned.select(col("vec_id").as("nb"),
            col("ce").as("nbe"), col("cell")), Seq("cell"))
          .select("vec_id", "ce", "nb", "nbe")
          .union(dAssigned.select(col("vec_id"), col("ce"))
            .crossJoin(broadcast(tiers1.medoids
              .select(col("vec_id").as("nb"), col("ce").as("nbe")))))
          .distinct()
        // NOT checkpointed, same reasoning as art1: recomputed from the
        // checkpointed delta assignment inside the folded law action.
        val art2 = dAssigned
          .select(lit("node").as("kind"), lit(0L).as("tier"),
            col("vec_id").as("src"), col("cell").as("dst"))
          .unionAll(topMEdges(dCand, GannDeg)
            .select(lit("edge").as("kind"), lit(0L).as("tier"),
              col("vec_id").as("src"), col("nb").as("dst")))
        art2.write.mode("overwrite").parquet(s"$root/s2")
        val files1 = CommitLog.filesAsOf(root, 1L)
        val v2 = CommitLog.commitCheckedNonConsuming(root, "s2", 1L,
          reads = files1)
        require(v2 == 2L, s"append landed at $v2, expected 2")
        // THE REFIT: full-corpus fit + two-tier rebuild (the SAME frames
        // sim_graph_ann_persist commits — warm-shared across the family),
        // landed as ONE atomic replace per table.
        val files2 = CommitLog.filesAsOf(root, 2L)
        sharedFit(s, dir)
          .write.mode("overwrite").parquet(s"$rootCents/s2")
        CommitLog.commitRetrying(rootCents, "s2",
          removesAsOf = v => CommitLog.filesAsOf(rootCents, v - 1L))
        gannArtifactRows(sharedAssigned(s, dir), sharedGraphTiers(s, dir))
          .write.mode("overwrite").parquet(s"$root/s3")
        val v3 = CommitLog.commitRetrying(root, "s3",
          removesAsOf = v => CommitLog.filesAsOf(root, v - 1L))
        // Law 1: the replace is complete — no pre-refit file survives.
        val files3 = CommitLog.filesAsOf(root, v3)
        require(files3.toSet.intersect(files2.toSet).isEmpty,
          "the refit replace left pre-refit artifact files live")
        // Law 2: a racing append whose read snapshot predates the refit
        // ABORTS (validation rejects it before any attempt — the staged
        // dir is never consulted).
        val aborted =
          try {
            CommitLog.commitCheckedNonConsuming(root, "s2", 1L,
              reads = files1)
            false
          } catch {
            case _: java.util.ConcurrentModificationException => true
          }
        require(aborted,
          "an append reading refit-retired geometry must abort, not land")
        // COLD probes at v2 (pre-refit, append-only geometry) and v3
        // (post-refit). Both rank against the SAME exact top-k baseline.
        val wP = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        def coldTop(v: Long): (DataFrame, DataFrame) = {
          // Not checkpointed: plain parquet reads keep pushed kind/tier
          // filters per consumer (round 19, the persist QDef's reasoning;
          // pre-refit files stay on disk until vacuum, so the v2 read
          // stays serveable after the replace).
          val artC = CommitLog.readAsOf(s, root, v)
          val (cCells, cMedoids, cHubs2, cHubEdges, cGraph) =
            gannFramesFrom(artC, co)
          (artC, gannHubProbe(pr, co, cCells, cMedoids, cHubs2, cHubEdges,
            cGraph)
            .withColumn("rank", row_number().over(wP).cast("long"))
            .where(col("rank") <= GannK.toLong))
        }
        val (artC2, top2) = coldTop(2L)
        val (_, top3) = coldTop(v3)
        val exact = co.crossJoin(broadcast(pr))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
          .withColumn("rn", row_number().over(wP))
          .where(col("rn") <= GannK)
          .select("probe_id", "vec_id")
          .localCheckpoint() // one brute-force pass serves both versions
        def withRecall(top: DataFrame): DataFrame = {
          val hits = top.join(exact, Seq("probe_id", "vec_id"))
            .groupBy("probe_id").agg(count(lit(1)).as("h"))
          top.join(broadcast(hits), Seq("probe_id"), "left")
            .na.fill(0L, Seq("h"))
            .select(col("probe_id"), col("vec_id"),
              rnd(col("raw"), 6).as("cos"), col("rank"),
              (col("h") * 100L / GannK).cast("long").as("recall_pct"))
        }
        val out = withRecall(top3)
          .localCheckpoint() // feeds the recall laws AND the output
        // Laws 3+4 in ONE action: time-travel diffs (asof v2 ≡ base ∪
        // delta) union'd with the pre/post recall sums, each lane empty
        // or labeled. Round-19 shape: the time-travel leg is the single
        // signed-count aggregate (one exchange, not exceptAll's two full
        // rewrites per direction), and the PRE-refit recall sum consumes
        // the v2 beam ONCE — Σ_p (h_p·100 div k) over the hit counts is
        // exactly the old Σ of rank-1 recall_pct rows, without the
        // broadcast join-back that re-consumed the beam frontier.
        val ttDiffs = artC2.withColumn("w", lit(1L))
          .unionAll(art1.unionAll(art2).withColumn("w", lit(-1L)))
          .groupBy("kind", "tier", "src", "dst")
          .agg(sum("w").as("w"))
          .where(col("w") =!= 0L)
          .select(lit("timetravel").as("law"), lit(0L).as("a"),
            lit(0L).as("b"))
        val recallSums = top2.join(exact, Seq("probe_id", "vec_id"))
          .groupBy("probe_id").agg(count(lit(1)).as("h"))
          .agg(coalesce(sum((col("h") * 100L / GannK).cast("long")),
              lit(0L)).as("a"),
            count(lit(1)).as("b"))
          .select(lit("pre").as("law"), col("a"), col("b"))
          .unionAll(out.where(col("rank") === 1L)
            .agg(sum("recall_pct").cast("long").as("a"),
              count(lit(1)).as("b"))
            .select(lit("post").as("law"), col("a"), col("b")))
        val sums = ttDiffs.unionAll(recallSums)
          .groupBy("law").agg(sum("a").as("a"), sum("b").as("b"),
            count(lit(1)).as("n"))
          .collect().map(x => x.getString(0) ->
            (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
        require(!sums.contains("timetravel"),
          "reading asof v2 after the refit diverged from base ∪ delta")
        val (preR, preN, _) = sums("pre")
        val (postR, postN, _) = sums("post")
        require(postR >= preR,
          s"the refit lost recall: post $postR over $postN probes vs pre " +
            s"$preR over the $preN probes with an exact hit")
        require(postR >= 60L * postN,
          s"post-refit recall ${postR / postN}% fell below the 60% floor")
        out.orderBy("probe_id", "rank")
      },
      Some(s"""$gannCommonSql,
           |exact AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT p.probe_id, x.vec_id,
           |      row_number() OVER (PARTITION BY p.probe_id
           |        ORDER BY ${cosSql("p.pe", "x.ce")} DESC, x.vec_id ASC) AS rn
           |    FROM pr p CROSS JOIN call x WHERE p.probe_id <> x.vec_id)
           |  WHERE rn <= $GannK)
           |SELECT a.probe_id, a.vec_id,
           |  floor((a.raw) * 1e6 + 0.5) / 1e6 AS cos, a.rank,
           |  coalesce(h.h, 0) * 100 // $GannK AS recall_pct
           |FROM (SELECT probe_id, vec_id, raw,
           |    row_number() OVER (PARTITION BY probe_id
           |      ORDER BY raw DESC, vec_id ASC) AS rank
           |  FROM f2h QUALIFY rank <= $GannK) a
           |LEFT JOIN (
           |  SELECT x.probe_id, CAST(count(*) AS BIGINT) AS h
           |  FROM (SELECT probe_id, vec_id, row_number() OVER (
           |      PARTITION BY probe_id ORDER BY raw DESC, vec_id ASC) AS rank
           |    FROM f2h QUALIFY rank <= $GannK) x
           |  JOIN exact e ON x.probe_id = e.probe_id AND x.vec_id = e.vec_id
           |  GROUP BY 1) h ON h.probe_id = a.probe_id
           |ORDER BY a.probe_id, a.rank""".stripMargin)),

    // VECTOR DELETE FROM THE STANDING ANN INDEX — the GDPR sweep the
    // embedding store was missing: the table family has both DML halves
    // (copy-on-write + deletion vectors), but the standing indexes only
    // ever grew, so a corpus-table delete left the vectors PROBE-
    // REACHABLE in the index artifact. This composes table_delete_dv's
    // position-sidecar protocol with sim_index_log's committed IVF code
    // table: the deletion cohort's rows die by DELETION VECTOR on their
    // victim code files — no data file moves, the delete writes one
    // sidecar of (file, row position) + one metadata commit, the
    // merge-on-read bargain that makes a k-row erasure in a TB-scale
    // index cost KBs. Probes run at BOTH versions: as_of 1 declares the
    // pre-delete answers INCLUDING the best cohort member (the 'victim'
    // lane — the reachability the sweep must kill), as_of 2 re-probes
    // the DV-applied index. Laws require'd in-query, folded into ONE
    // labeled action: (1) NO deleted vector surfaces in the v2
    // candidate set — checked on the FULL scored set, not just top-k;
    // (2) the pre-delete version stays reproducible (asof-v1 still
    // serves every cohort row — audit/repro, until vacuum); (3)
    // OPTIMIZE materializes the vectors (rewrite victims, conflict-
    // checked swap) and merge-on-read ≡ materialized row for row; then
    // VACUUM reclaims the expired sidecar with the victim tombstones.
    // Scale: the sweep scans only the victim files once to emit
    // positions; the DV attach is O(1) metadata; probes stay
    // cell-joined; the rewrite is deferred to OPTIMIZE on the
    // operator's schedule.
    QDef(
      "sim_index_delete",
      (s, dir) => {
        import graft.sources.CommitLog
        val m = graft.GraftConfig.AnnDeltaMod
        val r = graft.GraftConfig.AnnDeltaRem
        val victim = col("vec_id") % m === r
        val root = Scans.freshRunTmpPath(s, "graft_anndel_")
        val cents = sharedFit(s, dir)
        val assigned = sharedAssigned(s, dir)
        // v1: the standing code table (range-partitioned by cell — the
        // sim_index_log layout).
        assigned.repartitionByRange(graft.GraftConfig.IvfCells, col("cell"))
          .write.mode("overwrite").parquet(s"$root/s1")
        CommitLog.commit(root, 1L, "s1")
        val files1 = CommitLog.filesAsOf(root, 1L)
        // THE SWEEP: one scan of the code files emits the cohort's
        // (file, position) pairs; only files actually carrying cohort
        // rows become victims.
        s.read.parquet(files1.map(f => s"$root/$f"): _*)
          .where(victim)
          .select(
            expr("substring(regexp_replace(_metadata.file_path, '^file:/+', '/'), "
              + s"${root.length + 2})").as("f"),
            col("_metadata.row_index").cast("long").as("pos"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/dv2")
        val dvFile = {
          import scala.jdk.CollectionConverters._
          val st = java.nio.file.Files.list(
            java.nio.file.Paths.get(root, "dv2"))
          try st.iterator().asScala.map(_.getFileName.toString)
            .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
            .map(n => s"dv2/$n").toSeq match {
              case Seq(one) => one
              case other => throw new IllegalStateException(
                s"expected one sidecar file, got $other")
            }
          finally st.close()
        }
        val victimFiles = s.read.parquet(s"$root/$dvFile")
          .select("f").distinct().collect().map(_.getString(0)).toSeq.sorted
        require(victimFiles.nonEmpty,
          "the deletion cohort must touch at least one code file")
        val v2 = CommitLog.commitDVChecked(root, 1L,
          victimFiles.map(_ -> dvFile).toMap)
        require(v2 == 2L, s"DV attach must land at version 2, got $v2")
        require(CommitLog.filesAsOf(root, v2).toSet == files1.toSet,
          "merge-on-read delete must move NO code file")
        // Probes at both versions (readAsOf applies the vectors at v2).
        val p = assignCell(probes(s, dir), "probe_id", "pe", cents)
        def scoredAt(v: Long): DataFrame = CommitLog.readAsOf(s, root, v)
          .join(broadcast(p), Seq("cell"))
          .where(col("probe_id") =!= col("vec_id"))
          .select(col("probe_id"), col("cell"), col("vec_id"),
            cosine(col("pe"), col("ce")).as("raw"))
        val w = Window.partitionBy("probe_id")
          .orderBy(col("raw").desc, col("vec_id").asc)
        def lane(df: DataFrame, asof: Long, scope: String, k: Long) = df
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= k)
          .select(lit(asof).as("as_of"), col("probe_id"),
            lit(scope).as("scope"), col("cell"), col("vec_id"),
            rnd(col("raw"), 6).as("cos"), col("rank"))
        val s1d = scoredAt(1L)
        val s2d = scoredAt(2L)
        val out = lane(s1d, 1L, "all", 3L)
          .unionAll(lane(s1d.where(victim), 1L, "victim", 1L))
          .unionAll(lane(s2d, 2L, "all", 3L))
          .localCheckpoint() // pinned BEFORE vacuum retires v1's files
        // OPTIMIZE: rewrite the victim files with their vectors applied,
        // swapped in one conflict-checked commit.
        s.read.parquet(victimFiles.map(f => s"$root/$f"): _*)
          .where(!victim)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/s3")
        val v3 = CommitLog.commitChecked(root, "s3", v2, reads = victimFiles)
        require(v3 == 3L, s"materialize must land at version 3, got $v3")
        val snap3 = CommitLog.snapshotAsOf(root, v3)
        require(snap3.live.forall(f => !snap3.dvs.contains(f)),
          "materializing must retire the vectors from every live file " +
            "(tombstoned victims keep theirs for vacuum retention)")
        // ALL remaining laws in ONE labeled action: no deleted vector in
        // the v2 candidate set; asof-v1 still serves the cohort (count ==
        // the index's own cohort count, nonzero); MoR ≡ materialized.
        val vSurf = s2d.where(victim)
          .select(lit("victim-surfaces").as("law"), lit(0L).as("a"))
        val morDiff = {
          val a = CommitLog.readAsOf(s, root, v2).select("vec_id", "cell")
          val b = CommitLog.readAsOf(s, root, v3).select("vec_id", "cell")
          graft.Laws.symDiff(a, b)
            .select(lit("mor≠mat").as("law"), lit(0L).as("a"))
        }
        val counts = CommitLog.readAsOf(s, root, 1L).where(victim)
          .agg(count(lit(1)).as("a"))
          .select(lit("v1cohort").as("law"), col("a"))
          .unionAll(assigned.where(victim)
            .agg(count(lit(1)).as("a"))
            .select(lit("expected").as("law"), col("a")))
        val sums = vSurf.unionAll(morDiff).unionAll(counts)
          .groupBy("law").agg(sum("a").as("a"), count(lit(1)).as("n"))
          .collect().map(x => x.getString(0) ->
            (x.getLong(1), x.getLong(2))).toMap
        require(!sums.contains("victim-surfaces"),
          "a deleted vector stayed probe-reachable at the post-delete version")
        require(!sums.contains("mor≠mat"),
          "merge-on-read and materialized index reads must agree")
        require(sums(("v1cohort"))._1 == sums(("expected"))._1 &&
            sums(("expected"))._1 > 0L,
          "the pre-delete version must keep serving every cohort row")
        // VACUUM: the sidecar expires with the victim tombstones.
        val dvAbs = java.nio.file.Paths.get(root, dvFile)
        require(java.nio.file.Files.exists(dvAbs),
          "sidecar must exist pre-vacuum")
        CommitLog.vacuum(root, 0L)
        require(!java.nio.file.Files.exists(dvAbs),
          "vacuum must reclaim the expired sidecar")
        out.orderBy("as_of", "probe_id", "scope", "rank")
      },
      Some {
        val m = graft.GraftConfig.AnnDeltaMod
        val r = graft.GraftConfig.AnnDeltaRem
        ivfChainSql(None) + s""",
           |vict AS (
           |  SELECT probe_id, cell, vec_id, raw,
           |    row_number() OVER (PARTITION BY probe_id
           |      ORDER BY raw DESC, vec_id ASC) AS rank
           |  FROM scored WHERE vec_id % $m = $r),
           |post AS (
           |  SELECT probe_id, cell, vec_id, raw,
           |    row_number() OVER (PARTITION BY probe_id
           |      ORDER BY raw DESC, vec_id ASC) AS rank
           |  FROM scored WHERE vec_id % $m <> $r)
           |SELECT as_of, probe_id, scope, cell, vec_id, cos, rank FROM (
           |  SELECT CAST(1 AS BIGINT) AS as_of, probe_id, 'all' AS scope,
           |    cell, vec_id, floor((raw) * 1e6 + 0.5) / 1e6 AS cos, rank
           |  FROM ranked WHERE rank <= 3
           |  UNION ALL
           |  SELECT CAST(1 AS BIGINT), probe_id, 'victim', cell, vec_id,
           |    floor((raw) * 1e6 + 0.5) / 1e6, rank
           |  FROM vict WHERE rank = 1
           |  UNION ALL
           |  SELECT CAST(2 AS BIGINT), probe_id, 'all', cell, vec_id,
           |    floor((raw) * 1e6 + 0.5) / 1e6, rank
           |  FROM post WHERE rank <= 3)
           |ORDER BY as_of, probe_id, scope, rank""".stripMargin
      })
  )
}
