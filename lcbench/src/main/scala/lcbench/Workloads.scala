package lcbench

import graft.QDef

/** The benchmark's workloads. Every op list is spelled out by name and
  * frozen here: a new operator in the program never changes a workload, and
  * a name the program does not declare fails the run before anything is
  * timed. */
final case class Workload(
    name: String,
    ops: Seq[String],
    /** Whether set-up builds the standing IVF artifact (fitted centroids
      * and the cell-assigned corpus) through `Similarity.warmShared`. */
    standingIvf: Boolean,
    /** How many times set-up runs; `setup_s` is the median. The first
      * set-up also loads and compiles the code paths, so a cheap set-up is
      * repeated more often to keep its median off the noise. */
    setupReps: Int,
    /** Whether each timed pass runs the log-backed lake loop. */
    lakeInPass: Boolean,
    /** Untimed noop-sink passes between the verification pass and the
      * timed ones. */
    warmupPasses: Int)

object Workloads {

  /** Read-only curation: a scan, a join, aggregates (light-curve features
    * included), a window, scalar and text functions. Declared-plan
    * execution does the work; no standing artifact, law-heavy build or
    * commit log is involved. */
  val curateBatch: Workload = Workload("curate_batch",
    ops = Seq(
      "scan_prune",                                     // Scans
      "join_asof",                                      // Joins
      "agg_grouping_sets", "lc_features",               // Aggregates
      "win_sessionize",                                 // Windows
      "fn_map_json",                                    // Scalars
      "text_entropy"),                                  // TextOps
    // The exec path keeps speeding up for a pass or two after the
    // verification pass (JIT); one untimed pass takes most of that drift
    // out of the timed ones. With no standing artifact, set-up is session
    // start alone, about 0.1 s once the JVM is warm.
    standingIvf = false, setupReps = 9,
    lakeInPass = false, warmupPasses = 1)

  /** Index maintenance for LLM pipelines, and the lakehouse commits it
    * rides on: exact dedup, an IVF probe over the standing IVF artifact, a
    * graph peel, a streaming op that commits its micro-batches through the
    * log, and in every pass the benchmark's own log-backed loop (appends
    * with one overwrite per checkpoint cycle, as-of reads, snapshots, a
    * final vacuum). Bound by per-job overhead: eager build-phase jobs, the
    * standing-artifact build in set-up, and many small commit jobs. */
  val indexBuild: Workload = Workload("index_build",
    ops = Seq(
      "dedup_exact",                                    // Dedup
      "sim_index_probe",                                // Similarity
      "graph_kcore",                                    // Graph
      "stream_exactly_once"),                           // StreamingOps
    // One timed pass is all the run-time budget allows; its build phases
    // were warmed by set-up and the verification pass.
    standingIvf = true, setupReps = 3,
    lakeInPass = true, warmupPasses = 0)

  val all: Seq[Workload] = Seq(curateBatch, indexBuild)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** The program's operator modules. */
  private val modules: Seq[(String, Seq[QDef])] = {
    import graft.operators._
    Seq("Scans" -> Scans.defs, "TableOps" -> TableOps.defs,
      "FrameOps" -> FrameOps.defs, "Filters" -> Filters.defs,
      "Joins" -> Joins.defs, "Aggregates" -> Aggregates.defs,
      "Windows" -> Windows.defs, "SetOps" -> SetOps.defs,
      "Scalars" -> Scalars.defs, "TextOps" -> TextOps.defs,
      "Dedup" -> Dedup.defs, "Similarity" -> Similarity.defs,
      "Graph" -> Graph.defs, "StreamingOps" -> StreamingOps.defs,
      "Extensibility" -> Extensibility.defs,
      "Multimodal" -> graft.multimodal.Multimodal.defs)
  }

  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, defs) => defs.map(_.name -> m) }.toMap

  /** Modules some workload draws ops from, in the program's module order:
    * the per-module time attribution reports these. */
  val usedModules: Seq[String] = {
    val used = all.flatMap(_.ops).flatMap(moduleOf.get).toSet
    modules.map(_._1).filter(used)
  }

  /** Fails loudly on any op name the program does not declare. */
  def validate(w: Workload): Unit = {
    val unknown = w.ops.filterNot(moduleOf.contains)
    require(unknown.isEmpty,
      s"workload ${w.name} names unknown ops: ${unknown.mkString(", ")}")
    require(w.ops.distinct.size == w.ops.size,
      s"workload ${w.name} lists an op twice")
  }
}
