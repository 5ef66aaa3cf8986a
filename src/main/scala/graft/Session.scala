package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every harness and tool runs under. */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the bench contract's 32
    * (BASELINE.md) — the variable overrides for constrained dev machines. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** A local[cpus] builder with one shuffle partition per core. The
    * storage-partitioning confs are pinned at build time so the plan
    * environment is identical whether a storage-partitioned query
    * (scan_v2_spj/join_spj, which also set them at runtime for cold
    * sessions) has run yet or not — ordering-independent plans across a
    * sweep. */
  def builder(cpus: String = Session.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
}
