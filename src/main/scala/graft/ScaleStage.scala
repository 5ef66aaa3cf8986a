package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-staged scale-sweep fixtures: replicate the driver's sf0.1 tables
  * `factor`× with DISJOINT key spaces per replica, so the iterative /
  * index-building operator families can be timed at ~sf1 and their scaling
  * exponents measured (BENCH_SCALE.json) — the step that turns "designed
  * for 100 TB" plan-reading into measurement.
  *
  * Replication discipline (what makes the timing honest):
  *  - every key column shifts by `i * stride(domain)` — ONE stride per key
  *    DOMAIN (custkey, orderkey, partkey, suppkey, doc/vec, event), computed
  *    as max over every column drawing from that space + 1 — so joins keep
  *    their per-replica fan-out (each replica is a disjoint component —
  *    graph operators see `factor`× components, not one `factor`²-denser
  *    blob) AND dim↔fact pairings survive replication (per-column maxima
  *    differ whenever a dimension key is unreferenced on the fact side,
  *    which would scramble replica i>=1 pairings);
  *  - `documents.text` is word-salted per replica (`w` → `w`x`i`), so
  *    replicas are NOT near-duplicates of each other: the dedup family's
  *    candidate structure scales ~linearly instead of exploding on
  *    cross-replica duplicate buckets a real 10× corpus would never have;
  *  - `events.ts` / `embeddings.embedding` keep their values — per-key
  *    series length and vector geometry are the premises those families'
  *    state bounds rest on, and replication preserves both;
  *  - layout matches the driver exactly: ONE parquet file per table (the
  *    staged dir is a drop-in SPARK_GRAFT_SF_DIR), events.ts staying in
  *    its raw physical type via the same nanosAsLong read the loader uses.
  *
  * Usage: ScaleStage <srcSfDir> <outDir> [factor=10]
  */
object ScaleStage {

  private def singleFile(s: SparkSession, df: DataFrame, outDir: String,
      table: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val tmp = s"$outDir/.stage_$table"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = {
      val st = Files.list(Paths.get(tmp))
      try st.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .toSeq.head
      finally st.close()
    }
    Files.move(part, Paths.get(s"$outDir/$table.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    FsUtil.deleteRecursively(new java.io.File(tmp))
  }

  /** Union `factor` replicas of `df`, shifting each column in `keys` by
    * `i * stride` per replica — disjoint key spaces, preserved structure.
    *
    * Each key maps to its DOMAIN stride (see [[domainStride]]): foreign-key
    * columns that reference the same key space (c_custkey / o_custkey /
    * user_id; o_orderkey / l_orderkey; doc_id / vec_id; ...) must shift by
    * the SAME stride, or replicas i>=1 would scramble dim↔fact pairings and
    * dangle keys at replica boundaries — per-column maxima differ whenever a
    * dimension key is unreferenced on the fact side. */
  private def replicate(s: SparkSession, df: DataFrame, factor: Int,
      keys: Seq[(String, Long)], extra: (DataFrame, Int) => DataFrame = (d, _) => d)
      : DataFrame = {
    (0 until factor).map { i =>
      val shifted = keys.foldLeft(df) { case (d, (k, stride)) =>
        d.withColumn(k, col(k) + lit(i.toLong * stride))
      }
      extra(shifted, i)
    }.reduce(_ unionAll _)
  }

  /** One stride per key DOMAIN: max over EVERY column that draws from the
    * key space (dimension key + all foreign keys), + 1. Taking the max
    * across members (not just the owning dimension) keeps replicas disjoint
    * even if a fact-side value exceeds the dimension's max in the synthetic
    * fixtures. */
  private def domainStride(members: (DataFrame, String)*): Long =
    members.map { case (df, k) =>
      df.agg(max(col(k).cast("long"))).head.getLong(0)
    }.max + 1L

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val s = Session.builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    // Dimensions copy as-is (at a real sf1 these grow too, but the sweep
    // targets the iterative families, whose cost lives in the fact side).
    singleFile(s, Tables.region(s, srcDir), outDir, "region")
    singleFile(s, Tables.nation(s, srcDir), outDir, "nation")

    // events: raw read keeps ts in its on-disk physical type (LONG nanos
    // under the loader's legacy conf) so the staged file round-trips
    // through Tables.events identically.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val eventsRaw = s.read.parquet(s"$srcDir/events.parquet")

    val customer = Tables.customer(s, srcDir)
    val supplier = Tables.supplier(s, srcDir)
    val part = Tables.part(s, srcDir)
    val orders = Tables.orders(s, srcDir)
    val lineitem = Tables.lineitem(s, srcDir)
    val documents = Tables.documents(s, srcDir)
    val embeddings = Tables.embeddings(s, srcDir)

    // One stride per key DOMAIN, shared by every column referencing it
    // (stream_enrich joins events.user_id = customer.c_custkey;
    // multimodal_join joins documents.doc_id = embeddings.vec_id).
    val custStride = domainStride((customer, "c_custkey"),
      (orders, "o_custkey"), (eventsRaw, "user_id"))
    val suppStride = domainStride((supplier, "s_suppkey"),
      (lineitem, "l_suppkey"))
    val partStride = domainStride((part, "p_partkey"),
      (lineitem, "l_partkey"))
    val orderStride = domainStride((orders, "o_orderkey"),
      (lineitem, "l_orderkey"))
    val docStride = domainStride((documents, "doc_id"),
      (embeddings, "vec_id"))
    val eventStride = domainStride((eventsRaw, "event_id"))

    singleFile(s, replicate(s, customer, factor,
      Seq("c_custkey" -> custStride)), outDir, "customer")
    singleFile(s, replicate(s, supplier, factor,
      Seq("s_suppkey" -> suppStride)), outDir, "supplier")
    singleFile(s, replicate(s, part, factor,
      Seq("p_partkey" -> partStride)), outDir, "part")
    singleFile(s, replicate(s, orders, factor,
      Seq("o_orderkey" -> orderStride, "o_custkey" -> custStride)),
      outDir, "orders")
    singleFile(s, replicate(s, lineitem, factor,
      Seq("l_orderkey" -> orderStride, "l_partkey" -> partStride,
        "l_suppkey" -> suppStride)), outDir, "lineitem")

    singleFile(s, replicate(s, eventsRaw, factor,
      Seq("event_id" -> eventStride, "user_id" -> custStride)),
      outDir, "events")

    // documents: word-salt the text per replica (deterministic, content
    // preserved within a replica) so cross-replica pairs are NOT near-dups.
    singleFile(s, replicate(s, documents, factor,
      Seq("doc_id" -> docStride),
      (d, i) =>
        if (i == 0) d
        else d.withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"$$1x$i"))
          .withColumn("n_chars", length(col("text")).cast("long"))),
      outDir, "documents")

    singleFile(s, replicate(s, embeddings, factor,
      Seq("vec_id" -> docStride)), outDir, "embeddings")

    val counts = Seq("customer", "orders", "lineitem", "events",
      "documents", "embeddings").map { t =>
      s"$t=${s.read.parquet(s"$outDir/$t.parquet").count()}"
    }
    println(s"[scale-stage] factor=$factor out=$outDir ${counts.mkString(" ")}")
    s.stop()
  }
}
