package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Driver contract: exactly (sfDir, outDir). Extra args (local dev only)
    // restrict the run to the named queries.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    // Build the standing artifacts once for the whole run, so the sharing
    // queries probe them instead of each re-deriving them.
    Standing.warm(selected.keys, spark, sfDir)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // Recursive delete for pre-run cleanup (below).
    def rmTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        val st = Files.walk(p)
        // toSeq drains the stream before reverse; close releases the
        // directory fds the walk holds (one leak per query otherwise).
        try st.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
        finally st.close()
      }
    selected.foreach { case (name, fn) =>
      // Delete any prior-run output BEFORE running the query: overwrite-mode
      // only cleans on a successful write, so a query that throws would
      // otherwise leave the previous run's parquet in place and check.py
      // would grade the stale result as a pass for a query that failed.
      rmTree(Paths.get(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Cleanup hook for query-internal caches: clearCache drops SQL-cache
      // entries (dedup_ngram's shingle set), and the explicit unpersist
      // sweep drops RDD storage blocks clearCache does NOT cover —
      // localCheckpoint()'d edge lists (dedup_cluster/dedup_keep) register
      // as persistent RDDs and would otherwise accumulate for the whole
      // 100-query run. The warm frames' blocks are exempt: unpersisting a
      // localCheckpoint leaves later reads with missing checkpoint blocks.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => Standing.keepIds(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest of every query this run DECLARED, so the checker can flag a
    // query that threw before writing output — a failed no-oracle query
    // otherwise leaves no trace in outDir and "0 failures" lies (measured:
    // stream_watermark's NTZ failure hid exactly this way in round 7).
    Files.writeString(Paths.get(s"$outDir/declared.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} queries FAILED: ${failed.sorted.mkString(", ")}")
    spark.stop()
  }
}
