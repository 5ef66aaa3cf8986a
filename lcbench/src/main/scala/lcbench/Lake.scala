package lcbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.CommitLog

/** What one lake loop measured. */
final case class LakeSample(
    appendS: Seq[Double],
    appendBytes: Long,
    readAsOfS: Seq[Double],
    snapshotS: Seq[Double],
    vacuumS: Double,
    vacuumFiles: Long,
    logVersions: Long,
    checkpoints: Long,
    storeBytes: Long,
    mismatches: Seq[String],
    failures: Int,
    attempted: Int)

/** The benchmark-driven loop on one log-backed table: seeded appends with
  * one overwrite per checkpoint cycle through `FrameStoreSink`, `asOf` reads
  * of seeded earlier versions checked against the expected prefix,
  * `CommitLog.snapshotAsOf` of seeded versions, and a final `vacuum`.
  *
  * The batch pool is `lineitem` split eight ways on the order key. The
  * generator rotates keys within their domain by a seeded offset, so the
  * split sizes, and the rows a loop commits, vary with the seed. */
final class Lake(spark: SparkSession, dataDir: String) {
  import Lake._

  private val lineitem = graft.Tables.lineitem(spark, dataDir)
  private val cols: Seq[Column] = lineitem.columns.toSeq.map(col)
  private val batches: IndexedSeq[DataFrame] =
    (0 until Pool).map(k => lineitem.where(pmod(col("l_orderkey"), lit(Pool)) === k))

  private def checksum: Column =
    coalesce(sum(xxhash64(cols: _*).bitwiseAND(lit(0xffffffffL))), lit(0L))

  /** (rows, checksum) of a frame: the checksum is an order-free sum of
    * 32-bit row hashes over every column. */
  private def stats(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), checksum).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Expected (rows, checksum) of each batch, computed once in one job,
    * untimed. */
  private lazy val batchStats: IndexedSeq[(Long, Long)] = {
    val byBatch = lineitem.groupBy(pmod(col("l_orderkey"), lit(Pool)).as("k"))
      .agg(count(lit(1)), checksum).collect()
      .map(r => r.getAs[Number](0).intValue -> (r.getLong(1), r.getLong(2))).toMap
    (0 until Pool).map(byBatch.getOrElse(_, (0L, 0L)))
  }

  def prepare(): Unit = { batchStats; () }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `cycles` checkpoint cycles of commits on a fresh table under
    * `root`, with an as-of read and a snapshot after every third commit;
    * each call into the sources layer gets a span under `parent`. */
  def loop(root: String, table: String, cycles: Int, rng: scala.util.Random,
      tr: Tracer, parent: Int): LakeSample = {
    def span[A](name: String)(f: => A): A = tr(parent, name)(_ => f)
    val appendS, readS, snapS = mutable.ArrayBuffer.empty[Double]
    val expected = mutable.Map.empty[Long, (Long, Long)]
    val mismatches = mutable.ArrayBuffer.empty[String]
    var appendBytes = 0L
    var failures = 0
    var attempted = 0
    def attempt(what: String)(f: => Unit): Unit = {
      attempted += 1
      try f catch { case t: Throwable =>
        failures += 1
        System.err.println(s"[lcbench] lake $what failed: ${t.getClass.getName}: ${t.getMessage}")
      }
    }
    (0 until cycles * CommitLog.CheckpointInterval).foreach { j =>
      val k = rng.nextInt(Pool)
      val overwrite = j % CommitLog.CheckpointInterval == 0
      attempt(s"commit $j") {
        val (_, dt) = timed(span("sources.append") {
          batches(k).write.format(Sink).option("table", table).option("root", root)
            .mode(if (overwrite) "overwrite" else "append").save()
        })
        appendS += dt
        val v = CommitLog.latestVersion(root)
        val prev = if (overwrite) (0L, 0L) else expected.getOrElse(v - 1, (0L, 0L))
        expected(v) = (prev._1 + batchStats(k)._1, prev._2 + batchStats(k)._2)
        appendBytes += CommitLog.changesAt(root, v)._1
          .map(f => Files.size(Paths.get(root).resolve(f))).sum
      }
      if (j % 3 == 2) {
        val latest = expected.keys.max
        val v = 1L + rng.nextInt(latest.toInt)
        attempt(s"asOf $v") {
          val (got, dt) = timed(span("sources.readasof") {
            stats(spark.read.format(Sink).option("table", table).option("root", root)
              .option("asOf", v.toString).load())
          })
          readS += dt
          if (!expected.get(v).contains(got))
            mismatches += s"$table asOf $v: got $got, expected ${expected.get(v)}"
        }
        val sv = 1L + rng.nextInt(latest.toInt)
        attempt(s"snapshot $sv") {
          snapS += timed(span("sources.snapshot")(CommitLog.snapshotAsOf(root, sv)))._2
        }
      }
    }
    val versions = CommitLog.latestVersion(root)
    val checkpoints = listFiles(Paths.get(root, "_log"))
      .count(_.getFileName.toString.endsWith(".checkpoint.json")).toLong
    var vacuumS = 0.0
    var vacuumFiles = 0L
    attempt("vacuum") {
      val ((_, deleted), dt) = timed(span("sources.vacuum")(CommitLog.vacuum(root)))
      vacuumS = dt
      vacuumFiles = deleted
    }
    val storeBytes = listFiles(Paths.get(root)).map(Files.size).sum
    LakeSample(appendS.toSeq, appendBytes, readS.toSeq, snapS.toSeq, vacuumS,
      vacuumFiles, versions, checkpoints, storeBytes, mismatches.toSeq,
      failures + mismatches.size, attempted)
  }
}

object Lake {
  val Sink = "graft.sources.FrameStoreSink"
  val Pool = 8

  def listFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally st.close()
    }
}
