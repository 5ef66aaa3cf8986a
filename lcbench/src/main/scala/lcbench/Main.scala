package lcbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.Similarity

/** The benchmark driver. Runs one workload in one process as a closed loop
  * with one client: set-up (repeated, median reported), an untimed
  * verification pass that also warms JIT and codegen, the workload's
  * untimed warm-up passes, timed passes over the op list until `--seconds`
  * have elapsed, and a final hash re-check.
  * Writes `result.json` (and `spans.json` when traced) under `--out`.
  *
  * Usage: Main --workload W --data DIR --out DIR --seconds S --trace 0|1
  *   --seed N --cpus N
  */
object Main {
  final case class Opts(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean, seed: Long, cpus: Int)

  def parse(argv: Array[String]): Opts = {
    require(argv.length % 2 == 0, "arguments come as --key value pairs")
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("data"), get("out"), get("seconds").toDouble,
      get("trace") == "1", get("seed").toLong, get("cpus").toInt)
  }

  def main(argv: Array[String]): Unit = {
    // Exit explicitly: a streaming query or Spark thread left behind by a
    // failed op must not keep the process alive.
    val code =
      try {
        val o = parse(argv)
        val w = Workloads.byName(o.workload)
        Workloads.validate(w)
        new Run(o, w).go()
        0
      } catch { case t: Throwable => t.printStackTrace(); 1 }
    sys.exit(code)
  }
}

final case class OpRec(name: String, buildS: Double, execS: Double, ok: Boolean)
final case class PassRec(traced: Boolean, wallS: Double, ops: Seq[OpRec], lake: Option[LakeSample])

final class Run(o: Main.Opts, w: Workload) {
  /** Checkpoint cycles of the lake loop in each pass that runs it. */
  private val LakeCycles = 3
  private val queries = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql
  private val spans = new Spans
  private val setupRec, passRec = new EngineRecorder
  private val planRec = new PlanRecorder
  private val streamRec = new StreamRecorder
  private var spark: SparkSession = _
  private val failedOps = mutable.LinkedHashMap.empty[String, String]

  private def session(): SparkSession = {
    val local = s"${o.out}/spark"
    SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"lcbench-${w.name}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .getOrCreate()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Tags the jobs `f` submits with the id of span `id`. */
  private def group[A](id: Int, on: Boolean)(f: => A): A =
    if (!on) f
    else {
      spark.sparkContext.setJobGroup(s"span-$id", "lcbench")
      try f finally spark.sparkContext.clearJobGroup()
    }

  private def keepIds: Set[Int] = Similarity.warmKeepIds

  /** Bench's cache hygiene between ops: drop SQL caches and every RDD block
    * except the standing artifacts'. */
  private def dropCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => keepIds(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  /** Set-up, repeated `w.setupReps` times: from session start until every
    * standing artifact the op list needs is built. Returns the set-up times
    * and the standing IVF build times. */
  private def setup(): (Seq[Double], Seq[Double]) = {
    val ivfS = mutable.ArrayBuffer.empty[Double]
    val reps = (1 to w.setupReps).map { _ =>
      if (spark != null) {
        Similarity.clearWarm()
        spark.stop()
      }
      val t0 = System.nanoTime()
      spans(0, "setup") { sid =>
        spark = session()
        spark.sparkContext.setLogLevel("WARN")
        if (o.trace) spark.sparkContext.addSparkListener(setupRec)
        if (w.standingIvf) {
          val ta = System.nanoTime()
          spans(sid, "standing.ivf") { id =>
            group(id, o.trace)(Similarity.warmShared(spark, o.data))
          }
          ivfS += secs(ta)
        }
      }
      secs(t0)
    }
    if (o.trace) {
      org.apache.spark.LcbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(setupRec)
    }
    (reps, ivfS.toSeq)
  }

  private def hashOf(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(to_json(struct(df.columns.map(col).toIndexedSeq: _*))).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Untimed verification pass: oracle ops write their result for the
    * DuckDB compare; the others record a result hash for the re-check. */
  private def verify(): Map[String, (Long, Long)] = {
    val dir = s"${o.out}/verify"
    val hashes = mutable.LinkedHashMap.empty[String, (Long, Long)]
    w.ops.foreach { name =>
      try {
        val df = queries(name)(spark, o.data)
        if (oracle.contains(name)) df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
        else hashes(name) = hashOf(df)
      } catch { case t: Throwable =>
        failedOps(name) = s"verify pass threw ${t.getClass.getName}: ${t.getMessage}"
      }
      dropCaches()
    }
    Files.createDirectories(Paths.get(dir))
    val oracleOps = w.ops.filter(oracle.contains)
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      Json.obj(oracleOps.map(n => n -> Json.str(oracle(n)))))
    Files.writeString(Paths.get(s"$dir/declared.json"),
      oracleOps.map(Json.str).mkString("[", ",", "]"))
    hashes.toMap
  }

  private def runOp(name: String, parent: Int, tr: Tracer): OpRec = {
    var rec = OpRec(name, 0, 0, ok = false)
    tr(parent, s"op:$name") { oid =>
      try {
        val t0 = System.nanoTime()
        val df = tr(oid, "build") { id => group(id, tr ne NoTrace)(queries(name)(spark, o.data)) }
        val t1 = System.nanoTime()
        tr(oid, "exec") { id =>
          group(id, tr ne NoTrace)(df.write.format("noop").mode("overwrite").save())
        }
        rec = OpRec(name, (t1 - t0) / 1e9, secs(t1), ok = true)
      } catch { case t: Throwable =>
        failedOps.getOrElseUpdate(name, s"timed pass threw ${t.getClass.getName}: ${t.getMessage}")
      }
    }
    dropCaches()
    rec
  }

  private def runLake(lake: Lake, tag: String, cycles: Int, tr: Tracer, parent: Int): LakeSample =
    lake.loop(s"${o.out}/lake/$tag", s"lcbench_$tag", cycles,
      new scala.util.Random(o.seed * 1000003L + tag.hashCode), tr, parent)

  private def runPass(i: Int, traced: Boolean, lake: Lake): PassRec = {
    val tr: Tracer = if (traced) spans else NoTrace
    if (traced) {
      spark.sparkContext.addSparkListener(passRec)
      spark.listenerManager.register(planRec)
      spark.streams.addListener(streamRec)
    }
    val t0 = System.nanoTime()
    val (ops, ls) = tr(0, "pass") { pid =>
      val ops = w.ops.map(runOp(_, pid, tr))
      (ops, if (w.lakeInPass) Some(runLake(lake, s"p$i", LakeCycles, tr, pid)) else None)
    }
    val wall = secs(t0)
    if (traced) {
      org.apache.spark.LcbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(passRec)
      spark.listenerManager.unregister(planRec)
      spark.streams.removeListener(streamRec)
    }
    PassRec(traced, wall, ops, ls)
  }

  private def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  def go(): Unit = {
    Files.createDirectories(Paths.get(o.out))
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = { phases(name) = secs(mark); mark = System.nanoTime() }
    val (setupS, ivfS) = setup()
    phase("setup")
    val standingBytes = spark.sparkContext.getRDDStorageInfo
      .filter(i => keepIds(i.id)).map(i => i.memSize + i.diskSize).sum
    val hashes = verify()
    val lake = new Lake(spark, o.data)
    if (w.lakeInPass) lake.prepare()
    phase("verify")

    (1 to w.warmupPasses).foreach(i => runPass(-i, traced = false, lake))
    phase("warmup")

    val passes = mutable.ArrayBuffer.empty[PassRec]
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs: Long = { var s = 0L; gc.forEach(b => s += math.max(0L, b.getCollectionTime)); s }
    var tracedGcMs = 0L
    val t0 = System.nanoTime()
    // Whole passes only: another pass starts while it is expected to end
    // within the measuring time. A traced run orders its passes untraced,
    // traced, traced, untraced, so warm-up drift cancels out of the
    // tracing overhead.
    def more: Boolean = {
      val spent = secs(t0)
      passes.size < (if (o.trace) 4 else 1) || spent + spent / passes.size <= o.seconds
    }
    while (more) {
      val traced = o.trace && (passes.size % 4 == 1 || passes.size % 4 == 2)
      val g0 = gcMs
      passes += runPass(passes.size, traced, lake)
      if (traced) tracedGcMs += gcMs - g0
    }
    phase("passes")

    hashes.foreach { case (name, h) =>
      try {
        val again = hashOf(queries(name)(spark, o.data))
        if (again != h) failedOps(name) = s"result hash differs between passes: $h then $again"
      } catch { case t: Throwable =>
        failedOps(name) = s"hash re-check threw ${t.getClass.getName}: ${t.getMessage}"
      }
      dropCaches()
    }
    if (o.trace) org.apache.spark.LcbenchBus.drain(spark.sparkContext)
    phase("recheck")

    val timed = passes.filterNot(_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val loops = timed.flatMap(_.lake)
    val tracedLoops = traced.flatMap(_.lake)
    val opLat = timed.flatMap(_.ops).filter(_.ok).map(r => r.buildS + r.execS)
    val allLoops = passes.flatMap(_.lake)
    val lakeMismatch = allLoops.flatMap(_.mismatches)
    val attempted = passes.map(_.ops.size).sum + allLoops.map(_.attempted).sum
    val failed = passes.map(_.ops.count(!_.ok)).sum + allLoops.map(_.failures).sum +
      failedOps.keys.count(n => passes.forall(_.ops.find(_.name == n).forall(_.ok)))

    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    m("setup_s") = (Stats.median(setupS), "s")
    m("pass_s") = (Stats.median(timed.map(_.wallS)), "s")
    m("op_p50_s") = (Stats.median(opLat), "s")
    m("op_p90_s") = (Stats.pct(opLat, 0.9), "s")
    m("peak_rss_mb") = (vmHwmMb, "MB")

    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (o.trace) {
      val n = traced.size.toDouble
      val byId = spans.spans.map(s => s.id -> s).toMap
      val phaseOf = (g: String) => byId.get(g.stripPrefix("span-").toIntOption.getOrElse(-1)).map(_.name)
      val tracedOps = traced.flatMap(_.ops)
      val passJobs = passRec.jobs.toSeq
      layers("operators.build_s") = (tracedOps.map(_.buildS).sum / n, "s")
      layers("operators.build_jobs") = (passJobs.count(j => phaseOf(j.group).contains("build")) / n, "count")
      layers("operators.exec_s") = (tracedOps.map(_.execS).sum / n, "s")
      layers("operators.exec_jobs") = (passJobs.count(j => phaseOf(j.group).contains("exec")) / n, "count")
      Workloads.usedModules.foreach { mod =>
        layers(s"operators.$mod.s") = (tracedOps.filter(r => Workloads.moduleOf(r.name) == mod)
          .map(r => r.buildS + r.execS).sum / n, "s")
      }
      layers("plan.analysis_ms") = (planRec.analysisMs / n, "ms")
      layers("plan.optimization_ms") = (planRec.optimizationMs / n, "ms")
      layers("plan.planning_ms") = (planRec.planningMs / n, "ms")
      val wall = traced.map(_.wallS).sum
      layers("spark.jobs") = (passJobs.size / n, "count")
      layers("spark.stages") = (passRec.stages / n, "count")
      layers("spark.tasks") = (passRec.tasks / n, "count")
      layers("spark.task_run_s") = (passRec.taskRunMs / 1e3 / n, "s")
      layers("spark.task_wait_s") = (passRec.taskWaitMs / 1e3 / n, "s")
      layers("spark.task_busy_share") = (passRec.taskRunMs / 1e3 / (wall * o.cpus), "ratio")
      layers("spark.shuffle_write_bytes") = (passRec.shuffleWrite / n, "bytes")
      layers("spark.shuffle_read_bytes") = (passRec.shuffleRead / n, "bytes")
      layers("spark.spill_bytes") = (passRec.spill / n, "bytes")
      layers("spark.gc_s") = (passRec.gcMs / 1e3 / n, "s")
      layers("spark.failed_tasks") = (passRec.failedTasks / n, "count")
      layers("sources.scan_rows") = (passRec.inputRows / n, "rows")
      layers("sources.scan_bytes") = (passRec.inputBytes / n, "bytes")
      // Lake metrics are per loop; 0 on workloads without the lake loop.
      val ln = math.max(1, tracedLoops.size).toDouble
      def perLoop(f: LakeSample => Double): Double = tracedLoops.map(f).sum / ln
      layers("lake.append_p50_s") = (Stats.median(tracedLoops.flatMap(_.appendS)), "s")
      layers("lake.asof_read_p50_s") = (Stats.median(tracedLoops.flatMap(_.readAsOfS)), "s")
      layers("lake.store_bytes_ratio") =
        (perLoop(l => l.storeBytes.toDouble / math.max(1L, l.appendBytes)), "ratio")
      layers("sources.append_s") = (perLoop(_.appendS.sum), "s")
      layers("sources.append_bytes") = (perLoop(_.appendBytes.toDouble), "bytes")
      layers("sources.readasof_s") = (perLoop(_.readAsOfS.sum), "s")
      layers("sources.snapshot_s") = (perLoop(_.snapshotS.sum), "s")
      layers("sources.log_versions") = (perLoop(_.logVersions.toDouble), "count")
      layers("sources.checkpoints") = (perLoop(_.checkpoints.toDouble), "count")
      layers("sources.vacuum_s") = (perLoop(_.vacuumS), "s")
      layers("sources.vacuum_files") = (perLoop(_.vacuumFiles.toDouble), "count")
      layers("sources.store_bytes") = (perLoop(_.storeBytes.toDouble), "bytes")
      layers("standing.ivf_s") = (Stats.median(ivfS), "s")
      val standingSpans = spans.spans.filter(_.name.startsWith("standing.")).map(_.id).toSet
      layers("standing.jobs") = (setupRec.jobs.count(j =>
        j.group.stripPrefix("span-").toIntOption.exists(standingSpans)) / w.setupReps.toDouble, "count")
      layers("standing.cached_bytes") = (standingBytes.toDouble, "bytes")
      layers("streaming.queries") = (streamRec.queries / n, "count")
      layers("streaming.batches") = (streamRec.batchMs.size / n, "count")
      layers("streaming.batch_p50_ms") = (Stats.median(streamRec.batchMs.map(_.toDouble).toSeq), "ms")
      layers("streaming.input_rows") = (streamRec.inputRows / n, "rows")
      layers("streaming.state_rows") = (streamRec.stateRowsTotal / n, "rows")
      layers("jvm.gc_s") = (tracedGcMs / 1e3 / n, "s")
      layers("jvm.heap_after_gc_mb") = {
        import scala.jdk.CollectionConverters._
        (java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0, "MB")
      }
      layers("trace.overhead_s") =
        (Stats.median(traced.map(_.wallS)) - Stats.median(timed.map(_.wallS)), "s")

      // Spark jobs become spans under the phase span whose group ran them.
      (setupRec.jobs ++ passJobs).foreach { j =>
        j.group.stripPrefix("span-").toIntOption.filter(byId.contains)
          .foreach(p => spans.add(p, "spark.job", j.start, j.end))
      }
      val self = spans.selfMs
      Files.writeString(Paths.get(s"${o.out}/spans.json"), spans.spans.map { s =>
        Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
          "name" -> Json.str(s.name), "start_ms" -> Json.num(s.start),
          "end_ms" -> Json.num(s.end), "self_ms" -> Json.num(self(s.id))))
      }.mkString("[\n", ",\n", "\n]"))
    }

    val detail = Seq(
      "workload" -> Json.str(w.name),
      "phase_s" -> Json.obj(phases.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "cpus" -> o.cpus.toString,
      "shuffle_partitions" -> o.cpus.toString,
      "passes" -> timed.size.toString,
      "traced_passes" -> traced.size.toString,
      "pass_s" -> Json.arr(timed.map(_.wallS)),
      "traced_pass_s" -> Json.arr(traced.map(_.wallS)),
      "setup_s" -> Json.arr(setupS),
      "op_samples" -> opLat.size.toString,
      "op_q1_s" -> Json.num(Stats.pct(opLat, 0.25)),
      "op_q3_s" -> Json.num(Stats.pct(opLat, 0.75)),
      "op_beyond_p90" -> opLat.count(_ > Stats.pct(opLat, 0.9)).toString,
      "append_p50_s" -> Json.num(Stats.median(loops.flatMap(_.appendS))),
      "asof_read_p50_s" -> Json.num(Stats.median(loops.flatMap(_.readAsOfS))),
      "store_bytes_ratio" -> Json.arr(loops.map(l => l.storeBytes.toDouble / math.max(1L, l.appendBytes))),
      "append_samples" -> loops.map(_.appendS.size).sum.toString,
      "asof_samples" -> loops.map(_.readAsOfS.size).sum.toString,
      "op_median_s" -> Json.obj(w.ops.map { n =>
        n -> Json.num(Stats.median(timed.flatMap(_.ops).filter(r => r.name == n && r.ok).map(r => r.buildS + r.execS)))
      }),
      "lake_mismatches" -> lakeMismatch.map(Json.str).mkString("[", ",", "]"),
      "failed_ops" -> Json.obj(failedOps.toSeq.map { case (k, v) => k -> Json.str(v) }))
    def metrics(mm: Iterable[(String, (Double, String))]) = Json.obj(mm.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    Files.writeString(Paths.get(s"${o.out}/result.json"), Json.obj(Seq(
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> metrics(m), "layers" -> metrics(layers),
      "detail" -> Json.obj(detail))))
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** Linear interpolation between closest ranks; 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = q * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
