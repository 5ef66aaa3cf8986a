package graft.operators

import graft.Rnd.rnd
import graft.{QDef, Standing, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** §2.9 [EXT] Deduplication family: exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, embedding-cosine near-dup (the last lives in
  * [[Similarity]]'s machinery — `dedup_embed`).
  *
  * All signatures are pure integer arithmetic over a deterministic token
  * dictionary (dense ids from sorted distinct tokens), NOT engine hash
  * functions — Spark's `hash()` and DuckDB's `hash()` differ, arithmetic
  * doesn't (SURVEY §2.9).
  *
  * Scale notes (100 TB):
  *  - `dedup_exact` is a hash groupBy on a computed key — one shuffle,
  *    map-side partial counts.
  *  - `dedup_minhash` is the linear-shuffle LSH shape: shingle via broadcast
  *    dict join + lead window → 6 min-aggregates per doc (reusing the
  *    window's doc_id partitioning — no extra shuffle) → band bucket-groupBy
  *    on signature equality (shuffle on tiny band keys). Never O(n²) in
  *    docs; candidate pairs only where a band collides.
  *  - `dedup_simhash` is a single aggregation per doc (8 conditional sums);
  *    near-dup clusters then group on the 8-bit signature.
  *  - `dedup_ngram` (exact pairwise Jaccard) runs over the LSH candidate
  *    pairs — the exact precision pass AFTER the LSH recall pass, never on
  *    the full corpus.
  */
object Dedup {

  private val P = 2147483647L // 2^31 - 1
  private val V = 1024L       // token-id radix (vocab << 1024)

  /** dedup_suffix's class-rank + sparse-prune pass, one doubling round.
    *
    * Shape matters more than anywhere else in the family: the class key is
    * Zipf-distributed (round 0 partitions by the raw token), so the rank
    * MUST come from a partial-aggregating groupBy — min(gid)/count combine
    * map-side and only the (small) class table shuffles — and survival
    * (cn >= 2, the sparse-doubling prune) filters the CLASS table before
    * the join-back, so singleton classes never ship. The join-back is a
    * plain equi-join on the class key: AQE skew-splits it (and broadcasts
    * the class table outright when it is vocabulary-sized). The obvious
    * fused alternative — min/count over Window.partitionBy(class) — is a
    * single-reducer-per-class shuffle of every POSITION and melts on the
    * head token at 100 TB. Package-visible so PlanShapeSpec can pin the
    * partial aggregation (checkpoints truncate it out of the final plan).
    */
  /** The class table for one doubling round: representative (min gid),
    * size, and doc-span (min/max doc_id — the level stats ride along in
    * the SAME partial aggregation, so the position frame is never
    * re-aggregated for stats), singleton classes dropped (the sparse
    * prune). "cls_rk", not "rk": in rounds >= 1 the class key itself is
    * (rk, rk2), so the representative needs a collision-free name. */
  private[graft] def suffixClasses(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min("gid").as("cls_rk"), count(lit(1)).as("cn"),
        min("doc_id").as("d0"), max("doc_id").as("d1"))
      .where(col("cn") >= 2L)

  /** Join the class table back onto the position frame: surviving
    * positions pick up their class rank; singletons (absent from cls)
    * exit. A plain equi-join on the class key — AQE skew-splits it, and
    * broadcasts cls outright when it is vocabulary-sized. */
  private[graft] def suffixPrune(df: DataFrame, cls: DataFrame,
      keys: Seq[String]): DataFrame =
    df.join(cls.select((keys.map(col) :+ col("cls_rk")): _*), keys)
      .select(col("doc_id"), col("pos"), col("gid"), col("cls_rk").as("rk"))

  /** (doc_id, pos, tok) long form. */
  private def tok(s: SparkSession, dir: String): DataFrame =
    T.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1L).cast("long").as("pos"), col("tok"))

  /** dedup_suffix's oracle: the same sparse prefix doubling unrolled to
    * MATERIALIZED CTEs (the kcore/pagerank round-unroll discipline —
    * n<i>/k<i>/l<i> mirror the Spark round's pair/class/pruned frames
    * exactly; min-gid representatives make every intermediate a
    * deterministic integer, so the two engines agree bit-for-bit). */
  private def suffixOracleSql: String = {
    val stride = graft.GraftConfig.SuffixGidStride
    val rounds = graft.GraftConfig.SuffixDoublings
    val sb = new StringBuilder
    sb ++= s"""WITH tokp AS MATERIALIZED (
              |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
              |    generate_subscripts(string_split(text, ' '), 1) AS pos
              |  FROM documents),
              |p0 AS MATERIALIZED (
              |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
              |    doc_id * $stride + pos AS gid, tok FROM tokp),
              |c0 AS MATERIALIZED (
              |  SELECT tok, min(gid) AS rk, count(*) AS n,
              |    min(doc_id) AS d0, max(doc_id) AS d1
              |  FROM p0 GROUP BY tok),
              |l0 AS MATERIALIZED (
              |  SELECT p0.doc_id, p0.pos, p0.gid, c0.rk
              |  FROM p0 JOIN c0 USING (tok) WHERE c0.n >= 2)""".stripMargin
    var len = 1L
    (1 to rounds).foreach { i =>
      sb ++= s""",
                |n$i AS MATERIALIZED (
                |  SELECT a.doc_id, a.pos, a.gid, a.rk AS r1, b.rk AS r2
                |  FROM l${i - 1} a JOIN l${i - 1} b
                |    ON a.doc_id = b.doc_id AND b.pos = a.pos + $len),
                |k$i AS MATERIALIZED (
                |  SELECT r1, r2, min(gid) AS nrk, count(*) AS n,
                |    min(doc_id) AS d0, max(doc_id) AS d1
                |  FROM n$i GROUP BY r1, r2),
                |l$i AS MATERIALIZED (
                |  SELECT n$i.doc_id, n$i.pos, n$i.gid, k$i.nrk AS rk
                |  FROM n$i JOIN k$i USING (r1, r2) WHERE k$i.n >= 2)""".stripMargin
      len *= 2
    }
    def lvl(cls: String, l: Long): String =
      s"""SELECT CAST($l AS BIGINT) AS span_len,
         |  CAST(coalesce(sum(n), 0) AS BIGINT) AS n_dup_pos,
         |  count(*) AS n_classes,
         |  CAST(coalesce(max(n), 0) AS BIGINT) AS max_occ
         |FROM $cls WHERE d0 <> d1""".stripMargin
    val levels = lvl("c0", 1L) +: (1 to rounds).map(i => lvl(s"k$i", 1L << i))
    sb ++= "\n" + levels.mkString("\nUNION ALL\n") + "\nORDER BY span_len"
    sb.toString
  }

  /** Deterministic dense token dictionary: tok_id = rank in the sorted
    * distinct vocab (≡ `row_number() OVER (ORDER BY tok)`), built FULLY
    * DISTRIBUTED and FULLY LAZY: distinct → range-repartition by tok →
    * per-range-partition local rank (window on the partition id — range
    * partitions are ordered, so partition i's tokens all precede partition
    * i+1's) + a broadcast cumulative-offset table (≤ #partitions rows).
    * global rank = offset(pid) + local rank. No single task ever holds the
    * whole vocabulary — unlike a global-window row_number (one-task sort)
    * or a collect_set fold (one giant array row), both of which cap out at
    * real vocab sizes. Ids are partitioning-invariant (they depend only on
    * the global sort order, DeterminismSpec's 1-vs-7 run verifies), and —
    * unlike the RDD zipWithIndex form this replaces — nothing executes at
    * plan-construction time and nothing runs twice (ZippedWithIndexRDD
    * computes its start offsets with an EAGER sc.runJob in its
    * constructor, and the unpersisted prefix then re-ran for the real
    * action). */
  def dict(t: DataFrame): DataFrame = {
    val ranged = t.select(col("tok")).distinct()
      .repartitionByRange(col("tok"))
      .withColumn("pid", spark_partition_id())
    val local = ranged.withColumn("local_rn",
      row_number().over(Window.partitionBy("pid").orderBy("tok")))
    // ≤ #shuffle-partitions rows: cumulative count of all lower partitions.
    val offsets = ranged.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        coalesce(sum(col("cnt")).over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), "pid")
      .select(col("tok"), (col("offset") + col("local_rn")).cast("long").as("tok_id"))
  }

  private val tokSql =
    """SELECT doc_id,
      |  unnest(string_split(text, ' ')) AS tok,
      |  generate_subscripts(string_split(text, ' '), 1) AS pos
      |FROM documents""".stripMargin

  private val dictSql =
    """SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS tok_id
      |FROM (SELECT DISTINCT tok FROM tok)""".stripMargin

  /** 3-token shingle value from dict ids: ((id1*V)+id2)*V+id3.
    *
    * Built on the broadcast dict-TABLE join (the same idiom as
    * `dedup_simhash` and `text_fingerprint`): (doc_id, pos, tok) rows hit the
    * dictionary through a BroadcastHashJoin — an O(1) hash probe per token —
    * then `lead()` over (doc_id ORDER BY pos) assembles each 3-shingle.
    * One broadcast join + ONE shuffle (the window's hash-partitioning on
    * doc_id, which the downstream per-doc minhash aggregation reuses, so the
    * whole minhash pipeline still shuffles the corpus exactly once).
    *
    * This replaces a fold-the-vocab-into-a-map-column variant: `element_at`
    * on a MapType is a linear key scan — O(tokens × vocab) total — and the
    * single map row itself becomes multi-GB at real vocabulary sizes. The
    * broadcast join is a hash lookup and the dict stays a table: linear at
    * any scale. */
  private def shingles(s: SparkSession, dir: String): DataFrame = {
    val t = tok(s, dir)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    t.join(broadcast(dict(t)), "tok")
      .select(col("doc_id"), col("pos"), col("tok_id").as("id1"))
      .withColumn("id2", lead(col("id1"), 1).over(w))
      .withColumn("id3", lead(col("id1"), 2).over(w))
      .where(col("id3").isNotNull)
      .select(col("doc_id"),
        ((col("id1") * V + col("id2")) * V + col("id3")).as("s"))
  }

  private val shingleSql =
    s"""SELECT t1.doc_id,
       |  ((d1.tok_id * $V + d2.tok_id) * $V + d3.tok_id) AS s
       |FROM tok t1
       |JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
       |JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
       |JOIN dict d1 ON d1.tok = t1.tok
       |JOIN dict d2 ON d2.tok = t2.tok
       |JOIN dict d3 ON d3.tok = t3.tok""".stripMargin

  /** LSH banding knobs — centralized in [[graft.GraftConfig]] (with the
    * recall/cost story); aliased here so the signature pipeline and its
    * oracle CTE generator read naturally. */
  private val Bands = graft.GraftConfig.LshBands
  private val RowsPerBand = graft.GraftConfig.LshRowsPerBand
  private val MinHashes = Bands * RowsPerBand

  /** Fixpoint round budget — see [[graft.GraftConfig.MaxCcRounds]]. */
  private val MaxCcRounds = graft.GraftConfig.MaxCcRounds

  // Fixed universal-hash parameter pairs (a, b) for h_i(s) = (a*s+b) % P.
  private val hashParams = Seq(
    (1103515245L, 12345L), (69069L, 362437L), (1664525L, 1013904223L),
    (22695477L, 1L), (134775813L, 2531011L), (214013L, 2531011L))

  private def minhashAgg(i: Int): Column = {
    val (a, b) = hashParams(i)
    min((col("s") * a + b) % P).as(s"h$i")
  }

  private def minhashAggSql(i: Int): String = {
    val (a, b) = hashParams(i)
    s"min((s * $a + $b) % $P) AS h$i"
  }

  /** Per-doc LSH band rows (doc_id, band, sig_a, sig_b) — the signature
    * half of the LSH pipeline, shared by the batch self-join candidate
    * generation ([[candidatePairs]]) and the delta-vs-base probe
    * (`dedup_incremental`). Band rows come from a single explode over the
    * signature row — the signature pipeline runs ONCE and fans out to
    * `Bands` band rows per doc in the same stage (a union of projections
    * would recompute the pipeline per band, or need a cache to avoid it). */
  private def bandRows(s: SparkSession, dir: String): DataFrame = {
    val sig = shingles(s, dir).groupBy("doc_id")
      .agg(minhashAgg(0), (1 until MinHashes).map(minhashAgg): _*)
    sig
      .select(col("doc_id"), explode(array((0 until Bands).map { i =>
        struct(lit(i).cast("long").as("band"),
          col(s"h${2 * i}").as("sig_a"), col(s"h${2 * i + 1}").as("sig_b"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.sig_a").as("sig_a"), col("b.sig_b").as("sig_b"))
  }

  /** (doc_id, pos, tok) long form for an arbitrary documents frame — the
    * delta-side tokenizer of the streaming index appender (same shape as
    * the corpus [[tok]], parameterized by the frame instead of the dir). */
  private[graft] def tokOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1L).cast("long").as("pos"), col("tok"))

  /** The FROZEN-VOCABULARY dictionary — the dedup analogue of the ANN
    * family's frozen quantizer: the streaming index appender fits the
    * token dictionary ONCE on the day-0 corpus snapshot, persists it, and
    * every later batch signs its arrivals against that frozen vocab (a
    * dictionary re-ranked per batch would silently re-sign the whole
    * standing index — the refit, not the append, re-fits vocabulary).
    *
    * FREQUENCY-RANKED, not alphabetical: tok_id = rank by (document
    * frequency DESC, tok) over the FIT SLICE — the id assignment every
    * real tokenizer ships (frequent tokens get small ids), and the
    * honest reason the freeze matters: ids depend on corpus-wide
    * statistics, so they MOVE whenever the corpus grows, even with a
    * closed vocabulary — day-1 arrivals shift relative frequencies and
    * the refit's re-rank re-signs the index observably. Built with the
    * same fully-distributed range-rank machinery as [[dict]] (range
    * partitions ordered by the TOTAL key (df DESC, tok), per-partition
    * local ranks, broadcast cumulative offsets — no single-task vocab). */
  private[graft] def dictFreqOf(docs: DataFrame): DataFrame = {
    val dfT = tokOf(docs).select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val ranged = dfT.repartitionByRange(col("df").desc, col("tok"))
      .withColumn("pid", spark_partition_id())
    val local = ranged.withColumn("local_rn",
      row_number().over(Window.partitionBy("pid")
        .orderBy(col("df").desc, col("tok"))))
    val offsets = ranged.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        coalesce(sum(col("cnt")).over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), "pid")
      .select(col("tok"),
        (col("offset") + col("local_rn")).cast("long").as("tok_id"))
  }

  /** The df-ranked dict CTE body for the frozen-vocabulary oracles:
    * ranks the tokens of the docs matching `fitFilter`. */
  private def dictFreqSql(fitFilter: String): String =
    s"""SELECT tok, CAST(row_number() OVER (ORDER BY df DESC, tok) AS BIGINT) AS tok_id
       |  FROM (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |        FROM tok WHERE $fitFilter GROUP BY tok)""".stripMargin

  /** Band rows for `docs` against a FROZEN dictionary table. A shingle
    * survives iff ALL THREE of its consecutive tokens are in the frozen
    * vocab (the dict join is left + three-way null gate, so an unseen
    * token drops the shingles CONTAINING it without splicing its
    * neighbors together — position adjacency is preserved, matching the
    * oracle's positional three-way dict join); tokens unseen at freeze
    * time are exactly the vectors-outside-the-fitted-geometry case of the
    * ANN appender, re-ranked only by a refit. */
  private[graft] def bandRowsFrozen(docs: DataFrame, dictDf: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val sh = tokOf(docs)
      .join(broadcast(dictDf), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"), col("tok_id").as("id1"))
      .withColumn("id2", lead(col("id1"), 1).over(w))
      .withColumn("id3", lead(col("id1"), 2).over(w))
      .where(col("id1").isNotNull && col("id2").isNotNull &&
        col("id3").isNotNull)
      .select(col("doc_id"),
        ((col("id1") * V + col("id2")) * V + col("id3")).as("s"))
    val sig = sh.groupBy("doc_id")
      .agg(minhashAgg(0), (1 until MinHashes).map(minhashAgg): _*)
    sig
      .select(col("doc_id"), explode(array((0 until Bands).map { i =>
        struct(lit(i).cast("long").as("band"),
          col(s"h${2 * i}").as("sig_a"), col(s"h${2 * i + 1}").as("sig_b"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.sig_a").as("sig_a"), col("b.sig_b").as("sig_b"))
  }

  private val StandingBands = "dedup.bands"
  private val StandingShingles = "dedup.shingles"
  private val StandingClusters = "dedup.clusters"

  /** Query names that consume a shared frame — harnesses warm only when one
    * of these is selected. */
  val sharedFamily: Set[String] = Set("dedup_minhash", "dedup_cluster",
    "dedup_keep", "dedup_ngram", "dedup_incremental", "dedup_index_probe",
    "dedup_index_maintain", "dedup_containment", "dedup_tuning",
    "dedup_source_overlap", "dedup_autotune")

  /** Build the [[graft.Standing]] LSH band index, distinct shingle set and
    * cluster assignment (checkpointed) for (s, dir). Warm order matters —
    * bands first, so the cluster fixpoint itself rides the warm band
    * frame. */
  def warmShared(s: SparkSession, dir: String): Unit = {
    Standing(StandingBands, s, dir)(bandRows(s, dir).localCheckpoint())
    Standing(StandingShingles, s, dir)(
      shingles(s, dir).distinct().localCheckpoint())
    Standing(StandingClusters, s, dir)(clusters(s, dir).localCheckpoint())
  }

  private def warmShingles(s: SparkSession, dir: String): Option[DataFrame] =
    Standing.get[DataFrame](StandingShingles, s, dir)

  private def sharedBands(s: SparkSession, dir: String): DataFrame =
    Standing.get[DataFrame](StandingBands, s, dir)
      .getOrElse(bandRows(s, dir))

  /** Like [[sharedBands]] but checkpointed on the cold path too — for
    * `dedup_incremental`, whose two probe branches must share one
    * signature pass even cold. */
  private def sharedBandsCk(s: SparkSession, dir: String): DataFrame =
    Standing.get[DataFrame](StandingBands, s, dir)
      .getOrElse(bandRows(s, dir).localCheckpoint())

  private def sharedClusters(s: SparkSession, dir: String): DataFrame =
    Standing.get[DataFrame](StandingClusters, s, dir)
      .getOrElse(clusters(s, dir))

  /** MinHash+LSH candidate pairs (d1 < d2) — the shared front half of
    * `dedup_minhash` (which emits the pairs) and `dedup_cluster` (which
    * connects them into components). */
  private def candidatePairs(s: SparkSession, dir: String): DataFrame = {
    val bands = sharedBands(s, dir)
    // Bucket-grouping LSH candidate generation: ONE shuffle on the band
    // key (vs two join sides + sort), then in-bucket pair expansion from
    // the sorted doc list — output is quadratic only in per-bucket
    // population, which r=2 banding keeps small at any corpus size.
    val buckets = bands.groupBy("band", "sig_a", "sig_b")
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .where(size(col("ds")) >= 2)
    buckets
      .select(explode(flatten(transform(col("ds"), (d1, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))),
          d2 => struct(d1.as("d1"), d2.as("d2")))))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()
  }

  /** Oracle CTE prefix ending in the `bands` table — the SQL counterpart
    * of [[bandRows]], shared by [[candidatePairsSql]] and
    * `dedup_incremental`'s delta-vs-base probe. */
  private val bandsSql =
    s"""WITH tok AS ($tokSql),
       |dict AS ($dictSql),
       |sh AS ($shingleSql),
       |sig AS (
       |  SELECT doc_id, ${(0 until MinHashes).map(minhashAggSql).mkString(", ")}
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  ${(0 until Bands).map(i =>
            s"SELECT doc_id, CAST($i AS BIGINT) AS band, h${2 * i} AS sig_a, h${2 * i + 1} AS sig_b FROM sig")
            .mkString("\n  UNION ALL\n  ")})""".stripMargin

  private val candidatePairsSql =
    s"""$bandsSql,
       |pairs AS (
       |  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.sig_a = r.sig_a AND l.sig_b = r.sig_b
       |    AND l.doc_id < r.doc_id)""".stripMargin

  /** Connected components over the LSH candidate-pair graph via min-label
    * propagation ITERATED TO FIXPOINT → (doc_id, cluster_id =
    * component-minimum doc id). Shared by `dedup_cluster` (which emits it)
    * and `dedup_keep` (which anti-joins the corpus against the
    * non-canonical members).
    *
    * Per round: labels ⋈ edges equi-join + partial-aggregating min —
    * shuffle volume O(edges), components never materialized. Iteration
    * stops when a round changes zero labels (the changed-count action reads
    * the already-checkpointed round output, so it adds no recompute), and
    * raises if `MaxCcRounds` is exceeded — unconverged labels are a
    * correctness bug, not a degraded answer. The per-round
    * `localCheckpoint` truncates the exponentially-inlining lineage (a
    * plain cache still inlines the whole LSH subtree into each round's
    * logical plan — optimizer time dominated, measured 8 s of a 51-row
    * query); production CC on a cluster uses reliable checkpoint() to also
    * drop executor-failure recompute chains. */
  private def clusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = candidatePairs(s, dir)
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .unionAll(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0L && rounds < MaxCcRounds) {
      // Neighbor-min then pointer-jump (lbl ← lbl(lbl)): the jump doubles
      // the distance a label travels per round, so convergence is
      // O(log diameter) instead of O(diameter) — the same label-graph
      // contraction idea as large-star/small-star, kept as two equi-joins.
      val l1 = edges
        .join(labels.select(col("v").as("dst"), col("lbl").as("nlbl")), "dst")
        .groupBy(col("src").as("v"))
        .agg(min(col("nlbl")).as("nmin"))
        .join(labels, "v")
        .select(col("v"), col("lbl").as("prev"),
          least(col("lbl"), col("nmin")).as("lbl"))
      val next = l1
        .join(l1.select(col("v").as("lbl"), col("lbl").as("jlbl")), "lbl")
        .select(col("v"), col("prev"), col("jlbl").as("lbl"))
        .localCheckpoint()
      changed = next.where(col("lbl") =!= col("prev")).count()
      labels = next.select("v", "lbl")
      rounds += 1
    }
    require(changed == 0L,
      s"connected components did not reach fixpoint within $MaxCcRounds rounds")
    labels.select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** The same fixpoint as a recursive reachability CTE: `reach` carries
    * every (node, label-that-reaches-it) pair — DuckDB's semi-naive
    * UNION-dedup evaluation iterates until nothing new, so `min(lbl)` per
    * node IS the component minimum, with no unrolled round count to keep in
    * sync with the Spark side. Ends in a `clusters` CTE. */
  private val clustersSql: String = {
    val rec = candidatePairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$rec,
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM pairs
       |  UNION ALL
       |  SELECT d2 AS src, d1 AS dst FROM pairs),
       |reach(v, lbl) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.v),
       |clusters AS (
       |  SELECT v AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY v)""".stripMargin
  }

  val defs: Seq[QDef] = Seq(

    // Exact dedup on a normalized key (first-5-token prefix — the fixtures
    // have no byte-identical texts, SURVEY fixture note).
    QDef(
      "dedup_exact",
      (s, dir) =>
        T.documents(s, dir)
          .withColumn("norm", array_join(slice(split(col("text"), " "), 1, 5), " "))
          .groupBy("norm")
          .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc"))
          .orderBy("norm"),
      Some("""SELECT norm, count(*) AS n_docs, min(doc_id) AS keep_doc
             |FROM (SELECT doc_id,
             |        array_to_string(string_split(text, ' ')[1:5], ' ') AS norm
             |      FROM documents)
             |GROUP BY norm ORDER BY norm""".stripMargin)),

    // URL-CANONICALIZATION dedup — the standard first pass of web-crawl
    // curation (CCNet/RefinedWeb-style): the same page arrives under
    // case-varied hosts, default ports, trailing slashes, tracking
    // parameters, and fragments; canonicalize, THEN exact-dup on the
    // canonical form. The fixture synthesizes six deterministic URL
    // variants per document sextet (the documents table carries no URL —
    // same synthesis discipline as every fixture-derived column); the
    // canonicalizer is a pure string-expression chain (lowercased
    // scheme+host, :443 stripped, fragment dropped, utm_* params
    // filtered at the PARAMETER level so real params like ?page=2
    // survive, trailing slash trimmed) that runs codegen'd — no UDF —
    // and identically in DuckDB (substr-based prefix test; LIKE would
    // wildcard the underscore). Output: per-source URL/canonical/dupe
    // counts. At 100 TB this is a map-side expression + one groupBy on
    // the canonical key — the cheapest dedup pass there is, which is why
    // production pipelines run it before any MinHash.
    QDef(
      "dedup_url",
      (s, dir) => {
        val urlExpr =
          """CASE CAST(doc_id % 6 AS INT)
            |  WHEN 0 THEN concat('https://site', (doc_id div 6) % 7, '.example.com/d/', doc_id div 6)
            |  WHEN 1 THEN concat('HTTPS://SITE', (doc_id div 6) % 7, '.EXAMPLE.COM/d/', doc_id div 6)
            |  WHEN 2 THEN concat('https://site', (doc_id div 6) % 7, '.example.com/d/', doc_id div 6,
            |                     '?utm_source=news&utm_medium=email')
            |  WHEN 3 THEN concat('https://site', (doc_id div 6) % 7, '.example.com/d/', doc_id div 6, '/')
            |  WHEN 4 THEN concat('https://site', (doc_id div 6) % 7, '.example.com:443/d/', doc_id div 6)
            |  ELSE concat('https://site', (doc_id div 6) % 7, '.example.com/d/', doc_id div 6,
            |              '?page=2#frag')
            |END""".stripMargin
        val canonExpr =
          """concat(
            |  lower(regexp_extract(url, '^([A-Za-z]+)://', 1)), '://',
            |  regexp_replace(
            |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
            |    ':443$', ''),
            |  regexp_replace(
            |    regexp_extract(regexp_replace(url, '#.*$', ''),
            |      '^[A-Za-z]+://[^/?#]+([^?]*)', 1),
            |    '/$', ''),
            |  CASE WHEN array_join(
            |      filter(split(regexp_extract(regexp_replace(url, '#.*$', ''),
            |        '[?](.*)$', 1), '&'),
            |        p -> substr(p, 1, 4) != 'utm_'), '&') != ''
            |    THEN concat('?', array_join(
            |      filter(split(regexp_extract(regexp_replace(url, '#.*$', ''),
            |        '[?](.*)$', 1), '&'),
            |        p -> substr(p, 1, 4) != 'utm_'), '&'))
            |    ELSE '' END)""".stripMargin
        T.documents(s, dir)
          .withColumn("url", expr(urlExpr))
          .withColumn("canon", expr(canonExpr))
          .groupBy("canon")
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("cnt").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"),
            sum("cnt").cast("long").as("n_urls"))
          .orderBy("cluster_size")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |    CASE CAST(doc_id % 6 AS INT)
             |      WHEN 0 THEN concat('https://site', (doc_id // 6) % 7, '.example.com/d/', doc_id // 6)
             |      WHEN 1 THEN concat('HTTPS://SITE', (doc_id // 6) % 7, '.EXAMPLE.COM/d/', doc_id // 6)
             |      WHEN 2 THEN concat('https://site', (doc_id // 6) % 7, '.example.com/d/', doc_id // 6,
             |                         '?utm_source=news&utm_medium=email')
             |      WHEN 3 THEN concat('https://site', (doc_id // 6) % 7, '.example.com/d/', doc_id // 6, '/')
             |      WHEN 4 THEN concat('https://site', (doc_id // 6) % 7, '.example.com:443/d/', doc_id // 6)
             |      ELSE concat('https://site', (doc_id // 6) % 7, '.example.com/d/', doc_id // 6,
             |                  '?page=2#frag')
             |    END AS url
             |  FROM documents),
             |c AS (
             |  SELECT concat(
             |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)), '://',
             |    regexp_replace(
             |      lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
             |      ':443$', ''),
             |    regexp_replace(
             |      regexp_extract(regexp_replace(url, '#.*$', ''),
             |        '^[A-Za-z]+://[^/?#]+([^?]*)', 1),
             |      '/$', ''),
             |    CASE WHEN array_to_string(
             |        list_filter(string_split(regexp_extract(
             |          regexp_replace(url, '#.*$', ''), '[?](.*)$', 1), '&'),
             |          p -> substr(p, 1, 4) != 'utm_'), '&') != ''
             |      THEN concat('?', array_to_string(
             |        list_filter(string_split(regexp_extract(
             |          regexp_replace(url, '#.*$', ''), '[?](.*)$', 1), '&'),
             |          p -> substr(p, 1, 4) != 'utm_'), '&'))
             |      ELSE '' END) AS canon
             |  FROM u),
             |g AS (SELECT canon, count(*) AS cnt FROM c GROUP BY canon)
             |SELECT cnt AS cluster_size, count(*) AS n_clusters,
             |  CAST(sum(cnt) AS BIGINT) AS n_urls
             |FROM g GROUP BY cnt ORDER BY cluster_size""".stripMargin)),

    // MinHash + LSH: 6 minhashes per doc, 3 bands × 2 rows → candidate
    // pairs where BOTH hashes of some band collide (r=2 keeps per-band
    // bucket populations small, so the band self-join stays linear — r=1
    // banding clusters on the corpus-global minimum shingle and blows up
    // quadratically).
    QDef(
      "dedup_minhash",
      (s, dir) => candidatePairs(s, dir).orderBy("d1", "d2"),
      Some(s"""$candidatePairsSql
              |SELECT d1, d2 FROM pairs ORDER BY d1, d2""".stripMargin)),

    // Near-dup clustering: connected components over the LSH candidate-pair
    // graph via min-label propagation ITERATED TO FIXPOINT — the step that
    // turns pair lists into per-document cluster ids (keep doc = cluster
    // min). label(v) ← min(label(v), min over neighbors' labels) until a
    // round changes nothing; pure integer arithmetic. The oracle expresses
    // the same fixpoint as a recursive reachability CTE (min label over
    // the reachable set), so neither side carries a round count that could
    // drift from the other.
    //
    // Scale: per iteration one equi-join of labels to edges (both keyed by
    // doc id) + one partial-aggregating min — shuffle volume is O(edges),
    // never materializes components; the edge list itself is the (already
    // linear) LSH candidate output, not the corpus. Round count is bounded
    // by component diameter (asserted ≤ MaxCcRounds); production cuts it to
    // O(log d) with large-star/small-star contraction on the same joins.
    QDef(
      "dedup_cluster",
      (s, dir) => sharedClusters(s, dir).orderBy("doc_id"),
      Some(s"""$clustersSql
              |SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id""".stripMargin)),

    // Dedup keep-list: the family's end product — one canonical document per
    // near-dup cluster (the cluster minimum) plus every unclustered doc.
    // Anti-join of the corpus against the non-canonical cluster members:
    // one broadcast/shuffled anti join over the (tiny relative to corpus)
    // cluster table; the corpus itself is scanned once, never paired.
    QDef(
      "dedup_keep",
      (s, dir) => {
        val drop = sharedClusters(s, dir).where(col("doc_id") =!= col("cluster_id"))
        T.documents(s, dir)
          .join(drop.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some(s"""$clustersSql
              |SELECT doc_id, lang, n_chars FROM documents
              |WHERE doc_id NOT IN (
              |  SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
              |ORDER BY doc_id""".stripMargin)),

    // SimHash: 8-bit signature from per-token hashes h = (tok_id * KNUTH)
    // % 2^16; bit j weight = Σ ±1; signature bit j set iff weight > 0.
    QDef(
      "dedup_simhash",
      (s, dir) => {
        val t = tok(s, dir)
        val d = dict(t)
        val h = t.join(broadcast(d), "tok")
          .withColumn("h", (col("tok_id") * 2654435761L) % 65536L)
        val weightCols = (0 until 8).map { j =>
          sum(when(shiftright(col("h"), j) % 2L === 1L, 1L).otherwise(-1L)).as(s"w$j")
        }
        val weights = h.groupBy("doc_id").agg(weightCols.head, weightCols.tail: _*)
        weights.select(
          col("doc_id"),
          (0 until 8).map { j =>
            when(col(s"w$j") > 0L, 1L << j).otherwise(0L)
          }.reduce(_ + _).as("simhash"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS ($tokSql),
              |dict AS ($dictSql),
              |h AS (
              |  SELECT t.doc_id, (d.tok_id * 2654435761) % 65536 AS h
              |  FROM tok t JOIN dict d USING (tok)),
              |w AS (
              |  SELECT doc_id,
              |    ${(0 until 8).map(j =>
                   s"CAST(sum(CASE WHEN (h >> $j) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS w$j")
                   .mkString(", ")}
              |  FROM h GROUP BY doc_id)
              |SELECT doc_id,
              |  CAST(${(0 until 8).map(j => s"(CASE WHEN w$j > 0 THEN ${1L << j} ELSE 0 END)")
                   .mkString(" + ")} AS BIGINT) AS simhash
              |FROM w ORDER BY doc_id""".stripMargin)),

    // n-gram Jaccard verification pass: exact pairwise similarity over
    // 3-shingle SETS, computed ONLY for the LSH candidate pairs — the
    // standard two-stage near-dup pipeline (LSH recall pass → exact
    // precision pass). Candidate volume is linear in corpus size (LSH band
    // buckets, never all-pairs), so the exact intersection join below is
    // O(candidate pairs × shingles-per-doc) at any scale: each pair pulls
    // the two docs' shingle sets through one equi-join on (doc, shingle).
    QDef(
      "dedup_ngram",
      (s, dir) => {
        // Cached: sizes and both legs of the intersection join reuse the
        // distinct shingle set (harness unpersists between queries; the
        // warm path substitutes the standing checkpointed set).
        val sh = warmShingles(s, dir)
          .getOrElse(shingles(s, dir).distinct().cache())
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        val inter = candidatePairs(s, dir)
          .join(sh.select(col("doc_id").as("d1"), col("s")), "d1")
          .join(sh.select(col("doc_id").as("d2"), col("s")), Seq("d2", "s"))
          .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
        inter
          .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
          .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
          .select(col("d1"), col("d2"),
            rnd(col("inter").cast("double") /
              (col("sz1") + col("sz2") - col("inter")), 6).as("jaccard"))
          .where(col("jaccard") >= 0.01)
          .orderBy("d1", "d2")
      },
      Some(s"""$candidatePairsSql,
              |shd AS (SELECT DISTINCT doc_id, s FROM sh),
              |sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
              |inter AS (
              |  SELECT p.d1, p.d2, count(*) AS inter
              |  FROM pairs p
              |  JOIN shd a ON a.doc_id = p.d1
              |  JOIN shd b ON b.doc_id = p.d2 AND b.s = a.s
              |  GROUP BY p.d1, p.d2)
              |SELECT d1, d2,
              |  floor((CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter)) * 1e6 + 0.5) / 1e6 AS jaccard
              |FROM inter
              |JOIN sizes s1 ON s1.doc_id = d1
              |JOIN sizes s2 ON s2.doc_id = d2
              |WHERE floor((CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter)) * 1e6 + 0.5) / 1e6 >= 0.01
              |ORDER BY d1, d2""".stripMargin)),

    // Asymmetric CONTAINMENT dedup — the relation Jaccard cannot see: a
    // short doc quoted/subsumed inside a long one scores near-zero Jaccard
    // (union is dominated by the long side) but containment
    // |A∩B|/|A| ≈ 1. The candidate pass is RARE-SHINGLE BLOCKING, not the
    // minhash LSH (which is Jaccard-tuned and systematically misses
    // low-Jaccard containment pairs): two docs become candidates when they
    // share a shingle whose document frequency is in [2, ContainDfCap] —
    // the classic posting-list prefix filter. Recall bound (documented,
    // standard): a containment pair ALL of whose shared shingles are
    // corpus-common is missed; production lowers the miss rate by raising
    // the cap or shingle length, not by pairing everything. Scale shape:
    // the df cap bounds per-shingle pair fan-out at DfCap², so candidate
    // volume is linear in the rare-posting mass at any corpus size; the
    // exact intersection join then runs only over candidates (same
    // precision-pass shape as dedup_ngram), and both directional scores
    // come from ONE inter/size join (each pair emits src→dst and dst→src).
    QDef(
      "dedup_containment",
      (s, dir) => {
        val sh = warmShingles(s, dir)
          .getOrElse(shingles(s, dir).distinct().cache())
        val rare = sh.groupBy("s").agg(count(lit(1)).as("nd"))
          .where(col("nd") >= 2L && col("nd") <= graft.GraftConfig.ContainDfCap)
          .select("s")
        val pairs = sh.select(col("doc_id").as("d1"), col("s"))
          .join(rare, "s")
          .join(sh.select(col("doc_id").as("d2"), col("s")), "s")
          .where(col("d1") < col("d2"))
          .select("d1", "d2").distinct()
        // Intersections come from per-doc shingle ARRAYS joined to the
        // pair list — two candidate-sized joins — NOT from re-joining the
        // exploded (doc, shingle) stream per pair: the exploded form
        // shuffles |pairs| × shingles-per-doc rows (measured 9.6 s at
        // sf0.1, the suite's slowest query; the array form runs at 2 s).
        // The per-pair set intersect is exact integer work on sets
        // bounded by document length.
        val docsArr = sh.groupBy("doc_id")
          .agg(collect_list("s").as("arr"), count(lit(1)).as("sz"))
        val j = pairs
          .join(docsArr.select(col("doc_id").as("d1"),
            col("arr").as("a1"), col("sz").as("sz1")), "d1")
          .join(docsArr.select(col("doc_id").as("d2"),
            col("arr").as("a2"), col("sz").as("sz2")), "d2")
          .select(col("d1"), col("d2"),
            size(array_intersect(col("a1"), col("a2"))).cast("long").as("inter"),
            col("sz1"), col("sz2"))
        j.select(col("d1").as("src"), col("d2").as("dst"),
            rnd(col("inter").cast("double") / col("sz1"), 6).as("containment"))
          .unionByName(j.select(col("d2").as("src"), col("d1").as("dst"),
            rnd(col("inter").cast("double") / col("sz2"), 6).as("containment")))
          .where(col("containment") >= 0.5)
          .orderBy("src", "dst")
      },
      Some(s"""WITH tok AS ($tokSql),
              |dict AS ($dictSql),
              |ids AS (SELECT t.doc_id, t.pos, d.tok_id FROM tok t JOIN dict d USING (tok)),
              |shr AS (
              |  SELECT doc_id, pos, tok_id AS id1,
              |    lead(tok_id, 1) OVER w AS id2, lead(tok_id, 2) OVER w AS id3
              |  FROM ids WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
              |shd AS (
              |  SELECT DISTINCT doc_id, (id1 * $V + id2) * $V + id3 AS s
              |  FROM shr WHERE id3 IS NOT NULL),
              |dfreq AS (SELECT s, count(*) AS nd FROM shd GROUP BY s),
              |rare AS (SELECT s FROM dfreq
              |  WHERE nd BETWEEN 2 AND ${graft.GraftConfig.ContainDfCap}),
              |pairs AS (
              |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
              |  FROM shd a JOIN rare r ON r.s = a.s
              |  JOIN shd b ON b.s = a.s AND a.doc_id < b.doc_id),
              |docs AS (SELECT doc_id, list(s) AS arr, count(*) AS sz
              |  FROM shd GROUP BY doc_id),
              |j AS (
              |  SELECT p.d1, p.d2,
              |    CAST(len(list_intersect(a.arr, b.arr)) AS BIGINT) AS inter,
              |    a.sz AS sz1, b.sz AS sz2
              |  FROM pairs p
              |  JOIN docs a ON a.doc_id = p.d1
              |  JOIN docs b ON b.doc_id = p.d2),
              |bo AS (
              |  SELECT d1 AS src, d2 AS dst,
              |    floor((CAST(inter AS DOUBLE) / sz1) * 1e6 + 0.5) / 1e6 AS containment
              |  FROM j
              |  UNION ALL
              |  SELECT d2, d1,
              |    floor((CAST(inter AS DOUBLE) / sz2) * 1e6 + 0.5) / 1e6
              |  FROM j)
              |SELECT src, dst, containment FROM bo
              |WHERE containment >= 0.5
              |ORDER BY src, dst""".stripMargin)),

    // SOURCE-level overlap matrix — the corpus diagnostic a mixture
    // designer reads next to pipeline_mix: exact pairwise shingle-set
    // Jaccard between every pair of sources (a redundant source pair is a
    // candidate for dropping or down-weighting before dedup even runs;
    // dataset builders publish exactly this matrix when composing
    // corpora). Scale shape: the corpus collapses to DISTINCT
    // (source, shingle) rows FIRST — map-side, since shingles arrive
    // already partitioned per doc — so the pairwise self-join runs on the
    // collapsed posting lists, with per-shingle fan-out bounded by
    // sources² (a few hundred rows per shingle at ANY corpus size, the
    // same boundedness argument as graph_triangles' support threshold);
    // intersection counts partial-agg on the pair key and the matrix is
    // O(sources²) rows. The shared frame is cached — sizes and both join
    // legs reuse it.
    QDef(
      "dedup_source_overlap",
      (s, dir) => {
        // Warm path rides the standing distinct shingle set (the same
        // frame dedup_tuning/dedup_ngram read — round 19): the per-source
        // projection is one broadcast-dimension join over it, not a
        // recompute of the whole tokenize→dict→shingle pipeline. The
        // (source, s) distinct is unchanged either way (source is a
        // function of doc_id).
        val base = warmShingles(s, dir)
          .getOrElse(shingles(s, dir))
        val ss = base
          .join(T.documents(s, dir).select("doc_id", "source"), "doc_id")
          .select("source", "s").distinct().cache()
        val sz = ss.groupBy("source").agg(count(lit(1)).as("sz"))
        ss.select(col("source").as("s1"), col("s"))
          .join(ss.select(col("source").as("s2"), col("s")), "s")
          .where(col("s1") < col("s2"))
          .groupBy("s1", "s2").agg(count(lit(1)).as("inter"))
          .join(broadcast(sz.select(col("source").as("s1"), col("sz").as("sz1"))), "s1")
          .join(broadcast(sz.select(col("source").as("s2"), col("sz").as("sz2"))), "s2")
          .select(col("s1"), col("s2"), col("inter"),
            rnd(col("inter").cast("double") /
              (col("sz1") + col("sz2") - col("inter")), 6).as("jaccard"))
          .orderBy("s1", "s2")
      },
      Some(s"""WITH tok AS ($tokSql),
              |dict AS ($dictSql),
              |ids AS (SELECT t.doc_id, t.pos, d.tok_id FROM tok t JOIN dict d USING (tok)),
              |shr AS (
              |  SELECT doc_id, pos, tok_id AS id1,
              |    lead(tok_id, 1) OVER w AS id2, lead(tok_id, 2) OVER w AS id3
              |  FROM ids WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
              |ss AS (
              |  SELECT DISTINCT dd.source, (id1 * $V + id2) * $V + id3 AS s
              |  FROM shr JOIN documents dd USING (doc_id) WHERE id3 IS NOT NULL),
              |sz AS (SELECT source, count(*) AS sz FROM ss GROUP BY source),
              |inter AS (
              |  SELECT a.source AS s1, b.source AS s2, count(*) AS inter
              |  FROM ss a JOIN ss b ON b.s = a.s AND a.source < b.source
              |  GROUP BY 1, 2)
              |SELECT s1, s2, inter,
              |  floor((CAST(inter AS DOUBLE) / (z1.sz + z2.sz - inter)) * 1e6 + 0.5) / 1e6 AS jaccard
              |FROM inter
              |JOIN sz z1 ON z1.source = s1
              |JOIN sz z2 ON z2.source = s2
              |ORDER BY s1, s2""".stripMargin)),

    // Canonicalized (set-of-words) dedup: sort the DISTINCT token set and
    // hash it — catches reordered/repeated-word duplicates that byte-exact
    // dedup misses, at the same cost shape (one shuffle on the computed
    // key, map-side partials). md5 of the sorted-set string keeps the group
    // key 16 bytes regardless of document length; at 100 TB the groupBy
    // shuffles hashes, never text.
    QDef(
      "dedup_canonical",
      (s, dir) =>
        T.documents(s, dir)
          .withColumn("canon",
            md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")))
          .groupBy("canon")
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
          .where(col("n_dups") > 1L)
          .select("keep_id", "canon", "n_dups")
          .orderBy("keep_id"),
      Some("""SELECT keep_id, canon, n_dups
             |FROM (SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS canon,
             |        min(doc_id) AS keep_id, count(*) AS n_dups
             |      FROM documents GROUP BY canon)
             |WHERE n_dups > 1
             |ORDER BY keep_id""".stripMargin)),

    // Hamming near-dup via multi-index blocking (the simhash-dedup search
    // structure from the web-scale dedup literature): a 16-bit signature
    // split into 3 blocks of 6/5/5 bits — any pair within Hamming distance
    // 2 agrees EXACTLY on at least one block (pigeonhole: 2 flips can't
    // touch 3 blocks), so candidates come from equi-joins on (block_idx,
    // block_value), never an all-pairs scan. Exact `bit_count(xor)` filters
    // residually; `distinct` collapses pairs that met in several blocks.
    // Shuffle volume is O(docs × 3) signature rows; per-bucket population
    // is corpus/2^bits — the same plan at 100 TB widens the signature and
    // block count, not the algorithm.
    QDef(
      "dedup_hamming",
      (s, dir) => {
        val t = tok(s, dir)
        val h = t.join(broadcast(dict(t)), "tok")
          .withColumn("h", (col("tok_id") * 2654435761L) % 65536L)
        val weightCols = (0 until 16).map { j =>
          sum(when(shiftright(col("h"), j) % 2L === 1L, 1L).otherwise(-1L)).as(s"w$j")
        }
        // Cached: the three block projections below would otherwise
        // recompute the whole signature pipeline (harness unpersists).
        val sig = h.groupBy("doc_id").agg(weightCols.head, weightCols.tail: _*)
          .select(
            col("doc_id"),
            (0 until 16).map { j =>
              when(col(s"w$j") > 0L, 1L << j).otherwise(0L)
            }.reduce(_ + _).as("sh"))
          .cache()
        val blk = Seq(
          sig.select(col("doc_id"), col("sh"), lit(0L).as("bi"),
            (col("sh") % 64L).as("bv")),
          sig.select(col("doc_id"), col("sh"), lit(1L).as("bi"),
            expr("(sh div 64) % 32").as("bv")),
          sig.select(col("doc_id"), col("sh"), lit(2L).as("bi"),
            expr("sh div 2048").as("bv"))
        ).reduce(_ unionByName _)
        val a = blk.select(col("bi"), col("bv"), col("doc_id").as("d1"), col("sh").as("h1"))
        val b = blk.select(col("bi"), col("bv"), col("doc_id").as("d2"), col("sh").as("h2"))
        a.join(b, Seq("bi", "bv"))
          .where(col("d1") < col("d2"))
          .select("d1", "d2", "h1", "h2").distinct()
          .withColumn("hamming", expr("bit_count(h1 ^ h2)").cast("long"))
          .where(col("hamming") <= 2L)
          .select("d1", "d2", "hamming")
          .orderBy("d1", "d2")
      },
      Some(s"""WITH tok AS ($tokSql),
              |dict AS ($dictSql),
              |h AS (
              |  SELECT t.doc_id, (d.tok_id * 2654435761) % 65536 AS h
              |  FROM tok t JOIN dict d USING (tok)),
              |w AS (
              |  SELECT doc_id,
              |    ${(0 until 16).map(j =>
                   s"CAST(sum(CASE WHEN (h >> $j) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS w$j")
                   .mkString(", ")}
              |  FROM h GROUP BY doc_id),
              |sig AS (
              |  SELECT doc_id,
              |    CAST(${(0 until 16).map(j => s"(CASE WHEN w$j > 0 THEN ${1L << j} ELSE 0 END)")
                   .mkString(" + ")} AS BIGINT) AS sh
              |  FROM w),
              |blk AS (
              |  SELECT doc_id, sh, 0 AS bi, sh % 64 AS bv FROM sig
              |  UNION ALL SELECT doc_id, sh, 1, (sh // 64) % 32 FROM sig
              |  UNION ALL SELECT doc_id, sh, 2, sh // 2048 FROM sig),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
              |    a.sh AS h1, b.sh AS h2
              |  FROM blk a JOIN blk b
              |    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
              |SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
              |FROM cand WHERE bit_count(xor(h1, h2)) <= 2
              |ORDER BY d1, d2""".stripMargin)),

    // Edit-distance fuzzy dedup with prefix blocking: candidate pairs share
    // a 5-token prefix (the classic sorted-neighborhood / blocking-key
    // reduction), then exact Levenshtein scores each candidate. The O(m·n)
    // DP runs ONLY inside blocks — at 100 TB the block key keeps candidate
    // volume linear in corpus (block population is bounded by template
    // density), and the distance is computed where the pair lands after one
    // equi-join shuffle. Both engines implement classic unit-cost
    // Levenshtein, an exact integer.
    QDef(
      "dedup_editdist",
      (s, dir) => {
        val d = T.documents(s, dir)
          .withColumn("pfx", array_join(slice(split(col("text"), " "), 1, 5), " "))
        val l = d.select(col("pfx"), col("doc_id").as("d1"), col("text").as("t1"))
        val r = d.select(col("pfx"), col("doc_id").as("d2"), col("text").as("t2"))
        l.join(r, "pfx")
          .where(col("d1") < col("d2"))
          .select(col("d1"), col("d2"),
            levenshtein(col("t1"), col("t2")).cast("long").as("dist"))
          .orderBy("d1", "d2")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, text,
             |    array_to_string(string_split(text, ' ')[1:5], ' ') AS pfx
             |  FROM documents)
             |SELECT a.doc_id AS d1, b.doc_id AS d2,
             |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
             |FROM d a JOIN d b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
             |ORDER BY d1, d2""".stripMargin)),

    // Benchmark decontamination: flag training documents sharing any token
    // n-gram with a held-out eval set (here the deterministic doc_id%97
    // slice; production uses 8–13-grams — 3-grams here because the fixture
    // vocabulary is tiny). The shape is the one that scales: distinct
    // (doc, gram) on the train side, distinct grams on the (small) eval
    // side BROADCAST to the train scan — contamination is a broadcast
    // semi-join + count, never an all-pairs compare. At 100 TB the eval
    // grams stay a few MB (benchmarks are small by definition), so the
    // train corpus is read exactly once with no shuffle besides the final
    // per-doc count.
    QDef(
      "dedup_decontam",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val grams = tok(s, dir)
          .withColumn("t1", lead(col("tok"), 1).over(w))
          .withColumn("t2", lead(col("tok"), 2).over(w))
          .where(col("t2").isNotNull)
          .select(col("doc_id"),
            concat_ws(" ", col("tok"), col("t1"), col("t2")).as("gram"))
          .distinct()
        val evalGrams = grams.where(col("doc_id") % 97L === 0L)
          .select("gram").distinct()
        grams.where(col("doc_id") % 97L =!= 0L)
          .join(broadcast(evalGrams), "gram")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shared"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    unnest(string_split(text, ' ')) AS tok,
             |    generate_subscripts(string_split(text, ' '), 1) AS pos
             |  FROM documents),
             |grams AS (
             |  SELECT DISTINCT doc_id,
             |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS gram
             |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
             |g AS (SELECT doc_id, gram FROM grams WHERE gram IS NOT NULL),
             |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
             |SELECT doc_id, count(*) AS n_shared
             |FROM g JOIN ev USING (gram)
             |WHERE doc_id % 97 <> 0
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Cross-document repeated-SPAN detection — the substring-dedup family
    // (suffix-array exact-substring dedup's distributed analogue) that
    // document-level hashing cannot express: find token 5-grams occurring
    // in ≥ 2 DISTINCT documents and emit per-document CUT LISTS (merged
    // [cut_start, cut_end] intervals of duplicated positions, the spans a
    // training-data pipeline would excise). Production uses ~50-char /
    // 13-token windows; 5 tokens matches the fixture doc lengths.
    //
    // Scale: one window pass builds grams (corpus shuffles ONCE on doc_id,
    // reused by the island windows later), the cross-doc count groups on a
    // 16-byte md5 of the gram — text never shuffles — with map-side partial
    // aggregation, and the duplicated-gram set attaches back via a semi
    // join on the same hash. Interval merging is gaps-and-islands per doc:
    // running max(end) + running sum of gap markers, two windows over the
    // doc_id partitioning already in place. No pairing anywhere — cost is
    // linear in corpus token count at any scale.
    QDef(
      "dedup_spans",
      (s, dir) => {
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val grams = tok(s, dir)
          .withColumn("t1", lead(col("tok"), 1).over(w))
          .withColumn("t2", lead(col("tok"), 2).over(w))
          .withColumn("t3", lead(col("tok"), 3).over(w))
          .withColumn("t4", lead(col("tok"), 4).over(w))
          .where(col("t4").isNotNull)
          .select(col("doc_id"), col("pos").as("start_pos"),
            (col("pos") + 4L).as("end_pos"),
            md5(concat_ws(" ", col("tok"), col("t1"), col("t2"),
              col("t3"), col("t4"))).as("gh"))
        val dup = grams.groupBy("gh")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .where(col("nd") >= 2L)
          .select("gh")
        val w2 = Window.partitionBy("doc_id").orderBy("start_pos")
        grams.join(dup, Seq("gh"), "left_semi")
          .withColumn("prev_max",
            max(col("end_pos")).over(w2.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("ni",
            when(col("prev_max").isNull ||
              col("start_pos") > col("prev_max") + 1L, 1L).otherwise(0L))
          .withColumn("island",
            sum(col("ni")).over(w2.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("doc_id", "island")
          .agg(min("start_pos").as("cut_start"), max("end_pos").as("cut_end"),
            count(lit(1)).as("n_spans"))
          .select("doc_id", "cut_start", "cut_end", "n_spans")
          .orderBy("doc_id", "cut_start")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    unnest(string_split(text, ' ')) AS tok,
             |    generate_subscripts(string_split(text, ' '), 1) AS pos
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, pos AS start_pos, pos + 4 AS end_pos,
             |    md5(tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
             |        || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w) AS gh
             |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
             |  QUALIFY lead(tok, 4) OVER w IS NOT NULL),
             |dup AS (
             |  SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
             |isl AS (
             |  SELECT doc_id, start_pos, end_pos,
             |    CASE WHEN prev_max IS NULL OR start_pos > prev_max + 1
             |         THEN 1 ELSE 0 END AS ni
             |  FROM (
             |    SELECT doc_id, start_pos, end_pos,
             |      max(end_pos) OVER (PARTITION BY doc_id ORDER BY start_pos
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
             |    FROM grams WHERE gh IN (SELECT gh FROM dup))),
             |g AS (
             |  SELECT doc_id, start_pos, end_pos,
             |    sum(ni) OVER (PARTITION BY doc_id ORDER BY start_pos
             |      ROWS UNBOUNDED PRECEDING) AS island
             |  FROM isl)
             |SELECT doc_id, min(start_pos) AS cut_start, max(end_pos) AS cut_end,
             |  count(*) AS n_spans
             |FROM g GROUP BY doc_id, island ORDER BY doc_id, cut_start""".stripMargin)),

    // Exact repeated-span SPECTRUM via sparse prefix doubling — the
    // distributed suffix-array construction (Manber–Myers doubling; the
    // Flick & Aluru SC'15 distributed formulation) that closes the gap
    // between dedup_spans' fixed-granularity grams and a true
    // suffix-array pass: for every power-of-two span length L the query
    // reports exactly how much cross-document VERBATIM repetition exists
    // (positions covered, distinct repeated spans, the most-copied span's
    // multiplicity) — the duplication spectrum a dataset card publishes,
    // with arbitrary-length repeats located by their covering levels.
    //
    // The two tricks that make suffix ranking Spark-shaped: (a) class
    // REPRESENTATIVES instead of dense ranks — rank of a span class is
    // min(global position id) over the class, computed by a partial-agg
    // groupBy, so there is NO global sort anywhere (classic doubling
    // needs one per round); (b) SPARSE doubling — a 2L-span can only
    // repeat if both L-halves repeat, so each round first drops every
    // position whose span class has a single member. Positions exit the
    // moment their context becomes globally unique; on natural corpora
    // the surviving set collapses within a few rounds to the actually
    // duplicated material, so per-round cost is O(still-ambiguous
    // positions), not O(corpus), and the round count is log2(window).
    // All keys are longs (gid = doc_id·stride + pos; production packs
    // doc_id<<24 | pos), every equality is exact integer compare — no
    // hashes, no false positives. localCheckpoint pins each round's pair
    // and class frames (the pagerank/kcore lineage discipline).
    QDef(
      "dedup_suffix",
      (s, dir) => {
        val stride = graft.GraftConfig.SuffixGidStride
        val rounds = graft.GraftConfig.SuffixDoublings
        val p0 = tok(s, dir)
          .select(col("doc_id"), col("pos"),
            (col("doc_id") * stride + col("pos")).as("gid"), col("tok"))
        // Class rank + survival via partial-agg groupBy + join-back (see
        // Dedup.suffixClasses / suffixPrune). An earlier shape fused both
        // into one Window.partitionBy(class) pass — fewer local jobs, but
        // a full-partition window physically ships EVERY member of a
        // class to one reducer, and at round 0 the class key is the raw
        // token: Zipf-headed, so at 100 TB the "the"-class is terabytes
        // on a single task. The groupBy form combines map-side (no
        // reducer concentration), ships only the much smaller class
        // table, and the join-back is AQE-skew-splittable (and
        // broadcastable when the class table is vocabulary-sized) where
        // a window never is. The LEVEL STATS ride along in the same
        // class aggregation (min/max doc_id per class), so each round's
        // spectrum row is a tiny rollup of the checkpointed class table
        // — the position frame is aggregated exactly once per round.
        def stats(cls: DataFrame, len: Long): DataFrame = cls
          .where(col("d0") =!= col("d1"))
          .agg(
            coalesce(sum("cn"), lit(0L)).cast("long").as("n_dup_pos"),
            count(lit(1)).as("n_classes"),
            coalesce(max("cn"), lit(0L)).cast("long").as("max_occ"))
          .select(lit(len).as("span_len"), col("n_dup_pos"),
            col("n_classes"), col("max_occ"))
        // (Cross-document filter d0 != d1 on the CLASS table is identical
        // to the old per-position re-aggregation: a cross-doc class
        // always has >= 2 members, so the cn >= 2 prune never drops one.)
        // Checkpoint discipline: the POSITION frames pin (p0 once — the
        // tokenize scan is the expensive producer and both the class agg
        // and the join-back read it; then each round's pair join, read
        // twice the same way, and the pruned frame the next round reads
        // twice more). The class tables do NOT checkpoint: they are
        // partial aggregations over already-pinned frames, cheap to
        // replay for their two consumers (stats rollup + join-back).
        val p0c = p0.localCheckpoint()
        val cls0 = Dedup.suffixClasses(p0c, Seq("tok"))
        var cur = Dedup.suffixPrune(p0c, cls0, Seq("tok")).localCheckpoint()
        var out = Seq(stats(cls0, 1L))
        var len = 1L
        (1 to rounds).foreach { _ =>
          val b = cur.select(col("doc_id"), (col("pos") - len).as("pos"),
            col("rk").as("rk2"))
          val pair = cur.join(b, Seq("doc_id", "pos")).localCheckpoint()
          val cls = Dedup.suffixClasses(pair, Seq("rk", "rk2"))
          cur = Dedup.suffixPrune(pair, cls, Seq("rk", "rk2")).localCheckpoint()
          len *= 2
          out = out :+ stats(cls, len)
        }
        out.reduce(_ unionByName _).orderBy("span_len")
      },
      Some(suffixOracleSql)),

    // Incremental (delta-vs-base) near-dup — the DAILY operation of a
    // standing 100 TB corpus: dedup today's crawl against the standing LSH
    // signature index, never re-pairing the base against itself. The delta
    // slice (doc_id % DedupDeltaMod == DedupDeltaRem, ~10% of the corpus,
    // playing "today's crawl" — GraftConfig has the production story)
    // probes the base band table through ONE broadcast hash join: the
    // delta band rows BROADCAST (a day's crawl is always broadcast-sized
    // next to the standing index) and the base-side signature stream is
    // scanned once — never re-shuffled, never self-joined (PlanShapeSpec
    // pins no sort-merge join anywhere). The broadcast() hint here is
    // unconditional — Spark honors it regardless of relation size — so a
    // delta that outgrows broadcast is a VARIANT change, not a silent
    // fallback: drop the hint and probe the band key with a shuffled
    // equi-join, which is exactly what `dedup_index_probe` below
    // demonstrates against the persisted bucketed index (still never a
    // base self-join, and the bucketed base side still never re-shuffles).
    // min(base doc) per colliding delta doc is the canonical duplicate
    // target; delta docs with no colliding band come back 'novel'. In
    // production the base bands are the STANDING index table (the
    // signature half of dedup_minhash, written once and appended daily);
    // recomputing them from the corpus here keeps the query
    // self-contained — `dedup_index_probe` is the same probe against the
    // index actually persisted to disk. This is agg_incremental's
    // delta-merge idiom (Aggregates.scala) landed in the dedup family.
    QDef(
      "dedup_incremental",
      (s, dir) => {
        val m = graft.GraftConfig.DedupDeltaMod
        val r = graft.GraftConfig.DedupDeltaRem
        // Materialize the band table ONCE: both probe sides read the
        // checkpoint instead of re-running the signature pipeline per
        // branch (2x the tokenize/dict/minhash cost), and the checkpoint
        // IS the fixture's stand-in for the standing index table.
        val bands = sharedBandsCk(s, dir)
        val isDelta = col("doc_id") % m === r
        val hits = bands.where(!isDelta)
          .join(broadcast(bands.where(isDelta).select(
              col("doc_id").as("delta_id"),
              col("band"), col("sig_a"), col("sig_b"))),
            Seq("band", "sig_a", "sig_b"))
          .groupBy("delta_id").agg(min(col("doc_id")).as("dup_of"))
        T.documents(s, dir).where(isDelta)
          .select(col("doc_id"))
          .join(broadcast(hits.select(col("delta_id").as("doc_id"), col("dup_of"))),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_of"),
            when(col("dup_of").isNull, lit("novel"))
              .otherwise(lit("dup_of_base")).as("status"))
          .orderBy("doc_id")
      },
      Some(deltaProbeSql(graft.GraftConfig.DedupDeltaRem))),

    // The `dedup_incremental` comment above, made a demonstrated fact: the
    // base band table is WRITTEN ONCE as a bucketed, bucket-sorted saved
    // table keyed on the full band key (band, sig_a, sig_b) — the STANDING
    // index a production corpus maintains — and the delta probes it FROM
    // DISK. The probe is the oversized-delta variant deliberately: a
    // merge-hinted shuffled equi-join instead of a broadcast, because with
    // the index bucketed on the join key the base side needs NO Exchange
    // and NO recompute — only the (small) delta shuffles, into the index's
    // bucket layout (PlanShapeSpec pins the bucketed zero-Exchange read).
    // At 100 TB this is the whole point of a standing index: the signature
    // pipeline runs only over today's crawl; the base side's cost is a
    // bucket-aligned parquet scan, amortized once at write time — the same
    // sink_bucketed idiom (Scans.scala), landed where it earns its keep.
    // Output and oracle are identical to `dedup_incremental`: persistence
    // and join strategy are semantics-free.
    QDef(
      "dedup_index_probe",
      (s, dir) => {
        val m = graft.GraftConfig.DedupDeltaMod
        val r = graft.GraftConfig.DedupDeltaRem
        val isDelta = col("doc_id") % m === r
        // Write the standing index: base-side band rows, bucketed + sorted
        // on the band key. App-id-suffixed path/table name: concurrent
        // Bench/Verify JVMs must not clobber each other's index mid-read.
        val run = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        val path = Scans.runTmpPath(s, "graft_band_index_")
        val tbl = s"graft_band_index_$run"
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        sharedBands(s, dir).where(!isDelta)
          .write.mode("overwrite")
          .bucketBy(8, "band", "sig_a", "sig_b")
          .sortBy("band", "sig_a", "sig_b")
          .option("path", path)
          .saveAsTable(tbl)
        val index = s.table(tbl)
        // Today's crawl computes its signatures fresh (that pipeline cost
        // is proportional to the DELTA, not the corpus), then meets the
        // index with a merge join: the hint models the at-scale reality
        // that a full day's bands may outgrow broadcast.
        val delta = sharedBands(s, dir).where(isDelta)
          .select(col("doc_id").as("delta_id"),
            col("band"), col("sig_a"), col("sig_b"))
        val hits = index.join(delta.hint("merge"), Seq("band", "sig_a", "sig_b"))
          .groupBy("delta_id").agg(min(col("doc_id")).as("dup_of"))
        T.documents(s, dir).where(isDelta)
          .select(col("doc_id"))
          .join(broadcast(hits.select(col("delta_id").as("doc_id"), col("dup_of"))),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_of"),
            when(col("dup_of").isNull, lit("novel"))
              .otherwise(lit("dup_of_base")).as("status"))
          .orderBy("doc_id")
      },
      Some(deltaProbeSql(graft.GraftConfig.DedupDeltaRem))),

    // The standing index's write path completed into a LIFECYCLE: day 0
    // writes the base index (bucketed, exactly as `dedup_index_probe`),
    // day 1's crawl APPENDS its band rows into the same bucket layout —
    // base files untouched, append cost proportional to the day's delta —
    // and day 2 probes the MAINTAINED index. The probe can now hit day-1
    // arrivals (dup_of a day-1 doc id), which a base-only index could not
    // report: the append is observable in the output, not bookkeeping
    // ("base" in the status label means the standing index — the base
    // corpus plus every appended day). At 100 TB this is the maintenance
    // story: each day pays the signature pipeline for its own crawl once,
    // appends bucket-aligned files, and every later probe meets base +
    // all prior deltas with zero index-side recompute or Exchange —
    // multiple files per bucket is the normal steady state of an appended
    // bucketed table, and the bucket join tolerates it (Spark merges
    // per-bucket files; only the sorted-scan shortcut is lost, which the
    // merge hint's local sort re-establishes without any Exchange).
    QDef(
      "dedup_index_maintain",
      (s, dir) => {
        val m = graft.GraftConfig.DedupDeltaMod
        val r1 = graft.GraftConfig.DedupDeltaRem
        val r2 = graft.GraftConfig.DedupDelta2Rem
        val day1 = col("doc_id") % m === r1
        val day2 = col("doc_id") % m === r2
        val run = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        val path = Scans.runTmpPath(s, "graft_band_index_m_")
        val tbl = s"graft_band_index_m_$run"
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val bands = sharedBands(s, dir)
        // Day 0: the base index — everything that is not one of the two
        // delta days.
        bands.where(!day1 && !day2)
          .write.mode("overwrite")
          .bucketBy(8, "band", "sig_a", "sig_b")
          .sortBy("band", "sig_a", "sig_b")
          .option("path", path)
          .saveAsTable(tbl)
        // Day 1: append the day's crawl into the standing index. Same
        // bucket spec — Spark validates it against the catalog entry, so a
        // drifting writer fails loudly instead of corrupting the layout.
        bands.where(day1)
          .write.mode("append")
          .bucketBy(8, "band", "sig_a", "sig_b")
          .sortBy("band", "sig_a", "sig_b")
          .saveAsTable(tbl)
        val index = s.table(tbl)
        // Day 2: probe the maintained index — identical join shape to
        // dedup_index_probe; only the index contents grew.
        val delta = bands.where(day2)
          .select(col("doc_id").as("delta_id"),
            col("band"), col("sig_a"), col("sig_b"))
        val hits = index.join(delta.hint("merge"), Seq("band", "sig_a", "sig_b"))
          .groupBy("delta_id").agg(min(col("doc_id")).as("dup_of"))
        T.documents(s, dir).where(day2)
          .select(col("doc_id"))
          .join(broadcast(hits.select(col("delta_id").as("doc_id"), col("dup_of"))),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_of"),
            when(col("dup_of").isNull, lit("novel"))
              .otherwise(lit("dup_of_base")).as("status"))
          .orderBy("doc_id")
      },
      Some(deltaProbeSql(graft.GraftConfig.DedupDelta2Rem))),

    // THE VOCABULARY REFIT — the lifecycle stream_dedup_maintain leaves
    // open ("vocab re-fits belong to the refit, exactly as centroid
    // re-fits do"), closed: after a day-0 frozen-vocabulary build and a
    // day-1 append-only signing, the refit RE-RANKS the token dictionary
    // on the full corpus at refit time, RE-SIGNS every band row in the
    // new vocabulary (minhash signatures are functions of the token ids —
    // a vocab change invalidates the whole index, which is exactly why
    // appends must freeze it), and lands dictionary + index as ONE
    // atomic REPLACE commit per table (removes resolve at landing —
    // commitRetrying(removesAsOf), the sim_graph_ann_refit arbitration).
    // Laws require'd in-query: (1) the replace is COMPLETE (no pre-refit
    // band file survives); (2) a racing append whose read snapshot
    // predates the refit ABORTS with the conflict exception (the
    // non-consuming check stream_dedup_maintain's appender runs every
    // batch — here exercised on the refit's far side); (3) the pre-refit
    // version stays TIME-TRAVELABLE (asof v2 reproduces the frozen
    // base ∪ day-1 signatures, both exceptAll directions); (4) the refit
    // is NON-VACUOUS — the frequency re-rank moved at least one token id
    // (day-1 arrivals shift relative document frequencies even over a
    // closed vocabulary — the reason real tokenizer ids are frozen) and
    // at least one band row re-signed under the moved ids ((3) and (4)
    // fold into ONE labeled action — the fixed-overhead discipline).
    // Declared output = today's crawl
    // probing the POST-REFIT index, signatures in the refit vocabulary —
    // the oracle ranks the dict over base + day 1 (everything but the
    // probing day), the full-vocab analogue of the frozen-dict oracle.
    // Scale: the refit pays one full signature pass — on the REFIT
    // SCHEDULE, never per append (the stream appender stays O(batch));
    // the replace commit is O(1) metadata; pre-refit versions stay
    // probe-able until vacuum.
    QDef(
      "dedup_index_refit",
      (s, dir) => {
        import graft.sources.CommitLog
        val m = graft.GraftConfig.DedupDeltaMod
        val r1 = graft.GraftConfig.DedupDeltaRem
        val r2 = graft.GraftConfig.DedupDelta2Rem
        val day1 = col("doc_id") % m === r1
        val day2 = col("doc_id") % m === r2
        val docs = T.documents(s, dir).select("doc_id", "text")
        val base = docs.where(!day1 && !day2)
        val rootDict = Scans.freshRunTmpPath(s, "graft_dref_dict_")
        val root = Scans.freshRunTmpPath(s, "graft_dref_idx_")
        // Day 0: the frozen vocabulary on its own log table (v1) + the
        // base band rows (v1) — stream_dedup_maintain's day-0 artifact,
        // with the dictionary log-committed so the refit can replace it.
        dictFreqOf(base).write.mode("overwrite").parquet(s"$rootDict/s1")
        CommitLog.commit(rootDict, 1L, "s1")
        val dict1 = CommitLog.readAsOf(s, rootDict, 1L)
        val bands1 = bandRowsFrozen(base, dict1)
          .localCheckpoint() // feeds the write AND the time-travel law
        bands1.write.mode("overwrite").parquet(s"$root/s1")
        CommitLog.commit(root, 1L, "s1")
        // Day 1: append-only signing against the frozen vocab — the
        // stream appender's per-batch shape, one batch, non-consuming
        // checked against the day-0 files.
        val bands2 = bandRowsFrozen(docs.where(day1), dict1)
          .localCheckpoint() // feeds the write AND the time-travel law
        bands2.write.mode("overwrite").parquet(s"$root/s2")
        val files1 = CommitLog.filesAsOf(root, 1L)
        val v2 = CommitLog.commitCheckedNonConsuming(root, "s2", 1L,
          reads = files1)
        require(v2 == 2L, s"append landed at $v2, expected 2")
        // THE REFIT: re-rank the vocabulary on the corpus at refit time
        // (base + day 1 — everything the log holds), re-sign EVERY band
        // row in the new geometry, land both as atomic replaces.
        val files2 = CommitLog.filesAsOf(root, 2L)
        val corpusNow = docs.where(!day2)
        dictFreqOf(corpusNow).write.mode("overwrite").parquet(s"$rootDict/s2")
        CommitLog.commitRetrying(rootDict, "s2",
          removesAsOf = v => CommitLog.filesAsOf(rootDict, v - 1L))
        val dict2 = CommitLog.readAsOf(s, rootDict, Long.MaxValue)
          .localCheckpoint() // feeds the re-sign, the probe AND the law
        bandRowsFrozen(corpusNow, dict2)
          .write.mode("overwrite").parquet(s"$root/s3")
        val v3 = CommitLog.commitRetrying(root, "s3",
          removesAsOf = v => CommitLog.filesAsOf(root, v - 1L))
        // Law 1: the replace is complete — no pre-refit file survives.
        require(CommitLog.filesAsOf(root, v3).toSet
            .intersect(files2.toSet).isEmpty,
          "the refit replace left pre-refit band files live")
        // Law 2: a racing append whose read snapshot predates the refit
        // ABORTS (validation rejects it before any attempt).
        val aborted =
          try {
            CommitLog.commitCheckedNonConsuming(root, "s2", 1L,
              reads = files1)
            false
          } catch {
            case _: java.util.ConcurrentModificationException => true
          }
        require(aborted,
          "an append reading refit-retired signatures must abort, not land")
        // Laws 3+4 in ONE action: the time-travel diffs (asof v2 ≡
        // frozen base ∪ day-1 signatures), the vocab re-rank count, and
        // the re-sign count — each a labeled lane. Non-vacuity rides the
        // frequency ranking: day-1 arrivals shift relative document
        // frequencies, so (tok, tok_id) pairs MOVE between the day-0 fit
        // and the refit fit even though the fixture's vocabulary is
        // closed — exactly why a real tokenizer's ids are frozen.
        val artC2 = CommitLog.readAsOf(s, root, 2L)
          .select("doc_id", "band", "sig_a", "sig_b")
        val frozen = bands1.unionAll(bands2)
        val artC3 = CommitLog.readAsOf(s, root, v3)
          .select("doc_id", "band", "sig_a", "sig_b")
        // Round-19 law shape: each exceptAll pair collapses into ONE
        // signed-count aggregate — multiset equality (timetravel) is
        // "every row's +1/−1 copy-count sum is zero", and non-emptiness
        // of a.exceptAll(b) (rerank / resign) is "some row's sum is
        // positive" — one exchange per lane instead of exceptAll's two
        // full rewrites per direction. Same violations detected.
        def signedDiff(a: DataFrame, b: DataFrame, keys: Seq[String],
            label: String, positiveOnly: Boolean) =
          a.withColumn("w", lit(1L))
            .unionAll(b.withColumn("w", lit(-1L)))
            .groupBy(keys.map(col): _*)
            .agg(sum("w").as("w"))
            .where(if (positiveOnly) col("w") > 0L else col("w") =!= 0L)
            .select(lit(label).as("law"), lit(1L).as("a"))
        val bandKeys = Seq("doc_id", "band", "sig_a", "sig_b")
        val ttDiffs = signedDiff(artC2, frozen, bandKeys,
          "timetravel", positiveOnly = false)
        val moved = signedDiff(dict2, dict1, dict2.columns.toSeq,
          "rerank", positiveOnly = true)
        val resigned = signedDiff(artC3, frozen, bandKeys,
          "resign", positiveOnly = true)
        val sums = ttDiffs.unionAll(moved).unionAll(resigned)
          .groupBy("law").agg(sum("a").as("a"))
          .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
        require(!sums.contains("timetravel"),
          "reading asof v2 after the refit diverged from the frozen index")
        require(sums.get("rerank").exists(_ > 0L),
          "the refit moved no token id — the frequency re-rank was vacuous")
        require(sums.get("resign").exists(_ > 0L),
          "no band row re-signed — the refit was vacuous")
        // Declared output: today's crawl probes the POST-REFIT index,
        // signatures in the refit vocabulary.
        val delta = bandRowsFrozen(docs.where(day2), dict2)
          .select(col("doc_id").as("delta_id"),
            col("band"), col("sig_a"), col("sig_b"))
        val hits = artC3.join(delta.hint("merge"), Seq("band", "sig_a", "sig_b"))
          .groupBy("delta_id").agg(min(col("doc_id")).as("dup_of"))
        docs.where(day2)
          .select(col("doc_id"))
          .join(broadcast(hits.select(col("delta_id").as("doc_id"),
            col("dup_of"))), Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_of"),
            when(col("dup_of").isNull, lit("novel"))
              .otherwise(lit("dup_of_base")).as("status"))
          .orderBy("doc_id")
      },
      Some(refitProbeSql)),

    // LSH parameter TUNING report — the measurement that closes the dedup
    // tuning loop, as sim_recall_report closes the ANN loop: over the SAME
    // 6-value signature, evaluate three band layouts (b=6/r=1, b=3/r=2 —
    // the deployed config — b=2/r=3) on the two axes that trade off:
    // candidate volume (pair-verification cost) and retention of the
    // verified near-duplicates. Ground truth without an all-pairs pass:
    // r=1 banding is the most sensitive layout (any layout's band match
    // implies its component hashes match singly, so every other config's
    // candidates ⊆ b6r1's), so exact Jaccard is computed ONLY for b6r1's
    // candidates and "truth" = those with J ≥ ½ — the standard relative-
    // recall proxy (absolute recall is unknowable without O(n²)). The
    // J ≥ ½ test is integer-exact: 3·|∩| ≥ |A|+|B| (no FP). Retention is
    // integer micro (div) — engine-portable. Scale: one signature pass,
    // three linear band fan-outs sharing one shuffle each (the
    // dedup_minhash bucket-group idiom), Jaccard only on the candidate
    // set via the posting-list join, report O(configs) rows.
    QDef(
      "dedup_tuning",
      (s, dir) => {
        // Warm path rides the standing distinct shingle set (same frame
        // dedup_ngram verifies from); cold recomputes it once for both the
        // signature pass and the exact-Jaccard pass below.
        val shWarm = warmShingles(s, dir)
          .getOrElse(shingles(s, dir).distinct().localCheckpoint())
        val sig = shWarm.groupBy("doc_id")
          .agg(minhashAgg(0), (1 until MinHashes).map(minhashAgg): _*)
          .localCheckpoint() // three layouts fan out of one signature pass
        val configs = Seq(("b6r1", 6, 1), ("b3r2", 3, 2), ("b2r3", 2, 3))
        // ONE band fan-out and ONE bucket shuffle for all three layouts:
        // the config rides the bucket key (11 band rows/doc total), so
        // candidate generation costs one linear shuffle, not three.
        val bandStructs = configs.flatMap { case (cfg, b, r) =>
          (0 until b).map { i =>
            def k(j: Int) = if (j < r) col(s"h${i * r + j}") else lit(-1L)
            struct(lit(cfg).as("config"), lit(i.toLong).as("band"),
              k(0).as("k1"), k(1).as("k2"), k(2).as("k3"))
          }
        }
        val allCand = sig
          .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
          .select(col("doc_id"), col("bb.config").as("config"),
            col("bb.band").as("band"), col("bb.k1").as("k1"),
            col("bb.k2").as("k2"), col("bb.k3").as("k3"))
          .groupBy("config", "band", "k1", "k2", "k3")
          .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
          .where(size(col("ds")) >= 2)
          .select(col("config"),
            explode(flatten(transform(col("ds"), (d1, i) =>
              transform(slice(col("ds"), i + lit(2), size(col("ds"))),
                d2 => struct(d1.as("d1"), d2.as("d2")))))).as("p"))
          .select(col("config"), col("p.d1").as("d1"), col("p.d2").as("d2"))
          .distinct()
          .localCheckpoint()
        // Exact Jaccard on the most-sensitive layout's candidates only.
        val sh = shWarm
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val b61 = allCand.where(col("config") === "b6r1").select("d1", "d2")
        val truth = b61
          .join(sh.select(col("doc_id").as("d1"), col("s")), Seq("d1"))
          .join(sh.select(col("doc_id").as("d2"), col("s")), Seq("d2", "s"))
          .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
          .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
          .where(col("inter") * 3L >= col("n1") + col("n2")) // J >= 1/2, integer-exact
          .select("d1", "d2")
          .localCheckpoint()
        val nTruth = truth.agg(count(lit(1)).as("n_truth"))
        val perCfg = allCand
          .join(truth.withColumn("isTrue", lit(1L)), Seq("d1", "d2"), "left")
          .groupBy("config")
          .agg(count(lit(1)).as("n_candidates"),
            sum(coalesce(col("isTrue"), lit(0L))).cast("long").as("n_true_pairs"))
        perCfg.crossJoin(broadcast(nTruth))
          .withColumn("retention_micro",
            expr("(n_true_pairs * 1000000) div greatest(n_truth, 1)"))
          .select(col("config"), col("n_candidates"), col("n_true_pairs"),
            col("retention_micro"))
          .orderBy("config")
      },
      Some {
        val cfgBands = Seq(("b6r1", 6, 1), ("b3r2", 3, 2), ("b2r3", 2, 3)).map {
          case (cfg, b, r) =>
            (0 until b).map { i =>
              def k(j: Int) = if (j < r) s"h${i * r + j}" else "-1"
              s"SELECT '$cfg' AS config, doc_id, CAST($i AS BIGINT) AS band, " +
                s"${k(0)} AS k1, ${k(1)} AS k2, ${k(2)} AS k3 FROM sig"
            }.mkString("\n  UNION ALL\n  ")
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH tok AS ($tokSql),
           |dict AS ($dictSql),
           |sh AS ($shingleSql),
           |sig AS (
           |  SELECT doc_id, ${(0 until MinHashes).map(minhashAggSql).mkString(", ")}
           |  FROM sh GROUP BY doc_id),
           |cb AS MATERIALIZED (
           |  $cfgBands),
           |cand AS MATERIALIZED (
           |  SELECT DISTINCT l.config, l.doc_id AS d1, r.doc_id AS d2
           |  FROM cb l JOIN cb r
           |    ON l.config = r.config AND l.band = r.band
           |    AND l.k1 = r.k1 AND l.k2 = r.k2 AND l.k3 = r.k3
           |    AND l.doc_id < r.doc_id),
           |shd AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM sh),
           |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
           |truth AS MATERIALIZED (
           |  SELECT t.d1, t.d2 FROM (
           |    SELECT c.d1, c.d2, count(*) AS inter
           |    FROM (SELECT d1, d2 FROM cand WHERE config = 'b6r1') c
           |    JOIN shd a ON a.doc_id = c.d1
           |    JOIN shd b ON b.doc_id = c.d2 AND b.s = a.s
           |    GROUP BY c.d1, c.d2) t
           |  JOIN sizes s1 ON s1.doc_id = t.d1
           |  JOIN sizes s2 ON s2.doc_id = t.d2
           |  WHERE t.inter * 3 >= s1.n + s2.n),
           |nt AS (SELECT count(*) AS n_truth FROM truth)
           |SELECT config, count(*) AS n_candidates,
           |  CAST(sum(CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_true_pairs,
           |  CAST((CAST(sum(CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    * 1000000) // greatest((SELECT n_truth FROM nt), 1) AS BIGINT)
           |    AS retention_micro
           |FROM cand LEFT JOIN truth t ON t.d1 = cand.d1 AND t.d2 = cand.d2
           |GROUP BY config ORDER BY config""".stripMargin
      }),

    // AUTO-TUNING — dedup_tuning's report made ACTIONABLE (the loop the
    // monitoring family was missing): from the measured per-layout
    // (candidates, true pairs, retention) table, RECOMMEND the cheapest
    // band layout whose retention clears the acceptance floor
    // (GraftConfig.TuneRetentionFloorMicro — ORDER BY candidates, config
    // LIMIT 1: fewest candidates wins, name breaks ties), then APPLY the
    // recommendation — regenerate that layout's candidates STANDALONE —
    // and `require` the realized (candidates, true pairs) equal the
    // tuning table's row for it. The require is not a tautology: the
    // tuning table measures all layouts through one FUSED fan-out/shuffle
    // (the config rides the bucket key), and the apply step proves the
    // fused measurement equals the layout's standalone behavior — the
    // property that makes the report a safe basis for reconfiguration.
    // Output = the tuning table with the chosen row flagged, so the
    // decision itself is oracle-checked (DuckDB derives the same choice
    // from its own tuning reconstruction). At 100 TB this is the re-tune
    // cycle: the report runs on a sample, the floor encodes the quality
    // budget, and the chosen layout rolls out knowing its candidate
    // volume in advance — no constant in a config file goes stale.
    QDef(
      "dedup_autotune",
      (s, dir) => {
        val floor = graft.GraftConfig.TuneRetentionFloorMicro
        val shWarm = warmShingles(s, dir)
          .getOrElse(shingles(s, dir).distinct().localCheckpoint())
        val sig = shWarm.groupBy("doc_id")
          .agg(minhashAgg(0), (1 until MinHashes).map(minhashAgg): _*)
          .localCheckpoint()
        val configs = Seq(("b6r1", 6, 1), ("b3r2", 3, 2), ("b2r3", 2, 3))
        def candFor(sel: Seq[(String, Int, Int)]): DataFrame = {
          val bandStructs = sel.flatMap { case (cfg, b, r) =>
            (0 until b).map { i =>
              def k(j: Int) = if (j < r) col(s"h${i * r + j}") else lit(-1L)
              struct(lit(cfg).as("config"), lit(i.toLong).as("band"),
                k(0).as("k1"), k(1).as("k2"), k(2).as("k3"))
            }
          }
          sig
            .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
            .select(col("doc_id"), col("bb.config").as("config"),
              col("bb.band").as("band"), col("bb.k1").as("k1"),
              col("bb.k2").as("k2"), col("bb.k3").as("k3"))
            .groupBy("config", "band", "k1", "k2", "k3")
            .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
            .where(size(col("ds")) >= 2)
            .select(col("config"),
              explode(flatten(transform(col("ds"), (d1, i) =>
                transform(slice(col("ds"), i + lit(2), size(col("ds"))),
                  d2 => struct(d1.as("d1"), d2.as("d2")))))).as("p"))
            .select(col("config"), col("p.d1").as("d1"), col("p.d2").as("d2"))
            .distinct()
        }
        val allCand = candFor(configs).localCheckpoint()
        val sh = shWarm
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val b61 = allCand.where(col("config") === "b6r1").select("d1", "d2")
        val truth = b61
          .join(sh.select(col("doc_id").as("d1"), col("s")), Seq("d1"))
          .join(sh.select(col("doc_id").as("d2"), col("s")), Seq("d2", "s"))
          .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
          .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
          .where(col("inter") * 3L >= col("n1") + col("n2"))
          .select("d1", "d2")
          .localCheckpoint()
        val nTruth = truth.agg(count(lit(1)).as("n_truth"))
        val tuning = allCand
          .join(truth.withColumn("isTrue", lit(1L)), Seq("d1", "d2"), "left")
          .groupBy("config")
          .agg(count(lit(1)).as("n_candidates"),
            sum(coalesce(col("isTrue"), lit(0L))).cast("long").as("n_true_pairs"))
          .crossJoin(broadcast(nTruth))
          .withColumn("retention_micro",
            expr("(n_true_pairs * 1000000) div greatest(n_truth, 1)"))
          .select(col("config"), col("n_candidates"), col("n_true_pairs"),
            col("retention_micro"))
          .localCheckpoint()
        // RECOMMEND: cheapest qualifying layout (bounded 3-row collect).
        val pick = tuning.where(col("retention_micro") >= floor)
          .orderBy(col("n_candidates").asc, col("config").asc)
          .limit(1).collect()
        require(pick.nonEmpty,
          s"no band layout meets the $floor-micro retention floor")
        val cfg = pick(0).getString(0)
        val (nCand, nTrue) = (pick(0).getLong(1), pick(0).getLong(2))
        // APPLY: the chosen layout standalone must reproduce its row.
        val applied = candFor(configs.filter(_._1 == cfg))
          .join(truth.withColumn("isTrue", lit(1L)), Seq("d1", "d2"), "left")
          .agg(count(lit(1)).as("nc"),
            sum(coalesce(col("isTrue"), lit(0L))).cast("long").as("nt"))
          .collect()(0)
        require(applied.getLong(0) == nCand && applied.getLong(1) == nTrue,
          s"applied layout $cfg diverged from its tuning row: standalone " +
            s"(${applied.getLong(0)}, ${applied.getLong(1)}) vs fused ($nCand, $nTrue)")
        tuning.withColumn("chosen", col("config") === lit(cfg))
          .orderBy("config")
      },
      Some {
        val floor = graft.GraftConfig.TuneRetentionFloorMicro
        val cfgBands = Seq(("b6r1", 6, 1), ("b3r2", 3, 2), ("b2r3", 2, 3)).map {
          case (cfg, b, r) =>
            (0 until b).map { i =>
              def k(j: Int) = if (j < r) s"h${i * r + j}" else "-1"
              s"SELECT '$cfg' AS config, doc_id, CAST($i AS BIGINT) AS band, " +
                s"${k(0)} AS k1, ${k(1)} AS k2, ${k(2)} AS k3 FROM sig"
            }.mkString("\n  UNION ALL\n  ")
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH tok AS ($tokSql),
           |dict AS ($dictSql),
           |sh AS ($shingleSql),
           |sig AS (
           |  SELECT doc_id, ${(0 until MinHashes).map(minhashAggSql).mkString(", ")}
           |  FROM sh GROUP BY doc_id),
           |cb AS MATERIALIZED (
           |  $cfgBands),
           |cand AS MATERIALIZED (
           |  SELECT DISTINCT l.config, l.doc_id AS d1, r.doc_id AS d2
           |  FROM cb l JOIN cb r
           |    ON l.config = r.config AND l.band = r.band
           |    AND l.k1 = r.k1 AND l.k2 = r.k2 AND l.k3 = r.k3
           |    AND l.doc_id < r.doc_id),
           |shd AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM sh),
           |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
           |truth AS MATERIALIZED (
           |  SELECT t.d1, t.d2 FROM (
           |    SELECT c.d1, c.d2, count(*) AS inter
           |    FROM (SELECT d1, d2 FROM cand WHERE config = 'b6r1') c
           |    JOIN shd a ON a.doc_id = c.d1
           |    JOIN shd b ON b.doc_id = c.d2 AND b.s = a.s
           |    GROUP BY c.d1, c.d2) t
           |  JOIN sizes s1 ON s1.doc_id = t.d1
           |  JOIN sizes s2 ON s2.doc_id = t.d2
           |  WHERE t.inter * 3 >= s1.n + s2.n),
           |nt AS (SELECT count(*) AS n_truth FROM truth),
           |tune AS MATERIALIZED (
           |  SELECT config, count(*) AS n_candidates,
           |    CAST(sum(CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_true_pairs,
           |    CAST((CAST(sum(CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |      * 1000000) // greatest((SELECT n_truth FROM nt), 1) AS BIGINT)
           |      AS retention_micro
           |  FROM cand LEFT JOIN truth t ON t.d1 = cand.d1 AND t.d2 = cand.d2
           |  GROUP BY config),
           |pick AS (
           |  SELECT config FROM tune WHERE retention_micro >= $floor
           |  ORDER BY n_candidates, config LIMIT 1)
           |SELECT config, n_candidates, n_true_pairs, retention_micro,
           |  config = (SELECT config FROM pick) AS chosen
           |FROM tune ORDER BY config""".stripMargin
      })
  )

  /** Delta-vs-base probe oracle — shared by `dedup_incremental` (base
    * bands recomputed in-query, broadcast probe), `dedup_index_probe`
    * (base bands persisted as a bucketed on-disk index, shuffled probe),
    * and `dedup_index_maintain` (the appended index, probed by the second
    * delta slice): where the band table lives and which join strategy
    * probes it are semantics-free, so one parameterized oracle pins all
    * three — the probing slice is `rem`, the probed side is everything
    * else. */
  private def deltaProbeSql(r: Long): String = {
    val m = graft.GraftConfig.DedupDeltaMod
    s"""$bandsSql,
       |hits AS (
       |  SELECT l.doc_id AS doc_id, min(r.doc_id) AS dup_of
       |  FROM bands l JOIN bands r
       |    ON r.band = l.band AND r.sig_a = l.sig_a AND r.sig_b = l.sig_b
       |    AND r.doc_id % $m <> $r
       |  WHERE l.doc_id % $m = $r
       |  GROUP BY l.doc_id)
       |SELECT d.doc_id, h.dup_of,
       |  CASE WHEN h.dup_of IS NULL THEN 'novel' ELSE 'dup_of_base' END AS status
       |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |WHERE d.doc_id % $m = $r
       |ORDER BY d.doc_id""".stripMargin
  }

  /** `dedup_index_refit`'s oracle — the POST-REFIT probe: the dictionary
    * ranks the corpus at refit time (base + the appended day 1 —
    * everything but the probing day), and today's crawl signs against
    * that vocabulary too. Same CTE skeleton as [[frozenDeltaProbeSql]]
    * with only the dict filter differing — the refit is precisely the
    * move from the day-0 vocab to this one. */
  private[graft] def refitProbeSql: String = {
    val m = graft.GraftConfig.DedupDeltaMod
    val r2 = graft.GraftConfig.DedupDelta2Rem
    s"""WITH tok AS ($tokSql),
       |dict AS (
       |  ${dictFreqSql(s"doc_id % $m <> $r2")}),
       |sh AS ($shingleSql),
       |sig AS (
       |  SELECT doc_id, ${(0 until MinHashes).map(minhashAggSql).mkString(", ")}
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  ${(0 until Bands).map(i =>
            s"SELECT doc_id, CAST($i AS BIGINT) AS band, h${2 * i} AS sig_a, h${2 * i + 1} AS sig_b FROM sig")
            .mkString("\n  UNION ALL\n  ")}),
       |hits AS (
       |  SELECT l.doc_id AS doc_id, min(r.doc_id) AS dup_of
       |  FROM bands l JOIN bands r
       |    ON r.band = l.band AND r.sig_a = l.sig_a AND r.sig_b = l.sig_b
       |    AND r.doc_id % $m <> $r2
       |  WHERE l.doc_id % $m = $r2
       |  GROUP BY l.doc_id)
       |SELECT d.doc_id, h.dup_of,
       |  CASE WHEN h.dup_of IS NULL THEN 'novel' ELSE 'dup_of_base' END AS status
       |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |WHERE d.doc_id % $m = $r2
       |ORDER BY d.doc_id""".stripMargin
  }

  /** `stream_dedup_maintain`'s oracle — [[deltaProbeSql]] with the
    * dictionary FROZEN on the day-0 snapshot: the dict CTE (aliased
    * `dict` so [[shingleSql]] is reused verbatim) ranks only tokens of
    * docs in NEITHER delta day, and the positional three-way dict join
    * then drops every shingle containing an unseen token — exactly
    * [[bandRowsFrozen]]'s null gate. Probing slice = the second delta
    * day; probed side = base + the appended first day, i.e. the streamed
    * index's final contents. */
  private[graft] def frozenDeltaProbeSql: String = {
    val m = graft.GraftConfig.DedupDeltaMod
    val r1 = graft.GraftConfig.DedupDeltaRem
    val r2 = graft.GraftConfig.DedupDelta2Rem
    s"""WITH tok AS ($tokSql),
       |dict AS (
       |  ${dictFreqSql(s"doc_id % $m <> $r1 AND doc_id % $m <> $r2")}),
       |sh AS ($shingleSql),
       |sig AS (
       |  SELECT doc_id, ${(0 until MinHashes).map(minhashAggSql).mkString(", ")}
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  ${(0 until Bands).map(i =>
            s"SELECT doc_id, CAST($i AS BIGINT) AS band, h${2 * i} AS sig_a, h${2 * i + 1} AS sig_b FROM sig")
            .mkString("\n  UNION ALL\n  ")}),
       |hits AS (
       |  SELECT l.doc_id AS doc_id, min(r.doc_id) AS dup_of
       |  FROM bands l JOIN bands r
       |    ON r.band = l.band AND r.sig_a = l.sig_a AND r.sig_b = l.sig_b
       |    AND r.doc_id % $m <> $r2
       |  WHERE l.doc_id % $m = $r2
       |  GROUP BY l.doc_id)
       |SELECT d.doc_id, h.dup_of,
       |  CASE WHEN h.dup_of IS NULL THEN 'novel' ELSE 'dup_of_base' END AS status
       |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |WHERE d.doc_id % $m = $r2
       |ORDER BY d.doc_id""".stripMargin
  }
}
