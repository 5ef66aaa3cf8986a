package graft

import org.apache.spark.sql.functions._
import scala.util.Random

/** Algebraic laws on generated data (SURVEY §5.3 #4). Seeded generation —
  * deterministic across runs (no scalatestplus bridge in the offline cache,
  * so generation is a seeded Random rather than ScalaCheck's runner).
  */
class PropertySpec extends SparkSpec {

  private val s0 = TestSession.spark
  import s0.implicits._

  private def cases(seed: Int): Seq[Seq[(Long, Double)]] = {
    val rnd = new Random(seed)
    (1 to 5).map { _ =>
      Seq.fill(40)((rnd.nextInt(6).toLong, rnd.nextDouble() * 200 - 100))
    }
  }

  test("groupBy count sums to total; distinct keys = group count") {
    cases(1).foreach { xs =>
      val df = xs.toDF("k", "v")
      val grouped = df.groupBy("k").count()
      assert(grouped.agg(sum("count")).as[Long].head() === xs.size.toLong)
      assert(grouped.count() === xs.map(_._1).distinct.size.toLong)
    }
  }

  test("unionAll count additivity; exceptAll(a,a) is empty") {
    cases(2).foreach { xs =>
      val df = xs.toDF("k", "v")
      assert(df.unionAll(df).count() === 2L * xs.size)
      assert(df.exceptAll(df).count() === 0L)
    }
  }

  test("dedup (row_number=1) is idempotent and keeps distinct-key rows") {
    import org.apache.spark.sql.expressions.Window
    cases(3).foreach { xs =>
      val df = xs.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "v", "id")
      val w = Window.partitionBy("k").orderBy("v", "id")
      val once = df.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).drop("rn")
      val twice = once.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).drop("rn")
      assert(once.count() === xs.map(_._1).distinct.size.toLong)
      assert(twice.collect().toSet === once.collect().toSet)
    }
  }

  test("lag∘lead identity: lead(lag(x)) == x on interior rows") {
    import org.apache.spark.sql.expressions.Window
    cases(4).foreach { xs =>
      val df = xs.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
        .toDF("id", "v")
      val w = Window.orderBy("id")
      val bad = df
        .withColumn("rt", lead(lag(col("v"), 1).over(w), 1).over(w))
        .where(col("rt").isNotNull && col("rt") =!= col("v"))
      assert(bad.count() === 0L)
    }
  }

  test("graft_dot ≡ lambda aggregate ≡ driver-side fold on random vectors") {
    graft.functions.DotProduct.register(spark)
    val rnd = new Random(7)
    val pairs = (1 to 50).map { _ =>
      val n = 1 + rnd.nextInt(80)
      (Array.fill(n)(rnd.nextDouble() * 2000 - 1000),
        Array.fill(n)(rnd.nextDouble() * 2000 - 1000))
    }
    val rows = pairs.toDF("a", "b")
      .select(expr("graft_dot(a, b)").as("d"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v).as("e"))
      .as[(Double, Double)].collect()
    rows.zip(pairs).foreach { case ((d, e), (a, b)) =>
      val fold = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      assert(d === e, "codegen loop vs interpreted lambda must be bit-identical")
      assert(d === fold, "expression must match left-to-right IEEE fold")
    }
  }

  test("graph-ANN entry law: the cell and descent lanes score every shared " +
    "(probe, vec) key bit-identically") {
    import graft.operators.Similarity
    val t = Similarity.sharedGraphTiers(spark, sf)
    val co = Similarity.corpus(spark, sf)
    // Corpus vectors that are not medoids: the declared probes ARE the
    // fixture's medoids, whose own cell the descent never re-reads, so at
    // this scale their lanes share no key.
    val pr = co.where(col("vec_id").between(100L, 149L))
      .select(col("vec_id").as("probe_id"), col("ce").as("pe"))
    val (cell, descent) = Similarity.gannEntryLanes(pr, co,
      Similarity.sharedAssigned(spark, sf), t.medoids.select("vec_id", "cell"),
      t.hubs2, t.hubEdges)
    val shared = cell.withColumnRenamed("raw", "rc")
      .join(descent.withColumnRenamed("raw", "rd"), Seq("probe_id", "vec_id"))
      .select("rc", "rd").as[(Double, Double)].collect()
    assert(shared.nonEmpty, "the lanes share no key: the law is vacuous")
    shared.foreach { case (rc, rd) =>
      assert(java.lang.Double.doubleToRawLongBits(rc) ===
        java.lang.Double.doubleToRawLongBits(rd),
        s"lane scores $rc vs $rd: gannHubEntry's max no longer dedups exactly")
    }
  }

  test("minhash law: min-hash over a shingle subset ≥ min-hash over superset") {
    val rnd = new Random(5)
    (1 to 3).foreach { _ =>
      val base = Seq.fill(30)(rnd.nextInt(1000).toLong)
      val sub = base.take(10)
      def h(s: Long) = (s * 1103515245L + 12345L) % 2147483647L
      assert(sub.map(h).min >= base.map(h).min)
    }
  }

  test("hamming blocking law: 6/5/5 blocks recall every Hamming≤2 pair (generated)") {
    // Pigeonhole completeness on generated 16-bit signatures: candidate
    // generation by exact block agreement never misses a true pair. Driver
    // logic only — pure Scala mirror of the dedup_hamming block math.
    val rnd = new Random(7)
    def blocks(h: Long) = Seq(h % 64L, (h / 64L) % 32L, h / 2048L)
    (1 to 3).foreach { _ =>
      val sigs = Seq.fill(120)(rnd.nextInt(65536).toLong)
        // seed near pairs: flips at random positions, including cross-block
        .flatMap(h => Seq(h, h ^ (1L << rnd.nextInt(16)),
          h ^ (1L << rnd.nextInt(16)) ^ (1L << rnd.nextInt(16))))
        .zipWithIndex.map { case (h, i) => (i.toLong, h) }
      val truePairs = for {
        (i, a) <- sigs; (j, b) <- sigs if i < j
        if java.lang.Long.bitCount(a ^ b) <= 2
      } yield (i, j)
      val blocked = for {
        (i, a) <- sigs; (j, b) <- sigs if i < j
        if blocks(a).zip(blocks(b)).exists { case (x, y) => x == y }
        if java.lang.Long.bitCount(a ^ b) <= 2
      } yield (i, j)
      assert(blocked.toSet === truePairs.toSet,
        "block agreement must be a superset filter for Hamming ≤ 2")
    }
  }

  test("bloom law: every inserted key passes both bitmask probes (no false negatives)") {
    // Pure Scala mirror of join_bloom's k=2 hash/bitmap arithmetic: a key
    // that was OR'd into the bitmap must always probe positive — the
    // invariant that makes the pre-join filter semantics-free.
    val rnd = new Random(11)
    val M = 8192L
    def h(k: Long) = Seq(k * 2654435761L % M, (k * 40503L + 17L) % M)
    (1 to 3).foreach { _ =>
      val keys = Seq.fill(500)(rnd.nextInt(1000000).toLong)
      val words = Array.fill(128)(0L)
      keys.foreach(k => h(k).foreach(b => words((b / 64L).toInt) |= 1L << (b % 64L)))
      keys.foreach { k =>
        assert(h(k).forall(b => (words((b / 64L).toInt) & (1L << (b % 64L))) != 0L),
          s"inserted key $k failed a probe — bloom produced a false negative")
      }
    }
  }

  test("bloom-index transport law: hexOf/mightContain round-trips every " +
      "inserted key through the LOG encoding (generated key sets, negatives " +
      "probed for sane FP)") {
    // table_bloom_index's serialization layer on top of the bloom law
    // above: keys → word map → fixed-width hex (the add-action transport)
    // → probe. No false negatives through the ROUND-TRIP — a hex/shift
    // bug would corrupt silently where the pure-bitmap test cannot see.
    import graft.sources.CommitLog
    val rnd = new Random(13)
    (1 to 3).foreach { _ =>
      val keys = Seq.fill(200)(rnd.nextLong().abs % 5000000L)
      val words = keys.flatMap(CommitLog.bloomBitsOf)
        .groupBy(b => (b / 64L).toInt)
        .view.mapValues(_.map(b => 1L << (b % 64L).toInt).reduce(_ | _)).toMap
      val hex = CommitLog.bloomHexOf(words)
      keys.foreach(k => assert(CommitLog.bloomMightContain(hex, k),
        s"key $k lost through the hex transport — silent false negative"))
      // Negatives: absent keys may false-positive, but at m/n ≈ 20 the
      // rate must stay far from saturation (a shift bug often reads as
      // everything-matches).
      val absent = Seq.fill(500)(5000000L + rnd.nextLong().abs % 5000000L)
        .filterNot(keys.toSet)
      val fp = absent.count(CommitLog.bloomMightContain(hex, _))
      assert(fp < absent.size / 4,
        s"bloom FP rate $fp/${absent.size} — words look saturated/corrupt")
    }
  }

  test("count-min law: the cell-min estimate never undercounts (generated tokens)") {
    // Mirror of text_heavyhitters' d=2 × w=256 sketch: for every token,
    // min(cell1, cell2) ≥ its true count — each cell sums the token's own
    // occurrences plus non-negative collision mass.
    val rnd = new Random(13)
    (1 to 3).foreach { _ =>
      val occ = Seq.fill(2000)(rnd.nextInt(80).toLong + 1L) // tok_ids ≥ 1
      def b(h: Int, id: Long) =
        if (h == 0) id * 2654435761L % 256L else (id * 40503L + 17L) % 256L
      val cells = Array.ofDim[Long](2, 256)
      occ.foreach(id => (0 to 1).foreach(h => cells(h)(b(h, id).toInt) += 1L))
      occ.distinct.foreach { id =>
        val exact = occ.count(_ == id).toLong
        val est = math.min(cells(0)(b(0, id).toInt), cells(1)(b(1, id).toInt))
        assert(est >= exact, s"token $id: estimate $est undercounts exact $exact")
      }
    }
  }

  test("cc fixpoint law: every LSH candidate pair shares a cluster id; ids are component minima") {
    // True-fixpoint property of connected components, checked on the real
    // fixture through the declared query surface: if label propagation had
    // stopped early (the pre-round-4 fixed-3-rounds form), some candidate
    // pair on a long chain would straddle two labels. Also: every cluster
    // id must itself be a member of its cluster labeled with itself (the
    // component minimum), i.e. the label function is idempotent.
    val pairs = SparkEntry.queries("dedup_minhash")(spark, sf)
    val clusters = SparkEntry.queries("dedup_cluster")(spark, sf)
    val straddling = pairs
      .join(clusters.select(col("doc_id").as("d1"), col("cluster_id").as("c1")), "d1")
      .join(clusters.select(col("doc_id").as("d2"), col("cluster_id").as("c2")), "d2")
      .where(col("c1") =!= col("c2"))
    assert(straddling.count() === 0L,
      "a candidate pair straddles two clusters — propagation stopped before fixpoint")
    val nonIdempotent = clusters
      .join(clusters.select(col("doc_id").as("cluster_id"),
        col("cluster_id").as("root_lbl")), "cluster_id")
      .where(col("root_lbl") =!= col("cluster_id"))
    assert(nonIdempotent.count() === 0L,
      "a cluster id is not its own cluster's label — labels are not component minima")
  }

  test("graph_cc matches a driver-side union-find on the same edge set") {
    // The star-contraction output satisfies component == min_node by
    // construction (spokes rewire above their center), so that identity is
    // vacuous as a fixpoint check. Instead recompute the components with an
    // INDEPENDENT algorithm — union-find over the same derived edge set,
    // collected at sf0.001 — and require the (component, n_nodes, min_node)
    // triples to match exactly. An unconverged or mis-rooted run splits or
    // mislabels a component and fails this equality.
    val T = graft.Tables
    val edges = T.orders(spark, sf)
      .where(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(T.customer(spark, sf).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(T.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .join(T.supplier(spark, sf).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .select((col("o_custkey") * 2L).as("a"), (col("l_suppkey") * 2L + 1L).as("b"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.toSeq.groupBy(find).map { case (_, members) =>
      val mn = members.min
      mn -> ((members.size.toLong, mn))
    }
    val out = SparkEntry.queries("graph_cc")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === expected,
      "graph_cc components differ from the independent union-find result")
  }

  test("chunk law: 32/24 windows cover every token position; interior overlap is 8") {
    // Mirror of text_chunk's geometry: starts 1, 25, 49, … cover [1, n] with
    // no gaps whenever len > stride, and consecutive interior windows share
    // exactly len − stride positions.
    val rnd = new Random(17)
    (1 to 50).foreach { _ =>
      val n = rnd.nextInt(120) + 10 // fixture doc range
      val starts = 1 to n by 24
      val covered = starts.flatMap(st => st to math.min(st + 31, n)).toSet
      assert(covered === (1 to n).toSet, s"n=$n: chunk windows leave gaps")
      starts.sliding(2).foreach {
        case Seq(a, b) if b + 31 <= n =>
          val overlap = (math.max(a, b) to math.min(a + 31, b + 31)).size
          assert(overlap === 8, s"n=$n: interior overlap $overlap ≠ 8")
        case _ => ()
      }
    }
  }

  test("graph_kcore matches a driver-side peel on the same edge set") {
    // Independent recompute: collect the co-purchase edges at sf0.001
    // (small) and peel with plain Scala collections until fixpoint, then
    // require the (node, within-core degree) map to match exactly. An
    // early-stopped peel (nodes dragged under k by a removed neighbor
    // still present) or a degree computed against the pre-peel graph
    // fails this equality.
    val T = graft.Tables
    val li = T.lineitem(spark, sf).select(col("l_orderkey"), col("l_partkey"))
    val co = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= graft.GraftConfig.TriangleSupport)
      .select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val k = graft.GraftConfig.KCoreK
    var es = co
    var done = false
    while (!done) {
      val deg = es.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter { case (a, b) => keep(a) && keep(b) }
      done = next == es
      es = next
    }
    val expected = es.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
    val out = SparkEntry.queries("graph_kcore")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === expected,
      "k-core output diverges from the independent driver-side peel")
  }

  test("dedup_incremental agrees with the batch candidate pairs on delta membership") {
    // Consistency law against the already-oracled batch operator: a delta
    // doc is flagged dup_of_base IFF some batch LSH candidate pair joins
    // it to a base doc, and its dup_of is the MINIMUM such base partner.
    // (The incremental probe and the batch self-join share the band
    // signatures, so their collision relations must coincide exactly.)
    val m = graft.GraftConfig.DedupDeltaMod
    val rem = graft.GraftConfig.DedupDeltaRem
    def isDelta(id: Long) = id % m == rem
    val pairs = SparkEntry.queries("dedup_minhash")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val partners = scala.collection.mutable.Map.empty[Long, Set[Long]]
    pairs.foreach { case (a, b) =>
      if (isDelta(a) && !isDelta(b))
        partners(a) = partners.getOrElse(a, Set.empty) + b
      if (isDelta(b) && !isDelta(a))
        partners(b) = partners.getOrElse(b, Set.empty) + a
    }
    val inc = SparkEntry.queries("dedup_incremental")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(inc.nonEmpty, "incremental output is empty — delta slice missed")
    inc.foreach { case (d, dupOf) =>
      assert(dupOf === partners.get(d).map(_.min),
        s"delta doc $d: dup_of $dupOf vs batch-pair partners ${partners.get(d)}")
    }
    assert(partners.keySet.subsetOf(inc.keySet),
      "a delta doc with a batch cross-pair is missing from the incremental output")
  }

  test("pipeline_shard: shards partition the corpus and token mass balances to one max-doc") {
    val rows = SparkEntry.queries("pipeline_shard")(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === nDocs, "every doc lands in exactly one shard")
    val toks = rows.map(_.getLong(2))
    val maxDoc = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).cast("long"))
      .collect().map(_.getLong(0)).max
    assert(toks.max - toks.min <= maxDoc,
      s"size-rank round-robin must balance within one max-doc " +
        s"(spread ${toks.max - toks.min}, max doc $maxDoc)")
  }

  test("graph_label_prop: communities partition the node set; labels are node ids") {
    // Independent invariants, not an oracle re-run: LPA relabels nodes but
    // never invents or drops them, so community sizes must sum to the node
    // count of the SAME edge set (re-derived here from the declared
    // triangle/kcore co-purchase graph definition), every community label
    // must be a node id, and each community's node span must contain it...
    // except the label itself need NOT be a member (its originator may have
    // adopted another label) — so only the id-space law is asserted for
    // labels, membership only for min/max span consistency.
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_partkey"))
    val nodes = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= graft.GraftConfig.TriangleSupport)
      .select(explode(array(col("a"), col("b"))).as("node"))
      .distinct().as[Long].collect().toSet
    val out = SparkEntry.queries("graph_label_prop")(spark, sf).collect()
    assert(out.nonEmpty, "no communities — edge set empty?")
    val sizes = out.map(_.getLong(1)).sum
    assert(sizes === nodes.size.toLong,
      s"community sizes sum to $sizes but the co-purchase graph has ${nodes.size} nodes")
    out.foreach { r =>
      val (community, mn, mx) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(nodes.contains(community), s"community label $community is not a node id")
      assert(mn <= mx && nodes.contains(mn) && nodes.contains(mx),
        s"community $community span [$mn,$mx] leaves the node set")
    }
  }

  test("mm_dedup matches a driver-side brute force over the declared pHashes") {
    // Independent full-recall check of the composition on REAL data: the
    // blocked pair set must equal all-pairs Hamming≤2 over the same
    // signatures mm_phash declares (the generated-data blocking law in
    // OperatorSemanticsSpec proves the pigeonhole; this proves the wiring).
    val sig = SparkEntry.queries("mm_phash")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (d1, h1) <- sig; (d2, h2) <- sig
      if d1 < d2 && java.lang.Long.bitCount(h1 ^ h2) <= 2
    } yield (d1, d2)).toSet
    val out = SparkEntry.queries("mm_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.nonEmpty, "no near-dup pairs — fixture signatures degenerate?")
    assert(out === brute,
      s"blocked pairs ≠ brute force (missing ${(brute -- out).take(3)}, extra ${(out -- brute).take(3)})")
  }

  test("agg_cohort: offset-0 retention is exactly 1.0 and activity never exceeds the cohort") {
    val rows = SparkEntry.queries("agg_cohort")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getLong(0))
    byCohort.foreach { case (cohort, rs) =>
      val off0 = rs.find(_.getLong(1) == 0L)
      assert(off0.isDefined, s"cohort $cohort missing its own anchor day (offset 0)")
      assert(off0.get.getDouble(4) === 1.0,
        s"cohort $cohort: every member purchases on its anchor day by construction")
      rs.foreach { r =>
        assert(r.getLong(1) >= 0L, "negative offset — anchor is not the minimum day")
        assert(r.getLong(2) <= r.getLong(3),
          s"cohort $cohort offset ${r.getLong(1)}: active users exceed cohort size")
      }
    }
  }

  test("pipeline_mix: quotas respect the budget and every epoch cap") {
    // Water-fill laws: no source's quota exceeds what it has (epoch cap),
    // the quota total never exceeds the declared budget (redistribution
    // moves mass, the trailing cap and integer division only shed it),
    // selected tokens never exceed available, and a fully-kept source
    // (rate = modulus) selects exactly its whole epoch.
    val rows = SparkEntry.queries("pipeline_mix")(spark, sf).collect()
    assert(rows.nonEmpty)
    val tot = rows.map(_.getLong(1)).sum
    val budget = tot / graft.GraftConfig.MixBudgetDen
    val quotaSum = rows.map(_.getLong(2)).sum
    assert(quotaSum <= budget, s"water-fill overshot: quotas $quotaSum > budget $budget")
    rows.foreach { r =>
      val (src, avail, quota, rate, nSel, tokSel) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(quota <= avail, s"$src: quota $quota exceeds epoch $avail")
      assert(tokSel <= avail, s"$src: selected $tokSel exceeds available $avail")
      assert(rate <= graft.GraftConfig.TempSampleModulus)
      if (rate == graft.GraftConfig.TempSampleModulus)
        assert(tokSel === avail && nSel > 0L,
          s"$src: rate 1.0 must keep the whole source ($tokSel vs $avail)")
    }
  }

  test("DDSketch law: estimate within α of the value at the queried rank (generated)") {
    // The paper's actual guarantee (Masson et al. VLDB 2019): the bucket
    // midpoint is within α RELATIVE error of every value the bucket
    // covers, hence of the value at rank ceil(q·n). Log-spread generated
    // values exercise four decades; the 1e-4 output rounding adds ≤1e-3
    // relative at the small end, folded into the tolerance.
    val rnd = new Random(7)
    val vals = Seq.fill(500)(math.exp(rnd.nextDouble() * 12 - 3))
    val sk = vals.map(v => ("g", v)).toDF("k", "value")
      .groupBy(col("k"), graft.operators.Aggregates.ddBucket.as("b"))
      .agg(count(lit(1)).as("cnt"))
    val est = graft.operators.Aggregates.ddEstimate(sk, Seq("k")).collect()(0)
    val sorted = vals.sorted
    def atRank(q: Double) =
      sorted(math.max(1, math.ceil(q * vals.size).toInt) - 1)
    val tol = graft.GraftConfig.DDSketchAlpha + 2e-3
    Seq(0.5 -> est.getAs[Double]("approx_p50"),
        0.9 -> est.getAs[Double]("approx_p90")).foreach { case (q, e) =>
      val x = atRank(q)
      assert(math.abs(e - x) / x <= tol,
        s"q=$q: estimate $e vs rank value $x exceeds α tolerance")
    }
  }

  test("water-fill rate survives production token scales (decimal-widened, no int64 wrap)") {
    // The rate expression pipeline_mix/pipeline_recipe run (quota·1e6 div
    // avail on a decimal(38,0) intermediate): at ~1e13+ tokens/source the
    // old int64 product wrapped silently. Generated quota/avail pairs up
    // to 5e14 must match exact BigInt arithmetic bit-for-bit.
    val m = graft.GraftConfig.TempSampleModulus
    val rnd = new Random(41)
    val pairs = (1 to 64).map { _ =>
      val avail = 1L + (rnd.nextDouble() * 5e14).toLong
      val quota = (avail * rnd.nextDouble()).toLong
      (quota, avail)
    } :+ ((5e14.toLong, 5e14.toLong)) :+ ((0L, 1L))
    val got = pairs.toDF("quota_tok", "avail_tok")
      .withColumn("rate_micro",
        least(lit(m), expr(s"(cast(quota_tok as decimal(38,0)) * $m) div avail_tok")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (q, a, rate) =>
      val expected = math.min(m, ((BigInt(q) * m) / a).toLong)
      assert(rate === expected, s"quota=$q avail=$a: rate $rate ≠ exact $expected")
      assert(rate >= 0L && rate <= m, s"rate $rate outside [0, $m] — wrapped?")
    }
  }

  test("KS law: the integer cross-multiplied sup equals a driver-side " +
      "two-sample KS on generated samples (generated)") {
    val rnd = new Random(41)
    (1 to 5).foreach { _ =>
      val a = Seq.fill(60)((rnd.nextInt(30) + 1).toDouble)
      val b = Seq.fill(80)((rnd.nextInt(30) + 1 + rnd.nextInt(6)).toDouble)
      // Relational form: (value, na, nb) counts → running cums → integer sup.
      val df = (a.map((_, 1L, 0L)) ++ b.map((_, 0L, 1L))).toDF("v", "na", "nb")
        .groupBy("v").agg(sum("na").as("ca"), sum("nb").as("cb"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("v")
      val got = df
        .withColumn("cra", sum("ca").over(w)).withColumn("crb", sum("cb").over(w))
        .agg(max(abs(col("cra") * b.size - col("crb") * a.size)).as("d"))
        .as[Long].head()
      // Driver-side: D = sup |F_a - F_b| over the pooled support.
      val support = (a ++ b).distinct.sorted
      val exact = support.map { x =>
        math.abs(a.count(_ <= x).toLong * b.size - b.count(_ <= x).toLong * a.size)
      }.max
      assert(got === exact, s"relational KS sup $got ≠ brute force $exact")
    }
  }

  test("largest-remainder law: allocations sum to the batch and differ " +
      "from floor shares by at most 1 (generated)") {
    val rnd = new Random(43)
    (1 to 5).foreach { _ =>
      val B = 1000L; val M = 1000000L
      val n = 3 + rnd.nextInt(5)
      // Random micro-weights; deliberately NOT summing to exactly 1e6 —
      // the allocator must absorb the floor slack like the query does.
      val w = Seq.fill(n)((rnd.nextInt(900000) + 50000).toLong)
      val scale = w.sum
      val wm = w.map(x => x * M / scale)
      val df = wm.zipWithIndex.map { case (x, i) => (i.toLong, x) }
        .toDF("src", "w_micro")
        .withColumn("base", expr(s"($B * w_micro) div ${M}L"))
        .withColumn("rem", expr(s"($B * w_micro) % ${M}L"))
      val ws = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)).orderBy(col("rem").desc, col("src").asc)
      val alloc = df
        .withColumn("deficit", lit(B) - sum("base").over(ws))
        .withColumn("rk", row_number().over(wr).cast("long"))
        .withColumn("alloc",
          col("base") + when(col("rk") <= col("deficit"), 1L).otherwise(0L))
        .select("src", "base", "alloc")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(alloc.map(_._3).sum === B, "allocation must sum to the batch")
      alloc.foreach { case (src, base, a) =>
        assert(a == base || a == base + 1L,
          s"src $src: alloc $a strays from floor share $base by more than 1")
      }
    }
  }

  test("facet transport law: schema/colmap/tags round-trip the log AND a " +
      "checkpoint for generated transport-safe names (generated)") {
    import graft.sources.CommitLog
    val rnd = new Random(77)
    val alpha = ('a' to 'z') ++ ('0' to '9') ++ Seq('_', '-', '.')
    def name(): String =
      (1 to (2 + rnd.nextInt(10))).map(_ => alpha(rnd.nextInt(alpha.size)))
        .mkString
    (1 to 5).foreach { _ =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_facetprop").toString
      Seq((1L, 10.0)).toDF("key", "val")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/g=1")
      CommitLog.commit(root, 1L, "g=1")
      val schema = (1 to 1 + rnd.nextInt(4)).map(_ => name() -> "bigint")
        .distinctBy(_._1)
      val colmap = (1 to 1 + rnd.nextInt(3)).map(_ => name() -> name())
        .distinctBy(_._1)
      val tags = (1 to 1 + rnd.nextInt(3)).map(_ => name() -> (rnd.nextInt(2) + 1).toLong)
        .distinctBy(_._1)
      CommitLog.setSchema(root, 2L, schema)
      CommitLog.setColMap(root, 3L, colmap)
      CommitLog.setTags(root, 4L, tags)
      // Force a checkpoint boundary, then resolve from checkpoint + tail.
      (5L to CommitLog.CheckpointInterval + 1L).foreach(v =>
        CommitLog.commitFiles(root, v, Nil, Nil))
      val v = CommitLog.CheckpointInterval + 1L
      assert(CommitLog.logFilesForSnapshot(root, v).exists(
        _.getFileName.toString.endsWith(".checkpoint.json")))
      assert(CommitLog.schemaAsOf(root, v)
        === schema.map { case (n, t) => s"$n $t" },
        s"schema facet corrupted in transport: $schema")
      assert(CommitLog.colMapAsOf(root, v) === colmap,
        s"colmap facet corrupted in transport: $colmap")
      tags.foreach { case (n, tv) =>
        assert(CommitLog.versionOfTag(root, n) === tv,
          s"tag $n corrupted in transport")
      }
    }
  }
}
