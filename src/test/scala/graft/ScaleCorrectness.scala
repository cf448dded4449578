package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Correctness (not timing) evidence at the 10× (sf1-equivalent) scale
  * for the query families whose DuckDB ORACLE is super-linear and is
  * therefore excluded from the sf1 oracle sweep (minhash banding CTEs,
  * recursive-CTE clustering, triangle wedge joins). Run with
  * `Test/runMain graft.ScaleCorrectness [replicas]` (default 10);
  * prints a markdown verdict table and exits non-zero on any failure.
  *
  * Two invariant classes, both EXACT (set equality, no tolerances):
  *
  *  1. REPLICA RESTRICTION — for the pair-emitting dedup operators
  *     (minhash, simhash, winnowing, n-gram Jaccard), whether a pair
  *     (a, b) is emitted depends ONLY on the two documents' own
  *     shingles/signatures: banding buckets pair docs by equality of
  *     their own band values and verification is per-pair. The
  *     [[ScaleEvidence]] replica keeps replica 0 byte-identical to the
  *     source, so the 10× result restricted to pairs with BOTH
  *     endpoints below [[ScaleEvidence.ReplicaShift]] must equal the 1×
  *     result exactly — while the operator itself ran against the full
  *     10× corpus (10× docs in every band bucket, cross-replica
  *     near-dup pairs live in the same shuffles).
  *
  *  2. INDEPENDENT RECOMPUTE at full 10× — for the graph operators the
  *     restriction argument does not cover (connected components see
  *     cross-replica edges; the triangle substrate's `%10` orderkey
  *     slice differs per replica):
  *     - q_dedup_cluster: plain neighbour min-propagation to fixpoint
  *       (NO pointer jumping — a different iteration than the engine's
  *       O(log d) pointer-jumping CC) over the same 10× pair graph,
  *       compared label-for-label, plus the structural checks that
  *       every pair's endpoints share a cluster and every cluster id is
  *       the cluster's own minimum member.
  *     - q_triangles: adjacency-set intersection (array_intersect over
  *       full undirected neighbour lists, each triangle counted 3× then
  *       divided — a different formulation than the engine's
  *       degree-ordered wedge join + closing-edge join), compared
  *       per-node-count-exact.
  */
object ScaleCorrectness {

  /** MULTISET equality: rows collapsed to (row, multiplicity) before
    * the two-way except — plain `except` is set-semantics and would
    * miss compensating duplicates (engine emits {x, x, y} vs recompute
    * {x, y, y}: counts match and both excepts are empty). */
  private def exactEq(a: DataFrame, b: DataFrame): Boolean = {
    def counted(df: DataFrame) = df.groupBy(df.columns.map(col): _*)
      .agg(count(lit(1)).as("_mult"))
    a.count() == b.count() &&
      counted(a).except(counted(b)).isEmpty &&
      counted(b).except(counted(a)).isEmpty
  }

  /** Plain neighbour min-label propagation to fixpoint — deliberately
    * the naive O(diameter) algorithm, sharing nothing with
    * NearDup.duplicateClusters' pointer jumping beyond the spec. */
  private def naiveCC(pairs: DataFrame, maxIter: Int = 200): DataFrame = {
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .distinct()
    var labels = graft.ops.Caching.materialize(
      edges.select(col("u").as("n")).distinct()
        .select(col("n"), col("n").as("lbl")))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val viaNbr = edges.join(labels.select(col("n").as("v"), col("lbl")), Seq("v"))
        .groupBy(col("u").as("n")).agg(min(col("lbl")).as("_nl"))
      val next = graft.ops.Caching.materialize(
        labels.join(viaNbr, Seq("n"), "left")
          .select(col("n"), least(col("lbl"), coalesce(col("_nl"), col("lbl"))).as("lbl")))
      changed = next.join(labels.select(col("n"), col("lbl").as("_old")), Seq("n"))
        .filter(col("lbl") =!= col("_old")).count()
      graft.ops.Caching.releaseMaterialized(labels)
      labels = next
      it += 1
    }
    require(changed == 0, s"naive CC did not converge in $maxIter rounds")
    labels
  }

  /** Synchronous plurality label propagation re-derived from the SPEC
    * with a deliberately different plan: window-function ranking
    * (row_number over count DESC, label ASC) instead of the engine's
    * single-aggregation min_by struct, no dst-hash repartition hint, no
    * per-round checkpointing — same pure function of (edge set, iters),
    * nothing shared with Graph.labelPropagation's execution shape. */
  private def naiveLabelProp(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull)
    val nodes = e.select(col("s").as("node")).union(e.select(col("d"))).distinct()
    var labels = graft.ops.Caching.materialize(
      nodes.select(col("node"), col("node").as("label")))
    for (_ <- 1 to iters) {
      val votes = e.join(labels.select(col("node").as("s"), col("label")), Seq("s"))
        .groupBy(col("d"), col("label")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("d"))
        .orderBy(col("n").desc, col("label").asc)
      val winners = votes.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).select(col("d").as("node"), col("label").as("_w"))
      val next = graft.ops.Caching.materialize(
        labels.join(winners, Seq("node"), "left")
          .select(col("node"), coalesce(col("_w"), col("label")).as("label")))
      graft.ops.Caching.releaseMaterialized(labels)
      labels = next
    }
    labels
  }

  /** Per-node triangle counts via full-adjacency set intersection. */
  private def trianglesByIntersection(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val adj = und.select(col("u").as("n"), col("v").as("nb"))
      .union(und.select(col("v"), col("u")))
      .groupBy(col("n")).agg(sort_array(collect_set(col("nb"))).as("nbs"))
    val withCommon = und
      .join(adj.select(col("n").as("u"), col("nbs").as("nu")), Seq("u"))
      .join(adj.select(col("n").as("v"), col("nbs").as("nv")), Seq("v"))
      .select(col("u"), col("v"), array_intersect(col("nu"), col("nv")).as("common"))
      .filter(size(col("common")) > 0)
    // edge (u,v) with common neighbours W: u and v each sit in |W|
    // triangles through this edge, each w in one — summed over all
    // edges every triangle credits each member exactly 3 times
    val contrib = withCommon.select(col("u").as("node"), size(col("common")).cast("long").as("c"))
      .union(withCommon.select(col("v"), size(col("common")).cast("long")))
      .union(withCommon.select(explode(col("common")).as("node"), lit(1L)))
    contrib.groupBy(col("node")).agg((sum(col("c")) / 3).cast("long").as("n_triangles"))
  }

  def main(args: Array[String]): Unit = {
    val replicas = args.headOption.map(_.toInt).getOrElse(10)
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("local[32]", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bigDir = ScaleEvidence.ensureReplica(spark, srcDir, replicas)
    val shift = ScaleEvidence.ReplicaShift

    var failures = 0
    def report(q: String, invariant: String, ok: Boolean, detail: String): Unit = {
      if (!ok) failures += 1
      println(f"| $q | $invariant | $detail | ${if (ok) "PASS" else "FAIL"} |")
    }
    println(s"\n| query | invariant (${replicas}x corpus) | detail | verdict |")
    println("|---|---|---|---|")

    // ---- invariant class 1: replica-restriction equality ------------
    for (q <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_winnow_pairs",
                  "q_dedup_ngram")) {
      val at1 = SparkEntry.queries(q)(spark, srcDir)
      val atN = SparkEntry.queries(q)(spark, bigDir)
        .filter(col("doc_a") < shift && col("doc_b") < shift)
      val n1 = at1.count(); val nN = atN.count()
      report(q, "replica-0 restriction == 1x result (exact, all columns)",
        exactEq(at1, atN), s"$n1 pairs at 1x, $nN restricted at ${replicas}x")
    }

    // ---- invariant class 2: independent recompute at full Nx --------
    locally {
      val docs = spark.read.parquet(s"$bigDir/documents.parquet")
      val pairs = graft.ops.NearDup.minhashPairs(docs, mode = graft.ops.HashMode.Portable)
      val engine = SparkEntry.queries("q_dedup_cluster")(spark, bigDir)
      val naive = naiveCC(pairs)
      val paired = engine.join(naive.select(col("n").as("doc_id"), col("lbl")),
        Seq("doc_id"), "left")
      val labelMismatch = paired.filter(
        coalesce(col("lbl"), col("doc_id")) =!= col("cluster")).count()
      val canonMismatch = paired.filter(
        (col("doc_id") === col("cluster")) =!= col("is_canonical")).count()
      val edgeSplit = pairs
        .join(engine.select(col("doc_id").as("doc_a"), col("cluster").as("ca")), Seq("doc_a"))
        .join(engine.select(col("doc_id").as("doc_b"), col("cluster").as("cb")), Seq("doc_b"))
        .filter(col("ca") =!= col("cb")).count()
      val badMin = engine.filter(!col("is_canonical"))
        .groupBy(col("cluster")).agg(min(col("doc_id")).as("m"))
        .filter(col("m") < col("cluster")).count()
      report("q_dedup_cluster",
        "labels == naive min-propagation fixpoint; edges never split; cluster id is min member",
        labelMismatch == 0 && canonMismatch == 0 && edgeSplit == 0 && badMin == 0,
        s"${pairs.count()} pairs, ${engine.count()} docs, " +
          s"mismatch=$labelMismatch/$canonMismatch split=$edgeSplit badmin=$badMin")
    }

    locally {
      // the same co-purchase graph q_labelprop runs on (orders x
      // lineitem, distinct, symmetrised), rebuilt here from the tables
      val o = spark.read.parquet(s"$bigDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"))
      val li = spark.read.parquet(s"$bigDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"))
      val cp = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("c"),
          (col("l_suppkey").cast("long") + 10000000L).as("p"))
        .distinct()
      val edges = cp.select(col("c").as("src"), col("p").as("dst"))
        .union(cp.select(col("p").as("src"), col("c").as("dst")))
      val engine = SparkEntry.queries("q_labelprop")(spark, bigDir)
      val indep = naiveLabelProp(edges, 5)
      report("q_labelprop",
        "labels == window-ranked naive recompute (exact, 5 rounds)",
        exactEq(engine.select(col("node").cast("long"), col("label").cast("long")),
          indep.select(col("node").cast("long"), col("label").cast("long"))),
        s"${engine.count()} nodes at ${replicas}x")
    }

    locally {
      val li = spark.read.parquet(s"$bigDir/lineitem.parquet")
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("sk")).distinct()
      val e = li.select(col("o"), col("sk").as("sa"))
        .join(li.select(col("o"), col("sk").as("sb")), Seq("o"))
        .filter(col("sa") < col("sb"))
        .select(col("sa").as("src"), col("sb").as("dst"))
      val engine = SparkEntry.queries("q_triangles")(spark, bigDir)
      val indep = trianglesByIntersection(e).filter(col("n_triangles") > 0)
      report("q_triangles",
        "per-node counts == adjacency-intersection recompute (exact)",
        exactEq(engine.select(col("node").cast("long"), col("n_triangles").cast("long")),
          indep.select(col("node").cast("long"), col("n_triangles").cast("long"))),
        s"${engine.count()} nodes with triangles at ${replicas}x")
    }

    spark.stop()
    if (failures > 0) {
      System.err.println(s"[scale-correctness] $failures invariant(s) FAILED")
      sys.exit(1)
    }
    println(s"\n[scale-correctness] all invariants passed at ${replicas}x")
  }
}
