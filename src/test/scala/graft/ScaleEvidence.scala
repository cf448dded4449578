package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Evidence tool behind PERF.md's scale-factor stretch table (not a
  * test — run with `Test/runMain graft.ScaleEvidence [replicas]`).
  *
  * Builds an N× replica of the sf0.1 testdata in /tmp (default N=10,
  * i.e. sf1-equivalent row counts) and times a representative query
  * subset at both scales in ONE JVM, printing a markdown table of
  * per-query seconds and the N×/1× ratio. A ratio well above N on a
  * fixed-core box flags super-linear work (the 100-TB red flag); at or
  * below N is linear-or-better (fixed overheads amortising).
  *
  * Replication preserves workload shape instead of inflating duplicate
  * structure: keys shift per replica; document text gets a per-replica
  * suffix token (so exact/near-dup structure repeats per replica rather
  * than exploding cross-replica); embeddings are decorrelated by a
  * deterministic per-replica sign flip per dimension (norms and
  * intra-replica geometry preserved, cross-replica cosine randomised).
  * Dimension tables (nation/region/part/supplier) and events stay
  * unscaled — dimensions stay dimension-sized at any corpus scale. */
object ScaleEvidence {

  private val Shift = 1L << 40 // key offset per replica; far above any sf0.1 id

  private def signs(replica: Int, dims: Int): Array[Float] = {
    // deterministic LCG over (replica, dim); replica 0 is identity so
    // the 1x slice of the scaled corpus is byte-identical to the source
    if (replica == 0) Array.fill(dims)(1f)
    else Array.tabulate(dims) { d =>
      val x = (replica * 2862933555777941757L + d * 3202034522624059733L) ^ 0x9e3779b97f4a7c15L
      if (((x >>> 17) & 1L) == 0L) 1f else -1f
    }
  }

  /** Idempotently build the N× replica of `srcDir` and return its
    * directory — shared by the timing table here and the correctness
    * invariants in [[ScaleCorrectness]] (same replica, same session). */
  def ensureReplica(spark: SparkSession, srcDir: String, replicas: Int): String = {
    val outDir = s"/tmp/graft_scale_x$replicas"
    build(spark, srcDir, outDir, replicas)
    outDir
  }

  /** Key offset per replica (public for invariant tooling: rows with
    * every id below [[ReplicaShift]] are the byte-identical replica-0
    * copy of the source data). */
  def ReplicaShift: Long = Shift

  private def build(spark: SparkSession, srcDir: String, outDir: String,
                    replicas: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/_SCALE_DONE"))) return

    def replicate(name: String)(tx: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$srcDir/$name.parquet")
      val scaled = (0 until replicas).map(r => tx(base, r)).reduce(_.unionByName(_))
      scaled.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }

    replicate("documents") { (df, r) =>
      if (r == 0) df
      else df.select(
        (col("doc_id") + lit(r * Shift)).as("doc_id"),
        concat(col("text"), lit(s" zrep$r")).as("text"),
        col("lang"), col("source"),
        (col("n_chars") + lit(s" zrep$r".length.toLong)).as("n_chars"))
    }
    val dims = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .selectExpr("size(embedding) d").first().getInt(0)
    replicate("embeddings") { (df, r) =>
      if (r == 0) df
      else {
        val s = typedLit(signs(r, dims))
        df.select((col("vec_id") + lit(r * Shift)).as("vec_id"),
          zip_with(col("embedding"), s, (x, sg) => x * sg).as("embedding"),
          col("label"))
      }
    }
    replicate("lineitem") { (df, r) =>
      if (r == 0) df
      else df.withColumn("l_orderkey", col("l_orderkey") + lit(r * Shift))
    }
    replicate("orders") { (df, r) =>
      if (r == 0) df
      else df.withColumn("o_orderkey", col("o_orderkey") + lit(r * Shift))
        .withColumn("o_custkey", col("o_custkey") + lit(r * Shift))
    }
    replicate("customer") { (df, r) =>
      if (r == 0) df
      else df.withColumn("c_custkey", col("c_custkey") + lit(r * Shift))
    }
    for (dim <- Seq("nation", "region", "part", "supplier", "events"))
      fs.copyFromLocalFile(false, true,
        new org.apache.hadoop.fs.Path(s"$srcDir/$dim.parquet"),
        new org.apache.hadoop.fs.Path(s"$outDir/$dim.parquet"))
    fs.create(new org.apache.hadoop.fs.Path(s"$outDir/_SCALE_DONE")).close()
  }

  // spans the engine's plan shapes: decimal-exact aggs + AQE broadcast
  // joins, hash/minhash/token dedup, cluster-blocked semantic dedup,
  // ANN argmax paths, windowed token streams, sampling, URL curation
  private val Queries = Seq(
    "q1_pricing", "q3_topn_join", "q5_join5",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_semantic",
    "q_dedup_semantic_mp", "q_cluster_sample",
    "q_ann_brute", "q_ann_ivf",
    "q_substr_spans", "q_line_dedup", "q_dsir", "q_gopher_rules",
    "q_lm_score", "q_source_cap", "q_stratified_sample", "q_url_dedup",
    "q_curation_pipeline2",
    // r8: iterative graph (10x disconnected replicas — linear if the
    // per-iteration shuffle is the only corpus-sized step) and BPE
    // induction (corpus pass + vocab-sized iterations)
    "q_pagerank", "q_bpe_train",
    // r8 continuation: Lloyd training (per-iteration shuffle is k×dim,
    // corpus-size-independent — expect sub-linear) and label
    // propagation (two O(|E|) shuffles per round)
    "q_kmeans", "q_labelprop",
    // r8 continuation 3/4: Expand-based cube (4x the corpus through
    // partial agg), per-key-window SCD2 over scaled orders, the
    // bigram-frame PMI + query-filtered BM25 text pair, and
    // degree-ordered triangles (pair self-join scales; the distinct
    // edge set largely repeats per replica)
    "q_cube", "q_scd2", "q_pmi", "q_bm25", "q_triangles",
    // r9: production-k BPE induction (vocab-sized driver loop after one
    // corpus aggregation — expect flat-ish) and the ordered token
    // stream (zero-shuffle corpus projection — expect ~linear)
    "q_bpe_train64", "q_bpe_tokenize",
    // r9 continuation: the ingest cleaning projections (zero-shuffle,
    // expect ~linear scan-bound) and the full tokenize->chunk->pack
    // shard-writer composition (one window + one bounded aggregation
    // past the tokenize pass)
    "q_unicode_nfc", "q_clean_text", "q_pack_tokens",
    // r10: the chunk-assignment pair on its own (the family whose
    // wall-clock drifted in r9 — a pinned 1x/10x growth ratio makes the
    // next drift attributable: harness context moves BOTH columns,
    // super-linear work moves the ratio) and the markup-strip projection
    "q_pack_chunks", "q_pack_chunks_sharded", "q_html_strip",
    "q_ingest_clean", "q_c4_rules", "q_dedup_sentences")

  def main(args: Array[String]): Unit = {
    val replicas = args.headOption.map(_.toInt).getOrElse(10)
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = s"/tmp/graft_scale_x$replicas"
    val spark = GraftSession.builder("local[32]", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    println(s"[scale] building ${replicas}x replica of $srcDir at $outDir")
    build(spark, srcDir, outDir, replicas)
    for (t <- Seq("documents", "embeddings", "lineitem"))
      println(s"[scale] $t: " + spark.read.parquet(s"$outDir/$t.parquet").count() + " rows")

    def time(name: String, dir: String): Double = {
      def once(): Double = Bench.runOnce(spark, dir, name)
      once() // warm-up
      math.min(once(), once())
    }

    println(f"\n| query | 1x (s) | ${replicas}x (s) | ratio |")
    println("|---|---|---|---|")
    for (q <- Queries) {
      val t1 = time(q, srcDir)
      val tn = time(q, outDir)
      println(f"| $q | $t1%.2f | $tn%.2f | ${tn / t1}%.1f |")
    }
    spark.stop()
  }
}
