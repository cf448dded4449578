package graftbench

import graft.GraftSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Progress lines on stderr (the harness log), with seconds since start. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.3f] $msg")
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Benchmark harness entry point. Runs one workload in one JVM on
  * `local[4]` and prints one JSON line prefixed `GRAFTBENCH ` with the
  * end-to-end metrics (and, with `--trace 1`, the per-layer metrics). */
object Main {

  val Cores = 4

  private def num(m: Map[String, Double]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) })

  /** Exits explicitly: `GovernanceHttpServer.stop()` leaves its request
    * executor's non-daemon threads running, which would keep the JVM up. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val runDir = opts("run")
    val dataDir = opts("data")
    val repoRoot = opts("repo")
    val expected = JsonMethods.parse(new java.io.File(s"$dataDir/expected.json"))

    val spark = GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$runDir/spark-checkpoints")
    val ctx = new Ctx(spark, runDir, dataDir, expected)
    val w = Workload(workload, ctx)
    try {
      Log("session ready")
      w.setup()
      Log("setup done")
      val setupDoneMs = System.currentTimeMillis()

      val plain = w.window(seconds, new Tracer(false))
      Log(s"window done: ${plain.size} ops")
      val e2e = Layers.endToEnd(plain)
      val fields = scala.collection.mutable.LinkedHashMap[String, JValue](
        "setup_done_ms" -> JLong(setupDoneMs), "samples" -> JInt(plain.size))

      val traced = if (!trace) Nil else {
        val rec = new SparkRecorder
        rec.register(spark)
        val tracer = new Tracer(true)
        val ops = w.window(seconds, tracer)
        rec.settle()
        val modules = new ModuleMap(repoRoot)
        val tracedE2e = Layers.endToEnd(ops)
        val layers = Layers.perLayer(ops, tracer, rec, modules,
          w.baselines(tracer) ++ w.layerGauges(), e2e, tracedE2e)
        tracer.write(s"$runDir/spans.jsonl")
        rec.write(s"$runDir/jobs.jsonl", modules)
        fields("layers") = JObject(Layers.Names.toList.map(k => k -> JDouble(layers(k))))
        fields("metrics_traced") = num(tracedE2e)
        ops
      }
      val failures = w.verify()
      def failed(o: Op) = o.error.orElse(failures.get(o.id))
      fields("attempted") = JInt(plain.size)
      fields("failed") = JInt(plain.count(failed(_).isDefined))
      fields("samples_traced") = JInt(traced.size)
      fields("failed_traced") = JInt(traced.count(failed(_).isDefined))
      fields("errors") = JArray((plain ++ traced).flatMap(failed).take(5).map(JString(_)).toList)
      fields("metrics") = num(e2e)
      def byKind(os: Seq[Op], f: Seq[Op] => Double) =
        num(os.groupBy(_.kind).map { case (k, g) => k -> f(g) })
      fields("per_kind_p50_s") = byKind(plain, g => Stats.median(g.map(_.seconds)))
      fields("per_kind_count") = byKind(plain, _.size.toDouble)
      fields("per_kind_count_traced") = byKind(traced, _.size.toDouble)
      println("GRAFTBENCH " + JsonMethods.compact(JObject(fields.toList)))
    } finally {
      w.close()
      spark.stop()
    }
  }
}

/** Maps a source file name to its graft module (`io`, `quality`, ...),
  * for attributing Spark jobs by the call site in their stage names. */
final class ModuleMap(repoRoot: String) {
  private val root = new java.io.File(s"$repoRoot/src/main/scala/graft")
  private val byFile: Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.endsWith(".scala")).map { f =>
      val rel = root.toPath.relativize(f.toPath)
      f.getName -> (if (rel.getNameCount > 1) rel.getName(0).toString else "graft")
    }.toMap
  }
  /** `"save at ContractIO.scala:118"` → `io`; other Scala files are the
    * harness's own, anything else is Spark's. */
  def of(callSite: String): String = {
    val file = callSite.trim.split("\\s+").last.split(":").head
    byFile.getOrElse(file, if (file.endsWith(".scala")) "perfbench" else "spark")
  }
}

object ModuleMap {
  private val Frame = """\s*([\w$.]+)\.[\w$<>]+\(([\w$]+\.scala:\d+)\)""".r
  /** The first non-Spark, non-library frame of a long-form call site, as
    * `"at File.scala:N"`. */
  def userFrame(longForm: String): Option[String] =
    Option(longForm).toSeq.flatMap(_.split("\n")).collectFirst {
      case Frame(cls, fileLine) if !cls.startsWith("org.apache.spark") && !cls.startsWith("scala.") =>
        s"at $fileLine"
    }
}

object Layers {

  def endToEnd(ops: Seq[Op]): Map[String, Double] = {
    val wall = if (ops.isEmpty) 0.0 else (ops.map(_.endNs).max - ops.map(_.startNs).min) / 1e9
    val lat = ops.map(_.seconds)
    Map(
      "rows_per_s" -> ops.map(_.rows).sum / wall,
      "ops_per_s" -> ops.size / wall,
      "op_p50_s" -> Stats.median(lat))
  }

  val Kinds = Seq("write_noop", "write_split", "write_flag", "write_strict", "write_unique",
    "read", "governed_write", "governed_read")
  /** The curation queries. Left out to fit the per-run time budget:
    * q_labelprop (one cold-cache run takes ~16 s on the benchmark's tables,
    * ~52 s at sf0.1) and q_dsir3 (~7 s of a run; q_lm_score5 covers its
    * family of driver-side language-model builds). */
  val Queries = Seq(
    "q_lm_score5", "q_bpe_train", "q_pagerank", "q_kmeans",
    "q_clean_text", "q_c4_rules", "q_gopher_rules", "q_lang_id_trained",
    "q_curation_pipeline2", "q_source_cap", "q_topk_groups")
  val StreamPhases = Seq("triggerExecution" -> "trigger_s", "addBatch" -> "add_batch_s",
    "walCommit" -> "wal_commit_s", "commitOffsets" -> "commit_offsets_s",
    "latestOffset" -> "latest_offset_s", "queryPlanning" -> "query_planning_s",
    "getBatch" -> "get_batch_s")

  /** Every per-layer metric name, in a fixed order; metrics of a layer a
    * workload does not reach are reported as 0. */
  val Names: Seq[String] =
    Seq("spark.jobs_per_op", "spark.tasks_per_op", "spark.task_s_per_op",
      "spark.task_cpu_s_per_op", "spark.busy_frac", "spark.driver_s_per_op",
      "spark.plan_s_per_op", "spark.gc_s_per_op", "spark.shuffle_bytes_per_op",
      "spark.spill_bytes_per_op") ++
      Kinds.flatMap(k => Seq(s"io.${k}_s", s"io.${k}_passes")) ++
      Seq("io.plain_write_s", "io.governance_tax",
        "quality.prescan_jobs_per_op", "quality.prescan_s_per_op",
        "contracts.calls_per_op", "contracts.call_s",
        "governance.calls_per_op", "governance.call_s", "governance.drafts_proposed",
        "service.call_s", "service.calls_per_batch", "service.overhead_s",
        "obs.sink_s") ++
      StreamPhases.map("stream." + _._2) ++ Seq("stream.engine_s", "stream.callback_s") ++
      Queries.flatMap(q => Seq("build_s", "exec_s", "jobs", "busy_frac", "cached_left")
        .map(m => s"ops.$q.$m")) ++
      Seq("cached_rdds_left", "trace.op_p90_s", "trace.overhead_op_p50_frac",
        "trace.overhead_ops_per_s_frac")

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo
    var total = 0L
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def perLayer(ops: Seq[Op], tracer: Tracer, rec: SparkRecorder,
               modules: ModuleMap, extra: Map[String, Double],
               untraced: Map[String, Double], traced: Map[String, Double]): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap(Names.map(_ -> 0.0): _*)
    val n = math.max(ops.size, 1).toDouble
    val jobs = rec.allJobs
    def jobsOf(o: Op) = jobs.filter(j => j.startMs >= o.startMs && j.startMs <= o.endMs)
    val byOp = ops.map(o => o -> jobsOf(o))
    val opJobs = byOp.flatMap(_._2)
    val wall = ops.map(_.seconds).sum
    m("spark.jobs_per_op") = opJobs.size / n
    m("spark.tasks_per_op") = opJobs.map(_.tasks).sum / n
    m("spark.task_s_per_op") = opJobs.map(_.taskS).sum / n
    m("spark.task_cpu_s_per_op") = opJobs.map(_.cpuS).sum / n
    m("spark.busy_frac") = if (wall > 0) opJobs.map(_.taskS).sum / (wall * Main.Cores) else 0.0
    m("spark.driver_s_per_op") = byOp.map { case (o, js) =>
      (o.endMs - o.startMs - covered(js.map(j => (j.startMs, j.endMs)), o.startMs, o.endMs)) / 1e3
    }.sum / n
    m("spark.plan_s_per_op") = rec.allPlanning.filter { case (t, _) =>
      ops.exists(o => t >= o.startMs && t <= o.endMs)
    }.map(_._2).sum / n
    m("spark.gc_s_per_op") = opJobs.map(_.gcS).sum / n
    m("spark.shuffle_bytes_per_op") = opJobs.map(_.shuffleBytes).sum / n
    m("spark.spill_bytes_per_op") = opJobs.map(_.spillBytes).sum / n

    for ((kind, os) <- byOp.groupBy(_._1.kind) if Kinds.contains(kind)) {
      m(s"io.${kind}_s") = Stats.median(os.map(_._1.seconds))
      m(s"io.${kind}_passes") =
        os.flatMap(_._2).map(_.recordsRead).sum.toDouble / os.map(_._1.rows).sum
    }
    extra.get("io.plain_write_s").foreach { p =>
      m("io.plain_write_s") = p
      if (p > 0) m("io.governance_tax") = m("io.write_noop_s") / p
    }
    val prescan = opJobs.filter(j => modules.of(j.callSite) == "quality")
    m("quality.prescan_jobs_per_op") = prescan.size / n
    m("quality.prescan_s_per_op") = prescan.map(j => (j.endMs - j.startMs) / 1e3).sum / n

    // per-call times are means of self time (a span minus its child spans):
    // calls mix cheap lookups with full round trips, and a remote governance
    // call's HTTP time belongs to its `service` child span
    val spans = tracer.all
    val children = spans.groupBy(_.parent)
    def layer(l: String) = spans.filter(_.layer == l)
    def selfMean(l: String) = {
      val own = layer(l).map(s => s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum)
      if (own.isEmpty) 0.0 else own.sum / own.size
    }
    m("contracts.calls_per_op") = layer("contracts").size / n
    m("contracts.call_s") = selfMean("contracts")
    m("governance.calls_per_op") = layer("governance").size / n
    m("governance.call_s") = selfMean("governance")
    m("service.call_s") = selfMean("service")
    m("obs.sink_s") = selfMean("obs")

    val progress = rec.allProgress
    if (progress.nonEmpty) {
      m("service.calls_per_batch") =
        layer("service").size.toDouble / math.max(layer("stream").size, 1)
      for ((key, name) <- StreamPhases)
        m(s"stream.$name") = Stats.median(progress.map(_._2.getOrElse(key, 0L) / 1e3))
      m("stream.engine_s") = Stats.median(progress.map { case (_, d) =>
        (d.getOrElse("triggerExecution", 0L) - d.getOrElse("addBatch", 0L)) / 1e3
      })
      m("stream.callback_s") = Stats.median(layer("stream").map(_.seconds))
    }

    if (ops.exists(o => Queries.contains(o.kind))) {
      val builds = spans.filter(s => s.layer == "ops" && s.name == "build")
      val execs = spans.filter(s => s.layer == "bench" && s.name == "exec")
      for ((q, os) <- byOp.groupBy(_._1.kind)) {
        val ids = os.map(_._1.id).toSet
        m(s"ops.$q.build_s") = Stats.median(builds.filter(s => ids.contains(s.op)).map(_.seconds))
        m(s"ops.$q.exec_s") = Stats.median(execs.filter(s => ids.contains(s.op)).map(_.seconds))
        m(s"ops.$q.jobs") = os.flatMap(_._2).size.toDouble / os.size
        val qwall = os.map(_._1.seconds).sum
        m(s"ops.$q.busy_frac") = os.flatMap(_._2).map(_.taskS).sum / (qwall * Main.Cores)
        m(s"ops.$q.cached_left") = os.map(_._1.cachedLeft).sum.toDouble / os.size
      }
    }
    m("cached_rdds_left") = ops.map(_.cachedLeft).sum.toDouble
    m("governance.drafts_proposed") = extra.getOrElse("governance.drafts_proposed", 0.0)
    m("service.overhead_s") = extra.getOrElse("service.overhead_s", 0.0)
    m("trace.overhead_op_p50_frac") = traced("op_p50_s") / untraced("op_p50_s") - 1.0
    m("trace.op_p90_s") = Stats.quantile(ops.map(_.seconds), 0.9)
    m("trace.overhead_ops_per_s_frac") = untraced("ops_per_s") / traced("ops_per_s") - 1.0
    m.toMap
  }
}
