package graftbench

import graft.{DemoContracts, SparkEntry}
import graft.contracts.{Contract, FieldDef, FsContractStore, QualityRule, SchemaObjectDef}
import graft.governance.{GovernanceBackend, GovernanceService}
import graft.io.{ContractIO, ContractVersionLocator, GovernedIO, WriteResult}
import graft.obs.LogObservationSink
import graft.quality.{Expectations, ValidationResult}
import graft.service.{GovernanceHttpServer, HttpGovernanceClient}
import graft.strategies.{FlagStrategy, NoOpStrategy, SplitStrategy, StrictStrategy}
import graft.stream.ContractStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.json4s._

import scala.collection.mutable.ArrayBuffer

/** One timed operation: a governed call, a micro-batch or a query. */
final case class Op(id: Long, kind: String, startNs: Long, endNs: Long, startMs: Long,
                    endMs: Long, rows: Long, error: Option[String] = None, cachedLeft: Int = 0) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Shared by every workload: the session, this run's directories and the
  * generator's expected counts. */
final class Ctx(val spark: SparkSession, val runDir: String, val dataDir: String,
                val expected: JValue) {
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)
  def nextId(): Long = seq.incrementAndGet()
  def out(name: String): String = s"$runDir/out/$name"
  def long(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d.toLong
    case other => sys.error(s"not a number: $other")
  }
  def counts(v: JValue): Map[String, Long] = v match {
    case JObject(fs) => fs.map { case (k, x) => k -> long(x) }.toMap
    case _ => Map.empty
  }
}

/** A closed-loop workload with one client. `window` runs operations for
  * about `seconds` and returns them; output checks that need Spark jobs
  * are queued and run by `verify`, outside the timed window. */
trait Workload {
  def setup(): Unit
  def window(seconds: Double, tracer: Tracer): Seq[Op]
  /** Reference timings taken after the traced window (traced run only). */
  def baselines(tracer: Tracer): Map[String, Double] = Map.empty
  /** Runs the queued output checks; returns failure messages by op id. */
  def verify(): Map[Long, String]
  def layerGauges(): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "governed_batch" => new GovernedBatch(ctx)
    case "curation_queries" => new CurationQueries(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def num(v: Any): Option[Long] = v match {
    case n: Number => Some(n.longValue)
    case _ => None
  }

  /** Compares `row_count` and every `violations.*` metric of a verdict to
    * the expected counts (absent keys expect 0). */
  def checkMetrics(v: ValidationResult, contract: Contract, rows: Long,
                   planted: Map[String, Long]): Option[String] = {
    val keys = Expectations.fromContract(contract).filter(_.rule != "query")
      .map(s => s"violations.${s.key}")
    val want = Map("row_count" -> rows) ++ keys.map(k => k -> planted.getOrElse(k, 0L))
    val bad = want.toSeq.sortBy(_._1).flatMap { case (k, w) =>
      val got = v.metrics.get(k).flatMap(num)
      if (got.contains(w)) None else Some(s"$k=${got.getOrElse("missing")} want $w")
    }
    if (bad.isEmpty) None else Some(bad.mkString(", "))
  }
}

/** Contracts over the generated lineitem table. */
object BenchContracts {
  private def f(name: String, tpe: String, required: Boolean, rules: QualityRule*) =
    FieldDef(name, Some(tpe), required = required, quality = rules)
  private def ge(v: BigDecimal) = QualityRule(mustBeGreaterOrEqualTo = Some(v))
  private def gt(v: BigDecimal) = QualityRule(mustBeGreaterThan = Some(v))
  private def le(v: BigDecimal) = QualityRule(mustBeLessOrEqualTo = Some(v))
  private def lt(v: BigDecimal) = QualityRule(mustBeLessThan = Some(v))

  val demo: Contract = DemoContracts.lineitem

  /** 25 rules over the same columns; only the demo's planted keys fire. */
  val wide: Contract = demo.copy(id = "sales.lineitem_wide", schema = Seq(SchemaObjectDef(
    "lineitem", Seq(
      f("l_orderkey", "bigint", true, ge(0)),
      f("l_partkey", "bigint", true, gt(0)),
      f("l_suppkey", "bigint", true, ge(1), le(1000)),
      f("l_linenumber", "int", true, ge(1), le(7)),
      f("l_quantity", "double", true, gt(5), le(45)),
      f("l_extendedprice", "double", true, gt(0), lt(95000)),
      f("l_discount", "double", false, ge(BigDecimal("0.02")), le(BigDecimal("0.10"))),
      f("l_tax", "double", false, ge(0), le(BigDecimal("0.07"))),
      f("l_returnflag", "string", true, QualityRule(rule = Some("enum"), values = Seq("A", "N"))),
      f("l_linestatus", "string", false,
        QualityRule(rule = Some("regex"), pattern = Some("^[OF]$")),
        QualityRule(rule = Some("enum"), values = Seq("O", "F"))),
      f("l_shipdate", "timestamp", true)))))

  /** The demo contract plus a `unique` rule, which forces the metrics pre-scan. */
  val unique: Contract = demo.copy(id = "sales.lineitem_unique", schema = demo.schema.map(o =>
    o.copy(properties = o.properties.map(p =>
      if (p.name == "l_orderkey") p.copy(unique = true) else p))))
}

/** Governed IO: a fixed cycle of governed batch calls over a ~300k-row
  * lineitem table with planted violations, plus one governed streaming
  * ingest with remote governance. */
final class GovernedBatch(ctx: Ctx) extends Workload {
  import BenchContracts._
  private val spark = ctx.spark
  private val store = new FsContractStore(s"${ctx.runDir}/contracts")
  private val backend = new GovernanceBackend(s"${ctx.runDir}/governance", Some(store))
  private val pending = ArrayBuffer.empty[(Long, () => Option[String])]
  private val datasetId = demo.id
  private var version = 0

  Seq(demo, wide, unique).foreach(store.put)

  /** The lineitem table with planted violations, its clean twin and their
    * expected counts. */
  private final class Table(val dir: String, e: JValue) {
    val rows: Long = ctx.long(e \ "rows")
    val planted: Map[String, Long] = {
      val p = ctx.counts(e \ "dirty")
      p ++ p.get("violations.regex_l_linestatus").map("violations.enum_l_linestatus" -> _) +
        ("violations.unique_l_orderkey" -> (rows - ctx.long(e \ "distinct_orderkeys")))
    }
    val clean: Long = ctx.long(e \ "clean_rows_in_dirty")
    def dirtyDf: DataFrame = spark.read.parquet(s"$dir/lineitem.parquet")
    def cleanDf: DataFrame = spark.read.parquet(s"$dir/lineitem_clean.parquet")
  }
  private val timed = new Table(ctx.dataDir, ctx.expected)

  private def governed(tracer: Tracer): GovernedIO =
    if (!tracer.enabled)
      GovernedIO(store, ContractVersionLocator(spark, s"${ctx.runDir}/lake"),
        governance = Some(backend))
    else
      GovernedIO(Timed.contracts(store, tracer),
        Timed.locator(ContractVersionLocator(spark, s"${ctx.runDir}/lake"), tracer),
        governance = Some(Timed.governance(backend, tracer, "governance")),
        sink = Timed.sink(LogObservationSink, tracer))

  private val stream = new StreamIngest(ctx)
  private val kinds = Layers.Kinds :+ "stream_ingest"

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs one governed call; returns the metrics check result. */
  private def call(kind: String, t: Table, id: Long, gov: GovernedIO, tracer: Tracer,
                   icpt: Seq[graft.io.GovernanceInterceptor]): Option[String] = {
    val path = ctx.out(s"$id-$kind")
    def w(df: DataFrame, c: Contract, s: graft.strategies.ViolationStrategy): WriteResult =
      ContractIO.write(df, path, c, strategy = s, interceptors = icpt)
    kind match {
      case "write_noop" =>
        Workload.checkMetrics(w(t.dirtyDf, wide, NoOpStrategy).validation, wide, t.rows, t.planted)
      case "write_split" =>
        val r = w(t.dirtyDf, demo, SplitStrategy())
        pending += id -> (() => {
          val valid = spark.read.parquet(s"$path/valid").count()
          val reject = spark.read.parquet(s"$path/reject").count()
          if (valid == t.clean && valid + reject == t.rows) None
          else Some(s"split valid=$valid reject=$reject want ${t.clean}+${t.rows - t.clean}")
        })
        Workload.checkMetrics(r.validation, demo, t.rows, t.planted)
      case "write_flag" =>
        val r = w(t.dirtyDf, wide, FlagStrategy())
        pending += id -> (() => {
          val flagged = spark.read.parquet(path).filter(col("_corrupted_data").isNotNull).count()
          if (flagged == t.rows - t.clean) None
          else Some(s"flag flagged=$flagged want ${t.rows - t.clean}")
        })
        Workload.checkMetrics(r.validation, wide, t.rows, t.planted)
      case "write_strict" =>
        Workload.checkMetrics(w(t.cleanDf, demo, StrictStrategy(SplitStrategy())).validation,
          demo, t.rows, Map.empty)
      case "write_unique" =>
        Workload.checkMetrics(w(t.dirtyDf, unique, NoOpStrategy).validation, unique, t.rows, t.planted)
      case "read" =>
        val r = ContractIO.read(spark, s"${t.dir}/lineitem.parquet", demo, interceptors = icpt)
        noop(r.df)
        Workload.checkMetrics(r.validation, demo, t.rows, t.planted)
      // the clean rows, so the version is recorded `ok` and readable: a
      // version recorded `block` rightly refuses governed reads
      case "governed_write" =>
        version += 1
        val r = gov.write(t.cleanDf, datasetId, datasetVersion = Some(s"1.0.$version"))
        Workload.checkMetrics(r.validation, demo, t.rows, Map.empty)
      case "governed_read" =>
        val r = gov.read(spark, datasetId, datasetVersion = Some(s"1.0.$version"))
        noop(r.df)
        Workload.checkMetrics(r.validation, demo, t.rows, Map.empty)
      case "stream_ingest" =>
        stream.ingest(id, tracer)
    }
  }

  private def cycle(t: Table, tracer: Tracer, ops: ArrayBuffer[Op]): Unit = {
    val gov = governed(tracer)
    val icpt = if (tracer.enabled) Seq(new Timed.Interceptor(tracer)) else Nil
    kinds.foreach { kind =>
      val id = ctx.nextId()
      tracer.currentOp = id
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val check = try tracer.span("bench", kind)(call(kind, t, id, gov, tracer, icpt))
        catch { case e: Exception => Some(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val n = if (kind == "stream_ingest") stream.rows else t.rows
      ops += Op(id, kind, t0, System.nanoTime(), ms0, System.currentTimeMillis(), n, check)
    }
  }

  /** One cycle on the timed table warms the JIT and codegen caches. A
    * warm-up on a tenth-size table is ~8 s cheaper, but on a 4-core VM the
    * median op latency then spread 0.16-0.23 (quartile distance over
    * median, ten seeds) against 0.12 after a full-size cycle. */
  def setup(): Unit = {
    val ops = ArrayBuffer.empty[Op]
    cycle(timed, new Tracer(false), ops)
    val errs = ops.flatMap(o => o.error.map(e => s"${o.kind}: $e")) ++ verify().values
    if (errs.nonEmpty) throw new IllegalStateException("warm-up checks failed: " + errs.mkString("; "))
  }

  def window(seconds: Double, tracer: Tracer): Seq[Op] = {
    val ops = ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    // whole cycles only, so every run measures the same mix of calls
    var cycles = 0
    do { cycle(timed, tracer, ops); cycles += 1 }
    while ((System.nanoTime() - t0) / 1e9 * (1.0 + 1.0 / cycles) <= seconds)
    ops.toList
  }

  /** A plain ungoverned write of the same frame, and the remote
    * governance call beside its in-process twin. */
  override def baselines(tracer: Tracer): Map[String, Double] = {
    val plain = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      timed.dirtyDf.write.parquet(ctx.out(s"plain-$i"))
      (System.nanoTime() - t0) / 1e9
    }
    Map("io.plain_write_s" -> Stats.median(plain), "service.overhead_s" -> stream.overheadSeconds())
  }

  def verify(): Map[Long, String] = {
    val out = pending.toList.flatMap { case (id, f) => f().map(id -> _) }.toMap
    pending.clear()
    out
  }

  override def layerGauges(): Map[String, Double] =
    Map("governance.drafts_proposed" -> stream.draftsProposed.toDouble)

  override def close(): Unit = stream.close()
}

/** Governed micro-batch streaming with remote governance: one small
  * parquet file per micro-batch through `ContractStream.read` into
  * `ContractStream.write`; every batch's verdict and link go to an
  * in-process `GovernanceHttpServer` through one `HttpGovernanceClient`
  * (one HTTP connection). Each `ingest` is a fresh stream over the same
  * files, run until every file is in. */
final class StreamIngest(ctx: Ctx) {
  private val spark = ctx.spark
  private val contract = BenchContracts.demo
  private val serverStore = new FsContractStore(s"${ctx.runDir}/server-contracts")
  private val serverBackend = new GovernanceBackend(s"${ctx.runDir}/server-governance", Some(serverStore))
  serverStore.put(contract)
  private val server = new GovernanceHttpServer(serverStore, serverBackend)
  private val client = new HttpGovernanceClient(s"http://127.0.0.1:${server.start()}")
  private val localBackend = new GovernanceBackend(s"${ctx.runDir}/local-governance", None)
  private val dir = s"${ctx.dataDir}/stream"
  private val files: IndexedSeq[Map[String, Long]] = ctx.expected \ "files" match {
    case JArray(xs) => xs.map(ctx.counts).toIndexedSeq
    case _ => IndexedSeq.empty
  }

  val rows: Long = files.map(_("row_count")).sum

  /** Runs one stream to the last file; returns the first failed check. */
  def ingest(id: Long, tracer: Tracer): Option[String] = {
    val datasetId = s"sales.lineitem_stream_$id"
    val gov: GovernanceService =
      if (tracer.enabled) Timed.governance(Timed.governance(client, tracer, "service"), tracer, "governance")
      else client
    val sink = if (tracer.enabled) Timed.sink(LogObservationSink, tracer) else LogObservationSink
    val errors = ArrayBuffer.empty[String]
    @volatile var batches = 0
    def onBatch(batchId: Long, r: WriteResult): Unit = tracer.span("stream", "onBatch") {
      val dv = s"b$batchId"
      val status = gov.record(datasetId, dv, contract, r.validation)
      gov.linkDatasetContract(datasetId, contract.id, contract.version, dv)
      val want = files.lift(batchId.toInt).getOrElse(Map.empty)
      val dirty = want.keys.exists(_.startsWith("violations."))
      Workload.checkMetrics(r.validation, contract, want.getOrElse("row_count", -1L), want)
        .orElse(if (status.status == (if (dirty) "block" else "ok")) None
          else Some(s"recorded ${status.status}"))
        .foreach(e => errors.synchronized(errors += s"micro-batch $batchId: $e"))
      batches += 1
    }
    val df = ContractStream.read(spark, dir, contract, options = Map("maxFilesPerTrigger" -> "1"))
    val q = ContractStream.write(df, ctx.out(datasetId), contract,
      checkpointLocation = s"${ctx.runDir}/checkpoints/$datasetId", sink = sink, onBatch = onBatch)
    try {
      while (q.isActive && batches < files.size) Thread.sleep(2)
      q.exception.foreach(e => throw e)
    } finally q.stop()
    errors.synchronized(errors.headOption)
  }

  /** The same record call in process and over HTTP, so the remote
    * overhead per call is measured rather than inferred. */
  def overheadSeconds(): Double = {
    val v = ContractIO.write(spark.read.parquet(s"$dir/part-00000.parquet"),
      ctx.out("baseline"), contract).validation
    def time(f: Int => Unit): Double = Stats.median((1 to 25).map { i =>
      val t0 = System.nanoTime(); f(i); (System.nanoTime() - t0) / 1e9
    })
    val remote = time(i => client.record("sales.lineitem_baseline", s"r$i", contract, v))
    val local = time(i => localBackend.record("sales.lineitem_baseline", s"l$i", contract, v))
    remote - local
  }

  def draftsProposed: Int = serverBackend.listDraftVersions(contract.id).size

  def close(): Unit = server.stop()
}

/** The LLM-curation operator queries through `SparkEntry.queries` into
  * the `noop` sink, each on a cold cache. */
final class CurationQueries(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val names = Layers.Queries
  private val queries = SparkEntry.queries
  private val tables = ctx.counts(ctx.expected \ "rows")
  /** Input rows a query reads: the sizes of the tables it loads. */
  private def inputRows(q: String): Long = q match {
    case "q_pagerank" => tables("lineitem") + tables("orders")
    case "q_kmeans" => tables("embeddings")
    case "q_topk_groups" => tables("lineitem")
    case _ => tables("documents")
  }

  /** Unpersists every cached plan and RDD; returns how many RDDs were left.
    * The RDDs go first and blocking: `clearCache` removes blocks
    * asynchronously, and two removals of one RDD in flight at once fail. */
  private def clearCaches(): Int = {
    val left = spark.sparkContext.getPersistentRDDs.values.toList
    left.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    left.size
  }

  /** One pass that writes every result for the DuckDB oracle check. */
  def setup(): Unit = {
    names.foreach { q =>
      queries(q)(spark, ctx.dataDir).write.mode("overwrite").parquet(s"${ctx.runDir}/check/$q")
      Log(s"warm-up $q left ${clearCaches()} cached RDDs")
    }
    val oracles = JObject(names.map(q => q -> JString(SparkEntry.oracleSql(q))).toList)
    val w = new java.io.PrintWriter(s"${ctx.runDir}/check/oracle_sql.json", "UTF-8")
    try w.write(org.json4s.jackson.JsonMethods.compact(oracles)) finally w.close()
  }

  def window(seconds: Double, tracer: Tracer): Seq[Op] = {
    val ops = ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    var passes = 0
    // whole passes only, so every run measures the same mix of queries
    do {
      names.foreach { q =>
        clearCaches()
        val id = ctx.nextId()
        tracer.currentOp = id
        val ms0 = System.currentTimeMillis()
        val s0 = System.nanoTime()
        val err = try {
          tracer.span("bench", q) {
            val df = tracer.span("ops", "build")(queries(q)(spark, ctx.dataDir))
            tracer.span("bench", "exec")(df.write.format("noop").mode("overwrite").save())
          }
          None
        } catch { case e: Exception => Some(s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
        val s1 = System.nanoTime()
        Log(f"$q ${(s1 - s0) / 1e9}%.3f s")
        ops += Op(id, q, s0, s1, ms0, System.currentTimeMillis(), inputRows(q), err,
          spark.sparkContext.getPersistentRDDs.size)
      }
      passes += 1
    } while ((System.nanoTime() - t0) / 1e9 * (1.0 + 1.0 / passes) <= seconds)
    clearCaches()
    ops.toList
  }

  def verify(): Map[Long, String] = Map.empty
}
