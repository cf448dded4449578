package graftbench

import graft.contracts.{Contract, ContractStore}
import graft.governance.{DatasetStatus, GovernanceEvaluation, GovernanceService, MetricObservation}
import graft.io.{DatasetLocator, DatasetResolution, GovernanceInterceptor, InterceptorContext, WriteResult}
import graft.obs.ObservationSink
import graft.quality.{FieldSnapshot, ValidationResult}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One timed call at a layer boundary. `op` is the benchmark operation
  * the call ran under; `parent` is the enclosing span on the same thread
  * (0 at the top). */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory. When disabled, `span` runs the body and
  * records nothing, so an untraced run pays no tracing cost. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile var currentOp: Long = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get
      stack.set(id :: parents)
      val op = currentOp
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.synchronized(spans += Span(id, parents.headOption.getOrElse(0L), op, layer, name, t0, t1))
      }
    }

  /** A span timed by the caller (hook pairs), under the current parent. */
  def add(layer: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.synchronized(spans += Span(nextId.getAndIncrement(),
      stack.get.headOption.getOrElse(0L), currentOp, layer, name, startNs, endNs))

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** One JSON object per span, written when the run ends. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** A finished Spark job with the task metrics of its stages. */
final case class JobRecord(jobId: Int, startMs: Long, endMs: Long, callSite: String,
                           tasks: Long, taskS: Double, cpuS: Double, gcS: Double,
                           shuffleBytes: Long, spillBytes: Long, recordsRead: Long)

private final case class StageAgg(name: String, tasks: Long, taskMs: Long, cpuNs: Long,
                                  gcMs: Long, shuffle: Long, spill: Long, records: Long)

/** Spark's public listeners: jobs and stage task metrics, the SQL planning
  * phases of every action, and streaming progress durations. */
final class SparkRecorder extends SparkListener {
  private val stages = scala.collection.mutable.Map.empty[Int, StageAgg]
  private val open = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int], String)]
  // SQL execution id -> long-form call site of the action that started it
  private val execSites = scala.collection.mutable.Map.empty[Long, String]
  private val jobs = ArrayBuffer.empty[JobRecord]
  private val planPhases = ArrayBuffer.empty[(Long, Double)] // (start ms, planning seconds)
  private val progress = ArrayBuffer.empty[(Long, Map[String, Long])] // (batch id, durationMs)

  /** Adaptive execution runs query stages on a pool thread, so their stage
    * names carry no user call site; such jobs take the call site of the SQL
    * execution they belong to. */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val stageSite = e.stageInfos.maxBy(_.stageId).name
    val execSite = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSites.get(id.toLong))
    open(e.jobId) = (e.time, e.stageIds, if (stageSite.contains(".scala:")) stageSite
      else execSite.getOrElse(stageSite))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      ModuleMap.userFrame(x.details).foreach(f => synchronized(execSites(x.executionId) = f))
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages(i.stageId) = if (m == null) StageAgg(i.name, i.numTasks, 0, 0, 0, 0, 0, 0)
    else StageAgg(i.name, i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (start, stageIds, site) =>
      val ss = stageIds.flatMap(stages.get)
      jobs += JobRecord(e.jobId, start, e.time, site, ss.map(_.tasks).sum,
        ss.map(_.taskMs).sum / 1e3, ss.map(_.cpuNs).sum / 1e9, ss.map(_.gcMs).sum / 1e3,
        ss.map(_.shuffle).sum, ss.map(_.spill).sum, ss.map(_.records).sum)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) SparkRecorder.this.synchronized {
        planPhases += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum / 1e3))
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      val m = scala.jdk.CollectionConverters.MapHasAsScala(d).asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (e.progress.numInputRows > 0) SparkRecorder.this.synchronized {
        progress += ((e.progress.batchId, m))
      }
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Listener events arrive asynchronously: wait until every started job
    * has ended, then give the queues a moment to drain. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (synchronized(open.nonEmpty) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(300)
  }

  def allJobs: Seq[JobRecord] = synchronized(jobs.toList)

  /** One JSON object per job with the module its call site names. */
  def write(path: String, modules: ModuleMap): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try allJobs.foreach { j =>
      w.println(s"""{"job":${j.jobId},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
        s""""call_site":"${j.callSite.replace("\"", "'")}","module":"${modules.of(j.callSite)}",""" +
        s""""tasks":${j.tasks},"task_s":${j.taskS},"records_read":${j.recordsRead}}""")
    } finally w.close()
  }
  def allPlanning: Seq[(Long, Double)] = synchronized(planPhases.toList)
  def allProgress: Seq[(Long, Map[String, Long])] = synchronized(progress.toList)
}

/** Delegating timers around the seams `GovernedIO` and `ContractStream`
  * accept. Each call becomes one span at its layer. */
object Timed {

  def contracts(d: ContractStore, t: Tracer, layer: String = "contracts"): ContractStore =
    new ContractStore {
      def put(c: Contract): Unit = t.span(layer, "put")(d.put(c))
      def get(id: String, v: String): Option[Contract] = t.span(layer, "get")(d.get(id, v))
      def listVersions(id: String): Seq[String] = t.span(layer, "listVersions")(d.listVersions(id))
      def listContractIds(): Seq[String] = t.span(layer, "listContractIds")(d.listContractIds())
      override def latest(id: String): Option[Contract] = t.span(layer, "latest")(d.latest(id))
    }

  def locator(d: DatasetLocator, t: Tracer): DatasetLocator = new DatasetLocator {
    def forRead(id: String, c: Option[Contract], v: Option[String]): DatasetResolution =
      t.span("io", "locator.forRead")(d.forRead(id, c, v))
    def forWrite(id: String, c: Option[Contract], v: Option[String]): DatasetResolution =
      t.span("io", "locator.forWrite")(d.forWrite(id, c, v))
  }

  def sink(d: ObservationSink, t: Tracer): ObservationSink = new ObservationSink {
    def record(id: String, b: Option[Long], m: Map[String, Any], v: ValidationResult): Unit =
      t.span("obs", "sink.record")(d.record(id, b, m, v))
  }

  def governance(d: GovernanceService, t: Tracer, layer: String): GovernanceService =
    new GovernanceService {
      private def s[T](n: String)(f: => T): T = t.span(layer, n)(f)
      def getStatus(id: String, v: String): Option[DatasetStatus] = s("getStatus")(d.getStatus(id, v))
      def listDatasets(): Seq[String] = s("listDatasets")(d.listDatasets())
      def linkDatasetContract(id: String, cid: String, cv: String, dv: String): Unit =
        s("linkDatasetContract")(d.linkDatasetContract(id, cid, cv, dv))
      def linkedContract(id: String): Option[(String, String)] = s("linkedContract")(d.linkedContract(id))
      def listDraftVersions(cid: String): Seq[String] = s("listDraftVersions")(d.listDraftVersions(cid))
      def reviewDraft(cid: String, v: String, approve: Boolean): Contract =
        s("reviewDraft")(d.reviewDraft(cid, v, approve))
      def updateDraft(cid: String, v: String, edited: Contract): Contract =
        s("updateDraft")(d.updateDraft(cid, v, edited))
      def statusMatrix(): Seq[DatasetStatus] = s("statusMatrix")(d.statusMatrix())
      def metricHistory(id: String): Seq[MetricObservation] = s("metricHistory")(d.metricHistory(id))
      def evaluateAndRecord(id: String, v: String, c: Contract, schema: Map[String, FieldSnapshot],
                            metrics: Map[String, Any]): GovernanceEvaluation =
        s("evaluateAndRecord")(d.evaluateAndRecord(id, v, c, schema, metrics))
      def record(id: String, v: String, c: Contract, validation: ValidationResult): DatasetStatus =
        s("record")(d.record(id, v, c, validation))
    }

  /** `ContractIO`'s interceptor hooks: one span from the pre-hook to the
    * post-hook of every governed call (a read's post-hook runs before any
    * action, so its span covers resolution, metrics and alignment). */
  final class Interceptor(t: Tracer) extends GovernanceInterceptor {
    private val started = ThreadLocal.withInitial[java.lang.Long](() => 0L)
    private def close(name: String): Unit = t.add("io", name, started.get.longValue, System.nanoTime())
    override def preRead(c: InterceptorContext): Unit = started.set(System.nanoTime())
    override def postRead(c: InterceptorContext, df: DataFrame): DataFrame = { close("contractio.read"); df }
    override def preWrite(c: InterceptorContext, df: DataFrame): DataFrame = { started.set(System.nanoTime()); df }
    override def postWrite(c: InterceptorContext, r: WriteResult): Unit = close("contractio.write")
  }
}
