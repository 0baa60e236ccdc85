package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are `System.nanoTime` values; `parent` is the
  * id of the span that caused this one, or -1. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Long, end: Long)

/** Spans and per-layer counters for the traced passes.
  *
  * Harness spans are opened around calls into graft (`span`). Spark job and
  * stage spans come from a [[SparkListener]]: each job carries the id of
  * the harness span that was innermost when it started in the local
  * property [[SpanProperty]], which Spark copies into every job's
  * properties (and into the threads a streaming query starts); see
  * [[allSpans]] for how jobs are finally attached. Catalyst phases and
  * scan sizes come from a [[QueryExecutionListener]].
  *
  * While `enabled` is false nothing is recorded and the listeners are not
  * registered, so untraced passes run the program exactly as it ships. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  val SpanProperty = "perfbench.span"

  private val nanoBase = System.nanoTime()
  private val milliBase = System.currentTimeMillis()
  private def fromMillis(ms: Long): Long = nanoBase + (ms - milliBase) * 1000000L

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Long]()
  @volatile var enabled = false

  // per-pass counters, reset by `start`
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()
  def add(key: String, v: Double): Unit =
    if (enabled) counters.merge(key, v, (a, b) => a + b)
  private def max(key: String, v: Double): Unit =
    counters.merge(key, v, (a, b) => math.max(a, b))

  private def record(s: Span): Unit = spans.synchronized { spans += s }

  /** Times `body` as a span of `layer`; its seconds are also added to the
    * counter `name` (e.g. `engine.maple_s`). */
  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(-1L)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProperty)
    stack.push(id)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(SpanProperty, prevProp)
      record(Span(id, parent, name, layer, t0, t1))
      if (name.endsWith("_s")) add(name, (t1 - t0) / 1e9)
    }
  }

  /** A span measured by the program itself (the streaming operator's time
    * inside a harness span), placed so that it ends at `end`. */
  def synthetic(name: String, layer: String, end: Long, secs: Double): Unit =
    if (enabled) record(Span(ids.incrementAndGet(), stack.headOption.getOrElse(-1L),
      name, layer, end - (secs * 1e9).toLong, end))

  // ---------------------------------------------------------------- Spark
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Long)]() // job -> (span, parent, start)
  private val stageJob = new ConcurrentHashMap[Int, Long]()               // stage -> job span
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), Long]()     // (stage, attempt) -> ms
  private val cacheBytes = new ConcurrentHashMap[String, Long]()
  private val cacheSeen = ConcurrentHashMap.newKeySet[String]()
  private var cacheNow = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      .map(_.toLong).getOrElse(-1L)
    val id = ids.incrementAndGet()
    jobSpan.put(e.jobId, (id, parent, fromMillis(e.time)))
    e.stageIds.foreach(s => stageJob.put(s, id))
    add("scheduler.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (id, parent, start) =>
      record(Span(id, parent, "spark.job", "scheduler", start, fromMillis(e.time)))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) {
    val i = e.stageInfo
    stageSubmit.put((i.stageId, i.attemptNumber()),
      i.submissionTime.getOrElse(System.currentTimeMillis()))
    add("scheduler.stages", 1)
    if (i.attemptNumber() > 0) add("scheduler.stage_retries", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val i = e.stageInfo
    for (sub <- i.submissionTime; end <- i.completionTime)
      record(Span(ids.incrementAndGet(), Option(stageJob.get(i.stageId)).getOrElse(-1L),
        "spark.stage", "compute", fromMillis(sub), fromMillis(end)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val info = e.taskInfo
    add("scheduler.tasks", 1)
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) add("scheduler.task_failures", 1)
    Option(stageSubmit.get((e.stageId, e.stageAttemptId))).foreach { sub =>
      add("scheduler.delay_s", math.max(0L, info.launchTime - sub) / 1e3)
    }
    add("compute.task_s", info.duration / 1e3)
    Option(e.taskMetrics).foreach { m =>
      add("compute.cpu_s", m.executorCpuTime / 1e9)
      add("compute.gc_s", m.jvmGCTime / 1e3)
      add("compute.deser_s", m.executorDeserializeTime / 1e3)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  /** Cached RDD blocks (persist, cache, localCheckpoint): bytes resident in
    * memory or on disk, tracked as a running total whose per-pass peak is
    * `cache.peak_bytes`. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (enabled) {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val key = b.blockId.name
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cacheNow += now - Option(cacheBytes.put(key, now)).getOrElse(0L)
      if (now > 0 && cacheSeen.add(key)) add("cache.blocks", 1)
      max("cache.peak_bytes", cacheNow.toDouble)
    }
  }

  // -------------------------------------------------------------- Catalyst
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) observe(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    if (enabled) observe(qe)

  private def observe(qe: QueryExecution): Unit = {
    add("catalyst.plans", 1)
    qe.tracker.phases.foreach { case (phase, p) =>
      add(s"catalyst.${phase}_ms", p.durationMs.toDouble)
      record(Span(ids.incrementAndGet(), -1L, s"catalyst.$phase", "catalyst",
        fromMillis(p.startTimeMs), fromMillis(p.endTimeMs)))
    }
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
      s.metrics.get("filesSize").foreach(m => add("scan.file_bytes", m.value.toDouble))
      s.metrics.get("numOutputRows").foreach(m => add("scan.rows", m.value.toDouble))
    }
  }

  // ------------------------------------------------------------ lifecycle
  /** Starts recording: registers both listeners and clears the counters.
    * Every operation releases its cached blocks, so a pass starts with none. */
  def start(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    counters.clear(); cacheSeen.clear(); cacheBytes.clear()
    cacheNow = 0L
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    enabled = true
  }

  /** Stops recording once every queued listener event is delivered, and
    * returns this pass's counters. */
  def stop(): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    enabled = false
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }

  /** All spans so far. Jobs and Catalyst phases are attached to the
    * innermost harness span that contains them (one operation runs at a
    * time, so containment is unambiguous, and it reaches spans such as the
    * streaming operator's that no local property names); the local
    * property is the fallback when millisecond event times fall just
    * outside. */
  def allSpans: Seq[Span] = {
    val all = spans.synchronized(spans.toList)
    val harness = all.filter(s => s.layer != "scheduler" && s.layer != "compute" &&
      s.layer != "catalyst")
    all.map { s =>
      if (s.layer != "scheduler" && s.layer != "catalyst") s
      else harness.filter(h => h.start <= s.start && s.end <= h.end)
        .sortBy(h => h.end - h.start).headOption.fold(s)(h => s.copy(parent = h.id))
    }
  }
}
