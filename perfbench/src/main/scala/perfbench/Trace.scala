package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.state.StateStore

/** One timed interval of a traced run. Times are epoch milliseconds (with
  * sub-millisecond digits) so spans taken from the JVM's clock and from
  * Spark's listener events share one axis. `parent` is filled in when the
  * run ends, by time containment (see [[Spans.link]]). */
final case class Span(id: Int, name: String, layer: String,
    start: Double, end: Double, var parent: Int = -1, var op: Int = -1)

/** In-memory span store for the traced run: spans are kept in memory and
  * written out once, when the run ends. Everything here is a no-op cost
  * in the untraced run, which never records a span. */
final class Spans {
  private val nextId = new AtomicInteger(0)
  private val buf = ArrayBuffer.empty[Span]
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def add(name: String, layer: String, start: Double, end: Double): Span =
    synchronized {
      val s = Span(nextId.getAndIncrement(), name, layer, start, end)
      buf += s
      s
    }

  def time[T](name: String, layer: String)(f: => T): T = {
    val t0 = nowMs()
    try f finally add(name, layer, t0, nowMs())
  }

  def all: Seq[Span] = synchronized(buf.toList)

  /** Nesting order of the layers: a span's parent is the innermost span
    * of a strictly outer rank whose interval contains it. Spark jobs are
    * the leaves. */
  private val rank = Map("run" -> 0, "op" -> 1,
    "runner" -> 3, "curation" -> 3, "suite" -> 3, "ingest" -> 3,
    "state" -> 4, "llm" -> 4, "spark" -> 9)

  /** Assign parents and operation ids by time containment. */
  def link(): Seq[Span] = {
    val ss = all.sortBy(s => (s.start, -s.end))
    val eps = 0.5 // listener timestamps are whole milliseconds
    for (s <- ss) {
      val r = rank.getOrElse(s.layer, 5)
      val outer = ss.filter(p => p.id != s.id && rank.getOrElse(p.layer, 5) < r &&
        p.start - eps <= s.start && s.end <= p.end + eps)
      if (outer.nonEmpty) {
        val best = outer.maxBy(p => (rank.getOrElse(p.layer, 5), p.start))
        s.parent = best.id
      }
    }
    val byId = ss.map(s => s.id -> s).toMap
    for (s <- ss) {
      var p: Option[Span] = Some(s)
      while (p.exists(_.layer != "op")) p = p.flatMap(x => byId.get(x.parent))
      s.op = p.map(_.id).getOrElse(-1)
    }
    ss
  }
}

/** Spark engine counters through the public [[SparkListener]] API, summed
  * over the measured window of the traced run (by event time, so events
  * the listener bus delivers late still count); every job in the window
  * also becomes a span. */
final class EngineListener(spans: Spans) extends SparkListener {
  @volatile private var from = Long.MaxValue
  @volatile private var to = Long.MaxValue
  private def in(t: Long): Boolean = t >= from && t <= to

  def measure[T](f: => T): T = {
    from = System.currentTimeMillis(); to = Long.MaxValue
    try f finally to = System.currentTimeMillis()
  }

  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val input = new AtomicLong
  val output = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (in(e.time)) {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = jobStart.remove(e.jobId)
    if (t0 != null) spans.add(s"job ${e.jobId}", "spark", t0.toDouble, e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (e.stageInfo.completionTime.exists(in)) stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (in(e.taskInfo.finishTime)) {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      output.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def metrics(ops: Int): Seq[(String, Double, String)] = Seq(
    ("spark.jobs", jobs.get.toDouble, "count"),
    ("spark.jobs_per_op", jobs.get.toDouble / math.max(ops, 1), "count"),
    ("spark.stages", stages.get.toDouble, "count"),
    ("spark.tasks", tasks.get.toDouble, "count"),
    ("spark.executor_run_s", runMs.get / 1e3, "s"),
    ("spark.executor_cpu_s", cpuNs.get / 1e9, "s"),
    ("spark.gc_s", gcMs.get / 1e3, "s"),
    ("spark.shuffle_read_bytes", shuffleRead.get.toDouble, "bytes"),
    ("spark.shuffle_write_bytes", shuffleWrite.get.toDouble, "bytes"),
    ("spark.spill_bytes", spill.get.toDouble, "bytes"),
    ("spark.input_bytes", input.get.toDouble, "bytes"),
    ("spark.output_bytes", output.get.toDouble, "bytes"))
}

/** Micro-batch spans through the public [[StreamingQueryListener]] API
  * (traced run only; the timings themselves come from the query's
  * `recentProgress` in both runs). */
final class ProgressListener(spans: Spans) extends StreamingQueryListener {

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val trig = p.durationMs.getOrDefault("triggerExecution", 0L).longValue
      val add = p.durationMs.getOrDefault("addBatch", 0L).longValue
      spans.add(s"batch ${p.batchId}", "op", start, start + trig)
      // addBatch runs last in the trigger but for the offset commit
      val commit = p.durationMs.getOrDefault("commitOffsets", 0L).longValue
      val addEnd = start + trig - commit
      spans.add(s"addBatch ${p.batchId}", "runner", addEnd - add, addEnd)
    }
  }
}

/** Timing decorator on the [[StateStore]] trait: the traced fraud run
  * hands the runner this wrapper instead of the bare store. */
final class TimedStore(inner: StateStore, spans: Spans) extends StateStore {
  val applyNs = new AtomicLong
  val applyCalls = new AtomicLong
  val readCalls = new AtomicLong
  val readKeys = new AtomicLong

  override def applyDeltas(m: DataFrame, cm: DataFrame, g: DataFrame,
      epochId: Option[Long]): Unit = {
    val t0 = System.nanoTime()
    try spans.time("applyDeltas", "state")(inner.applyDeltas(m, cm, g, epochId))
    finally { applyNs.addAndGet(System.nanoTime() - t0); applyCalls.incrementAndGet() }
  }

  private def read(keys: Int)(f: => DataFrame): DataFrame = {
    readCalls.incrementAndGet(); readKeys.addAndGet(keys)
    spans.time("stateRead", "state")(f)
  }

  override def merchantSummary(s: SparkSession): DataFrame = read(0)(inner.merchantSummary(s))
  override def custMerchantSummary(s: SparkSession): DataFrame = read(0)(inner.custMerchantSummary(s))
  override def genderSummary(s: SparkSession): DataFrame = read(0)(inner.genderSummary(s))
  override def merchantSummaryFor(s: SparkSession, ids: Seq[String]): DataFrame =
    read(ids.size)(inner.merchantSummaryFor(s, ids))
  override def custMerchantSummaryFor(s: SparkSession, ids: Seq[String]): DataFrame =
    read(ids.size)(inner.custMerchantSummaryFor(s, ids))
  override def genderSummaryFor(s: SparkSession, ids: Seq[String]): DataFrame =
    read(ids.size)(inner.genderSummaryFor(s, ids))
  override def close(): Unit = inner.close()
}
