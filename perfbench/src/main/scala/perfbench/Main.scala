package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What a workload hands back: its set-up times, its per-operation times
  * (one per operation attempted), the item count behind the throughput,
  * its output checks and whatever layer metrics it measured itself. */
final case class Outcome(
    setupS: Seq[Double],
    opS: Seq[Double],
    items: Long,
    measuredS: Double,
    checks: Seq[Check],
    layers: Seq[(String, Double, String)],
    firstOpEpochMs: Double,
    sf: String,
    details: Map[String, Any] = Map.empty)

final case class Check(name: String, ok: Boolean, detail: String)

/** Shared context of one run. `spans`, `engine` and `traced` are only set
  * in the traced run: the untraced run registers no listener and no
  * decorator. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val work: String, val repoRoot: String, val spans: Spans,
    val engine: Option[EngineListener], val traced: Boolean,
    val opts: Map[String, String]) {
  def cpus: Int = spark.sparkContext.defaultParallelism

  /** Run the measured part of a workload: the traced run counts Spark
    * engine activity only inside it. */
  def measure[T](f: => T): T = engine match {
    case Some(e) => e.measure(f)
    case None => f
  }
}

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

/** Entry point of the benchmark JVM. One workload, one seed, one run:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE --repo ROOT
  *                  [--queries all] [--cpus N]
  *
  * `--queries all` and `--cpus` (default: every available processor)
  * serve perfbench/record_suite.py.
  *
  * Writes the full result (every metric it measured, the checks, the
  * provenance and, traced, the spans) as one JSON object to FILE. */
object Main {
  val workloads: Map[String, Workload] =
    Seq[Workload](FraudStream, CurationStream, QuerySuite).map(w => w.name -> w).toMap

  def options(argv: Array[String]): Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  /** A local session whose every file goes under `work`. */
  def session(app: String, cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = options(argv)
    val wl = workloads.getOrElse(a("workload"),
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = a("work")
    val startIso = java.time.Instant.now().toString
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // every file Derby and Spark write goes under the run's work dir
    System.setProperty("derby.system.home", s"$work/derby")
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    val cpus = a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = session(s"perfbench-${wl.name}", cpus, work)
    try {
      val spans = new Spans
      val engine = if (traced) {
        val l = new EngineListener(spans)
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None
      val ctx = new Ctx(spark, seed, seconds, work, a("repo"), spans, engine, traced, a)

      val (canaryBefore, floorBefore) = Host.probe(spark)
      val gcBefore = Host.gcMs()
      val out = wl.run(ctx)
      val gcS = (Host.gcMs() - gcBefore) / 1e3
      val engineMetrics = engine.map(_.metrics(out.opS.size)).getOrElse(Nil)
      val (canaryAfter, floorAfter) = Host.probe(spark)

      val failed = out.checks.count(!_.ok)
      val endToEnd = Seq(
        ("setup_s", Stats.median(out.setupS), "s"),
        ("throughput_per_s", out.items / out.measuredS, "1/s"),
        ("latency_p50_s", Stats.percentile(out.opS, 50), "s"),
        ("latency_p75_s", Stats.percentile(out.opS, 75), "s"))
      val host = Seq(
        ("host.canary_before_s", canaryBefore, "s"),
        ("host.canary_after_s", canaryAfter, "s"),
        ("host.jobfloor_before_s", floorBefore, "s"),
        ("host.jobfloor_after_s", floorAfter, "s"),
        ("jvm.heap_peak_bytes", Host.heapPeakBytes(), "bytes"),
        ("jvm.gc_s", gcS, "s"),
        ("setup.jvm_to_first_op_s", (out.firstOpEpochMs - jvmStartMs) / 1e3, "s"))
      val layerMetrics = out.layers ++ engineMetrics ++ host

      val linked = if (traced) spans.link() else Nil
      val result = new java.util.LinkedHashMap[String, Any]()
      result.put("workload", wl.name)
      result.put("seed", seed)
      result.put("trace", traced)
      val attempted = math.max(out.opS.size, 1)
      result.put("attempted", attempted)
      result.put("failed", math.min(failed, attempted))
      result.put("correct", failed == 0)
      result.put("checks", out.checks.map(c => Map(
        "name" -> c.name, "ok" -> c.ok, "detail" -> c.detail).asJava).asJava)
      def metricMap(ms: Seq[(String, Double, String)]) = {
        val m = new java.util.LinkedHashMap[String, Any]()
        ms.foreach { case (k, v, u) => m.put(k, Map("value" -> v, "unit" -> u).asJava) }
        m
      }
      result.put("end_to_end", metricMap(endToEnd))
      result.put("per_layer", metricMap(layerMetrics))
      result.put("samples", Map(
        "setup_s" -> out.setupS.asJava, "op_s" -> out.opS.asJava).asJava)
      result.put("provenance", Map[String, Any](
        "nproc" -> cpus,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
        "seed" -> seed,
        "seconds" -> seconds,
        "start_time" -> startIso,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "host_canary_s" -> Map("before" -> canaryBefore, "after" -> canaryAfter).asJava,
        "host_jobfloor_s" -> Map("before" -> floorBefore, "after" -> floorAfter).asJava,
        "sf" -> out.sf).asJava)
      result.put("details", out.details.asJava)
      if (traced) {
        result.put("spans", linked.map(s => Map[String, Any](
          "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
          "start_ms" -> s.start, "end_ms" -> s.end,
          "parent" -> s.parent, "op" -> s.op).asJava).asJava)
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")),
        mapper.writeValueAsString(result))
    } finally {
      graft.Caches.release()
      spark.stop()
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
}

/** The two host probes of graft.Bench, shrunk to a run's budget: a fixed
  * compute plan (hash 100M ids over all cores, median of 3) and the
  * per-job scheduler floor (20 trivial all-core jobs). Taken before and
  * after each run, they tell CPU steal apart from a code change. */
object Host {
  def probe(spark: SparkSession): (Double, Double) = {
    import org.apache.spark.sql.functions.{col, expr, xxhash64}
    val cpus = spark.sparkContext.defaultParallelism
    val canary = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 100000000L, 1L, cpus).select(xxhash64(col("id")).as("h"))
        .agg(expr("bit_xor(h)")).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    })
    val t0 = System.nanoTime()
    (1 to 20).foreach(_ => spark.sparkContext.parallelize(0 until cpus, cpus).map(_ + 1).count())
    (canary, (System.nanoTime() - t0) / 1e9 / 20)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def heapPeakBytes(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum.toDouble
}
