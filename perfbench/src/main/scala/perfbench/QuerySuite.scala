package perfbench

import java.io.File
import java.math.{MathContext, RoundingMode}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.{Caches, SparkEntry}

/** `query_suite`: one client, closed loop, issuing a sample of the
  * SparkEntry.queries registry once each, in registry order, over the
  * bundled sf0.001 tables, with the shared Caches warm across queries.
  * The sample holds one query of every implementing module and fills
  * the rest evenly. The inputs are fixed: a seeded order made the query
  * time percentiles move with the seed, because the order decides which
  * query pays each shared build. Operation = one query, builder plus
  * execution; the execution collects the full output, whose row count
  * and order-insensitive digest are checked, after the timed loop,
  * against the recorded table `data/suite_expected.json`. Item = one
  * query. At sf0.001 a query's time is mostly its fixed cost (planning,
  * codegen, job launch), not its operators' work on rows. */
object QuerySuite extends Workload {
  val name = "query_suite"
  val setups = 3
  val sf = "sf0.001"
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def dataDir(ctx: Ctx): String = s"${ctx.repoRoot}/perfbench/data/$sf"

  /** Warm-up before timing: release every shared cache, scan each table
    * once, run the compute canary. */
  private def setUp(ctx: Ctx): Unit = {
    val spark = ctx.spark
    Caches.release(spark)
    tables.foreach(t => spark.read.parquet(s"${dataDir(ctx)}/$t.parquet").count())
    import org.apache.spark.sql.functions.{col, expr, xxhash64}
    spark.range(0L, 50000000L, 1L, ctx.cpus).select(xxhash64(col("id")).as("h"))
      .agg(expr("bit_xor(h)")).queryExecution.toRdd.count()
  }

  final case class Q(name: String, builderS: Double, execS: Double,
      names: Seq[String], rows: Seq[Row], error: Option[String]) {
    lazy val digest: String = Digest.table(names, rows)
  }

  /** Queries per measured second at the reference host's speed (4
    * cores), where a fresh JVM runs one query in about a second at
    * sf0.001: 30 queries at 30 s. */
  val queriesPerSecond = 1.0

  /** The queries of a run, in registry order: the first query of each
    * module `Modules.groups` names, then `n` minus those spread evenly
    * over the rest of the sorted registry (all of them when `n` covers
    * it). */
  def sample(n: Int, modules: Map[String, String]): Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    if (n >= names.size) return names
    val firsts = Modules.groups.map { g =>
      names.find(q => Modules.group(modules, q) == g)
        .getOrElse(throw new IllegalStateException(s"no registered query in module $g"))
    }
    val rest = names.filterNot(firsts.toSet)
    val k = math.max(0, n - firsts.size)
    (firsts ++ (0 until k).map(i => rest(i * rest.size / k))).sorted
  }

  def runQuery(ctx: Ctx, name: String, dir: String): Q = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    try {
      val df = ctx.spans.time(s"$name builder", "suite")(fn(ctx.spark, dir))
      val t1 = System.nanoTime()
      val rows = ctx.spans.time(s"$name exec", "suite")(df.collect())
      val t2 = System.nanoTime()
      Q(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, df.schema.fieldNames.toSeq,
        rows.toSeq, None)
    } catch {
      case e: Throwable =>
        Q(name, (System.nanoTime() - t0) / 1e9, 0.0, Nil, Nil,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"))
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = dataDir(ctx)
    require(new File(dir).isDirectory, s"missing suite tables at $dir")
    val setupTimes = (0 until setups).map { _ =>
      val t0 = System.nanoTime()
      setUp(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    val n = if (ctx.opts.get("queries").contains("all")) Int.MaxValue
      else math.max(Modules.groups.size, math.round(ctx.seconds * queriesPerSecond).toInt)
    val modules = Modules.of(ctx.repoRoot)
    val names = sample(n, modules)
    val firstOp = ctx.spans.nowMs()
    val t0 = System.nanoTime()
    val results = ctx.measure(names.map(n => ctx.spans.time(n, "op")(runQuery(ctx, n, dir))))
    val measuredS = (System.nanoTime() - t0) / 1e9
    ctx.spans.add("run", "run", firstOp, ctx.spans.nowMs())
    val persisted = spark.sparkContext.getPersistentRDDs.size.toDouble
    val persistedBytes = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum.toDouble

    val expected = Expected.load(s"${ctx.repoRoot}/perfbench/data/suite_expected.json")
    val checks = results.map(q => Expected.check(q, expected))
    val byModule = results.groupBy(q => Modules.group(modules, q.name))
      .map { case (m, qs) => m -> qs.map(q => q.builderS + q.execS).sum }
    val layers = Seq(
      ("suite.builder_s", results.map(_.builderS).sum, "s"),
      ("suite.exec_s", results.map(_.execS).sum, "s"),
      ("caches.persisted_frames", persisted, "count"),
      ("caches.persisted_bytes", persistedBytes, "bytes")) ++
      byModule.toSeq.sorted.map { case (m, t) => (s"suite.module.${m}_s", t, "s") }
    // recording run: the oracle SQL (static and trained-constant) for the
    // DuckDB cross-check, generated before the memoized models are released
    val oracle = if (n < Int.MaxValue) Map.empty[String, String]
      else SparkEntry.oracleSql ++ SparkEntry.dynamicOracleSql(spark, dir)
    Caches.release(spark)
    // curation_stream is not a registered workload (see BENCHMARK.json),
    // so the traced suite run carries the curation and llm layers
    val (curLayers, curChecks) =
      if (ctx.traced) CurationStream.layerProbe(ctx) else (Nil, Nil)
    Outcome(setupTimes, results.map(q => q.builderS + q.execS), results.size.toLong,
      measuredS, checks ++ curChecks, layers = layers ++ curLayers,
      firstOpEpochMs = firstOp,
      sf = sf, details = Map("queries" -> results.size,
        "errors" -> results.flatMap(q => q.error.map(e => s"${q.name}: $e")).asJava,
        "query_s" -> results.map(q => q.name -> (q.builderS + q.execS)).toMap.asJava,
        "results" -> results.map(q => q.name -> Map[String, Any](
          "rows" -> q.rows.size, "digest" -> q.digest).asJava).toMap.asJava,
        "oracle_sql" -> oracle.asJava))
  }
}

/** Implementing object of each registered query, read from the
  * registration source (`"name" -> (Module.fn(...))`) so a per-module
  * time needs no hand-kept table. */
object Modules {
  /** The modules BENCHMARK.json names a `suite.module.<M>_s` metric for;
    * any other implementing object counts as `other`. Each run samples a
    * query of every group, so each of these metrics is measured. */
  val listed: Seq[String] = Seq("RelOps", "TemporalOps", "Patterns", "Dedup",
    "Vectors", "TextOps", "Sampling", "Multimodal", "Decontam", "Quality",
    "Retrieval", "CorpusExport", "ScaleTechniques")
  val groups: Seq[String] = listed :+ "other"

  def group(modules: Map[String, String], query: String): String =
    modules.get(query).filter(listed.contains).getOrElse("other")

  def of(repoRoot: String): Map[String, String] = {
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      s"$repoRoot/src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    val start = src.indexOf("def queries")
    val end = src.indexOf("def oracleSql")
    require(start >= 0 && end > start, "no queries registry in SparkEntry.scala")
    val body = src.substring(start, end)
    val entry = "\"([a-z0-9_]+)\"\\s*->".r
    val call = "([A-Z][A-Za-z0-9]*)\\.[a-z][A-Za-z0-9]*\\s*[(\\[]".r
    val hits = entry.findAllMatchIn(body).toSeq
    hits.zipWithIndex.flatMap { case (m, i) =>
      val to = if (i + 1 < hits.size) hits(i + 1).start else body.length
      call.findFirstMatchIn(body.substring(m.end, to)).map(c => m.group(1) -> c.group(1))
    }.toMap
  }
}

/** Order-insensitive digest of a result: every value rendered in one
  * canonical text form (numbers rounded to 9 significant digits, so the
  * summation order of a float aggregate cannot flip it), columns sorted
  * by name, row texts sorted, then SHA-256. perfbench/record_suite.py
  * digests the DuckDB oracle's rows with it too (see [[DigestFiles]]). */
object Digest {
  private val mc = new MathContext(9, RoundingMode.HALF_EVEN)

  def num(bd: java.math.BigDecimal): String =
    if (bd.signum == 0) "0" else bd.round(mc).stripTrailingZeros.toPlainString

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN) "nan" else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
      else num(new java.math.BigDecimal(d))
    case f: Float => value(f.toDouble)
    case b: java.math.BigDecimal => num(b)
    case b: scala.math.BigDecimal => num(b.bigDecimal)
    case n: java.lang.Number => n.longValue.toString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case t: java.sql.Timestamp => ts(t.toInstant)
    case t: java.time.Instant => ts(t)
    case t: java.time.LocalDateTime => ts(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq).getOrElse((0 until r.length).map(_.toString))
      names.zipWithIndex.sortBy(_._1).map { case (n, i) => n + "=" + value(r.get(i)) }
        .mkString("{", ",", "}")
    case other => other.toString
  }

  private def ts(i: java.time.Instant): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC).format(i)

  def row(names: Seq[String], r: Row): String =
    names.zipWithIndex.sortBy(_._1).map { case (_, i) => value(r.get(i)) }.mkString("|")

  def table(names: Seq[String], rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(row(names, _)).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Row count and digest of each parquet file in a directory, for the
  * oracle cross-check of perfbench/record_suite.py:
  *
  *   perfbench.DigestFiles --work DIR --in DIR --out FILE
  *
  * Writes `{name: {rows, digest}}` (name = file name without `.parquet`)
  * as JSON to FILE. */
object DigestFiles {
  def main(argv: Array[String]): Unit = {
    val a = Main.options(argv)
    val spark = Main.session("perfbench-digest", Runtime.getRuntime.availableProcessors(), a("work"))
    try {
      val out = new java.util.TreeMap[String, Any]()
      new File(a("in")).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val df = spark.read.parquet(f.toString)
        val rows = df.collect().toSeq
        out.put(f.getName.stripSuffix(".parquet"), Map[String, Any](
          "rows" -> rows.size, "digest" -> Digest.table(df.schema.fieldNames.toSeq, rows)).asJava)
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")),
        new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(out))
    } finally spark.stop()
  }
}

/** The recorded per-query table: row count and digest at sf0.001, or row
  * count only for a query whose values depend on the core count. */
object Expected {
  final case class E(rows: Long, digest: Option[String])

  def load(path: String): Map[String, E] = {
    val f = new File(path)
    if (!f.isFile) return Map.empty
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).get("queries")
    node.fieldNames().asScala.map { n =>
      val q = node.get(n)
      n -> E(q.get("rows").asLong, Option(q.get("digest")).filter(!_.isNull).map(_.asText))
    }.toMap
  }

  def check(q: QuerySuite.Q, expected: Map[String, E]): Check = (q.error, expected.get(q.name)) match {
    case (Some(e), _) => Check(q.name, ok = false, e)
    case (None, None) => Check(q.name, ok = false, s"no recorded result (${q.rows.size} rows, ${q.digest.take(16)})")
    case (None, Some(e)) =>
      val ok = e.rows == q.rows.size && e.digest.forall(_ == q.digest)
      Check(q.name, ok, s"${q.rows.size} rows, ${q.digest.take(16)}; recorded ${e.rows}, " +
        e.digest.map(_.take(16)).getOrElse("rows only"))
  }
}
