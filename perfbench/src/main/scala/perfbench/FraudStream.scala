package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ingest.ChunkFeeder
import graft.ops.Patterns
import graft.state.{JdbcUpsertStore, StateStore}
import graft.streaming.MicroBatchRunner

/** Seeded transaction stream in the reference's 10-column schema. Its
  * marginals are the published column counts of the BankSim data set
  * the reference reads (bs140513_032310.csv, 594,643 rows; see
  * perfbench/README.md, "fraud_stream input"): 4,112 customers, 50
  * merchants, 15 categories with their row counts, the gender and age
  * splits, the fraud rate and a log-normal fitted to the amount
  * quartiles. What BankSim's figures do not give is marked unverified
  * where it is chosen. Rows are generated chunk by chunk from the seed;
  * the same seed gives the same rows. */
object TxGen {
  final case class Tx(step: Int, cust: Int, merch: Int, amountCents: Long, fraud: Int)

  /** BankSim rows per category, largest first. */
  val categoryRows: Vector[(String, Int)] = Vector(
    "es_transportation" -> 505119, "es_food" -> 26254, "es_health" -> 16133,
    "es_wellnessandbeauty" -> 15086, "es_fashion" -> 6454,
    "es_barsandrestaurants" -> 6373, "es_hyper" -> 6098, "es_sportsandtoys" -> 4002,
    "es_tech" -> 2370, "es_home" -> 1986, "es_hotelservices" -> 1744,
    "es_otherservices" -> 912, "es_contents" -> 885, "es_travel" -> 728,
    "es_leisure" -> 499)
  /** BankSim's two largest merchants, both es_transportation, which they
    * make up between them. */
  val topMerchantRows: Vector[Int] = Vector(299693, 205426)
  val genderRows: Vector[(String, Int)] = Vector("F" -> 324565, "M" -> 268385,
    "E" -> 1178, "U" -> 515)
  val ageRows: Vector[(String, Int)] = Vector("0" -> 2452, "1" -> 58131, "2" -> 187310,
    "3" -> 147131, "4" -> 109025, "5" -> 62642, "6" -> 26774)
  val fraudShare: Double = 7200.0 / 594643
  /** Log-normal amount: median 26.90 and sigma from the quartiles 13.74
    * and 42.54 (ln(42.54 / 13.74) / 1.349); its mean, 38.2, is within 1%
    * of BankSim's 37.89. */
  val amountMu: Double = math.log(26.90)
  val amountSigma: Double = math.log(42.54 / 13.74) / 1.349
}

final class TxGen(seed: Long) {
  import TxGen._

  val nCust = 4112
  val nMerch = 50
  val chunkRows = 10000
  val categories: Vector[String] = categoryRows.map(_._1)

  /** Merchants 0 and 1 are the two es_transportation merchants; the other
    * 48 go round-robin over the other 14 categories, each category's rows
    * split evenly over its merchants (unverified: BankSim's figures do
    * not give that split). */
  private val merchCat: Vector[Int] = Vector(0, 0) ++ (0 until nMerch - 2).map(i => 1 + i % 14)
  private val merchRows: Vector[Double] = (0 until nMerch).map { m =>
    if (m < 2) topMerchantRows(m).toDouble
    else categoryRows(merchCat(m))._2.toDouble / merchCat.count(_ == merchCat(m))
  }.toVector
  private def cdf(w: Seq[Double]): Array[Double] = {
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private def draw(cdf: Array[Double], r: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }
  private val merchCdf = cdf(merchRows)
  private val rng = new java.util.SplittableRandom(seed)
  // BankSim's splits count rows; drawing them per customer is unverified.
  // Its 1,178 "E" (enterprise) rows are its 1,178 rows of age "U".
  val gender: Array[String] = {
    val c = cdf(genderRows.map(_._2.toDouble))
    Array.fill(nCust)(genderRows(draw(c, rng))._1)
  }
  val age: Array[String] = {
    val c = cdf(ageRows.map(_._2.toDouble))
    gender.map(g => if (g == "E") "U" else ageRows(draw(c, rng))._1)
  }
  def custId(c: Int): String = (1000000 + c).toString
  def merchId(m: Int): String = (500 + m).toString
  def category(m: Int): String = categories(merchCat(m))

  /** Importance rows, the CustomerImportance analog: one weight for each
    * (customer, merchant, category) that occurs in `txs`, uniform in
    * [0, 1) to 4 decimals and fixed per (seed, customer, merchant)
    * (unverified: not a BankSim figure). */
  def importance(txs: Seq[Tx]): Seq[(Int, Int, Double)] =
    txs.map(t => (t.cust, t.merch)).distinct.sorted.map { case (c, m) =>
      val w = new java.util.SplittableRandom(seed * 8191L + c.toLong * nMerch + m).nextDouble()
      (c, m, math.rint(w * 10000) / 10000)
    }

  /** Chunk `k` of the stream (deterministic in (seed, k)). Customers are
    * drawn uniformly and the merchant independently of the customer
    * (both unverified); amount and fraud flag are independent draws. */
  def chunk(k: Int): Array[Tx] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + k)
    Array.fill(chunkRows) {
      val c = r.nextInt(nCust)
      val m = draw(merchCdf, r)
      val amt = math.round(math.exp(amountMu + amountSigma * r.nextGaussian()) * 100)
      Tx(k, c, m, amt, if (r.nextDouble() < fraudShare) 1 else 0)
    }
  }

  def rows(txs: Seq[Tx]): java.util.List[Row] = txs.map(t => Row(
    t.step, custId(t.cust), age(t.cust), gender(t.cust), "28007",
    merchId(t.merch), "28007", category(t.merch), t.amountCents / 100.0,
    t.fraud)).asJava

  def importanceCsv(importance: Seq[(Int, Int, Double)]): String =
    importance.map { case (c, m, w) => s"${custId(c)},${merchId(m)},${category(m)},$w" }
      .mkString("customer,merchant,category,weight\n", "\n", "\n")
}

/** `fraud_stream`: the paper's pipeline. ChunkFeeder lands 10k-row CSV
  * chunks, MicroBatchRunner drains them in scale mode (one file per
  * trigger, zero trigger interval) against an in-memory Derby
  * JdbcUpsertStore. Operation = one micro-batch (its triggerExecution);
  * item = one transaction row over feed plus drain. */
object FraudStream extends Workload {
  val name = "fraud_stream"
  val setups = 3
  /** Work per run: micro-batches per measured second at the reference
    * host's speed (4 cores), so a run measures about `seconds` there and
    * the same work everywhere else: 6 chunks at 30 s. */
  val batchesPerSecond = 0.2

  final class Setup(val gen: TxGen, val txs: Seq[TxGen.Tx],
      val importance: Seq[(Int, Int, Double)], val store: StateStore, val dim: DataFrame,
      val base: String)

  /** Input generation (the run's chunks, a warm-up chunk, the importance
    * CSV of their pairs), the cached dim, a warm-up stream and a fresh
    * store. */
  private def setUp(ctx: Ctx, k: Int, nChunks: Int): Setup = {
    val spark = ctx.spark
    val base = s"${ctx.work}/fraud$k"
    val gen = new TxGen(ctx.seed)
    val txs = (0 until nChunks).flatMap(gen.chunk)
    val warmRows = gen.chunk(-1 - k).toSeq
    val importance = gen.importance(txs ++ warmRows)
    val csvDir = new File(s"$base/importance_csv")
    csvDir.mkdirs()
    Files.write(new File(csvDir, "part-00000.csv").toPath,
      gen.importanceCsv(importance).getBytes(StandardCharsets.UTF_8))
    val dim = Tables.importanceFromCsv(spark, csvDir.toString).cache()
    dim.count()
    // warm-up: one chunk fed and streamed through a scratch store,
    // so stream start-up, codegen and class loading are set-up cost
    val warmStore = JdbcUpsertStore.derbyMemory(s"warm_${ctx.seed}_$k")
    val warmRunner = new MicroBatchRunner(spark, warmStore, dim, s"$base/warm_out",
      scaleMode = true)
    ChunkFeeder.feed(spark.createDataFrame(gen.rows(warmRows), MicroBatchRunner.txStreamSchema),
      s"$base/warm_in", gen.chunkRows)
    val wq = warmRunner.start(s"$base/warm_in", s"$base/warm_cp", triggerInterval = "0 seconds")
    try wq.processAllAvailable() finally wq.stop()
    warmStore.close()
    val store = JdbcUpsertStore.derbyMemory(s"state_${ctx.seed}_$k")
    new Setup(gen, txs, importance, store, dim, base)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val setupTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val nChunks = math.max(2, math.round(ctx.seconds * batchesPerSecond).toInt)
    var s: Setup = null
    for (k <- 0 until setups) {
      if (s != null) { s.store.close(); s.dim.unpersist() }
      val t0 = System.nanoTime()
      s = setUp(ctx, k, nChunks)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val gen = s.gen
    val txs = s.txs
    val txDf = spark.createDataFrame(gen.rows(txs), MicroBatchRunner.txStreamSchema)
    val inDir = s"${s.base}/in"
    val outDir = s"${s.base}/out"

    val timed = if (ctx.traced) new TimedStore(s.store, ctx.spans) else s.store
    val progress = if (ctx.traced) {
      val l = new ProgressListener(ctx.spans)
      spark.streams.addListener(l)
      Some(l)
    } else None
    val runner = new MicroBatchRunner(spark, timed, s.dim, outDir, scaleMode = true)

    val firstOp = ctx.spans.nowMs()
    val tRun0 = System.nanoTime()
    val (fed, feedS, q) = ctx.measure {
      val fed = ctx.spans.time("ChunkFeeder.feed", "ingest")(
        ChunkFeeder.feed(txDf, inDir, gen.chunkRows))
      val feedS = (System.nanoTime() - tRun0) / 1e9
      orderChunks(inDir)
      val q = runner.start(inDir, s"${s.base}/cp", triggerInterval = "0 seconds")
      try q.processAllAvailable() finally q.stop()
      (fed, feedS, q)
    }
    val measuredS = (System.nanoTime() - tRun0) / 1e9
    val drainS = measuredS - feedS
    ctx.spans.add("run", "run", firstOp, ctx.spans.nowMs())
    progress.foreach(spark.streams.removeListener)

    val batches = q.recentProgress.filter(_.numInputRows > 0)
    val trig = batches.map(_.durationMs.get("triggerExecution").longValue / 1e3).toSeq
    val addB = batches.map(_.durationMs.get("addBatch").longValue / 1e3).toSeq

    // ---- output checks ----
    val (checks, detections) = FraudCheck.check(spark, gen, txs, s.importance, nChunks, s.store,
      outDir, s.dim, batches.length)
    val stateRows = Seq(
      ("state.rows.merchant", s.store.merchantSummary(spark).count().toDouble, "count"),
      ("state.rows.cust_merchant", s.store.custMerchantSummary(spark).count().toDouble, "count"),
      ("state.rows.gender", s.store.genderSummary(spark).count().toDouble, "count"))
    val detDirs = Option(new File(outDir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory)
    val detFiles = detDirs.flatMap(d => d.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".csv")))
    val inBytes = Option(new File(inDir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".csv")).map(_.length).sum
    val ts = timed match { case t: TimedStore => Some(t); case _ => None }
    val applyS = ts.map(_.applyNs.get / 1e9).getOrElse(0.0)
    val layers = Seq(
      ("ingest.feed_s", feedS, "s"),
      ("ingest.chunks", fed.toDouble, "count"),
      ("ingest.bytes", inBytes.toDouble, "bytes"),
      ("stream.drain_s", drainS, "s"),
      ("stream.trigger_s", trig.sum, "s"),
      ("stream.add_batch_s", addB.sum, "s"),
      ("stream.engine_s", trig.sum - addB.sum, "s"),
      ("stream.batches", batches.length.toDouble, "count"),
      ("stream.rows_per_batch", batches.map(_.numInputRows).sum.toDouble /
        math.max(batches.length, 1), "count"),
      ("state.apply_s", applyS, "s"),
      ("state.apply_calls", ts.map(_.applyCalls.get.toDouble).getOrElse(0.0), "count"),
      ("state.read_calls", ts.map(_.readCalls.get.toDouble).getOrElse(0.0), "count"),
      ("state.read_keys", ts.map(_.readKeys.get.toDouble).getOrElse(0.0), "count"),
      ("runner.rest_s", addB.sum - applyS, "s"),
      ("ops.detections", detections.toDouble, "count"),
      ("ops.detection_files", detFiles.length.toDouble, "count")) ++ stateRows
    s.store.close()
    Outcome(setupTimes.toSeq, trig, txs.size.toLong, measuredS, checks,
      layers = layers, firstOpEpochMs = firstOp,
      sf = "generated", details = Map("rows_fed" -> txs.size, "chunks" -> nChunks))
  }

  /** Give the landed chunks strictly increasing modification times in
    * part order. The file source takes the oldest file first, so the
    * micro-batch order (and with it every detection) is a function of
    * the seed alone, not of the file system's timestamp resolution. */
  private def orderChunks(inDir: String): Unit = {
    val files = new File(inDir).listFiles().filter(_.getName.endsWith(".csv"))
      .sortBy(f => f.getName.substring(f.getName.lastIndexOf("_part")))
    val t0 = System.currentTimeMillis() - 1000L * (files.length + 1)
    files.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + 1000L * i) }
  }
}

/** Output checks of `fraud_stream`, re-derived in the benchmark JVM from
  * the generated rows:
  *  - the three state tables equal an exact aggregate of the input, and
  *    total_transactions sums to the rows fed;
  *  - the detections written equal the scale-mode pattern semantics
  *    replayed batch by batch over the exact cumulative state (the
  *    per-(merchant, category) percentile comes from the same
  *    percentile_approx expression the runner uses). */
object FraudCheck {
  def check(spark: SparkSession, gen: TxGen, txs: Seq[TxGen.Tx],
      importance: Seq[(Int, Int, Double)], nChunks: Int,
      store: StateStore, outDir: String, dim: DataFrame,
      batches: Int): (Seq[Check], Long) = {
    val cfg = Patterns.DefaultConfig
    val checks = scala.collection.mutable.ArrayBuffer.empty[Check]
    // one chunk file per trigger; rows are checked on the state
    checks += Check("batches", batches == nChunks,
      s"$batches micro-batches, expected $nChunks")

    // exact final state (Derby folds column names to upper case: read by position)
    val mTot = txs.groupBy(_.merch).map { case (m, xs) => gen.merchId(m) -> xs.size.toLong }
    val cm = txs.groupBy(t => (gen.custId(t.cust), gen.merchId(t.merch)))
      .map { case (k, xs) => k -> (xs.size.toLong, BigDecimal(xs.map(_.amountCents).sum, 2)) }
    val gM = txs.groupBy(t => gen.merchId(t.merch)).map { case (m, xs) =>
      m -> (xs.count(t => gen.gender(t.cust) == "M").toLong,
        xs.count(t => gen.gender(t.cust) == "F").toLong) }
    val gotM = store.merchantSummary(spark).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotCm = store.custMerchantSummary(spark).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), BigDecimal(r.getDecimal(3)))).toMap
    val gotG = store.genderSummary(spark).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    checks += Check("state.merchant_summary", gotM == mTot, s"${gotM.size} rows, expected ${mTot.size}")
    checks += Check("state.customer_merchant_summary", gotCm == cm, s"${gotCm.size} rows, expected ${cm.size}")
    checks += Check("state.merchant_gender_summary", gotG == gM, s"${gotG.size} rows, expected ${gM.size}")
    checks += Check("state.total_transactions", gotM.values.sum == txs.size.toLong,
      s"${gotM.values.sum} vs ${txs.size} rows fed")

    // detections: scale-mode semantics replayed per batch
    val pW = dim.groupBy(col("merchant"), col("category"))
      .agg(expr(s"percentile_approx(weight, ${cfg.detectionPercentile}, 10000)").as("p"))
      .collect().map(r => (r.getLong(0).toString, r.getString(1)) -> r.getDouble(2)).toMap
    val weight = importance.map { case (c, m, w) =>
      (gen.custId(c), gen.merchId(m), gen.category(m)) -> w }.toMap
    val cumM = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cumCm = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
      .withDefaultValue((0L, 0L))
    val cumG = scala.collection.mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    var expected = 0L
    for (b <- 0 until nChunks) {
      val bt = txs.filter(_.step == b)
      for (t <- bt) {
        val (c, m) = (gen.custId(t.cust), gen.merchId(t.merch))
        cumM(m) += 1
        val (n, a) = cumCm((c, m)); cumCm((c, m)) = (n + 1, a + t.amountCents)
        val (ml, fl) = cumG(m)
        cumG(m) = gen.gender(t.cust) match {
          case "M" => (ml + 1, fl); case "F" => (ml, fl + 1); case _ => (ml, fl) }
      }
      val touched = bt.map(t => gen.merchId(t.merch)).toSet
      val lowWeight = bt.flatMap { t =>
        val key = (gen.custId(t.cust), gen.merchId(t.merch), gen.category(t.merch))
        weight.get(key).filter(w => pW.get((key._2, key._3)).exists(w < _))
          .map(_ => (key._1, key._2))
      }.toSet
      val p1 = lowWeight.count { case (c, m) =>
        touched(m) && cumM(m) > cfg.merchantTxThreshold && cumCm((c, m))._1 > cfg.custTxThreshold }
      val p2 = cumCm.count { case ((_, m), (n, a)) =>
        touched(m) && n >= cfg.childTxMin && (a / 100.0) / n < cfg.childAvgMax }
      val p3 = cumG.count { case (m, (ml, fl)) =>
        touched(m) && fl < ml && fl > cfg.deiFemaleMin }
      expected += p1 + p2 + p3
    }
    val dirs = Option(new File(outDir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory).map(_.toString)
    val got = if (dirs.isEmpty) 0L
      else spark.read.option("header", "true").csv(dirs.toIndexedSeq: _*).count()
    checks += Check("detections", got == expected && expected > 0,
      s"$got written, expected $expected")
    (checks.toSeq, got)
  }
}
