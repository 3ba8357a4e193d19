package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.llm.{Dedup, DedupIndex, Pii, Quality, TextOps}
import graft.streaming.CurationPipeline

/** Seeded document stream for the curation loop. Every document is
  * planted with the fate the gauntlet must give it, so the expected kept
  * set and per-stage drop counts follow from the generator alone:
  *  - clean: random prose over a small vocabulary (some carry an e-mail
  *    address for the PII scrub) — kept;
  *  - index duplicate: an exact copy of a doc kept in an earlier epoch —
  *    dropped by the standing-index probe;
  *  - self duplicate: a two-word edit of a clean doc of the same batch,
  *    with a larger doc_id — dropped by within-batch self-dedup;
  *  - contaminated: clean prose carrying a 13-token run of a holdout doc —
  *    dropped by the decontamination screen;
  *  - low quality: fewer than ten words — dropped by the quality gate.
  * The holdout (benchmark and reference-LM corpus) is drawn from the same
  * vocabulary, so no doc falls below the LM floor. */
object DocGen {
  sealed trait Fate
  case object Clean extends Fate
  case object IndexDup extends Fate
  case object SelfDup extends Fate
  case object Contaminated extends Fate
  case object LowQuality extends Fate
  final case class Doc(id: Long, text: String, fate: Fate)
}

final class DocGen(seed: Long, val batchDocs: Int) {
  import DocGen._

  val vocab: Vector[String] = Vector("the", "a", "of", "and", "to", "in", "is", "it",
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part", "hash",
    "merge", "batch", "spark", "line", "sort", "window", "data", "column", "join",
    "small", "customer", "query", "big", "filter", "order", "group", "stream",
    "vector", "index", "shard", "plan", "cache")

  private def words(r: java.util.SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(vocab(r.nextInt(vocab.size)))

  private def prose(r: java.util.SplittableRandom): Array[String] = {
    val w = words(r, 40 + r.nextInt(50))
    w(0) = "the"; w(w.length / 2) = "of" // two distinct stopwords, always
    w
  }

  val holdout: Seq[(Long, String)] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    (0 until 200).map(i => (9000000L + i, prose(r).mkString(" ")))
  }

  /** Epoch `e`'s batch; `keptBefore` are the clean docs of epochs < e. */
  def batch(e: Int, keptBefore: IndexedSeq[Doc]): Seq[Doc] = {
    val r = new java.util.SplittableRandom(seed * 7919L + e)
    val n = batchDocs
    val nIndex = if (keptBefore.isEmpty) 0 else math.min(n * 6 / 100, keptBefore.size)
    val nSelf = n * 4 / 100
    val nContam = n * 3 / 100
    val nLow = n * 3 / 100
    val nClean = n - nIndex - nSelf - nContam - nLow
    var next = e.toLong * 100000L
    def id(): Long = { next += 1; next }
    val clean = (0 until nClean).map { _ =>
      val w = prose(r)
      if (r.nextInt(10) == 0) Doc(id(), w.mkString(" ") + s" contact u${r.nextInt(1000)}@example.com", Clean)
      else Doc(id(), w.mkString(" "), Clean)
    }
    val contam = (0 until nContam).map { _ =>
      val w = prose(r)
      val h = holdout(r.nextInt(holdout.size))._2.split(" ")
      val at = r.nextInt(h.length - 13)
      val pos = 1 + r.nextInt(w.length - 1)
      Doc(id(), (w.take(pos) ++ h.slice(at, at + 13) ++ w.drop(pos)).mkString(" "), Contaminated)
    }
    val low = (0 until nLow).map(_ => Doc(id(), words(r, 3 + r.nextInt(5)).mkString(" "), LowQuality))
    val picks = r.ints(0, keptBefore.size.max(1)).distinct().limit(nIndex).toArray
    val index = picks.toSeq.map(i => Doc(id(), keptBefore(i).text, IndexDup))
    val self = (0 until nSelf).map { i =>
      val w = clean(i * (nClean / nSelf)).text.split(" ")
      val a = 1 + r.nextInt(w.length / 2 - 1)
      val b = w.length / 2 + 1 + r.nextInt(w.length / 2 - 2)
      w(a) = vocab(r.nextInt(vocab.size)); w(b) = vocab(r.nextInt(vocab.size))
      Doc(id(), w.mkString(" "), SelfDup)
    }
    clean ++ contam ++ low ++ index ++ self
  }
}

/** `curation_stream`: sequential micro-batches through
  * CurationPipeline.processBatch, each probing the index the earlier
  * batches folded into. Set-up includes epoch 0, which builds the index
  * and the benchmark n-gram and LM tables. Operation = one processBatch
  * call; item = one document. */
object CurationStream extends Workload {
  val name = "curation_stream"
  val setups = 3
  val batchDocs = 400
  /** Work per run: batches per measured second at the reference host's
    * speed (4 cores), where a 400-doc batch takes 11-20 s. */
  val batchesPerSecond = 0.15

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def frame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(docs.map { case (i, t) => Row(i, t) }.asJava, docSchema)

  final class Setup(val gen: DocGen, val pipeline: CurationPipeline, val base: String,
      val holdout: DataFrame, val epoch0: Seq[DocGen.Doc], var kept: IndexedSeq[DocGen.Doc])

  private def setUp(ctx: Ctx, k: Int): Setup = {
    val spark = ctx.spark
    graft.Caches.release(spark)
    val base = s"${ctx.work}/curation$k"
    val gen = new DocGen(ctx.seed, batchDocs)
    val holdout = frame(spark, gen.holdout).cache()
    val pipeline = new CurationPipeline(spark, s"$base/idx", s"$base/out",
      benchmark = Some(holdout), lmRef = Some(holdout), lmScoreFloor = -12.0)
    val b0 = gen.batch(0, IndexedSeq.empty)
    pipeline.processBatch(frame(spark, b0.map(d => (d.id, d.text))), 0L)
    new Setup(gen, pipeline, base, holdout, b0, b0.filter(_.fate == DocGen.Clean).toIndexedSeq)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val setupTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var s: Setup = null
    for (k <- 0 until setups) {
      if (s != null) s.holdout.unpersist()
      val t0 = System.nanoTime()
      s = setUp(ctx, k)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val gen = s.gen
    val nBatches = math.max(2, math.round(ctx.seconds * batchesPerSecond).toInt)
    // inputs are generated before the clock starts
    val batches = (1 to nBatches).map { e =>
      val b = gen.batch(e, s.kept)
      s.kept = s.kept ++ b.filter(_.fate == DocGen.Clean)
      e -> b
    }
    val frames = batches.map { case (e, b) => e -> frame(spark, b.map(d => (d.id, d.text))) }

    val firstOp = ctx.spans.nowMs()
    val t0 = System.nanoTime()
    val opS = ctx.measure(frames.map { case (e, df) =>
      val tb = System.nanoTime()
      ctx.spans.time(s"epoch $e", "op")(
        ctx.spans.time("processBatch", "curation")(s.pipeline.processBatch(df, e.toLong)))
      (System.nanoTime() - tb) / 1e9
    })
    val measuredS = (System.nanoTime() - t0) / 1e9
    ctx.spans.add("run", "run", firstOp, ctx.spans.nowMs())
    val docs = batches.map(_._2.size).sum

    val all = Seq(0 -> s.epoch0) ++ batches
    val checks = CurationCheck.check(spark, all, s"${s.base}/out")
    val steps = if (ctx.traced) stepTimes(ctx, s, nBatches + 1) else Map.empty[String, Double]
    Outcome(setupTimes.toSeq, opS, docs.toLong, measuredS, checks,
      layers = layerMetrics(ctx, s, opS, steps),
      firstOpEpochMs = firstOp,
      sf = "generated", details = Map("batches" -> nBatches, "batch_docs" -> batchDocs))
  }

  /** The curation and llm layer metrics without the end-to-end run: one
    * set-up, one timed processBatch and each public step on its own.
    * query_suite's traced run calls this, so these layers are measured
    * by a registered workload. Returns the layer metrics and the checks
    * of the two epochs. */
  def layerProbe(ctx: Ctx): (Seq[(String, Double, String)], Seq[Check]) = {
    val s = setUp(ctx, setups)
    val b = s.gen.batch(1, s.kept)
    val t0 = System.nanoTime()
    ctx.spans.time("epoch 1", "op")(ctx.spans.time("processBatch", "curation")(
      s.pipeline.processBatch(frame(ctx.spark, b.map(d => (d.id, d.text))), 1L)))
    val opS = Seq((System.nanoTime() - t0) / 1e9)
    s.kept = s.kept ++ b.filter(_.fate == DocGen.Clean)
    val checks = CurationCheck.check(ctx.spark, Seq(0 -> s.epoch0, 1 -> b),
      s"${s.base}/out").map(c => c.copy(name = s"curation ${c.name}"))
    val layers = layerMetrics(ctx, s, opS, stepTimes(ctx, s, 2))
    s.holdout.unpersist()
    (layers, checks)
  }

  private def layerMetrics(ctx: Ctx, s: Setup, opS: Seq[Double],
      steps: Map[String, Double]): Seq[(String, Double, String)] = {
    val drops = CurationCheck.drops(ctx.spark, s"${s.base}/out")
    val idxFiles = listFiles(new File(s"${s.base}/idx")).filter(_.getName.endsWith(".parquet"))
    Seq(
      ("curation.batch_s", opS.sum, "s"),
      ("llm.index_probe_s", steps.getOrElse("index_probe", 0.0), "s"),
      ("llm.index_fold_s", steps.getOrElse("index_fold", 0.0), "s"),
      ("llm.scrub_gate_s", steps.getOrElse("scrub_gate", 0.0), "s"),
      ("llm.self_dedup_s", steps.getOrElse("self_dedup", 0.0), "s"),
      ("llm.lm_score_s", steps.getOrElse("lm_score", 0.0), "s"),
      ("curation.kept", drops.getOrElse("n_kept", 0L).toDouble, "count")) ++
      Seq("index_dup", "contained", "self_dup", "contaminated", "quality", "lm").map(d =>
        (s"curation.drop.$d", drops.getOrElse(s"drop_$d", 0L).toDouble, "count")) ++ Seq(
      ("index.files", idxFiles.length.toDouble, "count"),
      ("index.bytes", idxFiles.map(_.length).sum.toDouble, "bytes"))
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)

  /** Traced run only: each public step of the gauntlet, timed on its own
    * over one further batch against a copy of the index. */
  private def stepTimes(ctx: Ctx, s: Setup, e: Int): Map[String, Double] = {
    val spark = ctx.spark
    val docs = frame(spark, s.gen.batch(e, s.kept).map(d => (d.id, d.text))).cache()
    docs.count()
    val idx = s"${s.base}/idx_copy"
    org.apache.commons.io.FileUtils.copyDirectory(new File(s"${s.base}/idx"), new File(idx))
    val (uni, bi) = TextOps.lmModelTables(s.holdout)
    Seq(uni, bi).foreach(t => t.cache().count())
    def time(name: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      ctx.spans.time(name, "llm")(f)
      name -> (System.nanoTime() - t0) / 1e9
    }
    val sets = docs.select(col("doc_id"), array_sort(array_distinct(
      Dedup.shinglesFromTokens(TextOps.tokens(col("text"))))).as("shset"))
    val out = Seq(
      time("index_probe")(DedupIndex.probe(spark, idx, docs, 0.6).count()),
      time("scrub_gate")(Quality.gate(Pii.scrub(docs, "text")
        .select(col("doc_id"), col("clean_text").as("text"))).queryExecution.toRdd.count()),
      time("self_dedup")(Dedup.ngramJaccardFromSets(sets, 0.6).count()),
      time("lm_score")(TextOps.lmScoreUnderModel(docs, uni, bi, 0.1).count()),
      time("index_fold")(DedupIndex.foldIn(docs, idx))).toMap
    Seq(docs, uni, bi).foreach(_.unpersist())
    out
  }
}

/** Output checks of `curation_stream`: per epoch, n_in equals kept plus
  * every drop, and each drop count equals the planted count; the kept
  * set's digest equals the digest of the planted clean docs. */
object CurationCheck {
  def drops(spark: SparkSession, out: String): Map[String, Long] = {
    val m = spark.read.parquet(s"$out/metrics")
    val cols = m.columns.toSeq.filter(c => c == "n_kept" || c.startsWith("drop_"))
    val r = m.agg(sum(col(cols.head)), cols.tail.map(c => sum(col(c))): _*).head()
    cols.zipWithIndex.map { case (c, i) => c -> r.getLong(i) }.toMap
  }

  def digest(ids: Seq[Long]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ids.sorted.foreach(i => md.update(s"$i\n".getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def check(spark: SparkSession, epochs: Seq[(Int, Seq[DocGen.Doc])],
      out: String): Seq[Check] = {
    val m = spark.read.parquet(s"$out/metrics").collect()
    val byEpoch = m.map(r => r.getAs[Int]("epoch") -> r).toMap
    val perEpoch = epochs.map { case (e, docs) =>
      def planted(f: DocGen.Fate): Long = docs.count(_.fate == f).toLong
      byEpoch.get(e) match {
        case None => Check(s"epoch $e", ok = false, "no metrics row")
        case Some(r) =>
          val l = (c: String) => r.getAs[Long](c)
          val drops = Seq("drop_index_dup", "drop_contained", "drop_self_dup",
            "drop_contaminated", "drop_quality", "drop_lm").map(l)
          val want = Seq(planted(DocGen.IndexDup), 0L, planted(DocGen.SelfDup),
            planted(DocGen.Contaminated), planted(DocGen.LowQuality), 0L)
          val balanced = l("n_in") == drops.sum + l("n_kept") && l("n_in") == docs.size
          Check(s"epoch $e", balanced && drops == want && l("n_kept") == planted(DocGen.Clean),
            s"n_in ${l("n_in")} kept ${l("n_kept")} drops ${drops.mkString("/")}; " +
              s"planted ${docs.size} kept ${planted(DocGen.Clean)} drops ${want.mkString("/")}")
      }
    }
    val kept = spark.read.parquet(s"$out/kept").select("doc_id").collect().map(_.getLong(0)).toSeq
    val want = epochs.flatMap(_._2.filter(_.fate == DocGen.Clean).map(_.id))
    val (got, exp) = (digest(kept), digest(want))
    perEpoch :+ Check("kept_digest", got == exp && kept.size == want.size,
      s"${kept.size} kept, sha256 ${got.take(16)}; expected ${want.size}, ${exp.take(16)}")
  }
}
