package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Expectations
import graft.examples.pretrain.PretrainPipeline
import graft.functions.{DeflateRatioExpr, UnicodeNormalizeExpr}
import graft.ops.{Dedup, Packing, TextAnalysis}

/** A seeded corpus with what was planted in it. */
final case class Corpus(docs: Seq[(Long, String)], eval: Seq[(Long, String)],
                        exactDups: Seq[Long], nearDups: Seq[Long],
                        overlaps: Seq[Long], pii: Seq[(Long, String)]) {
  def lengths: Seq[Double] = docs.map(_._2.length.toDouble)
}

object Corpus {
  /** Builds `n` documents from the words of the fixture `documents`
    * table. Every few words a document carries a tag token of its own, so
    * no two documents share many shingles by accident. Most documents
    * are 150 to 600 characters; [[tailShare]] of them run 2000 to
    * [[tailMax]]; [[runShare]] carry a base64-like run of 500 to 1500
    * characters. Lengths depend only on `n`; the seed picks the words and
    * the plants. Planted: exact copies, near copies (one word of at least
    * 80 replaced), documents an eval text overlaps by 20 words, and emails
    * and phone numbers. */
  val tailShare = 0.01
  val tailMax = 4000
  val runShare = 0.01
  /** Every how many documents a share picks one. */
  private def every(share: Double): Int = math.round(1 / share).toInt

  def generate(words: IndexedSeq[String], n: Int, seed: Long): Corpus = {
    val rng = new SplittableRandom(seed)
    def word() = words(rng.nextInt(words.size))
    def body(id: Long, chars: Int): String = {
      val b = new StringBuilder
      var k = 0
      while (b.length < chars) {
        if (b.nonEmpty) b += ' '
        b ++= (if (k % 6 == 5) s"t${id}x$k" else word())
        k += 1
      }
      b.toString
    }
    val b64 = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
    val pii = mutable.ArrayBuffer.empty[(Long, String)]
    val tails = math.max(1, n / every(tailShare))
    val runs = math.max(1, n / every(runShare))
    val docs = (0 until n).map { i =>
      val id = i.toLong
      val t = i / every(tailShare)
      val len =
        if (i % every(tailShare) == 3 && t < tails)
          2000 + (tailMax - 2000) * t / math.max(1, tails - 1)
        else 150 + i * 7919 % 450
      var text = body(id, len)
      val r = i / every(runShare)
      if (i % every(runShare) == 11 && r < runs) {
        val run = Iterator.fill(500 + 1000 * r / math.max(1, runs - 1))(
          b64(rng.nextInt(64))).mkString
        text = text + " " + run + " " + body(id + 1000000000L, 100)
      }
      if (i % 25 == 7) {
        val email = s"user.$id@host$id.example.org"
        pii += id -> email; text = s"$text contact $email today"
      } else if (i % 25 == 19) {
        val phone = f"+1 555-${100 + id % 900}%03d-${1000 + id % 9000}%04d"
        pii += id -> phone; text = s"$text call $phone now"
      }
      id -> text
    }
    val byWords = docs.filter(_._2.count(_ == ' ') >= 80)
    val picks = mutable.LinkedHashSet.empty[Long]
    def pick(from: Seq[(Long, String)]): (Long, String) = {
      var d = from(rng.nextInt(from.size))
      while (picks.contains(d._1)) d = from(rng.nextInt(from.size))
      picks += d._1; d
    }
    val nPlant = (n / 50).max(3)
    var next = n.toLong
    def fresh(): Long = { next += 1; next }
    val exact = Seq.fill(nPlant)(pick(docs)).map { case (_, t) => fresh() -> t }
    val near = Seq.fill(nPlant)(pick(byWords)).map { case (_, t) =>
      val ws = t.split(" ")
      ws(rng.nextInt(ws.length)) = word()
      fresh() -> ws.mkString(" ")
    }
    val overlapDocs = Seq.fill(nPlant)(pick(byWords))
    val eval = overlapDocs.zipWithIndex.map { case ((_, t), i) =>
      val ws = t.split(" ")
      val at = rng.nextInt(ws.length - 20)
      (i.toLong, ws.slice(at, at + 20).mkString(" "))
    } ++ (0 until nPlant).map(i =>
      (nPlant + i.toLong, body(2000000000L + i, 200)))
    Corpus(docs ++ exact ++ near, eval, exact.map(_._1), near.map(_._1),
      overlapDocs.map(_._1), pii.toSeq)
  }
}

/** `curate`: `PretrainPipeline.curate` over a seeded corpus, then a
  * release step (`redactPii` and `rollingFingerprints` over the surviving
  * documents, each materialised). Closed loop: the step repeats over the
  * same corpus until the run's time is up. */
object Curate extends Workload {
  val name = "curate"
  val docs = 200
  val setups = 2
  /** Steps measured however short the run; a traced run measures a traced
    * and an untraced one. */
  val minSteps = 1
  val packBudget = 1024
  private val schema = StructType.fromDDL("doc_id BIGINT, text STRING")

  def frame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map { case (i, t) => Row(i, t) }: _*), schema)

  /** The release: survivors redacted and fingerprinted, each materialised. */
  def release(corpus: DataFrame, packed: DataFrame): (DataFrame, DataFrame) = {
    val survivors = corpus.join(packed.select("doc_id").distinct(), "doc_id")
      .localCheckpoint(true)
    val redacted = Trace.span("ops.redact")(survivors.select(col("doc_id"),
      TextAnalysis.redactPii(col("text")).as("text")).localCheckpoint(true))
    val prints = Trace.span("ops.fingerprint")(
      TextAnalysis.rollingFingerprints(survivors, "doc_id", "text")
        .localCheckpoint(true))
    (redacted, prints)
  }

  /** `PretrainPipeline.curate`'s stages one at a time, in its order and
    * with its default arguments, each materialised inside its own span. */
  def stages(docs: DataFrame, evalSet: DataFrame): DataFrame = {
    def stage(span: String)(df: => DataFrame): DataFrame =
      Trace.span(span) { val b = df.localCheckpoint(true); b.count(); b }
    val contract = Seq(Expectations.NotNull("doc_id"),
      Expectations.Unique(Seq("doc_id")), Expectations.NotNull("text"))
    require(Expectations.check(docs, contract)
      .filter(col("violations") > 0).collect().isEmpty)
    val normalized = docs.withColumn("text",
      UnicodeNormalizeExpr.unicodeNormalize(col("text"), "NFC"))
    val quality = stage("ops.quality")(normalized.filter(
      TextAnalysis.qualityScore(col("text")) >= 0.3 &&
        DeflateRatioExpr.deflateRatio(col("text")).between(0.05, 1.1)))
    val exact = stage("ops.exact_dedup")(Dedup.exactDeterministic(
      quality.withColumn("__fp", Dedup.normalizedHash(col("text"))),
      Seq("__fp"), "doc_id").drop("__fp"))
    val fuzzy = stage("ops.fuzzy_dedup") {
      val dupIds = Dedup.minHashLshPairs(exact, "doc_id", "text",
        jaccardThreshold = 0.9).select(col("id_b").as("doc_id")).distinct()
      exact.join(dupIds, Seq("doc_id"), "left_anti")
    }
    val despanned = stage("ops.span_dedup") {
      val heavy = Dedup.duplicateSpans(fuzzy, "doc_id", "text", n = 13)
        .filter(col("dup_frac") > 0.5).select(col("doc_id"))
      fuzzy.join(heavy, Seq("doc_id"), "left_anti")
    }
    val clean = stage("ops.decontaminate")(
      Dedup.decontaminate(despanned, evalSet, "doc_id", "text", 8))
    val chunks = stage("ops.chunk")(TextAnalysis.chunkDocuments(
        clean, "doc_id", "text", 256, 32)
      .withColumn("chunk_uid",
        col("doc_id").cast("long") * lit(1L << 20) + col("chunk_id")))
    stage("ops.pack")(chunks.join(
      Packing.packByTokenBudget(chunks, "chunk_uid", "chunk_text",
        shard = pmod(xxhash64(col("chunk_uid")), lit(8L)),
        budget = packBudget).select(col("chunk_uid"), col("shard"), col("bin")),
      Seq("chunk_uid")))
  }

  /** The curate checks: planted duplicates and overlaps gone, bins within
    * budget, planted PII redacted. */
  def check(c: Corpus, packed: DataFrame, redacted: DataFrame)
      : Seq[(String, Option[String])] = {
    val kept = packed.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    def gone(what: String, ids: Seq[Long]) = {
      val left = ids.filter(kept)
      what -> (if (left.isEmpty) None
        else Some(s"${left.size} of ${ids.size} survived: ${left.take(5).mkString(",")}"))
    }
    // the packer's contract: a bin's tokens before its last chunk stay
    // under the budget, so a bin overflows by at most one chunk
    val overBudget = packed.groupBy("shard", "bin")
      .agg((sum("n_tokens") - max("n_tokens")).as("t"))
      .filter(col("t") >= packBudget).count()
    val piiIds = c.pii.map(_._1).toSet
    val texts = redacted.filter(col("doc_id").isin(piiIds.toSeq: _*)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val leaked = c.pii.filter { case (id, s) => texts.get(id).exists(_.contains(s)) }
    Seq(gone("exact duplicates removed", c.exactDups),
      gone("near duplicates removed", c.nearDups),
      gone("eval overlaps removed", c.overlaps),
      "bins within budget" -> (if (overBudget == 0) None
        else Some(s"$overBudget bins exceed $packBudget tokens")),
      "planted PII redacted" -> (if (leaked.isEmpty) None
        else Some(s"${leaked.size} planted strings survived, e.g. ${leaked.head._2}")))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val ops = new Main.Ops
    def setupOnce(): (Corpus, DataFrame, DataFrame, Double) = {
      val (r, s) = Main.timed {
        val words = spark.read.parquet(ctx.data + "/documents.parquet")
          .select(explode(split(col("text"), " ")).as("w")).distinct()
          .orderBy("w").collect().map(_.getString(0)).toIndexedSeq
        val c = Corpus.generate(words, docs, ctx.seed)
        val corpus = frame(spark, c.docs)
          .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
          .localCheckpoint(true)
        val evalSet = frame(spark, c.eval).localCheckpoint(true)
        (c, corpus, evalSet)
      }
      (r._1, r._2, r._3, s)
    }
    val setupRuns = Seq.fill(setups)(setupOnce())
    val (corpus, docsDf, evalDf, _) = setupRuns.last
    // warm-up: one untimed pass over a quarter of the corpus, counted in
    // set-up; it compiles the same plans a full pass does
    val (_, warmS) = Main.timed {
      val part = docsDf.filter(col("doc_id") % 4 === 0)
      val (p, _) = PretrainPipeline.curate(part, evalDf, packBudget = packBudget)
      release(part, p)
    }
    val setupS = setupRuns.map(_._4 + warmS)

    val curateS, releaseS, stepS = mutable.ArrayBuffer.empty[Double]
    val tracedStep = mutable.ArrayBuffer.empty[Boolean]
    val gaps = mutable.ArrayBuffer.empty[Double]
    var last: Option[(DataFrame, DataFrame)] = None
    val t0 = System.nanoTime()
    var step = 0
    val steps = if (ctx.traced) 2 else minSteps
    while (step < steps || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      step += 1
      val traced = ctx.traced && step % 2 == 1
      Trace.enabled = traced
      val body = () => ops("curate") {
        val ((packed, _), cs) = Main.timed(Trace.span("examples.curate")(
          PretrainPipeline.curate(docsDf, evalDf, packBudget = packBudget)))
        val ((redacted, _), rs) = Main.timed(release(docsDf, packed))
        curateS += cs; releaseS += rs; stepS += cs + rs; tracedStep += traced
        last = Some((packed, redacted))
        if (traced) {
          val before = Trace.closed.filter(_.name.startsWith("ops.")).map(_.id).toSet
          stages(docsDf, evalDf)
          val stageS = Trace.closed.filter(s => s.name.startsWith("ops.") &&
            !s.name.startsWith("ops.redact") && !s.name.startsWith("ops.fingerprint") &&
            !before(s.id)).map(_.durNs / 1e9).sum
          gaps += cs - stageS
        }
      }
      if (traced) Trace.window(body()) else body()
      Trace.enabled = false
    }

    val checks = last match {
      case Some((packed, redacted)) => check(corpus, packed, redacted)
      case None => Seq("curate ran" -> Some("no step completed"))
    }
    val lens = corpus.lengths
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      val on = stepS.indices.filter(tracedStep).map(stepS)
      val off = stepS.indices.filterNot(tracedStep).map(stepS)
      if (on.nonEmpty && off.nonEmpty)
        Map("tracing.overhead_frac" -> (Stats.median(on) / Stats.median(off) - 1))
      else Map.empty[String, Double]
    }
    Outcome(
      setupS = setupS,
      steps = Series("curate_release_s", stepS.toSeq),
      detail = Seq(
        "setup_s" -> (Stats.median(setupS), "s"),
        "curate_s" -> (Stats.median(curateS.toSeq), "s"),
        "release_s" -> (Stats.median(releaseS.toSeq), "s")),
      series = Seq(Series("curate_s", curateS.toSeq),
        Series("release_s", releaseS.toSeq)),
      inputs = Json.obj(
        "source" -> Json.Str("documents"),
        "rows" -> Json.Num(corpus.docs.size),
        "bytes" -> Json.Num(lens.sum),
        "eval_rows" -> Json.Num(corpus.eval.size),
        "doc_chars_p50" -> Json.Num(Stats.percentile(lens, 50)),
        "doc_chars_p99" -> Json.Num(Stats.percentile(lens, 99)),
        "doc_chars_max" -> Json.Num(lens.max),
        "planted_exact_dups" -> Json.Num(corpus.exactDups.size),
        "planted_near_dups" -> Json.Num(corpus.nearDups.size),
        "planted_eval_overlaps" -> Json.Num(corpus.overlaps.size),
        "planted_pii" -> Json.Num(corpus.pii.size)),
      checks = checks,
      attempted = ops.attempted,
      failedOps = ops.failures.size,
      layers = layers,
      notes = Seq("stage_gap_s" -> Json.Arr(gaps.map(Json.Num).toSeq)))
  }
}
