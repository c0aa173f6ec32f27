package perfbench

import java.io.File
import java.util.SplittableRandom

import graft.corpus.WebCorpus
import graft.engine.{Evaluate, ExtractedDoc, Extraction, FeatureFrame, Labels, PageRow}
import graft.jobs.TrainScorerJob
import graft.jobs.TrainScorerJob.ExampleK
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `train_eval`: one konfuzio train-and-evaluate cycle per batch.
  *
  * Setup extracts `Docs` pages (a seeded page range) with
  * `Extraction.extract` and stages the documents and their labels as
  * parquet; the seed also splits the documents into train and test (share
  * `TestShare`). A cycle runs `FeatureFrame.forDocs` (the 270-wide frame),
  * labels every token span by `Evaluate.labelByContainment` against the
  * extraction's labels, fits `TrainScorerJob.fitSoftmax` on the cached
  * train examples, predicts the test spans with `predictProba`, and scores
  * them with `Evaluate.compareStrict` and `Evaluate.calc` (span-strict F1).
  *
  * Checks: the test split's ground-truth span count, computed in setup on
  * the driver, equals the labelled test rows; every ground-truth span ends
  * up exactly one of TP, FN or (wrong label) FP; the F1 is the same in
  * every cycle.
  */
final class TrainEvalWorkload(ctx: Ctx) extends Workload(ctx) {
  import TrainEvalWorkload._
  import spark.implicits._

  private val rng = new SplittableRandom(ctx.seed)
  private val start: Long = rng.nextLong(1000000000L)
  private val splitSalt: Long = rng.nextLong()

  private var docs: Dataset[ExtractedDoc] = _
  private var anns: DataFrame = _
  private var gtSpans = 0L
  private var textBytes = 0L
  private var cachedBytes = 0L
  private var lastF1 = Double.NaN

  def warmupBatches: Int = 2

  def stage(d: File): Unit = {
    val st = start
    val pages = spark.range(0L, Docs.toLong, 1L, ctx.cores).map { i =>
      val p = WebCorpus.page(st + i)
      PageRow(p.url, p.warc_ts, p.html, p.text, p.lang)
    }
    Extraction.extract(pages).write.parquet(s"$d/docs")
    docs = spark.read.parquet(s"$d/docs").as[ExtractedDoc]
    docs.select(col("url").as("doc_id"), explode(col("labels")).as("l"))
      .select(col("doc_id"), col("l.start").as("start_offset"), col("l.end").as("end_offset"),
        col("l.label").as("label"))
      .write.parquet(s"$d/anns")
    anns = spark.read.parquet(s"$d/anns")
    // ground truth on the driver: test tokens inside some label span
    val local = docs.collect()
    gtSpans = local.iterator.filter(doc => isTest(doc.url, splitSalt)).map { doc =>
      doc.spans.count(s => doc.labels.exists(l => l.start <= s.start && s.end <= l.end)).toLong
    }.sum
    textBytes = local.iterator.map(_.extracted_text.length.toLong).sum
    lastF1 = Double.NaN
  }

  def run(batch: Int): () => BatchResult = {
    val frame = ctx.span("engine.feature_frame") {
      val f = FeatureFrame.forDocs(docs).persist(StorageLevel.MEMORY_AND_DISK)
      f.count()
      f
    }
    val tokens = frame.select(col("url").as("doc_id"), col("start").as("start_offset"),
      col("end").as("end_offset"), col("features"))
    val salt = splitSalt
    val test = udf((u: String) => isTest(u, salt))
    val labeled = ctx.span("engine.label_containment") {
      val l = Evaluate.labelByContainment(tokens, anns)
        .select(col("doc_id"), col("start_offset"), col("end_offset"), col("features"),
          coalesce(col("label"), lit(Labels.NoLabel)).as("label"))
        .withColumn("is_test", test(col("doc_id")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      l.count()
      l
    }
    // blocking: the heap sample below must not see blocks still queued
    // for removal
    frame.unpersist(blocking = true)
    val classIdx = Classes.zipWithIndex.toMap
    val train = labeled.filter(!col("is_test")).select(col("label"), col("features")).as[(String, Array[Double])]
      .map { case (l, f) => ExampleK(classIdx(l), f) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val model = ctx.span("jobs.fit") {
      val counts = new Array[Long](Classes.length)
      train.groupByKey(_.y).count().collect().foreach { case (y, n) => counts(y) = n }
      TrainScorerJob.fitSoftmax(train, Classes.length, FeatureFrame.width(),
        TrainScorerJob.balancedWeights(counts), iters = FitIters, classes = Classes)
    }
    ctx.heap.sample()
    if (cachedBytes == 0L)
      cachedBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    train.unpersist(blocking = true)
    // one action over the compare: the counts split by ground-truth
    // presence, which `Evaluate.calc` would sum into one row
    val byMatch = ctx.span("engine.evaluate") {
      val testRows = labeled.filter(col("is_test"))
      val gt = evalRows(testRows.filter(col("label") =!= Labels.NoLabel)
        .select(col("doc_id"), col("start_offset"), col("end_offset"),
          col("label"), lit(1.0).as("confidence")), isCorrect = true)
      val bm = spark.sparkContext.broadcast(model)
      val pred = testRows.select(col("doc_id"), col("start_offset"), col("end_offset"), col("features"))
        .as[(String, Int, Int, Array[Double])]
        .flatMap { case (doc, s, e, f) =>
          val p = TrainScorerJob.predictProba(bm.value, f)
          var best = 0
          var k = 1
          while (k < p.length) { if (p(k) > p(best)) best = k; k += 1 }
          if (best == 0) None else Some((doc, s, e, Classes(best), p(best)))
        }.toDF("doc_id", "start_offset", "end_offset", "label", "confidence")
      // both sides materialized once: the compare reads each several times
      val flags = Evaluate.compareStrict(gt.localCheckpoint(true),
        evalRows(pred, isCorrect = false).localCheckpoint(true))
      val rows = Evaluate.summarize(flags, Seq(col("is_matched"))).collect()
      bm.destroy()
      rows
    }
    labeled.unpersist(blocking = true)
    () => {
      def sum(rows: Seq[org.apache.spark.sql.Row], c: String) = rows.map(_.getAs[Long](c)).sum
      val all = byMatch.toSeq
      val onGt = all.filter(_.getAs[Boolean]("is_matched"))
      val (tp, fp, fn) = (sum(all, "tp"), sum(all, "fp"), sum(all, "fn"))
      val calc = Evaluate.Calc(tp, fp, fn, sum(all, "n_spans") - tp - fp - fn)
      val f = calc.f1.getOrElse(0.0)
      val stable = lastF1.isNaN || lastF1 == f
      lastF1 = f
      val checks = Seq(
        "gt_spans" -> (sum(onGt, "n_spans") == gtSpans),
        "tp_fn_fp_cover_gt" -> (sum(onGt, "tp") + sum(onGt, "fn") + sum(onGt, "fp") == gtSpans),
        "f1_deterministic" -> stable)
      val failed = checks.collect { case (n, false) => n }
      BatchResult(Docs.toLong, failed.isEmpty, failed.mkString(","))
    }
  }

  def f1: Double = lastF1

  def storedBytesPerInputByte: Double = cachedBytes.toDouble / textBytes

  def kernelSample: IndexedSeq[PageRow] =
    (0 until math.min(Docs, KernelDocs)).map { k =>
      val p = WebCorpus.page(start + k)
      PageRow(p.url, p.warc_ts, p.html, p.text, p.lang)
    }
}

object TrainEvalWorkload {
  val Docs = 200
  val TestShare = 0.5
  val FitIters = 10
  val KernelDocs = 256
  val Classes: Array[String] = Labels.NoLabel +: Labels.all.map(_.name).toArray

  def isTest(url: String, salt: Long): Boolean =
    java.lang.Math.floorMod(Util.mix(Util.h64(url), salt), 1000L) < (TestShare * 1000).toLong

  /** The evaluation row shape (`Evaluate.evalCols`): one annotation per
    * span, one annotation set and one label set per document.
    */
  private def evalRows(df: DataFrame, isCorrect: Boolean): DataFrame = {
    val labelId = Classes.zipWithIndex.foldLeft(lit(-1L)) { case (acc, (c, i)) =>
      when(col("label") === c, lit(i.toLong)).otherwise(acc)
    }
    df.select(
      col("doc_id"),
      xxhash64(col("doc_id"), col("start_offset"), col("end_offset")).as("ann_id"),
      xxhash64(col("doc_id")).as("annotation_set_id"),
      labelId.as("label_id"),
      lit(1L).as("label_set_id"),
      col("start_offset"), col("end_offset"),
      lit(isCorrect).as("is_correct"),
      col("confidence"),
      lit(0.0).as("label_threshold"))
  }
}
