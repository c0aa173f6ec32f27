package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Span-level evaluation (E1-E6), re-expressed as DataFrame joins and
  * aggregations. Semantics mirror konfuzio_sdk/evaluate.py:46-165:
  * strict = full outer join on exact (doc, start, end); non-strict = outer
  * join on (doc, label_id, label_set_id) + interval overlap; group-elected
  * ids via confidence-weighted mode; TP/FP/FN flags with the reference's
  * exact boolean algebra. Each compare plans 4 shuffle exchanges: 2 for
  * the outer join (both sides hashed on the join key) and 1 per election
  * (hashed on the group column); `summarize` adds 1.
  */
object Evaluate {

  /** Expected input columns for both sides (the eval_dict flat row,
    * data.py:1004-1098): doc_id, ann_id, annotation_set_id, label_id,
    * label_set_id, start_offset, end_offset, is_correct, confidence,
    * label_threshold.
    */
  val evalCols: Seq[String] = Seq(
    "doc_id", "ann_id", "annotation_set_id", "label_id", "label_set_id",
    "start_offset", "end_offset", "is_correct", "confidence", "label_threshold")

  /** Confidence-weighted mode with smallest-value tie-break (the
    * sklearn.utils.extmath.weighted_mode contract used at evaluate.py:55).
    */
  class WeightedMode extends Aggregator[(Long, Double), Map[Long, Double], Long] {
    def zero: Map[Long, Double] = Map.empty
    def reduce(b: Map[Long, Double], a: (Long, Double)): Map[Long, Double] =
      b.updated(a._1, b.getOrElse(a._1, 0.0) + a._2)
    def merge(x: Map[Long, Double], y: Map[Long, Double]): Map[Long, Double] =
      y.foldLeft(x) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0.0) + v) }
    def finish(b: Map[Long, Double]): Long =
      if (b.isEmpty) -1L else b.toVector.maxBy { case (k, v) => (v, -k) }._1
    def bufferEncoder = org.apache.spark.sql.Encoders.kryo[Map[Long, Double]]
    def outputEncoder = org.apache.spark.sql.Encoders.scalaLong
  }

  /** Elect the "correct" target id per group by confidence-weighted mode
    * (evaluate.py:46-70), then flag equality. One hash exchange on the group
    * column; everything else is window aggregates over it. Per (group,
    * target) the vote weight `coalesce(confidence_predicted, 1.0)` is summed
    * twice, over eligible rows (above threshold ∧ matched) and over all
    * rows; per group the argmax of each sum is `min(struct(-w, target))`,
    * which breaks ties toward the smallest target. A group with any
    * eligible row elects from the eligible sums (null if those rows carry
    * no target); a group without one falls back to all of its rows
    * (evaluate.py:51-55). Null targets never vote and never equal the
    * election (evaluate.py:56-57). Divergence kept deliberately small: the
    * reference's mode(dropna=False) can elect NaN when null targets are the
    * modal value — the best non-null target is elected here. A window sum
    * may add the weights in a different order than a groupBy would, so the
    * sums match a groupBy's to the last bit only when a (group, target)
    * pair has at most 2 votes or its weights add exactly.
    */
  private def electAndFlag(df: DataFrame, groupCol: String, targetCol: String): DataFrame = {
    val t = col(targetCol)
    val voter = coalesce(col("above_predicted_threshold") && col("is_matched"), lit(false))
    val w = coalesce(col("confidence_predicted"), lit(1.0))
    val byTarget = Window.partitionBy(col(groupCol), t)
    val byGroup = Window.partitionBy(col(groupCol))
    def argmax(votes: Column, sums: String): Column =
      min(when(t.isNotNull && votes, struct((-col(sums)).as("w"), t.as("v")))).over(byGroup).getField("v")
    val elected = s"elected_$targetCol"
    df.repartition(col(groupCol))
      .withColumn("__w_elig", sum(when(voter, w)).over(byTarget))
      .withColumn("__w_all", sum(w).over(byTarget))
      .withColumn(elected, when(max(voter).over(byGroup), argmax(voter, "__w_elig"))
        .otherwise(argmax(lit(true), "__w_all")))
      .drop("__w_elig", "__w_all")
      .withColumn(s"is_correct_$targetCol", t.isNotNull && col(elected).isNotNull && t === col(elected))
  }

  /** Strict compare (evaluate.py:88-103): full outer join on exact offsets.
    * is_matched mirrors the reference's `id_local.notna()` — GT-side
    * presence after the outer join, keyed on a synthesized always-present
    * marker rather than ann_id (which callers may legitimately leave null,
    * the way the reference's predictions have id_=None but always carry a
    * local id).
    */
  def compareStrict(gt: DataFrame, pred: DataFrame): DataFrame = {
    val p = pred.columns.foldLeft(pred)((d, c) =>
      if (Seq("doc_id", "start_offset", "end_offset").contains(c)) d else d.withColumnRenamed(c, c + "_predicted"))
    val joined = gt.withColumn("__gt_present", lit(1))
      .join(p, Seq("doc_id", "start_offset", "end_offset"), "outer")
    flag(joined
      .withColumn("is_matched", col("__gt_present").isNotNull)
      .drop("__gt_present")
      .withColumn("start_offset_predicted", col("start_offset")) // join-key identity (evaluate.py:92-93)
      .withColumn("end_offset_predicted", col("end_offset"))
      .withColumn("above_predicted_threshold",
        col("confidence_predicted") >= col("label_threshold_predicted")))
  }

  /** Non-strict compare (evaluate.py:104-121): join on (doc, label ids) with
    * interval-overlap match.
    */
  def compareNonStrict(gt: DataFrame, pred: DataFrame): DataFrame = {
    val p = pred.columns.foldLeft(pred)((d, c) =>
      if (Seq("doc_id", "label_id", "label_set_id").contains(c)) d else d.withColumnRenamed(c, c + "_predicted"))
    val joined = gt.join(p, Seq("doc_id", "label_id", "label_set_id"), "outer")
    flag(joined
      .withColumn("is_matched",
        col("start_offset_predicted") <= col("end_offset") && col("end_offset_predicted") >= col("start_offset"))
      .withColumn("above_predicted_threshold",
        col("confidence_predicted") >= col("label_threshold_predicted"))
      .withColumn("is_correct_label", lit(true))
      .withColumn("is_correct_label_set", lit(true)))
  }

  /** TP/FP/FN flag algebra (evaluate.py:127-164). */
  private def flag(joinedIn: DataFrame): DataFrame = {
    var df = joinedIn
    if (!df.columns.contains("is_correct_label"))
      df = df
        .withColumn("is_correct_label", col("label_id") <=> col("label_id_predicted"))
        .withColumn("is_correct_label_set", col("label_set_id") <=> col("label_set_id_predicted"))
    // multiline check (evaluate.py:99): group by the gt annotation, elect
    // the annotation's own id among eligible voters — rows of an annotation
    // agree iff some matched above-threshold row carries it; pure-FP rows
    // (null gt annotation) can never elect one
    df = electAndFlag(df, "ann_id", "ann_id")
      .withColumnRenamed("is_correct_ann_id", "is_correct_id")
    // annotation-set check (evaluate.py:101): per predicted set, elect the
    // gt set by confidence-weighted mode
    df = electAndFlag(df, "annotation_set_id_predicted", "annotation_set_id")
      .withColumnRenamed("is_correct_annotation_set_id", "is_correct_annotation_set")
    val isMatched = coalesce(col("is_matched"), lit(false))
    val above = coalesce(col("above_predicted_threshold"), lit(false))
    val correct = coalesce(col("is_correct"), lit(false))
    val allIdsOk = col("is_correct_label") && col("is_correct_label_set") &&
      col("is_correct_annotation_set") && col("is_correct_id")
    df.withColumn("true_positive", (isMatched && correct && above && allIdsOk).cast("int"))
      .withColumn("false_negative", (correct && (!isMatched || !above)).cast("int"))
      .withColumn("false_positive",
        (above && col("false_negative") === 0 && col("true_positive") === 0 && !allIdsOk).cast("int"))
      .withColumn("is_found_by_tokenizer",
        (col("start_offset") <=> col("start_offset_predicted") &&
          col("end_offset") <=> col("end_offset_predicted") && correct &&
          col("ann_id_predicted").isNotNull).cast("int"))
  }

  /** E7 tokenizer evaluation (tokenizer/base.py:63-96): tokenize each text,
    * strict-compare the produced spans against ground truth, return the
    * found-by-tokenizer ratio inputs per doc. `tokens`/`gt` carry
    * (doc_id, start_offset, end_offset).
    */
  def tokenizerEvaluate(tokens: DataFrame, gt: DataFrame): DataFrame = {
    val tk = tokens.select(col("doc_id"), col("start_offset"), col("end_offset"))
      .distinct() // duplicate tokens (e.g. a union of tokenizers) must not
      // fan out the joined gt rows and inflate both n_gt and n_found
      .withColumn("found", lit(1))
    gt.select(col("doc_id"), col("start_offset"), col("end_offset"))
      .join(tk, Seq("doc_id", "start_offset", "end_offset"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_gt"), sum(coalesce(col("found"), lit(0))).as("n_found"))
      .withColumn("tokenizer_recall", col("n_found") / col("n_gt"))
  }

  /** T12 missing_spans (tokenizer/base.py:98-141): the correct ground-truth
    * spans the tokenizer failed to produce exactly — a left-anti join on the
    * exact (doc, start, end) key (the reference filters the compare frame
    * for is_correct && !is_found_by_tokenizer). `gt` must carry is_correct.
    */
  def missingSpans(gt: DataFrame, tokens: DataFrame): DataFrame =
    gt.filter(col("is_correct"))
      .join(tokens.select(col("doc_id"), col("start_offset"), col("end_offset")),
        Seq("doc_id", "start_offset", "end_offset"), "left_anti")

  /** C4 NO_LABEL balancing (information_extraction.py:2793-2806): cap the
    * negative examples per document at `limit` (deterministic: keep the
    * first by start offset).
    */
  def capNoLabel(df: DataFrame, labelCol: String, noLabel: String, limit: Int): DataFrame = {
    // rank within the NO_LABEL subset only (partition by the label class) —
    // a doc-wide rank would drop negatives whenever labeled rows precede them
    // null-safe: upstream labelByContainment represents NO_LABEL as null,
    // and a null === comparison is null (not false) — without <=> every
    // null-labeled negative would bypass the cap entirely
    val isNoLabel = col(labelCol) <=> noLabel || col(labelCol).isNull
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), isNoLabel).orderBy(col("start_offset"))
    df.withColumn("__rn",
      when(isNoLabel, row_number().over(w)).otherwise(lit(0)))
      .filter(col("__rn") <= limit)
      .drop("__rn")
  }

  /** C8 `SeparateLabels` renaming (information_extraction.py:3167-3240):
    * split combined "LabelSet__Label" names back apart.
    */
  def splitCombinedLabel(combined: String): (String, String) = {
    val i = combined.indexOf("__")
    if (i < 0) ("", combined) else (combined.substring(0, i), combined.substring(i + 2))
  }

  /** C3 training-row labeling (information_extraction.py:2699-2713): a
    * tokenizer span inherits an annotation's label when fully contained in
    * the annotation's span. Equi-join on doc + containment predicate →
    * SortMergeJoin with post-filter; unmatched tokens keep NO_LABEL (null).
    */
  def labelByContainment(tokens: DataFrame, annotations: DataFrame): DataFrame = {
    // rename the join key on the annotation side: both frames usually derive
    // from the same scan, and column-reference joins on a self-joined
    // lineage resolve ambiguously (Spark's trivially-true-predicate trap)
    val ann = annotations
      .withColumnRenamed("doc_id", "ann_doc_id")
      .withColumnRenamed("start_offset", "ann_start")
      .withColumnRenamed("end_offset", "ann_end")
    tokens.join(ann,
      col("doc_id") === col("ann_doc_id") &&
        col("start_offset") >= col("ann_start") && col("end_offset") <= col("ann_end"),
      "left")
      .drop("ann_doc_id")
  }

  /** E8 full classifier metrics (information_extraction.py:2977-3132):
    * accuracy / balanced accuracy / weighted F1 over all rows, the same
    * excluding NO_LABEL true positives (rows where both sides are NO_LABEL),
    * per-label precision/recall/F1/support, and `floor(confidence*10)`
    * calibration buckets (accuracy of predictions within each confidence
    * decile — the reference's `_get_probability_distribution`).
    *
    * Input columns: y_true, y_pred (strings), confidence (double).
    * Output: tall frame (scope, metric, value) — everything downstream of
    * one small confusion-matrix aggregation, so the only full-data shuffle
    * is the (y_true, y_pred) groupBy (partial-agg friendly) plus the tiny
    * bucket groupBy.
    */
  def classifierMetrics(df: DataFrame, noLabel: String = "NO_LABEL"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col("y_true"), col("y_pred"), col("confidence"))
      .withColumn("hit", (col("y_true") === col("y_pred")).cast("long"))
    // the confusion matrix is bounded by the label vocabulary squared —
    // collect it once and rebuild a local frame for the derived metrics
    // (no persist to leak, no re-scan of the full data for each branch)
    val cmRows = base.groupBy("y_true", "y_pred").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSeq
    val cm = cmRows.toDF("y_true", "y_pred", "n")

    def generalRows(m: DataFrame, scope: String): DataFrame = {
      val total = m.agg(sum("n").as("nn"), sum(when(col("y_true") === col("y_pred"), col("n")).otherwise(lit(0L))).as("ok"))
      // per-class recall over classes present in y_true (sklearn
      // balanced_accuracy_score), per-class f1 weighted by support
      val byTrue = m.groupBy(col("y_true").as("lbl"))
        .agg(sum("n").as("support"),
          sum(when(col("y_true") === col("y_pred"), col("n")).otherwise(lit(0L))).as("tp"))
      val byPred = m.groupBy(col("y_pred").as("lbl")).agg(sum("n").as("predicted"))
      val perClass = byTrue.join(byPred, Seq("lbl"), "left")
        .withColumn("predicted", coalesce(col("predicted"), lit(0L)))
        .withColumn("recall", col("tp") / col("support"))
        .withColumn("f1",
          when(col("tp") === 0, lit(0.0)).otherwise(
            col("tp") * 2.0 / (col("support") + col("predicted"))))
      val balanced = perClass.agg(
        avg("recall").as("bal"),
        (sum(col("f1") * col("support")) / sum(col("support"))).as("wf1"))
      total.crossJoin(balanced).select(
        lit(scope).as("scope"),
        array(
          struct(lit("accuracy").as("metric"), round(col("ok") / col("nn"), 6).as("value")),
          struct(lit("balanced_accuracy").as("metric"), round(col("bal"), 6).as("value")),
          struct(lit("weighted_f1").as("metric"), round(col("wf1"), 6).as("value")),
          struct(lit("n").as("metric"), col("nn").cast("double").as("value"))).as("ms"))
        .select(col("scope"), explode(col("ms")).as("m"))
        .select(col("scope"), col("m.metric"), col("m.value"))
    }

    // per-label precision/recall/f1/support over labels present on either side
    val labels = cm.select(col("y_true").as("lbl")).union(cm.select(col("y_pred"))).distinct()
    val tps = cm.filter(col("y_true") === col("y_pred"))
      .select(col("y_true").as("lbl"), col("n").as("tp"))
    val trues = cm.groupBy(col("y_true").as("lbl")).agg(sum("n").as("support"))
    val preds = cm.groupBy(col("y_pred").as("lbl")).agg(sum("n").as("predicted"))
    val perLabel = labels.join(tps, Seq("lbl"), "left").join(trues, Seq("lbl"), "left")
      .join(preds, Seq("lbl"), "left")
      .na.fill(0L, Seq("tp", "support", "predicted"))
      .withColumn("precision", when(col("predicted") === 0, lit(0.0)).otherwise(col("tp") / col("predicted")))
      .withColumn("recall", when(col("support") === 0, lit(0.0)).otherwise(col("tp") / col("support")))
      .withColumn("f1", when(col("support") + col("predicted") === 0, lit(0.0))
        .otherwise(col("tp") * 2.0 / (col("support") + col("predicted"))))
      .select(concat(lit("label:"), col("lbl")).as("scope"),
        array(
          struct(lit("precision").as("metric"), round(col("precision"), 6).as("value")),
          struct(lit("recall").as("metric"), round(col("recall"), 6).as("value")),
          struct(lit("f1").as("metric"), round(col("f1"), 6).as("value")),
          struct(lit("support").as("metric"), col("support").cast("double").as("value"))).as("ms"))
      .select(col("scope"), explode(col("ms")).as("m"))
      .select(col("scope"), col("m.metric"), col("m.value"))

    val calib = base.withColumn("bucket", floor(col("confidence") * 10).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), avg(col("hit")).as("acc"))
      .select(concat(lit("calib:"), col("bucket")).as("scope"),
        array(
          struct(lit("n").as("metric"), col("n").cast("double").as("value")),
          struct(lit("accuracy").as("metric"), round(col("acc"), 6).as("value"))).as("ms"))
      .select(col("scope"), explode(col("ms")).as("m"))
      .select(col("scope"), col("m.metric"), col("m.value"))

    val general = generalRows(cm, "general")
    val filtered = generalRows(
      cm.filter(!(col("y_true") === noLabel && col("y_pred") === noLabel)), "general_filtered")
    general.union(filtered).union(perLabel).union(calib)
  }

  final case class Calc(tp: Long, fp: Long, fn: Long, tn: Long) {
    def precision: Option[Double] = if (tp + fp == 0) None else Some(tp.toDouble / (tp + fp))
    def recall: Option[Double] = if (tp + fn == 0) None else Some(tp.toDouble / (tp + fn))
    def f1: Option[Double] = if (tp + fp + fn == 0) None else Some(tp.toDouble / (tp + 0.5 * (fp + fn)))
  }

  /** Aggregate flags → counters (E6), optionally per extra grouping column. */
  def summarize(flags: DataFrame, by: Seq[Column] = Nil): DataFrame =
    // coalesce: a global aggregation over an EMPTY flags frame yields null
    // sums, which would NPE the primitive getAs in calc() (the reference
    // guards with `assert not spans.empty`, evaluate.py:124 — an empty
    // compare legitimately yields all-zero counts here instead)
    flags.groupBy(by: _*).agg(
      coalesce(sum("true_positive"), lit(0L)).as("tp"),
      coalesce(sum("false_positive"), lit(0L)).as("fp"),
      coalesce(sum("false_negative"), lit(0L)).as("fn"),
      coalesce(sum("is_found_by_tokenizer"), lit(0L)).as("found_by_tokenizer"),
      count(lit(1)).as("n_spans"))

  def calc(flags: DataFrame): Calc = {
    val r = summarize(flags).collect()(0)
    val tp = r.getAs[Long]("tp"); val fp = r.getAs[Long]("fp"); val fn = r.getAs[Long]("fn")
    Calc(tp, fp, fn, r.getAs[Long]("n_spans") - tp - fp - fn)
  }
}
