package graft.engine

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Scenario tests for the compare/flag algebra, mirroring the reference's
  * evaluate scenarios (tests/test_evaluate.py docstring matrix): perfect
  * match, missing prediction, spurious prediction, wrong label,
  * below-threshold confidence.
  */
class EvaluateSpec extends AnyFunSuite {
  import EvaluateSpec._
  lazy val spark = SparkTestBase.spark

  private def df(rows: Seq[(Long, Long, Long, Long, Long, Int, Int, Boolean, Double, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "ann_id", "annotation_set_id", "label_id", "label_set_id",
      "start_offset", "end_offset", "is_correct", "confidence", "label_threshold")
  }

  private val gt = df(Seq(
    (1L, 10L, 1L, 100L, 1L, 0, 4, true, 1.0, 0.1),
    (1L, 11L, 1L, 101L, 1L, 5, 9, true, 1.0, 0.1),
    (1L, 12L, 1L, 102L, 1L, 10, 14, true, 1.0, 0.1),
    (1L, 13L, 1L, 103L, 1L, 20, 24, true, 1.0, 0.1),
  ))

  test("perfect prediction: all TP") {
    val flags = Evaluate.compareStrict(gt, gt)
    val c = Evaluate.calc(flags)
    assert(c.tp == 4 && c.fp == 0 && c.fn == 0)
    assert(c.f1.contains(1.0))
  }

  test("missing + wrong-label + below-threshold predictions") {
    val pred = df(Seq(
      (1L, 10L, 1L, 100L, 1L, 0, 4, false, 0.9, 0.1), // exact match → TP
      (1L, 11L, 1L, 999L, 1L, 5, 9, false, 0.9, 0.1), // wrong label → FP (+FN? no: matched & above)
      (1L, 12L, 1L, 102L, 1L, 10, 14, false, 0.05, 0.1), // below threshold → FN
      // ann 13 missing entirely → FN
      (1L, 14L, 1L, 104L, 1L, 30, 34, false, 0.9, 0.1), // spurious span, no gt → FP
    ))
    val c = Evaluate.calc(Evaluate.compareStrict(gt, pred))
    assert(c.tp == 1, s"tp=${c.tp}")
    assert(c.fn == 2, s"fn=${c.fn}")
    // wrong label + spurious; the below-threshold row is an FN, not above
    assert(c.fp == 2, s"fp=${c.fp}")
  }

  test("non-strict overlap matches shifted spans") {
    val pred = df(Seq(
      (1L, 10L, 1L, 100L, 1L, 1, 6, false, 0.9, 0.1), // overlaps gt (0,4) same label
    ))
    val flags = Evaluate.compareNonStrict(
      gt.filter(org.apache.spark.sql.functions.col("ann_id") === 10L), pred)
    val c = Evaluate.calc(flags)
    assert(c.tp == 1)
  }

  test("EvaluationCalculator zero-division contract") {
    val c = Evaluate.Calc(0, 0, 0, 5)
    assert(c.precision.isEmpty && c.recall.isEmpty && c.f1.isEmpty)
    val c2 = Evaluate.Calc(3, 1, 2, 0)
    assert(c2.precision.contains(0.75))
    assert(c2.recall.contains(0.6))
    assert(math.abs(c2.f1.get - 3.0 / (3 + 0.5 * 3)) < 1e-12)
  }

  test("weighted mode picks max weight with smallest-value tie-break") {
    import spark.implicits._
    val wm = org.apache.spark.sql.functions.udaf(new Evaluate.WeightedMode())
    val d = Seq((1L, 5L, 1.0), (1L, 5L, 1.0), (1L, 7L, 1.5), (2L, 3L, 1.0), (2L, 9L, 1.0))
      .toDF("g", "v", "w")
    val got = d.groupBy("g").agg(wm($"v", $"w").as("m")).orderBy("g").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 5L), (2L, 3L))) // g=1: 5 has weight 2.0 > 1.5; g=2 tie → smallest
  }

  test("span-strict compare + summarize plans at most 5 shuffle exchanges") {
    val pred = df(Seq(
      (1L, 10L, 1L, 100L, 1L, 0, 4, false, 0.9, 0.1),
      (1L, 14L, 2L, 104L, 1L, 30, 34, false, 0.9, 0.1)))
    val out = Evaluate.summarize(Evaluate.compareStrict(gt, pred))
    out.collect()
    val plan = out.queryExecution.executedPlan
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec] && plan.toString.contains("isFinalPlan=true"), plan)
    val exchanges = new AdaptiveSparkPlanHelper {}.collect(plan) { case e: ShuffleExchangeLike => e }
    assert(exchanges.size <= 5, plan)
  }

  // --- equivalence property: engine flags vs a driver-side model of the
  // reference's `grouped` election (evaluate.py:46-70) and flag algebra ---

  /** Weighted-mode election per group (evaluate.py:46-70 as the engine reads
    * it): vote among eligible rows if the group has any, else among all of
    * its rows; null targets never vote; ties go to the smallest target.
    * Also reports which of the property's required scenarios occurred.
    */
  private def elect(rows: Seq[J], group: J => Option[Long], target: J => Option[Long])
      : (Map[Option[Long], Option[Long]], Set[String]) = {
    val seen = Set.newBuilder[String]
    val elected = rows.groupBy(group).map { case (grp, rs) =>
      val voters = rs.filter(r => r.above.contains(true) && r.matched.contains(true))
      if (voters.nonEmpty && voters.forall(target(_).isEmpty)) seen += "eligible-only-null-targets"
      if (rs.forall(_.above.contains(false))) seen += "all-below-threshold"
      val pool = if (voters.nonEmpty) voters else rs
      val sums = pool.flatMap(r => target(r).map(_ -> r.p.fold(1.0)(_._9)))
        .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy { case (t, w) => (-w, t) }
      if (sums.size > 1 && sums(0)._2 == sums(1)._2) seen += "tie"
      grp -> sums.headOption.map(_._1)
    }
    (elected, seen.result())
  }

  /** The compare's output row by row, as (column -> value) maps. */
  private def model(gtIn: Seq[In], predIn: Seq[In], strict: Boolean): (Seq[Map[String, Any]], Set[String]) = {
    def key(r: In) = if (strict) (r._1, r._6.toLong, r._7.toLong) else (r._1, r._4, r._5)
    def j(g: Option[In], p: Option[In]): J = {
      val above = p.map(r => r._9 >= r._10)
      if (strict) J(g, p, g.orElse(p).get._6, g.orElse(p).get._7, Some(g.isDefined), above)
      else J(g, p, -1, -1,
        for (a <- g; b <- p) yield b._6 <= a._7 && b._7 >= a._6, above)
    }
    val gk = gtIn.groupBy(key); val pk = predIn.groupBy(key)
    val rows = (gk.keySet ++ pk.keySet).toSeq.flatMap { k =>
      (gk.get(k), pk.get(k)) match {
        case (Some(gs), Some(ps)) => for (g <- gs; p <- ps) yield j(Some(g), Some(p))
        case (Some(gs), None) => gs.map(g => j(Some(g), None))
        case (None, ps) => ps.get.map(p => j(None, Some(p)))
      }
    }
    val (annElected, annSeen) = elect(rows, _.g.flatMap(_._2), _.g.flatMap(_._2))
    val (setElected, setSeen) = elect(rows, _.p.flatMap(_._3), _.g.flatMap(_._3))
    val out = rows.map { r =>
      def gv[A](f: In => A): Any = r.g.map(f).orNull
      def pv[A](f: In => A): Any = r.p.map(f).orNull
      val ann = r.g.flatMap(_._2); val set = r.g.flatMap(_._3)
      val eAnn = annElected(ann); val eSet = setElected(r.p.flatMap(_._3))
      val okLabel = !strict || r.g.map(_._4) == r.p.map(_._4)
      val okLabelSet = !strict || r.g.map(_._5) == r.p.map(_._5)
      val okId = ann.isDefined && eAnn == ann
      val okSet = set.isDefined && eSet == set
      val matched = r.matched.getOrElse(false); val above = r.above.getOrElse(false)
      val correct = r.g.exists(_._8)
      val allIdsOk = okLabel && okLabelSet && okSet && okId
      val tp = matched && correct && above && allIdsOk
      val fn = correct && (!matched || !above)
      val fp = above && !fn && !tp && !allIdsOk
      val (ps, pe) = if (strict) (r.start, r.end) else (pv(_._6), pv(_._7))
      val (gs, ge) = if (strict) (r.start, r.end) else (gv(_._6), gv(_._7))
      val found = gs == ps && ge == pe && correct && r.p.exists(_._2.isDefined)
      Map[String, Any](
        "doc_id" -> r.g.orElse(r.p).get._1, "start_offset" -> gs, "end_offset" -> ge,
        "ann_id" -> ann.orNull, "annotation_set_id" -> set.orNull,
        "ann_id_predicted" -> r.p.flatMap(_._2).orNull,
        "annotation_set_id_predicted" -> r.p.flatMap(_._3).orNull,
        "start_offset_predicted" -> ps, "end_offset_predicted" -> pe,
        "confidence_predicted" -> pv(_._9),
        "is_matched" -> r.matched.orNull, "above_predicted_threshold" -> r.above.orNull,
        "elected_ann_id" -> eAnn.orNull, "elected_annotation_set_id" -> eSet.orNull,
        "is_correct_label" -> okLabel, "is_correct_label_set" -> okLabelSet,
        "is_correct_id" -> okId, "is_correct_annotation_set" -> okSet,
        "true_positive" -> (if (tp) 1 else 0), "false_negative" -> (if (fn) 1 else 0),
        "false_positive" -> (if (fp) 1 else 0), "is_found_by_tokenizer" -> (if (found) 1 else 0))
    }
    (out, annSeen ++ setSeen.map("set:" + _))
  }

  /** Small id and offset domains so that spans collide, annotations span
    * several rows, ids are often null and k/8 weights tie exactly.
    */
  private val genCase: Gen[(Seq[In], Seq[In])] = {
    val id = (n: Int) => Gen.frequency(1 -> Gen.const(None), 3 -> Gen.choose(1L, n.toLong).map(Some(_)))
    val eighth = Gen.choose(0, 8).map(_ / 8.0)
    def row(span: Gen[(Long, Int, Int)]): Gen[In] = for {
      (doc, s, e) <- span; ann <- id(4); set <- id(3)
      label <- Gen.choose(1L, 3L); labelSet <- Gen.choose(1L, 2L); correct <- Gen.frequency(4 -> true, 1 -> false)
      conf <- eighth; thr <- eighth
    } yield (doc, ann, set, label, labelSet, s, e, correct, conf, thr)
    val freeSpan = for { doc <- Gen.choose(1L, 2L); s <- Gen.choose(0, 6); len <- Gen.choose(1, 3) } yield (doc, s, s + len)
    for {
      gtRows <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, row(freeSpan)))
      spans = if (gtRows.isEmpty) freeSpan else Gen.oneOf(gtRows.map(r => (r._1, r._6, r._7)))
      predRows <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, row(Gen.frequency(3 -> spans, 1 -> freeSpan))))
    } yield (gtRows, predRows)
  }

  test("compare flags equal a driver-side model of the reference election (property)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cols = Seq("doc_id", "start_offset", "end_offset", "ann_id", "annotation_set_id",
      "ann_id_predicted", "annotation_set_id_predicted", "start_offset_predicted",
      "end_offset_predicted", "confidence_predicted", "is_matched", "above_predicted_threshold",
      "elected_ann_id", "elected_annotation_set_id", "is_correct_label", "is_correct_label_set",
      "is_correct_id", "is_correct_annotation_set", "true_positive", "false_negative",
      "false_positive", "is_found_by_tokenizer")
    def frame(rows: Seq[In]): DataFrame = rows.toDF(Evaluate.evalCols: _*)
    val byRow = Ordering.Implicits.seqOrdering[Seq, String]
    val seen = Set.newBuilder[String]
    val prop = Prop.forAllNoShrink(genCase) { case (gtRows, predRows) =>
      if (gtRows.flatMap(_._2).groupBy(identity).exists(_._2.size > 1)) seen += "multi-row-ann"
      if (gtRows.exists(_._2.isEmpty)) seen += "null-ann"
      if (predRows.exists(_._3.isEmpty)) seen += "null-pred-set"
      Prop.all(Seq(true, false).map { strict =>
        val compare = if (strict) Evaluate.compareStrict _ else Evaluate.compareNonStrict _
        val got = compare(frame(gtRows), frame(predRows)).select(cols.map(col): _*).collect()
          .map((r: Row) => cols.map(c => String.valueOf(r.getAs[Any](c)))).toSeq.sorted(byRow)
        val (modelRows, s) = model(gtRows, predRows, strict)
        seen ++= s
        val want = modelRows.map(m => cols.map(c => String.valueOf(m(c)))).sorted(byRow)
        // evaluate.py:163-164: a row is at most one of TP, FP, FN
        val atMostOne = got.forall(r =>
          Seq("true_positive", "false_positive", "false_negative").map(c => r(cols.indexOf(c)).toInt).sum <= 1)
        Prop(got == want && atMostOne) :|
          s"strict=$strict\n got=${got.mkString("\n     ")}\nwant=${want.mkString("\n     ")}"
      }: _*)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(40)
      .withInitialSeed(Seed(20261017L)).withWorkers(1), prop)
    assert(res.passed, res)
    val required = Set("multi-row-ann", "null-ann", "null-pred-set", "set:tie",
      "set:eligible-only-null-targets", "all-below-threshold", "set:all-below-threshold")
    assert(required.subsetOf(seen.result()), s"uncovered: ${required -- seen.result()}")
  }
}

object EvaluateSpec {
  type In = (Long, Option[Long], Option[Long], Long, Long, Int, Int, Boolean, Double, Double)

  /** One joined row of the model: the gt and predicted sides, the strict
    * join key's coalesced offsets (unused by the non-strict join), and the
    * per-row match/threshold flags (None is SQL null).
    */
  final case class J(g: Option[In], p: Option[In], start: Int, end: Int,
      matched: Option[Boolean], above: Option[Boolean])
}
