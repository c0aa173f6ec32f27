package perfbench

import graft.core.{Fingerprint, Geometry, Html, Rx, Span}
import graft.engine.{Extraction, FeatureFrame, Merge, PageRow, Scorer}

/** Driver-side kernel loop of the traced run: each `core` kernel timed
  * single-threaded over a fixed seeded sample of the workload's pages,
  * median of `Reps` passes after `Warm` untimed ones, with the exact op counts
  * (documents, tokens, labels, spans, pairs) next to the µs figures.
  */
object Kernels {
  val Warm = 2
  val Reps = 9

  // results folded here stay live, so the JIT cannot drop the kernels
  @volatile private var sink = 0L

  private def usPer(ops: Long)(pass: => Long): Double = {
    System.gc()
    (0 until Warm).foreach(_ => sink += pass)
    Util.median((0 until Reps).map { _ =>
      val (r, ns) = Util.timeNs(pass)
      sink += r
      ns / 1e3 / ops
    })
  }

  def run(sample: IndexedSeq[PageRow]): Map[String, Double] = {
    val n = sample.length
    val texts = sample.map(p => Html.extract(Html.decodeBytes(p.html)).text)
    val packed = texts.map(Rx.whitespaceTokensPacked)
    val scored = texts.indices.map(i => Scorer.scorePacked(texts(i), packed(i)))
    val spans = packed.map(_.iterator.map(p => Span((p >>> 32).toInt, (p & 0xffffffffL).toInt)).toIndexedSeq)
    val shingles = texts.map(t => Fingerprint.shingles(t))
    val tokens = packed.map(_.length.toLong).sum
    val labels = sample.map(p => Extraction.extractOne(p).labels.length.toLong).sum
    val pairs = n - 1

    def each(f: Int => Long): Long = { var acc = 0L; var i = 0; while (i < n) { acc += f(i); i += 1 }; acc }

    Map(
      "core.html_extract_us_per_doc" ->
        usPer(n)(each(i => Html.extract(Html.decodeBytes(sample(i).html)).text.length)),
      "core.tokenize_us_per_doc" -> usPer(n)(each(i => Rx.whitespaceTokensPacked(texts(i)).length)),
      "core.score_us_per_doc" -> usPer(n)(each(i => Scorer.scorePacked(texts(i), packed(i)).length)),
      "core.merge_us_per_doc" -> usPer(n)(each(i => Merge.mergeHorizontal(texts(i), scored(i)).length)),
      "core.fingerprint_us_per_doc" ->
        usPer(n)(each(i => Fingerprint.simhash64(texts(i)) + Extraction.sha256Hex(texts(i)).length)),
      "core.extract_one_us_per_doc" -> usPer(n)(each(i => Extraction.extractOne(sample(i)).n_tokens)),
      "core.text_stats_us_per_doc" -> usPer(n)(each(i => Extraction.extractTextStats(sample(i))._2)),
      "core.feature_frame_us_per_span" -> usPer(tokens)(each { i =>
        FeatureFrame.assembleDoc(texts(i), Geometry.syntheticGrid(texts(i)), spans(i), spans(i),
          2, 2, firstWord = true, acrossLines = false, Nil, Nil).length
      }),
      "core.jaccard_us_per_pair" -> usPer(pairs)(each { i =>
        if (i + 1 < n) java.lang.Double.doubleToLongBits(Fingerprint.jaccard(shingles(i), shingles(i + 1)))
        else 0L
      }),
      "core.kernel_docs" -> n.toDouble,
      "core.tokens_per_doc" -> tokens.toDouble / n,
      "core.labels_per_doc" -> labels.toDouble / n,
      "core.jaccard_pairs" -> pairs.toDouble)
  }
}
