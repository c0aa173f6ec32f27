package perfbench

import java.io.File

import scala.util.hashing.MurmurHash3

import graft.engine.{ExtractedDoc, LabeledSpan}

object Util {

  /** 64-bit hash of a string from two independent 32-bit murmur hashes. */
  def h64(s: String): Long =
    if (s == null) 0x5bd1e995L
    else (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x0cc9e2d5).toLong & 0xffffffffL)

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9e3779b97f4a7c15L + b
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def labelsDigest(labels: Array[LabeledSpan]): Long =
    labels.foldLeft(17L) { (h, l) =>
      mix(mix(mix(mix(mix(h, h64(l.label)), l.start.toLong), l.end.toLong),
        java.lang.Double.doubleToLongBits(l.confidence)), mix(h64(l.text), h64(l.normalized)))
    }

  /** Digest over every field of an extracted document. */
  def docDigest(d: ExtractedDoc): Long = {
    var h = mix(h64(d.url), h64(d.extracted_text))
    var i = 0
    while (i < d.spans.length) { h = mix(h, (d.spans(i).start.toLong << 32) | d.spans(i).end); i += 1 }
    h = mix(h, labelsDigest(d.labels))
    h = mix(h, h64(d.lang))
    h = mix(h, d.n_tokens.toLong)
    h = mix(h, h64(d.text_sha256))
    mix(h, d.simhash)
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def timeNs[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  /** Span-strict F1 from pooled counts; 0 when nothing was expected or
    * predicted.
    */
  def f1(tp: Long, fp: Long, fn: Long): Double =
    if (tp + fp + fn == 0) 0.0 else tp.toDouble / (tp + 0.5 * (fp + fn))
}
