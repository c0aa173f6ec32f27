package perfbench

import java.io.File
import java.util.SplittableRandom

import graft.corpus.WebCorpus
import graft.engine.{Extraction, PageRow}
import org.apache.spark.sql.functions._

/** `extract`: the paper's inference DAG over a staged page table.
  *
  * Setup writes `Slices` slices of `SliceDocs` consecutive WebCorpus pages,
  * each slice starting at a page index the seed picks, as one parquet page
  * table partitioned by slice (the engine's contract input). Batch `i` runs
  * `Extraction.extract` over slice `i mod Slices` and folds every output
  * column of every document into an order-insensitive checksum, so nothing
  * the extractor computes can be pruned. No shuffle and no writes: the
  * `core` kernels do nearly all the work.
  *
  * Checks: every document's `text_sha256` is the sha256 of
  * `WebCorpus.mainText(url)` (summed per slice against a value computed in
  * setup); the labels of `SampleDocs` seeded documents per slice equal a
  * driver-side `Extraction.extractOne` replay; a slice's full checksum is the
  * same every time the slice comes round.
  */
final class ExtractWorkload(ctx: Ctx) extends Workload(ctx) {
  import ExtractWorkload._
  import spark.implicits._

  private val rng = new SplittableRandom(ctx.seed)
  private val starts: Array[Long] = Array.fill(Slices)(rng.nextLong(1000000000L))
  private val sampleIdx: Array[Array[Long]] =
    starts.map(s => Array.fill(SampleDocs)(s + rng.nextInt(SliceDocs)).distinct)

  private var dir: File = _
  private var expectedSha: Array[Long] = _
  private var expectedLabels: Array[Map[String, PageLabels]] = _
  // each slice's full checksum the first time it was extracted
  private val seenDigest = scala.collection.mutable.Map.empty[Int, Long]
  private var htmlBytes = 0L
  private var tp, fp, fn = 0L

  // the extraction kernels keep getting faster for ~15 batches as the JIT
  // compiles them
  def warmupBatches: Int = 2
  override def warmupSeconds: Double = 3.0

  def stage(d: File): Unit = {
    dir = d
    val st = starts
    val pages = spark.range(0L, Slices.toLong * SliceDocs, 1L, ctx.cores)
      .map { i =>
        val slice = (i / SliceDocs).toInt
        val p = WebCorpus.page(st(slice) + i % SliceDocs)
        (slice, i, p.url, p.warc_ts, p.html, p.text, p.lang)
      }.toDF("slice", "i", "url", "warc_ts", "html", "text", "lang")
    // range-partitioned on the page number so each slice lands in `cores`
    // files, one read task per core
    pages.repartitionByRange(Slices * ctx.cores, col("i")).drop("i")
      .write.partitionBy("slice").parquet(s"$d/pages")
    // expected per-slice sum of h(url, sha256(mainText(url))), wrapping
    expectedSha = new Array[Long](Slices)
    spark.range(0L, Slices.toLong * SliceDocs, 1L, ctx.cores)
      .mapPartitions { it =>
        val acc = new Array[Long](Slices)
        it.foreach { i =>
          val slice = (i / SliceDocs).toInt
          val url = WebCorpus.urlFor(st(slice) + i % SliceDocs)
          acc(slice) += Util.mix(Util.h64(url), Util.h64(Extraction.sha256Hex(WebCorpus.mainText(url))))
        }
        Iterator.single(acc)
      }.collect().foreach(a => a.indices.foreach(s => expectedSha(s) += a(s)))
    expectedLabels = sampleIdx.map(_.map { i =>
      val p = WebCorpus.page(i)
      val d = Extraction.extractOne(PageRow(p.url, p.warc_ts, p.html, p.text, p.lang))
      d.url -> PageLabels(Util.labelsDigest(d.labels), d.labels.map(l => (l.label, l.start, l.end)).toSet)
    }.toMap)
    htmlBytes = spark.read.parquet(s"$d/pages").select(sum(length(col("html")))).head().getLong(0)
    seenDigest.clear()
  }

  def run(batch: Int): () => BatchResult = {
    val slice = batch % Slices
    val sampled = expectedLabels(slice).keySet
    val parts = ctx.span("engine.extract") {
      val pages = spark.read.parquet(s"$dir/pages/slice=$slice").as[PageRow]
      Extraction.extract(pages).mapPartitions { it =>
        val acc = new SliceAcc
        it.foreach { d =>
          acc.docs += 1
          acc.shaSum += Util.mix(Util.h64(d.url), Util.h64(d.text_sha256))
          acc.digestSum += Util.docDigest(d)
          if (sampled.contains(d.url))
            acc.sampled += ((d.url, Util.labelsDigest(d.labels), d.labels.map(l => (l.label, l.start, l.end))))
        }
        Iterator.single(acc)
      }(org.apache.spark.sql.Encoders.kryo[SliceAcc]).collect()
    }
    ctx.heap.sample()
    () => {
      val docs = parts.map(_.docs).sum
      val shaSum = parts.map(_.shaSum).sum
      val digest = parts.map(_.digestSum).sum
      val sampledOut = parts.flatMap(_.sampled)
      val expected = expectedLabels(slice)
      var labelsOk = sampledOut.length == expected.size
      sampledOut.foreach { case (url, dg, spans) =>
        val e = expected(url)
        if (dg != e.digest) labelsOk = false
        val got = spans.toSet
        tp += (got intersect e.spans).size
        fp += (got diff e.spans).size
        fn += (e.spans diff got).size
      }
      expected.keySet.diff(sampledOut.map(_._1).toSet).foreach(u => fn += expected(u).spans.size)
      val digestOk = seenDigest.getOrElseUpdate(slice, digest) == digest
      val checks = Seq(
        "docs" -> (docs == SliceDocs),
        "text_sha256" -> (shaSum == expectedSha(slice)),
        "labels" -> labelsOk,
        "determinism" -> digestOk)
      val failed = checks.collect { case (n, false) => n }
      BatchResult(docs, failed.isEmpty, failed.mkString(","))
    }
  }

  def f1: Double = Util.f1(tp, fp, fn)

  def storedBytesPerInputByte: Double = Util.dirBytes(new File(dir, "pages")).toDouble / htmlBytes

  def kernelSample: IndexedSeq[PageRow] =
    (0 until KernelDocs).map { k =>
      val p = WebCorpus.page(starts(k % Slices) + k / Slices)
      PageRow(p.url, p.warc_ts, p.html, p.text, p.lang)
    }

  /** `local[cores]` against one busy core: the first slice's first
    * `EffDocs` pages extracted with `cores` partitions and with one, the
    * same materializing action as a batch, median of three each.
    */
  override def tracedProbes(): Map[String, Double] = {
    val base = spark.read.parquet(s"$dir/pages/slice=0").as[PageRow].limit(EffDocs)
    val many = base.repartition(ctx.cores).localCheckpoint(true)
    val one = base.coalesce(1).localCheckpoint(true)
    def rate(p: org.apache.spark.sql.Dataset[PageRow]): Double = Util.median((0 until 3).map { _ =>
      val (n, ns) = Util.timeNs(Extraction.extract(p).map(Util.docDigest).collect().length)
      n / (ns / 1e9)
    })
    val eff = rate(many) / (ctx.cores * rate(one))
    many.unpersist(); one.unpersist()
    Map("spark.parallel_efficiency" -> eff)
  }
}

object ExtractWorkload {
  val Slices = 4
  val SliceDocs = 2000
  val SampleDocs = 16
  val KernelDocs = 256
  val EffDocs = 4000

  final case class PageLabels(digest: Long, spans: Set[(String, Int, Int)])

  /** One partition's share of a batch's output checks. */
  final class SliceAcc extends Serializable {
    var docs = 0L
    var shaSum = 0L
    var digestSum = 0L
    val sampled = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Array[(String, Int, Int)])]
  }
}
