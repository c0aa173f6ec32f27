package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

import graft.corpus.WebCorpus
import graft.engine.{Dedup, Extraction, PageRow}
import graft.jobs.DedupIndexJob
import graft.sources.Warc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `ingest`: the web-corpus crawl loop.
  *
  * Setup writes a snapshot of `SnapshotDocs` pages as per-record-gzip WARC
  * archives (`Warc.write`) and builds the snapshot's dedup index from it
  * (`Warc.read` → `Extraction.extractTextStats` → `DedupIndexJob.build`).
  * Before each batch the generator writes one crawl batch as WARC:
  * `FreshDocs` new pages, `ExactDups` re-crawls of pages already in the index
  * (half from the snapshot, half from the previous batch's survivors) and
  * `Cliques` near-duplicate cliques, each a fresh page plus `CliqueSize - 1`
  * copies with one distinct word appended (3-shingle Jaccard >= 0.93 on the
  * pages chosen, far above the 0.85 threshold). A batch runs `Warc.read`,
  * `Extraction.extractTextStats`, `DedupIndexJob.novelAgainst` against the
  * persisted index, `Dedup.dedupNearText` within the batch, writes the
  * survivors as parquet and appends them to the index with
  * `DedupIndexJob.update`, so the index grows over the run.
  *
  * Closed form per batch: novel = read - ExactDups, near-dup dropped =
  * Cliques * (CliqueSize - 1), survivors = FreshDocs, keys added = FreshDocs.
  */
final class IngestWorkload(ctx: Ctx) extends Workload(ctx) {
  import IngestWorkload._

  private val rng = new SplittableRandom(ctx.seed)
  private val base: Long = rng.nextLong(1000000000L)

  private var dir: File = _
  private var indexDir: String = _
  private var warcBytes = 0L
  private var lastWarcDir: String = _
  private var lastWarcDocs = 0L
  // generator state: the previous batch's fresh pages that survive
  private var prevSurvivors: IndexedSeq[Long] = IndexedSeq.empty
  private var cur: Planted = _
  private var tp, fp, fn = 0L

  def warmupBatches: Int = 2

  private def rows(pages: Seq[(String, WebCorpus.Page)]): DataFrame = {
    val spark = this.spark
    import spark.implicits._
    pages.map { case (url, p) => (url, p.warc_ts, p.html) }.toDF("url", "warc_ts", "html")
      .repartition(ctx.cores)
  }

  private def writeWarc(pages: Seq[(String, WebCorpus.Page)], out: String): Unit = {
    Warc.write(rows(pages), out)
    warcBytes += Util.dirBytes(new File(out))
  }

  /** (id, url, text, n_tokens, text_sha256) of every record under `warcDir`. */
  private def texts(warcDir: String): DataFrame = {
    val spark = this.spark
    import spark.implicits._
    ctx.span("sources.warc_read")(Warc.read(spark, warcDir))
      .select(col("url"), col("warc_ts"), col("html")).as[(String, java.sql.Timestamp, Array[Byte])]
      .mapPartitions(_.map { case (url, ts, html) =>
        val (text, nTok, sha) = Extraction.extractTextStats(PageRow(url, ts, html, null, null))
        (url, text, nTok, sha)
      }).toDF("url", "text", "n_tokens", "text_sha256")
      .withColumn("id", xxhash64(col("url")))
  }

  def stage(d: File): Unit = {
    dir = d
    warcBytes = 0L
    prevSurvivors = IndexedSeq.empty
    tp = 0; fp = 0; fn = 0
    val snap = s"$d/warc/snapshot"
    ctx.span("sources.warc_write") {
      writeWarc((0L until SnapshotDocs).map { k =>
        val p = WebCorpus.page(base + k); (p.url, p)
      }, snap)
    }
    indexDir = s"$d/index"
    ctx.span("jobs.dedup_build") {
      DedupIndexJob.build(spark, texts(snap), "text", indexDir, DedupIndexJob.autoBuckets(SnapshotDocs))
    }
  }

  override def prepare(batch: Int): Unit = {
    val r = new SplittableRandom(ctx.seed * 1000003L + batch)
    val freshIdx = (0 until FreshDocs).map(k => base + SnapshotDocs + batch.toLong * FreshDocs + k)
    val fresh = freshIdx.map(WebCorpus.page)
    // clique sources: the first fresh pages long enough that one appended
    // word keeps every pair of the clique far above the Jaccard threshold
    val sources = fresh.indices.filter(k => words(WebCorpus.mainText(fresh(k).url)) >= MinCliqueWords)
      .take(Cliques)
    require(sources.length == Cliques, s"batch $batch: too few pages with >= $MinCliqueWords words")
    val cliques = sources.map { k =>
      val p = fresh(k)
      p.url +: (1 until CliqueSize).map(j => s"${p.url}/v$j")
    }
    val variants = sources.flatMap { k =>
      val p = fresh(k)
      (1 until CliqueSize).map(j => s"${p.url}/v$j" -> p.copy(html = appendWord(p.html, VariantWords(j - 1))))
    }
    // exact re-crawls of indexed pages: distinct picks, half from the
    // snapshot and half from the previous batch's survivors
    val fromPrev = if (prevSurvivors.isEmpty) 0 else ExactDups / 2
    val picks = mutable.LinkedHashSet.empty[Long]
    while (picks.size < ExactDups - fromPrev) picks += base + r.nextInt(SnapshotDocs)
    val prevPicks = mutable.LinkedHashSet.empty[Long]
    while (prevPicks.size < fromPrev) prevPicks += prevSurvivors(r.nextInt(prevSurvivors.length))
    val dups = (picks.toSeq ++ prevPicks.toSeq).map { i =>
      val p = WebCorpus.page(i); s"${p.url}?recrawl=$batch" -> p
    }
    val all = fresh.map(p => p.url -> p) ++ variants ++ dups
    val out = s"$dir/warc/batch-$batch"
    writeWarc(all, out)
    lastWarcDir = out
    lastWarcDocs = all.length
    val sourceSet = sources.toSet
    prevSurvivors = freshIdx.indices.filterNot(sourceSet).map(freshIdx)
    cur = Planted(all.map(_._1).toSet, dups.map(_._1).toSet, cliques)
  }

  def run(batch: Int): () => BatchResult = {
    val planted = cur
    val warcDir = lastWarcDir
    val (novel, nNovel) = ctx.span("jobs.dedup_probe") {
      val n = DedupIndexJob.novelAgainst(spark, texts(warcDir), "text", indexDir, materialize = true).persist()
      (n, n.count())
    }
    ctx.heap.sample()
    val outDir = s"$dir/survivors/batch-$batch"
    val survivors = ctx.span("engine.near_dedup")(Dedup.dedupNearText(novel, "id", "text"))
    ctx.span("survivors.write")(survivors.write.parquet(outDir))
    val written = spark.read.parquet(outDir)
    val (added, _) = ctx.span("jobs.dedup_update")(DedupIndexJob.update(spark, written, "text", indexDir))
    novel.unpersist()
    () => {
      val kept = written.select("url").collect().map(_.getString(0)).toSet
      val dropped = planted.urls -- kept
      ctx.count("engine.near_dedup_dropped", (nNovel - kept.size).toDouble)
      // exact re-crawls are found one by one; a clique is right when all
      // but one of its members (any one) is dropped
      val cliqueUrls = planted.cliques.flatten.toSet
      val dupHits = (dropped intersect planted.dups).size
      tp += dupHits; fn += planted.dups.size - dupHits
      planted.cliques.foreach { c =>
        val d = c.count(dropped)
        tp += math.min(d, c.length - 1); fn += (c.length - 1) - math.min(d, c.length - 1)
        fp += math.max(0, d - (c.length - 1))
      }
      fp += (dropped -- planted.dups -- cliqueUrls).size
      val read = planted.urls.size.toLong
      val nearDropped = Cliques * (CliqueSize - 1)
      val checks = Seq(
        "novel" -> (nNovel == read - planted.dups.size),
        "near_dup_dropped" -> (nNovel - kept.size == nearDropped),
        "survivors" -> (kept.size == FreshDocs),
        "index_added" -> (added == FreshDocs))
      val failed = checks.collect { case (n, false) => n }
      BatchResult(read, failed.isEmpty, failed.mkString(","))
    }
  }

  def f1: Double = Util.f1(tp, fp, fn)

  def storedBytesPerInputByte: Double =
    (Util.dirBytes(new File(dir, "survivors")) + Util.dirBytes(new File(indexDir))).toDouble / warcBytes

  def kernelSample: IndexedSeq[PageRow] =
    (0 until KernelDocs).map { k =>
      val p = WebCorpus.page(base + SnapshotDocs + k)
      PageRow(p.url, p.warc_ts, p.html, p.text, p.lang)
    }

  /** The read layer alone: `Warc.read` of the last batch's archives with
    * every column folded into a checksum, median of three; and the WARC
    * bytes per record.
    */
  override def tracedProbes(): Map[String, Double] = {
    val spark = this.spark
    import spark.implicits._
    val readS = Util.median((0 until 3).map { _ =>
      Util.timeNs {
        Warc.read(spark, lastWarcDir)
          .select(col("url"), col("warc_ts"), col("html"), col("warc_file"), col("warc_rec"))
          .as[(String, java.sql.Timestamp, Array[Byte], String, Int)]
          .map { case (u, ts, h, f, r) =>
            Util.mix(Util.mix(Util.h64(u), ts.getTime), Util.mix(java.util.Arrays.hashCode(h).toLong,
              Util.mix(Util.h64(f), r.toLong)))
          }.collect().sum
      }._2 / 1e9
    })
    Map(
      "sources.warc_read_s" -> readS,
      "sources.warc_bytes_per_doc" -> Util.dirBytes(new File(lastWarcDir)).toDouble / lastWarcDocs,
      "jobs.index_bytes" -> Util.dirBytes(new File(indexDir)).toDouble)
  }
}

object IngestWorkload {
  val SnapshotDocs = 1000
  val FreshDocs = 400
  val ExactDups = 40
  val Cliques = 10
  val CliqueSize = 3
  val MinCliqueWords = 60
  val KernelDocs = 256
  val VariantWords = Vector("addendum", "erratum", "revision")

  final case class Planted(urls: Set[String], dups: Set[String], cliques: Seq[Seq[String]])

  private def words(s: String): Int = s.split("\\s+").count(_.nonEmpty)

  /** The page with `word` appended to its last paragraph. */
  def appendWord(html: Array[Byte], word: String): Array[Byte] = {
    val s = new String(html, UTF_8)
    val at = s.lastIndexOf("</p>\n</article>")
    require(at > 0, "page has no closing paragraph")
    (s.substring(0, at) + " " + word + s.substring(at)).getBytes(UTF_8)
  }
}
