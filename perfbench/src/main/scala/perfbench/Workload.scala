package perfbench

import java.io.File

import graft.engine.PageRow
import org.apache.spark.sql.SparkSession

/** What one batch did: the input documents that went through the whole
  * pipeline, and whether every correctness check of the batch held.
  */
final case class BatchResult(docs: Long, ok: Boolean, detail: String = "")

/** Heap use after a full collection, sampled at the point of a batch where
  * the workload holds the most state (cached frames, blooms, examples).
  * The raw peak of heap use is set by when the collector happens to run, so
  * the live set is what is sampled. Sampling is armed at most once per
  * interval of measured time; the pause is subtracted from the batch's
  * latency.
  */
final class HeapProbe {
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  var armed = false
  val samplesMb = scala.collection.mutable.ArrayBuffer.empty[Double]
  var pausedNs = 0L

  def sample(): Unit = if (armed) {
    val t0 = System.nanoTime()
    System.gc()
    samplesMb += mem.getHeapMemoryUsage.getUsed / 1048576.0
    armed = false
    pausedNs += System.nanoTime() - t0
  }
}

/** Everything a workload gets from the harness. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val cores: Int,
    val tracer: Tracer,
    val heap: HeapProbe) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Per-batch counts of traced batches, by metric name. */
  val counts = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]]

  def count(name: String, v: Double): Unit =
    if (tracer.active) counts.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty) += v
}

/** A named, seeded workload. The harness calls `stage` several times
  * (each into a fresh directory, keeping the last) to measure set-up, then
  * `prepare` + `run` per batch in a closed loop: the next batch starts only
  * after the previous one has fully materialized. Only `run` is timed.
  */
abstract class Workload(val ctx: Ctx) {
  val spark: SparkSession = ctx.spark

  /** Stages the workload's inputs under `dir`. */
  def stage(dir: File): Unit

  /** Unmeasured batches run after staging, so JIT and lazy set-up are done
    * before timing starts: at least `warmupBatches` batches and at least
    * `warmupSeconds` of batch time. They count towards `setup_s`.
    */
  def warmupBatches: Int
  def warmupSeconds: Double = 0.0

  /** Unmeasured per-batch input staging (the generator's side). */
  def prepare(batch: Int): Unit = ()

  /** Runs one batch to full materialization (timed) and returns its
    * correctness check, which the harness runs untimed.
    */
  def run(batch: Int): () => BatchResult

  /** Quality of the workload's output against its generator's ground
    * truth, as an F1 in [0, 1].
    */
  def f1: Double

  /** Bytes the workload keeps stored (written files and cached blocks)
    * divided by the bytes of input it was given.
    */
  def storedBytesPerInputByte: Double

  /** Pages drawn from this workload's inputs for the driver-side kernel
    * loop; fixed by the seed.
    */
  def kernelSample: IndexedSeq[PageRow]

  /** Traced-only per-layer figures the workload measures with its own
    * probe actions after the measured phase.
    */
  def tracedProbes(): Map[String, Double] = Map.empty
}
