package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Size knobs shared by the workloads: `smoke` shrinks every input so the
  * benchmark's own tests run each workload in seconds. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      smoke: Boolean, work: File, out: File)

/** One benchmark workload. The runner calls `prepare` once to generate the
  * inputs, then `setup` several times (each on a fresh session and
  * directory, the last one is kept), then `run` for the measured window,
  * then `probes` in a traced run. */
abstract class Workload(val o: Opts) {
  def name: String

  /** Number of leading cycles discarded as warm-up (JIT, first-touch). */
  def warmupCycles: Int = 1

  val samples = new Samples
  /** Outputs checked and operations run, and how many of them failed. */
  var attempted = 0
  var failed = 0
  val failures: ArrayBuffer[String] = ArrayBuffer()
  /** Measured cycles run so far, warm-up included. */
  var cycles = 0

  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += s"$what: $detail"
      System.err.println(s"[graftbench] CHECK FAILED $what: $detail")
    }
  }

  /** Generates the inputs from the seed into `dir` (not timed). */
  def prepare(dir: File): Unit

  /** Seeds fresh tables under `dir` from the prepared inputs (timed). */
  def setup(spark: SparkSession, dir: File): Unit

  /** Warm-up plus timed cycles until `seconds` of timed work have passed. */
  def run(spark: SparkSession, tracer: Tracer): Unit

  /** Standalone measurements of lazy operators (traced runs only). */
  def probes(spark: SparkSession, tracer: Tracer): Unit = ()

  /** The contract's end-to-end metrics (name, value, unit), setup_s aside. */
  def endToEnd: Seq[(String, Double, String)]

  /** The same figures under the workload-specific names they are known by,
    * plus figures that only this workload has. */
  def namedMetrics: Seq[(String, Double, String)]

  /** Per-layer figures that are not per-call records (recall). */
  def layerExtras: Seq[(String, Double)] = Nil

  /** Input shape: key space, op mix, skew, duplicate shares. */
  def shape: Json.Obj

  protected def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(t0))
  }
}
