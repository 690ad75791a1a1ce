package graftbench

import java.io.File
import java.util.concurrent.atomic.AtomicBoolean

import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.CdcSource

/** Drains a pre-written backlog of JSON-lines CDC files with
  * `CdcSource.fileStream`, one file per micro-batch (`events-00001.json` is
  * micro-batch 0). Each micro-batch is one measured cycle; the gap between
  * micro-batches (the streaming engine's own work) is booked to
  * `streaming.trigger_gap`. The drain stops once `budgetS` seconds of timed
  * micro-batches have run or the backlog is exhausted; later micro-batches
  * are skipped, never half-applied. */
final class StreamDrain(w: Workload, tracer: Tracer, backlogFiles: Int, budgetS: Double) {
  @volatile var processed = 0
  @volatile var drainTimedS = 0.0

  /** `process(batch, index, timed)` runs one micro-batch and returns its
    * commit seconds. */
  def run(spark: SparkSession, backlog: File, checkpoint: File)
         (process: (DataFrame, Int, Boolean) => Double): Unit = {
    val stop = new AtomicBoolean(false)
    @volatile var lastEnd = 0L
    @volatile var failure: Throwable = null
    def handle(batch: DataFrame, id: Long): Unit = {
      val start = System.nanoTime()
      if (stop.get() || id != processed) return
      val gap = if (lastEnd == 0L) 0.0 else (start - lastEnd) / 1e9
      val k = id.toInt
      val isTimed = k >= w.warmupCycles
      try {
        var batchS = 0.0
        tracer.cycle(isTimed, gap, "streaming.trigger_gap") {
          batchS = process(batch, k, isTimed)
        }
        processed += 1
        if (isTimed) drainTimedS += gap + batchS
      } catch {
        case e: Throwable => failure = e; stop.set(true); throw e
      } finally lastEnd = System.nanoTime()
      if (processed == backlogFiles || (isTimed && drainTimedS >= budgetS)) stop.set(true)
    }
    val q = CdcSource.fileStream(spark, backlog.getAbsolutePath, maxFilesPerTrigger = 1)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint.getAbsolutePath)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch((b: DataFrame, id: Long) => handle(b, id))
      .start()
    val deadline = System.nanoTime() + 150e9.toLong
    while (!stop.get() && q.isActive && System.nanoTime() < deadline) Thread.sleep(10)
    q.stop()
    if (failure != null) throw failure
    // the file source must have fed file k + 1 to micro-batch k
    (0 until processed).foreach { k =>
      val log = new File(checkpoint, s"sources/0/$k")
      val ok = log.exists() && {
        val src = Source.fromFile(log)
        try src.getLines().exists(_.contains(StreamDrain.fileName(k + 1))) finally src.close()
      }
      w.check(s"micro-batch $k read backlog file ${k + 1}", ok)
    }
  }
}

object StreamDrain {
  def fileName(i: Int): String = f"events-$i%05d.json"

  def file(backlog: File, i: Int): File = new File(backlog, fileName(i))

  /** The file source takes the oldest file first: stamp backlog file `i`
    * so the backlog replays in order. */
  def seal(f: File, i: Int): Unit = f.setLastModified(1700000000000L + i * 1000L)
}
