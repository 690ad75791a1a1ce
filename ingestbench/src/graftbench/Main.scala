package graftbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.core.SparkEnv

/** Benchmark entry point: `--workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --work <dir> --out <dir> [--smoke]`.
  *
  * Generates the workload's inputs, sets it up twice, cold and warm (once
  * with `--smoke`; a fresh session from `SparkEnv.localSession` at cores =
  * available processors and fresh tables each time; `setup_s` is the
  * median), measures it, checks its outputs, writes the whole record to a
  * new file under `--out`, and prints the result as the last line of
  * stdout. */
object Main {

  /** Per-layer metrics and their units, as BENCHMARK.json lists them. */
  val PerLayer: Seq[(String, String)] = {
    val calls = Seq("sources.doc_read", "operators.flatten", "operators.sql_transform",
      "apps.sync", "sink.upsert_mor", "sink.read_view", "sink.incremental", "sink.compact",
      "sink.dedup", "sink.upsert_cow", "sink.delete_cow", "streaming.process_batch",
      "ops.curate", "ops.minhash_pairs", "ops.simhash_incremental", "ops.connected_components")
    Seq("core.session_start_s" -> "s",
      "sources.doc_read.wall_s" -> "s", "sources.doc_read.jobs" -> "count",
      "operators.flatten.wall_s" -> "s", "operators.flatten.rows_out_per_row_in" -> "ratio",
      "operators.sql_transform.wall_s" -> "s",
      "apps.sync.self_s" -> "s", "apps.sync.jobs" -> "count",
      "sink.upsert_mor.wall_s" -> "s", "sink.upsert_mor.bytes_written" -> "bytes",
      "sink.read_view.wall_s" -> "s", "sink.read_view.shuffle_bytes" -> "bytes",
      "sink.read_view.delta_commits" -> "count",
      "sink.incremental.wall_s" -> "s", "sink.compact.wall_s" -> "s",
      "sink.compact.bytes_rewritten" -> "bytes", "sink.dedup.wall_s" -> "s",
      "sink.upsert_cow.wall_s" -> "s", "sink.upsert_cow.jobs" -> "count",
      "sink.upsert_cow.exec_cpu_s" -> "s", "sink.upsert_cow.shuffle_bytes" -> "bytes",
      "sink.upsert_cow.bytes_written" -> "bytes", "sink.upsert_cow.write_amp" -> "ratio",
      "sink.delete_cow.wall_s" -> "s", "sink.delete_cow.jobs" -> "count",
      "streaming.process_batch.self_s" -> "s", "streaming.process_batch.jobs" -> "count",
      "streaming.process_batch.tasks" -> "count", "streaming.trigger_gap_s" -> "s",
      "ops.curate.wall_s" -> "s", "ops.curate.survivor_ratio" -> "ratio",
      "ops.minhash_pairs.wall_s" -> "s", "ops.minhash_pairs.pairs_out" -> "count",
      "ops.simhash_incremental.wall_s" -> "s", "ops.simhash_incremental.pairs_out" -> "count",
      "ops.connected_components.wall_s" -> "s", "ops.connected_components.rounds" -> "count",
      "ops.planted_dup_recall" -> "ratio") ++
      calls.flatMap(c => Seq(s"$c.gc_s" -> "s", s"$c.spill_bytes" -> "bytes")) ++
      Seq("core", "sources", "operators", "apps", "sink", "streaming", "ops")
        .map(l => s"trace.self_s.$l" -> "s") ++
      Seq("trace.wall_s" -> "s", "trace.unattributed_s" -> "s", "trace.commit_s_p50" -> "s")
  }

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", args.contains("--smoke"), new File(need("work")), new File(need("out")))
  }

  def workload(o: Opts): Workload = o.workload match {
    case "import_mor_rw" => new ImportMor(o)
    case "cdc_replay_cow" => new CdcReplay(o)
    case "curate_dedup" => new CurateDedup(o)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = workload(o)
    val cores = Runtime.getRuntime.availableProcessors
    val setupS = ArrayBuffer[Double]()
    val sessionS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    wl.prepare(new File(o.work, "input"))
    (0 until (if (o.smoke) 1 else 2)).foreach { k =>
      if (spark != null) spark.stop()
      val dir = new File(o.work, s"setup-$k")
      val t0 = System.nanoTime()
      spark = SparkEnv.localSession("graftbench", cores.toString)
      sessionS += (System.nanoTime() - t0) / 1e9
      wl.setup(spark, dir)
      setupS += (System.nanoTime() - t0) / 1e9
      if (k > 0) Files.deleteRecursively(new File(o.work, s"setup-${k - 1}"))
    }
    val tracer = new Tracer(spark, o.trace)
    val t0 = System.nanoTime()
    try wl.run(spark, tracer)
    catch {
      case e: Exception =>
        e.printStackTrace()
        wl.attempted += 1
        wl.failed += 1
        wl.failures += s"run aborted: $e"
    }
    val runS = (System.nanoTime() - t0) / 1e9
    if (o.trace && wl.failed == 0) wl.probes(spark, tracer)
    val calls = tracer.calls()

    val setupMedian = Stats.median(setupS)
    val e2e = ("setup_s", setupMedian, "s") +: wl.endToEnd
    val named = Seq(("setup_s", setupMedian, "s"),
      ("failed_frac", wl.failed.toDouble / math.max(1, wl.attempted), "frac")) ++
      wl.namedMetrics ++ wl.endToEnd.filter(_._1 == "stored_bytes_per_input_byte")
    named.foreach { case (n, v, u) => println(f"metric ${wl.name}.$n%s = $v%.6g $u%s") }

    val layer = if (o.trace) perLayer(wl, calls, tracer, Stats.median(sessionS)) else Nil
    layer.foreach { case (n, v, u) => println(f"layer $n%s = $v%.6g $u%s") }

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    println("spark_conf " + Json.render(Json.Obj(conf)))
    val correct = wl.failed == 0
    val metricsOut =
      if (o.trace) layer.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }
      else e2e.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }
    val record = Json.obj(
      "workload" -> wl.name, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "smoke" -> o.smoke, "cores" -> cores, "correct" -> correct,
      "attempted" -> wl.attempted, "failed" -> wl.failed, "failures" -> wl.failures,
      "warmup_cycles" -> wl.warmupCycles, "cycles" -> wl.cycles, "run_s" -> runS,
      "setup_s_samples" -> setupS, "session_start_s_samples" -> sessionS,
      "samples" -> wl.samples.all,
      "end_to_end" -> Json.Obj(e2e.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }),
      "named" -> Json.Obj(named.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }),
      "per_layer" -> Json.Obj(layer.map { case (n, v, _) => n -> v }),
      "input_shape" -> wl.shape,
      "spark_conf" -> Json.Obj(conf),
      "calls" -> calls.map(c => Json.obj("name" -> c.name, "wall_s" -> c.wallS, "self_s" -> c.selfS,
        "jobs" -> c.jobs, "tasks" -> c.tasks, "exec_cpu_s" -> c.execCpuS, "gc_s" -> c.gcS,
        "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes,
        "bytes_written" -> c.bytesWritten, "records_written" -> c.recordsWritten,
        "extra" -> c.extra, "probe" -> c.probe, "cycle" -> c.cycle)),
      "spans" -> tracer.spanLog())
    val file = writeRecord(o.out, wl.name, o, Json.render(record))
    println(s"record ${file.getPath}")
    spark.stop()
    println(Json.render(Json.obj("correct" -> correct, "attempted" -> wl.attempted,
      "failed" -> wl.failed, "metrics" -> Json.Obj(metricsOut))))
    if (!correct) System.err.println("[graftbench] failures: " + wl.failures.mkString("; "))
  }

  /** Per-layer figures: medians over calls of each name, then the wall-time
    * accounting of the traced cycles and the traced commit median (against
    * an untraced run of the same seed it gives the tracing overhead).
    * Layers a workload does not touch read 0. */
  def perLayer(wl: Workload, calls: Seq[CallRec], tracer: Tracer,
               sessionStart: Double): Seq[(String, Double, String)] = {
    val byName = calls.groupBy(_.name)
    def med(call: String)(f: CallRec => Double): Double =
      byName.get(call).map(cs => Stats.median(cs.map(f))).getOrElse(0.0)
    val (wall, layers, unattributed) = tracer.accounting(calls)
    val extras = wl.layerExtras.toMap
    PerLayer.map { case (name, unit) =>
      val call = name.split('.').take(2).mkString(".")
      val field = name.split('.').drop(2).mkString(".")
      val v: Double = name match {
        case "core.session_start_s" => sessionStart
        case "trace.wall_s" => wall
        case "trace.unattributed_s" => unattributed
        case "trace.commit_s_p50" => wl.samples.median("commit_s")
        case "streaming.trigger_gap_s" => med("streaming.trigger_gap")(_.wallS)
        case n if n.startsWith("trace.self_s.") => layers.getOrElse(n.stripPrefix("trace.self_s."), 0.0)
        case n if extras.contains(n) => extras(n)
        case _ => field match {
          case "wall_s" => med(call)(_.wallS)
          case "self_s" => med(call)(_.selfS)
          case "jobs" => med(call)(_.jobs.toDouble)
          case "tasks" => med(call)(_.tasks.toDouble)
          case "exec_cpu_s" => med(call)(_.execCpuS)
          case "gc_s" => med(call)(_.gcS)
          case "shuffle_bytes" => med(call)(_.shuffleBytes.toDouble)
          case "spill_bytes" => med(call)(_.spillBytes.toDouble)
          case "bytes_written" | "bytes_rewritten" => med(call)(_.bytesWritten.toDouble)
          case f => med(call)(_.extra.getOrElse(f, 0.0))
        }
      }
      (name, if (v.isNaN) 0.0 else v, unit)
    }
  }

  /** A new file per run, never overwritten. */
  def writeRecord(dir: File, workload: String, o: Opts, json: String): File = {
    dir.mkdirs()
    var i = 0
    var f: File = null
    do {
      f = new File(dir, s"$workload-seed${o.seed}-trace${if (o.trace) 1 else 0}-${System.currentTimeMillis()}-$i.json")
      i += 1
    } while (!f.createNewFile())
    val out = new FileOutputStream(f)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    f
  }
}
