package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types.StructType

import graft.sink.MergeWriter
import graft.streaming.{CdcSchema, CdcTableSpec, MultiTableSink}

/** `cdc_replay_cow`: a pre-written CDC backlog of JSON-lines files, drained
  * by `CdcSource.fileStream` (one file per micro-batch) into
  * `MultiTableSink.processBatch`, which demuxes three tables and upserts /
  * deletes into COPY_ON_WRITE tables partitioned by day. After the drain,
  * repeated snapshot reads of the three tables. */
final class CdcReplay(o0: Opts) extends Workload(o0) {
  val name = "cdc_replay_cow"

  val tables = 3
  val keySpace: Int = if (o.smoke) 6000 else 60000
  val days = 30
  val initialAlive = 0.8
  val eventsPerFile: Int = if (o.smoke) 600 else 3000
  val deleteShare = 0.05
  val repeatShare = 0.10
  val backlogFiles: Int = if (o.smoke) 4 else 12
  /** Share of the measured window spent draining; the rest reads. */
  val drainShare = 0.7

  private val perTable = keySpace / tables
  private val schema = StructType.fromDDL("id BIGINT, day STRING, v STRING, amount BIGINT, ver BIGINT")
  private val specs = (0 until tables).map(t =>
    CdcTableSpec("db0", s"t$t", schema, Seq("id"), "ver", Seq("day")))
  private val nested = Seq(
    "graft.sink.MergeWriter$.upsert(" -> "sink.upsert_cow",
    "graft.sink.MergeWriter$.delete(" -> "sink.delete_cow")

  private var input: File = _
  private var dir: File = _
  private var sink: MultiTableSink = _
  /** Events of the snapshot (index 0) and of each backlog file (1..). */
  private val files = ArrayBuffer[Array[(Int, Int, String, Long)]]()
  private val fileBytes = ArrayBuffer[Long]()
  private val opCounts = mutable.Map[String, Long]().withDefaultValue(0L)
  private var storedRatio = Double.NaN
  private var eventsTimed = 0L
  private var drainTimed = 0.0

  def shape: Json.Obj = Json.obj(
    "tables" -> tables, "key_space" -> keySpace, "partitions_per_table" -> days,
    "initial_snapshot_share" -> initialAlive, "events_per_batch" -> eventsPerFile,
    "backlog_batches" -> backlogFiles,
    "mix" -> Json.obj("delete" -> deleteShare,
      "insert_update" -> "insert when the key is absent, update when present"),
    "in_batch_repeat_share" -> repeatShare,
    "recency_skew" -> "none: keys uniform over the key space, fixed day per key",
    "op_counts" -> opCounts.toMap,
    "why" -> ("streamer catch-up replay: per-batch demux cost plus the COW partition " +
      "rewrite and full-table delete; repeated keys within a batch exercise the " +
      "last-op-per-key dedup; uniform keys make every batch touch every partition"))

  private def day(id: Int): String = f"d${id % days + 1}%02d"

  private def amount(id: Int, ver: Long): Long = 1 + Rand.below(Rand.mix(id, ver), 1000)

  private def eventJson(t: Int, id: Int, op: String, offset: Long): String = {
    val payload = s"""{"id":$id,"day":"${day(id)}","v":"v$offset","amount":${amount(id, offset)},"ver":$offset}"""
    s"""{"db":"db0","table":"t$t","op":"$op","ts_ms":${1700000000000L + offset},"offset":$offset,"payload":${Json.quote(payload)}}"""
  }

  /** Generates the snapshot and the backlog against a model of which keys
    * are alive, so deletes hit live keys and inserts hit absent ones. */
  private def generate(): Unit = {
    files.clear(); fileBytes.clear(); opCounts.clear()
    val alive = Array.fill(tables)(new java.util.BitSet(perTable))
    var offset = 0L
    val rng = new SplittableRandom(o.seed)
    val snap = ArrayBuffer[(Int, Int, String, Long)]()
    for (t <- 0 until tables; id <- 0 until perTable if rng.nextDouble() < initialAlive) {
      alive(t).set(id); offset += 1
      snap += ((t, id, CdcSchema.OpInsert, offset))
    }
    files += snap.toArray
    (1 to backlogFiles).foreach { f =>
      val r = new SplittableRandom(Rand.mix(o.seed, f))
      val used = ArrayBuffer[(Int, Int)]()
      val evs = new Array[(Int, Int, String, Long)](eventsPerFile)
      var i = 0
      while (i < eventsPerFile) {
        offset += 1
        val (t, id) =
          if (used.nonEmpty && r.nextDouble() < repeatShare) used(r.nextInt(used.size))
          else (r.nextInt(tables), r.nextInt(perTable))
        val op =
          if (alive(t).get(id) && r.nextDouble() < deleteShare / initialAlive) CdcSchema.OpDelete
          else if (alive(t).get(id)) CdcSchema.OpUpdate
          else CdcSchema.OpInsert
        if (op == CdcSchema.OpDelete) alive(t).clear(id) else alive(t).set(id)
        opCounts(op) += 1
        used += ((t, id))
        evs(i) = (t, id, op, offset)
        i += 1
      }
      files += evs
    }
  }

  private def writeFile(f: File, evs: Array[(Int, Int, String, Long)]): Long = {
    val w = new LineWriter(f)
    try evs.foreach { case (t, id, op, off) => w.line(eventJson(t, id, op, off)) } finally w.close()
    w.bytes
  }

  def prepare(d: File): Unit = {
    input = d
    generate()
    fileBytes += writeFile(snapFile, files(0))
    (1 to backlogFiles).foreach { i =>
      val f = StreamDrain.file(backlog, i)
      fileBytes += writeFile(f, files(i))
      StreamDrain.seal(f, i)
    }
  }

  private def snapFile = new File(input, "snapshot/snapshot.json")

  private def backlog = new File(input, "backlog")

  def setup(spark: SparkSession, d: File): Unit = {
    dir = d
    sink = new MultiTableSink(new File(dir, "lake/{db}/{table}").getAbsolutePath, specs,
      triggerSeconds = 0)
    sink.processBatch(spark.read.schema(CdcSchema.EventSchema).json(snapFile.getAbsolutePath), 0L)
  }

  /** Expected state per table after the first `n` files (snapshot
    * included): day → (rows, sum of ver, sum of amount). */
  private def expected(n: Int): IndexedSeq[Map[String, (Long, Long, Long)]] = {
    val ver = Array.fill(tables)(Array.fill(perTable)(-1L))
    files.take(n).foreach(_.foreach { case (t, id, op, off) =>
      ver(t)(id) = if (op == CdcSchema.OpDelete) -1L else off
    })
    (0 until tables).map { t =>
      val acc = mutable.Map[String, (Long, Long, Long)]()
      (0 until perTable).foreach { id =>
        val v = ver(t)(id)
        if (v >= 0) {
          val (c, sv, sa) = acc.getOrElse(day(id), (0L, 0L, 0L))
          acc(day(id)) = (c + 1, sv + v, sa + amount(id, v))
        }
      }
      acc.toMap
    }
  }

  /** Rows a batch upserts into the tables: its last op per key, deletes
    * excluded. */
  private def upsertRows(evs: Array[(Int, Int, String, Long)]): Long = {
    val last = mutable.Map[(Int, Int), String]()
    evs.foreach { case (t, id, op, _) => last((t, id)) = op }
    last.count(_._2 != CdcSchema.OpDelete).toLong
  }

  def run(spark: SparkSession, tracer: Tracer): Unit = {
    val drain = new StreamDrain(this, tracer, backlogFiles, o.seconds * drainShare)
    drain.run(spark, backlog, new File(dir, "checkpoint")) { (batch, k, isTimed) =>
      if (k == warmupCycles)
        storedRatio = Files.sizeOf(new File(dir, "lake")).toDouble / fileBytes.take(warmupCycles + 1).sum
      val (_, s) = timed(tracer.spanWith("streaming.process_batch", nested) { sp =>
        sp.extra("input_rows") = upsertRows(files(k + 1)).toDouble
        sink.processBatch(batch, k)
      })
      attempted += 1
      if (isTimed) {
        samples.add("commit_s", s)
        eventsTimed += eventsPerFile
      }
      s
    }
    val processed = drain.processed
    drainTimed = drain.drainTimedS
    cycles = processed

    // snapshot reads of the three tables, each checked against the replay
    val want = expected(processed + 1)
    val lakes = specs.map(sink.resolveLakeTable)
    val readBudget = o.seconds - drainTimed
    var readS = 0.0
    var rounds = 0
    while (rounds < 2 || readS < readBudget) {
      val t0 = System.nanoTime()
      tracer.cycle(timed = true) {
        lakes.zipWithIndex.foreach { case (lake, t) =>
          val (rows, s) = timed(tracer.span("sink.read_view") {
            MergeWriter.readView(spark, lake).groupBy("day")
              .agg(count(lit(1)), sum(col("ver")), sum(col("amount"))).collect()
          })
          samples.add("snapshot_s", s)
          val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
          check(s"table t$t after $processed batches", got == want(t),
            s"${(got.toSet diff want(t).toSet).take(3)} vs ${(want(t).toSet diff got.toSet).take(3)}")
        }
      }
      readS += seconds(t0)
      rounds += 1
    }
  }

  override def probes(spark: SparkSession, tracer: Tracer): Unit = tracer.probe {
    // the in-batch dedup is lazy inside processBatch; measure it alone on
    // one backlog file's parsed rows of one table
    val spec = specs.head
    val rows = spark.read.schema(CdcSchema.EventSchema)
      .json(StreamDrain.file(backlog, backlogFiles).getAbsolutePath)
      .filter(col("table") === spec.table)
      .select(col("op"), col("offset"),
        org.apache.spark.sql.functions.from_json(col("payload"), spec.payloadSchema).as("r"))
      .select(col("r.*"), col("op"), col("offset"))
      .cache()
    rows.count()
    tracer.span("sink.dedup") {
      MergeWriter.dedupByPrecombine(rows, spec.recordKeyFields, "offset")
        .write.format("noop").mode("overwrite").save()
    }
    rows.unpersist()
  }

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("commit_s_p50", samples.median("commit_s"), "s"),
    ("rows_per_s", eventsTimed / drainTimed, "1/s"),
    ("snapshot_query_s_p50", samples.median("snapshot_s"), "s"),
    ("stored_bytes_per_input_byte", storedRatio, "ratio"))

  def namedMetrics: Seq[(String, Double, String)] = Seq(
    ("cdc_events_per_s", eventsTimed / drainTimed, "1/s"),
    ("cdc_batch_s_p50", samples.median("commit_s"), "s"),
    ("cow_snapshot_query_s_p50", samples.median("snapshot_s"), "s"))
}
