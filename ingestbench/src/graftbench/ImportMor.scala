package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.apps.DocImport
import graft.core.ConfigLayer
import graft.operators.{Flatten, SqlTransform}
import graft.sink.{LakeTable, MergeWriter}

/** Nested order documents (an order with its customer and line items),
  * generated from the seed, with the last-write-wins state of every line
  * kept in memory as the oracle. Keys are (orderkey, linenumber); each
  * emission of an order re-emits all its lines at one version `ver`. */
final class OrderBook(seed: Long, val months: Int) {
  val month: ArrayBuffer[Int] = ArrayBuffer()
  val ver: ArrayBuffer[Long] = ArrayBuffer()
  val byMonth: Array[ArrayBuffer[Int]] = Array.fill(months)(ArrayBuffer[Int]())
  private var nextVer = 1L

  def size: Int = month.size

  def lines(o: Int): Int = 1 + Rand.below(Rand.mix(seed, o), 7)

  def quantity(o: Int, l: Int, v: Long): Long = 1 + Rand.below(Rand.mix(o, l, v), 50)

  def monthName(m: Int): String = f"${1992 + m / 12}%04d-${m % 12 + 1}%02d"

  def add(m: Int): Int = {
    val o = size
    month += m
    ver += 0L
    byMonth(m) += o
    o
  }

  def freshVer(): Long = { val v = nextVer; nextVer += 1; v }

  def json(o: Int, v: Long): String = {
    val m = month(o)
    val h = Rand.mix(seed, o, 17)
    val cust = Rand.below(h, 15000)
    val day = 1 + Rand.below(h >>> 20, 28)
    val b = new StringBuilder(256 + 220 * lines(o))
    b ++= s"""{"o_orderkey":$o,"o_custkey":$cust,"o_orderstatus":"O","o_orderdate":"${monthName(m)}-${f"$day%02d"}","""
    b ++= s""""o_orderpriority":"${1 + Rand.below(h >>> 8, 5)}-PRIORITY","""
    b ++= s""""customer":{"c_custkey":$cust,"c_nationkey":${Rand.below(h >>> 12, 25)},"c_mktsegment":"SEG${Rand.below(h >>> 16, 5)}"},"lines":["""
    var l = 1
    while (l <= lines(o)) {
      val q = quantity(o, l, v)
      val part = Rand.below(Rand.mix(o, l), 20000)
      val cents = q * (90000 + part % 10000 * 10)
      val disc = Rand.below(Rand.mix(o, l, v + 7), 11)
      if (l > 1) b += ','
      b ++= s"""{"l_linenumber":$l,"l_partkey":$part,"l_suppkey":${part % 1000},"l_quantity":$q,"""
      b ++= s""""l_extendedprice":${cents / 100}.${f"${cents % 100}%02d"},"l_discount":0.${f"$disc%02d"},"l_tax":0.0${disc % 9},"""
      b ++= s""""l_returnflag":"N","l_linestatus":"O","l_shipdate":"${monthName(m)}-${f"${1 + (day + 3 * l) % 28}%02d"}","ver":$v}"""
      l += 1
    }
    (b ++= "]}").toString
  }

  /** Per month: (rows, sum of ver, sum of quantity) of the current state. */
  def expectedByMonth(): Map[String, (Long, Long, Long)] = {
    val acc = mutable.Map[Int, (Long, Long, Long)]()
    var o = 0
    while (o < size) {
      val n = lines(o)
      var q = 0L
      var l = 1
      while (l <= n) { q += quantity(o, l, ver(o)); l += 1 }
      val (c, sv, sq) = acc.getOrElse(month(o), (0L, 0L, 0L))
      acc(month(o)) = (c + n, sv + n * ver(o), sq + q)
      o += 1
    }
    acc.map { case (m, v) => monthName(m) -> v }.toMap
  }

  /** (rows, sum of ver, sum of quantity) of the given orders' current state. */
  def expectedOf(orders: Iterable[Int]): (Long, Long, Long) =
    orders.foldLeft((0L, 0L, 0L)) { case ((c, sv, sq), o) =>
      val n = lines(o)
      (c + n, sv + n * ver(o), sq + (1 to n).map(l => quantity(o, l, ver(o))).sum)
    }
}

/** `import_mor_rw`: the document importer (`DocImport.sync`: JSON → Flatten
  * → SQL transform → keyed upsert) into a MERGE_ON_READ table partitioned by
  * ship month, each commit followed by a snapshot SQL aggregate over
  * `readView` and an incremental pull since the previous commit, with
  * `compact` every few commits. */
final class ImportMor(o0: Opts) extends Workload(o0) {
  val name = "import_mor_rw"

  val months = 80
  val baseOrders: Int = if (o.smoke) 2000 else 40000
  val batchOrders: Int = if (o.smoke) 200 else 2500
  val updateShare = 0.7
  val dupShare = 0.05
  val recencyMeanMonths = 6.0
  val newOrderMonths = 3
  val compactEvery = 4

  private var book: OrderBook = _
  private var input: File = _
  private var table: LakeTable = _
  private var conf: ConfigLayer = _
  private var inputBytes = 0L
  private var lastBatchFile: String = _
  private var storedRatio = Double.NaN
  private var rowsTimed = 0L
  private var commitTimed = 0.0

  val SnapshotSql: String =
    """SELECT ship_month, count(*) AS n, sum(ver) AS sv, sum(quantity) AS sq, sum(revenue) AS rev
      |FROM lineitem_snapshot GROUP BY ship_month""".stripMargin

  val TransformSql: String =
    """SELECT o_orderkey AS orderkey, lines_l_linenumber AS linenumber,
      |  customer_c_custkey AS custkey, customer_c_nationkey AS nationkey,
      |  o_orderpriority AS priority, lines_l_partkey AS partkey,
      |  lines_l_quantity AS quantity, lines_l_extendedprice AS extendedprice,
      |  lines_l_discount AS discount,
      |  lines_l_extendedprice * (1 - lines_l_discount) AS revenue,
      |  lines_l_shipdate AS shipdate, substr(lines_l_shipdate, 1, 7) AS ship_month,
      |  lines_ver AS ver
      |FROM <SRC>""".stripMargin

  private val syncNested = Seq(
    "graft.apps.DocImport$.readSource(" -> "sources.doc_read",
    "graft.sink.MergeWriter$." -> "sink.upsert_mor")

  def shape: Json.Obj = Json.obj(
    "table" -> "MERGE_ON_READ, key (orderkey, linenumber), precombine ver, partitioned by ship_month",
    "partitions" -> months,
    "base_orders" -> baseOrders, "lines_per_order" -> "1..7 (mean 4)",
    "batch_orders" -> batchOrders,
    "mix" -> Json.obj("update" -> updateShare, "insert" -> (1 - updateShare), "delete" -> 0.0),
    "recency_skew" -> s"updated order's month = newest - Exp(mean $recencyMeanMonths months); new orders in the newest $newOrderMonths months",
    "in_batch_duplicate_share" -> dupShare,
    "compact_every" -> compactEvery,
    "why" -> ("importer path: writes beside reads on one MOR table, so a cheaper write " +
      "that makes the read dearer shows; recent-month skew concentrates updates the way " +
      "late-arriving order changes do; in-batch duplicates exercise precombine"))

  def prepare(d: File): Unit = {
    input = d
    book = new OrderBook(o.seed, months)
    val rng = new SplittableRandom(o.seed)
    val w = new LineWriter(baseFile)
    try (0 until baseOrders).foreach { _ =>
      val ord = book.add(rng.nextInt(months))
      w.line(book.json(ord, 0L))
    } finally w.close()
    inputBytes = w.bytes
  }

  private def baseFile = new File(input, "base.json")

  def setup(spark: SparkSession, dir: File): Unit = {
    conf = ConfigLayer(Map(
      "path" -> new File(dir, "lake/lineitem").getAbsolutePath,
      "hoodie.table.name" -> "lineitem_mor",
      "hoodie.deltastreamer.mongodb.auto.flatten.enable" -> "true",
      SqlTransform.TransformerSqlKey -> TransformSql,
      LakeTable.RecordKeyKey -> "orderkey,linenumber",
      LakeTable.PrecombineKey -> "ver",
      LakeTable.PartitionPathKey -> "ship_month",
      LakeTable.TableTypeKey -> LakeTable.MergeOnRead))
    table = LakeTable.fromConfig(conf.requireKey("path"), conf)
    DocImport.sync(spark, conf + (LakeTable.OperationKey -> MergeWriter.BulkInsert),
      Map("resource" -> baseFile.getAbsolutePath))
  }

  /** Writes batch `b` and applies it to the oracle; returns the orders it
    * touched and its line count. */
  private def nextBatch(b: Int): (File, Set[Int], Long) = {
    val rng = new SplittableRandom(Rand.mix(o.seed, b + 1L))
    val touched = mutable.LinkedHashSet[Int]()
    val emissions = ArrayBuffer[(Int, Long)]()
    val late = ArrayBuffer[(Int, Long)]()
    (0 until batchOrders).foreach { _ =>
      val ord =
        if (rng.nextDouble() < updateShare) {
          val age = math.min(months - 1, (-math.log(1 - rng.nextDouble()) * recencyMeanMonths).toInt)
          val pool = book.byMonth(months - 1 - age)
          if (pool.isEmpty) rng.nextInt(book.size) else pool(rng.nextInt(pool.size))
        } else book.add(months - newOrderMonths + rng.nextInt(newOrderMonths))
      if (rng.nextDouble() < dupShare) {
        // a duplicate key within the batch: the higher version is emitted
        // first, so file order and precombine order disagree
        val lo = book.freshVer()
        val hi = book.freshVer()
        emissions += ((ord, hi))
        late += ((ord, lo))
        book.ver(ord) = math.max(book.ver(ord), hi)
      } else {
        val v = book.freshVer()
        emissions += ((ord, v))
        book.ver(ord) = v
      }
      touched += ord
    }
    val f = new File(input, f"batch-$b%05d.json")
    val w = new LineWriter(f)
    try (emissions ++ late).foreach { case (ord, v) => w.line(book.json(ord, v)) } finally w.close()
    inputBytes += w.bytes
    val rows = (emissions ++ late).map { case (ord, _) => book.lines(ord).toLong }.sum
    (f, touched.toSet, rows)
  }

  /** Warm-up ends with a compaction, then the timed window runs whole
    * compaction periods (`compactEvery` commits) until `seconds` have
    * passed, compacting between periods, so every run samples the same mix
    * of delta-log depths. */
  def run(spark: SparkSession, tracer: Tracer): Unit = {
    var b = 0
    var uncompacted = 0
    var timedS = 0.0
    var done = false
    while (!done) {
      val isTimed = b >= warmupCycles
      if (b == warmupCycles)
        storedRatio = Files.sizeOf(new File(table.path)).toDouble / inputBytes
      val (file, touched, rows) = nextBatch(b)
      lastBatchFile = file.getAbsolutePath
      val t0 = System.nanoTime()
      tracer.cycle(isTimed) {
        val prev = MergeWriter.latestCommit(spark, table)
        val (_, commitS) = timed(tracer.span("apps.sync", syncNested) {
          DocImport.sync(spark, conf, Map("resource" -> lastBatchFile))
        })
        uncompacted += 1
        val (snap, snapS) = timed(tracer.spanWith("sink.read_view") { s =>
          s.extra("delta_commits") = uncompacted
          MergeWriter.readView(spark, table).createOrReplaceTempView("lineitem_snapshot")
          spark.sql(SnapshotSql).collect()
        })
        val (inc, incS) = timed(tracer.span("sink.incremental") {
          MergeWriter.incremental(spark, table, prev)
            .agg(count(lit(1)), sum(col("ver")), sum(col("quantity"))).head()
        })
        attempted += 1 // the commit; the reads count through their checks
        val want = book.expectedByMonth()
        val got = snap.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
        check(s"snapshot after batch $b", got == want,
          s"${(got.toSet diff want.toSet).take(3)} vs ${(want.toSet diff got.toSet).take(3)}")
        val wantInc = book.expectedOf(touched)
        val gotInc = (inc.getLong(0), inc.getLong(1), inc.getLong(2))
        check(s"incremental pull after batch $b", gotInc == wantInc, s"$gotInc vs $wantInc")
        b += 1
        // the end of warm-up or of a period: compact, unless the window is over
        if ((b - warmupCycles) % compactEvery == 0) {
          if (isTimed && timedS + seconds(t0) >= o.seconds) done = true
          else {
            val (_, s) = timed(tracer.span("sink.compact")(MergeWriter.compact(spark, table)))
            uncompacted = 0
            attempted += 1
            if (isTimed) samples.add("compact_s", s)
          }
        }
        if (isTimed) {
          samples.add("commit_s", commitS)
          samples.add("snapshot_s", snapS)
          samples.add("incremental_s", incS)
          rowsTimed += rows
          commitTimed += commitS
        }
      }
      if (isTimed) timedS += seconds(t0)
    }
    cycles = b
  }

  /** The lazy stages inside `DocImport.sync` (flatten, SQL transform, the
    * upsert's in-batch dedup), each run alone on the last batch: input
    * cached first, output run to completion through the no-op sink. */
  override def probes(spark: SparkSession, tracer: Tracer): Unit = tracer.probe {
    def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val raw = cached(DocImport.readSource(spark, conf, Map("resource" -> lastBatchFile)))
    val flat = cached(Flatten(raw))
    val rows = cached(SqlTransform.maybeTransform(spark, flat, conf))
    val rowsOutPerRowIn = flat.count().toDouble / raw.count()
    tracer.spanWith("operators.flatten") { s =>
      s.extra("rows_out_per_row_in") = rowsOutPerRowIn
      drain(Flatten(raw))
    }
    tracer.span("operators.sql_transform")(drain(SqlTransform.maybeTransform(spark, flat, conf)))
    tracer.span("sink.dedup") {
      drain(MergeWriter.dedupByPrecombine(rows, table.recordKeyFields, table.precombineField))
    }
    Seq(rows, flat, raw).foreach(_.unpersist())
  }

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("commit_s_p50", samples.median("commit_s"), "s"),
    ("rows_per_s", rowsTimed / commitTimed, "1/s"),
    ("snapshot_query_s_p50", samples.median("snapshot_s"), "s"),
    ("stored_bytes_per_input_byte", storedRatio, "ratio"))

  def namedMetrics: Seq[(String, Double, String)] = Seq(
    ("import_commit_s_p50", samples.median("commit_s"), "s"),
    ("import_rows_per_s", rowsTimed / commitTimed, "1/s"),
    ("mor_snapshot_query_s_p50", samples.median("snapshot_s"), "s"),
    ("mor_incremental_pull_s_p50", samples.median("incremental_s"), "s"),
    ("mor_compact_s_p50", samples.median("compact_s"), "s"))
}
