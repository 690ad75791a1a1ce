package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types.StructType

import graft.apps.CurationApp
import graft.core.ConfigLayer
import graft.ops.Dedup
import graft.sink.{LakeTable, MergeWriter}

/** `curate_dedup`: daily document batches with planted exact duplicates,
  * planted near-duplicates (of docs in the batch and of committed docs),
  * one hot boilerplate doc and low-quality docs, delivered as a backlog of
  * CDC insert events and drained by `CdcSource.fileStream`, one day per
  * micro-batch. Each micro-batch runs
  * `CurationApp.curate`, `Dedup.minhashPairs` within the batch,
  * `Dedup.simhashIncremental` against the committed corpus,
  * `Dedup.connectedComponents` over the MinHash pairs, then one keep-one
  * upsert (component minimum kept, corpus near-duplicates dropped). */
final class CurateDedup(o0: Opts) extends Workload(o0) {
  import CurateDedup._

  val name = "curate_dedup"

  val corpusDocs: Int = if (o.smoke) 400 else 4000
  val batchDocs: Int = if (o.smoke) 200 else 1500
  val exactDupShare = 0.05
  val nearDupShare = 0.05
  val hotShare = 0.02
  val lowQualityShare = 0.03
  val vocab = 4000
  val backlogDays: Int = if (o.smoke) 3 else 10

  private val docSchema = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT, day STRING")
  private val words: IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "do", "an", "el", "or", "us", "im", "ek")
    (0 until vocab).map(i => syl(i % 16) + syl(i / 16 % 16) + syl(i / 256 % 16))
  }
  private val hotText = (0 until 30).map(i => words((i * 131) % vocab)).mkString(" ") +
    " subscribe to our newsletter for updates"

  private var input: File = _
  private var dir: File = _
  private var table: LakeTable = _
  private var nextId = 0L
  /** Texts of committed base docs, the pool corpus near-duplicates edit. */
  private val committed = ArrayBuffer[(Long, String)]()
  private var inputBytes = 0L
  private var storedRatio = Double.NaN
  private var docsTimed = 0L
  private var drainTimed = 0.0
  private val backlogBytes = ArrayBuffer[Long]()
  /** What the curated table must make of each day's docs (day 0 is the
    * seed corpus). */
  private val reference = ArrayBuffer[DayRef]()
  /** Planted near-duplicate pairs of each backlog day. */
  private val planted = ArrayBuffer[(Seq[(Long, Long)], Seq[(Long, Long)])]()
  private var plantedNear = 0
  private var foundNear = 0

  private val conf = ConfigLayer(Map(
    CurationApp.Prefix + "min.tokens" -> "20",
    CurationApp.Prefix + "repetition.factor" -> "5"))

  def shape: Json.Obj = Json.obj(
    "table" -> "COPY_ON_WRITE, key doc_id, precombine day, partitioned by day",
    "corpus_docs" -> corpusDocs, "batch_docs" -> batchDocs,
    "words_per_doc" -> "40..119 from a 4000-word vocabulary",
    "mix" -> Json.obj("insert" -> 1.0, "update" -> 0.0, "delete" -> 0.0),
    "exact_duplicate_share" -> exactDupShare,
    "near_duplicate_share" -> s"$nearDupShare (half of docs in the batch, half of committed docs; one word in 40 replaced)",
    "hot_doc_share" -> s"$hotShare (one boilerplate text in every batch)",
    "low_quality_share" -> s"$lowQualityShare (short or repetitive)",
    "recency_skew" -> "none: every batch is a new day",
    "why" -> ("curation path: the ops layer (quality filter, MinHash, SimHash, connected " +
      "components) dominates and the sink does little; planted duplicates make the " +
      "dedup checkable and give recall; the hot doc is the hot-bucket case"))

  private def randomText(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => words(r.nextInt(vocab))).mkString(" ")

  private def edit(r: SplittableRandom, text: String): String =
    text.split(' ').zipWithIndex.map { case (w, i) =>
      if (i % 40 == 13) words(r.nextInt(vocab)) else w
    }.mkString(" ")

  private def docJson(id: Long, text: String, day: String): String = {
    val h = Rand.mix(id)
    s"""{"doc_id":$id,"text":${Json.quote(text)},"lang":"${Seq("en", "de", "fr")(Rand.below(h, 3))}",""" +
      s""""source":"src${Rand.below(h >>> 8, 4)}","n_chars":${text.length},"day":"$day"}"""
  }

  /** Writes one day's batch: the seed corpus as plain documents, every
    * later day as a backlog file of CDC insert events carrying the
    * documents. Records what the curated table must make of each document
    * in `reference`. Returns the file, its bytes and the planted
    * near-duplicate pairs (within the batch, and batch doc → committed
    * doc). */
  private def writeBatch(day: Int, n: Int, asEvents: Boolean)
      : (File, Long, Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val r = new SplittableRandom(Rand.mix(o.seed, 1000 + day))
    val dayName = f"day$day%04d"
    // exact counts per kind and evenly spread lengths, shuffled: every seed
    // gives every day the same amount of each kind of work
    def count(share: Double) = math.round(n * share).toInt
    val nExact = count(exactDupShare)
    val nNearCorpus = if (committed.isEmpty) 0 else count(nearDupShare / 2)
    val nNearIn = count(nearDupShare) - nNearCorpus
    val nHot = count(hotShare)
    val nLow = count(lowQualityShare)
    val nBase = n - nExact - nNearIn - nNearCorpus - nHot - nLow
    val baseTexts = (0 until nBase).map(i => randomText(r, 40 + i * 80 / nBase))
    // exact copies are made of even base docs, near-duplicates of odd ones,
    // so every base doc has one kind of planted copy at most
    val derived: Seq[(String, Int, Int)] =
      Seq.fill(nExact) { val i = 2 * r.nextInt((nBase + 1) / 2); (baseTexts(i), Exact, i) } ++
      Seq.fill(nNearIn) { val i = 2 * r.nextInt(nBase / 2) + 1; (edit(r, baseTexts(i)), NearIn, i) } ++
      Seq.fill(nNearCorpus) { val c = r.nextInt(committed.size); (edit(r, committed(c)._2), NearCorpus, c) } ++
      Seq.fill(nHot)((hotText, Hot, -1)) ++
      (0 until nLow).map { i =>
        val text =
          if (i % 2 == 0) randomText(r, 5 + r.nextInt(10))
          else { val bigram = randomText(r, 2); Seq.fill(15)(bigram).mkString(" ") }
        (text, Low, -1)
      }
    // entry k < nBase is base doc k; the rest are derived(k - nBase)
    val order = (0 until n).toArray
    (n - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val idOf = new Array[Long](n)
    order.foreach { k => idOf(k) = nextId; nextId += 1 }
    val docs = order.toSeq.map(k => idOf(k) -> (if (k < nBase) baseTexts(k) else derived(k - nBase)._1))
    def ofKind(kind: Int) = derived.indices.filter(d => derived(d)._2 == kind)
    def groups(kind: Int) = ofKind(kind).groupBy(d => derived(d)._3).toSeq.map { case (b, ds) =>
      idOf(b) +: ds.map(d => idOf(nBase + d))
    }
    val copied = ofKind(Exact).map(d => derived(d)._3).toSet ++ ofKind(NearIn).map(d => derived(d)._3)
    reference += DayRef(
      singles = (0 until nBase).filterNot(copied).map(k => idOf(k)),
      exact = groups(Exact), near = groups(NearIn),
      hot = ofKind(Hot).map(d => idOf(nBase + d)), low = ofKind(Low).map(d => idOf(nBase + d)))
    val nearIn = ofKind(NearIn).map(d => (idOf(derived(d)._3), idOf(nBase + d)))
    val nearCorpus = ofKind(NearCorpus).map(d => (idOf(nBase + d), committed(derived(d)._3)._1))
    val base = (0 until nBase).map(k => idOf(k) -> baseTexts(k))
    val f = if (asEvents) StreamDrain.file(backlog, day) else corpusFile
    val w = new LineWriter(f)
    try docs.foreach { case (id, t) =>
      val doc = docJson(id, t, dayName)
      w.line(if (!asEvents) doc else
        s"""{"db":"corpus","table":"docs","op":"insert","ts_ms":${1700000000000L + id},"offset":$id,"payload":${Json.quote(doc)}}""")
    } finally w.close()
    if (!asEvents) inputBytes += w.bytes
    committed ++= base
    (f, w.bytes, nearIn, nearCorpus)
  }

  private def read(spark: SparkSession, f: File): DataFrame =
    spark.read.schema(docSchema).json(f.getAbsolutePath)

  private def corpusFile = new File(input, "seed/corpus.json")

  private def backlog = new File(input, "backlog")

  def prepare(d: File): Unit = {
    input = d
    writeBatch(0, corpusDocs, asEvents = false)
    (1 to backlogDays).foreach { day =>
      val (g, bytes, nearIn, nearCorpus) = writeBatch(day, batchDocs, asEvents = true)
      StreamDrain.seal(g, day)
      backlogBytes += bytes
      planted += ((nearIn, nearCorpus))
    }
  }

  def setup(spark: SparkSession, d: File): Unit = {
    dir = d
    table = LakeTable(new File(dir, "lake/curated").getAbsolutePath, "curated",
      Seq("doc_id"), "day", Seq("day"))
    MergeWriter.upsert(spark, CurationApp.curate(spark, read(spark, corpusFile), conf), table)
  }

  /** Checks the curated table after `day` against the generator's
    * reference: what must survive, what must be dropped. */
  private def checkAgainstReference(spark: SparkSession, day: Int): Unit = {
    val ids = MergeWriter.readView(spark, table).select("doc_id").collect().map(_.getLong(0)).toSet
    val ref = reference.take(day + 1)
    val lost = ref.flatMap(_.singles).filterNot(ids)
    check(s"day $day: every base doc without a planted copy survives", lost.isEmpty,
      s"${lost.size} missing, e.g. ${lost.take(3)}")
    val exact = ref.flatMap(_.exact).filter(_.count(ids) != 1)
    check(s"day $day: each exact-copy group keeps exactly one doc", exact.isEmpty,
      s"${exact.size} groups, e.g. ${exact.take(2).map(g => g.filter(ids))}")
    val near = ref.flatMap(_.near).filterNot(_.exists(ids))
    check(s"day $day: each near-duplicate group keeps a doc", near.isEmpty,
      s"${near.size} groups lost, e.g. ${near.take(2)}")
    val hot = ref.flatMap(_.hot).count(ids)
    check(s"day $day: the hot text is stored exactly once", hot == 1, s"$hot copies")
    val low = ref.flatMap(_.low).filter(ids)
    check(s"day $day: no low-quality doc survives", low.isEmpty, s"${low.size}, e.g. ${low.take(3)}")
  }

  def run(spark: SparkSession, tracer: Tracer): Unit = {
    val drain = new StreamDrain(this, tracer, backlogDays, o.seconds)
    drain.run(spark, backlog, new File(dir, "checkpoint")) { (batch, k, isTimed) =>
      if (k == warmupCycles)
        storedRatio = Files.sizeOf(new File(table.path)).toDouble / (inputBytes + backlogBytes.take(k).sum)
      val (nearIn, nearCorpus) = planted(k)
      // one micro-batch, composed here: no span of its own, so this glue
      // counts as unattributed time and each graft call as its own layer
      val t0 = System.nanoTime()
      val docs = batch.select(from_json(col("payload"), docSchema).as("d")).select("d.*")
      val curated = tracer.spanWith("ops.curate") { s =>
        val c = CurationApp.curate(spark, docs, conf).localCheckpoint()
        s.extra("survivor_ratio") = c.count().toDouble / batchDocs
        c
      }
      val pairs = tracer.spanWith("ops.minhash_pairs") { s =>
        val p = Dedup.minhashPairs(curated).select("doc_a", "doc_b").localCheckpoint()
        s.extra("pairs_out") = p.count().toDouble
        p
      }
      val incr = tracer.spanWith("ops.simhash_incremental") { s =>
        val p = Dedup.simhashIncremental(MergeWriter.readView(spark, table), curated)
          .select("batch_id", "corpus_id").localCheckpoint()
        s.extra("pairs_out") = p.count().toDouble
        p
      }
      val components = tracer.spanWith("ops.connected_components") { s =>
        var rounds = 0
        val c = Dedup.connectedComponents(pairs, onRound = (i, _) => rounds = i).localCheckpoint()
        s.extra("rounds") = rounds.toDouble
        c
      }
      val drop = components.filter(col("node") =!= col("component")).select(col("node").as("doc_id"))
        .union(incr.select(col("batch_id").as("doc_id")))
      tracer.span("sink.upsert_cow") {
        MergeWriter.upsert(spark, curated.join(drop, Seq("doc_id"), "left_anti"), table)
      }
      val batchS = seconds(t0)
      val (snap, snapS) = timed(tracer.span("sink.read_view") {
        MergeWriter.readView(spark, table).createOrReplaceTempView("curated_snapshot")
        spark.sql("SELECT count(*), count(DISTINCT doc_id), count(DISTINCT md5(text)) FROM curated_snapshot").head()
      })
      val day = k + 1
      attempted += 1 // the batch; its outputs count through the checks below
      check(s"day $day: doc_id unique", snap.getLong(0) == snap.getLong(1), s"$snap")
      check(s"day $day: no exact duplicate text survives", snap.getLong(0) == snap.getLong(2), s"$snap")
      val pairRows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      val incrRows = incr.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      check(s"day $day: no self pair",
        !pairRows.exists(p => p._1 == p._2) && !incrRows.exists(p => p._1 == p._2))
      checkAgainstReference(spark, day)
      if (isTimed) {
        val comp = components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        foundNear += nearIn.count { case (a, c) => comp.get(a).exists(comp.get(c).contains) } +
          nearCorpus.count(incrRows.contains)
        plantedNear += nearIn.size + nearCorpus.size
        samples.add("snapshot_s", snapS)
        samples.add("commit_s", batchS)
        docsTimed += batchDocs
      }
      batchS
    }
    cycles = drain.processed
    drainTimed = drain.drainTimedS
  }

  override def layerExtras: Seq[(String, Double)] =
    Seq("ops.planted_dup_recall" -> foundNear.toDouble / math.max(1, plantedNear))

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("commit_s_p50", samples.median("commit_s"), "s"),
    ("rows_per_s", docsTimed / drainTimed, "1/s"),
    ("snapshot_query_s_p50", samples.median("snapshot_s"), "s"),
    ("stored_bytes_per_input_byte", storedRatio, "ratio"))

  def namedMetrics: Seq[(String, Double, String)] = Seq(
    ("curate_docs_per_s", docsTimed / drainTimed, "1/s"),
    ("curate_batch_s_p50", samples.median("commit_s"), "s"))
}

object CurateDedup {
  /** Kinds of generated document besides a base doc. */
  val Exact = 0
  val NearIn = 1
  val NearCorpus = 2
  val Hot = 3
  val Low = 4

  /** One day's docs by what must become of them: `singles` (base docs with
    * no planted copy) all survive; each `exact` group (a base doc and its
    * exact copies) keeps exactly one; each `near` group (a base doc and its
    * near-duplicates in the batch) keeps at least one; of the `hot` docs of
    * all days exactly one is stored; no `low` quality doc survives. */
  final case class DayRef(singles: Seq[Long], exact: Seq[Seq[Long]], near: Seq[Seq[Long]],
                          hot: Seq[Long], low: Seq[Long])
}
