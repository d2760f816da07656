package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.api._
import graft.ops.ConvertType

/** Planted class of one generated document. */
object Planted extends Enumeration {
  val Fresh, Exact, Near, Junk = Value
}

final case class Doc(id: String, text: String, cls: Planted.Value, payload: String)
final case class DayInput(index: Int, iso: String, docs: IndexedSeq[Doc])

/** Seeded inputs of curate_batch: a corpus the MinHash index is built from,
  * then one batch of raw nested JSON payloads per day. Each day plants
  * fixed shares of exact duplicates (of indexed documents and of documents
  * earlier in the same day), near duplicates of indexed documents (one
  * word changed, shingle Jaccard >= 0.95), low-quality junk and fresh
  * documents.
  */
final class CurateGen(seed: Long, corpusDocs: Int, docsPerDay: Int, days: Int) {
  private val rng = new Rng(seed * 7919L + 1L)
  val digest = new InputDigest
  val vocab: IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < 3000)
      seen += Iterator.fill(3 + rng.int(7))(('a' + rng.int(26)).toChar).mkString
    seen.toIndexedSeq
  }
  private def text(): String =
    Iterator.fill(50 + rng.int(41))(vocab((vocab.size * math.pow(rng.unit(), 2)).toInt)).mkString(" ")

  val corpus: IndexedSeq[(String, String)] =
    (0 until corpusDocs).map(i => (f"c$i%05d", text()))

  /** Documents that are in the index when day `d` runs (generator's view). */
  private val indexed = mutable.ArrayBuffer[String]() ++= corpus.map(_._2)

  private def nearOf(base: String): Option[String] = {
    val ws = base.split(" ")
    val out = (ws.init :+ s"zq${rng.long(1L << 40)}").mkString(" ")
    if (CurateGen.jaccard3(base, out) >= 0.95) Some(out) else None
  }

  private def payload(id: String, txt: String, dayEpoch: Long): String = {
    val created = dayEpoch + rng.int(86400)
    val phone = if (rng.chance(0.1)) "null" else f"\"+1-555-${rng.int(10000)}%04d\""
    val unknown = if (rng.chance(0.3)) "" else s""","x_unknown":"u${rng.int(1000)}""""
    s"""{"id":"$id","meta":{"created":"$created","source":{"name":"src${rng.int(6)}",""" +
      s""""region":"r${rng.int(4)}"},"author_email":"user${rng.int(5000)}@example.com",""" +
      s""""phone":$phone},"body":{"text":"$txt","lang":"en"},""" +
      s""""stats":{"views":"${rng.int(100000)}","score":"${rng.int(50)}.${rng.int(10)}"},""" +
      s""""debug":{"trace":"${java.lang.Long.toHexString(rng.long(1L << 32))}"}$unknown}"""
  }

  val dayInputs: IndexedSeq[DayInput] = (0 until days).map { d =>
    val date = java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong)
    val epoch = date.toEpochDay * 86400L
    val n = docsPerDay
    val nJunk = n * 5 / 100
    val nExact = n * 10 / 100
    val nNear = n * 15 / 100
    val nIntra = n * 5 / 100
    val nFresh = n - nJunk - nExact - nNear - nIntra
    val docs = mutable.ArrayBuffer[(String, Planted.Value)]()
    val fresh = (0 until nFresh).map(_ => text())
    fresh.foreach(t => docs += ((t, Planted.Fresh)))
    (0 until nExact).foreach(_ => docs += ((indexed(rng.recent(indexed.size, 1.5)), Planted.Exact)))
    var near = 0
    while (near < nNear) nearOf(indexed(rng.int(indexed.size))).foreach { t =>
      docs += ((t, Planted.Near)); near += 1
    }
    (0 until nJunk).foreach(_ => docs += ((s"buy now !!! $$$$$$ ${rng.int(1000000)} !!!", Planted.Junk)))
    // clones of this day's fresh documents come last, so they carry the
    // larger ids and the original is the one exact dedup keeps
    (0 until nIntra).foreach(_ => docs += ((fresh(rng.int(fresh.size)), Planted.Exact)))
    indexed ++= fresh
    val out = docs.zipWithIndex.map { case ((t, cls), i) =>
      val id = f"d$d%04d_$i%04d"
      Doc(id, t, cls, payload(id, t, epoch))
    }.toIndexedSeq
    out.foreach(x => digest.add(x.payload))
    DayInput(d, date.toString, out)
  }
  corpus.foreach { case (id, t) => digest.add(id + t) }
}

object CurateGen {
  def jaccard3(a: String, b: String): Double = {
    def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  val PayloadSchema: StructType = StructType.fromDDL(
    "id STRING, meta STRUCT<created: STRING, source: STRUCT<name: STRING, region: STRING>, " +
      "author_email: STRING, phone: STRING>, body STRUCT<text: STRING, lang: STRING>, " +
      "stats STRUCT<views: STRING, score: STRING>, debug STRUCT<trace: STRING>, x_unknown STRING")
  val LeafFields = 12
}

/** curate_batch: closed loop, one client. One operation = one day:
  * DateRange windows, the record ops over the raw payloads (landed as
  * parquet), TextAnalysis quality filter, Dedup.exactDedup, probe of the
  * MinHash index built in set-up, append of the accepted rows, and the
  * compaction policy. Touches no LogTable.
  */
final class CurateBatch(c: Ctx) extends Workload(c) {
  import CurateBatch._

  private var dir: String = _
  private var idx: String = _
  private var gen: CurateGen = _
  private val processed = mutable.ArrayBuffer[Int]()
  private val filesPerBucket = mutable.ArrayBuffer[Double]()
  private val windows = mutable.ArrayBuffer[Int]()
  private var inputBytesDone = 0L
  private var expr: Map[String, Double] = Map.empty
  private var funnel: Map[String, Double] = Map.empty
  private val trace = ctx.trace

  private def corpusRoot = s"$dir/corpus"
  private def landedDir(d: Int) = f"$dir/landed/d$d%04d"
  private def acceptedDir(d: Int) = f"$corpusRoot/part=d$d%04d"

  def setup(d: String): Unit = {
    dir = d
    idx = s"cb${Counter.next()}_idx"
    gen = new CurateGen(ctx.seed, CorpusDocs, DocsPerDay, MaxDays)
    val corpus = spark.createDataFrame(gen.corpus.map { case (i, t) => Row(i, t) }.asJava,
      StructType.fromDDL("id STRING, body__text STRING"))
    corpus.write.parquet(s"$corpusRoot/part=base")
    inputBytesDone = gen.corpus.map(_._2.length.toLong).sum
    Dedup.buildMinhashIndex(spark.read.parquet(s"$corpusRoot/part=base"), "id", "body__text",
      idx, numBuckets = Buckets)
  }

  def warmUp(): Unit = day(0, traced = false)

  private def rawDay(d: DayInput): DataFrame =
    spark.createDataFrame(d.docs.map(x => Row(x.payload)).asJava, StructType.fromDDL("payload STRING"))

  /** The record-op chain (lazy: this is schema recursion and analysis). */
  private def shape(raw: DataFrame): DataFrame = {
    val parsed = raw.select(from_json(col("payload"), CurateGen.PayloadSchema).as("r")).select("r.*")
    Seq[DataFrame => DataFrame](
      Flatten().apply,
      ConvertTypes(Map("stats__views" -> ConvertType.ToInt, "stats__score" -> ConvertType.ToFloat)).apply,
      NormalizeDateFields(Seq(DateFieldRule(suffix = Seq("__created"),
        convert = ConvertType.TsToIsoDate, target = "date"))).apply,
      CleanColumns(Seq("meta__author_email", "meta__phone"), CleanColumns.Hash).apply,
      MoveUnknown(Seq("id", "date_meta", "meta__source__name", "meta__source__region",
        "meta__author_email", "meta__phone", "body__text", "body__lang", "stats__views",
        "stats__score")).apply,
      JsonStringify(Some(Seq("extra_collected"))).apply,
      Prune.byNames(keysToRemove = Seq("body__lang")).apply
    ).foldLeft(parsed)((df, op) => op(df))
  }

  /** One day through the pipeline. The probe (index read) is the day's
    * read sample, the append (index write) its write sample, and every
    * input row's freshness runs from the day's start to the append.
    */
  private def day(d: Int, traced: Boolean): Unit = {
    val in = gen.dayInputs(d)
    val t0 = System.nanoTime()
    windows += trace.span("dates") {
      val w = DateRange.of(in.iso, in.iso).split(1)
      w.map(x => DateKernel.generateDateArray(x.dateStart, x.dateEnd).size).sum
    }
    val shaped = trace.span("ops.plan")(shape(rawDay(in)))
    trace.span("ops.exec")(shaped.write.parquet(landedDir(d)))
    val landed = spark.read.parquet(landedDir(d))
    val text = col("body__text")
    val q = trace.span("scale.quality") {
      val f = landed.filter(TextAnalysis.qualityMicro(text, Dedup.words(text)) >= QualityMin)
        .persist(StorageLevel.MEMORY_ONLY)
      f.count(); f
    }
    val ex = trace.span("scale.exact") {
      val e = Dedup.exactDedup(q, Dedup.contentKey(text), col("id"))
        .drop("content_key", "group_size").persist(StorageLevel.MEMORY_ONLY)
      e.count(); e
    }
    val tp = System.nanoTime()
    val accepted = trace.span("scale.probe") {
      Dedup.probeMinhashIndex(spark.read.parquet(corpusRoot), ex, "id", "body__text", idx)
        .select("id", "body__text").write.parquet(acceptedDir(d))
      spark.read.parquet(acceptedDir(d))
    }
    val ta = System.nanoTime()
    trace.span("scale.append") {
      Dedup.appendToMinhashIndex(accepted, "id", "body__text", idx, numBuckets = Buckets)
    }
    val tc = System.nanoTime()
    trace.span("scale.compact")(Dedup.compactMinhashIndexIfNeeded(spark, idx, numBuckets = Buckets))
    q.unpersist(); ex.unpersist()
    samples.add("read", Clock.ms(tp, ta))
    samples.add("write", Clock.ms(ta, tc))
    samples.add("fresh", Clock.ms(t0, tc), in.docs.size.toLong)
    processed += d
    inputBytesDone += in.docs.map(_.payload.length.toLong).sum
  }

  def run(seconds: Double, traced: Long => Boolean): RunStats = {
    val t0 = System.nanoTime()
    var d = 1
    var failed = 0
    var rows = 0L
    while (Clock.ms(t0) < seconds * 1000 && d < MaxDays) {
      val tr = traced(d.toLong)
      val ok = timedOp(d.toLong, tr)(day(d, tr)).isDefined
      if (ok) rows += gen.dayInputs(d).docs.size else failed += 1
      if (tr) filesPerBucket += indexFiles("buckets").toDouble / Buckets
      d += 1
    }
    val secs = Clock.ms(t0) / 1000
    if (tracedOps.nonEmpty) { expr = kernelTimes(); funnel = probeFunnel() }
    RunStats(d - 1, failed, rows, secs)
  }

  private def indexFiles(table: String): Int =
    Fs.count(s"${ctx.warehouse}/${idx}_$table", Fs.isData)

  // ------------------------------------------------------------- checks

  /** Planted-class check of one day's accepted ids. */
  def checkDay(in: DayInput, accepted: Set[String]): Seq[String] = {
    val byId = in.docs.map(x => x.id -> x.cls).toMap
    val bad = mutable.ArrayBuffer[String]()
    in.docs.foreach { x =>
      if (x.cls == Planted.Fresh && !accepted.contains(x.id)) bad += s"fresh ${x.id} dropped"
      if ((x.cls == Planted.Exact || x.cls == Planted.Junk) && accepted.contains(x.id))
        bad += s"${x.cls} ${x.id} kept"
    }
    accepted.filterNot(byId.contains).foreach(i => bad += s"unknown id $i accepted")
    bad.toSeq
  }

  /** Near-duplicate recall over all processed days. */
  def checkRecall(days: Seq[DayInput], accepted: Set[String]): Option[String] = {
    val near = days.flatMap(_.docs).filter(_.cls == Planted.Near)
    val dropped = near.count(x => !accepted.contains(x.id))
    val recall = if (near.isEmpty) 1.0 else dropped.toDouble / near.size
    if (recall < NearRecallMin) Some(f"near-duplicate recall $recall%.3f < $NearRecallMin") else None
  }

  /** The shaped columns recomputed with plain Spark from the raw JSON. */
  private def plainShape(raw: DataFrame): DataFrame = {
    def j(p: String) = get_json_object(col("payload"), p)
    val trace = j("$.debug.trace")
    val unknown = j("$.x_unknown")
    raw.select(
      j("$.body.text").as("body__text"),
      from_unixtime(j("$.meta.created").cast("long"), "yyyy-MM-dd").as("date_meta"),
      concat(lit("{"), concat_ws(",",
        when(trace.isNotNull, concat(lit("\"debug__trace\":\""), trace, lit("\""))),
        when(unknown.isNotNull, concat(lit("\"x_unknown\":\""), unknown, lit("\"")))), lit("}"))
        .as("extra_collected"),
      j("$.id").as("id"),
      sha2(j("$.meta.author_email").cast("binary"), 256).as("meta__author_email"),
      sha2(j("$.meta.phone").cast("binary"), 256).as("meta__phone"),
      j("$.meta.source.name").as("meta__source__name"),
      j("$.meta.source.region").as("meta__source__region"),
      j("$.stats.score").cast("double").as("stats__score"),
      j("$.stats.views").cast("long").as("stats__views"))
  }

  /** The landed rows against the plain-Spark recomputation, as multisets. */
  def compareRows(got: Seq[Row], want: Seq[Row]): Option[String] = {
    def bag(rs: Seq[Row]) = rs.groupBy(identity).map { case (r, xs) => r -> xs.size }
    val (g, w) = (bag(got), bag(want))
    val bad = (g.keySet ++ w.keySet).count(r => g.get(r) != w.get(r))
    if (bad > 0) Some(s"$bad shaped rows differ from the plain-Spark recomputation") else None
  }

  private def shapedRows(days: Seq[Int]): (Seq[Row], Seq[Row]) = {
    val want = plainShape(allRaw(days))
    val got = spark.read.parquet(days.map(landedDir): _*)
    if (got.columns.toSeq != want.columns.toSeq)
      (Seq(Row(got.columns.mkString(","))), Seq(Row(want.columns.mkString(","))))
    else (got.select(want.columns.toSeq.map(col): _*).collect().toSeq, want.collect().toSeq)
  }

  private def allRaw(days: Seq[Int]): DataFrame =
    spark.createDataFrame(days.flatMap(d => gen.dayInputs(d).docs.map(x => Row(x.payload))).asJava,
      StructType.fromDDL("payload STRING"))

  /** Accepted ids per processed day, read back from the corpus store. */
  private lazy val acceptedIds: Map[Int, Set[String]] = {
    val got = spark.read.parquet(corpusRoot).filter(col("part") =!= "base").select("part", "id")
      .collect().groupBy(_.getString(0)).map { case (p, rs) => p.drop(1).toInt -> rs.map(_.getString(1)).toSet }
    processed.map(d => d -> got.getOrElse(d, Set.empty[String])).toMap
  }

  def check(): Seq[(Option[Long], String)] = {
    val acc = acceptedIds
    val perDay = processed.toSeq.flatMap(d =>
      checkDay(gen.dayInputs(d), acc(d)).take(3).map(m => (Some(d.toLong), s"day $d: $m")))
    val recall = checkRecall(processed.toSeq.map(gen.dayInputs), acc.values.flatten.toSet)
      .map(m => (None, m))
    val (got, want) = shapedRows(processed.toSeq)
    perDay ++ recall ++ compareRows(got, want).map(m => (None, m))
  }

  def selfTest(): Seq[String] = {
    val d = processed.last
    val in = gen.dayInputs(d)
    val acc = acceptedIds(d)
    val bad = mutable.ArrayBuffer[String]()
    val exact = in.docs.find(_.cls == Planted.Exact).get.id
    val fresh = in.docs.find(_.cls == Planted.Fresh).get.id
    if (checkDay(in, acc + exact).isEmpty) bad += "day check kept an exact duplicate"
    if (checkDay(in, acc - fresh).isEmpty) bad += "day check dropped a fresh document"
    val allNear = in.docs.filter(_.cls == Planted.Near).map(_.id).toSet
    if (checkRecall(Seq(in), acc ++ allNear).isEmpty) bad += "recall check with every near duplicate kept"
    val (got, want) = shapedRows(Seq(d))
    val views = want.head.fieldIndex("stats__views")
    val wrong = Row.fromSeq(want.head.toSeq.updated(views, want.head.getLong(views) + 1)) +: want.tail
    if (compareRows(got, wrong).isEmpty) bad += "shaped-column check"
    bad.toSeq
  }

  // --------------------------------------------------------- traced extras

  /** The two kernels alone: ns per row of MinHashShingles and of the
    * quality score, over the landed texts repeated to ~50k rows.
    */
  private def kernelTimes(): Map[String, Double] = {
    val texts = spark.read.parquet(processed.map(landedDir).toSeq: _*).select(col("body__text").as("t"))
    val reps = math.max(1, 50000 / math.max(1L, texts.count()).toInt)
    val base = texts.crossJoin(spark.range(reps).toDF("r")).select("t")
      .persist(StorageLevel.MEMORY_ONLY)
    val n = base.count()
    def nsPerRow(c: Column): Double = Stat.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      base.select(c.as("k")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble / n
    })
    val t = col("t")
    val out = Map(
      "expr.minhash_ns_per_row" -> nsPerRow(graft.expr.MinHashShingles(Dedup.words(t), 3, 48)),
      "expr.quality_ns_per_row" -> nsPerRow(TextAnalysis.qualityMicro(t, Dedup.words(t))))
    base.unpersist()
    out
  }

  /** Probe funnel of the traced days, recomputed after the run from the
    * stored inputs: band-bucket candidate pairs against what was indexed
    * before each day, and how many of the day's docs the probe dropped as
    * near duplicates.
    */
  private def probeFunnel(): Map[String, Double] = {
    val days = tracedOps.map(_.toInt).toSeq
    val text = col("body__text")
    def dayOf(p: Column) = when(p === "base", lit(-1)).otherwise(substring(p, 2, 4).cast("int"))
    val indexed = spark.read.parquet(corpusRoot).select(col("id"), text, dayOf(col("part")).as("since"))
    val batches = days.map { d =>
      val q = spark.read.parquet(landedDir(d))
        .filter(TextAnalysis.qualityMicro(text, Dedup.words(text)) >= QualityMin)
      Dedup.exactDedup(q, Dedup.contentKey(text), col("id")).select(lit(d).as("d"), col("id"), text)
    }.reduce(_ unionByName _)
    val freshB = batches.withColumn("ck", Dedup.contentKey(text)).as("b")
      .join(indexed.withColumn("ck", Dedup.contentKey(text)).as("i"),
        col("b.ck") === col("i.ck") && col("i.since") < col("b.d"), "left_anti")
      .select("d", "id", "body__text").persist(StorageLevel.MEMORY_ONLY)
    def bands(df: DataFrame) = df.select(col("*"),
      explode(Dedup.bandBuckets(graft.expr.MinHashShingles(Dedup.words(text), 3, 48), 6, 8)).as("bb"))
      .select(df.columns.filter(_ != "body__text").map(col) ++
        Seq(col("bb.band").as("bband"), col("bb.bucket").as("bhash")): _*)
    val cand = bands(freshB).as("x").join(bands(indexed).as("y"),
        col("x.bband") === col("y.bband") && col("x.bhash") === col("y.bhash") && col("y.since") < col("x.d"))
      .select(col("x.d"), col("x.id"), col("y.id")).distinct().count()
    val freshN = freshB.count()
    val acceptedN = days.map(d => spark.read.parquet(acceptedDir(d)).count()).sum
    freshB.unpersist()
    val near = (freshN - acceptedN).toDouble
    Map("scale.candidates" -> cand.toDouble / days.size, "scale.near_dropped" -> near / days.size,
      "scale.candidate_yield" -> (if (cand > 0) near / cand else 0.0))
  }

  def layerMetrics(): Map[String, Double] = Map(
    "ops.plan_ms" -> meanMs("ops.plan"), "ops.exec_ms" -> meanMs("ops.exec"),
    "ops.task_cpu_ms" -> cpuMs("ops.exec"), "ops.driver_gap_ms" -> driverGapMs("ops.exec"),
    "ops.jobs" -> jobsPerCall("ops.exec"),
    "dates.ms" -> meanMs("dates"), "dates.windows" -> Stat.mean(windows.map(_.toDouble).toSeq),
    "scale.quality_ms" -> meanMs("scale.quality"), "scale.exact_ms" -> meanMs("scale.exact"),
    "scale.probe_ms" -> meanMs("scale.probe"), "scale.append_ms" -> meanMs("scale.append"),
    "scale.compact_ms" -> meanMs("scale.compact"),
    "sources.index.files_per_bucket" -> Stat.mean(filesPerBucket.toSeq)) ++ expr ++ funnel

  def tailPercentile(series: String): Double = if (series == "fresh") 95.0 else 50.0

  def inputProps: Map[String, Any] = {
    val docs = processed.toSeq.flatMap(d => gen.dayInputs(d).docs)
    def share(c: Planted.Value) = docs.count(_.cls == c).toDouble / math.max(1, docs.size)
    Map("corpus_docs" -> CorpusDocs, "docs_per_day" -> DocsPerDay, "days_processed" -> processed.size,
      "rows" -> docs.size, "bytes" -> docs.map(_.payload.length.toLong).sum,
      "leaf_fields" -> CurateGen.LeafFields, "exact_dup_share" -> share(Planted.Exact),
      "near_dup_share" -> share(Planted.Near), "junk_share" -> share(Planted.Junk),
      "fresh_share" -> share(Planted.Fresh), "key_skew" -> "exact duplicates favour recent documents (u^1.5)",
      "feed_rate" -> "closed loop, 1 client", "input_checksum" -> gen.digest.hex)
  }

  def storedBytes: Long = {
    val wh = ctx.warehouse
    Fs.bytes(s"$dir/landed", Fs.isData) + Fs.bytes(corpusRoot, Fs.isData) +
      Seq("keys", "sigs", "buckets").map(t => Fs.bytes(s"$wh/${idx}_$t", Fs.isData)).sum
  }

  def inputBytes: Long = inputBytesDone

  override def dispose(): Unit = {
    Seq("keys", "sigs", "buckets").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${idx}_$t"))
    Fs.rm(new File(dir))
  }
}

object CurateBatch {
  val CorpusDocs = 800
  val DocsPerDay = 60
  val MaxDays = 160
  val Buckets = 4
  val QualityMin = 500000L
  val NearRecallMin = 0.95
}

object Counter {
  private val n = new java.util.concurrent.atomic.AtomicInteger(0)
  def next(): Int = n.getAndIncrement()
}
