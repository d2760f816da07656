package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.api._
import graft.sources.MaterializedView
import graft.sources.MaterializedView.{MvCount, MvMax, MvMin, MvSum}

/** One change row of the feed. `op` is "U" (insert or update) or "D". */
final case class Change(k: Long, grp: Int, amt: Long, seq: Long, op: String)

/** Seeded inputs of stream_ingest: the base table's initial keys and the
  * feed files, [[StreamGen.RowsPerFile]] changes each (70% updates of live
  * keys, 15% inserts of new keys, 15% deletes), no key twice in a file.
  */
final class StreamGen(seed: Long) {
  import StreamGen._
  private val rng = new Rng(seed * 15485863L + 5L)
  val digest = new InputDigest
  private val live = mutable.ArrayBuffer[Long]()
  private val pos = mutable.HashMap[Long, Int]()
  private var nextKey = 0L
  private var seq = 0L

  private def add(k: Long): Unit = { pos(k) = live.size; live += k }
  private def remove(k: Long): Unit = {
    val i = pos.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; pos(last) = i }
  }
  private def grpOf(k: Long): Int = (k % Groups).toInt

  val initial: Seq[Change] = (0 until InitialKeys).map { _ =>
    val k = nextKey; nextKey += 1; add(k)
    Change(k, grpOf(k), rng.long(10000L), 0L, "U")
  }

  val files: IndexedSeq[Seq[Change]] = (0 until MaxFiles).map { _ =>
    val used = mutable.HashSet[Long]()
    (0 until RowsPerFile).map { _ =>
      seq += 1
      val r = rng.unit()
      if (r < 0.15 || live.size < 100) {
        val k = nextKey; nextKey += 1; add(k); used += k
        Change(k, grpOf(k), rng.long(10000L), seq, "U")
      } else {
        var k = live(rng.int(live.size))
        while (used.contains(k)) k = live(rng.int(live.size))
        used += k
        if (r < 0.30) { remove(k); Change(k, grpOf(k), 0L, seq, "D") }
        else Change(k, grpOf(k), rng.long(10000L), seq, "U")
      }
    }
  }
  initial.foreach(c => digest.add(c.toString))
  files.foreach(_.foreach(c => digest.add(c.toString)))
}

object StreamGen {
  val InitialKeys = 2000
  val Groups = 16
  val RowsPerFile = 40
  val MaxFiles = 1200
  val PeriodMs = 100L
  /** The first micro-batches run the code paths cold (JIT, first reads of
    * the view); these are folded before the timed phase.
    */
  val WarmUpFiles = 2
  val FeedSchema: StructType = StructType.fromDDL(
    "k BIGINT, pk INT, grp INT, amt BIGINT, seq BIGINT, op STRING, created_ms BIGINT")
  val Parquet = MessageTypeParser.parseMessageType(
    "message feed { required int64 k; required int32 pk; required int32 grp; required int64 amt; " +
      "required int64 seq; required binary op (UTF8); required int64 created_ms; }")
}

/** stream_ingest: an OPEN loop. A generator thread drops one small parquet
  * feed file every [[StreamGen.PeriodMs]] ms; a file-source stream folds
  * each micro-batch into the base log table (`LogTable.upsert`) and then
  * refreshes its materialized view (count, sum, min, max per group; deletes
  * force min/max recomputes) and reads the view back. Each row's freshness
  * runs from when its file was DUE until the refresh that folds it in
  * returns, so a stall is charged to every row that waited behind it.
  */
final class StreamIngest(c: Ctx) extends Workload(c) {
  import StreamGen._

  private var dir: String = _
  private var base: String = _
  private var mv: String = _
  private var gen: StreamGen = _
  private var query: StreamingQuery = _
  @volatile private var traced: Long => Boolean = _ => false
  @volatile private var timing = false
  @volatile private var t0Ns = 0L
  @volatile private var filesWritten = 0
  /** Timed batches: id -> (files written when it started, refresh return ns, ok). */
  private val batches = new ConcurrentHashMap[Long, (Int, Long, Boolean)]()
  /** Summed duration of the timed batches' folds: the time the stream was
    * busy, which rows_per_s divides by. At HEAD the stream keeps up with
    * the feed and is busy nearly all the time, so rows_per_s sits near the
    * feed rate and drops only as the engine nears saturation; op_p50_ms
    * and fresh_p50_ms carry the per-commit cost.
    */
  @volatile private var busyNs = 0L
  private val genLagMs = mutable.ArrayBuffer[Double]()
  private var feedBytes = 0L
  private val trace = ctx.trace

  private def feedDir = s"$dir/feed"
  private def fileName(i: Int) = f"f$i%06d.parquet"
  private def fileIndex(path: String): Int = new File(new java.net.URI(path).getPath).getName.drop(1).take(6).toInt

  /** Which micro-batch consumed each feed file, from the file source's own
    * log in the query checkpoint (one entry per file and batch; compacted
    * files repeat earlier entries, hence the distinct).
    */
  private def sourceLog(): Seq[(Int, Long)] = {
    val entry = """\{"path":"([^"]+)".*"batchId":(\d+)\}""".r
    Option(new File(s"$dir/checkpoint/sources/0").listFiles()).toSeq.flatten
      .filter(f => !f.getName.startsWith(".")).flatMap { f =>
        scala.io.Source.fromFile(f).getLines().toList.flatMap(l =>
          entry.findFirstMatchIn(l).map(m => (fileIndex(m.group(1)), m.group(2).toLong)))
      }.distinct
  }

  /** Timed file `i` (numbered after the warm-up files) is due one period
    * per file after the timed phase starts.
    */
  private def dueMs(i: Int): Long = (i - WarmUpFiles + 1) * PeriodMs
  private def dueNs(i: Int): Long = t0Ns + dueMs(i) * 1000000L

  private def baseDf(rows: Seq[Change], createdMs: Long): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r.k, (r.k % 4).toInt, r.grp, r.amt, r.seq, r.op, createdMs)).asJava,
      FeedSchema)

  /** Write feed file `i` without Spark, then move it into the feed dir. */
  private def writeFile(i: Int, createdMs: Long): Unit = {
    val tmp = new File(s"$dir/feed_tmp/${fileName(i)}")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(tmp.toURI))
      .withConf(new Configuration()).withType(Parquet).build()
    val f = new SimpleGroupFactory(Parquet)
    try gen.files(i).foreach { r =>
      w.write(f.newGroup().append("k", r.k).append("pk", (r.k % 4).toInt).append("grp", r.grp)
        .append("amt", r.amt).append("seq", r.seq).append("op", r.op).append("created_ms", createdMs))
    } finally w.close()
    feedBytes += tmp.length
    Files.move(tmp.toPath, new File(s"$feedDir/${fileName(i)}").toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def setup(d: String): Unit = {
    dir = d
    base = s"$d/base"
    mv = s"$d/mv"
    gen = new StreamGen(ctx.seed)
    new File(feedDir).mkdirs(); new File(s"$d/feed_tmp").mkdirs()
    LogTable.create(spark, base, baseDf(gen.initial, 0L), Seq("pk"), statsCols = Seq("k"))
    MaterializedView.define(spark, mv, base, Seq("grp"),
      Seq(MvCount("n"), MvSum("total", "amt"), MvMin("lo", "amt"), MvMax("hi", "amt")), nBuckets = 4)
    MaterializedView.refresh(spark, mv)
    val app = s"graftbench-${Counter.next()}"
    query = spark.readStream.schema(FeedSchema).parquet(feedDir)
      .writeStream.option("checkpointLocation", s"$d/checkpoint")
      .foreachBatch((batch: DataFrame, id: Long) => fold(batch, id, app))
      .start()
  }

  /** One micro-batch: upsert, MV refresh, MV read. */
  private def fold(batch: DataFrame, id: Long, app: String): Unit = {
    if (!timing) {
      LogTable.upsert(spark, base, batch, Seq("k"), Seq("seq"), "op", txn = Some((app, id)))
      MaterializedView.refresh(spark, mv)
      MaterializedView.read(spark, mv).collect()
      return
    }
    val written = filesWritten
    var refreshedNs = 0L
    val t0 = System.nanoTime()
    val ok = timedOp(id, traced(id)) {
      trace.span("sources.logtable.upsert") {
        LogTable.upsert(spark, base, batch, Seq("k"), Seq("seq"), "op", txn = Some((app, id)))
      }
      val tu = System.nanoTime()
      samples.add("write", Clock.ms(t0, tu))
      trace.span("sources.mv.refresh")(MaterializedView.refresh(spark, mv))
      refreshedNs = System.nanoTime()
      trace.span("sources.mv.read")(MaterializedView.read(spark, mv).collect())
      samples.add("read", Clock.ms(refreshedNs))
    }.isDefined
    busyNs += System.nanoTime() - t0
    batches.put(id, (written, refreshedNs, ok))
  }

  /** [[WarmUpFiles]] untimed micro-batches, one file each. */
  def warmUp(): Unit = (0 until WarmUpFiles).foreach { i =>
    writeFile(i, System.currentTimeMillis())
    filesWritten = i + 1
    query.processAllAvailable()
  }

  def run(seconds: Double, tr: Long => Boolean): RunStats = {
    traced = tr
    timing = true
    t0Ns = System.nanoTime()
    val wallT0 = System.currentTimeMillis()
    val genThread = new Thread(() => {
      var i = WarmUpFiles
      while (Clock.ms(t0Ns) < seconds * 1000 && i < MaxFiles) {
        val wait = (dueNs(i) - System.nanoTime()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        writeFile(i, wallT0 + dueMs(i))
        genLagMs += Clock.ms(dueNs(i))
        filesWritten = i + 1
        i += 1
      }
    }, "graftbench-feed")
    genThread.start()
    genThread.join()
    val drained = scala.util.Try(query.processAllAvailable())
    timing = false
    query.stop()
    drained.failed.foreach(e => System.err.println(s"graftbench: stream failed: $e"))
    // each row's freshness: from its file's due time to the return of the
    // refresh of the batch that consumed the file
    sourceLog().foreach { case (file, id) =>
      Option(batches.get(id)).foreach { case (_, refreshedNs, ok) =>
        if (ok) samples.add("fresh", Clock.ms(dueNs(file), refreshedNs), RowsPerFile.toLong)
      }
    }
    val failed = batches.values.asScala.count(!_._3) + (if (drained.isFailure) 1 else 0)
    RunStats(math.max(1, batches.size), failed, (filesWritten - WarmUpFiles).toLong * RowsPerFile, busyNs / 1e9)
  }

  // ------------------------------------------------------------- checks

  /** The base table must equal the fold of the initial rows and every
    * written file, in sequence order.
    */
  def expectedBase(files: Int): Map[Long, Change] = {
    val m = mutable.HashMap[Long, Change]() ++= gen.initial.map(c => c.k -> c)
    (0 until files).foreach(i => gen.files(i).foreach(c => if (c.op == "D") m -= c.k else m(c.k) = c))
    m.toMap
  }

  def checkBase(got: Seq[Change], want: Map[Long, Change]): Option[String] = {
    val g = got.map(c => c.k -> c).toMap
    if (g.size != got.size) Some("duplicate keys in the base table")
    else if (g != want) Some(s"base differs on ${(g.keySet ++ want.keySet).count(k => g.get(k) != want.get(k))} keys")
    else None
  }

  /** Every written file folded in exactly one micro-batch. */
  def checkOnce(batches: Seq[Seq[Int]], files: Int): Option[String] = {
    val all = batches.flatten
    if (all.sorted != (0 until files)) Some(s"${all.size} file folds for $files files (${all.diff(0 until files).take(3)} extra)")
    else None
  }

  def checkMv(got: Set[Row], want: Set[Row]): Option[String] =
    if (got != want) Some(s"view differs from a recompute on ${(got diff want).size + (want diff got).size} rows")
    else None

  private def baseRows(): Seq[Change] =
    LogTable.read(spark, base).select("k", "grp", "amt", "seq", "op").collect().toSeq
      .map(r => Change(r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4)))

  private def mvRows(): Set[Row] =
    MaterializedView.read(spark, mv).select("grp", "n", "total", "lo", "hi").collect().toSet

  private def recompute(): Set[Row] =
    LogTable.read(spark, base).groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("amt").as("total"), min("amt").as("lo"), max("amt").as("hi"))
      .collect().toSet

  def check(): Seq[(Option[Long], String)] =
    (checkBase(baseRows(), expectedBase(filesWritten)) ++
      checkOnce(sourceLog().groupBy(_._2).values.map(_.map(_._1)).toSeq, filesWritten) ++
      checkMv(mvRows(), recompute())).map(m => (None, m)).toSeq

  def selfTest(): Seq[String] = {
    val bad = mutable.ArrayBuffer[String]()
    val rows = baseRows()
    if (checkBase(rows.updated(0, rows.head.copy(amt = rows.head.amt + 1)), expectedBase(filesWritten)).isEmpty)
      bad += "base check"
    if (checkOnce(sourceLog().groupBy(_._2).values.map(_.map(_._1)).toSeq :+ Seq(filesWritten - 1),
        filesWritten).isEmpty)
      bad += "exactly-once check"
    val want = recompute()
    val wrong = want.map(r => if (r.getInt(0) == 0) Row(0, r.getLong(1), r.getLong(2) + 1, r.get(3), r.get(4)) else r)
    if (checkMv(wrong, want).isEmpty) bad += "view check"
    bad.toSeq
  }

  // --------------------------------------------------------- traced extras

  def layerMetrics(): Map[String, Double] = {
    val ids = tracedOps.toSet
    val prog = if (ctx.progress == null) Nil
      else ctx.progress.batches.asScala.toSeq.filter { case (id, _) => ids.contains(id) }.map(_._2._2)
    def dur(k: String) = Stat.mean(prog.map(_.getOrElse(k, 0L).toDouble))
    Map(
      "sources.logtable.upsert_ms" -> meanMs("sources.logtable.upsert"),
      "sources.mv.refresh_ms" -> meanMs("sources.mv.refresh"),
      "sources.mv.jobs_per_refresh" -> jobsPerCall("sources.mv.refresh"),
      "sources.logtable.log_bytes" -> Fs.bytes(s"$base/_graft_log").toDouble,
      "sources.logtable.live_bytes" -> LogTable.snapshot(spark, base).files.map(_.bytes).sum.toDouble,
      "stream.trigger_ms" -> dur("triggerExecution"), "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"), "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.planning_ms" -> dur("queryPlanning"),
      "stream.batches" -> batches.size.toDouble,
      "stream.rows_per_batch" -> (filesWritten - WarmUpFiles).toDouble * RowsPerFile / math.max(1, batches.size),
      "stream.backlog_files_max" -> backlogMax.toDouble,
      "bench.gen_lag_ms" -> (if (genLagMs.isEmpty) 0.0 else genLagMs.max))
  }

  /** Most files due but not yet consumed when a timed batch started. */
  private def backlogMax: Int = {
    val consumedBy = sourceLog().groupBy(_._2).map { case (id, fs) => id -> fs.size }
    val ids = batches.keySet.asScala.toSeq.sorted
    ids.map { id =>
      batches.get(id)._1 - consumedBy.filter(_._1 < id).values.sum
    }.maxOption.getOrElse(0)
  }

  /** A 10 s run has five to seven micro-batches: too few for any tail, so op,
    * write and read report their medians. fresh rows come 40 to a file and
    * a batch's files share one refresh, so the top percent of rows is two
    * or three files of one batch; p90 spans a few batches.
    */
  def tailPercentile(series: String): Double = if (series == "fresh") 90.0 else 50.0

  def inputProps: Map[String, Any] = Map(
    "initial_keys" -> InitialKeys, "groups" -> Groups, "rows_per_file" -> RowsPerFile,
    "files" -> filesWritten, "rows" -> filesWritten * RowsPerFile, "bytes" -> feedBytes,
    "leaf_fields" -> FeedSchema.size, "op_mix" -> "70% update, 15% insert, 15% delete",
    "key_skew" -> "uniform over live keys",
    "feed_rate" -> s"open loop, one file every $PeriodMs ms (${RowsPerFile * 1000 / PeriodMs} rows/s)",
    "input_checksum" -> gen.digest.hex)

  def storedBytes: Long = Seq(base, mv).map(p => Fs.bytes(s"$p/_graft_log") +
    LogTable.snapshot(spark, p).files.map(_.bytes).sum).sum

  def inputBytes: Long = feedBytes

  override def dispose(): Unit = {
    if (query != null && query.isActive) query.stop()
    Fs.rm(new File(dir))
  }
}
