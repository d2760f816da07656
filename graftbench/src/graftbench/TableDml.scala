package graftbench

import java.io.File

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api._

/** One row of the log table: key, partition, value, order version, tag, op. */
final case class TRow(k: Long, p: Int, v: Long, ver: Long, tag: String, op: String) {
  def toRow: Row = Row(k, p, v, ver, tag, op)
}

/** One generated table operation. Parameters are fixed at generation;
  * time-travel targets are given as a distance back from the latest
  * version at the time the read runs.
  */
sealed trait DmlOp { def kind: String }
object DmlOp {
  final case class Append(rows: Seq[TRow]) extends DmlOp { val kind = "append" }
  final case class Upsert(rows: Seq[TRow]) extends DmlOp { val kind = "upsert" }
  final case class Update(lo: Long, hi: Long, seq: Long) extends DmlOp { val kind = "update" }
  final case class Delete(lo: Long, hi: Long, dv: Boolean) extends DmlOp {
    val kind: String = if (dv) "dv_delete" else "delete"
  }
  final case class Merge(rows: Seq[TRow]) extends DmlOp { val kind = "merge" }
  final case class Point(k: Long) extends DmlOp { val kind = "point" }
  final case class PartRange(p: Int) extends DmlOp { val kind = "part_range" }
  final case class ValueRange(lo: Long, hi: Long) extends DmlOp { val kind = "value_range" }
  final case class TimeTravel(back: Int) extends DmlOp { val kind = "time_travel" }
  final case class Snap(back: Int) extends DmlOp {
    val kind: String = if (back == 0) "snapshot" else "snapshot_old"
  }
  final case class Changes(back: Int) extends DmlOp { val kind = "changes" }
  final case class Count(pFrom: Int) extends DmlOp { val kind = "count" }
  final case class Maintain(what: String) extends DmlOp { val kind: String = what }

  val Writes = Set("append", "upsert", "update", "delete", "dv_delete", "merge")
  val Maintenance = Set("checkpoint", "optimize", "vacuum")
}

/** Seeded inputs of table_dml: the initial rows, the history commits set-up
  * makes, and the op log. Keys touched by updates and deletes are skewed
  * toward recent ones.
  */
final class TableDmlGen(seed: Long) {
  import TableDmlGen._
  private val rng = new Rng(seed * 104729L + 3L)
  val digest = new InputDigest
  private var nextKey = 0L
  private var seq = 1000000L

  private def newRow(): TRow = {
    val k = nextKey; nextKey += 1
    TRow(k, (k / KeysPerPartition).toInt, rng.long(1000000L), 0L, s"t${rng.int(8)}", "U")
  }
  private def recentKey(): Long = nextKey - 1 - (math.pow(rng.unit(), 3) * nextKey).toLong
  private def recentKeys(n: Int): Seq[Long] = {
    val s = mutable.LinkedHashSet[Long]()
    while (s.size < n) s += math.max(0L, recentKey())
    s.toSeq
  }
  private def nextSeq(): Long = { seq += 1; seq }

  val initial: Seq[TRow] = Seq.fill(InitialRows)(newRow())
  /** Set-up history: every [[HistoryDataEvery]]-th commit appends rows, the
    * others commit a watermark property (the ETL loop's own bookkeeping),
    * so reads more than 64 versions back exist from the first timed op.
    */
  val history: Seq[Seq[TRow]] = (0 until HistoryCommits).map(i =>
    if (i % HistoryDataEvery == 0) Seq.fill(40)(newRow()) else Nil)

  /** Op `i`: its kind comes from the fixed [[TableDmlGen.Cycle]] (so every
    * run, whatever its seed, does the same mix), its keys, values and
    * distances from the seed.
    */
  private def one(i: Int): DmlOp = {
    def changed(k: Long, s: Long, op: String) =
      TRow(k, (k / KeysPerPartition).toInt, rng.long(1000000L), s, s"t${rng.int(8)}", op)
    def lo() = math.max(0L, recentKey())
    def partition() = rng.int((nextKey / KeysPerPartition).toInt + 1)
    Cycle(i % Cycle.size) match {
      case "append" => DmlOp.Append(Seq.fill(40)(newRow()))
      case "upsert" =>
        val s = nextSeq()
        val keys = recentKeys(25)
        DmlOp.Upsert(keys.take(20).map(changed(_, s, "U")) ++ keys.drop(20).map(changed(_, s, "D")) ++
          Seq.fill(10)(newRow()).map(x => x.copy(ver = s)))
      case "update" => val l = lo(); DmlOp.Update(l, l + 30, nextSeq())
      case "delete" => val l = lo(); DmlOp.Delete(l, l + 8, dv = false)
      case "dv_delete" => val l = lo(); DmlOp.Delete(l, l + 8, dv = true)
      case "merge" =>
        val s = nextSeq()
        DmlOp.Merge(recentKeys(25).map(changed(_, s, "U")) ++ Seq.fill(10)(newRow()).map(_.copy(ver = s)))
      case "point" => DmlOp.Point(lo())
      case "part_range" => DmlOp.PartRange(partition())
      case "value_range" => val l = rng.long(900000L); DmlOp.ValueRange(l, l + 50000)
      case "time_travel" => DmlOp.TimeTravel(65 + rng.int(16))
      case "snapshot" => DmlOp.Snap(0)
      case "snapshot_old" => DmlOp.Snap(65 + rng.int(16))
      case "changes" => DmlOp.Changes(1 + rng.int(8))
      case "count" => DmlOp.Count(partition())
      case m => DmlOp.Maintain(m) // checkpoint, optimize, vacuum
    }
  }

  val ops: IndexedSeq[DmlOp] = (0 until MaxOps).map(one)
  initial.foreach(r => digest.add(r.toString))
  history.flatten.foreach(r => digest.add(r.toString))
  ops.foreach(o => digest.add(o.toString))
}

object TableDmlGen {
  val InitialRows = 16000
  val KeysPerPartition = 2000L
  val HistoryCommits = 66
  val HistoryDataEvery = 11
  val MaxOps = 1500
  /** One cycle of the op log: 6 writes, 9 reads, 3 maintenance ops. Every
    * cycle is the same, so runs that end after a different number of
    * cycles still did the same mix and leave the table in the same shape.
    */
  val Cycle: IndexedSeq[String] = IndexedSeq(
    "upsert", "point", "time_travel", "append", "part_range", "update", "checkpoint", "snapshot_old",
    "value_range", "merge", "point", "changes", "optimize", "dv_delete", "count", "snapshot", "delete",
    "vacuum")
  /** One whole cycle, so every op kind has run once before the timed phase. */
  val WarmUpOps: Int = Cycle.size
  val Schema: StructType = StructType.fromDDL(
    "k BIGINT, p INT, v BIGINT, ver BIGINT, tag STRING, op STRING")
}

/** The independent fold of the op log: a plain in-memory map per version,
  * never touching graft. `versions` maps each committed version to the
  * table state it must hold.
  */
final class DmlModel {
  type State = TreeMap[Long, TRow]
  val versions = mutable.LinkedHashMap[Long, State]()
  var latest = -1L

  def commit(version: Long, s: State): Unit =
    if (version > latest) { versions(version) = s; latest = version }
  def state: State = versions(latest)

  def apply(s: State, op: DmlOp): State = op match {
    case DmlOp.Append(rows) => s ++ rows.map(r => r.k -> r)
    case DmlOp.Upsert(rows) =>
      rows.foldLeft(s)((m, r) => if (r.op == "D") m - r.k else m.updated(r.k, r))
    case DmlOp.Update(lo, hi, _) =>
      s ++ s.range(lo, hi + 1).map { case (k, r) => k -> r.copy(v = r.v + 7, ver = r.ver + 1, tag = "upd") }
    case DmlOp.Delete(lo, hi, _) => s -- s.range(lo, hi + 1).keys
    case DmlOp.Merge(rows) =>
      rows.foldLeft(s)((m, r) => m.get(r.k) match {
        case Some(old) => m.updated(r.k, old.copy(v = r.v, ver = r.ver, tag = r.tag))
        case None => m.updated(r.k, r)
      })
    case _ => s
  }
}

/** What a read op returned, kept for the check after the timed phase. */
final case class ReadResult(op: Long, what: DmlOp, version: Long, got: Seq[Long], aux: Long = 0L)

/** table_dml: closed loop, one client, over one partitioned log table. */
final class TableDml(c: Ctx) extends Workload(c) {
  import TableDmlGen._

  private var dir: String = _
  private var path: String = _
  private var gen: TableDmlGen = _
  private val model = new DmlModel
  private val reads = mutable.ArrayBuffer[ReadResult]()
  private var done = 0
  private val writeFiles = mutable.ArrayBuffer[(Double, Double)]() // (files, bytes) added per traced write
  private val scanned = mutable.ArrayBuffer[Double]()
  private var lastScan: Option[(SparkPlan, Long)] = None // executed plan of the last read, its version
  private val trace = ctx.trace

  private def df(rows: Seq[TRow]): DataFrame =
    spark.createDataFrame(rows.map(_.toRow).asJava, Schema)

  def setup(d: String): Unit = {
    dir = d
    path = s"$d/table"
    gen = new TableDmlGen(ctx.seed)
    var s: model.State = TreeMap.empty
    s = model.apply(s, DmlOp.Append(gen.initial))
    model.commit(LogTable.create(spark, path, df(gen.initial), Seq("p"), statsCols = Seq("k", "v")), s)
    gen.history.zipWithIndex.foreach { case (rows, i) =>
      if (rows.nonEmpty) {
        s = model.apply(s, DmlOp.Append(rows))
        model.commit(LogTable.append(spark, path, df(rows)), s)
      } else model.commit(LogTable.setProperties(spark, path, Map("etl.watermark" -> i.toString)), s)
    }
  }

  def warmUp(): Unit = (0 until WarmUpOps).foreach(i => exec(i, gen.ops(i)))

  /** Aggregate fingerprint of a frame: rows, sum(k), sum(v). */
  private def agg3(d: DataFrame): (Seq[Long], DataFrame) = {
    val a = d.agg(count(lit(1)), coalesce(sum(col("k")), lit(0L)), coalesce(sum(col("v")), lit(0L)))
    val r = a.collect().head
    (Seq(r.getLong(0), r.getLong(1), r.getLong(2)), a)
  }

  private def backFrom(back: Int): Long = {
    val vs = model.versions.keys.filter(_ <= model.latest - back)
    if (vs.isEmpty) model.versions.keys.head else vs.max
  }

  private def liveFiles(v: Long): Int = LogTable.snapshot(spark, path, Some(v)).files.size

  /** A read: plan (until the DataFrame returns), then the action, which
    * returns its answer and the frame it executed.
    */
  private def read(i: Long, op: DmlOp, v: Long)(plan: => DataFrame)(
      action: DataFrame => (Seq[Long], DataFrame)): Unit = {
    val frame = trace.span("sources.logtable.read_plan")(plan)
    val (got, ran) = trace.span("sources.logtable.read_exec")(action(frame))
    reads += ReadResult(i, op, v, got)
    lastScan = Some((ran.queryExecution.executedPlan, v))
  }

  /** Files the executed scans read, from their `numFiles` metrics. */
  private def filesScanned(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesScanned(a.executedPlan)
    case q: QueryStageExec => filesScanned(q.plan)
    case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => (other.children ++ other.subqueries).map(filesScanned).sum
  }

  private def write(i: Long, op: DmlOp)(body: => Long): Unit = {
    val t0 = System.nanoTime()
    val v = trace.span(s"sources.logtable.${op.kind}")(body)
    val ms = Clock.ms(t0)
    model.commit(v, model.apply(model.state, op))
    samples.add("write", ms)
    samples.add(s"write:${op.kind}", ms)
    samples.add("fresh", ms, rowsOf(op).toLong)
  }

  /** Input rows an op carries (1 for predicate writes, reads and maintenance). */
  private def rowsOf(op: DmlOp): Int = op match {
    case DmlOp.Append(r) => r.size; case DmlOp.Upsert(r) => r.size; case DmlOp.Merge(r) => r.size
    case _ => 1
  }

  private def exec(i: Long, op: DmlOp): Unit = {
    val t = col("k")
    op match {
      case DmlOp.Append(rows) => write(i, op)(LogTable.append(spark, path, df(rows)))
      case DmlOp.Upsert(rows) =>
        write(i, op)(LogTable.upsert(spark, path, df(rows), Seq("k"), Seq("ver"), "op"))
      case DmlOp.Update(lo, hi, _) =>
        write(i, op)(LogTable.updateWhere(spark, path, t.between(lo, hi),
          Map("v" -> (col("v") + 7), "ver" -> (col("ver") + 1), "tag" -> lit("upd"))))
      case DmlOp.Delete(lo, hi, dv) =>
        write(i, op)(LogTable.deleteWhere(spark, path, t.between(lo, hi), deletionVectors = dv))
      case DmlOp.Merge(rows) =>
        write(i, op)(LogTable.mergeInto(spark, path, df(rows), Seq("k"))
          .whenMatchedUpdate(Map("v" -> "s.v", "ver" -> "s.ver", "tag" -> "s.tag"))
          .whenNotMatchedInsert().run())
      case DmlOp.Point(k) =>
        read(i, op, model.latest)(LogTable.readWhere(spark, path, t === k))(
          f => (f.collect().toSeq.flatMap(r => Seq(r.getAs[Long]("k"), r.getAs[Long]("v"), r.getAs[Long]("ver"))), f))
      case DmlOp.PartRange(p) =>
        read(i, op, model.latest)(LogTable.readWhere(spark, path, col("p") === p))(agg3)
      case DmlOp.ValueRange(lo, hi) =>
        read(i, op, model.latest)(LogTable.readWhere(spark, path, col("v").between(lo, hi)))(agg3)
      case DmlOp.TimeTravel(back) =>
        val v = backFrom(back)
        read(i, op, v)(LogTable.table(spark, path, Some(v)))(agg3)
      case DmlOp.Snap(back) =>
        val v = if (back == 0) model.latest else backFrom(back)
        val name = if (back == 0) "sources.logtable.snapshot" else "sources.logtable.snapshot_old"
        val s = trace.span(name)(LogTable.snapshot(spark, path, if (back == 0) None else Some(v)))
        reads += ReadResult(i, op, v, Seq(s.version))
      case DmlOp.Changes(back) =>
        val to = model.latest
        val from = backFrom(back)
        val got = trace.span("sources.logtable.changes") {
          val ch = LogTable.readChanges(spark, path, from, to)
          val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
          val r = ch.agg(coalesce(sum(sign), lit(0L)), coalesce(sum(sign * col("v")), lit(0L))).collect().head
          Seq(r.getLong(0), r.getLong(1))
        }
        reads += ReadResult(i, op, to, got, aux = from)
      case DmlOp.Count(p) =>
        val n = trace.span("sources.logtable.count")(LogTable.countWhere(spark, path, col("p") >= p).count)
        reads += ReadResult(i, op, model.latest, Seq(n))
      case DmlOp.Maintain(what) =>
        val v = trace.span(s"sources.logtable.$what") {
          what match {
            case "checkpoint" => LogTable.checkpoint(spark, path); -1L
            case "optimize" => LogTable.compactPartitions(spark, path)
            case "vacuum" => LogTable.vacuum(spark, path, 7L * 24 * 3600 * 1000); -1L
          }
        }
        model.commit(v, model.state)
    }
  }

  def run(seconds: Double, traced: Long => Boolean): RunStats = {
    val t0 = System.nanoTime()
    var i = WarmUpOps
    var failed = 0
    var rows = 0L
    // whole cycles only, so every run does the same mix of op kinds
    while ((Clock.ms(t0) < seconds * 1000 || (i - WarmUpOps) % Cycle.size != 0) && i < MaxOps) {
      val op = gen.ops(i)
      val tr = traced(i.toLong)
      val before = if (tr && DmlOp.Writes(op.kind)) Some(LogTable.snapshot(spark, path)) else None
      val series = if (DmlOp.Writes(op.kind) || DmlOp.Maintenance(op.kind)) null else "read"
      lastScan = None
      if (timedOp(i.toLong, tr, series, op.kind)(exec(i.toLong, op)).isEmpty) failed += 1
      else rows += rowsOf(op)
      before.foreach { b =>
        val after = LogTable.snapshot(spark, path).files
        val old = b.files.map(_.name).toSet
        val added = after.filterNot(f => old.contains(f.name))
        writeFiles += ((added.size.toDouble, added.map(_.bytes).sum.toDouble))
      }
      if (tr) lastScan.foreach { case (plan, v) =>
        scanned += filesScanned(plan).toDouble / math.max(1, liveFiles(v))
      }
      i += 1
    }
    done = i
    RunStats(i - WarmUpOps, failed, rows, Clock.ms(t0) / 1000)
  }

  // ------------------------------------------------------------- checks

  private def fp(s: model.State): Seq[Long] = Seq(s.size.toLong, s.keys.sum, s.values.map(_.v).sum)

  /** What the model says a read must return. */
  def expected(r: ReadResult): Seq[Long] = {
    val s = model.versions(r.version)
    r.what match {
      case DmlOp.Point(k) => s.get(k).toSeq.flatMap(x => Seq(x.k, x.v, x.ver))
      case DmlOp.PartRange(p) => fp(s.filter(_._2.p == p))
      case DmlOp.ValueRange(lo, hi) => fp(s.filter(x => x._2.v >= lo && x._2.v <= hi))
      case DmlOp.TimeTravel(_) => fp(s)
      case DmlOp.Snap(_) => Seq(r.version)
      case DmlOp.Changes(_) =>
        val a = model.versions(r.aux)
        Seq(s.size.toLong - a.size, s.values.map(_.v).sum - a.values.map(_.v).sum)
      case DmlOp.Count(p) => Seq(s.count(_._2.p >= p).toLong)
      case _ => Nil
    }
  }

  def checkReads(rs: Seq[ReadResult]): Seq[(Option[Long], String)] =
    rs.flatMap { r =>
      val want = expected(r)
      if (r.got == want) None
      else Some((Some(r.op), s"${r.what.kind} at v${r.version}: got ${r.got} want $want"))
    }

  def checkFinal(got: Seq[TRow], want: model.State): Option[String] = {
    val g = got.map(r => r.k -> r).toMap
    if (g.size != got.size) Some("duplicate keys in the final table")
    else if (g != want) {
      val diff = (g.keySet ++ want.keySet).filter(k => g.get(k) != want.get(k))
      Some(s"final state differs on ${diff.size} keys, e.g. ${diff.take(3).map(k => (g.get(k), want.get(k)))}")
    } else None
  }

  private def finalRows(): Seq[TRow] =
    LogTable.read(spark, path).select("k", "p", "v", "ver", "tag", "op").collect().toSeq
      .map(r => TRow(r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))

  def check(): Seq[(Option[Long], String)] = {
    val latest = LogTable.latestVersion(spark, path)
    val version = if (latest == model.latest) None
      else Some((None, s"latest version $latest, model expects ${model.latest}"))
    checkReads(reads.toSeq) ++ version ++ checkFinal(finalRows(), model.state).map(m => (None, m))
  }

  def selfTest(): Seq[String] = {
    val bad = mutable.ArrayBuffer[String]()
    val tt = reads.find(_.what.isInstanceOf[DmlOp.TimeTravel]).orElse(reads.headOption)
    tt.foreach { r =>
      val wrong = r.copy(got = r.got.headOption.map(_ + 1).toSeq ++ r.got.drop(1) match {
        case Nil => Seq(1L); case x => x
      })
      if (checkReads(Seq(wrong)).isEmpty) bad += s"read check (${r.what.kind})"
    }
    val rows = finalRows()
    if (rows.nonEmpty && checkFinal(rows.updated(0, rows.head.copy(v = rows.head.v + 1)), model.state).isEmpty)
      bad += "final-state check"
    bad.toSeq
  }

  // --------------------------------------------------------- traced extras

  def layerMetrics(): Map[String, Double] = {
    val writes = DmlOp.Writes.toSeq.map(k => s"sources.logtable.$k")
    val writeSpans = writes.flatMap(named)
    val nW = math.max(1, writeSpans.size)
    Map(
      "sources.logtable.jobs_per_write" -> writes.map(n => jobsPerCall(n) * named(n).size).sum / nW,
      "sources.logtable.write_driver_gap_ms" ->
        writes.map(n => driverGapMs(n) * named(n).size).sum / nW,
      "sources.logtable.files_per_write" -> Stat.mean(writeFiles.map(_._1).toSeq),
      "sources.logtable.bytes_per_write" -> Stat.mean(writeFiles.map(_._2).toSeq),
      "sources.logtable.optimize_ms" -> meanMs("sources.logtable.optimize"),
      "sources.logtable.files_scanned_frac" -> Stat.mean(scanned.toSeq),
      "sources.logtable.log_bytes" -> logBytes.toDouble,
      "sources.logtable.live_bytes" -> liveBytes.toDouble) ++
      (writes ++ Seq("checkpoint", "vacuum", "read_plan", "read_exec", "snapshot", "snapshot_old",
        "changes").map(k => s"sources.logtable.$k")).distinct.map(n => s"${n}_ms" -> meanMs(n))
  }

  private def logBytes: Long = Fs.bytes(s"$path/_graft_log")
  private def liveBytes: Long = LogTable.snapshot(spark, path).files.map(_.bytes).sum

  /** op, read and write medians: the geometric mean of each op kind's
    * median. An upsert costs several point reads, so a pooled median sits
    * on the edge between two kinds and jumps with their noise; per-kind
    * medians keep each kind's share fixed. fresh weights each write kind by
    * the rows it carries, as the pooled row-weighted median would.
    */
  override def p50(series: String): Double = {
    val kinds = Cycle.distinct.filter(k => !DmlOp.Maintenance(k) &&
      (series == "op" || DmlOp.Writes(k) == (series == "write" || series == "fresh")))
    val perKind = kinds.flatMap { k =>
      val xs = samples.get(if (series == "op" || series == "read") s"op:$k" else s"write:$k")
      if (xs.isEmpty) None
      else Some((Stat.p50(xs), if (series == "fresh") rowsOf(gen.ops(Cycle.indexOf(k))).toDouble else 1.0))
    }
    if (perKind.isEmpty) Double.NaN
    else math.exp(perKind.map { case (m, w) => w * math.log(m) }.sum / perKind.map(_._2).sum)
  }

  /** A run at HEAD makes three cycles: 54 ops, 27 reads and 18 writes, so
    * op p80 and read p60 have ten or more beyond them and writes report
    * their pooled median. fresh rows arrive in ops of 35-40 rows (append,
    * upsert, merge), so a high row percentile is one or two ops; p75 has
    * two or three of them beyond.
    */
  def tailPercentile(series: String): Double = series match {
    case "op" => 80.0
    case "read" => 60.0
    case "write" => 50.0
    case _ => 75.0
  }

  def inputProps: Map[String, Any] = {
    val ran = gen.ops.take(done)
    val kinds = ran.groupBy(_.kind).map { case (k, v) => k -> v.size }
    Map("initial_rows" -> InitialRows, "history_commits" -> HistoryCommits, "ops_run" -> done,
      "op_mix" -> kinds, "rows" -> model.state.size, "bytes" -> inputBytes,
      "leaf_fields" -> Schema.size, "key_skew" -> "update/delete keys: newest - u^3 * keys",
      "time_travel_back" -> "65..80 versions (past the 64-entry snapshot cache)",
      "feed_rate" -> "closed loop, 1 client", "input_checksum" -> gen.digest.hex)
  }

  /** Live data plus log bytes. */
  def storedBytes: Long = logBytes + liveBytes

  /** Bytes of every generated row the table received (8 per number, tag and op text). */
  def inputBytes: Long = {
    def b(rows: Seq[TRow]) = rows.map(r => 36L + r.tag.length + r.op.length).sum
    b(gen.initial) + b(gen.history.flatten) + gen.ops.take(done).map {
      case DmlOp.Append(r) => b(r); case DmlOp.Upsert(r) => b(r); case DmlOp.Merge(r) => b(r)
      case _ => 0L
    }.sum
  }

  override def dispose(): Unit = Fs.rm(new File(dir))
}
