package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a timed phase did. `rows` counts input rows completed; `seconds`
  * is the time the workload was busy with them, which rows_per_s divides
  * by: the whole timed phase of a closed loop, the summed micro-batch
  * times of the open one.
  */
final case class RunStats(attempted: Int, failed: Int, rows: Long, seconds: Double)

/** Everything a workload needs from the run: the session, the seed, the
  * tracer and the job tagger (the tagger is null in untraced runs).
  */
final case class Ctx(spark: SparkSession, seed: Long, trace: Trace, tagger: JobTagger,
                     progress: ProgressLog, cores: Int, warehouse: String)

/** One benchmark workload: seeded inputs, a set-up, a timed loop of
  * operations, output checks and the per-layer numbers of a traced run.
  */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  val samples = new Samples
  /** Operation ids whose traced run recorded spans. */
  protected val tracedOps = mutable.ArrayBuffer[Long]()

  /** Generate the inputs and build the initial state under `dir`. Called
    * several times per run, on fresh objects; the last one is measured.
    */
  def setup(dir: String): Unit
  /** Untimed operations after the last set-up, so the timed phase starts
    * with warm caches and compiled code. Their latencies are discarded.
    */
  def warmUp(): Unit
  /** The timed phase: operations until `seconds` have passed (or the
    * generated inputs run out). `traced(i)` says whether op i records spans.
    */
  def run(seconds: Double, traced: Long => Boolean): RunStats
  /** Output checks after the timed phase: (op id if one op is at fault, message). */
  def check(): Seq[(Option[Long], String)]
  /** Feed each checker a wrong answer; returns the checkers that accepted it. */
  def selfTest(): Seq[String]
  def inputProps: Map[String, Any]
  def storedBytes: Long
  def inputBytes: Long
  /** The percentile each `*_tail_ms` reports: per workload, the highest
    * percentile with at least ten samples beyond it in a run at HEAD, fixed
    * so that runs of different speed stay comparable. Series too short to
    * resolve any tail report the median (50). The record line gives the
    * sample count and how many lie beyond.
    */
  def tailPercentile(series: String): Double
  /** Per-layer metrics of a traced run (zero-filled by the caller). */
  def layerMetrics(): Map[String, Double]
  /** Release what set-up created (tables, streams, files). */
  def dispose(): Unit = ()

  /** Times one operation: records its latency in `op` (and in `series`,
    * when given), or an infinite latency when it throws. Returns None on
    * failure.
    */
  protected def timedOp[T](id: Long, traced: Boolean, series: String = null, kind: String = null)(
      body: => T): Option[T] = {
    if (traced) tracedOps += id
    val t0 = System.nanoTime()
    val out = try Some(ctx.trace.op(id, traced)(body)) catch {
      case e: Throwable =>
        System.err.println(s"graftbench: operation $id failed: $e")
        e.printStackTrace()
        None
    }
    val ms = if (out.isDefined) Clock.ms(t0) else Double.PositiveInfinity
    samples.add("op", ms)
    samples.add(if (traced) "op.traced" else "op.untraced", ms)
    if (series != null) samples.add(series, ms)
    if (kind != null) samples.add(s"op:$kind", ms)
    out
  }

  /** The `*_p50_ms` of a series: its median, unless a workload mixes op
    * kinds of very different cost (see TableDml).
    */
  def p50(series: String): Double = Stat.p50(samples.get(series))

  // ------------------------------------------------ traced-run accessors

  private lazy val allSpans: Seq[Span] = ctx.trace.spans
  private lazy val tracedSet = tracedOps.toSet
  protected lazy val opSpans: Seq[Span] = allSpans.filter(s => tracedSet.contains(s.op))
  protected def named(name: String): Seq[Span] = opSpans.filter(_.name == name)
  protected def nTraced: Int = math.max(1, tracedOps.size)

  /** Mean duration (ms) of the calls recorded under `name`. */
  protected def meanMs(name: String): Double = Stat.mean(named(name).map(s => Clock.ms(s.startNs, s.endNs)))

  /** Spark work of the spans named `name` (all of them, summed). */
  protected def work(name: String): Seq[SpanWork] =
    if (ctx.tagger == null) Nil else named(name).flatMap(s => ctx.tagger.get(s.id))

  protected def jobsPerCall(name: String): Double = {
    val n = named(name).size
    if (n == 0) 0.0 else work(name).map(_.jobs).sum.toDouble / n
  }

  /** Mean driver-only time (ms) of the calls named `name`: the span's
    * duration minus the time covered by the Spark jobs it submitted.
    */
  protected def driverGapMs(name: String): Double = Stat.mean(named(name).map { s =>
    val jobs = ctx.tagger.get(s.id).toSeq.flatMap(w => w.synchronized(w.jobIntervals.values.toList))
    val lo = ctx.trace.epochMs(s.startNs)
    val hi = ctx.trace.epochMs(s.endNs)
    (s.endNs - s.startNs) / 1e6 - Trace.covered(jobs, lo, hi)
  })

  protected def cpuMs(name: String): Double = work(name).map(_.cpuNs).sum / 1e6 / nTraced

  /** Layer-independent numbers of a traced run: Spark totals per traced
    * operation, the benchmark's own self time, and tracing overhead (the
    * median latency of traced operations over that of the untraced ones of
    * the same run, minus one).
    */
  def genericLayers(): Map[String, Double] = {
    val ws = if (ctx.tagger == null) Nil else opSpans.flatMap(s => ctx.tagger.get(s.id))
    val self = Trace.selfNs(opSpans)
    val roots = opSpans.filter(_.parent == 0L)
    val tr = Stat.p50(samples.get("op.traced"))
    val un = Stat.p50(samples.get("op.untraced"))
    Map(
      "spark.gc_ms" -> ws.map(_.gcMs).sum.toDouble / nTraced,
      "spark.shuffle_write_bytes" -> ws.map(_.shuffleWriteBytes).sum.toDouble / nTraced,
      "spark.spill_bytes" -> ws.map(_.spillBytes).sum.toDouble / nTraced,
      "spark.tasks" -> ws.map(_.tasks).sum.toDouble / nTraced,
      "bench.self_ms" -> Stat.mean(roots.map(r => self(r.id) / 1e6)),
      "bench.trace_overhead_frac" -> (if (un > 0 && !tr.isInfinite) tr / un - 1 else 0.0))
  }

  /** Per span name: calls, mean and self ms, and the Spark work under it. */
  def spanSummary(): Map[String, Map[String, Double]] = {
    val self = Trace.selfNs(opSpans)
    opSpans.groupBy(_.name).map { case (n, ss) =>
      val ws = if (ctx.tagger == null) Nil else ss.flatMap(s => ctx.tagger.get(s.id))
      n -> Map(
        "calls" -> ss.size.toDouble,
        "mean_ms" -> Stat.mean(ss.map(s => Clock.ms(s.startNs, s.endNs))),
        "self_ms" -> Stat.mean(ss.map(s => self(s.id) / 1e6)),
        "jobs" -> ws.map(_.jobs).sum.toDouble, "tasks" -> ws.map(_.tasks).sum.toDouble,
        "cpu_ms" -> ws.map(_.cpuNs).sum / 1e6, "gc_ms" -> ws.map(_.gcMs).sum.toDouble,
        "shuffle_write_bytes" -> ws.map(_.shuffleWriteBytes).sum.toDouble,
        "spill_bytes" -> ws.map(_.spillBytes).sum.toDouble)
    }
  }
}
