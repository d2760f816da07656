package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark driver: one workload, one seed, one measured run.
  *
  *  1. session (local[N]) and a warm-up job;
  *  2. set-up, [[SetupReps]] times on fresh state (inputs generated from
  *     the seed, initial table or index built), then warm-up operations on
  *     the last one; setup_s = session + median set-up + warm-up;
  *  3. the timed phase (closed or open loop, see each workload);
  *  4. output checks and checker self-tests, outside every timing;
  *  5. a record line (inputs, host facts, tails) and a result line with
  *     every metric value the run computed; the launcher (run.py) picks
  *     out the metrics BENCHMARK.json names, with their units.
  *
  * `--trace 1` runs the same workload and seed with spans on a fixed
  * pseudo-random half of the operations ([[Layers.traced]]); the per-layer
  * metrics come from those, and the latency gap to the untraced half of the
  * same run is the tracing overhead.
  */
object Main {
  val SetupReps = 3

  /** Heap occupancy (MB) after the JVM's latest collection of each heap
    * pool, for the record line: the live heap grows with the commits a run
    * makes, so it is not a metric.
    */
  private def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val workdir = args("workdir")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val warehouse = new File(workdir, "warehouse").getAbsolutePath
    val spark = graft.SessionTuning(SparkSession.builder())
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", new File(workdir, "tmp").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.sql.streaming.checkpointLocation", new File(workdir, "ckpt").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val tagger = if (traced) new JobTagger else null
    val progress = if (traced) new ProgressLog else null
    if (traced) {
      sc.addSparkListener(tagger)
      spark.streams.addListener(progress)
    }
    spark.range(0, 20000).selectExpr("sum(id)").collect(): Unit
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val ctx = Ctx(spark, seed, new Trace(sc), tagger, progress, cores, warehouse)
    def make(): Workload = workload match {
      case "curate_batch" => new CurateBatch(ctx)
      case "table_dml" => new TableDml(ctx)
      case "stream_ingest" => new StreamIngest(ctx)
    }
    val setupTimes = (0 until SetupReps).map { r =>
      val w = make()
      val t0 = System.nanoTime()
      w.setup(new File(workdir, s"setup$r").getAbsolutePath)
      val s = Clock.ms(t0) / 1000
      (w, s)
    }
    setupTimes.init.foreach(_._1.dispose())
    val w = setupTimes.last._1
    val tw = System.nanoTime()
    w.warmUp()
    w.samples.clear()
    val warmS = Clock.ms(tw) / 1000
    val setupS = sessionS + Stat.median(setupTimes.map(_._2)) + warmS

    val st = w.run(seconds, i => traced && Layers.traced(i))
    val heapMb = heapAfterGcMb
    val tc = System.nanoTime()
    val checks = w.check()
    val selfTest = w.selfTest()
    org.apache.spark.GraftBenchBus.drain(sc)
    val stored = w.storedBytes
    val checksS = Clock.ms(tc) / 1000

    val failedOps = checks.flatMap(_._1).distinct.size
    val unattributed = checks.count(_._1.isEmpty)
    val failed = math.min(st.attempted, st.failed + failedOps + unattributed)
    val correct = checks.isEmpty && selfTest.isEmpty && st.failed == 0 && st.attempted > 0
    checks.foreach { case (op, m) => println(s"check FAILED${op.fold("")(o => s" (op $o)")}: $m") }
    selfTest.foreach(m => println(s"self-test FAILED: checker accepted a wrong answer: $m"))

    val s = w.samples
    val tails = scala.collection.mutable.LinkedHashMap[String, Any]()
    def tail(series: String): Double = {
      val p = w.tailPercentile(series)
      val (v, beyond) = Stat.tail(s.get(series), p)
      tails(series) = Map("percentile" -> p, "samples" -> s.get(series).map(_._2).sum, "beyond" -> beyond)
      v
    }
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "rows_per_s" -> st.rows / st.seconds,
      "op_p50_ms" -> w.p50("op"),
      "op_tail_ms" -> tail("op"),
      "write_p50_ms" -> w.p50("write"),
      "write_tail_ms" -> tail("write"),
      "read_p50_ms" -> w.p50("read"),
      "read_tail_ms" -> tail("read"),
      "stored_bytes_ratio" -> stored.toDouble / math.max(1L, w.inputBytes),
      "fresh_p50_ms" -> w.p50("fresh"),
      "fresh_tail_ms" -> tail("fresh"))

    // a series a workload does not have (NaN) is left out; run.py refuses
    // a run that lacks an end-to-end metric and reads a missing layer as 0
    val values = (if (traced) w.genericLayers() ++ w.layerMetrics() else e2e).filterNot(_._2.isNaN)
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "host" -> Map(
        "nproc" -> sys.props.getOrElse("graftbench.nproc", Runtime.getRuntime.availableProcessors.toString).toInt,
        "local_n" -> cores,
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "java" -> sys.props("java.version"), "spark" -> spark.version,
        "git_commit" -> sys.props.getOrElse("graftbench.commit", "unknown"),
        "source_hash" -> sys.props.getOrElse("graftbench.sources", "unknown")),
      "inputs" -> w.inputProps,
      "setup" -> Map("session_s" -> sessionS, "reps_s" -> setupTimes.map(_._2), "warm_up_s" -> warmS),
      "checks_s" -> checksS,
      "timed" -> Map("attempted" -> st.attempted, "failed" -> failed, "rows" -> st.rows,
        "seconds" -> st.seconds, "failed_frac" -> failed.toDouble / math.max(1, st.attempted)),
      "heap_after_gc_mb" -> heapMb,
      "tails" -> tails,
      "end_to_end" -> e2e,
      "checks_failed" -> checks.map(_._2), "self_test_failed" -> selfTest,
      "spans" -> (if (traced) w.spanSummary() else Map.empty))
    println("GRAFTBENCH_RECORD " + Json(record))
    println("GRAFTBENCH_RESULT " + Json(Map("correct" -> correct, "attempted" -> st.attempted,
      "failed" -> failed, "values" -> values)))
    System.out.flush()
    w.dispose()
    spark.stop()
  }
}
