package graftbench

/** The per-layer metrics of a traced run are named in BENCHMARK.json (the
  * launcher, run.py, picks them out of what a run computes), and
  * `graftbench/layers.json` maps each to the end-to-end metric it should
  * move and the workload it moves on. A layer a workload never calls reads
  * 0 there (for example every `sources.logtable` metric on curate_batch).
  *
  * Conventions: `*_ms` is the mean duration of one call into the layer;
  * counts and bytes are per call of the named layer, or per traced
  * operation for the `spark.*` and `bench.*` totals.
  */
object Layers {
  /** Which operations of a traced run record spans: a fixed pseudo-random
    * half, so periodic work (compaction every few days, maintenance every
    * few table ops) lands on both halves.
    */
  def traced(i: Long): Boolean = {
    var z = i + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    ((z ^ (z >>> 31)) & 1L) == 0L
  }
}
