package graft.perfbench

import scala.util.Random

/** A named, fixed list of gated `SparkEntry.queries`, the untimed warm-up
  * query run before it, and how each result is materialized: `write` results
  * go to Parquet the way `graft.Verify` writes them, the others are reduced
  * by the fingerprint aggregate over all of their columns. `mirrored` lists
  * share a memoized artifact, so a query's time depends on its place in the
  * order: their timed cycles come in pairs that take one order forwards and
  * backwards.
  */
final case class Workload(name: String, queries: Seq[String], warmup: String, write: Boolean,
                          mirrored: Boolean)

object Workloads {

  /** The iterative weak-component fixpoint of `GraphAlgorithms`, many small
    * jobs and localCheckpoints, built once per cycle and shared through the
    * memo by `q_components` and `q_largest_cc`.
    */
  val graphFixpoint: Workload = Workload("graph_fixpoint",
    Seq("q_components", "q_largest_cc"), "q_benford", write = false, mirrored = true)

  /** Short queries where planning and job launch dominate: the
    * networkframe surface, batch `EventStream`, `Storage`, and one kernel each of `Dedup`, `Similarity`, `TextAnalysis`
    * and `Multimodal`. None calls `GraphAlgorithms`. Every result is
    * written, as `graft.Verify` writes it.
    */
  val frameWrite: Workload = Workload("frame_write", Seq(
    "q_degrees", "q_events_window", "q_zorder",
    "q_snm_pairs", "q_cell_neardup", "q_repetition", "q_phash_pairs"),
    "q_benford", write = true, mirrored = false)

  val all: Seq[Workload] = Seq(graphFixpoint, frameWrite)
  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name'; expected one of ${all.map(_.name).mkString(", ")}"))

  /** The query orders of successive passes under one seed: the same seed
    * always yields the same sequence of permutations.
    */
  def orders(w: Workload, seed: Long): Iterator[Seq[String]] = {
    val rng = new Random(seed)
    Iterator.continually(rng.shuffle(w.queries))
  }
}
