package graft

/** THE registry of optimization A/B toggles.
  *
  * Every toggle is a JVM system property read through [[on]]: the
  * OPTIMIZED path is the default; setting `-Dgraft.<name>=0` restores
  * the pre-optimization formulation. An off-path is the measurement
  * baseline for `graft.AbProbe` (interleaved same-JVM A/B) and the
  * equivalence baseline for `graft.EquivProbe` (bit-exact old-vs-new
  * row comparison) while its decision is still open; new toggles MUST
  * be listed here.
  *
  * Once a toggle's decision is settled, its off-path is deleted
  * together with the toggle. A retired path is checked against the
  * commit before its deletion instead: run `graft.Verify` on both
  * trees and compare the dumps with `tools/compare_dumps.py`.
  *
  * | property | guards | decided | evidence |
  * |---|---|---|---|
  * | graft.zstInferPrefix  | fromZstJsonl bounded-prefix schema inference + FAILFAST read | r19 | A/B 1.30x q_jsonl_zst, see OPTIMIZATION_r19.md; fields first seen past the prefix are still dropped |
  */
object Toggles {
  /** True unless `-D<prop>=0` — optimized path on by default. */
  def on(prop: String): Boolean = !"0".equals(System.getProperty(prop))
}
