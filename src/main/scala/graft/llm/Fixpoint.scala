package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The round loop of every iterative kernel: Lloyd, PQ and IVF-split
  * training, the NN-descent builds, the greedy walk, connected components
  * and star contraction. A round body decides what it materializes and
  * when; the driver owns the round cap, the stop test and the release of
  * each superseded state, so the loop policy is written once.
  *
  * Early exit equals the pinned unroll the oracles replay because every
  * round is a deterministic function of its input state: once a round
  * reproduces its input, every remaining round is a no-op. */
private[graft] object Fixpoint {

  /** What a round tells the stop test. */
  sealed trait Report

  /** A signature of the state the round produced; the loop has converged
    * when two rounds in a row report the same one. */
  final case class Sig(value: Any) extends Report

  /** The round's own count of changed rows; zero is the fixpoint. */
  final case class Changed(rows: Long) extends Report

  final case class Result[S](state: S, rounds: Int, converged: Boolean)

  /** Runs `round(state, r)` for r = 0, 1, … until a round reports a
    * fixpoint or `cap` rounds have run, and returns the last round's
    * state. After each round r ≥ 1 the state it superseded is released:
    * the round's report has materialized its successor by then, so nothing
    * still reads it. `init` (round 0's input) and the returned state
    * belong to the caller. */
  def run[S](init: S, cap: Int, release: S => Unit)(
      round: (S, Int) => (S, Report)): Result[S] = {
    var state = init
    var prev: Report = null
    var r = 0
    while (r < cap) {
      val (next, report) = round(state, r)
      if (r > 0) release(state)
      state = next
      r += 1
      val fixed = report match {
        case Changed(rows) => rows == 0L
        case sig => sig == prev
      }
      if (fixed) return Result(state, r, converged = true)
      prev = report
    }
    Result(state, r, converged = false)
  }

  /** THE assignment signature: row count, murmur3 sum and xxhash64 XOR
    * over `cols`, one driver row. Order-insensitive, so it identifies the
    * row set at any partitioning. */
  def frameSig(df: DataFrame, cols: String*): Sig = {
    val keys = cols.map(col)
    val row = df.agg(count(lit(1)), sum(hash(keys: _*).cast(LongType)),
      call_function("bit_xor", xxhash64(keys: _*))).head()
    def at(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    Sig((row.getLong(0), at(1), at(2)))
  }
}
