package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}

import graft.series.RollingKernel

/** Stateful streaming constraint evaluation (SURVEY.md §2.11 extension):
  * the rolling-z check runs directly on a stream of turns via
  * `flatMapGroupsWithState`, with per-conversation state bounded at
  * window-1 values — a conversation of any length (the 10^12-turn
  * mega-thread) holds O(window) state, and idle conversations expire via
  * processing-time timeout so total state is O(active conversations).
  *
  * Local-mode note: Spark 4.1's async checkpoint-file checksum writer can
  * deadlock stateful commits under local masters — set
  * `spark.sql.streaming.checkpoint.fileChecksum.enabled=false` there
  * (cluster file systems are unaffected).
  *
  * Semantics match the batch kernel (Validator's RollingZDrift /
  * Windows.rollingStats with min_periods = window): a turn is flagged when
  * the trailing `window` rows hold `window` non-null values and
  * |value - mean| / sample-std > threshold, folded by
  * [[graft.series.RollingKernel]] as in the batch pass. Within a
  * micro-batch, events are processed in turn_idx order; ACROSS batches,
  * arrival must be turn-ordered per conversation (the transcript-append
  * contract — an out-of-order turn would need the batch path).
  */
object StreamingValidator {

  /** Input row contract. `v` nullable (null occupies a window row but
    * doesn't count toward min_periods, exactly like the batch kernel).
    */
  final case class Turn(conv_id: String, turn_idx: Int, v: Option[Double])

  /** Violation row — same shape as the batch Validator's violation rows. */
  final case class Violation(constraint: String, conv_id: String,
      turn_idx: Int, column: String, observed: String, bound: String,
      severity: String)

  /** Trailing window of the last (window-1) values, oldest first. */
  final case class RollState(recent: Seq[(Boolean, Double)])

  /** `idleTimeoutMs > 0` expires idle conversations' state via
    * processing-time timeout (the production setting — total state stays
    * O(active conversations)). `idleTimeoutMs <= 0` disables timeouts;
    * REQUIRED for finite test streams: with ProcessingTimeTimeout the
    * micro-batch engine schedules continuous empty batches to fire
    * timeouts, so `processAllAvailable()` on a MemoryStream never settles.
    *
    * Timeout-vs-batch parity caveat: expiry DROPS the trailing window, so
    * a conversation that resumes after sitting idle past the timeout
    * restarts with an empty window — its first (window-1) post-resume
    * turns can never be flagged, where the batch kernel (seeing all rows)
    * might flag them. That trade is deliberate (bounded state beats exact
    * parity for conversations idle for hours); batch-exact parity holds
    * only with timeouts disabled, which is how the spec gates it.
    */
  def rollingZViolations(turns: Dataset[Turn], column: String, window: Int,
      threshold: Double, idleTimeoutMs: Long = 3600 * 1000L): Dataset[Violation] = {
    // window = 1 is legal on BOTH paths and flags nothing (one sample has
    // no variance: batch stddev_samp is null, the shared fold's std is
    // NaN), so it must not be rejected here. window = 0 would reach
    // xs.last on an empty trailing window below, where the batch kernel's
    // rowsBetween(1,0) is just an empty frame (null aggregates, no
    // flags) — reject it instead of crashing mid-stream
    require(window >= 1, s"rolling window must be >= 1, got $window")
    val spark = turns.sparkSession
    import spark.implicits._
    val timeoutConf = if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    // values = trailing `window` slots (present, value); flag only when
    // every slot holds a non-null value (pandas min_periods = window),
    // through the batch kernel's fold and guards
    def flagged(values: Seq[(Boolean, Double)]): Boolean =
      values.length >= window && values.forall(_._1) && {
        val xs = values.map(_._2).toArray
        val (mean, std) = RollingKernel.meanStd(xs, 0, xs.length)
        RollingKernel.flagged(xs.last - mean, std, threshold)
      }

    turns.groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (convId: String, events: Iterator[Turn], state: GroupState[RollState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
            var recent = state.getOption.map(_.recent).getOrElse(Seq.empty)
            val out = Seq.newBuilder[Violation]
            events.toSeq.sortBy(_.turn_idx).foreach { e =>
              val slot = (e.v.isDefined, e.v.getOrElse(0.0))
              val trailing = (recent :+ slot).takeRight(window)
              if (flagged(trailing))
                out += Violation(s"rolling_z($column)", convId, e.turn_idx,
                  column, slot._2.toString, s"rolling|z|<=$threshold@$window",
                  "medium")
              recent = (recent :+ slot).takeRight(window - 1)
            }
            state.update(RollState(recent))
            out.result().iterator
          }
      }
  }
}
