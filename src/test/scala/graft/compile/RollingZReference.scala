package graft.compile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dsl.{Check, RollingZDrift}
import graft.series.Windows

/** The window-chain form of rolling-z drift and the fused duplicate-key
  * census: a sliding ROWS frame for count/avg/stddev_samp, a RangeFrame
  * peer count and a lag tie marker, each window within (key, chunk) under
  * [[Windows.chunkWithHalo]], then one exploded projection of the flags.
  * It is the parity reference for [[Validator.rollingZViolations]]'s
  * sorted kernel, which must match it as a multiset
  * (RollingZDifferentialSpec).
  */
object RollingZReference {

  /** Rolling stats plus the duplicate-key census: `__ord_peers` = copies
    * of this order value, `__ord_first` = this row is the tie group's
    * representative. Halo rows occupy a disjoint order range in their
    * landing chunk, so peer counts see home rows only.
    */
  def boundedRollingStats(df: DataFrame, valueCol: String, window: Int,
      keyCol: String, ordCol: String, chunk: Int): DataFrame = {
    val ord = col(ordCol).cast("long")
    val w = Window.partitionBy(col(keyCol), col("__chunk")).orderBy(col(ordCol))
      .rowsBetween(-(window - 1), 0)
    val wPeers = Window.partitionBy(col(keyCol), col("__chunk"))
      .orderBy(ord).rangeBetween(0, 0)
    val wSeq = Window.partitionBy(col(keyCol), col("__chunk")).orderBy(col(ordCol))
    val v = col(valueCol)
    Windows.chunkWithHalo(df, ordCol, window, chunk)
      .withColumn(s"${valueCol}_n", count(v).over(w))
      .withColumn(s"${valueCol}_rolling_mean", avg(v).over(w))
      .withColumn(s"${valueCol}_rolling_std", stddev_samp(v).over(w))
      .withColumn("__ord_peers", count(lit(1)).over(wPeers))
      .withColumn("__ord_first",
        coalesce(!(ord <=> lag(ord, 1).over(wSeq)), lit(true)))
      .where(col("__copy") === 0)
      .drop("__copy", "__chunk")
  }

  /** One violation frame per RollingZDrift; the fused UniqueKey rides the
    * first, as in [[Validator.rollingZViolations]].
    */
  def rollingZViolations(df: DataFrame, check: Check,
      chunk: Int = Windows.DefaultChunk): Seq[DataFrame] = {
    val key = col(check.keyCol); val ord = col(check.orderCol)
    val fused = Validator.fusedUniqueKey(check)
    check.constraints.collect { case c: RollingZDrift => c }.zipWithIndex
      .map { case (c, i) =>
        val v = col(c.column)
        val stats = boundedRollingStats(df.select(key, ord, v), c.column,
          c.window, check.keyCol, check.orderCol, chunk)
        val n = col(s"${c.column}_n")
        val std = col(s"${c.column}_rolling_std")
        val z = when(!isnan(std) && std > 0,
          (v - col(s"${c.column}_rolling_mean")) / std)
        val checks = Seq((c.name, c.column, v.cast("string"),
          s"rolling|z|<=${c.threshold}@${c.window}", c.severity,
          coalesce(n >= c.window && !isnan(z) && abs(z) > c.threshold,
            lit(false)))) ++
          fused.filter(_ => i == 0).map(u =>
            (u.name, u.columns.mkString(","), col("__ord_peers"), "1 copy",
              u.severity, col("__ord_peers") > 1 && col("__ord_first")))
        Validator.explodeChecks(stats, check.keyCol, check.orderCol, checks)
      }
  }

  /** Violations and per-conversation verdicts of `check`'s RollingZDrift
    * and fused UniqueKey constraints.
    */
  def validate(df: DataFrame, check: Check,
      chunk: Int = Windows.DefaultChunk): (DataFrame, DataFrame) = {
    val violations = rollingZViolations(df, check, chunk).reduce(_ unionByName _)
    (violations, Validator.conversationVerdicts(df, check.keyCol,
      verdictConstraints(check), violations))
  }

  /** The (constraint, max rate) pairs `validate()` verdicts per conversation
    * for a check of RollingZDrift and fused UniqueKey constraints.
    */
  def verdictConstraints(check: Check): Seq[(String, Double)] =
    (check.constraints.collect { case c: RollingZDrift => c.name } ++
      Validator.fusedUniqueKey(check).map(_.name)).map((_, 0.0))
}
