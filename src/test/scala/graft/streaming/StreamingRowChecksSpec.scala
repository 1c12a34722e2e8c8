package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.compile.Validator
import graft.dsl._

/** The stateless streaming pass must emit EXACTLY the batch Validator's
  * row-level violation rows (it compiles through the same site), stay a
  * pure projection (append mode, no state), and REFUSE constraints it
  * cannot evaluate rather than silently dropping them.
  */
object StreamingRowChecksSpec {
  // top-level: Spark can't build an Encoder for a suite-inner class
  final case class T(conv_id: String, turn_idx: Int, role: Option[String],
      text: Option[String], v: Option[Double],
      emb: Option[Seq[Float]] = Some(Seq(0.6f, 0.8f)))
}

class StreamingRowChecksSpec extends GraftSuite {
  import spark.implicits._
  import StreamingRowChecksSpec.T

  // exercises every stateless family: a null role (NotNull), an illegal
  // role (InSet), a malformed conv-shaped text (MatchesRegex), an
  // out-of-bounds value (ValueBounds), a compliance row that is FALSE and
  // one that is NULL (fails closed)
  private val turns = Seq(
    T("c1", 0, Some("user"), Some("t_0"), Some(1.0)),
    T("c1", 1, None, Some("t_1"), Some(2.0)),
    T("c1", 2, Some("robot"), Some("t_2"), Some(3.0)),
    T("c2", 0, Some("assistant"), Some("oops"), Some(-9.0)),
    T("c2", 1, Some("assistant"), Some("t_1"), None), // pred: null OR false = null
    T("c2", 2, Some("user"), None, Some(0.5)),
    T("c3", 0, Some("user"), Some("mail me at a@b.io"), Some(1.0)), // NoPii
    // VectorShape: a truncated embedding and a NaN-poisoned one must flag
    // in-stream with the legs observed (and the NaN norm-leg guard held)
    T("c3", 1, Some("user"), Some("t_9"), Some(1.0), Some(Seq(1.0f))),
    T("c3", 2, Some("user"), Some("t_10"), Some(1.0),
      Some(Seq(Float.NaN, 1.0f))),
    // the text InSet below lists a null, so a text outside it has a NULL
    // flag: beside a true ValueBounds flag, and beside a false one
    T("c4", 0, Some("user"), Some("t_7"), Some(9.0)),
    T("c4", 1, Some("assistant"), Some("t_8"), Some(1.0)))

  private val check = Check("rows", Seq(
    NotNull("role"),
    InSet("role", Seq("user", "assistant", "system", "tool")),
    MatchesRegex("text", "^t_\\d+$"),
    ValueBounds("v", Some(0.0), Some(5.0)),
    Compliance("v_or_user", "v >= 0 OR role = 'user'"),
    // the seventh stateless family: "oops"/"robot" don't cast, "t_N" and
    // nulls don't violate (nulls are NotNull's finding)
    ParsableAs("role", "int", maxFailRate = 1.0),
    // the eighth: c3's email must flag in-stream with the KIND observed
    NoPii("text"),
    // the ninth: every "t_N" fixture text is junk-short (score ~0.2), so
    // the quality floor flags it in-stream with the SCORE observed
    MinTextQuality("text", minScore = 0.3, maxFailRate = 1.0),
    // the tenth: embedding well-formedness (dim + NaN element legs)
    VectorShape("emb", dim = Some(2), normLo = Some(0.5),
      normHi = Some(1.5), maxFailRate = 1.0),
    // the eleventh: length bounds — "oops" (4) passes [3, 12], the long
    // email text flags in-stream with the LENGTH observed
    LengthBounds("text", lo = Some(3L), hi = Some(12L),
      maxFailRate = 1.0),
    // `text IN ('t_0', 't_1', NULL)` is null, never false, for any other
    // text: the flag is null, and a null flag emits no row
    InSet("text", Seq("t_0", "t_1", null), maxFailRate = 1.0)))

  private type VRow = (String, String, Int, String, String, String)

  private def batchRows: Set[VRow] = {
    val r = Validator.validate(
      turns.toDF("conv_id", "turn_idx", "role", "text", "v", "emb"), check)
    val rows = r.violations
      .select("constraint", "conv_id", "turn_idx", "column", "observed", "bound")
      .as[VRow].collect().toSet
    r.unpersistAll()
    rows
  }

  test("streaming row checks == batch row-flags pass, byte-for-byte rows") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[T]
    val out = StreamingRowChecks.violations(input.toDS().toDF(), check)
    val q = out.writeStream.format("memory").queryName("row_out")
      .outputMode("append").start()
    try {
      val (b1, b2) = turns.partition(_.conv_id == "c1")
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("row_out")
        .select("constraint", "conv_id", "turn_idx", "column", "observed", "bound")
        .as[VRow].collect().toSet
      val expected = batchRows
      // the fixture must exercise every stateless family, null-compliance
      // fails-closed included
      assert(Set("not_null", "in_set", "matches", "bounds", "compliance",
          "no_pii", "min_quality", "vector_shape", "length(")
        .forall(k => expected.exists(_._1.startsWith(k))),
        s"weak fixture: $expected")
      // both vector legs fired, and the NaN row observed ONLY the
      // element leg (the norm-leg guard held in-stream)
      assert(expected.exists(r => r._1.startsWith("vector_shape") &&
        r._5 == "dim=1"), s"fixture lost the dim leg: $expected")
      assert(expected.exists(r => r._1.startsWith("vector_shape") &&
        r._5 == "element"), s"fixture lost the element leg: $expected")
      assert(expected.exists(r => r._1.startsWith("compliance") && r._5 == null),
        s"fixture lost the null-predicate row: $expected")
      assert(got == expected, s"streaming $got vs batch $expected")

      // the rows emitted are exactly the (row, check) pairs whose flag is
      // TRUE: the row-flag prefilter ORs the flags, and a null flag must
      // neither emit a row nor hide a true flag of the same row
      val df = turns.toDF("conv_id", "turn_idx", "role", "text", "v", "emb")
      val flags = Validator.compileStateless(check.constraints).flatMap(sc =>
        df.select(col("conv_id"), col("turn_idx"), sc.violated)
          .as[(String, Int, Option[Boolean])].collect()
          .map { case (conv, turn, v) => (sc.name, conv, turn, v) })
      def flagsOf(conv: String, turn: Int) =
        flags.filter(f => f._2 == conv && f._3 == turn).map(_._4).toSet
      assert(flagsOf("c4", 0) == Set(None, Some(true), Some(false)) &&
        flagsOf("c4", 1).contains(None), s"weak null-flag fixture: $flags")
      val trueFlags = flags.collect {
        case (name, conv, turn, Some(true)) => (name, conv, turn) }.toSet
      for ((side, rows) <- Seq(("batch", expected), ("streaming", got)))
        assert(rows.map(r => (r._1, r._2, r._3)) == trueFlags,
          s"$side rows are not the true flags: $rows vs $trueFlags")
    } finally q.stop()
  }

  test("an empty battery streams zero rows instead of dying in the analyzer") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[T]
    val out = StreamingRowChecks.violations(input.toDS().toDF(),
      Check("empty", Seq.empty))
    val q = out.writeStream.format("memory").queryName("row_empty")
      .outputMode("append").start()
    try {
      input.addData(turns: _*); q.processAllAvailable()
      assert(spark.table("row_empty").count() == 0)
      assert(spark.table("row_empty").columns.toSeq ==
        Seq("constraint", "conv_id", "turn_idx", "column", "observed",
          "bound", "severity"))
    } finally q.stop()
  }

  test("stateful or aggregate constraints are refused, never dropped") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[T]
    val ex = intercept[IllegalArgumentException] {
      StreamingRowChecks.violations(input.toDS().toDF(),
        Check("bad", Seq(NotNull("role"), RollingZDrift("v"),
          MeanBetween("v", 0, 1))))
    }
    assert(ex.getMessage.contains("rolling_z(v)") &&
      ex.getMessage.contains("mean(v)"), ex.getMessage)
  }

  test("the streaming plan is stateless: no state store operators") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[T]
    val out = StreamingRowChecks.violations(input.toDS().toDF(), check)
    val q = out.writeStream.format("memory").queryName("row_plan")
      .outputMode("append").start()
    try {
      input.addData(turns: _*); q.processAllAvailable()
      val plan = q.lastProgress.sources.length +
        q.lastProgress.stateOperators.length
      assert(q.lastProgress.stateOperators.isEmpty,
        s"unexpected state operators: ${q.lastProgress.stateOperators.mkString}")
      assert(plan == 1) // one source, zero state operators
    } finally q.stop()
  }
}
