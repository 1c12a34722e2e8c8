package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan shape gates: the properties that make the operators hold
  * at 100 TB — predicate pushdown into the parquet scan, column pruning,
  * map-side partial aggregation, and broadcast of by-contract-small join
  * sides — asserted on actual plans, so a refactor that silently loses one
  * fails the suite here instead of melting a cluster.
  */
class PlanSpec extends GraftSuite {

  /** Materialize first so AQE settles on the final physical plan. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q01: predicates pushed to the parquet scan, widest column pruned") {
    val df = SparkEntry.queries("q01_scan_project_filter")(spark, sfTiny)
    // read the scan node's metadata directly — the plan's toString
    // truncates the PushedFilters list
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no parquet scan in the plan"))
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("IsNotNull(value)"), pushed)
    assert(pushed.contains("In(event_type"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(ts"), pushed)
    assert(pushed.contains("LessThan(ts"), pushed)
    // column pruning: props (the widest column) must not reach the scan
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols == Set("event_id", "user_id", "event_type", "value", "ts"),
      s"scan reads $readCols")
  }

  test("q02: partial (map-side) aggregation before the exchange") {
    val df = SparkEntry.queries("q02_summary_agg")(spark, sfTiny)
    val s = finalPlan(df)
    val aggs = "HashAggregate".r.findAllIn(s).size
    assert(aggs >= 2, s"expected partial+final aggregates, saw $aggs:\n$s")
    assert(s.contains("Exchange hashpartitioning(user_id"), s)
  }

  test("q37 brute force: the small query set is broadcast against the corpus") {
    val df = SparkEntry.queries("q37_cosine_topk")(spark, sfTiny)
    val s = finalPlan(df)
    assert(s.contains("BroadcastExchange"), s)
    assert(s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q60 IVF: candidate generation is a broadcast equi-join on the cell id") {
    val df = SparkEntry.queries("q60_ann_ivf")(spark, sfTiny)
    val s = finalPlan(df)
    assert(s.contains("BroadcastHashJoin [cell"), s)
  }

  test("vector row check (q102's engine path): a pure projection — no exchange, one scan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val e = graft.sources.Tables.embeddings(spark, sfTiny)
    val out = graft.streaming.StreamingRowChecks.violations(e,
      graft.dsl.Check("v", Seq(graft.dsl.VectorShape("embedding",
        dim = Some(64), normLo = Some(0.5), normHi = Some(1.5))),
        keyCol = "vec_id", orderCol = "vec_id"))
    out.collect()
    val plan = out.queryExecution.executedPlan
    assert(plan.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"stateless vector check must not shuffle:\n$plan")
    val scans = plan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.size == 1, s"expected exactly one parquet scan:\n$plan")
  }

  test("q52 flagship: the text column never rides a shuffle") {
    // AQE wraps exchanges in opaque query stages — disable it for this
    // one plan inspection so the tree walk sees every ShuffleExchangeExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry
        .queries("q52_validation_suite_classical")(spark, sfTiny)
      val shuffledCols = df.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s.child.output.map(_.name)
      }.flatten.toSet
      assert(shuffledCols.nonEmpty, "expected at least one shuffle")
      assert(!shuffledCols.exists(_.contains("text")),
        s"text rides a shuffle: $shuffledCols")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q70 session-gap constraint: text never rides the keyed-window shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q70_session_gap_violations")(spark, sfTiny)
      // the Validator persists its violation union, so the window shuffle
      // lives in the CACHED plan behind InMemoryTableScan — walk into it
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      val plans = df.queryExecution.executedPlan +: df.queryExecution
        .executedPlan.collect { case s: InMemoryTableScanExec =>
          s.relation.cachedPlan }
      val shuffledCols = plans.flatMap(_.collect {
        case s: ShuffleExchangeExec => s.child.output.map(_.name)
      }.flatten).toSet
      assert(shuffledCols.nonEmpty, "expected the keyed window shuffle")
      assert(!shuffledCols.exists(_.contains("text")),
        s"text rides a shuffle: $shuffledCols")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q71 as-of integrity: broadcast tier — the fact side is never shuffled") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry
        .queries("q71_asof_integrity_violations")(spark, sfTiny)
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      val plans = df.queryExecution.executedPlan +: df.queryExecution
        .executedPlan.collect { case s: InMemoryTableScanExec =>
          s.relation.cachedPlan }
      assert(plans.exists(_.toString.contains("BroadcastHashJoin")),
        "as-of resolution should be a broadcast hash join")
      // the only exchanges allowed are on the (small) dim/violation side;
      // the pruned fact projection (conv_id, turn_idx, ts, role) must not
      // carry text through any exchange to resolve snapshots
      val shuffledCols = plans.flatMap(_.collect {
        case s: ShuffleExchangeExec => s.child.output.map(_.name)
      }.flatten).toSet
      assert(!shuffledCols.exists(_.contains("text")),
        s"text rides a shuffle: $shuffledCols")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q76 sequence grammar: text never rides the fused sequence-pass shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q76_transition_violations")(spark, sfTiny)
      val plans = df.queryExecution.executedPlan +: df.queryExecution
        .executedPlan.collect { case s: InMemoryTableScanExec =>
          s.relation.cachedPlan }
      val shuffledCols = plans.flatMap(_.collect {
        case s: ShuffleExchangeExec => s.child.output.map(_.name)
      }.flatten).toSet
      assert(shuffledCols.nonEmpty, "expected the keyed sequence shuffle")
      assert(!shuffledCols.exists(_.contains("text")),
        s"text rides a shuffle: $shuffledCols")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q73 OPH signatures: partial agg, exactly ONE exchange, of doc-id+mins only") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry
        .queries("q73_minhash_oph_signatures")(spark, sfTiny)
      val plan = df.queryExecution.executedPlan
      val exchanges = plan.collect { case s: ShuffleExchangeExec => s }
      assert(exchanges.length == 1,
        s"OPH is a single-exchange plan, saw ${exchanges.length}:\n$plan")
      // map-side combine: the exchange input is one combined row per
      // (partition, doc) — doc_id + bucket mins, never shingle rows
      val cols = exchanges.head.child.output.map(_.name)
      assert(cols.contains("doc_id") && !cols.contains("h") &&
        cols.length >= 64, s"exchange carries ${cols.length} cols: $cols")
      assert(plan.toString.contains("HashAggregate"), plan.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q82 contiguous index: one partial-agg pass; text never rides the exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q82_contiguous_violations")(spark, sfTiny)
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      val plans = df.queryExecution.executedPlan +: df.queryExecution
        .executedPlan.collect { case s: InMemoryTableScanExec =>
          s.relation.cachedPlan }
      val exchanges = plans.flatMap(_.collect {
        case s: ShuffleExchangeExec => s })
      // map-side combine below every exchange, and only (key, ord)-derived
      // columns ride it — never the text payload
      val shuffled = exchanges.flatMap(_.child.output.map(_.name)).toSet
      assert(shuffled.nonEmpty, "expected the census aggregation exchange")
      assert(!shuffled.exists(_.contains("text")),
        s"text rides a shuffle: $shuffled")
      assert(plans.exists(_.toString.contains("HashAggregate")),
        "expected a hash aggregation census")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q103 turn-count census: one hash-agg pass; only the key rides the exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q103_turn_count_violations")(spark, sfTiny)
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      val plans = df.queryExecution.executedPlan +: df.queryExecution
        .executedPlan.collect { case s: InMemoryTableScanExec =>
          s.relation.cachedPlan }
      val exchanges = plans.flatMap(_.collect {
        case s: ShuffleExchangeExec => s })
      val shuffled = exchanges.flatMap(_.child.output.map(_.name)).toSet
      assert(shuffled.nonEmpty, "expected the census aggregation exchange")
      // the count census aggregates (key, count) only — the text payload
      // and the measure column must never ride the exchange
      assert(!shuffled.exists(n => n.contains("text") || n.contains("value")),
        s"payload rides the census shuffle: $shuffled")
      assert(plans.exists(_.toString.contains("HashAggregate")),
        "expected a hash aggregation census")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q40 minhash: the reused signature subplan is persisted (scanned once)") {
    val df = SparkEntry.queries("q40_minhash_lsh")(spark, sfTiny)
    val s = finalPlan(df)
    // the r4 persist fix: without it the signature agg recomputes 3x
    // (ReuseExchange does not reliably fire) — 30s -> 8s at sf0.1
    assert(s.contains("InMemoryTableScan"),
      "signature subplan not persisted — the q40 3x-recompute regression")
    spark.sharedState.cacheManager.clearCache()
  }

  /** Runs turn-rate drift with `method` over `t` (60 conversations; the
    * caller turns AQE off) and gates the plan of the ONE persisted scored
    * frame that both outputs read: at most `maxExchanges` exchanges, no
    * typed-key AppendColumns, no sort-merge join.
    */
  private def driftPlanGate(t: DataFrame, method: String,
      maxExchanges: Int): Unit = {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val c = graft.dsl.TurnRateDrift(bucket = "1 minute", period = 7,
      method = method)
    val (violations, verdicts, cached) =
      compile.Validator.turnRateDrift(t, graft.dsl.Check("drift", Seq(c)), c)
    assert(cached.size == 1, s"$method drift persisted ${cached.size} frames")
    assert(verdicts.count() == 60 && violations.count() >= 0)
    // both outputs read the persisted scored frame — walk into its plan
    for (out <- Seq(violations, verdicts)) {
      val top = out.queryExecution.executedPlan
      val scans = top.collect { case s: InMemoryTableScanExec => s }
      assert(scans.size == 1, s"expected one cached-frame scan:\n$top")
      val scored = scans.head.relation.cachedPlan
      val exchanges = scored.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size <= maxExchanges,
        s"${exchanges.size} exchanges in the $method drift plan:\n$scored")
      assert(!scored.exists(_.nodeName.startsWith("AppendColumns")),
        s"typed-key AppendColumns in the $method drift plan:\n$scored")
      for (p <- Seq(top, scored))
        assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
          s"sort-merge join in the $method drift plan:\n$p")
    }
    cached.foreach(_.unpersist())
  }

  test("turn-rate drift: one grouped kernel — at most 2 exchanges, no sort-merge join, one cached frame") {
    val cacheManager = spark.sharedState.cacheManager
    cacheManager.clearCache()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val t = sources.TranscriptGen.generate(spark, nConvs = 60, baseTurns = 30)
      // classical keeps the bucket aggregate its window decomposition reads
      driftPlanGate(t, "classical", maxExchanges = 2)
      // through validate(): the violation union plus the ONE scored frame,
      // and unpersistAll() releases everything validate() cached
      val c = graft.dsl.TurnRateDrift(bucket = "1 minute", period = 7)
      val r = compile.Validator.validate(t, graft.dsl.Check("drift", Seq(c)))
      assert(r.verdicts.count() > 0 && r.violations.count() >= 0)
      assert(r.cached.size == 2, s"Result.cached holds ${r.cached.size} frames")
      r.unpersistAll()
      assert(cacheManager.isEmpty, "unpersistAll() left cached plans behind")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("turn-rate drift, stl: the kernel counts its own buckets — ONE exchange, no AppendColumns") {
    spark.sharedState.cacheManager.clearCache()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val t = sources.TranscriptGen.generate(spark, nConvs = 60, baseTurns = 30)
      driftPlanGate(t, "stl", maxExchanges = 1)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("row flags: the explode over the scan sits above a Filter holding the OR of the checks") {
    import org.apache.spark.sql.catalyst.expressions.Or
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.dsl.{Check, InSet, MatchesRegex, NotNull, ValueBounds}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_rowflags").toString
      sources.TranscriptGen.generate(spark, nConvs = 60, baseTurns = 30)
        .write.mode("overwrite").parquet(dir)
      val r = compile.Validator.validate(spark.read.parquet(dir), Check("rows", Seq(
        NotNull("text"), MatchesRegex("conv_id", "^conv_[0-9]{8}$"),
        ValueBounds("turn_idx", Some(0), Some(100)),
        InSet("role", Seq("user", "assistant", "system", "tool")))))
      try {
        assert(r.violations.count() > 0)
        // the violation union is persisted: walk into the cached plans too
        def nodes(p: SparkPlan): Seq[SparkPlan] = p.flatMap {
          case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
          case n => Seq(n)
        }
        val all = nodes(r.violations.queryExecution.executedPlan)
        val generates = all.collect { case g: GenerateExec => g }
        assert(generates.size == 1, s"expected one explode:\n${all.head}")
        // the interpreted ArrayFilter only sees the rows the prefilter kept
        val under = nodes(generates.head.child)
        assert(under.exists(_.isInstanceOf[FileSourceScanExec]),
          s"the explode does not read the scan:\n${generates.head}")
        val prefilters = under.collect {
          case f: FilterExec if f.condition.exists(_.isInstanceOf[Or]) &&
            Set("text", "conv_id", "turn_idx", "role")
              .subsetOf(f.condition.references.map(_.name).toSet) => f
        }
        assert(prefilters.nonEmpty,
          s"no OR-of-checks filter under the explode:\n${generates.head}")
      } finally r.unpersistAll()
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("rolling-z + fused UniqueKey: one sorted kernel — 1 exchange, 1 sort, no window; none added over a key-partitioned input") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions._
    import graft.dsl.{Check, RollingZDrift, UniqueKey}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val t = sources.TranscriptGen.generate(spark, nConvs = 60, baseTurns = 30)
      def check(column: String) = Check("rz", Seq(
        UniqueKey(Seq("conv_id", "turn_idx")), RollingZDrift(column, 24, 3.0)))
      def plan(df: DataFrame) = df.queryExecution.executedPlan
      def exchanges(df: DataFrame) =
        plan(df).collect { case e: ShuffleExchangeExec => e }

      // a plain frame: the kernel's own exchange and sort, and nothing else
      val plain = t.withColumn("v",
        pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(100L)).cast("double"))
      val Seq(flags) = compile.Validator.rollingZViolations(plain, check("v"))
      flags.collect()
      val shuffled = exchanges(flags).flatMap(_.child.output.map(_.name))
      assert(exchanges(flags).size == 1, s"exchanges:\n${plan(flags)}")
      assert(plan(flags).collect { case s: SortExec => s }.size == 1,
        s"sorts:\n${plan(flags)}")
      assert(plan(flags).collect { case w: WindowExec => w }.isEmpty,
        s"window operators:\n${plan(flags)}")
      assert(!shuffled.exists(_.contains("text")),
        s"text rides a shuffle: $shuffled")

      // the bench suite's lag-window input is already partitioned by key
      val gapped = t.withColumn("turn_gap_s",
        (unix_timestamp(col("ts")) - lag(unix_timestamp(col("ts")), 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("conv_id"))
            .orderBy(col("turn_idx")))).cast("double"))
      val Seq(gapFlags) =
        compile.Validator.rollingZViolations(gapped, check("turn_gap_s"))
      gapFlags.collect()
      assert(exchanges(gapFlags).size == exchanges(gapped).size,
        s"the pass added an exchange:\n${plan(gapFlags)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q91 suggestion census: ONE fused agg pass; string distincts ride a digest, not the text") {
    val t = sources.Tables.transcripts(spark, sfTiny)
    val df = graft.compile.Suggestions.censusFrame(t)
    val s = finalPlan(df)
    // partial + final aggregates around the (Expand-multiplied) exchange
    assert("HashAggregate".r.findAllIn(s).size >= 2, s)
    assert(s.contains("Expand"), "multi-column exact distinct should Expand")
    // the digest reduction: text's distinct counts md5(text), never text —
    // the projection under the aggregate carries the md5, so the wide
    // payload dies before the exchange
    assert(s.contains("md5(cast(text"), s)
  }

  test("q94 ratio census: the text tuple rides the exchange as a digest, never raw") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // flat frame: the transcripts VIEW shuffles text for its own
      // turn_idx window and would mask the property under test
      import spark.implicits._
      val t = Seq(("a", "payload one"), ("b", "payload two"),
        ("c", "payload one")).toDF("conv_id", "text")
      val census = graft.compile.Validator.ratioCensusFrame(t, Seq("text"))
      census.collect()
      val exchanges = census.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, "expected the census aggregation exchange")
      val shuffledTypes = exchanges.flatMap(_.child.output.map(a =>
        a.name -> a.dataType.simpleString))
      // every exchanged column derived from text is the 32-char md5, and
      // no raw `text` attribute survives to any exchange
      assert(!shuffledTypes.exists(_._1 == "text"),
        s"raw text rides a shuffle: $shuffledTypes")
      // executed plan folds the digest into the local scan; the analyzed
      // plan still shows the md5 grouping key
      assert(census.queryExecution.analyzed.toString.contains("md5"),
        "digest reduction missing from the census plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q93 parsable row check: a pure shuffle-free projection (streaming-legal)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // a flat frame: the transcripts VIEW would contribute its own
      // turn_idx-derivation shuffle and mask the property under test
      import spark.implicits._
      val t = Seq(("a", 0, "42"), ("a", 1, "x"))
        .toDF("conv_id", "turn_idx", "maybe_num")
      val v = graft.streaming.StreamingRowChecks.violations(t,
        graft.dsl.Check("p",
          Seq(graft.dsl.ParsableAs("maybe_num", "int"))))
      v.collect()
      val exchanges = v.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }
      assert(exchanges.isEmpty,
        s"row-level try_cast must not shuffle: ${v.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q100 quality row check: a pure shuffle-free projection (streaming-legal)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import spark.implicits._
      val t = Seq(("a", 0, "the quick brown fox"), ("a", 1, "@@@@"))
        .toDF("conv_id", "turn_idx", "txt")
      val v = graft.streaming.StreamingRowChecks.violations(t,
        graft.dsl.Check("q",
          Seq(graft.dsl.MinTextQuality("txt", minScore = 0.5))))
      v.collect()
      val exchanges = v.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }
      assert(exchanges.isEmpty,
        s"row-level quality score must not shuffle: ${v.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("language-share census: langId pre-projected ONCE per column in the fused agg") {
    // three bounded langs on one column must ride ONE __langpred__txt
    // pre-projection (lambda subtrees are excluded from Catalyst CSE — a
    // per-(column,lang) langId fold would re-walk the token array once
    // per configured language, per row). The stats collect runs inside
    // validate(), so the gate reads its plan from the SQL UI store: the
    // aggregation execution must reference the pre-projected column, and
    // the de-marker literal 'nicht' (which appears only inside the ONE
    // langId fold) must not be multiplied across lang bounds.
    import spark.implicits._
    val store = spark.sharedState.statusStore
    val before = store.executionsList().map(_.executionId).toSet
    val t = Seq(("a", 0, "the cat is here"), ("a", 1, "der hund ist da"))
      .toDF("conv_id", "turn_idx", "txt")
    val r = graft.compile.Validator.validate(t, graft.dsl.Check("l", Seq(
      graft.dsl.LanguageShare("txt", "en", lo = 0.0),
      graft.dsl.LanguageShare("txt", "de", lo = 0.0),
      graft.dsl.LanguageShare("txt", "und", hi = 1.0))))
    assert(r.verdicts.where(org.apache.spark.sql.functions.col("constraint")
      .startsWith("lang_share")).count() == 3)
    r.unpersistAll()
    // the UI store fills asynchronously — poll briefly for the agg plan
    def aggPlans(): Seq[String] = store.executionsList()
      .filterNot(e => before(e.executionId))
      .map(_.physicalPlanDescription)
      .filter(_.contains("__langpred__txt"))
    var tries = 0
    while (aggPlans().isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
    val plan = aggPlans().headOption.getOrElse(
      fail("no execution referencing __langpred__txt — pre-projection lost"))
    val folds = "nicht".r.findAllIn(plan).size
    assert(folds <= 1,
      s"langId fold instantiated $folds times for 3 lang bounds on one column")
  }

  test("Drift.psi / Drift.ks: the census exchange, then one sorted kernel — no window, no join, no cache") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val sided = spark.range(0, 400).select(
        (col("id") % 4).as("k"), (col("id") % 37).cast("double").as("v"),
        when(col("id") % 2 === 0, "baseline").otherwise("current").as("side"))
      for (df <- Seq(series.Drift.psi(sided, "v", "side", Seq("k")),
          series.Drift.ks(sided, "v", "side", Seq("k")))) {
        df.collect()
        val plan = df.queryExecution.executedPlan
        // the census aggregate's exchange on (key, value), under its
        // partial aggregate, and the kernel's on the key alone
        val keys = plan.collect { case e: ShuffleExchangeExec =>
          e.outputPartitioning.asInstanceOf[HashPartitioning].expressions
            .map(_.asInstanceOf[AttributeReference].name) }
        assert(keys == Seq(Seq("k"), Seq("k", "v")), s"exchanges:\n$plan")
        assert(plan.collect { case w: WindowExec => w }.isEmpty, s"window:\n$plan")
        assert(plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
          s"broadcast join:\n$plan")
        assert(plan.collect { case m: InMemoryTableScanExec => m }.isEmpty,
          s"cached relation:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("DistributionDrift with maxKs: PSI and KS in ONE collect, census never persisted") {
    import spark.implicits._
    import graft.dsl.{Check, DistributionDrift}
    val store = spark.sharedState.statusStore
    val before = store.executionsList().map(_.executionId).toSet
    val cur = (0 until 300).map(i => ("c", i, (i % 50).toDouble + 3.0))
      .toDF("conv_id", "turn_idx", "value")
    val ctx = compile.Validator.Context(Map(
      "ref" -> (0 until 300).map(i => (i % 50).toDouble).toDF("v")))
    val r = compile.Validator.validate(cur, Check("dd", Seq(
      DistributionDrift("value", "ref", "v", maxPsi = 0.0, maxKs = Some(0.0)))), ctx)
    assert(r.violations.where(org.apache.spark.sql.functions.col("constraint")
      .startsWith("dist_drift")).count() == 2)
    r.unpersistAll()
    // the UI store fills asynchronously, in event order: once a marker
    // action run after validate() shows up, every execution of validate()
    // has been recorded, so a late second census execution is counted too
    spark.range(1).select(org.apache.spark.sql.functions.lit("__settled__")
      .as("m")).collect()
    def newPlans(): Seq[String] = store.executionsList()
      .filterNot(e => before(e.executionId)).map(_.physicalPlanDescription)
    var tries = 0
    while (!newPlans().exists(_.contains("__settled__")) && tries < 100) {
      Thread.sleep(100); tries += 1
    }
    assert(newPlans().exists(_.contains("__settled__")), "marker never recorded")
    val plans = newPlans().filter(_.contains("__ksv"))
    assert(plans.size == 1, s"${plans.size} executions read the census")
    assert(!plans.head.contains("InMemory"), s"persisted census:\n${plans.head}")
  }

  test("Dedup.simhash: the signature aggregate holds ONE aggregate function") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = sources.Tables.documents(spark, sfTiny)
      for (sims <- Seq(dedup.Dedup.simhash(docs, "doc_id", "text"),
          dedup.Dedup.simhashReproducible(docs, "doc_id", "text"))) {
        sims.collect()
        val plan = sims.queryExecution.executedPlan
        val aggs = plan.collect { case a: BaseAggregateExec => a }
        // the partial and the final half of the one vote-sum aggregate
        assert(aggs.size == 2, s"aggregates:\n$plan")
        for (a <- aggs)
          assert(a.aggregateExpressions.size == 1, s"aggregate:\n$a")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
