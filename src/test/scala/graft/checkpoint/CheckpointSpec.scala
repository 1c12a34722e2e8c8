package graft.checkpoint

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.GraftSuite
import graft.compile.{StatsState, Validator}
import graft.dsl._
import graft.sources.{Tables, TranscriptGen}

class CheckpointSpec extends GraftSuite {
  import spark.implicits._

  lazy val transcripts = TranscriptGen.generate(spark, nConvs = 60,
    baseTurns = 30).cache()
  lazy val ctx = Validator.Context(Map("role_dim" -> Tables.roleDim(spark)))
  lazy val check = Check("cp", Seq(
    UniqueKey(Seq("conv_id", "turn_idx")),
    ReferentialIntegrity("role", "role_dim", "role"),
    NotNull("text"),
    MinRows(100),
    DistinctCountBetween("conv_id", 50, 70),
    QuantileBetween("turn_idx", 0.5, 0.0, 10000.0)))
  // ~30 one-minute buckets per conversation: the STL kernel runs per slice;
  // the rolling z-score of the turn gap fuses the UniqueKey census into
  // its sorted kernel
  lazy val driftCheck = check.copy(constraints = check.constraints ++ Seq(
    TurnRateDrift(bucket = "1 minute", period = 7, residThreshold = 1.5),
    RollingZDrift("turn_gap_s", window = 8, threshold = 2.0)))
  // the bench suite's derived measure: seconds since the previous turn
  lazy val gapped = transcripts.withColumn("turn_gap_s",
    (unix_timestamp(col("ts")) - lag(unix_timestamp(col("ts")), 1).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("conv_id"))
        .orderBy(col("turn_idx")))).cast("double"))

  test("kill-after-k restart merges to single-run results") {
    val dir = Files.createTempDirectory("graft_cp").toString
    val r1 = new ResumableValidation(spark, dir, partitions = 4)
    // first attempt dies after 2 partitions
    assert(r1.run(gapped, driftCheck, ctx, maxPartitionsThisRun = 2).isEmpty)
    assert((0 until 4).count(r1.isDone) == 2)
    // restart: fresh instance, same checkpoint dir — finishes the rest
    val r2 = new ResumableValidation(spark, dir, partitions = 4)
    val Some((violations, verdicts, metrics)) =
      r2.run(gapped, driftCheck, ctx)
    assert(metrics.size == 4 && metrics.map(_.rows).sum == transcripts.count())

    // equals a single-shot run of the conversation-scoped constraints
    val single = Validator.validate(gapped, driftCheck.copy(constraints =
      driftCheck.constraints.filter {
        case _: UniqueKey | _: ReferentialIntegrity | _: NotNull |
            _: TurnRateDrift | _: RollingZDrift => true
        case _ => false
      }), ctx)
    val a = violations.orderBy("constraint", "conv_id", "turn_idx", "observed")
      .collect().toSeq
    val b = single.violations.orderBy("constraint", "conv_id", "turn_idx", "observed")
      .collect().toSeq
    assert(a == b, s"violations differ: ${a.size} vs ${b.size}")
    // per-conversation drift verdicts: sliced-then-merged == one shot
    def drift(v: org.apache.spark.sql.DataFrame) =
      v.where(col("constraint") === "turn_rate_drift")
        .orderBy("partition_key").collect().toSeq
    val (da, db) = (drift(verdicts), drift(single.verdicts))
    assert(da.size == 60 && da == db, s"drift verdicts differ: ${da.size} vs ${db.size}")
    assert(a.exists(_.getString(0) == "turn_rate_drift") &&
      da.exists(!_.getBoolean(2)), "drift compared nothing")
    assert(a.exists(_.getString(0) == "rolling_z(turn_gap_s)") &&
      a.exists(_.getString(0).startsWith("unique(")),
      "rolling-z or the fused duplicate-key census compared nothing")
    single.unpersistAll()

    // aggregate verdicts from merged sketch state match full-data evaluation
    val aggV = verdicts.where(col("partition_key") === "(global)")
      .select("constraint", "pass").as[(String, Boolean)].collect().toMap
    assert(aggV("min_rows(100)") && aggV("distinct(conv_id)") &&
      aggV("quantile(turn_idx,0.5)"))
  }

  test("rerun on a completed checkpoint is a no-op (idempotent resume)") {
    val dir = Files.createTempDirectory("graft_cp2").toString
    val r = new ResumableValidation(spark, dir, partitions = 3)
    val first = r.run(transcripts, check, ctx)
    assert(first.nonEmpty)
    val again = r.run(transcripts, check, ctx)
    assert(again.nonEmpty)
    assert(first.get._1.count() == again.get._1.count())
  }

  test("snapshot pinning: files added after pin are invisible on read") {
    val dir = Files.createTempDirectory("graft_snap").toString
    transcripts.limit(100).write.parquet(s"$dir/data")
    val manifest = s"$dir/manifest.json"
    val pinned = SnapshotTable.pin(spark, s"$dir/data", manifest)
    assert(pinned.nonEmpty)
    val before = SnapshotTable.read(spark, manifest).count()
    // late-arriving file
    transcripts.limit(50).coalesce(1).write.mode("append").parquet(s"$dir/data")
    val afterDir = spark.read.parquet(s"$dir/data").count()
    val afterPin = SnapshotTable.read(spark, manifest).count()
    assert(afterDir == before + 50)
    assert(afterPin == before, "pinned read must not see late files")
  }

  test("slices read only their own staged files (one-scan resume layout)") {
    val dir = Files.createTempDirectory("graft_cp3").toString
    val r = new ResumableValidation(spark, dir, partitions = 4)
    assert(r.run(transcripts, check, ctx, maxPartitionsThisRun = 1).isEmpty)
    // staging happened once, directory-per-slice
    val staged = spark.read.parquet(s"$dir/staging")
    // input_file_name over EXECUTED rows = files actually read after
    // partition pruning (DataFrame.inputFiles ignores filters)
    val allFiles = staged.select(input_file_name()).distinct().count()
    val sliceFiles = staged.where(col("__slice") === 0)
      .select(input_file_name()).distinct().count()
    assert(sliceFiles < allFiles,
      s"slice scan reads $sliceFiles of $allFiles files — no pruning")
    assert(staged.inputFiles.forall(_.contains("__slice=")))
    // resume completes from the staged layout and matches a direct count
    val Some((_, _, metrics)) = new ResumableValidation(spark, dir, 4)
      .run(transcripts, check, ctx)
    assert(metrics.map(_.rows).sum == transcripts.count())
  }

  test("MinRows-only check still gets a global verdict after resume") {
    val dir = Files.createTempDirectory("graft_cp4").toString
    val only = Check("minrows", Seq(MinRows(100)))
    val r = new ResumableValidation(spark, dir, partitions = 2)
    val Some((_, verdicts, _)) = r.run(transcripts, only, ctx)
    val glob = verdicts.where(col("partition_key") === "(global)")
      .select("constraint", "pass").as[(String, Boolean)].collect().toMap
    assert(glob.get("min_rows(100)").contains(true),
      s"global MinRows verdict missing: $glob")
  }

  test("manifest with a stated count refuses a truncated file list") {
    val dir = Files.createTempDirectory("graft_snap2").toString
    transcripts.limit(10).repartition(3).write.parquet(s"$dir/data")
    val manifest = s"$dir/manifest.json"
    SnapshotTable.pin(spark, s"$dir/data", manifest)
    val json = new String(Files.readAllBytes(java.nio.file.Paths.get(manifest)))
    // corrupt: drop the first file entry (paths have no escapes here) but
    // keep the stated count
    val firstFile = SnapshotTable.jsonStrings(json)
      .filterNot(s => s == "files" || s == "count").head
    val corrupted = json.replace("\"" + firstFile + "\",", "")
    assert(corrupted != json, "corruption must remove an entry")
    Files.write(java.nio.file.Paths.get(manifest), corrupted.getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, manifest)
    }
    assert(ex.getMessage.contains("refusing"))
  }

  test("stats state merge is partition-order independent") {
    val s1 = StatsState.compute(transcripts.where(
      pmod(xxhash64(col("conv_id")), lit(2)) === 0), check)
    val s2 = StatsState.compute(transcripts.where(
      pmod(xxhash64(col("conv_id")), lit(2)) === 1), check)
    val m12 = StatsState.merge(s1.unionByName(s2))
    val m21 = StatsState.merge(s2.unionByName(s1))
    val v12 = StatsState.aggVerdicts(m12, check).orderBy("constraint").collect().toSeq
    val v21 = StatsState.aggVerdicts(m21, check).orderBy("constraint").collect().toSeq
    // verdicts and exact accumulators identical; sketch-derived observables
    // (quantile) agree within t-digest accuracy (union is commutative as a
    // sketch, not bitwise)
    v12.zip(v21).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0) && a.getBoolean(1) == b.getBoolean(1)
        && a.getLong(2) == b.getLong(2))
      val (oa, ob) = (a.getDouble(3), b.getDouble(3))
      assert(math.abs(oa - ob) <= 0.02 * math.max(1.0, math.abs(ob)),
        s"${a.getString(0)}: $oa vs $ob")
    }
    val full = StatsState.aggVerdicts(
      StatsState.merge(StatsState.compute(transcripts, check)), check)
      .orderBy("constraint").collect().toSeq
    assert(v12.map(r => (r.getString(0), r.getBoolean(1))) ==
      full.map(r => (r.getString(0), r.getBoolean(1))))
  }

  test("resume with a different partition count is refused, not silently partial") {
    val dir = Files.createTempDirectory("graft_cp_parts").toString
    val r1 = new ResumableValidation(spark, dir, partitions = 8)
    assert(r1.run(transcripts, check, ctx, maxPartitionsThisRun = 3).isEmpty)
    val r2 = new ResumableValidation(spark, dir, partitions = 4)
    val ex = intercept[IllegalArgumentException] { r2.run(transcripts, check, ctx) }
    assert(ex.getMessage.contains("partitions=8"))
  }

  test("staged data with no _PARTITIONS record refuses instead of silently skipping slices") {
    // simulate a crash between the staging parquet commit and the
    // _PARTITIONS write: a resume with a smaller count would otherwise
    // complete while never validating the tail slices
    val dir = Files.createTempDirectory("graft_cp_noparts").toString
    val r1 = new ResumableValidation(spark, dir, partitions = 4)
    assert(r1.run(transcripts, check, ctx, maxPartitionsThisRun = 1).isEmpty)
    Files.delete(java.nio.file.Paths.get(s"$dir/staging/_PARTITIONS"))
    val r2 = new ResumableValidation(spark, dir, partitions = 2)
    val ex = intercept[IllegalArgumentException] { r2.run(transcripts, check, ctx) }
    assert(ex.getMessage.contains("_PARTITIONS"), ex.getMessage)
  }

  test("withStatsState=false refuses a check whose aggregate verdicts would vanish") {
    val dir = Files.createTempDirectory("graft_cp_nostate").toString
    val r = new ResumableValidation(spark, dir, partitions = 2)
    val ex = intercept[IllegalArgumentException] {
      r.run(transcripts, check, ctx, withStatsState = false)
    }
    assert(ex.getMessage.contains("aggregate-level"))
  }

  test("global-scoped statistical constraints: one global verdict, equal to the direct path") {
    // entropy/uniqueness/dup-rate/non-key-FD are claims about the WHOLE
    // table — a sliced run must not emit P slice-local "(global)" rows
    val globalCheck = Check("gcp", Seq(
      EntropyBetween("role", lo = 0.1, hi = 10.0),
      UniquenessBetween(Seq("text"), lo = 0.0, hi = 1.0),
      MaxDuplicateRate("text", maxRate = 1.0),
      FunctionalDependency(Seq("role"), "tool"), // non-key determinant
      ValueShareBetween("role", "user", 0.0, 1.0), // global mix claim
      TimeBucketCoverage("ts", "day", 1L),       // global span claim
      NotNull("text", maxNullRate = 0.5)))       // rate row check, sliced
    val dir = Files.createTempDirectory("graft_cp_global").toString
    val r = new ResumableValidation(spark, dir, partitions = 4)
    val Some((_, verdicts, _)) = r.run(transcripts, globalCheck, ctx)
    val direct = Validator.validate(transcripts, globalCheck, ctx)
    // exactly ONE verdict row per global constraint, matching the direct
    // validator's answer (pass AND the mergeable counts)
    for (name <- Seq("entropy(role)", "uniqueness(text)",
        "max_dup_rate(text)", "share(role,user)",
        "time_coverage(ts,day)",
        "not_null(text)[global]")) {
      val res = verdicts.where(col("constraint") === name)
        .select("pass", "rows", "violations").collect()
      val exp = direct.verdicts.where(col("constraint") === name)
        .select("pass", "rows", "violations").collect()
      assert(res.length == 1, s"$name: ${res.length} verdict rows")
      assert(res.toSeq == exp.toSeq, s"$name: ${res.toSeq} vs ${exp.toSeq}")
    }
    // non-key FD verdicts also appear once per offending group, not per
    // slice — compare the full fd verdict sets
    val fdRes = verdicts.where(col("constraint").startsWith("fd("))
      .select("partition_key", "pass").collect().toSeq.sortBy(_.toString)
    val fdExp = direct.verdicts.where(col("constraint").startsWith("fd("))
      .select("partition_key", "pass").collect().toSeq.sortBy(_.toString)
    assert(fdRes == fdExp)
    direct.unpersistAll()
  }

  test("VectorShape rate verdict re-aggregates exactly across slices") {
    // the newest rate-bound row check must ride the same slice-count
    // re-aggregation as NotNull: one [global] row, true summed counts
    val df = (0 until 40).map(i => (s"c${i % 8}", i / 8,
        if (i % 5 == 0) Seq(Float.NaN, 1.0f) else Seq(1.0f, 0.0f)))
      .toDF("conv_id", "turn_idx", "emb")
    val vcheck = Check("vs", Seq(
      VectorShape("emb", dim = Some(2), maxFailRate = 0.5)))
    val dir = Files.createTempDirectory("graft_cp_vec").toString
    val r = new ResumableValidation(spark, dir, partitions = 3)
    val Some((_, verdicts, _)) = r.run(df, vcheck, Validator.Context())
    val direct = Validator.validate(df, vcheck, Validator.Context())
    val res = verdicts.where(col("constraint") === "vector_shape(emb)[global]")
      .select("pass", "rows", "violations").collect()
    val exp = direct.verdicts
      .where(col("constraint") === "vector_shape(emb)[global]")
      .select("pass", "rows", "violations").collect()
    assert(res.length == 1, s"${res.length} global verdict rows")
    assert(res.toSeq == exp.toSeq, s"${res.toSeq} vs ${exp.toSeq}")
    // 8/40 poisoned → pass at 0.5 with the true count
    assert(res(0).getBoolean(0) && res(0).getLong(2) == 8L, res.toSeq)
    direct.unpersistAll()
  }

  test("resumable refuses same-named rate constraints (re-aggregation would merge them)") {
    val dup = Check("dup", Seq(
      Compliance("sane", "turn_idx >= 0", maxFailRate = 0.0),
      Compliance("sane", "value >= 0", maxFailRate = 0.1)))
    val dir = Files.createTempDirectory("graft_cp_dup").toString
    val r = new ResumableValidation(spark, dir, partitions = 2)
    val ex = intercept[IllegalArgumentException] {
      r.run(transcripts, dup, ctx)
    }
    assert(ex.getMessage.contains("distinct names") &&
      ex.getMessage.contains("compliance(sane)"))
    // the newest rate-bound family rides the same guard: two VectorShape
    // on one column share a name and would merge [global] verdicts
    val dupVec = Check("dupv", Seq(
      VectorShape("emb", dim = Some(2), maxFailRate = 0.0),
      VectorShape("emb", normHi = Some(1.5), maxFailRate = 0.1)))
    val dir2 = Files.createTempDirectory("graft_cp_dupv").toString
    val r2 = new ResumableValidation(spark, dir2, partitions = 2)
    val ex2 = intercept[IllegalArgumentException] {
      r2.run(transcripts, dupVec, ctx)
    }
    assert(ex2.getMessage.contains("vector_shape(emb)"))
  }

  test("collectResults without the full input refuses when global-scoped verdicts would vanish") {
    val globalCheck = Check("gc2", Seq(NotNull("text"),
      EntropyBetween("role", lo = 0.1)))
    val dir = Files.createTempDirectory("graft_cp_omit").toString
    val r = new ResumableValidation(spark, dir, partitions = 2)
    assert(r.run(transcripts, globalCheck, ctx).nonEmpty)
    val ex = intercept[IllegalArgumentException] {
      r.collectResults(globalCheck) // no fullInput
    }
    assert(ex.getMessage.contains("entropy(role)") &&
      ex.getMessage.contains("silently omitted"))
    // with the input supplied it matches run()'s output
    val (_, verdicts, _) = r.collectResults(globalCheck,
      Some((transcripts, ctx)))
    assert(verdicts.where(col("constraint") === "entropy(role)")
      .count() == 1)
  }
}
