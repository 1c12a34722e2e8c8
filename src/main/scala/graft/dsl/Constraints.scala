package graft.dsl

/** Declarative constraint DSL — the engine analog of the reference's
  * `table_info` registry + per-method detector configuration
  * (src/hive_data_loader.py:180-225, src/main_analysis.py:546-547).
  * Constraints compile to Catalyst Column expressions in
  * [[graft.compile.Validator]]; the families below cover the north star:
  * column stats, uniqueness, referential integrity, and distribution-drift.
  */
sealed trait Constraint {
  def name: String
  def severity: String = "medium"
}

// ---- row-level (violation rows per failing turn) --------------------------

/** Completeness: column must be non-null; maxNullRate > 0 turns the verdict
  * into a rate bound while still emitting per-row violations. (P6)
  */
final case class NotNull(column: String, maxNullRate: Double = 0.0)
  extends Constraint { val name = s"not_null($column)" }

/** Domain membership against a small literal set (row-level referential
  * check when the dimension is a constant list). `maxFailRate > 0` turns
  * the verdict into a rate bound while still emitting per-row violations
  * ([[NotNull]]'s graded shape) — "at most 0.1% unknown tool codes" is
  * how a membership check is actually deployed over a dirty corpus.
  */
final case class InSet(column: String, allowed: Seq[String],
    maxFailRate: Double = 0.0)
  extends Constraint { val name = s"in_set($column)" }

/** Regex shape check; `maxFailRate > 0` makes it a rate bound
  * ([[NotNull]]'s graded shape).
  */
final case class MatchesRegex(column: String, regex: String,
    maxFailRate: Double = 0.0)
  extends Constraint { val name = s"matches($column)" }

/** Static numeric bounds (P10-adjacent); `maxFailRate > 0` makes it a
  * rate bound ([[NotNull]]'s graded shape).
  */
final case class ValueBounds(column: String, lo: Option[Double],
    hi: Option[Double], maxFailRate: Double = 0.0)
  extends Constraint { val name = s"bounds($column)" }

/** Per-turn text equality against a closed-form expression of
  * (conv_id, turn_idx) — the input_hint invariant: "per-turn text equality
  * under stable turn ordering". `expected` is a Column over the fact's own
  * columns (e.g. the generator's textExpr closed form).
  */
final case class TextEquals(column: String,
    expected: org.apache.spark.sql.Column)
  extends Constraint { val name = s"text_equals($column)" }

// ---- table-level (pure metadata) --------------------------------------------

/** Schema conformance — the "schema" half of a schema + constraint
  * validation engine, as a first-class constraint (the reference pins
  * expected columns per table in its `table_info` registry,
  * `src/hive_data_loader.py:180-225`). `columns` is the declared
  * (name, Spark DDL type) list — e.g. `("ts", "timestamp")`,
  * `("emb", "array<float>")`; comparison is by parsed DataType, so
  * "int" and "integer" agree. `allowExtra = false` additionally flags
  * observed columns that were never declared (a silently-added column
  * is how upstream schema drift usually lands). Nullability is NOT
  * checked — parquet writers disagree about it; NotNull is the
  * data-level check. Evaluates on the driver from plan metadata: ZERO
  * Spark jobs regardless of table size, so it belongs in every
  * 10^12-turn suite as a free early tripwire.
  */
final case class ExpectedSchema(columns: Seq[(String, String)],
    allowExtra: Boolean = true)
  extends Constraint { val name = "expected_schema" }

// ---- key-level -------------------------------------------------------------

/** Uniqueness of a key tuple; violations are the extra copies. */
final case class UniqueKey(columns: Seq[String])
  extends Constraint { val name = s"unique(${columns.mkString(",")})" }

// ---- dimension-level -------------------------------------------------------

/** Referential integrity against a registered dimension table (J2).
  * `dim` is a key into ValidationContext.dims. Three compile tiers:
  * ≤1024 distinct dim values inline into the row-flags pass (zero joins);
  * otherwise a left-anti join — broadcast by default, and with
  * `broadcastDim = false` a shuffled (sort-merge) anti-join for
  * dimensions too large to ship to every executor (a 10^9-key entity
  * dim cannot be broadcast; forcing it would OOM the executors).
  *
  * `keyCensus = true` selects a fourth tier for the 10^12-row fact ×
  * huge-dim regime where violations are RARE (the normal state of a
  * production pipeline): anti-join the fact's DISTINCT keys against the
  * dim (two key-only shuffles, map-side-combined — the fact's full rows
  * never ride an exchange), then broadcast the violating keys back onto
  * the fact as an inner join to emit rows. Guarded: if the violating-key
  * census exceeds the broadcast budget (mass violation — an upstream
  * emergency, not a validation nicety) it falls back to the plain
  * anti-join tier selected by `broadcastDim`. Identical violation set in
  * all tiers.
  */
final case class ReferentialIntegrity(column: String, dim: String,
    dimColumn: String, nullOk: Boolean = true, broadcastDim: Boolean = true,
    keyCensus: Boolean = false)
  extends Constraint { val name = s"ref($column->$dim)" }

// ---- aggregate-level (suite verdict, no row violations) --------------------

final case class MinRows(n: Long)
  extends Constraint { val name = s"min_rows($n)"; val column = "" }

final case class MeanBetween(column: String, lo: Double, hi: Double)
  extends Constraint { val name = s"mean($column)" }

final case class StddevBetween(column: String, lo: Double, hi: Double)
  extends Constraint { val name = s"stddev($column)" }

/** Quantile bound; `approx=true` rides the mergeable t-digest (the 100 TB
  * path), false uses exact percentile (test-scale parity).
  */
final case class QuantileBetween(column: String, q: Double, lo: Double,
    hi: Double, approx: Boolean = true)
  extends Constraint { val name = s"quantile($column,$q)" }

/** Cardinality bound via HLL++ (approx_count_distinct). (A1/A8 at scale) */
final case class DistinctCountBetween(column: String, lo: Long, hi: Long)
  extends Constraint { val name = s"distinct($column)" }

/** Skew guard: no single value of `column` may own more than `maxFrac` of
  * the NON-NULL rows of that column (a null mega-key is NotNull's
  * finding) — the mega-thread census as a CONSTRAINT. Compiles to the
  * mergeable Misra–Gries sketch + exact recount of its ≤k candidates
  * (graft.agg.FreqItems), so the verdict never pays a full-table groupBy;
  * `k ≥ 2/maxFrac` keeps the sketch's completeness guarantee (validated
  * at compile). Offending keys become per-key FAIL verdict rows (keys
  * rendered as strings — the sketch's key space).
  */
final case class MaxKeyShare(column: String, maxFrac: Double = 1.0 / 512,
    k: Int = 2048)
  extends Constraint { val name = s"max_key_share($column)" }

/** Point-in-time referential integrity — the declarative face of
  * [[graft.join.AsOf]]: the fact's `column` must resolve against a
  * snapshot dimension AS OF the turn's ts (a snapshot row with
  * `dimColumn` = the fact value and `dimTsColumn` ≤ ts must exist).
  * Tiers mirror [[ReferentialIntegrity]]: `broadcastDim = true` rides the
  * interval-bucket broadcast join (the fact side never shuffles), false
  * the union-sentinel shuffle tier for dims too large to ship. A fact row
  * whose ts is null can never resolve and is a violation; null fact keys
  * follow `nullOk` like plain RI.
  */
final case class AsOfIntegrity(column: String, dim: String,
    dimColumn: String, dimTsColumn: String, granularity: String = "day",
    nullOk: Boolean = true, broadcastDim: Boolean = true)
  extends Constraint { val name = s"asof($column->$dim)" }

// ---- statistical outlier families (global stats → row flags) ---------------

/** Modified z-score (MAD-based) outliers (A6). `approx` defaults to the
  * one-pass sketch quantiles — the 10^12-row path; exact percentile is a
  * full memory-heavy aggregation per column, opt in only for test-scale
  * parity checks.
  */
final case class RobustZ(column: String, threshold: Double = 3.5,
    approx: Boolean = true)
  extends Constraint { val name = s"robust_z($column)" }

/** IQR fence outliers (T5 semantics, global). `approx` as in [[RobustZ]]. */
final case class IqrOutliers(column: String, k: Double = 2.0,
    approx: Boolean = true)
  extends Constraint { val name = s"iqr($column)" }

/** Plain global z-score outliers (reference statistical detector,
  * src/anomaly_detection.py:219-263 — population std!).
  */
final case class GlobalZ(column: String, threshold: Double = 3.0)
  extends Constraint { val name = s"global_z($column)" }

// ---- series-level (per-conversation temporal drift) -------------------------

/** W1/W2 rolling z-score over a per-turn measure within each conversation. */
final case class RollingZDrift(column: String, window: Int = 24,
    threshold: Double = 3.0)
  extends Constraint { val name = s"rolling_z($column)" }

/** Sequence grammar: each (previous → current) transition of `column`
  * within a conversation (ordered by the suite's orderCol, ties broken by
  * tsCol — duplicate-key rows in this engine's domain are exact copies,
  * so the tie order is outcome-identical) must be in `allowed`. With
  * `firstIn` set, the FIRST turn of each conversation must open with one
  * of those values. The transcript-domain use: role alternation
  * (user→assistant→…) — a corrupted merge or a replayed turn shows up as
  * an illegal transition long before any statistical check fires. Null
  * values never match a transition (they are NotNull's finding): a pair
  * is only checked when both sides are non-null. Rides the fused
  * sequence pass: ONE exchange shared with MaxSessionGap / Monotonic /
  * NoConsecutiveRepeats, only (key, ord, ts, column) shuffle — never text.
  */
final case class AllowedTransitions(column: String,
    allowed: Seq[(String, String)], firstIn: Option[Seq[String]] = None)
  extends Constraint { val name = s"transitions($column)" }

/** `column` must be non-decreasing (`strict = true`: strictly increasing)
  * in turn order within each conversation — the transcript invariant that
  * timestamps never run backwards. Null values are skipped (a null is
  * NotNull's finding; the next non-null row compares against the last
  * non-null predecessor would require gap-carry — instead each pair with
  * a null side is simply not checked, mirroring SQL comparison
  * semantics). Violations are the rows that break the order, with the
  * offending value observed. Fused sequence pass (one shared exchange).
  */
final case class Monotonic(column: String, strict: Boolean = false)
  extends Constraint { val name = s"monotonic($column)" }

/** No two CONSECUTIVE turns of a conversation may carry identical
  * `column` values — the stutter/replay detector (an agent loop stuck
  * re-emitting the same reply is invisible to uniqueness on
  * (conv_id, turn_idx) but jumps out here). Values are compared via a
  * map-side md5 digest computed BEFORE the exchange, so the text payload
  * itself never shuffles — at 10^12 turns the digest is 32 bytes vs
  * kilobytes of text. Null values never match (null ≠ null, as in SQL).
  * Fused sequence pass (one shared exchange).
  */
final case class NoConsecutiveRepeats(column: String)
  extends Constraint { val name = s"no_repeats($column)" }

/** Functional dependency: every distinct value of the `determinant`
  * tuple must map to exactly ONE value of `dependent` (e.g. a
  * conversation never spans two calendar days, a tool name never changes
  * its category). Groups with a null determinant component are skipped
  * (SQL GROUP BY would keep them, but a null determinant cannot
  * "determine" anything — NotNull owns it); null dependents don't count
  * as a value. Compiles to one hash aggregation
  * (groupBy determinant → count(distinct dependent)), partial-agg
  * friendly; violations are one row per offending determinant group with
  * the distinct-value census observed.
  */
final case class FunctionalDependency(determinant: Seq[String],
    dependent: String)
  extends Constraint {
  val name = s"fd(${determinant.mkString(",")}->$dependent)"
}

/** Index density: within each conversation the suite's order column must
  * be exactly {base, base+1, …, base+n−1} — no gaps, no stray indices. A
  * lost turn (failed ingest retry, a partial Iceberg commit) leaves a hole
  * that uniqueness and monotonicity both miss: the remaining indices are
  * still unique and still increasing. Compiles to ONE hash aggregation
  * (groupBy key → min/max/count-distinct of the order column —
  * partial-agg friendly, only (key, ord) ever aggregated); a conversation
  * fails iff min ≠ base or max ≠ base + distinct − 1. Duplicate indices
  * don't fail this check (exact-copy rows are UniqueKey's finding);
  * null indices are skipped (NotNull owns them). Violations are one row
  * per failing conversation with the (min, max, distinct) census observed.
  */
final case class ContiguousIndex(base: Int = 0)
  extends Constraint { val name = s"contiguous_index($base)" }

/** Conversation-length bound — "every conversation must have between
  * `lo` and `hi` turns": the truncation/runaway detector the index
  * checks can't see ([[ContiguousIndex]] proves {base..base+n−1} is
  * dense but says nothing about n itself — a 2-turn stub or a
  * 10^6-turn runaway both pass it). One partial-agg-friendly hash
  * aggregation (groupBy key → count — only the key ever aggregates);
  * a conversation fails iff its turn count falls outside [lo, hi].
  * Violations are one row per failing conversation observing the
  * count; null-key rows group under no conversation and are skipped
  * ([[NotNull]] owns them). Scale: the same exchange shape as the A1
  * summary census — map-side combined counts, no payload shuffles.
  */
final case class TurnCountBetween(lo: Long = 1L, hi: Long = Long.MaxValue)
  extends Constraint {
  require(lo >= 0L, s"turn_count: lo=$lo < 0")
  require(lo <= hi, s"turn_count: lo=$lo > hi=$hi")
  val name = s"turn_count($lo,$hi)"
}

/** Distribution drift vs a REFERENCE table — "does this snapshot's column
  * still look like the one we blessed?": PSI between the validated data's
  * `column` (current side) and a registered dimension's `dimColumn`
  * (baseline side), with `bins` equal-frequency bins taken from the
  * baseline's exact quantiles. One global verdict: pass iff PSI ≤
  * `maxPsi`; a failing suite also emits ONE global violation row observing
  * the measured PSI. Null PSI (either side empty after null-scrub) is "no
  * signal" and passes — emptiness is MinRows' finding. Both sides reduce
  * to one distinct-value census, scored by one sorted kernel
  * ([[graft.series.Drift.scoreCensus]]) that one collect reads.
  *
  * `maxKs` adds the KS half of the north star's "PSI/KS thresholds": the
  * exact two-sample Kolmogorov–Smirnov D between the column and the
  * baseline ([[graft.series.Drift.ks]]), pass iff D ≤ maxKs. PSI sees
  * bucket-mass shifts; KS sees any CDF separation including ones PSI's
  * bins wash out. The same kernel scores it from the same census, so the
  * KS half adds no scan and no job; at the 10^12-row continuous-value
  * extreme (census ~ rows) lean on the t-digest `Drift.ksSketch` variant
  * in library code.
  */
final case class DistributionDrift(column: String, dim: String,
    dimColumn: String, maxPsi: Double = 0.25, bins: Int = 10,
    maxKs: Option[Double] = None)
  extends Constraint {
  val name = s"dist_drift($column~$dim.$dimColumn)"
}

/** Duplicate-rate bound — the declarative face of exact/normalized dedup
  * ([[graft.dedup.Dedup.exactDuplicates]]): the fraction of non-null rows
  * whose `column` value repeats an earlier row's value,
  * (n − distinct) / n, must not exceed `maxRate`. `normalized = true`
  * compares [[graft.text.TextAnalysis.fingerprint]] identities (lowercase,
  * punctuation stripped, whitespace collapsed) instead of raw equality.
  * One global verdict; a failing suite also emits ONE global violation row
  * observing the measured rate. Null values have no content to compare and
  * are excluded (their census is NotNull's finding); an all-null/empty
  * column is "no signal" and passes. Scale: the value never rides a
  * shuffle — rows reduce map-side to a 16-byte digest, and the exact tier's
  * count-distinct is a two-stage hash aggregation over digests
  * (partial-agg combined). `approx = true` swaps in HLL
  * (`approx_count_distinct`, default 1.5% rsd) for fixed O(1) aggregation
  * state when the distinct-digest cardinality itself is shuffle-hostile at
  * 10^12 rows.
  */
final case class MaxDuplicateRate(column: String, maxRate: Double = 0.0,
    normalized: Boolean = false, approx: Boolean = false)
  extends Constraint {
  val name = s"max_dup_rate($column)"
}

/** Near-duplicate rate bound — the declarative face of the FULL
  * minhash → LSH → exact-verify pipeline ([[graft.dedup.Dedup]]): the
  * fraction of non-null `column` values that have at least one verified
  * near-duplicate (true shingle Jaccard ≥ `threshold` against some other
  * row) must not exceed `maxRate`. [[MaxDuplicateRate]] sees exact/
  * normalized copies; this sees the paraphrase-and-retry loops, templated
  * boilerplate, and near-identical re-ingests that exact digests miss —
  * the census a training-data pipeline runs before dedup, as a bound.
  * One global verdict; a failing suite emits ONE global violation row
  * observing the measured rate.
  *
  * Doc identity is the suite's (keyCol, orderCol) composite, reduced
  * map-side to a fixed-width md5 digest (the ratio-census discipline —
  * the key text never rides the dedup shuffles); duplicate (key, order)
  * rows collapse into one doc node — exact copies are UniqueKey's /
  * MaxDuplicateRate's finding, not this one's. Scale shape is the
  * audited q64 chain: banded candidate joins carry ids only, signature
  * state is O(numHashes)/doc, exact verification touches only candidate
  * docs. Recall at the defaults (64 hashes / 32 bands, est ≥ 0.4,
  * verify ≥ 0.7) is 1 − (1 − s²)³² — ≥ 1 − 4e-10 at s = 0.7, the
  * operating point the q64/q99 oracles prove exact-equivalent.
  */
final case class MaxNearDuplicateRate(column: String, maxRate: Double = 0.0,
    threshold: Double = 0.7, shingleK: Int = 3, numHashes: Int = 64,
    bands: Int = 32, estJaccardMin: Double = 0.4)
  extends Constraint {
  require(numHashes % bands == 0,
    s"max_near_dup_rate($column): bands=$bands must divide numHashes=$numHashes")
  // pruning candidates ABOVE the verify bar silently loses recall even
  // under perfect estimation — the pre-filter must sit at or below it
  require(estJaccardMin <= threshold,
    s"max_near_dup_rate($column): estJaccardMin=$estJaccardMin must not " +
      s"exceed threshold=$threshold (candidates pruned above the verify bar)")
  val name = s"near_dup_rate($column)"
}

/** Arbitrary-predicate compliance — the workhorse "business rule" check
  * (Deequ's `Compliance` shape): every row must satisfy `predicate`, a SQL
  * boolean expression over the table's own columns (config-expressible —
  * no Scala needed to add a rule). A row where the predicate is false OR
  * null fails (fails closed: an unevaluable rule is a finding, not a
  * pass). `maxFailRate > 0` turns the per-conversation verdict into a
  * rate bound while still emitting per-row violations, exactly like
  * [[NotNull]]. Scale: the predicate compiles into the SAME fused
  * row-flags projection as every other row check (one scan, zero extra
  * jobs), and the global fail count rides the fused one-pass aggregation.
  */
final case class Compliance(label: String, predicate: String,
    maxFailRate: Double = 0.0)
  extends Constraint { val name = s"compliance($label)" }

/** Data-type conformance for a string column — "does this column still
  * PARSE as what downstream reads it as?" (Deequ's `hasDataType` shape): a
  * non-null value that `try_cast(column AS castTo)` cannot convert is a
  * violation (nulls are NotNull's finding). An upstream serializer change
  * ("1e3" becoming "1,000", a locale leaking into decimals, a timestamp
  * format drift) is invisible to null/regex/bounds checks until the day a
  * consumer casts — this fails the snapshot first. `castTo` is a Spark DDL
  * type ("int", "double", "timestamp"), validated at construction so a
  * typo fails at suite-build time, not hours into a run. `maxFailRate > 0`
  * turns the verdict into a rate bound while still emitting per-row
  * violations, exactly like [[NotNull]]. Scale: compiles into the SAME
  * fused row-flags projection as every stateless check (one scan, codegen
  * try_cast), and the global fail count rides the fused one-pass
  * aggregation — zero extra jobs.
  */
final case class ParsableAs(column: String, castTo: String,
    maxFailRate: Double = 0.0)
  extends Constraint {
  // fail at suite-BUILD time on a typo'd DDL type. parseDataType, NOT
  // fromDDL: fromDDL falls back to table-SCHEMA parsing, so "a int" (a
  // stray column name) would slip through here and explode later inside
  // expr() with a context-free ParseException — the deferred failure this
  // check exists to prevent.
  try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    .parseDataType(castTo)
  catch { case e: Exception => throw new IllegalArgumentException(
    s"parsable_as($column): unparseable DDL type '$castTo'", e) }
  val name = s"parsable($column as $castTo)"
}

/** PII absence — the content-safety check a transcript pipeline runs
  * before text ships anywhere: a non-null value of `column` containing any
  * of the selected `kinds` ([[graft.text.Pii.allKinds]]: email / phone /
  * ssn / ipv4 / Luhn-verified card) is a violation. The violation row
  * observes the matched KIND NAMES, never the matched text — the violation
  * sink must not become a second copy of the PII it flags. `maxFailRate >
  * 0` turns the verdict into a rate bound while still emitting per-row
  * violations, exactly like [[NotNull]]. Unknown kind names fail at
  * suite-BUILD time (the ParsableAs discipline: a typo'd config must not
  * silently weaken the battery). Scale: pure codegen'd Column composition
  * (regex + a higher-order Luhn fold, zero UDFs) fused into the SAME
  * stateless row-flags projection as every row check — one scan, zero
  * extra jobs, streaming-legal.
  */
final case class NoPii(column: String,
    kinds: Seq[String] = graft.text.Pii.allKinds,
    maxFailRate: Double = 0.0)
  extends Constraint {
  require(kinds.nonEmpty, s"no_pii($column): empty kinds battery")
  private val unknown = kinds.filterNot(graft.text.Pii.allKinds.contains)
  require(unknown.isEmpty,
    s"no_pii($column): unknown kinds ${unknown.mkString(",")} " +
      s"(supported: ${graft.text.Pii.allKinds.mkString(",")})")
  val name = s"no_pii($column)"
}

/** Text-quality floor — the web-corpus pre-filter rate as a bound: a
  * non-null value of `column` whose [[graft.text.TextAnalysis.qualityScore]]
  * (length / word-shape / stopword / punctuation-noise blend in [0, 1],
  * deterministically rounded) falls BELOW `minScore` is a violation. The
  * violation row observes the score, not the text. `maxFailRate > 0`
  * turns the verdict into a rate bound while still emitting per-row
  * violations ([[NotNull]]'s shape) — "at most 2% of turns may be
  * boilerplate/noise" is the form a training-data gate actually takes.
  * Null text has no content and is [[NotNull]]'s finding. Scale: pure
  * codegen'd Column composition (the same expression q34's oracle
  * replays) fused into the one stateless row-flags projection — one
  * scan, zero extra jobs, streaming-legal.
  */
final case class MinTextQuality(column: String, minScore: Double = 0.3,
    maxFailRate: Double = 0.0)
  extends Constraint {
  require(minScore >= 0.0 && minScore <= 1.0,
    s"min_text_quality($column): minScore=$minScore outside [0,1]")
  val name = s"min_quality($column)"
}

/** Language-mix bound — "the share of `lang`-identified documents must
  * sit in [lo, hi]": the fraction of non-null `column` values whose
  * [[graft.text.TextAnalysis.langId]] prediction equals `lang`, over all
  * non-null values. Catches a corpus drifting away from its intended
  * language mix (a scraper following the wrong links, a locale filter
  * silently dropped) that no value-level check sees. `lang` must be one
  * of the battery's languages or "und" (undetermined) — a typo'd config
  * refuses at suite BUILD. An empty census (no non-null rows) is "no
  * signal" and passes (emptiness is MinRows' finding). A failing suite
  * emits ONE global violation row observing the measured share. Scale:
  * fuses two conditional counts into the SAME one-pass global
  * aggregation as the column stats — zero extra scans.
  */
final case class LanguageShare(column: String, lang: String,
    lo: Double = 0.0, hi: Double = 1.0)
  extends Constraint {
  private val knownLangs = graft.text.TextAnalysis.stopwords.keySet + "und"
  require(knownLangs.contains(lang),
    s"language_share($column): unknown lang '$lang' " +
      s"(supported: ${knownLangs.toSeq.sorted.mkString(",")})")
  require(lo <= hi, s"language_share($column): lo=$lo > hi=$hi")
  val name = s"lang_share($column,$lang)"
}

/** String length bounds — Deequ's hasMinLength/hasMaxLength shape: a
  * non-null value of `column` whose CHARACTER length falls outside
  * [lo, hi] is a violation, observing the length (never the text — an
  * over-long value is exactly what a violation sink shouldn't
  * accumulate). Catches truncated payloads (length collapse) and
  * runaway concatenation upstream that quality scoring's blend can wash
  * out. At least one bound must be declared; nulls are [[NotNull]]'s
  * finding. `maxFailRate > 0` turns the verdict into a rate bound
  * ([[NotNull]]'s shape). Scale: one codegen length() comparison fused
  * into the one stateless row-flags projection — one scan, zero extra
  * jobs, streaming-legal.
  */
final case class LengthBounds(column: String, lo: Option[Long] = None,
    hi: Option[Long] = None, maxFailRate: Double = 0.0)
  extends Constraint {
  require(lo.nonEmpty || hi.nonEmpty,
    s"length_bounds($column): declare at least one bound")
  require(lo.forall(_ >= 0L), s"length_bounds($column): lo < 0")
  for (l <- lo; h <- hi)
    require(l <= h, s"length_bounds($column): lo=$l > hi=$h")
  val name = s"length($column)"
}

/** Time-bucket coverage — the ingest-GAP detector: every `bucket`
  * (minute/hour/day/week) between the column's first and last non-null
  * timestamp must contain at least `minRows` rows. [[MaxStaleness]] sees
  * only the newest timestamp — a day-long mid-range hole (a stalled
  * backfill, a dropped ingest shard) is invisible to it and to every
  * value-level check; here it surfaces as zero-count buckets, and a
  * starved-but-not-empty window as below-floor ones. Census = ONE hash
  * aggregation on the truncated bucket (only the bucket timestamp rides
  * the exchange, map-side combined), collected driver-side — bounded by
  * span/bucket (an hourly census of a decade is 87,600 rows; pick the
  * granularity accordingly). Buckets step fixed UTC durations, so
  * 'month' (irregular) is deliberately not offered. Violations: one row
  * per starved bucket observing "bucket-ts n=count"; the verdict is
  * global (pass iff no starved bucket, violation_rate = starved share of
  * the span). An empty column is "no signal" ([[MinRows]]'s finding).
  * Global-scoped in resumable runs (a per-slice span is not the table's).
  */
final case class TimeBucketCoverage(column: String, bucket: String = "hour",
    minRows: Long = 1L)
  extends Constraint {
  private val allowed = Set("minute", "hour", "day", "week")
  require(allowed.contains(bucket),
    s"time_coverage($column): bucket '$bucket' not in " +
      s"${allowed.toSeq.sorted.mkString(",")} (fixed-duration UTC steps only)")
  require(minRows >= 1L, s"time_coverage($column): minRows=$minRows < 1")
  val name = s"time_coverage($column,$bucket)"
}

/** Categorical share bound — "the share of non-null `column` values
  * whose string form equals `value` must sit in [lo, hi]": the
  * role-mix / source-mix drift detector. [[EntropyBetween]] sees a mix
  * collapsing, [[InSet]] sees illegal values — neither sees a LEGAL
  * value quietly taking over (an assistant-only re-ingest) or vanishing
  * from the mix (a dropped event type); this does. Share is over
  * non-null values; an empty census is "no signal" and passes
  * (emptiness is [[MinRows]]'s finding). A failing suite emits ONE
  * global violation row observing the measured share. Scale: two
  * conditional counts fused into the ONE-pass global aggregation —
  * zero extra jobs. Global-scoped in resumable runs (a per-slice share
  * is not a table claim).
  */
final case class ValueShareBetween(column: String, value: String,
    lo: Double = 0.0, hi: Double = 1.0)
  extends Constraint {
  require(lo <= hi, s"value_share($column): lo=$lo > hi=$hi")
  require(lo >= 0.0 && hi <= 1.0,
    s"value_share($column): bounds [$lo,$hi] outside [0,1]")
  val name = s"share($column,$value)"
}

/** Embedding-column well-formedness — the vector checks a training
  * pipeline runs before a single GPU-hour is spent: a non-null ARRAY
  * value of `column` violates if (a) `dim` is declared and the array's
  * length differs, (b) any element is null or NaN (one unembedded row
  * poisons every dot product downstream), or (c) norm bounds are
  * declared and the L2 norm of an otherwise well-formed vector falls
  * outside [normLo, normHi] — a zero vector (the classic
  * failed-embedding sentinel) or an exploding norm both surface here.
  * The violation row observes WHICH legs fired (`dim=…`/`element`/
  * `norm=…`), never the vector itself (a 4 KB float array does not
  * belong in a violation sink). A NaN-bearing vector never double-fires
  * the norm leg (its norm is NaN — the [[RollingZDrift]] guard
  * discipline). Null arrays are [[NotNull]]'s finding. At least one leg
  * must be declared; an impossible norm window refuses at suite BUILD.
  * `maxFailRate > 0` turns the verdict into a rate bound ([[NotNull]]'s
  * shape). Scale: pure codegen'd Column composition (size + two
  * higher-order folds, zero UDFs) fused into the SAME stateless
  * row-flags projection as every row check — one scan, zero extra jobs,
  * streaming-legal.
  */
final case class VectorShape(column: String, dim: Option[Int] = None,
    normLo: Option[Double] = None, normHi: Option[Double] = None,
    maxFailRate: Double = 0.0)
  extends Constraint {
  require(dim.nonEmpty || normLo.nonEmpty || normHi.nonEmpty,
    s"vector_shape($column): declare at least one leg (dim or norm bounds)")
  require(dim.forall(_ > 0), s"vector_shape($column): dim must be positive")
  for (lo <- normLo; hi <- normHi)
    require(lo <= hi, s"vector_shape($column): normLo=$lo > normHi=$hi")
  require(normHi.forall(_ >= 0.0),
    s"vector_shape($column): normHi < 0 can never pass (L2 norms are >= 0)")
  val name = s"vector_shape($column)"
}

/** Pearson correlation bound between two numeric columns — "these two
  * measures must (or must not) move together" (a broken join or a unit
  * change upstream shows up as a correlation collapse long before value
  * bounds fire). Sample correlation over rows where BOTH sides are
  * non-null and non-NaN (SQL corr semantics; NaN is scrubbed, not
  * propagated). Pass iff lo ≤ r ≤ hi; an undefined r (constant column,
  * <2 usable rows) is "no signal" and passes — constancy is
  * StddevBetween's finding. A failing suite emits ONE global violation
  * row observing the measured r. Scale: fused into the one-pass global
  * aggregation (Spark's corr is a single mergeable moment aggregate) —
  * zero extra scans.
  */
final case class CorrelationBetween(x: String, y: String, lo: Double = -1.0,
    hi: Double = 1.0)
  extends Constraint { val name = s"corr($x,$y)" }

/** Uniqueness ratio bound (Deequ's `Uniqueness` shape): the fraction of
  * COMPLETE key tuples (every component non-null — a null key is NotNull's
  * finding) that occur exactly once, over the complete-tuple row count.
  * UniqueKey demands 1.0 and emits the duplicates; this is the graded
  * version — "at least 95% of events must be first-sightings" — that a
  * redelivery-prone ingest wants as a bound rather than a hard failure.
  * Pass iff lo ≤ ratio ≤ hi; an empty census is "no signal" and passes. A
  * failing suite emits ONE global violation row observing the ratio.
  * Scale: one hash aggregation (groupBy tuple → count, map-side combined —
  * only distinct tuples ride the exchange) + an O(1) reduction.
  */
final case class UniquenessBetween(columns: Seq[String], lo: Double = 1.0,
    hi: Double = 1.0)
  extends Constraint {
  val name = s"uniqueness(${columns.mkString(",")})"
}

/** Distinctness ratio bound (Deequ's `Distinctness` shape): distinct
  * complete tuples / complete rows. Complements [[UniquenessBetween]]: a
  * column that is 50% distinct but 0% unique (every value exactly twice)
  * and one that is 50% distinct and ~50% unique (half singletons, one
  * mega-group) look identical to distinctness and opposite to uniqueness.
  * Same census, same pass/violation semantics, same one-aggregation scale
  * shape.
  */
final case class DistinctnessBetween(columns: Seq[String], lo: Double = 1.0,
    hi: Double = 1.0)
  extends Constraint {
  val name = s"distinctness(${columns.mkString(",")})"
}

/** Shannon entropy bound (natural log) over the non-null value
  * distribution of `column` — the distribution-census check: a category
  * column collapsing to one value (H → 0) or exploding into noise (H →
  * ln(distinct)) is invisible to null/bounds checks but jumps out here.
  * Pass iff lo ≤ H ≤ hi; an empty column is "no signal" and passes
  * (emptiness is MinRows' finding). A failing suite emits ONE global
  * violation row observing the measured H. Scale: one hash aggregation
  * (groupBy value → count, map-side combined — only distinct values ride
  * the exchange) + an O(distinct) reduction to ln N − Σ n·ln n / N; meant
  * for category-cardinality columns (roles, tools, langs), not free text.
  */
final case class EntropyBetween(column: String, lo: Double = 0.0,
    hi: Double = Double.MaxValue)
  extends Constraint { val name = s"entropy($column)" }

/** Mutual-information bound (natural log) between two category columns —
  * the dependency census: MI = Σ p(x,y)·ln(p(x,y)/(p(x)·p(y))) over rows
  * where BOTH sides are non-null (complete pairs). Two columns that
  * should determine each other drifting apart (a broken enrichment join)
  * or two supposedly-independent columns suddenly coupling (a copy-paste
  * bug upstream) both move MI where per-column checks see nothing. Pass
  * iff lo ≤ MI ≤ hi; an empty pair census is "no signal" and passes. A
  * failing suite emits ONE global violation row observing the measured
  * MI. Scale: one hash aggregation (groupBy (x,y) → count, map-side
  * combined — only distinct pairs ride the exchange); marginals are
  * window sums over that census (O(distinct pairs), not O(rows)); meant
  * for category-cardinality pairs, not free text.
  */
final case class MutualInformationBetween(x: String, y: String,
    lo: Double = 0.0, hi: Double = Double.MaxValue)
  extends Constraint { val name = s"mutual_info($x,$y)" }

/** Data freshness — "has this table actually been fed lately?": the lag
  * between `asOf` (the run's logical date, an ISO-8601 wall-clock literal
  * like "2024-03-01T06:00:00" — validated at suite BUILD, and explicit
  * rather than wall-clock-now so a verdict is reproducible) and the
  * newest `column` timestamp must not exceed `maxLagSeconds`. A stalled
  * ingest is invisible to every value-level check — the rows that would
  * fail simply never arrive; this is the check that notices. Pass iff
  * lag ≤ bound; an empty table has no newest row and is "no signal"
  * (MinRows' finding); data NEWER than asOf passes (future timestamps
  * are Monotonic/Compliance findings). A failing suite emits ONE global
  * violation row observing the measured lag in seconds. Scale: fuses
  * max(unix_micros(column)) into the SAME one-pass global aggregation as
  * the column stats — zero extra scans at any table size.
  *
  * Timezone convention: `asOf` is interpreted in the SESSION timezone
  * (`spark.sql.session.timeZone` — UTC in every graft main), the same
  * zone Spark applies when casting a TIMESTAMP_NTZ wall-clock to an
  * instant, so for NTZ columns the offset cancels and lag is the plain
  * wall-clock difference in ANY session zone (within a DST transition
  * straddling asOf and the newest row, lag shifts by the DST delta —
  * pick a fixed-offset session zone if that hour matters). Pinning asOf
  * to UTC instead would skew NTZ lag by the session offset — a
  * Tokyo-session consumer would see a spurious 9 h of staleness.
  */
final case class MaxStaleness(column: String, asOf: String,
    maxLagSeconds: Long)
  extends Constraint {
  /** asOf parsed at BUILD time (a typo'd config must refuse before any
    * job runs, the ParsableAs discipline).
    */
  val asOfLocal: java.time.LocalDateTime =
    try java.time.LocalDateTime.parse(asOf.trim.replace(' ', 'T'))
    catch { case e: java.time.format.DateTimeParseException =>
      throw new IllegalArgumentException(
        s"max_staleness($column): unparseable asOf '$asOf' " +
          "(want ISO-8601, e.g. 2024-03-01T06:00:00)", e)
    }
  /** asOf as epoch micros in `zone` — the Validator passes the session
    * timezone so the comparison against max(unix_micros(cast)) is
    * zone-consistent by construction.
    */
  def asOfMicrosIn(zone: java.time.ZoneId): Long = {
    val inst = asOfLocal.atZone(zone).toInstant
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }
  val name = s"fresh($column)"
}

/** Session-gap bound — the declarative face of [[graft.series.Sessions]]:
  * within each conversation (ordered by (ts, turn_idx) like
  * Sessions.assign) the gap between consecutive turns must not exceed
  * `maxGapSeconds`. Every violation row is exactly a session boundary
  * Sessions.assign would open past each conversation's first turn, so a
  * suite config can police "one conversation = one dense burst" without
  * touching Scala. One pruned keyed window — text never shuffles.
  */
final case class MaxSessionGap(maxGapSeconds: Long)
  extends Constraint { val name = s"session_gap(${maxGapSeconds}s)" }

/** The north-star drift constraint: per-conversation ts-bucketed turn-rate
  * series, STL-style (or classical) decomposition, residual outliers (IQR
  * k), plus PSI and exact-KS between the first and second half of each
  * conversation's buckets. A conversation fails if residual anomalies
  * exist or psi/ks exceed their thresholds.
  */
final case class TurnRateDrift(
    bucket: String = "1 hour",
    period: Int = 24,
    method: String = "stl", // or "classical"
    seasonal: Int = 7,
    residMethod: String = "iqr",
    residThreshold: Double = 2.0,
    psiThreshold: Double = 0.25,
    ksThreshold: Double = 0.5)
  extends Constraint { val name = "turn_rate_drift"; val column = "n_turns" }

/** A validation suite. */
final case class Check(
    name: String,
    constraints: Seq[Constraint],
    keyCol: String = "conv_id",
    orderCol: String = "turn_idx",
    tsCol: String = "ts")
