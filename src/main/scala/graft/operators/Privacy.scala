package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Cols, Tables}

/** Privacy operators for training-data preparation: PII scrubbing
  * (pseudonymization + pattern redaction) and k-anonymity suppression.
  *
  * A corpus assembled from logs or user events cannot ship to training
  * with direct identifiers (user ids), quasi-identifiers that single out
  * individuals in small groups, or free-text PII (emails, IPs, numbers).
  * The reference stores raw source/destination account ids verbatim
  * (python/models.py:14-30); a training-data export of the same records
  * needs exactly these two passes.
  *
  * Scale shape: both operators are one scan + narrow transforms; the only
  * shuffle is k-anonymity's group-size window (one exchange on the
  * quasi-identifier key, map-side combinable if spelled as agg+join).
  * Pseudonymization is a pure map — at 100 TB both parallelize trivially.
  */
object Privacy {
  type Q = (SparkSession, String) => DataFrame

  /** Redaction patterns, applied in this order (emails before bare digit
    * runs, so an address is one `<EMAIL>`, not letters + `<NUM>`).
    * Restricted to syntax with identical semantics in Java regex (Spark)
    * and RE2 (DuckDB): literal classes, bounded repeats, `\b`, no
    * lookaround or backreferences. Case-insensitivity is spelled as
    * explicit `[A-Za-z]` classes rather than `(?i)` — 'Jane.Doe@
    * Example.COM' matches like its lowercase form, and no engine-specific
    * case folding is involved (Java's `(?i)` folds ASCII-only without
    * UNICODE_CASE while RE2 simple-folds Unicode, so U+212A KELVIN or
    * U+017F LONG S would diverge; explicit classes cannot).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val NumRe   = "[0-9]+"

  /** The first two scrub passes (emails, then IPv4s). Factored out so the
    * per-class counters can count each class on the text REMAINING after
    * the earlier passes — an email's digits belong to the email, not to
    * `n_nums`, and a dotted quad inside an email's domain is not a
    * separate IP.
    */
  def scrubEmailIp(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), Ipv4Re, "<IP>")

  /** Sequential scrub: emails, then IPv4s, then residual digit runs.
    * Placeholders contain no digits, so later passes cannot re-match
    * earlier replacements.
    */
  def scrub(c: Column): Column =
    regexp_replace(scrubEmailIp(c), NumRe, "<NUM>")

  private def q(s: String): String = s.replace("'", "''")

  /** Oracle-SQL spelling of [[scrubEmailIp]]. */
  def scrubEmailIpSql(e: String): String =
    s"regexp_replace(regexp_replace($e, '${q(EmailRe)}', '<EMAIL>', 'g'), " +
      s"'${q(Ipv4Re)}', '<IP>', 'g')"

  /** Oracle-SQL spelling of [[scrub]] (RE2 needs the 'g' flag; Java
    * regexp_replace is global by default).
    */
  def scrubSql(e: String): String =
    s"regexp_replace(${scrubEmailIpSql(e)}, '${q(NumRe)}', '<NUM>', 'g')"

  /** Keyed pseudonym: salted one-way hash of the identifier. The salt
    * makes the mapping table-scoped (a different salt yields unlinkable
    * pseudonyms); 16 hex chars keep collision odds negligible at any
    * realistic corpus size while halving the output width.
    */
  def pseudonym(salt: String, id: Column): Column =
    substring(md5(concat(lit(salt + "|"), id.cast("string"))), 1, 16)

  def pseudonymSql(salt: String, id: String): String =
    s"substr(md5('${q(salt)}|' || CAST($id AS VARCHAR)), 1, 16)"

  /** Public k-anonymity operator: appends `group_n` (the size of each
    * row's quasi-identifier group) and drops rows whose group has fewer
    * than `k` members. The quasi-identifier columns must already exist on
    * `df` (derive generalized forms — hour buckets, age ranges — first).
    * One window exchange on the group key.
    */
  def kAnonymize(df: DataFrame, quasi: Seq[String], k: Int): DataFrame = {
    val w = Window.partitionBy(quasi.map(col): _*)
    df.withColumn("group_n", count(lit(1)).over(w))
      .filter(col("group_n") >= k)
  }

  def queries: Map[String, Q] = Map(
    // PII scrub over the events stream: user_id → salted pseudonym, the
    // free-text props payload through the three-pattern redaction chain,
    // with per-class match counts. Each class is counted on the text
    // REMAINING after the earlier passes, matching the scrub order: an
    // email's digits are part of the email, not separate numbers, and a
    // dotted quad inside an email is not a separate IP. Pure map-side:
    // no shuffle at any scale.
    "x12_pii_scrub" -> { (s, d) =>
      val afterEmail = regexp_replace(col("props"), EmailRe, "<EMAIL>")
      Tables.events(s, d)
        .select(col("event_id"),
          pseudonym("uid", col("user_id")).as("user_pseudonym"),
          scrub(col("props")).as("props_scrubbed"),
          regexp_count(col("props"), lit(EmailRe)).cast("long").as("n_emails"),
          regexp_count(afterEmail, lit(Ipv4Re)).cast("long").as("n_ips"),
          regexp_count(scrubEmailIp(col("props")), lit(NumRe)).cast("long").as("n_nums"))
        .orderBy("event_id")
    },
    // k-anonymity suppression: rows whose quasi-identifier group
    // (event_type × hour) has fewer than k members are dropped — each
    // surviving record is indistinguishable from ≥ k−1 others on the
    // quasi-identifiers. One window exchange on the group key. EVERY
    // identifier leaves pseudonymized, including the row key: a raw
    // event_id would join 1:1 back to the source table (which holds
    // user_id). The pseudonym is unlinkable only WITHOUT the salt — this
    // gate spelling uses a fixed salt so the DuckDB oracle can reproduce
    // it; a production export must treat the salt as a secret runtime
    // parameter, or an adversary with input access recomputes
    // md5(salt|event_id) per row and re-links. Sorted on the full md5
    // (the 16-hex pseudonym prefix alone could in principle collide,
    // making row order engine-dependent).
    "x13_k_anonymity" -> { (s, d) =>
      kAnonymize(
        Tables.events(s, d).withColumn("hour", date_trunc("hour", col("ts"))),
        quasi = Seq("event_type", "hour"), k = 3)
        .select(pseudonym("eid", col("event_id")).as("event_pseudonym"),
          pseudonym("uid", col("user_id")).as("user_pseudonym"),
          col("event_type"), col("hour"), col("group_n"),
          md5(concat(lit("eid|"), col("event_id").cast("string"))).as("_ord"))
        .orderBy("_ord")
        .drop("_ord")
    },
    // l-diversity suppression — the attack k-anonymity alone misses: a
    // group of k rows that all share ONE sensitive value still discloses
    // it ("everyone in this bucket is user 7"), so each group must also
    // carry ≥ l DISTINCT sensitive values (user_id here). Spelled as the
    // scaladoc's agg+join form rather than two windows: one map-side-
    // combinable groupBy on the quasi key computing (size, distinct
    // sensitives) — countDistinct plans as a two-level agg — then one
    // keyed join back; two exchanges on the same key, both combinable,
    // vs a window's full-group materialization per row.
    "x34_l_diversity" -> { (s, d) =>
      val g = Tables.events(s, d)
        .withColumn("hour", date_trunc("hour", col("ts")))
      val stats = g.groupBy("event_type", "hour")
        .agg(count(lit(1)).as("group_n"),
          countDistinct(col("user_id")).as("n_sensitive"))
      // group-shaped (types × hours) — the hinted broadcast this
      // family's admit joins document (x38's comment said "x34
      // included" but the hint was missing here): without it the
      // initial plan is a corpus-wide shuffle join both ways, repaired
      // only if AQE's runtime estimate catches it
      g.join(broadcast(stats), Seq("event_type", "hour"))
        .filter(col("group_n") >= 3 && col("n_sensitive") >= 3)
        .select(pseudonym("eid", col("event_id")).as("event_pseudonym"),
          pseudonym("uid", col("user_id")).as("user_pseudonym"),
          col("event_type"), col("hour"), col("group_n"), col("n_sensitive"),
          md5(concat(lit("eid|"), col("event_id").cast("string"))).as("_ord"))
        .orderBy("_ord")
        .drop("_ord")
    },
    // t-closeness — the attack l-diversity still misses: a group with
    // l distinct sensitive values whose DISTRIBUTION skews far from the
    // corpus's (99% one disease, a sliver of others) still leaks, so
    // each surviving group's sensitive-class distribution must sit
    // within total-variation distance t of the GLOBAL distribution.
    // TVD over the 8 sensitive classes is computed EXACTLY: with
    // common denominator group_n × N,
    //   tvd = (Σ_{v∈G} |cnt_v·N − gv_v·group_n|
    //          + (N − Σ_{v∈G} gv_v)·group_n) / (2·group_n·N)
    // — the second term is the mass of classes ABSENT from the group.
    // All sums are integer (DECIMAL), so summation order cannot move a
    // bit; the ONE double division at the end is IEEE-identical in
    // both engines. Plan shape (the x34 agg+join discipline, never a
    // window): one (quasi, sclass) combinable groupBy over events —
    // the only corpus-sized exchange — then group-sized aggregates,
    // an ≤8-row broadcast global distribution, a 1-row broadcast
    // total, and one keyed join back. NOTE the DECIMAL numerators:
    // cnt·N at extreme corpus sizes overflows BIGINT (N ~ 1e12 ×
    // group_n ~ 1e9 > 2^63); DECIMAL(18,0)×DECIMAL(18,0) products
    // stay exact to 38 digits.
    "x38_t_closeness" -> { (s, d) =>
      val dec = "decimal(18,0)"
      // the n_total window below is single-partition, licensed ONLY by
      // the sclass cardinality (≤ SClasses rows after the groupBy) —
      // enforce the license so a cardinality edit cannot silently
      // create a one-task corpus-sized window (r19 verdict #4)
      val SClasses = 8
      require(SClasses <= 1024,
        s"x38 sclass cardinality $SClasses > 1024 — the n_total window " +
          "is single-partition and licensed by this bound")
      val ev = Tables.events(s, d)
        .withColumn("day", date_trunc("day", col("ts")))
        .withColumn("sclass", pmod(col("user_id"), lit(SClasses)))
      val gc = ev.groupBy("event_type", "day", "sclass")
        .agg(count(lit(1)).cast(dec).as("cnt"))
      // the sclass marginals re-aggregate gc (counts partition exactly
      // over (event_type, day)) instead of a SECOND corpus-wide count
      // pass; n_total rides an 8-row window over them; group_n rides a
      // window over the group-sized gc instead of a re-agg + join —
      // one corpus aggregate feeds everything, and the former unhinted
      // gc⋈gn shuffle join disappears
      val global = gc.groupBy("sclass").agg(sum(col("cnt")).cast(dec).as("gv"))
        .withColumn("n_total", sum(col("gv")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .cast(dec))
      val scored = gc
        .withColumn("group_n", sum(col("cnt"))
          .over(Window.partitionBy("event_type", "day")).cast(dec))
        .join(broadcast(global), Seq("sclass"))
        .groupBy("event_type", "day")
        .agg(max(col("group_n")).as("group_n"),
          sum(abs(col("cnt") * col("n_total") - col("gv") * col("group_n"))).as("s1"),
          sum(col("gv")).as("gsum"),
          max(col("n_total")).as("n_total"))
        .select(col("event_type"), col("day"),
          col("group_n").cast("long").as("group_n"),
          ((col("s1") + (col("n_total") - col("gsum")) * col("group_n"))
              .cast("double") /
            (lit(2.0) * col("group_n").cast("double") *
              col("n_total").cast("double"))).as("tvd"))
      // the verdict frame is (days × event-types)-sized — group-shaped,
      // never corpus-shaped — so the admit join is HINTED broadcast like
      // every other small-side join in this family (x34 included),
      // rather than left for AQE to convert at runtime
      ev.join(broadcast(scored.filter(col("group_n") >= 3 && col("tvd") <= 0.15)),
          Seq("event_type", "day"))
        .select(pseudonym("eid", col("event_id")).as("event_pseudonym"),
          pseudonym("uid", col("user_id")).as("user_pseudonym"),
          col("event_type"), col("day"), col("group_n"), col("tvd"),
          md5(concat(lit("eid|"), col("event_id").cast("string"))).as("_ord"))
        .orderBy("_ord")
        .drop("_ord")
    },
    // Differentially-private count release — the privacy family's
    // RELEASE side (x13/x34/x38 suppress or admit the raw rows; a DP
    // release never ships rows at all, only noised aggregates). The
    // Laplace(1/ε) mechanism over per-(event_type, day) counts,
    // sensitivity 1, ε = 1: noise = −b·sign(u−½)·ln(1−2|u−½|) by
    // inverse-CDF from a uniform u ∈ (0,1). u is SEEDED from
    // md5('dp|'||group-key) — deterministic noise is what makes the
    // release reproducible across reruns/engines and hash-gateable; the
    // production-default call salts the seed with driver-side CSPRNG
    // bytes ([[releaseSalt]]), everything else — mechanism, sensitivity
    // accounting, post-processing clamp — is identical. The ln ride's the x10
    // discipline (rounded to 9 digits; one double add after it). Plan
    // shape: ONE combinable groupBy is the only corpus-sized exchange;
    // the noise is a pure map over the group-sized result. The released
    // value is clamped non-negative and integerized by floor(x+½) —
    // explicit half-up, immune to banker's-rounding divergence.
    // The gate passes `seeded = true` — the test/verify spelling the
    // DuckDB oracle can replay; see [[dpCountRelease]] for why the
    // PRODUCTION default is the salted (non-recomputable) draw.
    // Round 17: cells are the DENSE public 64-day grid × vocabulary
    // (zero-count cells noised like any other) — the release SET no
    // longer reveals which (type, day) groups had data (r16 advice;
    // the dpCountRelease scaladoc carries the leak analysis).
    "x40_dp_release" -> { (s, d) => dpCountRelease(Tables.events(s, d), seeded = true) },
    // Differentially-private SUM + MEAN release — the clamp-then-noise
    // step every DP release of CONTINUOUS data needs, which the
    // sensitivity-1 count release (x40) can skip. Neighboring datasets
    // differ in one user's presence in one (event_type, day) group, so
    // sensitivity is bounded by BOUNDING EACH USER'S CONTRIBUTION
    // FIRST: per-(group, user) sums are clamped into [0, C] (C = 50)
    // BEFORE the group sum — without the clamp one outlier user makes
    // the sum's sensitivity unbounded and no finite noise is private.
    // Δ(sum) = C and Δ(count) = 1; the ε = 1 budget splits in half
    // (sequential composition), so noise is Laplace(C/½) on the sum
    // and Laplace(1/½) on the user count; the released mean is pure
    // post-processing of the two released values (never true_sum /
    // true_n — that would spend unaccounted budget). Same seeded-
    // uniform inverse-CDF discipline as x40 ("dps|"/"dpn|" domain
    // separation); production-default calls get CSPRNG-salted seeds
    // ([[releaseSalt]]).
    //
    // Determinism across engines, spelled so no decimal→double edge
    // exists: contributions round to 9 digits then sum as
    // DECIMAL(28,9) — group sums stay ≤ 5e14 unscaled (< 2^53), so
    // BOTH engines' decimal→double conversions are exact-then-
    // correctly-rounded on the same rational and cannot differ by an
    // ulp. Releases integerize by floor(x+½) (explicit half-up), the
    // clamp is exact decimal least/greatest, and the mean divides two
    // exact longs. Plan shape: the (group, user) groupBy is the ONE
    // corpus-sized exchange (map-side combinable); the group re-agg
    // runs over the users×groups-sized result; noise is a pure map.
    // Round 18 (r17 verdict #1): cells are the DENSE public 64-day
    // window × vocabulary through the shared denseCells — the release
    // SET no longer reveals which (type, day) groups had users (zero
    // cells enter at sum 0 / users 0, released_users clamps to ≥ 1 so
    // the mean stays defined).
    // Gate spelling: `seeded = true` (oracle-replayable); production
    // callers get the salted draw by default — see [[dpSumMeanRelease]].
    "x42_dp_sum_release" -> { (s, d) => dpSumMeanRelease(Tables.events(s, d), seeded = true) },
    // Exponential-mechanism release of a NON-NUMERIC answer — "which
    // event_type was most frequent per day" — the third mechanism class
    // the DP family needs (x40/x42 release noised NUMBERS; picking a
    // CATEGORY by noised count is NOT private: max-of-Laplace over
    // candidates is the report-noisy-max cousin, but the canonical
    // selection mechanism is exponential). Spelled via the Gumbel-max
    // trick, which IS the exponential mechanism exactly: releasing
    // argmax_r(ε·u(r)/(2Δ) + Gumbel(0,1)) samples r with probability
    // ∝ exp(ε·u(r)/(2Δ)). Utility = the candidate's count (Δ = 1: one
    // record moves one count by one), ε = 1. Candidates are the DENSE
    // public-64-day-window × event-type-vocabulary grid with
    // zero-filled counts — a data-dependent candidate set (only the
    // types observed that day, or only the days observed at all — the
    // r17 verdict #1 gap, closed round 18) would itself leak; see
    // [[dpArgmaxRelease]]. Only the winning CATEGORY
    // ships — never its score or count (the score minus known-seed noise
    // would reconstruct the count and void the accounting).
    "x43_dp_argmax_release" -> { (s, d) => dpArgmaxRelease(Tables.events(s, d), seeded = true) },
    // Exponential-mechanism MEDIAN release — the mechanism class x43
    // introduced, applied to the other thing a DP release of numeric
    // data is usually asked for besides sums (x42): a robust location
    // statistic. Laplace on the true median is NOT private (a median's
    // sensitivity is unbounded); the standard route is the exponential
    // mechanism over a PUBLIC, data-independent candidate grid, with
    // the rank-distance utility u(b) = −|cum(b) − n/2|. One record
    // moves cum by ≤1 AND n/2 by ½, so Δu = ½ under add/remove and ≤1
    // under replacement — the conservative Δ = 1 is used. Candidates
    // are all 64 bins of the public [0, 512] range INCLUDING empty
    // ones (restricting to observed bins would make the candidate set
    // itself data-dependent and leak); only the winning bin's midpoint
    // ships.
    "x44_dp_median_release" -> { (s, d) => dpMedianRelease(Tables.events(s, d), seeded = true) },
    // DP budget LEDGER — sequential-composition accounting across
    // releases, the layer x40/x42/x43/x44 individually lack: each is
    // ε-private alone, but a pipeline that runs a daily count release
    // plus ad-hoc mechanism releases on the SAME corpus spends
    // Σε = ε₁+ε₂+… (the basic composition theorem). Round 17: the
    // accounting is now ENFORCED, not just displayed — this gate drives
    // the deployment schedule through the persistent [[DpLedger]]'s
    // charge-then-release wrapper (the same wrapper every dp*Release
    // entry point calls), and the `admitted` column below is the
    // WRAPPER's verdict per charge: what the durable registry actually
    // recorded, while the DuckDB oracle independently spells the
    // cumulative cum ≤ budget rule — if ledger enforcement ever
    // diverged from the exact-decimal accounting, the hash gate fails.
    // (For THIS schedule the two are provably identical: refusals
    // begin only once spend plateaus at exactly the 6.0 budget —
    // quarters divide 6 — after which every positive proposal
    // overdraws, so refusal is monotone.)
    //
    // The schedule itself is PUBLIC (r16 advice): daily ε = 0.25
    // charges ride the fixed 64-day calendar grid (ContinualEpoch +
    // 0..63 — x47's grid discipline), NOT corpus-observed days. The
    // old distinct-over-days spelling made a ledger row appear or
    // disappear with one record — the exact data-dependent-candidacy
    // leak x43/x44/x47 close, newly packaged as "shippable audit
    // evidence". Now the ledger derives from public config alone:
    // zero private bits by construction, shippable to anyone. Then
    // three ad-hoc full-budget releases (x42 sum/mean, x43 argmax,
    // x44 median, ε = 1 each), charged in schedule order against a
    // total budget of 6; ε sums stay EXACT (BigDecimal driver-side,
    // DECIMAL(18,6) in the oracle). Plan shape: NO corpus exchange at
    // all — the schedule is public-config-sized (67 rows), charged in
    // a driver loop (budget accounting must be serialized; the ledger
    // scaladoc carries the rationale) and returned via one local toDF.
    "x46_dp_budget" -> { (s, d) =>
      import s.implicits._
      val epoch = java.time.LocalDate.parse(ContinualEpoch)
      val schedule: Seq[(String, String, BigDecimal)] =
        (0 until ContinualT).map(i =>
          (s"count|${epoch.plusDays(i.toLong)}", "laplace_count", BigDecimal("0.25"))) ++
          Seq(("sum_mean|corpus", "laplace_sum_mean", BigDecimal(1)),
            ("argmax|corpus", "exp_argmax", BigDecimal(1)),
            ("median|corpus", "exp_median", BigDecimal(1)))
      val budget = BigDecimal(6)
      val led = DpLedger.open(
        java.nio.file.Files.createTempDirectory("graft-x46-ledger").toString, budget)
      var cum = BigDecimal(0)
      val rows = schedule.zipWithIndex.map { case ((id, mech, eps), i) =>
        cum += eps // the SCHEDULED cumulative (refused ε included) — the audit view
        (i + 1L, id, mech, eps.toDouble, cum.toDouble,
          led.tryCharge(id, mech, eps), budget.toDouble)
      }
      rows.toDF("seq", "release_id", "mechanism", "epsilon",
        "cum_epsilon", "admitted", "budget").orderBy("seq")
    },
    // Binary-tree-mechanism CONTINUAL count release — the streaming
    // answer the one-shot releases (x40) can't give: a running count
    // released EVERY day for T days costs T·ε naively; the tree
    // mechanism ([[dpContinualRelease]]) spends ε once for the whole
    // window with O(logT/ε·logT) error — per-node seeded Laplace over
    // the dyadic decomposition of a PUBLIC 64-day calendar grid (empty
    // days included, the x44 discipline). Only clamped integers ship;
    // `window_epsilon` is the WINDOW-level ε = 1 (r16 advice — r16's
    // per-row `epsilon` column invited 64× overcharging by any
    // composition consumer using the x46 per-release convention).
    "x47_dp_continual" -> { (s, d) => dpContinualRelease(Tables.events(s, d), seeded = true) },
    // Window ROLLOVER under the budget ledger — x47 continued past its
    // window, x46 enforced at release time: two consecutive 64-day
    // tree-mechanism windows, each charging ε = 1 to a fresh
    // [[DpLedger]] (budget 2 — both admitted; PrivacySpec pins the
    // budget-1.5 sibling where window 1 is REFUSED and releases
    // nothing) and the cross-window running count stitched from
    // RELEASED values only: global(w, t) = Σ_{v<w} released_vT +
    // released_wt — pure post-processing, zero extra budget. The
    // charging happens through the same wrapper the production
    // entry points use, so this gate exercises the admitted path of
    // the enforcement layer end-to-end.
    "x48_dp_rollover" -> { (s, d) =>
      val led = DpLedger.open(
        java.nio.file.Files.createTempDirectory("graft-x48-ledger").toString,
        budget = BigDecimal(2))
      dpContinualRollover(Tables.events(s, d), nWindows = 2,
        seeded = true, ledger = Some(led))
    },
    // USER-level DP daily-active counts ([[dpUserCountRelease]]) — the
    // privacy-unit upgrade over x40's event-level guarantee: per-user
    // contribution capped at 4 cells (mechanism preprocessing), so the
    // Laplace scale is sensitivity/ε = 4, and the "remove one PERSON"
    // statement holds at ε = 1 for the whole release.
    "x49_dp_user_count" -> { (s, d) =>
      dpUserCountRelease(Tables.events(s, d), seeded = true)
    },
    // GAUSSIAN count release under zCDP accounting
    // ([[dpGaussianCountRelease]]): seeded Box–Muller noise at σ = 2
    // over the dense public grid, ρ = 0.125 per release summed exactly
    // by a ρ-currency ledger, (ε, δ) read out via [[zcdpEpsilon]].
    "x50_dp_gaussian" -> { (s, d) =>
      dpGaussianCountRelease(Tables.events(s, d), seeded = true)
    },
    // Sparse Vector Technique ([[dpAboveThresholdRelease]]): "first day
    // the daily volume crosses T = 100", asked of all 64 public days
    // for ONE ε — ⊥ rows up to and including the first ⊤ ship, counts
    // never do; the data-dependent length is part of the proven output.
    "x51_dp_above_threshold" -> { (s, d) =>
      dpAboveThresholdRelease(Tables.events(s, d), seeded = true)
    },
    // USER-level DP sum/mean ([[dpUserSumRelease]]) — x49's bounded
    // user contribution composed with x42's magnitude clamp (Wilson
    // et al. VLDB 2020): ≤ 4 cells per user, each clamped to [0, 50],
    // so removing one PERSON moves the sum vector by ≤ 200 and the
    // count vector by ≤ 4; ε = 1 split ½/½ across the two draws.
    "x52_dp_user_sum" -> { (s, d) =>
      dpUserSumRelease(Tables.events(s, d), seeded = true)
    },
    // Numeric-sparse SVT ([[dpSparseRelease]]): up to c = 2 threshold
    // alerts for ONE ε — AboveThreshold at ε/2 per episode, restarted
    // with fresh seeded noise after each ⊤; verdicts only.
    "x53_dp_sparse" -> { (s, d) =>
      dpSparseRelease(Tables.events(s, d), seeded = true)
    },
    // Stability-based (ε, δ) histogram over an UNKNOWN key domain
    // ([[dpStableHistogramRelease]]): observed cells + Laplace(1/ε),
    // released only past the stability threshold τ = 1 + ln(1/(2δ))/ε
    // — the release path for deployments whose vocabulary is itself
    // sensitive, where the dense-grid family cannot go; the
    // data-dependent release set is licensed by δ.
    "x54_dp_stable_histogram" -> { (s, d) =>
      dpStableHistogramRelease(Tables.events(s, d), seeded = true)
    },
    // USER-level stability histogram ([[dpUserHistogramRelease]]):
    // x54's unknown-domain release at x49's privacy unit — per-user
    // cells capped at 4, Laplace(4/ε), released past
    // τ = 1 + 4·ln(4/(2δ)) ≈ 59.03; the steep τ is the honest price
    // of user-level protection over keys the adversary may not know.
    "x55_dp_user_histogram" -> { (s, d) =>
      dpUserHistogramRelease(Tables.events(s, d), seeded = true)
    },
    // Privacy amplification by subsampling
    // ([[dpSubsampledCountRelease]]): the x40 count release run over a
    // deterministic-Bernoulli half of the corpus, charged at the
    // AMPLIFIED ε' = ln(1 + q(e−1)) ≈ 0.620 instead of ε₀ = 1 — the
    // accounting primitive DP-SGD-style pipelines compose their whole
    // budget from.
    "x56_dp_subsampled" -> { (s, d) =>
      dpSubsampledCountRelease(Tables.events(s, d), seeded = true)
    },
    // Subsampled GAUSSIAN release ([[dpSubsampledGaussianRelease]]):
    // the amplification lemma in (ε, δ) space — both coordinates
    // shrink, (ε', δ') = (ln(1 + q(e−1)), q·δ₀) charged as ONE pair to
    // the δ-metered ledger; the DP-SGD-shaped composition primitive.
    "x60_dp_subsampled_gaussian" -> { (s, d) =>
      dpSubsampledGaussianRelease(Tables.events(s, d), seeded = true)
    },
    // Rényi-DP accounting of a K = 16 subsampled-Gaussian schedule
    // ([[RdpAccountant]]) — the graduation path x60's basic-composition
    // accounting names: per-order RDP of the (q = ½, σ = SubGaussSigma)
    // release (MTZ integer-order binomial sum), composed ×16, converted
    // at δ = 1e-6 (Mironov Prop. 3). The table carries the whole order
    // grid plus the converted readout `eps_star` ≈ 2.19 and basic
    // composition's 16·ε' ≈ 9.92 side by side — the ~4.5× tightening IS
    // the release. Driver math like x46 (accounting is serialized by
    // design), one local toDF; the oracle replays the identical
    // arithmetic as a recursive CTE under the round-to-9 discipline.
    "x61_rdp_account" -> { (s, d) =>
      import s.implicits._
      val lnInvDelta = BigDecimal(math.log(1000000.0))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val rows = RdpAccountant.Orders.map { a =>
        val rdp = RdpAccountant.rdpSampledGaussian(0.5, SubGaussSigma, a)
        val tot = 16.0 * rdp
        (a.toLong, rdp, tot, tot + lnInvDelta / (a - 1))
      }
      val epsStar = rows.map(_._4).min
      val epsBasic = 16.0 * amplifiedEps(0.5).toDouble
      rows.map { case (a, rdp, tot, eps) =>
        (a, rdp, tot, eps, epsStar, epsBasic, 1e-6)
      }.toDF("alpha", "rdp", "rdp_total", "eps", "eps_star", "eps_basic",
        "delta").orderBy("alpha")
    },
    // LOCAL DP ([[localFrequencyRelease]]): k-ary randomized response
    // at collection (Warner 1965 / Kairouz–Oh–Viswanath 2016) + the
    // debiased frequency estimator — the OTHER privacy model: each
    // record is ε-locally-private on its own, the collector never
    // holds truth, the estimate is post-processing, and no ledger
    // appears because the ε is spent per record at collection, not
    // per release against a corpus budget.
    "x62_local_rr_freq" -> { (s, d) =>
      localFrequencyRelease(Tables.events(s, d), seeded = true)
    },
    // DP RANGE-COUNT release ([[dpRangeRelease]]): the Hay et al.
    // hierarchical method — noise the x47 dyadic node vector ONCE
    // (Laplace(7) per node, 'dpr|' domain, one ε for the window), then
    // answer the PUBLIC query set (58 weekly + 35 thirty-day + the
    // full window = 94 ranges) as post-processing: each range sums its
    // ≤ 2(L−1)-node canonical dyadic cover through DECIMAL(28,12).
    "x63_dp_range_tree" -> { (s, d) =>
      dpRangeRelease(Tables.events(s, d), seeded = true)
    },
    // Exponential-mechanism QUANTILE release ([[dpQuantileRelease]]):
    // x44's rank-distance selection generalized to the public set
    // {0.25, 0.5, 0.75, 0.9} at ε/4 each (sequential within a type,
    // parallel across types — the frame costs ε = 1), with the
    // inverted-quantile failure mode closed by sorted post-processing
    // (released_q monotone; raw_q the same multiset, permuted).
    "x64_dp_quantiles" -> { (s, d) =>
      dpQuantileRelease(Tables.events(s, d), seeded = true)
    }
  )

  /** Seed salt for the DP releases. `seeded = true` (the test/verify
    * spelling the gate queries pass explicitly) uses the bare
    * md5(tag||group-key) seeds — reproducible across engines, which is
    * what the DuckDB hash gate needs, but also PUBLICLY RECOMPUTABLE:
    * anyone can re-derive the noise and subtract it, so a seeded
    * release's DP guarantee is vacuous. The PRODUCTION DEFAULT
    * (`seeded = false`) mixes a driver-drawn 128-bit `SecureRandom`
    * salt into every seed: the noise stays a pure deterministic map
    * WITHIN the release job (all tasks see the same literal, task
    * retries are idempotent, no per-row RNG state to coordinate), but
    * is not recomputable by anyone without the salt, which is never
    * released and never stored with the output. Round-14 advice: the
    * deterministic spelling must not be what a production caller ships
    * by accident — it is now opt-in per call.
    *
    * Exposure surface (r15 advice): the salt rides the plan as a string
    * LITERAL, so it appears wherever Spark prints plans — `explain`
    * output, the UI SQL tab, and event logs. The threat model here is
    * the RELEASE consumer (who sees only the released aggregates), not
    * a cluster operator: anyone with Spark UI or event-log access can
    * already read the un-noised inputs directly, so recovering the
    * noise buys them nothing. Deployments that nonetheless log plans to
    * a wider audience than the data itself should set Spark's built-in
    * plan redaction to cover the salt's shape —
    * `spark.sql.redaction.string.regex = "[0-9a-f]{32}\\|"` redacts the
    * literal from every plan string Spark renders — or disable the
    * relevant sinks (`spark.eventLog.enabled=false`, `spark.ui.enabled=
    * false`). The salt is drawn per release and never reused, so a
    * historical leak voids only that release's non-replayability, not
    * future ones.
    */
  private[graft] def releaseSalt(seeded: Boolean): String =
    if (seeded) ""
    else {
      val bytes = new Array[Byte](16)
      new java.security.SecureRandom().nextBytes(bytes)
      bytes.map(b => f"$b%02x").mkString + "|"
    }

  /** Uniform u ∈ (0,1) seeded from md5(tag || salt || key) — with an
    * empty salt this is byte-identical to the oracle's spelling.
    */
  private def seededUnifKey(tag: String, salt: String, key: Column): Column = {
    val v = Cols.md5Prefix(concat(lit(tag), lit(salt), key), 8)
    (v.cast("double") + lit(0.5)) / lit(4294967296.0)
  }

  /** The (event_type, day) group-key spelling x40/x42/x43 share. */
  private def seededUnif(tag: String, salt: String): Column =
    seededUnifKey(tag, salt,
      concat(col("event_type"), lit("|"), col("day").cast("string")))

  /** Gumbel(0,1) by inverse CDF, −ln(−ln u), in the chained-ln
    * determinism spelling: each ln rounded to 9 (the x10 libm
    * discipline), the inner log clamped to ≤ −1e−9 first — a u within
    * 5e−10 of 1.0 would round its ln to −0.0 and blow the outer log to
    * ∞ in one engine and an error in another (the 32-bit seeded
    * uniform can reach 1 − 1.2e−10).
    */
  private def gumbel(u: Column): Column =
    round(-log(-least(round(log(u), 9), lit(-1e-9))), 9)

  /** Laplace(b) by inverse CDF; the ln rides the x10 libm discipline
    * (round to 9 digits before the one double add that follows).
    */
  private def laplace(b: Double, u: Column): Column = round(
    -lit(b) * signum(u - lit(0.5)) * log(lit(1.0) - lit(2.0) * abs(u - lit(0.5))), 9)

  /** N(0, σ²) by Box–Muller from two seeded uniforms — the Gaussian
    * mechanism's draw (x50). Every libm call (ln, cos) is rounded to 9
    * digits before the next operation (the x10 discipline; sqrt is
    * IEEE-exact and needs no concession), so the oracle's spelling is
    * digit-identical. The 32-bit seeded uniform keeps u1 ≥ 2⁻³³, so
    * |z| ≤ √(2·ln 2³³) ≈ 6.77 by construction — the tail the spec
    * pins. u1's ln can round to −0.0 at the top of the range; −2·−0.0
    * = 0.0 and √0 = 0, so no NaN path exists.
    */
  private def gaussian(sigma: Double, u1: Column, u2: Column): Column = round(
    lit(sigma) *
      round(sqrt(round(lit(-2.0) * round(log(u1), 9), 9)), 9) *
      round(cos(round(lit(2.0 * math.Pi) * u2, 9)), 9), 9)

  /** zCDP → (ε, δ): a ρ-zCDP mechanism satisfies (ρ + 2√(ρ·ln(1/δ)), δ)
    * approximate DP for every δ > 0 (Bun–Steinke 2016, Prop. 1.3). The
    * conversion the x50 ρ-ledger's budget is read through.
    */
  def zcdpEpsilon(rho: Double, delta: Double): Double = {
    require(rho > 0 && delta > 0 && delta < 1, s"need rho>0, 0<delta<1; got $rho, $delta")
    rho + 2.0 * math.sqrt(rho * math.log(1.0 / delta))
  }

  /** x40's ε=1 Laplace count release as a public API (see the x40 entry
    * for the mechanism/accounting doc). [[releaseSalt]] documents the
    * `seeded` contract — production default is the salted,
    * non-recomputable draw. When `ledger` is present the release
    * charges ε=1 BEFORE the plan is constructed (charge-then-release,
    * [[DpLedger]]): a refused release throws here and no frame exists
    * to act on. ε=1 covers the WHOLE frame — the per-(event_type, day)
    * cells are disjoint, so parallel composition makes the total cost
    * the max per-cell ε, not the sum.
    *
    * Release SET discipline (r16 advice, the x43/x44/x47 principle
    * applied to the one release that still derived its rows from
    * observed groups): cells are the DENSE public 64-day calendar
    * window × the event-type vocabulary, zero-count cells included and
    * noised like any other. Under the old observed-groups spelling a
    * cell's PRESENCE in the release flipped with one record — an
    * unbounded privacy-loss ratio no ε=1 claim survives, and one the
    * x46 ledger would have re-packaged as shippable audit rows. The
    * vocabulary is read from the corpus and must be treated as PUBLIC
    * schema-level knowledge (the x43 caveat); records outside the
    * window are out of this release's scope (the x47 contract — the
    * next window is a fresh release with fresh budget,
    * [[dpContinualRollover]] is the composed form).
    */
  def dpCountRelease(events: DataFrame, seeded: Boolean = false,
      ledger: Option[DpLedger] = None, releaseId: String = "count",
      vocabulary: Option[Seq[String]] = None): DataFrame = {
    ledger.foreach(_.charge(releaseId, "laplace_count", BigDecimal(1)))
    val salt = releaseSalt(seeded)
    val grp = windowedGroup(events).agg(count(lit(1)).as("true_n"))
    val b = 1.0 // Laplace scale = sensitivity / epsilon = 1 / 1
    val counts = denseCells(events, grp, "true_n", vocabulary)
    // only the clamped integer ships: releasing noise or noisy_n beside
    // it would reconstruct true_n exactly and void the mechanism
    counts.withColumn("noisy_n",
        col("true_n").cast("double") + laplace(b, seededUnif("dp|", salt)))
      .select(col("event_type"), col("day"),
        greatest(lit(0.0), floor(col("noisy_n") + lit(0.5))).cast("long").as("released_n"),
        lit(1.0).as("epsilon"))
      .orderBy("event_type", "day")
  }

  /** The public-window membership predicate on a day column — ONE
    * spelling (r19 review: [[publicDayGrid]]'s r18 rationale applied
    * to its FILTER twin, which had been hand-copied at nine sites; a
    * drifted epoch or cast at one of them would silently desynchronize
    * release windows — and, since the x54/x55 twins, batch releases
    * from their streaming twins — cell-for-cell).
    */
  private def inPublicWindow(day: Column): Column =
    day >= to_date(lit(ContinualEpoch)).cast("timestamp") &&
      day < date_add(to_date(lit(ContinualEpoch)), ContinualT).cast("timestamp")

  /** Events with their `day` column, filtered to the public window —
    * the shared head of every windowed release.
    */
  private def windowedDays(events: DataFrame): DataFrame =
    events.withColumn("day", date_trunc("day", col("ts")))
      .filter(inPublicWindow(col("day")))

  /** The public-window day filter + (event_type, day) grouping every
    * dense-cell release starts from — one combinable corpus exchange.
    */
  private def windowedGroup(events: DataFrame)
      : org.apache.spark.sql.RelationalGroupedDataset =
    windowedDays(events).groupBy("event_type", "day")

  /** Dense release cells shared by x40/x42/x43/x49/x50/x52: the PUBLIC
    * 64-day calendar grid × the event-type vocabulary, with the grouped
    * frame LEFT-joined in so unobserved cells enter at each fill's zero
    * — no new corpus exchange (grid and vocabulary broadcast). `fills`
    * names the grouped columns and their zero literals (x42 fills a
    * DECIMAL sum and a LONG count; the count releases fill one LONG).
    *
    * THE VOCABULARY IS PART OF THE PRIVACY CONTRACT (r17 review): the
    * release-set discipline ("a cell's presence must never depend on
    * the data") holds only if the vocabulary itself is public. Pass
    * `vocabulary` from deployment config (schema-level knowledge, the
    * honest production spelling) and the release set is data-independent
    * by construction. The `None` default derives it from the corpus —
    * convenient, and what the hash gates use — but then a type whose
    * EVERY record belongs to one person appears/disappears with that
    * person, an unbounded privacy-loss ratio no ε (or ρ) claim
    * survives; the x43 caveat, now enforced at the one place all three
    * dense releases build their cells.
    */
  /** The PUBLIC 64-day calendar grid every windowed release rides —
    * ONE spelling (r18 review: the grid had been hand-copied at three
    * sites; a drift in the epoch/cast at one of them would silently
    * desynchronize release grids that must agree cell-for-cell).
    */
  private def publicDayGrid(s: SparkSession): DataFrame =
    s.range(ContinualT).select(
      date_add(to_date(lit(ContinualEpoch)), col("id").cast("int"))
        .cast("timestamp").as("day"))

  /** The dense public day grid × vocabulary, left-joined to `grp` with
    * each `fills` column's missing cells set to its zero. The VOCAB
    * SOURCE frame is any frame carrying an `event_type` column whose
    * distinct values stand in for the corpus vocabulary when no public
    * one is passed. The batch entries pass the raw events; the
    * streaming twins pass the full-corpus cell store (the subsample
    * store must never be the vocabulary source — a sample-derived
    * release set would make cell presence depend on the sampling draw).
    * When `vocabulary` is Some, the source frame is never referenced (no
    * job runs against it).
    */
  private def denseCellsFrom(vocabSource: DataFrame, grp: DataFrame,
      fills: Seq[(String, Column)], vocabulary: Option[Seq[String]]): DataFrame = {
    val s = vocabSource.sparkSession
    val grid = publicDayGrid(s)
    val vocab = vocabulary match {
      case Some(raw) =>
        // dedup (r17 advice): duplicate vocabulary entries would emit
        // duplicate release cells — identical noise, repeated rows —
        // and turn the "≤ capCells cells" sensitivity statements into
        // statements over a multiset
        val ts = raw.distinct
        require(ts.nonEmpty, "a public vocabulary must name at least one type")
        import s.implicits._
        ts.toDF("event_type")
      case None => vocabSource.select("event_type").distinct()
    }
    grid.crossJoin(broadcast(vocab))
      .join(grp, Seq("event_type", "day"), "left")
      .select(col("event_type") +: col("day") +:
        fills.map { case (c, zero) => coalesce(col(c), zero).as(c) }: _*)
  }

  /** [[denseCellsFrom]] over the raw events for the single-LONG-count
    * releases.
    */
  private def denseCells(events: DataFrame, grp: DataFrame,
      countCol: String, vocabulary: Option[Seq[String]]): DataFrame =
    denseCellsFrom(events, grp, Seq(countCol -> lit(0L)), vocabulary)

  /** x50: GAUSSIAN-mechanism count release under zCDP accounting — the
    * other canonical noise mechanism, and the accounting regime modern
    * ML release pipelines actually run (DP-SGD's moments/RDP accounting
    * is zCDP-shaped). Laplace (x40) is the right tool for one release
    * at pure ε; Gaussian composes better: k ρ-zCDP releases are
    * (k·ρ)-zCDP — the ledger sums ρ linearly and EXACTLY, and the
    * (ε, δ) statement falls out ONCE at read time via [[zcdpEpsilon]]
    * (ρ + 2√(ρ·ln(1/δ))): because the √ term composes sublinearly,
    * converting the summed ρ is strictly tighter than summing
    * per-release conversions (5.76 vs 11.0 for four releases at
    * δ = 1e-6 — the spec pins it), which is why the ledger must
    * account in ρ and convert at read time, never per release. Pure-ε
    * accounting of a Gaussian release is impossible (δ = 0 never
    * holds). Count sensitivity Δ = 1, σ = 2 → ρ = Δ²/(2σ²) = 0.125,
    * EXACT in decimal, so the ledger arithmetic stays drift-free.
    *
    * Same release-set discipline as x40 (dense public grid ×
    * vocabulary, zero cells noised, only the clamped integer ships)
    * and the same plan shape (one combinable corpus agg + pure map
    * noise). `ledger` must be a ρ-CURRENCY ledger — a [[DpLedger]]
    * instance accounts exactly one currency, and mixing ε charges and
    * ρ charges in one registry would sum incomparable numbers. Since
    * round 18 the registry ENFORCES this (r17 verdict #2): the charge
    * below is tagged [[DpLedger.Rho]], and an ε-currency ledger passed
    * here throws `IllegalArgumentException` before any budget check.
    */
  def dpGaussianCountRelease(events: DataFrame, seeded: Boolean = false,
      ledger: Option[DpLedger] = None, releaseId: String = "gauss_count",
      vocabulary: Option[Seq[String]] = None): DataFrame = {
    val sigma = 2.0
    val rho = BigDecimal("0.125") // 1 / (2 sigma^2), exact
    // the ρ-currency charge: a ρ value into an ε ledger now THROWS at
    // the registry (r17 verdict #2) instead of silently under-counting
    ledger.foreach(_.charge(releaseId, "gaussian_count_zcdp", rho, DpLedger.Rho))
    val salt = releaseSalt(seeded)
    val grp = windowedGroup(events).agg(count(lit(1)).as("true_n"))
    val counts = denseCells(events, grp, "true_n", vocabulary)
    counts.withColumn("noisy",
        col("true_n").cast("double") +
          gaussian(sigma, seededUnif("dpg1|", salt), seededUnif("dpg2|", salt)))
      .select(col("event_type"), col("day"),
        greatest(lit(0.0), floor(col("noisy") + lit(0.5))).cast("long").as("released_n"),
        lit(rho.toDouble).as("rho"))
      .orderBy("event_type", "day")
  }

  /** x51: Sparse Vector Technique (AboveThreshold) over the daily count
    * stream — the mechanism for MONITORING under DP: "alert the first
    * day the event volume crosses T" asked of every day in the window
    * costs ε TOTAL, not 64·ε, because below-threshold answers are
    * nearly free (Dwork–Roth, Alg. 1 / Thm. 3.23: noisy threshold
    * T̂ = T + Lap(2/ε) drawn once, each query compared as
    * f_t + Lap(4/ε) ≥ T̂, HALT at the first ⊤). x40 pays ε per release
    * and x47 pays ε per window of RELEASED VALUES; SVT answers an
    * unbounded stream of threshold QUESTIONS for one ε, which is why
    * it is the budget-efficient primitive for alerting pipelines.
    *
    * Release-set note — deliberately different from the dense-grid
    * discipline: the output length is DATA-DEPENDENT (rows up to and
    * including the first ⊤), and that is NOT a leak here, because the
    * halting point is part of the mechanism's proven output space —
    * the ε guarantee covers the entire ⊥…⊥⊤ string including where it
    * stops. The query SCHEDULE stays public (every calendar day of the
    * 64-day window, empty days included, in calendar order); only the
    * threshold verdicts ship — never counts, never noise. `threshold`
    * is public deployment config.
    *
    * Plan shape: one combinable day groupBy (the only corpus
    * exchange), the public grid broadcast in, the halting point a
    * 64-row min — public-window-sized, the x46 rationale. `ledger`
    * charges ε = 1 ONCE for the whole stream (the point of SVT).
    */
  def dpAboveThresholdRelease(events: DataFrame, threshold: Double = 100.0,
      seeded: Boolean = false, ledger: Option[DpLedger] = None,
      releaseId: String = "svt"): DataFrame =
    dpAboveThresholdFromDaily(
      windowedDays(events).groupBy("day").agg(count(lit(1)).as("cnt")),
      threshold, seeded, ledger, releaseId)

  /** [[dpAboveThresholdRelease]] from PRE-AGGREGATED `(day, cnt)`
    * dailies — the streaming-twin entry ([[graft.streaming.LiveRelease
    * .aboveThreshold]]): SVT is intrinsically an ALERTING mechanism,
    * and the live day-count store is where an alerting pipeline
    * actually asks it. Same equivalence argument as the continual
    * twin: dailies are additive, everything downstream is seeded and
    * public-grid-shaped.
    */
  def dpAboveThresholdFromDaily(dailyCounts: DataFrame,
      threshold: Double = 100.0, seeded: Boolean = false,
      ledger: Option[DpLedger] = None, releaseId: String = "svt"): DataFrame = {
    ledger.foreach(_.charge(releaseId, "above_threshold_svt", BigDecimal(1)))
    aboveThresholdSalted(dailyCounts, threshold, releaseSalt(seeded))
  }

  /** The salted AboveThreshold core behind the public entry above:
    * `salt` is the noise domain, so distinct salts draw independent
    * noise and the same salt re-derives the same verdicts. Charging is
    * the caller's job.
    */
  private[graft] def aboveThresholdSalted(dailyCounts: DataFrame,
      threshold: Double, salt: String): DataFrame = {
    val grid = publicDayGrid(dailyCounts.sparkSession)
    val cells = grid.join(dailyCounts, Seq("day"), "left")
      .select(col("day"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    // T̂ drawn ONCE (day-independent seed tag); per-day noise at scale 4
    val tHat = lit(threshold) +
      laplace(2.0, seededUnifKey("dpt|", salt, lit("threshold")))
    val flagged = cells.withColumn("above",
      col("cnt").cast("double") +
        laplace(4.0, seededUnifKey("dpv|", salt, col("day").cast("string"))) >= tHat)
    // halt at the first ⊤: rows after it are never released (the
    // mechanism stops; a 64-row window computes the halting point)
    val w = Window.partitionBy().orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged
      .withColumn("n_above_so_far", sum(when(col("above"), 1).otherwise(0)).over(w))
      .filter(col("n_above_so_far") - when(col("above"), 1).otherwise(0) < 1)
      .select(col("day"), col("above"), lit(1.0).as("stream_epsilon"))
      .orderBy("day")
  }

  /** x53: the NUMERIC SPARSE extension of x51 — SVT with up to `c`
    * alerts for one total ε (Dwork–Roth Alg. 2, "Sparse"): run
    * AboveThreshold with ε′ = ε/c, and after each ⊤ RESTART it — a
    * fresh noisy threshold T̂ₑ = T + Lap(2c/ε) and fresh per-day noise
    * Lap(4c/ε) — halting for good after the c-th ⊤ or the window end.
    * x51 answers "has the volume crossed yet" ONCE per budget; a
    * monitoring pipeline that must keep paging after the first episode
    * either re-charges per alert (a fresh x51 release per episode —
    * c unknown in advance, pay as you go) or fixes c
    * up front and pays ε once for all c alerts (this spelling —
    * sequential composition over c AboveThreshold runs at ε/c each,
    * Dwork–Roth Thm. 3.25). Which wins is a deployment choice: for
    * k expected alerts, Sparse costs ε with noise scaled by c; re-arm
    * costs k·ε with noise scaled by 1.
    *
    * Output: every asked (day, episode) with its verdict — episode e
    * covers the days strictly after episode e−1's alert day, up to and
    * including its own alert day; an episode that exhausts the window
    * without a ⊤ ends the stream (later episodes ask nothing). Only
    * verdicts ship, never counts or noise; the data-dependent output
    * length is part of the mechanism's proven output space (the x51
    * argument, per episode). `stream_epsilon` is the TOTAL ε = 1 for
    * all episodes together — the point of Sparse.
    *
    * Plan shape: ONE combinable day groupBy (the only corpus
    * exchange), then the ≤ 64 dense cells are MATERIALIZED driver-side
    * (a public-window-sized collect — the x46 rationale) so the c
    * chained episode frames reference a LocalRelation instead of
    * re-deriving the corpus agg per branch: a lazy spelling recomputes
    * the day groupBy once per episode REFERENCE (rows + boundary × c —
    * up to 6 corpus scans at c = 2), which is the wrong default at
    * 100 TB. Episode math stays Spark expressions over the local frame
    * (the oracle replays it); c is small public config, never
    * data-dependent.
    */
  def dpSparseRelease(events: DataFrame, threshold: Double = 100.0,
      c: Int = 2, seeded: Boolean = false, ledger: Option[DpLedger] = None,
      releaseId: String = "sparse"): DataFrame =
    dpSparseFromDaily(
      windowedDays(events).groupBy("day").agg(count(lit(1)).as("cnt")),
      threshold, c, seeded, ledger, releaseId)

  /** [[dpSparseRelease]] from pre-aggregated `(day, cnt)` dailies — the
    * streaming-twin entry ([[graft.streaming.LiveRelease.sparse]]);
    * the x51 additivity argument carries over per episode.
    */
  def dpSparseFromDaily(dailyCounts: DataFrame, threshold: Double = 100.0,
      c: Int = 2, seeded: Boolean = false, ledger: Option[DpLedger] = None,
      releaseId: String = "sparse"): DataFrame = {
    require(c >= 1, s"need at least one alert slot, got $c")
    // one charge for the WHOLE c-alert stream (Dwork–Roth Thm. 3.25)
    ledger.foreach(_.charge(releaseId, "sparse_svt", BigDecimal(1)))
    val salt = releaseSalt(seeded)
    val s = dailyCounts.sparkSession
    // materialize the ≤ 64-row dense cells once (scaladoc: one corpus
    // exchange total, episodes chain over a LocalRelation)
    val cells = {
      import s.implicits._
      publicDayGrid(s).join(dailyCounts, Seq("day"), "left")
        .select(col("day"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        .as[(java.sql.Timestamp, Long)].collect().toSeq
        .toDF("day", "cnt")
    }
    val tScale = 2.0 * c // Lap(2/ε′), ε′ = 1/c
    val qScale = 4.0 * c
    // the episode-(e-1) alert day each episode resumes after; seeded to
    // the day BEFORE the grid so episode 0 asks from the first slot
    // (null would be ambiguous with "previous episode never alerted")
    var prev = s.range(1).select(
      date_sub(to_date(lit(ContinualEpoch)), 1).cast("timestamp").as("lo_day"))
    val episodes = (0 until c).map { e =>
      // per-episode seed domains: T̂ once per episode, noise per day
      val tHat = lit(threshold) +
        laplace(tScale, seededUnifKey(s"dpt|$e|", salt, lit("threshold")))
      val flagged = cells.withColumn("above",
        col("cnt").cast("double") +
          laplace(qScale, seededUnifKey(s"dpv|$e|", salt, col("day").cast("string"))) >= tHat)
      // a null lo_day (prior episode exhausted the window) asks nothing
      val scoped = flagged.crossJoin(broadcast(prev))
        .filter(col("day") > col("lo_day"))
      val bound = scoped.filter(col("above")).agg(min(col("day")).as("b"))
      val rows = scoped.crossJoin(broadcast(bound))
        .filter(col("b").isNull || col("day") <= col("b"))
        .select(col("day"), lit(e.toLong).as("episode"), col("above"))
      prev = bound.select(col("b").as("lo_day"))
      rows
    }
    episodes.reduce(_.unionByName(_))
      .withColumn("stream_epsilon", lit(1.0))
      .orderBy("episode", "day")
  }

  /** x54: stability-based (ε, δ) histogram release over an UNKNOWN key
    * domain (Korolova–Kenthapadi–Mishra–Ntoulas, WWW 2009; the
    * "stability histogram" of Bun–Nissim–Stemmer / Balcer–Vadhan) —
    * the release the dense-grid family explicitly cannot provide:
    * [[denseCells]]'s contract REQUIRES a public vocabulary, and its
    * scaladoc warns that a deployment whose category set is itself
    * sensitive has no correct path through it. This is that path, and
    * the third — and last — release-set regime in the family:
    *
    *  1. dense PUBLIC set (x40/x42/x43/x49/x50): pure ε, presence
    *     reveals nothing because every public cell always releases;
    *  2. halting-licensed set (x51/x53): data-dependent length proven
    *     as part of the mechanism's output space;
    *  3. δ-LICENSED set (this): observed cells with noisy count above
    *     a stability threshold τ — the set IS data-dependent, and the
    *     δ in (ε, δ)-DP is exactly the price: a cell a single record
    *     created survives its Laplace(1/ε) draw past τ with
    *     probability ½·e^(−ε(τ−1)) ≤ δ at τ = 1 + ln(1/(2δ))/ε, so
    *     the release distribution on neighbors differs by at most
    *     that δ beyond the e^ε factor. Pure ε=1 with δ = 0 over an
    *     unknown domain is IMPOSSIBLE (any released novel cell is a
    *     certain distinguisher) — δ is not a weakening here, it is
    *     the admission fee for not publishing a vocabulary.
    *
    * One record lands in one (event_type, day) cell (event-level
    * add/remove neighbors), so parallel composition over disjoint
    * cells prices the WHOLE frame at (ε, δ) = (1, 1e−6): τ ≈ 14.12 —
    * honest and visible in the output (`tau` ships as public config;
    * a cell must clear it, so released counts are never small, which
    * is the mechanism's documented utility cost on rare keys). Only
    * the clamped integer ships; true counts and noise never do. The
    * τ arithmetic rides the x10 libm discipline (the ln is rounded to
    * 9 digits in BOTH engines before the one add, and the noisy
    * comparison operands are bit-identical by the x40 spelling) so
    * the threshold verdict cannot flip on an ulp across engines.
    *
    * Plan shape: one combinable (event_type, day) groupBy is the only
    * corpus exchange; noise, threshold, and clamp are a pure map over
    * the group-sized frame — strictly simpler than x40 (no grid
    * join). `ledger` charges the (ε = 1, δ) PAIR through
    * charge-then-release (r18 verdict #1: δ was schedule metadata the
    * reader was told to compose alongside — now the registry meters it
    * per row against [[DpLedger.open]]'s `deltaBudget`, and K
    * stability releases spend exactly (K, K·δ) with the K+1th refused
    * by whichever budget binds first, nothing computed).
    */
  def dpStableHistogramRelease(events: DataFrame, seeded: Boolean = false,
      delta: Double = 1e-6, ledger: Option[DpLedger] = None,
      releaseId: String = "stable_hist"): DataFrame =
    stableHistogramCore(windowedGroup(events).agg(count(lit(1)).as("true_n")),
      seeded, delta, ledger, releaseId)

  /** [[dpStableHistogramRelease]] from pre-aggregated
    * `(event_type, day, true_n)` cells — the streaming-twin entry
    * ([[graft.streaming.LiveRelease.stableHistogram]]): cell counts
    * are additive over events, and everything downstream (seeded
    * noise keyed by the cell, the public τ, the clamp) is
    * deterministic given the cells, so a release from the live
    * cell-count store equals the batch release on the same records.
    * The public-window day filter is applied HERE (the batch entry's
    * [[windowedGroup]] already filtered; filtering pre-aggregated
    * cells after the count commutes because days partition events).
    */
  def dpStableHistogramFromCells(cells: DataFrame, seeded: Boolean = false,
      delta: Double = 1e-6, ledger: Option[DpLedger] = None,
      releaseId: String = "stable_hist"): DataFrame =
    stableHistogramCore(cells.filter(inPublicWindow(col("day"))),
      seeded, delta, ledger, releaseId)

  private def stableHistogramCore(grp: DataFrame, seeded: Boolean,
      delta: Double, ledger: Option[DpLedger], releaseId: String): DataFrame = {
    require(delta > 0 && delta < 1, s"need 0 < delta < 1, got $delta")
    ledger.foreach(_.charge(releaseId, "laplace_stable_histogram",
      BigDecimal(1), delta = BigDecimal(delta)))
    val salt = releaseSalt(seeded)
    // tau = 1 + ln(1/(2 delta)) / eps at eps = 1, ln rounded to 9 (the
    // x10 discipline) so both engines compute the identical literal
    val tau = 1.0 + BigDecimal(math.log(1.0 / (2.0 * delta)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    grp.withColumn("noisy",
        col("true_n").cast("double") + laplace(1.0, seededUnif("dph|", salt)))
      .filter(col("noisy") >= lit(tau))
      .select(col("event_type"), col("day"),
        floor(col("noisy") + lit(0.5)).cast("long").as("released_n"),
        lit(1.0).as("epsilon"), lit(delta).as("delta"), lit(tau).as("tau"))
      .orderBy("event_type", "day")
  }

  /** x55: USER-level stability histogram — x54's unknown-domain
    * release at x49's privacy unit, the τ-thresholding construction
    * Wilson et al. (VLDB 2020, §5.2) ship for partition keys that are
    * not public, completing the family's release matrix:
    *
    *  |            | known domain | unknown domain |
    *  | event unit | x40 dense    | x54 stability  |
    *  | user unit  | x49 dense    | x55 (this)     |
    *
    * Mechanism: per user, distinct (event_type, day) cells inside the
    * window capped at the first `capCells` in (day, event_type) order
    * (x49's breadth bound — mechanism preprocessing, no budget); each
    * kept cell counts its user once; Laplace(capCells/ε) noise (L1
    * sensitivity of the count vector under remove-one-USER is
    * capCells); released only past τ = 1 + (capCells/ε)·ln(capCells/(2δ)).
    * The δ is a UNION BOUND over the release set: removing one user
    * can delete up to capCells cells entirely (count 1 → nonexistent),
    * and each such singleton cell survives its draw past τ with
    * probability ½·e^(−ε(τ−1)/capCells) ≤ δ/capCells — so the whole
    * release distribution moves by ≤ δ beyond the e^ε factor at the
    * USER level. At the defaults (capCells 4, δ = 1e−6): τ ≈ 59.03 —
    * deliberately steep, and the honest price of composing BOTH
    * protections: only cells ~60 users share can ever release, which
    * is the correct behavior for a release whose keys the adversary
    * may not even know exist. τ ships as public config; the τ
    * arithmetic rides the round-to-9 libm discipline (the ln is
    * rounded to 9 in both engines, and ×capCells is exact), so the
    * threshold verdict cannot flip on an ulp.
    *
    * Plan shape: x49's — one user-cell corpus distinct (combinable), a
    * user-keyed row_number window (frames ≤ T×|types| per user), one
    * cell-keyed combinable count, then pure-map noise/threshold/clamp;
    * NO grid or vocabulary side (that is the point).
    */
  def dpUserHistogramRelease(events: DataFrame, seeded: Boolean = false,
      capCells: Int = 4, delta: Double = 1e-6,
      ledger: Option[DpLedger] = None,
      releaseId: String = "user_hist"): DataFrame =
    userHistogramCore(
      windowedDays(events).select("user_id", "event_type", "day").distinct(),
      seeded, capCells, delta, ledger, releaseId)

  /** [[dpUserHistogramRelease]] from a pre-built DISTINCT
    * `(user_id, event_type, day)` user-cell set — the streaming-twin
    * entry ([[graft.streaming.LiveRelease.userHistogram]]): the
    * distinct user-cell set is idempotent-union additive (the union of
    * per-batch distinct sets, re-distincted, IS the batch distinct),
    * and the cap/count/noise/τ tail is deterministic given the set, so
    * live equals batch. Window filter applied here, as in the batch
    * entry.
    */
  def dpUserHistogramFromUserCells(userCells: DataFrame,
      seeded: Boolean = false, capCells: Int = 4, delta: Double = 1e-6,
      ledger: Option[DpLedger] = None,
      releaseId: String = "user_hist"): DataFrame =
    userHistogramCore(
      userCells.filter(inPublicWindow(col("day")))
        .select("user_id", "event_type", "day").distinct(),
      seeded, capCells, delta, ledger, releaseId)

  private def userHistogramCore(userCells: DataFrame, seeded: Boolean,
      capCells: Int, delta: Double, ledger: Option[DpLedger],
      releaseId: String): DataFrame = {
    require(capCells >= 1, s"capCells must be >= 1, got $capCells")
    require(delta > 0 && delta < 1, s"need 0 < delta < 1, got $delta")
    // the (ε, δ) PAIR charge (r18 verdict #1) — see stableHistogramCore
    ledger.foreach(_.charge(releaseId, "laplace_user_histogram",
      BigDecimal(1), delta = BigDecimal(delta)))
    val b = capCells / 1.0 // Laplace scale = user-level sensitivity / eps
    val tau = 1.0 + b * BigDecimal(math.log(capCells / (2.0 * delta)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val salt = releaseSalt(seeded)
    val w = Window.partitionBy("user_id").orderBy("day", "event_type")
    val kept = userCells.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= capCells)
    val grp = kept.groupBy("event_type", "day")
      .agg(count(lit(1)).as("true_users"))
    grp.withColumn("noisy",
        col("true_users").cast("double") + laplace(b, seededUnif("dpuh|", salt)))
      .filter(col("noisy") >= lit(tau))
      .select(col("event_type"), col("day"),
        floor(col("noisy") + lit(0.5)).cast("long").as("released_users"),
        lit(1.0).as("epsilon"), lit(delta).as("delta"), lit(tau).as("tau"),
        lit(capCells.toLong).as("cap_cells"))
      .orderBy("event_type", "day")
  }

  /** x56: privacy AMPLIFICATION BY SUBSAMPLING — the accounting
    * primitive real ML release pipelines (DP-SGD above all) are built
    * on, and the one the family lacked: run an ε₀-DP mechanism on a
    * Poisson subsample at rate q instead of the full data and the
    * composed mechanism satisfies ε' = ln(1 + q·(e^{ε₀} − 1)) < q·ε₀·e
    * — strictly less than ε₀ (the standard amplification lemma:
    * Kasiviswanathan et al. FOCS 2008 §4 / Li–Qardaji–Su 2012;
    * tightness in Balle–Barthe–Gaboardi NeurIPS 2018). The intuition
    * is the proof: a neighboring record is only IN the analyzed data
    * with probability q, and when it is absent the two worlds are
    * identical, so the e^{ε₀} distinguishing factor applies only
    * q-fraction of the time. At the defaults (q = ½, ε₀ = 1):
    * ε' = ln(1 + ½(e−1)) ≈ 0.620 — the LEDGER IS CHARGED THE AMPLIFIED
    * VALUE, which is the operational point: K subsampled releases
    * spend K·0.620…, so a fixed budget admits ~60% more of them than
    * unamplified ones (PrivacySpec pins amplified < unamplified spend
    * for the same release count, and the extra admitted release).
    *
    * Mechanism: each event is kept iff its seeded uniform
    * (md5 over "dpss|" ‖ salt ‖ event_id — the x6 deterministic-
    * Bernoulli discipline, so the DuckDB oracle replays the SAME
    * subsample) falls below q; the x40 Laplace(1/ε₀) count release
    * then runs over the kept events on the SAME dense public grid ×
    * vocabulary (the vocabulary derives from the FULL corpus —
    * schema-level knowledge, not a function of the sample). Honest
    * caveat, the [[releaseSalt]] contract verbatim: the amplification
    * theorem needs the sampling randomness SECRET from the release
    * consumer — with `seeded = true` (the gate spelling) the sample is
    * publicly recomputable and the amplified claim is vacuous, exactly
    * as the seeded noise itself is; the production default mixes the
    * CSPRNG salt into the sampling hash AND the noise, making both
    * non-recomputable together.
    *
    * Determinism: ε' is a driver-side constant under the x10 libm
    * discipline — e rounds to 9, the ln of the exact-double inner term
    * rounds to 9 — so the charged BigDecimal, the released `epsilon`
    * column, and the oracle's literal agree digit for digit. Plan
    * shape: x40's exactly (the Bernoulli filter is a pure map BEFORE
    * the one combinable groupBy, so the corpus exchange shrinks to
    * q·|corpus|); released counts estimate the SUBSAMPLE (consumers
    * rescale by 1/q as post-processing — released data, no budget).
    */
  def dpSubsampledCountRelease(events: DataFrame, q: Double = 0.5,
      seeded: Boolean = false, ledger: Option[DpLedger] = None,
      releaseId: String = "subsampled_count",
      vocabulary: Option[Seq[String]] = None): DataFrame = {
    // validated BEFORE the charge (the x49 contract): q outside (0,1)
    // is not a subsample and must not burn budget
    require(q > 0 && q < 1, s"need 0 < q < 1, got $q")
    val epsAmp = amplifiedEps(q)
    ledger.foreach(_.charge(releaseId, "laplace_count_subsampled", epsAmp))
    val salt = releaseSalt(seeded)
    val kept = events.filter(subsampleKeep("dpss|", salt, q))
    val grp = windowedGroup(kept).agg(count(lit(1)).as("true_n"))
    // vocabulary side from the FULL events frame (see scaladoc); the
    // grouped side from the kept subsample
    subsampledCountTail(events, grp, q, epsAmp, salt, vocabulary)
  }

  /** [[dpSubsampledCountRelease]] from pre-aggregated KEPT-subsample
    * `(event_type, day, true_n)` cells — the streaming-twin entry
    * ([[graft.streaming.LiveRelease.subsampledCount]]): the keep
    * decision is per-event and deterministic given the sampling salt,
    * so the kept set is batch-invariant, kept-cell counts are additive
    * over events, and the noise/clamp tail is deterministic given the
    * cells — live equals batch bit-for-bit on the same records.
    * `vocabSource` must carry the FULL corpus's event types (the twin
    * passes the full-cell store; see [[denseCellsFrom]] — a
    * sample-derived vocabulary would make cell presence depend on the
    * sampling draw). The window filter commutes with the count like
    * [[dpStableHistogramFromCells]]'s.
    */
  def dpSubsampledCountFromCells(keptCells: DataFrame, vocabSource: DataFrame,
      q: Double = 0.5, seeded: Boolean = false,
      ledger: Option[DpLedger] = None,
      releaseId: String = "subsampled_count",
      vocabulary: Option[Seq[String]] = None): DataFrame = {
    require(q > 0 && q < 1, s"need 0 < q < 1, got $q")
    val epsAmp = amplifiedEps(q)
    ledger.foreach(_.charge(releaseId, "laplace_count_subsampled", epsAmp))
    val salt = releaseSalt(seeded)
    subsampledCountTail(vocabSource,
      keptCells.filter(inPublicWindow(col("day"))), q, epsAmp, salt, vocabulary)
  }

  /** x56's dense-grid + Laplace(1/ε₀) + clamp tail, shared by the batch
    * and FromCells entries so the two spellings cannot drift.
    */
  private def subsampledCountTail(vocabSource: DataFrame, grp: DataFrame,
      q: Double, epsAmp: BigDecimal, salt: String,
      vocabulary: Option[Seq[String]]): DataFrame = {
    val counts = denseCellsFrom(vocabSource, grp,
      Seq("true_n" -> lit(0L)), vocabulary)
    counts.withColumn("noisy",
        col("true_n").cast("double") + laplace(1.0, seededUnif("dpsc|", salt)))
      .select(col("event_type"), col("day"),
        greatest(lit(0.0), floor(col("noisy") + lit(0.5))).cast("long")
          .as("released_n"),
        lit(epsAmp.toDouble).as("epsilon"), lit(q).as("q"),
        lit(1.0).as("base_epsilon"))
      .orderBy("event_type", "day")
  }

  /** [[dpSubsampledGaussianRdpRelease]] from pre-aggregated
    * KEPT-subsample cells — the RDP-accounted spelling of
    * [[dpSubsampledGaussianFromCells]] (same mechanism, same twin
    * argument; the accountant charges the (q, σ) Rényi footprint
    * instead of the lemma pair). The serving tier's K-schedule entry
    * ([[graft.serve.IntakeServe]]'s `/subsampled?mech=gauss` under an
    * `rdpAccountant`).
    */
  def dpSubsampledGaussianRdpFromCells(keptCells: DataFrame,
      vocabSource: DataFrame, accountant: RdpAccountant, q: Double = 0.5,
      seeded: Boolean = false, releaseId: String = "subsampled_gauss_rdp",
      vocabulary: Option[Seq[String]] = None): DataFrame = {
    require(q > 0 && q < 1, s"need 0 < q < 1, got $q")
    val epsAfter = accountant.charge(releaseId, q, SubGaussSigma)
    val salt = releaseSalt(seeded)
    subsampledGaussianTail(vocabSource,
      keptCells.filter(inPublicWindow(col("day"))), q, salt, vocabulary)
      .select(col("event_type"), col("day"), col("released_n"),
        lit(epsAfter).as("eps_total"),
        lit(accountant.deltaTarget).as("delta_target"),
        col("q"), col("sigma"))
      .orderBy("event_type", "day")
  }

  /** The Poisson-subsample keep predicate (x56/x60 and their streaming
    * twins — ONE spelling, so the batch releases and the live stores
    * cannot sample different sets): keep iff the seeded md5 uniform
    * over `tag ‖ salt ‖ event_id` falls below q. With an empty salt
    * (the seeded/test spelling) the sample is publicly recomputable
    * and any amplification claim is vacuous — [[releaseSalt]]'s
    * contract; the streaming intake takes the salt as deployment
    * config because the sample must be FIXED at ingest time.
    */
  private[graft] def subsampleKeep(tag: String, salt: String,
      q: Double): Column =
    seededUnifKey(tag, salt, col("event_id").cast("string")) < lit(q)

  /** x60's base-mechanism δ₀ (1e-6, the x46/x50 read-out value) and the
    * Gaussian σ the classical bound prescribes for (ε₀ = 1, δ₀):
    * σ = √(2·ln(1.25/δ₀))·Δ/ε₀ (Dwork–Roth Thm. A.1, valid for ε₀ ≤ 1;
    * Δ = 1 for counts). 1.25/δ₀ is written as the exact literal
    * 1.25e6 — dividing the DOUBLES 1.25/1e-6 lands one ulp off the
    * integer, and the libm discipline wants its inputs exact. The ln
    * rounds to 9, the ×2 is exact, the sqrt rounds to 9 (the x10
    * discipline applied to a CONSTANT: both engines then read the same
    * 9-digit decimal literal, interpolated — not recomputed — into the
    * oracle, the strongest form of the discipline).
    */
  private[graft] val SubGaussDelta0 = BigDecimal("0.000001")
  private[graft] val SubGaussSigma: Double = {
    val ln = BigDecimal(math.log(1250000.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    BigDecimal(math.sqrt(2.0 * ln))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** The amplified ε of a base ε₀ = 1 mechanism under Poisson
    * subsampling at rate q: ε' = ln(1 + q·(e − 1)), under the
    * round-to-9 libm discipline (shared by x56 and x60 — ONE spelling,
    * so the two releases' charged values cannot drift apart).
    */
  private[graft] def amplifiedEps(q: Double): BigDecimal = {
    val e1 = BigDecimal(math.exp(1.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    BigDecimal(math.log(1.0 + q * (e1 - 1.0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
  }

  /** x60: SUBSAMPLED GAUSSIAN count release — x56's amplification
    * lemma applied to the (ε, δ) mechanism class, which is the
    * composition DP-SGD actually runs (subsample a batch, add Gaussian
    * noise) and the release that exercises BOTH coordinates of the
    * δ-metered ledger at once. The base mechanism is the classical
    * Gaussian: σ = √(2·ln(1.25/δ₀)) at Δ = 1 satisfies (ε₀ = 1, δ₀)-DP
    * (Dwork–Roth Thm. A.1). Run over a Poisson subsample at rate q,
    * the composed mechanism satisfies
    *
    *   (ε', δ') = (ln(1 + q·(e^{ε₀} − 1)),  q·δ₀)
    *
    * — BOTH coordinates amplify (Li–Qardaji–Su 2012; tightness
    * Balle–Barthe–Gaboardi NeurIPS 2018: the δ side shrinks because a
    * neighboring record is even SEEN only with probability q). The
    * ledger is charged the amplified PAIR, so the δ budget — the
    * coordinate round 19's meter exists for — admits 1/q times the
    * releases an unamplified Gaussian schedule would (PrivacySpec pins
    * the δ-binding refusal with ε headroom).
    *
    * WHY (ε, δ) AND NOT ρ (the x50 contrast, deliberate): zCDP has no
    * comparably simple subsampling-amplification statement — the
    * Gaussian's ρ does NOT shrink to q·ρ (Bun–Steinke 2016 observe the
    * failure; subsampling can only be accounted tightly order-by-order
    * through Rényi DP, Mironov–Talwar–Zhang 2019 / Wang–Balle–
    * Kasiviswanathan AISTATS 2019). So the family keeps two Gaussian
    * entries on purpose: x50 accounts FULL-data Gaussians in ρ (linear,
    * exact, tight under composition); x60 accounts SUBSAMPLED Gaussians
    * in (ε, δ) via the amplification lemma, composed K-fold as
    * (K·ε', K·δ') — valid (basic composition) but loose for large K,
    * where a production pipeline graduates to an RDP accountant
    * (documented out of scope; the lemma route is exact for the
    * few-release schedules the ledger's refusal discipline targets).
    *
    * Mechanism: the x56 seeded md5-Bernoulli keep ('dpsg|' domain — an
    * INDEPENDENT sample from x56's 'dpss|'; running both releases must
    * not correlate their subsamples), the x50 dense-grid discipline
    * (grid × FULL-corpus vocabulary — schema-level knowledge, see
    * [[denseCells]]), seeded Box–Muller noise at [[SubGaussSigma]], the
    * clamped integer ships. [[releaseSalt]]'s x56 caveat verbatim: with
    * `seeded = true` the SAMPLE is publicly recomputable and the
    * amplified claim is vacuous — production leaves the default, which
    * salts the sampling hash and the noise together. Plan shape: x50's
    * exactly, with the keep-filter a pure map ahead of the one
    * combinable groupBy (the corpus exchange SHRINKS to q·|corpus|;
    * ScaleSpec pins the exchange budget).
    */
  def dpSubsampledGaussianRelease(events: DataFrame, q: Double = 0.5,
      seeded: Boolean = false, ledger: Option[DpLedger] = None,
      releaseId: String = "subsampled_gauss",
      vocabulary: Option[Seq[String]] = None): DataFrame = {
    // validated BEFORE the charge (the x49/x56 contract)
    require(q > 0 && q < 1, s"need 0 < q < 1, got $q")
    val epsAmp = amplifiedEps(q)
    // q·δ₀, exact decimal (the gate's q = ½ is binary-exact; an
    // arbitrary q charges its shortest-decimal double expansion, which
    // is also exactly what the released `delta` column carries)
    val deltaAmp = SubGaussDelta0 * BigDecimal(q)
    // ONE charge, BOTH coordinates: an ε-currency ledger opened without
    // a deltaBudget refuses this release outright — the δ meter doing
    // its job (r18 verdict #1's silent-accumulation gap, closed)
    ledger.foreach(_.charge(releaseId, "gaussian_count_subsampled",
      epsAmp, DpLedger.Epsilon, deltaAmp))
    val salt = releaseSalt(seeded)
    subsampledGaussianBody(events, q, salt, vocabulary)
      .select(col("event_type"), col("day"), col("released_n"),
        lit(epsAmp.toDouble).as("epsilon"),
        lit(deltaAmp.toDouble).as("delta"),
        col("q"), col("sigma"))
      .orderBy("event_type", "day")
  }

  /** x62: LOCAL differential privacy — k-ary RANDOMIZED RESPONSE
    * (Warner 1965; the k-ary generalization analyzed in
    * Kairouz–Oh–Viswanath 2016) with the debiased frequency estimator.
    * A different privacy MODEL from everything else in the family: the
    * central-DP releases (x40…x61) trust a curator who holds true data
    * and noises aggregates; the LOCAL model trusts no one — each
    * record is randomized AT COLLECTION, the collector only ever holds
    * reports, and any analysis of them is post-processing. That is
    * also why NO LEDGER APPEARS here: the ε is a PER-RECORD guarantee
    * spent at randomization time (each report is ε-locally-private on
    * its own; a record reports once, so there is no composition across
    * releases to meter), not a corpus budget spent at release time —
    * the accounting contrast is the point of the entry.
    *
    * Mechanism, per record: report the true type with probability
    * p = e^ε/(e^ε + k − 1), otherwise one of the k − 1 OTHER types
    * uniformly (probability q = 1/(e^ε + k − 1) each) — the two-coin
    * spelling uses the x6 seeded md5 uniforms ('lrr1|' for the truth
    * coin, 'lrr2|' for the decoy index over the sorted vocabulary,
    * both keyed by event_id). Likelihood ratio between any two inputs
    * is at most p/q = e^ε — the ε-LDP statement.
    *
    * Frequency estimation is post-processing: with N reports and
    * obs_t observed for type t, E[obs_t] = n_t·p + (N − n_t)·q, so
    * n̂_t = (obs_t − N·q)/(p − q) is unbiased. The estimates satisfy
    * Σ n̂_t = N EXACTLY in the algebra (the q-mass shuffles between
    * types but never leaves the simplex; the spec pins it to double
    * rounding), and the released frame carries (p, q, ε) — public
    * mechanism parameters a consumer needs to judge the noise floor
    * (sd(n̂) ≈ √(N·q)/(p − q), the well-known steep LDP utility price
    * vs central DP's O(1/ε)).
    *
    * THE VOCABULARY IS THE RESPONSE DOMAIN — part of the mechanism,
    * fixed before collection, necessarily PUBLIC (every report is one
    * of its elements by construction). Pass it from deployment config;
    * the corpus-derived sorted default is the gate convenience with
    * [[denseCells]]'s caveat sharpened: in the local model the domain
    * is not just a release-set nicety, a record whose type is OUTSIDE
    * it cannot be randomized faithfully at all — such records are
    * dropped before the coin (their membership test consults only the
    * public list, so the drop leaks nothing beyond domain membership,
    * which the model already assumes public).
    *
    * Determinism: p and q derive from round9(exp(ε)) and pure double
    * arithmetic (k is the public domain size), the coins are the
    * md5-uniform spelling, the decoy index floor(u₂·(k−1)) skips the
    * true type's slot — every step IEEE-identical in both engines, so
    * the DuckDB oracle replays the whole collection and estimator.
    * Plan shape: the randomization is a PURE MAP over the corpus
    * (exactly what "applied at collection" means operationally), then
    * one combinable groupBy over ≤ k keys, a broadcast dense join over
    * the k-row vocabulary, and the estimator as a map — nothing
    * corpus-quadratic, no corpus-sized shuffle beyond the one count.
    */
  def localFrequencyRelease(events: DataFrame, eps: Double = 1.0,
      seeded: Boolean = false,
      vocabulary: Option[Seq[String]] = None): DataFrame = {
    require(eps > 0, s"need eps > 0, got $eps")
    val salt = releaseSalt(seeded)
    val win = windowedDays(events)
    val ts: Seq[String] = vocabulary.map(_.distinct.sorted).getOrElse(
      win.select("event_type").distinct()
        .collect().map(_.getString(0)).toSeq.sorted)
    require(ts.size >= 2,
      s"randomized response needs a response domain of >= 2 types, got $ts")
    val reports = localRandomize(win, eps, salt, ts)
    localFrequencyFromReports(
      reports.select(col("day"), col("reported"), lit(1L).as("n")), eps, ts)
  }

  /** [[localFrequencyRelease]]'s estimator from pre-aggregated (or
    * unit-weighted) `(day, reported, n)` report cells — the
    * streaming-twin entry ([[graft.streaming.LiveRelease
    * .localFrequency]]): randomization happens per record at ingest
    * (the local model's whole point — the store never holds a true
    * type), report counts are additive, and the estimator is
    * deterministic given the counts and the PUBLIC domain, so live
    * equals batch on the same records. `domain` must be the response
    * domain the reports were collected under — k enters (p, q), so an
    * estimator run under a different domain than the collector's is a
    * silent unit error; fix both from one deployment config.
    */
  def localFrequencyFromReports(reportCells: DataFrame, eps: Double,
      domain: Seq[String]): DataFrame = {
    require(eps > 0, s"need eps > 0, got $eps")
    val ts = domain.distinct.sorted
    require(ts.size >= 2,
      s"randomized response needs a response domain of >= 2 types, got $ts")
    val s = reportCells.sparkSession
    import s.implicits._
    val k = ts.length
    val (p, q) = rrProbabilities(eps, k)
    val win = reportCells.filter(inPublicWindow(col("day")))
    val obs = win.groupBy(col("reported").as("event_type"))
      .agg(sum(col("n")).as("n_reports"))
    val total = win.agg(coalesce(sum(col("n")), lit(0L)).as("n_total"))
    ts.toDF("event_type")
      .join(obs, Seq("event_type"), "left")
      .select(col("event_type"),
        coalesce(col("n_reports"), lit(0L)).as("n_reports"))
      .crossJoin(broadcast(total))
      .select(col("event_type"), col("n_reports"),
        ((col("n_reports").cast("double") -
          col("n_total").cast("double") * lit(q)) / lit(p - q)).as("est_n"),
        lit(eps).as("epsilon"), lit(p).as("p"), lit(q).as("q"))
      .orderBy("event_type")
  }

  /** The per-record k-RR map ([[localFrequencyRelease]]'s collection
    * step, shared with the streaming twin so batch and ingest cannot
    * randomize differently): rows outside the public domain drop, each
    * survivor reports its true type under the 'lrr1|' coin or the
    * 'lrr2|'-indexed decoy among the other k − 1. A null `event_id`
    * nulls both coins and the row reports a decoy unconditionally —
    * pre-filter null ids (the x55 twin's contract; the synthetic
    * corpus has none).
    */
  private[graft] def localRandomize(events: DataFrame, eps: Double,
      salt: String, domain: Seq[String]): DataFrame = {
    val ts = domain
    val k = ts.length
    val (p, _) = rrProbabilities(eps, k)
    val arr = array(ts.map(lit): _*)
    val u1 = seededUnifKey("lrr1|", salt, col("event_id").cast("string"))
    val u2 = seededUnifKey("lrr2|", salt, col("event_id").cast("string"))
    val r0 = array_position(arr, col("event_type")) - 1 // 0-based true slot
    val j = floor(u2 * lit((k - 1).toDouble)).cast("long") // 0..k-2
    val decoy0 = when(j < r0, j).otherwise(j + 1) // skip the true slot
    events.filter(array_position(arr, col("event_type")) > 0)
      .select(col("*"),
        when(u1 < lit(p), col("event_type"))
          .otherwise(element_at(arr, (decoy0 + 1).cast("int"))).as("reported"))
  }

  /** k-RR (p, q) from round9(exp(ε)) — ONE spelling for batch, twin,
    * and estimator, IEEE-identical to the oracle's.
    */
  private[graft] def rrProbabilities(eps: Double, k: Int): (Double, Double) = {
    val e9 = BigDecimal(math.exp(eps))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val denom = e9 + (k - 1)
    (e9 / denom, 1.0 / denom)
  }

  /** The subsampled-Gaussian MECHANISM x60 and [[dpSubsampledGaussianRdpRelease]]
    * share — identical sample ('dpsg|' keep), grid, noise, and clamp;
    * only the ACCOUNTING differs between the two entry points.
    */
  private def subsampledGaussianBody(events: DataFrame, q: Double,
      salt: String, vocabulary: Option[Seq[String]]): DataFrame = {
    val kept = events.filter(subsampleKeep("dpsg|", salt, q))
    val grp = windowedGroup(kept).agg(count(lit(1)).as("true_n"))
    // vocabulary side from the FULL events frame (the x56 argument:
    // schema-level knowledge, not a function of the sample)
    subsampledGaussianTail(events, grp, q, salt, vocabulary)
  }

  /** x60's dense-grid + Box–Muller + clamp tail, shared by the batch
    * body and the FromCells entry so the two spellings cannot drift.
    */
  private def subsampledGaussianTail(vocabSource: DataFrame, grp: DataFrame,
      q: Double, salt: String, vocabulary: Option[Seq[String]]): DataFrame = {
    val counts = denseCellsFrom(vocabSource, grp,
      Seq("true_n" -> lit(0L)), vocabulary)
    counts.withColumn("noisy",
        col("true_n").cast("double") + gaussian(SubGaussSigma,
          seededUnif("dpsg1|", salt), seededUnif("dpsg2|", salt)))
      .select(col("event_type"), col("day"),
        greatest(lit(0.0), floor(col("noisy") + lit(0.5))).cast("long")
          .as("released_n"),
        lit(q).as("q"), lit(SubGaussSigma).as("sigma"))
  }

  /** [[dpSubsampledGaussianRelease]] from pre-aggregated KEPT-subsample
    * `(event_type, day, true_n)` cells — the streaming-twin entry
    * ([[graft.streaming.LiveRelease.subsampledGaussian]]); the twin
    * argument is [[dpSubsampledCountFromCells]]'s verbatim (the 'dpsg|'
    * sample is fixed at ingest by the same [[subsampleKeep]] spelling,
    * counts are additive, the Gaussian tail is deterministic given the
    * cells), and the charge is the amplified (ε', δ') PAIR exactly as
    * the batch entry's.
    */
  def dpSubsampledGaussianFromCells(keptCells: DataFrame,
      vocabSource: DataFrame, q: Double = 0.5, seeded: Boolean = false,
      ledger: Option[DpLedger] = None,
      releaseId: String = "subsampled_gauss",
      vocabulary: Option[Seq[String]] = None): DataFrame = {
    require(q > 0 && q < 1, s"need 0 < q < 1, got $q")
    val epsAmp = amplifiedEps(q)
    val deltaAmp = SubGaussDelta0 * BigDecimal(q)
    ledger.foreach(_.charge(releaseId, "gaussian_count_subsampled",
      epsAmp, DpLedger.Epsilon, deltaAmp))
    val salt = releaseSalt(seeded)
    subsampledGaussianTail(vocabSource,
      keptCells.filter(inPublicWindow(col("day"))), q, salt, vocabulary)
      .select(col("event_type"), col("day"), col("released_n"),
        lit(epsAmp.toDouble).as("epsilon"),
        lit(deltaAmp.toDouble).as("delta"),
        col("q"), col("sigma"))
      .orderBy("event_type", "day")
  }

  /** x60's mechanism under the [[RdpAccountant]] instead of the
    * amplification-lemma pair ledger — the K-schedule spelling: each
    * release charges its (q, σ) Rényi footprint, the (ε, δ) statement
    * falls out ONCE at the accountant's read time (converting per
    * release and summing would reproduce exactly the loose basic
    * composition the accountant exists to beat — the x50 "account in ρ,
    * convert at read time" rationale at the Rényi currency). The
    * released frame is BIT-IDENTICAL to [[dpSubsampledGaussianRelease]]
    * on the same salt (same sample, same noise; PrivacySpec pins it) —
    * the accountant changes what a schedule MAY release, never what one
    * release looks like. `eps_total` carries the post-charge readout at
    * the accountant's δ target (schedule state, not per-release spend —
    * the r16 advice that made x47 carry `window_epsilon` applies: a
    * composition consumer must read the accountant, not sum rows).
    */
  def dpSubsampledGaussianRdpRelease(events: DataFrame,
      accountant: RdpAccountant, q: Double = 0.5, seeded: Boolean = false,
      releaseId: String = "subsampled_gauss_rdp",
      vocabulary: Option[Seq[String]] = None): DataFrame = {
    // validated BEFORE the charge (the x49/x56 contract); the
    // accountant re-validates q against its own recurrence domain
    require(q > 0 && q < 1, s"need 0 < q < 1, got $q")
    val epsAfter = accountant.charge(releaseId, q, SubGaussSigma)
    val salt = releaseSalt(seeded)
    subsampledGaussianBody(events, q, salt, vocabulary)
      .select(col("event_type"), col("day"), col("released_n"),
        lit(epsAfter).as("eps_total"),
        lit(accountant.deltaTarget).as("delta_target"),
        col("q"), col("sigma"))
      .orderBy("event_type", "day")
  }

  /** x49: USER-level DP daily-active-user counts — the privacy-unit
    * upgrade the event-level family (x40/x47) cannot claim. x40's ε=1
    * guarantee is per EVENT: a user with 500 records enjoys only
    * ε·(record count) under group privacy, which for a heavy user is no
    * guarantee at all. Training-data pipelines built on user logs need
    * the user-level statement — "remove one PERSON entirely and the
    * release distribution moves by at most e^ε" — and that requires
    * bounding each user's total contribution BEFORE counting (the
    * standard bounded-user-contribution construction, Wilson et al.,
    * "Differentially Private SQL with Bounded User Contributions",
    * VLDB 2020).
    *
    * Mechanism: per user, the distinct (event_type, day) cells they
    * touch inside the public window, capped at the first `capCells` in
    * (day, event_type) order — the cap consults only that user's own
    * rows, so it is mechanism preprocessing and costs no budget. Each
    * kept cell counts its user ONCE (presence, not event volume).
    * Removing one user then changes at most `capCells` cells by at most
    * 1 each → L1 sensitivity = capCells, Laplace scale b = capCells/ε.
    * Note x40's parallel-composition argument does NOT apply here: one
    * user spans multiple cells, so the cells are not disjoint in the
    * user-level neighboring relation — that non-disjointness is exactly
    * why the scale is capCells/ε rather than 1/ε.
    * Cells are the DENSE 64-day grid × vocabulary (the x40/x43/x44
    * release-set discipline: a cell's presence must never depend on the
    * data); only the clamped integer ships. PRECONDITION (r17 review):
    * the user-level statement above holds only under a PUBLIC
    * vocabulary — pass `vocabulary` from deployment config; with the
    * corpus-derived default, a type owned entirely by one person
    * appears/disappears with them, and no ε claim survives
    * ([[denseCells]] carries the contract).
    *
    * Scale shape: one user-keyed corpus exchange (the distinct), a
    * user-keyed row_number window (parallel across users; a user's
    * frame is bounded by T×|vocab| cells), one cell-keyed combinable
    * count, then public-grid broadcasts — nothing corpus-quadratic, the
    * same skew posture as x42's per-user clamp. `ledger` charges the
    * release ε through [[DpLedger]] charge-then-release like every
    * other release entry point.
    */
  def dpUserCountRelease(events: DataFrame, seeded: Boolean = false,
      capCells: Int = 4, ledger: Option[DpLedger] = None,
      releaseId: String = "user_count",
      vocabulary: Option[Seq[String]] = None): DataFrame = {
    // validated BEFORE the ledger charge (r17 review): capCells <= 0
    // would charge real budget for a degenerate (or, negative,
    // sign-flipped-noise) frame still labeled epsilon = 1
    require(capCells >= 1, s"capCells must be >= 1, got $capCells")
    ledger.foreach(_.charge(releaseId, "laplace_user_count", BigDecimal(1)))
    val salt = releaseSalt(seeded)
    val userCells =
      windowedDays(events).select("user_id", "event_type", "day").distinct()
    val b = capCells / 1.0 // Laplace scale = user-level sensitivity / epsilon
    val w = Window.partitionBy("user_id").orderBy("day", "event_type")
    val kept = userCells.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= capCells)
    val grp = kept.groupBy("event_type", "day")
      .agg(count(lit(1)).as("true_users"))
    val counts = denseCells(events, grp, "true_users", vocabulary)
    counts.withColumn("noisy",
        col("true_users").cast("double") + laplace(b, seededUnif("dpu|", salt)))
      .select(col("event_type"), col("day"),
        greatest(lit(0.0), floor(col("noisy") + lit(0.5))).cast("long")
          .as("released_users"),
        lit(1.0).as("epsilon"))
      .orderBy("event_type", "day")
  }

  /** x52: USER-level DP sum/mean release — x49's privacy unit composed
    * with x42's magnitude bounding, the construction Wilson et al.
    * ("Differentially Private SQL with Bounded User Contributions",
    * VLDB 2020) actually ship for aggregations: bound how MANY
    * partitions one user touches AND how MUCH they contribute to each.
    * x42 clamps per-(group, user) contributions but states its ε at
    * the event-group level (one user present in many groups enjoys
    * only composed group privacy); x49 upgraded the unit for counts.
    * This closes the gap for sums (r17 verdict #6).
    *
    * Mechanism, in order: (1) per (user, event_type, day) cell inside
    * the public window, the user's value sum is clamped into
    * [0, `clamp`] — magnitude bounding, without which one outlier user
    * makes the sum's sensitivity unbounded; (2) per user, only the
    * first `capCells` cells in (day, event_type) order survive —
    * breadth bounding, consulting only that user's own rows (mechanism
    * preprocessing, no budget); (3) cells aggregate the kept clamped
    * contributions (`true_sum`) and count each kept user once
    * (`true_users`). Removing one user then moves at most `capCells`
    * cells, each by at most `clamp` in the sum and 1 in the count:
    * L1 sensitivity capCells·clamp for the sum vector and capCells for
    * the count vector — x40's parallel-composition shortcut does NOT
    * apply (one user spans cells), exactly as in x49. ε = 1 splits
    * ½/½ (sequential composition): Laplace(capCells·clamp/½) on sums,
    * Laplace(capCells/½) on counts; the mean is post-processing of the
    * two released values. At the defaults (4 cells × clamp 50) the sum
    * noise is Laplace(400) — honest, and the reason production
    * deployments tune capCells/clamp to observed contribution shapes
    * (Wilson et al. §5.1 discuss exactly this trade).
    *
    * Cells are the DENSE public grid × vocabulary ([[denseCells]] —
    * the release-set contract, including the public-vocabulary
    * precondition); released user counts clamp to ≥ 1 so the mean
    * stays defined; only the clamped integers ship. Determinism rides
    * the x42 decimal discipline (round-9 contributions, DECIMAL(28,9)
    * sums, floor(x+½) integerization). Scale shape: one user-cell
    * corpus exchange (combinable), a user-keyed row_number window
    * (frame ≤ T×|vocab| per user), one cell re-agg, then
    * public-window-sized broadcasts — the x49 posture.
    */
  def dpUserSumRelease(events: DataFrame, seeded: Boolean = false,
      capCells: Int = 4, clamp: Double = 50.0,
      ledger: Option[DpLedger] = None, releaseId: String = "user_sum",
      vocabulary: Option[Seq[String]] = None): DataFrame = {
    // validated BEFORE the ledger charge (the x49 contract): degenerate
    // bounds must not burn budget under an epsilon = 1 label
    require(capCells >= 1, s"capCells must be >= 1, got $capCells")
    require(clamp > 0, s"clamp must be positive, got $clamp")
    ledger.foreach(_.charge(releaseId, "laplace_user_sum", BigDecimal(1)))
    val bSum = capCells * clamp / 0.5
    val bCnt = capCells / 0.5
    val salt = releaseSalt(seeded)
    val dec = org.apache.spark.sql.types.DecimalType(28, 9)
    val perCell = windowedDays(events)
      .groupBy("user_id", "event_type", "day")
      .agg(sum(round(col("value"), 9).cast(dec)).as("contrib"))
      .withColumn("cl",
        least(greatest(col("contrib"), lit(0).cast(dec)), lit(clamp).cast(dec)))
    val w = Window.partitionBy("user_id").orderBy("day", "event_type")
    val kept = perCell.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= capCells)
    val grp = kept.groupBy("event_type", "day")
      .agg(sum(col("cl")).as("true_sum"), count(lit(1)).as("true_users"))
    val cells = denseCellsFrom(events, grp,
      Seq("true_sum" -> lit(0).cast(dec), "true_users" -> lit(0L)), vocabulary)
    cells.select(col("event_type"), col("day"),
        greatest(lit(0L), floor(col("true_sum").cast("double") +
          laplace(bSum, seededUnif("dpw|", salt)) + lit(0.5))).as("released_sum"),
        greatest(lit(1L), floor(col("true_users").cast("double") +
          laplace(bCnt, seededUnif("dpz|", salt)) + lit(0.5))).as("released_users"))
      .select(col("event_type"), col("day"),
        col("released_sum"), col("released_users"),
        round(col("released_sum").cast("double") /
          col("released_users").cast("double"), 9).as("released_mean"),
        lit(1.0).as("epsilon"), lit(clamp).as("clamp"),
        lit(capCells.toLong).as("cap_cells"))
      .orderBy("event_type", "day")
  }

  /** x43's exponential-mechanism category release (see the x43 entry
    * for the mechanism identity). `seeded` per [[releaseSalt]];
    * determinism per [[gumbel]]. The final score is ONE double add of
    * count/2 (exact in binary) + the rounded Gumbel; ties break by
    * category so the argmax is a total order in both engines.
    *
    * Candidate set (r15 advice, the x44 principle applied here; r17
    * verdict #1 completed it): each day scores the FULL event-type
    * vocabulary, with unobserved types entering at count 0 — never
    * just the types observed that day — and since round 18 the DAY
    * axis rides the same discipline: candidates are the dense PUBLIC
    * 64-day window × vocabulary through the shared [[denseCells]],
    * with an explicit `vocabulary` parameter. The old spelling's
    * `grp.select("day").distinct()` was observed-only and unwindowed:
    * a day with exactly one record gained or lost its RELEASE ROW with
    * that record — an unbounded privacy-loss ratio that voids the ε=1
    * claim, the exact leak the type axis already closed. A release now
    * exists for every grid day (an empty day's winner is pure Gumbel
    * over zero counts — deliberately: the release set reveals
    * nothing). Pass `vocabulary` from deployment config
    * ([[denseCells]] carries the public-vocabulary contract); records
    * outside the window are out of this release's scope.
    *
    * Plan shape: one combinable (day, event_type) groupBy is the only
    * corpus-sized exchange; the dense grid is 64 days × types over
    * GROUP-sized frames (types broadcast), the noise is a pure map and
    * the per-day argmax is a row_number window over the candidate
    * frame, never the corpus.
    */
  def dpArgmaxRelease(events: DataFrame, seeded: Boolean = false,
      ledger: Option[DpLedger] = None, releaseId: String = "argmax",
      vocabulary: Option[Seq[String]] = None): DataFrame = {
    // per-day selections run over disjoint day partitions — parallel
    // composition, so the whole frame costs ε=1, charged once
    ledger.foreach(_.charge(releaseId, "exp_argmax", BigDecimal(1)))
    val salt = releaseSalt(seeded)
    val grp = windowedGroup(events).agg(count(lit(1)).as("true_n"))
    val counts = denseCells(events, grp, "true_n", vocabulary)
      .select(col("day"), col("event_type"), col("true_n"))
    val scored = counts.withColumn("score",
      col("true_n").cast("double") / lit(2.0) + gumbel(seededUnif("dpx|", salt)))
    scored
      .withColumn("rk", row_number().over(Window.partitionBy("day")
        .orderBy(col("score").desc, col("event_type"))))
      .filter(col("rk") === 1)
      .select(col("day"), col("event_type").as("released_top"),
        lit(1.0).as("epsilon"))
      .orderBy("day")
  }

  /** x64: exponential-mechanism QUANTILE release — x44's median
    * generalized to a public quantile SET, completing the selection
    * family (argmax x43, median x44, quantiles x64; the classical
    * construction, Smith STOC 2011 §3). For each type and each
    * q ∈ the PUBLIC set (default {0.25, 0.5, 0.75, 0.9} — deployment
    * config like the bin grid), the rank-distance utility
    * u_q(b) = −|cum(b) − q·n| scores the same dense public 64-bin
    * candidate grid as x44, and the Gumbel-max trick samples
    * ∝ exp(ε_q·u/(2Δ)) with Δ = 1 and ε_q = ε/|Q| — sequential
    * composition across the |Q| selections WITHIN a type, parallel
    * composition across types, so the whole frame costs ε = 1,
    * charged once.
    *
    * MONOTONIZATION (the classic wrinkle, handled): the |Q|
    * selections are independent, so nothing forces the released
    * q=0.25 value below the released q=0.75 value — inverted
    * quantiles are a real failure mode of per-quantile mechanisms.
    * The fix is pure post-processing (costs nothing): sort the
    * released values within each type and assign them to the sorted
    * quantiles. Both the raw winner (`raw_q`) and the monotone
    * assignment (`released_q`) ship — the same released multiset,
    * permuted — and the spec pins released_q nondecreasing in q with
    * raw_q a permutation of it per type.
    *
    * Exactness: x44's spelling with the q·n product the one new
    * double op (q = 0.9 is not binary-exact, but both engines compute
    * the identical IEEE product of identical operands — the x10
    * discipline never required exactness, only bit-equality); the
    * score is one add of u/(2|Q|) + the rounded Gumbel under the
    * 'dpqn|' seed domain (independent of x44's 'dpm|'), ties break by
    * bin. Plan shape: x44's — one combinable (type, bin) groupBy is
    * the only corpus exchange; candidates, scores, winners, and the
    * |Q|-row-per-type monotonize join are all candidate-frame-sized.
    */
  def dpQuantileRelease(events: DataFrame, seeded: Boolean = false,
      ledger: Option[DpLedger] = None, releaseId: String = "quantiles",
      quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9)): DataFrame = {
    val qs = quantiles.distinct.sorted
    require(qs.nonEmpty && qs.forall(q => q > 0 && q < 1),
      s"quantiles must lie strictly in (0, 1), got $quantiles")
    ledger.foreach(_.charge(releaseId, "exp_quantiles", BigDecimal(1)))
    val salt = releaseSalt(seeded)
    val binned = binnedValues(events)
    val bins = 64
    val hi = 512.0
    val w = hi / bins // 8.0, exact in binary
    val s = binned.sparkSession
    import s.implicits._
    val cand = binned.select("event_type").distinct()
      .crossJoin(s.range(bins).select(col("id").cast("int").as("bin")))
    val counts = cand.join(binned, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"), coalesce(col("c"), lit(0L)).as("c"))
    val wType = Window.partitionBy("event_type")
    val wCum = wType.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = counts
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wType))
    // q beside its literal string spelling: the string rides the seed
    // (both engines interpolate the same characters) while the double
    // rides the arithmetic
    val qdf = qs.map(q => (q, q.toString)).toDF("q", "qname")
    val scale = 2.0 * qs.length // 8.0 at the default set — exact
    val u = seededUnifKey("dpqn|", salt,
      concat(col("event_type"), lit("|"), col("qname"), lit("|"),
        col("bin").cast("string")))
    val winners = base.crossJoin(broadcast(qdf))
      .withColumn("score",
        -abs(col("cum").cast("double") - col("q") * col("n").cast("double")) /
          lit(scale) + gumbel(u))
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type", "qname")
          .orderBy(col("score").desc, col("bin"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("q"),
        ((col("bin").cast("double") + lit(0.5)) * lit(w)).as("raw_q"))
    // monotonize: sorted released values meet sorted quantiles
    val rq = winners.withColumn("rkq",
      row_number().over(Window.partitionBy("event_type").orderBy("q")))
    val rv = winners
      .select(col("event_type").as("et2"), col("raw_q").as("v"),
        col("q").as("q2"))
      .withColumn("rkv", row_number().over(
        Window.partitionBy("et2").orderBy(col("v"), col("q2"))))
    rq.join(rv, rq("event_type") === rv("et2") && rq("rkq") === rv("rkv"))
      .select(col("event_type"), col("q").as("quantile"),
        col("v").as("released_q"), col("raw_q"),
        lit(1.0 / qs.length).as("epsilon_each"), lit(1.0).as("epsilon"))
      .orderBy("event_type", "quantile")
  }

  /** x44's exponential-mechanism median release (see the x44 entry for
    * the mechanism and sensitivity accounting). `seeded` per
    * [[releaseSalt]]; Gumbel determinism per [[gumbel]].
    *
    * Exactness spelling: bin width 512/64 = 8 and midpoints (b+½)·8
    * are exact in binary; `cum` and `n` are integers, so
    * u = −|cum − n/2| lands on exact halves and u/2 on exact quarters;
    * the score is ONE double add of u/2 + the rounded Gumbel, and ties
    * break by bin index — a total order in both engines.
    *
    * Plan shape: one combinable (event_type, bin) groupBy is the only
    * corpus-sized exchange; the dense 64-bin candidate grid is a
    * types×64 cross join over GROUP-sized frames, and the cum/argmax
    * windows run over that candidate frame, never the corpus.
    */
  def dpMedianRelease(events: DataFrame, seeded: Boolean = false,
      ledger: Option[DpLedger] = None, releaseId: String = "median"): DataFrame = {
    // per-type selections over disjoint partitions — parallel
    // composition, ε=1 for the frame, charged once
    ledger.foreach(_.charge(releaseId, "exp_median", BigDecimal(1)))
    val salt = releaseSalt(seeded)
    val binned = binnedValues(events)
    val bins = 64
    val hi = 512.0
    val w = hi / bins // 8.0, exact in binary
    val s = binned.sparkSession
    val cand = binned.select("event_type").distinct()
      .crossJoin(s.range(bins).select(col("id").cast("int").as("bin")))
    val counts = cand.join(binned, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"), coalesce(col("c"), lit(0L)).as("c"))
    val wType = Window.partitionBy("event_type")
    val wCum = wType.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = seededUnifKey("dpm|", salt,
      concat(col("event_type"), lit("|"), col("bin").cast("string")))
    val scored = counts
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wType))
      .withColumn("score",
        -abs(col("cum").cast("double") - col("n").cast("double") / lit(2.0)) / lit(2.0) +
          gumbel(u))
    scored
      .withColumn("rk", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("score").desc, col("bin"))))
      .filter(col("rk") === 1)
      .select(col("event_type"),
        ((col("bin").cast("double") + lit(0.5)) * lit(w)).as("released_median"),
        lit(1.0).as("epsilon"), lit(0.0).as("lo"), lit(hi).as("hi"))
      .orderBy("event_type")
  }

  /** `(event_type, bin, c)` counts over the public [0, 512]/64 value
    * bins x44 and x64 select from — one spelling, so the two releases
    * cannot bin differently.
    */
  private def binnedValues(events: DataFrame): DataFrame =
    events.select(col("event_type"), least(lit(63),
        floor(least(greatest(col("value"), lit(0.0)), lit(512.0)) / lit(8.0))
          .cast("int")).as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("c"))

  /** x47's binary-tree-mechanism CONTINUAL count release (Chan–Shi–Song
    * 2011 / Dwork–Naor–Pitassi–Rothblum 2010): release the RUNNING
    * count through every day of a PUBLIC calendar window, not just
    * per-day counts (x40). Naively, T prefix releases compose to T·ε;
    * the tree mechanism spends ε ONCE for the whole stream: each
    * dyadic node [b·2^ℓ+1, (b+1)·2^ℓ] of the window holds its block's
    * true count plus Laplace(L/ε) noise (one record lands in exactly
    * one node per level, so the node vector's sensitivity is L = tree
    * height, 7 for T = 64), and the released prefix at day t sums the
    * ≤ L noisy nodes of t's binary decomposition — error O(L·logT/ε)
    * instead of O(T).
    *
    * The time axis is PUBLIC (the x44 grid discipline): a fixed
    * calendar window of T = 64 days from `epoch`, empty days included
    * — releases exist for every slot, so the release set reveals
    * nothing about which days had data. Records outside the window are
    * out of this release's scope (filtered; a production deployment
    * opens the next window with fresh budget). Decomposition identity:
    * node (ℓ, b) ∈ decomp(t) ⟺ bit ℓ of t is set ∧ b = 2·(t >> (ℓ+1));
    * node block index at level ℓ is (t−1) >> ℓ.
    *
    * Determinism: node sums are exact longs; noise is the seeded
    * 9-digit-rounded Laplace ([[laplace]]); each noisy node is
    * round(long + noise, 9) and the ≤ L-node prefix sum routes through
    * DECIMAL(28,12) (the x10 discipline) — bit-identical cross-engine.
    * Only the clamped integer ships per day. Plan shape: one
    * combinable day groupBy is the ONLY corpus-sized exchange; the
    * grid (64 rows), node table (≤ 127 rows), and decomposition join
    * are all public-window-sized with broadcast level/node sides.
    * `seeded` per [[releaseSalt]].
    */
  /** Public calendar epoch + window length shared by every windowed
    * release (x40's dense grid, x47/x48's continual windows): window w
    * covers days [epoch + w·T, epoch + (w+1)·T). A fixed PUBLIC time
    * axis is what makes release sets data-independent (the x44 grid
    * discipline) — a deployment picks these once, as config, never
    * from the data.
    */
  val ContinualEpoch = "2024-01-01"
  val ContinualT = 64
  private val ContinualL = 7 // levels 0..6: blocks of 1,2,4,...,64 days

  /** The tree-mechanism frame for a SET of windows at once:
    * (win, t, day, win_rel) where win_rel is window `win`'s released
    * (clamped long) running count at within-window day t ∈ [1, T].
    * One combinable day groupBy over the corpus is the ONLY
    * corpus-sized exchange — shared across every requested window;
    * grid/levels/nodes/decomposition are public-window-sized
    * broadcasts. Noise seeds are domain-separated PER WINDOW
    * ("dpc|win|lvl|blk"): windows are independent ε-releases and must
    * not share draws.
    */
  private def continualFrame(events: DataFrame, salt: String,
      windows: Seq[Int]): DataFrame =
    continualFrameFromDaily(
      events.select(to_date(col("ts")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("cnt")),
      salt, windows)

  /** [[continualFrame]] over PRE-AGGREGATED `(day, cnt)` dailies — the
    * entry the streaming twin uses: [[graft.streaming.LiveRelease]]
    * maintains per-batch partial day counts (LiveCounts' additive
    * store), whose re-aggregated totals are bit-identical to the batch
    * groupBy by associativity, so a release from the live store equals
    * the batch release on the same records (the twin-equivalence spec's
    * claim). Everything downstream of the dailies — grid, node noise,
    * decomposition — is public-window-sized and seeded, so the only
    * data dependency is through the additive counts.
    */
  private[graft] def continualFrameFromDaily(dailyCounts: DataFrame,
      salt: String, windows: Seq[Int]): DataFrame = {
    val T = ContinualT
    val L = ContinualL
    val b = L / 1.0 // Laplace scale = node-vector sensitivity / epsilon = L / 1
    val s = dailyCounts.sparkSession
    import s.implicits._
    val grid = windows.toDF("win")
      .crossJoin(s.range(T).select((col("id") + 1).cast("int").as("t")))
      .select(col("win"), col("t"),
        date_add(to_date(lit(ContinualEpoch)),
          (col("win") * lit(T) + col("t") - 1).cast("int")).as("day"))
    val daily = dailyCounts
    val counts = grid.join(daily, Seq("day"), "left")
      .select(col("win"), col("t"), col("day"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    // (level, 2^level, 2^(level+1)) as an exact literal frame — no
    // double pow in the integer index arithmetic
    val levels = (0 until L).map(l => (l, 1L << l, 1L << (l + 1)))
      .toDF("lvl", "p", "p2")
    val nodes = counts.crossJoin(broadcast(levels))
      .withColumn("blk", expr("CAST((CAST(t AS BIGINT) - 1) DIV p AS BIGINT)"))
      .groupBy("win", "lvl", "blk").agg(sum(col("cnt")).as("node_sum"))
      .withColumn("noisy", round(col("node_sum").cast("double") +
        laplace(b, seededUnifKey("dpc|", salt,
          concat(col("win").cast("string"), lit("|"),
            col("lvl").cast("string"), lit("|"), col("blk").cast("string")))), 9))
    val parts = counts.select("win", "t", "day").crossJoin(broadcast(levels))
      .filter(expr("(CAST(t AS BIGINT) DIV p) % 2 = 1"))
      .withColumn("blk", expr("CAST(2 * (CAST(t AS BIGINT) DIV p2) AS BIGINT)"))
      .join(broadcast(nodes), Seq("win", "lvl", "blk"))
    parts.groupBy("win", "t", "day")
      .agg(sum(col("noisy").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
        .cast("double").as("raw"))
      .select(col("win"), col("t"), col("day"),
        greatest(lit(0L), floor(col("raw") + lit(0.5)).cast("long")).as("win_rel"))
  }

  /** x63: DP RANGE-COUNT release from ONE noised dyadic tree — the
    * companion the continual release (x47) implies but does not
    * provide: x47 answers the T PREFIX queries; analytics wants
    * ARBITRARY ranges ("how many events in week 12 / in March"), and
    * answering each with an x40-style release composes linearly. The
    * hierarchical method (Hay–Rastogi–Miklau–Suciu VLDB 2010; the same
    * node vector as Chan–Shi–Song) releases the NOISY DYADIC NODES
    * once — one record lands in one node per level, so the node
    * vector's L1 sensitivity is L = 7 and Laplace(L/ε) per node spends
    * ε ONCE — after which EVERY range answer is post-processing: the
    * canonical dyadic cover of [lo, hi] is ≤ 2(L−1) disjoint aligned
    * blocks, and the answer is their noisy sum, error O(L·√logT/ε) per
    * range instead of per-release budget.
    *
    * The QUERY SET is public config (the x46 schedule rationale): all
    * 58 weekly [t, t+6], all 35 thirty-day [t, t+29], and the full
    * window — 94 answers for one ε. Covers are pure integer math over
    * the public grid (greedy largest-aligned-block; PrivacySpec pins
    * disjointness, alignment, exact union, and the ≤ 2(L−1) bound
    * against brute force for EVERY [lo, hi] pair in the window), so
    * they carry no data and the released frame's shape is
    * data-independent. Only clamped integers ship; per-range `n_nodes`
    * ships as the public error-bar parameter (a consumer's CI scales
    * with √n_nodes·L/ε).
    *
    * Determinism: node sums are exact longs, the node noise is the
    * seeded 9-digit Laplace under the 'dpr|' domain (an INDEPENDENT
    * draw from x47's 'dpc|' — the two releases are separate ε charges
    * and must not share noise), and each cover's sum routes through
    * DECIMAL(28,12) in both engines (the x47 spelling). Plan shape:
    * one combinable day groupBy is the only corpus exchange; levels,
    * nodes (127 rows), and the 349-row cover frame are broadcasts.
    */
  def dpRangeRelease(events: DataFrame, seeded: Boolean = false,
      ledger: Option[DpLedger] = None,
      releaseId: String = "range_tree"): DataFrame =
    dpRangeFromDaily(
      events.select(to_date(col("ts")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("cnt")),
      seeded, ledger, releaseId)

  /** [[dpRangeRelease]] from pre-aggregated `(day, cnt)` dailies — the
    * streaming-twin entry ([[graft.streaming.LiveRelease.rangeRelease]];
    * day counts are additive, everything downstream is public-grid
    * math + seeded noise, the x47 twin argument verbatim).
    */
  def dpRangeFromDaily(dailyCounts: DataFrame, seeded: Boolean = false,
      ledger: Option[DpLedger] = None,
      releaseId: String = "range_tree"): DataFrame = {
    ledger.foreach(_.charge(releaseId, "tree_range", BigDecimal(1)))
    val salt = releaseSalt(seeded)
    val T = ContinualT
    val L = ContinualL
    val s = dailyCounts.sparkSession
    import s.implicits._
    val grid = s.range(T).select((col("id") + 1).cast("int").as("t"),
      date_add(to_date(lit(ContinualEpoch)), col("id").cast("int")).as("day"))
    val counts = grid.join(dailyCounts, Seq("day"), "left")
      .select(col("t"), col("day"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val levels = (0 until L).map(l => (l, 1L << l, 1L << (l + 1)))
      .toDF("lvl", "p", "p2")
    val nodes = counts.crossJoin(broadcast(levels))
      .withColumn("blk", expr("CAST((CAST(t AS BIGINT) - 1) DIV p AS BIGINT)"))
      .groupBy("lvl", "blk").agg(sum(col("cnt")).as("node_sum"))
      .withColumn("noisy", round(col("node_sum").cast("double") +
        laplace(L / 1.0, seededUnifKey("dpr|", salt,
          concat(col("lvl").cast("string"), lit("|"),
            col("blk").cast("string")))), 9))
    // the public query set + its canonical covers — pure integer math
    // over the public grid, computed driver-side like the x46 schedule
    val qs: Seq[(Long, Int, Int)] =
      (1 to T - 6).map(t => (t.toLong, t, t + 6)) ++
        (1 to T - 29).map(t => (100L + t, t, t + 29)) ++
        Seq((200L, 1, T))
    val cover = qs.flatMap { case (qid, lo, hi) =>
      dyadicCover(lo, hi).map { case (lvl, blk) => (qid, lo, hi, lvl, blk) }
    }.toDF("qid", "lo", "hi", "lvl", "blk")
    cover.join(broadcast(nodes), Seq("lvl", "blk"))
      .groupBy("qid", "lo", "hi")
      .agg(sum(col("noisy").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double").as("raw"),
        count(lit(1)).as("n_nodes"))
      .select(col("qid"),
        date_add(to_date(lit(ContinualEpoch)), col("lo") - 1).as("lo_day"),
        date_add(to_date(lit(ContinualEpoch)), col("hi") - 1).as("hi_day"),
        greatest(lit(0L), floor(col("raw") + lit(0.5)).cast("long"))
          .as("released_range"),
        col("n_nodes"), lit(1.0).as("window_epsilon"))
      .orderBy("qid")
  }

  /** The canonical dyadic cover of [lo, hi] (1-based days, both ends
    * inclusive) as (level, block) nodes: greedy largest block that is
    * aligned at `lo` and fits — ≤ 2(L−1) disjoint nodes whose union is
    * exactly the range (PrivacySpec pins all four properties against
    * brute force for every range in the window).
    */
  private[graft] def dyadicCover(lo: Int, hi: Int): Seq[(Int, Long)] = {
    require(1 <= lo && lo <= hi && hi <= ContinualT,
      s"range [$lo, $hi] outside the public window [1, $ContinualT]")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var cur = lo
    while (cur <= hi) {
      val align = if (cur == 1) ContinualT else Integer.lowestOneBit(cur - 1)
      val fit = Integer.highestOneBit(hi - cur + 1)
      val p = math.min(math.min(align, fit), ContinualT)
      out += ((Integer.numberOfTrailingZeros(p), ((cur - 1) / p).toLong))
      cur += p
    }
    out.toSeq
  }

  /** x47's single-window release. ε accounting (r16 advice): the tree
    * mechanism spends ε = 1 ONCE for the whole 64-day window, so the
    * output carries `window_epsilon` on every row of the window — a
    * per-WINDOW figure, deliberately renamed from r16's `epsilon`
    * column whose per-row spelling read like 64 independent ε=1
    * releases (a composition consumer charging per row would overcount
    * 64×). The executable form of the convention: with a `ledger` the
    * release charges exactly ONE ε=1 row per window, never per day.
    */
  def dpContinualRelease(events: DataFrame, seeded: Boolean = false,
      window: Int = 0, ledger: Option[DpLedger] = None,
      releaseId: String = "continual"): DataFrame = {
    ledger.foreach(_.charge(s"$releaseId|w$window", "tree_continual", BigDecimal(1)))
    val salt = releaseSalt(seeded)
    continualFrame(events, salt, Seq(window))
      .select(col("day"), col("t").cast("long").as("t"),
        col("win_rel").as("released_cum"),
        col("win").cast("long").as("window_id"),
        lit(1.0).as("window_epsilon"))
      .orderBy("t")
  }

  /** [[dpContinualRelease]] from PRE-AGGREGATED `(day, cnt)` dailies —
    * same mechanism, same output schema, same ledger contract; the
    * entry point for stores that maintain the day counts incrementally
    * ([[graft.streaming.LiveRelease]]). Days outside the window are
    * ignored by the grid join exactly as raw events outside it are.
    */
  def dpContinualReleaseFromDaily(dailyCounts: DataFrame,
      seeded: Boolean = false, window: Int = 0,
      ledger: Option[DpLedger] = None,
      releaseId: String = "continual"): DataFrame = {
    ledger.foreach(_.charge(s"$releaseId|w$window", "tree_continual", BigDecimal(1)))
    val salt = releaseSalt(seeded)
    continualFrameFromDaily(dailyCounts, salt, Seq(window))
      .select(col("day"), col("t").cast("long").as("t"),
        col("win_rel").as("released_cum"),
        col("win").cast("long").as("window_id"),
        lit(1.0).as("window_epsilon"))
      .orderBy("t")
  }

  /** x48: WINDOW ROLLOVER composed with the budget ledger — the
    * multi-window production shape x47's scaladoc promised ("a
    * deployment opens the next window with fresh budget"), made real
    * (r16 verdict #4). Window w charges its ε = 1 to the ledger
    * BEFORE release, in window order; the first refused window stops
    * the rollover — it and every later window release NOTHING (no
    * rows, no registry append), while already-released windows stand
    * (released values are public; a budget refusal cannot retract
    * them).
    *
    * Cross-window stitching is PURE POST-PROCESSING of released
    * values: the global running count at (window w, day t) is
    * Σ_{v<w} released_vT + released_wt — each term an already-released
    * clamped integer, so the stitch consumes zero additional budget
    * (the true cross-window carry is never touched). The offset
    * window function runs over the nWindows-row frame (public-config-
    * sized, the ledger rationale for its un-partitioned window).
    */
  def dpContinualRollover(events: DataFrame, nWindows: Int,
      seeded: Boolean = false, ledger: Option[DpLedger] = None,
      releaseId: String = "continual"): DataFrame = {
    require(nWindows > 0, s"need at least one window, got $nWindows")
    val admitted: Seq[Int] = ledger match {
      case None => 0 until nWindows
      case Some(l) => (0 until nWindows).iterator.takeWhile(w =>
        l.tryCharge(s"$releaseId|w$w", "tree_continual", BigDecimal(1))).toSeq
    }
    val s = events.sparkSession
    import s.implicits._
    if (admitted.isEmpty)
      return Seq.empty[(Long, java.sql.Date, Long, Long, Double)]
        .toDF("window_id", "day", "t", "released_cum", "window_epsilon")
    val salt = releaseSalt(seeded)
    val frame = continualFrame(events, salt, admitted)
    val offsets = frame.filter(col("t") === ContinualT)
      .select(col("win"), col("win_rel").as("win_total"))
      .withColumn("ofs", coalesce(sum(col("win_total")).over(
        Window.orderBy("win")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("win", "ofs")
    frame.join(broadcast(offsets), Seq("win"))
      .select(col("win").cast("long").as("window_id"), col("day"),
        col("t").cast("long").as("t"),
        (col("ofs") + col("win_rel")).as("released_cum"),
        lit(1.0).as("window_epsilon"))
      .orderBy("window_id", "t")
  }

  /** Shared exact-ε decimal type for the budget ledger: quarters and
    * integer ε values are exact, and DECIMAL addition is associative —
    * the admit/refuse verdict can never depend on summation order or a
    * float ulp.
    */
  private val EpsDec = org.apache.spark.sql.types.DecimalType(18, 6)

  /** x46's sequential-composition budget ledger as a public API: given
    * a release `registry(seq, release_id, mechanism, epsilon)` in
    * charge order, annotate each row with the exact cumulative ε spent
    * through it and whether it is ADMITTED under `budget` (basic
    * composition: a release is admitted iff Σε up to and including it
    * stays ≤ budget — once the ledger refuses, every later release is
    * refused too, since ε is non-negative). Output adds `cum_epsilon`
    * (double — exact for quarter-grained ε), `admitted`, `budget`.
    *
    * The cumulative window is deliberately UN-partitioned: a ledger is
    * release-count-sized (thousands of rows at most — one per release
    * ever made against the corpus), never corpus-shaped, so the single
    * task is the honest plan. Budget accounting must be serialized
    * anyway — two concurrent releases that each check the budget
    * independently can both admit past it.
    */
  def dpBudgetLedger(registry: DataFrame, budget: Double): DataFrame = {
    val w = Window.orderBy("seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    registry
      .withColumn("cum_eps_d", sum(col("epsilon").cast(EpsDec)).over(w))
      .select(col("seq"), col("release_id"), col("mechanism"),
        col("epsilon").cast("double").as("epsilon"),
        col("cum_eps_d").cast("double").as("cum_epsilon"),
        (col("cum_eps_d") <= lit(budget).cast(EpsDec)).as("admitted"),
        lit(budget).as("budget"))
  }

  /** The REFUSAL primitive a release pipeline calls before running any
    * mechanism: exact spent-ε from the registry plus the proposal,
    * checked against the budget — throws (nothing is released, no
    * budget is spent) when the proposal would overdraw. Returns the new
    * cumulative spend the caller must append to the registry WITH the
    * release it admits (charge-then-release: a crash after the charge
    * wastes budget, which is safe; release-then-charge could release
    * past budget, which is not). PrivacySpec pins the refusal.
    */
  def dpBudgetAdmit(registry: DataFrame, budget: BigDecimal,
      proposedEps: BigDecimal): BigDecimal = {
    require(proposedEps > 0, s"a release must spend positive epsilon, got $proposedEps")
    val spentRow = registry.agg(sum(col("epsilon").cast(EpsDec))).head()
    val spent: BigDecimal =
      if (spentRow.isNullAt(0)) BigDecimal(0) else spentRow.getDecimal(0)
    val after = spent + proposedEps
    if (after > budget)
      throw new IllegalStateException(
        s"DP budget exhausted: spent=$spent + proposed=$proposedEps " +
          s"exceeds budget=$budget — release refused")
    after
  }

  /** x42's clamp-then-noise SUM/MEAN release as a public API (see the
    * x42 entry for the sensitivity accounting and the exact-decimal
    * determinism spelling). `seeded` per [[releaseSalt]].
    *
    * Release SET discipline (r17 verdict #1 — the last release still
    * deriving its rows from observed groups): cells are the DENSE
    * public 64-day window × the event-type vocabulary through the
    * shared [[denseCells]], zero cells noised like any other — under
    * the old observed-groups spelling a (type, day) group's PRESENCE
    * in the release flipped with one user's records, the exact leak
    * class the count releases closed in r16/r17, and the ε=1
    * parallel-composition claim is only as strong as the release set
    * is data-independent. Zero cells enter at sum 0 / users 0; the
    * released user count clamps to ≥ 1 so the post-processed mean
    * stays defined. Pass `vocabulary` from deployment config
    * ([[denseCells]] carries the public-vocabulary contract); records
    * outside the window are out of this release's scope (the x47
    * window contract).
    */
  def dpSumMeanRelease(events: DataFrame, seeded: Boolean = false,
      ledger: Option[DpLedger] = None, releaseId: String = "sum_mean",
      vocabulary: Option[Seq[String]] = None): DataFrame = {
    // ε=1 total (split ½/½ across the sum and count draws inside);
    // disjoint groups → parallel composition, charged once
    ledger.foreach(_.charge(releaseId, "laplace_sum_mean", BigDecimal(1)))
    val clampC = 50.0
    val salt = releaseSalt(seeded)
    val dec = org.apache.spark.sql.types.DecimalType(28, 9)
    val perUser = windowedDays(events)
      .groupBy("event_type", "day", "user_id")
      .agg(sum(round(col("value"), 9).cast(dec)).as("contrib"))
    val clamped = perUser.withColumn("cl",
      least(greatest(col("contrib"), lit(0).cast(dec)), lit(clampC).cast(dec)))
    val grp = clamped.groupBy("event_type", "day")
      .agg(sum(col("cl")).as("true_sum"), count(lit(1)).as("true_users"))
    val cells = denseCellsFrom(events, grp,
      Seq("true_sum" -> lit(0).cast(dec), "true_users" -> lit(0L)), vocabulary)
    cells.select(col("event_type"), col("day"),
        greatest(lit(0L), floor(col("true_sum").cast("double") +
          laplace(clampC / 0.5, seededUnif("dps|", salt)) + lit(0.5))).as("released_sum"),
        greatest(lit(1L), floor(col("true_users").cast("double") +
          laplace(1.0 / 0.5, seededUnif("dpn|", salt)) + lit(0.5))).as("released_users"))
      .select(col("event_type"), col("day"),
        col("released_sum"), col("released_users"),
        round(col("released_sum").cast("double") /
          col("released_users").cast("double"), 9).as("released_mean"),
        lit(1.0).as("epsilon"), lit(clampC).as("clamp"))
      .orderBy("event_type", "day")
  }

  def oracles: Map[String, String] = Map(
    "x12_pii_scrub" ->
      s"""SELECT event_id,
         |  ${pseudonymSql("uid", "user_id")} AS user_pseudonym,
         |  ${scrubSql("props")} AS props_scrubbed,
         |  CAST(length(regexp_extract_all(props, '${q(EmailRe)}')) AS BIGINT) AS n_emails,
         |  CAST(length(regexp_extract_all(
         |    regexp_replace(props, '${q(EmailRe)}', '<EMAIL>', 'g'), '${q(Ipv4Re)}')) AS BIGINT) AS n_ips,
         |  CAST(length(regexp_extract_all(${scrubEmailIpSql("props")}, '${q(NumRe)}')) AS BIGINT) AS n_nums
         |FROM events ORDER BY event_id""".stripMargin,
    "x13_k_anonymity" ->
      s"""WITH g AS (
         |  SELECT event_id, user_id, event_type, date_trunc('hour', ts) AS hour,
         |    count(*) OVER (PARTITION BY event_type, date_trunc('hour', ts)) AS group_n
         |  FROM events)
         |SELECT ${pseudonymSql("eid", "event_id")} AS event_pseudonym,
         |  ${pseudonymSql("uid", "user_id")} AS user_pseudonym,
         |  event_type, hour, group_n
         |FROM g WHERE group_n >= 3
         |ORDER BY md5('eid|' || CAST(event_id AS VARCHAR))""".stripMargin,
    "x34_l_diversity" ->
      s"""WITH g AS (
         |  SELECT event_id, user_id, event_type, date_trunc('hour', ts) AS hour
         |  FROM events),
         |a AS (
         |  SELECT event_type, hour, CAST(count(*) AS BIGINT) AS group_n,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive
         |  FROM g GROUP BY event_type, hour)
         |SELECT ${pseudonymSql("eid", "event_id")} AS event_pseudonym,
         |  ${pseudonymSql("uid", "user_id")} AS user_pseudonym,
         |  event_type, hour, group_n, n_sensitive
         |FROM g JOIN a USING (event_type, hour)
         |WHERE group_n >= 3 AND n_sensitive >= 3
         |ORDER BY md5('eid|' || CAST(event_id AS VARCHAR))""".stripMargin,
    // The identical exact-rational TVD: integer (DECIMAL) sums, one
    // final double division spelled with the same operand order.
    "x38_t_closeness" ->
      s"""WITH ev AS (
         |  SELECT event_id, user_id, event_type,
         |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |    ((user_id % 8) + 8) % 8 AS sclass
         |  FROM events),
         |gl AS (SELECT sclass, CAST(count(*) AS DECIMAL(18,0)) AS gv
         |  FROM ev GROUP BY sclass),
         |tot AS (SELECT CAST(sum(gv) AS DECIMAL(18,0)) AS n_total FROM gl),
         |gc AS (SELECT event_type, day, sclass,
         |    CAST(count(*) AS DECIMAL(18,0)) AS cnt
         |  FROM ev GROUP BY 1, 2, 3),
         |gn AS (SELECT event_type, day, CAST(sum(cnt) AS DECIMAL(18,0)) AS group_n
         |  FROM gc GROUP BY 1, 2),
         |sc AS (SELECT g.event_type, g.day,
         |    max(n.group_n) AS group_n,
         |    sum(abs(g.cnt * t.n_total - l.gv * n.group_n)) AS s1,
         |    sum(l.gv) AS gsum,
         |    max(t.n_total) AS n_total
         |  FROM gc g
         |  JOIN gn n ON g.event_type = n.event_type AND g.day = n.day
         |  JOIN gl l ON g.sclass = l.sclass
         |  CROSS JOIN tot t
         |  GROUP BY 1, 2),
         |ok AS (SELECT event_type, day, CAST(group_n AS BIGINT) AS group_n,
         |    CAST(s1 + (n_total - gsum) * group_n AS DOUBLE) /
         |      (2.0 * CAST(group_n AS DOUBLE) * CAST(n_total AS DOUBLE)) AS tvd
         |  FROM sc)
         |SELECT ${pseudonymSql("eid", "event_id")} AS event_pseudonym,
         |  ${pseudonymSql("uid", "user_id")} AS user_pseudonym,
         |  event_type, day, group_n, tvd
         |FROM ev JOIN ok USING (event_type, day)
         |WHERE group_n >= 3 AND tvd <= 0.15
         |ORDER BY md5('eid|' || CAST(event_id AS VARCHAR))""".stripMargin,
    // The identical seeded inverse-CDF Laplace draw over the identical
    // DENSE public grid × vocabulary cells: same md5-derived uniform,
    // same operand order, ln rounded to 9 before the one add.
    "x40_dp_release" ->
      """WITH grid AS (SELECT CAST(DATE '2024-01-01' + CAST(g.range AS INT) AS TIMESTAMP) AS day
        |  FROM range(0, 64) g),
        |vocab AS (SELECT DISTINCT event_type FROM events),
        |g AS (SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(count(*) AS BIGINT) AS true_n
        |  FROM events
        |  WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      >= CAST(DATE '2024-01-01' AS TIMESTAMP)
        |    AND CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      < CAST(DATE '2024-01-01' + 64 AS TIMESTAMP)
        |  GROUP BY 1, 2),
        |dense AS (SELECT v.event_type, grid.day,
        |    coalesce(g.true_n, CAST(0 AS BIGINT)) AS true_n
        |  FROM grid CROSS JOIN vocab v
        |  LEFT JOIN g ON g.event_type = v.event_type AND g.day = grid.day),
        |n AS (SELECT event_type, day, true_n,
        |    (CAST(('0x' || substr(md5('dp|' || event_type || '|' ||
        |        CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |      4294967296.0 AS u
        |  FROM dense),
        |z AS (SELECT event_type, day, true_n,
        |    round(-1.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 9) AS noise
        |  FROM n)
        |SELECT event_type, day,
        |  CAST(greatest(0.0, floor((CAST(true_n AS DOUBLE) + noise) + 0.5)) AS BIGINT)
        |    AS released_n,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM z ORDER BY event_type, day""".stripMargin,
    // x42: per-user clamp → group sum → DENSE public grid × vocabulary
    // (r17 verdict #1: zero cells enter at sum 0 / users 0) → two
    // seeded-Laplace noises → floor(x+½) integerization, the mean from
    // the RELEASED pair.
    "x42_dp_sum_release" ->
      """WITH grid AS (SELECT CAST(DATE '2024-01-01' + CAST(g.range AS INT) AS TIMESTAMP) AS day
        |  FROM range(0, 64) g),
        |vocab AS (SELECT DISTINCT event_type FROM events),
        |pu AS (SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id,
        |    SUM(CAST(round(value, 9) AS DECIMAL(28,9))) AS contrib
        |  FROM events
        |  WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      >= CAST(DATE '2024-01-01' AS TIMESTAMP)
        |    AND CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      < CAST(DATE '2024-01-01' + 64 AS TIMESTAMP)
        |  GROUP BY 1, 2, 3),
        |cl AS (SELECT event_type, day,
        |    least(greatest(contrib, CAST(0 AS DECIMAL(28,9))),
        |          CAST(50 AS DECIMAL(28,9))) AS cl
        |  FROM pu),
        |go AS (SELECT event_type, day, SUM(cl) AS true_sum,
        |    CAST(count(*) AS BIGINT) AS true_users
        |  FROM cl GROUP BY 1, 2),
        |g AS (SELECT v.event_type, grid.day,
        |    coalesce(go.true_sum, CAST(0 AS DECIMAL(28,9))) AS true_sum,
        |    coalesce(go.true_users, CAST(0 AS BIGINT)) AS true_users
        |  FROM grid CROSS JOIN vocab v
        |  LEFT JOIN go ON go.event_type = v.event_type AND go.day = grid.day),
        |n AS (SELECT event_type, day, true_sum, true_users,
        |    (CAST(('0x' || substr(md5('dps|' || event_type || '|' ||
        |        CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |      4294967296.0 AS us,
        |    (CAST(('0x' || substr(md5('dpn|' || event_type || '|' ||
        |        CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |      4294967296.0 AS uc
        |  FROM g),
        |z AS (SELECT event_type, day, true_sum, true_users,
        |    round(-100.0 * sign(us - 0.5) * ln(1.0 - 2.0 * abs(us - 0.5)), 9) AS ns,
        |    round(-2.0 * sign(uc - 0.5) * ln(1.0 - 2.0 * abs(uc - 0.5)), 9) AS nc
        |  FROM n),
        |r AS (SELECT event_type, day,
        |    CAST(greatest(0.0, floor(CAST(true_sum AS DOUBLE) + ns + 0.5)) AS BIGINT)
        |      AS released_sum,
        |    CAST(greatest(1.0, floor(CAST(true_users AS DOUBLE) + nc + 0.5)) AS BIGINT)
        |      AS released_users
        |  FROM z)
        |SELECT event_type, day, released_sum, released_users,
        |  round(CAST(released_sum AS DOUBLE) / CAST(released_users AS DOUBLE), 9)
        |    AS released_mean,
        |  CAST(1.0 AS DOUBLE) AS epsilon, CAST(50.0 AS DOUBLE) AS clamp
        |FROM r ORDER BY event_type, day""".stripMargin,
    // x43: Gumbel-max exponential mechanism over the DENSE public
    // 64-day grid × vocabulary (r17 verdict #1: both axes public) —
    // per-candidate seeded uniform → chained-ln Gumbel (each ln
    // rounded to 9, inner clamped to ≤ -1e-9) → count/2 + G → per-day
    // argmax with category tie-break; only the winning category ships.
    "x43_dp_argmax_release" ->
      """WITH grid AS (SELECT CAST(DATE '2024-01-01' + CAST(g.range AS INT) AS TIMESTAMP) AS day
        |  FROM range(0, 64) g),
        |vocab AS (SELECT DISTINCT event_type FROM events),
        |g AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    event_type, CAST(count(*) AS BIGINT) AS true_n
        |  FROM events
        |  WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      >= CAST(DATE '2024-01-01' AS TIMESTAMP)
        |    AND CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      < CAST(DATE '2024-01-01' + 64 AS TIMESTAMP)
        |  GROUP BY 1, 2),
        |dense AS (SELECT grid.day, v.event_type,
        |    coalesce(g.true_n, CAST(0 AS BIGINT)) AS true_n
        |  FROM grid CROSS JOIN vocab v
        |  LEFT JOIN g
        |    ON g.day = grid.day AND g.event_type = v.event_type),
        |u AS (SELECT day, event_type, true_n,
        |    (CAST(('0x' || substr(md5('dpx|' || event_type || '|' ||
        |        CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |      4294967296.0 AS u
        |  FROM dense),
        |sc AS (SELECT day, event_type,
        |    CAST(true_n AS DOUBLE) / 2.0 +
        |      round(-1.0 * ln(-1.0 * least(round(ln(u), 9), -1e-9)), 9) AS score
        |  FROM u),
        |rk AS (SELECT day, event_type,
        |    row_number() OVER (PARTITION BY day
        |      ORDER BY score DESC, event_type) AS rk
        |  FROM sc)
        |SELECT day, event_type AS released_top, CAST(1.0 AS DOUBLE) AS epsilon
        |FROM rk WHERE rk = 1 ORDER BY day""".stripMargin,
    // x46: the identical ledger over the PUBLIC 64-day calendar
    // schedule — daily ε=0.25 count charges per grid slot + three ε=1
    // ad-hoc releases in schedule order, exact DECIMAL cumulative
    // sums. `admitted` here is the independent cum ≤ 6 spelling; the
    // Spark side emits the persistent wrapper's per-charge verdicts —
    // hash equality IS the enforcement-matches-accounting check.
    "x46_dp_budget" ->
      """WITH days AS (SELECT DATE '2024-01-01' + CAST(g.range AS INT) AS day
        |  FROM range(0, 64) g),
        |daily AS (SELECT 'count|' || CAST(day AS VARCHAR) AS release_id,
        |    'laplace_count' AS mechanism, 0.25 AS epsilon,
        |    CAST(day AS VARCHAR) AS ord
        |  FROM days),
        |adhoc AS (SELECT * FROM (VALUES
        |    ('sum_mean|corpus', 'laplace_sum_mean', 1.0, 'zz|a'),
        |    ('argmax|corpus', 'exp_argmax', 1.0, 'zz|b'),
        |    ('median|corpus', 'exp_median', 1.0, 'zz|c'))
        |  t(release_id, mechanism, epsilon, ord)),
        |reg AS (SELECT release_id, mechanism, epsilon,
        |    CAST(row_number() OVER (ORDER BY ord) AS BIGINT) AS seq
        |  FROM (SELECT * FROM daily UNION ALL SELECT * FROM adhoc)),
        |led AS (SELECT seq, release_id, mechanism,
        |    CAST(epsilon AS DOUBLE) AS epsilon,
        |    SUM(CAST(epsilon AS DECIMAL(18,6))) OVER (ORDER BY seq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_d
        |  FROM reg)
        |SELECT seq, release_id, mechanism, epsilon,
        |  CAST(cum_d AS DOUBLE) AS cum_epsilon,
        |  cum_d <= CAST(6.0 AS DECIMAL(18,6)) AS admitted,
        |  CAST(6.0 AS DOUBLE) AS budget
        |FROM led ORDER BY seq""".stripMargin,
    // x47: the identical tree mechanism — dense public 64-day grid,
    // dyadic node sums + per-node seeded Laplace(7) with the
    // window-separated seed domain ('dpc|0|…'), prefix = decimal sum
    // of the set-bit nodes, floor(x+½) clamp, window-level ε column.
    "x47_dp_continual" ->
      """WITH grid AS (SELECT CAST(g.range + 1 AS INT) AS t,
        |    DATE '2024-01-01' + CAST(g.range AS INT) AS day
        |  FROM range(0, 64) g),
        |daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |counts AS (SELECT grid.t, grid.day, coalesce(daily.cnt, 0) AS cnt
        |  FROM grid LEFT JOIN daily ON grid.day = daily.day),
        |levels AS (SELECT * FROM (VALUES (0,1,2),(1,2,4),(2,4,8),(3,8,16),
        |    (4,16,32),(5,32,64),(6,64,128)) v(lvl, p, p2)),
        |nodes AS (SELECT lvl, (t - 1) // p AS blk,
        |    CAST(SUM(cnt) AS BIGINT) AS node_sum
        |  FROM counts CROSS JOIN levels GROUP BY 1, 2),
        |noisy AS (SELECT lvl, blk,
        |    round(CAST(node_sum AS DOUBLE) +
        |      round(-7.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 9), 9)
        |      AS noisy
        |  FROM (SELECT lvl, blk, node_sum,
        |      (CAST(('0x' || substr(md5('dpc|0|' || CAST(lvl AS VARCHAR) || '|' ||
        |          CAST(blk AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |        4294967296.0 AS u
        |    FROM nodes)),
        |parts AS (SELECT c.t, c.day, l.lvl, 2 * (c.t // l.p2) AS blk
        |  FROM counts c CROSS JOIN levels l
        |  WHERE (c.t // l.p) % 2 = 1)
        |SELECT p.day, CAST(p.t AS BIGINT) AS t,
        |  CAST(greatest(0.0, floor(
        |    CAST(SUM(CAST(n.noisy AS DECIMAL(28,12))) AS DOUBLE) + 0.5)) AS BIGINT)
        |    AS released_cum,
        |  CAST(0 AS BIGINT) AS window_id,
        |  CAST(1.0 AS DOUBLE) AS window_epsilon
        |FROM parts p JOIN noisy n ON p.lvl = n.lvl AND p.blk = n.blk
        |GROUP BY p.day, p.t
        |ORDER BY t""".stripMargin,
    // x48: two tree-mechanism windows with window-separated seeds,
    // each window's clamped prefix computed exactly as x47's, then the
    // cross-window stitch from RELEASED values only — window w's rows
    // add the sum of earlier windows' released t=64 totals. The Spark
    // side's ledger (budget 2) admits both windows, so the released
    // window set here is deterministic.
    "x48_dp_rollover" ->
      """WITH wins AS (SELECT * FROM (VALUES (0), (1)) w(win)),
        |grid AS (SELECT w.win, CAST(g.range + 1 AS INT) AS t,
        |    DATE '2024-01-01' + CAST(w.win * 64 + g.range AS INT) AS day
        |  FROM range(0, 64) g CROSS JOIN wins w),
        |daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |counts AS (SELECT g.win, g.t, g.day, coalesce(daily.cnt, 0) AS cnt
        |  FROM grid g LEFT JOIN daily ON g.day = daily.day),
        |levels AS (SELECT * FROM (VALUES (0,1,2),(1,2,4),(2,4,8),(3,8,16),
        |    (4,16,32),(5,32,64),(6,64,128)) v(lvl, p, p2)),
        |nodes AS (SELECT win, lvl, (t - 1) // p AS blk,
        |    CAST(SUM(cnt) AS BIGINT) AS node_sum
        |  FROM counts CROSS JOIN levels GROUP BY 1, 2, 3),
        |noisy AS (SELECT win, lvl, blk,
        |    round(CAST(node_sum AS DOUBLE) +
        |      round(-7.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 9), 9)
        |      AS noisy
        |  FROM (SELECT win, lvl, blk, node_sum,
        |      (CAST(('0x' || substr(md5('dpc|' || CAST(win AS VARCHAR) || '|' ||
        |          CAST(lvl AS VARCHAR) || '|' ||
        |          CAST(blk AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |        4294967296.0 AS u
        |    FROM nodes)),
        |parts AS (SELECT c.win, c.t, c.day, l.lvl, 2 * (c.t // l.p2) AS blk
        |  FROM counts c CROSS JOIN levels l
        |  WHERE (c.t // l.p) % 2 = 1),
        |winrel AS (SELECT p.win, p.t, p.day,
        |    CAST(greatest(0.0, floor(
        |      CAST(SUM(CAST(n.noisy AS DECIMAL(28,12))) AS DOUBLE) + 0.5)) AS BIGINT)
        |      AS win_rel
        |  FROM parts p JOIN noisy n
        |    ON p.win = n.win AND p.lvl = n.lvl AND p.blk = n.blk
        |  GROUP BY p.win, p.t, p.day),
        |ofs AS (SELECT win,
        |    CAST(coalesce(SUM(win_rel) OVER (ORDER BY win
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS ofs
        |  FROM winrel WHERE t = 64)
        |SELECT CAST(w.win AS BIGINT) AS window_id, w.day,
        |  CAST(w.t AS BIGINT) AS t,
        |  CAST(o.ofs + w.win_rel AS BIGINT) AS released_cum,
        |  CAST(1.0 AS DOUBLE) AS window_epsilon
        |FROM winrel w JOIN ofs o ON w.win = o.win
        |ORDER BY window_id, t""".stripMargin,
    // x50: dense grid → two seeded md5 uniforms ('dpg1|'/'dpg2|') →
    // Box–Muller at σ=2 with every libm call rounded to 9 (ln, cos;
    // sqrt is IEEE-exact) → clamp+floor. 6.283185307179586 is 2π as
    // the same double literal the Spark side compiles.
    "x50_dp_gaussian" ->
      """WITH grid AS (SELECT CAST(DATE '2024-01-01' + CAST(g.range AS INT) AS TIMESTAMP) AS day
        |  FROM range(0, 64) g),
        |vocab AS (SELECT DISTINCT event_type FROM events),
        |g AS (SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(count(*) AS BIGINT) AS true_n
        |  FROM events
        |  WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      >= CAST(DATE '2024-01-01' AS TIMESTAMP)
        |    AND CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      < CAST(DATE '2024-01-01' + 64 AS TIMESTAMP)
        |  GROUP BY 1, 2),
        |dense AS (SELECT v.event_type, grid.day,
        |    coalesce(g.true_n, CAST(0 AS BIGINT)) AS true_n
        |  FROM grid CROSS JOIN vocab v
        |  LEFT JOIN g ON g.event_type = v.event_type AND g.day = grid.day),
        |n AS (SELECT event_type, day, true_n,
        |    (CAST(('0x' || substr(md5('dpg1|' || event_type || '|' ||
        |        CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |      4294967296.0 AS u1,
        |    (CAST(('0x' || substr(md5('dpg2|' || event_type || '|' ||
        |        CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |      4294967296.0 AS u2
        |  FROM dense),
        |z AS (SELECT event_type, day, true_n,
        |    round(2.0 *
        |      round(sqrt(round(-2.0 * round(ln(u1), 9), 9)), 9) *
        |      round(cos(round(6.283185307179586 * u2, 9)), 9), 9) AS noise
        |  FROM n)
        |SELECT event_type, day,
        |  CAST(greatest(0.0, floor((CAST(true_n AS DOUBLE) + noise) + 0.5)) AS BIGINT)
        |    AS released_n,
        |  CAST(0.125 AS DOUBLE) AS rho
        |FROM z ORDER BY event_type, day""".stripMargin,
    // x51 SVT: noisy threshold T̂ = 100 + Lap(2) drawn once ('dpt|'
    // tag), per-day Lap(4) ('dpv|'), cumulative ⊤ count halts the
    // stream after the first ⊤ — rows past it are never released.
    "x51_dp_above_threshold" ->
      """WITH grid AS (SELECT CAST(DATE '2024-01-01' + CAST(g.range AS INT) AS TIMESTAMP) AS day
        |  FROM range(0, 64) g),
        |daily AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events
        |  WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      >= CAST(DATE '2024-01-01' AS TIMESTAMP)
        |    AND CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      < CAST(DATE '2024-01-01' + 64 AS TIMESTAMP)
        |  GROUP BY 1),
        |cells AS (SELECT grid.day, coalesce(daily.cnt, CAST(0 AS BIGINT)) AS cnt
        |  FROM grid LEFT JOIN daily ON grid.day = daily.day),
        |th AS (SELECT 100.0 +
        |    round(-2.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 9) AS that
        |  FROM (SELECT (CAST(('0x' || substr(md5('dpt|threshold'), 1, 8)) AS BIGINT)
        |      + 0.5) / 4294967296.0 AS u)),
        |f AS (SELECT day,
        |    (CAST(cnt AS DOUBLE) +
        |      round(-4.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 9))
        |      >= that AS above
        |  FROM (SELECT day, cnt,
        |      (CAST(('0x' || substr(md5('dpv|' || CAST(day AS VARCHAR)), 1, 8))
        |        AS BIGINT) + 0.5) / 4294967296.0 AS u
        |    FROM cells), th),
        |g AS (SELECT day, above,
        |    SUM(CASE WHEN above THEN 1 ELSE 0 END) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS na
        |  FROM f)
        |SELECT day, above, CAST(1.0 AS DOUBLE) AS stream_epsilon
        |FROM g WHERE na - (CASE WHEN above THEN 1 ELSE 0 END) < 1
        |ORDER BY day""".stripMargin,
    // x52: per-(user, cell) clamped contributions → row_number cap at 4
    // per user → cell sums/user counts → dense grid → two seeded
    // Laplaces (scale 400 on sums 'dpw|', scale 8 on counts 'dpz|') →
    // floor(x+½), mean from the RELEASED pair.
    "x52_dp_user_sum" ->
      """WITH grid AS (SELECT CAST(DATE '2024-01-01' + CAST(g.range AS INT) AS TIMESTAMP) AS day
        |  FROM range(0, 64) g),
        |vocab AS (SELECT DISTINCT event_type FROM events),
        |pc AS (SELECT user_id, event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    least(greatest(SUM(CAST(round(value, 9) AS DECIMAL(28,9))),
        |        CAST(0 AS DECIMAL(28,9))), CAST(50 AS DECIMAL(28,9))) AS cl
        |  FROM events
        |  WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      >= CAST(DATE '2024-01-01' AS TIMESTAMP)
        |    AND CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      < CAST(DATE '2024-01-01' + 64 AS TIMESTAMP)
        |  GROUP BY 1, 2, 3),
        |kept AS (SELECT user_id, event_type, day, cl FROM (
        |    SELECT user_id, event_type, day, cl,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY day, event_type) AS rk
        |    FROM pc) WHERE rk <= 4),
        |go AS (SELECT event_type, day, SUM(cl) AS true_sum,
        |    CAST(count(*) AS BIGINT) AS true_users
        |  FROM kept GROUP BY 1, 2),
        |g AS (SELECT v.event_type, grid.day,
        |    coalesce(go.true_sum, CAST(0 AS DECIMAL(28,9))) AS true_sum,
        |    coalesce(go.true_users, CAST(0 AS BIGINT)) AS true_users
        |  FROM grid CROSS JOIN vocab v
        |  LEFT JOIN go ON go.event_type = v.event_type AND go.day = grid.day),
        |n AS (SELECT event_type, day, true_sum, true_users,
        |    (CAST(('0x' || substr(md5('dpw|' || event_type || '|' ||
        |        CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |      4294967296.0 AS us,
        |    (CAST(('0x' || substr(md5('dpz|' || event_type || '|' ||
        |        CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |      4294967296.0 AS uc
        |  FROM g),
        |z AS (SELECT event_type, day, true_sum, true_users,
        |    round(-400.0 * sign(us - 0.5) * ln(1.0 - 2.0 * abs(us - 0.5)), 9) AS ns,
        |    round(-8.0 * sign(uc - 0.5) * ln(1.0 - 2.0 * abs(uc - 0.5)), 9) AS nc
        |  FROM n),
        |r AS (SELECT event_type, day,
        |    CAST(greatest(0.0, floor(CAST(true_sum AS DOUBLE) + ns + 0.5)) AS BIGINT)
        |      AS released_sum,
        |    CAST(greatest(1.0, floor(CAST(true_users AS DOUBLE) + nc + 0.5)) AS BIGINT)
        |      AS released_users
        |  FROM z)
        |SELECT event_type, day, released_sum, released_users,
        |  round(CAST(released_sum AS DOUBLE) / CAST(released_users AS DOUBLE), 9)
        |    AS released_mean,
        |  CAST(1.0 AS DOUBLE) AS epsilon, CAST(50.0 AS DOUBLE) AS clamp,
        |  CAST(4 AS BIGINT) AS cap_cells
        |FROM r ORDER BY event_type, day""".stripMargin,
    // x53 numeric-sparse SVT, c = 2: per-episode noisy thresholds
    // ('dpt|e|', Lap(4)) and per-day noise ('dpv|e|', Lap(8)); episode
    // 1 resumes strictly after episode 0's alert day and only if one
    // exists; verdicts only, one epsilon total.
    "x53_dp_sparse" ->
      """WITH grid AS (SELECT CAST(DATE '2024-01-01' + CAST(g.range AS INT) AS TIMESTAMP) AS day
        |  FROM range(0, 64) g),
        |daily AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events
        |  WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      >= CAST(DATE '2024-01-01' AS TIMESTAMP)
        |    AND CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      < CAST(DATE '2024-01-01' + 64 AS TIMESTAMP)
        |  GROUP BY 1),
        |cells AS (SELECT grid.day, coalesce(daily.cnt, CAST(0 AS BIGINT)) AS cnt
        |  FROM grid LEFT JOIN daily ON grid.day = daily.day),
        |th0 AS (SELECT 100.0 +
        |    round(-4.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 9) AS that
        |  FROM (SELECT (CAST(('0x' || substr(md5('dpt|0|threshold'), 1, 8)) AS BIGINT)
        |      + 0.5) / 4294967296.0 AS u)),
        |f0 AS (SELECT day,
        |    (CAST(cnt AS DOUBLE) +
        |      round(-8.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 9))
        |      >= that AS above
        |  FROM (SELECT day, cnt,
        |      (CAST(('0x' || substr(md5('dpv|0|' || CAST(day AS VARCHAR)), 1, 8))
        |        AS BIGINT) + 0.5) / 4294967296.0 AS u
        |    FROM cells), th0),
        |b0 AS (SELECT min(day) AS b FROM f0 WHERE above),
        |e0 AS (SELECT f0.day, CAST(0 AS BIGINT) AS episode, f0.above
        |  FROM f0 CROSS JOIN b0 WHERE b0.b IS NULL OR f0.day <= b0.b),
        |th1 AS (SELECT 100.0 +
        |    round(-4.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 9) AS that
        |  FROM (SELECT (CAST(('0x' || substr(md5('dpt|1|threshold'), 1, 8)) AS BIGINT)
        |      + 0.5) / 4294967296.0 AS u)),
        |f1 AS (SELECT day,
        |    (CAST(cnt AS DOUBLE) +
        |      round(-8.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 9))
        |      >= that AS above
        |  FROM (SELECT day, cnt,
        |      (CAST(('0x' || substr(md5('dpv|1|' || CAST(day AS VARCHAR)), 1, 8))
        |        AS BIGINT) + 0.5) / 4294967296.0 AS u
        |    FROM cells), th1),
        |b1 AS (SELECT min(f1.day) AS b FROM f1 CROSS JOIN b0
        |  WHERE f1.above AND b0.b IS NOT NULL AND f1.day > b0.b),
        |e1 AS (SELECT f1.day, CAST(1 AS BIGINT) AS episode, f1.above
        |  FROM f1 CROSS JOIN b0 CROSS JOIN b1
        |  WHERE b0.b IS NOT NULL AND f1.day > b0.b
        |    AND (b1.b IS NULL OR f1.day <= b1.b))
        |SELECT day, episode, above, CAST(1.0 AS DOUBLE) AS stream_epsilon
        |FROM (SELECT * FROM e0 UNION ALL SELECT * FROM e1)
        |ORDER BY episode, day""".stripMargin,
    // x54: observed window cells → seeded Laplace(1) ('dph|' tag) →
    // stability threshold tau = 1 + round(ln(1/(2 delta)), 9) →
    // floor(x+½) of survivors only; identical operand order so the
    // threshold verdict cannot flip on an ulp.
    "x54_dp_stable_histogram" ->
      """WITH g AS (SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(count(*) AS BIGINT) AS true_n
        |  FROM events
        |  WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      >= CAST(DATE '2024-01-01' AS TIMESTAMP)
        |    AND CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      < CAST(DATE '2024-01-01' + 64 AS TIMESTAMP)
        |  GROUP BY 1, 2),
        |n AS (SELECT event_type, day, true_n,
        |    (CAST(('0x' || substr(md5('dph|' || event_type || '|' ||
        |        CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |      4294967296.0 AS u
        |  FROM g),
        |z AS (SELECT event_type, day,
        |    CAST(true_n AS DOUBLE) +
        |      round(-1.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 9)
        |      AS noisy
        |  FROM n),
        |t AS (SELECT 1.0 + round(ln(500000.0), 9) AS tau)
        |SELECT event_type, day,
        |  CAST(floor(noisy + 0.5) AS BIGINT) AS released_n,
        |  CAST(1.0 AS DOUBLE) AS epsilon, CAST(0.000001 AS DOUBLE) AS delta,
        |  tau
        |FROM z, t WHERE noisy >= tau
        |ORDER BY event_type, day""".stripMargin,
    // x55: per-user distinct cells → row_number cap at 4 → cell user
    // counts (NO grid — unknown domain) → seeded Laplace(4) ('dpuh|')
    // → stability threshold tau = 1 + 4·round(ln(4/(2δ)), 9) →
    // floor(x+½) of survivors only.
    "x55_dp_user_histogram" ->
      """WITH uc AS (SELECT DISTINCT user_id, event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |  FROM events
        |  WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      >= CAST(DATE '2024-01-01' AS TIMESTAMP)
        |    AND CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      < CAST(DATE '2024-01-01' + 64 AS TIMESTAMP)),
        |kept AS (SELECT user_id, event_type, day FROM (
        |    SELECT user_id, event_type, day,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY day, event_type) AS rk
        |    FROM uc) WHERE rk <= 4),
        |g AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS true_users
        |  FROM kept GROUP BY 1, 2),
        |n AS (SELECT event_type, day, true_users,
        |    (CAST(('0x' || substr(md5('dpuh|' || event_type || '|' ||
        |        CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |      4294967296.0 AS u
        |  FROM g),
        |z AS (SELECT event_type, day,
        |    CAST(true_users AS DOUBLE) +
        |      round(-4.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 9)
        |      AS noisy
        |  FROM n),
        |t AS (SELECT 1.0 + 4.0 * round(ln(2000000.0), 9) AS tau)
        |SELECT event_type, day,
        |  CAST(floor(noisy + 0.5) AS BIGINT) AS released_users,
        |  CAST(1.0 AS DOUBLE) AS epsilon, CAST(0.000001 AS DOUBLE) AS delta,
        |  tau, CAST(4 AS BIGINT) AS cap_cells
        |FROM z, t WHERE noisy >= tau
        |ORDER BY event_type, day""".stripMargin,
    // x56: md5-Bernoulli keep at q = ½ over event_id ('dpss|' tag) →
    // the x40 dense-grid Laplace(1) release over the kept events
    // ('dpsc|' noise tag), vocabulary from the FULL corpus; epsilon is
    // the amplified round(ln(1 + 0.5*(round(exp(1),9) − 1)), 9).
    "x56_dp_subsampled" ->
      """WITH grid AS (SELECT CAST(DATE '2024-01-01' + CAST(g.range AS INT) AS TIMESTAMP) AS day
        |  FROM range(0, 64) g),
        |vocab AS (SELECT DISTINCT event_type FROM events),
        |kept AS (SELECT * FROM events
        |  WHERE (CAST(('0x' || substr(md5('dpss|' || CAST(event_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) + 0.5) / 4294967296.0 < 0.5),
        |g AS (SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(count(*) AS BIGINT) AS true_n
        |  FROM kept
        |  WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      >= CAST(DATE '2024-01-01' AS TIMESTAMP)
        |    AND CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      < CAST(DATE '2024-01-01' + 64 AS TIMESTAMP)
        |  GROUP BY 1, 2),
        |dense AS (SELECT v.event_type, grid.day,
        |    coalesce(g.true_n, CAST(0 AS BIGINT)) AS true_n
        |  FROM grid CROSS JOIN vocab v
        |  LEFT JOIN g ON g.event_type = v.event_type AND g.day = grid.day),
        |n AS (SELECT event_type, day, true_n,
        |    (CAST(('0x' || substr(md5('dpsc|' || event_type || '|' ||
        |        CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |      4294967296.0 AS u
        |  FROM dense),
        |z AS (SELECT event_type, day, true_n,
        |    round(-1.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 9) AS noise
        |  FROM n)
        |SELECT event_type, day,
        |  CAST(greatest(0.0, floor((CAST(true_n AS DOUBLE) + noise) + 0.5)) AS BIGINT)
        |    AS released_n,
        |  round(ln(1.0 + 0.5 * (round(exp(1.0), 9) - 1.0)), 9) AS epsilon,
        |  CAST(0.5 AS DOUBLE) AS q, CAST(1.0 AS DOUBLE) AS base_epsilon
        |FROM z ORDER BY event_type, day""".stripMargin,
    // x60: md5-Bernoulli keep at q = ½ over event_id ('dpsg|' tag, an
    // independent sample from x56's) → dense grid from the FULL corpus
    // vocabulary → Box–Muller at the σ = √(2·ln(1.25e6)) literal
    // ('dpsg1|'/'dpsg2|' tags) → clamp+floor. σ is INTERPOLATED from
    // the Scala constant, not recomputed — both engines read the same
    // 9-digit decimal; ε' stays the SQL spelling x56 proved.
    "x60_dp_subsampled_gaussian" ->
      s"""WITH grid AS (SELECT CAST(DATE '2024-01-01' + CAST(g.range AS INT) AS TIMESTAMP) AS day
        |  FROM range(0, 64) g),
        |vocab AS (SELECT DISTINCT event_type FROM events),
        |kept AS (SELECT * FROM events
        |  WHERE (CAST(('0x' || substr(md5('dpsg|' || CAST(event_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) + 0.5) / 4294967296.0 < 0.5),
        |g AS (SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(count(*) AS BIGINT) AS true_n
        |  FROM kept
        |  WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      >= CAST(DATE '2024-01-01' AS TIMESTAMP)
        |    AND CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      < CAST(DATE '2024-01-01' + 64 AS TIMESTAMP)
        |  GROUP BY 1, 2),
        |dense AS (SELECT v.event_type, grid.day,
        |    coalesce(g.true_n, CAST(0 AS BIGINT)) AS true_n
        |  FROM grid CROSS JOIN vocab v
        |  LEFT JOIN g ON g.event_type = v.event_type AND g.day = grid.day),
        |n AS (SELECT event_type, day, true_n,
        |    (CAST(('0x' || substr(md5('dpsg1|' || event_type || '|' ||
        |        CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |      4294967296.0 AS u1,
        |    (CAST(('0x' || substr(md5('dpsg2|' || event_type || '|' ||
        |        CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |      4294967296.0 AS u2
        |  FROM dense),
        |z AS (SELECT event_type, day, true_n,
        |    round($SubGaussSigma *
        |      round(sqrt(round(-2.0 * round(ln(u1), 9), 9)), 9) *
        |      round(cos(round(6.283185307179586 * u2, 9)), 9), 9) AS noise
        |  FROM n)
        |SELECT event_type, day,
        |  CAST(greatest(0.0, floor((CAST(true_n AS DOUBLE) + noise) + 0.5)) AS BIGINT)
        |    AS released_n,
        |  round(ln(1.0 + 0.5 * (round(exp(1.0), 9) - 1.0)), 9) AS epsilon,
        |  CAST(0.0000005 AS DOUBLE) AS delta,
        |  CAST(0.5 AS DOUBLE) AS q, CAST($SubGaussSigma AS DOUBLE) AS sigma
        |FROM z ORDER BY event_type, day""".stripMargin,
    // x61: the MTZ integer-order binomial sum as a recursive CTE — the
    // term recurrence u_{k+1} = u_k·((α−k)/(k+1))·e9(k/σ²) (q = ½ makes
    // the q/(1−q) factor exactly 1.0, an IEEE identity), (1−q)^α folded
    // in through logs so neither engine calls pow; every exp/ln rounds
    // to 9, all other arithmetic is bit-identical IEEE. σ is the
    // interpolated 9-digit Scala constant (the x60 discipline); K = 16
    // scales exactly (a power of two); δ = 1e-6 readout.
    "x61_rdp_account" ->
      s"""WITH RECURSIVE r AS (
        |  SELECT CAST(g.range AS BIGINT) AS alpha, CAST(0 AS BIGINT) AS k,
        |         CAST(1.0 AS DOUBLE) AS u, CAST(1.0 AS DOUBLE) AS s
        |  FROM range(2, 65) g
        |  UNION ALL
        |  SELECT alpha, k + 1,
        |         u * ((alpha - k) / (k + 1.0)) *
        |           round(exp(k / ($SubGaussSigma * $SubGaussSigma)), 9),
        |         s + u * ((alpha - k) / (k + 1.0)) *
        |           round(exp(k / ($SubGaussSigma * $SubGaussSigma)), 9)
        |  FROM r WHERE k < alpha),
        |f AS (SELECT alpha, s FROM r WHERE k = alpha),
        |z AS (SELECT alpha,
        |    round((alpha * round(ln(0.5), 9) + round(ln(s), 9)) / (alpha - 1), 9)
        |      AS rdp
        |  FROM f),
        |t AS (SELECT alpha, rdp, 16.0 * rdp AS rdp_total,
        |    16.0 * rdp + round(ln(1000000.0), 9) / (alpha - 1) AS eps
        |  FROM z)
        |SELECT alpha, rdp, rdp_total, eps,
        |  min(eps) OVER () AS eps_star,
        |  16.0 * round(ln(1.0 + 0.5 * (round(exp(1.0), 9) - 1.0)), 9) AS eps_basic,
        |  CAST(0.000001 AS DOUBLE) AS delta
        |FROM t ORDER BY alpha""".stripMargin,
    // x62: k-RR collection replayed record-for-record — the 'lrr1|'
    // truth coin against p = e9/(e9 + k − 1), the 'lrr2|' decoy index
    // floor(u2·(k−1)) skipping the true type's slot in the sorted
    // public domain — then the debiased estimator as pure double
    // arithmetic over the report counts. k is the domain size from the
    // same sorted-distinct spelling; list indexing is 1-based like
    // Spark's element_at.
    "x62_local_rr_freq" ->
      """WITH win AS (SELECT event_id, event_type FROM events
        |  WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      >= CAST(DATE '2024-01-01' AS TIMESTAMP)
        |    AND CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      < CAST(DATE '2024-01-01' + 64 AS TIMESTAMP)),
        |v AS (SELECT list_sort(list(DISTINCT event_type)) AS arr FROM win),
        |c AS (SELECT len(arr) AS k,
        |    round(exp(1.0), 9) / (round(exp(1.0), 9) + (len(arr) - 1)) AS p,
        |    1.0 / (round(exp(1.0), 9) + (len(arr) - 1)) AS q
        |  FROM v),
        |r AS (SELECT w.event_type,
        |    (CAST(('0x' || substr(md5('lrr1|' || CAST(w.event_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) + 0.5) / 4294967296.0 AS u1,
        |    (CAST(('0x' || substr(md5('lrr2|' || CAST(w.event_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) + 0.5) / 4294967296.0 AS u2,
        |    list_position(v.arr, w.event_type) - 1 AS r0
        |  FROM win w, v
        |  WHERE list_position(v.arr, w.event_type) IS NOT NULL),
        |rep AS (SELECT CASE WHEN r.u1 < c.p THEN r.event_type
        |    ELSE list_extract(v.arr,
        |      CAST((CASE WHEN floor(r.u2 * (c.k - 1)) < r.r0
        |            THEN floor(r.u2 * (c.k - 1))
        |            ELSE floor(r.u2 * (c.k - 1)) + 1 END) AS INT) + 1)
        |    END AS reported
        |  FROM r, v, c),
        |types AS (SELECT unnest(arr) AS event_type FROM v),
        |obs AS (SELECT reported AS event_type,
        |    CAST(count(*) AS BIGINT) AS n_reports
        |  FROM rep GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM rep)
        |SELECT t.event_type,
        |  coalesce(o.n_reports, CAST(0 AS BIGINT)) AS n_reports,
        |  (CAST(coalesce(o.n_reports, CAST(0 AS BIGINT)) AS DOUBLE)
        |     - CAST(n.n_total AS DOUBLE) * c.q) / (c.p - c.q) AS est_n,
        |  CAST(1.0 AS DOUBLE) AS epsilon, c.p AS p, c.q AS q
        |FROM types t LEFT JOIN obs o ON o.event_type = t.event_type, n, c
        |ORDER BY t.event_type""".stripMargin,
    // x63: x47's node construction under the independent 'dpr|' noise
    // domain, then the canonical dyadic cover of each public range as
    // a recursive CTE — p = min(largest block aligned at cur, largest
    // block fitting the remaining span, 64), pure integer/bit math in
    // both engines — and the cover's noisy sum through DECIMAL(28,12)
    // with the x47 clamp.
    "x63_dp_range_tree" ->
      """WITH RECURSIVE grid AS (SELECT CAST(g.range + 1 AS INT) AS t,
        |    DATE '2024-01-01' + CAST(g.range AS INT) AS day
        |  FROM range(0, 64) g),
        |daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |counts AS (SELECT grid.t, grid.day, coalesce(daily.cnt, 0) AS cnt
        |  FROM grid LEFT JOIN daily ON grid.day = daily.day),
        |levels AS (SELECT * FROM (VALUES (0,1,2),(1,2,4),(2,4,8),(3,8,16),
        |    (4,16,32),(5,32,64),(6,64,128)) v(lvl, p, p2)),
        |nodes AS (SELECT lvl, (t - 1) // p AS blk,
        |    CAST(SUM(cnt) AS BIGINT) AS node_sum
        |  FROM counts CROSS JOIN levels GROUP BY 1, 2),
        |noisy AS (SELECT lvl, blk,
        |    round(CAST(node_sum AS DOUBLE) +
        |      round(-7.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 9), 9)
        |      AS noisy
        |  FROM (SELECT lvl, blk, node_sum,
        |      (CAST(('0x' || substr(md5('dpr|' || CAST(lvl AS VARCHAR) || '|' ||
        |          CAST(blk AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |        4294967296.0 AS u
        |    FROM nodes)),
        |qs AS (SELECT CAST(t AS BIGINT) AS qid, CAST(t AS INT) AS lo,
        |    CAST(t + 6 AS INT) AS hi
        |  FROM range(1, 59) r(t)
        |  UNION ALL SELECT CAST(100 + t AS BIGINT), CAST(t AS INT),
        |    CAST(t + 29 AS INT) FROM range(1, 36) r(t)
        |  UNION ALL SELECT CAST(200 AS BIGINT), 1, 64),
        |cov AS (
        |  SELECT qid, lo, hi, lo AS cur FROM qs
        |  UNION ALL
        |  SELECT qid, lo, hi, cur + pp FROM (
        |    SELECT qid, lo, hi, cur, least(least(
        |        CASE WHEN cur = 1 THEN 64 ELSE ((cur - 1) & -(cur - 1)) END,
        |        CASE WHEN hi - cur + 1 >= 64 THEN 64
        |             WHEN hi - cur + 1 >= 32 THEN 32
        |             WHEN hi - cur + 1 >= 16 THEN 16
        |             WHEN hi - cur + 1 >= 8 THEN 8
        |             WHEN hi - cur + 1 >= 4 THEN 4
        |             WHEN hi - cur + 1 >= 2 THEN 2
        |             ELSE 1 END), 64) AS pp
        |      FROM cov) WHERE cur + pp <= hi),
        |cnodes AS (SELECT qid, lo, hi,
        |    CASE pp WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 4 THEN 2 WHEN 8 THEN 3
        |         WHEN 16 THEN 4 WHEN 32 THEN 5 ELSE 6 END AS lvl,
        |    (cur - 1) // pp AS blk
        |  FROM (SELECT qid, lo, hi, cur, least(least(
        |      CASE WHEN cur = 1 THEN 64 ELSE ((cur - 1) & -(cur - 1)) END,
        |      CASE WHEN hi - cur + 1 >= 64 THEN 64
        |           WHEN hi - cur + 1 >= 32 THEN 32
        |           WHEN hi - cur + 1 >= 16 THEN 16
        |           WHEN hi - cur + 1 >= 8 THEN 8
        |           WHEN hi - cur + 1 >= 4 THEN 4
        |           WHEN hi - cur + 1 >= 2 THEN 2
        |           ELSE 1 END), 64) AS pp
        |    FROM cov))
        |SELECT c.qid,
        |  DATE '2024-01-01' + (c.lo - 1) AS lo_day,
        |  DATE '2024-01-01' + (c.hi - 1) AS hi_day,
        |  CAST(greatest(0.0, floor(
        |    CAST(SUM(CAST(n.noisy AS DECIMAL(28,12))) AS DOUBLE) + 0.5)) AS BIGINT)
        |    AS released_range,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(1.0 AS DOUBLE) AS window_epsilon
        |FROM cnodes c JOIN noisy n ON c.lvl = n.lvl AND c.blk = n.blk
        |GROUP BY c.qid, c.lo, c.hi
        |ORDER BY c.qid""".stripMargin,
    // x49: per-user distinct cells → row_number cap at 4 → cell counts →
    // dense grid → seeded Laplace at scale 4 → clamp+floor. Same
    // md5-uniform and chained-ln spelling as x40, 'dpu|' domain tag.
    "x49_dp_user_count" ->
      """WITH grid AS (SELECT CAST(DATE '2024-01-01' + CAST(g.range AS INT) AS TIMESTAMP) AS day
        |  FROM range(0, 64) g),
        |vocab AS (SELECT DISTINCT event_type FROM events),
        |uc AS (SELECT DISTINCT user_id, event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |  FROM events
        |  WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      >= CAST(DATE '2024-01-01' AS TIMESTAMP)
        |    AND CAST(date_trunc('day', ts) AS TIMESTAMP)
        |      < CAST(DATE '2024-01-01' + 64 AS TIMESTAMP)),
        |kept AS (SELECT user_id, event_type, day FROM (
        |    SELECT user_id, event_type, day,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY day, event_type) AS rk
        |    FROM uc) WHERE rk <= 4),
        |g AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS true_users
        |  FROM kept GROUP BY 1, 2),
        |dense AS (SELECT v.event_type, grid.day,
        |    coalesce(g.true_users, CAST(0 AS BIGINT)) AS true_users
        |  FROM grid CROSS JOIN vocab v
        |  LEFT JOIN g ON g.event_type = v.event_type AND g.day = grid.day),
        |n AS (SELECT event_type, day, true_users,
        |    (CAST(('0x' || substr(md5('dpu|' || event_type || '|' ||
        |        CAST(day AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |      4294967296.0 AS u
        |  FROM dense),
        |z AS (SELECT event_type, day, true_users,
        |    round(-4.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 9) AS noise
        |  FROM n)
        |SELECT event_type, day,
        |  CAST(greatest(0.0, floor((CAST(true_users AS DOUBLE) + noise) + 0.5)) AS BIGINT)
        |    AS released_users,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM z ORDER BY event_type, day""".stripMargin,
    // x44: bin into the public [0,512]/64 grid → dense candidate set
    // (empty bins included) → rank-distance utility from cum/n windows
    // → Gumbel argmax per event_type → midpoint of the winning bin.
    "x44_dp_median_release" ->
      """WITH b AS (SELECT event_type,
        |    CAST(least(63, floor(least(greatest(value, 0.0), 512.0) / 8.0)) AS INT)
        |      AS bin
        |  FROM events),
        |c AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |cand AS (SELECT t.event_type, CAST(g.range AS INT) AS bin
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN range(0, 64) g),
        |d AS (SELECT cand.event_type, cand.bin, coalesce(c.c, 0) AS c
        |  FROM cand LEFT JOIN c
        |    ON cand.event_type = c.event_type AND cand.bin = c.bin),
        |sc AS (SELECT event_type, bin,
        |    -1.0 * abs(CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |        - CAST(sum(c) OVER (PARTITION BY event_type) AS DOUBLE) / 2.0) / 2.0
        |      + round(-1.0 * ln(-1.0 * least(round(ln(
        |          (CAST(('0x' || substr(md5('dpm|' || event_type || '|' ||
        |              CAST(bin AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |            4294967296.0), 9), -1e-9)), 9) AS score
        |  FROM d),
        |rk AS (SELECT event_type, bin,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY score DESC, bin) AS rk
        |  FROM sc)
        |SELECT event_type, (CAST(bin AS DOUBLE) + 0.5) * 8.0 AS released_median,
        |  CAST(1.0 AS DOUBLE) AS epsilon, CAST(0.0 AS DOUBLE) AS lo,
        |  CAST(512.0 AS DOUBLE) AS hi
        |FROM rk WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // x64: x44's bin/candidate/cum spelling, crossed with the public
    // quantile VALUES (double beside its literal seed string), scored
    // -|cum - q*n|/8 + the 'dpqn|' Gumbel, per-(type, q) argmax, then
    // the monotonize self-join (sorted values meet sorted quantiles).
    "x64_dp_quantiles" ->
      """WITH b AS (SELECT event_type,
        |    CAST(least(63, floor(least(greatest(value, 0.0), 512.0) / 8.0)) AS INT)
        |      AS bin
        |  FROM events),
        |c AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |cand AS (SELECT t.event_type, CAST(g.range AS INT) AS bin
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN range(0, 64) g),
        |d AS (SELECT cand.event_type, cand.bin, coalesce(c.c, 0) AS c
        |  FROM cand LEFT JOIN c
        |    ON cand.event_type = c.event_type AND cand.bin = c.bin),
        |base AS (SELECT event_type, bin,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS DOUBLE) AS n
        |  FROM d),
        |qs AS (SELECT * FROM (VALUES
        |    (CAST(0.25 AS DOUBLE), '0.25'), (CAST(0.5 AS DOUBLE), '0.5'),
        |    (CAST(0.75 AS DOUBLE), '0.75'), (CAST(0.9 AS DOUBLE), '0.9'))
        |  v(q, qname)),
        |sc AS (SELECT event_type, bin, q, qname,
        |    -1.0 * abs(cum - q * n) / 8.0 +
        |      round(-1.0 * ln(-1.0 * least(round(ln(
        |        (CAST(('0x' || substr(md5('dpqn|' || event_type || '|' || qname
        |            || '|' || CAST(bin AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) /
        |          4294967296.0), 9), -1e-9)), 9) AS score
        |  FROM base CROSS JOIN qs),
        |wn AS (SELECT event_type, q, bin,
        |    row_number() OVER (PARTITION BY event_type, qname
        |      ORDER BY score DESC, bin) AS rk
        |  FROM sc),
        |wr AS (SELECT event_type, q,
        |    (CAST(bin AS DOUBLE) + 0.5) * 8.0 AS raw_q
        |  FROM wn WHERE rk = 1),
        |rq AS (SELECT event_type, q, raw_q,
        |    row_number() OVER (PARTITION BY event_type ORDER BY q) AS rkq
        |  FROM wr),
        |rv AS (SELECT event_type, raw_q AS v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY raw_q, q) AS rkv
        |  FROM wr)
        |SELECT rq.event_type, rq.q AS quantile, rv.v AS released_q, rq.raw_q,
        |  CAST(0.25 AS DOUBLE) AS epsilon_each, CAST(1.0 AS DOUBLE) AS epsilon
        |FROM rq JOIN rv ON rq.event_type = rv.event_type AND rq.rkq = rv.rkv
        |ORDER BY rq.event_type, quantile""".stripMargin
  )
}
