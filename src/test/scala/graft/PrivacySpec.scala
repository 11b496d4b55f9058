package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Privacy

/** Behavior tests for the privacy operators on adversarial fixtures the
  * synthetic corpus can't provide (it contains no emails or IPs — the
  * gate certifies cross-engine parity of the scrub chain, not that the
  * patterns actually catch PII).
  */
class PrivacySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  private def scrubOne(s: String): String = {
    import spark.implicits._
    Seq(s).toDF("t").select(Privacy.scrub(col("t")).as("r")).head().getString(0)
  }

  test("scrub redacts emails, IPv4s, and digit runs") {
    assert(scrubOne("contact me at jane.doe+spam@mail.example.org today")
      === "contact me at <EMAIL> today")
    assert(scrubOne("server 10.0.42.255 port 8080")
      === "server <IP> port <NUM>")
    assert(scrubOne("card 4111111111111111 exp 12/26")
      === "card <NUM> exp <NUM>/<NUM>")
    // an email's digits are consumed by the email pass, not re-matched
    assert(scrubOne("a1b2@x99.co and 77") === "<EMAIL> and <NUM>")
    // the email pattern is case-insensitive: mixed-case PII is still PII
    assert(scrubOne("Reach Jane.Doe@Example.COM now") === "Reach <EMAIL> now")
    assert(scrubOne("SHOUTY@MAIL.ORG") === "<EMAIL>")
    // placeholders survive later passes untouched
    assert(scrubOne("u@v.io 1.2.3.4 5") === "<EMAIL> <IP> <NUM>")
    // no PII → identity
    assert(scrubOne("plain words only") === "plain words only")
  }

  test("pseudonyms are deterministic, salt-scoped, and identifier-distinct") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 1L).toDF("id")
      .select(Privacy.pseudonym("uid", col("id")).as("p1"),
        Privacy.pseudonym("other", col("id")).as("p2"))
      .collect()
    assert(ids(0).getString(0) === ids(2).getString(0)) // same id+salt → same
    assert(ids(0).getString(0) !== ids(1).getString(0)) // distinct ids differ
    assert(ids(0).getString(0) !== ids(0).getString(1)) // salts unlinkable
    assert(ids(0).getString(0).length === 16)
  }

  test("x13 k-anonymity: every surviving quasi-identifier group has >= k rows") {
    val rows = SparkEntry.queries("x13_k_anonymity")(spark, d).collect()
    assert(rows.nonEmpty)
    // recount groups from the output itself: group_n must be honest
    val byGroup = rows.groupBy(r => (r.getString(2), r.get(3)))
    byGroup.foreach { case (g, rs) =>
      assert(rs.length >= 3, s"group $g survived with ${rs.length} < k rows")
      rs.foreach(r => assert(r.getLong(4) === rs.length.toLong,
        s"group $g: group_n ${r.getLong(4)} != actual ${rs.length}"))
    }
    // raw user ids must not appear anywhere in the output
    val evCount = Tables.events(spark, d).count()
    assert(rows.length < evCount, "suppression dropped nothing — k too low to test")
    assert(rows.forall(_.getString(1).matches("[0-9a-f]{16}")))
  }

  test("per-class PII counts are staged: each class counts on post-earlier-pass text") {
    import spark.implicits._
    // 2 emails (one mixed-case, one carrying digits), 1 bare IP, 1 bare
    // number; the quad inside the second email's text and the emails'
    // digits must NOT inflate the later classes
    val df = Seq("a1b2@x99.co ping 10.0.0.1 from Jane.Doe@EXAMPLE.com port 8080").toDF("props")
    val r = df.select(
      regexp_count(col("props"), lit(Privacy.EmailRe)).cast("long").as("n_emails"),
      regexp_count(regexp_replace(col("props"), Privacy.EmailRe, "<EMAIL>"),
        lit(Privacy.Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(Privacy.scrubEmailIp(col("props")), lit(Privacy.NumRe))
        .cast("long").as("n_nums")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((2L, 1L, 1L)))
  }

  test("oracle SQL helpers escape quotes in the salt") {
    assert(Privacy.pseudonymSql("o'brien", "id").contains("o''brien"))
  }

  test("x13 output row key is pseudonymized, not the raw event_id") {
    val df = SparkEntry.queries("x13_k_anonymity")(spark, d)
    assert(df.columns.head === "event_pseudonym")
    assert(df.select("event_pseudonym").head().getString(0).matches("[0-9a-f]{16}"))
  }

  test("x34 l-diversity: every surviving group has >= l distinct sensitives") {
    val rows = SparkEntry.queries("x34_l_diversity")(spark, d).collect()
    assert(rows.nonEmpty)
    // per surviving (event_type, hour) group: the reported n_sensitive
    // bound holds AND is consistent with the actual distinct pseudonyms
    // in the output (the pseudonym is injective on user_id at this size)
    rows.groupBy(r => (r.getString(2), r.get(3))).foreach { case (g, rs) =>
      val reported = rs.map(_.getLong(5)).toSet
      assert(reported.size === 1, s"group $g inconsistent n_sensitive")
      assert(reported.head >= 3, s"group $g below l")
      val distinctUsers = rs.map(_.getString(1)).toSet.size
      assert(distinctUsers.toLong === reported.head,
        s"group $g: reported ${reported.head} != observed $distinctUsers")
      assert(rs.size >= 3, s"group $g below k")
    }
    // l-diversity is strictly stronger than k-anonymity here: it must
    // never keep a row x13 suppressed
    val kept13 = SparkEntry.queries("x13_k_anonymity")(spark, d)
      .select("event_pseudonym").collect().map(_.getString(0)).toSet
    rows.foreach(r => assert(kept13(r.getString(0)),
      s"x34 kept a row x13 suppressed: ${r.getString(0)}"))
  }

  test("x12 scrub output carries no digits outside placeholders") {
    val rows = SparkEntry.queries("x12_pii_scrub")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scrubbed = r.getString(2)
      assert(!scrubbed.matches(".*[0-9].*"), s"digits survived: $scrubbed")
    }
  }

  test("x40 DP release: dense public cells, non-negative, noise perturbs, Laplace tail bounded") {
    import org.apache.spark.sql.functions._
    val released = SparkEntry.queries("x40_dp_release")(spark, d).collect()
      .map(r => ((r.getString(0), r.getTimestamp(1)), r.getLong(2))).toMap
    val truth = graft.Tables.events(spark, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .count().collect()
      .map(r => ((r.getString(0), r.getTimestamp(1)), r.getLong(2))).toMap
    // the release set is the DENSE public grid × vocabulary (r16
    // advice): every one of the 64 calendar slots for every type,
    // zero-count cells included — a cell's presence reveals NOTHING
    // about whether that (type, day) had data
    val vocab = graft.Tables.events(spark, d)
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    val epoch = java.time.LocalDate.parse("2024-01-01")
    val gridDays = (0 until 64).map(i =>
      java.sql.Timestamp.valueOf(epoch.plusDays(i.toLong).atStartOfDay())).toSet
    val expectedCells = for (t <- vocab; day <- gridDays) yield (t, day)
    assert(released.keySet === expectedCells,
      "release set must be the full public grid × vocabulary, nothing else")
    assert(truth.keySet.subsetOf(released.keySet),
      "every observed group sits inside the public window at this SF")
    val devs = released.map { case (k, rel) =>
      assert(rel >= 0L, s"cell $k released negative count $rel")
      math.abs(rel - truth.getOrElse(k, 0L))
    }
    assert(devs.exists(_ > 0L), "the mechanism must actually perturb some counts")
    // b = 1: P(|noise| > 23) = e^-23 ~ 1e-10; the seeded uniform has 32
    // bits so the draw cannot exceed -ln(2^-33) ~ 22.9 by construction
    devs.foreach(dv => assert(dv <= 25L, s"deviation $dv outside the Laplace tail bound"))
  }

  test("x42 DP sum: clamp binds before noise; Laplace tail bounded; mean is post-processing") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("x42_dp_sum_release")(spark, d).collect()
    assert(rows.nonEmpty)
    // truth recomputed both ways: the released sum must track the
    // CLAMPED truth (|dev| ≤ b·23 — the 32-bit seeded uniform cannot
    // draw past -ln(2^-33), so b = 100 bounds |noise| ≈ 2287), and the
    // clamp must actually bind on this data (unclamped ≠ clamped), or
    // the test would pass with the clamp deleted.
    val dec = org.apache.spark.sql.types.DecimalType(28, 9)
    val pu = graft.Tables.events(spark, d)
      .withColumn("day", date_trunc("day", col("ts")))
      .groupBy("event_type", "day", "user_id")
      .agg(sum(round(col("value"), 9).cast(dec)).as("contrib"))
    val truth = pu
      .groupBy("event_type", "day")
      .agg(sum(least(greatest(col("contrib"), lit(0).cast(dec)),
          lit(50.0).cast(dec))).as("cl"),
        sum(col("contrib")).as("raw"), count(lit(1)).as("users"))
      .collect()
      .map(r => ((r.getString(0), r.getTimestamp(1)),
        (r.getDecimal(2).doubleValue(), r.getDecimal(3).doubleValue(),
          r.getLong(4)))).toMap
    assert(truth.values.exists { case (cl, raw, _) => cl < raw },
      "the per-user clamp must bind somewhere on this data")
    // dense release set (r17 verdict #1, the x40/x49/x50 discipline
    // extended here): every cell of the public 64-day grid × vocabulary
    // releases, zero cells included — presence reveals nothing
    val vocabSize = graft.Tables.events(spark, d)
      .select("event_type").distinct().count()
    assert(rows.length === 64 * vocabSize,
      "x42's release set must be the dense public grid x vocabulary")
    rows.foreach { r =>
      val k = (r.getString(0), r.getTimestamp(1))
      val (cl, _, users) = truth.getOrElse(k, (0.0, 0.0, 0L))
      val relSum = r.getLong(2); val relUsers = r.getLong(3)
      assert(relSum >= 0L && relUsers >= 1L)
      assert(math.abs(relSum - cl) <= 2300.0,
        s"group $k: released $relSum vs clamped truth $cl outside Laplace(100) tail")
      assert(math.abs(relUsers - users) <= 50L,
        s"group $k: released users $relUsers vs $users outside Laplace(2) tail")
      // mean is derived from the released pair only
      assert(r.getDouble(4) ===
        BigDecimal(relSum.toDouble / relUsers.toDouble)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(rows.map(r => math.abs(r.getLong(2) -
        math.rint(truth.getOrElse((r.getString(0), r.getTimestamp(1)),
          (0.0, 0.0, 0L))._1))).exists(_ > 0),
      "the mechanism must actually perturb some sums")
  }

  test("DP releases default to CSPRNG-salted seeds; the oracle spelling is opt-in") {
    // Production default (`seeded = false`) mixes a fresh driver-drawn
    // salt into every seed, so two releases over the SAME data must
    // disagree somewhere (Laplace(100) on the sums — the chance that
    // two independent salted draws integerize identically across every
    // group is negligible), while the seeded spelling is bit-stable.
    // This is the r14-advice gate: the publicly-recomputable
    // deterministic release cannot be what a caller ships by accident.
    val ev = graft.Tables.events(spark, d)
    def sums(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.collect().map(r => (r.getString(0) + "|" + r.getTimestamp(1), r.getLong(2))).toSeq
    val a = sums(Privacy.dpSumMeanRelease(ev))
    val b = sums(Privacy.dpSumMeanRelease(ev))
    val s1 = sums(Privacy.dpSumMeanRelease(ev, seeded = true))
    val s2 = sums(Privacy.dpSumMeanRelease(ev, seeded = true))
    assert(s1 === s2, "seeded releases must be bit-stable (the gate relies on it)")
    assert(a !== b, "two default releases must draw different salts")
    assert(a !== s1, "the default release must not equal the public-seed spelling")
  }

  test("x43 exponential-mechanism release: one category per day, vocabulary candidates, deterministic when seeded") {
    val rel = SparkEntry.queries("x43_dp_argmax_release")(spark, d).collect()
    val days = rel.map(_.getTimestamp(0))
    assert(days.length === days.distinct.length, "exactly one release per day")
    // candidates are the FULL event-type vocabulary per day (r15 advice:
    // per-day observed candidates would make candidacy itself leak) —
    // the winner must be a vocabulary member, NOT necessarily observed
    // that day
    val vocab = graft.Tables.events(spark, d)
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    // the day axis is the PUBLIC 64-day grid since r18 (r17 verdict #1)
    // — observed-only days made a singleton day's release ROW flip with
    // one record
    val epoch0 = java.time.LocalDate.parse("2024-01-01")
    val gridDays = (0 until 64).map(i =>
      java.sql.Timestamp.valueOf(epoch0.plusDays(i.toLong).atStartOfDay())).toSet
    assert(days.toSet === gridDays, "one release for EVERY public grid day")
    rel.foreach { r =>
      assert(vocab(r.getString(1)),
        "released category must come from the event-type vocabulary")
      assert(r.getDouble(2) === 1.0)
    }
    val again = SparkEntry.queries("x43_dp_argmax_release")(spark, d).collect()
    assert(rel.map(_.toString).toSeq === again.map(_.toString).toSeq,
      "the seeded gate spelling must be bit-stable")
  }

  test("x43 candidate set is data-independent: a zero-count category can win") {
    import spark.implicits._
    import java.sql.Timestamp
    // day 1 observes every type; day 2 observes ONLY 'alpha', once. Under
    // the old observed-candidates spelling day 2 could only ever release
    // 'alpha'; with the dense vocabulary grid the unobserved types
    // compete at count 0, and with utilities this close (0.5 apart) the
    // seeded Gumbel decides — verified below to pick an UNOBSERVED type,
    // which is exactly the behavior the ε=1 claim needs (candidacy must
    // not depend on one record's presence).
    val day1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val day2 = Timestamp.valueOf("2024-01-02 00:00:00")
    val types = Seq("alpha", "beta", "gamma", "delta")
    val rows = types.map(t => (day1, t)) :+ ((day2, "alpha"))
    val ev = rows.toDF("ts", "event_type")
      .withColumn("event_id", monotonically_increasing_id())
    val rel = Privacy.dpArgmaxRelease(ev, seeded = true).collect()
      .map(r => (r.getTimestamp(0), r.getString(1))).toMap
    // since r18 the day axis is public too: all 64 grid days release
    // (empty days' winners are pure Gumbel over zero counts)
    assert(rel.size === 64 && rel.contains(day1) && rel.contains(day2),
      "a release for every public grid day")
    assert(rel.values.forall(types.contains), "every winner from the vocabulary")
    assert(types.contains(rel(day2)), "winner still from the vocabulary")
    assert(rel(day2) !== "alpha",
      "with near-tied utilities the seeded Gumbel must be able to pick a " +
        "zero-count candidate — if this ever releases 'alpha', check that " +
        "the candidate grid is still dense (observed-only candidates would " +
        "make this assertion IMPOSSIBLE to fail the other way)")
  }

  test("x47 continual release: dense public grid, tree-mechanism error bound, seeded-stable") {
    val rel = SparkEntry.queries("x47_dp_continual")(spark, d).collect()
    assert(rel.length === 64, "one release per public slot, empty days included")
    assert(rel.map(_.getLong(1)).toSeq === (1L to 64L), "dense day indexes")
    // true running count per grid slot (slots past the data's last day
    // hold the final total)
    val daily = graft.Tables.events(spark, d)
      .select(datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("d0"))
      .filter(col("d0") >= 0 && col("d0") < 64)
      .groupBy("d0").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val trueCum = (0 until 64).scanLeft(0L)((acc, i) => acc + daily.getOrElse(i, 0L)).drop(1)
    // each release sums ≤ 7 noisy nodes; the 32-bit seeded uniform
    // bounds one |Laplace(7)| draw by 7·ln(2^32) ≈ 155.3 → prefix
    // error < 1088 for ANY seed. Fails if the decomposition double-
    // counts a node, misses one, or the noise scale is off by a level.
    rel.foreach { r =>
      val t = r.getLong(1).toInt
      assert(math.abs(r.getLong(2) - trueCum(t - 1)) < 1088.0,
        s"slot $t: released ${r.getLong(2)} vs true ${trueCum(t - 1)} " +
          "outside the tree-mechanism bound")
    }
    // monotone TRUE cum + bounded noise means the released tail must
    // end within the bound of the corpus total (a prefix/suffix swap
    // or an off-by-one block index would break this)
    assert(math.abs(rel.last.getLong(2) - trueCum.last) < 1088.0)
    val again = SparkEntry.queries("x47_dp_continual")(spark, d).collect()
    assert(rel.map(_.toString).toSeq === again.map(_.toString).toSeq,
      "the seeded gate spelling must be bit-stable")
  }

  test("x46 budget ledger: exact cumulative spend, admission flips once, refusal throws") {
    import spark.implicits._
    // ledger semantics on a hand-built registry: 0.25 × 4 dailies + two
    // ε=1 ad-hoc against budget 2.0 → the first five admit (cum 2.0
    // exactly — the boundary release is admitted, ≤ not <), the sixth
    // refuses
    val reg = Seq(
      (1L, "d1", "laplace_count", 0.25), (2L, "d2", "laplace_count", 0.25),
      (3L, "d3", "laplace_count", 0.25), (4L, "d4", "laplace_count", 0.25),
      (5L, "adhoc1", "exp_argmax", 1.0), (6L, "adhoc2", "exp_median", 1.0))
      .toDF("seq", "release_id", "mechanism", "epsilon")
    val led = Privacy.dpBudgetLedger(reg, budget = 2.0)
      .orderBy("seq").collect()
    assert(led.map(_.getDouble(4)).toSeq ===
      Seq(0.25, 0.5, 0.75, 1.0, 2.0, 3.0), "exact cumulative epsilon")
    assert(led.map(_.getBoolean(5)).toSeq ===
      Seq(true, true, true, true, true, false),
      "boundary release admitted (cum == budget), overdraw refused")
    // admission is monotone: once false, never true again
    assert(!led.map(_.getBoolean(5)).dropWhile(identity).contains(true))
    // the refusal primitive: inside budget returns the new spend,
    // overdraw throws BEFORE anything is released
    val admitted = Privacy.dpBudgetAdmit(reg.filter(col("seq") <= 4),
      budget = BigDecimal(2), proposedEps = BigDecimal(1))
    assert(admitted === BigDecimal(2))
    val ex = intercept[IllegalStateException] {
      Privacy.dpBudgetAdmit(reg, budget = BigDecimal(2),
        proposedEps = BigDecimal("0.000001"))
    }
    assert(ex.getMessage.contains("refused"))
    intercept[IllegalArgumentException] {
      Privacy.dpBudgetAdmit(reg, budget = BigDecimal(10), proposedEps = BigDecimal(0))
    }
  }

  private def freshLedgerDir(): String =
    java.nio.file.Files.createTempDirectory("graft-spec-ledger").toString

  test("DpLedger enforcement: a refused release throws before the mechanism runs and writes nothing") {
    import graft.operators.DpLedger
    val ev = graft.Tables.events(spark, d)
    val dir = freshLedgerDir()
    val led = DpLedger.open(dir, budget = BigDecimal("1.5"))
    // admitted release: identical output to the unledgered spelling,
    // one durable registry row
    val charged = Privacy.dpCountRelease(ev, seeded = true, ledger = Some(led)).collect()
    val plain = Privacy.dpCountRelease(ev, seeded = true).collect()
    assert(charged.map(_.toString).toSeq === plain.map(_.toString).toSeq,
      "the ledger must not change WHAT is released, only WHETHER")
    assert(led.spent === BigDecimal(1))
    val reg1 = led.registry(spark).collect()
    assert(reg1.length === 1)
    assert(reg1.head.getString(1) === "count")
    assert(reg1.head.getString(2) === "laplace_count")
    // refused release: throws AT THE CALL — no frame is ever
    // constructed, so nothing can be acted on or written
    val ex = intercept[IllegalStateException] {
      Privacy.dpSumMeanRelease(ev, seeded = true, ledger = Some(led))
    }
    assert(ex.getMessage.contains("refused"))
    assert(led.spent === BigDecimal(1), "a refusal spends nothing")
    assert(led.registry(spark).count() === 1L, "a refusal appends nothing")
    // the charge-then-release wrapper never evaluates a refused
    // mechanism (by-name body)
    var ran = false
    intercept[IllegalStateException] {
      led.release("again", "laplace_sum_mean", BigDecimal(1)) { ran = true }
    }
    assert(!ran, "a refused release's mechanism must never run")
    // durability: reopening the directory resumes the accounting
    // exactly (ε reloads as the decimal STRING that was written).
    // close() first — the single-writer lock (r17 verdict #3) makes a
    // second open on a still-open directory fail loudly
    led.close()
    val reopened = DpLedger.open(dir, budget = BigDecimal("1.5"))
    assert(reopened.spent === BigDecimal(1))
    assert(reopened.remaining === BigDecimal("0.5"))
    assert(!reopened.tryCharge("late", "laplace_count", BigDecimal(1)))
    assert(reopened.tryCharge("small", "laplace_count", BigDecimal("0.5")),
      "a smaller later proposal that fits must still be admitted")
  }

  test("every DP release charges its window epsilon exactly once (x47: one charge per window, never per row)") {
    import graft.operators.DpLedger
    val ev = graft.Tables.events(spark, d)
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal(10))
    Privacy.dpCountRelease(ev, seeded = true, ledger = Some(led))
    Privacy.dpSumMeanRelease(ev, seeded = true, ledger = Some(led))
    Privacy.dpArgmaxRelease(ev, seeded = true, ledger = Some(led))
    Privacy.dpMedianRelease(ev, seeded = true, ledger = Some(led))
    // x47 releases 64 rows but must charge ONE ε=1 row (r16 advice:
    // the per-row epsilon column invited 64× overcharging)
    val rel = Privacy.dpContinualRelease(ev, seeded = true, ledger = Some(led))
    assert(rel.count() === 64L)
    val reg = led.registry(spark).orderBy("seq").collect()
      .map(r => (r.getString(1), r.getString(2), r.getDouble(3)))
    assert(reg.toSeq === Seq(
      ("count", "laplace_count", 1.0),
      ("sum_mean", "laplace_sum_mean", 1.0),
      ("argmax", "exp_argmax", 1.0),
      ("median", "exp_median", 1.0),
      ("continual|w0", "tree_continual", 1.0)))
    assert(led.spent === BigDecimal(5))
    // rollover: one charge PER WINDOW through the same wrapper
    Privacy.dpContinualRollover(ev, nWindows = 2, seeded = true,
      ledger = Some(led), releaseId = "roll").count()
    val reg2 = led.registry(spark).orderBy("seq").collect()
      .map(r => (r.getString(1), r.getDouble(3)))
    assert(reg2.takeRight(2).toSeq === Seq(("roll|w0", 1.0), ("roll|w1", 1.0)))
    assert(led.spent === BigDecimal(7))
  }

  test("x48 rollover: an exhausted budget refuses window N+1; admitted windows stitch from released values only") {
    import graft.operators.DpLedger
    val ev = graft.Tables.events(spark, d)
    // budget 1.5 admits only window 0: the rollover releases 64 rows
    // for window 0 and NOTHING for window 1 — no rows, no registry
    // append (r16 verdict #4's refusal pin)
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal("1.5"))
    val partial = Privacy.dpContinualRollover(ev, nWindows = 2,
      seeded = true, ledger = Some(led)).collect()
    assert(partial.length === 64)
    assert(partial.forall(_.getLong(0) === 0L), "only window 0 released")
    assert(led.registry(spark).count() === 1L)
    assert(led.spent === BigDecimal(1))
    // window 0 of the rollover IS the standalone x47 release (same
    // window-separated seed domain)
    val solo0 = Privacy.dpContinualRelease(ev, seeded = true).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    partial.foreach(r => assert(r.getLong(3) === solo0(r.getLong(2)),
      s"rollover window 0 slot ${r.getLong(2)} diverged from x47"))
    // budget 2 admits both windows; window 1's global prefix is the
    // RELEASED window-0 total (its t=64 released value — an already-
    // public integer) plus window 1's own released prefix: pure
    // post-processing, verified term by term against the standalone
    // window-1 release
    val led2 = DpLedger.open(freshLedgerDir(), budget = BigDecimal(2))
    val full = Privacy.dpContinualRollover(ev, nWindows = 2,
      seeded = true, ledger = Some(led2)).collect()
    assert(full.length === 128)
    val win0 = full.filter(_.getLong(0) === 0L)
    val win1 = full.filter(_.getLong(0) === 1L)
    win0.foreach(r => assert(r.getLong(3) === solo0(r.getLong(2))))
    val offset = win0.find(_.getLong(2) === 64L).get.getLong(3)
    val solo1 = Privacy.dpContinualRelease(ev, seeded = true, window = 1)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    win1.foreach(r => assert(r.getLong(3) === offset + solo1(r.getLong(2)),
      s"window 1 slot ${r.getLong(2)}: stitch must be released-offset + " +
        "released-window-1 prefix, nothing else"))
  }

  test("composed-release attack: averaging repeated releases is capped by the ledger at the budget's variance floor") {
    import graft.operators.DpLedger
    // THE ATTACK a privacy reviewer actually asks about: an analyst
    // with release access requests the SAME count release k times
    // (production salted draws — fresh noise each time) and averages,
    // driving the noise variance down as 2b²/k. Unmetered, k is
    // unbounded and the true counts reconstruct to arbitrary
    // precision. The ledger is the defense: at ε = 1 per release and
    // budget B = 6, exactly 6 releases are EVER admitted — the 7th
    // and every later request throws with nothing released — so the
    // reconstruction variance can never drop below 2b²/6 = 1/3. This
    // pins the mechanism of the guarantee (the query cap), the
    // premise that makes averaging meaningful at all (admitted
    // releases genuinely differ), and the residual itself (the
    // 6-release average still misses somewhere on this corpus).
    val ev = graft.Tables.events(spark, d)
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal(6))
    def snapshot(df: org.apache.spark.sql.DataFrame): Map[(String, java.sql.Timestamp), Long] =
      df.collect().map(r => ((r.getString(0), r.getTimestamp(1)), r.getLong(2))).toMap
    val rels = (1 to 6).map { i =>
      snapshot(Privacy.dpCountRelease(ev, ledger = Some(led),
        releaseId = s"attack|$i"))
    }
    val refusal = intercept[IllegalStateException] {
      Privacy.dpCountRelease(ev, ledger = Some(led), releaseId = "attack|7")
    }
    assert(refusal.getMessage.contains("refused"))
    assert(led.spent === BigDecimal(6))
    assert(led.registry(spark).count() === 6L, "exactly B/ε releases ever admitted")
    assert(rels.distinct.size > 1,
      "salted releases must differ — otherwise averaging is vacuous and " +
        "the attack model (and this test) would be testing nothing")
    val truth = graft.Tables.events(spark, d)
      .groupBy(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.date_trunc("day",
          org.apache.spark.sql.functions.col("ts")).as("day"))
      .count().collect()
      .map(r => ((r.getString(0), r.getTimestamp(1)), r.getLong(2))).toMap
    val keys = rels.head.keySet
    val avgErrs = keys.toSeq.map { k =>
      val avg = rels.map(_(k)).sum.toDouble / rels.length
      math.abs(avg - truth.getOrElse(k, 0L).toDouble)
    }
    assert(avgErrs.exists(_ > 0.0),
      "the 6-release average must still carry residual error somewhere — " +
        "zero residual everywhere would mean the noise was not fresh per release")
    // the average of 6 tail-bounded draws stays tail-bounded (each
    // release's per-cell deviation is ≤ 25 by the x40 bound)
    avgErrs.foreach(e => assert(e <= 25.0))
  }

  test("x49 user-level DP: removing one whole user moves at most capCells cells, each by at most 1") {
    import graft.operators.DpLedger
    import spark.implicits._
    // THE claim that separates user-level from event-level DP, checked
    // as executable sensitivity analysis: build a corpus where one user
    // touches 6 cells (6 days, one type — plus heavy per-day event
    // volume, which must NOT matter: contribution is presence, not
    // count), release with and without that user under IDENTICAL
    // seeded noise (same cells, same tags → same draws), and diff. The
    // capped truth changes in exactly capCells = 4 cells by exactly 1,
    // so the released integers may differ in AT MOST 4 cells, each by
    // at most 1 (the 0-clamp can only shrink a difference). x40 run the
    // same way has no such bound — one heavy user moves one cell by
    // their whole event count.
    def mkEvents(withU1: Boolean) = {
      val base = for {
        u <- 2 to 11
        rep <- 1 to 3 // event volume per cell — must not affect the count
      } yield (java.sql.Timestamp.valueOf(s"2024-01-${10 + (u % 3)} 0$rep:00:00"),
        "click", s"user$u")
      val u1 = for {
        day <- 1 to 6
        rep <- 1 to 50 // heavy user: 300 events across 6 cells
      } yield (java.sql.Timestamp.valueOf(f"2024-01-$day%02d ${rep % 24}%02d:30:00"),
        "click", "user1")
      (if (withU1) base ++ u1 else base).toDF("ts", "event_type", "user_id")
    }
    // vocabulary passed EXPLICITLY as public config (r17 review): the
    // sensitivity claim requires a data-independent release set, and a
    // corpus-derived vocabulary would make this experiment hold only by
    // the accident of u1 sharing 'click' with everyone else
    def rel(withU1: Boolean): Map[java.sql.Timestamp, Long] =
      Privacy.dpUserCountRelease(mkEvents(withU1), seeded = true,
        vocabulary = Some(Seq("click"))).collect()
        .map(r => r.getTimestamp(1) -> r.getLong(2)).toMap
    val withU = rel(withU1 = true)
    val without = rel(withU1 = false)
    assert(withU.keySet === without.keySet,
      "the dense public release set must not shift with a user's data")
    assert(withU.size === 64, "one type x 64 public days")
    val moved = withU.keySet.filter(k => withU(k) != without(k))
    assert(moved.size <= 4,
      s"user-level sensitivity: ${moved.size} cells moved, cap is 4")
    assert(moved.nonEmpty, "u1's first 4 cells are counted and must show")
    moved.foreach { k =>
      assert(math.abs(withU(k) - without(k)) <= 1L,
        s"cell $k moved by ${math.abs(withU(k) - without(k))} > 1 — presence, not volume")
    }
    // cells 5 and 6 of u1's span (Jan 5/6) fall past the cap and must
    // NOT move — the cap binds and binds deterministically (first 4 in
    // (day, type) order)
    for (dd <- Seq("2024-01-05", "2024-01-06")) {
      val k = java.sql.Timestamp.valueOf(s"$dd 00:00:00")
      assert(withU(k) === without(k), s"capped-out cell $dd must not move")
    }
    // seeded determinism + the Laplace tail at b = 4: the 32-bit seeded
    // uniform cannot exceed |noise| = 4·ln(2^33) ≈ 91.6
    val again = rel(withU1 = true)
    assert(again === withU, "seeded release must be bit-stable")
    val ev = graft.Tables.events(spark, d)
    val gate = Privacy.dpUserCountRelease(ev, seeded = true).collect()
    val cappedTruth = {
      val cells = ev.withColumn("day", date_trunc("day", col("ts")))
        .select("user_id", "event_type", "day").distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("day", "event_type")
      cells.withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
        .groupBy("event_type", "day").count().collect()
        .map(r => ((r.getString(0), r.getTimestamp(1)), r.getLong(2))).toMap
    }
    gate.foreach { r =>
      val k = (r.getString(0), r.getTimestamp(1))
      val dev = math.abs(r.getLong(2) - cappedTruth.getOrElse(k, 0L))
      assert(r.getLong(2) >= 0L)
      assert(dev <= 100L, s"cell $k deviation $dev outside the b=4 Laplace tail")
    }
    // ledger: charge-then-release — a refused release throws before any
    // frame exists (the enforcement contract every dp*Release carries)
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal("0.5"))
    val refusal = intercept[IllegalStateException] {
      Privacy.dpUserCountRelease(ev, seeded = true, ledger = Some(led))
    }
    assert(refusal.getMessage.contains("refused"))
    assert(led.spent === BigDecimal(0))
  }

  test("release-set leak: a sole-contributor type shifts corpus-derived cells; a public vocabulary pins them") {
    import spark.implicits._
    // The r17 review finding, executable: the dense-grid discipline
    // ("a cell's presence must never depend on the data") holds only if
    // the VOCABULARY is public. Build a corpus where u1 is the only
    // user of type 'rare': under the corpus-derived default the whole
    // 64-cell 'rare' row appears/disappears with u1 — an observer
    // distinguishes their presence with certainty, no epsilon claim
    // survives. Passing the vocabulary as public config restores the
    // data-independent release set AND the <= capCells sensitivity.
    def mk(withU1: Boolean) = {
      val base = (2 to 11).map(u =>
        (java.sql.Timestamp.valueOf(s"2024-01-${10 + (u % 3)} 01:00:00"), "click", s"user$u"))
      val u1 = Seq((java.sql.Timestamp.valueOf("2024-01-03 05:30:00"), "rare", "user1"))
      (if (withU1) base ++ u1 else base).toDF("ts", "event_type", "user_id")
    }
    // corpus-derived vocabulary: the leak, demonstrated
    val leakWith = Privacy.dpUserCountRelease(mk(true), seeded = true).collect()
    val leakWithout = Privacy.dpUserCountRelease(mk(false), seeded = true).collect()
    assert(leakWith.length === 128 && leakWithout.length === 64,
      "the corpus-derived release SET itself moves with one user — the documented leak")
    // public vocabulary: set pinned, sensitivity restored
    val vocab = Some(Seq("click", "rare"))
    def pub(withU1: Boolean) =
      Privacy.dpUserCountRelease(mk(withU1), seeded = true, vocabulary = vocab)
        .collect().map(r => ((r.getString(0), r.getTimestamp(1)), r.getLong(2))).toMap
    val pw = pub(true); val pwo = pub(false)
    assert(pw.keySet === pwo.keySet && pw.size === 128,
      "a public vocabulary makes the release set data-independent")
    val moved = pw.keySet.filter(k => pw(k) != pwo(k))
    assert(moved.size <= 4 && moved.forall(k => math.abs(pw(k) - pwo(k)) <= 1L),
      s"with the set pinned, one user moves <= capCells cells by <= 1: $moved")
    // the same parameter rides x40/x50 through the shared denseCells
    assert(Privacy.dpCountRelease(mk(false), seeded = true,
      vocabulary = vocab).collect().length === 128)
    assert(Privacy.dpGaussianCountRelease(mk(false), seeded = true,
      vocabulary = vocab).collect().length === 128)
    // r17 verdict #1: x42 and x43 now ride the same discipline — the
    // sole-contributor 'rare' type (and u1's singleton day) cannot flip
    // either release's ROW SET: 128 cells for x42, 64 day-winners for
    // x43, with or without u1
    def val1(withU1: Boolean) = mk(withU1).withColumn("value", lit(1.0))
    for (w <- Seq(true, false)) {
      assert(Privacy.dpSumMeanRelease(val1(w), seeded = true,
        vocabulary = vocab).collect().length === 128,
        s"x42 release set must be the dense grid (withU1=$w)")
      assert(Privacy.dpArgmaxRelease(mk(w), seeded = true,
        vocabulary = vocab).collect().length === 64,
        s"x43 release set must be the 64 public days (withU1=$w)")
    }
    // vocabulary dedup (r17 advice): duplicate entries must not emit
    // duplicate release cells
    assert(Privacy.dpCountRelease(mk(false), seeded = true,
      vocabulary = Some(Seq("click", "rare", "click"))).collect().length === 128,
      "a duplicated vocabulary entry must not duplicate release cells")
    // capCells is validated BEFORE the ledger charge
    import graft.operators.DpLedger
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal(1))
    intercept[IllegalArgumentException] {
      Privacy.dpUserCountRelease(mk(true), capCells = 0, ledger = Some(led))
    }
    assert(led.spent === BigDecimal(0), "an invalid cap must not burn budget")
  }

  test("x50 Gaussian release: dense cells, Box-Muller tail bound, zCDP ledger admits exactly budget/rho releases") {
    import graft.operators.DpLedger
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, d)
    val released = Privacy.dpGaussianCountRelease(ev, seeded = true).collect()
      .map(r => ((r.getString(0), r.getTimestamp(1)), r.getLong(2))).toMap
    val truth = ev.groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .count().collect()
      .map(r => ((r.getString(0), r.getTimestamp(1)), r.getLong(2))).toMap
    val vocab = ev.select("event_type").distinct().collect().map(_.getString(0)).toSet
    val epoch = java.time.LocalDate.parse("2024-01-01")
    val gridDays = (0 until 64).map(i =>
      java.sql.Timestamp.valueOf(epoch.plusDays(i.toLong).atStartOfDay())).toSet
    assert(released.keySet === (for (t <- vocab; day <- gridDays) yield (t, day)),
      "release set must be the dense public grid x vocabulary")
    val devs = released.map { case (k, rel) =>
      assert(rel >= 0L, s"cell $k released negative count $rel")
      math.abs(rel - truth.getOrElse(k, 0L))
    }
    assert(devs.exists(_ > 0L), "the mechanism must actually perturb some counts")
    // Box-Muller from a 32-bit uniform: |z| <= sqrt(2 ln 2^33) ~ 6.77,
    // so |noise| <= sigma * 6.77 * |cos| <= 13.6 BY CONSTRUCTION — a
    // hard bound, unlike the probabilistic Gaussian tail
    devs.foreach(dv => assert(dv <= 14L, s"deviation $dv outside the seeded-draw bound"))
    // seeded determinism
    assert(Privacy.dpGaussianCountRelease(ev, seeded = true).collect()
      .map(_.getLong(2)).toSeq ===
      released.toSeq.sortBy(k => (k._1._1, k._1._2.getTime)).map(_._2),
      "seeded release must be bit-stable")
    // zCDP accounting: rho = 0.125 per release sums EXACTLY in the
    // rho-currency ledger — budget 0.5 admits exactly 4 releases, the
    // 5th refused before the mechanism runs (the x46/x49 contract in
    // the other currency); the (eps, delta) statement falls out of the
    // ledger total via the Bun-Steinke conversion. The currency is a
    // constructor field since r18 — an epsilon ledger here would throw.
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal("0.5"),
      currency = DpLedger.Rho)
    (1 to 4).foreach { i =>
      Privacy.dpGaussianCountRelease(ev, ledger = Some(led), releaseId = s"g|$i")
    }
    assert(led.spent === BigDecimal("0.5"))
    val refusal = intercept[IllegalStateException] {
      Privacy.dpGaussianCountRelease(ev, ledger = Some(led), releaseId = "g|5")
    }
    assert(refusal.getMessage.contains("refused"))
    assert(led.spent === BigDecimal("0.5"), "a refused charge spends nothing")
    // total rho = 0.5 at delta = 1e-6: eps = 0.5 + 2 sqrt(0.5 ln 1e6)
    val eps = Privacy.zcdpEpsilon(0.5, 1e-6)
    assert(math.abs(eps - (0.5 + 2.0 * math.sqrt(0.5 * math.log(1e6)))) < 1e-12)
    // the composition advantage, stated honestly: converting the SUMMED
    // rho (what the ledger accounts) beats summing per-release (eps,
    // delta) conversions — 5.76 vs 4 x 2.75 = 11.0 here — because the
    // sqrt term composes sublinearly; THAT is why the ledger must
    // account in rho and convert once at read time, never per release
    assert(eps < 4.0 * Privacy.zcdpEpsilon(0.125, 1e-6),
      s"summed-rho conversion must beat per-release conversion sums, got $eps")
  }

  test("DpLedger currency: a rho charge into an epsilon ledger throws; a tagged registry reloads only under its own currency") {
    import graft.operators.DpLedger
    val ev = graft.Tables.events(spark, d)
    // the unit error the tag closes (r17 verdict #2): rho = 0.125 into
    // an epsilon-budget ledger would under-account ~8x. Now a CALLER
    // BUG, thrown before any budget check — and distinct from a budget
    // refusal (IllegalArgumentException, not BudgetRefused)
    val eps = DpLedger.open(freshLedgerDir(), budget = BigDecimal(10))
    val ex = intercept[IllegalArgumentException] {
      Privacy.dpGaussianCountRelease(ev, seeded = true, ledger = Some(eps))
    }
    assert(ex.getMessage.contains("incomparable"))
    assert(!ex.isInstanceOf[DpLedger.BudgetRefused])
    assert(eps.spent === BigDecimal(0), "a currency bug must not burn budget")
    // direct spelling of the same bug
    intercept[IllegalArgumentException] {
      eps.tryCharge("r", "gaussian", BigDecimal("0.125"), DpLedger.Rho)
    }
    // a tagged rho registry resumes exactly under rho and refuses to
    // open as epsilon (migrate loudly, never silently re-denominate)
    val dir = freshLedgerDir()
    val rho = DpLedger.open(dir, budget = BigDecimal("0.25"), currency = DpLedger.Rho)
    rho.charge("g1", "gaussian_count_zcdp", BigDecimal("0.125"), DpLedger.Rho)
    rho.close()
    val wrong = intercept[IllegalStateException] {
      DpLedger.open(dir, budget = BigDecimal("0.25"))
    }
    assert(wrong.getMessage.contains("rho-currency"))
    val resumed = DpLedger.open(dir, budget = BigDecimal("0.25"), currency = DpLedger.Rho)
    assert(resumed.spent === BigDecimal("0.125"))
    assert(resumed.registry(spark).select("currency").collect()
      .map(_.getString(0)).toSeq === Seq("rho"))
    resumed.close()
    // legacy 4-column registries (pre-currency rounds) load as epsilon
    // — every pre-currency charge site was an epsilon release, so the
    // migration is exact
    val legacyDir = freshLedgerDir()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(legacyDir, "registry.tsv"),
      "1\tcount\tlaplace_count\t1\n".getBytes("UTF-8"))
    val legacy = DpLedger.open(legacyDir, budget = BigDecimal(2))
    assert(legacy.spent === BigDecimal(1))
    assert(legacy.tryCharge("count2", "laplace_count", BigDecimal(1)))
    legacy.close()
    eps.close()
  }

  test("DpLedger single-writer lock: two opens on one directory cannot both charge") {
    import graft.operators.DpLedger
    // the premise-turned-tripwire (r17 verdict #3): two instances that
    // each load the registry once and append independently could BOTH
    // admit past budget. The OS lock makes the second open fail loudly
    // instead.
    val dir = freshLedgerDir()
    val first = DpLedger.open(dir, budget = BigDecimal(1))
    val ex = intercept[IllegalStateException] {
      DpLedger.open(dir, budget = BigDecimal(1))
    }
    assert(ex.getMessage.contains("already open"))
    // the held instance keeps working; a closed one refuses charges and
    // frees the directory for a successor that resumes exactly
    assert(first.tryCharge("a", "laplace_count", BigDecimal(1)))
    first.close()
    intercept[IllegalArgumentException] {
      first.tryCharge("late", "laplace_count", BigDecimal(1))
    }
    val second = DpLedger.open(dir, budget = BigDecimal(1))
    assert(second.spent === BigDecimal(1))
    assert(!second.tryCharge("b", "laplace_count", BigDecimal(1)),
      "the resumed accounting still binds")
    second.close()
  }

  test("DpLedger delta metering: K stability releases spend (K eps, K delta); the K+1th is refused by whichever budget binds") {
    import graft.operators.DpLedger
    val ev = graft.Tables.events(spark, d)
    // the r18 verdict #1 arc closed: δ is charged-then-released like ε,
    // not composed by a diligent reader. δ budget 3e-6 admits exactly
    // three δ=1e-6 stability releases while ε (budget 10) never binds.
    val dir = freshLedgerDir()
    val led = DpLedger.open(dir, budget = BigDecimal(10),
      deltaBudget = BigDecimal("0.000003"))
    Privacy.dpStableHistogramRelease(ev, seeded = true, ledger = Some(led)).collect()
    assert(led.spent === BigDecimal(1) && led.spentDelta === BigDecimal("0.000001"))
    Privacy.dpUserHistogramRelease(ev, seeded = true, ledger = Some(led)).collect()
    Privacy.dpStableHistogramRelease(ev, seeded = true, ledger = Some(led)).collect()
    assert(led.spent === BigDecimal(3) && led.spentDelta === BigDecimal("0.000003"),
      "K releases spend exactly (K eps, K delta), in exact decimal arithmetic")
    // the K+1th: ε has 7 left, δ has 0 — refused BY THE δ BUDGET, named
    val ex = intercept[DpLedger.BudgetRefused] {
      Privacy.dpStableHistogramRelease(ev, seeded = true, ledger = Some(led))
    }
    assert(ex.getMessage.contains("delta budget"),
      s"the refusal names the binding constraint: ${ex.getMessage}")
    assert(led.spent === BigDecimal(3) && led.spentDelta === BigDecimal("0.000003"),
      "a refusal burns neither coordinate")
    // pure-ε charges are untouched by an exhausted δ budget (δ = 0 rows)
    Privacy.dpCountRelease(ev, seeded = true, ledger = Some(led)).collect()
    assert(led.spent === BigDecimal(4) && led.spentDelta === BigDecimal("0.000003"))
    led.close()
    // durability: a reopen resumes BOTH exact spends; the registry
    // frame carries the per-row delta
    val resumed = DpLedger.open(dir, budget = BigDecimal(10),
      deltaBudget = BigDecimal("0.000003"))
    assert(resumed.spent === BigDecimal(4) &&
      resumed.spentDelta === BigDecimal("0.000003"))
    val reg = resumed.registry(spark).orderBy("seq").collect()
    assert(reg.length === 4)
    assert(reg.map(_.getDouble(5)).toSeq === Seq(1e-6, 1e-6, 1e-6, 0.0))
    resumed.close()
    // when ε binds first, the refusal reads as the classic ε message —
    // existing consumers of the refusal line keep parsing it
    val led2 = DpLedger.open(freshLedgerDir(), budget = BigDecimal(1),
      deltaBudget = BigDecimal(1))
    Privacy.dpStableHistogramRelease(ev, seeded = true, ledger = Some(led2)).collect()
    val ex2 = intercept[DpLedger.BudgetRefused] {
      Privacy.dpStableHistogramRelease(ev, seeded = true, ledger = Some(led2))
    }
    assert(ex2.getMessage.contains("DP budget exhausted"))
    led2.close()
    // the default deltaBudget is 0: a ledger that never granted δ
    // refuses the FIRST (ε, δ>0) charge — silently accumulating δ was
    // exactly the r18 gap
    val led3 = DpLedger.open(freshLedgerDir(), budget = BigDecimal(10))
    intercept[DpLedger.BudgetRefused] {
      Privacy.dpStableHistogramRelease(ev, seeded = true, ledger = Some(led3))
    }
    assert(led3.spent === BigDecimal(0) && led3.spentDelta === BigDecimal(0))
    // a caller-bug negative δ throws before any budget check
    intercept[IllegalArgumentException] {
      led3.tryCharge("bad", "m", BigDecimal(1), delta = BigDecimal(-1))
    }
    led3.close()
    // legacy 5-column (currency, pre-δ) lines load as δ = 0 — the
    // migration is exact because every pre-δ charge site was pure-ε/ρ
    val legacyDir = freshLedgerDir()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(legacyDir, "registry.tsv"),
      "1\tcount\tlaplace_count\t1\tepsilon\n".getBytes("UTF-8"))
    val legacy = DpLedger.open(legacyDir, budget = BigDecimal(2),
      deltaBudget = BigDecimal("0.000001"))
    assert(legacy.spent === BigDecimal(1) && legacy.spentDelta === BigDecimal(0))
    assert(legacy.tryCharge("h", "laplace_stable_histogram", BigDecimal(1),
      delta = BigDecimal("0.000001")))
    legacy.close()
  }

  test("x56 subsampled release: amplified cost is charged, so a budget admits more subsampled releases than full ones") {
    import graft.operators.DpLedger
    val ev = graft.Tables.events(spark, d)
    val rel = Privacy.dpSubsampledCountRelease(ev, seeded = true).collect()
    // dense release-set discipline: grid × full-corpus vocabulary, every
    // cell present regardless of what the subsample observed
    assert(rel.length === 64 * ev.select("event_type").distinct().count().toInt)
    // the amplified ε' = ln(1 + q(e−1)) at q = ½, under the round-to-9
    // libm discipline — strictly below the base ε₀ = 1 it amplifies
    val e1 = BigDecimal(math.exp(1.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val epsAmp = BigDecimal(math.log(1.0 + 0.5 * (e1 - 1.0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    assert(epsAmp < BigDecimal(1))
    assert(rel.forall(_.getDouble(3) === epsAmp.toDouble),
      "the released epsilon column is the amplified value")
    // seeded determinism (fixed subsample AND fixed noise)
    assert(Privacy.dpSubsampledCountRelease(ev, seeded = true).collect().toSeq
      === rel.toSeq)
    // THE accounting pin: budget 2 admits ⌊2/ε'⌋ = 3 subsampled
    // releases (3·0.620… ≤ 2) where it admits only 2 full-data ones —
    // amplified < unamplified spend for the same release count, and
    // the amplification buys a third release
    assert(epsAmp * 3 <= BigDecimal(2) && epsAmp * 4 > BigDecimal(2),
      s"fixture arithmetic: 3 releases fit in budget 2 at $epsAmp")
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal(2))
    (1 to 3).foreach { i =>
      Privacy.dpSubsampledCountRelease(ev, seeded = true,
        ledger = Some(led), releaseId = s"sub$i")
    }
    assert(led.spent === epsAmp * 3, "K subsampled releases spend K·ε'")
    intercept[DpLedger.BudgetRefused] {
      Privacy.dpSubsampledCountRelease(ev, seeded = true,
        ledger = Some(led), releaseId = "sub4")
    }
    led.close()
    // q is validated BEFORE the charge: a non-subsample must not burn ε
    val led2 = DpLedger.open(freshLedgerDir(), budget = BigDecimal(2))
    intercept[IllegalArgumentException] {
      Privacy.dpSubsampledCountRelease(ev, q = 1.5, seeded = true,
        ledger = Some(led2))
    }
    assert(led2.spent === BigDecimal(0))
    led2.close()
    // the subsample is the exact seeded md5-Bernoulli half: the
    // released grid equals the x40 release computed over the kept
    // events by the same rule (noise domains differ only by tag)
    val keptTrue = ev.filter(
      (conv(substring(md5(concat(lit("dpss|"), col("event_id").cast("string"))),
        1, 8), 16, 10).cast("long").cast("double") + lit(0.5)) /
        lit(4294967296.0) < lit(0.5))
    val nKept = keptTrue.count()
    assert(nKept > 0 && nKept < ev.count(), "a proper half, not all or none")
  }

  test("x56 amplification, executable: an unsampled record cannot move the release; a sampled one moves <= 1 cell by <= 1") {
    // the two-case decomposition the amplification proof integrates
    // over, run as an experiment (the x49/x52/x55 discipline —
    // sensitivity claims ship executable): with probability 1−q a
    // neighboring record is OUTSIDE the analyzed subsample, and the two
    // worlds' releases are BIT-IDENTICAL (the e^{ε₀} factor never
    // applies); with probability q it is inside, and the base
    // mechanism's event-level sensitivity bounds the move — exactly one
    // (type, day) cell's count shifts by 1 under identical seeded
    // noise, so the released integer moves by at most 1. Averaging the
    // two cases is what yields ε' = ln(1 + q(e^{ε₀} − 1)) < ε₀.
    val ev = graft.Tables.events(spark, d)
    def sampleU(c: org.apache.spark.sql.Column) =
      (conv(substring(md5(concat(lit("dpss|"), c.cast("string"))), 1, 8),
        16, 10).cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    val inWindow = ev
      .withColumn("day", date_trunc("day", col("ts")))
      .filter(col("day") >= lit("2024-01-01").cast("timestamp") &&
        col("day") < lit("2024-03-05").cast("timestamp"))
      .withColumn("u", sampleU(col("event_id")))
    val unsampledId = inWindow.filter(col("u") >= 0.5)
      .select("event_id").head().getLong(0)
    val sampledId = inWindow.filter(col("u") < 0.5)
      .select("event_id").head().getLong(0)
    def release(frame: org.apache.spark.sql.DataFrame) =
      Privacy.dpSubsampledCountRelease(frame, seeded = true).collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getLong(2)).toMap
    val base = release(ev)
    // case 1: the removed record never entered the subsample — the
    // mechanism literally did not see it, releases are bit-identical
    assert(release(ev.filter(col("event_id") =!= unsampledId)) === base,
      "removing an unsampled record must be invisible to the release")
    // case 2: the removed record was sampled — identical seeds
    // everywhere, so exactly its own cell can move, by at most 1
    val moved = release(ev.filter(col("event_id") =!= sampledId))
    val diffs = base.keySet.map(k => k -> (base(k) - moved(k))).filter(_._2 != 0L)
    assert(moved.keySet === base.keySet, "the dense release SET is immobile")
    assert(diffs.size <= 1 && diffs.forall(d => math.abs(d._2) <= 1L),
      s"a sampled record moves <= 1 cell by <= 1, got $diffs")
  }

  test("x60 subsampled gaussian: the amplified (eps', delta') pair is charged, and the DELTA budget can be the binding refusal") {
    import graft.operators.DpLedger
    val ev = graft.Tables.events(spark, d)
    val rel = Privacy.dpSubsampledGaussianRelease(ev, seeded = true).collect()
    // dense release-set discipline holds under subsampling: grid ×
    // FULL-corpus vocabulary, regardless of what the sample observed
    assert(rel.length === 64 * ev.select("event_type").distinct().count().toInt)
    val epsAmp = Privacy.amplifiedEps(0.5)
    val deltaAmp = Privacy.SubGaussDelta0 * BigDecimal(0.5)
    assert(epsAmp < BigDecimal(1) && deltaAmp < Privacy.SubGaussDelta0,
      "BOTH coordinates amplify strictly below the base pair")
    assert(rel.forall(r => r.getDouble(3) === epsAmp.toDouble &&
      r.getDouble(4) === deltaAmp.toDouble),
      "the released (epsilon, delta) columns are the amplified pair")
    // seeded determinism (fixed subsample AND fixed Box–Muller draws)
    assert(Privacy.dpSubsampledGaussianRelease(ev, seeded = true).collect().toSeq
      === rel.toSeq)
    // THE round-19 pin: δ is the BINDING constraint with ε headroom —
    // δ' = 5e-7 per release, so a δ budget of 1.2e-6 admits exactly two
    // releases while ε budget 10 would admit sixteen; the third refusal
    // names delta, and refusal burns NEITHER coordinate
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal(10),
      deltaBudget = BigDecimal("0.0000012"))
    (1 to 2).foreach { i =>
      Privacy.dpSubsampledGaussianRelease(ev, seeded = true,
        ledger = Some(led), releaseId = s"sg$i")
    }
    assert(led.spent === epsAmp * 2 && led.spentDelta === deltaAmp * 2,
      "K subsampled-gaussian releases spend exactly (K·eps', K·delta')")
    val refusal = intercept[DpLedger.BudgetRefused] {
      Privacy.dpSubsampledGaussianRelease(ev, seeded = true,
        ledger = Some(led), releaseId = "sg3")
    }
    assert(refusal.getMessage.contains("delta budget"),
      s"the refusal must name the binding DELTA constraint: ${refusal.getMessage}")
    assert(led.spent === epsAmp * 2 && led.spentDelta === deltaAmp * 2,
      "a refused release burns neither coordinate")
    led.close()
    // a ledger opened WITHOUT a deltaBudget refuses the FIRST release:
    // the r18-verdict silent-δ-accumulation gap, closed by default
    val led2 = DpLedger.open(freshLedgerDir(), budget = BigDecimal(10))
    intercept[DpLedger.BudgetRefused] {
      Privacy.dpSubsampledGaussianRelease(ev, seeded = true,
        ledger = Some(led2))
    }
    assert(led2.spent === BigDecimal(0) && led2.spentDelta === BigDecimal(0))
    led2.close()
    // q validated before the charge (the x49/x56 contract)
    val led3 = DpLedger.open(freshLedgerDir(), budget = BigDecimal(10),
      deltaBudget = BigDecimal(1))
    intercept[IllegalArgumentException] {
      Privacy.dpSubsampledGaussianRelease(ev, q = 1.5, seeded = true,
        ledger = Some(led3))
    }
    assert(led3.spent === BigDecimal(0) && led3.spentDelta === BigDecimal(0))
    led3.close()
  }

  test("x60 amplification, executable: an unsampled record is invisible; a sampled one moves <= 1 cell by <= 1") {
    // the x56 two-case decomposition run against the 'dpsg|' sample and
    // the GAUSSIAN tail: with probability 1−q the neighboring record is
    // outside the analyzed subsample and the worlds are bit-identical
    // (this is also why δ amplifies: the base mechanism's δ-failure
    // event can only occur when the record is seen); with probability q
    // the base mechanism's event-level sensitivity bounds the move to
    // one (type, day) cell by 1 under identical seeded draws.
    val ev = graft.Tables.events(spark, d)
    def sampleU(c: org.apache.spark.sql.Column) =
      (conv(substring(md5(concat(lit("dpsg|"), c.cast("string"))), 1, 8),
        16, 10).cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    val inWindow = ev
      .withColumn("day", date_trunc("day", col("ts")))
      .filter(col("day") >= lit("2024-01-01").cast("timestamp") &&
        col("day") < lit("2024-03-05").cast("timestamp"))
      .withColumn("u", sampleU(col("event_id")))
    val unsampledId = inWindow.filter(col("u") >= 0.5)
      .select("event_id").head().getLong(0)
    val sampledId = inWindow.filter(col("u") < 0.5)
      .select("event_id").head().getLong(0)
    def release(frame: org.apache.spark.sql.DataFrame) =
      Privacy.dpSubsampledGaussianRelease(frame, seeded = true).collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getLong(2)).toMap
    val base = release(ev)
    assert(release(ev.filter(col("event_id") =!= unsampledId)) === base,
      "removing an unsampled record must be invisible to the release")
    val moved = release(ev.filter(col("event_id") =!= sampledId))
    val diffs = base.keySet.map(k => k -> (base(k) - moved(k))).filter(_._2 != 0L)
    assert(moved.keySet === base.keySet, "the dense release SET is immobile")
    assert(diffs.size <= 1 && diffs.forall(d => math.abs(d._2) <= 1L),
      s"a sampled record moves <= 1 cell by <= 1, got $diffs")
  }

  test("x51 SVT: one epsilon answers the whole stream, halts at the first above, ships verdicts only") {
    import graft.operators.DpLedger
    import spark.implicits._
    def mk(perDay: Int => Int) = (0 until 64).flatMap { d =>
      val day = java.time.LocalDate.parse("2024-01-01").plusDays(d.toLong)
      (0 until perDay(d)).map(r =>
        (java.sql.Timestamp.valueOf(day.atTime(r % 24, 0)), "click", s"u$r"))
    }.toDF("ts", "event_type", "user_id")
    // counts far ABOVE threshold from day 1: the seeded noise
    // (|Lap(4)| <= 4 ln 2^33 ~ 92, |Lap(2)| <= 46) cannot bridge 9900,
    // so the release is exactly one row, day 1, above = true
    val hot = Privacy.dpAboveThresholdRelease(mk(_ => 160), seeded = true).collect()
    assert(hot.length === 1 && hot.head.getBoolean(1),
      s"a hot stream must halt at day 1: ${hot.toSeq}")
    // counts far BELOW threshold everywhere: all 64 days answer, all
    // false — the no-crossing stream still ships its full public
    // schedule (the verdict string is the proven output, counts never)
    val cold = Privacy.dpAboveThresholdRelease(mk(_ => 0), seeded = true).collect()
    assert(cold.length === 64 && cold.forall(!_.getBoolean(1)))
    cold.foreach(r => assert(r.schema.fieldNames.toSeq ===
      Seq("day", "above", "stream_epsilon"), "verdicts only — no counts, no noise"))
    // structural halt: on the gate corpus, every released row before
    // the last is below-threshold, and the last is above iff the
    // stream halted early (fewer than 64 rows)
    val gate = Privacy.dpAboveThresholdRelease(graft.Tables.events(spark, d),
      seeded = true).collect()
    gate.init.foreach(r => assert(!r.getBoolean(1), "rows before the halt are all below"))
    if (gate.length < 64) assert(gate.last.getBoolean(1), "an early halt means a crossing")
    // seeded determinism
    assert(Privacy.dpAboveThresholdRelease(graft.Tables.events(spark, d),
      seeded = true).collect().toSeq === gate.toSeq)
    // THE accounting pin — the reason SVT exists: 64 threshold
    // questions cost ONE epsilon; x40 spelling the same monitor as 64
    // count releases would need budget 64. Budget 1 admits the whole
    // stream; a second stream (fresh noise) is a new release, refused.
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal(1))
    val metered = Privacy.dpAboveThresholdRelease(mk(_ => 160),
      ledger = Some(led)).collect()
    assert(metered.nonEmpty && led.spent === BigDecimal(1))
    intercept[IllegalStateException] {
      Privacy.dpAboveThresholdRelease(mk(_ => 160), ledger = Some(led))
    }
    assert(led.spent === BigDecimal(1))
  }

  test("x52 user-level DP sum: one whole user moves at most capCells cells, each sum by at most the clamp") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.DpLedger
    // The Wilson-et-al. double bound as an executable experiment (the
    // x49 pattern, for sums): u1 contributes 50 events x value 1000 on
    // each of 6 days — unclamped that is 300k per cell over 6 cells;
    // the magnitude clamp caps each cell at 50 and the breadth cap
    // keeps only the first 4 cells, so removing u1 entirely moves at
    // most 4 released sums by at most 50 each (noise is seeded, so the
    // difference IS the clamped contribution) and 4 released user
    // counts by at most 1.
    def mkEvents(withU1: Boolean) = {
      val base = for { u <- 2 to 11; dd <- 1 to 8 } yield
        (java.sql.Timestamp.valueOf(f"2024-01-$dd%02d 0${u % 10}:00:00"),
          "click", s"user$u", 10.0)
      val u1 = for { dd <- 1 to 6; rep <- 1 to 50 } yield
        (java.sql.Timestamp.valueOf(f"2024-01-$dd%02d ${rep % 24}%02d:30:00"),
          "click", "user1", 1000.0)
      (if (withU1) base ++ u1 else base.toSeq)
        .toDF("ts", "event_type", "user_id", "value")
    }
    def rel(withU1: Boolean): Map[java.sql.Timestamp, (Long, Long)] =
      Privacy.dpUserSumRelease(mkEvents(withU1), seeded = true,
        vocabulary = Some(Seq("click"))).collect()
        .map(r => r.getTimestamp(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    val withU = rel(withU1 = true)
    val without = rel(withU1 = false)
    assert(withU.keySet === without.keySet && withU.size === 64,
      "the dense public release set must not shift with a user's data")
    val movedSum = withU.keySet.filter(k => withU(k)._1 != without(k)._1)
    val movedCnt = withU.keySet.filter(k => withU(k)._2 != without(k)._2)
    assert(movedSum.size <= 4 && movedCnt.size <= 4,
      s"breadth bound: sums moved at ${movedSum.size} cells, counts at ${movedCnt.size} — cap is 4")
    assert(movedSum.nonEmpty, "u1's kept cells must show in the sums")
    movedSum.foreach { k =>
      assert(math.abs(withU(k)._1 - without(k)._1) <= 51L,
        s"cell $k sum moved by ${math.abs(withU(k)._1 - without(k)._1)} > clamp+1")
    }
    movedCnt.foreach(k => assert(math.abs(withU(k)._2 - without(k)._2) <= 1L))
    // cells past the cap (Jan 5/6 of u1's span) must not move
    for (dd <- Seq("2024-01-05", "2024-01-06")) {
      val k = java.sql.Timestamp.valueOf(s"$dd 00:00:00")
      assert(withU(k) === without(k), s"capped-out cell $dd must not move")
    }
    // seeded stability + gate sanity on the real corpus
    assert(rel(withU1 = true) === withU, "seeded release must be bit-stable")
    val ev = graft.Tables.events(spark, d)
    val gate = Privacy.dpUserSumRelease(ev, seeded = true).collect()
    val vocabN = ev.select("event_type").distinct().count()
    assert(gate.length === 64 * vocabN)
    gate.foreach { r =>
      assert(r.getLong(2) >= 0L && r.getLong(3) >= 1L)
      // mean is post-processing of the released pair only
      assert(r.getDouble(4) ===
        BigDecimal(r.getLong(2).toDouble / r.getLong(3).toDouble)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // parameter validation precedes the charge; refusal precedes the plan
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal("0.5"))
    intercept[IllegalArgumentException] {
      Privacy.dpUserSumRelease(ev, capCells = 0, ledger = Some(led))
    }
    intercept[IllegalArgumentException] {
      Privacy.dpUserSumRelease(ev, clamp = 0.0, ledger = Some(led))
    }
    assert(led.spent === BigDecimal(0), "invalid bounds must not burn budget")
    intercept[IllegalStateException] {
      Privacy.dpUserSumRelease(ev, seeded = true, ledger = Some(led))
    }
    assert(led.spent === BigDecimal(0))
    led.close()
  }

  test("x53 numeric-sparse SVT: c alerts for one epsilon, episodes resume after each alert, verdicts only") {
    import spark.implicits._
    import graft.operators.DpLedger
    def mk(perDay: Int => Int) = (0 until 64).flatMap { dd =>
      val day = java.time.LocalDate.parse("2024-01-01").plusDays(dd.toLong)
      (0 until perDay(dd)).map(r =>
        (java.sql.Timestamp.valueOf(day.atTime(r % 24, 0)), "click", s"u$r"))
    }.toDF("ts", "event_type", "user_id")
    // margins chosen so every verdict is FORCED for any seed: at c = 2
    // the noise tails are |Lap(8)| <= 8 ln 2^33 ~ 183 and the noisy
    // threshold moves by |Lap(4)| <= 92, so 500 >> 100 always alerts
    // and 0 << 1000 never does.
    // hot stream: episode 0 alerts day 1, episode 1 resumes AND alerts
    // day 2 — two rows, two episodes, one epsilon
    val hot = Privacy.dpSparseRelease(mk(_ => 500), seeded = true).collect()
    assert(hot.length === 2, s"hot stream: ${hot.toSeq}")
    assert(hot.map(r => (r.getLong(1), r.getBoolean(2))).toSeq ===
      Seq((0L, true), (1L, true)))
    assert(hot(0).getTimestamp(0).before(hot(1).getTimestamp(0)))
    // c = 3 admits a third episode on the same stream for the SAME one
    // epsilon (scales grow to Lap(12)/Lap(6) — margins still forced)
    val hot3 = Privacy.dpSparseRelease(mk(_ => 500), c = 3, seeded = true).collect()
    assert(hot3.length === 3 && hot3.forall(_.getBoolean(2)))
    // cold stream at threshold 1000: episode 0 asks all 64 days, all
    // below; the window is exhausted, so episode 1 asks NOTHING
    val cold = Privacy.dpSparseRelease(mk(_ => 0), threshold = 1000.0,
      seeded = true).collect()
    assert(cold.length === 64 && cold.forall(r => r.getLong(1) === 0L && !r.getBoolean(2)))
    // one spike at day 10: episode 0 ships days 1-10 (last above),
    // episode 1 ships days 11-64 all below — the resume point is the
    // alert day, the stream end is the window
    val spike = Privacy.dpSparseRelease(
      mk(dd => if (dd == 9) 2000 else 0), threshold = 1000.0,
      seeded = true).collect()
    val ep0 = spike.filter(_.getLong(1) === 0L)
    val ep1 = spike.filter(_.getLong(1) === 1L)
    assert(ep0.length === 10 && ep0.init.forall(!_.getBoolean(2)) &&
      ep0.last.getBoolean(2), "episode 0 halts at the spike")
    assert(ep1.length === 54 && ep1.forall(!_.getBoolean(2)),
      "episode 1 resumes after the spike and exhausts the window")
    spike.foreach(r => assert(r.schema.fieldNames.toSeq ===
      Seq("day", "episode", "above", "stream_epsilon"),
      "verdicts only — no counts, no noise"))
    // seeded determinism
    assert(Privacy.dpSparseRelease(mk(dd => if (dd == 9) 2000 else 0),
      threshold = 1000.0, seeded = true).collect().toSeq === spike.toSeq)
    // ONE charge for the whole c-alert stream; a re-run is a new charge
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal(1))
    assert(Privacy.dpSparseRelease(mk(_ => 500), ledger = Some(led))
      .collect().length === 2)
    assert(led.spent === BigDecimal(1))
    intercept[IllegalStateException] {
      Privacy.dpSparseRelease(mk(_ => 500), ledger = Some(led))
    }
    assert(led.spent === BigDecimal(1))
    led.close()
  }

  test("x54 stability histogram: unknown-domain release, a singleton's cell is suppressed, survivors clear tau") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.DpLedger
    // The release regime the dense-grid family cannot provide: no
    // public vocabulary. The price is delta — a cell one record
    // created survives only if its Laplace(1) draw clears
    // tau - 1 = ln(1/(2 delta)) ~ 13.12, probability <= delta = 1e-6.
    // Fixture: u1's sole-contributor 'rare' record (count 1) must be
    // suppressed and the release set must not move with u1; a 40-count
    // hot cell is FORCED past tau for any seed (40 - 22.9 > 14.13).
    def mk(withU1: Boolean) = {
      val base = (for { u <- 2 to 31; dd <- 10 to 12 } yield
        (java.sql.Timestamp.valueOf(f"2024-01-$dd%02d 0${u % 10}:00:00"),
          "click", s"user$u")) ++
        (1 to 40).map(r =>
          (java.sql.Timestamp.valueOf(f"2024-01-05 ${r % 24}%02d:15:00"),
            "click", s"user${r % 20 + 2}"))
      val u1 = Seq((java.sql.Timestamp.valueOf("2024-01-03 05:30:00"), "rare", "user1"))
      (if (withU1) base ++ u1 else base).toDF("ts", "event_type", "user_id")
    }
    def rel(withU1: Boolean) =
      Privacy.dpStableHistogramRelease(mk(withU1), seeded = true).collect()
        .map(r => ((r.getString(0), r.getTimestamp(1)), r.getLong(2))).toMap
    val withU = rel(withU1 = true)
    val without = rel(withU1 = false)
    assert(withU === without,
      "a single record's cell must not appear: the release (set AND values) is u1-invariant")
    assert(!withU.keySet.exists(_._1 == "rare"), "the singleton cell is suppressed")
    val hot = (("click", java.sql.Timestamp.valueOf("2024-01-05 00:00:00")))
    assert(withU.contains(hot), "a 40-count cell is forced past tau for any seed")
    assert(math.abs(withU(hot) - 40L) <= 23L, "released value tracks truth within the Laplace tail")
    // tau is public config in the output and every survivor clears it
    val rows = Privacy.dpStableHistogramRelease(mk(true), seeded = true).collect()
    val tauExpected = 1.0 + BigDecimal(math.log(500000.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      assert(r.getDouble(5) === tauExpected)
      assert(r.getLong(2) >= 14L, "no released count can sit below floor(tau + 0.5)")
      assert(r.schema.fieldNames.toSeq ===
        Seq("event_type", "day", "released_n", "epsilon", "delta", "tau"),
        "released integers only — true counts and noise never ship")
    }
    // gate corpus sanity + seeded determinism: released cells are a
    // subset of observed cells, values within the Laplace(1) tail
    val ev = graft.Tables.events(spark, d)
    val truth = ev.groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .count().collect()
      .map(r => ((r.getString(0), r.getTimestamp(1)), r.getLong(2))).toMap
    val gate = Privacy.dpStableHistogramRelease(ev, seeded = true).collect()
    gate.foreach { r =>
      val k = (r.getString(0), r.getTimestamp(1))
      assert(truth.contains(k), "only observed cells can release (unknown domain)")
      assert(math.abs(r.getLong(2) - truth(k)) <= 24L)
    }
    assert(Privacy.dpStableHistogramRelease(ev, seeded = true).collect()
      .map(_.toString).toSeq === gate.map(_.toString).toSeq, "seeded release is bit-stable")
    // delta validated before the charge; refusal precedes the plan
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal("0.5"))
    intercept[IllegalArgumentException] {
      Privacy.dpStableHistogramRelease(ev, delta = 0.0, ledger = Some(led))
    }
    assert(led.spent === BigDecimal(0))
    intercept[IllegalStateException] {
      Privacy.dpStableHistogramRelease(ev, seeded = true, ledger = Some(led))
    }
    assert(led.spent === BigDecimal(0))
    led.close()
  }

  test("x55 user-level stability histogram: one whole user moves the release by <= 1 per cell, singletons suppressed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.DpLedger
    // The matrix capstone: x54's unknown domain at x49's privacy unit.
    // tau = 1 + 4 ln(4 / 2e-6) ~ 59.03 and |Lap(4)| <= 91.6... so
    // FORCED verdicts need margin: a 160-user cell always releases
    // (160 - 91.6 > 59.03 + margin... 160-91.6=68.4 > 59.03), and a
    // <= 36-user cell is NOT forced either way — so the fixture uses
    // 160 users for the hot cell and 10 for the cold ones, where only
    // the hot side is margin-forced; cold cells could release only on
    // a >= 49/4-sigma-ish draw, verified deterministic on this seed.
    def mk(withU1: Boolean) = {
      // 160 distinct users whose FIRST (and only base) cell is the hot
      // one; u1 adds a sole-contributor 'rare' cell AND joins the hot
      // cell, so removing u1 exercises both the set and value bounds
      val hot = (2 to 161).map(u =>
        (java.sql.Timestamp.valueOf("2024-01-05 01:00:00"), "click", s"user$u"))
      val cold = (2 to 11).map(u =>
        (java.sql.Timestamp.valueOf("2024-01-10 02:00:00"), "click", s"user$u"))
      val u1 = Seq(
        (java.sql.Timestamp.valueOf("2024-01-03 05:30:00"), "rare", "user1"),
        (java.sql.Timestamp.valueOf("2024-01-05 06:00:00"), "click", "user1"))
      (if (withU1) hot ++ cold ++ u1 else hot ++ cold)
        .toDF("ts", "event_type", "user_id")
    }
    def rel(withU1: Boolean) =
      Privacy.dpUserHistogramRelease(mk(withU1), seeded = true).collect()
        .map(r => ((r.getString(0), r.getTimestamp(1)), r.getLong(2))).toMap
    val withU = rel(withU1 = true)
    val without = rel(withU1 = false)
    val hotK = (("click", java.sql.Timestamp.valueOf("2024-01-05 00:00:00")))
    assert(withU.keySet === without.keySet,
      "one user must not move the RELEASE SET (the delta-licensed bound)")
    assert(withU.contains(hotK), "a 160-user cell is forced past tau for any seed")
    assert(!withU.keySet.exists(_._1 == "rare"),
      "u1's sole-contributor cell is suppressed (1 + |Lap(4)|max << tau + margin fails only past delta odds)")
    assert(math.abs(withU(hotK) - without(hotK)) <= 1L,
      "one user moves a surviving cell's count by at most 1")
    // columns, tau, and the floor: released integers only
    val rows = Privacy.dpUserHistogramRelease(mk(true), seeded = true).collect()
    val tauExpected = 1.0 + 4.0 * BigDecimal(math.log(2000000.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      assert(r.getDouble(5) === tauExpected && r.getLong(6) === 4L)
      assert(r.getLong(2) >= 59L)
      assert(r.schema.fieldNames.toSeq === Seq("event_type", "day",
        "released_users", "epsilon", "delta", "tau", "cap_cells"))
    }
    // gate corpus: released cells are a subset of observed cells;
    // seeded determinism; charge-then-release with validation first
    val ev = graft.Tables.events(spark, d)
    val observed = ev.select(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .distinct().collect().map(r => (r.getString(0), r.getTimestamp(1))).toSet
    val gate = Privacy.dpUserHistogramRelease(ev, seeded = true).collect()
    gate.foreach(r => assert(observed((r.getString(0), r.getTimestamp(1)))))
    assert(Privacy.dpUserHistogramRelease(ev, seeded = true).collect()
      .map(_.toString).toSeq === gate.map(_.toString).toSeq)
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal("0.5"))
    intercept[IllegalArgumentException] {
      Privacy.dpUserHistogramRelease(ev, capCells = 0, ledger = Some(led))
    }
    intercept[IllegalArgumentException] {
      Privacy.dpUserHistogramRelease(ev, delta = 1.0, ledger = Some(led))
    }
    assert(led.spent === BigDecimal(0))
    intercept[IllegalStateException] {
      Privacy.dpUserHistogramRelease(ev, seeded = true, ledger = Some(led))
    }
    assert(led.spent === BigDecimal(0))
    led.close()
  }

  test("episode salts draw independent SVT noise: e0| and e1| domains differ on a knife-edge stream") {
    import spark.implicits._
    // distinct salts must derive INDEPENDENT draws: under the seeded
    // spelling (releaseSalt(true) == \"\" for every run) a caller that
    // re-runs SVT per alert episode separates the episodes only by a
    // salt prefix, and billing the ledger twice for bit-identical noise
    // would void the sequential-composition claim.
    // Knife-edge fixture: every day's count sits exactly AT the
    // threshold, so the verdicts are pure noise; two episode domains
    // agreeing on all 64 coin-ish verdicts (and the halting point)
    // would mean the domains collapsed.
    val epoch = java.time.LocalDate.parse("2024-01-01")
    val daily = (0 until 64).map(i =>
      (java.sql.Timestamp.valueOf(epoch.plusDays(i.toLong).atStartOfDay()), 100L))
      .toDF("day", "cnt")
    def run(salt: String) = Privacy.aboveThresholdSalted(daily, 100.0, salt)
      .collect().map(r => (r.getTimestamp(0), r.getBoolean(1))).toSeq
    val e0 = run("e0|"); val e1 = run("e1|")
    assert(e0 !== e1, "episode domains must draw independent noise")
    assert(run("e0|") === e0, "each episode domain stays deterministic")
  }

  test("x44 DP median: one release per type, inside the public range, near the true median, seeded-stable") {
    val rel = SparkEntry.queries("x44_dp_median_release")(spark, d).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    val truth = graft.Tables.events(spark, d)
      .groupBy("event_type").agg(expr("percentile(value, 0.5)").as("m"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(rel.keySet === truth.keySet, "one release per event_type")
    rel.foreach { case (t, m) =>
      assert(m > 0.0 && m < 512.0, s"$t: released $m outside the public range")
      // the Gumbel's reachable max is ~20.7 (32-bit seeded uniform), and
      // displacing the winner k bins costs half the record mass between
      // — at >=100 records/type a 100-unit displacement needs a >50
      // utility deficit the noise cannot pay, so this bound is safe for
      // any seed while still failing if the binning/utility were wrong
      assert(math.abs(m - truth(t)) < 100.0,
        s"$t: released $m implausibly far from true median ${truth(t)}")
    }
    val again = SparkEntry.queries("x44_dp_median_release")(spark, d).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(rel === again, "the seeded gate spelling must be bit-stable")
  }

  test("x62 local DP, executable: a record's report depends only on that record; the estimator is unbiased algebra") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.{Privacy => P}
    val ev = graft.Tables.events(spark, d)
    val domain = ev.select("event_type").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    // THE local property, executable: flip ONE record's true type and
    // re-collect under the same coins — every other record's report is
    // bit-identical (the mechanism is a per-record map; contrast the
    // central releases, where one record moves an aggregate every
    // other row feeds)
    val flipId = ev.select("event_id").head().getLong(0)
    val flipped = ev.withColumn("event_type",
      org.apache.spark.sql.functions.when(col("event_id") === flipId,
        lit(domain.last)).otherwise(col("event_type")))
    def reports(f: org.apache.spark.sql.DataFrame) =
      P.localRandomize(f, 1.0, "", domain)
        .select("event_id", "reported").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (r1, r2) = (reports(ev), reports(flipped))
    assert(r1.keySet === r2.keySet)
    val moved = r1.keySet.filter(id => r1(id) != r2(id))
    assert(moved.subsetOf(Set(flipId)),
      s"only the flipped record's report may change, got $moved")
    // the estimator: sums to N exactly (the q-mass never leaves the
    // simplex), p/q = e^eps (the LDP likelihood-ratio bound), and the
    // released frame carries the public mechanism parameters
    val rel = SparkEntry.queries("x62_local_rr_freq")(spark, d).collect()
    assert(rel.map(_.getAs[String]("event_type")).toSeq === domain)
    val n = rel.map(_.getAs[Long]("n_reports")).sum
    val sumEst = rel.map(_.getAs[Double]("est_n")).sum
    assert(math.abs(sumEst - n) < 1e-6 * math.max(n, 1L),
      s"sum of estimates $sumEst must equal N=$n")
    val (p, q) = (rel.head.getAs[Double]("p"), rel.head.getAs[Double]("q"))
    val e9 = BigDecimal(math.exp(1.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(p / q - e9) < 1e-12,
      "the likelihood ratio between any two inputs is e^eps")
    assert(rel.toSeq === SparkEntry.queries("x62_local_rr_freq")(spark, d)
      .collect().toSeq, "the seeded gate spelling must be bit-stable")
    // a skewed synthetic: the debiased estimates recover the skew well
    // within the known LDP noise floor sd ~= sqrt(N*q)/(p-q)
    val skew = {
      import spark.implicits._
      (1 to 10000).map { i =>
        val t = if (i <= 9000) "hot" else if (i <= 9500) "cold1" else "cold2"
        (i.toLong, java.sql.Timestamp.valueOf("2024-01-10 00:00:00"),
          i.toLong, t, 1.0, "")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    }
    val sRel = P.localFrequencyRelease(skew, seeded = true)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("est_n")).toMap
    val (ps, qs) = P.rrProbabilities(1.0, 3)
    val sd = math.sqrt(10000.0 * qs) / (ps - qs)
    assert(math.abs(sRel("hot") - 9000.0) < 5 * sd,
      s"hot estimate ${sRel("hot")} should be within 5 sd ($sd) of 9000")
    assert(sRel("hot") > sRel("cold1") && sRel("hot") > sRel("cold2"))
    // records outside the PUBLIC response domain cannot be randomized
    // faithfully and drop before the coin
    val partial = P.localFrequencyRelease(skew, seeded = true,
      vocabulary = Some(Seq("cold1", "cold2")))
    assert(partial.agg(org.apache.spark.sql.functions
      .sum("n_reports")).head().getLong(0) === 1000L)
    // a caller-bug domain throws before anything runs
    intercept[IllegalArgumentException] {
      P.localFrequencyRelease(skew, vocabulary = Some(Seq("hot")))
    }
    intercept[IllegalArgumentException] {
      P.localFrequencyRelease(skew, eps = 0.0)
    }
  }

  test("x63 range tree: every canonical cover is exact; 94 ranges cost one epsilon; per-range error bounded by its node count") {
    import graft.operators.{DpLedger, Privacy => P}
    // the cover math, pinned against brute force for EVERY range in
    // the window: disjoint aligned dyadic blocks whose union is
    // exactly [lo, hi], at most 2(L-1) of them
    for (lo <- 1 to 64; hi <- lo to 64) {
      val c = P.dyadicCover(lo, hi)
      val days = c.flatMap { case (lvl, blk) =>
        val p = 1 << lvl
        (blk.toInt * p + 1) to ((blk.toInt + 1) * p)
      }
      assert(days.sorted === (lo to hi).toSeq,
        s"[$lo,$hi]: cover $c must union exactly to the range")
      assert(days.distinct.size === days.size, s"[$lo,$hi]: blocks overlap")
      assert(c.size <= 12, s"[$lo,$hi]: ${c.size} nodes > 2(L-1)")
    }
    intercept[IllegalArgumentException] { P.dyadicCover(0, 5) }
    intercept[IllegalArgumentException] { P.dyadicCover(5, 65) }
    // the release: 94 public ranges, data-independent shape, one ledger
    // charge for ALL of them, per-range error within the Laplace(7)
    // hard tail bound times the cover size
    val ev = graft.Tables.events(spark, d)
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal(1))
    val rel = P.dpRangeRelease(ev, seeded = true, ledger = Some(led)).collect()
    assert(rel.length === 58 + 35 + 1)
    assert(led.spent === BigDecimal(1),
      "94 range answers spend ONE epsilon (post-processing of one node vector)")
    intercept[DpLedger.BudgetRefused] {
      P.dpRangeRelease(ev, seeded = true, ledger = Some(led))
    }
    led.close()
    val daily = ev.filter(
        col("ts") >= java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      .groupBy(to_date(col("ts")).as("day")).count().collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    val epoch = java.time.LocalDate.parse("2024-01-01")
    rel.foreach { r =>
      val lo = r.getDate(1).toLocalDate
      val hi = r.getDate(2).toLocalDate
      val truth = (0 to java.time.temporal.ChronoUnit.DAYS
        .between(lo, hi).toInt)
        .map(i => daily.getOrElse(lo.plusDays(i.toLong), 0L)).sum
      val n = r.getLong(4)
      // |Laplace(7)| from a 32-bit seeded uniform is hard-bounded by
      // 7*ln(2^32) ~= 155.3; +1 covers the rounding
      assert(math.abs(r.getLong(3) - truth) <= n * 157,
        s"range [$lo,$hi]: released ${r.getLong(3)} vs true $truth with $n nodes")
      assert(n >= 1 && n <= 12)
    }
    // the full window is one node; its qid ships last
    val full = rel.last
    assert(full.getLong(0) === 200L && full.getLong(4) === 1L)
    assert(full.getDate(1).toLocalDate === epoch &&
      full.getDate(2).toLocalDate === epoch.plusDays(63))
    // seeded gate spelling is bit-stable
    assert(rel.map(_.toSeq).toSeq ===
      SparkEntry.queries("x63_dp_range_tree")(spark, d).collect().map(_.toSeq).toSeq)
  }

  test("x64 quantiles: one epsilon for the public set, released values monotone, raw winners a permutation, inside the public range") {
    import graft.operators.{DpLedger, Privacy => P}
    val ev = graft.Tables.events(spark, d)
    val led = DpLedger.open(freshLedgerDir(), budget = BigDecimal(1))
    val rel = P.dpQuantileRelease(ev, seeded = true, ledger = Some(led)).collect()
    val types = ev.select("event_type").distinct().count().toInt
    assert(rel.length === types * 4, "one row per (type, public quantile)")
    assert(led.spent === BigDecimal(1),
      "the whole quantile frame costs one epsilon (parallel across " +
        "types, sequential within)")
    intercept[DpLedger.BudgetRefused] {
      P.dpQuantileRelease(ev, seeded = true, ledger = Some(led))
    }
    led.close()
    rel.groupBy(_.getString(0)).foreach { case (t, rows) =>
      val byQ = rows.sortBy(_.getDouble(1))
      assert(byQ.map(_.getDouble(1)).toSeq === Seq(0.25, 0.5, 0.75, 0.9))
      val released = byQ.map(_.getDouble(2)).toSeq
      // THE monotonization contract: whatever the independent Gumbel
      // draws did, the shipped quantiles never invert
      assert(released === released.sorted,
        s"$t: released quantiles must be nondecreasing, got $released")
      // the monotone assignment permutes the released multiset, never
      // invents or drops a value
      assert(released.sorted === byQ.map(_.getDouble(3)).toSeq.sorted,
        s"$t: released_q must be raw_q's multiset")
      released.foreach { v =>
        assert(v > 0.0 && v < 512.0, s"$t: $v outside the public range")
        assert((v - 4.0) % 8.0 === 0.0, s"$t: $v is not a bin midpoint")
      }
      // plausibility: within half the public range of the exact
      // quantile (catches a sign-flipped or mis-ranked utility while
      // staying safe for any seed: displacing the winner far needs
      // more record mass between bins than the Gumbel can pay at eps/4)
      val vals = ev.filter(col("event_type") === t)
        .select("value").collect().map(_.getDouble(0)).sorted
      byQ.foreach { r =>
        val q = r.getDouble(1)
        val truth = vals(math.min(vals.length - 1, (q * vals.length).toInt))
        assert(math.abs(r.getDouble(2) - math.min(truth, 512.0)) < 256.0,
          s"$t q=$q: released ${r.getDouble(2)} implausibly far from $truth")
      }
    }
    // caller-bug quantile sets throw before any charge
    intercept[IllegalArgumentException] {
      P.dpQuantileRelease(ev, quantiles = Seq.empty)
    }
    intercept[IllegalArgumentException] {
      P.dpQuantileRelease(ev, quantiles = Seq(0.5, 1.0))
    }
    // seeded gate spelling is bit-stable
    assert(rel.map(_.toSeq).toSeq ===
      SparkEntry.queries("x64_dp_quantiles")(spark, d).collect().map(_.toSeq).toSeq)
  }

  test("x61 RDP accounting, executable: the Renyi route releases the same K=16 schedule for ~4.5x less epsilon than basic composition") {
    import graft.operators.{Privacy => P, RdpAccountant}
    // the executable form of the x60 scaladoc's graduation claim. Both
    // routes account the IDENTICAL mechanism schedule: K = 16
    // subsampled-Gaussian releases at (q = 1/2, sigma = SubGaussSigma).
    val gate = SparkEntry.queries("x61_rdp_account")(spark, d).collect()
    assert(gate.length === 63, "one row per integer order in [2, 64]")
    val epsStar = gate.head.getDouble(4)
    val epsBasic = gate.head.getDouble(5)
    // basic composition: 16 x ln(1 + q(e-1)) ~= 9.92
    assert(math.abs(epsBasic - 9.921832112) < 1e-9)
    // the Renyi readout at delta = 1e-6 (a STRICTER delta than basic
    // composition's summed 16*q*delta0 = 8e-6, so the comparison is
    // conservative in basic's favor)
    assert(epsStar < epsBasic / 4.0,
      s"RDP readout $epsStar should be >4x tighter than basic $epsBasic")
    // eps_star is the min of the eps column, and the table is the
    // accountant's own curve: 16 charges against a live accountant
    // read out to exactly the gate's eps_star
    assert(epsStar === gate.map(_.getDouble(3)).min)
    val acc = RdpAccountant.open(freshLedgerDir(), epsBudget = BigDecimal(3))
    (1 to 16).foreach(i => acc.charge(s"rel$i", 0.5, P.SubGaussSigma))
    assert(acc.spentEpsilon === epsStar,
      "the gate table and the accountant class must derive one curve")
    acc.close()
    // per-order sanity: subsampling strictly tightens every order
    // against the full-data Gaussian's exact RDP alpha/(2 sigma^2)
    gate.foreach { r =>
      val a = r.getLong(0); val rdp = r.getDouble(1)
      assert(rdp > 0.0, s"order $a: RDP must be positive")
      assert(rdp < a / (2.0 * P.SubGaussSigma * P.SubGaussSigma),
        s"order $a: subsampled RDP $rdp must beat the full-data bound")
    }
  }

  test("RdpAccountant: charge-then-release, typed refusal, durable resume, single-writer lock") {
    import graft.operators.{DpLedger, Privacy => P, RdpAccountant}
    val dir = freshLedgerDir()
    // budget 1.0 at delta 1e-6: the first charge reads ~0.52 (admitted),
    // the second would read ~0.75 (admitted), the third ~0.95, the
    // fourth crosses 1.0 -> refused with the typed exception
    val acc = RdpAccountant.open(dir, epsBudget = BigDecimal(1))
    assert(acc.spentEpsilon === 0.0, "zero charges read exactly epsilon 0")
    var admitted = 0
    var eps = 0.0
    try {
      while (admitted < 100) {
        val e = acc.charge(s"r$admitted", 0.5, P.SubGaussSigma)
        assert(e > eps, "the readout grows monotonically with charges")
        eps = e; admitted += 1
      }
      fail("the budget must eventually refuse")
    } catch {
      case ex: DpLedger.BudgetRefused =>
        assert(ex.getMessage.contains("RDP budget exhausted"))
    }
    assert(admitted >= 2 && admitted < 100,
      s"a budget of 1.0 admits a few sqrt-composed releases, got $admitted")
    assert(acc.size === admitted, "a refusal appends nothing")
    val epsAtRefusal = acc.spentEpsilon
    // Renyi composition beats per-release conversion summed: the same
    // budget under basic composition of the amplified pair admits
    // floor(1.0 / 0.620) = 1 release; RDP admitted more
    assert(admitted > 1, "RDP must admit more than basic composition here")
    acc.close()
    intercept[IllegalArgumentException] { acc.tryCharge("late", 0.5, 5.0) }
    // resume: totals recomputed from the (q, sigma) rows, verdicts
    // bit-identical — the next charge is still refused
    val resumed = RdpAccountant.open(dir, epsBudget = BigDecimal(1))
    assert(resumed.spentEpsilon === epsAtRefusal)
    assert(!resumed.tryCharge("again", 0.5, P.SubGaussSigma))
    // the registry frame replays the running readout
    val reg = resumed.registry(spark).orderBy("seq").collect()
    assert(reg.length === admitted)
    assert(reg.last.getDouble(4) === epsAtRefusal)
    assert(reg.map(_.getDouble(4)).toSeq === reg.map(_.getDouble(4)).toSeq.sorted,
      "eps_after is monotone in the schedule")
    // single-writer tripwire while held
    val ex2 = intercept[IllegalStateException] {
      RdpAccountant.open(dir, epsBudget = BigDecimal(1))
    }
    assert(ex2.getMessage.contains("already open"))
    resumed.close()
    // caller bugs throw before any check or write
    val fresh = RdpAccountant.open(freshLedgerDir(), epsBudget = BigDecimal(1))
    intercept[IllegalArgumentException] { fresh.tryCharge("bad", 0.0, 5.0) }
    intercept[IllegalArgumentException] { fresh.tryCharge("bad", 1.0, 5.0) }
    intercept[IllegalArgumentException] { fresh.tryCharge("bad", 0.5, -1.0) }
    intercept[IllegalArgumentException] { fresh.tryCharge("a\tb", 0.5, 5.0) }
    assert(fresh.size === 0)
    fresh.close()
  }

  test("dpSubsampledGaussianRdpRelease: the mechanism is x60's bit-for-bit; only the accounting differs; a refusal releases nothing") {
    import graft.operators.{DpLedger, Privacy => P, RdpAccountant}
    val ev = graft.Tables.events(spark, d)
    val acc = RdpAccountant.open(freshLedgerDir(), epsBudget = BigDecimal(3))
    val viaRdp = P.dpSubsampledGaussianRdpRelease(ev, acc, seeded = true)
      .select("event_type", "day", "released_n").collect()
    val viaPair = P.dpSubsampledGaussianRelease(ev, seeded = true)
      .select("event_type", "day", "released_n").collect()
    assert(viaRdp.toSeq === viaPair.toSeq,
      "same salt, same sample, same noise — the accountant changes what " +
        "a schedule may release, never what one release looks like")
    assert(acc.size === 1, "the release charged its (q, sigma) footprint")
    acc.close()
    // refusal: a budget below the single-release readout never builds a
    // frame (charge-then-release — the mechanism must not run)
    val tiny = RdpAccountant.open(freshLedgerDir(),
      epsBudget = BigDecimal("0.1"))
    intercept[DpLedger.BudgetRefused] {
      P.dpSubsampledGaussianRdpRelease(ev, tiny, seeded = true)
    }
    assert(tiny.size === 0)
    tiny.close()
  }
}
