package graft

import graft.ops.Monitor
import org.apache.spark.sql.functions._

/** Control-chart operators ([[graft.ops.Monitor]]) plus the
  * allocation/skyline queries of the same round: hand-checked
  * recurrences, zero-fill behavior, alarm semantics, and the
  * algorithmic invariants the oracles alone cannot state
  * (allocations sum to budget; nothing on the frontier is dominated).
  */
class MonitorSpec extends SparkSpec {
  import spark.implicits._

  private val day = 86400000000L

  test("ewmaDaily: hand-checked recurrence with a silent-day zero fill " +
    "and a spike flag judged against the PRIOR baseline") {
    // key a: day 0 -> 2 events, day 1 silent, day 2 -> 12 events
    val ev = Seq(
      ("a", 5L), ("a", 10L),                     // day 0: n=2
      ("a", 2 * day + 1), ("a", 2 * day + 2), ("a", 2 * day + 3),
      ("a", 2 * day + 4), ("a", 2 * day + 5), ("a", 2 * day + 6),
      ("a", 2 * day + 7), ("a", 2 * day + 8), ("a", 2 * day + 9),
      ("a", 2 * day + 10), ("a", 2 * day + 11), ("a", 2 * day + 12)
    ).toDF("k", "tus")
    val out = Monitor.ewmaDaily(ev, "k", col("tus"), alphaMilli = 300)
      .orderBy("day")
      .select("day", "n", "ewma_milli", "dev_ppm", "flagged")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    // day0: seed 2000; day1: (300*0 + 700*2000) div 1000 = 1400,
    //   dev = (0 - 2000)*1e6 div 2000 = -1000000 -> flagged
    // day2: (300*12000 + 700*1400) div 1000 = 4580,
    //   dev = (12000-1400)*1e6 div 1400 = 7571428 -> flagged
    assert(out === Seq(
      (0L, 2L, 2000L, 0L, false),
      (1L, 0L, 1400L, -1000000L, true),
      (2L, 12L, 4580L, 7571428L, true)))
  }

  test("holtDaily: hand-checked level+trend recurrence — flat days " +
    "keep trend 0, a jump moves level AND opens a trend, forecast " +
    "= level + trend") {
    // 10, 10, 22 on consecutive days
    val ev = ((1 to 10).map(i => ("a", i.toLong)) ++
      (1 to 10).map(i => ("a", day + i)) ++
      (1 to 22).map(i => ("a", 2 * day + i))).toDF("k", "tus")
    val out = Monitor.holtDaily(ev, "k", col("tus"))
      .orderBy("day")
      .select("day", "n", "level_milli", "trend_milli", "forecast_milli")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // d0: seed (10000, 0); d1: l=(300*10000+700*10000)/1000=10000, b=0
    // d2: l=(300*22000+700*10000)/1000=13600,
    //     b=(100*(13600-10000)+900*0)/1000=360 -> forecast 13960
    assert(out === Seq(
      (0L, 10L, 10000L, 0L, 10000L),
      (1L, 10L, 10000L, 0L, 10000L),
      (2L, 22L, 13600L, 360L, 13960L)))
  }

  test("cusumDaily: a sustained level shift accumulates to an alarm " +
    "that a single spike never reaches") {
    // key s: 20 quiet days of 2, then 6 shifted days of 50
    //   mean = (40+300)/26 = 13.08 -> target 13076 milli, slack 6538,
    //   h = 52304; each shifted day adds 50000-13076-6538 = 30386 —
    //   the alarm fires on the 2nd shifted day and stays
    val rows = (0 until 20).flatMap(d => (1 to 2).map(i => ("s", d * day + i))) ++
      (20 until 26).flatMap(d => (1 to 50).map(i => ("s", d * day + i)))
    val ev = rows.map { case (k, t) => (k, t.toLong) }.toDF("k", "tus")
    val out = Monitor.cusumDaily(ev, "k", col("tus"))
      .orderBy("day")
      .select("day", "n", "pos_milli", "neg_milli", "alarm_up", "alarm_down")
      .as[(Long, Long, Long, Long, Boolean, Boolean)].collect().toSeq
    assert(out.length === 26)
    // quiet days never alarm up; the shift accumulates until alarm
    assert(out.take(20).forall(r => !r._5))
    assert(out.last._5, s"expected an UP alarm by the last shifted day: $out")
    // evidence is cumulative: pos_milli strictly increases over the
    // shifted run
    val shifted = out.drop(20).map(_._3)
    assert(shifted === shifted.sorted && shifted.distinct === shifted)
    // a single spike on an otherwise-quiet key stays silent
    val spike = ((0 until 10).flatMap(d => (1 to 4).map(i => ("p", d * day + i))) ++
      (1 to 12).map(i => ("p", 10 * day + i)))
      .map { case (k, t) => (k, t.toLong) }.toDF("k", "tus")
    val sp = Monitor.cusumDaily(spike, "k", col("tus"))
      .select("alarm_up").as[Boolean].collect()
    assert(sp.forall(!_), "one spike must not trip the cumulative alarm")
  }

  test("pageHinkleyDaily: hand-checked running-mean recurrence — the " +
    "historical minimum anchors the gap, a jump opens ph_up only") {
    // 10, 10, 22 on consecutive days: target = 42000/3 = 14000,
    // delta = 700, lambda = 56000
    val ev = ((1 to 10).map(i => ("a", i.toLong)) ++
      (1 to 10).map(i => ("a", day + i)) ++
      (1 to 22).map(i => ("a", 2 * day + i))).toDF("k", "tus")
    val out = Monitor.pageHinkleyDaily(ev, "k", col("tus"))
      .orderBy("day")
      .select("day", "n", "ph_up_milli", "ph_down_milli",
        "alarm_up", "alarm_down")
      .as[(Long, Long, Long, Long, Boolean, Boolean)].collect().toSeq
    // d0: mu = md = -700, both mins -700 -> ph 0/0
    // d1: mean = 20000/2 = 10000; mu = -700 + 10000-10000-700 = -1400
    //     (new min) -> ph_up 0; md symmetric -> ph_down 0
    // d2: mean = 42000/3 = 14000; mu = -1400 + 22000-14000-700 = 5900,
    //     min stays -1400 -> ph_up 7300; md = -1400 + 14000-22000-700
    //     = -10100 (new min) -> ph_down 0
    assert(out === Seq(
      (0L, 10L, 0L, 0L, false, false),
      (1L, 10L, 0L, 0L, false, false),
      (2L, 22L, 7300L, 0L, false, false)))
  }

  test("pageHinkleyDaily: a sustained level shift trips ph_up; a " +
    "sustained drop trips ph_down, never ph_up") {
    // 20 quiet days of 2, then 6 shifted days of 50 (the cusum fixture)
    val rows = (0 until 20).flatMap(d => (1 to 2).map(i => ("s", d * day + i))) ++
      (20 until 26).flatMap(d => (1 to 50).map(i => ("s", d * day + i)))
    val ev = rows.map { case (k, t) => (k, t.toLong) }.toDF("k", "tus")
    val out = Monitor.pageHinkleyDaily(ev, "k", col("tus"))
      .orderBy("day")
      .select("day", "alarm_up", "alarm_down")
      .as[(Long, Boolean, Boolean)].collect().toSeq
    assert(out.take(20).forall(r => !r._2), "quiet prefix must not alarm")
    assert(out.last._2, s"expected an UP alarm by the last shifted day: $out")
    // the mirror: 10 days of 40 then 6 silent days — a feed death
    val drop = (0 until 10)
      .flatMap(d => (1 to 40).map(i => ("p", d * day + i)))
      .map { case (k, t) => (k, t.toLong) } :+ (("p", 15 * day + 1L))
    val dv = drop.toDF("k", "tus")
    val o2 = Monitor.pageHinkleyDaily(dv, "k", col("tus"))
      .orderBy("day")
      .select("day", "alarm_up", "alarm_down")
      .as[(Long, Boolean, Boolean)].collect().toSeq
    assert(o2.forall(r => !r._2), "a drop must never trip the UP side")
    assert(o2.exists(_._3), s"the silent run must trip ph_down: $o2")
  }

  test("q_waterfill invariants: allocations sum to the budget exactly, " +
    "the capped set is a capacity-prefix, nothing exceeds its " +
    "capacity, and uncapped shares differ by at most one") {
    val d = "/root/testdata/sf0.001"
    val out = graft.queries.ExtensionQueries.queries("q_waterfill")(spark, d)
      .select("source", "cap", "budget", "capped", "alloc")
      .as[(String, Long, Long, Boolean, Long)].collect().toSeq
    assert(out.nonEmpty)
    val budget = out.head._3
    assert(out.map(_._5).sum === budget, "water-filling must spend exactly B")
    assert(out.forall(r => r._5 <= r._2), "no source exceeds its capacity")
    // capped-ness is monotone in capacity: every capped source has
    // capacity <= every uncapped source's
    val cappedMax = out.filter(_._4).map(_._2).maxOption.getOrElse(Long.MinValue)
    val uncappedMin = out.filterNot(_._4).map(_._2).minOption.getOrElse(Long.MaxValue)
    assert(cappedMax <= uncappedMin)
    val shares = out.filterNot(_._4).map(_._5)
    if (shares.nonEmpty)
      assert(shares.max - shares.min <= 1L, s"max-min fairness: $shares")
  }

  test("prefixBatch: planted long shared prefixes — savings counted " +
    "once per extra doc, bounded by the group's SHORTEST member") {
    // 3 docs share an 8-token prefix; one "short twin" IS the prefix
    // of a 4th doc (guaranteed-shared length = the short one's 2)
    val p8 = "a b c d e f g h"
    val docs = Seq(
      ("s1", s"$p8 one two"), ("s1", s"$p8 three"), ("s1", s"$p8 four five six"),
      ("s2", "x y"), ("s2", "x y tail tail tail"),
      ("s3", "lone doc")
    ).toDF("source", "text")
    val out = graft.queries.ExtensionQueries.prefixBatch(docs, prefixTokens = 8)
      .select("source", "shared_groups", "saved_tokens", "total_tokens")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // s1: one group of 3 -> (3-1)*8 = 16 saved of 10+9+11=30 tokens
    // s2: "x y" and "x y tail tail tail" share prefix "x y" (plen 2
    //     vs 5-token doc's first 8 = whole doc "x y tail tail tail"
    //     != "x y") -> NOT the same prefix string, no sharing
    // s3: nothing shared
    assert(out === Seq(("s1", 1L, 16L, 30L), ("s2", 0L, 0L, 7L),
      ("s3", 0L, 0L, 2L)))
    // at prefixTokens=2 the s2 pair DOES share, and min_plen = 2
    val out2 = graft.queries.ExtensionQueries.prefixBatch(docs, prefixTokens = 2)
      .select("source", "shared_groups", "saved_tokens")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out2 === Seq(("s1", 1L, 2L * 2L), ("s2", 1L, 2L), ("s3", 0L, 0L)))
  }

  test("piiCensus: planted residue — each class counted on the text " +
    "AFTER earlier classes redact (a digit run inside an email is an " +
    "email, not an id); clean docs count as clean") {
    val docs = Seq(
      ("s1", "write to john.doe123456789@mail.example.com today"),
      ("s1", "call 555-123-4567 or 555-987-6543 now"),
      ("s1", "account 1234567890 flagged"),
      ("s1", "all clean here"),
      ("s2", "mixed a@b.co 111-222-3333 999999999 end")
    ).toDF("source", "text")
    val out = graft.queries.ExtensionQueries.piiCensus(docs)
      .select("source", "n_docs", "n_email", "n_phone", "n_id", "docs_clean")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // the 9-digit run inside the first email never double-counts as id
    assert(out === Seq(("s1", 4L, 1L, 2L, 1L, 1L),
      ("s2", 1L, 1L, 1L, 1L, 0L)))
  }

  test("chisq: a planted real effect (50% vs 10% on 500/500) fires the " +
    "exact-integer significance verdict; a perfectly balanced split " +
    "stays silent; z2 agrees with the textbook statistic") {
    // group A = even user ids. value > 200 is the hit predicate.
    def ev(n: Int, hitsA: Int, hitsB: Int) =
      ((0 until n).map(i => ("t", 2L * i, if (i < hitsA) 500.0 else 1.0)) ++
       (0 until n).map(i => ("t", 2L * i + 1, if (i < hitsB) 500.0 else 1.0)))
        .toDF("event_type", "user_id", "value")
    val strong = graft.queries.ExtensionQueries.chisq(ev(500, 250, 50))
      .select("z2_milli", "significant").as[(Long, Boolean)].head()
    // textbook: p1=.5, p2=.1, pooled=.3, z2 = .4^2*250/(.3*.7) ≈ 190.5
    assert(strong._2, s"50% vs 10% must be significant, got $strong")
    assert(strong._1 > 180000L && strong._1 < 200000L,
      s"z2_milli should sit near the textbook 190476, got ${strong._1}")
    val none = graft.queries.ExtensionQueries.chisq(ev(500, 100, 100))
      .select("z2_milli", "significant").as[(Long, Boolean)].head()
    assert(none._1 === 0L && !none._2)
  }

  test("survival: hand-checked Kaplan-Meier with censoring — censored " +
    "users leave the risk set without counting as deaths, and the " +
    "product-limit steps match the textbook table") {
    // 10 users; horizon day = 9. Lifetimes (d0=0 for all):
    //   3 die at life 2, 2 die at life 5, 1 censored at life 7
    //   (left mid-study), 4 censored at life 9 (active at horizon).
    // Wait — censoring here = d1 == hmax; the life-7 user must NOT
    // be at the horizon, so they count as a DEATH by this estimator's
    // observation model (last activity strictly inside the window).
    val rows =
      (1 to 3).flatMap(u => Seq((u.toLong, 0L), (u.toLong, 2L))) ++
      (4 to 5).flatMap(u => Seq((u.toLong, 0L), (u.toLong, 5L))) ++
      Seq((6L, 0L), (6L, 7L)) ++
      (7 to 10).flatMap(u => Seq((u.toLong, 0L), (u.toLong, 9L)))
    val out = graft.queries.ExtensionQueries.survival(
        rows.toDF("user_id", "day"))
      .select("life_days", "at_risk", "deaths", "censors", "survival_milli")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // life 2: risk 10, d 3 -> S = 1000*7 div 10 = 700
    // life 5: risk 7,  d 2 -> S = 700*5 div 7  = 500
    // life 7: risk 5,  d 1 -> S = 500*4 div 5  = 400
    // life 9: risk 4,  d 0, censored 4 -> S stays 400
    assert(out === Seq(
      (2L, 10L, 3L, 0L, 700L),
      (5L, 7L, 2L, 0L, 500L),
      (7L, 5L, 1L, 0L, 400L),
      (9L, 4L, 0L, 4L, 400L)))
  }

  test("edge cases: single-day series fold to their seed row; a " +
    "zero-capacity source allocates zero; all-censored survival " +
    "stays at 1000; empty-text docs chunk to one empty chunk") {
    // single-day key: trajectory = the seed row only, dev 0, no flag
    val one = Seq(("z", 7L)).toDF("k", "tus")
    val e1 = Monitor.ewmaDaily(one, "k", col("tus"))
      .select("day", "n", "ewma_milli", "dev_ppm", "flagged")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(e1 === Seq((0L, 1L, 1000L, 0L, false)))
    val c1 = Monitor.cusumDaily(one, "k", col("tus"))
      .select("alarm_up", "alarm_down").as[(Boolean, Boolean)].collect().toSeq
    assert(c1 === Seq((false, false)))
    // all-censored survival: no deaths ever, the curve never drops
    val cens = Seq((1L, 0L), (1L, 5L), (2L, 0L), (2L, 5L))
      .toDF("user_id", "day")
    val sv = graft.queries.ExtensionQueries.survival(cens)
      .select("life_days", "deaths", "censors", "survival_milli")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(sv === Seq((5L, 0L, 2L, 1000L)))
    // empty text: one chunk of the single empty token
    val empt = Seq((1L, "")).toDF("doc_id", "text")
    val ch = graft.ops.TextStats.cdcChunks(empt)
      .select("n_tokens").as[Long].collect().toSeq
    assert(ch === Seq(1L))
  }

  test("abBootstrap: the planted 50%-vs-10% effect's CI excludes zero " +
    "and brackets the point estimate; the null split's CI straddles " +
    "zero — the resampling read agrees with the chi-square verdict") {
    def ev(n: Int, hitsA: Int, hitsB: Int) =
      ((0 until n).map(i => ("t", 2L * i, if (i < hitsA) 500.0 else 1.0)) ++
       (0 until n).map(i => ("t", 2L * i + 1, if (i < hitsB) 500.0 else 1.0)))
        .toDF("event_type", "user_id", "value")
    val strong = graft.queries.ExtensionQueries.abBootstrap(ev(500, 250, 50))
      .select("diff_ppm", "ci_lo_ppm", "ci_hi_ppm", "ci_excludes_zero")
      .as[(Long, Long, Long, Boolean)].head()
    assert(strong._4, s"planted effect must exclude zero: $strong")
    assert(strong._2 <= strong._1 && strong._1 <= strong._3,
      s"CI must bracket the point estimate: $strong")
    val none = graft.queries.ExtensionQueries.abBootstrap(ev(500, 100, 100))
      .select("ci_excludes_zero").as[Boolean].head()
    assert(!none)
  }

  test("q_pareto is exactly the non-dominated set (brute-force check " +
    "per source at sf0.001)") {
    val d = "/root/testdata/sf0.001"
    val frontier = graft.queries.ExtensionQueries.queries("q_pareto")(spark, d)
      .select("source", "doc_id").as[(String, Long)].collect().toSet
    // recompute every doc's (len, ttr) and brute-force dominance
    val all = graft.Tables.documents(spark, d)
      .select(col("source"), col("doc_id"),
        size(graft.ops.TextStats.tokens(col("text"))).cast("long").as("n"),
        size(array_distinct(graft.ops.TextStats.tokens(col("text"))))
          .cast("long").as("nd"))
      .withColumn("ttr", expr("nd * 1000 div greatest(n, 1)"))
      .select("source", "doc_id", "n", "ttr")
      .as[(String, Long, Long, Long)].collect().toSeq
    val bySource = all.groupBy(_._1)
    val expected = bySource.flatMap { case (_, docs) =>
      docs.filterNot { a =>
        docs.exists(b => b._2 != a._2 && b._3 <= a._3 && b._4 >= a._4 &&
          (b._3 < a._3 || b._4 > a._4))
      }
    }.map(r => (r._1, r._2)).toSet
    assert(frontier === expected)
  }

  test("changepoint: hand-checked best split on a 2,2,10,10 grid — " +
    "the level break wins over both off-center splits; a single-day " +
    "key has no split and is absent") {
    val g = Seq(("a", 0L, 2L), ("a", 1L, 2L), ("a", 2L, 10L),
      ("a", 3L, 10L), ("b", 0L, 7L)).toDF("key", "day", "n")
    val out = graft.queries.ExtensionQueries.changepoint(g)
      .select("event_type", "n_days", "split_day", "gain_milli",
        "mean_left_milli", "mean_right_milli")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // s=24, nd=4, baseline 576000/4 = 144000; splits after day 0/1/2:
    //   i=1: 4000 + 484000 div 3 - 144000 = 21333
    //   i=2: 8000 + 200000   - 144000     = 64000   <- the break
    //   i=3: 196000 div 3 + 100000 - 144000 = 21333
    assert(out === Seq(("a", 4L, 1L, 64000L, 2000L, 10000L)))
  }

  test("theilSen: a clean ramp reads its exact slope and one wild " +
    "outlier day cannot drag the median pairwise slope") {
    val ramp = (0L to 4L).map(d => ("a", d, d * 10L))
    val dirty = Seq(("o", 0L, 0L), ("o", 1L, 10L), ("o", 2L, 20L),
      ("o", 3L, 30L), ("o", 4L, 1000L))
    val out = graft.queries.ExtensionQueries
      .theilSen((ramp ++ dirty).toDF("key", "day", "n"))
      .select("event_type", "n_days", "n_pairs", "sen_slope_milli")
      .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // 10 pairwise slopes each; the dirty key's four outlier-touching
    // slopes (250000..970000) sit above the lower median (rank 5)
    assert(out === Seq(("a", 5L, 10L, 10000L), ("o", 5L, 10L, 10000L)))
  }

  test("holtWintersDaily: a perfectly periodic week is a fixed point — " +
    "every forecast exact, level flat, trend zero; a 7-day key emits " +
    "nothing; a declining series matches the integer hand fold") {
    val pattern = Seq(2, 2, 2, 2, 2, 2, 9)
    val ev = (0 until 21).flatMap { dd =>
      (1 to pattern(dd % 7)).map(i => ("w", dd * day + i.toLong))
    } ++ (0 until 7).flatMap { dd =>
      (1 to 3).map(i => ("short", dd * day + i.toLong))
    }
    val out = Monitor.holtWintersDaily(ev.toDF("k", "tus"), "k", col("tus"))
      .orderBy("key", "day")
      .select("key", "day", "n", "forecast_milli", "level_milli",
        "trend_milli", "seas_milli")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.forall(_._1 == "w"), "a 7-day key must emit nothing")
    assert(out.size === 14)
    // l0 = 21000 div 7 = 3000; s0 = six -1000s then 6000: on periodic
    // data the recurrence reproduces itself and forecast == n*1000
    assert(out.forall(r => r._4 === r._3 * 1000), s"forecasts: $out")
    assert(out.forall(r => r._5 === 3000L && r._6 === 0L))
    // a steady decline: week one 10/day, week two 8/day -> the hand
    // fold with truncating integer division, trend goes negative
    val dec = (0 until 14).flatMap { dd =>
      (1 to (if (dd < 7) 10 else 8)).map(i => ("d", dd * day + i.toLong))
    }
    val got = Monitor.holtWintersDaily(dec.toDF("k", "tus"), "k", col("tus"))
      .orderBy("day")
      .select("forecast_milli", "level_milli", "trend_milli", "seas_milli")
      .as[(Long, Long, Long, Long)].collect().toSeq
    var lvl = 10000L; var tr = 0L
    var s = Seq.fill(7)(0L)
    val exp = (0 until 7).map { _ =>
      val x = 8000L
      val nl = (300L * (x - s.head) + 700L * (lvl + tr)) / 1000L
      val nt = (100L * (nl - lvl) + 900L * tr) / 1000L
      val nsv = (200L * (x - nl) + 800L * s.head) / 1000L
      val fc = lvl + tr + s.head
      lvl = nl; tr = nt; s = s.tail :+ nsv
      (fc, nl, nt, nsv)
    }
    assert(got === exp)
    assert(got.last._3 < 0L, "a sustained decline must read a negative trend")
  }
}
