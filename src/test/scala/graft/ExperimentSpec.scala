package graft

import graft.queries.ExtensionQueries
import org.apache.spark.sql.functions._

/** The experiment-design/readout layer added in round 10: planted
  * fixtures for the invariants the hash oracles alone cannot state —
  * SRM fires on real imbalance and stays silent on balance, the power
  * formula lands on the textbook number, the OBF ledger stops early
  * exactly on a planted strong effect, CUPED's ρ² reads ≈1 on a
  * linear covariate and ≈0 on an independent one, the jackknife
  * equals its closed form, conformal's bound behaves on exchangeable
  * vs trending data, and the drawdown replay is hand-checkable.
  */
class ExperimentSpec extends SparkSpec {
  import spark.implicits._

  test("bradleyTerry: hand-computed MM fixed point — A beats B 2 of 3, " +
    "strengths land at the exact integer fixed-point values whose " +
    "ratio is the 2:1 odds, ties and self-pairs drop") {
    // user 1's consecutive duels: (A,5)->(B,3): A wins; (B,3)->(A,4):
    // A wins; (A,4)->(B,9): B wins. Plus a tie (dropped) and a
    // self-pair (dropped) on user 2.
    val ev = Seq(
      (1L, 1L, "A", 5.0), (1L, 2L, "B", 3.0), (1L, 3L, "A", 4.0),
      (1L, 4L, "B", 9.0),
      (2L, 5L, "A", 7.0), (2L, 6L, "B", 7.0), (2L, 7L, "B", 2.0)
    ).toDF("user_id", "event_id", "event_type", "value")
    val out = ExtensionQueries.bradleyTerry(ev)
      .select("event_type", "n_wins", "n_comps", "w_q", "rank")
      .as[(String, Long, Long, Long, Int)].collect().sortBy(_._1)
    // N(A,B)=3; iter1: t = 3e12 div 2e6 = 1.5e6 each side;
    // wA = 2e12 div 1.5e6 = 1333333, wB = 1e12 div 1.5e6 = 666666;
    // iter2: wA+wB = 1999999, t = 3e12 div 1999999 = 1500000 ->
    // same quotients: the integer fixed point. p(A>B) = 2/3.
    assert(out.toSeq === Seq(
      ("A", 2L, 3L, 1333333L, 1),
      ("B", 1L, 3L, 666666L, 2)))
  }

  test("dawidSkene: planted rater qualities separate — a perfect " +
    "rater's confusion estimate dominates a 20%-flipped one, which " +
    "dominates an alternating coin; the coin lands at chance " +
    "(alpha+beta near 1e6)") {
    // 200 docs, truth = doc_id % 2. Rater l = truth; rater v = truth
    // with ONE-SIDED errors (flips only truth-1 docs, every 5th id) —
    // one-sided on purpose: symmetric flips make the (l,v,h) vote
    // distribution invariant under swapping l and v, and no estimator
    // can separate what the likelihood cannot see; rater h =
    // alternating pairs (doc_id/2 % 2), uncorrelated with truth.
    val votes = (0L until 200L).map { id =>
      val truth = (id % 2).toInt
      val vv = if (id % 5 == 0 && truth == 1) 0 else truth
      val vh = ((id / 2) % 2).toInt
      (id, truth, vv, vh)
    }.toDF("doc_id", "vl", "vv", "vh")
    val out = ExtensionQueries.dawidSkene(votes)
      .select("annotator", "acc_ppm", "rank")
      .as[(String, Long, Int)].collect().map(r => r._1 -> r).toMap
    // integer-EM hand replica (simulated step for step): len 880381,
    // vocab 871062, hash 552357
    assert(out("len")._3 === 1 && out("vocab")._3 === 2 &&
      out("hash")._3 === 3, out.toString)
    assert(out("len")._2 === 880381L, out.toString)
    assert(out("vocab")._2 === 871062L, out.toString)
    assert(out("hash")._2 === 552357L, out.toString)
  }

  test("srm: a 600/400 user imbalance fires, a 500/500 split is silent") {
    def ev(nEven: Int, nOdd: Int) =
      ((0 until nEven).map(i => ("t", 2L * i)) ++
        (0 until nOdd).map(i => ("t", 2L * i + 1)))
        .toDF("event_type", "user_id")
    val bad = ExtensionQueries.srm(ev(600, 400))
      .select("n_a", "n_b", "z2_milli", "srm")
      .as[(Long, Long, Long, Boolean)].head()
    // (600-400)^2 * 1000 / 1000 = 40000 milli
    assert(bad === ((600L, 400L, 40000L, true)))
    val ok = ExtensionQueries.srm(ev(500, 500)).select("srm").as[Boolean].head()
    assert(!ok)
  }

  test("power: a 2% base rate at +10% relative lands on the textbook " +
    "~80,680 per arm; days_req scales it by the observed rate") {
    // 10000 events over 10 days, exactly 200 hits (2%)
    val rows = (0 until 10000).map(i => ("t", (i % 10).toLong,
      if (i < 200) 1L else 0L))
    val out = ExtensionQueries.power(rows.toDF("event_type", "day", "hit"))
      .select("p1_ppm", "p2_ppm", "n_req", "days_req")
      .as[(Long, Long, Long, Long)].head()
    assert(out._1 === 20000L && out._2 === 22000L)
    // float check: 7.849*(.02*.98+.022*.978)/.002^2 = 80679.7...
    assert(out._3 >= 80600L && out._3 <= 80760L, s"n_req=${out._3}")
    // both arms accrue from the same stream: 2*n_req*nd/n, ceil
    val expectDays = (out._3 * 2 * 10 + 10000 - 1) / 10000
    assert(out._4 === expectDays)
  }

  test("group_seq: a planted 50%-vs-10% effect crosses at look 1; the " +
    "balanced null never stops (stop_look = 0, all bounds honored)") {
    // 10 days; every day 50 users/arm, arm A hits 50%, arm B 10%
    def e(pa: Int, pb: Int) = (0 until 10).flatMap { d =>
      (0 until 50).flatMap { u =>
        Seq(("t", d.toLong, 1L, if (u < pa) 1L else 0L),
          ("t", d.toLong, 0L, if (u < pb) 1L else 0L))
      }
    }.toDF("event_type", "day", "ga", "hit")
    val strong = ExtensionQueries.groupSeq(e(25, 5))
      .select("look", "crossed", "stop_look")
      .as[(Long, Boolean, Long)].collect().sortBy(_._1)
    assert(strong.length === 5)
    assert(strong.head._2, "look 1 must cross on a planted huge effect")
    assert(strong.forall(_._3 === 1L))
    val none = ExtensionQueries.groupSeq(e(10, 10))
      .select("crossed", "stop_look").as[(Boolean, Long)].collect()
    assert(none.forall(r => !r._1 && r._2 === 0L))
  }

  test("cuped: a linear covariate reads rho^2 ~ 1 and theta ~ slope; " +
    "an independent covariate reads rho^2 ~ 0") {
    // 40 users, pre activity i, post activity 3*i (exact linearity)
    val lin = (0 until 40).flatMap { i =>
      Seq(("t", i.toLong, 0L, (i + 1).toLong),      // pre (day 0 < mid)
        ("t", i.toLong, 9L, 3L * (i + 1)))          // post (day 9 >= mid)
    }.toDF("event_type", "user_id", "day", "v")
    val l = ExtensionQueries.cuped(lin)
      .select("n_users", "theta_micro", "varred_ppm")
      .as[(Long, Long, Long)].head()
    assert(l._1 === 40L)
    assert(l._2 === 3000000L, s"theta=${l._2}")
    assert(l._3 >= 999000L, s"rho2=${l._3}")
    // independent: post constant regardless of pre
    val ind = (0 until 40).flatMap { i =>
      Seq(("t", i.toLong, 0L, (i + 1).toLong),
        ("t", i.toLong, 9L, 7L))
    }.toDF("event_type", "user_id", "day", "v")
    val r = ExtensionQueries.cuped(ind).select("varred_ppm").as[Long].head()
    assert(r <= 1000L, s"independent rho2=$r")
  }

  test("jackknife: hand-checked 1..5 grid = 500 milli, and the " +
    "closed-form s^2/n identity holds") {
    val g = (0 until 5).map(i => ("k", i.toLong, (i + 1).toLong))
      .toDF("key", "day", "n")
    val out = ExtensionQueries.jackknife(g)
      .select("nd", "mean_milli", "jk_var_milli")
      .as[(Long, Long, Long)].head()
    // S=15, sum x^2=55: (5*55-225)*1000/(25*4) = 50000/100 = 500
    assert(out === ((5L, 3000L, 500L)))
  }

  test("conformal: constant series covers at 100% with q_hat = the " +
    "constant; a strong upward trend breaks coverage (the " +
    "exchangeability violation made visible)") {
    val const = (0 until 30).map(i => ("k", i.toLong, 7L))
      .toDF("key", "day", "n")
    val c = ExtensionQueries.conformal(const)
      .select("n_cal", "n_test", "q_hat", "target_ppm", "coverage_ppm")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(c._1 === 20L && c._2 === 10L && c._3 === 7L)
    // r = min(ceil(0.9*21), 20) = 19 -> target 19/21
    assert(c._4 === 1000000L * 19 / 21)
    assert(c._5 === 1000000L)
    val trend = (0 until 30).map(i => ("k", i.toLong, (i + 1).toLong))
      .toDF("key", "day", "n")
    val t = ExtensionQueries.conformal(trend)
      .select("q_hat", "coverage_ppm").as[(Long, Long)].head()
    assert(t._1 === 19L) // 19th smallest of 1..20
    assert(t._2 === 0L)  // test days 21..30 all exceed it
  }

  test("banditReplay: greedy follows the leader — sticks with the " +
    "early winner, switches only after the log overtakes it, and the " +
    "hindsight regret is the hand-computed 100000 ppm") {
    // 10 days, 10 users per arm per day; arm A converts on days 0-2,
    // arm B on days 3-9 (B dominant overall)
    val e = (0 until 10).flatMap { dd =>
      (0 until 10).flatMap { u =>
        Seq(("t", dd.toLong, 1L, if (dd <= 2) 1L else 0L),
          ("t", dd.toLong, 0L, if (dd >= 3) 1L else 0L))
      }
    }.toDF("event_type", "day", "ga", "hit")
    val out = ExtensionQueries.banditReplay(e)
      .select("days", "days_on_a", "reward", "pulls",
        "achieved_ppm", "best_ppm", "regret_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    // greedy rides A through day 6 (tie at 30/60 -> A), switches to B
    // on day 7: reward 30 (A days 0-2) + 30 (B days 7-9) = 60/100
    assert(out === ((10L, 7L, 60L, 100L, 600000L, 700000L, 100000L)))
  }

  test("mutual information: a deterministic mapping reads U = 1 " +
    "(MI = the smaller entropy), independence reads MI ~ 0, and MI " +
    "is symmetric") {
    // y = f(x): 4 x-values map 2:1 onto 2 y-values, 25 rows each
    val dep = (0 until 100).map(i => (s"x${i % 4}", s"y${i % 2}"))
      .toDF("a", "b")
    val d = ExtensionQueries.miPair(dep, "a", "b")
      .select("mi_e4", "hx_e4", "hy_e4", "uncert_ppm")
      .as[(Long, Long, Long, Long)].head()
    // MI cell ratio ln 2 -> floor 6931; H(y) from ln(1/2) -> floor
    // -6932 (negative floor), so H reads 6932 — one lattice step off
    // MI, exactly the documented quantization
    assert(d._1 === 6931L && d._3 === 6932L, s"$d")
    assert(d._4 >= 999000L, s"U must read ~1: $d")
    // independent: all 4 (x, y) combos equally likely
    val ind = (0 until 100).map(i => (s"x${i % 2}", s"y${(i / 2) % 2}"))
      .toDF("a", "b")
    val i = ExtensionQueries.miPair(ind, "a", "b")
      .select("mi_e4", "uncert_ppm").as[(Long, Long)].head()
    assert(i._1 <= 1L && i._2 <= 1000L, s"independence must read ~0: $i")
    // symmetry
    val s1 = ExtensionQueries.miPair(dep, "a", "b")
      .select("mi_e4").as[Long].head()
    val s2 = ExtensionQueries.miPair(dep, "b", "a")
      .select("mi_e4").as[Long].head()
    assert(s1 === s2)
  }

  test("ks: identical tied distributions read D = 0 (the completed-" +
    "step tie rule), a disjoint shift reads D = 1e6 and fires, and a " +
    "same-mean variance shift is caught") {
    def df(rows: Seq[(Long, Long)]) = rows.zipWithIndex
      .map { case ((ga, v), i) => ("t", i.toLong, ga, v) }
      .toDF("event_type", "event_id", "ga", "v")
    // identical values on both arms, interleaved event ids
    val tied = df((1 to 20).flatMap(i =>
      Seq((1L, (i % 3).toLong), (0L, (i % 3).toLong))))
    val t0 = ExtensionQueries.ks(tied)
      .select("d_ppm", "significant").as[(Long, Boolean)].head()
    assert(t0 === ((0L, false)))
    // disjoint: arm a in [0,20), arm b in [100,120)
    val shift = df((0 until 20).flatMap(i =>
      Seq((1L, i.toLong), (0L, 100L + i))))
    val s = ExtensionQueries.ks(shift)
      .select("d_ppm", "t_milli", "significant")
      .as[(Long, Long, Boolean)].head()
    assert(s._1 === 1000000L && s._3, s"$s")
    // same mean, different spread: a at 50, b at 0/100 alternating
    val spread = df((0 until 20).flatMap(i =>
      Seq((1L, 50L), (0L, if (i % 2 == 0) 0L else 100L))))
    val v = ExtensionQueries.ks(spread)
      .select("d_ppm", "significant").as[(Long, Boolean)].head()
    assert(v._1 === 500000L && v._2, s"variance shift must fire: $v")
  }

  test("cramersV: a deterministic mapping reads V^2 ~ 1e6, " +
    "independence reads 0") {
    val dep = (0 until 100).map(i => (s"x${i % 4}", s"y${i % 2}"))
      .toDF("a", "b")
    val d = ExtensionQueries.cramersV(dep, "a", "b")
      .select("v2_ppm").as[Long].head()
    assert(d >= 999000L, s"dependent V2=$d")
    val ind = (0 until 100).map(i => (s"x${i % 2}", s"y${(i / 2) % 2}"))
      .toDF("a", "b")
    val i = ExtensionQueries.cramersV(ind, "a", "b")
      .select("chi2_milli", "v2_ppm").as[(Long, Long)].head()
    assert(i === ((0L, 0L)))
  }

  test("mannWhitney: hand-checked U on disjoint arms, exact null at " +
    "full ties (2U = n_a*n_b), and a planted dominance fires") {
    def df(rows: Seq[(Long, Long)]) = rows.zipWithIndex
      .map { case ((ga, v), i) => ("t", i.toLong, ga, v) }
      .toDF("event_type", "event_id", "ga", "v")
    // A = {1,2}, B = {3,4}: no b below any a -> 2U = 0
    val small = df(Seq((1L, 1L), (1L, 2L), (0L, 3L), (0L, 4L)))
    val s = ExtensionQueries.mannWhitney(small)
      .select("u2", "z2_milli", "significant")
      .as[(Long, Long, Boolean)].head()
    assert(s._1 === 0L && !s._3)
    // all values identical: ties split evenly, 2U = na*nb, z = 0
    val tied = df((0 until 30).map(i => ((i % 2).toLong, 7L)))
    val t = ExtensionQueries.mannWhitney(tied)
      .select("na", "nb", "u2", "z2_milli")
      .as[(Long, Long, Long, Long)].head()
    assert(t._3 === t._1 * t._2 && t._4 === 0L)
    // planted dominance: 100 a at 0, 100 b at 1 -> z2 = 199000 milli
    val dom = df((0 until 100).map(_ => (1L, 0L)) ++
      (0 until 100).map(_ => (0L, 1L)))
    val d = ExtensionQueries.mannWhitney(dom)
      .select("u2", "z2_milli", "significant")
      .as[(Long, Long, Boolean)].head()
    assert(d === ((0L, 199000L, true)), s"$d")
  }

  test("chao: hand-checked singleton/doubleton census — 3 singletons " +
    "and 1 doubleton project chao1 = v + n1^2/(2*n2); a fully " +
    "saturated vocab reads missing mass 0 and chao1 = v") {
    // source s1: tokens a,b,c once; d twice; e five times
    val t1 = (Seq("a", "b", "c") ++ Seq.fill(2)("d") ++ Seq.fill(5)("e"))
      .map(("s1", _))
    val t2 = Seq.fill(10)("x").map(("s2", _)) // saturated: one token, n1=0
    val out = ExtensionQueries.chao((t1 ++ t2).toDF("source", "tok"))
      .select("source", "v", "n", "n1", "n2", "missing_mass_ppm", "chao1")
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    val s1 = out("s1")
    // v=5, n=10, n1=3, n2=1 -> missing 300000 ppm, chao1 = 5 + 9/2 = 9
    assert(s1 === (("s1", 5L, 10L, 3L, 1L, 300000L, 9L)))
    val s2 = out("s2")
    assert(s2._6 === 0L && s2._7 === 1L)
  }

  test("zipf: a planted freq = 1000/rank corpus reads slope ~ -1000 " +
    "milli; a uniform corpus reads ~ 0") {
    val planted = (1 to 20).flatMap { r =>
      Seq.fill(1000 / r)(s"w$r")
    }.toDF("tok")
    val z = ExtensionQueries.zipf(planted)
      .select("n_vocab", "zipf_slope_milli").as[(Long, Long)].head()
    assert(z._1 === 20L)
    assert(z._2 <= -950L && z._2 >= -1050L, s"slope=${z._2}")
    val uniform = (1 to 20).flatMap(r => Seq.fill(50)(s"w$r")).toDF("tok")
    val u = ExtensionQueries.zipf(uniform)
      .select("zipf_slope_milli").as[Long].head()
    assert(u === 0L)
  }

  test("isotropy: identical vectors read mean cosine 1e6 ppm (full " +
    "cone collapse), an orthogonal basis reads 0, and the mix sits " +
    "between") {
    def vec(hot: Int) = (0 until 8).map(i => if (i == hot) 1.0 else 0.0)
    val collapsed = (0 until 6).map(_ => (0, vec(0))).toDF("label", "v")
    val c = ExtensionQueries.isotropy(collapsed)
      .filter(col("scope") === "all")
      .select("n", "mean_cos_ppm").as[(Long, Long)].head()
    assert(c === ((6L, 1000000L)))
    val ortho = (0 until 6).map(i => (0, vec(i))).toDF("label", "v")
    val o = ExtensionQueries.isotropy(ortho)
      .filter(col("scope") === "all")
      .select("mean_cos_ppm").as[Long].head()
    assert(o === 0L)
    val mix = ((0 until 3).map(_ => (0, vec(0))) ++
      (0 until 3).map(i => (1, vec(i + 1)))).toDF("label", "v")
    val m = ExtensionQueries.isotropy(mix)
      .filter(col("scope") === "all")
      .select("mean_cos_ppm").as[Long].head()
    assert(m > 0L && m < 1000000L, s"mix must sit between: $m")
    // per-label: the collapsed label reads 1e6, the orthogonal one 0
    val byLabel = ExtensionQueries.isotropy(mix)
      .filter(col("scope") =!= "all")
      .select("scope", "mean_cos_ppm").as[(String, Long)].collect().toMap
    assert(byLabel("label:0") === 1000000L && byLabel("label:1") === 0L)
  }

  test("ips: on the bandit fixture the IPS and SNIPS values equal the " +
    "replay's achieved rate (the policy gets exactly half the 50/50 " +
    "log every day, so both estimators are exact here)") {
    val e = (0 until 10).flatMap { dd =>
      (0 until 10).flatMap { u =>
        Seq(("t", dd.toLong, 1L, if (dd <= 2) 1L else 0L),
          ("t", dd.toLong, 0L, if (dd >= 3) 1L else 0L))
      }
    }.toDF("event_type", "day", "ga", "hit")
    val out = ExtensionQueries.ips(e)
      .select("n", "matched", "matched_hits", "ips_ppm", "snips_ppm")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(out === ((200L, 100L, 60L, 600000L, 600000L)))
  }

  test("balance: a planted 2x covariate shift between arms fires the " +
    "SMD flag with the hand-computed value; identical arms read 0") {
    def arm(ga: Long, base: Long) = (0 until 10).map { i =>
      ("t", ga, (base + (if (i % 2 == 0) -10000L else 10000L)))
    }
    val shifted = (arm(1L, 100000L) ++ arm(0L, 200000L))
      .toDF("event_type", "ga", "v")
    val s = ExtensionQueries.balance(shifted)
      .select("ma_milli", "mb_milli", "smd2_ppm", "balanced")
      .as[(Long, Long, Long, Boolean)].head()
    // va = vb = 1e10/90 = 111111111; smd2 = 1e10*1e6 // 111111111
    assert(s === ((100000L, 200000L, 90000000L, false)))
    val same = (arm(1L, 150000L) ++ arm(0L, 150000L))
      .toDF("event_type", "ga", "v")
    val b = ExtensionQueries.balance(same)
      .select("smd2_ppm", "balanced").as[(Long, Boolean)].head()
    assert(b === ((0L, true)))
  }

  test("ebShrink: a tiny extreme segment is pulled toward the ensemble " +
    "mean, a big segment barely moves, and an overdispersed ensemble " +
    "clamps M to 0 (no shrinkage)") {
    // four big segments at ~50%, one tiny segment (n=2) at 100%
    val e = (Seq("a", "b", "c", "d").flatMap { t =>
      (0 until 1000).map(i => (t, if (i < 500) 1L else 0L))
    } ++ Seq(("tiny", 1L), ("tiny", 1L))).toDF("event_type", "hit")
    val out = ExtensionQueries.ebShrink(e)
      .select("event_type", "raw_ppm", "m_ppm", "big_m", "shrunk_ppm")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val tiny = out("tiny"); val big = out("a")
    assert(tiny._2 === 1000000L)
    // hand math: m = 600000, v = 5e10, M = 6e5*4e5/5e10 - 1 = 3;
    // shrunk = (2*1e6 + 6e5*3) / (2+3) = 760000
    assert(tiny._4 === 3L && tiny._5 === 760000L, s"$tiny")
    // big: (500*1e6 + 6e5*3)/1003 = 500299 — barely moves
    assert(math.abs(big._5 - big._2) < 1000L,
      s"big segment must barely move: $big")
    assert(math.abs(tiny._5 - tiny._3) < math.abs(tiny._2 - tiny._3),
      "tiny's shrunk rate sits strictly between raw and the mean")
    // overdispersed: rates 0 and 1e6 with mean 5e5 -> v > m(1-m), M=0
    val od = (Seq.fill(100)(("lo", 0L)) ++ Seq.fill(100)(("hi", 1L)))
      .toDF("event_type", "hit")
    val odOut = ExtensionQueries.ebShrink(od)
      .select("big_m", "raw_ppm", "shrunk_ppm")
      .as[(Long, Long, Long)].collect()
    assert(odOut.forall(_._1 === 0L))
    assert(odOut.forall(r => r._2 === r._3), "M=0 must mean no shrinkage")
  }

  test("stickiness: hand-checked DAU/WAU — a daily user and a one-day " +
    "user, window truncated at the span start, silent day carries " +
    "wau but dau 0") {
    // user 1 active days 0..6 except day 5; user 2 only day 3
    val act = ((0 to 6).filter(_ != 5).map(d => ("t", 1L, d.toLong)) :+
      ("t", 2L, 3L)).toDF("event_type", "user_id", "day")
    val out = ExtensionQueries.stickiness(act)
      .select("day", "dau", "wau", "stickiness_ppm")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === (0L to 6L))
    assert(out(0) === ((0L, 1L, 1L, 1000000L))) // truncated window
    assert(out(3) === ((3L, 2L, 2L, 1000000L))) // both active
    assert(out(5) === ((5L, 0L, 2L, 0L)))       // silent day, wau carries
    assert(out(6) === ((6L, 1L, 2L, 500000L)))
  }

  test("drawdown: hand-checked peak/slump sequence with the 50% alarm " +
    "at the right observation") {
    val base = Seq(
      ("t", 1L, 10L, 100L), // peak 100, dd 0
      ("t", 2L, 20L, 50L),  // dd 500000 -> first alarm at n=2
      ("t", 3L, 30L, 200L), // new peak, dd 0
      ("t", 4L, 40L, 20L)   // dd 900000 -> max
    ).toDF("event_type", "event_id", "ts_us", "v")
      .select(col("event_type"), col("event_id"), col("ts_us"), col("v"))
    val out = ExtensionQueries.drawdown(
        base.select(col("event_type"), col("event_id"), col("ts_us"), col("v")))
      .select("n_total", "max_dd_ppm", "first_alarm_n")
      .as[(Long, Long, Long)].head()
    assert(out === ((4L, 900000L, 2L)))
  }

  test("psi: identical halves read 0/'stable'; a total bucket " +
    "migration reads the hand-computed 20793/'shifted'") {
    // type s: day 0 and day 1 hold the same 4-bucket histogram
    val same = (0L to 1L).flatMap(d => (0L to 3L).map(b => ("s", d, b)))
    // type t: all mass in bucket 0 before, bucket 9 after
    val moved = (1 to 4).map(_ => ("t", 0L, 0L)) ++
      (1 to 4).map(_ => ("t", 1L, 9L))
    val out = ExtensionQueries.psi((same ++ moved)
        .toDF("event_type", "day", "bucket"))
      .select("event_type", "n_ref", "n_cur", "psi_e4", "verdict")
      .as[(String, Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    // t: bucket0 (1e6-250000)*floor(ln4*1e4) + bucket9 mirrors with
    // floor(-13862.94) = -13863 -> 750000*(13862+13863) div 1e6 = 20793
    assert(out === Seq(("s", 4L, 4L, 0L, "stable"),
      ("t", 4L, 4L, 20793L, "shifted")))
  }

  test("jsDiv: identical token distributions read 0; disjoint " +
    "vocabularies read the ln-2 ceiling 6931") {
    def toks(src: String, ts: String*) = ts.map(t => (src, t))
    val same = toks("a1", "x", "x", "y", "y") ++
      toks("b1", "x", "x", "y", "y")
    val disj = toks("a2", "x", "x", "y", "y") ++
      toks("b2", "z", "z", "w", "w")
    val o1 = ExtensionQueries.jsDiv(same.toDF("source", "tok"))
      .select("source", "jsd_e4").as[(String, Long)].collect().toSeq.sorted
    assert(o1 === Seq(("a1", 0L), ("b1", 0L)))
    val o2 = ExtensionQueries.jsDiv(disj.toDF("source", "tok"))
      .select("source", "n_tokens", "n_vocab_src", "jsd_e4")
      .as[(String, Long, Long, Long)].collect().toSeq.sorted
    assert(o2 === Seq(("a2", 4L, 2L, 6931L), ("b2", 4L, 2L, 6931L)))
  }

  test("kappa: perfect agreement reads 1000; a hand-checked 6/10 " +
    "overlap reads 166/'slight'; systematic disagreement reads -1000") {
    def docs(src: String, pat: Seq[(Boolean, Boolean)]) =
      pat.map { case (a, b) => (src, a, b) }
    val perfect = docs("p", (1 to 5).map(_ => (true, true)) ++
      (1 to 5).map(_ => (false, false)))
    // a1=6, b1=6, agree=6: po=600000, pe=(36+16)*1e4=520000,
    // kappa = 80000*1000 div 480000 = 166
    val partial = docs("q", Seq((true, true), (true, true), (true, true),
      (true, true), (true, false), (true, false), (false, true),
      (false, true), (false, false), (false, false)))
    val opposite = docs("r", (1 to 5).map(_ => (true, false)) ++
      (1 to 5).map(_ => (false, true)))
    val out = ExtensionQueries.kappa((perfect ++ partial ++ opposite)
        .toDF("source", "ra", "rb"))
      .select("source", "po_ppm", "pe_ppm", "kappa_milli", "band")
      .as[(String, Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    assert(out === Seq(
      ("p", 1000000L, 500000L, 1000L, "almost_perfect"),
      ("q", 600000L, 520000L, 166L, "slight"),
      ("r", 0L, 500000L, -1000L, "poor")))
  }

  test("bhFdr: the step-up rule rescues borderline tests behind a " +
    "strong leader, and rejects only the leader when the rest fail") {
    // p ladder: 11000->1000ppm, 5500->20000, 100->1000000
    val rescue = Seq(("a", 11000L), ("b", 5500L), ("c", 5500L),
      ("d", 100L)).toDF("event_type", "z2_milli")
    val o1 = ExtensionQueries.bhFdr(rescue)
      .select("event_type", "rank", "rejected")
      .as[(String, Long, Boolean)].collect().toSeq.sortBy(_._1)
    // ranks 1..3: 4000<=50000, 80000<=100000, 80000<=150000 -> kmax=3
    assert(o1 === Seq(("a", 1L, true), ("b", 2L, true),
      ("c", 3L, true), ("d", 4L, false)))
    val lonely = Seq(("a", 11000L), ("b", 4000L), ("c", 2000L),
      ("d", 100L)).toDF("event_type", "z2_milli")
    val o2 = ExtensionQueries.bhFdr(lonely)
      .select("event_type", "rejected")
      .as[(String, Boolean)].collect().toSeq.sortBy(_._1)
    // 50000*4 > 2*50000 and 100000*4 > 3*50000: only the leader stands
    assert(o2 === Seq(("a", true), ("b", false), ("c", false),
      ("d", false)))
  }

  test("permutation: an all-identical null reads p = 1e6 (every " +
    "replica ties the observed 0); a planted total separation is " +
    "significant") {
    val nullU = (0L until 20L).map(u =>
      ("t", u, u % 2, 1L, 5000L))
    val o1 = ExtensionQueries.permutation(
        nullU.toDF("event_type", "user_id", "ga", "nu", "su"))
      .select("d_obs_milli", "n_ge", "p_ppm", "significant")
      .as[(Long, Long, Long, Boolean)].head()
    assert(o1 === ((0L, 64L, 1000000L, false)))
    val planted = (0L until 20L).map(u =>
      ("t", u, u % 2, 1L, if (u % 2 == 1) 0L else 1000000L))
    val o2 = ExtensionQueries.permutation(
        planted.toDF("event_type", "user_id", "ga", "nu", "su"))
      .select("d_obs_milli", "significant")
      .as[(Long, Boolean)].head()
    // only a replica reproducing the exact even/odd split ties 1e6
    assert(o2 === ((1000000L, true)))
  }

  test("did: parallel trends net to zero; a planted post-period " +
    "treated lift reads exactly as the DiD") {
    def rows(t: String, tPost: Long) = Seq(
      (t, 0L, 0L, 10000L), (t, 1L, 0L, 10000L),
      (t, 2L, 0L, 20000L), (t, 3L, 0L, 20000L),
      (t, 0L, 1L, 110000L), (t, 1L, 1L, 110000L),
      (t, 2L, 1L, tPost), (t, 3L, 1L, tPost))
    val out = ExtensionQueries.did(
        (rows("t", 120000L) ++ rows("u", 135000L))
          .toDF("event_type", "day", "ga", "v"))
      .select("event_type", "m_t_pre", "m_t_post", "m_c_pre",
        "m_c_post", "did_milli")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out === Seq(
      ("t", 110000L, 120000L, 10000L, 20000L, 0L),
      ("u", 110000L, 135000L, 10000L, 20000L, 15000L)))
  }

  test("mantelHaenszel: the textbook Simpson fixture — within-stratum " +
    "rates identical (MH = 1000) while the crude pooled OR reads 23x; " +
    "a single balanced stratum is unconfounded") {
    // stratum 0: arm A 90/100 hits vs B 9/10; stratum 1: A 1/10 vs
    // B 10/100 — same rate per stratum, opposite allocation
    def cell(t: String, st: Long, ga: Long, hits: Int, miss: Int) =
      (0 until hits).map(_ => (t, st, ga, 1L)) ++
        (0 until miss).map(_ => (t, st, ga, 0L))
    val simpson = cell("s", 0L, 1L, 90, 10) ++ cell("s", 0L, 0L, 9, 1) ++
      cell("s", 1L, 1L, 1, 9) ++ cell("s", 1L, 0L, 10, 90)
    val plain = cell("p", 0L, 1L, 5, 5) ++ cell("p", 0L, 0L, 5, 5)
    val out = ExtensionQueries.mantelHaenszel((simpson ++ plain)
        .toDF("event_type", "stratum", "ga", "hit"))
      .select("event_type", "n_strata", "crude_or_milli", "mh_or_milli",
        "confounded")
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    // crude: 91*91*1000 div (19*19) = 22939; MH: both sums 1636362
    assert(out === Seq(("p", 1L, 1000L, 1000L, false),
      ("s", 2L, 22939L, 1000L, true)))
  }

  test("markovStationary: a 2-state chain lands on the integer-fold " +
    "2/3-1/3 fixed point; an absorbing state takes all mass exactly") {
    val states = Seq("A", "B").toDF("state")
    val out = ExtensionQueries.markovStationary(
        Seq(("A", "A", 1L), ("A", "B", 1L), ("B", "A", 2L))
          .toDF("from_type", "to_type", "n"), states)
      .select("event_type", "out_total", "stationary_ppm")
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    // replicate the exact per-term-truncating recurrence:
    // vA' = vA*0.5 + vB, vB' = vA*0.5
    var vA = 500000L; var vB = 500000L
    (1 to 20).foreach { _ =>
      val nA = vA * 500000L / 1000000L + vB
      val nB = vA * 500000L / 1000000L
      vA = nA; vB = nB
    }
    assert(out === Seq(("A", 2L, vA), ("B", 2L, vB)))
    assert(math.abs(vA - 666666L) < 10 && math.abs(vB - 333333L) < 10)
    // absorbing: A only feeds B; B has no outgoing row -> self-loop patch
    val absd = ExtensionQueries.markovStationary(
        Seq(("A", "B", 5L)).toDF("from_type", "to_type", "n"), states)
      .select("event_type", "out_total", "stationary_ppm")
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(absd === Seq(("A", 5L, 0L), ("B", 0L, 1000000L)))
  }

  test("ece: a user whose past rate exactly repeats reads 0; a " +
    "confident-but-wrong user drives the hand-computed half-mass gap") {
    // calibrated: users 0..9, first half u hits of 10, second half the
    // same -> every bin's prediction equals its observed rate
    def half(t: String, u: Long, d0: Long, hits: Int) =
      (0 until 10).map(i => (t, d0, u, if (i < hits) 1L else 0L))
    val cal = (0 until 10).flatMap { u =>
      half("c", u.toLong, 0L, u) ++ half("c", u.toLong, 9L, u)
    }
    // miscalibrated: user A 10/10 then 0/10 (bin 9, gap 1e6), user B
    // 0/10 then 0/10 (bin 0, gap 0) -> ece = 10*1e6 div 20 = 500000
    val mis = half("m", 1L, 0L, 10) ++ half("m", 1L, 9L, 0) ++
      half("m", 2L, 0L, 0) ++ half("m", 2L, 9L, 0)
    val out = ExtensionQueries.ece((cal ++ mis)
        .toDF("event_type", "day", "user_id", "hit"))
      .select("event_type", "n_scored", "ece_ppm", "worst_bin",
        "worst_gap_ppm")
      .as[(String, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out(0)._1 === "c" && out(0)._2 === 100L && out(0)._3 === 0L)
    assert(out(1) === (("m", 20L, 500000L, 9L, 1000000L)))
  }

  test("entropyRate: a 50/50 branch reads ln 2 conditional entropy, a " +
    "deterministic state reads 0, contributions weight by the " +
    "stationary mass") {
    val states = Seq("A", "B").toDF("state")
    val pairs = Seq(("A", "A", 1L), ("A", "B", 1L), ("B", "A", 2L))
      .toDF("from_type", "to_type", "n")
    val out = ExtensionQueries.entropyRate(pairs, states)
      .select("event_type", "stationary_ppm", "h_cond_e4", "contrib_e4")
      .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // A: 2 * (500000 * floor(ln2*1e4)) div 1e6 = 6931; B: ln 1 = 0
    var vA = 500000L; var vB = 500000L
    (1 to 20).foreach { _ =>
      val nA = vA * 500000L / 1000000L + vB
      val nB = vA * 500000L / 1000000L
      vA = nA; vB = nB
    }
    assert(out === Seq(("A", vA, 6931L, vA * 6931L / 1000000L),
      ("B", vB, 0L, 0L)))
  }

  test("meanExcess: 1..100 puts the exact p95 at 95 with the " +
    "hand-computed mean excess 3; a tiny type's threshold is its max " +
    "and nothing exceeds") {
    val big = (1 to 100).map(i => ("x", i.toLong, i.toLong))
    val tiny = Seq(("y", 1L, 10L), ("y", 2L, 20L), ("y", 3L, 30L))
    val out = ExtensionQueries.meanExcess((big ++ tiny)
        .toDF("event_type", "event_id", "v"))
      .select("event_type", "n_total", "u_milli", "n_exceed",
        "exceed_ppm", "mean_excess_milli")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
      .sortBy(_._1)
    // k = ceil(95) = 95 -> u = 95; excesses 1..5 mean exactly 3
    assert(out === Seq(("x", 100L, 95L, 5L, 50000L, 3L),
      ("y", 3L, 30L, 0L, 0L, 0L)))
  }

  test("runsTest: strict alternation and full clustering both sit 3 " +
    "runs from the expectation and fire symmetrically; R = E reads " +
    "exactly zero; median-tied days drop") {
    // 9 days each; the lower median is the lone 5, which drops,
    // leaving 4 highs and 4 lows (E[R] = 5)
    def key(k: String, ns: Seq[Long]) =
      ns.zipWithIndex.map { case (n, dd) => (k, dd.toLong, n) }
    val alt = key("a", Seq(1L, 9L, 1L, 9L, 1L, 9L, 1L, 9L, 5L)) // R = 8
    val clu = key("c", Seq(1L, 1L, 1L, 1L, 9L, 9L, 9L, 9L, 5L)) // R = 2
    val mid = key("m", Seq(1L, 9L, 9L, 1L, 1L, 9L, 9L, 1L, 5L)) // R = 5
    val out = ExtensionQueries.runsTest((alt ++ clu ++ mid)
        .toDF("key", "day", "n"))
      .select("event_type", "n1", "n2", "runs", "z2_milli", "significant")
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSeq
      .sortBy(_._1)
    // (RN-N-2n1n2)^2 (N-1) 1000 div (2n1n2(2n1n2-N))
    //   = 24^2 * 7000 div 768 = 5250 for both extremes
    assert(out === Seq(("a", 4L, 4L, 8L, 5250L, true),
      ("c", 4L, 4L, 2L, 5250L, true),
      ("m", 4L, 4L, 5L, 0L, false)))
  }

  test("returnLevel: hand-checked Gumbel MoM on maxima 1000/2000/3000; " +
    "a constant series reads beta 0 and never exceeds") {
    // daily maxima picked out of multi-row days
    val e = Seq(("g", 0L, 500L), ("g", 0L, 1000L), ("g", 1L, 2000L),
      ("g", 2L, 3000L), ("g", 2L, 100L),
      ("k", 0L, 700L), ("k", 1L, 700L))
    val out = ExtensionQueries.returnLevel(
        e.toDF("event_type", "day", "v"))
      .select("event_type", "nd", "max_obs_milli", "mean_max_milli",
        "beta_milli", "mu_milli", "ret30_milli", "exceeded")
      .as[(String, Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().toSeq.sortBy(_._1)
    // n2var = 3*14e6 - 36e6 = 6e6; sqrt/3*0.7797 -> beta = 636;
    // mu = 2000 - 367 = 1633; ret30 = 1633 + 2152 = 3785; 3000 stays in
    assert(out === Seq(
      ("g", 3L, 3000L, 2000L, 636L, 1633L, 3785L, false),
      ("k", 2L, 700L, 700L, 0L, 700L, 700L, false)))
  }

  test("kruskal: three fully separated groups read the textbook " +
    "H = 7.2 and fire; an all-tied corpus reads H = 0 via the " +
    "degenerate-correction guard") {
    val sep = Seq("A" -> 1L, "A" -> 2L, "A" -> 3L, "B" -> 4L,
      "B" -> 5L, "B" -> 6L, "C" -> 7L, "C" -> 8L, "C" -> 9L)
    val o1 = ExtensionQueries.kruskal(sep.toDF("event_type", "v"))
      .select("event_type", "n_j", "mean_rank_milli", "n_groups",
        "n_total", "h_milli", "crit_milli", "significant")
      .as[(String, Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().toSeq.sortBy(_._1)
    // R = 6/15/24 -> mean ranks 2/5/8; H = 12/90*279 - 30 = 7.2
    assert(o1 === Seq(
      ("A", 3L, 2000L, 3L, 9L, 7200L, 5991L, true),
      ("B", 3L, 5000L, 3L, 9L, 7200L, 5991L, true),
      ("C", 3L, 8000L, 3L, 9L, 7200L, 5991L, true)))
    val tied = Seq("A" -> 7L, "A" -> 7L, "A" -> 7L, "B" -> 7L,
      "B" -> 7L, "B" -> 7L, "C" -> 7L, "C" -> 7L, "C" -> 7L)
    val o2 = ExtensionQueries.kruskal(tied.toDF("event_type", "v"))
      .select("mean_rank_milli", "h_milli", "significant")
      .as[(Long, Long, Boolean)].collect().toSeq
    // single tied value: everyone's doubled rank is 10 -> mean 5
    assert(o2.forall(_ === ((5000L, 0L, false))))
  }

  test("seasonalMk: a pure weekly rhythm reads no trend at all (every " +
    "within-season pair ties); a cross-week ramp fires at the " +
    "hand-computed z2") {
    val weekly = (0 until 21).map(dd =>
      ("w", dd.toLong, if (dd % 7 >= 5) 9L else 2L))
    val ramp = (0 until 21).map(dd => ("r", dd.toLong, dd.toLong))
    val out = ExtensionQueries.seasonalMk((weekly ++ ramp)
        .toDF("key", "day", "n"))
      .select("event_type", "n_seasons", "nd_total", "s_stat",
        "z2_milli", "significant")
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSeq
      .sortBy(_._1)
    // ramp: S = 3 per season * 7 = 21; var18 = 7 * 3*2*11 = 462;
    //   z2 = 400 * 18000 div 462 = 15584
    assert(out === Seq(("r", 7L, 21L, 21L, 15584L, true),
      ("w", 7L, 21L, 0L, 0L, false)))
  }

  test("ccf: a one-day-shifted copy reads exactly +1000 at lag 1 and " +
    "-1000 at lag 0; a constant series reads 0 by the variance guard") {
    // A alternates 1,2 over days 0..9; B is A delayed one day;
    // C constant
    val byday = (0 until 10).flatMap { dd =>
      Seq(("A", dd.toLong, (1 + dd % 2).toLong),
        ("B", dd.toLong, (1 + (dd + 1) % 2).toLong),
        ("C", dd.toLong, 7L))
    }
    val out = ExtensionQueries.ccf(byday.toDF("event_type", "day", "n"))
      .select("type_a", "type_b", "lag_k", "n_days", "ccf_r2_milli")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    val m = out.map(r => ((r._1, r._2, r._3), (r._4, r._5))).toMap
    assert(m(("A", "B", 1L)) === ((9L, 1000L)))
    assert(m(("A", "B", 0L)) === ((10L, -1000L)))
    assert(out.filter(r => r._2 == "C" || r._1 == "C")
      .forall(_._5 === 0L), "constant series must read 0")
    assert(out.size === 3 * 2 * 4)
  }

  test("cochranArmitage: a rate ramp reads the hand-computed 33333 and " +
    "fires UP; volume doubling at a constant rate reads exactly T = 0 " +
    "(the separating fixture against Mann-Kendall)") {
    // ramp: 10 days, 10 events/day, hits = day index (0..9)
    val ramp = (0 until 10).flatMap { dd =>
      (0 until 10).map(i => ("r", dd.toLong, if (i < dd) 1L else 0L))
    }
    // volume trend at a constant 50% rate: n_d = 2*(10+d), half hit
    val vol = (0 until 10).flatMap { dd =>
      (0 until 2 * (10 + dd)).map(i => ("v", dd.toLong, (i % 2).toLong))
    }
    val out = ExtensionQueries.cochranArmitage((ramp ++ vol)
        .toDF("event_type", "day", "hit"))
      .select("event_type", "n_total", "hits", "z2_milli", "direction",
        "significant")
      .as[(String, Long, Long, Long, String, Boolean)].collect().toSeq
      .sortBy(_._1)
    // ramp: (100*285 - 45*450)^2 * 100 * 1000 div (45*55*82500) = 33333
    assert(out === Seq(
      ("r", 100L, 45L, 33333L, "up", true),
      ("v", 290L, 145L, 0L, "flat", false)))
  }

  test("hill: exact-ratio top-3 fixtures — a 4x/2x tail reads the " +
    "hand-computed 961 (heavy), a 1.1x/1.05x tail reads 13888 " +
    "(light); an all-zero type is unusable") {
    // N = 40 each -> k = 2, threshold = 3rd largest
    def typ(t: String, top3: Seq[Long]) =
      (top3 ++ Seq.fill(37)(1L)).zipWithIndex
        .map { case (v, i) => (t, i.toLong, v) }
    val zeros = (0 until 40).map(i => ("z", i.toLong, 0L))
    val out = ExtensionQueries.hill(
        (typ("h", Seq(4000L, 2000L, 1000L)) ++
          typ("l", Seq(1100L, 1050L, 1000L)) ++ zeros)
          .toDF("event_type", "event_id", "v"))
      .select("event_type", "n_total", "k_used", "u_milli",
        "hill_alpha_milli", "tail_usable", "heavy_tail")
      .as[(String, Long, Long, Long, Long, Boolean, Boolean)]
      .collect().toSeq.sortBy(_._1)
    // h: floor(ln4*1e4) + floor(ln2*1e4) = 13862 + 6931 = 20793
    //    -> 2e7 div 20793 = 961
    // l: floor(ln1.1*1e4) + floor(ln1.05*1e4) = 953 + 487 = 1440
    //    -> 2e7 div 1440 = 13888
    assert(out === Seq(
      ("h", 40L, 2L, 1000L, 961L, true, true),
      ("l", 40L, 2L, 1000L, 13888L, true, false),
      ("z", 40L, 2L, 0L, 0L, false, false)))
  }

  test("mcnemar: one-sided flips fire at the hand-computed 13136; " +
    "balanced flips stay silent; one-half-only users drop from the " +
    "pair set") {
    // users 0..21 strong type: 20 flip 0->1, 2 flip 1->0
    def user(t: String, u: Long, pre: Long, post: Long) = Seq(
      (t, 0L, u, pre), (t, 9L, u, post))
    val strong = (0L until 20L).flatMap(u => user("s", u, 0L, 1L)) ++
      (20L until 22L).flatMap(u => user("s", u, 1L, 0L))
    // balanced: 3 flips each way + 4 stable + one pre-only user
    val base = (0L until 3L).flatMap(u => user("b", u, 0L, 1L)) ++
      (3L until 6L).flatMap(u => user("b", u, 1L, 0L)) ++
      (6L until 10L).flatMap(u => user("b", u, 1L, 1L)) :+
      (("b", 0L, 99L, 1L))
    val out = ExtensionQueries.mcnemar((strong ++ base)
        .toDF("event_type", "day", "user_id", "hit"))
      .select("event_type", "n_pairs", "n_01", "n_10", "z2_milli",
        "significant")
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSeq
      .sortBy(_._1)
    // b: (|3-3|-1 -> 0)^2 = 0; s: (|20-2|-1)^2*1000 div 22 = 13136
    assert(out === Seq(("b", 10L, 3L, 3L, 0L, false),
      ("s", 22L, 20L, 2L, 13136L, true)))
  }
}
