package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the behavior-analytics queries (funnel, retention,
  * co-occurrence, shuffle-export). The DuckDB oracle proves row
  * equality at sf0.01; these tests pin the SEMANTIC properties the
  * oracle comparison can't articulate (stage ordering, cohort algebra,
  * pair canonicalization, dense positions) plus the funnel's
  * one-Exchange plan claim.
  */
class BehaviorSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  private def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("funnel: stage timestamps strictly increase and depth matches nulls") {
    import spark.implicits._
    val f = q("q_funnel").cache()
    val badOrder = f.filter(
      ($"t_click".isNotNull && $"t_click" <= $"t_view") ||
      ($"t_purchase".isNotNull && $"t_purchase" <= $"t_click")).count()
    assert(badOrder == 0)
    val badDepth = f.filter(
      ($"depth" === 3) =!= $"t_purchase".isNotNull ||
      ($"depth" >= 2) =!= $"t_click".isNotNull ||
      ($"depth" >= 1) =!= $"t_view".isNotNull).count()
    assert(badDepth == 0)
    // a later stage requires the earlier one
    val gap = f.filter($"t_purchase".isNotNull && $"t_click".isNull).count() +
      f.filter($"t_click".isNotNull && $"t_view".isNull).count()
    assert(gap == 0)
    f.unpersist()
  }

  test("funnel: one user base row per distinct event user") {
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(q("q_funnel").count() == users)
  }

  test("funnel: window formulation equals the join-chain formulation") {
    import spark.implicits._
    // independent re-derivation, same shape as the DuckDB oracle
    val ev = Tables.events(spark, sfDir).select("user_id", "ts", "event_type")
    val v = ev.filter($"event_type" === "view").groupBy("user_id")
      .agg(min($"ts").as("jv"))
    val c = ev.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" > $"jv").groupBy("user_id").agg(min($"ts").as("jc"))
    val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" > $"jc").groupBy("user_id").agg(min($"ts").as("jp"))
    val joined = q("q_funnel")
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
    val mism = joined.filter(
      !($"t_view" <=> $"jv") || !($"t_click" <=> $"jc") ||
      !($"t_purchase" <=> $"jp")).count()
    assert(mism == 0)
  }

  test("funnel: plan has exactly one shuffle exchange") {
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case n => n +: n.children.flatMap(flatten)
    }
    val df = q("q_funnel")
    df.write.format("noop").mode("overwrite").save() // finalize AQE
    val shuffles = flatten(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec])
    // window sort on user_id; the groupBy and final orderBy reuse or
    // add at most the result-ordering exchange
    assert(shuffles <= 2, s"expected <=2 shuffles (window + output sort), got $shuffles")
  }

  test("retention: day 0 counts the full cohort and offsets are non-negative") {
    import spark.implicits._
    val r = q("q_retention").cache()
    assert(r.filter($"day_offset" < 0).count() == 0)
    // every user is active on their cohort day by construction
    val cohortSizes = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(to_date(min($"ts")).as("cohort_day"))
      .groupBy("cohort_day").agg(count(lit(1)).as("n_users"))
    val day0 = r.filter($"day_offset" === 0).select($"cohort_day", $"n_active")
    val mism = day0.join(cohortSizes, "cohort_day")
      .filter($"n_active" =!= $"n_users").count()
    assert(mism == 0)
    // retention never exceeds the cohort size at any offset
    val over = r.join(cohortSizes, "cohort_day")
      .filter($"n_active" > $"n_users").count()
    assert(over == 0)
    r.unpersist()
  }

  test("cohort ltv: ages non-negative, revenue conserves total purchase value") {
    import spark.implicits._
    val out = q("q_cohort_ltv").cache()
    assert(out.filter($"age_weeks" < 0 || $"n_buyers" < 1).count() == 0)
    // cell revenues sum to the corpus purchase total (cents-exact)
    val total = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .agg(sum(round($"value" * 100).cast("long"))).as[Long].head()
    val cells = out.agg(sum(round($"revenue" * 100).cast("long")))
      .as[Long].head()
    assert(cells == total, s"cell revenue $cells != purchase total $total")
    // some purchases land in the cohort's own first week
    assert(out.filter($"age_weeks" === 0).count() > 0)
    out.unpersist()
  }

  test("churn: rates in [0,1], churned bounded by active, weeks strictly pre-final") {
    import spark.implicits._
    val out = q("q_churn").cache()
    assert(out.count() > 0)
    assert(out.filter($"n_churned" > $"n_active" || $"churn_rate" < 0 ||
      $"churn_rate" > 1).count() == 0)
    // the final observed week is excluded (it has no next week)
    val maxAll = Tables.events(spark, sfDir)
      .select(to_date(date_trunc("week", $"ts")).as("w"))
      .agg(max($"w")).head().getDate(0)
    assert(out.filter($"week" >= maxAll).count() == 0)
    out.unpersist()
  }

  test("cooccur: pairs canonical (p1 < p2), counts bounded by order count") {
    import spark.implicits._
    val co = q("q_cooccur").cache()
    assert(co.count() == 25)
    assert(co.filter($"p1" >= $"p2").count() == 0)
    val nOrders = Tables.lineitem(spark, sfDir).select("l_orderkey").distinct().count()
    assert(co.filter($"n_orders" > nOrders).count() == 0)
    // descending by n_orders with (p1, p2) tiebreak
    val rows = co.collect()
    val sorted = rows.sortBy(r => (-r.getLong(2), r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == sorted.toSeq)
    co.unpersist()
  }

  test("cooccur: a known pair's count matches a direct filter") {
    import spark.implicits._
    val top = q("q_cooccur").limit(1).collect()(0)
    val (p1, p2) = (top.getLong(0), top.getLong(1))
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey").distinct()
    val direct = li.filter($"l_partkey" === p1).select("l_orderkey")
      .intersect(li.filter($"l_partkey" === p2).select("l_orderkey")).count()
    assert(direct == top.getLong(2))
  }

  test("shuffle export: positions dense per shard, total covers all docs, stable reruns") {
    import spark.implicits._
    val e1 = q("q_shuffle_export").cache()
    val docs = Tables.documents(spark, sfDir).count()
    assert(e1.count() == docs)
    assert(e1.select("doc_id").distinct().count() == docs)
    // dense 1..n per shard
    val dense = e1.groupBy("shard")
      .agg(count(lit(1)).as("n"), min($"pos").as("lo"), max($"pos").as("hi"),
        countDistinct($"pos").as("np"))
      .filter($"lo" =!= 1 || $"hi" =!= $"n" || $"np" =!= $"n").count()
    assert(dense == 0)
    // deterministic: a second run is row-identical (seed-free md5 keys)
    val e2 = q("q_shuffle_export")
    assert(e1.exceptAll(e2).count() == 0 && e2.exceptAll(e1).count() == 0)
    e1.unpersist()
  }

  test("transitions: rows per from-type sum to 1; counts conserve adjacent pairs") {
    import spark.implicits._
    val out = q("q_transitions").cache()
    // per-from probabilities sum to ~1 (rounding each p to 6 dp)
    val sums = out.groupBy("from_type").agg(sum($"p").as("sp")).collect()
    assert(sums.forall(r => math.abs(r.getAs[Double]("sp") - 1.0) < 1e-4))
    // total transitions = events - one per user (each user's last event
    // has no successor)
    val ev = Tables.events(spark, sfDir)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(out.agg(sum($"n")).as[Long].head() == expected)
    out.unpersist()
  }

  test("rolling active: equals a local 7-day set-union recompute") {
    import spark.implicits._
    val du = Tables.events(spark, sfDir)
      .select($"event_type", to_date($"ts").as("day"), $"user_id")
      .distinct().collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Date]("day").toLocalDate, r.getAs[Long]("user_id")))
    val days = du.map(_._2).distinct
    val expect = (for {
      d <- days
      t <- du.map(_._1).distinct
    } yield {
      val users = du.collect { case (`t`, dd, u)
        if !dd.isAfter(d) && !dd.isBefore(d.minusDays(6)) => u }.toSet
      ((d, t), users.size.toLong)
    }).filter(_._2 > 0).toMap
    val got = q("q_rolling_active").collect()
      .map(r => ((r.getAs[java.sql.Date]("day").toLocalDate,
        r.getAs[String]("event_type")), r.getAs[Long]("wau"))).toMap
    assert(got == expect)
  }

  test("q_stationary: a probability vector over every observed type; L1-exact fixed point") {
    val out = q("q_stationary").collect()
    val types = Tables.events(spark, sfDir)
      .select("event_type").distinct().count()
    assert(out.length == types)
    // fixed-point longs sum to the scale within one truncation unit/node
    val fpSum = out.map(_.getAs[Long]("stat_fp")).sum
    assert(math.abs(fpSum - 1000000000000L) <= out.length,
      s"fixed-point mass $fpSum drifted from 1e12")
    out.foreach(r => assert(r.getAs[Long]("stat_fp") >= 0L))
    val pSum = out.map(_.getAs[Double]("stationary")).sum
    assert(math.abs(pSum - 1.0) < 1e-5)
  }

  test("q_survival: curve starts at full risk set, never increases, stays in [0,1]") {
    val out = q("q_survival").collect().sortBy(_.getAs[Int]("dur_days"))
    val users = Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(out.head.getAs[Long]("n_at_risk") == users)
    assert(out.map(r => r.getAs[Long]("n_churned") +
      r.getAs[Long]("n_censored")).sum == users)
    val s = out.map(_.getAs[Double]("survival")).toSeq
    assert(s.forall(v => v >= 0.0 && v <= 1.0 + 1e-9))
    assert(s.zip(s.tail).forall { case (a, b) => b <= a + 1e-9 },
      "survival must be nonincreasing")
    // suffix-sum structure: each at-risk count drops by exactly the
    // users leaving at the previous duration
    out.zip(out.tail).foreach { case (a, b) =>
      assert(b.getAs[Long]("n_at_risk") == a.getAs[Long]("n_at_risk") -
        a.getAs[Long]("n_churned") - a.getAs[Long]("n_censored"))
    }
  }

  test("q_item_cf: <=5 recs per part, cosine in (0,1], ranks contiguous and sim-ordered") {
    val out = q("q_item_cf").collect()
    out.groupBy(_.getAs[Long]("part")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.length <= 5)
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val sims = sorted.map(_.getAs[Double]("sim")).toSeq
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      // cosine on binary vectors: c <= sqrt(n_i n_j) always
      sims.foreach(s => assert(s > 0.0 && s <= 1.0 + 1e-9))
    }
  }

  test("q_entropy_rate: conditional entropies within [0, ln k]; weights sum to 1") {
    val out = q("q_entropy_rate").collect()
    val k = out.length
    val wSum = out.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wSum - 1.0) < 1e-4)
    out.foreach { r =>
      val h = r.getAs[Double]("h_nats")
      assert(h >= -1e-9 && h <= math.log(k.toDouble) + 1e-6,
        s"H=$h outside [0, ln $k]")
      // contribution reconciles with weight x entropy at 6 dp slack
      assert(math.abs(r.getAs[Double]("contrib_nats") -
        r.getAs[Double]("weight") * h) < 1e-4)
    }
  }

  test("q_streaks: active days conserved; one-day users have streak 1") {
    val out = q("q_streaks").collect()
    val du = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    assert(out.map(_.getAs[Long]("n_active_days")).sum == du.count())
    assert(out.length ==
      Tables.events(spark, sfDir).select("user_id").distinct().count())
    out.foreach { r =>
      assert(r.getAs[Long]("max_streak") >= 1L)
      assert(r.getAs[Long]("max_streak") <= r.getAs[Long]("n_active_days"))
      assert(r.getAs[Long]("n_streaks") >= 1L)
      // islands partition the active days: max·count bounds
      assert(r.getAs[Long]("max_streak") * r.getAs[Long]("n_streaks") >=
        r.getAs[Long]("n_active_days"))
    }
  }

  test("q_stickiness: one row per active day; DAU <= MAU28 <= user base") {
    val out = q("q_stickiness").collect()
    val du = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    assert(out.length == du.select("day").distinct().count())
    val nUsers = du.select("user_id").distinct().count()
    out.foreach { r =>
      val (dau, mau) = (r.getAs[Long]("dau"), r.getAs[Long]("mau28"))
      assert(dau >= 1 && dau <= mau && mau <= nUsers)
      val s = r.getAs[Double]("stickiness")
      assert(s > 0 && s <= 1.0 + 1e-9)
      assert(math.abs(s - dau.toDouble / mau) < 1e-6)
    }
  }

  test("q_lift: deciles partition scored users; average lift is 1") {
    val out = q("q_lift").collect()
    assert(out.map(_.getAs[Int]("decile")).toSet == (1 to 10).toSet)
    val scored = Tables.events(spark, sfDir)
      .filter(to_date(col("ts")) < lit("2024-01-22").cast("date"))
      .select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n_users")).sum == scored)
    // equal-depth deciles: sizes differ by at most 1
    val sizes = out.map(_.getAs[Long]("n_users"))
    assert(sizes.max - sizes.min <= 1)
    // capture rates sum to 1 over the deciles
    assert(math.abs(out.map(_.getAs[Double]("capture_rate")).sum - 1.0) < 1e-4)
    // weighted average lift is 1 by construction
    val wl = out.map(r => r.getAs[Double]("lift") * r.getAs[Long]("n_users"))
      .sum / scored
    assert(math.abs(wl - 1.0) < 1e-3, s"weighted lift $wl")
  }

  test("q_growth_accounting: quad partitions WAU and telescopes the delta") {
    val out = q("q_growth_accounting").collect()
      .sortBy(_.getAs[java.sql.Date]("week").getTime)
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("wau") == r.getAs[Long]("new_users") +
        r.getAs[Long]("retained") + r.getAs[Long]("resurrected"))
    }
    // first observed week is all-new with zero churn
    assert(out.head.getAs[Long]("new_users") == out.head.getAs[Long]("wau"))
    assert(out.head.getAs[Long]("churned") == 0)
    // telescoping: wau(w) = wau(w-1) + new + resurrected - churned
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("wau") == a.getAs[Long]("wau") +
          b.getAs[Long]("new_users") + b.getAs[Long]("resurrected") -
          b.getAs[Long]("churned"),
          s"week ${b.getAs[java.sql.Date]("week")} does not telescope")
      case _ =>
    }
  }

  test("q_user_activity_hist: conserves users and events; shares sum to 1") {
    val out = q("q_user_activity_hist").collect()
    assert(out.map(_.getAs[Long]("n_users")).sum ==
      Tables.events(spark, sfDir).select("user_id").distinct().count())
    assert(out.map(_.getAs[Long]("n_events")).sum ==
      Tables.events(spark, sfDir).count())
    assert(math.abs(out.map(_.getAs[Double]("user_share")).sum - 1.0) < 1e-4)
    assert(math.abs(out.map(_.getAs[Double]("event_share")).sum - 1.0) < 1e-4)
    val buckets = out.map(_.getAs[Int]("bucket_max"))
    assert(buckets.distinct.length == buckets.length)
    // power-of-two closed buckets plus the open-ended >1024 marker
    assert(buckets.forall(b => (b > 0 && (b & (b - 1)) == 0) || b == -1))
  }

  test("q_reorder_gap: gap conservation and ordered percentiles per segment") {
    val out = q("q_reorder_gap").collect()
    // gaps = orders minus first-order-per-customer
    val nOrders = Tables.orders(spark, sfDir).count()
    val nCustomers = Tables.orders(spark, sfDir)
      .select("o_custkey").distinct().count()
    assert(out.map(_.getAs[Long]("n_gaps")).sum == nOrders - nCustomers)
    out.foreach { r =>
      val (med, p90) = (r.getAs[Long]("median_gap_days"),
        r.getAs[Long]("p90_gap_days"))
      assert(med >= 0 && med <= p90, s"median $med > p90 $p90")
      assert(r.getAs[Long]("mean_gap_days_floor") >= 0)
    }
  }

  test("q_power_users: histogram partitions the user base; cum share reaches 1") {
    val out = q("q_power_users").collect()
    val nUsers = Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n_users")).sum == nUsers)
    // ordered most-engaged first; cumulative share monotone to 1
    val days = out.map(_.getAs[Long]("days_active"))
    assert(days.zip(days.tail).forall { case (a, b) => a > b })
    val cums = out.map(_.getAs[Double]("cum_share"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b + 1e-9 })
    assert(math.abs(cums.last - 1.0) < 1e-6)
    assert(math.abs(out.map(_.getAs[Double]("user_share")).sum - 1.0) < 1e-4)
  }

  test("q_stationary: distributed fallback is bit-identical to the driver loop") {
    // the branch taken past StationaryMaxCells — drive it directly on
    // the same transition matrix and demand the identical frame
    val c = operators.BehaviorQueries.transitionCounts(spark, sfDir)
      .localCheckpoint(true)
    val dist = operators.BehaviorQueries.qStationaryDistributed(spark, c)
      .collect()
    val drv = q("q_stationary").collect()
    assert(dist.length == drv.length && dist.length > 0)
    dist.zip(drv).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(a.getLong(1) == b.getLong(1), s"stat_fp differs for ${a.getString(0)}")
      assert(a.getDouble(2) == b.getDouble(2))
    }
  }
}
