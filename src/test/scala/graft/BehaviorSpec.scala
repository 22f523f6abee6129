package graft

import org.apache.spark.sql.functions._
import graft.queries.{Analytics, Behavior, TextOps, VectorOps}

/** Cross-query invariants for the round-6 operators — properties the
  * DuckDB hash-equality gate cannot express (internal consistency between
  * queries, agreement with Spark's own built-ins). */
class BehaviorSpec extends SparkSuite {

  test("retention: offset-0 row equals cohort size and bounds every later offset") {
    val rows = Behavior.qRetention(spark, sf001).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2)))
    val day0 = rows.filter(_._2 == 0).map(r => r._1 -> r._3).toMap
    assert(rows.nonEmpty && day0.nonEmpty)
    rows.foreach { case (cohort, off, n) =>
      assert(day0.contains(cohort), s"cohort $cohort missing its offset-0 row")
      assert(n <= day0(cohort), s"cohort $cohort offset $off: $n > cohort size ${day0(cohort)}")
    }
  }

  test("transitions: total transition count is events minus active users") {
    val total = Behavior.qEventTransitions(spark, sf001).agg(sum("n")).collect()(0).getLong(0)
    val ev = Tables.events(spark, sf001)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(total == expected, s"sum of transitions $total != events - users $expected")
  }

  test("streaks: per-user totals agree with the deduped user-day frame") {
    val s = Behavior.qWinStreaks(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val userDays = Tables.events(spark, sf001)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .groupBy("user_id").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s.map(_._1).toSet == userDays.keySet)
    s.foreach { case (u, days, streaks, maxStreak) =>
      assert(days == userDays(u))
      assert(maxStreak <= days && streaks <= days && maxStreak >= 1 && streaks >= 1)
    }
  }

  test("skewkurt matches Spark's built-in population moments") {
    val got = Analytics.qAggSkewKurt(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(4), r.getDouble(5))).toMap
    val ref = Tables.lineitem(spark, sf001).groupBy("l_returnflag")
      .agg(avg("l_quantity").as("m"), skewness("l_quantity").as("sk"), kurtosis("l_quantity").as("ku"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    got.foreach { case (k, (m, sk, ku)) =>
      val (rm, rsk, rku) = ref(k)
      assert(math.abs(m - rm) < 1e-9, s"$k mean $m vs $rm")
      assert(math.abs(sk - rsk) < 1e-6, s"$k skewness $sk vs $rsk")
      assert(math.abs(ku - rku) < 1e-6, s"$k kurtosis $ku vs $rku")
    }
  }

  test("zorder: buckets partition the table; lane ranges nest inside bucket bit prefixes") {
    val rows = Analytics.qZorderLayout(spark, sf001).collect()
    val total = rows.map(_.getLong(1)).sum
    assert(total == Tables.orders(spark, sf001).count(), "every order must land in a bucket")
    rows.foreach { r =>
      val (bkt, minZ, maxZ) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert((minZ >> 22) == bkt && (maxZ >> 22) == bkt, "z range must stay inside its bucket")
    }
  }

  test("dedup_edit pairs are a subset of ngram candidates with high similarity") {
    val edit = VectorOps.qDedupEdit(spark, sf001).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
    edit.foreach { case ((a, b), sim) =>
      assert(a < b, "pair orientation")
      assert(sim >= 0.8 && sim <= 1.0, s"edit_sim $sim out of range")
    }
  }

  test("vocab coverage: totals agree with the corpus token count") {
    val cov = TextOps.qVocabCoverage(spark, sf001).collect()
    val totalToks = Tables.documents(spark, sf001)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(cov.map(_.getLong(1)).sum == totalToks)
    cov.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "OOV cannot exceed total")
      val rate = r.getDouble(3)
      assert(rate >= 0.0 && rate < 1.0, s"oov_rate $rate out of range")
    }
  }

  test("skipgrams: dist-1 pairs agree with the non-distinct bigram counts") {
    val sg = TextOps.qTextSkipgrams(spark, sf001).collect()
    assert(sg.length == 20)
    // counts are positive and sorted desc with the declared tie-break
    val ns = sg.map(_.getLong(3))
    assert(ns.forall(_ > 0) && ns.sameElements(ns.sortBy(-_)))
  }

  test("seq_pattern: journey lengths cover all events; runs bounded by purchase count") {
    val rows = Behavior.qSeqPattern(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
    val ev = Tables.events(spark, sf001)
    assert(rows.map(_._2).sum == ev.count(), "sum of journey lengths must equal total events")
    rows.foreach { case (u, n, seq, runs) =>
      assert(seq.length == n, s"user $u: seq length ${seq.length} != n_events $n")
      val purchases = seq.count(_ == 'p')
      assert(runs <= purchases, s"user $u: $runs funnel runs but only $purchases purchases")
      assert(runs == "vc+p".r.findAllIn(seq).length, s"user $u: regex disagreement")
    }
  }

  test("interval_union: coverage bounded by naive sum and single-interval floor") {
    val rows = Behavior.qIntervalUnion(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val perUser = Tables.events(spark, sf001).groupBy("user_id")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(_._1).toSet == perUser.keySet)
    rows.foreach { case (u, islands, covered) =>
      val n = perUser(u)
      assert(islands >= 1 && islands <= n)
      assert(covered >= 300000000L, s"user $u: covered $covered below one interval")
      assert(covered <= 300000000L * n, s"user $u: covered $covered exceeds naive sum")
    }
  }

  test("time_weighted_avg: twa lies within the user's value range") {
    val bounds = Tables.events(spark, sf001).groupBy("user_id")
      .agg(min("value").as("lo"), max("value").as("hi")).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val rows = Behavior.qTimeWeightedAvg(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (u, n) = (r.getLong(0), r.getLong(1))
      if (!r.isNullAt(3)) {
        val twa = r.getDouble(3)
        val (lo, hi) = bounds(u)
        assert(twa >= lo - 1e-9 && twa <= hi + 1e-9,
          s"user $u: twa $twa outside [$lo, $hi]")
      } else assert(n == 1, s"user $u: null twa but $n events")
    }
  }

  test("mv_incremental merge equals a direct full recompute") {
    val merged = Analytics.qMvIncremental(spark, sf001)
    val direct = Tables.events(spark, sf001)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("sum_value"))
    val joined = merged.select("day", "event_type", "n_events", "sum_value")
      .except(direct.select("day", "event_type", "n_events", "sum_value"))
    assert(joined.isEmpty, "incrementally maintained partials diverge from recompute")
    assert(merged.count() == direct.count(), "row counts diverge")
  }

  test("cluster_assign: transition matrix covers every vector exactly once") {
    val rows = VectorOps.qClusterAssign(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val nVecs = Tables.embeddings(spark, sf001).count()
    assert(rows.map(_._3).sum == nVecs, "every vector must be assigned exactly once")
    assert(rows.map(_._2).distinct.sorted.forall(a => a >= 0 && a <= 9))
    // quantized centroids should mostly reassign vectors to their own label
    // cluster (labels in the fixture correlate with geometry): diagonal mass
    // must dominate any single off-diagonal cell
    val diag = rows.filter(r => r._1 == r._2).map(_._3).sum
    val maxOff = (rows.filter(r => r._1 != r._2).map(_._3) :+ 0L).max
    assert(diag >= maxOff, s"diagonal $diag below largest off-diagonal $maxOff")
  }

  test("colloc: lift respects min support and the top-30 ordering") {
    val rows = TextOps.qTextColloc(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(5)))
    assert(rows.nonEmpty && rows.length <= 30)
    assert(rows.forall(_._3 >= 5), "min support violated")
    val lifts = rows.map(_._4)
    assert(lifts.sameElements(lifts.sortBy(-_)), "not sorted by lift desc")
    assert(lifts.forall(l => l > 0 && !l.isNaN && !l.isInfinite))
  }

  test("token_rarity: min_df ≥ 1 and mean_df within [min_df, corpus doc count]") {
    val nDocs = Tables.documents(spark, sf001).count()
    val rows = TextOps.qTokenRarity(spark, sf001).collect()
    assert(rows.length == nDocs)
    rows.foreach { r =>
      val (minDf, mean) = (r.getLong(3), r.getDouble(4))
      assert(minDf >= 1 && mean >= minDf && mean <= nDocs)
    }
  }

  test("domain_mix: every source lands exactly the quota") {
    val counts = Tables.documents(spark, sf001).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val quota = counts.values.min
    val kept = TextOps.qDomainMix(spark, sf001).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.keySet == counts.keySet)
    kept.foreach { case (src, n) => assert(n == quota, s"$src kept $n != quota $quota") }
  }

  test("pagerank_step: in-degree symmetry and contribution accounting") {
    val pr = VectorOps.qPagerankStep(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val edges = VectorOps.qDedupNgram(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pr.nonEmpty && edges.nonEmpty)
    // symmetrized graph: in-degree equals degree; node set = edge endpoints
    val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size)
    assert(pr.map(_._1).toSet == deg.keys.toSet)
    pr.foreach { case (id, nIn, rScaled, rank) =>
      assert(nIn == deg(id), s"doc $id: n_in $nIn != degree ${deg(id)}")
      assert(rScaled >= nIn, "each neighbor contributes at least floor(1e12/maxdeg) >= 1")
      assert(rank > 0.0 && rank < 1.0)
    }
    // hand-recompute r_scaled from the edge list
    val expected = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._2).view.mapValues(_.map { case (src, _) =>
        math.floor(1e12 / deg(src)).toLong }.sum)
    pr.foreach { case (id, _, rScaled, _) =>
      assert(rScaled == expected(id), s"doc $id: r_scaled $rScaled != ${expected(id)}")
    }
  }

  test("anomaly_days: daily rollup accounts for all events; z-scores center at zero") {
    val rows = Behavior.qAnomalyDays(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(5)))
    assert(rows.map(_._2).sum == Tables.events(spark, sf001).count())
    rows.groupBy(_._1).foreach { case (et, days) =>
      val zSum = days.map(_._3).sum
      assert(math.abs(zSum) < 1e-6, s"$et: z-scores sum to $zSum, expected ~0")
    }
  }

  test("bpe_step: top-20 pairs match a pure-Scala recomputation") {
    val got = TextOps.qBpeStep(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val texts = Tables.documents(spark, sf001).select("text").collect().map(_.getString(0))
    val wordFreq = texts.flatMap(_.split(" ", -1)).groupBy(identity).view.mapValues(_.size.toLong)
    val pairCounts = scala.collection.mutable.Map.empty[String, Long]
    wordFreq.foreach { case (w, f) =>
      if (w.length >= 2) (0 until w.length - 1).foreach { i =>
        val p = w.substring(i, i + 2)
        pairCounts(p) = pairCounts.getOrElse(p, 0L) + f
      }
    }
    val expected = pairCounts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(got.toSeq == expected, s"got ${got.take(5).toSeq} expected ${expected.take(5)}")
  }

  test("ab_ttest: arm sizes partition each event type; t matches a double recompute") {
    val rows = Behavior.qAbTtest(spark, sf001).collect()
    val ev = Tables.events(spark, sf001)
      .select("event_type", "user_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val byType = ev.groupBy(_._1)
    assert(rows.map(_.getString(0)).toSet == byType.keySet)
    rows.foreach { r =>
      val et = r.getString(0)
      val (a, b) = byType(et).partition(_._2 % 2 == 0)
      assert(r.getLong(1) == a.length && r.getLong(2) == b.length)
      def stats(xs: Array[(String, Long, Double)]) = {
        val vs = xs.map(x => BigDecimal(x._3).setScale(2, BigDecimal.RoundingMode.HALF_UP))
        val n = vs.length
        val sv = vs.sum.toDouble
        val svv = vs.map(v => v * v).sum.toDouble
        val mu = sv / n
        (n, mu, (svv - sv * sv / n) / (n - 1))
      }
      val (na, ma, va) = stats(a); val (nb, mb, vb) = stats(b)
      val t = (ma - mb) / math.sqrt(va / na + vb / nb)
      assert(math.abs(r.getDouble(3) - ma) < 1e-9, s"$et mean_a")
      assert(math.abs(r.getDouble(4) - mb) < 1e-9, s"$et mean_b")
      assert(math.abs(r.getDouble(5) - t) < 1e-9, s"$et t: got ${r.getDouble(5)} want $t")
    }
  }

  test("golden_record: one survivor per user with the latest non-error value") {
    val rows = Behavior.qGoldenRecord(spark, sf001).collect()
    val ev = Tables.events(spark, sf001)
      .select("user_id", "ts", "event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val byUser = ev.groupBy(_._1)
    assert(rows.length == byUser.size, "exactly one golden row per user")
    assert(rows.map(r => r.getLong(1)).sum == ev.length)
    rows.foreach { r =>
      val u = r.getLong(0)
      val ordered = byUser(u).sortBy(e => (e._2.getTime, e._2.getNanos, e._3))
      val lastNonErr = ordered.reverse.find(_._4 != "error")
      lastNonErr match {
        case Some(e) => assert(r.getDouble(4) == e._5, s"user $u golden_value")
        case None => assert(r.isNullAt(4), s"user $u: all-error user must have null golden")
      }
      assert(r.getString(5) == ordered.last._4, s"user $u last_type")
    }
  }

  test("share_of_total: per-day shares sum to one and totals account for all events") {
    val rows = Behavior.qShareOfTotal(spark, sf001).collect()
      .map(r => (r.getDate(0).toString, r.getLong(2), r.getLong(3), r.getDouble(4)))
    val byDay = rows.groupBy(_._1)
    byDay.foreach { case (day, es) =>
      val total = es.head._3
      assert(es.forall(_._3 == total), s"$day: inconsistent day_total")
      assert(es.map(_._2).sum == total, s"$day: counts don't sum to total")
      assert(math.abs(es.map(_._4).sum - 1.0) < 1e-12, s"$day: shares don't sum to 1")
    }
    assert(rows.map(_._2).sum == Tables.events(spark, sf001).count())
  }

  test("churn matrix: week-0 users are all new; statuses conserve the active count") {
    val rows = Behavior.qChurnMatrix(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val byWeek = rows.groupBy(_._1)
    assert(byWeek(0).forall(_._2 == "new"), "week 0 has no previous week: everyone is new")
    // per week, new+retained+resurrected equals the distinct active users
    val uw = Tables.events(spark, sf001)
      .select(col("user_id"),
        expr("CAST(floor(datediff(to_date(ts), DATE'2024-01-01') / 7.0) AS INT)").as("w"))
      .distinct().groupBy("w").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    byWeek.foreach { case (w, sts) =>
      val active = sts.filter(_._2 != "churned").map(_._3).sum
      assert(active == uw(w), s"week $w: statuses $active != active ${uw(w)}")
    }
  }

  test("cohort ltv: cumulative revenue is nondecreasing and ends at the cohort total") {
    val rows = Behavior.qCohortLtv(spark, sf001).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getDouble(2), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (cohort, offs) =>
      val sorted = offs.sortBy(_._2)
      val cums = sorted.map(_._4)
      assert(cums.zip(cums.tail).forall { case (a, b) => b >= a - 1e-9 },
        s"$cohort: cum_revenue must be nondecreasing")
      assert(math.abs(sorted.map(_._3).sum - cums.last) < 1e-6,
        s"$cohort: final cum must equal summed revenue")
    }
  }

  test("top movers: deltas verified against the daily rollup, sorted by swing") {
    val rows = Behavior.qTopMovers(spark, sf001).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { case (_, _, n, prev, delta) => assert(delta == n - prev) }
    val swings = rows.map(r => math.abs(r._5))
    assert(swings.zip(swings.tail).forall { case (a, b) => a >= b }, "sorted by |delta| desc")
  }

  test("running records: strictly increasing within each priority, first date included") {
    val rows = Analytics.qRunningRecords(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (prio, rs) =>
      val prices = rs.map(_._3) // already in (date, orderkey) order
      assert(prices.zip(prices.tail).forall { case (a, b) => b > a },
        s"$prio: record sequence must be strictly increasing")
      // the global max of the priority class is always its last record
      val globalMax = Tables.orders(spark, sf001)
        .filter(col("o_orderpriority") === prio)
        .agg(max("o_totalprice")).collect()(0).getDouble(0)
      assert(prices.last == globalMax, s"$prio: last record must be the class max")
    }
  }

  test("equidepth hist: buckets partition the table with near-equal population and ordered ranges") {
    val rows = Analytics.qEquidepthHist(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val total = Tables.orders(spark, sf001).count()
    assert(rows.length == 10 && rows.map(_._2).sum == total)
    val (minN, maxN) = (rows.map(_._2).min, rows.map(_._2).max)
    assert(maxN - minN <= 1, "equi-depth buckets differ by at most one row")
    rows.sortBy(_._1).sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._3 + 1e-9, "bucket ranges must be ordered and non-overlapping")
    }
  }

  test("latency hist: buckets account for every lineitem and respect bounds") {
    val rows = Analytics.qLatencyHist(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getAs[Number](3).longValue))
    assert(rows.map(_._3).sum == Tables.lineitem(spark, sf001).count())
    rows.foreach { case (_, b, _, maxD) =>
      b match {
        case "m1_le30" => assert(maxD <= 30)
        case "m2_le60" => assert(maxD > 30 && maxD <= 60)
        case "m3_le90" => assert(maxD > 60 && maxD <= 90)
        case "m4_gt90" => assert(maxD > 90)
      }
    }
  }

  test("dq checks: clean fixture passes every check with full coverage counts") {
    val byName = Analytics.qDqChecks(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byName.size == 5)
    assert(byName("orders_pk_unique")._1 == Tables.orders(spark, sf001).count())
    assert(byName("lineitem_orphans")._1 == Tables.lineitem(spark, sf001).count())
    byName.foreach { case (check, (checked, violations)) =>
      assert(checked > 0, s"$check: empty coverage")
      assert(violations == 0, s"$check: generated fixture must be clean, got $violations")
    }
  }

  test("lateness audit: buckets partition all events; on-time includes every first arrival") {
    val rows = Behavior.qLatenessAudit(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val total = Tables.events(spark, sf001).count()
    val nUsers = Tables.events(spark, sf001).select("user_id").distinct().count()
    assert(rows.map(_._2).sum == total, "buckets must partition the event stream")
    val ontime = rows.find(_._1 == "ontime")
    assert(ontime.exists(_._2 >= nUsers), "each user's first arrival is on-time by definition")
    rows.foreach { case (b, _, maxLate) =>
      b match {
        case "ontime" => assert(maxLate == 0)
        case "lt1m" => assert(maxLate > 0 && maxLate < 60000000L)
        case "lt1h" => assert(maxLate >= 60000000L && maxLate < 3600000000L)
        case "ge1h" => assert(maxLate >= 3600000000L)
      }
    }
  }

  test("set_overlap: all pairs present; intersections bounded by set sizes") {
    val rows = Behavior.qSetOverlap(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    val types = Tables.events(spark, sf001).select("event_type").distinct().count().toInt
    assert(rows.length == types * (types - 1) / 2, "every unordered type pair exactly once")
    rows.foreach { case (a, b, na, nb, inter, j) =>
      assert(a < b)
      assert(inter <= math.min(na, nb), s"$a/$b: intersection exceeds a set size")
      assert(j >= 0.0 && j <= 1.0)
      assert(math.abs(j - inter.toDouble / (na + nb - inter)) < 1e-15)
    }
  }

  test("multimodal frames: extents stay inside the blob and sampled indices are strided") {
    def n(r: org.apache.spark.sql.Row, i: Int): Long = r.getAs[Number](i).longValue
    val rows = queries.Media.qMultimodalFrames(spark, sf001).collect()
      .map(r => (n(r, 0), n(r, 1), n(r, 2), n(r, 3)))
    val meta = queries.Media.qMultimodalMeta(spark, sf001).collect()
      .map(r => n(r, 0) -> (n(r, 1), n(r, 5))).toMap // byte_len, n_frames
    assert(rows.nonEmpty && rows.map(_._1).toSet == meta.keySet)
    rows.groupBy(_._1).foreach { case (id, fs) =>
      val (byteLen, nFrames) = meta(id)
      val idxs = fs.map(_._2).sorted
      assert(idxs.head == 0 && idxs.last < nFrames)
      assert(idxs.length <= 4, s"doc $id: stride must keep at most 4 frames, got ${idxs.length}")
      fs.foreach { case (_, idx, off, sz) =>
        assert(sz == byteLen / nFrames)
        assert(off == idx * sz && off + sz <= byteLen,
          s"doc $id frame $idx: extent [$off, ${off + sz}) outside blob of $byteLen")
      }
    }
  }

  test("anomaly/ttest degenerate inputs: sigma=0 and n<=1 arms yield NULL, never NaN/Inf") {
    // Synthetic events table hitting the divide-by-zero paths the driver
    // fixtures never exercise: a constant daily series (sigma = 0), a
    // single-row arm (n <= 1 -> variance undefined), and two constant arms
    // (pooled standard error = 0). ts written as int64 nanos, matching the
    // pandas-written fixture layout Tables.events normalizes.
    val dir = java.nio.file.Files.createTempDirectory("degen-events").toString
    import spark.implicits._
    def nanos(day: Int): Long =
      java.time.LocalDate.of(2024, 1, day).toEpochDay * 86400L * 1000000000L
    val rows = Seq(
      // "const": one event per day for 3 days -> daily n = [1,1,1], sigma = 0
      (1L, nanos(1), 1L, "const", 10.00),
      (2L, nanos(2), 1L, "const", 11.00),
      (3L, nanos(3), 1L, "const", 12.00),
      // "vary": counts [1,2] -> sigma > 0, z finite
      (4L, nanos(1), 1L, "vary", 1.00),
      (5L, nanos(2), 1L, "vary", 2.00),
      (6L, nanos(2), 2L, "vary", 3.00),
      // "solo": single even user -> n_a = 1, n_b = 0
      (7L, nanos(1), 2L, "solo", 5.00),
      // "constarm": both arms constant -> var 0 each -> se = 0
      (8L, nanos(1), 2L, "constarm", 7.00),
      (9L, nanos(1), 4L, "constarm", 7.00),
      (10L, nanos(1), 1L, "constarm", 9.00),
      (11L, nanos(1), 3L, "constarm", 9.00))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")

    val anom = Behavior.qAnomalyDays(spark, dir).collect()
    val constRows = anom.filter(_.getString(0) == "const")
    assert(constRows.length == 3)
    constRows.foreach { r =>
      assert(r.getDouble(4) == 0.0, "constant series must have sigma 0")
      assert(r.isNullAt(5), "z must be NULL when sigma = 0 (not NaN/Inf)")
      assert(r.isNullAt(6), "is_anomaly must be NULL when z is NULL")
    }
    val varyRows = anom.filter(_.getString(0) == "vary")
    assert(varyRows.nonEmpty && varyRows.forall(r =>
      !r.isNullAt(5) && !r.getDouble(5).isNaN && !r.getDouble(5).isInfinite))

    val tt = Behavior.qAbTtest(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(tt("solo").isNullAt(5), "n_a=1/n_b=0 must yield NULL t_stat")
    assert(tt("constarm").isNullAt(5), "se=0 must yield NULL t_stat")
    assert(tt("constarm").getDouble(3) == 7.0 && tt("constarm").getDouble(4) == 9.0)
    tt.values.foreach { r =>
      (3 to 5).foreach { i =>
        assert(r.isNullAt(i) || (!r.getDouble(i).isNaN && !r.getDouble(i).isInfinite),
          s"${r.getString(0)} col $i must never be NaN/Inf")
      }
    }
  }

  test("sql_q18: every order in the result truly exceeds the quantity threshold") {
    val res = queries.Relational.queries("q_sql_q18")(spark, sf001).collect()
    assert(res.nonEmpty, "threshold too high for sf0.001 fixture")
    val qtyByOrder = Tables.lineitem(spark, sf001).groupBy("l_orderkey")
      .agg(sum("l_quantity").as("q")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    res.foreach { r =>
      val ok = r.getLong(2)
      assert(qtyByOrder(ok) > 250, s"order $ok qty ${qtyByOrder(ok)} <= 250")
      assert(math.abs(r.getDouble(5) - qtyByOrder(ok)) < 1e-9)
    }
  }
}
