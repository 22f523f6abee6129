package graft

import graft.queries.{Analytics, Behavior, Relational, TextOps, VectorOps, Windows}
import org.apache.spark.sql.functions._

/** Model-based invariants for queries whose DuckDB oracle shares the
  * Spark formulation (lag/cumsum sessionization, systematic sampling,
  * generated calendars, arithmetic binning): the oracle proves
  * engine-parity, these prove the SEMANTICS against independent models. */
class InvariantSpec extends SparkSuite {

  test("events schema contract: ts is TIMESTAMP (LTZ) for the on-disk generation") {
    // The driver's parquet generation has flipped twice (ns-as-Long, then
    // us-NTZ); this pins the normalized reader output so the next flip is a
    // named 1-test failure instead of a 17-test cascade.
    assert(Tables.events(spark, sf001).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val r = Tables.events(spark, sf001).select(col("ts")).head()
    assert(r.getTimestamp(0) != null, "Row.getTimestamp must return java.sql.Timestamp")
    // Unit guard: a generation shipping ts as raw int64 in the wrong unit
    // (micros treated as nanos or vice versa) stays TimestampType but lands
    // millennia away — pin the documented fixture window (2024-01 +/- slack).
    val yr = Tables.events(spark, sf001)
      .agg(min(year(col("ts"))).as("lo"), max(year(col("ts"))).as("hi")).head()
    assert(yr.getInt(0) >= 2020 && yr.getInt(1) <= 2030,
      s"events.ts outside the fixture window: years ${yr.getInt(0)}..${yr.getInt(1)} — unit mix-up in the reader branch?")
  }

  test("table schema contract: every reader matches FIXTURES.md for the on-disk generation") {
    // Same defense as the events test, widened to the full star schema: the
    // driver regenerates the parquet between rounds, and a silent type flip
    // (int32->int64, date->timestamp, tz drop) should fail HERE by name, not
    // as a scatter of downstream analysis exceptions.
    import org.apache.spark.sql.types._
    val expected: Map[String, Seq[(String, DataType)]] = Map(
      "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType),
      "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> Seq("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType))
    val readers: Map[String, org.apache.spark.sql.DataFrame] = Map(
      "region" -> Tables.region(spark, sf001), "nation" -> Tables.nation(spark, sf001),
      "customer" -> Tables.customer(spark, sf001), "supplier" -> Tables.supplier(spark, sf001),
      "part" -> Tables.part(spark, sf001), "orders" -> Tables.orders(spark, sf001),
      "lineitem" -> Tables.lineitem(spark, sf001), "events" -> Tables.events(spark, sf001),
      "documents" -> Tables.documents(spark, sf001),
      "embeddings" -> Tables.embeddings(spark, sf001))
    expected.foreach { case (table, cols) =>
      val got = readers(table).schema.fields.toSeq.map(f => f.name -> f.dataType)
      assert(got.map(_._1) == cols.map(_._1),
        s"$table: column names/order changed: got ${got.map(_._1)}")
      got.zip(cols).foreach { case ((name, gt), (_, et)) =>
        // containsNull is a parquet-writer detail, not part of the contract;
        // the raw date-ish columns (o_orderdate, l_shipdate) have shipped
        // both with and without tz — every query uses only tz-agnostic
        // functions on them (date_trunc/year/datediff), so either flavor is
        // in-contract. events.ts stays strictly LTZ (normalized in Tables).
        val ok = (gt, et) match {
          case (a: ArrayType, b: ArrayType) => a.elementType == b.elementType
          case (TimestampType, TimestampNTZType) | (TimestampNTZType, TimestampType)
            if name != "ts" => true
          case _ => gt == et
        }
        assert(ok, s"$table.$name: expected $et, got $gt")
      }
    }
  }

  test("sessionize: no intra-session gap exceeds 30min; inter-session gaps do") {
    val sessions = Windows.qSessionize(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3).getTime, r.getTimestamp(4).getTime))
    assert(sessions.nonEmpty)
    val events = Tables.events(spark, sf001)
      .select(col("user_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val gapMs = 30L * 60 * 1000
    sessions.groupBy(_._1).foreach { case (user, ss) =>
      val sorted = ss.sortBy(_._2)
      // sessions partition the user's events: counts add up
      assert(sorted.map(_._3).sum == events(user).length,
        s"user $user: session event counts must cover all events")
      // within a session, consecutive events gap <= 30min
      sorted.foreach { case (_, _, _, start, end) =>
        val within = events(user).filter(t => t >= start && t <= end)
        within.sliding(2).foreach {
          case Array(a, b) => assert(b - a <= gapMs,
            s"user $user: intra-session gap ${b - a}ms exceeds 30min")
          case _ =>
        }
      }
      // between consecutive sessions, the boundary gap > 30min
      sorted.sliding(2).foreach {
        case Array((_, _, _, _, prevEnd), (_, _, _, nextStart, _)) =>
          assert(nextStart - prevEnd > gapMs,
            s"user $user: sessions split although gap <= 30min")
        case _ =>
      }
    }
  }

  test("stratified sample takes exactly ceil(n/10) rows per language") {
    val per = TextOps.qSampleStratified(spark, sf001)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = Tables.documents(spark, sf001)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(per.keySet == full.keySet, "every stratum must be represented")
    per.foreach { case (lang, n) =>
      val expect = (full(lang) + 9) / 10 // rn % 10 == 1 hits ceil(n/10) rows
      assert(n == expect, s"$lang: $n sampled, expected $expect of ${full(lang)}")
    }
  }

  test("gap fill emits one row per calendar day, zero-filled, mass-conserving") {
    val rows = Relational.qGapFill(spark, sf001).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    assert(rows.length == 90, s"Q1-1995 has 90 days, got ${rows.length}")
    rows.sliding(2).foreach {
      case Array((a, _), (b, _)) =>
        assert(java.time.temporal.ChronoUnit.DAYS.between(a, b) == 1, "calendar gap")
      case _ =>
    }
    val total = Tables.orders(spark, sf001)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
      .count()
    assert(rows.map(_._2).sum == total, "densification must not create or lose orders")
    assert(rows.exists(_._2 == 0L) || total >= 90, "zero-filled days surface as rows")
  }

  test("histogram conserves mass: bucket counts and sums add to the table totals") {
    val h = Relational.qAggHistogram(spark, sf001).collect()
    val o = Tables.orders(spark, sf001)
    assert(h.map(_.getLong(1)).sum == o.count())
    val sumPrice = o.agg(expr(graft.queries.Det.sumDec2("o_totalprice"))).head.getDouble(0)
    assert(math.abs(h.map(_.getDouble(2)).sum - sumPrice) < 1e-6)
    val buckets = h.map(_.getLong(0))
    assert(buckets.forall(b => b >= 0 && b <= 9), "buckets capped to [0,9]")
  }

  test("sequence packing tiles each language stream: no gaps, no overlaps, bins consistent") {
    // stream order within a language is (shard, doc_id) — the two-phase
    // prefix sum lays shards end-to-end; the tiling must still be exact
    val rows = graft.queries.TextOps.qPackSequences(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, g) =>
      var expect = 0L
      g.sortBy(r => (r._3, r._1)).foreach { case (doc, _, _, n, off, sb, eb) =>
        assert(off == expect, s"$lang doc $doc starts at $off, stream position is $expect")
        expect += n
        assert(sb == off / 2048, s"$lang doc $doc start_bin")
        assert(eb == (off + n - 1) / 2048, s"$lang doc $doc end_bin")
        assert(sb <= eb)
      }
    }
  }

  test("events.props is always exactly {\"k\": int} — the shape the map/json oracles hardcode") {
    // q_map_funcs / q_json_roundtrip oracles (Funcs.scala) spell DuckDB
    // equivalents positionally against this single-key shape; if the
    // testdata generator ever changes it, THIS must fail first
    val bad = Tables.events(spark, sf001)
      .filter(col("props").isNull ||
        !col("props").rlike("""^\{"k": ?-?\d+\}$"""))
      .count()
    assert(bad == 0, s"$bad events.props rows deviate from the {\"k\": int} shape")
  }

  test("join_salted: the salt is invisible — result equals the plain unsalted join") {
    val salted = Relational.qJoinSalted(spark, sf001).collect()
    val plain = Tables.lineitem(spark, sf001)
      .join(Tables.orders(spark, sf001),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"))
      .orderBy("o_orderpriority").collect()
    assert(salted.length == plain.length)
    salted.zip(plain).foreach { case (s, p) =>
      assert(s.getString(0) == p.getString(0) && s.getLong(1) == p.getLong(1),
        s"salted ${s.mkString(",")} != plain ${p.mkString(",")}")
    }
  }

  test("topn_diversified: 20 rows, no supplier over the 2-row cap, prices dominate the excluded") {
    val rows = Relational.qTopnDiversified(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
    assert(rows.length == 20)
    rows.groupBy(_._1).foreach { case (supp, g) =>
      assert(g.length <= 2, s"supplier $supp appears ${g.length} times (cap 2)") }
    // every non-selected lineitem is either cheaper than the cut or blocked
    // by its supplier's two selected rows being at least as expensive
    val cut = rows.map(_._4).min
    val sel = rows.map(r => (r._2, r._3)).toSet
    val blockedOk = Tables.lineitem(spark, sf001)
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice").collect()
      .filter(r => r.getDouble(3) > cut &&
        !sel((r.getLong(1), r.getInt(2))))
      .forall { r =>
        rows.count(s => s._1 == r.getLong(0) && s._4 >= r.getDouble(3)) == 2 }
    assert(blockedOk, "an excluded row above the cut wasn't blocked by its supplier cap")
  }

  test("cdc_apply: deletes drop F-finals, upserts add the last order, untouched pass through") {
    val out = graft.queries.Behavior.qCdcApply(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val cust = Tables.customer(spark, sf001)
      .select("c_custkey", "c_acctbal").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val latest = Tables.orders(spark, sf001)
      .select(col("o_custkey"), col("o_orderdate").cast("string").as("d"),
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .groupBy(_._1).view.mapValues(_.maxBy(t => (t._2, t._3))).toMap
    cust.foreach { case (key, bal) =>
      latest.get(key) match {
        case Some((_, _, _, "F", _)) =>
          assert(!out.contains(key), s"customer $key had a final F change and must be deleted")
        case Some((_, _, _, _, price)) =>
          assert(math.abs(out(key) - (bal + price)) < 1e-6,
            s"customer $key balance not upserted by the latest change")
        case None =>
          assert(out(key) == bal, s"untouched customer $key must pass through")
      }
    }
  }

  test("rolling_active: coverage-interval WAU equals the brute-force per-day distinct") {
    val out = graft.queries.Behavior.qRollingActive(spark, sf001)
      .select(col("day").cast("string"), col("wau")).collect()
      .map(r => java.time.LocalDate.parse(r.getString(0)) -> r.getLong(1)).toMap
    val ud = Tables.events(spark, sf001)
      .select(col("user_id"), to_date(col("ts")).cast("string").as("d")).distinct()
      .collect().map(r => (r.getLong(0), java.time.LocalDate.parse(r.getString(1))))
    val days = ud.map(_._2).distinct
    assert(out.keySet == days.toSet, "output must cover exactly the observed day domain")
    days.foreach { d =>
      val brute = ud.filter { case (_, a) =>
        !a.isAfter(d) && !a.isBefore(d.minusDays(6)) }.map(_._1).distinct.length
      assert(out(d) == brute, s"day $d: coverage WAU ${out(d)} != brute-force $brute")
    }
  }

  test("rank_norm: per-dim ranks are the flat (v, vec_id) row_number permutation, pct in [0,1]") {
    val rows = graft.queries.VectorOps.qRankNorm(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (dim, g) =>
      // ranks are exactly 1..n
      assert(g.map(_._4).sorted.sameElements(1L to g.length),
        s"dim $dim ranks are not a permutation of 1..${g.length}")
      // rank order IS (v, vec_id) order — the two-phase plan must agree
      // with the flat sort
      val byRank = g.sortBy(_._4).map(r => (r._3, r._1))
      assert(byRank.sameElements(byRank.sortBy(identity)),
        s"dim $dim: two-phase rank disagrees with the flat (v, vec_id) order")
      g.foreach(r => assert(r._5 >= 0.0 && r._5 <= 1.0, s"pct ${r._5} outside [0,1]"))
    }
  }

  test("line dedup: kept mass equals the distinct-line count, drops are real, text reassembles") {
    val out = TextOps.qTextLineDedup(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    // independent model: distinct 8-word lines of the corpus
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val lines = docs.flatMap { case (id, t) =>
      t.split(" ").grouped(8).zipWithIndex.map { case (g, i) => (id, i, g.mkString(" ")) } }
    assert(out.map(_._2).sum == lines.length, "n_lines must cover every segmented line")
    assert(out.map(_._3.toLong).sum == lines.map(_._3).distinct.length,
      "total kept lines must equal the corpus distinct-line count (first-occurrence-keep)")
    assert(out.exists(r => r._3 < r._2), "fixture must exercise real cross-doc line drops")
    // reassembly agrees with a brute-force first-occurrence replay in
    // GLOBAL (doc_id, li) order (a per-doc hash-order replay would hand
    // "first occurrence" to whichever doc the map iterates first)
    val seen = scala.collection.mutable.HashSet[String]()
    val expect = lines.sortBy(l => (l._1, l._2))
      .collect { case (id, _, l) if seen.add(l) => (id, l) }
      .groupBy(_._1).map { case (id, ks) => id -> ks.map(_._2).mkString(" ") }
      .withDefaultValue("")
    out.foreach { case (id, _, _, kept) =>
      assert(kept == expect(id), s"doc $id kept_text diverges from the sequential replay") }
  }

  test("diversity: moments match a brute-force model; bounds hold") {
    val out = graft.queries.TextOps.qTextDiversity(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))
    val model = Tables.documents(spark, sf001).select(col("doc_id"), col("text")).collect()
      .map { r =>
        val c = r.getString(1).split(" ").groupBy(identity).map(_._2.length.toLong)
        (r.getLong(0), c.sum, c.size.toLong, c.map(x => x * x).sum)
      }.map { case (id, n, ty, c2) => id -> (n, ty, c2) }.toMap
    assert(out.nonEmpty)
    out.foreach { case (id, n, ty, ttr, simp) =>
      val (mn, mty, mc2) = model(id)
      assert(n == mn && ty == mty, s"doc $id: token/type counts diverge from model")
      assert(ty <= n && ttr > 0 && ttr <= 1.0, s"doc $id: ttr $ttr out of bounds")
      assert(simp >= 0.0 && simp < 1.0, s"doc $id: simpson $simp out of bounds")
      assert(math.abs(simp - (1.0 - mc2.toDouble / (mn.toDouble * mn))) < 1e-12,
        s"doc $id: simpson diverges from the exact-moment model")
    }
  }

  test("temperature sampling: weights normalize, slots fit the budget, alpha=0.5 compresses the mix") {
    val out = graft.queries.TextOps.qSampleTemperature(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4)))
    assert(out.length >= 2)
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-9, "p_raw must sum to 1")
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-9, "weights must sum to 1")
    val slots = out.map(_._5.toLong).sum
    assert(slots <= 10000 && slots >= 10000 - out.length,
      s"slot total $slots must fill the 10k budget up to flooring slack")
    // alpha = 0.5 compresses: above-average sources get downweighted, below-average upweighted
    out.foreach { case (src, _, p, w, _) =>
      val avg = 1.0 / out.length
      if (p > avg) assert(w < p, s"$src: big source must be downweighted (p=$p w=$w)")
      if (p < avg) assert(w > p, s"$src: small source must be upweighted (p=$p w=$w)")
    }
    // monotone: more docs never means a smaller weight
    out.sortBy(_._2).sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._4 + 1e-12, s"weight must be monotone in n_docs: $a vs $b") }
  }

  test("cov diag: per-dim moments match an exact-decimal Scala model, all dims present") {
    val out = graft.queries.VectorOps.qEmbeddingCovDiag(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val vecs = Tables.embeddings(spark, sf001).select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val dims = vecs.head.length
    assert(out.map(_._1).toSeq == (0 until dims), "every dimension must appear exactly once")
    out.foreach { case (d, n, mean, variance) =>
      assert(n == vecs.length)
      val xs = vecs.map(v => BigDecimal(v(d).toDouble).setScale(7, BigDecimal.RoundingMode.HALF_UP))
      val sx = xs.sum; val sxx = xs.map(x => x * x).sum
      val m = sx.toDouble / n
      assert(math.abs(mean - m) < 1e-15, s"dim $d mean diverges")
      assert(math.abs(variance - (sxx.toDouble / n - m * m)) < 1e-15, s"dim $d variance diverges")
      assert(variance > 0.0, s"dim $d: non-positive variance on a spread fixture")
    }
  }

  test("hard negatives: labels always differ, ranks dense, dominated by unrestricted top-k") {
    val hn = graft.queries.Llm.qHardNegatives(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4), r.getDouble(5)))
    assert(hn.nonEmpty)
    hn.foreach { case (pid, plabel, rnk, nid, nlabel, cos) =>
      assert(nlabel != plabel, s"probe $pid: same-label vector $nid in the negatives")
      assert(rnk >= 1 && rnk <= 3 && cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9)
    }
    hn.groupBy(_._1).foreach { case (pid, g) =>
      assert(g.map(_._3).sorted.sameElements(1 to g.length), s"probe $pid ranks not dense")
      // within a probe, cos is non-increasing in rank
      val byRnk = g.sortBy(_._3).map(_._6)
      assert(byRnk.zip(byRnk.tail).forall { case (a, b) => a >= b })
    }
    // the best hard negative can never beat the unrestricted best neighbor
    val topk = graft.queries.Llm.qSimTopk(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .filter(_._2 == 1).map(r => r._1 -> r._4).toMap
    hn.filter(_._3 == 1).foreach { case (pid, _, _, _, _, cos) =>
      assert(cos <= topk(pid) + 1e-9, s"probe $pid: hard negative outranks the global top-1")
    }
  }

  test("embedding drift: matches an exact-decimal Scala centroid model") {
    val out = graft.queries.VectorOps.qEmbeddingDrift(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    val vecs = Tables.embeddings(spark, sf001).select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val dims = vecs.head._2.length
    def sums(g: Array[Array[Float]]): Array[BigDecimal] =
      (0 until dims).map(d => g.map(v =>
        BigDecimal(v(d).toDouble).setScale(7, BigDecimal.RoundingMode.HALF_UP)).sum).toArray
    val byLabel = vecs.groupBy(_._1).map { case (l, g) => l -> g.map(_._2) }
    val gSum = sums(vecs.map(_._2)); val gN = vecs.length
    out.foreach { case (label, nVecs, drift) =>
      val g = byLabel(label)
      assert(nVecs == g.length, s"label $label vec count diverges")
      val lSum = sums(g)
      var acc = 0.0
      (0 until dims).foreach { d =>
        val diff = lSum(d).toDouble / g.length - gSum(d).toDouble / gN
        acc += diff * diff
      }
      assert(math.abs(drift - math.sqrt(acc)) < 1e-12,
        s"label $label drift $drift diverges from the decimal centroid model")
    }
  }

  test("novelty: first doc is fully novel, totals cover distinct bigram mass") {
    val out = TextOps.qTextNovelty(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val first = out.minBy(_._1)
    assert(first._2 == first._3 && first._4 == 1.0,
      "the ingestion-order-first doc must be 100% novel")
    out.foreach { case (id, nb, nn, rate) =>
      assert(nn <= nb && rate >= 0.0 && rate <= 1.0, s"doc $id bounds violated") }
    // Σ novel across docs = corpus distinct-bigram count (each bigram is
    // novel exactly once, in its min-doc)
    val distinctBigrams = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").sliding(2).filter(_.length == 2).map(_.mkString(" ")))
      .distinct.length
    assert(out.map(_._3).sum == distinctBigrams,
      "novel mass must equal the corpus distinct-bigram count")
  }

  test("vocab prune: coverage is monotone and matches a brute-force token ranking") {
    val out = TextOps.qVocabPrune(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq == Seq(5, 10, 20))
    val toks = Tables.documents(spark, sf001).select(col("text")).collect()
      .flatMap(_.getString(0).split(" "))
    val ranked = toks.groupBy(identity).map { case (t, g) => (t, g.length.toLong) }
      .toSeq.sortBy { case (t, c) => (-c, t) }
    out.foreach { case (k, cov, tot, rate) =>
      assert(tot == toks.length.toLong)
      assert(cov == ranked.take(k).map(_._2).sum, s"top-$k mass diverges from brute force")
      assert(math.abs(rate - cov.toDouble / tot) < 1e-15)
    }
    assert(out.sliding(2).forall { case Array(a, b) => a._2 <= b._2 }, "coverage must be monotone")
  }

  test("dedup cluster stats: histogram is non-vacuous and conserves the audited corpus") {
    val out = graft.queries.Llm.qDedupClusterStats(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.exists(r => r._1 >= 2 && r._2 > 0),
      "the re-ingestion slice must produce a non-empty multiplicity tail at every SF")
    val n = Tables.documents(spark, sf001).count()
    val slice = Tables.documents(spark, sf001).filter(col("doc_id") % 97 === 0).count()
    assert(out.map(_._3).sum == n + slice, "histogram doc mass must cover the audited corpus")
    out.foreach { case (copies, clusters, docs, extra) =>
      assert(docs == copies * clusters && extra == (copies - 1) * clusters) }
  }

  test("wilson CI: brackets p_hat, stays in [0,1], tightens with n") {
    val out = graft.queries.Behavior.qAbWilson(spark, sf001).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(out.nonEmpty)
    out.foreach { case (et, arm, n, conv, p, lo, hi) =>
      assert(conv <= n, s"$et/$arm: conversions exceed trials")
      assert(lo >= 0.0 && hi <= 1.0, s"$et/$arm: CI [$lo,$hi] escapes [0,1]")
      assert(lo <= p && p <= hi, s"$et/$arm: CI [$lo,$hi] must bracket p_hat=$p")
      // independent model: the closed-form Wilson bounds recomputed in Scala
      val z = 1.96; val nd = n.toDouble
      val center = (p + z * z / (2 * nd)) / (1 + z * z / nd)
      val half = z * math.sqrt(p * (1 - p) / nd + z * z / (4 * nd * nd)) / (1 + z * z / nd)
      assert(math.abs(lo - (center - half)) < 1e-12 && math.abs(hi - (center + half)) < 1e-12,
        s"$et/$arm: CI diverges from the Scala Wilson model")
    }
  }

  test("rfm segmentation: segment counts partition the customer base, bands match a replay") {
    val out = graft.queries.Behavior.qRfmSegment(spark, sf001).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5)))
    val custs = Tables.orders(spark, sf001)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("f"),
        expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))").as("m"),
        expr("datediff(DATE '2001-12-31', CAST(max(o_orderdate) AS DATE))").as("r"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.map(_._5).sum == custs.length, "segment counts must partition the customers")
    assert(out.map(_._6).sum == custs.map(_._2).sum, "monetary cents must be conserved")
    val model = custs.groupBy { case (f, m, r) =>
      (if (r <= 365) 3 else if (r <= 1095) 2 else 1,
        if (f >= 12) 3 else if (f >= 9) 2 else 1,
        if (m >= 300000000L) 3 else if (m >= 200000000L) 2 else 1)
    }.map { case (k, g) => k -> (g.length.toLong, g.map(_._2).sum) }
    assert(out.length == model.size)
    out.foreach { case (seg, rs, fs, ms, n, cents) =>
      assert(seg == s"r${rs}f${fs}m$ms", "segment label must encode the band triple")
      assert(model((rs, fs, ms)) == ((n, cents)), s"$seg diverges from the band replay")
    }
  }

  test("key skew audit: orderkey stats match a brute-force count profile") {
    val out = graft.queries.Analytics.qKeySkewAudit(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(6)))
      .toMap
    assert(out.keySet == Set("l_orderkey", "l_partkey", "l_suppkey"))
    val cnts = Tables.lineitem(spark, sf001).groupBy("l_orderkey").count()
      .collect().map(_.getLong(1)).sorted
    val (nKeys, nRows, maxCnt, p50, skew) = out("l_orderkey")
    assert(nKeys == cnts.length && nRows == cnts.sum && maxCnt == cnts.max)
    // p·(n-1) interpolated median on the sorted counts
    val idx = 0.5 * (cnts.length - 1)
    val med = cnts(idx.toInt) + (idx - idx.toInt) * (cnts(math.min(idx.toInt + 1, cnts.length - 1)) - cnts(idx.toInt))
    assert(math.abs(p50 - med) < 1e-9, s"p50 $p50 != model median $med")
    assert(math.abs(skew - maxCnt.toDouble / p50) < 1e-12)
  }

  test("bpe encode: matches a plain-Scala greedy merge replay with frequency-ranked ids") {
    // independent model: re-apply the learned merge table with the
    // textbook fold (accumulator-tail greedy scan) per word, concatenate
    // per doc, rank the resulting token vocabulary by (count desc, token)
    // — the query's string-replace formulation must agree row for row
    val merges = TextOps.bpeMerges(spark, sf001).sortBy(_._1).map(m => (m._2, m._3))
    assert(merges.nonEmpty, "the trainer must learn merges on this fixture")
    def applyMerge(toks: List[String], l: String, r: String): List[String] =
      toks.foldLeft(List.empty[String]) { (acc, t) =>
        if (acc.nonEmpty && acc.last == l && t == r) acc.init :+ (l + r)
        else acc :+ t
      }
    val docs = Tables.documents(spark, sf001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val encodedDocs = docs.map { case (id, text) =>
      id -> text.split(" ").filter(_.nonEmpty).toList.flatMap { w =>
        merges.foldLeft(w.map(_.toString).toList) {
          case (ts, (l, r)) => applyMerge(ts, l, r)
        }
      }
    }
    val cnt = encodedDocs.flatMap(_._2).groupBy(identity).map { case (t, g) => t -> g.size }
    val ranked = cnt.toSeq.sortBy { case (t, c) => (-c, t) }.zipWithIndex
      .map { case ((t, _), i) => t -> (i + 1L) }.toMap
    val expect = encodedDocs.filter(_._2.nonEmpty).map { case (id, toks) =>
      (id, toks.size.toLong, toks.map(ranked).mkString(" "))
    }.sortBy(_._1).toSeq
    val got = TextOps.qBpeEncode(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got.size == expect.size, s"doc count: got ${got.size}, model ${expect.size}")
    got.zip(expect).foreach { case (g, e) =>
      assert(g == e, s"doc ${e._1} diverges: got $g, model $e")
    }
    // the encode must compress: merged tokens mean fewer tokens than chars
    val nChars = docs.map(_._2.count(_ != ' ').toLong).sum
    val nToks = expect.map(_._2).sum
    assert(nToks < nChars, s"10 merges must compress: $nToks tokens vs $nChars chars")
  }

  test("prefix dedup: clusters match a brute-force 16-word-head grouping") {
    val out = graft.queries.Llm.qDedupPrefix(spark, sf001).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val model = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("n_chars"), col("text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2).split(" ").take(16).mkString(" ")))
      .groupBy(_._3).filter(_._2.length >= 2)
    assert(out.length == model.size, "cluster count diverges from brute force")
    assert(out.nonEmpty, "fixture must contain shared-prefix clusters")
    val byCanon = out.map(r => r._3 -> r).toMap
    model.values.foreach { g =>
      val canon = g.map(_._1).min
      val row = byCanon(canon)
      assert(row._2 == g.length && row._4 == g.map(_._2).min && row._5 == g.map(_._2).max,
        s"cluster at canonical $canon diverges from brute force")
    }
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // Spark `percentile` semantics: linear interpolation at p·(n-1), in the
  // EXACT float form both engines share — lower·(1−frac) + upper·frac
  // (the a+(b−a)·frac association differs by an ulp on some fracs).
  private def pctl(sorted: IndexedSeq[Double], p: Double): Double = {
    val pos = p * (sorted.length - 1)
    val lo = pos.toInt
    if (lo == sorted.length - 1) sorted(lo)
    else sorted(lo) * (1.0 - (pos - lo)) + sorted(lo + 1) * (pos - lo)
  }

  test("lm_score: matches a brute-force fixed-point bigram-LM replay") {
    val docs = Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val pairs = docs.flatMap { case (id, t) => t.sliding(2).collect { case Seq(a, b) => (id, a, b) } }
    val c12 = pairs.groupBy(p => (p._2, p._3)).map { case (k, v) => k -> v.length.toLong }
    val c1 = c12.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val model = pairs.groupBy(_._1).map { case (id, ps) =>
      val fix = ps.map { case (_, a, b) => c12((a, b)) * 1000000000L / c1(a) }
      id -> (ps.length.toLong, fix.sum, fix.min)
    }
    val out = TextOps.qLmScore(spark, sf001).collect()
    assert(out.nonEmpty && out.length == model.size)
    out.foreach { r =>
      val (n, sum, mn) = model(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == sum && r.getLong(3) == mn,
        s"doc ${r.getLong(0)} diverges from the LM replay")
      val meanP = r.getDouble(4)
      assert(meanP > 0.0 && meanP <= 1.0, s"mean_p out of (0,1]: $meanP")
    }
  }

  test("token_budget: hash-priority greedy fill is maximal and matches a replay") {
    val docs = Tables.documents(spark, sf001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").length.toLong, sha256Hex(r.getString(2))))
    val out = TextOps.qTokenBudget(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out.nonEmpty)
    docs.groupBy(_._2).foreach { case (lang, g) =>
      val budget = g.map(_._3).sum * 3 / 5
      val ordered = g.sortBy(d => (d._4, d._1))
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      val kept = ordered.zip(cums).takeWhile(_._2 <= budget)
      val got = out.filter(_._2 == lang)
      assert(got.map(_._1).toSet == kept.map(_._1._1).toSet,
        s"$lang membership diverges from the greedy replay")
      assert(got.forall(_._5 == budget), s"$lang budget mismatch")
      // maximality: the next doc in priority order would not have fit
      if (kept.length < ordered.length)
        assert(cums(kept.length) > budget, s"$lang fill is not maximal")
    }
  }

  test("ks_test: D matches the brute-force pooled-ECDF max, bounded in [0,1]") {
    val ev = Tables.events(spark, sf001)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val a = ev.filter(_._1 == "click").map(_._2)
    val b = ev.filter(_._1 == "view").map(_._2)
    val grid = (a ++ b).distinct.sorted
    val model = grid.map(v =>
      math.abs(a.count(_ <= v).toDouble / a.length - b.count(_ <= v).toDouble / b.length)).max
    val r = Behavior.qKsTest(spark, sf001).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == a.length && r(0).getLong(1) == b.length)
    val d = r(0).getDouble(3)
    assert(d == model, s"ks_d $d != brute-force $model")
    assert(d >= 0.0 && d <= 1.0)
  }

  test("chi2_drift: contingency table matches an epoch-midpoint replay, terms consistent") {
    val ev = Tables.events(spark, sf001)
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000))
    val secs = ev.map(_._2)
    val mid = (secs.min + secs.max) / 2
    val out = Behavior.qChi2Drift(spark, sf001).collect()
    assert(out.map(_.getString(0)).toSet == ev.map(_._1).toSet)
    val totEarly = ev.count(_._2 < mid).toLong
    val grand = ev.length.toLong
    out.foreach { r =>
      val (t, early, late) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(early == ev.count(e => e._1 == t && e._2 < mid),
        s"$t early count diverges from the midpoint replay")
      assert(early + late == ev.count(_._1 == t).toLong)
      val expected = ((early + late) * totEarly).toDouble / grand
      assert(r.getDouble(3) == expected, s"$t expected_early mismatch")
      assert(r.getDouble(4) == (early - expected) * (early - expected) / expected,
        s"$t chi2 term mismatch")
    }
  }

  test("dataset_card: volumes and prefix-dup mass match a replay; dup signal non-vacuous") {
    val docs = Tables.documents(spark, sf001)
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3).split(" ")))
    val out = TextOps.qDatasetCard(spark, sf001).collect()
    assert(out.map(_.getString(0)).toSet == docs.map(_._2).toSet)
    var anyDup = 0L
    out.foreach { r =>
      val g = docs.filter(_._2 == r.getString(0))
      val toks = g.map(_._4.length.toLong)
      assert(r.getLong(1) == g.length && r.getLong(2) == g.map(_._3).distinct.length.toLong)
      assert(r.getLong(3) == toks.sum && r.getLong(4) == toks.min && r.getLong(5) == toks.max)
      assert(r.getDouble(6) == toks.sum.toDouble / g.length)
      val dupDocs = g.groupBy(_._4.take(16).mkString(" ")).values
        .filter(_.size >= 2).map(_.size.toLong).sum
      assert(r.getLong(7) == dupDocs, s"${r.getString(0)} prefix-dup mass diverges")
      anyDup += dupDocs
    }
    assert(anyDup > 0, "fixture must exercise the prefix-dup signal (vacuity trap)")
  }

  test("tokenizer_fertility: consistent with the encoder's own output; every word >= 1 token") {
    val enc = TextOps.qBpeEncode(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.documents(spark, sf001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ").length.toLong))
    val out = TextOps.qTokenizerFertility(spark, sf001).collect()
    out.foreach { r =>
      val g = docs.filter(_._2 == r.getString(0))
      assert(r.getLong(1) == g.length.toLong)
      assert(r.getLong(2) == g.map(_._3).sum)
      assert(r.getLong(3) == g.map(d => enc(d._1)).sum,
        s"${r.getString(0)} BPE token mass diverges from the encoder output")
      assert(r.getDouble(4) >= 1.0, "a word always encodes to at least one token")
    }
  }

  test("dup_profile: line masses match a replay; sub-doc duplication non-vacuous") {
    val docs = Tables.documents(spark, sf001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ")))
    val out = TextOps.qDupProfile(spark, sf001).collect()
    assert(out.map(_.getString(0)).toSet == docs.map(_._2).toSet)
    var anyDup = false
    out.foreach { r =>
      val g = docs.filter(_._2 == r.getString(0))
      val lines = g.flatMap { case (_, _, t) =>
        (0 to (t.length - 1) / 8).map(i => t.slice(i * 8, i * 8 + 8).mkString(" ")) }
      assert(r.getLong(1) == g.length.toLong && r.getLong(2) == lines.length.toLong)
      assert(r.getLong(3) == lines.distinct.length.toLong,
        s"${r.getString(0)} distinct-line count diverges")
      if (r.getLong(2) > r.getLong(3)) anyDup = true
    }
    assert(anyDup, "fixture must exercise sub-doc line duplication (vacuity trap)")
  }

  test("conversion_lag: cohorts and lags match a first-signup/first-purchase replay") {
    val ev = Tables.events(spark, sf001)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime / 1000))
    val signup = ev.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, g) => u -> g.map(_._3).min }
    val conv = signup.flatMap { case (u, s) =>
      val ps = ev.filter(e => e._1 == u && e._2 == "purchase" && e._3 >= s).map(_._3)
      if (ps.isEmpty) None else Some(u -> (ps.min - s))
    }
    val out = Behavior.qConversionLag(spark, sf001).collect()
    assert(out.nonEmpty && out.map(_.getLong(1)).sum == signup.size.toLong)
    out.foreach { r =>
      val wk = r.getLong(0)
      val inCohort = signup.filter { case (_, s) => s / 604800 == wk }
      assert(r.getLong(1) == inCohort.size.toLong, s"week $wk signup count diverges")
      val lags = inCohort.keys.toSeq.flatMap(conv.get)
      assert(r.getLong(2) == lags.length.toLong, s"week $wk conversion count diverges")
      if (lags.nonEmpty) {
        assert(r.getDouble(3) == pctl(lags.map(_.toDouble).sorted.toIndexedSeq, 0.5),
          s"week $wk median lag diverges")
        assert(r.getLong(4) == lags.max)
      }
    }
  }

  test("autocorr: r matches an exact-integer Pearson replay over the daily grid, |r| <= 1") {
    val ev = Tables.events(spark, sf001)
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000 / 86400))
    val daily = ev.groupBy(identity).map { case ((t, d), g) => (t, d) -> g.length.toLong }
    val out = Behavior.qAutocorr(spark, sf001).collect()
    assert(out.length == ev.map(_._1).distinct.length * 2)
    out.foreach { r =>
      val (t, k) = (r.getString(0), r.getInt(1))
      // .toSeq BEFORE collect: collecting (x, y) pairs out of a Map would
      // rebuild a Map and silently dedup equal x counts
      val pairs = daily.toSeq.collect { case ((`t`, d), x) if daily.contains((t, d - k)) =>
        (x, daily((t, d - k))) }
      assert(r.getLong(2) == pairs.length.toLong, s"($t, lag $k) pair count diverges")
      val n = pairs.length.toLong
      val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val (sxy, sxx, syy) = (pairs.map(p => p._1 * p._2).sum,
        pairs.map(p => p._1 * p._1).sum, pairs.map(p => p._2 * p._2).sum)
      if (n * sxx - sx * sx != 0 && n * syy - sy * sy != 0) {
        val model = (n * sxy - sx * sy).toDouble /
          (math.sqrt((n * sxx - sx * sx).toDouble) * math.sqrt((n * syy - sy * sy).toDouble))
        assert(r.getDouble(3) == model, s"($t, lag $k) r diverges from the replay")
        assert(math.abs(r.getDouble(3)) <= 1.0)
      } else assert(r.isNullAt(3), s"($t, lag $k) must be NULL on zero variance")
    }
  }

  test("degree_dist: histogram conserves the oracle-verified edge mass") {
    val edges = VectorOps.qDedupNgram(spark, sf001)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val degs = (edges.map(_._1) ++ edges.map(_._2)).groupBy(identity)
      .map { case (n, g) => n -> g.length.toLong }
    val hist = degs.values.groupBy(identity).map { case (d, g) => d -> g.size.toLong }
    val out = VectorOps.qDegreeDist(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty, "fixture must exercise the dup graph")
    assert(out == hist, "degree histogram diverges from the edge-list replay")
    assert(out.map { case (d, n) => d * n }.sum == 2L * edges.length,
      "Σ deg·n_nodes must equal 2·|edges|")
  }

  test("qq_plot: deciles match the interpolating model, monotone per side") {
    val ev = Tables.events(spark, sf001)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val a = ev.filter(_._1 == "click").map(_._2).sorted.toIndexedSeq
    val b = ev.filter(_._1 == "view").map(_._2).sorted.toIndexedSeq
    val out = Behavior.qQqPlot(spark, sf001).collect()
    assert(out.length == 9)
    out.foreach { r =>
      val p = r.getInt(0) / 10.0
      assert(r.getDouble(1) == pctl(a, p) && r.getDouble(2) == pctl(b, p),
        s"decile ${r.getInt(0)} diverges from the model")
      assert(r.getDouble(3) == r.getDouble(1) - r.getDouble(2))
    }
    assert(out.map(_.getDouble(1)).toSeq == out.map(_.getDouble(1)).sortBy(identity).toSeq,
      "click deciles must be monotone")
  }

  test("source_overlap: pairwise line Jaccard matches a brute-force set model; non-vacuous") {
    val docs = Tables.documents(spark, sf001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ")))
    val lineSets = docs.groupBy(_._1).map { case (src, g) =>
      src -> g.flatMap { case (_, t) =>
        (0 to (t.length - 1) / 8).map(i => t.slice(i * 8, i * 8 + 8).mkString(" ")) }.toSet
    }
    val out = TextOps.qSourceOverlap(spark, sf001).collect()
    assert(out.nonEmpty, "fixture must exercise cross-source line overlap")
    val seen = out.map(r => (r.getString(0), r.getString(1))).toSet
    out.foreach { r =>
      val (sa, sb) = (lineSets(r.getString(0)), lineSets(r.getString(1)))
      val inter = (sa intersect sb).size.toLong
      assert(r.getLong(2) == inter && r.getLong(3) == sa.size.toLong &&
        r.getLong(4) == sb.size.toLong,
        s"${r.getString(0)}/${r.getString(1)} set sizes diverge")
      assert(r.getDouble(5) == inter.toDouble / (sa.size + sb.size - inter))
    }
    // completeness: every positively-overlapping pair is emitted
    val all = lineSets.keys.toSeq.sorted
    for (i <- all.indices; j <- i + 1 until all.length) {
      val inter = (lineSets(all(i)) intersect lineSets(all(j))).size
      assert((inter > 0) == seen.contains((all(i), all(j))),
        s"pair ${all(i)}/${all(j)} presence mismatch (inter=$inter)")
    }
  }

  test("media_chunk_dedup: byte-chunk masses match a UTF-8 slicing model; dup mass non-vacuous") {
    val docs = Tables.documents(spark, sf001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).getBytes("UTF-8")))
    val out = queries.Media.qMediaChunkDedup(spark, sf001).collect()
    assert(out.map(_.getString(0)).toSet == docs.map(_._1).toSet)
    var dup = 0L
    out.foreach { r =>
      val g = docs.filter(_._1 == r.getString(0))
      val chunks = g.flatMap(_._2.grouped(64)).map(_.toSeq)
      assert(r.getLong(1) == g.length.toLong &&
        r.getLong(2) == g.map(_._2.length.toLong).sum)
      assert(r.getLong(3) == chunks.length.toLong &&
        r.getLong(4) == chunks.distinct.length.toLong,
        s"${r.getString(0)} chunk masses diverge from the byte-slicing model")
      dup += r.getLong(3) - r.getLong(4)
    }
    assert(dup > 0, "fixture must exercise duplicate chunks (vacuity trap)")
  }

  test("sql_q4: EXISTS counts match a brute-force late-shipment replay") {
    val orders = Tables.orders(spark, sf001)
      .selectExpr("o_orderkey", "o_orderpriority", "CAST(o_orderdate AS STRING) AS d")
      .collect().map(r => (r.getLong(0), r.getString(1),
        java.time.LocalDateTime.parse(r.getString(2).replace(' ', 'T'))))
    val ship = Tables.lineitem(spark, sf001)
      .selectExpr("l_orderkey", "CAST(l_shipdate AS STRING) AS d").collect()
      .groupBy(_.getLong(0)).map { case (k, g) =>
        k -> g.map(r => java.time.LocalDateTime.parse(r.getString(1).replace(' ', 'T'))) }
    val window = orders.filter { case (_, _, d) =>
      !d.isBefore(java.time.LocalDateTime.parse("1997-01-01T00:00")) &&
        d.isBefore(java.time.LocalDateTime.parse("1997-07-01T00:00")) }
    val late = window.filter { case (k, _, d) =>
      ship.getOrElse(k, Array.empty[java.time.LocalDateTime])
        .exists(_.isAfter(d.plusDays(60))) }
    val model = late.groupBy(_._2).map { case (p, g) => p -> g.length.toLong }
    val out = Relational.queries("q_sql_q4")(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty && out == model,
      s"q4 priority counts diverge from the replay: got $out want $model")
  }

  test("sql_q19: disjunctive-band revenue matches an exact BigDecimal replay") {
    val parts = Tables.part(spark, sf001)
      .select("p_partkey", "p_brand", "p_size").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    val li = Tables.lineitem(spark, sf001)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount").collect()
    var rev = BigDecimal(0)
    var n = 0L
    li.foreach { r =>
      val (brand, size) = parts(r.getLong(0))
      val q = r.getDouble(1)
      val in =
        (brand == "Brand#1" && size >= 1 && size <= 15 && q >= 1 && q <= 20) ||
          (brand == "Brand#2" && size >= 5 && size <= 30 && q >= 10 && q <= 35) ||
          (brand == "Brand#3" && size >= 10 && size <= 50 && q >= 25 && q <= 50)
      if (in) {
        // Det.revDec: DECIMAL(12,2) price × DECIMAL(4,2) (1 − discount)
        rev += BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) *
          (BigDecimal("1.00") - BigDecimal(r.getDouble(3)).setScale(2, BigDecimal.RoundingMode.HALF_UP))
        n += 1
      }
    }
    val out = Relational.queries("q_sql_q19")(spark, sf001).collect()
    assert(out.length == 1 && out(0).getLong(1) == n)
    assert(out(0).getDouble(0) == rev.toDouble, s"q19 revenue diverges: ${out(0).getDouble(0)} vs $rev")
  }

  test("sql_q11: derived partsupp + global-scalar HAVING match an integer replay") {
    val sCnt = Tables.supplier(spark, sf001).count()
    val nation15 = Tables.supplier(spark, sf001)
      .join(Tables.nation(spark, sf001),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_15")
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    val parts = Tables.part(spark, sf001).select("p_partkey").collect().map(_.getLong(0))
    // the exact derivation the query and oracle share: 4 suppliers per
    // part via the TPC-H assignment rule (0-based), modular qty/cost
    val byPart = parts.flatMap { p =>
      (0 to 3).map(i => (p, (p + i * (sCnt / 4 + p / sCnt)) % sCnt)).distinct
    }.filter { case (_, sk) => nation15.contains(sk) }
      .map { case (p, sk) =>
        (p, ((p * 13 + sk * 7) % 99900 + 100) * ((p * 47 + sk * 31) % 9999 + 1))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val t = byPart.values.sum
    val model = byPart.filter { case (_, v) => v * 10000 > t * 10 }
      .map { case (p, v) => (p, v.toDouble / 100.0) }
    val out = Relational.queries("q_sql_q11")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out == model, s"q11 diverges from the replay (got ${out.size} rows, want ${model.size})")
    assert(out.nonEmpty && out.size < byPart.size,
      "the HAVING must be selective but non-vacuous")
  }

  test("win_rank_scaled: the two-phase twin is row-identical to the flat windows") {
    // the whole contract: same rows, same rn/rnk/drnk values, same order
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getInt(4), r.getInt(5))).toSeq
    val flat = rows(Windows.qWinRank(spark, sf001))
    val scaled = rows(Windows.qWinRankScaled(spark, sf001))
    assert(scaled == flat, "two-phase ranking diverges from the flat windows")
    // and the twin must genuinely run at bucket parallelism: its window
    // partition keys include the bucket column
    val p = Windows.qWinRankScaled(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(p.contains("bkt"), "the twin must window on (priority, bucket)")
    // 10× frame (round-13 verdict ask #6): the identity must HOLD AS THE
    // FIXTURE GROWS — more rows per priority means more tie groups and
    // more bucket boundaries for a monotonicity bug to straddle. Checked
    // distributed (bag equality via two exceptAll's + a count), not by
    // collecting 1.5 M ranked rows to the driver; bag equality implies
    // the ordered outputs match because the sort key (priority, rn) is
    // embedded in every row.
    val tenx = "/root/repo/benchdata/sf1x"
    if (new java.io.File(s"$tenx/orders.parquet").exists) {
      val flat10 = Windows.qWinRank(spark, tenx)
      val scaled10 = Windows.qWinRankScaled(spark, tenx)
      assert(scaled10.exceptAll(flat10).isEmpty &&
        flat10.exceptAll(scaled10).isEmpty,
        "10x: two-phase ranking diverges from the flat windows")
      assert(flat10.count() == Tables.orders(spark, tenx).count(),
        "10x: rank output must cover every order exactly once")
      Caches.drain(spark)
    } else info("10x derived corpus absent; sf0.001 identity only")
  }

  test("decontaminate_sem: hit counts match a brute-force integer replay") {
    val vecs = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray.map(x => math.floor(x.toDouble * 128).toLong)))
    def near(a: Array[Long], b: Array[Long]): Boolean = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = a.map(x => x * x).sum; val nb = b.map(x => x * x).sum
      dot > 0 && 400L * dot * dot >= 49L * na * nb
    }
    val eval = vecs.filter(_._1 < 50)
    val model = vecs.filter(_._1 >= 50).flatMap { case (id, v) =>
      val hits = eval.filter(e => near(e._2, v)).map(_._1)
      if (hits.isEmpty) None else Some(id -> ((hits.length.toLong, hits.min)))
    }.toMap
    val out = VectorOps.qDecontaminateSem(spark, sf001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == model, s"semantic decon diverges: got ${out.size} want ${model.size}")
    assert(out.nonEmpty, "the eval set must really overlap the corpus semantically")
  }

  test("group_advantage: per-group z-scores match an exact-integer Scala replay") {
    val ev = Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val model = ev.groupBy(_._1).toSeq.flatMap { case (u, g) =>
      val n = g.length.toLong
      val sv = g.map(_._3).sum
      val qv = g.map(x => x._3 * x._3).sum
      val const = g.map(_._3).min == g.map(_._3).max
      g.map { case (_, eid, x) =>
        // mirrors the shared CASE text, including the r14 cancellation
        // guard: a float variance that rounds to <= 0 pins advantage 0
        val fvar = n.toDouble * qv.toDouble - sv.toDouble * sv.toDouble
        val adv = if (n < 2 || const || fvar <= 0.0) 0.0
          else (n * x - sv).toDouble / math.sqrt(fvar)
        (u, eid) -> ((x, adv))
      }
    }.toMap
    val out = Behavior.qGroupAdvantage(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.nonEmpty && out.keys.forall(_._1 % 7 == 0))
    out.foreach { case (k, v) =>
      assert(model(k) == v, s"advantage diverges at $k: got $v want ${model(k)}")
    }
    assert(out.keySet == model.keySet.filter(_._1 % 7 == 0), "slice must be exact")
    // per-group advantages must center: sum ≈ 0 within float tolerance
    out.toSeq.groupBy(_._1._1).foreach { case (u, rows) =>
      assert(math.abs(rows.map(_._2._2).sum) < 1e-9, s"group $u advantages must center")
    }
    // the r14 cancellation guard's contract: NO input can produce a
    // non-finite advantage (Infinity/NaN would poison a downstream mean)
    assert(out.values.forall(v => java.lang.Double.isFinite(v._2)),
      "advantages must be finite for every group shape")
  }

  test("bm25_topk: scores and ranking match a term-sorted-fold Scala replay") {
    val docs = Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val tf = docs.flatMap { case (id, t) =>
      val w = t.split(" ")
      (0 until math.max(0, w.length - 2)).map(i => (id, s"${w(i)} ${w(i + 1)} ${w(i + 2)}"))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val dl = tf.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val nDocs = dl.size.toLong // every fixture doc has >= 3 tokens
    val sumDl = dl.values.sum
    val dfm = tf.keys.toSeq.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val probes = docs.map(_._1).filter(id => id % 50 == 0 && id < 2500)
    val model = probes.flatMap { p =>
      val qterms = tf.keys.toSeq.filter(_._1 == p).map(_._2)
        .map(t => (t, dfm(t))).filter(_._2 <= 50)
        .sortBy { case (t, d) => (d, t) }.take(8)
      val scores = qterms.flatMap { case (term, df) =>
        tf.keys.toSeq.filter(_._2 == term).map(_._1).map { d =>
          val ts = ((nDocs.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5)) *
            (tf((d, term)).toDouble * 2.2) /
            (tf((d, term)).toDouble + 1.2 * (0.25 + 0.75 *
              (dl(d).toDouble * nDocs.toDouble / sumDl.toDouble)))
          (d, term, ts)
        }
      }.groupBy(_._1).map { case (d, g) =>
        d -> g.sortBy(_._2).map(_._3).foldLeft(0.0)(_ + _)
      }
      scores.toSeq.sortBy { case (d, sc) => (-sc, d) }.take(5).zipWithIndex
        .map { case ((d, sc), i) => (p, i + 1, d, sc) }
    }
    val got = TextOps.qBm25Topk(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.nonEmpty, "bm25 probes must retrieve at every SF")
    assert(got.toSet == model.toSet,
      s"bm25 diverges from the replay: got ${got.take(5)} want ${model.take(5)}")
    // self-retrieval: most probes must rank themselves first
    val self1 = got.count(r => r._2 == 1 && r._1 == r._3)
    assert(self1 * 10 >= got.count(_._2 == 1) * 8,
      "at least 80% of probes must self-retrieve at rank 1")
  }

  test("outlier_mad: med/mad/outlier counts match an interpolating Scala model") {
    val ev = Tables.events(spark, sf001)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val out = Analytics.qOutlierMad(spark, sf001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val vals = ev.filter(_._1 == r.getString(0)).map(_._2)
      val med = pctl(vals.sorted.toIndexedSeq, 0.5)
      val mad = pctl(vals.map(v => math.abs(v - med)).sorted.toIndexedSeq, 0.5)
      assert(r.getLong(1) == vals.length.toLong)
      assert(r.getDouble(2) == med && r.getDouble(3) == mad,
        s"${r.getString(0)} med/mad diverge from the model")
      val n_out = vals.count(v => math.abs(v - med) > 3.0 * mad).toLong
      assert(r.getLong(4) == n_out, s"${r.getString(0)} outlier count mismatch")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("semdedup: per-cluster pair/prune counts match a brute-force integer replay") {
    // full-pipeline replay: √n id-stride centroids, exact-integer d²
    // argmin assignment (cid-ascending tie-break), then the in-cluster
    // quantized-cosine pair predicate — the same derivation the DuckDB
    // oracle CTE runs
    val vecs = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray.map(x => math.floor(x.toDouble * 128).toLong)))
      .sortBy(_._1)
    val n = vecs.length.toLong
    val k = VectorOps.semK(n)
    val stride = math.max(1L, n / k)
    val cents = vecs.filter { case (id, _) => id % stride == 0 && id < stride * k }
    def dotL(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def assigned(v: Array[Long]): Long =
      cents.map { case (cid, c) =>
        (dotL(v, v) - 2 * dotL(v, c) + dotL(c, c), cid)
      }.min._2
    def near(a: Array[Long], b: Array[Long]): Boolean = {
      val dot = dotL(a, b)
      dot > 0 && 400L * dot * dot >= 49L * dotL(a, a) * dotL(b, b)
    }
    val model = vecs.groupBy(v => assigned(v._2)).map { case (c, g) =>
      val sorted = g.sortBy(_._1)
      val pairs = for {
        i <- sorted.indices; j <- (i + 1) until sorted.length
        if near(sorted(i)._2, sorted(j)._2)
      } yield (sorted(i)._1, sorted(j)._1)
      c -> ((g.length.toLong, pairs.length.toLong,
        pairs.map(_._2).distinct.length.toLong))
    }
    val out = VectorOps.qSemdedup(spark, sf001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == model, s"semdedup diverges from the replay: got $out want $model")
    assert(out.size >= k / 2,
      s"cluster count must scale with the corpus (got ${out.size} of k=$k seeds)")
    assert(out.values.map(_._2).sum > 0, "fixture must plant at least one near pair")
    VectorOps.qSemdedup(spark, sf001).collect().foreach { r =>
      assert(r.getLong(4) == r.getLong(1) - r.getLong(3), "n_kept = n_vecs - n_pruned")
    }
  }

  test("split_leakproof: the cluster split never separates a near-dup pair") {
    import java.security.MessageDigest
    def hex1(s: String): Char = MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString.head
    val clusters = VectorOps.qDedupClusters(spark, sf001)
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bySplit = clusters.groupBy { case (_, c) =>
      if (hex1(c.toString) < '4') "eval" else "train" }
    val naiveLeaky = clusters.groupBy(_._2).values
      .count(g => g.length > 1 &&
        g.map(d => hex1(d._1.toString) < '4').distinct.length > 1)
    val out = VectorOps.qSplitLeakproof(spark, sf001).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set("eval", "train"), "both splits must be populated")
    bySplit.foreach { case (s, g) =>
      assert(out(s)._1 == g.length.toLong, s"$s doc count diverges")
      assert(out(s)._2 == g.map(_._2).distinct.length.toLong,
        s"$s cluster count diverges")
    }
    assert(out.values.head._3 == naiveLeaky.toLong,
      "the naive-split leakage audit must match the replay")
    assert(naiveLeaky > 0,
      "fixture must contain clusters the naive split would break " +
        "(otherwise the exhibit is vacuous)")
    // the whole point: no cluster spans both splits under the cluster rule
    val clusterSplits = clusters.groupBy(_._2).values
      .count(g => g.map(d => hex1(g.head._2.toString)).distinct.length > 1)
    assert(clusterSplits == 0, "cluster-keyed split leaks by definition never")
  }

  test("pref_pairs: chosen/rejected picks match a scala replay; gap non-negative") {
    val stop = Set("the", "a", "value", "data")
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("lang"), col("source"), col("text")).collect()
      .map { r =>
        val toks = r.getString(3).split(" ", -1)
        (r.getLong(0), r.getString(1), r.getString(2),
          100L * toks.length - 400L * toks.count(stop))
      }
    val model = docs.groupBy(d => (d._2, d._3)).map { case (g, ds) =>
      val chosen = ds.minBy(d => (-d._4, d._1))
      val rejected = ds.minBy(d => (d._4, -d._1))
      g -> ((chosen._1, chosen._4, rejected._1, rejected._4))
    }
    val out = TextOps.qPrefPairs(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out == model, s"preference picks diverge: got $out want $model")
    TextOps.qPrefPairs(spark, sf001).collect().foreach { r =>
      assert(r.getLong(6) == r.getLong(3) - r.getLong(5) && r.getLong(6) >= 0,
        "gap = chosen − rejected and the chosen doc never scores lower")
    }
  }

  test("span_mask: input/target pairs match a scala replay; round-trip reconstructs") {
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def model(text: String): (String, Option[String]) = {
      val toks = text.split(" ", -1).zipWithIndex
      def span(p: Int) = p / 3
      def masked(p: Int) = span(p) % 5 == 4
      val input = toks.flatMap { case (t, p) =>
        if (!masked(p)) Some(t)
        else if (p % 3 == 0) Some(s"<extra_id_${span(p) / 5}>")
        else None
      }.mkString(" ")
      val m = toks.filter { case (_, p) => masked(p) }
      val target = if (m.isEmpty) None else Some(
        m.groupBy { case (_, p) => span(p) }.toSeq.sortBy(_._1).map { case (sp, g) =>
          s"<extra_id_${sp / 5}> " + g.sortBy(_._2).map(_._1).mkString(" ")
        }.mkString(" "))
      (input, target)
    }
    val out = TextOps.qSpanMask(spark, sf001).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2))))).toMap
    docs.foreach { case (id, text) =>
      assert(out(id) == model(text), s"doc $id diverges from the replay") }
    assert(out.values.exists(_._2.isDefined), "fixture must mask at least one span")
    // round-trip: splicing each target span back over its sentinel
    // reconstructs the original text — nothing lost, nothing duplicated
    docs.take(50).foreach { case (id, text) =>
      val (input, target) = out(id)
      val restored = target match {
        case None => input
        case Some(t) =>
          val spans = t.split("<extra_id_\\d+> ", -1).drop(1)
          var acc = input
          spans.zipWithIndex.foreach { case (sTxt, k) =>
            acc = acc.replace(s"<extra_id_$k>", sTxt.trim) }
          acc
      }
      assert(restored == text, s"doc $id: mask round-trip must reconstruct")
    }
  }

  test("filter_funnel: stage attribution matches a scala replay; masses conserve") {
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def stage(text: String): (Int, Long) = {
      val toks = text.split(" ", -1)
      val ntok = toks.length.toLong
      val s =
        if (ntok < 12) 1
        else if (toks.distinct.length * 10 < ntok * 3) 2
        else if (toks.map(_.length.toLong).sum * 100 > ntok * 495) 3
        else if (toks.map(_.length).max >= 8) 4
        else 0
      (s, ntok)
    }
    val model = docs.map(d => stage(d._2)).groupBy(_._1)
      .map { case (s, g) => s -> ((g.length.toLong, g.map(_._2).sum)) }
    val out = TextOps.qFilterFunnel(spark, sf001).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == model, s"funnel diverges from the replay: got $out want $model")
    assert(out.keySet == Set(0, 1, 2, 3, 4),
      "every cascade stage (and the pass-through) must be non-vacuous")
    assert(out.values.map(_._1).sum == docs.length.toLong,
      "every document is attributed to exactly one stage")
  }

  test("dsir_weights: top-20 weights match an integer-division replay; raw docs only") {
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1).toSeq))
    val target = Set("src0", "src1", "src2", "src3")
    val ct = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cr = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docs.foreach { case (_, src, ws) =>
      val m = if (target(src)) ct else cr; ws.foreach(w => m(w) += 1) }
    val nt = ct.values.sum; val nr = cr.values.sum
    def score(w: String): Long = ct(w) * 1000000000L / nt - cr(w) * 1000000000L / nr
    val model = docs.filterNot { case (_, src, _) => target(src) }
      .map { case (id, src, ws) => (id, src, ws.map(score).sum, ws.length.toLong) }
      .sortBy { case (id, _, wgt, _) => (-wgt, id) }.take(20)
    val out = TextOps.qDsirWeights(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == model.toSeq, s"dsir top-20 diverges: got $out want $model")
    assert(out.forall { case (_, src, _, _) => !target(src) },
      "only raw-pool documents may be scored")
  }

  test("q_dedup_substring: content-defined anchors detect shared runs at ANY offset pair") {
    // The reason anchoring beats fixed-stride sampling: a run embedded at
    // offsets 1 and 3 (different residues mod the stride) is INVISIBLE to
    // stride-4 windows but must share an anchored window, because anchors
    // are a function of the token itself. "data" anchors (4·31 + 100 ≡ 0
    // mod 4) and sits early in the run, so the same run-relative window
    // exists in both docs regardless of absolute position.
    import spark.implicits._
    val run = "data alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val docs = Seq(
      (1L, s"x $run pad pad pad"),
      (2L, s"y1 y2 y3 $run q q q")).toDF("doc_id", "text")
    val wins = TextOps.anchoredWindows(docs)
    val shared = wins.filter(col("doc_id") === 1L).select("w")
      .intersect(wins.filter(col("doc_id") === 2L).select("w")).count()
    assert(shared >= 1, "shared run not detected across offsets 1 vs 3")
    // and a doc under 8 tokens contributes no windows (the div-vs-floor
    // guard: Spark `div` truncates toward zero, DuckDB `//` floors)
    val short = TextOps.anchoredWindows(Seq((3L, "a b c d e f g")).toDF("doc_id", "text"))
    assert(short.count() == 0, "sub-window doc must produce no windows")
  }

  test("q_benford: digits partition the orders corpus and probabilities close") {
    val rows = Analytics.qBenford(spark, sf001).collect()
    val nOrders = Tables.orders(spark, sf001).count()
    assert(rows.map(_.getLong(1)).sum == nOrders, "digit counts must partition orders")
    assert(rows.forall(r => r.getInt(0) >= 1 && r.getInt(0) <= 9))
    val obsSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(obsSum - 1.0) < 1e-9, s"observed_p must sum to 1, got $obsSum")
    val expSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(expSum - 1.0) < 1e-4, s"Benford table must close, got $expSum")
  }

  test("q_changepoint: the reported split is the true argmax of the daily-count model") {
    // independent replay: daily counts per type from raw rows, every split
    // scored, argmax with earliest-day tie-break — must equal the query.
    val daily = Tables.events(spark, sf001)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (t, rs) => t -> rs.map(x => (x._2, x._3)).sortBy(_._1) }
    val model = daily.map { case (t, series) =>
      val best = series.indices.dropRight(1).map { k =>
        val (pre, post) = series.splitAt(k + 1)
        val mb = pre.map(_._2).sum.toDouble / pre.length
        val ma = post.map(_._2).sum.toDouble / post.length
        (series(k)._1, math.abs(mb - ma))
      }.maxBy { case (d, delta) => (delta, -d) }
      t -> best
    }
    Behavior.qChangepoint(spark, sf001).collect().foreach { r =>
      val (d, delta) = model(r.getString(0))
      assert(r.getLong(1) == d && math.abs(r.getDouble(4) - delta) < 1e-12,
        s"${r.getString(0)}: got (${r.getLong(1)}, ${r.getDouble(4)}), model ($d, $delta)")
    }
  }
}
