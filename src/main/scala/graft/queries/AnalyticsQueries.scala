package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.{Stats, Unpivot}
import graft.functions.Scalars
import graft.ingest.{Clean, Extract}
import graft.operators.{FuzzyJoin, Upsert}
import graft.sources.{Multimodal, NetCdf, NetCdfFixture}
import graft.stream.Ingest
import graft.vector.{Embed, Knn, SemanticWorkload}
import graft.text.{Analysis, Summaries}
import graft.QueryContext._

/** Aggregation, window, join, data-quality, and relational (TPC-H-shape) queries.
  *
  * Split from SparkEntry (round 7) purely for file-size hygiene: entries are
  * unchanged; SparkEntry.queries concatenates the family maps.
  */
private[graft] object AnalyticsQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- headline agg (reference A1-spine: scan→filter→agg→sort) ----------
    "q1_pricing_summary" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Stats.sumMoney("l_quantity").as("sum_qty"),
          Stats.sumMoney("l_extendedprice").as("sum_base_price"),
          Stats.sumMoney(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          Stats.exactMean(col("l_quantity")).as("avg_qty"),
          Stats.exactMean(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- TPC-H Q3 shape (shipping priority): the classic selective
    // 3-way star — both fact filters (o_orderdate, l_shipdate) reach
    // their parquet scans as PushedFilters, the per-order revenue groups
    // are tiny (≤7 lineitems ⇒ round(2) absorbs summation-order ulp, the
    // q1 precedent), and the top-10 is TakeOrderedAndProject on the
    // ROUNDED revenue with an orderkey tie-break — no global sort, no
    // ambiguity at equal revenues. Catalyst picks the join order; no
    // hand-hints needed for a shape this standard. -----------------------
    "q3_shipping_priority" -> { (s, dir) =>
      Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir)
            .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(Stats.sumMoney(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // ---- TPC-H Q5 shape (local supplier volume): the 6-way join with
    // the customer-nation = supplier-nation SAME-NATION condition riding
    // the supplier join, region/nation as broadcast dims, and a
    // nation-grain aggregate. This is the query Catalyst's join
    // reordering + broadcast thresholds exist for — declared, not
    // hand-scheduled. -----------------------------------------------------
    "q5_local_supplier_volume" -> { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(Stats.sumMoney(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },

    // ---- A1 per-key summary agg (ingest/preprocess.py:295-357) ------------
    "a1_user_summary" -> { (s, dir) =>
      Stats.perKeySummary(
        Tables.events(s, dir),
        key = Seq("user_id"), tsCol = "ts", distinctCol = "event_id",
        measures = Seq("value"))
        .orderBy("user_id")
    },

    // ---- A3 whole-table stats (fastapi_app.py:279-372) --------------------
    "a3_global_stats" -> { (s, dir) =>
      Stats.globalSummary(Tables.events(s, dir), tsCol = "ts", measures = Seq("value"))
    },

    // ---- J4 star join (schema.sql FK chain; Catalyst broadcasts dims) -----
    "j4_orders_by_region" -> { (s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          count(lit(1)).as("n_orders"),
          Stats.sumMoney("o_totalprice").as("total_price"))
        .orderBy("r_name")
    },

    // ---- J1 skip-existing anti-join (ingest/db_handler.py:326-344) --------
    "j1_skip_existing" -> { (s, dir) =>
      Upsert.skipExisting(
        Tables.customer(s, dir),
        Tables.orders(s, dir).filter(col("o_custkey") % 7 =!= 0)
          .select(col("o_custkey").as("c_custkey")),
        "c_custkey")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- J2 fuzzy id-match join (update_chromadb_measurements.py:181-237) -
    "j2_fuzzy_match" -> { (s, dir) =>
      val dirty = Tables.customer(s, dir)
        .select(col("c_custkey"), concat(lit("b'"), col("c_custkey"), lit(" '")).as("messy_id"))
      val registry = Tables.customer(s, dir)
        .filter(col("c_custkey") % 2 === 0)
        .select(lpad(col("c_custkey").cast("string"), 9, "0").as("reg_id"))
        .distinct()
      FuzzyJoin.fuzzyMatch(dirty, "messy_id", registry, "reg_id")
        .select("c_custkey", "clean_id", "matched_id")
        .orderBy("c_custkey")
    },

    // ---- J3 enrichment join (update_chromadb_measurements.py:239-311) -----
    "j3_enrich_docs" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val stats = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), Stats.parityRound(sum(col("n_chars")).cast("double") / count(col("n_chars")), 6).as("source_avg_chars"))
      docs.join(broadcast(stats), Seq("source"), "left")
        .select("doc_id", "source", "n_chars", "n_docs", "source_avg_chars")
        .orderBy("doc_id")
    },

    // ---- W1 sort + limit → TakeOrderedAndProject (W1/W3) ------------------
    "w1_top_orders" -> { (s, dir) =>
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_totalprice"))
        .orderBy(col("order_date").desc, col("o_orderkey").desc)
        .limit(100)
    },

    // ---- W3/W4 generalized: top-k per key via the custom bounded-heap
    // physical operator (plans.TopKPerKey — partial k-heaps below the key
    // exchange, final heaps + rank above, no sort; window fallback off-
    // extension). Same semantics as a row_number window, oracled against
    // DuckDB's window form.
    "w3_topk_per_customer" -> { (s, dir) =>
      graft.operators.TopK.perKey(
        Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
        keys = Seq("o_custkey"),
        order = Seq("o_totalprice" -> false, "o_orderkey" -> true),
        k = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("o_custkey", "rank")
    },

    // ---- W-suite: lag/lead + bounded moving average over each customer's
    // order sequence. Frame is ROWS BETWEEN 2 PRECEDING AND CURRENT — the
    // per-row state is O(frame), so the window scales with rows-per-key
    // streamed through a sorted partition, never with total rows. The 3-term
    // frame sum is order-identical on both engines; parityRound guards the
    // last-ulp divide.
    "w4_moving_stats" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val seq0 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val ma = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
      Tables.orders(s, dir)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .withColumn("prev_price", lag("o_totalprice", 1).over(seq0))
        .withColumn("next_price", lead("o_totalprice", 1).over(seq0))
        .withColumn("ma3",
          Stats.parityRound(sum("o_totalprice").over(ma) / count(lit(1)).over(ma), 2))
        .select("o_custkey", "o_orderkey", "prev_price", "next_price", "ma3")
        .orderBy("o_custkey", "o_orderkey")
    },

    // ---- W-suite: the full SQL ranking-function family — rank, dense_rank,
    // percent_rank, ntile, cume_dist over each nation's customers by
    // balance. One window spec means ONE partition-local sort serves all
    // five functions; nothing is global, so the window scales with
    // rows-per-nation, not total rows. percent_rank/cume_dist are exact
    // ratios of small ints (identical double division on both engines);
    // parityRound guards the serialization edge. Unique-key tiebreak makes
    // every rank deterministic.
    "w5_rank_suite" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, dir)
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("pct_rank", Stats.parityRound(percent_rank().over(w), 6))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("cume", Stats.parityRound(cume_dist().over(w), 6))
        .filter(col("rnk") <= 10)
        .select("c_custkey", "c_nationkey", "rnk", "drnk", "pct_rank",
          "quartile", "cume")
        .orderBy("c_nationkey", "rnk", "c_custkey")
    },

    // ---- A2 profile grouping + W5 group-id synthesis (preprocess.py:373-385)
    "a2_profile_groups" -> { (s, dir) =>
      val g = Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .groupBy("user_id", "day")
        .agg(
          count(lit(1)).as("n_events"),
          min(struct(col("ts"), col("event_id"), col("value"))).as("f"))
        .withColumn("first_value", round(col("f.value"), 2))
        .drop("f")
      Unpivot.withGroupId(g, Seq("user_id", "day"))
        .withColumn("group_id", col("group_id").cast("long"))
        .orderBy("user_id", "day")
    },

    // ---- sessionization: gap-based session ids via lag + running sum -------
    "w2_sessionize" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sessions = Tables.events(s, dir)
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("timestamp").cast("long") -
              col("prev_ts").cast("timestamp").cast("long") > 1800, 1).otherwise(0))
        .withColumn("session_id", sum("new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sessions
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"))
        .groupBy("user_id")
        .agg(
          max(col("session_id")).as("n_sessions"),
          max(col("n_events")).as("max_session_events"))
        .orderBy("user_id")
    },

    // ---- gaps-and-islands on a VALUE threshold (w2's cousin: w2 breaks
    // on time gaps, this breaks on the measure crossing 50): per user,
    // maximal runs of consecutive high-value events via the classic
    // two-row_number difference — the island id is (global rn - rn among
    // flagged rows), constant exactly within a run. Both windows share
    // the one user_id shuffle; ties on ts are pinned by event_id in the
    // ORDER BY (both engines), so island membership is deterministic. ----
    "w7_value_episodes" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val byUserHigh = Window.partitionBy("user_id", "high").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("high", (col("value") > 50).cast("int"))
        .withColumn("grp",
          row_number().over(byUser) - row_number().over(byUserHigh))
        .filter(col("high") === 1)
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"), Stats.sumMoney("value").as("ep_sum"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_episodes"),
          max("len").as("max_len"),
          Stats.sumMoney("ep_sum").as("total_high"))
        .orderBy("user_id")
    },

    // ---- exact interpolated percentiles (builtin, no sort-the-world) -------
    "a7_percentiles" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          round(expr("percentile(value, 0.99)"), 6).as("p99"))
        .orderBy("event_type")
    },

    // ---- rollup: hierarchical partial aggregates in one pass ---------------
    "a8_rollup" -> { (s, dir) =>
      Tables.events(s, dir)
        .rollup("event_type")
        .agg(count(lit(1)).as("n"), Stats.sumMoney("value").as("sum_value"))
        .withColumn("event_type", coalesce(col("event_type"), lit("__total__")))
        .orderBy("event_type")
    },

    // ---- co-located join over bucketed tables: the shuffle is paid ONCE at
    // write time; every later join on the bucket key plans with zero
    // Exchange on the bucketed sides (BucketedJoinSpec gates the plan).
    // Tables are session-scoped (in-memory catalog) and written once per
    // (session, sfDir); the measured operator is the exchange-free join.
    "j8_bucketed_join" -> { (s, dir) =>
      // tag covers BOTH consumed tables (regenerating either invalidates);
      // the data dir is per-process because table metadata is session-scoped
      // (in-memory catalog) — concurrent bench+verify processes must not
      // rewrite each other's bucket files under a shared path
      val tag = s"${cacheTag(dir, "orders", "lineitem")}_p${ProcessHandle.current().pid()}"
      val (li, ord) = (s"li_b$tag", s"ord_b$tag")
      // require BOTH tables: a failure between the two writes must not
      // wedge the session on a half-built pair — rebuild from scratch
      if (!(s.catalog.tableExists(li) && s.catalog.tableExists(ord))) {
        s.sql(s"DROP TABLE IF EXISTS $li")
        s.sql(s"DROP TABLE IF EXISTS $ord")
        // a data dir left by a crashed same-pid predecessor is unreachable
        // through the fresh catalog — clear and rewrite
        rmTree(s"/tmp/graft_j8_$tag")
        Tables.lineitem(s, dir).select("l_orderkey", "l_quantity", "l_extendedprice")
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"/tmp/graft_j8_$tag/li").saveAsTable(li)
        Tables.orders(s, dir).select("o_orderkey", "o_orderstatus")
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"/tmp/graft_j8_$tag/ord").saveAsTable(ord)
      }
      s.table(li).hint("MERGE")
        .join(s.table(ord), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          Stats.sumMoney("l_extendedprice").as("sum_price"))
        .orderBy("o_orderstatus")
    },

    // ---- approx percentiles (t-digest-style sketch): the 100 TB quantile
    // path — mergeable, bounded-memory, one pass; the exact interpolated
    // percentile (a7's operator) is quadratic-ish in sort volume at scale.
    // Sketch values are engine-specific, so the oracle checks the exact
    // values plus a Spark-side tolerance flag (the a10 HLL recipe).
    "a12_approx_percentiles" -> { (s, dir) =>
      // The sketch's contract is a RANK bound (±n/accuracy), not a value
      // bound: in a sparse tail a few ranks can span arbitrary value
      // distance, so any fixed value tolerance is distribution-dependent
      // (a fresh-seed fuzz flipped the old abs<1.0 flag on a p90 tail).
      // approx_ok therefore checks the approx value lands between the
      // exact quantiles at p ± 5/accuracy — 5x the guaranteed 0.001 rank
      // error, valid for ANY distribution.
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50_exact"),
          round(expr("percentile(value, 0.9)"), 6).as("p90_exact"),
          expr("percentile(value, 0.495)").as("p50_lo"),
          expr("percentile(value, 0.505)").as("p50_hi"),
          expr("percentile(value, 0.895)").as("p90_lo"),
          expr("percentile(value, 0.905)").as("p90_hi"),
          expr("percentile_approx(value, 0.5, 1000)").as("p50_approx"),
          expr("percentile_approx(value, 0.9, 1000)").as("p90_approx"))
        .select(col("event_type"), col("p50_exact"), col("p90_exact"),
          // vacuously true when the group has no non-null values (both
          // percentiles NULL): there is nothing to approximate, and the
          // twin's literal TRUE flag must still match (round-12 allnull fuzz)
          coalesce(
            col("p50_approx").between(col("p50_lo"), col("p50_hi")) &&
            col("p90_approx").between(col("p90_lo"), col("p90_hi")), lit(true))
            .as("approx_ok"))
        .orderBy("event_type")
    },

    // ---- heavy hitters: Misra-Gries sketch (native graft_heavy_hitters
    // aggregate, O(k) state per partition over an unbounded key domain) as
    // a candidate PRUNER, then an exact count of only the <= k survivors
    // via a broadcast semi-join + the real threshold. The MG guarantee
    // (every item with freq > N/(k+1) survives, preserved across merges)
    // makes the final answer provably EXACT — the oracle is a plain
    // GROUP BY ... HAVING, no approximation tolerance needed. The stream
    // is deterministically skewed (two hot keys over a 500-key tail) so
    // the operator provably fires. k=19, threshold strictly > N/20. ------
    "a13_heavy_hitters" -> { (s, dir) =>
      val stream = Tables.events(s, dir).select(
        when(col("event_id") % 4 < 3,
          concat(lit("hot_"), (col("event_id") % 2).cast("string")))
          .otherwise(concat(lit("u"), (col("user_id") % 500).cast("string")))
          .as("item"))
      val cands = stream
        .agg(graft.expressions.MisraGries.sketch(col("item"), 19).as("c"))
        .select(explode(col("c")).as("item"))
      stream.join(broadcast(cands), "item")
        .groupBy("item").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(stream.agg(count(lit(1)).as("__total"))))
        .filter(col("n") * 20 > col("__total"))
        .select(col("item"), col("n"))
        .orderBy("item")
    },

    // ---- multi-dimensional cube: all 4 grouping sets in ONE pass — Expand
    // emits one row per grouping set into a single partial+final hash
    // aggregate, so the 100 TB scan happens once, not once per rollup level.
    "a11_grouping_sets" -> { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("yr", year(col("ts")).cast("long"))
        .cube("event_type", "yr")
        .agg(count(lit(1)).as("n"), Stats.sumMoney("value").as("sum_value"))
        .withColumn("event_type", coalesce(col("event_type"), lit("__all__")))
        .withColumn("yr", coalesce(col("yr"), lit(-1L)))
        .orderBy("event_type", "yr")
    },

    // ---- skew-safe two-phase (salted) aggregation — same result, bounded
    // ---- per-task key volume (the 100 TB skewed-key recipe) ----------------
    "a9_salted_agg" -> { (s, dir) =>
      // the inner partial sum is ALREADY decimal-exact: a double pre-sum
      // would re-introduce the partition-order dependence sumMoney exists
      // to kill (the two-level sum must be exact end-to-end)
      val salted = Tables.events(s, dir)
        .withColumn("salt", col("event_id") % 8)
        .groupBy("event_type", "salt")
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast("decimal(30,10)")).as("psum"))
      salted
        .groupBy("event_type")
        .agg(sum("pn").as("n"),
          round(sum(col("psum")), 2).cast("double").as("sum_value"))
        .orderBy("event_type")
    },

    // ---- salted shuffle join: the 100 TB hot-key recipe when the build side
    // is too big to broadcast. The probe row's salt is derived from a high-
    // cardinality column (event_id), the build side replicates each row once
    // per salt, and the join key becomes (key, salt) — a hot user_id now
    // spreads over 8 shuffle partitions instead of melting one task. The
    // SHUFFLE_HASH hint pins the shuffled path so the demo exercises the
    // exchange this technique exists for (Catalyst would broadcast the
    // fixture-sized dim and bypass it). Result ≡ the unsalted join.
    "j7_salted_skew_join" -> { (s, dir) =>
      val salts = 8
      val fact = Tables.events(s, dir)
        .select(col("user_id"), col("value"),
          pmod(col("event_id"), lit(salts)).as("salt"))
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          explode(array((0 until salts).map(i => lit(i.toLong)): _*)).as("salt"))
      fact.join(dim.hint("SHUFFLE_HASH"),
          fact("user_id") === dim("c_custkey") && fact("salt") === dim("salt"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), Stats.sumMoney("value").as("sum_value"))
        .orderBy("c_mktsegment")
    },

    // ---- approx distinct (HLL): the 100 TB replacement for countDistinct.
    // ---- HLL values differ per engine, so the oracle checks the exact
    // ---- count plus a Spark-side tolerance assertion (flag must be true).
    "a10_approx_distinct" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("exact_distinct"),
          approx_count_distinct(col("user_id"), rsd = 0.02).as("approx"))
        .select(col("event_type"), col("exact_distinct"),
          // 8% = 4 sigma at rsd 0.02 — a 2.5-sigma bound flakes on ~1% of
          // fresh fuzz seeds per group (the a12 lesson: tolerance flags
          // must hold for ANY seed, not the fixtures they were tuned on)
          (abs(col("approx") - col("exact_distinct")) <=
            greatest(col("exact_distinct") * 0.08, lit(5.0))).as("approx_ok"))
        .orderBy("event_type")
    },

    // ---- as-of join (merge-sorted window form; oracled by DuckDB's native
    // ---- ASOF JOIN): latest purchase price per user at or before each view.
    "j6_asof_join" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(expr("max_by(value, event_id)").as("price")) // unique (key, ts)
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      graft.operators.TemporalJoins.asofJoin(
        views, purchases, key = "user_id", time = "ts",
        valueCol = "price", asofCol = "asof_price")
        .select(col("event_id"), col("user_id"), round(col("asof_price"), 2).as("asof_price"))
        .orderBy("event_id")
    },

    // ---- range join (bucket-explode equi-join; oracled by DuckDB's native
    // ---- inequality join): events matched to overlapping value intervals.
    "j5_range_join" -> { (s, dir) =>
      val intervals = Tables.part(s, dir)
        .filter(col("p_partkey") <= 100)
        .select(col("p_partkey").as("range_id"),
          ((col("p_partkey") % 40) * lit(5.0)).as("lo"))
        .withColumn("hi", col("lo") + 12.5)
      graft.operators.TemporalJoins.bucketedRangeJoin(
        Tables.events(s, dir).select("event_id", "value"), "value",
        intervals, "lo", "hi", bucketWidth = 10.0)
        .groupBy("range_id")
        .agg(count(lit(1)).as("n_points"), Stats.sumMoney("value").as("sum_value"))
        .orderBy("range_id")
    },

    // ---- A5 per-table row counts (db_handler.py:346-381) -------------------
    "a5_table_counts" -> { (s, dir) =>
      Seq("customer", "documents", "embeddings", "events", "lineitem",
        "nation", "orders", "region")
        .map(t => Tables.table(s, dir, t)
          .agg(count(lit(1)).as("n_rows"))
          .withColumn("table_name", lit(t)))
        .reduce(_ unionByName _)
        .select("table_name", "n_rows")
        .orderBy("table_name")
    },

    // ---- A1 nested properties struct → JSON (preprocess.py:315-339 + F13) --
    "a1_properties_json" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("total_rows"),
          date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("start_ts"),
          date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("end_ts"),
          round(min("value"), 4).as("vmin"),
          round(max("value"), 4).as("vmax"),
          Stats.exactMean(col("value")).as("vmean"),
          count(col("value")).as("vcount"))
        .select(col("user_id"),
          // ignoreNullFields=false + null-guarded formats: an all-null value
          // column must serialize as "vmin":null (DuckDB printf/to_json
          // semantics), not the string "null" in an omitted-field JSON —
          // caught by the round-12 allnull fuzz variant.
          to_json(struct(
            col("total_rows"),
            struct(col("start_ts"), col("end_ts")).as("date_range"),
            struct(
              graft.text.Summaries.nullSafeFormat("%.4f", col("vmin")).as("vmin"),
              graft.text.Summaries.nullSafeFormat("%.4f", col("vmax")).as("vmax"),
              graft.text.Summaries.nullSafeFormat("%.6f", col("vmean")).as("vmean"),
              col("vcount")).as("value_stats")),
            Map("ignoreNullFields" -> "false")).as("properties"))
        .orderBy("user_id")
    },

    // ---- A4 total-measurement sum over the measurements map (A4) -----------
    "a4_measure_total" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
      val packed = Stats.packProperties(
        Stats.perKeySummary(ev, Seq("user_id"), "ts", "event_id", Seq("value", "k")),
        Seq("value", "k"))
      packed.select(col("user_id"),
        aggregate(map_values(col("properties.measurements")), lit(0L),
          (acc, x) => acc + x.getField("count")).as("total_measurements"))
        .orderBy("user_id")
    },

    // ---- A6 collection summary: conditional counts + bbox-style extremes ---
    "a6_collection_stats" -> { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("lang") === "en", 1).otherwise(0)).as("n_en"),
          sum(when(col("n_chars") > 200, 1).otherwise(0)).as("n_long"),
          min("n_chars").as("chars_min"),
          max("n_chars").as("chars_max"))
        .orderBy("source")
    },

    // ---- iterative PageRank over the order→part graph, in EXACT scaled
    // integers (p₀ = 10⁶; p' = 0.15·10⁶ + 850·Σ(p div outdeg) div 1000 —
    // the ta5 integer-scaling recipe, so three nested join+aggregate
    // rounds stay bit-identical across engines with no FP drift to
    // round away). Each round is one narrow shuffle on dst (contrib agg)
    // plus a broadcast-sized outdeg join — the dd9 connected-components
    // shuffle shape, extending the iterative-graph family beyond label
    // propagation. Simplified dangling-mass semantics (no redistribution)
    // — identical on both engines by construction. -----------------------
    "gr1_pagerank" -> { (s, dir) =>
      // `edges` IS lazily checkpointed: it has two consumers inside
      // withDeg (the join probe side and the outdeg groupBy), so without
      // the checkpoint the scan+distinct would run twice within withDeg's
      // own materialization. Lazy (eager=false) so the first action pays
      // for it — no extra cold job per invocation.
      val edges = Tables.lineitem(s, dir)
        .select((col("l_orderkey") % 4096).as("src"),
          (col("l_partkey") % 4096).as("dst"))
        .distinct().localCheckpoint(false)
      // Pre-divide: edges carry their src's outdeg once (one-time shuffle,
      // checkpointed), so each round is a BROADCAST of the ≤4096-row rank
      // vector onto the stationary edge list — the big relation never moves
      // after round 0, the exact property that matters when the edge list is
      // the 100 TB side. Per round: broadcast join + one narrow contrib
      // shuffle + a broadcast left-join back onto nodes. ------------------
      val withDeg = edges
        .join(edges.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
        .localCheckpoint(false)
      val nodes = withDeg.select(col("src").as("node"))
        .union(withDeg.select(col("dst").as("node")))
        .distinct().localCheckpoint(false)
      var p = nodes.withColumn("p", lit(1000000L))
      for (_ <- 1 to 3) {
        val contrib = withDeg
          .join(broadcast(p.withColumnRenamed("node", "src")), "src")
          .select(col("dst"), expr("p div outdeg").as("c"))
          .groupBy("dst").agg(sum("c").as("contrib"))
        p = nodes
          .join(broadcast(contrib.withColumnRenamed("dst", "node")),
            Seq("node"), "left")
          .select(col("node"),
            (lit(150000L) + expr("850 * coalesce(contrib, 0L) div 1000")).as("p"))
      }
      p.orderBy(col("p").desc, col("node")).limit(20)
    },

    // ---- bloom-pruned star join: the runtime-filter pattern made
    // explicit. A 32 KB bloom over the FILTERED dim's hashed keys rides a
    // scalar subquery into a map-side probe on the fact scan, so fact rows
    // that cannot join are dropped BEFORE any exchange — at 100 TB that is
    // the difference between shuffling the full fact table and shuffling
    // the ~matching slice. False positives only (no false negatives), and
    // the exact join behind the probe removes them ⇒ the result is
    // bit-identical to the plain join the oracle runs. Catalyst's own
    // BloomFilterAggregate/BloomFilterMightContain (what AQE's
    // InjectRuntimeFilter instantiates), registered as SQL functions via
    // GraftExtensions. --------------------------------------------------
    "j9_bloom_prune_join" -> { (s, dir) =>
      Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderstatus").createOrReplaceTempView("j9_dim")
      Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice")
        .createOrReplaceTempView("j9_fact")
      s.sql(
        """WITH bf AS (
             SELECT graft_bloom_agg(xxhash64(o_orderkey), 20000L, 262144L) AS b
             FROM j9_dim)
           SELECT /*+ BROADCAST(d) */ d.o_orderstatus, count(*) AS n,
                  CAST(round(sum(CAST(f.l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_price
           FROM j9_fact f JOIN j9_dim d ON f.l_orderkey = d.o_orderkey
           WHERE graft_might_contain((SELECT b FROM bf), xxhash64(f.l_orderkey))
           GROUP BY d.o_orderstatus ORDER BY d.o_orderstatus""")
    },

    // ---- mergeable distinct-count sketches: per-shard HLL sketches union
    // into a global estimate WITHOUT re-touching rows — the pattern that
    // replaces count(DISTINCT) when the data lives on 1000 executors and
    // re-shuffling raw keys per rollup is unaffordable. Parity pins the
    // exact side; the sketch side is asserted within 5% (Datasketches HLL
    // at lgK=12 is ~1.6% RSE, so the bound is loose but honest). ----------
    "a14_sketch_union" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val merged = ev.groupBy("event_type")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        .agg(
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
          count(lit(1)).as("n_types"))
      ev.agg(countDistinct("user_id").as("exact_users"))
        .crossJoin(merged)
        .select(
          col("exact_users"), col("n_types"),
          // 7% ≈ 4.4 sigma at the HLL lgK=12 ~1.6% RSE (the a12 lesson:
          // a 3-sigma tolerance flag eventually flakes on a fresh seed)
          (abs(col("est") - col("exact_users")) <=
            col("exact_users") * 0.07).as("est_within_tol"))
    },

    // ---- covariance / correlation with ORDER-INDEPENDENT moments: the
    // five sums are exact decimals (no FP summation-order dependence
    // across 32 vs 1000 partitions — the property builtin covar/corr
    // lacks), and only the final closed-form formula runs in doubles,
    // written identically on both engines so the result is bit-exact.
    // One shuffle, partial-aggregated map-side. ---------------------------
    "a15_cov_corr" -> { (s, dir) =>
      val d = Tables.lineitem(s, dir).select(col("l_returnflag"),
        col("l_quantity").cast("decimal(18,2)").as("x"),
        col("l_extendedprice").cast("decimal(18,2)").as("y"))
      val m = d.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val nd = col("n").cast("double")
      def dbl(c: String) = col(c).cast("double")
      // nullif'd denominators: covariance/correlation over a single point
      // (or a zero-variance column) is NULL, not a job failure — ANSI
      // division raises DIVIDE_BY_ZERO where the DuckDB twin yields NULL.
      // Caught by the round-12 single-row fuzz variant.
      m.select(col("l_returnflag"), col("n"),
          Stats.parityRound(
            (nd * dbl("sxy") - dbl("sx") * dbl("sy")) /
              nullif(nd * (nd - 1), lit(0.0)), 6)
            .as("cov_xy"),
          Stats.parityRound(
            (nd * dbl("sxy") - dbl("sx") * dbl("sy")) /
              nullif(sqrt((nd * dbl("sxx") - dbl("sx") * dbl("sx")) *
                   (nd * dbl("syy") - dbl("sy") * dbl("sy"))), lit(0.0)), 6)
            .as("corr_xy"))
        .orderBy("l_returnflag")
    },

    // ---- co-occurrence graph + triangle census: support-thresholded
    // part-pair edges (frequent-itemset pruning keeps the graph sparse —
    // the step that makes triangle counting tractable at scale), then the
    // a<b<c wedge join closed against the edge list. Pair generation is
    // the in-bucket gather (one groupBy, no self-join of lineitem);
    // baskets are order-sized so the expansion is bounded per row. -------
    "gr3_triangle_census" -> { (s, dir) =>
      // 32-way pinned on l_orderkey (dd2 reason: single-row-group scan,
      // compute-bound explode): hash partitioning on the KEY SUBSET
      // satisfies the clustering requirement of BOTH the (orderkey,
      // partkey) distinct and the orderkey groupBy, so the whole
      // distinct -> collect_set -> pair-explode chain runs 32-wide with
      // no further exchange (one-shot was 4-wide: the latency tier's
      // shuffle width starved ~1.2 s of HOF pair expansion).
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_partkey")
        .repartition(32, col("l_orderkey")).distinct()
      val pairs = li.groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .filter(size(col("ps")) > 1)
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + lit(2), size(col("ps"))),
            y => struct(x.as("pa"), y.as("pb")))))).as("p"))
        .select(col("p.pa"), col("p.pb"))
      val e = pairs.groupBy("pa", "pb").agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= 2).select("pa", "pb")
        .localCheckpoint(false) // three consumers: adjacency, tri probe, degs
      // No wedge materialization (the x→y→z join grows ~quadratically with
      // density): the wedge COUNT is Σ_y indeg(y)·outdeg(y) — two narrow
      // aggregates — and triangles come from the adjacency-intersection
      // count (gr2_triangle_count's algorithm): for each edge (x,y), every
      // z ∈ N⁺(x) ∩ N⁺(y) closes the x<y<z triangle exactly once. The
      // part-count-bounded adjacency table broadcasts; at node counts past
      // broadcast range the hints drop and the lookups shuffle on the key.
      val succ = e.groupBy(col("pa"))
        .agg(sort_array(collect_list(col("pb"))).as("nbrs"))
        .localCheckpoint(false) // read twice (per-endpoint lookup)
      val tri = e
        .join(broadcast(succ.select(col("pa").as("__a"), col("nbrs").as("na"))),
          col("pa") === col("__a"))
        .join(broadcast(succ.select(col("pa").as("__b"), col("nbrs").as("nb"))),
          col("pb") === col("__b"), "left")
        .select(size(array_intersect(col("na"),
          coalesce(col("nb"), array()))).cast("long").as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
      val wedgeCount = e
        .select(col("pa").as("n"), lit(1L).as("o"), lit(0L).as("i"))
        .unionAll(e.select(col("pb").as("n"), lit(0L).as("o"), lit(1L).as("i")))
        .groupBy("n").agg(sum("o").as("outd"), sum("i").as("ind"))
        // coalesce: an edge-free graph has ZERO wedges (the twin's COUNT
        // form can't go null); nullif keeps the ppm NULL-not-crash there
        // (round-12 empty/single fuzz).
        .agg(coalesce(sum(col("ind") * col("outd")), lit(0L)).as("n_wedges"))
      e.agg(count(lit(1)).as("n_edges")).crossJoin(wedgeCount)
        .crossJoin(tri)
        .withColumn("closure_ppm",
          expr("n_triangles * 1000000 div nullif(n_wedges, 0)"))
    },

    // ---- equi-width histogram: width_bucket bins computed map-side, so
    // the shuffle carries (type, bin) partial counts — bounded by
    // #types × #bins regardless of row count; under/overflow ride in
    // buckets 0 and nbins+1 rather than silently clipping. ---------------
    "a16_histogram" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          width_bucket(col("value"), lit(0.0), lit(100.0), lit(10)).as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min("value"), 4).as("lo"), round(max("value"), 4).as("hi"))
        .orderBy("event_type", "bucket")
    },

    // ---- equi-DEPTH histogram (a16's cousin): deciles assigned by PURE
    // INTEGER rank arithmetic — bin = 1 + (rn-1)*10 div n — not by
    // interpolated float boundaries: Spark's percentile and DuckDB's
    // quantile_cont disagree by one ulp on interpolated cut points (found
    // at sf0.1: the 0.7 boundary straddled 59.24 and flipped ~4 rows), so
    // any boundary-comparison formulation is a knife-edge. The rank form
    // is exact, and TIE-STABLE: tied values may get arbitrary rn order,
    // but per-bin n is fixed by the arithmetic and lo/hi/min/max see only
    // the value — every output cell is deterministic. Ties can split a
    // value across adjacent bins (ntile semantics; documented). One
    // event_type shuffle serves both window functions. At corpus scale a
    // per-type rank window is a skew hazard — swap in a12's sketch
    // boundaries (fixed-size, mergeable) and accept approximate depths;
    // this exact form is the oracle-parity variant. ----------------------
    "a18_equidepth_bins" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val rankW = Window.partitionBy("event_type").orderBy("value")
      val typeW = Window.partitionBy("event_type")
      Tables.events(s, dir)
        .filter(col("value").isNotNull).select("event_type", "value")
        .withColumn("rn", row_number().over(rankW))
        .withColumn("nt", count(lit(1)).over(typeW))
        .withColumn("bin", expr("1 + ((rn - 1) * 10) div nt").cast("long"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"),
          round(min("value"), 4).as("lo"), round(max("value"), 4).as("hi"))
        .orderBy("event_type", "bin")
    },

    // ---- time-RANGE window frame: trailing 1-hour per-user activity at
    // EVERY event (count + exact decimal sum) — the range-frame cousin of
    // w4's rows-frame: the frame is defined by event-time distance, not
    // row count, so bursts widen it and gaps empty it. Frame arithmetic
    // runs on integer epoch seconds; one user_id shuffle. ----------------
    "w6_trailing_range" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val trailing = Window.partitionBy("user_id")
        .orderBy(col("tsec")).rangeBetween(-3600L, 0L)
      Tables.events(s, dir)
        .withColumn("tsec", floor(col("ts").cast("double")).cast("long"))
        .withColumn("n_1h", count(lit(1)).over(trailing))
        .withColumn("sum_1h",
          sum(col("value").cast("decimal(18,6)")).over(trailing))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max("n_1h").as("max_burst"),
          round(max("sum_1h").cast("double"), 4).as("max_burst_value"))
        .orderBy("user_id")
    },

    // ---- per-key mode (most frequent value): two hash aggregations —
    // (key, value) counts, then max_by picks each key's winner with a
    // deterministic (n, value) tie-break. No window sort, no per-key
    // value lists; the second shuffle carries one row per (key, value). --
    "a17_mode_per_user" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(
          max_by(col("event_type"), struct(col("n"), col("event_type")))
            .as("top_type"),
          max(struct(col("n"), col("event_type"))).getField("n").as("top_n"))
        .orderBy("user_id")
    },

    // ---- data-quality constraint suite (Deequ-shaped): ONE pass over
    // orders computes completeness / uniqueness / range / domain checks
    // as plain aggregates; referential integrity is a broadcast
    // anti-join against the customer key column. Metrics are integer
    // violation counts (hash-exact), one row per check — the gate a
    // pipeline consults before a training run may read the table. The
    // 100k price-ceiling check fails on the fixture by design, so the
    // oracle discriminates pass from fail. ------------------------------
    "dq1_constraint_suite" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      val base = o.agg(
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_cust"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_keys"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpos_price"),
        sum(when(col("o_totalprice") > 100000, 1L).otherwise(0L)).as("big_price"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
          .as("bad_status"))
      val orphans = o.select("o_custkey").filter(col("o_custkey").isNotNull)
        .join(broadcast(Tables.customer(s, dir).select("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_fk"))
      base.crossJoin(orphans) // both sides are single aggregate rows
        .select(explode(array(
          struct(lit("completeness_custkey").as("check_name"),
            col("null_cust").as("violations")),
          struct(lit("domain_orderstatus").as("check_name"),
            col("bad_status").as("violations")),
          struct(lit("range_totalprice_le_100k").as("check_name"),
            col("big_price").as("violations")),
          struct(lit("range_totalprice_pos").as("check_name"),
            col("nonpos_price").as("violations")),
          struct(lit("ref_integrity_custkey").as("check_name"),
            col("orphan_fk").as("violations")),
          struct(lit("uniqueness_orderkey").as("check_name"),
            col("dup_keys").as("violations")))).as("c"))
        .select(col("c.check_name"), col("c.violations"),
          (col("c.violations") === 0L).as("passed"))
        .orderBy("check_name")
    },

    // ---- TPC-H Q18 (large-volume customer): the quantity aggregate is
    // computed ONCE (groupBy l_orderkey), HAVING-filtered to the rare
    // big orders, and that small frame is broadcast into orders — no
    // second lineitem scan, no IN-subquery re-evaluation. The join
    // output stays big-order-sized, so the customer join's probe side
    // is tiny at any scale; TakeOrderedAndProject caps the result. ------
    "q18_large_volume" -> { (s, dir) =>
      val big = Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(sum("l_quantity").as("sum_qty"))
        .filter(col("sum_qty") > 200)
      Tables.orders(s, dir)
        .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          round(col("sum_qty"), 2).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },

    // ---- cohort retention: users bucketed by first-seen epoch-week
    // (integer `unix_micros div week` — no date_trunc, whose ISO-week
    // conventions are a cross-engine trap), then distinct-user counts
    // per (cohort, offset) cell and an exact basis-point retention rate
    // (n·10⁴ div size). Two shuffles on user_id (first-seen + join back,
    // co-partitioned) and one on the cohort grain; the per-cohort size
    // frame is weeks-sized, so it broadcasts at any corpus scale. --------
    "ret1_cohort_retention" -> { (s, dir) =>
      val weeks = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"), expr("unix_micros(ts) div 604800000000L").as("week"))
      val first = weeks.groupBy("user_id").agg(min("week").as("cohort_week"))
      val cells = weeks.join(first, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("offset_weeks"))
        .agg(countDistinct("user_id").as("n_users"))
      val sizes = first.groupBy("cohort_week")
        .agg(count(lit(1)).as("cohort_size"))
      cells.join(broadcast(sizes), "cohort_week")
        .select(col("cohort_week"), col("offset_weeks"), col("n_users"),
          col("cohort_size"),
          expr("n_users * 10000L div cohort_size").as("retention_bp"))
        .orderBy("cohort_week", "offset_weeks")
    },

    // ---- interval×interval overlap join, cell-bucketed: per-customer
    // order-activity windows (even vs odd orderkeys) matched on overlap.
    // Both sides explode to 32-day cells, equi-join on (custkey, cell),
    // and each pair is kept only in the cell containing the overlap's
    // START — a per-row predicate replacing the distinct() a naive
    // bucketed interval join needs. Candidates are bounded per key-cell,
    // never |A|×|B|; the oracle pays the quadratic per-customer form. ----
    "j10_interval_overlap" -> { (s, dir) =>
      val iv = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          expr("unix_date(cast(o_orderdate AS date))").cast("long").as("lo"))
        .withColumn("hi", col("lo") + col("o_orderkey") % 20 + 3)
      val a = iv.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_custkey"), col("o_orderkey").as("a_key"),
          col("lo").as("a_lo"), col("hi").as("a_hi"))
      val b = iv.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_custkey"), col("o_orderkey").as("b_key"),
          col("lo").as("b_lo"), col("hi").as("b_hi"))
      graft.operators.TemporalJoins.intervalOverlapJoin(
          a, b, "o_custkey", "a_lo", "a_hi", "b_lo", "b_hi", cellWidth = 32L)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_pairs"), sum("overlap").as("total_overlap_days"))
        .orderBy("o_custkey")
    },

    // ---- distribution drift between the first and second half of the
    // time range: per (event_type, value-bucket) counts for both halves
    // and an exact cross-multiplied share test — 20·|n_a·T_b − n_b·T_a|
    // > T_a·T_b flags cells whose share moved more than 5 points, with
    // no float rates anywhere. The time split is the integer midpoint of
    // the observed day range (broadcast single-row bounds); bucket
    // partials are computed map-side, so the shuffle carries
    // #types × #buckets × 2 rows regardless of corpus size. Products
    // overflow int64 past ~3×10⁹ rows per half — widen to DECIMAL then. --
    "dq2_drift" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_type"), col("value"),
          expr("unix_micros(ts) div 86400000000L").as("day"))
      val bounds = ev.agg(min("day").as("d0"), max("day").as("d1"))
      val cells = ev.crossJoin(broadcast(bounds))
        .select(col("event_type"),
          (col("day") * 2 <= col("d0") + col("d1")).as("first_half"),
          width_bucket(col("value"), lit(0.0), lit(100.0), lit(10)).as("bucket"))
        .groupBy("event_type", "bucket")
        .agg(sum(when(col("first_half"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("first_half"), 1L).otherwise(0L)).as("n_b"))
      // per-type totals via a window over the CELLS frame (types×buckets
      // rows) — a separate agg+join branch would rescan events end-to-end
      val tw = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      cells
        .withColumn("t_a", sum("n_a").over(tw))
        .withColumn("t_b", sum("n_b").over(tw))
        .select(col("event_type"), col("bucket"), col("n_a"), col("n_b"),
          (abs(col("n_a") * col("t_b") - col("n_b") * col("t_a")) * 20 >
            col("t_a") * col("t_b")).as("drifted"))
        .orderBy("event_type", "bucket")
    },

    // ---- daily growth curve: new users (first-seen day), active users,
    // and the running cumulative-distinct total. "Cumulative distinct
    // users" never scans history: it is the prefix-sum of first-seen
    // counts — one groupBy(user) + one day-grain agg; the unpartitioned
    // running-sum window is over the DAY-grain frame (bounded by the
    // calendar, not the corpus), so the single window partition holds
    // #days rows at any scale. ------------------------------------------
    "w8_cumulative_users" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val days = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000L").as("day"))
      val newPerDay = days.groupBy("user_id").agg(min("day").as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      val activePerDay = days.groupBy("day")
        .agg(countDistinct("user_id").as("active_users"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      newPerDay.join(activePerDay, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("new_users"), lit(0L)).as("new_users"),
          coalesce(col("active_users"), lit(0L)).as("active_users"))
        .withColumn("cum_users", sum("new_users").over(w))
        .orderBy("day")
    },

    // ---- ordered conversion funnel: first view → first later click →
    // first later purchase, per user; one summary row. Every stage aggs
    // and joins on user_id, so all k stages ride one hash partitioning;
    // stage frames shrink monotonically. See Engine.funnelSteps. ---------
    "fn1_funnel" -> { (s, dir) =>
      new Engine(s).funnelSteps(
          Tables.events(s, dir), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))
        .agg(
          count(lit(1)).as("n_step1"),
          count(col("ts_2")).as("n_step2"),
          count(col("ts_3")).as("n_step3"),
          round(avg(unix_micros(col("ts_3")) - unix_micros(col("ts_1")))
            / 1e6, 3).as("avg_sec_to_convert"))
    },

    // ---- z-score anomaly screen per event_type: the 5-row stats frame
    // broadcasts back onto the event scan, so the 100 TB side is scanned
    // twice but NEVER shuffled — at scale two columnar scans beat one
    // full-table exchange. Thresholds use unrounded μ/σ (ulp-level engine
    // divergence only matters if a value sits within ~1e-12 of the 3σ
    // boundary — vanishing for continuous data); reported stats round. ---
    "dq3_anomaly" -> { (s, dir) =>
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"), col("value"))
      val stats = ev.groupBy("event_type").agg(
        avg("value").as("mu"), stddev_samp("value").as("sigma"),
        count(lit(1)).as("n"))
      val isOut = abs(col("value") - col("mu")) > col("sigma") * 3
      ev.join(broadcast(stats), Seq("event_type"))
        .groupBy("event_type")
        .agg(
          max(col("n")).as("n"),
          sum(when(isOut, 1L).otherwise(0L)).as("n_outliers"),
          round(max(when(isOut, col("value"))), 4).as("max_outlier"),
          round(max(col("mu")), 4).as("mu"),
          round(max(col("sigma")), 4).as("sigma"))
        .orderBy("event_type")
    },

    // ---- event-type co-occurrence: which behaviors share users. Single
    // shuffle on user_id builds the bounded per-user type set
    // (|distinct types|, not |events|); ordered pairs explode from the
    // sorted set per user — candidate volume is users × C(types,2), never
    // a self-join of the event table. ----------------------------------
    "a20_cooccurrence" -> { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .groupBy("user_id")
        .agg(array_sort(collect_set("event_type")).as("ts"))
        .select(posexplode(col("ts")).as(Seq("i", "type_a")), col("ts"))
        .select(col("type_a"),
          explode(expr("slice(ts, i + 2, size(ts))")).as("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_users"))
        .orderBy(desc("n_users"), col("type_a"), col("type_b"))
    },

    // ---- FORWARD as-of with freshness tolerance: each view matched to
    // the user's NEXT purchase, but only if it lands within the hour —
    // the feature-store "nearest reading, only if fresh" lookup. Same
    // one-shuffle merge-union plan as j6; DuckDB's native ASOF (>=)
    // oracles the direction, an interval CASE oracles the tolerance. ----
    "j11_asof_tolerance" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(expr("max_by(value, event_id)").as("price"))
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      graft.operators.TemporalJoins.asofJoinTolerance(
          views, purchases, key = "user_id", time = "ts",
          valueCol = "price", asofCol = "next_price",
          toleranceMicros = 3600L * 1000000L, forward = true)
        .select(col("event_id"), col("user_id"),
          round(col("next_price"), 2).as("next_price"))
        .orderBy("event_id")
    },

    // ---- group-wise least squares, closed form: price-per-quantity slope
    // and intercept per return flag. The five moments accumulate as EXACT
    // decimals (a15's recipe — FP summation order can't move them); the
    // one double formula evaluates identically on both engines, so the
    // fit is bit-deterministic at any partition count. -------------------
    "lr1_price_regression" -> { (s, dir) =>
      import Stats.parityRound
      val d = Tables.lineitem(s, dir).select(col("l_returnflag"),
        col("l_quantity").cast("decimal(18,2)").as("x"),
        col("l_extendedprice").cast("decimal(18,2)").as("y"))
      val m = d.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      val nd = col("n").cast("double")
      def dbl(c: String) = col(c).cast("double")
      // nullif'd: a one-point (zero-variance) group has no defined slope —
      // NULL like the DuckDB twin, not an ANSI DIVIDE_BY_ZERO crash
      // (round-12 single-row fuzz). The NULL slope nulls the intercept too.
      val slope = (nd * dbl("sxy") - dbl("sx") * dbl("sy")) /
        nullif(nd * dbl("sxx") - dbl("sx") * dbl("sx"), lit(0.0))
      m.select(col("l_returnflag"), col("n"),
          parityRound(slope, 6).as("slope"),
          parityRound((dbl("sy") - slope * dbl("sx")) / nd, 6).as("intercept"))
        .orderBy("l_returnflag")
    },

    // ---- TPC-H Q7 shape: bilateral trade volume between two nations by
    // ship year. The symmetric nation-pair predicate rides the joined row
    // (after both nation dims broadcast), so Catalyst keeps the fact
    // tables in one shuffle-join spine; the year split is a map-side
    // projection. ------------------------------------------------------
    "q7_nation_trade" -> { (s, dir) =>
      val n1 = broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")))
      val n2 = broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation")))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("s_nkey"))
        .join(n2, col("c_nationkey") === col("c_nkey"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(Stats.sumMoney(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // ---- TPC-H Q10 shape: top customers by returned-item revenue in a
    // two-quarter window. Selective order-date filter pushes to the scan;
    // the customer/nation dims broadcast; the ranked cut is a
    // TakeOrderedAndProject on rounded revenue (deterministic custkey
    // tie-break), never a global sort. ---------------------------------
    "q10_returned_items" -> { (s, dir) =>
      Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(Stats.sumMoney(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(20)
    },

    // ---- key-skew diagnostics: the pre-flight a 100 TB join needs —
    // per-key frequency profile (max/avg skew factor, heavy-key count)
    // per grouping column. Two narrow aggregates: per-key counts, then
    // count-grain stats; integer except the one rounded ratio. ----------
    "dq4_skew_stats" -> { (s, dir) =>
      val perKey = Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .groupBy("user_id").agg(count(lit(1)).as("c"))
      val totals = perKey.agg(count(lit(1)).as("n_keys"),
        sum("c").as("n_rows"), max("c").as("max_key_rows"))
      // heavy key test by exact cross-multiplication: c > 2·avg ⇔
      // c·n_keys > 2·n_rows — no float rates in the predicate. The
      // products stay in int64 while max_key_rows·n_keys < 9.2e18
      // (e.g. 1e9 keys × 1e9-row hottest key); widen to DECIMAL past that.
      perKey.crossJoin(broadcast(totals))
        .agg(max("n_keys").as("n_keys"), max("n_rows").as("n_rows"),
          max("max_key_rows").as("max_key_rows"),
          sum(when(col("c") * col("n_keys") > col("n_rows") * 2, 1L)
            .otherwise(0L)).as("n_heavy_keys"))
        .withColumn("skew_factor", round(
          col("max_key_rows") * col("n_keys") / col("n_rows").cast("double"), 4))
    },

    // ---- rolling 7-day active users, one pipeline: each distinct
    // (user, day) presence pair explodes MAP-SIDE to the ≤7 trailing
    // windows it feeds (shuffle volume presence×7, never events×7); the
    // (user, window-day) aggregate both dedups and remembers whether the
    // pair anchors the window (off=0), so the day-grain agg reads DAU and
    // WAU from the same frame — 3 shuffles, zero joins. A window-day is
    // real iff someone was active ON it (dau > 0), which prunes the
    // phantom days past each activity gap. -------------------------------
    "a21_trailing_dau" -> { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000L").as("day"))
        .distinct()
        .withColumn("off", explode(sequence(lit(0L), lit(6L))))
        .groupBy(col("user_id"), (col("day") + col("off")).as("day"))
        .agg(max(when(col("off") === 0L, 1L).otherwise(0L)).as("h0"))
        .groupBy("day")
        .agg(sum("h0").as("dau"), count(lit(1)).as("wau7"))
        .filter(col("dau") > 0)
        .orderBy("day")
    },

    // ---- ANALYZE-style column profile: null count / NDV / min / max for
    // every profiled column in ONE scan (multi-countDistinct plans a
    // single expand + hash agg, no per-column passes), then stack() to the
    // column-grain table a catalog stores. Numeric extrema stay typed
    // (double) — cross-engine double→string rendering is a knife-edge. ---
    "dq5_profile" -> { (s, dir) =>
      // NOT 32-way pinned: on a real multi-split input the expand's partial
      // aggregation parallelizes per split for free; paying a full-table
      // exchange to parallelize the single-split fixture trades a local
      // 0.2 s for a 100 TB shuffle and blows the 2-shuffle budget
      Tables.events(s, dir)
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("event_id").isNull, 1L).otherwise(0L)).as("id_null"),
          countDistinct("event_id").as("id_nd"),
          min("event_id").cast("double").as("id_min"),
          max("event_id").cast("double").as("id_max"),
          sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("u_null"),
          countDistinct("user_id").as("u_nd"),
          min("user_id").cast("double").as("u_min"),
          max("user_id").cast("double").as("u_max"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("v_null"),
          countDistinct("value").as("v_nd"),
          round(min("value"), 4).as("v_min"), round(max("value"), 4).as("v_max"),
          sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("t_null"),
          countDistinct("event_type").as("t_nd"))
        .select(col("n"), expr(
          """stack(4,
               'event_id',   id_null, id_nd, id_min, id_max,
               'user_id',    u_null,  u_nd,  u_min,  u_max,
               'value',      v_null,  v_nd,  v_min,  v_max,
               'event_type', t_null,  t_nd,  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE))
             AS (column_name, n_null, n_distinct, min_val, max_val)"""))
        .orderBy("column_name")
    },

    // ---- point-in-time dimension join: purchases attributed to the SCD2
    // status version valid AT the fact's timestamp — the feature-store
    // correctness op (training must see the feature value as-of the label
    // time, not today's). Composed from scd2History + the one-shuffle
    // as-of merge join (latest valid_from <= ts ≡ interval containment,
    // versions tile time); no range θ-join anywhere. ---------------------
    "j12_point_in_time" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      // dimension log: signup/error transitions, one change per (user, ts)
      val log = ev.filter(col("event_type").isin("signup", "error"))
        .groupBy("user_id", "ts")
        .agg(expr("max_by(event_type, event_id)").as("status"),
          max("event_id").as("event_id"))
      val dim = new Engine(s)
        .scd2History(log, "user_id", "ts", "status", "event_id")
        .withColumn("sv", struct(col("version"), col("status")))
        .withColumnRenamed("valid_from", "ts")
      val facts = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.TemporalJoins.asofJoin(
          facts, dim, key = "user_id", time = "ts",
          valueCol = "sv", asofCol = "asof")
        .groupBy(coalesce(col("asof.status"), lit("none")).as("status"))
        .agg(count(lit(1)).as("n_purchases"),
          countDistinct("user_id").as("n_users"),
          Stats.sumMoney("value").as("sum_value"))
        .orderBy("status")
    },

    // ---- week-over-week change per event type: calendar-grain aggregate
    // (shuffle carries types × weeks rows, map-side partials) + a lag
    // window over that bounded frame; the change ratio is one rounded
    // IEEE division. -----------------------------------------------------
    "w9_wow_change" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wk = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 604800000000L").as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("week")
      wk.withColumn("prev_n", lag("n", 1).over(w))
        .withColumn("change_pct",
          round(lit(100.0) * (col("n") - col("prev_n")) / col("prev_n"), 2))
        .orderBy("event_type", "week")
    },

    // ---- referential-integrity audit: orphan-FK and null-FK counts for
    // every edge of the star schema — the pre-flight data-quality gate a
    // pipeline runs before training joins. Each relationship is one left
    // join against the BROADCAST distinct-PK frame (the 100 TB fact side
    // never shuffles; counts fold map-side to a single row), unioned into
    // one audit table. ----------------------------------------------------
    "dq6_ref_integrity" -> { (s, dir) =>
      def audit(name: String, fact: DataFrame, fk: String,
          dim: DataFrame, pk: String): DataFrame =
        fact.select(col(fk).as("__fk"))
          .join(broadcast(dim.select(col(pk).as("__pk")).distinct()),
            col("__fk") === col("__pk"), "left")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("__fk").isNull, 1L).otherwise(0L)).as("n_null_fk"),
            sum(when(col("__fk").isNotNull && col("__pk").isNull, 1L)
              .otherwise(0L)).as("n_orphans"))
          .select(lit(name).as("relationship"),
            col("n_rows"), col("n_null_fk"), col("n_orphans"))
      Seq(
        audit("customer.nationkey->nation", Tables.customer(s, dir), "c_nationkey",
          Tables.nation(s, dir), "n_nationkey"),
        audit("lineitem.orderkey->orders", Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey"),
        audit("lineitem.partkey->part", Tables.lineitem(s, dir), "l_partkey",
          Tables.part(s, dir), "p_partkey"),
        audit("lineitem.suppkey->supplier", Tables.lineitem(s, dir), "l_suppkey",
          Tables.supplier(s, dir), "s_suppkey"),
        audit("nation.regionkey->region", Tables.nation(s, dir), "n_regionkey",
          Tables.region(s, dir), "r_regionkey"),
        audit("orders.custkey->customer", Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey"),
        audit("supplier.nationkey->nation", Tables.supplier(s, dir), "s_nationkey",
          Tables.nation(s, dir), "n_nationkey"))
        .reduce(_.unionByName(_))
        .orderBy("relationship")
    },

    // ---- triangle counting with DEGREE-ORDERED orientation: each edge
    // points from its lower-(degree, id) endpoint, so per-node out-degree
    // is O(sqrt(m)) and the wedge self-join fans out far below the naive
    // sum-of-deg² — the standard trick that keeps triangle enumeration
    // feasible on power-law graphs (one hub of degree 10^6 would otherwise
    // emit 10^12 wedges). Wedges close via one left-semi probe against the
    // id-canonical edge set; every triangle has exactly one apex under the
    // orientation, so no /3 correction and no double counting. -----------
    "gr2_triangle_count" -> { (s, dir) =>
      val k = 4096
      val und = Tables.lineitem(s, dir)
        .filter(col("l_linenumber") === 1 &&
          col("l_orderkey") % k =!= col("l_partkey") % k)
        .select(least(col("l_orderkey") % k, col("l_partkey") % k).as("u"),
          greatest(col("l_orderkey") % k, col("l_partkey") % k).as("v"))
        // NOT 32-way pinned (r11 A/B): the mod-4096 pair domain collapses
        // this frame to a few thousand rows — a forced 32-wide exchange of
        // the pre-distinct scan costs 2x the whole query (0.44 -> 0.89 s
        // one-shot) and buys nothing downstream
        .distinct()
        .localCheckpoint(false) // reused: degrees, orientation, wedge close
      val deg = und.select(col("u").as("n"))
        .unionAll(und.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      // deg is ≤4096 rows — broadcast both sides of the orientation join so
      // the edge list (the scale side) is annotated map-side, never shuffled.
      val oriented = und
        .join(broadcast(deg.select(col("n").as("u"), col("d").as("du"))), "u")
        .join(broadcast(deg.select(col("n").as("v"), col("d").as("dv"))), "v")
        .select(
          when(col("du") < col("dv") ||
              (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("s"), col("v").as("t")))
            .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
        .select(col("e.s").as("s"), col("e.t").as("t"))
      // Adjacency-intersection count (the GraphFrames/MapReduce-standard
      // algorithm): for each oriented edge (s,t), triangles through it are
      // |N+(s) ∩ N+(t)|. Degree orientation bounds every N+ list by
      // O(sqrt(m)), and the wedge set — which grows ~quadratically with
      // density (the ~sf1 rehearsal's 10× denser graph produced ~100×
      // wedges) — is never materialized or shuffled: the only moving data
      // is one adjacency list per edge endpoint. The node-count-bounded
      // adjacency table broadcasts here; on a graph whose node set outgrows
      // broadcast range, drop the hints and both lookups become shuffle
      // joins on s/t — still O(m·sqrt(m)) work, no wedge blowup.
      val adj = oriented.groupBy(col("s"))
        .agg(sort_array(collect_list(col("t"))).as("nbrs"))
        .localCheckpoint(false) // read twice (per-endpoint lookup)
      val tri = oriented
        .join(broadcast(adj.select(col("s").as("__s"), col("nbrs").as("ns"))),
          col("s") === col("__s"))
        .join(broadcast(adj.select(col("s").as("__t"), col("nbrs").as("nt"))),
          col("t") === col("__t"), "left")
        .select(size(array_intersect(col("ns"),
          coalesce(col("nt"), array()))).as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
      val edges = und.agg(count(lit(1)).as("n_edges"))
      val nodes = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      nodes.crossJoin(edges).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          // nullif'd: a wedge-free graph (degenerate input) has an undefined
          // clustering coefficient — NULL like the DuckDB twin, not an ANSI
          // DIVIDE_BY_ZERO crash (round-12 single-row fuzz).
          Stats.parityRound(
            lit(3.0) * col("n_triangles") / nullif(col("n_wedges"), lit(0L)), 6)
            .as("clustering"))
    },
  )
}
