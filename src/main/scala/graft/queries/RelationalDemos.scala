package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.AggOps
import graft.tables.Tables

/** Testdata demos for scans, joins, aggregations, windows, and set
  * operations (SURVEY.md §2.1, §2.4–§2.7). Deterministic orderBy + explicit
  * tie-breaks everywhere (SURVEY §6 determinism notes); double sums go
  * through decimal for engine-independent results (AggOps.exactSum).
  */
object RelationalDemos {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // S2 — scan + projection + pushed filter.
    "scan_parquet" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // P1 — column pruning projection.
    "project" -> ((s, dir) => {
      Tables.part(s, dir)
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy("p_partkey")
    }),
    // Headline aggregation (TPC-H Q1 shape): map-side partial agg + one shuffle.
    "q1_agg" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.groupBy("l_returnflag", "l_linestatus").agg(
          AggOps.exactSum(col("l_quantity")).as("sum_qty"),
          AggOps.exactSum(col("l_extendedprice")).as("sum_base_price"),
          AggOps.exactProductSum(col("l_extendedprice"),
              lit(1) - col("l_discount"))
            .as("sum_disc_price"),
          (AggOps.exactSum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // J1 — equi inner join on the fact keys.
    "join_inner" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
              col("l_orderkey") === col("o_orderkey"))
        .select("o_orderkey", "l_linenumber", "o_custkey", "o_orderpriority",
                "l_quantity")
        .orderBy("o_orderkey", "l_linenumber")
    }),
    // J2 — keyed lookup probe: small literal key set joined (broadcast) in.
    "join_lookup" -> ((s, dir) => {
      import s.implicits._
      val probe = Seq(0L, 1L, 5L, 10L, 42L, 99L).toDF("probe_key")
      Tables.customer(s, dir)
        .join(broadcast(probe), col("c_custkey") === col("probe_key"))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),
    // J3 — enrichment join through two dimensions.
    "join_enrich" -> ((s, dir) => {
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
              col("c_nationkey") === col("n_nationkey"))
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment", "n_name")
        .orderBy("o_orderkey")
    }),
    // J6 — curie-else-name fallback: two left lookups + coalesce
    // (node_synonymizer.py:229-234).
    "join_fallback" -> ((s, dir) => {
      val nation = Tables.nation(s, dir)
      val byKey  = broadcast(nation.select(col("n_nationkey").as("k_key"),
                                           col("n_name").as("k_name")))
      val byName = broadcast(nation.select(col("n_name").as("m_name"),
                                           col("n_nationkey").as("m_key")))
      val probe = Tables.customer(s, dir).select(
        col("c_custkey"),
        when(col("c_custkey") % 2 === 0, col("c_nationkey")).as("nk"),
        when(col("c_custkey") % 2 =!= 0,
             concat(lit("NATION_"), (col("c_custkey") % 25).cast("string")))
          .as("nname"))
      probe
        .join(byKey, col("nk") === col("k_key"), "left")
        .join(byName, col("nname") === col("m_name"), "left")
        .select(col("c_custkey"),
                coalesce(col("k_name"), col("m_name")).as("resolved_nation"))
        .orderBy("c_custkey")
    }),
    // Salted join for pathological key skew (SURVEY §4.3, the ref's
    // ubiquitous-"aspirin" dictionary key): the fact side's entire mass
    // sits on 3 l_returnflag values, so an unsalted shuffle join lands
    // on ≤3 reducers no matter the cluster size. saltedJoin spreads
    // each hot key over (key, salt) reducer slots; the shuffle_hash
    // hint forces the skew-relevant plan (a 3-row dim would otherwise
    // broadcast and hide the mechanism). Result is salt-invariant —
    // the oracle is the plain join semantics.
    "join_salted" -> ((s, dir) => {
      val fact = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("rf"), col("l_quantity"))
      val dim = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("rf")).distinct()
        .withColumn("label", concat(lit("flag_"), col("rf")))
        .hint("shuffle_hash")
      graft.ops.Joins.saltedJoin(fact, dim, "rf", saltFactor = 16)
        .groupBy("label")
        .agg(count(lit(1)).as("n_rows"),
             AggOps.exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy("label")
    }),
    // The SALTED ShuffleProbe synonymizer mode under its own oracle
    // (VERDICT r15 #6): canonicalCuriesByName — the real J4 name-
    // lookup query — over a KG fixture with a deliberately Zipf-hot
    // simplified name (3/4 of all nodes share "aspirin", the
    // reference's ubiquitous-dictionary-key pathology), probed in
    // ShuffleProbe(salt=4) mode: the probe side replicates across 4
    // salt buckets, each node row hashes (by id) into one, so the hot
    // name's rows spread over 4 tasks instead of one. Results are
    // salt-invariant — the oracle is the plain name-argmax semantics,
    // so this row hash-matching IS the BroadcastProbe-parity proof in
    // the correctness gate (SynonymizerSpec pins mode equality too).
    "join_lookup_salted" -> ((s, dir) => {
      import s.implicits._
      val nodes = Tables.customer(s, dir).select(
        concat(lit("C:"), col("c_custkey")).as("id"),
        concat(lit("C:"), col("c_custkey")).as("id_simplified"),
        lit(null).cast("string").as("name"),
        when(col("c_custkey") % 4 =!= 0, lit("aspirin"))
          .otherwise(concat(lit("cust"), col("c_custkey")))
          .as("name_simplified"),
        lit(null).cast("string").as("category"),
        concat(lit("CL:"), col("c_nationkey")).as("cluster_id"))
      val clusters = Tables.nation(s, dir).select(
        concat(lit("CL:"), col("n_nationkey")).as("cluster_id"),
        col("n_name").as("name"),
        lit("Place").as("category"))
      val edges = Seq.empty[(String, String)].toDF("id", "subject")
      val syn = new graft.synonymizer.Synonymizer(nodes, clusters, edges,
        graft.synonymizer.Synonymizer.ShuffleProbe(salt = 4))
      val inputs = Seq("Aspirin!", "cust 8", "nope").toDF("input")
      syn.canonicalCuriesByName(inputs).orderBy("input")
    }),
    // Co-located join via bucketing: both sides written bucketBy(8) on
    // the join key (Partitioning.bucketedTable, memoized per corpus —
    // the write IS the shuffle, paid once at ingest), so the join
    // itself plans with ZERO ShuffleExchange under the SortMergeJoin
    // (PlanShapeSpec pins it; merge hint because at demo scale the dim
    // would broadcast and hide the mechanism). The 100 TB daily-join
    // layout made literal, like ann_ivf_pruned for partition pruning.
    "join_bucketed" -> ((s, dir) => {
      // bucketed-table names per corpus, stamped on BOTH backing
      // tables; reuse is gated on the names still resolving in the
      // CURRENT session's catalog (the fixture outlives any one session)
      val (ordersTbl, custTbl) =
        Fixtures.valid("bucketed", dir, "orders", "customer")(
            (t: (String, String)) =>
              s.catalog.tableExists(t._1) && s.catalog.tableExists(t._2)) {
        val tag = graft.tables.ArtifactTag(dir)
        val p = graft.tables.ScratchDirs.tmp("bucketed", dir)
        val (no, nc) = (s"g_orders_b_$tag", s"g_customer_b_$tag")
        graft.ops.Partitioning.bucketedTable(Tables.orders(s, dir), no,
          "o_custkey", buckets = 8, s"$p/orders")
        graft.ops.Partitioning.bucketedTable(Tables.customer(s, dir), nc,
          "c_custkey", buckets = 8, s"$p/customer")
        (no, nc)
      }
      s.table(ordersTbl).hint("merge")
        .join(s.table(custTbl), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
             AggOps.exactSum(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment")
    }),
    // J7 — cluster-member-style array build → explode → join
    // (node_synonymizer.py:236-256, 311-329).
    "explode_join" -> ((s, dir) => {
      val arrs = Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(array_sort(collect_set(col("l_partkey"))).as("pids"))
      arrs.select(col("l_orderkey"), explode(col("pids")).as("pk"))
        .join(Tables.part(s, dir), col("pk") === col("p_partkey"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_parts"),
             count(when(col("p_size") > 25, lit(1))).as("n_big_parts"))
        .orderBy("l_orderkey")
    }),
    // A1 — argmax-per-group (the reference's most distinctive semantic:
    // node_synonymizer.py:370-379). Tie-break: max count then max value.
    "argmax_group" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy("o_custkey", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("o_custkey")
        .agg(AggOps.argmax(col("o_orderpriority"), col("cnt")).as("m"))
        .select(col("o_custkey"), col("m.value").as("top_priority"),
                col("m.cnt").as("cnt"))
        .orderBy("o_custkey")
    }),
    // A2 — synonym-count ranking: collect per group, rank by size
    // (NER.py:69-81). Array serialized to a sorted CSV string: the driver's
    // pandas compare can't hash ndarray cells (map_histogram pattern); the
    // array form stays unit-tested in AggOpsSpec.
    "rank_by_count" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
             array_join(
               transform(array_sort(collect_list(col("o_orderkey"))),
                         _.cast("string")),
               ",").as("order_keys"))
        .orderBy(col("n_orders").desc, col("o_custkey"))
    }),
    // A3 — set-dedup of collected lists (utils.py:103-111); sorted-CSV form
    // for the same hash-stability reason as rank_by_count.
    "dedup_array" -> ((s, dir) => {
      Tables.customer(s, dir)
        .groupBy("c_nationkey")
        .agg(array_join(array_sort(collect_set(col("c_mktsegment"))), ",")
          .as("segments"))
        .orderBy("c_nationkey")
    }),
    // A4 — longest-name-wins merge (perform_NER.py:39-53).
    "maxby_len" -> ((s, dir) => {
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
              col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(AggOps.longestWins(col("c_name")).as("longest_name"))
        .orderBy("n_name")
    }),
    // A5 — per-group category histogram, assembled as a deterministic
    // sorted "k:v,k:v" string (map form is unit-tested; the string form is
    // hash-stable across engines) (node_synonymizer.py:121-141).
    "map_histogram" -> ((s, dir) => {
      Tables.events(s, dir)
        .join(Tables.customer(s, dir), col("user_id") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
              col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("n_name")
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("event_type"), col("cnt")))),
            x => concat(x.getField("event_type"), lit(":"),
                        x.getField("cnt").cast("string"))),
          ",").as("hist"))
        .orderBy("n_name")
    }),
    // A6 — last-wins upsert by key (utils.py:64-69). max_by aggregate, not
    // a row_number window: one hash shuffle with map-side partials and no
    // per-partition sort (same shape as its dedup_firstwin twin below).
    "dedup_lastwin" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id", "event_type")
        .agg(max_by(col("event_id"), struct(col("ts"), col("event_id")))
          .as("last_event_id"))
        .orderBy("user_id", "event_type")
    }),
    // A7 — first-wins insert by key (look_for_identifiers.py:86-89, 102-105).
    "dedup_firstwin" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id", "event_type")
        .agg(min_by(col("event_id"), struct(col("ts"), col("event_id")))
          .as("first_event_id"))
        .orderBy("user_id", "event_type")
    }),
    // A8 — entity → value-set accumulation (NER.py:103-108); sorted-CSV
    // string form (see rank_by_count note).
    "collect_set_group" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",")
          .as("types"))
        .orderBy("user_id")
    }),
    // A9 — union-of-sets flatten (node_synonymizer.py:238).
    "flatten_distinct" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(collect_set(col("event_type")).as("types"))
        .select(explode(col("types")).as("event_type"))
        .distinct()
        .orderBy("event_type")
    }),
    // W1 — top-1 per group via window row_number.
    "window_rownum" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    }),
    // North-star frame-spec window: per-user running sum (decimal-exact).
    "window_running" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          sum(col("value").cast(DecimalType(18, 4))).over(w)
            .cast("double").as("running"))
        .orderBy("event_id")
    }),
    // Custom typed UDAF (§2.8): bounded-state k-smallest per group —
    // explicit mergeable buffer, so partials combine map-side and any
    // merge tree gives the same answer (the distributed-correctness
    // contract a custom aggregation must satisfy at 1000 executors).
    "udaf_mink" -> ((s, dir) => {
      // min_ids serialized to a CSV string (driver's pandas compare
      // can't hash array cells); the array form stays typed in UdafsSpec.
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(array_join(
            transform(graft.ops.Udafs.minK(col("doc_id"), 5),
              x => x.cast("string")), ",").as("min_ids"))
        .orderBy("lang")
    }),
    // Distributed global row numbering: two-pass zipWithIndex (range
    // shuffle + count-only job + per-partition stamp) — NOT the
    // single-task `row_number() OVER (ORDER BY ...)` global window,
    // which funnels the whole dataset through one task.
    "global_index" -> ((s, dir) => {
      graft.ops.Indexing.globalIndex(
          Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
        .orderBy("doc_id")
    }),
    // lag/lead navigation: per-user inter-event gap in micros (the
    // retention/dwell-time primitive). Time axis = epoch micros (exact
    // long arithmetic on both engines); first event per user keeps a
    // NULL gap. One shuffle, keyed user_id.
    "window_lag" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("t_us"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"))
        .withColumn("gap_us", col("t_us") - lag(col("t_us"), 1).over(w))
        .orderBy("event_id")
    }),
    // W2 — global sort (+ top-k limit).
    "sort_global" -> ((s, dir) => {
      Tables.customer(s, dir)
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .select("c_custkey", "c_acctbal")
        .limit(100)
    }),
    // W3 — first element.
    "limit1" -> ((s, dir) => {
      Tables.nation(s, dir)
        .orderBy("n_nationkey")
        .select("n_nationkey", "n_name")
        .limit(1)
    }),
    // SET1 — anti-join: inputs with no match (node_synonymizer.py:143-148).
    // Orders with no lineitems (non-empty at every sf, unlike
    // customers-without-orders which the generator fully covers).
    // As-of join (no native Spark operator; union+window — see
    // Joins.asofJoin): each purchase matched to the user's latest
    // signup at or before it. Time axis = epoch micros (exact on both
    // engines: DuckDB truncates the parquet nanos exactly like
    // `ts div 1000`); signups pre-aggregated to unique (user, t).
    "asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("t_us", unix_micros(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "t_us", "value")
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy("user_id", "t_us")
        .agg(max(col("value")).as("sig_value"))
      graft.ops.Joins.asofJoin(purchases, signups, "user_id", "t_us",
          Seq("sig_value"))
        .select("event_id", "user_id", "t_us", "value", "asof_sig_value")
        .orderBy("event_id")
    }),
    // Range join via interval binning (no theta join — see
    // Joins.rangeJoinBinned): each error event matched to its containing
    // user session (intervals derived by the sessionizer itself).
    "range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val sessions = graft.streaming.EventsStream.sessionizeBatch(ev, 30)
        .select("user_id", "session_start", "session_end")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"),
                expr("unix_micros(ts) div 1000000").as("t_s"))
      graft.ops.Joins.rangeJoinBinned(errors, sessions, "user_id",
          "t_s", "session_start", "session_end", 600L)
        .select("event_id", "user_id", "t_s",
                "session_start", "session_end")
        .orderBy("event_id")
    }),
    // Signup → purchase funnel: first signup, first purchase at or
    // after it, 24h conversion flag (null when never converted).
    // Spark's native session_window aggregate (gap-merged sessions as a
    // grouping key — in batch a regular hash aggregate with window
    // merge, in streaming backed by the session state store). Same
    // 30-minute-gap semantics as the flatMapGroupsWithState sessionizer;
    // sessions merge while consecutive gaps are STRICTLY below the gap
    // (the oracle's new-session rule is diff >= gap).
    "session_window_builtin" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"),
                 session_window(col("ts"), "30 minutes").as("w"))
        .agg(min(unix_micros(col("ts"))).as("first_us"),
             max(unix_micros(col("ts"))).as("last_us"),
             count(lit(1)).as("n_events"))
        .select("user_id", "first_us", "last_us", "n_events")
        .orderBy("user_id", "first_us")
    }),
    // Multi-level aggregation: ROLLUP over (lang, source) with explicit
    // grouping-flag arithmetic (bit order pinned in both engines) —
    // subtotal/total rows carry NULL group keys.
    "rollup_stats" -> ((s, dir) => {
      Tables.documents(s, dir)
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("n_chars_sum"),
             (grouping(col("lang")) * 2 + grouping(col("source")))
               .cast("long").as("gid"))
        .orderBy(col("gid"), col("lang").asc_nulls_first,
                 col("source").asc_nulls_first)
    }),
    // Pivot: per-user event counts spread across a fixed event-type
    // column set (explicit value list — no collect-distinct pass; absent
    // combinations land 0, matching the oracle's CASE-count).
    "pivot_events" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
        .orderBy("user_id")
    }),
    "funnel_conversion" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("t", unix_micros(col("ts")))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("t")).as("t_signup"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(su, "user_id")
        .filter(col("t") >= col("t_signup"))
        .groupBy("user_id").agg(min(col("t")).as("t_first_purchase"))
      su.join(pu, Seq("user_id"), "left")
        .select(col("user_id"), col("t_signup"), col("t_first_purchase"),
          (col("t_first_purchase") - col("t_signup") <=
            lit(86400000000L)).as("converted_24h"))
        .orderBy("user_id")
    }),
    "anti_join" -> ((s, dir) => {
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
              col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    }),
    // SET1 — null-fill contract: every probe key appears, misses get null.
    "lookup_nullfill" -> ((s, dir) => {
      import s.implicits._
      val probe = Seq(0L, 1L, 2L, 3L, 999999999L).toDF("input")
      probe.join(Tables.customer(s, dir),
                 col("input") === col("c_custkey"), "left")
        .select(col("input"), col("c_name"))
        .orderBy("input")
    }),
    // SET3 — intersect.
    "set_ops" -> ((s, dir) => {
      val withOrders = Tables.orders(s, dir)
        .select(col("o_custkey").as("custkey")).distinct()
      val building = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      withOrders.intersect(building).orderBy("custkey")
    }),
    // SET2 — except (miss-retry set difference shape).
    "set_except" -> ((s, dir) => {
      val all = Tables.orders(s, dir).select(col("o_orderkey").as("okey"))
      val withLines = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("okey")).distinct()
      all.except(withLines).orderBy("okey")
    }),
    // Exact distinct count per group.
    "count_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"))
        .orderBy("l_returnflag")
    }),
    // Canonical lookup with return_all_categories
    // (node_synonymizer.py:121-141): probe → cluster (nation analogue)
    // plus the per-cluster member-category histogram, serialized to the
    // hash-stable sorted "k:v" CSV form (map_histogram lesson). The
    // histogram is per-cluster (computed once over the big side), NOT
    // per-input — probe fan-in joins it by cluster key.
    "canonical_categories" -> ((s, dir) => {
      import s.implicits._
      val probe = Seq(1L, 2L, 3L, 42L, 999999999L).toDF("input")
      val cust = Tables.customer(s, dir)
      val histo = cust
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("c_nationkey").as("h_nationkey"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("c_mktsegment"), col("cnt")))),
            x => concat(x.getField("c_mktsegment"), lit(":"),
                        x.getField("cnt").cast("string"))),
          ",").as("all_categories"))
      // (no broadcast hint: the probe is the PRESERVED side of the left
      // join — Spark can't broadcast-build the left of a left-outer)
      probe
        .join(cust, col("input") === col("c_custkey"), "left")
        .join(broadcast(Tables.nation(s, dir)),
              col("c_nationkey") === col("n_nationkey"), "left")
        .join(histo, col("c_nationkey") === col("h_nationkey"), "left")
        .select(col("input"), col("n_name").as("preferred_name"),
                col("all_categories"))
        .orderBy("input")
    }),
    // Sketch-based distinct. The HLL estimate itself is impl-specific, so
    // the oracle-checked surface is (exact count, |approx-exact| <= 5%):
    // deterministic on both engines, and the driver gate now pins the
    // sketch's accuracy instead of falling back to a rows-only check.
    "approx_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
             countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
                (abs(col("approx_parts") - col("exact_parts")) <=
                  col("exact_parts") * lit(0.05)).as("approx_ok"))
        .orderBy("l_returnflag")
    }),
    // SCD2 historization of a change log: collapse consecutive repeats
    // of the tracked attribute (event_type) per key, then derive
    // [valid_from, valid_to) intervals with lead(); the open interval is
    // the current row. Both windows share (user_id, (t_us, event_id))
    // partitioning+ordering, so Catalyst plans ONE shuffle+sort and
    // evaluates lag and lead back to back. Time axis = epoch micros
    // (exact long arithmetic cross-engine, same as window_lag).
    "scd2_history" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
                unix_micros(col("ts")).as("t_us"), col("event_id"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull ||
                col("prev_type") =!= col("event_type"))
        .withColumn("valid_to", lead(col("t_us"), 1).over(w))
        .select(col("user_id"), col("event_type"),
                col("t_us").as("valid_from"), col("valid_to"),
                col("valid_to").isNull.as("is_current"))
        .orderBy("user_id", "valid_from")
    }),
    // Count-min-sketch heavy hitters with an oracle-checkable accuracy
    // contract (same pattern as approx_distinct): the CMS guarantees
    // est >= exact and (w.p. 1-δ) est <= exact + ε·N; the demo emits the
    // exact count plus that contract as a boolean. The sketch has no
    // SQL probe surface, so it is probed ONCE on the driver over the
    // bounded distinct-key set (the same post-shuffle cardinality the
    // aggregate below produces) and the estimates ride the plan as one
    // map literal behind a codegen'd element_at — no UDF anywhere in
    // the engine (VERDICT r16 minor #3 closed). The sketch build
    // itself is Spark's distributed treeAggregate.
    "heavy_hitters" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val eps = 0.001
      // the probe table + ε·N slack are a value fixture (the offline-
      // index stance): building them runs Spark jobs, which must not
      // repeat on every registry construction / plan audit
      val (estMap, slack) = Fixtures.value("cms", dir, "events") {
        val cms = ev.stat.countMinSketch(col("event_type"), eps, 0.99, 42)
        // null keys out: a Spark map LITERAL rejects a null key at
        // runtime (the old UDF probe tolerated one silently) — a null
        // event_type group simply gets est = null → cms_ok = null,
        // same as any key outside the probe set. Cardinality is the
        // post-shuffle distinct-key count (event taxonomies are
        // small by construction); guard it so a mis-pointed column
        // can never bloat the plan literal
        val keys = ev.select(col("event_type"))
          .where(col("event_type").isNotNull).distinct()
          .collect().map(_.getString(0))
        require(keys.length <= 10000,
          s"heavy_hitters probe set has ${keys.length} keys — the " +
            "map-literal probe is for bounded key taxonomies")
        (keys.map(k => k -> cms.estimateCount(k)).toMap,
         eps * cms.totalCount())
      }
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("exact_cnt"))
        .withColumn("est", element_at(typedLit(estMap), col("event_type")))
        .select(col("event_type"), col("exact_cnt"),
                (col("est") >= col("exact_cnt") &&
                 col("est").cast("double") <=
                   col("exact_cnt").cast("double") + lit(slack))
                  .as("cms_ok"))
        .orderBy("event_type")
    }),
    // Distributed approximate quantiles (Greenwald-Khanna via
    // percentile_approx) with the rank-error contract checked in-query:
    // for each (group, q) the returned element's rank must lie within
    // ±ε·n of q·n (ε = 1/accuracy). Emitted columns are (group, q, ok) —
    // stable even though WHICH element GK returns can vary with merge
    // order, so the oracle row set is deterministic.
    "approx_quantiles" -> ((s, dir) => {
      val qs = Seq(0.25, 0.5, 0.75)
      val accuracy = 1000
      val eps = 1.0 / accuracy
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
                col("l_quantity").cast("double").as("v"))
      val ests = li.groupBy("flag")
        .agg(percentile_approx(col("v"),
               array(qs.map(lit): _*), lit(accuracy)).as("ests"),
             count(lit(1)).as("n"))
        .select(col("flag"), col("n"),
                posexplode(col("ests")).as(Seq("qi", "est")))
      ests.join(li, Seq("flag"))
        .groupBy("flag", "qi", "n", "est")
        .agg(sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("n_le"),
             sum(when(col("v") < col("est"), 1L).otherwise(0L)).as("n_lt"))
        .select(col("flag"),
                element_at(lit(qs.toArray), col("qi") + 1).as("q"),
                (col("n_le").cast("double") >=
                   (col("q") - eps) * col("n").cast("double") - 1e-9 &&
                 col("n_lt").cast("double") <=
                   (col("q") + eps) * col("n").cast("double") + 1e-9)
                  .as("within_ok"))
        .orderBy("flag", "q")
    }),
    // Semi-structured extraction: the JSON props column pulled apart
    // both ways — path extraction (get_json_object) and schema-on-read
    // typed parsing (from_json). At scale the typed form wins: one
    // parse per row into codegen'd struct fields vs one parse per path.
    "json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
                get_json_object(col("props"), "$.k").cast("long")
                  .as("k_path"),
                from_json(col("props"), "k LONG",
                    Map.empty[String, String]).getField("k").as("k_typed"))
        .orderBy("event_id")
    }),
    // Calendar rollup: monthly revenue trend via date_trunc, month
    // serialized as yyyy-MM (string-exact cross-engine), revenue in
    // integer cents.
    "monthly_trend" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg((sum(round(col("o_totalprice") * 100).cast("long"))
                .cast("double") / 100.0).as("revenue"),
             count(lit(1)).as("n_orders"))
        .orderBy("month")
    }),
    // Regex group capture: the priority rank digit extracted from
    // '5-LOW'-style codes (the capture-group surface, distinct from the
    // rlike predicates of R1).
    "regex_extract" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
                regexp_extract(col("o_orderpriority"), "^([0-9])-", 1)
                  .cast("long").as("prio_rank"))
        .orderBy("o_orderkey")
    }),
    // Windowed distinct count: distinct event types in each user's
    // trailing 5 events (sliding-engagement breadth). Spark has no
    // DISTINCT window aggregate — size(array_distinct(collect_list))
    // over the frame expresses it; the oracle uses DuckDB's native
    // count(DISTINCT) OVER.
    "window_distinct" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
        .rowsBetween(-4, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
                unix_micros(col("ts")).as("t_us"))
        .withColumn("d",
          size(array_distinct(collect_list(col("event_type")).over(w)))
            .cast("long"))
        .select("user_id", "event_id", "d")
        .orderBy("event_id")
    }),
    // Equi-width value histogram (profiling op): integer-exact bin
    // edges via floor division; one partial-aggregated shuffle.
    "histogram_bins" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(floor(col("l_quantity") / 10.0).cast("long").as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"))
        .select((col("bin") * 10).as("bin_lo"),
                (col("bin") * 10 + 10).as("bin_hi"), col("n"))
        .orderBy("bin_lo")
    }),
    // Fuzzy name matching (the synonymizer's name-alignment problem with
    // typo tolerance): probes × broadcast dictionary gated by edit
    // distance ≤ 1. The dictionary side is bounded (dimension-sized) —
    // the classic scale shape for approximate dictionary lookup.
    "fuzzy_match" -> ((s, dir) => {
      import s.implicits._
      val probes = Seq("NATON_3", "XATION_12", "NATION_7", "NOWHERE")
        .toDF("probe")
      probes.crossJoin(broadcast(Tables.nation(s, dir)))
        .withColumn("dist",
          levenshtein(col("probe"), col("n_name")).cast("long"))
        .filter(col("dist") <= 1)
        .select("probe", "n_name", "dist")
        .orderBy("probe", "n_name")
    }),
    // The spark.sql() API surface as a first-class path: a TPC-H
    // Q3-shaped multi-join aggregation expressed entirely in SQL over
    // temp views. Revenue in integer cents (the q1_agg exactness trick)
    // so the double division is engine-exact.
    "sql_q3" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT o_orderkey, o_orderdate, o_orderpriority,
          |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
          |           * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
          |    / 10000.0 AS revenue
          |FROM customer_v JOIN orders_v ON c_custkey = o_custkey
          |JOIN lineitem_v ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY o_orderkey, o_orderdate, o_orderpriority
          |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)
    }),
    // Event-rate spike detection (data-quality / monitoring op): flag
    // hours where a type's count exceeds 2× its trailing-24h average.
    // The comparison is cross-multiplied to pure integers
    // (n·n_trail > 2·sum_trail) — no float division, engine-exact.
    // One shuffle keyed by event_type; the trailing frame is a bounded
    // row window.
    "spike_detect" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(-24, -1)
      Tables.events(s, dir)
        .select(col("event_type"),
                expr("unix_micros(ts) div 3600000000").as("hour"))
        .groupBy("event_type", "hour")
        .agg(count(lit(1)).as("n"))
        .withColumn("sum_trail", sum(col("n")).over(w))
        .withColumn("n_trail", count(col("n")).over(w))
        .filter(col("n_trail") > 0 &&
                col("n") * col("n_trail") > col("sum_trail") * 2)
        .select(col("event_type"), col("hour"), col("n"),
                col("sum_trail"), col("n_trail"))
        .orderBy("event_type", "hour")
    }),
    // ANALYZE-style column profile (the data-quality pass a pipeline
    // runs before training): null count, distinct count, min/max per
    // column in one aggregate scan per column, unioned long-format.
    // min/max serialized via exact casts (long/string only — no
    // float formatting ambiguity).
    "table_profile" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      def prof(c: String) =
        e.agg(sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
              countDistinct(col(c)).as("n_distinct"),
              min(col(c)).cast("string").as("min_val"),
              max(col(c)).cast("string").as("max_val"))
          .select(lit(c).as("column"), col("n_nulls"), col("n_distinct"),
                  col("min_val"), col("max_val"))
      prof("user_id").unionByName(prof("event_type"))
        .unionByName(prof("event_id"))
        .orderBy("column")
    }),
    // Z-order locality key: Morton-interleave (user bucket × hour
    // bucket). Writing data sorted by zkey makes BOTH user-range and
    // time-range scans prune — the layout-clustering primitive for
    // multi-dimensional access patterns at 100 TB. Pure map-side bit
    // arithmetic (integer div + shifts, engine-exact).
    "zorder_key" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), (col("user_id") % 256).as("xb"),
                (expr("unix_micros(ts) div 3600000000") % 256).as("yb"))
        .select(col("event_id"),
                graft.ops.Indexing.zOrderKey(col("xb"), col("yb"), 8)
                  .as("zkey"))
        .orderBy("event_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "scan_parquet" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
        |WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "project" ->
      "SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "join_inner" ->
      """SELECT o_orderkey, l_linenumber, o_custkey, o_orderpriority, l_quantity
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY o_orderkey, l_linenumber""".stripMargin,
    "join_lookup" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey IN (0, 1, 5, 10, 42, 99) ORDER BY c_custkey""".stripMargin,
    "join_enrich" ->
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment, n_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY o_orderkey""".stripMargin,
    "join_fallback" ->
      """WITH probe AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 2 = 0 THEN c_nationkey END AS nk,
        |    CASE WHEN c_custkey % 2 <> 0 THEN 'NATION_' || CAST(c_custkey % 25 AS VARCHAR) END AS nname
        |  FROM customer)
        |SELECT c_custkey, COALESCE(k.n_name, m.n_name) AS resolved_nation
        |FROM probe
        |LEFT JOIN nation k ON probe.nk = k.n_nationkey
        |LEFT JOIN nation m ON probe.nname = m.n_name
        |ORDER BY c_custkey""".stripMargin,
    "join_salted" ->
      """SELECT 'flag_' || l_returnflag AS label, count(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY label""".stripMargin,
    // plain name-argmax semantics — the salted shuffle is a physical
    // strategy, invisible in the result by construction
    "join_lookup_salted" ->
      """WITH nodes AS (SELECT
        |    CASE WHEN c_custkey % 4 <> 0 THEN 'aspirin'
        |         ELSE 'cust' || CAST(c_custkey AS VARCHAR) END
        |      AS name_simplified,
        |    'CL:' || CAST(c_nationkey AS VARCHAR) AS cluster_id
        |  FROM customer),
        |inputs(input) AS (VALUES ('Aspirin!'), ('cust 8'), ('nope')),
        |probe AS (SELECT input,
        |    lower(regexp_replace(input, '[[:punct:]\s]', '', 'g'))
        |      AS probe_key
        |  FROM inputs),
        |j AS (SELECT input, cluster_id, count(*) AS cnt
        |  FROM probe JOIN nodes ON probe_key = name_simplified
        |  GROUP BY input, cluster_id),
        |r AS (SELECT input, cluster_id FROM j
        |  QUALIFY row_number() OVER (PARTITION BY input
        |    ORDER BY cnt DESC, cluster_id) = 1),
        |pref AS (SELECT 'CL:' || CAST(n_nationkey AS VARCHAR)
        |      AS cluster_id,
        |    n_name AS preferred_name,
        |    'biolink:Place' AS preferred_category
        |  FROM nation)
        |SELECT i.input, r.cluster_id AS preferred_curie,
        |  p.preferred_name, p.preferred_category
        |FROM inputs i LEFT JOIN r ON r.input = i.input
        |LEFT JOIN pref p ON p.cluster_id = r.cluster_id
        |ORDER BY i.input""".stripMargin,
    "join_bucketed" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "explode_join" ->
      """WITH arr AS (SELECT l_orderkey, list(DISTINCT l_partkey) AS pids FROM lineitem GROUP BY 1),
        |ex AS (SELECT l_orderkey, unnest(pids) AS pk FROM arr)
        |SELECT ex.l_orderkey, count(*) AS n_parts,
        |  count(*) FILTER (WHERE p_size > 25) AS n_big_parts
        |FROM ex JOIN part ON pk = p_partkey
        |GROUP BY ex.l_orderkey ORDER BY ex.l_orderkey""".stripMargin,
    "argmax_group" ->
      """SELECT o_custkey, o_orderpriority AS top_priority, count(*) AS cnt
        |FROM orders GROUP BY o_custkey, o_orderpriority
        |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY count(*) DESC, o_orderpriority DESC) = 1
        |ORDER BY o_custkey""".stripMargin,
    "rank_by_count" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_keys
        |FROM orders GROUP BY o_custkey
        |ORDER BY n_orders DESC, o_custkey""".stripMargin,
    "dedup_array" ->
      """SELECT c_nationkey,
        |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "maxby_len" ->
      """SELECT n_name, c_name AS longest_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |QUALIFY row_number() OVER (PARTITION BY n_name ORDER BY length(c_name) DESC, c_name DESC) = 1
        |ORDER BY n_name""".stripMargin,
    "map_histogram" ->
      """SELECT n_name, string_agg(event_type || ':' || CAST(cnt AS VARCHAR), ',' ORDER BY event_type) AS hist
        |FROM (SELECT n_name, event_type, count(*) AS cnt
        |      FROM events JOIN customer ON user_id = c_custkey
        |      JOIN nation ON c_nationkey = n_nationkey
        |      GROUP BY n_name, event_type)
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "dedup_lastwin" ->
      """SELECT user_id, event_type, event_id AS last_event_id FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "dedup_firstwin" ->
      """SELECT user_id, event_type, event_id AS first_event_id FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "collect_set_group" ->
      """SELECT user_id,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "flatten_distinct" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    "window_rownum" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1
        |ORDER BY o_custkey""".stripMargin,
    "window_running" ->
      """SELECT event_id, user_id, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running
        |FROM events ORDER BY event_id""".stripMargin,
    "udaf_mink" ->
      """SELECT lang, array_to_string((list(doc_id ORDER BY doc_id))[1:5], ',') AS min_ids
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "global_index" ->
      """SELECT doc_id, lang,
        |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
        |FROM documents ORDER BY doc_id""".stripMargin,
    "window_lag" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events)
        |SELECT event_id, user_id, t_us,
        |  t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS gap_us
        |FROM e ORDER BY event_id""".stripMargin,
    "sort_global" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 100""".stripMargin,
    "limit1" ->
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey LIMIT 1",
    "asof_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
        |             event_type, value FROM events),
        |l AS (SELECT event_id, user_id, t_us, value FROM e
        |      WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, t_us, max(value) AS sig_value FROM e
        |      WHERE event_type = 'signup' GROUP BY user_id, t_us)
        |SELECT l.event_id, l.user_id, l.t_us, l.value,
        |       r.sig_value AS asof_sig_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.t_us >= r.t_us
        |ORDER BY event_id""".stripMargin,
    "range_join" ->
      """WITH l AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events),
        |s AS (SELECT *, CASE WHEN prev_ts IS NULL
        |    OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
        |    THEN 1 ELSE 0 END AS new_session FROM l),
        |c AS (SELECT *, SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id FROM s),
        |sess AS (SELECT user_id,
        |    CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |    CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end
        |  FROM c GROUP BY user_id, session_id),
        |err AS (SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t_s
        |  FROM events WHERE event_type = 'error')
        |SELECT event_id, err.user_id, t_s, session_start, session_end
        |FROM err JOIN sess ON err.user_id = sess.user_id
        |  AND t_s BETWEEN session_start AND session_end
        |ORDER BY event_id""".stripMargin,
    "session_window_builtin" ->
      """WITH l AS (SELECT user_id, epoch_us(ts) AS t,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_t
        |  FROM events),
        |s AS (SELECT user_id, t, CASE WHEN prev_t IS NULL
        |    OR t - prev_t >= 1800000000 THEN 1 ELSE 0 END AS new_s FROM l),
        |c AS (SELECT user_id, t, SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM s)
        |SELECT user_id, min(t) AS first_us, max(t) AS last_us,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM c GROUP BY user_id, sid
        |ORDER BY user_id, first_us""".stripMargin,
    "rollup_stats" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
        |  CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid
        |FROM documents GROUP BY ROLLUP(lang, source)
        |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin,
    "pivot_events" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "funnel_conversion" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t
        |           FROM events),
        |su AS (SELECT user_id, min(t) AS t_signup FROM e
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |pu AS (SELECT e.user_id, min(t) AS t_first_purchase
        |       FROM e JOIN su USING (user_id)
        |       WHERE event_type = 'purchase' AND t >= t_signup
        |       GROUP BY e.user_id)
        |SELECT user_id, t_signup, t_first_purchase,
        |  (t_first_purchase - t_signup <= 86400000000) AS converted_24h
        |FROM su LEFT JOIN pu USING (user_id) ORDER BY user_id""".stripMargin,
    "anti_join" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "lookup_nullfill" ->
      """WITH probe(input) AS (VALUES (0), (1), (2), (3), (999999999))
        |SELECT CAST(input AS BIGINT) AS input, c_name
        |FROM probe LEFT JOIN customer ON input = c_custkey
        |ORDER BY input""".stripMargin,
    "set_ops" ->
      """SELECT custkey FROM (SELECT DISTINCT o_custkey AS custkey FROM orders)
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY custkey""".stripMargin,
    "set_except" ->
      """SELECT o_orderkey AS okey FROM orders
        |EXCEPT SELECT DISTINCT l_orderkey AS okey FROM lineitem
        |ORDER BY okey""".stripMargin,
    "count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "canonical_categories" ->
      """WITH probe(input) AS (VALUES (1), (2), (3), (42), (999999999)),
        |h AS (SELECT c_nationkey AS h_nationkey,
        |        string_agg(c_mktsegment || ':' || CAST(cnt AS VARCHAR), ',' ORDER BY c_mktsegment) AS all_categories
        |      FROM (SELECT c_nationkey, c_mktsegment, count(*) AS cnt
        |            FROM customer GROUP BY 1, 2)
        |      GROUP BY c_nationkey)
        |SELECT CAST(input AS BIGINT) AS input, n_name AS preferred_name, all_categories
        |FROM probe
        |LEFT JOIN customer ON input = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN h ON c_nationkey = h_nationkey
        |ORDER BY input""".stripMargin,
    // The HLL estimate is engine-specific; the checked contract is the
    // exact count plus the 5%-accuracy flag the Spark side computes.
    "approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "scd2_history" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id
        |           FROM events),
        |c AS (SELECT *, lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY t_us, event_id) AS prev_type
        |      FROM e),
        |ch AS (SELECT user_id, event_type, t_us, event_id FROM c
        |       WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type, t_us AS valid_from,
        |  lead(t_us) OVER w AS valid_to,
        |  (lead(t_us) OVER w IS NULL) AS is_current
        |FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
        |ORDER BY user_id, valid_from""".stripMargin,
    // The CMS estimate is sketch-internal; the checked contract is the
    // exact count plus the est∈[exact, exact+ε·N] flag the Spark side
    // computes (ε = 0.001, fixed seed).
    "heavy_hitters" ->
      """SELECT event_type, count(*) AS exact_cnt, TRUE AS cms_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // GK returns SOME element within rank ±ε·n of the target — which one
    // can vary with merge order, so the contract boolean (not the
    // element) is the deterministic, oracle-checkable surface.
    "approx_quantiles" ->
      """SELECT l_returnflag AS flag, CAST(q AS DOUBLE) AS q, TRUE AS within_ok
        |FROM (SELECT DISTINCT l_returnflag FROM lineitem),
        |     (VALUES (0.25), (0.5), (0.75)) AS t(q)
        |ORDER BY flag, q""".stripMargin,
    "json_extract" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed
        |FROM events ORDER BY event_id""".stripMargin,
    "monthly_trend" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
        |  count(*) AS n_orders
        |FROM orders GROUP BY month ORDER BY month""".stripMargin,
    "regex_extract" ->
      """SELECT o_orderkey,
        |  CAST(regexp_extract(o_orderpriority, '^([0-9])-', 1) AS BIGINT) AS prio_rank
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "window_distinct" ->
      """SELECT user_id, event_id,
        |  CAST(count(DISTINCT event_type) OVER
        |    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS d
        |FROM events ORDER BY event_id""".stripMargin,
    "histogram_bins" ->
      """WITH b AS (SELECT CAST(floor(l_quantity / 10.0) AS BIGINT) AS bin
        |           FROM lineitem)
        |SELECT bin * 10 AS bin_lo, bin * 10 + 10 AS bin_hi, count(*) AS n
        |FROM b GROUP BY bin ORDER BY bin_lo""".stripMargin,
    "fuzzy_match" ->
      """SELECT probe, n_name, CAST(levenshtein(probe, n_name) AS BIGINT) AS dist
        |FROM (VALUES ('NATON_3'), ('XATION_12'), ('NATION_7'), ('NOWHERE')) AS t(probe),
        |     nation
        |WHERE levenshtein(probe, n_name) <= 1
        |ORDER BY probe, n_name""".stripMargin,
    "sql_q3" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
        |    / 10000.0 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "spike_detect" ->
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |    count(*) AS n FROM events GROUP BY event_type, hour),
        |t AS (SELECT *,
        |    sum(n) OVER w AS sum_trail, count(n) OVER w AS n_trail
        |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hour, n, CAST(sum_trail AS BIGINT) AS sum_trail,
        |  n_trail
        |FROM t WHERE n_trail > 0 AND n * n_trail > sum_trail * 2
        |ORDER BY event_type, hour""".stripMargin,
    "table_profile" ->
      """SELECT 'event_id' AS "column",
        |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  count(DISTINCT event_id) AS n_distinct,
        |  CAST(min(event_id) AS VARCHAR) AS min_val, CAST(max(event_id) AS VARCHAR) AS max_val
        |FROM events
        |UNION ALL
        |SELECT 'event_type', CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT event_type), min(event_type), max(event_type) FROM events
        |UNION ALL
        |SELECT 'user_id', CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT user_id),
        |  CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR) FROM events
        |ORDER BY "column"""".stripMargin,
    "zorder_key" -> {
      val interleave = (0 until 8).map(i =>
        s"((((xb >> $i) & 1) << ${2 * i + 1}) | (((yb >> $i) & 1) << ${2 * i}))")
        .mkString(" | ")
      s"""WITH e AS (SELECT event_id, user_id % 256 AS xb,
         |    (epoch_us(ts) // 3600000000) % 256 AS yb FROM events)
         |SELECT event_id, $interleave AS zkey FROM e
         |ORDER BY event_id""".stripMargin
    }
  )
}
