package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fifth relational batch: the remaining recognizable TPC-H shapes
  * adapted to the available columns (EXISTS-correlated counting,
  * single-pass selective aggregate, disjunctive multi-predicate join,
  * anti-join + scalar-subquery combination). */
object RelationalQueries5 {
  import Registry.Q

  private def money(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  val all: Seq[Q] = Seq(
    // TPC-H Q4 shape: priority counts for orders having at least one
    // late lineitem (EXISTS → left-semi join).
    Q("q72_priority_exists",
      (spark, dir) => {
        val o = Tables.load(spark, dir, "orders")
        val li = Tables.load(spark, dir, "lineitem")
        val lateKeys = li
          .filter(year(col("l_shipdate")) >= 1999)
          .select(col("l_orderkey"))
        o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
          .join(lateKeys, o("o_orderkey") === lateKeys("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_orders
             |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
             |AND EXISTS (SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey AND year(l_shipdate) >= 1999)
             |GROUP BY o_orderpriority""".stripMargin)),

    // TPC-H Q6 shape: the forecast-revenue-change single-pass aggregate
    // (tight band predicates, no joins, pure scan+filter+agg).
    Q("q73_forecast_revenue",
      (spark, dir) => {
        val li = Tables.load(spark, dir, "lineitem")
        li.filter(
            col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
            col("l_discount").between(0.03, 0.07) &&
            col("l_quantity") < 24)
          .agg(sum(money(col("l_extendedprice")) * money(col("l_discount")))
            .cast("double").as("revenue_delta"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue_delta,
             |COUNT(*) AS n
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
             |AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // TPC-H Q19 shape: disjunctive bracketed predicates across the join
    // (three OR'd conjunct groups — exercises predicate normalization).
    Q("q74_disjunctive_join",
      (spark, dir) => {
        val li = Tables.load(spark, dir, "lineitem")
        val p = Tables.load(spark, dir, "part")
        li.join(p, li("l_partkey") === p("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
              col("l_quantity").between(20, 30)))
          .agg(sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
            .cast("double").as("revenue"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             |COUNT(*) AS n
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
             |OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
             |OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H Q22 shape: anti-join (customers with no orders) + scalar
    // subquery (above-average balances), grouped by a derived code.
    Q("q75_global_sales_opportunity",
      (spark, dir) => {
        val c = Tables.load(spark, dir, "customer")
        val o = Tables.load(spark, dir, "orders")
        val avgBal = c.filter(col("c_acctbal") > 0)
          .agg(avg(col("c_acctbal")).as("a")).head().getDouble(0)
        val bigOrders = o.filter(col("o_totalprice") > 300000)
          .select(col("o_custkey"))
        c.filter(col("c_acctbal") > avgBal)
          .join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_anti")
          .groupBy((col("c_nationkey") % 5).as("code"))
          .agg(count(lit(1)).as("n_customers"),
            sum(money(col("c_acctbal"))).cast("double").as("total_bal"))
      },
      Some("""SELECT CAST(c_nationkey % 5 AS INT) AS code, COUNT(*) AS n_customers,
             |CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
             |FROM customer
             |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
             |AND NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             |GROUP BY 1""".stripMargin)),
    // TPC-H Q21 shape: multi-EXISTS — suppliers whose lineitems are the
    // only late ones in multi-supplier orders (EXISTS other supplier,
    // NOT EXISTS other late supplier).
    Q("q79_multi_exists",
      (spark, dir) => {
        val li = Tables.load(spark, dir, "lineitem")
        val s = Tables.load(spark, dir, "supplier")
        val late = li.filter(year(col("l_shipdate")) >= 2000)
          .select(col("l_orderkey"), col("l_suppkey"))
        val others = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
        val lateOthers = late.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
        late
          .join(others, col("l_orderkey") === col("o2") &&
            col("l_suppkey") =!= col("s2"), "left_semi")
          .join(lateOthers, col("l_orderkey") === col("o3") &&
            col("l_suppkey") =!= col("s3"), "left_anti")
          .join(s, col("l_suppkey") === s("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
      },
      Some("""SELECT s_name, COUNT(*) AS numwait
             |FROM (SELECT l_orderkey, l_suppkey FROM lineitem WHERE year(l_shipdate) >= 2000) l1
             |JOIN supplier ON l1.l_suppkey = s_suppkey
             |WHERE EXISTS (SELECT 1 FROM lineitem l2
             |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
             |AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
             |    AND year(l3.l_shipdate) >= 2000)
             |GROUP BY s_name""".stripMargin)),

    // TPC-H Q2 shape: correlated min — suppliers offering their nation's
    // cheapest part price (min over a correlated group, join back).
    Q("q80_min_cost_supplier",
      (spark, dir) => {
        val s = Tables.load(spark, dir, "supplier")
        val minBal = s.groupBy(col("s_nationkey")).agg(min(col("s_acctbal")).as("mn"))
        s.join(minBal, Seq("s_nationkey"))
          .filter(col("s_acctbal") === col("mn"))
          .select(col("s_nationkey"), col("s_suppkey"), col("s_name"),
            round(col("s_acctbal"), 2).as("s_acctbal"))
      },
      Some("""SELECT s_nationkey, s_suppkey, s_name, ROUND(s_acctbal, 2) AS s_acctbal
             |FROM supplier s1
             |WHERE s_acctbal = (SELECT MIN(s_acctbal) FROM supplier s2
             |                   WHERE s2.s_nationkey = s1.s_nationkey)""".stripMargin)),

    // Source-format coverage: the same relation served from CSV and JSON
    // must agree with the parquet truth (oracle reads parquet). Round-trip
    // through /tmp exercises the csv/json writers AND readers with
    // explicit schemas (timestamps pinned to µs strings).
    Q("q82_csv_json_sources",
      (spark, dir) => {
        val n = Tables.load(spark, dir, "nation")
        val r = Tables.load(spark, dir, "region")
        val base = s"/tmp/graft-sources-${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        n.write.mode("overwrite").option("header", "true").csv(s"$base/nation_csv")
        r.write.mode("overwrite").json(s"$base/region_json")
        val nCsv = spark.read.option("header", "true")
          .schema(n.schema).csv(s"$base/nation_csv")
        val rJson = spark.read.schema(r.schema).json(s"$base/region_json")
        nCsv.join(broadcast(rJson), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_nations"),
            sum(col("n_nationkey").cast("bigint")).as("key_sum"))
      },
      Some("""SELECT r_name, COUNT(*) AS n_nations,
             |CAST(SUM(CAST(n_nationkey AS BIGINT)) AS BIGINT) AS key_sum
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name""".stripMargin)),

    // ORC source parity (the remaining columnar format Spark ships a
    // native reader for — no Avro connector in this jar set): supplier
    // round-trips through an ORC write+read, then aggregates; the oracle
    // computes the same over the parquet truth, so any ORC writer/reader
    // divergence (types, decimals, nulls) breaks the hash.
    Q("q97_orc_source",
      (spark, dir) => {
        val s = Tables.load(spark, dir, "supplier")
        val base = s"/tmp/graft-sources-${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        s.write.mode("overwrite").orc(s"$base/supplier_orc")
        spark.read.schema(s.schema).orc(s"$base/supplier_orc")
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n_suppliers"),
            sum(col("s_acctbal").cast("decimal(18,2)")).cast("double")
              .as("acctbal_sum"))
      },
      Some("""SELECT s_nationkey, COUNT(*) AS n_suppliers,
             |CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
             |FROM supplier GROUP BY s_nationkey""".stripMargin)),

    // PARQUET SCHEMA EVOLUTION — the lakehouse ingest reality the other
    // source gates (q82 CSV/JSON, q97 ORC) don't cover: an early epoch
    // written WITHOUT a column and a later epoch WITH it read as ONE
    // dataset via mergeSchema, missing values surfacing as NULLs the
    // query must handle (coalesce to a sentinel). The epoch fixture is
    // content-fingerprint-keyed (the create-once discipline); the
    // oracle replays the split + NULL semantics over the parquet truth.
    Q("q212_schema_evolution",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val src = d.select(col("doc_id"), col("text"), col("lang"))
        val base = s"/tmp/graft-schemaevo-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(src, "doc_id", s"$dir/documents_schemaevo")}"
        if (!new java.io.File(s"$base/e2/_SUCCESS").exists()) {
          src.filter(col("doc_id") % 2 === 0)
            .select(col("doc_id"), col("text"))
            .write.mode("overwrite").parquet(s"$base/e1")
          src.filter(col("doc_id") % 2 === 1)
            .write.mode("overwrite").parquet(s"$base/e2")
        }
        spark.read.option("mergeSchema", "true")
          .parquet(s"$base/e1", s"$base/e2")
          .groupBy(coalesce(col("lang"), lit("_pre_schema")).as("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("long")).as("text_len_sum"),
            sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_nulls"))
      },
      Some("""SELECT CASE WHEN doc_id % 2 = 0 THEN '_pre_schema' ELSE lang END AS lang,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM(length(text)) AS BIGINT) AS text_len_sum,
             |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
             |FROM documents
             |GROUP BY 1""".stripMargin)),

    // RANGE window frame: running revenue over a VALUE range (all peers
    // within 5000 of the current price), distinct from q13's ROWS frame.
    Q("q81_range_frame",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val o = Tables.load(spark, dir, "orders")
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"))
          .rangeBetween(-5000L, 0L)
        o.filter(col("o_orderkey") % 37 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
            count(lit(1)).over(w).as("n_in_band"),
            round(max(col("o_totalprice")).over(w) - min(col("o_totalprice")).over(w), 2)
              .as("band_spread"))
      },
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice,
             |COUNT(*) OVER w AS n_in_band,
             |ROUND(MAX(o_totalprice) OVER w - MIN(o_totalprice) OVER w, 2) AS band_spread
             |FROM orders WHERE o_orderkey % 37 = 0
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
             |  RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW)""".stripMargin)),
    // Multiset set operations (INTERSECT ALL / EXCEPT ALL keep
    // duplicates — the bag semantics q14's set-ops don't cover).
    Q("q83_multiset_ops",
      (spark, dir) => {
        val li = Tables.load(spark, dir, "lineitem")
        val a = li.filter(col("l_returnflag") === "A").select(col("l_suppkey"))
        val b = li.filter(col("l_returnflag") === "R").select(col("l_suppkey"))
        val i = a.intersectAll(b).groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
        val e = a.exceptAll(b).groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
        i.unionByName(e)
      },
      Some("""WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'),
             |b AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
             |i AS (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b),
             |e AS (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
             |SELECT l_suppkey, COUNT(*) AS n, 'intersect_all' AS op FROM i GROUP BY 1
             |UNION ALL
             |SELECT l_suppkey, COUNT(*) AS n, 'except_all' AS op FROM e GROUP BY 1""".stripMargin)),

    // Second array-function family: position / contains / overlap /
    // sort / reverse-sort / slice / element counting.
    Q("q84_array_funcs2",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        val signs = transform(col("embedding"),
          x => when(x > 0, 1).otherwise(-1))
        e.filter(col("vec_id") < 100)
          .select(col("vec_id"),
            // Spark returns 0 on no-match, DuckDB NULL — normalize to NULL
            nullif(array_position(signs, 1), lit(0L)).as("first_pos_sign"),
            array_contains(signs, -1).as("has_negative"),
            arrays_overlap(slice(signs, 1, 4), slice(signs, 61, 4)).as("ends_overlap"),
            element_at(sort_array(col("embedding")), 1).as("min_elem"),
            element_at(sort_array(col("embedding"), asc = false), 1).as("max_elem"),
            size(filter(signs, s => s === 1)).as("n_positive"))
      },
      Some("""WITH t AS (SELECT vec_id,
             |  list_transform(embedding, x -> CASE WHEN x > 0 THEN 1 ELSE -1 END) AS signs,
             |  embedding FROM embeddings WHERE vec_id < 100)
             |SELECT vec_id,
             |CAST(list_position(signs, 1) AS BIGINT) AS first_pos_sign,
             |list_contains(signs, -1) AS has_negative,
             |list_has_any(list_slice(signs, 1, 4), list_slice(signs, 61, 64)) AS ends_overlap,
             |list_sort(embedding)[1] AS min_elem,
             |list_reverse_sort(embedding)[1] AS max_elem,
             |CAST(len(list_filter(signs, s -> s = 1)) AS INT) AS n_positive
             |FROM t""".stripMargin)),

    // Skew-salted join UNDER THE CORRECTNESS GATE: the left side carries
    // a deterministic salt, the right side replicates saltFactor ways, so
    // a pathologically hot key spreads across saltFactor tasks — and the
    // result must equal the plain join bit-for-bit (the oracle IS the
    // plain join). ScaleSpec proves equivalence structurally; this pins
    // it against DuckDB every round.
    Q("q103_salted_join",
      (spark, dir) => {
        val li = Tables.load(spark, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"),
            col("l_extendedprice").cast("decimal(18,2)").as("price"),
            col("l_discount").cast("decimal(18,2)").as("disc"))
        val o = Tables.load(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
        graft.operators.ScaleOps.saltedJoin(li, o, Seq("o_orderkey"), 8)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("price") * (lit(1) - col("disc"))).cast("double")
              .as("revenue"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_items,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority""".stripMargin)),

    // AQE skew-join parity (the when-can-you-stop-hand-salting answer
    // to q103): the SAME join shape under OptimizeSkewedJoin instead of
    // manual salting. The join key is the BIT LENGTH of the orderkey
    // (length(bin(x)) — integer-exact in both engines, DuckDB strlen
    // (bin) precedent from q120): key b holds ~2^(b-1) orderkeys, so the
    // top key owns ~half of lineitem — a genuine power-law hot key.
    // Skew thresholds are tuned to the test scale and RESTORED after an
    // EAGER in-query execution (configs must be live at execution time,
    // and autoBroadcastJoinThreshold=-1 must not leak into later
    // queries); the query REQUIREs the final adaptive plan to contain a
    // skewed shuffle read — the gate itself fails loudly if the demo
    // regresses to an unsplit join. The oracle is the PLAIN join: AQE
    // splitting is physical, the answer must be identical.
    Q("q147_aqe_skew_join",
      (spark, dir) => {
        val tuned = Map(
          "spark.sql.adaptive.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "512",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
          // the downstream per-key aggregation could reuse the join's
          // hash partitioning, so by default AQE REFUSES to split (the
          // split breaks the partitioning and re-shuffles the agg).
          // force=true takes that trade explicitly — at scale the skewed
          // straggler dominates the extra small shuffle; this knob is
          // the actual answer to "why didn't my skew join split?"
          "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          // skew is judged against the MEDIAN reduce partition: with the
          // session's partitions sized to a 4-core host the ~20 keys
          // fill every partition, the median is itself hot and nothing
          // reads as skewed. A fixed count keeps the demo off the host.
          "spark.sql.shuffle.partitions" -> "32")
        val saved = tuned.keys.map(k => k -> spark.conf.getOption(k)).toMap
        val result = try {
          tuned.foreach { case (k, v) => spark.conf.set(k, v) }
          // repartition(64) simulates the many upstream map tasks any
          // real-scale scan has: AQE splits a skewed reduce partition at
          // MAPPER granularity (PartialReducerPartitionSpec is a
          // map-index range), and the single-row-group test parquet
          // yields ONE effective mapper — the rule then detects the skew
          // but silently cannot split it (measured: 63 of 64 scan splits
          // produced zero bytes). The second trap this demo documents.
          val l = Tables.load(spark, dir, "lineitem")
            .select(length(bin(col("l_orderkey"))).cast("long").as("k"),
              col("l_extendedprice").cast("decimal(18,2)").as("price"),
              col("l_discount").cast("decimal(18,2)").as("disc"))
            .repartition(64)
          // the per-k dim side is MATERIALIZED first (≤ ~20 rows — one
          // per orderkey bit length — bounded): OptimizeSkewedJoin only
          // matches a join whose children are Sort-over-shuffle-stage
          // directly, and an aggregation between the shuffle and the
          // join would hide the stage from the rule (observed: the rule
          // silently never fires — exactly the trap this demo documents)
          val rRows = Tables.load(spark, dir, "orders")
            .groupBy(length(bin(col("o_orderkey"))).cast("long").as("k"))
            .agg(count(lit(1)).as("n_orders"))
          val r = spark.createDataFrame(
            java.util.Arrays.asList(rRows.collect(): _*), rRows.schema)
          val j = l.hint("merge").join(r, "k")
            .groupBy("k").agg(count(lit(1)).as("n_items"),
              min(col("n_orders")).as("n_orders"),
              sum(col("price") * (lit(1) - col("disc"))).cast("double")
                .as("revenue"))
          val rows = j.collect() // ~20 rows (distinct bit lengths) — bounded
          val plan = j.queryExecution.executedPlan.toString
          require(plan.contains("skewed"),
            "OptimizeSkewedJoin did not fire — the skew demo regressed:\n" +
              plan.take(3000))
          spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), j.schema)
        } finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        result
      },
      Some("""WITH l AS (SELECT strlen(bin(l_orderkey)) AS k,
             |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
             |    CAST(l_discount AS DECIMAL(18,2)) AS disc FROM lineitem),
             |o AS (SELECT strlen(bin(o_orderkey)) AS k, count(*) AS n_orders
             |  FROM orders GROUP BY 1)
             |SELECT l.k, count(*) AS n_items, min(o.n_orders) AS n_orders,
             |  CAST(sum(price * (1 - disc)) AS DOUBLE) AS revenue
             |FROM l JOIN o ON l.k = o.k GROUP BY l.k""".stripMargin)),

    // SCD2 history build: per user, the event-type state compressed
    // into validity intervals — consecutive same-state events collapse
    // (lag() run filter), valid_to = next change's timestamp (NULL =
    // current). The warehouse dimension-history op as two window
    // passes; ordering tie-broken by event_id, timestamps compared at
    // epoch-ms (the events-table cross-engine granularity rule).
    Q("q157_scd2_history",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.load(spark, dir, "events")
          .filter(col("user_id").isNotNull && col("user_id") % 50 === 0)
          .select(col("user_id"), col("event_type"),
            unix_millis(col("ts")).as("ts_ms"), col("event_id"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_ms"), col("event_id"))
        val changes = e
          .withColumn("_prev", lag(col("event_type"), 1).over(w))
          .filter(col("_prev").isNull || col("_prev") =!= col("event_type"))
        changes
          .withColumn("valid_to",
            lag(col("ts_ms"), -1).over(Window.partitionBy(col("user_id"))
              .orderBy(col("ts_ms"), col("event_id"))))
          .select(col("user_id"), col("event_type"),
            col("ts_ms").as("valid_from"), col("valid_to"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
             |  FROM events WHERE user_id IS NOT NULL AND user_id % 50 = 0),
             |lagged AS (
             |  SELECT user_id, event_type, ts_ms, event_id,
             |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev
             |  FROM e),
             |changes AS (
             |  SELECT user_id, event_type, ts_ms, event_id FROM lagged
             |  WHERE prev IS NULL OR prev <> event_type)
             |SELECT user_id, event_type, ts_ms AS valid_from,
             |  lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS valid_to
             |FROM changes""".stripMargin)),

    // STREAMING SCD2 upsert — q157's streaming twin (the q152→q156
    // batch/stream pattern): the same per-user validity intervals, but
    // events arrive as a file stream and merge via
    // flatMapGroupsWithState with an event-time timeout
    // (EventStream.scd2Stream). Append emission is watermark-final:
    // intervals whose valid_to the watermark passed are immutable
    // facts; the open interval and the raw tail stay in state. Gate =
    // the q157 oracle RESTRICTED to valid_to < final watermark
    // (max(ts) − 1 h, the q95 admission-rule discipline).
    Q("q166_streaming_scd2",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "events")
          .filter(col("user_id").isNotNull && col("user_id") % 50 === 0)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
        val inDir = s"/tmp/graft-scd2-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"-${Tables.fingerprint(e, "event_id", s"$dir/events_scd2")}"
        if (!new java.io.File(s"$inDir/_SUCCESS").exists())
          e.write.mode("overwrite").parquet(inDir)
        graft.streaming.EventStream.runToCompletion(spark, inDir,
          stream => graft.streaming.EventStream.scd2Stream(stream).toDF(),
          org.apache.spark.sql.streaming.OutputMode.Append,
          s"q166_${math.abs(dir.hashCode)}",
          shufflePartitions = Some(8))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
             |  FROM events WHERE user_id IS NOT NULL AND user_id % 50 = 0),
             |wm AS (SELECT max(ts_ms) - 3600000 AS w FROM e),
             |lagged AS (
             |  SELECT user_id, event_type, ts_ms, event_id,
             |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev
             |  FROM e),
             |changes AS (
             |  SELECT user_id, event_type, ts_ms, event_id FROM lagged
             |  WHERE prev IS NULL OR prev <> event_type),
             |iv AS (
             |  SELECT user_id, event_type, ts_ms AS valid_from,
             |    lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS valid_to
             |  FROM changes)
             |SELECT user_id, event_type, valid_from, valid_to
             |FROM iv, wm WHERE valid_to < w""".stripMargin)),

    // Right-to-be-forgotten propagation: a deletion list (one key
    // column) anti-joined through the foreign-key graph — per table,
    // how many rows the purge removes and how many remain. Counts only
    // (the delete itself is a rewrite); lineitem reaches the list
    // through orders (two-hop FK), the semi/anti pair must partition
    // exactly.
    Q("q158_delete_propagation",
      (spark, dir) => {
        import spark.implicits._
        val del = Tables.load(spark, dir, "customer")
          .filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey").as("k"))
        val o = Tables.load(spark, dir, "orders")
        val l = Tables.load(spark, dir, "lineitem")
        val oPurge = o.join(del, o("o_custkey") === del("k"), "left_semi")
        val oKeep = o.join(del, o("o_custkey") === del("k"), "left_anti")
        val purgedOrders = oPurge.select(col("o_orderkey").as("k2"))
        val lPurge = l.join(purgedOrders, l("l_orderkey") === col("k2"), "left_semi")
        def cnt(df: org.apache.spark.sql.DataFrame): Long = df.count()
        Seq(
          ("customer", cnt(del), cnt(Tables.load(spark, dir, "customer")) - cnt(del)),
          ("orders", cnt(oPurge), cnt(oKeep)),
          ("lineitem", cnt(lPurge), cnt(l) - cnt(lPurge)))
          .toDF("table_name", "n_purged", "n_kept")
      },
      Some("""WITH del AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
             |po AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM del))
             |SELECT 'customer' AS table_name,
             |  (SELECT count(*) FROM del) AS n_purged,
             |  (SELECT count(*) FROM customer) - (SELECT count(*) FROM del) AS n_kept
             |UNION ALL
             |SELECT 'orders', (SELECT count(*) FROM po),
             |  (SELECT count(*) FROM orders) - (SELECT count(*) FROM po)
             |UNION ALL
             |SELECT 'lineitem',
             |  (SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM po)),
             |  (SELECT count(*) FROM lineitem) -
             |    (SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM po))""".stripMargin)),

    // ANALYZE-style column profiling (Profiling.profile): per column,
    // rows / nulls / exact distinct / native-typed min-max — one scan
    // (multi-column distincts via Expand, map-side partial everywhere),
    // stats row unpivoted driver-side. Long + string columns only in
    // the gate (double/timestamp stringification differs cross-engine;
    // native min/max order is the point — "9" < "10" holds).
    Q("q155_column_profile",
      (spark, dir) => {
        val o = Tables.load(spark, dir, "orders")
        graft.operators.Profiling.profile(o,
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
      },
      Some(Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(c =>
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
             |  count(*) - count($c) AS n_nulls,
             |  count(DISTINCT $c) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_s,
             |  CAST(max($c) AS VARCHAR) AS max_s FROM orders""".stripMargin)
        .mkString("\nUNION ALL\n"))),

    // CBO-grade profile: q155's stats PLUS per-column equi-depth
    // histogram bounds in the SAME single-pass agg — the q107
    // hash-sample kernel per column (bottom-256 rows by signed
    // mix64(o_orderkey), value-sorted, nearest-rank cuts at i/8).
    // Oracle replays both the stats and every column's sample chain.
    Q("q164_profile_histogram",
      (spark, dir) => {
        val o = Tables.load(spark, dir, "orders")
        graft.operators.Profiling.profileWithHistogram(o,
          Seq("o_orderkey", "o_custkey"), "o_orderkey",
          buckets = 8, k = 256)
      },
      Some {
        val cols = Seq(("o_orderkey", "ha"), ("o_custkey", "hb"))
        val chains = cols.map { case (c, p) =>
          s"""${p}base AS (SELECT CAST(o_orderkey AS HUGEINT) AS idh, CAST($c AS DOUBLE) AS v
             |  FROM orders WHERE o_orderkey IS NOT NULL AND $c IS NOT NULL),
             |${mix64Stages(s"${p}base", Seq("v"), "idh", signedOut = true, prefix = p)},
             |${p}rk AS (SELECT v, ROW_NUMBER() OVER (ORDER BY h) AS rk FROM ${p}mixed),
             |${p}samp AS (SELECT list(v ORDER BY v) AS sorted, count(*) AS m
             |  FROM ${p}rk WHERE rk <= 256),
             |${p}st AS (SELECT count(*) AS n_rows, count(*) - count($c) AS n_nulls,
             |  count(DISTINCT $c) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
             |  FROM orders WHERE o_orderkey IS NOT NULL)""".stripMargin
        }.mkString(",\n")
        val selects = cols.map { case (c, p) =>
          s"""SELECT '$c' AS col_name, n_rows, n_nulls, n_distinct, min_s, max_s,
             |  CAST(b AS INT) AS bucket,
             |  sorted[CAST(floor(CAST(b AS DOUBLE) / 8 * (m - 1)) AS INT) + 1] AS lo,
             |  sorted[CAST(floor(CAST(b + 1 AS DOUBLE) / 8 * (m - 1)) AS INT) + 1] AS hi
             |FROM ${p}samp, ${p}st, generate_series(0, 7) g(b)""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"WITH $chains\n$selects"
      }),

    // Two-phase salted aggregation, same stance: partial agg on
    // (key, salt), final on key — must equal the plain GROUP BY.
    Q("q104_salted_agg",
      (spark, dir) => {
        val li = Tables.load(spark, dir, "lineitem")
          .select(col("l_returnflag"),
            col("l_quantity").cast("bigint").as("qty"))
        graft.operators.ScaleOps.saltedSumCount(li, "l_returnflag", "qty", 8)
          .select(col("l_returnflag"), col("sum").as("qty_sum"),
            col("count").as("n_rows"))
      },
      Some("""SELECT l_returnflag,
             |CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
             |COUNT(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // KMV (bottom-k) distinct sketch vs exact distinct — the
    // DETERMINISTIC sketch family (unlike q25's HLL, whose internals are
    // engine-specific and stay rows-only): every stage is specified
    // integer/IEEE arithmetic, so the oracle rebuilds the entire sketch —
    // mix64 via split-multiply mod 2^64 (the LSH-oracle machinery),
    // unsigned bottom-64, and the estimator in the same IEEE op order.
    // PRECONDITION: user_id ≥ 0 (a negative id would need the
    // two's-complement expansion the Scala long cast implies).
    Q("q106_kmv_sketch",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "events")
        val est = graft.operators.Sketches.kmvDistinct(e, "event_type", "user_id", 64)
        val exact = e.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_exact"))
        exact.join(est, Seq("event_type"))
          .select(col("event_type"), col("n_exact"),
            round(col("kmv_estimate"), 4).as("kmv_estimate"))
      },
      Some(q106Oracle(64))),

    // Hash-sample quantiles — the second deterministic sketch: a
    // no-RNG uniform row sample (bottom-256 rows by mix64(event_id) per
    // group) + nearest-rank quantiles over the sorted sample. Unlike
    // percentile_approx's GK sketch (engine-specific internals, q25
    // rows-only), every step is specified arithmetic and the oracle
    // rebuilds the sample AND the rank selection bit-for-bit.
    // PRECONDITION: event_id unique (it is the sample/dedup key).
    Q("q107_sample_quantiles",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "events")
        graft.operators.Sketches.sampleQuantiles(e, "event_type",
          "event_id", "value", Seq(0.5, 0.9, 0.99), k = 256)
      },
      Some(q107Oracle(256))),

    // KMV set algebra: union / intersection / Jaccard of the click and
    // view user populations, from the two bottom-64 sketches alone — the
    // cross-source overlap estimator (no join of the sources). Oracle
    // replays the sketches AND the ρ-estimator arithmetic.
    Q("q108_kmv_overlap",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "events")
        graft.operators.Sketches
          .kmvOverlap(e, "event_type", "user_id", "click", "view", k = 64)
          .select(col("group_a"), col("group_b"),
            round(col("d_a"), 4).as("d_a"), round(col("d_b"), 4).as("d_b"),
            round(col("d_union"), 4).as("d_union"),
            round(col("d_intersect"), 4).as("d_intersect"),
            round(col("jaccard_est"), 4).as("jaccard_est"))
      },
      Some(q108Oracle(64))),

    // STRING-keyed KMV sketch — the round-5 hash-dispatch path under the
    // oracle gate: props is a string column (100 distinct JSON-ish values
    // per group at both test SFs, so nd > k=64 exercises the ESTIMATOR
    // branch, not just exact-below-k). The oracle replays the full string
    // path: fnv1a64 over the UTF-8 bytes as a HUGEINT fold (props is
    // ASCII, so unicode(char) == the byte — same assumption as the q37
    // simhash oracle), then splitmix64, unsigned bottom-k, the estimator
    // in the identical IEEE sequence. n_exact is COUNT(DISTINCT props)
    // (NOT distinct-hash count — under a fnv collision those could
    // differ; the sketch itself dedups on hash, which the oracle mirrors
    // with a DISTINCT on the hash).
    Q("q109_kmv_sketch_string",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "events")
        val est = graft.operators.Sketches.kmvDistinct(e, "event_type", "props", 64)
        val exact = e.groupBy(col("event_type"))
          .agg(countDistinct(col("props")).as("n_exact"))
        exact.join(est, Seq("event_type"))
          .select(col("event_type"), col("n_exact"),
            round(col("kmv_estimate"), 4).as("kmv_estimate"))
      },
      Some(q109Oracle(64))),

    // STRING-keyed sample quantiles: the same q107 shape with the row key
    // cast to its decimal-string rendering — the id hash becomes
    // mix64(fnv1a64("123")) instead of mix64(123), so the SAMPLE ITSELF
    // differs from q107's and the oracle replays the string fold. This is
    // the string-id path a real pipeline hits first (UUID/URL row keys).
    Q("q110_sample_quantiles_string",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "events")
          .withColumn("event_sid", col("event_id").cast("string"))
        graft.operators.Sketches.sampleQuantiles(e, "event_type",
          "event_sid", "value", Seq(0.5, 0.9, 0.99), k = 256)
      },
      Some(q110Oracle(256))),

    // Deterministic Bloom-filter join pruning (operators/Bloom.scala) —
    // the runtime-filter primitive: build the bit array over one
    // customer segment's keys, probe every distinct order customer, and
    // hash the VERDICTS (pass / actual / false-positive counts per key
    // bucket). The oracle replays the position arithmetic exactly — two
    // splitmix64 chains (h1, h2|1), Kirsch–Mitzenmacher positions
    // (h1 + i·h2) mod 2^64 mod m, build-side position set, probe =
    // every distinct position present — so the filter's false positives
    // themselves are gated, not just its no-false-negative property.
    // m = 4096 keeps a visible FP rate at the test SFs; the operator
    // takes m/k from the caller (2^19+ for a 100 TB build side).
    Q("q119_bloom_prune",
      (spark, dir) => {
        val words = graft.operators.Bloom.build(
          buildingCustomerKeys(spark, dir), "key", 4096, 3)
        bloomVerdictGate(spark, dir, words, 4096, 3)
      },
      Some(q119Oracle(4096, 3))),

    // Deterministic HLL-shaped register sketch (Sketches.hllRaw) — the
    // fixed-memory counterpart to q106's KMV, every stage specified so
    // the oracle rebuilds registers AND estimate exactly: top-6-bit
    // register index, rho = leading zeros of the 58-bit window + 1
    // capped at 40 (keeps the register-term sum exactly double-
    // representable), raw α₆₄ estimator with no ln-based corrections.
    // event_id gives each group its own ~2k-distinct set (unlike
    // user_id, where all groups share the same 150 users and every
    // register pattern would coincide).
    Q("q120_hll_sketch",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "events")
        val est = graft.operators.Sketches.hllRaw(e, "event_type", "event_id")
        val exact = e.groupBy(col("event_type"))
          .agg(countDistinct(col("event_id")).as("n_exact"))
        exact.join(est, Seq("event_type"))
          .select(col("event_type"), col("n_exact"),
            round(col("hll_estimate"), 4).as("hll_estimate"))
      },
      Some(q120Oracle)),

    // HLL set algebra (Sketches.hllAlgebra) — cross-population overlap
    // without joining the populations (q108's story in register form):
    // English docs vs long docs, union by elementwise register max
    // (exact sketch algebra), intersection by inclusion–exclusion over
    // the raw estimates, clamped at 0. The oracle rebuilds BOTH register
    // sets (two prefixed mix64 chains), the max-merge, and the three
    // estimates; the intersection is computed from the unrounded doubles
    // and rounded once (the q113 re-rounding rule).
    Q("q121_hll_algebra",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        graft.operators.Sketches.hllAlgebra(
          d.filter(col("lang") === "en"),
          d.filter(col("n_chars") >= 200),
          "doc_id")
          .select(round(col("est_a"), 4).as("est_a"),
            round(col("est_b"), 4).as("est_b"),
            round(col("est_union"), 4).as("est_union"),
            round(col("est_intersection"), 4).as("est_intersection"))
      },
      Some(q121Oracle)),

    // Count–Min frequency sketch (Sketches.cmCounters/cmEstimates) — the
    // third sketch family (frequencies) next to distinct (q106/q120) and
    // quantiles (q107), gated like the recall queries: the 20 most
    // frequent users' TRUE counts next to their CM estimates, both
    // replayed in SQL. Positions are the q119 bloom kernel, so the
    // oracle shares that machinery; counters are plain counts per
    // (row, pos) cell. n_cm >= n_true always (CM never underestimates);
    // at w=1024, d=4 and ≤1500 keys, collisions are visible but small.
    Q("q123_countmin",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "events")
        graft.operators.Sketches.cmTopKGate(e,
          graft.operators.Sketches.cmCounters(e, "user_id", 1024, 4),
          "user_id", 1024, 4)
      },
      Some(q123Oracle(1024, 4))),

    // Z-order clustering codes (Layout.morton2) — the multi-dimensional
    // data-layout key, gated on its bit arithmetic: morton codes over
    // (l_partkey, l_suppkey), summarized per high-byte bucket (count,
    // min/max code, distinct parts) — all integer, replayed bit-for-bit
    // by the same interleave unrolled in SQL. The operator itself is
    // pure Column shifts/masks/ORs (no udf — codegen'd; asserted in
    // LayoutSpec), because a layout key touches every row of a write.
    Q("q124_zorder_codes",
      (spark, dir) => {
        val l = Tables.load(spark, dir, "lineitem")
        val code = graft.operators.Layout.morton2(
          col("l_partkey"), col("l_suppkey"), bits = 16)
        l.select(code.as("z"), col("l_partkey"))
          .groupBy(expr("z DIV 65536").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("z")).as("min_code"), max(col("z")).as("max_code"),
            countDistinct(col("l_partkey")).as("n_parts"))
      },
      Some(q124Oracle(16))),

    // STRING-keyed Bloom pruning — the path the round-7 review scoped
    // out of q119 (URLs/names/doc keys are the first thing a pipeline
    // filters on): key64 = fnv1a64(utf8), then the same position kernel
    // (Bloom.keyHash dispatch; an fnv collision merges position sets,
    // which can only add false positives — the safe direction). Probe =
    // every customer name, build = one segment; bucket = the name's
    // trailing digit. The oracle replays the fold and both chains.
    Q("q125_bloom_string",
      (spark, dir) => {
        val cust = Tables.load(spark, dir, "customer")
        // distinct to match the oracle's DISTINCT bkeys — without it a
        // duplicate build name would fan out the probe's left join and
        // diverge from the gate
        val buildSide = cust.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_name").as("key")).distinct()
        val words = graft.operators.Bloom.build(buildSide, "key", 4096, 3)
        val probe = cust.select(col("c_name").as("key")).distinct()
        probe
          .withColumn("pass",
            graft.operators.Bloom.mightContainIn(probe, "key", words, 4096, 3))
          .join(buildSide.withColumn("actual", lit(true)), Seq("key"), "left")
          .groupBy(substring(col("key"), -1, 1).cast("int").as("bucket"))
          .agg(count(lit(1)).as("n_probe"),
            count(when(col("pass"), 1)).as("n_pass"),
            count(when(col("actual"), 1)).as("n_actual"),
            count(when(col("pass") && col("actual").isNull, 1)).as("n_fp"))
      },
      Some(q125Oracle(4096, 3))),

    // STRING-keyed Count–Min — token/property frequency estimation, the
    // form a text pipeline hits first: events.props through the same
    // fnv dispatch, top-20 true frequencies next to the CM estimates.
    Q("q126_countmin_string",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "events")
        graft.operators.Sketches.cmTopKGate(e,
          graft.operators.Sketches.cmCounters(e, "props", 1024, 4),
          "props", 1024, 4)
      },
      Some(q126Oracle(1024, 4))),
  )

  private def q125Oracle(m: Int, k: Int): String =
    s"""WITH bkeys AS (SELECT DISTINCT c_name AS key FROM customer
       |  WHERE c_mktsegment = 'BUILDING'),
       |pkeys AS (SELECT DISTINCT c_name AS key FROM customer),
       |keys AS (SELECT key FROM pkeys),
       |${bloomPosCtes(stringKey = true, m, k)},
       |${bloomVerdictTail("CAST(key[-1] AS INT)")}""".stripMargin

  private def q126Oracle(w: Int, d: Int): String =
    s"""WITH vals AS (SELECT props AS key FROM events
       |  WHERE props IS NOT NULL),
       |cnt AS (SELECT key, count(*) AS n FROM vals GROUP BY 1),
       |keys AS (SELECT key FROM cnt),
       |${bloomPosCtes(stringKey = true, w, d)},
       |${cmTail("props")}""".stripMargin

  /** The q124 oracle: the morton interleave unrolled — 2·bits shift/
    * mask/OR terms, identical bit positions, then the same per-bucket
    * rollup. DuckDB `|`/`&`/`<<`/`>>` on BIGINT match the JVM exactly
    * for nonnegative inputs. */
  private def q124Oracle(bits: Int): String = {
    val terms = (0 until bits).flatMap { i =>
      Seq(s"(((l_partkey >> $i) & 1) << ${2 * i})",
        s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" | ")
    s"""WITH z AS (SELECT ($terms) AS z, l_partkey FROM lineitem)
       |SELECT z // 65536 AS bucket, count(*) AS n,
       |  CAST(min(z) AS BIGINT) AS min_code, CAST(max(z) AS BIGINT) AS max_code,
       |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
       |FROM z GROUP BY 1""".stripMargin
  }

  /** CM oracle tail shared by q123/q126: counters as counts per (r, pos)
    * cell over ALL value occurrences, estimate = min over the d cells
    * for the top-20 true-frequency keys. */
  private def cmTail(outKey: String): String =
    s"""counters AS (SELECT p.r, p.pos, sum(c.n) AS cell
       |  FROM pos p JOIN cnt c ON p.key = c.key GROUP BY 1, 2),
       |topk AS (SELECT key, n FROM cnt ORDER BY n DESC, key LIMIT 20)
       |SELECT t.key AS $outKey, CAST(t.n AS BIGINT) AS n_true,
       |  CAST(min(co.cell) AS BIGINT) AS n_cm
       |FROM topk t JOIN pos p ON p.key = t.key
       |  JOIN counters co ON co.r = p.r AND co.pos = p.pos
       |GROUP BY 1, 2""".stripMargin

  /** The q123 oracle (and q127's — the streaming CM build is gated
    * against the SAME chain): CM build + probe replayed over the shared
    * position machinery. */
  private def q123Oracle(w: Int, d: Int): String = cmEventsOracle(w, d)

  private[graft] def cmEventsOracle(w: Int, d: Int): String =
    s"""WITH vals AS (SELECT user_id AS key FROM events
       |  WHERE user_id IS NOT NULL),
       |cnt AS (SELECT key, count(*) AS n FROM vals GROUP BY 1),
       |keys AS (SELECT key FROM cnt),
       |${bloomPosCtes(stringKey = false, w, d)},
       |${cmTail("user_id")}""".stripMargin

  /** Rows admitted by the event-time windowed streams' emission rule —
    * shared restriction of the q133/q134/q135 oracles: a "1 day" window
    * is emitted in Append mode once the watermark (max ts − 1 hour)
    * passes its end, i.e. day_start + 25 hours ≤ max(ts). */
  private def windowAdmitted: String =
    "date_trunc('day', ts) + INTERVAL 25 HOUR <= mx.m"

  /** The q135 oracle: the q123 CM chain restricted to rows of CLOSED
    * windows — the streamed per-window cells merged by addition must
    * land on the batch build over exactly those rows. */
  private[graft] def cmWindowAdmittedOracle(w: Int, d: Int): String =
    s"""WITH mx AS (SELECT max(ts) AS m FROM events),
       |vals AS (SELECT user_id AS key FROM events, mx
       |  WHERE user_id IS NOT NULL AND $windowAdmitted),
       |cnt AS (SELECT key, count(*) AS n FROM vals GROUP BY 1),
       |keys AS (SELECT key FROM cnt),
       |${bloomPosCtes(stringKey = false, w, d)},
       |${cmTail("user_id")}""".stripMargin

  /** The q133 oracle: the q106 KMV chain per (day window, event_type),
    * restricted to closed windows — the Append-mode stream's final
    * emission per window must equal the batch sketch over the
    * watermark-admitted rows of that window. */
  private[graft] def kmvWindowedOracle(k: Int): String =
    s"""WITH mx AS (SELECT max(ts) AS m FROM events),
       |vals AS (SELECT DISTINCT date_trunc('day', ts) AS day_start, event_type, user_id
       |  FROM events, mx
       |  WHERE user_id IS NOT NULL AND $windowAdmitted),
       |${mix64Stages("vals", Seq("day_start", "event_type"), "CAST(user_id AS HUGEINT)")},
       |ranked AS (SELECT day_start, event_type, vu,
       |  ROW_NUMBER() OVER (PARTITION BY day_start, event_type ORDER BY vu) AS rk FROM mixed),
       |grp AS (SELECT day_start, event_type, count(*) AS nd,
       |  max(CASE WHEN rk = $k THEN vu END) AS vu_k FROM ranked GROUP BY 1, 2),
       |signedk AS (SELECT day_start, event_type, nd,
       |  CAST(CASE WHEN CAST(vu_k AS HUGEINT) >= 9223372036854775808
       |    THEN CAST(vu_k AS HUGEINT) - 18446744073709551616
       |    ELSE CAST(vu_k AS HUGEINT) END AS BIGINT) AS vk FROM grp)
       |SELECT day_start, event_type,
       |  round(CASE WHEN nd < $k THEN CAST(nd AS DOUBLE)
       |    ELSE ${k - 1}.0 * 18446744073709551616.0 /
       |      (CASE WHEN vk >= 0 THEN CAST(vk AS DOUBLE)
       |       ELSE CAST(vk AS DOUBLE) + 18446744073709551616.0 END)
       |  END, 4) AS kmv_estimate
       |FROM signedk""".stripMargin

  /** The q168 oracle: the q107 sample chain per CLOSED day window (the
    * kmvWindowedOracle admission rule — a window is admitted iff
    * day_start + 25 h ≤ max(ts)). */
  private[graft] def sampleQuantilesWindowedOracle(k: Int): String = {
    def sel(q: String): String =
      s"sorted[CAST(floor($q * (n - 1)) AS INT) + 1]"
    s"""WITH mx AS (SELECT max(ts) AS m FROM events),
       |base AS (SELECT date_trunc('day', ts) AS day_start, event_type, event_id,
       |    CAST(value AS DOUBLE) AS v
       |  FROM events, mx
       |  WHERE event_id IS NOT NULL AND value IS NOT NULL AND $windowAdmitted),
       |${mix64Stages("base", Seq("day_start", "event_type", "v"), "CAST(event_id AS HUGEINT)", signedOut = true)},
       |ranked AS (SELECT day_start, event_type, v,
       |  ROW_NUMBER() OVER (PARTITION BY day_start, event_type ORDER BY h) AS rk FROM mixed),
       |samp AS (SELECT day_start, event_type, list(v ORDER BY v) AS sorted, count(*) AS n
       |  FROM ranked WHERE rk <= $k GROUP BY 1, 2)
       |SELECT day_start, event_type, ${sel("0.5")} AS p50, ${sel("0.9")} AS p90,
       |  ${sel("0.99")} AS p99
       |FROM samp""".stripMargin
  }

  /** The q141 oracle: deterministic hash-Bernoulli sampling replayed —
    * mix64(doc_id) through the shared stage chain (signed out), the
    * identical signed→double→+2^64 fraction sequence, and the same
    * per-domain rate arithmetic ((srcnum % 4 + 1) / 5). */
  private[graft] def hashSampleOracle: String =
    s"""WITH base AS (SELECT doc_id, source FROM documents
       |  WHERE doc_id IS NOT NULL),
       |${mix64Stages("base", Seq("doc_id", "source"), "CAST(doc_id AS HUGEINT)", signedOut = true)},
       |kept AS (SELECT doc_id, source FROM mixed
       |  WHERE (CASE WHEN h >= 0 THEN CAST(h AS DOUBLE)
       |      ELSE CAST(h AS DOUBLE) + 18446744073709551616.0 END)
       |    / 18446744073709551616.0
       |    < CAST((CAST(substring(source, 4) AS INT) % 4) + 1 AS DOUBLE) / 5.0)
       |SELECT source, count(*) AS n_kept,
       |  CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM kept GROUP BY 1""".stripMargin

  /** The q134 oracle: the q120 HLL register chain per (day window,
    * event_type), restricted to closed windows. */
  private[graft] def hllWindowedOracle: String =
    s"""WITH mx AS (SELECT max(ts) AS m FROM events),
       |vals AS (SELECT DISTINCT date_trunc('day', ts) AS day_start, event_type, event_id
       |  FROM events, mx
       |  WHERE event_id IS NOT NULL AND $windowAdmitted),
       |${mix64Stages("vals", Seq("day_start", "event_type"), "CAST(event_id AS HUGEINT)")},
       |reg AS (SELECT day_start, event_type,
       |    CAST(CAST(vu AS HUGEINT) // 288230376151711744 AS BIGINT) AS idx,
       |    CAST(CAST(vu AS HUGEINT) % 288230376151711744 AS UBIGINT) AS w
       |  FROM mixed),
       |rho AS (SELECT day_start, event_type, idx,
       |    LEAST(CASE WHEN w = 0 THEN 59
       |      ELSE 58 - CAST(strlen(bin(w)) AS INT) + 1 END, 40) AS m
       |  FROM reg),
       |regmax AS (SELECT day_start, event_type, idx, max(m) AS reg
       |  FROM rho GROUP BY 1, 2, 3),
       |sums AS (SELECT day_start, event_type,
       |    sum(CAST(1 AS BIGINT) << CAST(40 - reg AS INT)) AS present_sum,
       |    count(*) AS npresent
       |  FROM regmax GROUP BY 1, 2)
       |SELECT day_start, event_type,
       |  round(CAST(0.709 AS DOUBLE) * 4096.0 * 1099511627776.0 /
       |    CAST(present_sum + (64 - npresent) * 1099511627776 AS DOUBLE), 4)
       |    AS hll_estimate
       |FROM sums""".stripMargin

  /** Register-pipeline CTEs for one q121 hash chain: `{p}mixed` →
    * `{p}regmax` (idx, reg) — the q120 arithmetic, prefix-scoped. */
  private def hllRegCtes(p: String): String =
    s"""${p}reg AS (SELECT
       |    CAST(CAST(vu AS HUGEINT) // 288230376151711744 AS BIGINT) AS idx,
       |    CAST(CAST(vu AS HUGEINT) % 288230376151711744 AS UBIGINT) AS w
       |  FROM ${p}mixed),
       |${p}rho AS (SELECT idx,
       |    LEAST(CASE WHEN w = 0 THEN 59
       |      ELSE 58 - CAST(strlen(bin(w)) AS INT) + 1 END, 40) AS m
       |  FROM ${p}reg),
       |${p}regmax AS (SELECT idx, max(m) AS reg FROM ${p}rho GROUP BY 1)""".stripMargin

  /** Scalar-subquery raw estimator over a (idx, reg) CTE. */
  private def hllEstSql(src: String): String =
    s"""(SELECT CAST(0.709 AS DOUBLE) * 4096.0 * 1099511627776.0 /
       |  CAST(coalesce(sum(CAST(1 AS BIGINT) << CAST(40 - reg AS INT)), 0) +
       |    (64 - count(*)) * 1099511627776 AS DOUBLE) FROM $src)""".stripMargin

  private def q121Oracle: String =
    s"""WITH va AS (SELECT DISTINCT doc_id FROM documents
       |  WHERE lang = 'en' AND doc_id IS NOT NULL),
       |vb AS (SELECT DISTINCT doc_id FROM documents
       |  WHERE n_chars >= 200 AND doc_id IS NOT NULL),
       |${mix64Stages("va", Seq(), "CAST(doc_id AS HUGEINT)", prefix = "a")},
       |${mix64Stages("vb", Seq(), "CAST(doc_id AS HUGEINT)", prefix = "b")},
       |${hllRegCtes("a")},
       |${hllRegCtes("b")},
       |uregmax AS (SELECT idx, max(reg) AS reg FROM
       |  (SELECT * FROM aregmax UNION ALL SELECT * FROM bregmax) GROUP BY 1),
       |ests AS (SELECT ${hllEstSql("aregmax")} AS ea,
       |  ${hllEstSql("bregmax")} AS eb, ${hllEstSql("uregmax")} AS eu)
       |SELECT round(ea, 4) AS est_a, round(eb, 4) AS est_b,
       |  round(eu, 4) AS est_union,
       |  round(greatest(CAST(0 AS DOUBLE), ea + eb - eu), 4) AS est_intersection
       |FROM ests""".stripMargin

  /** The q120 oracle (and, without the exact column, q122's — the
    * streaming register sketch is gated against the SAME chain): the
    * full HLL register pipeline in SQL — mix64 via the shared stage
    * chain, register split by integer div/mod on 2^58, rho from
    * strlen(bin(w)) (bin() emits no leading zeros, so its length IS the
    * bit length), max per register, and the raw estimator in the
    * identical IEEE multiply-chain order. */
  private def q120Oracle: String = hllEventsOracle(includeExact = true)

  private[graft] def hllEventsOracle(includeExact: Boolean): String = {
    val exactCol =
      if (includeExact) "CAST(e.n_exact AS BIGINT) AS n_exact,\n  " else ""
    val exactJoin =
      if (includeExact) "\nJOIN exact e ON s.event_type = e.event_type" else ""
    s"""WITH vals AS (SELECT DISTINCT event_type, event_id FROM events
       |  WHERE event_id IS NOT NULL),
       |exact AS (SELECT event_type, count(*) AS n_exact FROM vals GROUP BY 1),
       |${mix64Stages("vals", Seq("event_type"), "CAST(event_id AS HUGEINT)")},
       |reg AS (SELECT event_type,
       |    CAST(CAST(vu AS HUGEINT) // 288230376151711744 AS BIGINT) AS idx,
       |    CAST(CAST(vu AS HUGEINT) % 288230376151711744 AS UBIGINT) AS w
       |  FROM mixed),
       |rho AS (SELECT event_type, idx,
       |    LEAST(CASE WHEN w = 0 THEN 59
       |      ELSE 58 - CAST(strlen(bin(w)) AS INT) + 1 END, 40) AS m
       |  FROM reg),
       |regmax AS (SELECT event_type, idx, max(m) AS reg FROM rho GROUP BY 1, 2),
       |sums AS (SELECT event_type,
       |    sum(CAST(1 AS BIGINT) << CAST(40 - reg AS INT)) AS present_sum,
       |    count(*) AS npresent
       |  FROM regmax GROUP BY 1)
       |SELECT s.event_type, $exactCol
       |  round(CAST(0.709 AS DOUBLE) * 4096.0 * 1099511627776.0 /
       |    CAST(present_sum + (64 - npresent) * 1099511627776 AS DOUBLE), 4)
       |    AS hll_estimate
       |FROM sums s$exactJoin""".stripMargin
  }

  /** CTEs from a `keys(key)` relation to `pos(key, r, pos)` — the
    * bloom/CM position machinery (q119/q123/q125/q126 share it, so the
    * position arithmetic cannot drift between those gates). Two mix64
    * chains (prefixes `a`/`b`) give h1 and h2 per key; h2 is forced odd
    * as in the JVM kernel; positions are (h1 + i·h2) mod 2^64 mod m
    * (m a power of two, so the unsigned mod equals the JVM's `& (m-1)`
    * on the wrapped sum). −7046029254386353131 is Bloom.H2Seed
    * (0x9e3779b97f4a7c15) as a signed BIGINT for the xor. For STRING
    * keys the fnv1a64 fold supplies the 64-bit key value first —
    * Bloom.keyHash's dispatch, replayed. Emitted WITHOUT a leading
    * WITH. */
  private def bloomPosCtes(stringKey: Boolean, m: Int, k: Int): String = {
    val keyPrep =
      if (!stringKey)
        s"""fnvs AS (SELECT key,
           |  (CAST(key AS HUGEINT) + 18446744073709551616) & 18446744073709551615 AS fh,
           |  CAST(key AS BIGINT) AS fhs FROM keys)""".stripMargin
      else
        s"""fnv0 AS (SELECT key, ${fnvFold("key")} AS fh FROM keys),
           |fnvs AS (SELECT key, fh, CAST(CASE WHEN fh >= 9223372036854775808
           |  THEN fh - 18446744073709551616 ELSE fh END AS BIGINT) AS fhs FROM fnv0)""".stripMargin
    s"""$keyPrep,
       |${mix64Stages("fnvs", Seq("key"), "fh", prefix = "a")},
       |h1 AS (SELECT key, CAST(vu AS HUGEINT) AS h1u FROM amixed),
       |${mix64Stages("fnvs", Seq("key"),
           "(CAST(xor(fhs, -7046029254386353131) AS HUGEINT) + 18446744073709551616) & 18446744073709551615",
           prefix = "b")},
       |h2 AS (SELECT key,
       |  CAST(vu AS HUGEINT) - (CAST(vu AS HUGEINT) % 2) + 1 AS h2u FROM bmixed),
       |pos AS (SELECT h1.key, i.i AS r,
       |    ((h1.h1u + i.i * h2.h2u) & 18446744073709551615) % $m AS pos
       |  FROM h1 JOIN h2 ON h1.key = h2.key,
       |    generate_series(0, ${k - 1}) i(i))""".stripMargin
  }

  /** Bloom verdict tail shared by q119/q125: build-side position set,
    * probe passes iff every distinct position is present, bucketed
    * verdict counts. `bucketExpr` buckets the probe key. */
  private def bloomVerdictTail(bucketExpr: String): String =
    s"""bpos AS (SELECT DISTINCT pos FROM pos
       |  WHERE key IN (SELECT key FROM bkeys)),
       |ppos AS (SELECT DISTINCT key, pos FROM pos
       |  WHERE key IN (SELECT key FROM pkeys)),
       |verdict AS (SELECT p.key, count(*) AS npos, count(b.pos) AS nhit
       |  FROM ppos p LEFT JOIN bpos b ON p.pos = b.pos GROUP BY 1),
       |flags AS (SELECT v.key, (v.npos = v.nhit) AS pass,
       |    (bk.key IS NOT NULL) AS actual
       |  FROM verdict v LEFT JOIN bkeys bk ON v.key = bk.key)
       |SELECT $bucketExpr AS bucket, count(*) AS n_probe,
       |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |  CAST(sum(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT) AS n_actual,
       |  CAST(sum(CASE WHEN pass AND NOT actual THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
       |FROM flags GROUP BY 1""".stripMargin

  /** The q119/q129 build side — distinct mirrors the oracle's DISTINCT
    * bkeys (custkeys are unique in customer, but the gate must not
    * depend on that). */
  private[graft] def buildingCustomerKeys(
      spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("key")).distinct()

  /** Bucketed probe-verdict frame from a packed filter — the gate shape
    * shared by q119/q129 and q136: every probe `key`'s verdict next to
    * its actual build-side membership, bucketed counts, FPs included
    * (what the oracles hash). Both frames must carry a `key` column. */
  private[graft] def bloomVerdictFrame(probe: org.apache.spark.sql.DataFrame,
      buildSide: org.apache.spark.sql.DataFrame,
      words: Array[Long], m: Int, k: Int): org.apache.spark.sql.DataFrame =
    probe
      .withColumn("pass",
        graft.operators.Bloom.mightContainIn(probe, "key", words, m, k))
      .join(buildSide.withColumn("actual", lit(true)), Seq("key"), "left")
      .groupBy((col("key") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_probe"),
        count(when(col("pass"), 1)).as("n_pass"),
        count(when(col("actual"), 1)).as("n_actual"),
        count(when(col("pass") && col("actual").isNull, 1)).as("n_fp"))

  /** The q119/q129 probe-verdict frame from a packed filter: every
    * distinct order customer probed, actual membership from the build
    * side. */
  private[graft] def bloomVerdictGate(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      words: Array[Long], m: Int, k: Int): org.apache.spark.sql.DataFrame =
    bloomVerdictFrame(
      Tables.load(spark, dir, "orders")
        .select(col("o_custkey").as("key")).distinct(),
      buildingCustomerKeys(spark, dir), words, m, k)

  /** The q119 oracle (and q129's — the streamed build must land on the
    * same verdicts): Bloom build + probe replayed in SQL over the
    * shared position machinery. */
  private[graft] def q119Oracle(m: Int, k: Int): String =
    s"""WITH bkeys AS (SELECT DISTINCT c_custkey AS key FROM customer
       |  WHERE c_mktsegment = 'BUILDING'),
       |pkeys AS (SELECT DISTINCT o_custkey AS key FROM orders),
       |keys AS (SELECT key FROM bkeys UNION SELECT key FROM pkeys),
       |${bloomPosCtes(stringKey = false, m, k)},
       |${bloomVerdictTail("CAST(key % 10 AS BIGINT)")}""".stripMargin

  /** The q136 oracle: the q119 verdict chain with build = the users of
    * watermark-CLOSED day windows (the windowed stream's admitted rows)
    * and probe = every user — the merged per-window position sets must
    * produce exactly these verdicts, FPs included. */
  private[graft] def bloomWindowAdmittedOracle(m: Int, k: Int): String =
    s"""WITH mx AS (SELECT max(ts) AS m FROM events),
       |bkeys AS (SELECT DISTINCT user_id AS key FROM events, mx
       |  WHERE user_id IS NOT NULL AND $windowAdmitted),
       |pkeys AS (SELECT DISTINCT user_id AS key FROM events
       |  WHERE user_id IS NOT NULL),
       |keys AS (SELECT key FROM bkeys UNION SELECT key FROM pkeys),
       |${bloomPosCtes(stringKey = false, m, k)},
       |${bloomVerdictTail("CAST(key % 10 AS BIGINT)")}""".stripMargin

  /** fnv1a64 over a string column as a DuckDB HUGEINT fold (mod 2^64) —
    * the q37/q38 oracle machinery: per-char unicode() == the UTF-8 byte
    * for ASCII input ONLY, and the JVM kernel folds raw UTF-8 bytes, so
    * any non-ASCII char would silently diverge from the gate — the CASE
    * guard raises a named error() instead, turning a future non-ASCII
    * fixture into an explicit failure rather than a bare hash mismatch.
    * Empty-string guard: string_split('', '') yields [''] whose
    * unicode('') is -1 — a bogus "byte" the JVM fold never sees (fnv1a64
    * of "" is the untouched offset basis); list_filter drops it (non-
    * empty splits never contain ''). */
  /** package-visible: q109/q125's string-key fold, and q172's
    * per-window fold (the substring-dedup oracle). */
  private[graft] def fnvFold(colExpr: String): String =
    s"""list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform(list_filter(string_split($colExpr, ''), c -> c <> ''),
       |        c -> CASE WHEN unicode(c) BETWEEN 0 AND 127
       |          THEN CAST(unicode(c) AS HUGEINT)
       |          ELSE CAST(error('non-ASCII byte in fnvFold oracle input — JVM kernel folds UTF-8 bytes; fixture must stay ASCII') AS HUGEINT) END)),
       |    (h, b) -> (((h & 18446744073709551360) +
       |      CAST(xor(CAST(h & 255 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
       |      * 1099511628211) & 18446744073709551615)""".stripMargin

  /** UNROLLED fnv1a64 k-gram chain — the wall-time-diet form of
    * `fnvFold(substr(t, i, k))` over every gram position of a corpus
    * (the winnowing-family oracles' dominant cost). Three changes, all
    * value-identical to [[fnvFold]]:
    *   - the per-char fold is unrolled into k vectorized CTE stages
    *     (DuckDB's lambda interpreter pays ~2.5 µs per list element;
    *     plain projections pay nanoseconds),
    *   - `% 2^64` / `% 256` become bitwise AND masks (an INT128 mod is
    *     a division; h stays in [0, 2^64) so the masks are exact, and
    *     bits ≥ 2^64 would be ≡ 0 mod 2^64 in the product anyway),
    *   - the per-char ASCII guard becomes ONE per-doc guard
    *     (`strlen = length` — byte count vs char count; equal ⇔ every
    *     char is single-byte UTF-8 ⇔ ASCII) — same loud `error()`
    *     contract, paid once per doc.
    * Measured at sf0.01: 16 s → 1.4 s per corpus chain, hash-identical.
    *
    * Emits CTEs `{out}_a0…{out}_a{k}` plus `{out}` with columns
    * (`idCol`, i 1-based, h UNSIGNED HUGEINT) — a drop-in replacement
    * for the classic two-CTE site:
    * {{{
    *   egr AS (SELECT id, i, <fnvFold(substr(t,i,25))> AS h
    *     FROM (SELECT id, t, unnest(generate_series(1, length(t)-24)) AS i
    *           FROM ech WHERE length(t) >= 25))
    * }}}
    * becomes `fnvGramCtes("egr", "id", "ech")`. `srcCte` must expose
    * (`idCol`, t). Emitted WITHOUT a leading WITH or trailing comma. */
  private[graft] def fnvGramCtes(out: String, idCol: String,
      srcCte: String, k: Int = 25): String = {
    val codes = (0 until k).map(j =>
      s"CAST(unicode(substr(t, i + $j, 1)) AS BIGINT) AS c$j").mkString(", ")
    val stages = (0 until k).map { j =>
      val carry = (j + 1 until k).map(m => s", c$m").mkString
      val src =
        if (j == 0)
          s"(SELECT *, CAST(14695981039346656037 AS HUGEINT) AS h FROM ${out}_a0)"
        else s"${out}_a$j"
      s"""${out}_a${j + 1} AS (SELECT $idCol, i$carry,
         |  (((h & 18446744073709551360) +
         |    CAST(xor(CAST(h & 255 AS BIGINT), c$j) AS HUGEINT))
         |   * 1099511628211) & 18446744073709551615 AS h
         |  FROM $src)""".stripMargin
    }
    (s"""${out}_a0 AS (SELECT $idCol, i, $codes
        |  FROM (SELECT $idCol, t,
        |      unnest(generate_series(1, length(t) - ${k - 1})) AS i
        |    FROM $srcCte WHERE length(t) >= $k
        |      AND CASE WHEN strlen(t) = length(t) THEN true
        |        ELSE error('non-ASCII byte in fnvGramCtes oracle input — JVM kernel folds UTF-8 bytes; fixture must stay ASCII') END))""".stripMargin
      +: stages :+ s"$out AS (SELECT $idCol, i, h FROM ${out}_a$k)")
      .mkString(",\n")
  }

  // --- Shared splitmix64 SQL machinery (q106-q110 oracles) ---------------

  /** 64×64-bit multiply mod 2^64 as split 32-bit halves (a full HUGEINT
    * product overflows INT128) — the LSH oracles' machinery. */
  private def mulmod(a: String, b: String): String =
    s"((($a) & 4294967295) * $b + (((($a) >> 32) * $b) & 4294967295) * 4294967296) & 18446744073709551615"
  private def xorShift(u: String, s: Int): String =
    s"CAST(xor($u, $u >> $s) AS HUGEINT)"

  /** The splitmix64 stage chain as CTEs `s0`→`s1`→`s2`→`mixed` over an
    * input HUGEINT expression in [0, 2^64) — ONE definition for every
    * sketch oracle, so the split-multiply arithmetic cannot drift
    * between them. `carry` columns ride through every stage; `mixed`
    * emits the hash UNSIGNED as `vu` (or signed BIGINT as `h` when
    * `signedOut` — the bottom-k-sample aggregator compares signed
    * longs), optionally DISTINCT (the sketch's dedup-on-hash key).
    * Emitted WITHOUT a leading WITH — append after an existing CTE.
    * `prefix` renames the CTE chain (`a0`…`amixed`) so one oracle can
    * hold several independent hash chains (the q119 bloom oracle needs
    * two). */
  private[graft] def mix64Stages(src: String, carry: Seq[String], inputExpr: String,
      distinctMixed: Boolean = false, signedOut: Boolean = false,
      prefix: String = "s"): String = {
    val cols = carry.map(_ + ", ").mkString
    val u = "xor(CAST(z3 AS UBIGINT), CAST(z3 AS UBIGINT) >> 31)"
    val out =
      if (!signedOut) s"$u AS vu"
      else s"""CAST(CASE WHEN CAST($u AS HUGEINT) >= 9223372036854775808
              |    THEN CAST($u AS HUGEINT) - 18446744073709551616
              |    ELSE CAST($u AS HUGEINT) END AS BIGINT) AS h""".stripMargin
    val d = if (distinctMixed) "DISTINCT " else ""
    val (c0, c1, c2) = (s"${prefix}0", s"${prefix}1", s"${prefix}2")
    val mixedName = if (prefix == "s") "mixed" else s"${prefix}mixed"
    s"""$c0 AS (SELECT $cols
       |  (($inputExpr) + 11400714819323198485) & 18446744073709551615 AS z1 FROM $src),
       |$c1 AS (SELECT $cols${mulmod(xorShift("CAST(z1 AS UBIGINT)", 30), "13787848793156543929")} AS z2 FROM $c0),
       |$c2 AS (SELECT $cols${mulmod(xorShift("CAST(z2 AS UBIGINT)", 27), "10723151780598845931")} AS z3 FROM $c1),
       |$mixedName AS (SELECT $d$cols$out FROM $c2)""".stripMargin
  }

  /** q109's oracle: mix64(fnv1a64(props)) — the fnv fold above feeds the
    * same splitmix64 split-multiply stages as q106, then DISTINCT ON THE
    * HASH (mirroring the sketch's dedup key), unsigned bottom-k, and the
    * estimator in the identical IEEE sequence. */
  private def q109Oracle(k: Int): String = {
    s"""WITH vals AS (SELECT DISTINCT event_type, props FROM events
       |  WHERE props IS NOT NULL),
       |exact AS (SELECT event_type, count(*) AS n_exact FROM vals GROUP BY event_type),
       |fnv AS (SELECT event_type, ${fnvFold("props")} AS fh FROM vals),
       |${mix64Stages("fnv", Seq("event_type"), "fh", distinctMixed = true)},
       |ranked AS (SELECT event_type, vu,
       |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY vu) AS rk FROM mixed),
       |grp AS (SELECT event_type, count(*) AS nd,
       |  max(CASE WHEN rk = $k THEN vu END) AS vu_k FROM ranked GROUP BY event_type),
       |signedk AS (SELECT event_type, nd,
       |  CAST(CASE WHEN CAST(vu_k AS HUGEINT) >= 9223372036854775808
       |    THEN CAST(vu_k AS HUGEINT) - 18446744073709551616
       |    ELSE CAST(vu_k AS HUGEINT) END AS BIGINT) AS vk FROM grp)
       |SELECT s.event_type, CAST(e.n_exact AS BIGINT) AS n_exact,
       |  round(CASE WHEN nd < $k THEN CAST(nd AS DOUBLE)
       |    ELSE ${k - 1}.0 * 18446744073709551616.0 /
       |      (CASE WHEN vk >= 0 THEN CAST(vk AS DOUBLE)
       |       ELSE CAST(vk AS DOUBLE) + 18446744073709551616.0 END)
       |  END, 4) AS kmv_estimate
       |FROM signedk s JOIN exact e USING (event_type)""".stripMargin
  }

  /** q110's oracle: q107 with the id hashed as mix64(fnv1a64(CAST(id AS
    * VARCHAR))) — signed-order bottom-k rank, value-sorted sample,
    * nearest-rank selection, all in the identical arithmetic. */
  private def q110Oracle(k: Int): String = {
    def sel(q: String): String =
      s"sorted[CAST(floor($q * (n - 1)) AS INT) + 1]"
    s"""WITH base AS (SELECT event_type, CAST(event_id AS VARCHAR) AS sid,
       |  CAST(value AS DOUBLE) AS v FROM events
       |  WHERE event_id IS NOT NULL AND value IS NOT NULL),
       |fnv AS (SELECT event_type, v, ${fnvFold("sid")} AS fh FROM base),
       |${mix64Stages("fnv", Seq("event_type", "v"), "fh", signedOut = true)},
       |ranked AS (SELECT event_type, v,
       |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM mixed),
       |samp AS (SELECT event_type, list(v ORDER BY v) AS sorted, count(*) AS n
       |  FROM ranked WHERE rk <= $k GROUP BY event_type)
       |SELECT event_type, ${sel("0.5")} AS p50, ${sel("0.9")} AS p90,
       |  ${sel("0.99")} AS p99
       |FROM samp""".stripMargin
  }

  /** q108's oracle: per-group bottom-k hash sketches (mix64 via the
    * split-multiply machinery), the merged union sketch as a global rank
    * over distinct hashes (equivalent to merging the per-group lists:
    * every global bottom-k hash is in its own group's bottom-k), then the
    * estimator and ρ arithmetic in the kernel's exact IEEE sequence. */
  private def q108Oracle(k: Int): String = {
    // (k-1)·2^64/u from the k-th UBIGINT hash, exact when nd < k; the
    // signed→double(+2^64) sequence mirrors Sketches.kmvEstimateKernel
    def est(nd: String, vuk: String): String =
      s"""CASE WHEN $nd < $k THEN CAST($nd AS DOUBLE)
         |  ELSE ${k - 1}.0 * 18446744073709551616.0 /
         |    (CASE WHEN CAST($vuk AS HUGEINT) >= 9223372036854775808
         |     THEN CAST(CAST($vuk AS HUGEINT) - 18446744073709551616 AS DOUBLE) + 18446744073709551616.0
         |     ELSE CAST(CAST($vuk AS HUGEINT) AS DOUBLE) END)
         |  END""".stripMargin
    s"""WITH vals AS (SELECT DISTINCT event_type AS g, user_id FROM events
       |  WHERE user_id IS NOT NULL AND event_type IN ('click', 'view')),
       |${mix64Stages("vals", Seq("g"), "CAST(user_id AS HUGEINT)")},
       |hashes AS (SELECT g, vu FROM mixed),
       |gk AS (SELECT g, vu, ROW_NUMBER() OVER (PARTITION BY g ORDER BY vu) AS rk FROM hashes),
       |ga AS (SELECT vu FROM gk WHERE g = 'click' AND rk <= $k),
       |gb AS (SELECT vu FROM gk WHERE g = 'view' AND rk <= $k),
       |nda AS (SELECT count(*) AS n FROM gk WHERE g = 'click'),
       |ndb AS (SELECT count(*) AS n FROM gk WHERE g = 'view'),
       |udist AS (SELECT DISTINCT vu FROM hashes),
       |uni AS (SELECT vu, ROW_NUMBER() OVER (ORDER BY vu) AS rk FROM udist),
       |uk AS (SELECT vu FROM uni WHERE rk <= $k),
       |ustats AS (SELECT count(*) AS usize, max(vu) AS vu_k,
       |  (SELECT count(*) FROM udist) AS nd FROM uk),
       |ka AS (SELECT max(vu) AS vu_k, count(*) AS sz FROM ga),
       |kb AS (SELECT max(vu) AS vu_k, count(*) AS sz FROM gb),
       |cc AS (SELECT count(*) AS c FROM uk
       |  JOIN ga USING (vu) JOIN gb USING (vu)),
       |ests AS (SELECT
       |  ${est("(SELECT n FROM nda)", "(SELECT vu_k FROM ka)")} AS d_a,
       |  ${est("(SELECT n FROM ndb)", "(SELECT vu_k FROM kb)")} AS d_b,
       |  ${est("(SELECT nd FROM ustats)", "(SELECT vu_k FROM ustats)")} AS d_union,
       |  (SELECT usize FROM ustats) AS usize, (SELECT c FROM cc) AS c)
       |SELECT 'click' AS group_a, 'view' AS group_b,
       |  round(d_a, 4) AS d_a, round(d_b, 4) AS d_b,
       |  round(d_union, 4) AS d_union,
       |  round(CASE WHEN usize = 0 THEN 0.0
       |    ELSE CAST(c AS DOUBLE) / usize * d_union END, 4) AS d_intersect,
       |  round(CASE WHEN usize = 0 THEN 0.0
       |    ELSE CAST(c AS DOUBLE) / usize END, 4) AS jaccard_est
       |FROM ests""".stripMargin
  }

  /** q107's oracle: mix64(event_id) via the split-multiply machinery,
    * signed-order bottom-k rank (the aggregator compares signed longs),
    * value-sorted sample list, nearest-rank selection with the identical
    * floor/index arithmetic. */
  /** package-visible: also the q167 STREAMING-quantiles gate — the
    * stream's final state must equal the batch sample bit-for-bit
    * (shared insert kernel, inserts commute). */
  private[graft] def q107Oracle(k: Int): String = {
    def sel(q: String): String =
      s"sorted[CAST(floor($q * (n - 1)) AS INT) + 1]"
    s"""WITH base AS (SELECT event_type, event_id, CAST(value AS DOUBLE) AS v FROM events
       |  WHERE event_id IS NOT NULL AND value IS NOT NULL),
       |${mix64Stages("base", Seq("event_type", "v"), "CAST(event_id AS HUGEINT)", signedOut = true)},
       |ranked AS (SELECT event_type, v,
       |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM mixed),
       |samp AS (SELECT event_type, list(v ORDER BY v) AS sorted, count(*) AS n
       |  FROM ranked WHERE rk <= $k GROUP BY event_type)
       |SELECT event_type, ${sel("0.5")} AS p50, ${sel("0.9")} AS p90,
       |  ${sel("0.99")} AS p99
       |FROM samp""".stripMargin
  }

  /** q106's oracle: the whole KMV sketch replayed — splitmix64 with the
    * mulmod split-32-bit-halves machinery (same as the MinHash oracles),
    * unsigned bottom-k by plain UBIGINT ORDER BY, then the estimator with
    * the IDENTICAL IEEE sequence as Sketches.kmvDistinct (signed k-th
    * value → double → +2^64 when negative — not a direct unsigned cast,
    * which could double-round differently). */
  private def q106Oracle(k: Int): String =
    kmvEventsOracle(k, includeExact = true)

  /** The events-table KMV sketch replayed in DuckDB — q106's oracle, and
    * (without the exact-count column) q115's: the STREAMING sketch's
    * final state equals the batch sketch by construction (shared insert
    * kernel, inserts commute), so one oracle serves both forms.
    * package-visible for PipelineQueries' streaming gate. */
  private[graft] def kmvEventsOracle(k: Int, includeExact: Boolean): String = {
    val exactCol = if (includeExact) "CAST(nd AS BIGINT) AS n_exact,\n  " else ""
    s"""WITH vals AS (SELECT DISTINCT event_type, user_id FROM events
       |  WHERE user_id IS NOT NULL),
       |${mix64Stages("vals", Seq("event_type"), "CAST(user_id AS HUGEINT)")},
       |ranked AS (SELECT event_type, vu,
       |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY vu) AS rk FROM mixed),
       |grp AS (SELECT event_type, count(*) AS nd,
       |  max(CASE WHEN rk = $k THEN vu END) AS vu_k FROM ranked GROUP BY event_type),
       |signedk AS (SELECT event_type, nd,
       |  CAST(CASE WHEN CAST(vu_k AS HUGEINT) >= 9223372036854775808
       |    THEN CAST(vu_k AS HUGEINT) - 18446744073709551616
       |    ELSE CAST(vu_k AS HUGEINT) END AS BIGINT) AS vk FROM grp)
       |SELECT event_type, $exactCol
       |  round(CASE WHEN nd < $k THEN CAST(nd AS DOUBLE)
       |    ELSE ${k - 1}.0 * 18446744073709551616.0 /
       |      (CASE WHEN vk >= 0 THEN CAST(vk AS DOUBLE)
       |       ELSE CAST(vk AS DOUBLE) + 18446744073709551616.0 END)
       |  END, 4) AS kmv_estimate
       |FROM signedk""".stripMargin
  }
}
