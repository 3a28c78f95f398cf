package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.plans.TopKAggregator

/** The relational batches after the first, in registry order:
  *  - subqueries, ordered collects, arg-min/max, conditional
  *    aggregation, predicate families, array explode, and the custom
  *    bounded top-k aggregator (checked against the window form's
  *    oracle — same semantics, map-side-combining plan);
  *  - recognizable TPC-H shapes adapted to the available columns,
  *    window frame/distribution functions, and higher-order array
  *    functions;
  *  - bitwise operators, statistical aggregates, hash functions, and
  *    the second string-function family.
  * All DuckDB-oracled. */
object RelationalQueries2 {
  import Registry.Q

  private def money(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  val all: Seq[Q] = Seq(
    // Correlated scalar aggregate via join (the Spark-native decorrelated
    // form): customers above their nation's average balance.
    Q("q26_scalar_subquery",
      (spark, dir) => {
        val c = Tables.load(spark, dir, "customer")
        val natAvg = c.groupBy(col("c_nationkey"))
          .agg(avg(col("c_acctbal")).as("nat_avg"))
        c.join(broadcast(natAvg), Seq("c_nationkey"))
          .filter(col("c_acctbal") > col("nat_avg"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_above"),
            round(max(col("c_acctbal")), 2).as("top_bal"))
      },
      Some("""SELECT c_nationkey, COUNT(*) AS n_above,
             |ROUND(MAX(c_acctbal), 2) AS top_bal
             |FROM customer c
             |WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
             |                   WHERE c2.c_nationkey = c.c_nationkey)
             |GROUP BY c_nationkey""".stripMargin)),

    // Ordered collect: deterministic via sort_array, joined to a string.
    Q("q27_collect_sorted",
      (spark, dir) => {
        val s = Tables.load(spark, dir, "supplier")
        s.groupBy(col("s_nationkey"))
          .agg(array_join(sort_array(collect_list(col("s_name"))), ",")
            .as("suppliers"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT s_nationkey,
             |array_to_string(list_sort(list(s_name)), ',') AS suppliers,
             |COUNT(*) AS n
             |FROM supplier GROUP BY s_nationkey""".stripMargin)),

    // arg-max/arg-min (min_by/max_by) — unique extrema in this data;
    // deterministic because o_totalprice collisions don't occur per group.
    Q("q28_min_by_max_by",
      (spark, dir) => {
        val o = Tables.load(spark, dir, "orders")
        // deterministic arg-max under price ties: single sortable BIGINT key
        // (cents × 1e8 + orderkey) — DuckDB's arg_max can't take a struct key
        val key = (round(col("o_totalprice") * 100).cast("bigint") * 100000000L +
          col("o_orderkey")).as("ordKey")
        o.withColumn("ordKey", key)
          .groupBy(col("o_orderpriority"))
          .agg(max_by(col("o_orderkey"), col("ordKey")).as("biggest_order"),
            min_by(col("o_orderkey"), col("ordKey")).as("smallest_order"),
            round(max(col("o_totalprice")), 2).as("max_price"))
      },
      Some("""SELECT o_orderpriority,
             |CAST(arg_max(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 100000000 + o_orderkey) AS BIGINT) AS biggest_order,
             |CAST(arg_min(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 100000000 + o_orderkey) AS BIGINT) AS smallest_order,
             |ROUND(MAX(o_totalprice), 2) AS max_price
             |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // Conditional aggregation: count_if / sum-where / any/every.
    Q("q29_conditional_agg",
      (spark, dir) => {
        val li = Tables.load(spark, dir, "lineitem")
        li.groupBy(col("l_returnflag"))
          .agg(count_if(col("l_discount") > 0.05).as("n_discounted"),
            sum(when(col("l_tax") > 0, col("l_quantity")).otherwise(0)
              .cast("bigint")).as("taxed_qty"),
            bool_and(col("l_quantity") > 0).as("all_positive"),
            bool_or(col("l_discount") === 0).as("any_zero_discount"))
      },
      Some("""SELECT l_returnflag,
             |CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
             |CAST(SUM(CASE WHEN l_tax > 0 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS taxed_qty,
             |bool_and(l_quantity > 0) AS all_positive,
             |bool_or(l_discount = 0) AS any_zero_discount
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // Predicate family: IN-list, BETWEEN, LIKE, IS NULL handling.
    Q("q55_predicates",
      (spark, dir) => {
        val p = Tables.load(spark, dir, "part")
        p.filter(col("p_type").isin("ECONOMY", "STANDARD", "PROMO") &&
            col("p_size").between(10, 40) &&
            col("p_name").like("%a%"))
          .groupBy(col("p_type"))
          .agg(count(lit(1)).as("n"), sum(col("p_size").cast("bigint")).as("size_sum"))
      },
      Some("""SELECT p_type, COUNT(*) AS n,
             |CAST(SUM(CAST(p_size AS BIGINT)) AS BIGINT) AS size_sum
             |FROM part
             |WHERE p_type IN ('ECONOMY','STANDARD','PROMO')
             |AND p_size BETWEEN 10 AND 40 AND p_name LIKE '%a%'
             |GROUP BY p_type""".stripMargin)),

    // Array explode with position (generator/lateral-view surface).
    Q("q56_posexplode",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        e.filter(col("vec_id") < 50)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy((col("pos") % 8).as("pos_bucket"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("x").cast("double")), 4).as("x_sum"))
      },
      Some("""SELECT CAST((u.pos - 1) % 8 AS INT) AS pos_bucket, COUNT(*) AS n,
             |ROUND(SUM(CAST(u.x AS DOUBLE)), 4) AS x_sum
             |FROM (SELECT vec_id, unnest(embedding) AS x,
             |        generate_subscripts(embedding, 1) AS pos
             |      FROM embeddings WHERE vec_id < 50) u
             |GROUP BY 1""".stripMargin)),

    // Custom bounded top-k aggregator vs the window form's oracle: same
    // rows as q11-style row_number()<=3, but map-side combining (shuffles
    // ≤k rows per group per task instead of sorting whole partitions).
    Q("q57_topk_aggregator",
      (spark, dir) => {
        val c = Tables.load(spark, dir, "customer")
        c.groupBy(col("c_nationkey"))
          .agg(TopKAggregator.top_k(3)(col("c_acctbal"), col("c_custkey")).as("top"))
          .select(col("c_nationkey"), posexplode(col("top")).as(Seq("rk", "t")))
          .select(col("c_nationkey"), col("t.id").as("c_custkey"),
            col("t.score").as("c_acctbal"), (col("rk") + 1).as("rn"))
      },
      Some("""SELECT c_nationkey, c_custkey, c_acctbal, CAST(rn AS INT) AS rn FROM (
             |  SELECT c_nationkey, c_custkey, c_acctbal,
             |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
             |      ORDER BY c_acctbal DESC, c_custkey) AS rn
             |  FROM customer) t WHERE rn <= 3""".stripMargin)),
    // TPC-H Q5 shape: revenue by nation for one region, all joins local
    // to the region → nation/region broadcast, one shuffle for the agg.
    Q("q60_local_supplier_volume",
      (spark, dir) => {
        val li = Tables.load(spark, dir, "lineitem")
        val o = Tables.load(spark, dir, "orders")
        val c = Tables.load(spark, dir, "customer")
        val s = Tables.load(spark, dir, "supplier")
        val n = Tables.load(spark, dir, "nation")
        val r = Tables.load(spark, dir, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(s, li("l_suppkey") === s("s_suppkey") &&
            c("c_nationkey") === s("s_nationkey"))
          .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .filter(col("r_name") === "ASIA" &&
            col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .groupBy(col("n_name"))
          .agg(sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT n_name,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             |COUNT(*) AS n_items
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
             |AND o_orderdate < TIMESTAMP '1998-01-01'
             |GROUP BY n_name""".stripMargin)),

    // TPC-H Q18 shape: large orders via HAVING on a grouped subquery,
    // then join back to orders/customer.
    Q("q61_large_orders",
      (spark, dir) => {
        val li = Tables.load(spark, dir, "lineitem")
        val o = Tables.load(spark, dir, "orders")
        val c = Tables.load(spark, dir, "customer")
        val big = li.groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast("bigint")).as("total_qty"))
          .filter(col("total_qty") > 150)
        big.join(o, big("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .select(col("c_name"), col("o_orderkey"), col("o_totalprice"),
            col("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(50)
      },
      Some("""SELECT c_name, o_orderkey, o_totalprice, CAST(total_qty AS BIGINT) AS total_qty
             |FROM (SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS total_qty
             |      FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 150) big
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin)),

    // TPC-H Q14 shape: conditional revenue share (promo vs total).
    Q("q62_promo_share",
      (spark, dir) => {
        val li = Tables.load(spark, dir, "lineitem")
        val p = Tables.load(spark, dir, "part")
        val joined = li.join(p, li("l_partkey") === p("p_partkey"))
          .withColumn("rev", money(col("l_extendedprice")) *
            (lit(1) - money(col("l_discount"))))
        joined.groupBy(year(col("l_shipdate")).as("ship_year"))
          .agg(
            sum(when(col("p_type") === "PROMO", col("rev"))
              .otherwise(lit(0).cast(DecimalType(18, 4)))).cast("double")
              .as("promo_rev"),
            sum(col("rev")).cast("double").as("total_rev"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
             |CAST(SUM(CASE WHEN p_type = 'PROMO'
             |  THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
             |  ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_rev,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev,
             |COUNT(*) AS n
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY year(l_shipdate)""".stripMargin)),

    // Window frames + distribution functions: range frame, ntile,
    // percent_rank, cume_dist, first/last value over explicit frames.
    Q("q63_window_frames",
      (spark, dir) => {
        val c = Tables.load(spark, dir, "customer")
        val byBal = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal"), col("c_custkey"))
        c.filter(col("c_custkey") % 11 === 0)
          .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
            ntile(4).over(byBal).as("quartile"),
            round(percent_rank().over(byBal), 6).as("pct_rank"),
            round(cume_dist().over(byBal), 6).as("cdist"),
            first(col("c_custkey")).over(byBal
              .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
              .as("poorest"),
            last(col("c_custkey")).over(byBal
              .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
              .as("richest"))
      },
      Some("""SELECT c_mktsegment, c_custkey, c_acctbal,
             |CAST(ntile(4) OVER w AS INT) AS quartile,
             |ROUND(percent_rank() OVER w, 6) AS pct_rank,
             |ROUND(cume_dist() OVER w, 6) AS cdist,
             |CAST(first_value(c_custkey) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS poorest,
             |CAST(last_value(c_custkey) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS richest
             |FROM customer WHERE c_custkey % 11 = 0
             |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)""".stripMargin)),

    // Higher-order array functions: transform / filter / reduce.
    Q("q64_higher_order_fns",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "embeddings")
        e.filter(col("vec_id") < 100)
          .select(col("vec_id"),
            round(aggregate(transform(col("embedding"), x => x.cast("double") * 2),
              lit(0.0), (acc, x) => acc + x), 6).as("sum_doubled"),
            size(filter(col("embedding"), x => x > 0)).as("n_positive"),
            round(element_at(transform(col("embedding"),
              x => x.cast("double") * x.cast("double")), 1), 6).as("first_sq"))
      },
      Some("""SELECT vec_id,
             |ROUND(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * 2),
             |  (a, b) -> a + b), 6) AS sum_doubled,
             |CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive,
             |ROUND(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))[1], 6) AS first_sq
             |FROM embeddings WHERE vec_id < 100""".stripMargin)),

    // Pure non-equi theta join (BroadcastNestedLoopJoin): nation pairs
    // related only by < and != predicates — no equi key at all.
    Q("q66_theta_join",
      (spark, dir) => {
        val n = Tables.load(spark, dir, "nation")
        val a = n.select(col("n_nationkey").as("a_key"),
          col("n_name").as("a_name"), col("n_regionkey").as("a_region"))
        val b = n.select(col("n_nationkey").as("b_key"),
          col("n_regionkey").as("b_region"))
        a.join(b, col("a_key") < col("b_key") &&
            col("a_region") =!= col("b_region"))
          .groupBy(col("a_name"))
          .agg(count(lit(1)).as("n_foreign_later"),
            sum(col("b_key").cast("bigint")).as("key_sum"))
      },
      Some("""SELECT a.n_name AS a_name, COUNT(*) AS n_foreign_later,
             |CAST(SUM(b.n_nationkey) AS BIGINT) AS key_sum
             |FROM nation a JOIN nation b
             |ON a.n_nationkey < b.n_nationkey AND a.n_regionkey <> b.n_regionkey
             |GROUP BY a.n_name""".stripMargin)),

    // Map construction + extraction (map_from_arrays / element_at /
    // map_keys). DuckDB's map extraction returns a LIST → [1] unwraps.
    Q("q67_map_funcs",
      (spark, dir) => {
        val e = Tables.load(spark, dir, "events")
        val m = map_from_arrays(
          array(lit("et"), lit("uid")),
          array(col("event_type"), col("user_id").cast("string")))
        e.select(m.as("m"))
          .select(element_at(col("m"), "et").as("et"),
            element_at(col("m"), "uid").as("uid"),
            size(map_keys(col("m"))).as("n_keys"))
          .groupBy(col("et"))
          .agg(countDistinct(col("uid")).as("n_users"),
            max(col("n_keys")).as("n_keys"),
            count(lit(1)).as("n"))
      },
      Some("""WITH m AS (SELECT map(['et','uid'],
             |    [event_type, CAST(user_id AS VARCHAR)]) AS m FROM events)
             |SELECT m['et'][1] AS et,
             |  COUNT(DISTINCT m['uid'][1]) AS n_users,
             |  CAST(MAX(cardinality(m)) AS INT) AS n_keys,
             |  COUNT(*) AS n
             |FROM m GROUP BY 1""".stripMargin)),

    // Anti-join dedup keep-first (the dropDuplicates shape, oracled).
    Q("q65_keep_first",
      (spark, dir) => {
        val d = Tables.load(spark, dir, "documents")
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        d.select(col("doc_id"), col("lang"), row_number().over(w).as("rn"))
          .filter(col("rn") === 1)
          .select(col("lang"), col("doc_id").as("first_doc"))
      },
      Some("""SELECT lang, CAST(MIN(doc_id) AS BIGINT) AS first_doc
             |FROM documents GROUP BY lang""".stripMargin)),
    // Bitwise operator family.
    Q("q58_bitwise",
      (spark, dir) => {
        val li = Tables.load(spark, dir, "lineitem")
        li.filter(col("l_orderkey") % 31 === 0)
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("l_orderkey").bitwiseAND(col("l_partkey"))).as("k_and"),
            (col("l_orderkey").bitwiseOR(col("l_partkey"))).as("k_or"),
            (col("l_orderkey").bitwiseXOR(col("l_partkey"))).as("k_xor"),
            shiftleft(col("l_linenumber"), 2).as("ln_shl"),
            shiftright(col("l_orderkey"), 3).as("k_shr"),
            bit_count(col("l_orderkey")).as("k_bits"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |CAST(l_orderkey & l_partkey AS BIGINT) AS k_and,
             |CAST(l_orderkey | l_partkey AS BIGINT) AS k_or,
             |CAST(xor(l_orderkey, l_partkey) AS BIGINT) AS k_xor,
             |CAST(l_linenumber << 2 AS INT) AS ln_shl,
             |CAST(l_orderkey >> 3 AS BIGINT) AS k_shr,
             |CAST(bit_count(l_orderkey) AS INT) AS k_bits
             |FROM lineitem WHERE l_orderkey % 31 = 0""".stripMargin)),

    // Statistical aggregates: stddev/variance/corr/covar (rounded — these
    // accumulate in floating point, but at 6 decimals on these magnitudes
    // the ~1e-12 relative ordering jitter can't flip a digit).
    Q("q59_stats_agg",
      (spark, dir) => {
        val li = Tables.load(spark, dir, "lineitem")
        li.groupBy(col("l_linestatus"))
          .agg(round(stddev_samp(col("l_quantity")), 6).as("qty_stddev"),
            round(var_samp(col("l_quantity")), 6).as("qty_var"),
            round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
            round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("qty_disc_covar"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT l_linestatus,
             |ROUND(stddev_samp(l_quantity), 6) AS qty_stddev,
             |ROUND(var_samp(l_quantity), 6) AS qty_var,
             |ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
             |ROUND(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar,
             |COUNT(*) AS n
             |FROM lineitem GROUP BY l_linestatus""".stripMargin)),

    // Hash function family (cross-engine-stable digests).
    Q("q68_hash_funcs",
      (spark, dir) => {
        val p = Tables.load(spark, dir, "part")
        p.filter(col("p_partkey") % 17 === 0)
          .select(col("p_partkey"),
            md5(to_binary(col("p_name"), lit("utf-8"))).as("name_md5"),
            sha2(col("p_name"), 256).as("name_sha256"))
      },
      // DuckDB 1.0 ships only md5/sha256 (no sha512/sha1); Spark-internal
      // hashes (xxhash64/crc32/murmur) are exercised inside the LSH ops.
      Some("""SELECT p_partkey, md5(p_name) AS name_md5,
             |sha256(p_name) AS name_sha256
             |FROM part WHERE p_partkey % 17 = 0""".stripMargin)),

    // Second string-function family: translate/repeat/reverse/strpos/
    // split_part/left/right.
    Q("q69_string_funcs2",
      (spark, dir) => {
        val p = Tables.load(spark, dir, "part")
        p.filter(col("p_partkey") % 19 === 0)
          .select(col("p_partkey"),
            translate(col("p_type"), "AEO", "aeo").as("type_translated"),
            repeat(col("p_brand"), 2).as("brand_twice"),
            reverse(col("p_name")).as("name_rev"),
            instr(col("p_name"), "a").as("first_a"),
            split_part(col("p_brand"), lit("#"), lit(2)).as("brand_id"),
            levenshtein(col("p_type"), lit("STANDARD")).as("type_dist"),
            substring(col("p_name"), 1, 3).as("name_left"),
            col("p_name").substr(length(col("p_name")) - 2, lit(3)).as("name_right"))
      },
      Some("""SELECT p_partkey,
             |translate(p_type, 'AEO', 'aeo') AS type_translated,
             |repeat(p_brand, 2) AS brand_twice,
             |reverse(p_name) AS name_rev,
             |CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
             |split_part(p_brand, '#', 2) AS brand_id,
             |CAST(levenshtein(p_type, 'STANDARD') AS INT) AS type_dist,
             |left(p_name, 3) AS name_left,
             |right(p_name, 3) AS name_right
             |FROM part WHERE p_partkey % 19 = 0""".stripMargin)),
  )
}
