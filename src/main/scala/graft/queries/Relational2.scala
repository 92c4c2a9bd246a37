package graft.queries

import graft.{Graft, QueryBlock, QueryDef, Tables}
import graft.operators.AsOfJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core, part 2 (SURVEY.md §2 block C leftovers): file-format
  * round-trips, as-of join, exact statistics, percentiles, collect,
  * first/last, full ranking-function set, array/map functions, raw SQL entry.
  *
  * Cross-engine float determinism notes:
  *  - statistics (C16) are computed from exact decimal power sums and a
  *    double formula written with IDENTICAL operation order in both dialects
  *    → bit-identical, no rounding slop;
  *  - percentiles (C17) round 6dp — interpolation op order is engine-internal;
  *  - embeddings float32 values cast exactly to double on both sides.
  */
object Relational2 extends QueryBlock {
  import Graft._

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Deterministic scratch dir for file round-trip queries; the oracle SQL
    * reads the same absolute paths after Verify has written them.
    */
  private val scratch = graft.Graft.scratchDir

  val queries: Map[String, QueryDef] = Map(
    // C2a — CSV sink + scan round-trip (schema declared, not inferred: at
    // 100 TB you never infer schemas twice).
    "c02_csv_roundtrip" -> QueryDef(
      (s, dir) => {
        val out = s"$scratch/part_csv"
        t(s, dir, "part").select(col("p_partkey"), col("p_name"), col("p_retailprice"))
          .coalesce(1).write.mode("overwrite").option("header", "true").option("escape", "\"").csv(out)
        s.read.option("header", "true")
          .schema("p_partkey LONG, p_name STRING, p_retailprice DOUBLE")
          .csv(out)
          .agg(count(lit(1)).as("n"), sumD2(col("p_retailprice")).as("sum_price"),
            max(col("p_name")).as("max_name"))
      },
      Some(s"""SELECT count(*) AS n,
        ${sqlSumD2("p_retailprice")} AS sum_price,
        max(p_name) AS max_name
        FROM read_csv('$scratch/part_csv/*.csv', header=true)""")),

    // C2d — ORC sink + scan round-trip (the second columnar format Spark
    // ships natively; lakehouse migrations read both). DuckDB 1.0 cannot
    // read ORC, so the oracle states the STRONGER property: a type-diverse
    // aggregate over the round-tripped ORC data must equal the same
    // aggregate DuckDB computes over the ORIGINAL parquet — any loss or
    // corruption in the ORC write/read path (values, timestamps, nulls)
    // breaks the hash.
    "c02_orc_roundtrip" -> QueryDef(
      (s, dir) => {
        val out = s"$scratch/orders_orc"
        t(s, dir, "orders").coalesce(1).write.mode("overwrite").orc(out)
        s.read.orc(out)
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("key_sum"),
            sumD2(col("o_totalprice")).as("price_sum"),
            max(col("o_orderstatus")).as("max_status"),
            max(col("o_orderdate")).as("max_date"),
            countDistinct(col("o_custkey")).as("n_cust"))
      },
      Some(s"""SELECT count(*) AS n,
        CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        ${sqlSumD2("o_totalprice")} AS price_sum,
        max(o_orderstatus) AS max_status,
        max(o_orderdate) AS max_date,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
        FROM orders""")),

    // C2a' — CSV scan with SCHEMA INFERENCE (one extra pass; the declared-
    // schema variant above is the 100 TB path). Casts in the aggregate pin
    // the output types against inference differences between engines.
    "c02_csv_infer" -> QueryDef(
      (s, dir) => {
        val out = s"$scratch/supplier_csv"
        t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
          .coalesce(1).write.mode("overwrite").option("header", "true").option("escape", "\"").csv(out)
        s.read.option("header", "true").option("inferSchema", "true").csv(out)
          .agg(count(lit(1)).as("n"),
            sum(col("s_suppkey").cast("long")).as("key_sum"),
            sumD2(col("s_acctbal").cast("double")).as("bal_sum"))
      },
      Some(s"""SELECT count(*) AS n,
        CAST(sum(CAST(s_suppkey AS BIGINT)) AS BIGINT) AS key_sum,
        ${sqlSumD2("CAST(s_acctbal AS DOUBLE)")} AS bal_sum
        FROM read_csv('$scratch/supplier_csv/*.csv', header=true)""")),

    // C2b — JSON lines sink + scan round-trip.
    "c02_json_roundtrip" -> QueryDef(
      (s, dir) => {
        val out = s"$scratch/orders_json"
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .coalesce(1).write.mode("overwrite").json(out)
        s.read.schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")
          .json(out)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sumD4(col("o_totalprice")).as("sum_price"))
          .orderBy(col("o_orderstatus"))
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n,
        ${sqlSumD4("o_totalprice")} AS sum_price
        FROM read_json('$scratch/orders_json/*.json', format='newline_delimited')
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // C2c — SCHEMA EVOLUTION read (mergeSchema): a dataset whose later
    // files carry an added column must read as one table with NULLs for
    // the pre-evolution rows — the way every long-lived 100 TB dataset
    // actually looks. Batch A writes (p_partkey, p_name); batch B adds
    // p_retailprice; mergeSchema unions the footers (one extra footer
    // read per file — schema-on-read, no rewrite of old data). The oracle
    // reads the same two file sets with union_by_name.
    "c02_schema_evolution" -> QueryDef(
      (s, dir) => {
        val out = s"$scratch/part_evolved"
        t(s, dir, "part").filter(col("p_partkey") % 2 === 0)
          .select(col("p_partkey"), col("p_name"))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/batch=a")
        t(s, dir, "part").filter(col("p_partkey") % 2 === 1)
          .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/batch=b")
        s.read.option("mergeSchema", "true").parquet(out)
          .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
          .orderBy(col("p_partkey"))
      },
      Some(s"""SELECT p_partkey, p_name, p_retailprice
        FROM read_parquet(['$scratch/part_evolved/batch=a/*.parquet',
                           '$scratch/part_evolved/batch=b/*.parquet'],
                          union_by_name=true)
        ORDER BY p_partkey""")),

    // C3 — partitioned parquet sink; re-read must reproduce source aggregates.
    // Oracle aggregates the SOURCE table: equality proves the round-trip.
    "c03_partitioned_sink" -> QueryDef(
      (s, dir) => {
        val out = s"$scratch/li_by_flag"
        t(s, dir, "lineitem")
          .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
        s.read.parquet(out)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), sumD2(col("l_quantity")).as("sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, count(*) AS n,
        ${sqlSumD2("l_quantity")} AS sum_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // C41 — CDC latest-wins merge (operators.MergeInto.applyChanges): a
    // change batch carrying two versions — v2 upserts (+1000 balance for
    // every 10th key) and v3 deletes (every 15th key) — folds into the
    // customer base. Keys hit by both take the HIGHER version (delete
    // wins), exercising the max_by newest-change selection. The oracle
    // states the same outcome in closed form over the base table.
    "c41_cdc_merge" -> QueryDef(
      (s, dir) => {
        val base = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val upserts = base.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), col("c_name"),
            (col("c_acctbal") + 1000.0).as("c_acctbal"),
            lit(2L).as("version"), lit(false).as("deleted"))
        val deletes = base.filter(col("c_custkey") % 15 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            lit(3L).as("version"), lit(true).as("deleted"))
        graft.operators.MergeInto.applyChanges(
            base, upserts.unionByName(deletes), "c_custkey", "version", "deleted")
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name,
        CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 15 <> 0
        ORDER BY c_custkey""")),

    // C42 — SCD Type-2 history build (operators.Scd2.build): the same
    // change log family as c41 (v1 initial state for every key, v2
    // upserts for every 10th, v3 deletes for every 15th) folded into
    // FULL history — one row per surviving change with its
    // [valid_from, valid_to) interval; a delete closes the prior
    // interval but emits no row. The oracle states every interval in
    // closed form from the construction arithmetic: a v1 row closes at
    // 2 if a v2 upsert follows, at 3 if only the delete does; a v2 row
    // closes at 3 iff the key is also deleted; is_current = never
    // closed. One key-hash shuffle (the lead window); per-key state =
    // that key's change count — dimension-scale, never corpus-scale.
    "c42_scd2_history" -> QueryDef(
      (s, dir) => {
        val base = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
        val v1 = base.select(col("c_custkey"), col("c_acctbal"),
          lit(1L).as("version"), lit(false).as("deleted"))
        val v2 = base.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), (col("c_acctbal") + 1000.0).as("c_acctbal"),
            lit(2L).as("version"), lit(false).as("deleted"))
        val v3 = base.filter(col("c_custkey") % 15 === 0)
          .select(col("c_custkey"), col("c_acctbal"),
            lit(3L).as("version"), lit(true).as("deleted"))
        graft.operators.Scd2.build(
            v1.unionByName(v2).unionByName(v3), "c_custkey", "version", "deleted")
          .orderBy(col("c_custkey"), col("valid_from"))
      },
      Some("""SELECT c_custkey, c_acctbal,
          CAST(1 AS BIGINT) AS valid_from,
          CAST(CASE WHEN c_custkey % 10 = 0 THEN 2
                    WHEN c_custkey % 15 = 0 THEN 3 END AS BIGINT) AS valid_to,
          (c_custkey % 10 <> 0 AND c_custkey % 15 <> 0) AS is_current
        FROM customer
        UNION ALL
        SELECT c_custkey, c_acctbal + 1000.0 AS c_acctbal,
          CAST(2 AS BIGINT) AS valid_from,
          CAST(CASE WHEN c_custkey % 15 = 0 THEN 3 END AS BIGINT) AS valid_to,
          c_custkey % 15 <> 0 AS is_current
        FROM customer WHERE c_custkey % 10 = 0
        ORDER BY c_custkey, valid_from""")),

    // C12 — range/interval join: lineitems shipped within [o_orderdate,
    // o_orderdate + 90 days) of their order. Equi key + range predicate —
    // the equi part keys the shuffle, the range is a cheap post-filter
    // (no BNL at any scale).
    "c12_range_join" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"),
            (col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("o_end"))
        val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
        l.join(o, col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") && col("l_shipdate") < col("o_end"))
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n_in_window"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, count(*) AS n_in_window
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate
          AND l_shipdate < o_orderdate + INTERVAL 90 DAY
        GROUP BY o_orderkey ORDER BY o_orderkey""")),

    // C13 — as-of join: for each purchase event, the latest click event of
    // the same user at ts <= purchase ts. Union+window plan (AsOfJoin), one
    // shuffle; DuckDB oracles with native ASOF JOIN on exact integer micros.
    "c13_asof_join" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("ts").isNotNull)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        val clicks = ev.filter(col("event_type") === "click" && col("value").isNotNull)
          .select(col("user_id"), col("ts").as("click_ts"),
            col("event_id").as("click_id"), col("value").as("click_value"))
        AsOfJoin.asOf(purchases, clicks,
            partitionCols = Seq("user_id"),
            leftTs = "ts", rightTs = "click_ts",
            rightVals = Seq("click_id", "click_value"))
          .select(col("event_id"), col("user_id"), col("click_id"), col("click_value"))
          .orderBy(col("event_id"))
      },
      Some("""WITH p AS (SELECT user_id, event_id, epoch_ns(ts)//1000 AS ts_us, value
          FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL),
        c AS (SELECT user_id, epoch_ns(ts)//1000 AS ts_us, event_id AS click_id,
            value AS click_value
          FROM events WHERE event_type = 'click' AND ts IS NOT NULL AND value IS NOT NULL)
        SELECT p.event_id, p.user_id, c.click_id, c.click_value
        FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts_us <= p.ts_us
        ORDER BY p.event_id""")),

    // C16 — stddev/variance/corr/covar from exact decimal power sums; the
    // double formula below is written with identical op order in both
    // dialects, so results are bit-identical (no rounding needed).
    "c16_stats" -> QueryDef(
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).cast("double").as("n"),
            sum(dec2(col("l_quantity"))).cast("double").as("sx"),
            sum(dec2(col("l_extendedprice"))).cast("double").as("sy"),
            sum(dec2(col("l_quantity")) * dec2(col("l_quantity"))).cast("double").as("sxx"),
            sum(dec2(col("l_extendedprice")) * dec2(col("l_extendedprice"))).cast("double").as("syy"),
            sum(dec2(col("l_quantity")) * dec2(col("l_extendedprice"))).cast("double").as("sxy"))
          .select(col("l_returnflag"),
            // rounding margins sized to magnitude: the decimal power sums
            // are exact, but DuckDB's int128->double conversion can differ
            // from the JVM's in the last ulp; var_pop_price ~1e10 has
            // ulp ~2e-6, so 6dp rounding cannot absorb it — 2dp can.
            expr("round((sxx - sx*sx/n)/nullif(n-1, CAST(0 AS DOUBLE)), 6)").as("var_qty"),
            expr("round(sqrt((sxx - sx*sx/n)/nullif(n-1, CAST(0 AS DOUBLE))), 6)").as("stddev_qty"),
            expr("round((syy - sy*sy/n)/n, 2)").as("var_pop_price"),
            expr("round((sxy - sx*sy/n)/nullif(n-1, CAST(0 AS DOUBLE)), 4)").as("covar_qp"),
            expr("round((sxy - sx*sy/n)/nullif(sqrt((sxx - sx*sx/n)*(syy - sy*sy/n)), CAST(0 AS DOUBLE)), 6)").as("corr_qp"))
          .orderBy(col("l_returnflag")),
      Some("""WITH s AS (SELECT l_returnflag,
          CAST(count(*) AS DOUBLE) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag,
          round((sxx - sx*sx/n)/nullif(n-1, CAST(0 AS DOUBLE)), 6) AS var_qty,
          round(sqrt((sxx - sx*sx/n)/nullif(n-1, CAST(0 AS DOUBLE))), 6) AS stddev_qty,
          round((syy - sy*sy/n)/n, 2) AS var_pop_price,
          round((sxy - sx*sy/n)/nullif(n-1, CAST(0 AS DOUBLE)), 4) AS covar_qp,
          round((sxy - sx*sy/n)/nullif(sqrt((sxx - sx*sx/n)*(syy - sy*sy/n)), CAST(0 AS DOUBLE)), 6) AS corr_qp
        FROM s ORDER BY l_returnflag""")),

    // C17 — exact percentiles (linear interpolation), rounded 6dp.
    // r18 optimization (guide §1.2 "per-task work"): ONE percentile call
    // with an array of percentages instead of three scalar calls — Spark's
    // Percentile is an ImperativeAggregate whose buffer is an
    // OpenHashMap[value, count] of every distinct value in the group;
    // three scalar calls build, merge and sort THREE identical copies of
    // that buffer per group. The array form computes all three points from
    // one buffer (same interpolation arithmetic on the same sorted counts
    // — bit-identical results; oracle unchanged). Measured 3.78 s → ~1.4 s
    // at sf0.1 (OptSweep; src/main/scala/graft/OptSweep.scala at commit
    // 94bd873).
    "c17_percentile" -> QueryDef(
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").as("ps"))
          .select(col("l_returnflag"),
            round(col("ps").getItem(0), 6).as("p25"),
            round(col("ps").getItem(1), 6).as("p50"),
            round(col("ps").getItem(2), 6).as("p75"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
        round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        round(quantile_cont(l_extendedprice, 0.75), 6) AS p75
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // C18 — collect_set, canonicalized by sorting (bare collect order is
    // partition-nondeterministic — SURVEY §2 C18). Output is a scalar CSV
    // string, not an array: the driver's pandas oracle cannot sort/hash
    // array-typed columns (round-1 `err`), and integer rendering sidesteps
    // double-formatting dialect differences.
    "c18_collect" -> QueryDef(
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(expr(
            """array_join(transform(sort_array(collect_set(CAST(l_quantity AS BIGINT))),
                 x -> CAST(x AS STRING)), ',')""").as("qtys"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
        array_to_string(list_sort(list(DISTINCT CAST(l_quantity AS BIGINT)) FILTER (l_quantity IS NOT NULL)), ',') AS qtys
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // C19 — first/last/nth over an explicitly ordered frame.
    "c19_first_last" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            first(col("o_totalprice")).over(w).as("first_price"),
            last(col("o_totalprice")).over(w).as("last_price"),
            nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
        first_value(o_totalprice) OVER w AS first_price,
        last_value(o_totalprice) OVER w AS last_price,
        nth_value(o_totalprice, 2) OVER w AS second_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_custkey, o_orderkey""")),

    // C21b — remaining ranking functions: dense_rank, ntile, percent_rank,
    // cume_dist (row_number/rank covered by c21_rank_window).
    "c21_rank_full" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        t(s, dir, "customer")
          .filter(col("c_custkey") < 500)
          .select(col("c_mktsegment"), col("c_custkey"),
            dense_rank().over(w).as("drnk"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 6).as("prnk"),
            round(cume_dist().over(w), 6).as("cdist"))
          .orderBy(col("c_mktsegment"), col("c_custkey"))
      },
      Some("""SELECT c_mktsegment, c_custkey,
        CAST(dense_rank() OVER w AS INT) AS drnk,
        CAST(ntile(4) OVER w AS INT) AS quartile,
        round(percent_rank() OVER w, 6) AS prnk,
        round(cume_dist() OVER w, 6) AS cdist
        FROM customer WHERE c_custkey < 500
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        ORDER BY c_mktsegment, c_custkey""")),

    // C30 — array + higher-order functions over embeddings (float32 casts
    // to double exactly; sequential fold order matches DuckDB's list_sum).
    "c30_arrays" -> QueryDef(
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(col("vec_id"),
            size(col("embedding")).as("dim"),
            col("embedding").getItem(0).cast("double").as("e0"),
            element_at(col("embedding"), -1).cast("double").as("e_last"),
            expr("aggregate(embedding, CAST(0 AS DOUBLE), (s, x) -> s + CAST(x AS DOUBLE))").as("sum_e"),
            expr("aggregate(embedding, CAST(-1e300 AS DOUBLE), (s, x) -> greatest(s, CAST(x AS DOUBLE)))").as("max_e"),
            expr("size(filter(embedding, x -> x > 0))").as("n_pos"),
            expr("CAST(sort_array(transform(embedding, x -> CAST(x AS DOUBLE)))[0] AS DOUBLE)").as("min_e"),
            expr("CAST(aggregate(slice(embedding, 1, 3), CAST(0 AS DOUBLE), (s, x) -> s + CAST(x AS DOUBLE)) AS DOUBLE)").as("sum_first3"),
            array_contains(col("embedding"), 0.0f).as("has_zero"),
            expr("CAST(aggregate(flatten(array(slice(embedding, 1, 2), slice(embedding, 63, 2))), CAST(0 AS DOUBLE), (s, x) -> s + CAST(x AS DOUBLE)) AS DOUBLE)").as("ends_sum"))
          .orderBy(col("vec_id")),
      Some("""SELECT vec_id,
        CAST(len(embedding) AS INT) AS dim,
        CAST(embedding[1] AS DOUBLE) AS e0,
        CAST(embedding[-1] AS DOUBLE) AS e_last,
        list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum') AS sum_e,
        list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'max') AS max_e,
        CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        list_sort(list_transform(embedding, x -> CAST(x AS DOUBLE)))[1] AS min_e,
        list_sum(list_transform(embedding[1:3], x -> CAST(x AS DOUBLE))) AS sum_first3,
        list_contains(embedding, 0.0) AS has_zero,
        list_sum(list_transform(flatten([embedding[1:2], embedding[63:64]]), x -> CAST(x AS DOUBLE))) AS ends_sum
        FROM embeddings ORDER BY vec_id""")),

    // C31 — map construction + element access (scalar outputs: DuckDB map
    // extraction returns a list, so both sides emit unwrapped scalars).
    "c31_maps" -> QueryDef(
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_orderkey") <= 200)
          .select(col("l_orderkey"), col("l_linenumber"),
            map(lit("qty"), col("l_quantity"), lit("disc"), col("l_discount")).as("m"))
          .select(col("l_orderkey"), col("l_linenumber"),
            element_at(col("m"), "qty").as("m_qty"),
            element_at(col("m"), "disc").as("m_disc"),
            size(map_keys(col("m"))).as("n_keys"))
          .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""WITH t AS (SELECT l_orderkey, l_linenumber,
          map(['qty','disc'], [l_quantity, l_discount]) AS m
          FROM lineitem WHERE l_orderkey <= 200)
        SELECT l_orderkey, l_linenumber,
          m['qty'][1] AS m_qty, m['disc'][1] AS m_disc,
          CAST(len(map_keys(m)) AS INT) AS n_keys
        FROM t ORDER BY l_orderkey, l_linenumber""")),

    // C37 — SQL entry point: the same text planned by Catalyst over temp
    // views (proves the registered-view path the DuckDB oracle mirrors).
    "c37_sql_entry" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql(s"""SELECT n_name, count(*) AS n_supp,
          ${sqlSumD2("s_acctbal")} AS sum_bal
          FROM supplier JOIN nation ON s_nationkey = n_nationkey
          GROUP BY n_name ORDER BY n_name""")
      },
      Some(s"""SELECT n_name, count(*) AS n_supp,
        ${sqlSumD2("s_acctbal")} AS sum_bal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name""")),

    // C38 — PIVOT: per-year revenue spread over the (domain-bounded) order
    // status codes. Spark's pivot with EXPLICIT values plans a single
    // aggregate pass (no values-discovery job — at 100 TB an extra full
    // scan to learn 3 codes is absurd); the oracle is the portable
    // CASE-aggregation form. Empty cells are NULL on both sides.
    "c38_pivot" -> QueryDef(
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          // DECIMAL path, not cents-longs: a full-table money sum into ~7
          // year groups crosses 2^63 at the 100 TB point (Graft.sumDec4)
          .agg(sumDec4(col("o_totalprice")))
          .select(col("yr"), col("F").as("f_total"), col("O").as("o_total"),
            col("P").as("p_total"))
          .transform(sortSmallFused(_, col("yr"))),
      Some("""SELECT CAST(extract(year FROM o_orderdate) AS INT) AS yr,
        round(CAST(sum(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS f_total,
        round(CAST(sum(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS o_total,
        round(CAST(sum(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS p_total
        FROM orders GROUP BY 1 ORDER BY yr""")),

    // C38b — UNPIVOT (melt): the pivot result back to long form. Spark's
    // native unpivot emits one row per (id, value) column pair including
    // NULL cells, which is exactly the UNION ALL expansion the oracle runs.
    "c38b_unpivot" -> QueryDef(
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(sumDec4(col("o_totalprice")))
          .unpivot(Array(col("yr")), Array(col("F"), col("O"), col("P")),
            "status", "total")
          .transform(sortSmallFused(_, col("yr"), col("status"))),
      Some("""WITH p AS (SELECT CAST(extract(year FROM o_orderdate) AS INT) AS yr,
          round(CAST(sum(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS f_total,
          round(CAST(sum(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS o_total,
          round(CAST(sum(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS p_total
          FROM orders GROUP BY 1)
        SELECT yr, status, total FROM (
          SELECT yr, 'F' AS status, f_total AS total FROM p
          UNION ALL SELECT yr, 'O', o_total FROM p
          UNION ALL SELECT yr, 'P', p_total FROM p)
        ORDER BY yr, status""")),

    // C39 — batch sessionization (gaps-and-islands): the training-pipeline
    // form of d04's streaming session window. New session when the gap to
    // the previous event of the same user exceeds 10 minutes; two window
    // passes (flag, then running sum) + one aggregate — all partitioned by
    // user, so 100 TB parallelism is user-count wide. Arithmetic runs on
    // exact epoch MICROSECONDS (ns-born timestamps, SURVEY §1.2).
    "c39_sessionize" -> QueryDef(
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        t(s, dir, "events")
          .filter(col("user_id") < 30 && col("ts").isNotNull)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
          .withColumn("new_sess",
            when(lag(col("ts_us"), 1).over(byUser).isNull ||
              col("ts_us") - lag(col("ts_us"), 1).over(byUser) > 600000000L, 1L)
              .otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(byUser))
          .groupBy(col("user_id"), col("sess_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts_us")).as("start_us"),
            ((max(col("ts_us")) - min(col("ts_us"))) / lit(1000000L)).cast("long").as("dur_sec"))
          .orderBy(col("user_id"), col("sess_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000 AS ts_us
          FROM events WHERE user_id < 30 AND ts IS NOT NULL),
        flagged AS (SELECT user_id, event_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
               OR ts_us - lag(ts_us) OVER w > 600000000 THEN 1 ELSE 0 END AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        sess AS (SELECT user_id, ts_us,
          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS sess_id
          FROM flagged)
        SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, count(*) AS n_events,
          min(ts_us) AS start_us,
          CAST((max(ts_us) - min(ts_us)) // 1000000 AS BIGINT) AS dur_sec
        FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_id"""))
  )
}
