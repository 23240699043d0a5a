package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.{StoredIndex, Tables}
import graft.sources.StoredIndex.{Buckets, Family, Part}

/** Relational completion operators (SURVEY.md §2b 🔶/❌ rows, §7.2 step 3).
  *
  * The reference is a single-input MapReduce dataflow — joins, windows, set ops,
  * grouping sets and scalar functions all had to be hand-rolled by users inside
  * Python map/reduce scripts. Here each is a first-class declarative operator so
  * Catalyst can push filters to the parquet scan, prune columns, broadcast small
  * dimension tables, and keep the whole pipeline in whole-stage codegen.
  *
  * Oracle-parity note: sums over continuous DOUBLE columns are order-dependent
  * in IEEE arithmetic, so any money arithmetic is done in exact DECIMAL and only
  * cast to DOUBLE at the end — bit-identical to DuckDB regardless of partition
  * count or AQE decisions (the same plan property that makes results stable on a
  * 1000-executor cluster makes them match the oracle locally).
  */
object Relational {

  private val money = DecimalType(18, 2)
  private val rate  = DecimalType(4, 2)

  /** TPC-H Q1-style pricing summary: partial+final hash aggregation over the
    * fact table with exact decimal money math (SURVEY R1/R2 generalized). */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val price = col("l_extendedprice").cast(money)
    val disc  = col("l_discount").cast(rate)
    val tax   = col("l_tax").cast(rate)
    // quantity rides DECIMAL like the money columns: a plain DOUBLE
    // sum is partial-order-dependent — identical through sf0.1, but at
    // sf1's ~6M rows/group the engines' different summation orders drift
    // the last bits (measured 7.6e-6 absolute). Exact decimal sum, ONE
    // double rounding at the end; averages divide the exact sum as
    // doubles (correctly-rounded IEEE division both engines).
    val qty = col("l_quantity").cast(money)
    // wide-scale sums (disc_price scale 4, charge scale 6) exit through
    // an exact BIGINT bridge instead of a direct decimal→double cast:
    // once the scaled integer passes 2^53 (sum_charge reaches 5.2e16
    // micro-units at sf1) engines disagree by 1 ulp on decimal→double
    // (Spark rounds the full decimal once; DuckDB converts int128 then
    // divides by 10^scale — two roundings). int64→double and the final
    // division are single correctly-rounded IEEE ops in BOTH engines, so
    // the bridged double is bit-identical. Headroom: 9.2e18 micro-units
    // ≈ sf200 per group; beyond that, drop to 10^4 units.
    def bridged(c: Column, scale: Long): Column =
      (c * lit(scale)).cast("long").cast("double") / lit(scale.toDouble)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(qty).cast("double").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        bridged(sum(price * (lit(1) - disc)), 10000L).as("sum_disc_price"),
        bridged(sum(price * (lit(1) - disc) * (lit(1) + tax)), 1000000L).as("sum_charge"),
        (sum(qty).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(price).cast("double") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Fact-to-dimension join with an explicit broadcast of the small side —
    * at 100 TB the orders scan shuffles nothing; customer ships to every
    * executor once. */
  def revenueBySegment(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(col("o_totalprice").cast(money)).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** Three-table dimension chain (customer -> nation -> region), both dims
    * broadcast; the aggregate shuffles only the 5-row region grouping. */
  def acctbalByRegion(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        sum(col("c_acctbal").cast(money)).cast("double").as("sum_acctbal"),
        count(lit(1)).as("n_customers"))
      .orderBy(col("r_name"))
  }

  /** Left-semi join: customers having at least one order (EXISTS). */
  def customersWithOrders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name").orderBy("c_custkey")
  }

  /** Left-anti join: customers with no orders (NOT EXISTS). */
  def customersWithoutOrders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name").orderBy("c_custkey")
  }

  /** As-of join: for each event, the user's most recent order at or before
    * the event timestamp. Planned as an equi-join on the user key with the
    * temporal predicate as a post-join filter, then a max per event — the
    * composition Spark plans well at scale (shuffle on the equi key only).
    * Reference has no joins at all (SURVEY §2b) — users hand-rolled these in
    * Python reduce scripts. Direction chosen so the test corpus exercises
    * real rows: orders (1992–2001) all precede events (2024), so every
    * event with an ordering user matches. */
  def lastOrderAsOfEvent(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select("event_id", "user_id", "ts")
    val o = Tables.orders(s, dir).select("o_custkey", "o_orderdate")
    e.join(o, o("o_custkey") === e("user_id") && o("o_orderdate") <= e("ts"))
      .groupBy(col("event_id"))
      .agg(max(col("o_orderdate")).as("last_order_date"))
  }

  /** The same as-of semantics as [[lastOrderAsOfEvent]] via the
    * union-sort-window algorithm: tag both sides, union, and carry the
    * last non-null right value forward within each key's timeline. One
    * shuffle on the key, NO pairwise join — the equi-join+max formulation
    * materializes every (event, earlier-order) pair before aggregating,
    * which explodes on hot keys; this stays linear in input size, the
    * shape an as-of join needs at 100 TB. Same oracle as the join+max
    * variant (identical output contract). */
  def lastOrderAsOfEventUnion(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id").as("key"), col("ts"),
      lit(null).cast("timestamp").as("o_orderdate"), lit(1).as("src"))
    val o = Tables.orders(s, dir).select(
      lit(null).cast("long").as("event_id"), col("o_custkey").as("key"),
      col("o_orderdate").as("ts"), col("o_orderdate"), lit(0).as("src"))
    // right rows sort before left rows at equal ts (src 0 < 1) → the
    // reference predicate o_orderdate <= ts stays inclusive
    val w = Window.partitionBy(col("key")).orderBy(col("ts"), col("src"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.unionByName(o)
      .withColumn("last_order_date", last(col("o_orderdate"), ignoreNulls = true).over(w))
      .filter(col("src") === 1 && col("last_order_date").isNotNull)
      .select(col("event_id"), col("last_order_date"))
  }

  /** NEAREST as-of join — the sensor-fusion alignment
    * (pandas merge_asof direction='nearest'): for each event, the order
    * of the same key whose date is CLOSEST in either direction, ties
    * (equidistant) resolved backward (the earlier date). Same
    * union-sort-window shape as [[lastOrderAsOfEventUnion]] — no pair
    * explosion — with a second window frame: `back` = last order at-or-
    * before (orders sort before events at equal ts, so equality is
    * backward-inclusive and the tie rule is structural), `fwd` = first
    * order strictly after; the arithmetic picks the closer in exact
    * MICROsecond integers (a seconds-truncating diff could flip a
    * boundary pick vs the oracle). One partition-parallel sort per key;
    * the oracle deliberately uses the OTHER formulation (per-event argmin
    * over the key's orders) so the two plans check each other. */
  def nearestOrderAsOfEvent(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id").as("key"), col("ts"),
      lit(null).cast("timestamp").as("o_orderdate"), lit(1).as("src"))
    val o = Tables.orders(s, dir).select(
      lit(null).cast("long").as("event_id"), col("o_custkey").as("key"),
      col("o_orderdate").as("ts"), col("o_orderdate"), lit(0).as("src"))
    val ord = Window.partitionBy(col("key")).orderBy(col("ts"), col("src"))
    val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val diffTo = (c: Column) =>
      abs(unix_micros(col("ts")) - unix_micros(c))
    e.unionByName(o)
      .withColumn("back", last(col("o_orderdate"), ignoreNulls = true).over(wb))
      .withColumn("fwd", first(col("o_orderdate"), ignoreNulls = true).over(wf))
      .filter(col("src") === 1)
      .withColumn("nearest_order_date",
        when(col("back").isNull, col("fwd"))
          .when(col("fwd").isNull, col("back"))
          .when(diffTo(col("back")) <= diffTo(col("fwd")), col("back"))
          .otherwise(col("fwd")))
      .filter(col("nearest_order_date").isNotNull)
      .select(col("event_id"), col("nearest_order_date"),
        diffTo(col("nearest_order_date")).as("diff_us"))
  }

  /** Range (band) self-join: pairs of events by the same user within one
    * hour of each other. Equi key = user, band predicate post-join. */
  def eventPairsWithinHour(s: SparkSession, dir: String): DataFrame = {
    val e1 = Tables.events(s, dir).select(
      col("user_id"), col("event_id").as("id1"), col("ts").as("ts1"))
    val e2 = Tables.events(s, dir).select(
      col("user_id").as("uid2"), col("event_id").as("id2"), col("ts").as("ts2"))
    e1.join(e2,
        e1("user_id") === e2("uid2") && e1("id1") < e2("id2") &&
          abs(unix_timestamp(col("ts2")) - unix_timestamp(col("ts1"))) <= 3600)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Window: top-3 orders per customer by total price (deterministic
    * tiebreak on order key). */
  def top3OrdersPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
  }

  /** Window: running quantity per supplier over a fully deterministic order
    * (integral doubles sum exactly in any order). */
  def runningQtyPerSupplier(s: SparkSession, dir: String): DataFrame = {
    // l_quantity as the FINAL tiebreak: (orderkey, linenumber) is not
    // unique in this corpus (118k duplicate pairs at sf0.1), so without it
    // the frame order has genuine ties and the intermediate running sums
    // are engine- and schedule-dependent — caught when a same-everything-
    // but-quantity collision finally appeared inside one supplier
    // partition at sf0.1. Rows that tie on quantity too sum identically
    // under any order, so this key is value-total.
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, dir)
      .withColumn("running_qty", sum(col("l_quantity")).over(w))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
  }

  /** Window: 3-row moving average of event value per user. Money math in
    * DECIMAL inside the frame so the result is frame-order independent, cast
    * to DOUBLE only for the final division. */
  def movingAvgEventValue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("mavg_value",
        sum(col("value").cast(money)).over(w).cast("double") /
          count(lit(1)).over(w))
      .select("user_id", "event_id", "mavg_value")
  }

  /** Rollup over the Q1 grouping: subtotals + grand total, null grouping
    * markers made explicit so the oracle compare is unambiguous. */
  def rollupFlagStatus(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy(col("rf"), col("ls"))

  /** Cube over order status x priority. */
  def cubeStatusPriority(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"))
      .orderBy(col("status"), col("priority"))

  /** Grouping sets: per-lang and per-source document counts in one pass. */
  def groupingSetsDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupingSets(Seq(Seq(col("lang")), Seq(col("source"))), col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .select(
        coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n"), col("sum_chars"))
      .orderBy(col("lang"), col("source"))

  /** Set operations: big-spender custkeys UNION (distinct) building-segment
    * custkeys, minus (EXCEPT) machinery-segment, INTERSECT with customers
    * that actually have orders — exercises all three set ops in one query. */
  def setOpsCustkeys(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val bigSpenders = o.filter(col("o_totalprice") > 400000).select(col("o_custkey").as("k"))
    val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
    val machinery = c.filter(col("c_mktsegment") === "MACHINERY").select(col("c_custkey").as("k"))
    val withOrders = o.select(col("o_custkey").as("k"))
    bigSpenders.union(building).distinct()
      .except(machinery)
      .intersect(withOrders)
  }

  /** Pivot: order counts per priority, one column per order status. The
    * pivot values are enumerated explicitly — at scale an implicit pivot
    * means an extra distinct-scan to discover them. */
  def pivotStatusByPriority(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"), col("F").as("n_f"), col("O").as("n_o"), col("P").as("n_p"))
      .orderBy(col("o_orderpriority"))

  /** Unpivot (melt): wide per-order measures back to long (measure, value)
    * rows — the inverse reshaping primitive. */
  def unpivotOrderMeasures(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("double").as("o_year"))
      .unpivot(Array(col("o_orderkey")),
        Array(col("o_totalprice"), col("o_year")), "measure", "value")

  /** Bag-semantics set ops (EXCEPT ALL / INTERSECT ALL) — multiplicity
    * preserved, unlike the distinct set ops in [[setOpsCustkeys]]. */
  def setOpsAllVariants(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val highs = o.filter(col("o_totalprice") > 300000).select(col("o_custkey").as("k"))
    val building = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
    highs.exceptAll(building)
      .intersectAll(o.select(col("o_custkey").as("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("multiplicity"))
  }

  /** Ordered array aggregation: sorted collect_set per group (collect_list
    * order is partitioning-dependent — always sort before comparing or
    * persisting aggregated arrays). Joined to a string for the oracle
    * compare (array-typed result cells compare unreliably through pandas). */
  def arrayAggStatuses(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        array_join(sort_array(collect_set(col("o_orderstatus"))), ",").as("statuses"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  /** Second string-function sampler: translate/pad/repeat/reverse/
    * replace/position/ascii — all with exact DuckDB equivalents. */
  def stringFuncsSampler(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey"),
      translate(col("c_name"), "#", "-").as("name_tr"),
      lpad(col("c_mktsegment"), 12, ".").as("seg_lpad"),
      rpad(col("c_mktsegment"), 12, ".").as("seg_rpad"),
      repeat(substring(col("c_mktsegment"), 1, 2), 3).as("seg_rep"),
      reverse(col("c_mktsegment")).as("seg_rev"),
      regexp_replace(col("c_name"), "[0-9]+", "N").as("name_norm"),
      instr(col("c_name"), "1").cast("long").as("pos_one"),
      ascii(col("c_mktsegment")).cast("long").as("seg_ascii"))

  /** Scalar function sampler: string/date/math built-ins chosen to be
    * bit-deterministic across engines (no double rounding ties). */
  def scalarSampler(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      upper(col("o_orderpriority")).as("prio_upper"),
      substring(col("o_orderpriority"), 1, 1).as("prio_code"),
      length(col("o_orderpriority")).cast("long").as("prio_len"),
      concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"),
      year(col("o_orderdate")).cast("long").as("o_year"),
      month(col("o_orderdate")).cast("long").as("o_month"),
      dayofmonth(col("o_orderdate")).cast("long").as("o_day"),
      date_trunc("month", col("o_orderdate")).as("month_start"),
      floor(col("o_totalprice") / 1000).cast("long").as("price_k"),
      sqrt(col("o_totalprice")).as("price_sqrt"),
      abs(col("o_totalprice") * lit(-1)).as("price_abs"))

  /** JSON extraction over the events.props string column with an explicit
    * schema (inference is a nondeterminism hazard — SURVEY §7.3). */
  def jsonExtractEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k_val",
        from_json(col("props"), lit("k INT")).getField("k"))
      .groupBy(col("event_type"), (col("k_val") % 10).cast("long").as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k_val")).as("sum_k"))
      .orderBy(col("event_type"), col("k_mod"))

  /** The same JSON extraction through Spark 4's VARIANT type: `props` is
    * parsed ONCE into the binary variant encoding, then every access is a
    * typed `variant_get` path lookup — at 100 TB this is the difference
    * between one parse per row and one parse per ACCESS (the string-JSON
    * form re-parses for every extracted field). `try_variant_get` on a
    * missing path yields NULL, not an error, and the gate counts it to
    * pin that semantics; results are identical to the string-JSON twin,
    * so the two share oracle logic. */
  def jsonVariantEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), expr("parse_json(props)").as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'long')").as("k"),
        expr("try_variant_get(v, '$.missing', 'long')").as("miss"))
      .groupBy(col("event_type"), (col("k") % 10).cast("long").as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"),
        count(col("miss")).as("n_missing"))
      .orderBy(col("event_type"), col("k_mod"))

  /** TPC-H Q3-shaped shipping-priority query: 3-way join with selective
    * filters on both join inputs, revenue aggregation, top-10. The filters
    * reach the parquet scans (PushedFilters), customer broadcasts, and the
    * lineitem-orders join shuffles only filtered rows — the canonical
    * "join order + pushdown matter" plan at 100 TB. */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = "1995-03-15"
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir).filter(col("o_orderdate") < lit(cutoff))
    val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit(cutoff))
    val revenue = col("l_extendedprice").cast(money) * (lit(1) - col("l_discount").cast(rate))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select("l_orderkey", "o_orderdate", "revenue")
  }

  /** TPC-H Q6-shaped forecast-revenue query: pure scan + pushed predicates
    * + single aggregate — the canonical "did the filters reach the reader"
    * benchmark shape (all three predicates land in PushedFilters). */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1994-01-01") && col("l_shipdate") < lit("1995-01-01") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(
        sum(col("l_extendedprice").cast(money) * col("l_discount").cast(rate))
          .cast("double").as("revenue"),
        count(lit(1)).as("n"))

  /** TPC-H Q5-shaped local-supplier-volume query: five-table join through
    * the dimension chain with both nation keys constrained equal (customer
    * and supplier in the same nation). All dimensions broadcast; only the
    * two fact tables shuffle. */
  def q5LocalSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    val sup = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val revenue = col("l_extendedprice").cast(money) * (lit(1) - col("l_discount").cast(rate))
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(sup),
        l("l_suppkey") === sup("s_suppkey") && c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(revenue).cast("double").as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q9-shaped product-profit query: the part-keyed join topology
    * (part ⋈ lineitem ⋈ supplier ⋈ orders ⋈ nation — no partsupp table in
    * the corpus, so unit cost comes from part.p_retailprice). The selective
    * part filter broadcasts, as do supplier and nation; only the two fact
    * tables shuffle, and profit math stays in exact DECIMAL until the final
    * double cast. */
  def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).filter(col("p_name").contains("red"))
    val l = Tables.lineitem(s, dir)
    val sup = Tables.supplier(s, dir)
    val o = Tables.orders(s, dir)
    val n = Tables.nation(s, dir)
    val amount = col("l_extendedprice").cast(money) * (lit(1) - col("l_discount").cast(rate)) -
      col("p_retailprice").cast(money) * col("l_quantity").cast(money)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .select(n("n_name").as("nation"),
        year(o("o_orderdate")).cast("long").as("o_year"), amount.as("amount"))
      .groupBy("nation", "o_year")
      .agg(sum(col("amount")).cast("double").as("sum_profit"), count(lit(1)).as("n"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q14-shaped promo-revenue ratio: one selective scan of the fact
    * table joined to `part` for the numerator's CASE, a single aggregate
    * producing both the conditional and unconditional sums, ratio at the
    * end. The date filter is pushed to the parquet scan; part broadcasts.
    * Money math in exact DECIMAL until the final ratio (the division is
    * done in DOUBLE after both sums are exact — same association as the
    * oracle's). */
  def q14PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    val p = Tables.part(s, dir)
    val disc = col("l_extendedprice").cast(money) * (lit(1) - col("l_discount").cast(rate))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .select(disc.as("rev"), (p("p_type") === "PROMO").as("is_promo"))
      .agg(
        sum(when(col("is_promo"), col("rev")).otherwise(lit(0).cast(money))).as("promo_rev_d"),
        sum(col("rev")).as("total_rev_d"),
        count(lit(1)).as("n"))
      .select(
        (lit(100.0) * col("promo_rev_d").cast("double") / col("total_rev_d").cast("double"))
          .as("promo_pct"),
        col("promo_rev_d").cast("double").as("promo_revenue"),
        col("total_rev_d").cast("double").as("total_revenue"),
        col("n"))
  }

  /** TPC-H Q4-shaped order-priority check: count orders per priority class
    * where EXISTS a returned line item shipped after the order date — the
    * canonical correlated-EXISTS shape, planned as a LEFT SEMI join (the
    * fact side streams once; no row multiplication from multi-line
    * matches). */
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q21-shaped waiting suppliers — the multi-EXISTS decorrelation
    * shape: late line items (shipped >60 days after the order date) of
    * finalized orders, kept when ANOTHER supplier shares the order (a
    * LEFT SEMI self-join) but NO other supplier was ALSO late (a LEFT
    * ANTI against the same late set) — the sole-blamable-supplier rule.
    * The supplier/nation/region dimension chain broadcasts; the two
    * existence probes are the only fact-scale joins, each planned as a
    * semi/anti hash join that never multiplies rows. (The reference
    * schema has no commit/receipt dates, so lateness is expressed against
    * the order date — the decorrelation topology is the point.) */
  def q21WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val l = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
    val late = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select("l_orderkey", "l_suppkey")
    val eurSupp = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name")
    late.as("l1")
      .join(l.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_suppkey") =!= col("l2.l_suppkey"), "left_semi")
      .as("l1")
      .join(late.as("l3"),
        col("l1.l_orderkey") === col("l3.l_orderkey") &&
          col("l1.l_suppkey") =!= col("l3.l_suppkey"), "left_anti")
      .join(broadcast(eurSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** TPC-H Q2-shaped minimum-cost supplier — the correlated-scalar-min
    * shape: for each qualifying part, the region's suppliers whose
    * offered unit cost EQUALS the part's minimum unit cost (the
    * decorrelated form of `cost = (SELECT min(cost) ... WHERE partkey =
    * outer.partkey)`). The reference schema has no partsupp, so the offer
    * table derives from line items: per (part, supplier) the minimum
    * `extendedprice / quantity`. Cost equality is IEEE-exact — both
    * engines divide the same doubles and take min over the same set, so
    * the boundary join cannot drift. Dimension chain broadcasts; the only
    * fact-scale work is one grouped pass over the region's line items. */
  def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val esupp = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val offers = Tables.lineitem(s, dir)
      .join(broadcast(esupp.select("s_suppkey")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
    val mc = offers.groupBy(col("l_partkey").as("mc_partkey"))
      .agg(min(col("cost")).as("min_cost"))
    Tables.part(s, dir)
      .filter(col("p_type") === "LARGE" && col("p_size") <= 10)
      .select("p_partkey", "p_name")
      .join(mc, col("p_partkey") === col("mc_partkey"))
      .join(offers,
        col("l_partkey") === col("p_partkey") && col("cost") === col("min_cost"))
      .join(broadcast(esupp), col("l_suppkey") === col("s_suppkey"))
      .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "cost")
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q11-shaped important parts — grouped values filtered by a
    * GLOBAL scalar aggregate (`HAVING value > fraction * sum(value)`),
    * the q22 shape at part granularity: one nation's suppliers' line-item
    * value per part, kept when the part holds more than 1.5× the mean
    * share. Per-row revenue is exact at scale 4, so it is carried as a
    * ×10⁴ fixed-point LONG: the threshold compare is the pure integer
    * cross-multiplication `v × n × 2 > total × 3` — a decimal × count
    * product would blow Spark's precision-38 cap and silently round,
    * and a double mean could flip boundary parts between engines. The
    * one-row totals cross-join broadcasts. */
  def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    val supp = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir).filter(col("n_name") === "NATION_7"),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val v = Tables.lineitem(s, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"),
        (col("l_extendedprice").cast(money)
          * (lit(1) - col("l_discount").cast(rate)) * 10000).cast("long").as("v4"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(col("v4")).as("v4"))
    val m = v.agg(sum(col("v4")).as("t4"), count(lit(1)).as("n_parts"))
    v.crossJoin(broadcast(m))
      .filter(col("v4") * col("n_parts") * 2 > col("t4") * 3)
      .select(col("p_partkey"),
        (col("v4").cast("double") / 10000.0).as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  /** TPC-H Q15-shaped top supplier — the view-over-aggregate shape: a
    * quarter's revenue per supplier (exact decimal sums), then the
    * supplier(s) whose revenue equals the global max. Max and the
    * equality run on exact decimals, so the "top" set is bit-stable
    * across engines and partitionings; the one-row max broadcasts. */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast(money)
        * (lit(1) - col("l_discount").cast(rate))).as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue") === col("max_rev"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_revenue").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q7-shaped cross-nation volume shipping: revenue between
    * DISTINCT (supplier nation, customer nation) pairs by order year. The
    * nation dimension joins twice under different aliases — the classic
    * self-referenced-dimension topology; both broadcast, only the fact
    * join shuffles. */
  def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val n1 = Tables.nation(s, dir).select(
      col("n_nationkey").as("supp_nkey"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir).select(
      col("n_nationkey").as("cust_nkey"), col("n_name").as("cust_nation"))
    val revenue = col("l_extendedprice").cast(money) * (lit(1) - col("l_discount").cast(rate))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n1), sup("s_nationkey") === col("supp_nkey"))
      .join(broadcast(n2), c("c_nationkey") === col("cust_nkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(o("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(revenue).cast("double").as("revenue"), count(lit(1)).as("n"))
      .orderBy("supp_nation", "cust_nation", "o_year")
  }

  /** TPC-H Q10-shaped returned-item report: the top 20 customers by
    * revenue lost to returns. Selective fact filter first, dimension
    * broadcasts, deterministic LIMIT via the (revenue DESC, c_custkey)
    * tiebreak. */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val revenue = col("l_extendedprice").cast(money) * (lit(1) - col("l_discount").cast(rate))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(c("c_custkey"), c("c_name"), c("c_acctbal"), n("n_name"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"), col("revenue"))
  }

  /** TPC-H Q13-shaped customer order-count distribution: LEFT OUTER join
    * so order-less customers land in the zero bucket (the whole point of
    * the query — an inner join could never produce it), then a histogram
    * of the per-customer counts. Two aggregations, one outer join; the
    * orders side is pre-filtered to non-urgent. */
  def q13OrderDistribution(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_orderpriority") =!= "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(c("c_custkey"))
      .agg(count(o("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q17-shaped small-quantity revenue: per-part average quantity as
    * a self-aggregated build side (no correlated re-scan — the subquery
    * becomes a broadcast join against the part-level aggregate), then the
    * 20%-of-average predicate and the yearly-revenue division. The avg is
    * exact: quantities are small integers summed in DOUBLE far below 2^53,
    * so the threshold replays bit-for-bit. */
  def q17SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).filter(col("p_brand") === "Brand#1")
    val l = Tables.lineitem(s, dir)
    val avgQty = l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(l("l_partkey").as("ap_partkey"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .join(broadcast(avgQty), l("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(
        (sum(col("l_extendedprice").cast(money)).cast("double") / lit(7.0))
          .as("avg_yearly"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q18-shaped large-volume customers: a HAVING on the order-level
    * quantity rollup gates which orders join back to their header and
    * customer — aggregate-then-join, so the expensive per-order sum runs
    * once and only qualifying keys rejoin the dimensions. */
  def q18LargeVolume(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val big = l.groupBy(col("l_orderkey").as("big_okey"))
      .agg(sum(col("l_quantity").cast(money)).as("sum_qty_d"))
      .filter(col("sum_qty_d") > 300)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    o.join(big, o("o_orderkey") === col("big_okey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .select(c("c_name"), c("c_custkey"), o("o_orderkey"), o("o_orderdate"),
        o("o_totalprice"), col("sum_qty_d").cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q19-shaped disjunctive-predicate revenue: three brand ×
    * quantity-band × size-band arms OR'd together — the shape that
    * punishes engines which can't push a disjunction into a single scan
    * (here it folds to one pass over lineitem with part broadcast). */
  def q19DisjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    val revenue = col("l_extendedprice").cast(money) * (lit(1) - col("l_discount").cast(rate))
    val arm1 = col("p_brand") === "Brand#1" &&
      col("l_quantity").between(1, 11) && col("p_size").between(1, 5)
    val arm2 = col("p_brand") === "Brand#2" &&
      col("l_quantity").between(10, 20) && col("p_size").between(1, 10)
    val arm3 = col("p_brand") === "Brand#3" &&
      col("l_quantity").between(20, 30) && col("p_size").between(1, 15)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .filter(arm1 || arm2 || arm3)
      .agg(sum(revenue).cast("double").as("revenue"), count(lit(1)).as("n"))
  }

  /** TPC-H Q22-shaped idle-customer report: customers whose balance beats
    * the global positive-balance average but who have never placed an
    * URGENT order — a scalar-aggregate broadcast (the average) plus a LEFT
    * ANTI join (the NOT EXISTS), grouped by nation. The threshold is
    * cross-multiplied (`bal * n > sum`) instead of divided so the
    * comparison stays in exact DECIMAL arithmetic — a double average's
    * last ulp would depend on partial-sum order and could flip boundary
    * customers between engines. */
  def q22IdleCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val urgent = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
    val posBal = c.filter(col("c_acctbal") > 0)
      .agg(sum(col("c_acctbal").cast(money)).as("sum_pos"),
        count(lit(1)).as("n_pos"))
    c.crossJoin(broadcast(posBal))
      .filter(col("c_acctbal").cast(money) * col("n_pos") > col("sum_pos"))
      .join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_custs"),
        sum(col("c_acctbal").cast(money)).cast("double").as("total_bal"))
      .orderBy("c_nationkey")
  }

  /** TPC-H Q8-shaped national market share — the conditional-share-of-
    * aggregate shape: one nation's fraction of a region's revenue for one
    * part type, by order year. The numerator is a CASE-gated sum inside
    * the same aggregation as the denominator (one pass, no self-join);
    * both are exact DECIMAL sums, so the share is ONE double division of
    * two bit-identical values — no float aggregation anywhere. The whole
    * dimension chain (part filter, customer→nation→region market gate,
    * supplier→nation share tag) broadcasts; the only shuffle joins the
    * two fact tables, then one year-keyed aggregation. */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val p = Tables.part(s, dir).filter(col("p_type") === "PROMO").select("p_partkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val n1 = Tables.nation(s, dir).select(
      col("n_nationkey").as("c_nkey"), col("n_regionkey"))
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val n2 = Tables.nation(s, dir).select(
      col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val volume = col("l_extendedprice").cast(money) * (lit(1) - col("l_discount").cast(rate))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(p), l("l_partkey") === col("p_partkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n1), c("c_nationkey") === col("c_nkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n2), sup("s_nationkey") === col("s_nkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_3", volume)
          .otherwise(lit(0).cast(money))).cast("double").as("nation_volume"),
        sum(volume).cast("double").as("total_volume"))
      .select(col("o_year"),
        (col("nation_volume") / col("total_volume")).as("mkt_share"),
        col("nation_volume"), col("total_volume"))
      .orderBy("o_year")
  }

  /** TPC-H Q12-shaped line-class priority audit — the fact-join +
    * conditional-count shape: for a shipping year, per line class the
    * number of lines whose order was high-priority vs not. (The corpus
    * schema has no `l_shipmode`/commit/receipt dates, so the class is
    * `l_returnflag` and the date gate is the ship date — the join +
    * CASE-count topology is the point.) Counts are exact integers; the
    * orders side carries only (key, priority) into the join. */
  def q12ShipPriority(s: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_returnflag")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag").as("ship_class"))
      .agg(
        count(when(high, 1)).as("high_line_count"),
        count(when(!high, 1)).as("low_line_count"))
      .orderBy("ship_class")
  }

  /** TPC-H Q16-shaped supplier diversity count — the NOT-IN-subquery +
    * grouped COUNT DISTINCT shape: how many distinct suppliers offer each
    * (brand, type, size) combination, excluding a blacklisted supplier set
    * (here: negative account balance — the schema has no comment text).
    * The part/supplier relation derives from the distinct (part, supplier)
    * pairs observed in line items (no partsupp table). The NOT IN
    * decorrelates to a broadcast LEFT ANTI join; the count-distinct is one
    * shuffle keyed by the group columns. */
  def q16SupplierCount(s: SparkSession, dir: String): DataFrame = {
    val ps = Tables.lineitem(s, dir).select("l_partkey", "l_suppkey").distinct()
    val bad = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val p = Tables.part(s, dir)
      .filter(col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    ps.join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20-shaped concentrated-supply report — the nested-IN-with-
    * correlated-scalar shape: suppliers in one nation who, for some
    * 'small%'-named part, shipped MORE than half of that (part, supplier)
    * pair's lifetime quantity inside the 1996 window (the decorrelated
    * `availqty > 0.5 * sum(qty)` rule re-expressed against line items —
    * the schema has no partsupp). Quantities are integral doubles carried
    * as exact LONGs, and the half threshold is the integer
    * cross-multiplication `2·qty96 > total` — no float comparison. The
    * part filter broadcasts into the fact aggregation; the supplier gate
    * is a LEFT SEMI against the qualifying pairs. */
  def q20ExcessShare(s: SparkSession, dir: String): DataFrame = {
    val sp = Tables.part(s, dir)
      .filter(col("p_name").startsWith("small")).select("p_partkey")
    val in96 = col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
      col("l_shipdate") < lit("1997-01-01").cast("timestamp")
    val pairs = Tables.lineitem(s, dir)
      .join(broadcast(sp), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(
        sum(col("l_quantity").cast("long")).as("total_qty"),
        sum(when(in96, col("l_quantity").cast("long")).otherwise(0L)).as("qty96"))
      .filter(col("qty96") * 2 > col("total_qty"))
      .select("l_suppkey")
    Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_2")),
        col("s_nationkey") === col("n_nationkey"))
      .join(pairs, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_name", "s_acctbal")
      .orderBy("s_name")
  }

  /** Event-time RANGE window frame: per event, count and exact-decimal sum
    * of the same user's values in the trailing hour INCLUDING the current
    * row — a value-based frame (`RANGE BETWEEN INTERVAL`), not a row-count
    * frame. The frame is computed on microsecond epochs so sub-second
    * event spacing resolves identically to timestamp-interval arithmetic.
    * Value-based frames are deterministic under ties by construction (all
    * peers are in-frame), so no tiebreak column is needed. */
  def trailingHourStats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        expr("unix_micros(ts)").as("ts_us"))
      .select(
        col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_trailing_1h"),
        sum(col("value").cast(money)).over(w).cast("double").as("sum_trailing_1h"))
  }

  /** [[revenueBySegment]] semantics through [[Skew.saltedJoin]]: the gate
    * proving the salted plan is result-identical to the plain join (the
    * oracle is the unsalted SQL). At 100 TB this is the shape for a hot
    * customer key — the fact side fans out over 8 salt buckets, the
    * dimension replicates 8×, and the aggregate is unchanged. */
  def saltedRevenueBySegment(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select("o_custkey", "o_totalprice")
    val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
    Skew.saltedJoin(o, c, "o_custkey", "c_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(col("o_totalprice").cast(money)).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** Exact interpolated percentiles of an integral-valued measure per
    * group. Quartile interpolation between integers is exact in binary
    * floating point (0.25-grid fractions), so the results are
    * bit-identical to DuckDB's quantile_cont. */
  def percentilesQty(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25D)").as("p25"),
        expr("percentile(l_quantity, 0.5D)").as("median"),
        expr("percentile(l_quantity, 0.75D)").as("p75"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Null-semantics sampler: NULLIF/COALESCE/null-safe equality over
    * injected nulls (the corpus itself is null-free) — SQL three-valued
    * logic is a classic cross-engine parity trap, so it is made explicit
    * and oracle-checked here. `<=>` mirrors DuckDB's
    * `IS NOT DISTINCT FROM`. */
  def nullHandlingSampler(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"),
        expr("nullif(o_orderstatus, 'O')").as("status_nulled"),
        coalesce(expr("nullif(o_orderstatus, 'O')"), lit("OPEN")).as("status_filled"),
        (col("o_orderstatus") <=> expr("nullif(o_orderstatus, 'O')")).as("eq_nullsafe"),
        expr("nullif(o_orderpriority, '1-URGENT')").isNull.as("is_urgent"))

  /** Null-aware aggregation: `count(*)` vs `count(col)` vs
    * `count(DISTINCT col)` over a column with injected nulls — the three
    * counts differ exactly by SQL's null rules. */
  def nullAggCounts(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderstatus"),
        expr("nullif(o_orderpriority, '1-URGENT')").as("prio_n"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        count(col("prio_n")).as("n_nonnull"),
        countDistinct(col("prio_n")).as("n_distinct_nonnull"))
      .orderBy("o_orderstatus")

  /** Relative-rank window functions (percent_rank, cume_dist) — the
    * ranking family beyond rank/dense_rank/ntile. Deterministic: the
    * order key (value, event_id) is unique within each partition, and
    * both functions are exact rational arithmetic on identical ranks. */
  def windowRankStats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("value"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
  }

  /** Per-column SCHEMA PROFILE of the orders table — the data-quality
    * report an ingestion pipeline renders per dataset (row count, null
    * count, exact distinct cardinality, min/max per column): one
    * COLUMN-PRUNED aggregate branch per column, unioned — each branch's
    * parquet scan reads exactly its one column (the columnar layout makes
    * per-column profiling nearly free), and each carries a single
    * `countDistinct`, which plans as a plain two-phase distinct aggregate
    * (a single multi-distinct aggregate would Expand the scan rows ×
    * columns and shuffle the multiple — measured 3.7 s vs 0.8 s for this
    * union form at sf0.1). min/max unify as strings; the money column
    * goes through DECIMAL so the rendering is engine-exact. An ungrouped
    * 100 TB profile swaps in `approx_count_distinct`, same shape. */
  def schemaProfile(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val t = Tables.orders(s, dir).withColumn("o_totalprice",
      col("o_totalprice").cast("decimal(18,2)"))
    schemaProfileOf(t, cols)
  }

  def schemaProfileOf(t: DataFrame, cols: Seq[String]): DataFrame = {
    cols.map { c =>
      t.agg(count(lit(1)).as("n_rows"), count(col(c)).as("nn"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_val"),
        max(col(c)).cast("string").as("max_val"))
        .select(lit(c).as("col_name"), col("n_rows"),
          (col("n_rows") - col("nn")).as("n_nulls"),
          col("n_distinct"), col("min_val"), col("max_val"))
    }.reduce(_ unionAll _).orderBy("col_name")
  }

  val HistBuckets = 8

  /** Exact per-group EQUI-DEPTH histogram — the data-profiling shape
    * ("show me the price distribution per return flag" with equal-count
    * buckets, where equi-WIDTH buckets collapse under skew): ntile over a
    * unique order key within each group, then per-bucket count/lo/hi.
    * Deterministic: the order key carries the row's unique
    * (orderkey, linenumber) tiebreak, so tied values split identically in
    * any engine, and NTILE's ceil-then-floor bucket sizing is standard
    * SQL. Scale shape: the sort is PER GROUP (partition-parallel, the
    * window family's usual contract), not global; for an ungrouped 100 TB
    * profile, use the [[approxQuantilesQty]] sketch path instead. Each
    * group gets [[HistBuckets]] buckets. */
  def equiDepthHistogram(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("bucket", ntile(HistBuckets).over(w).cast("long"))
      .groupBy("l_returnflag", "bucket")
      .agg(count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      .orderBy("l_returnflag", "bucket")
  }

  /** Sketch-based per-group quantiles (`percentile_approx`):
    * bounded-memory, single-pass, mergeable across partitions — the scale
    * path when the exact interpolated percentile's per-group sort is too
    * expensive. The sketch values are engine-specific, so the gate
    * oracle-checks the ERROR BOUND (below) rather than the values;
    * SketchSpec additionally bounds it against the exact
    * [[percentilesQty]]. */
  def approxQuantilesQty(s: SparkSession, dir: String): DataFrame = {
    // The sketch VALUES are engine-specific (a DuckDB replay is impossible
    // by construction), but the sketch's accuracy CONTRACT is not: emit
    // `|approx − exact| <= eps` as 0/1 columns and let the oracle assert
    // literal 1s — the gate becomes deterministic hash pass/fail without
    // comparing sketch internals. eps = 1.5 covers
    // the exact quantile's interpolation step (adjacent l_quantity values
    // are 1 apart) plus the <= n/accuracy rank error of the KLL-style
    // sketch at every test SF (rank error ~60 rows vs ~4000 rows/value at
    // sf0.1). Both percentile variants ride ONE partial-agg pass.
    val eps = 1.5
    def okCol(i: Int, name: String) =
      (abs(element_at(col("q"), i) - element_at(col("e"), i)) <= eps)
        .cast("int").as(name)
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_approx(l_quantity, array(0.25D, 0.5D, 0.75D), 10000)").as("q"),
        expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("e"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        okCol(1, "ok25"), okCol(2, "ok50"), okCol(3, "ok75"),
        col("n"))
      .orderBy("l_returnflag")
  }

  // ---- stored equi-width HISTOGRAM lifecycle: the mergeable
  // QUANTILE artifact, completing the persisted-sketch trio next to the
  // HLL distinct counts and the CMS frequency counters (both in
  // TextAnalysis). percentile_approx above answers one query in one
  // pass; the stored histogram answers corpus-LIFETIME quantiles across
  // daily batches without rereading a single old row — counter addition
  // is exact, so append+compact == one-shot, and (unlike a KLL sketch,
  // whose compaction path is engine-private) every estimate is
  // replayable in DuckDB bucket for bucket. ----

  /** Default histogram bin width over `l_extendedprice` (~105 bins at
    * TPC-H's price range). A BUILD parameter, not an engine constant:
    * [[buildHistIndex]] persists the chosen
    * width in the manifest and probes/appends read it back — estimate
    * error is one bin width, so a 100 TB build narrows the bins to its
    * error budget without recompiling. Deterministic cross-engine: IEEE
    * double division is correctly rounded in both engines, so
    * `floor(x / w)` can only disagree if a price sat within one ulp of
    * an exact multiple of w — money values are 2-decimal, so none can
    * for integral widths. */
  val HistWidth = 1000L

  private def histRows(li: DataFrame, binWidth: Long): DataFrame =
    li.select(col("l_returnflag").as("grp"),
        floor(col("l_extendedprice") / binWidth.toDouble).cast("long").as("bucket"))
      .groupBy("grp", "bucket").agg(count(lit(1)).as("cnt"))

  /** Unique row id for the manifest stamp (lineitem's natural key). */
  private def liIds(li: DataFrame): DataFrame =
    li.select(concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("rid"))

  /** The histogram as a [[StoredIndex]] family (fixed 4 buckets). */
  private def histIndex(binWidth: Long) = Family(
    _ => s"kind=hist,w=$binWidth", "rid", "", Seq(Part("", Seq("bucket"), 4)))

  /** The stored histogram's bin width, read back from its build
    * manifest — the artifact, not the binary, is the source of truth. */
  def histParams(spark: SparkSession, table: String): Long = {
    val p = graft.sources.Formats.metaParams(spark, table)
    require(p.get("kind").contains("hist"),
      s"'$table' is not a histogram family (manifest kind=${p.getOrElse("kind", "?")})")
    p("w").toLong
  }

  /** Build the stored per-group histogram: ≤ groups·bins counter rows +
    * the family's one-row build manifest recording the bin width. The
    * fact table contributes one map-side-combined counting pass; the
    * artifact is KB-scale. */
  def buildHistIndex(li: DataFrame, table: String,
      binWidth: Long = HistWidth): Unit =
    StoredIndex.build(histIndex(binWidth), table, liIds(li))(_ => histRows(li, binWidth))

  /** Ingest half: the batch's own counter rows appended as deltas (the
    * CMS/LM delta discipline — accumulated rows are neither read nor
    * rewritten); row-disjointness guarded by the manifest stamp. The
    * batch bins with the STORED width read from the manifest; a caller
    * that declares `expectWidth` and is wrong fails loudly BEFORE any
    * data row is written (rows binned at a different width silently
    * shift every quantile). */
  def appendToHistIndex(newLi: DataFrame, table: String,
      expectWidth: Option[Long] = None): Unit = {
    val w = histParams(newLi.sparkSession, table)
    require(expectWidth.forall(_ == w),
      s"append declared histogram bin width ${expectWidth.getOrElse(w)} but " +
        s"'$table' was built with w=$w — appending rows binned at a different " +
        "width would silently corrupt every quantile; rebuild or drop the declaration")
    StoredIndex.append(histIndex(w), table, liIds(newLi))(_ => histRows(newLi, w))
  }

  /** Collapse appended deltas to one row per `(grp, bucket)` — the
    * crash-safe bucketed ping-pong rewrite. */
  def compactHistIndex(spark: SparkSession, table: String): Unit =
    graft.sources.Formats.rewriteBucketed(spark, table)(
      _.groupBy("grp", "bucket").agg(sum("cnt").as("cnt")))

  /** Quantile probe from the stored histogram: per group and percentile
    * `pq`, the first bin whose cumulative count reaches
    * `ceil(pq% · N)` (exact integer arithmetic), reported with its upper
    * edge — the estimate is within one bin width of the exact quantile
    * by construction, and is a pure function of the counter relation, so
    * the oracle replays it exactly. All windows run over the
    * bins-per-group histogram (bounded ~105 rows/group), never the fact
    * table; no corpus access. `est_hi` converts bins back to values with
    * the STORED width from the manifest. */
  def histQuantiles(spark: SparkSession, table: String,
      pcts: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    val binWidth = histParams(spark, table)
    val folded = spark.table(table).groupBy("grp", "bucket").agg(sum("cnt").as("cnt"))
    val cum = folded
      .withColumn("cum", sum("cnt").over(Window.partitionBy("grp")
        .orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_total", sum("cnt").over(Window.partitionBy("grp")))
    cum.select(col("grp"), col("bucket"), col("cum"), col("n_total"),
        explode(array(pcts.map(p => lit(p.toLong)): _*)).as("pq"))
      .filter(col("cum") >= expr("(n_total * pq + 99) div 100"))
      .groupBy("grp", "pq")
      .agg(min("n_total").as("n_total"), min("bucket").as("bucket"))
      .select(col("grp"), col("pq"), col("n_total"), col("bucket"),
        ((col("bucket") + 1L) * binWidth).as("est_hi"))
      .orderBy("grp", "pq")
  }

  /** Navigation + ranking window sampler: lag/lead, dense_rank, ntile,
    * first value over an explicit ROWS frame — the window-function surface
    * beyond the aggregating windows already covered. */
  def windowNavigation(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val full = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byValue = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(s, dir)
      .select(
        col("user_id"), col("event_id"),
        lag(col("value"), 1).over(byUser).as("prev_value"),
        lead(col("value"), 1).over(byUser).as("next_value"),
        dense_rank().over(byValue).cast("long").as("value_rank"),
        ntile(4).over(byUser).cast("long").as("quartile"),
        first(col("value")).over(full).as("first_value"))
  }

  /** The SQL text entry surface: temp views + `spark.sql` with a
    * correlated scalar subquery — customers placing more orders than
    * their nation's per-customer average (integer counts, so the average
    * is an exact sum/count division, order-independent). */
  def sqlCorrelatedSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    s.sql(
      """WITH per_cust AS (
        |  SELECT c.c_custkey, c.c_nationkey, count(o.o_orderkey) AS n_orders
        |  FROM customer_v c LEFT JOIN orders_v o ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_custkey, c.c_nationkey)
        |SELECT p.c_custkey, p.n_orders
        |FROM per_cust p
        |WHERE p.n_orders > (
        |  SELECT avg(p2.n_orders) FROM per_cust p2
        |  WHERE p2.c_nationkey = p.c_nationkey)
        |ORDER BY p.c_custkey""".stripMargin)
  }

  /** Higher-order array-function sampler over tokenized text: lambda
    * filter/transform/aggregate, membership, indexing — the codegen'd
    * array surface (each has an exact DuckDB list-function mirror). */
  def hofSampler(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("ws", split(lower(col("text")), "\\s+"))
      .select(
        col("doc_id"),
        array_contains(col("ws"), "spark").as("has_spark"),
        expr("size(filter(ws, t -> length(t) > 4))").cast("long").as("n_long_tokens"),
        expr("aggregate(ws, 0L, (a, t) -> a + length(t))").as("total_len"),
        element_at(col("ws"), 1).as("first_tok"),
        expr("exists(ws, t -> t rlike '^[0-9]+$')").as("has_number"))

  /** Date arithmetic sampler: interval add, day difference, month end,
    * weekday — chosen for exact cross-engine semantics (Spark dayofweek is
    * 1-based Sunday; the oracle compensates). */
  def dateArithSampler(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("due_date"),
      datediff(lit("1998-12-31"), col("o_orderdate")).cast("long").as("days_to_eoy"),
      last_day(col("o_orderdate")).cast("timestamp").as("month_end"),
      dayofweek(col("o_orderdate")).cast("long").as("dow"))

  /** One masked key per character position: the string with position `i`
    * DELETED (the concat drops the character — under the
    * pos-equality join below this is equivalent to substituting a
    * sentinel, because joining on (pos, deleted-form) pairs exactly the
    * strings that agree everywhere EXCEPT position pos, and equal lengths
    * are implied by equal deleted-form lengths at the same pos; a future
    * relaxation that drops the pos constraint would inherit DELETION-
    * neighborhood semantics — indel matches — and must revisit this).
    * Two equal-length strings within ONE substitution share the masked
    * key at the substituted position (pigeonhole — dist-0 duplicates
    * share all of them), so the bucket members of a masked key are
    * EXACTLY its dist≤1 neighborhood: the candidate set is output-sized
    * by construction, with no df-tail. */
  private def maskedKeys(df: DataFrame, idCol: String, strCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(strCol).as("s"))
      .select(col("id"), col("s"), posexplode(expr(
        "transform(sequence(1, length(s)), i -> " +
          "concat(substring(s, 1, i - 1), '', substring(s, i + 1, length(s))))"))
        .as(Seq("pos", "k")))

  /** Gram length of [[fuzzyJoinPairs]]' prefix filter (`maxDist` ≥ 2). */
  val FuzzyGramN = 3

  /** FUZZY string self-join — the entity-resolution / data-cleaning
    * primitive (the same key re-entered with a typo, an id with one digit
    * off): all pairs within Levenshtein distance `maxDist`, WITHOUT the
    * all-pairs product.
    *
    * For `maxDist = 1` (the dominant ER case) candidate generation is the
    * POSITION-MASKED key join ([[maskedKeys]]): L keys per string, every
    * bucket is a true dist≤1 neighborhood, so candidates ≈ output and the
    * cost is LINEAR in matches at any corpus size. This matters on
    * low-entropy keys: the classic rarest-q-gram prefix filter degenerates
    * there — on zero-padded numeric ids the (maxDist·3+1)-th rarest gram
    * still has corpus-scale df (measured: 105 s at sf0.1 from one ~7500-df
    * gram bucket, vs ~1 s masked), because padding leaves only ~3
    * discriminating gram positions.
    *
    * For `maxDist ≥ 2` the masked scheme would need C(L, maxDist) masks,
    * so candidates fall back to the positional-q-gram prefix filter (each
    * string indexes its `maxDist·n+1` globally-rarest positional
    * [[FuzzyGramN]]-grams; by
    * the prefix-filter theorem two strings within `maxDist` substitutions
    * share a kept gram under any common total order), with the exact
    * `levenshtein` verify applied BEFORE the distinct so the dedup shuffle
    * carries matches, not candidates.
    *
    * Completeness contract (both paths): guaranteed for SUBSTITUTION edits
    * on equal-length strings (the id/code/phone cleaning case — and the
    * brute-force oracle would fail the gate loudly if the corpus grew an
    * indel-near pair); general insert/delete pairs shift positions and
    * need the cap-free gram join (the
    * [[graft.ops.Dedup.ngramJaccardPairs]] shape) instead. */
  def fuzzyJoinPairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1): DataFrame = {
    val cand =
      if (maxDist == 1) {
        // SHUFFLE_HASH hint: the masked-key side is
        // |corpus| × L rows — Catalyst sees only the pre-Generate scan
        // size and auto-broadcasts it (the sf0.1 plan collected 270k keys
        // into a BroadcastExchange). A corpus-scale masked-key table can
        // never broadcast; the hash-shuffle on (k, pos) is the plan that
        // survives 100 TB, and it measured faster locally too (4.15 s →
        // see OPTIMIZATION_r18.md).
        val mk = maskedKeys(df, idCol, strCol).hint("shuffle_hash")
        mk.as("x").join(mk.as("y"),
          col("x.k") === col("y.k") && col("x.pos") === col("y.pos") &&
            col("x.id") < col("y.id"))
      } else {
        val grams = positionalGrams(df, idCol, strCol, FuzzyGramN)
        val rarity = grams.groupBy("g", "pos").agg(count(lit(1)).as("gdf"))
        val wR = Window.partitionBy(col("id"))
          .orderBy(col("gdf"), col("g"), col("pos"))
        val prefix = grams.join(rarity, Seq("g", "pos"))
          .withColumn("r", row_number().over(wR))
          .filter(col("r") <= maxDist * FuzzyGramN + 1)
        prefix.as("x").join(prefix.as("y"),
          col("x.g") === col("y.g") && col("x.pos") === col("y.pos") &&
            col("x.id") < col("y.id"))
      }
    cand.select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        levenshtein(col("x.s"), col("y.s")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** ORDERED funnel analysis — the product-analytics staple: per user,
    * the earliest time each step was completed IN SEQUENCE (a click only
    * counts after the first view, a purchase only after that click — a
    * user who purchases before ever viewing has NOT converted through the
    * funnel). Each step is one aggregation + one equi-join, ALL keyed on
    * `user_id`: the first shuffle establishes the partitioning and every
    * later stage reuses it (no re-partitioning between steps), so the
    * whole funnel costs one effective corpus shuffle plus user-count-sized
    * joins. Strictly-after semantics (`ts > prev`) make the fold
    * deterministic even with duplicate timestamps. */
  def eventFunnel(s: SparkSession, dir: String,
      steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame =
    eventFunnelOf(Tables.events(s, dir), steps)

  def eventFunnelOf(events: DataFrame, steps: Seq[String]): DataFrame = {
    val ev = events.select("user_id", "event_type", "ts")
    val first = ev.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min("ts").as("t1"))
    val withAll = steps.tail.zipWithIndex.foldLeft(first) {
      case (acc, (step, i)) =>
        val (prev, cur) = (s"t${i + 1}", s"t${i + 2}")
        val next = ev.filter(col("event_type") === step)
          .join(acc.select("user_id", prev), "user_id")
          .filter(col("ts") > col(prev))
          .groupBy("user_id").agg(min("ts").as(cur))
        acc.join(next.select("user_id", cur), Seq("user_id"), "left")
    }
    val stepsDone = (2 to steps.size).foldLeft(lit(1L)) { (e, i) =>
      e + col(s"t$i").isNotNull.cast("long")
    }
    withAll.withColumn("steps_done", stepsDone).orderBy("user_id")
  }

  /** Retention cohort matrix — users grouped by FIRST-SEEN day, activity
    * bucketed by 7-day offsets from each user's own cohort start (pure
    * integer day arithmetic, not calendar weeks — engine-portable and
    * skew-free). Two aggregations + one join, all on `user_id` then the
    * (cohort, offset) pair; the distinct-user count per cell is the
    * retention number a dashboard plots. */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame =
    retentionCohortsOf(Tables.events(s, dir))

  def retentionCohortsOf(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), col("ts").cast("date").as("day"))
    val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.join(cohort, "user_id")
      .select(col("cohort_day"),
        floor(datediff(col("day"), col("cohort_day")) / 7).as("week_offset"),
        col("user_id"))
      .groupBy("cohort_day", "week_offset")
      .agg(countDistinct("user_id").as("n_active"))
      .orderBy("cohort_day", "week_offset")
  }

  /** Declarative data-quality EXPECTATIONS (the dbt-test / Great-
    * Expectations shape): one report row per contract check with its
    * exact violation count — the table a pipeline gates a publish on.
    * Cost discipline: all row-local checks (not-null, accepted-values,
    * range) ride ONE conditional-aggregation scan (map-side combinable,
    * no shuffle beyond the 1-row agg); uniqueness is the key-shuffle it
    * must be (count vs distinct); referential integrity is a LEFT ANTI
    * join against the (broadcastable) dimension — orphan count, not a
    * row-by-row assert. Adding a row-local check costs zero extra scans.
    */
  def expectationReport(s: SparkSession, dir: String): DataFrame =
    expectationReportOf(Tables.orders(s, dir), Tables.customer(s, dir))

  def expectationReportOf(o: DataFrame, customer: DataFrame): DataFrame = {
    val rowLocal = o.agg(
      count(lit(1)).as("n"),
      sum(col("o_custkey").isNull.cast("long")).as("v_null_cust"),
      sum((col("o_totalprice") <= 0).cast("long")).as("v_price_range"),
      sum((!col("o_orderstatus").isin("O", "F", "P")).cast("long")).as("v_status_domain"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_dup_key"))
    val orphans = o.join(customer,
        o("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v_orphan_fk"))
    val wide = rowLocal.crossJoin(broadcast(orphans)) // BNLJ of one row
    val checks = Seq("not_null_o_custkey" -> "v_null_cust",
      "range_o_totalprice_positive" -> "v_price_range",
      "accepted_values_o_orderstatus" -> "v_status_domain",
      "unique_o_orderkey" -> "v_dup_key",
      "fk_orders_customer" -> "v_orphan_fk")
    checks.map { case (name, vcol) =>
      wide.select(lit(name).as("check_name"), col("n").as("n_rows"),
        col(vcol).as("n_violations"),
        (col(vcol) === 0).cast("int").as("passed"))
    }.reduce(_ unionAll _).orderBy("check_name")
  }

  private def positionalGrams(df: DataFrame, idCol: String, strCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("id"), col(strCol).as("s"))
      .select(col("id"), col("s"), posexplode(expr(
        s"transform(sequence(1, greatest(length(s) - ${n - 1}, 1)), " +
          s"i -> substring(s, i, $n))")).as(Seq("pos", "g")))

  /** Persisted half of [[fuzzyJoinPairs]] — the entity-resolution SERVING
    * shape: the master key table is indexed ONCE as its position-masked
    * keys ([[maskedKeys]], the maxDist=1 scheme), bucketed on the key,
    * and every incoming batch probes it without re-indexing the corpus.
    * The masked scheme keeps NO global model (no gram-rarity state —
    * every key is a pure per-string projection), so an append is
    * STRUCTURALLY identical to a one-shot build: same rows, just more of
    * them. Bucket membership is a true dist≤1 neighborhood, so the probe
    * join is output-sized at any corpus size — the property the gate's
    * brute-force oracle certifies. */
  def buildFuzzyIndex(df: DataFrame, idCol: String, strCol: String,
      table: String): Unit =
    StoredIndex.build(fuzzyIndex, table, df.select(col(idCol).as("id")))(
      _ => maskedKeys(df, idCol, strCol))

  /** The fuzzy index as a [[StoredIndex]] family: masked keys bucketed on
    * the key, ids stored as `id`, a variable number of key rows per id. */
  private val fuzzyIndex = Family(
    n => s"kind=fuzzy_masked,maxdist=1,buckets=$n", "id", "",
    Seq(Part("", Seq("k"), Buckets)), rowsPerId = None)

  /** Ingest half: the batch's masked keys appended — the stored rows are
    * neither read nor rewritten, and (no global model) the result is
    * row-identical to a one-shot build of the union. */
  def appendToFuzzyIndex(newDf: DataFrame, idCol: String, strCol: String,
      table: String): Unit =
    StoredIndex.append(fuzzyIndex, table, newDf.select(col(idCol).as("id")))(
      _ => maskedKeys(newDf, idCol, strCol))

  /** FORGET half of the fuzzy-index lifecycle (the family-wide
    * delete-propagation contract — every stored index answers a
    * takedown): drop the deleted master ids' masked-key rows through the
    * same crash-safe ping-pong rewrite every purge rides, and fold their
    * stamp OUT of the manifest (xor is self-inverse; only ids actually
    * present fold, so over-broad requests are safe no-ops). No model
    * tables exist in this family, so purge == rebuild-from-filtered
    * exactly, row for row. */
  def purgeFromFuzzyIndex(spark: SparkSession, table: String,
      deleteIds: DataFrame): Unit =
    StoredIndex.purge(spark, fuzzyIndex, table, deleteIds)

  /** Probe: all (probe, master) pairs within distance 1 — the batch's
    * masked keys join the stored index bucket-locally, exact
    * `levenshtein` verifies, the distinct dedups the ≤L shared masks of
    * each matched pair. Same completeness contract as
    * [[fuzzyJoinPairs]] (substitution edits on equal-length keys),
    * proven against the cross-set brute-force oracle. */
  def fuzzyJoinIndexed(spark: SparkSession, probe: DataFrame, idCol: String,
      strCol: String, table: String): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    val mk = maskedKeys(probe, idCol, strCol)
    mk.as("x").join(spark.table(table).as("y"),
        col("x.k") === col("y.k") && col("x.pos") === col("y.pos"))
      .select(col("x.id").as("id_probe"), col("y.id").as("id_master"),
        levenshtein(col("x.s"), col("y.s")).cast("long").as("dist"))
      .filter(col("dist") <= 1)
      .distinct()
  }

  /** Profile DRIFT between two table generations — what a nightly
    * publish compares before promoting: the per-column profile of the
    * previous snapshot full-outer-joined with the candidate's, so
    * column ADDITIONS/REMOVALS surface as unmatched rows (`status`) and
    * value drift as side-by-side stats (null counts, distinct counts,
    * min/max). The gate's generations: orders before 1997 as "prev"
    * (profiled without `o_orderpriority`), the full table as "next"
    * (without `o_custkey`) — one column added, one removed, every
    * shared column drifting. Cost: two [[schemaProfileOf]] passes
    * (per-column one-row aggregates) + a columns-count-sized join. */
  def schemaDrift(s: SparkSession, dir: String): DataFrame = {
    val shared = Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    val t = Tables.orders(s, dir).withColumn("o_totalprice",
      col("o_totalprice").cast("decimal(18,2)"))
    val prev = schemaProfileOf(
      t.filter(col("o_orderdate") < lit("1997-01-01")), shared :+ "o_custkey")
    val next = schemaProfileOf(t, shared :+ "o_orderpriority")
    prev.as("p").join(next.as("n"), Seq("col_name"), "full_outer")
      .select(col("col_name"),
        when(col("p.n_rows").isNull, "added")
          .when(col("n.n_rows").isNull, "removed")
          .otherwise("kept").as("status"),
        col("p.n_rows").as("rows_prev"), col("n.n_rows").as("rows_next"),
        col("p.n_nulls").as("nulls_prev"), col("n.n_nulls").as("nulls_next"),
        col("p.n_distinct").as("distinct_prev"), col("n.n_distinct").as("distinct_next"),
        col("p.min_val").as("min_prev"), col("n.min_val").as("min_next"),
        col("p.max_val").as("max_prev"), col("n.max_val").as("max_next"),
        when(col("p.n_rows").isNull || col("n.n_rows").isNull, lit(null))
          .otherwise((col("p.min_val") =!= col("n.min_val")) ||
            (col("p.max_val") =!= col("n.max_val")) ||
            (col("p.n_distinct") =!= col("n.n_distinct")))
          .cast("int").as("value_drift"))
      .orderBy("col_name")
  }

  // ---- incremental profile: column statistics as a MERGEABLE stored
  // artifact (what parquet footers are to one file, this is to a table
  // that grows by batches) ----

  /** Profiled column split for the orders-table gate: numerics fold
    * through a common DECIMAL(18,2) (exact, and its VARCHAR rendering is
    * the proven-parity one); strings/timestamps fold as strings (ISO
    * timestamp text is fixed-width, so lexicographic == chronological). */
  private val profNumCols = Seq("o_orderkey", "o_custkey", "o_totalprice")
  private val profStrCols = Seq("o_orderstatus", "o_orderdate", "o_orderpriority")

  /** log2 of the stored profile's HLL register count. */
  val ProfileLgK = 12

  private def profileBatchRows(t: DataFrame): DataFrame = {
    val num = profNumCols.map { c =>
      t.agg(count(lit(1)).as("n"), count(col(c)).as("nn"),
        min(col(c).cast("decimal(18,2)")).as("min_num"),
        max(col(c).cast("decimal(18,2)")).as("max_num"),
        expr(s"hll_sketch_agg(CAST(`$c` AS STRING), $ProfileLgK)").as("sketch"))
        .select(lit(c).as("col_name"), col("n"),
          (col("n") - col("nn")).as("n_nulls"), col("min_num"), col("max_num"),
          lit(null).cast("string").as("min_str"),
          lit(null).cast("string").as("max_str"), col("sketch"))
    }
    val str = profStrCols.map { c =>
      t.agg(count(lit(1)).as("n"), count(col(c)).as("nn"),
        min(col(c).cast("string")).as("min_str"),
        max(col(c).cast("string")).as("max_str"),
        expr(s"hll_sketch_agg(CAST(`$c` AS STRING), $ProfileLgK)").as("sketch"))
        .select(lit(c).as("col_name"), col("n"),
          (col("n") - col("nn")).as("n_nulls"),
          lit(null).cast("decimal(18,2)").as("min_num"),
          lit(null).cast("decimal(18,2)").as("max_num"),
          col("min_str"), col("max_str"), col("sketch"))
    }
    (num ++ str).reduce(_ unionAll _)
  }

  /** Build the stored profile: one row per column per batch — counts and
    * null counts fold by SUM, min/max by MIN/MAX, distinct by HLL union
    * (every statistic chosen to be MERGEABLE, which is the entire design:
    * profiling a 100 TB table that grows daily must scan only the new
    * batch and fold, never re-profile the accumulated corpus). */
  def buildProfileIndex(t: DataFrame, table: String): Unit =
    StoredIndex.build(profileIndex, table, t)(_ => profileBatchRows(t))

  /** Ingest half: the batch's own profile rows appended as deltas. */
  def appendToProfileIndex(newT: DataFrame, table: String): Unit =
    StoredIndex.append(profileIndex, table, newT)(_ => profileBatchRows(newT))

  /** The profile as a [[StoredIndex]] family (fixed 4 buckets). */
  private val profileIndex = Family(
    _ => s"kind=profile,lgk=$ProfileLgK", "o_orderkey", "", Seq(Part("", Seq("col_name"), 4)))

  /** Probe: the full-table profile folded from the stored batch rows —
    * columns-count-sized work, no corpus access. `exactFor` is scanned
    * only to oracle-check the HLL estimate (the sketch-gate discipline);
    * a deployment reads the fold alone. */
  def profileFromIndex(spark: SparkSession, table: String,
      exactFor: DataFrame): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    val folded = spark.table(table).groupBy("col_name")
      .agg(sum("n").as("n_rows"), sum("n_nulls").as("n_nulls"),
        min("min_num").as("min_num"), max("max_num").as("max_num"),
        min("min_str").as("min_str"), max("max_str").as("max_str"),
        expr("hll_sketch_estimate(hll_union_agg(sketch, false))").as("n_est"))
    val exact = (profNumCols ++ profStrCols).map { c =>
      exactFor.agg(countDistinct(col(c).cast("string")).as("n_exact"))
        .select(lit(c).as("col_name"), col("n_exact"))
    }.reduce(_ unionAll _)
    folded.join(exact, Seq("col_name"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        coalesce(col("min_num").cast("string"), col("min_str")).as("min_val"),
        coalesce(col("max_num").cast("string"), col("max_str")).as("max_val"),
        (abs(col("n_est") - col("n_exact")).cast("double") <=
          greatest(lit(16.0), lit(0.05) * col("n_exact")))
          .cast("int").as("ok"))
      .orderBy("col_name")
  }

  /** Per-node TRIANGLE COUNTS over the co-purchase graph — the graph-
    * analytics staple (clustering-coefficient numerator, community
    * signal). The scalable discipline is DEGREE-ORDERED ORIENTATION:
    * direct every edge from its lower-(degree, id) endpoint to the
    * higher, which makes the orientation acyclic and bounds every
    * node's OUT-degree by O(√m) on any graph — so the wedge join
    * (out-neighbor pairs per node) is per-node-bounded where the naive
    * adjacency self-join explodes on hubs. Each triangle then has
    * exactly one source vertex and is found exactly once: wedge
    * (a→b, a→c) with b before c in the order, closed by the oriented
    * edge b→c. The per-node counts are orientation-INDEPENDENT, which
    * is what the naive-formulation oracle checks. The graph is
    * [[coPurchasePairs]]'. */
  def triangleCounts(s: SparkSession, dir: String): DataFrame =
    triangleCountsOf(coPurchasePairs(s, dir)
      .select(col("part_a").as("u"), col("part_b").as("v")))

  def triangleCountsOf(edges: DataFrame): DataFrame = {
    // Materialize the edge list ONCE: `edges` is
    // referenced by the degree aggregation and by every leg of the wedge
    // join, and the oriented list `dirE` three times more — left as a
    // plan, the (expensive) edge-mining subtree was planned and executed
    // per reference (the agg_triangle_counts physical plan repeated the
    // whole co-purchase pipeline 4x, 261 operators). localCheckpoint cuts
    // the lineage: mine once, join the small materialized list. This is
    // also the 100 TB shape — triangle counting always materializes the
    // oriented edge list before the wedge join.
    // eager = false: materialize at first action, not at
    // DataFrame construction, so explain-only paths stay free.
    val edgesM = edges.localCheckpoint(eager = false)
    val deg = edgesM.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy("x").agg(count(lit(1)).as("d"))
    val withDeg = edgesM
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
    val dirE = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("src"), col("v").as("dst"), col("dv").as("dd")))
        .otherwise(struct(col("v").as("src"), col("u").as("dst"), col("du").as("dd")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd"))
      .localCheckpoint(eager = false)
    val tri = dirE.as("x")
      .join(dirE.as("y"), col("x.src") === col("y.src") &&
        (struct(col("x.dd"), col("x.dst")) < struct(col("y.dd"), col("y.dst"))))
      .join(dirE.as("z"), col("z.src") === col("x.dst") &&
        col("z.dst") === col("y.dst"))
      .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("n_triangles"))
  }

  /** Rolling 7-day ACTIVE USERS (the WAU curve) — exact sliding-window
    * COUNT DISTINCT, which no window frame can express (distinct doesn't
    * decompose over frames). The scalable exact form: dedup activity to
    * (user, day), then each activity day CONTRIBUTES to the 7 report days
    * it covers (a bounded `sequence` explode — ×7, a constant), then one
    * distinct-count per report day. At 100 TB that is two key shuffles
    * with a constant-factor blowup — vs the naive per-day self-join of
    * the whole activity table. Report days are clamped to the observed
    * range so the curve has no leading ramp beyond the data. */
  def rollingActiveUsers(s: SparkSession, dir: String): DataFrame =
    rollingActiveUsersOf(Tables.events(s, dir))

  def rollingActiveUsersOf(events: DataFrame): DataFrame = {
    val act = events.select(col("user_id"), col("ts").cast("date").as("day")).distinct()
    val bounds = act.agg(min("day").as("lo"), max("day").as("hi"))
    act.crossJoin(broadcast(bounds)) // one-row bounds: BNLJ attach
      .select(col("user_id"), explode(expr(
        "sequence(greatest(day, lo), least(date_add(day, 6), hi))")).as("report_day"))
      .groupBy("report_day")
      .agg(countDistinct("user_id").as("n_active_7d"))
      .orderBy("report_day")
  }

  /** WINSORIZED robust statistics per group — the outlier-immune mean a
    * metrics pipeline reports when a single fat-finger price would drag
    * the plain average: clamp every value into its group's [P10, P90]
    * order statistics, then aggregate. EXACT at scale with no per-group
    * sort ([[graft.ops.Curation.qualityFloor]]'s selection-by-histogram
    * discipline): prices become integer CENTS through DECIMAL(18,2) (a
    * double `*100` would round — 36485.12·100 is not an integer in
    * binary), ONE aggregation to the (group, cents) histogram, the k-th
    * smallest = first key whose cumulative count reaches k (a window
    * over the histogram, value-granularity-sized), and the winsorized
    * sum folds from the histogram itself as Σ count·clamp(key, lo, hi)
    * — all integers; the mean is one exact-int division. */
  def winsorizedPriceStats(s: SparkSession, dir: String): DataFrame =
    winsorizedStatsOf(Tables.lineitem(s, dir).select(
      col("l_returnflag").as("flag"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents")))

  def winsorizedStatsOf(px: DataFrame): DataFrame = {
    // histogram materialized once: it feeds the bounds window AND
    // the winsorized fold — as a plan, the corpus scan + two-level agg
    // executed twice per call
    val hist = px.groupBy("flag", "cents").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val wCum = Window.partitionBy("flag").orderBy("cents")
    val wG = Window.partitionBy("flag")
    val cum = hist
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wG))
    val bounds = cum
      .withColumn("k10", ceil(col("n") * 0.1).cast("long"))
      .withColumn("k90", ceil(col("n") * 0.9).cast("long"))
      .groupBy("flag")
      .agg(min(when(col("cum") >= col("k10"), col("cents"))).as("lo_cents"),
        min(when(col("cum") >= col("k90"), col("cents"))).as("hi_cents"),
        first(col("n")).as("n"))
    hist.join(broadcast(bounds), Seq("flag"))
      .groupBy("flag")
      .agg(first("n").as("n_rows"), first("lo_cents").as("lo_cents"),
        first("hi_cents").as("hi_cents"),
        sum(col("c") * greatest(col("lo_cents"),
          least(col("hi_cents"), col("cents")))).as("win_sum_cents"))
      .select(col("flag"), col("n_rows"), col("lo_cents"), col("hi_cents"),
        col("win_sum_cents"),
        (col("win_sum_cents").cast("double") / col("n_rows")).as("win_mean_cents"))
      .orderBy("flag")
  }

  /** PARETO / ABC analysis — "which parts carry 80% of revenue": rank
    * parts by exact revenue (integer cents through DECIMAL — the
    * winsorize discipline), cumulative share by window, and the 80%
    * verdict cross-multiplied to integers (`5·cum ≤ 4·total` — no float
    * shares). The sort runs over the AGGREGATED parts table (one row per
    * part), never the lineitems — the scale contract of every ranking
    * report here. Ties break on the part key, so the A-set is a pure
    * function of the data. */
  def paretoParts(s: SparkSession, dir: String, topN: Int = 100): DataFrame =
    paretoOf(Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("decimal(18,0)")).cast("long").as("rev_cents")), topN)

  /** The ranking half of [[paretoParts]] over `(partkey, rev_cents)` with
    * a unique `partkey`. Only the top `topN` parts are ranked: the limit
    * plans as a per-partition top-k (`TakeOrderedAndProject`), so the
    * single-partition window sees `topN` rows, never every part. The key
    * is unique, so the frame has no ties and each running sum over the
    * top rows equals the global prefix sum. The total comes from a
    * one-row aggregate joined by broadcast. */
  def paretoOf(rev: DataFrame, topN: Int): DataFrame = {
    val order = Seq(col("rev_cents").desc, col("partkey"))
    val wOrd = Window.orderBy(order: _*)
    rev.orderBy(order: _*).limit(topN)
      .withColumn("rnk", row_number().over(wOrd).cast("long"))
      .withColumn("cum_cents", sum("rev_cents").over(wOrd))
      .crossJoin(broadcast(rev.agg(sum("rev_cents").as("total_cents"))))
      .select(col("rnk"), col("partkey"), col("rev_cents"), col("cum_cents"),
        (lit(5L) * col("cum_cents") <= lit(4L) * col("total_cents"))
          .cast("int").as("in_pareto_80"))
      .orderBy("rnk")
  }

  /** Event-type TRANSITION counts — the Markov structure of user
    * behavior ("what follows a view?"): consecutive event pairs per
    * user in time order, counted corpus-wide. One window `lead` per
    * user (per-key, bounded histories) + one pair aggregation;
    * same-timestamp ties break on event_id so the chain is
    * deterministic. */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** Two-proportion A/B significance — the experiment readout: split
    * users into arms by id parity, conversion = the user ever purchased,
    * and test |z| > 2 on the pooled two-proportion statistic with the
    * whole inequality CROSS-MULTIPLIED to integers (the anomaly/
    * repetition discipline — no float p's, no sqrt):
    * `z² > 4  ⇔  (c₀n₁ − c₁n₀)²·n > 4·n₀·n₁·c·(n−c)`. Longs are exact
    * here (counts ≤ ~10⁶ keep every product under 2⁶³); a
    * billion-user deployment promotes the five products to
    * DECIMAL(38,0), same expression. Shape: one per-user aggregation,
    * one two-row arm fold, a one-row join. */
  def abTestReport(s: SparkSession, dir: String): DataFrame =
    abTestReportOf(Tables.events(s, dir))

  def abTestReportOf(events: DataFrame): DataFrame = {
    val perUser = events.groupBy("user_id")
      .agg(max((col("event_type") === "purchase").cast("long")).as("conv"))
      .withColumn("arm", col("user_id") % 2)
    val arms = perUser.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("conv").as("c"))
    val a0 = arms.filter(col("arm") === 0)
      .select(col("n").as("n_control"), col("c").as("conv_control"))
    val a1 = arms.filter(col("arm") === 1)
      .select(col("n").as("n_treat"), col("c").as("conv_treat"))
    val j = a0.crossJoin(broadcast(a1)) // 1 row x 1 row
    val diff = col("conv_control") * col("n_treat") -
      col("conv_treat") * col("n_control")
    val n = col("n_control") + col("n_treat")
    val c = col("conv_control") + col("conv_treat")
    j.select(col("n_control"), col("conv_control"),
        col("n_treat"), col("conv_treat"),
        (diff * diff * n >
          lit(4L) * col("n_control") * col("n_treat") * c * (n - c))
          .cast("int").as("significant"),
        signum(diff).cast("int").as("control_minus_treat_sign"))
  }

  /** Daily (event_type, day, x) counts — the metric rollup both anomaly
    * forms consume. */
  def dailyCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("x"))

  /** TRAIN half of the anomaly monitor: persist per-type baseline moments
    * (n days, Σx, Σx²) from historical daily counts — three integers per
    * type, the entire model. They are ADDITIVE over day-disjoint batches
    * (each batch must own whole days: a day split across batches would
    * count as two), so [[appendToAnomalyBaseline]] folds new history
    * without reading the old — and the probe never rescans the corpus.
    * This is [[eventAnomalyDays]]'s deployment form: that gate scores
    * days against their own population; production scores TODAY against
    * the STORED baseline. */
  def buildAnomalyBaseline(events: DataFrame, table: String): Unit =
    StoredIndex.build(anomalyBaseline, table, events)(_ => baselineMoments(events))

  /** Ingest half: a day-disjoint batch's moment deltas appended. */
  def appendToAnomalyBaseline(newEvents: DataFrame, table: String): Unit =
    StoredIndex.append(anomalyBaseline, table, newEvents)(_ => baselineMoments(newEvents))

  /** The baseline as a [[StoredIndex]] family (fixed 4 buckets). */
  private val anomalyBaseline = Family(
    _ => "kind=anomaly_baseline", "event_id", "", Seq(Part("", Seq("event_type"), 4)))

  /** Per-type (n days, Σx, Σx²) of `events`' daily counts. */
  private def baselineMoments(events: DataFrame): DataFrame =
    dailyCounts(events).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("s"), sum(col("x") * col("x")).as("q"))

  /** The 3σ verdict of `x` against folded baseline moments — exact
    * integer cross-multiplication ([[eventAnomalyDays]]'s discipline). */
  private def spikeFlag(n: Column, s: Column, q: Column, x: Column): Column =
    (n * x - s > 0 &&
      (n * x - s) * (n * x - s) > lit(9L) * (n * q - s * s)).cast("int")

  /** Serve half: flag incoming (event_type, day, x) rollups against the
    * STORED baseline. The probe folds the per-batch moment deltas
    * (types-count-sized) and broadcast-joins them onto the rollups — a
    * row-local verdict with no corpus access, which is also why the
    * STREAMING twin ([[graft.streaming.StreamOps.streamAnomalyFlagged]])
    * is a stateless stream-static join with unconditional parity. */
  def anomalyFlagIndexed(spark: SparkSession, table: String,
      probeCounts: DataFrame): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    val base = spark.table(table).groupBy("event_type")
      .agg(sum("n").as("n"), sum("s").as("s"), sum("q").as("q"))
    probeCounts.join(broadcast(base), Seq("event_type"))
      .select(col("event_type"), col("day"), col("x").as("n_events"),
        spikeFlag(col("n"), col("s"), col("q"), col("x")).as("is_spike"))
      .orderBy("event_type", "day")
  }

  /** Common orders a co-purchased pair needs. */
  val MinOrders = 2

  /** Market-basket CO-PURCHASE mining — the "bought together" pair table:
    * part pairs appearing in at least [[MinOrders]] common orders. The
    * self-join is ORDER-LOCAL (equi-join on `l_orderkey`, `<` on the part
    * to emit each unordered pair once), so the blow-up is bounded by
    * (items per order)² per order — a basket-bounded shape that scales
    * with order count, never parts² — and the distinct() first makes a
    * part counted once per order however many lineitems repeat it. One
    * shuffle on the order key, one on the pair key. */
  def coPurchasePairs(s: SparkSession, dir: String): DataFrame =
    coPurchasePairsOf(
      Tables.lineitem(s, dir).select("l_orderkey", "l_partkey"), MinOrders)

  def coPurchasePairsOf(lineitems: DataFrame, minOrders: Int): DataFrame = {
    // Basket form: ONE aggregation to per-order distinct part sets
    // (collect_set partial-aggregates map-side), then the i<j pairs
    // explode order-locally — the distinct + self-join form shuffled the
    // corpus twice more (the distinct's (order, part) exchange could not
    // be reused by the order-keyed join). Same pair multiset by
    // construction: collect_set == the distinct, the double explode with
    // `<` == the join condition, per-basket blow-up identically bounded
    // by (items per order)².
    val baskets = lineitems.select("l_orderkey", "l_partkey")
      .groupBy("l_orderkey").agg(collect_set(col("l_partkey")).as("parts"))
    baskets
      .select(explode(col("parts")).as("part_a"), col("parts"))
      .select(col("part_a"), explode(col("parts")).as("part_b"))
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= minOrders)
  }

  /** Volume-anomaly detection over the event stream's daily counts — the
    * monitoring op a pipeline runs on its OWN ingest: per event type,
    * flag days whose count sits >3σ from that type's mean. The z-test is
    * EXACT INTEGER arithmetic by cross-multiplication — with S=Σx, Q=Σx²
    * over a type's n days, `x > μ + 3σ  ⇔  n·x − S > 0 ∧ (n·x − S)² >
    * 9·(n·Q − S²)` — so the verdict is engine-portable with no float σ
    * anywhere (the repetition/drift gates' discipline). Shape: one
    * corpus aggregation to (type, day) counts, one tiny per-type window
    * over the day rows for S/Q/n. Counts are bigint; the squares stay
    * within int64 for daily counts < ~3·10⁹·√days. */
  def eventAnomalyDays(s: SparkSession, dir: String): DataFrame =
    eventAnomalyDaysOf(Tables.events(s, dir))

  def eventAnomalyDaysOf(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("x"))
    val wT = Window.partitionBy("event_type")
    daily
      .withColumn("n", count(lit(1)).over(wT))
      .withColumn("s", sum("x").over(wT))
      .withColumn("q", sum(col("x") * col("x")).over(wT))
      .select(col("event_type"), col("day"), col("x").as("n_events"),
        (col("n") * col("x") - col("s") > 0 &&
          (col("n") * col("x") - col("s")) * (col("n") * col("x") - col("s")) >
            lit(9L) * (col("n") * col("q") - col("s") * col("s")))
          .cast("int").as("is_spike"))
      .orderBy("event_type", "day")
  }

  /** Temporal aggregation: orders per month. */
  def ordersPerMonth(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(money)).cast("double").as("revenue"))
      .orderBy(col("y"), col("m"))
}
