package graft.relational

import graft.Tables
import graft.functions.{BitmapDistinct, TopKAggregate}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** B-series: the relational/analytic core (SURVEY.md §2 B1–B14).
  *
  * Design rules for 100 TB (SURVEY.md §4):
  *  - money math in DECIMAL (exact, engine-independent — the oracle compares
  *    hashes, and double sums are partition-order dependent);
  *  - dims joined via `broadcast(...)`; fact⋈fact left to AQE shuffle join;
  *  - every scan projects/filters immediately so parquet pushdown fires
  *    (asserted in PlanSpec);
  *  - top-k via orderBy+limit which Spark plans as TakeOrderedAndProject
  *    (no global sort materialization).
  */
object Relational {

  private[relational] def dec(c: Column, p: Int, s: Int): Column = c.cast(DecimalType(p, s))

  /** 2-decimal money column → exact cent longs (see q1Agg scaladoc). */
  private[relational] def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact integer total in 10^-unit-exponent units → the same double the
    * oracle's CAST(decimal_sum AS DOUBLE) produces. DuckDB's decimal→
    * double cast is TWO-step: unscaled int → double (one rounding), then
    * a double division by 10^scale (second rounding). Spark's decimal
    * division + cast is ONE correctly-rounded conversion — the two paths
    * agree exactly while the integer total stays below 2^53 and can
    * differ by 1 ulp beyond it (first seen at the r12 sf1 sweep: q1's
    * 10⁻⁶-unit charge total reached 3.8e16 and sum_charge split in the
    * 16th digit). So mirror DuckDB's order of operations: cast the exact
    * integer to double first, then divide by the (exactly-representable)
    * power of ten in double arithmetic — identical below 2^53, identical
    * BY CONSTRUCTION above it.
    */
  private[relational] def unitsToDbl(c: Column, unit: Int): Column =
    c.cast(DecimalType(38, 0)).cast("double") / unit.toDouble

  /** Per-row revenue ep·(1−disc) in exact 10^-4 units. */
  private[relational] def revUnits(): Column =
    cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))

  /** Overflow-proof merge of partition-local long partial sums: the inputs
    * are one row per (group, partition), so this decimal(38,0) sum runs
    * over tiny pre-aggregated data — the long hot path never crosses a
    * partition boundary. See q1Agg scaladoc for the bound.
    */
  private[relational] def sumD38(c: Column): Column = sum(c.cast(DecimalType(38, 0)))

  /** B1+B2: scan+filter+project with pushdown, multi-aggregate groupBy
    * (TPC-H Q1 shape). Partial aggregation is map-side automatically.
    *
    * Money math runs in fixed-point longs: the 2-decimal inputs become
    * cents, products are exact integers (charge in 10^-6 units), and the
    * hot sum is sum(LONG) — a decimal(21,6) sum would exceed Spark's
    * compact-long decimal threshold and accumulate through BigDecimal on
    * every row. The exact integer totals convert to decimal, then double,
    * once per output group, so the result is bit-identical to the decimal
    * formulation (and the DuckDB oracle).
    *
    * Overflow bound, ENFORCED (r5): the long sums accumulate per
    * (group, input partition) — the first aggregate also keys on
    * `spark_partition_id()`, so a long accumulator sees at most one
    * partition's rows (≤ ~4e6 at 128 MB `maxPartitionBytes`, vs the
    * ~4e7-max-value-row wrap point for the 10^-6-unit charge). The
    * cross-partition merge — #groups × #partitions tiny rows — sums
    * decimal(38,0), which cannot overflow (38 digits ≥ 19-digit partials
    * × any realistic partition count). Unbounded group size now costs a
    * slightly wider shuffle of pre-aggregated rows, never silent wrap.
    */
  def q1Agg(s: SparkSession, d: String): DataFrame = {
    val qtyC  = cents(col("l_quantity"))
    val epC   = cents(col("l_extendedprice"))
    val discC = cents(col("l_discount"))
    val taxC  = cents(col("l_tax"))
    def toDbl(c: Column, unit: Int): Column = unitsToDbl(c, unit)
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") < lit("2000-01-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"), spark_partition_id().as("pid"))
      .agg(
        sum(qtyC).as("psq"),
        sum(epC).as("pse"),
        sum(epC * (lit(100L) - discC)).as("psd"),
        sum(epC * (lit(100L) - discC) * (lit(100L) + taxC)).as("psc"),
        count(lit(1)).as("pn"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumD38(col("psq")).as("sq"),
        sumD38(col("pse")).as("se"),
        sumD38(col("psd")).as("sd"),
        sumD38(col("psc")).as("sc"),
        sum(col("pn")).as("n"))
      .select(col("l_returnflag"), col("l_linestatus"),
        toDbl(col("sq"), 100).as("sum_qty"),
        toDbl(col("se"), 100).as("sum_base_price"),
        toDbl(col("sd"), 10000).as("sum_disc_price"),
        toDbl(col("sc"), 1000000).as("sum_charge"),
        (toDbl(col("sq"), 100) / col("n")).as("avg_qty"),
        (toDbl(col("se"), 100) / col("n")).as("avg_price"),
        col("n").as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** B3+B5: broadcast dim join + top-K via TakeOrderedAndProject (Q3 shape). */
  def q3TopK(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1999-01-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1999-01-01"))
      .select(col("l_orderkey"), revUnits().as("rev_u"))
    // customer SCALES with the dataset — no broadcast hint; AQE broadcasts
    // at runtime when the filtered side is actually small.
    // The top-k ORDER runs on the exact long units (same total order as the
    // oracle's decimal), and only the 10 surviving rows convert to double.
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(col("rev_u")).as("rev_su"))
      .orderBy(col("rev_su").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("order_date"),
        unitsToDbl(col("rev_su"), 10000).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
  }

  /** B3+B4: multi-way join — dims broadcast, lineitem⋈orders shuffled (Q5 shape).
    * Nation-level revenue groups are UNBOUNDED (a nation's lineitems grow
    * with the dataset — ~2.4e10 rows/nation at 100 TB vs the ~9.2e9-row
    * long wrap point for 10^-4-unit revenue), so the sum uses the same
    * partition-local-long → decimal(38,0)-merge scheme as q1Agg.
    */
  def q5Join(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA").select("r_regionkey")
    val n = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
      revUnits().as("rev_u"))
    // nation/region are BOUNDED dims (25/5 rows at any SF) — hint them;
    // customer/supplier scale with the data — AQE sizes those joins at runtime
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"), spark_partition_id().as("pid"))
      .agg(sum(col("rev_u")).as("prev_su"))
      .groupBy(col("n_name"))
      .agg(sumD38(col("prev_su")).as("rev_su"))
      .orderBy(col("rev_su").desc, col("n_name"))
      .select(col("n_name"), unitsToDbl(col("rev_su"), 10000).as("revenue"))
  }

  /** B6: window functions — per-month supplier revenue rank + prior-month
    * lag. Groups on an integer month key (y*100+m) and renders the
    * "yyyy-MM" string only on the aggregated rows — per-row date_format
    * over the fact table was ~10% of the whole query; the int key also
    * hashes/shuffles cheaper than a string.
    */
  def qWindow(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.lineitem(s, d)
      .select(col("l_suppkey"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("mk"),
        revUnits().as("rev_u"))
      .groupBy("l_suppkey", "mk")
      .agg(sum("rev_u").as("rev_su"))
    // ranks and lags run on the exact long units (same total order as the
    // oracle's decimal); doubles appear only in the projected output
    val byMonth = Window.partitionBy("mk").orderBy(col("rev_su").desc, col("l_suppkey"))
    val bySupp  = Window.partitionBy("l_suppkey").orderBy("mk")
    monthly
      .withColumn("rnk", row_number().over(byMonth))
      .withColumn("prev_su", lag("rev_su", 1).over(bySupp))
      .filter(col("rnk") <= 5)
      .select(
        format_string("%04d-%02d", (col("mk") / 100).cast("int"), pmod(col("mk"), lit(100))).as("month"),
        col("l_suppkey"), unitsToDbl(col("rev_su"), 10000).as("revenue"),
        col("rnk"), unitsToDbl(col("prev_su"), 10000).as("prev_rev"))
      .orderBy("month", "rnk")
  }

  /** B7: ROLLUP with grouping id. */
  def qRollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"), dec(col("l_quantity"), 8, 2).as("qty"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum("qty").as("sum_qty"), count(lit(1)).as("n"), grouping_id().cast("int").as("gid"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("n"), col("gid"))
      .orderBy("gid", "flag", "status")

  /** B7b: CUBE — all 2^k grouping combinations (vs ROLLUP's hierarchy).
    * The fact table is FIRST reduced to exact detail groups — long sums
    * per (flag, status, partition), decimal(38,0) merge like q1Agg — and
    * the Expand-based cube runs over those few dozen rows. Two wins at
    * scale: the Expand no longer multiplies the full scan ×2^k, and the
    * global (ALL, ALL) cell — the worst unbounded group — accumulates in
    * decimal, never wrapping a long.
    */
  def qCube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"), cents(col("l_quantity")).as("qty_c"))
      .groupBy(col("l_returnflag"), col("l_linestatus"), spark_partition_id().as("pid"))
      .agg(sum("qty_c").as("pqty"), count(lit(1)).as("pn"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sumD38(col("pqty")).as("sum_c"), sum("pn").as("n"), grouping_id().cast("int").as("gid"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        unitsToDbl(col("sum_c"), 100).as("sum_qty"), col("n"), col("gid"))
      .orderBy("gid", "flag", "status")

  /** B8: semi + anti join — customers with / without orders per segment.
    * Both sides of the EXISTS come out of ONE semi-join pass: a separate
    * left_semi + left_anti would scan and shuffle orders twice.
    */
  def qSemiJoin(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
    val okeys = Tables.orders(s, d).select(col("o_custkey")).distinct()
    cust.join(okeys, cust("c_custkey") === okeys("o_custkey"), "left_outer")
      .groupBy("c_mktsegment")
      .agg(count(col("o_custkey")).as("n_with"),
        (count(lit(1)) - count(col("o_custkey"))).as("n_without"))
      .orderBy("c_mktsegment")
  }

  /** B9: set operations (INTERSECT / EXCEPT) with a tag column. */
  def qSetOps(s: SparkSession, d: String): DataFrame = {
    val building = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
    val heavy = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 15)
      .select(col("o_custkey").as("k"))
    val both = building.intersect(heavy).select(lit("both").as("tag"), col("k"))
    val only = building.except(heavy).select(lit("building_only").as("tag"), col("k"))
    both.unionByName(only).orderBy("tag", "k")
  }

  /** B10: exact distinct aggregation. */
  def qDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_partkey", "l_suppkey")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** B11: approximate distinct (HLL++ sketch) — sketch-dependent, rows-only oracle. */
  def qApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_orderkey", "l_partkey")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"),
        approx_count_distinct(col("l_partkey")).as("approx_parts"))
      .orderBy("l_returnflag")

  /** B11b: KMV (k-minimum-values / theta-sketch bottom-k) distinct
    * estimate — the DETERMINISTIC, fully oracle-checkable counterpart to
    * B11's HLL: the sketch state is just the k smallest distinct fnv64
    * hashes, which DuckDB replays exactly as `ORDER BY hash LIMIT k`, so
    * rows+schema+hash all gate (B11 stays the built-in engine-specific
    * variant). Estimate = (k−1)·2⁶³ DIV h_k (h_k = k-th smallest hash in
    * the [0, 2⁶³) space of `fnv64mix` — FNV finalized by a golden-ratio
    * multiply, because raw FNV top bits are non-uniform on short keys and
    * overestimated by 41% here; KmvSpec pins accuracy), exact-integer on
    * both engines; groups with <k distinct values report exact counts.
    *
    * Scale shape: the `dense_rank ≤ k` filter is recognized by Spark's
    * WindowGroupLimit rule, which inserts a MAP-SIDE partial group-limit
    * before the exchange — each task ships only its k smallest hashes per
    * group, i.e. Catalyst plans the classic distributed KMV merge
    * (partial sketch per partition, merge of k-bounded states) from the
    * declarative form. PlanSpec pins the WindowGroupLimit(Partial) node.
    */
  def qKmvDistinct(s: SparkSession, d: String): DataFrame =
    kmvOn(Tables.lineitem(s, d)
      .select(col("l_returnflag").as("g"),
        graft.ops.TextKernels.fnv64mix(col("l_partkey").cast("string")).as("uh")))
      .select(col("g").as("l_returnflag"), col("k_actual"), col("kth_hash"),
        col("est_distinct"))
      .orderBy("l_returnflag")

  /** The KMV estimator over any `(g, uh)` relation, uh uniform in
    * [0, 2⁶³). KmvSpec checks the estimate's accuracy against known
    * distinct counts (k=256 → σ ≈ 1/√(k−2) ≈ 6.3%).
    */
  def kmvOn(hashed: DataFrame, k: Int = 256): DataFrame =
    hashed
      .withColumn("rk", dense_rank().over(Window.partitionBy("g").orderBy("uh")))
      .filter(col("rk") <= k)
      .groupBy("g")
      .agg(countDistinct("uh").as("k_actual"), max("uh").as("kth_hash"))
      .select(col("g"), col("k_actual"), col("kth_hash"),
        expr(s"""CAST(CASE WHEN k_actual < $k THEN k_actual
          ELSE CAST(${k - 1} AS DECIMAL(38,0)) *
            CAST('9223372036854775808' AS DECIMAL(38,0)) DIV kth_hash
          END AS BIGINT)""").as("est_distinct"))

  /** B11c `q_kmv_setops`: sketch SET ALGEBRA — the reason KMV/theta
    * sketches exist at warehouse scale: distinct-count of a UNION or
    * INTERSECTION across slices without ever co-shuffling the slices'
    * raw keys (Theta-sketch algebra à la the DataSketches line). Each
    * side keeps its k smallest `fnv64mix` hashes (B11b's mergeable
    * bounded state, map-side WindowGroupLimit); then
    *   union:        k smallest of the merged sample sets, same
    *                 (k−1)·2⁶³ DIV h_k estimator;
    *   intersection: common samples at-or-below θ_min = least of the two
    *                 k-th hashes, est = m·2⁶³ DIV θ_min (both sides
    *                 exact → exact m).
    * All integer arithmetic, so the oracle hash-matches bit-for-bit.
    * The ≤2k-row sample relation is localCheckpointed: four consumers
    * (two side stats, union top-k, intersection) read 512 cached rows
    * instead of re-running the scan+distinct+window per branch — the
    * same tiny-relation staging precedent as dedup_minhash. KmvSpec
    * bounds both estimators' error against true distinct counts.
    */
  def qKmvSetops(s: SparkSession, d: String): DataFrame = {
    val k = 256
    val sk = Tables.lineitem(s, d)
      .filter(col("l_returnflag").isin("A", "R"))
      .select(col("l_returnflag").as("g"),
        graft.ops.TextKernels.fnv64mix(col("l_partkey").cast("string")).as("uh"))
      .distinct()
      .withColumn("rk", dense_rank().over(Window.partitionBy("g").orderBy("uh")))
      .filter(col("rk") <= k)
      .select("g", "uh")
      .localCheckpoint()
    val a = sk.filter(col("g") === "A").select(col("uh").as("ua"))
    val r = sk.filter(col("g") === "R").select(col("uh").as("ur"))
    val statsA = a.agg(count(lit(1)).as("n_a"), max("ua").as("theta_a"))
    val statsR = r.agg(count(lit(1)).as("n_r"), max("ur").as("theta_r"))
    val statsU = sk.select("uh").distinct().orderBy("uh").limit(k)
      .agg(count(lit(1)).as("n_u"), max("uh").as("theta_u"))
    val inter = a.join(r, col("ua") === col("ur"))
      .crossJoin(broadcast(statsA)).crossJoin(broadcast(statsR))
      .filter(col("ua") <= least(col("theta_a"), col("theta_r")))
      .agg(count(lit(1)).as("n_i"))
    def estSide(n: String, theta: String) = expr(
      s"""CAST(CASE WHEN $n < $k THEN $n
        ELSE CAST(${k - 1} AS DECIMAL(38,0)) *
          CAST('9223372036854775808' AS DECIMAL(38,0)) DIV $theta
        END AS BIGINT)""")
    statsA.crossJoin(statsR).crossJoin(statsU).crossJoin(inter)
      .select(
        estSide("n_a", "theta_a").as("est_a"),
        estSide("n_r", "theta_r").as("est_r"),
        estSide("n_u", "theta_u").as("est_union"),
        expr(s"""CAST(CASE WHEN n_a < $k AND n_r < $k THEN n_i
          ELSE CAST(n_i AS DECIMAL(38,0)) *
            CAST('9223372036854775808' AS DECIMAL(38,0))
            DIV least(theta_a, theta_r)
          END AS BIGINT)""").as("est_inter"),
        col("n_i").cast("long").as("n_common_samples"))
  }

  val kmvSetopsOracleSql: String = """
    WITH f0 AS (SELECT l_returnflag AS g,
        list_reduce(
          list_prepend(14695981039346656037::HUGEINT,
            [CAST(ord(ps[i]) AS HUGEINT) for i in range(1, len(ps)+1)]),
          (h, c) -> ((h - h % 128 + CAST(xor(CAST(h % 128 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
                     * 1099511628211) % 18446744073709551616::HUGEINT
        ) AS fv
      FROM (SELECT l_returnflag, CAST(l_partkey AS VARCHAR) AS ps
            FROM lineitem WHERE l_returnflag IN ('A', 'R')) t),
    f AS (SELECT DISTINCT g,
        CAST((((fv // 4294967296) * 11400714819323198485::HUGEINT
                % 18446744073709551616::HUGEINT * 4294967296
              + (fv % 4294967296) * 11400714819323198485::HUGEINT)
             % 18446744073709551616::HUGEINT) // 2 AS BIGINT) AS uh
      FROM f0),
    sk AS (SELECT g, uh FROM (
        SELECT g, uh, row_number() OVER (PARTITION BY g ORDER BY uh) AS rk FROM f) t
      WHERE rk <= 256),
    a AS (SELECT uh FROM sk WHERE g = 'A'),
    r AS (SELECT uh FROM sk WHERE g = 'R'),
    sa AS (SELECT CAST(count(*) AS BIGINT) AS n_a, max(uh) AS theta_a FROM a),
    sr AS (SELECT CAST(count(*) AS BIGINT) AS n_r, max(uh) AS theta_r FROM r),
    u AS (SELECT uh FROM (SELECT DISTINCT uh FROM sk) ORDER BY uh LIMIT 256),
    su AS (SELECT CAST(count(*) AS BIGINT) AS n_u, max(uh) AS theta_u FROM u),
    i AS (SELECT CAST(count(*) AS BIGINT) AS n_i
      FROM a JOIN r ON a.uh = r.uh, sa, sr
      WHERE a.uh <= least(theta_a, theta_r))
    SELECT
      CAST(CASE WHEN n_a < 256 THEN n_a
        ELSE 255 * 9223372036854775808::HUGEINT // theta_a END AS BIGINT) AS est_a,
      CAST(CASE WHEN n_r < 256 THEN n_r
        ELSE 255 * 9223372036854775808::HUGEINT // theta_r END AS BIGINT) AS est_r,
      CAST(CASE WHEN n_u < 256 THEN n_u
        ELSE 255 * 9223372036854775808::HUGEINT // theta_u END AS BIGINT) AS est_union,
      CAST(CASE WHEN n_a < 256 AND n_r < 256 THEN n_i
        ELSE CAST(n_i AS HUGEINT) * 9223372036854775808::HUGEINT
          // least(theta_a, theta_r) END AS BIGINT) AS est_inter,
      n_i AS n_common_samples
    FROM sa, sr, su, i"""

  /** B12: per-group average filter (correlated scalar subquery semantics),
    * expressed with an exact cross-multiplied decimal compare so engines agree,
    * and a broadcast of the (tiny) per-brand aggregate instead of a
    * re-evaluated correlated subquery.
    */
  def qSubquery(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), dec(col("p_retailprice"), 9, 2).as("pr"))
    val stats = p.groupBy("p_brand")
      .agg(sum("pr").as("sp"), count(lit(1)).as("np"))
    p.join(broadcast(stats), Seq("p_brand"))
      .filter(col("pr") * col("np") > col("sp"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_above"))
      .orderBy("p_brand")
  }

  /** B13: as-of join — each event matched to the latest order of the same
    * customer at-or-before the event timestamp.
    *
    * Scalable union-sort formulation: tag+union both inputs, one shuffle on
    * the key, a running `last(..., ignoreNulls)` window carries the most
    * recent order forward — never a per-event probe join, never an
    * event×order blow-up (the oracle uses the naive join+QUALIFY form).
    */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    // SQL join semantics: a null-key/date order can never match any event,
    // and MUST be dropped here — the window's PARTITION BY groups nulls,
    // so an unfiltered null-key order would flow into null-key events'
    // partition and "match" them (which the oracle's equi-join never
    // does). Null-key/ts EVENTS need no special handling: their partition
    // then holds no order rows (and nulls-first t ordering puts a null-ts
    // event before any order), so the running last is null — the correct
    // null-extended output. AsofSpec pins this against the native exec.
    val o = Tables.orders(s, d)
      .filter(col("o_custkey").isNotNull && col("o_orderdate").isNotNull)
      .select(
        col("o_custkey").as("k"), col("o_orderdate").as("t"),
        col("o_orderkey"), dec(col("o_totalprice"), 12, 2).as("o_total"),
        lit(null).cast("long").as("event_id"))
    val e = Tables.events(s, d).select(
      col("user_id").as("k"), col("ts").as("t"),
      lit(null).cast("long").as("o_orderkey"),
      lit(null).cast("decimal(12,2)").as("o_total"),
      col("event_id"))
    // Order rows sort before event rows at identical (k,t); among orders the
    // larger o_orderkey wins the tie (matches oracle DESC,DESC row_number=1).
    val w = Window.partitionBy("k")
      .orderBy(col("t"), col("o_orderkey").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.unionByName(e)
      .withColumn("matched_order", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("matched_total", last(col("o_total"), ignoreNulls = true).over(w))
      .filter(col("event_id").isNotNull)
      .select(col("event_id"), col("k").as("user_id"),
        date_format(col("t"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("matched_order"), col("matched_total"))
      .orderBy("event_id")
  }

  /** B13b: the same as-of semantics through the NATIVE plan node
    * ([[graft.plans.AsOfJoinNode]] → AsOfJoinExec, injected by
    * GraftExtensions) — one merge scan per co-partition instead of the
    * composed union-sort + running-last window. Same oracle as B13;
    * PlanSpec asserts AsOfJoinExec actually plans.
    *
    * Children follow the node's positional contract: col0 = key (long),
    * col1 = time (epoch micros, dates promoted via UTC timestamp), right
    * col2 = o_orderkey as the deterministic tiebreak (largest wins —
    * identical to B13's window tie rule).
    */
  def asofJoinNative(s: SparkSession, d: String): DataFrame =
    asofJoinNativeOn(s,
      Tables.events(s, d).select(
        col("user_id").as("k"), unix_micros(col("ts")).as("t"),
        col("event_id"), col("ts")),
      Tables.orders(s, d).select(
        col("o_custkey").as("rk"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("rt"),
        col("o_orderkey"), dec(col("o_totalprice"), 12, 2).as("o_total")))

  /** B13b over caller-provided keyed relations — `e` must expose
    * (k, t, event_id, ts), `o` (rk, rt, o_orderkey, o_total). When both
    * arrive bucketed on their keys, EnsureRequirements plans NO exchange
    * (the union-window form always reshuffles — the union discards any
    * child partitioning), which is the operator's structural win.
    */
  def asofJoinNativeOn(s: SparkSession, e: DataFrame, o: DataFrame): DataFrame = {
    val el = e.queryExecution.analyzed
    val ol = o.queryExecution.analyzed
    def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).get
    org.apache.spark.sql.GraftBridge.ofRows(s,
        graft.plans.AsOfJoinNode(el, ol,
          a(el, "k"), a(el, "t"), a(ol, "rk"), a(ol, "rt"),
          Some(a(ol, "o_orderkey"))))
      .select(col("event_id"), col("k").as("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("o_orderkey").as("matched_order"), col("o_total").as("matched_total"))
      .orderBy("event_id")
  }

  /** B16: exact distinct via RoaringBitmap aggregate (one pass, no Expand
    * shuffle — see graft.functions.BitmapDistinct). Oracle-exact against
    * count(DISTINCT ...).
    */
  def qBitmapDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_partkey", "l_suppkey")
      .groupBy("l_returnflag")
      .agg(BitmapDistinct.column(col("l_partkey")).as("bm_parts"),
        BitmapDistinct.column(col("l_suppkey")).as("bm_supps"))
      .orderBy("l_returnflag")

  /** B17: exact percentiles (linear interpolation — same definition as
    * DuckDB quantile_cont; the p90 over doubles is rounded to absorb the
    * engines' interpolation-order ULPs).
    */
  def qPercentile(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_quantity", "l_extendedprice")
      .groupBy("l_returnflag")
      .agg(percentile(col("l_quantity"), lit(0.25)).as("qty_p25"),
        percentile(col("l_quantity"), lit(0.5)).as("qty_p50"),
        percentile(col("l_quantity"), lit(0.75)).as("qty_p75"),
        round(percentile(col("l_extendedprice"), lit(0.9)), 4).as("price_p90"))
      .orderBy("l_returnflag")

  /** B18: semi-structured extraction — JSON path into events.props,
    * then a grouped rollup of the extracted value.
    */
  def qJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"), col("user_id"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        sum(col("k")).as("sum_k"))
      .orderBy("k_bucket")

  /** B21: argmin-per-group join (TPC-H Q2 shape): cheapest supplier per
    * part — aggregate to (part, supp) cost, then a rank-1 window picks
    * the winner with an exact decimal compare and a suppkey tie-break.
    */
  def qMinCost(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_partkey").orderBy(col("cost"), col("l_suppkey"))
    Tables.lineitem(s, d)
      .filter(col("l_partkey") < 100)
      .select(col("l_partkey"), col("l_suppkey"), dec(col("l_extendedprice"), 9, 2).as("ep"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(col("ep")).as("cost"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("l_partkey"), col("l_suppkey").as("best_supp"), col("cost").as("min_cost"))
      .orderBy("l_partkey")
  }

  /** B22: outer-join histogram (TPC-H Q13 shape): customers bucketed by
    * how many orders they have, including the zero-order bucket.
    */
  def qCustDist(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select("c_custkey")
    val o = Tables.orders(s, d).select("o_custkey", "o_orderkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** B20: pivot / cross-tab — event-type counts per user bucket. The
    * pivot values are pinned so the output schema is static (at scale an
    * unpinned pivot triggers a distinct-values pre-query).
    */
  def qPivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select((col("user_id") % 10).as("user_bucket"), col("event_type"))
      .groupBy("user_bucket")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("user_bucket")

  /** B14: range (band) join — small band table broadcast, so the non-equi
    * condition is a broadcast nested-loop, not a shuffled cartesian.
    */
  def rangeJoin(s: SparkSession, d: String): DataFrame = {
    val sq = s; import sq.implicits._
    val bands = Seq(("tiny", 1, 10), ("small", 11, 20), ("medium", 21, 35), ("large", 36, 50))
      .toDF("band", "lo", "hi")
    Tables.part(s, d)
      .select(col("p_size"), dec(col("p_retailprice"), 9, 2).as("pr"))
      .join(broadcast(bands), col("p_size").between(col("lo"), col("hi")))
      .groupBy("band")
      .agg(count(lit(1)).as("n_parts"), sum("pr").as("sum_retail"))
      .orderBy("band")
  }

  /** B14b `range_join_banded`: the fact-fact regime of the range join —
    * neither side broadcastable, so B14's BroadcastNestedLoopJoin form is
    * off the table and a naive non-equi join would plan the one shape the
    * fleet guard bans (a shuffled cartesian). The banded technique (the
    * D16 interval-bucketing idea applied to a numeric band): pick the
    * bucket width EQUAL to the band width, so every left interval
    * [x, x+W] spans at most TWO buckets — explode the left to those two,
    * map each right point to its one bucket, and the range join becomes a
    * plain shuffled EQUI-join on the bucket key plus a residual BETWEEN
    * filter. No row is double-counted (a point lies in exactly one
    * bucket) and the wire carries ≤ 2·|left| + |right| rows whatever the
    * data size — at 100 TB this is two fact shuffles on a dense integer
    * key, AQE-balanceable, with no broadcast anywhere. Money stays in
    * exact cents; the oracle states the plain range join.
    */
  val bandCents = 50000L // 500 currency units

  def rangeJoinBanded(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), (round(col("value") * 100)).cast("long").as("v_c"))
    val ord = Tables.orders(s, d)
      .select((round(col("o_totalprice") * 100)).cast("long").as("o_c"))
    val e = ev.withColumn("lo", col("v_c") * 1000)
      .withColumn("bucket", explode(array(
        expr(s"lo DIV $bandCents"), expr(s"lo DIV $bandCents") + 1)))
    val o = ord.withColumn("bucket", expr(s"o_c DIV $bandCents"))
    e.join(o, Seq("bucket"))
      .filter(col("o_c") >= col("lo") && col("o_c") <= col("lo") + bandCents)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"), sum(col("o_c")).as("sum_total_cents"))
      .orderBy("event_type")
  }

  val rangeJoinBandedOracleSql: String = """
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_pairs,
      CAST(sum(o.o_c) AS BIGINT) AS sum_total_cents
    FROM (SELECT event_type, CAST(round(value*100) AS BIGINT) AS v_c FROM events) e
    JOIN (SELECT CAST(round(o_totalprice*100) AS BIGINT) AS o_c FROM orders) o
      ON o.o_c BETWEEN e.v_c*1000 AND e.v_c*1000 + 50000
    GROUP BY e.event_type ORDER BY e.event_type"""

  /** B23: multi-correlated EXISTS / NOT EXISTS with aggregates (TPC-H Q21
    * shape) — suppliers who kept orders waiting: the supplier had returned
    * ('R') lineitems on a finished multi-supplier order where NO other
    * supplier had returns. The classic formulation scans lineitem three
    * times (l1, the EXISTS l2, the NOT-EXISTS l3); here ONE scan reduces
    * to (orderkey, suppkey, n_late_rows), a window over the already-tiny
    * per-order groups derives both correlated predicates at once
    * (n_supps > 1 ⇔ EXISTS other-supplier row; n_late_supps = 1 plus "my
    * rows are late" ⇔ NOT EXISTS other-late-supplier), and orders/supplier
    * join the survivors — no repeated fact scans, no correlated re-probe.
    */
  def qWaiting(s: SparkSession, d: String): DataFrame = {
    val perOS = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_returnflag") === "R").cast("long").as("late"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum("late").as("n_late_rows"))
    val wo = Window.partitionBy("l_orderkey")
    val soleLate = perOS
      .withColumn("n_supps", count(lit(1)).over(wo))
      .withColumn("n_late_supps", sum((col("n_late_rows") > 0).cast("int")).over(wo))
      .filter(col("n_late_rows") > 0 && col("n_supps") > 1 && col("n_late_supps") === 1)
    val f = Tables.orders(s, d).filter(col("o_orderstatus") === "F").select("o_orderkey")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_name")
    // both joins are over aggregated survivors; AQE broadcasts the small side
    soleLate.join(f, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(sum("n_late_rows").as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** B26: RANGE-frame sliding aggregate — trailing 7-day event count and
    * value total per user, evaluated AT each event. Semantically distinct
    * from q_window's ROW frames: the frame is bounded by the ORDER-BY
    * VALUE (event-time seconds), so gaps shrink the window and ties
    * (peer rows) are included on both engines by the RANGE contract.
    *
    * Exactness: the order key is epoch seconds (integer; the µs→s floor
    * matches DuckDB's epoch()), the summed measure is cent-quantized
    * longs, and the one shuffle is the per-user window partition — state
    * at 100 TB is bounded by a single user's 7-day event history.
    */
  def qMoving(s: SparkSession, d: String): DataFrame = {
    val win = Window.partitionBy("user_id").orderBy("es")
      .rangeBetween(-7L * 86400, 0)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts) DIV 1000000").as("es"),
        round(col("value") * 100).cast("long").as("vu"))
      .withColumn("trail_cnt", count(lit(1)).over(win))
      .withColumn("trail_sum", sum("vu").over(win))
      .select(col("event_id"), col("user_id"), col("es"),
        col("trail_cnt"), unitsToDbl(col("trail_sum"), 100).as("trail_value"))
      .orderBy("event_id")
  }

  val movingOracleSql: String = """
    WITH q AS (
      SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es,
             CAST(round(value * 100) AS BIGINT) AS vu
      FROM events)
    SELECT event_id, user_id, es,
      CAST(count(*) OVER w AS BIGINT) AS trail_cnt,
      CAST(CAST(sum(vu) OVER w AS HUGEINT) AS DOUBLE) / 100 AS trail_value
    FROM q
    WINDOW w AS (PARTITION BY user_id ORDER BY es
                 RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
    ORDER BY event_id"""

  /** B24: time-series gap fill + last-observation-carried-forward — the
    * dense-grid resample every monitoring/feature-engineering consumer
    * needs over an event stream (sparse per-day activity → one row per
    * (user, day) with zero-filled counts and LOCF'd last peak).
    *
    * Shape: the dense axis is generated, never stored — `sequence(min,
    * max)` over the (tiny, broadcast) global day span crossed with the
    * distinct users, left-joined to the per-(user, day) aggregate, then
    * ONE ordered window per user carries the last non-null observation
    * forward. At 100 TB the grid is |users|×|days| — orders of magnitude
    * smaller than the event table it summarizes — and the only full-data
    * shuffle is the initial groupBy(user, day) partial aggregate.
    *
    * `peak` is max(double) — order-independent, so LOCF output stays
    * hash-exact (the repo rule: no order-dependent float aggregation).
    */
  /** B25: exact statistical outlier detection — flag events whose value
    * deviates > 3σ from their event-type mean. The σ compare runs WITHOUT
    * sqrt or float aggregation, so the output is hash-exact:
    *
    *   |v − mean| > 3σ  ⇔  (n·v − s)² > 9·(n·ss − s²)
    *
    * over cent-quantized values (v → vu = round(100·v), exact longs), with
    * s = Σvu, ss = Σvu² per type. Both sides of the inequality are
    * decimal(38,0) — exact to n·max(vu) < 10¹⁹, i.e. ~3·10¹⁴ rows per type
    * at this value range (beyond: shard the group like q1Agg).
    *
    * The moment sums follow the q1Agg overflow discipline: long partials
    * per (type, input partition) — vu² ≤ ~10⁹ stays far from long wrap
    * within one 128 MB partition — then a decimal(38,0) merge over the
    * tiny per-partition rows. One scan, one tiny broadcast back.
    */
  def qOutliers(s: SparkSession, d: String): DataFrame = {
    val q = Tables.events(s, d).select(col("event_id"), col("event_type"),
      col("value"), round(col("value") * 100).cast("long").as("vu"))
    val st = q.groupBy(col("event_type"), spark_partition_id().as("p"))
      .agg(count(lit(1)).as("n_p"), sum("vu").as("s_p"), sum(expr("vu * vu")).as("ss_p"),
        max(abs(col("vu"))).as("m_p"))
      .groupBy("event_type")
      .agg(sumD38(col("n_p")).as("n"), sumD38(col("s_p")).as("s"), sumD38(col("ss_p")).as("ss"),
        max("m_p").as("maxabs"))
    // past the documented bound the decimal(38,0) square would overflow to
    // NULL under non-ANSI mode and silently UNFLAG true outliers — guard
    // with assert_true so overflow surfaces as an error instead:
    // |n·vu − s| ≤ 2·n·maxabs must stay below 10¹⁹ for the square to fit
    q.join(broadcast(st), "event_type")
      .filter(expr(
        "assert_true(2 * n * maxabs < CAST(9000000000000000000 AS DECIMAL(38,0)), " +
          "'qOutliers: (n*vu-s)^2 would overflow decimal(38,0) — shard the group (q1Agg discipline)') IS NULL " +
          "AND (n * vu - s) * (n * vu - s) > 9 * (n * ss - s * s)"))
      .select("event_id", "event_type", "value")
      .orderBy("event_id")
  }

  val outliersOracleSql: String = """
    WITH q AS (
      SELECT event_id, event_type, value, CAST(round(value * 100) AS BIGINT) AS vu
      FROM events),
    st AS (
      SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(vu) AS HUGEINT) AS s, CAST(sum(vu * vu) AS HUGEINT) AS ss
      FROM q GROUP BY event_type)
    SELECT event_id, event_type, value
    FROM q JOIN st USING (event_type)
    WHERE (n * vu - s) * (n * vu - s) > 9 * (n * ss - s * s)
    ORDER BY event_id"""

  /** B29: equi-width histogram — the distribution-shape primitive next to
    * B17's quantiles: 10 fixed-width buckets over exact cents, bounds
    * from one tiny min/max agg broadcast back into the stream. One scan +
    * one 10-group partial agg; bucket = (v−lo)·10 DIV (hi−lo+1), integer
    * throughout, so edges are engine-exact (the max value lands in
    * bucket 9 by construction, never an 11th bucket).
    */
  def qHistogram(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(round(col("l_extendedprice") * 100).cast("long").as("vu"))
    val mm = li.agg(min("vu").as("lo"), max("vu").as("hi"))
    li.crossJoin(broadcast(mm))
      .select(expr("(vu - lo) * 10 DIV (hi - lo + 1)").as("bucket"), col("lo"), col("hi"))
      .groupBy("bucket", "lo", "hi")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  val histogramOracleSql: String = """
    WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS vu FROM lineitem),
    mm AS (SELECT min(vu) AS lo, max(vu) AS hi FROM v)
    SELECT (vu - lo) * 10 // (hi - lo + 1) AS bucket, lo, hi,
      CAST(count(*) AS BIGINT) AS n
    FROM v, mm GROUP BY 1, 2, 3 ORDER BY bucket"""

  /** B27: ordered funnel progression — view → click → purchase, each
    * stage's timestamp strictly after the previous stage's. One pass
    * over user-sorted events: three stacked running-min window layers
    * (s2's predicate reads s1, s3's reads s2 — each a window expression
    * over the SAME user partition/sort, so the whole funnel is ONE
    * shuffle + one sort, never a per-stage self-join), then a per-user
    * max over the per-row stage. The canonical product-analytics query
    * at the canonical scale shape.
    */
  def qFunnel(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("s1", min(when(col("event_type") === "view", col("ts"))).over(byUser))
      .withColumn("s2",
        min(when(col("event_type") === "click" && col("ts") > col("s1"), col("ts"))).over(byUser))
      .withColumn("s3",
        min(when(col("event_type") === "purchase" && col("ts") > col("s2"), col("ts"))).over(byUser))
      .groupBy("user_id")
      .agg(max(when(col("s3").isNotNull, 3L)
        .when(col("s2").isNotNull, 2L)
        .when(col("s1").isNotNull, 1L)
        .otherwise(0L)).as("stage"))
      .orderBy("user_id")
  }

  val funnelOracleSql: String = """
    WITH w1 AS (SELECT user_id, event_id, ts, event_type,
        min(CASE WHEN event_type = 'view' THEN ts END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1
      FROM events),
    w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > s1 THEN ts END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2
      FROM w1),
    w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > s2 THEN ts END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s3
      FROM w2)
    SELECT user_id, CAST(max(CASE WHEN s3 IS NOT NULL THEN 3
                                  WHEN s2 IS NOT NULL THEN 2
                                  WHEN s1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage
    FROM w3 GROUP BY user_id ORDER BY user_id"""

  /** B28: retention cohorts — users grouped by first-activity day, counted
    * as distinct actives per whole-week offset. Day-based offsets (DIV 7
    * from the cohort day) rather than week truncation, so no engine
    * week-origin convention can disagree. Shape: one user agg for the
    * cohort day (|users| rows — broadcastable), join back, one
    * (cohort, offset) distinct-count.
    */
  def qCohort(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), to_date(col("ts")).as("day"))
    val first = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.join(broadcast(first), "user_id")
      .select(col("user_id"), col("cohort_day"),
        expr("datediff(day, cohort_day) DIV 7").cast("long").as("week_offset"))
      .groupBy("cohort_day", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day_s"),
        col("week_offset"), col("n_users"))
      .orderBy("cohort_day_s", "week_offset")
  }

  val cohortOracleSql: String = """
    WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
    f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day_s,
      CAST(date_diff('day', cohort_day, day) // 7 AS BIGINT) AS week_offset,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM ev JOIN f USING (user_id)
    GROUP BY cohort_day, week_offset
    ORDER BY cohort_day_s, week_offset"""

  def qGapfill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
    val daily = ev.groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_events"), max("value").as("peak"))
    val days = ev.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val grid = ev.select("user_id").distinct().crossJoin(broadcast(days))
    val locf = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("peak_locf", last("peak", ignoreNulls = true).over(locf))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("peak"), col("peak_locf"))
      .orderBy("user_id", "day")
  }

  /** B31 `q_volume` (TPC-H Q7 shape): bilateral shipping volume between
    * two nations by ship year. The join tree is the q5 discipline at one
    * more fact hop: lineitem drives, orders/customer/supplier hash-join
    * (AQE-sized), the 25-row nation dim broadcasts TWICE (supplier side
    * and customer side — the (A,B)/(B,A) disjunction lands on the tiny
    * broadcast join output, never as a cartesian), and revenue follows
    * the exact fixed-point rule: long 10⁻⁴ units per partition, one
    * decimal(38,0) merge per (group, partition).
    */
  def qVolume(s: SparkSession, d: String): DataFrame = {
    val (na, nb) = ("NATION_10", "NATION_12")
    val n1 = Tables.nation(s, d).select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
      .filter(col("supp_nation").isin(na, nb))
    val n2 = Tables.nation(s, d).select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
      .filter(col("cust_nation").isin(na, nb))
    val l = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"), revUnits().as("rev_u"))
    l.join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
        (col("supp_nation") === nb && col("cust_nation") === na))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"),
        spark_partition_id().as("pid"))
      .agg(sum(col("rev_u")).as("pvol_su"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(sumD38(col("pvol_su")).as("vol_su"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        unitsToDbl(col("vol_su"), 10000).as("volume"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val volumeOracleSql: String = """
    SELECT supp_nation, cust_nation, l_year, CAST(sum(vol) AS DOUBLE) AS volume FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS BIGINT) AS l_year,
        CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS vol
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        AND ((n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12')
          OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10'))) t
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year"""

  /** B32 `q_marketshare` (TPC-H Q8 shape): one nation's share of PROMO-
    * part revenue into ASIA customers, by order year. Share is a ratio
    * of two exact sums — emitted as (total, national, share_x1000) with
    * the division done integer-exact on the decimal(38,0) unit totals,
    * so the oracle hashes bit-identically (a double division would not).
    * The conditional numerator is a CASE inside the same aggregation —
    * one pass, not two queries joined.
    */
  def qMarketshare(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA").select("r_regionkey")
    val nCust = Tables.nation(s, d).select(col("n_nationkey").as("ck"), col("n_regionkey"))
    val nSupp = Tables.nation(s, d).select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val p = Tables.part(s, d).filter(col("p_type") === "PROMO").select("p_partkey")
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), revUnits().as("rev_u"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nCust), col("c_nationkey") === col("ck"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nSupp), col("s_nationkey") === col("sk"))
      .groupBy(col("o_year"), spark_partition_id().as("pid"))
      .agg(sum(col("rev_u")).as("pden_su"),
        sum(when(col("supp_nation") === "NATION_5", col("rev_u")).otherwise(0L)).as("pnum_su"))
      .groupBy("o_year")
      .agg(sumD38(col("pden_su")).as("den_su"), sumD38(col("pnum_su")).as("num_su"))
      .select(col("o_year"),
        unitsToDbl(col("den_su"), 10000).as("revenue_all"),
        unitsToDbl(col("num_su"), 10000).as("revenue_nation"),
        expr("CAST(num_su * 1000 DIV den_su AS BIGINT)").as("share_x1000"))
      .orderBy("o_year")
  }

  val marketshareOracleSql: String = """
    WITH t AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS vol,
        n2.n_name AS supp_nation
      FROM lineitem JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO')
    SELECT o_year, CAST(sum(vol) AS DOUBLE) AS revenue_all,
      CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN vol ELSE 0 END) AS DOUBLE) AS revenue_nation,
      CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN vol ELSE 0 END) * 10000 AS HUGEINT) * 1000
        // CAST(sum(vol) * 10000 AS HUGEINT) AS BIGINT) AS share_x1000
    FROM t GROUP BY o_year ORDER BY o_year"""

  /** B30 `q_topk_group`: top-3 orders per customer by price — via the
    * bounded [[graft.functions.TopKAggregate]], NOT a window.
    *
    * Spark 4 already map-side-limits the window form (Partial
    * WindowGroupLimit before the exchange — both forms shuffle the same
    * ≤k rows per group per partition, measured in Stress `topk_10x`);
    * the aggregate's remaining win is that it never SORTS: the window
    * path sorts every map partition on (group, key) and re-sorts on the
    * reduce side (O(n log n) for k rows out per group), while the
    * bounded heap streams — one comparison per rejected row, O(k)
    * insertion per accepted one. 1.7× faster end-to-end on the 10M-row
    * hot-key stress at identical shuffle bytes.
    *
    * Price is fixed-pointed to cents (decimal→long, the repo-wide exact-
    * money rule) and ties break on the smaller orderkey, making the
    * output a total order both engines replay bit-identically.
    */
  def qTopkGroup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("price_x100"),
        col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(TopKAggregate.column(col("price_x100"), col("o_orderkey"), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.payload").as("o_orderkey"), col("col.sort_key").as("price_x100"))
      .orderBy("o_custkey", "rnk")

  val topkGroupOracleSql: String = """
    SELECT o_custkey, CAST(rnk AS BIGINT) AS rnk, o_orderkey, price_x100 FROM (
      SELECT o_custkey, o_orderkey,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_x100,
        row_number() OVER (PARTITION BY o_custkey
          ORDER BY CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) DESC,
                   o_orderkey) AS rnk
      FROM orders) t
    WHERE rnk <= 3 ORDER BY o_custkey, rnk"""

  /** B17b: the same exact linear-interpolation percentiles as B17,
    * restructured for memory discipline at extreme cardinality. Spark's
    * `percentile()` is itself count-map-based (each group's aggregation
    * buffer is a distinct-value→count OpenHashMap, sorted only at eval) —
    * but that map is a SINGLE unspillable buffer per group: one group
    * with 10⁹ distinct values is a hard executor OOM no matter the
    * cluster size. Here the same counts live in an ordinary spillable
    * hash aggregate keyed `(flag, metric, value)` — partial-combined
    * map-side, spread over the cluster, spilling like any agg — and the
    * only per-group sequential piece is a streaming (sort-spillable)
    * window over the value histogram. The measured cost of that safety at
    * benign shapes is real and recorded (quantile_10x: 2.1 s vs 1.2 s at
    * 6M rows — the extra exchange + window): this is the form you switch
    * to when the value domain stops being boundable, not a free win.
    * Cumulative counts over the histogram locate the two bracketing
    * values and the interpolation runs in exact integer cents:
    * `(v_lo·(den−g) + v_hi·g) / (100·den)` with `t = p_num·(n−1)`,
    * `i = t DIV den`, `g = t MOD den`. For quarter fractions on
    * integer-valued quantities the true result is dyadic, so the single
    * double division reproduces `quantile_cont` bit-exactly; price_p90 is
    * rounded to 4 decimals like B17 (true value has ≤3 decimals — cents
    * interpolated in tenths — so rounding absorbs the engines' ULPs).
    *
    * Same oracle text as B17: the point is that the histogram form IS the
    * sort form, at distinct-value cost. QuantileHistSpec asserts the two
    * queries return identical rows and that this plan sorts only the
    * histogram (every Sort/Window input is post-aggregation).
    */
  def qQuantileHist(s: SparkSession, d: String): DataFrame =
    quantileHistOn(s,
      Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          round(col("l_quantity") * 100).cast("long").as("qty_c"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c")))

  /** B17b over a caller-provided (flag, qty_c, price_c) cents relation —
    * exposed so the property spec can fuzz the bracketing/interpolation
    * arithmetic against `percentile()` on arbitrary distributions.
    */
  def quantileHistOn(s: SparkSession, base: DataFrame): DataFrame = {
    // fanOut: the stack doubles the rows map-side and the histogram's
    // partial aggregation eats them in the same stage — at one input
    // split that whole pass is serial (identity at real split counts)
    val hist = graft.Tables.fanOut(base)
      .selectExpr("flag", "stack(2, 'qty', qty_c, 'price', price_c) AS (metric, v)")
      .groupBy("flag", "metric", "v").agg(count(lit(1)).as("cnt"))
    val byVal = Window.partitionBy("flag", "metric").orderBy("v")
    val whole = Window.partitionBy("flag", "metric")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val sq = s; import sq.implicits._
    val spec = broadcast(Seq(
      ("qty", 1L, 4L, "qty_p25"), ("qty", 2L, 4L, "qty_p50"),
      ("qty", 3L, 4L, "qty_p75"), ("price", 9L, 10L, "price_p90"))
      .toDF("metric", "p_num", "p_den", "out_name"))
    val located = hist
      .withColumn("cum", sum("cnt").over(byVal))
      .withColumn("prev", col("cum") - col("cnt"))
      .withColumn("n", sum("cnt").over(whole))
      .join(spec, "metric")
      .withColumn("t", col("p_num") * (col("n") - 1))
      .withColumn("i", expr("t DIV p_den"))
      .withColumn("g", col("t") % col("p_den"))
      .filter((col("prev") <= col("i") && col("i") < col("cum")) ||
        (col("g") > 0 && col("prev") <= col("i") + 1 && col("i") + 1 < col("cum")))
      .groupBy("flag", "out_name")
      .agg(max(when(col("prev") <= col("i") && col("i") < col("cum"), col("v"))).as("v_lo"),
        max(when(col("prev") <= col("i") + 1 && col("i") + 1 < col("cum"), col("v"))).as("v_hi_raw"),
        max("g").as("g"), max("p_den").as("p_den"))
      .withColumn("v_hi", coalesce(col("v_hi_raw"), col("v_lo")))
      .withColumn("q",
        (col("v_lo") * (col("p_den") - col("g")) + col("v_hi") * col("g"))
          .cast("double") / (col("p_den") * 100L).cast("double"))
    located.groupBy("flag")
      .agg(max(when(col("out_name") === "qty_p25", col("q"))).as("qty_p25"),
        max(when(col("out_name") === "qty_p50", col("q"))).as("qty_p50"),
        max(when(col("out_name") === "qty_p75", col("q"))).as("qty_p75"),
        round(max(when(col("out_name") === "price_p90", col("q"))), 4).as("price_p90"))
      .withColumnRenamed("flag", "l_returnflag")
      .orderBy("l_returnflag")
  }

  /** B34 `q_bigorders` (TPC-H Q18 shape — cf. reference test query
    * coverage of large-order reporting): orders whose line quantities sum
    * past a threshold, joined back to order/customer detail, top-100 by
    * price. The shape that matters at 100 TB: the HAVING runs FIRST as a
    * map-side-combinable long-sum aggregate over lineitem (one shuffle on
    * l_orderkey, partials collapse per order), and only the surviving
    * handful of orderkeys join onward — AQE sees the post-filter size and
    * broadcasts it against orders, so the big fact table is never
    * shuffled for the join. The final top-100 is a
    * TakeOrderedAndProject (per-partition heaps, no global sort); the
    * (price, date, orderkey) key is unique so the cut is deterministic.
    */
  def qBigorders(s: SparkSession, d: String): DataFrame = {
    val qty = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
      .groupBy("l_orderkey").agg(sum("qty").as("sum_qty"))
      .filter(col("sum_qty") > 280)
    qty
      .join(Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        dec(col("o_totalprice"), 12, 2).cast("double").as("o_totalprice"),
        col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_date"), col("o_orderkey"))
      .limit(100)
  }

  val bigordersOracleSql: String = """
    WITH q AS (
      SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 280)
    SELECT c_name, o_custkey, o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice, sum_qty
    FROM q JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_date, o_orderkey LIMIT 100"""

  /** B35 `q_disjunct` (TPC-H Q19 shape): revenue under an OR-of-ANDs
    * predicate spanning both join sides — the disjunctive-pushdown
    * benchmark. The per-branch bounds don't push down individually, so
    * the UNION of each side's bounds is stated explicitly as a
    * conjunctive pre-filter (quantity ≤ 30, size ≤ 15, brand ∈ the three
    * literals): semantically implied by the disjunction, and it reaches
    * the parquet scans as PushedFilters — the fact scan skips every
    * row group outside the quantity band instead of evaluating the full
    * disjunction row-by-row. Part stays an explicit broadcast; revenue
    * is the exact 10^-4-unit long sum with the decimal(38,0) partial
    * merge (see q1Agg).
    */
  def qDisjunct(s: SparkSession, d: String): DataFrame = {
    val brands = Seq("Brand#12", "Brand#23", "Brand#34")
    val p = Tables.part(s, d)
      .filter(col("p_brand").isin(brands: _*) && col("p_size").between(1, 15))
      .select("p_partkey", "p_brand", "p_size")
    val l = Tables.lineitem(s, d)
      .filter(col("l_quantity").between(1, 30))
      .select(col("l_partkey"), col("l_quantity"), revUnits().as("rev_u"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .groupBy(spark_partition_id().as("pid")).agg(sum("rev_u").as("p_su"))
      .agg(sumD38(col("p_su")).as("su"))
      .select(unitsToDbl(col("su"), 10000).as("revenue"))
  }

  val disjunctOracleSql: String = """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2))
        * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)"""

  /** B36 `q_idle` (TPC-H Q22 shape): above-average-balance customers with
    * no recent orders, rolled up per market segment. The "average" gate
    * is a broadcast scalar compared EXACTLY in integers
    * (bal·n_pos > sum_bal in cents — cross-multiplied, so no engine's
    * float average decides membership at the boundary), and the
    * no-recent-orders test is a left-anti hash join against the
    * date-pruned order scan (the o_orderdate bound reaches parquet as a
    * PushedFilter; only recent orderers' custkeys shuffle). Both the
    * anti join and the final rollup key on custkey/segment — no global
    * structure anywhere.
    */
  def qIdle(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        (dec(col("c_acctbal"), 12, 2) * 100).cast("long").as("bal_c"))
      .filter(col("bal_c") > 0)
    val stats = cust.agg(sum("bal_c").as("sum_c"), count(lit(1)).as("n_pos"))
    val recent = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("2000-01-01"))
      .select("o_custkey")
    cust.crossJoin(broadcast(stats))
      .filter(col("bal_c") * col("n_pos") > col("sum_c"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), sum("bal_c").as("tot_c"))
      .select(col("c_mktsegment"), col("n_cust"),
        unitsToDbl(col("tot_c"), 100).as("tot_bal"))
      .orderBy("c_mktsegment")
  }

  val idleOracleSql: String = """
    WITH pos AS (
      SELECT c_custkey, c_mktsegment,
        CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_c
      FROM customer
      WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) > 0),
    st AS (SELECT CAST(sum(bal_c) AS BIGINT) AS sum_c,
        CAST(count(*) AS BIGINT) AS n_pos FROM pos)
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
      CAST(CAST(sum(bal_c) AS DECIMAL(38,0)) / 100 AS DOUBLE) AS tot_bal
    FROM pos, st
    WHERE bal_c * n_pos > sum_c
      AND NOT EXISTS (SELECT 1 FROM orders o
        WHERE o.o_custkey = pos.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** B40 `q_promo` (TPC-H Q14 shape): promo revenue share for one ship
    * month — numerator (PROMO-part revenue) as a CASE inside the SAME
    * aggregation as the denominator, one lineitem pass (the B32
    * discipline), part broadcast. The share is emitted integer-exact as
    * promo·10⁶ DIV total on the unit sums (a double division would not
    * hash-match), alongside both exact totals.
    */
  def qPromo(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select("p_partkey", "p_type")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-09-01") && col("l_shipdate") < lit("1997-10-01"))
      .select(col("l_partkey"), revUnits().as("rev_u"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(spark_partition_id().as("pid"))
      .agg(sum(when(col("p_type") === "PROMO", col("rev_u")).otherwise(0L)).as("pp_su"),
        sum(col("rev_u")).as("pt_su"))
      .agg(sumD38(col("pp_su")).as("promo_su"), sumD38(col("pt_su")).as("total_su"))
      .select(unitsToDbl(col("promo_su"), 10000).as("promo_revenue"),
        unitsToDbl(col("total_su"), 10000).as("total_revenue"),
        expr("CAST(promo_su * 1000000 DIV total_su AS BIGINT)").as("promo_share_x1e6"))
  }

  val promoOracleSql: String = """
    WITH r AS (
      SELECT CAST(p_type = 'PROMO' AS INTEGER) AS is_promo,
        CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01')
    SELECT CAST(sum(CASE WHEN is_promo = 1 THEN rev ELSE 0 END) AS DOUBLE) AS promo_revenue,
      CAST(sum(rev) AS DOUBLE) AS total_revenue,
      CAST(CAST(sum(CASE WHEN is_promo = 1 THEN rev * 10000 ELSE 0 END) AS HUGEINT) * 1000000
        // CAST(sum(rev * 10000) AS HUGEINT) AS BIGINT) AS promo_share_x1e6
    FROM r"""

  /** B39 `q_top_supplier` (TPC-H Q15 shape): the supplier(s) achieving
    * MAXIMUM quarterly revenue — argmax over an aggregate, the "create
    * view + where total = (select max...)" pattern. The revenue view
    * aggregates once (exact 10^-4-unit longs, map-side partials); the
    * max is a 1-row broadcast scalar joined back, so the view is NEVER
    * recomputed for the subquery (the naive form's trap) and ties
    * surface as multiple rows — deterministic because the compare is
    * exact integers, never a float max.
    */
  def qTopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .select(col("l_suppkey"), revUnits().as("rev_u"))
      .groupBy(col("l_suppkey"), spark_partition_id().as("pid"))
      .agg(sum(col("rev_u")).as("p_su"))
      .groupBy("l_suppkey")
      .agg(sumD38(col("p_su")).as("total_su"))
      .localCheckpoint() // two consumers (max + filter) of a supplier-sized frame
    val mx = rev.agg(max("total_su").as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_su") === col("mx"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        unitsToDbl(col("total_su"), 10000).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  val topSupplierOracleSql: String = """
    WITH rev AS (
      SELECT l_suppkey,
        sum(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total AS DOUBLE) AS total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total = (SELECT max(total) FROM rev)
    ORDER BY s_suppkey"""

  /** B38 `q_fk_elim`: the FK join-elimination rule under the oracle — the
    * query is WRITTEN as lineitem ⋈ orders (the shape every BI view
    * emits), but with `spark.graft.fkJoinElimination.enabled` and the
    * (l_orderkey → o_orderkey) integrity declared (what an A27 dq_audit
    * run proves), [[graft.plans.EliminateFkJoin]] rewrites the join to
    * `Filter(IsNotNull(l_orderkey))` — the orders scan and its
    * broadcast/shuffle vanish from the plan (EliminateFkJoinSpec pins
    * the rewrite and its bailouts). The DuckDB oracle executes the REAL
    * join, so the rows+schema+hash gate is precisely the rewrite's
    * soundness proof. The rule arming is scoped to a CHILD session
    * (`GraftBridge.cloneSession`: same SparkContext + extensions, a copy
    * of the caller's runtime conf), so no other query in the parent
    * session — bench sweeps, correctness runs — ever executes with the
    * elimination rule enabled; the returned DataFrame carries the child
    * session and stays armed at action time.
    */
  def qFkElim(s: SparkSession, d: String): DataFrame = {
    val scoped = GraftBridge.cloneSession(s)
    scoped.conf.set("spark.graft.fkJoinElimination.enabled", "true")
    graft.plans.FkRegistry.declare("orders", "l_orderkey", "o_orderkey")
    Tables.lineitem(scoped, d)
      .join(Tables.orders(scoped, d).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val fkElimOracleSql: String = """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** B38b `q_fk_elim_left`: the LEFT-join half of the elimination rule
    * under the oracle. A BI view left-joins the fact to a FILTERED dim
    * (here orders with o_totalprice > 100000) and the consumer reads
    * only fact columns — the left join preserves the fact multiset
    * whatever the filter keeps, so under a declared-UNIQUE dim key
    * ([[graft.plans.FkRegistry.declareUnique]] — the `pk_*_unique` half
    * of a dq_audit, no totality claim needed) [[graft.plans
    * .EliminateFkJoin]] drops the join with no residual filter. The
    * DuckDB oracle executes the REAL left join against the filtered
    * dim, so the rows+schema+hash gate is the rewrite's soundness
    * proof, exactly as for B38, and the rule is armed on a cloned child
    * session the same way.
    */
  def qFkElimLeft(s: SparkSession, d: String): DataFrame = {
    val scoped = GraftBridge.cloneSession(s)
    scoped.conf.set("spark.graft.fkJoinElimination.enabled", "true")
    graft.plans.FkRegistry.declareUnique("orders", "o_orderkey")
    Tables.lineitem(scoped, d)
      .join(Tables.orders(scoped, d)
          .filter(col("o_totalprice") > 100000).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val fkElimLeftOracleSql: String = """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem LEFT JOIN
      (SELECT o_orderkey FROM orders WHERE o_totalprice > 100000) o
      ON l_orderkey = o_orderkey
    GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** B37 `q_rolling_distinct`: EXACT rolling 7-day unique users per day —
    * the sliding-distinct shape no window frame can compute (DISTINCT
    * doesn't decompose over frame slides the way sums do). The classic
    * distributed formulation: each (user, day) fact contributes to the 7
    * window-ends it falls inside — a bounded ×7 explode of the already
    * day-deduplicated (user, day) relation, NOT of the raw event stream —
    * then distinct + count are ONE partial-aggregated shuffle each on
    * (user, win_end)/(win_end). Nothing holds per-window user sets in
    * memory and no frame ever materializes; at 100 TB the wire carries
    * ≤ 7·|distinct (user, day)| rows, independent of event volume. (The
    * bitmap-merge alternative — B16's Roaring bitmaps per day OR-ed over
    * a frame — trades this explode for per-day bitmap state; the explode
    * form wins until per-day distinct cardinality dwarfs the frame
    * length.) Windows whose end falls beyond the data's last day are
    * kept: they are real calendar windows with partial trailing
    * coverage, and the oracle states the same rule.
    */
  def qRollingDistinct(s: SparkSession, d: String): DataFrame = {
    val userDays = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    userDays
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("win_end"))
      .distinct()
      .groupBy("win_end")
      .agg(count(lit(1)).as("n_users"))
      .select(date_format(col("win_end"), "yyyy-MM-dd").as("win_end_s"), col("n_users"))
      .orderBy("win_end_s")
  }

  val rollingDistinctOracleSql: String = """
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    x AS (SELECT DISTINCT user_id,
        day + CAST(unnest(range(0, 7)) AS INTEGER) AS win_end FROM ud)
    SELECT strftime(win_end, '%Y-%m-%d') AS win_end_s,
      CAST(count(*) AS BIGINT) AS n_users
    FROM x GROUP BY win_end ORDER BY win_end_s"""
}
