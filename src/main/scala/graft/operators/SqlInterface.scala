package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL-string entry point: registers every testdata table as a temp view
  * and runs ANSI SQL through `spark.sql` — a user of the engine can issue
  * the same query text they run today. (The reference is 100% DataFrame
  * API — this is capability breadth beyond it.)
  */
object SqlInterface {

  private val tableNames = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register `<name>` views over dir for SQL-text querying. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    tableNames.foreach { t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(t)
    }

  /** TPC-H Q3 (shipping priority) via SQL text, decimal-exact revenue. */
  def tpchQ3(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(
      """SELECT l_orderkey AS orderkey,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       CAST(o_orderdate AS DATE) AS orderdate_str
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1997-03-15'
        |  AND l_shipdate > TIMESTAMP '1997-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, orderkey ASC
        |LIMIT 10""".stripMargin)
      .withColumn("orderdate_str", col("orderdate_str").cast("string"))
  }

  /** TPC-H Q5 via SQL text — local supplier volume: revenue per nation
    * within a region and year, with the customer-nation = supplier-nation
    * correlation that makes Q5 the canonical 6-table join-order test
    * (region/nation broadcast; the c↔s nation equality prunes the big
    * join's output before aggregation). Money through DECIMAL(18,4),
    * same discipline as [[tpchQ3]]. */
  private[graft] val tpchQ5Sql =
      """SELECT n_name AS nation,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin

  def tpchQ5(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ5Sql)
  }

  /** TPC-H Q10 (returned-item reporting) via SQL text — the top-20
    * customers by revenue lost to returns in one quarter. The shape that
    * matters at scale: the `l_returnflag = 'R'` and quarter predicates
    * prune lineitem/orders BEFORE the customer join, the nation dim
    * broadcasts, and the final top-20 is a TakeOrderedAndProject (per-
    * partition heaps + one 20-row merge), never a global sort. Money
    * through DECIMAL(18,4); revenue-then-key ordering pinned so ties
    * cannot reorder the LIMIT frontier. */
  private[graft] val tpchQ10Sql =
      """SELECT c_custkey AS custkey, c_name AS name, n_name AS nation,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       c_acctbal AS acctbal
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_returnflag = 'R'
        |  AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, custkey ASC
        |LIMIT 20""".stripMargin

  def tpchQ10(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ10Sql)
  }

  /** TPC-H Q1 (pricing summary) via SQL text — the canonical big-scan
    * aggregate: one pushed-down range predicate, one 4-group rollup, no
    * join. The scan is the whole cost; everything else is map-side
    * combine. Money sums through DECIMAL (2dp×2dp×2dp charge is exact at
    * 6dp); averages as floor-rounded double ratios of exact sums, the
    * shared cross-engine discipline. */
  def tpchQ1(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |       FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |             / COUNT(*) * 1000000.0 + 0.5) / CAST(1000000 AS DOUBLE) AS avg_qty,
        |       FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |             / COUNT(*) * 1000000.0 + 0.5) / CAST(1000000 AS DOUBLE) AS avg_price,
        |       FLOOR(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |             / COUNT(*) * 1000000.0 + 0.5) / CAST(1000000 AS DOUBLE) AS avg_disc,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** TPC-H Q18 (large-volume customer) via SQL text — group-having-top-k
    * over a 3-way join: the HAVING subquery pre-aggregates lineitem to
    * order grain and survives as a semi-join filter BEFORE the customer
    * join fans in, and the final LIMIT plans as TakeOrderedAndProject
    * (per-partition heaps), never a global sort. Quantity sums through
    * DECIMAL so the >300 boundary is exact in both engines. */
  def tpchQ18(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(
      """SELECT c_name AS name, c_custkey AS custkey, o_orderkey AS orderkey,
        |       CAST(CAST(o_orderdate AS DATE) AS STRING) AS orderdate_str,
        |       o_totalprice AS totalprice,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (
        |    SELECT l_orderkey FROM lineitem
        |    GROUP BY l_orderkey
        |    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
        |  AND c_custkey = o_custkey
        |  AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY totalprice DESC, orderkey ASC
        |LIMIT 100""".stripMargin)
  }

  /** TPC-H Q6 (forecasting revenue change) via SQL text — the purest
    * pushdown showcase: three range predicates and two columns, no join,
    * no group key. At 100 TB the entire cost is the scan, so the plan
    * must show all three predicates in PushedFilters and a 4-column
    * ReadSchema (shipdate/discount/quantity/extendedprice); everything
    * after the scan is one map-side-combined scalar aggregate. */
  private[graft] val tpchQ6Sql =
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin

  def tpchQ6(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ6Sql)
  }

  /** TPC-H Q4 (order-priority checking), adapted: the testdata lineitem
    * has no commit/receipt dates, so "late" is shipped >60 days after the
    * order date — same EXISTS-correlated-semi-join shape as the official
    * Q4 (the predicate that matters: Catalyst plans the EXISTS as a
    * LeftSemi join on l_orderkey, never a per-order subquery; the
    * quarter predicate prunes orders before the join). */
  private[graft] val tpchQ4Sql =
      """SELECT o_orderpriority AS priority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin

  def tpchQ4(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ4Sql)
  }

  /** TPC-H Q14 (promotion effect), adapted to the testdata's p_type
    * domain (exact value 'PROMO' instead of LIKE 'PROMO%'): conditional
    * aggregation over a month of shipments joined to part. The share is
    * a ratio of two exact DECIMAL sums narrowed to double, rounded via
    * the shared floor(x·1e6+0.5)/1e6 discipline (PLANS.md lesson 3) so
    * the 1e-7-midpoint hazard cannot flake it. part broadcasts. */
  def tpchQ14(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(
      """SELECT FLOOR(100.0
        |         * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |                         THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |         * 1000000.0 + 0.5) / CAST(1000000 AS DOUBLE) AS promo_share_pct,
        |       COUNT(*) AS n_items
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin)
  }

  /** TPC-H Q7 (volume shipping) via SQL text — the two-role dimension
    * pattern: nation joins TWICE (supplier's and customer's), both
    * broadcast, with the symmetric pair predicate evaluated inside the
    * join tree. Group key includes the shipment year
    * (CAST(EXTRACT(YEAR ...)) — the shared cross-engine idiom). */
  private[graft] val tpchQ7Sql =
      """SELECT supp_nation, cust_nation, l_year,
        |       CAST(SUM(volume) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
        |         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume
        |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |  WHERE s_suppkey = l_suppkey
        |    AND o_orderkey = l_orderkey
        |    AND c_custkey = o_custkey
        |    AND s_nationkey = n1.n_nationkey
        |    AND c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |) shipping
        |GROUP BY supp_nation, cust_nation, l_year""".stripMargin

  def tpchQ7(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ7Sql)
  }

  /** TPC-H Q16 (parts/supplier relationship), adapted: the testdata has
    * no partsupp table, so the part↔supplier relation is DISTINCT
    * (l_partkey, l_suppkey) from lineitem — same shape (dedup before the
    * dim join, NOT IN anti-join against a supplier blocklist, then
    * COUNT(DISTINCT) per part attribute). The blocklist stands in for
    * the official complaints filter as suppliers with negative balance. */
  private[graft] val tpchQ16Sql =
      """SELECT p_brand AS brand, p_type AS type, p_size AS size,
        |       COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_type <> 'PROMO'
        |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin

  def tpchQ16(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ16Sql)
  }

  /** TPC-H Q19 (discounted revenue), adapted to the testdata's part
    * attributes (brand + size + quantity bands; no container/shipmode
    * columns): the canonical DISJUNCTIVE-predicate join. What matters at
    * scale: Catalyst extracts the common `p_partkey = l_partkey` conjunct
    * as the join key and pushes the brand disjunction's union of ranges
    * into the part scan, instead of planning a cartesian filter. */
  private[graft] val tpchQ19Sql =
      """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey
        |  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
        |    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |    OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))""".stripMargin

  def tpchQ19(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ19Sql)
  }

  /** TPC-H Q8 (national market share), adapted: the share of one
    * supplier nation's revenue within a region's customer market per
    * order year. The testdata keeps all of Q8's structure that matters —
    * a 7-table join tree where region restricts the CUSTOMER side while
    * the share numerator conditions on the SUPPLIER side, forcing the
    * planner to keep both nation roles distinct — minus the part-type
    * filter (folded to a part join on brand to keep a part-side
    * predicate in the tree). Share = ratio of exact DECIMAL sums via
    * the floor-rounding discipline. */
  private[graft] val tpchQ8Sql =
      """SELECT o_year,
        |       FLOOR(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
        |                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |             / CAST(SUM(volume) AS DOUBLE)
        |             * 1000000.0 + 0.5) / CAST(1000000 AS DOUBLE) AS mkt_share,
        |       COUNT(*) AS n_items
        |FROM (
        |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        |         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume,
        |         n2.n_name AS supp_nation
        |  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
        |  WHERE p_partkey = l_partkey
        |    AND s_suppkey = l_suppkey
        |    AND l_orderkey = o_orderkey
        |    AND o_custkey = c_custkey
        |    AND c_nationkey = n1.n_nationkey
        |    AND n1.n_regionkey = r_regionkey
        |    AND r_name = 'ASIA'
        |    AND s_nationkey = n2.n_nationkey
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND p_brand = 'Brand#12'
        |) all_nations
        |GROUP BY o_year""".stripMargin

  def tpchQ8(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ8Sql)
  }

  /** TPC-H Q9 (product-type profit), adapted: profit per supplier
    * nation per year over parts whose name carries a marker substring
    * (LIKE on p_name — Q9's defining non-sargable predicate). The
    * testdata has no partsupp.ps_supplycost, so profit is revenue minus
    * a retail-price-based cost proxy (p_retailprice · quantity · 0.6) —
    * the arithmetic shape (two decimal products subtracted per row,
    * aggregated by a derived year) is Q9's; the cost factor is exact at
    * 3 dp so DECIMAL stays lossless. */
  private[graft] val tpchQ9Sql =
      """SELECT nation, o_year,
        |       CAST(SUM(amount) AS DOUBLE) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation,
        |         CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        |         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |           - CAST(p_retailprice * 0.6 * l_quantity AS DECIMAL(18,4)) AS amount
        |  FROM part, supplier, lineitem, orders, nation
        |  WHERE s_suppkey = l_suppkey
        |    AND p_partkey = l_partkey
        |    AND o_orderkey = l_orderkey
        |    AND s_nationkey = n_nationkey
        |    AND p_name LIKE '%a%'
        |) profit
        |GROUP BY nation, o_year""".stripMargin

  def tpchQ9(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ9Sql)
  }

  /** TPC-H Q13 (customer distribution) via SQL text — the double
    * aggregation over a LEFT OUTER join: per-customer order counts
    * (zeros preserved for never-ordered customers) re-aggregated into a
    * count-of-counts histogram. The second aggregate runs over a
    * customer-grain frame, so the histogram shuffle is tiny; the outer
    * join is the only data-sized exchange. (The official o_comment
    * filter has no testdata counterpart and is dropped.) */
  private[graft] val tpchQ13Sql =
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count""".stripMargin

  def tpchQ13(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ13Sql)
  }

  /** TPC-H Q22 (global sales opportunity), adapted: dormant high-balance
    * customers per nation — acctbal above the average of positive
    * balances (uncorrelated scalar subquery → literal broadcast) AND no
    * RECENT orders (NOT EXISTS with a date predicate → anti-join over
    * the pruned recent slice; the official "no orders at all" is vacuous
    * on this testdata, where every customer has ordered). The testdata
    * has no phone column, so the country-code grouping becomes the
    * nation key. Money sums through DECIMAL(18,2); the avg boundary is
    * compared on the exact doubles both engines compute from identical
    * sums. */
  private[graft] val tpchQ22Sql =
      """SELECT c_nationkey AS nationkey, COUNT(*) AS numcust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |                   FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY c_nationkey""".stripMargin

  def tpchQ22(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ22Sql)
  }

  /** TPC-H Q17 (small-quantity-order revenue) via SQL text — THE
    * correlated scalar-aggregate subquery benchmark shape: each
    * lineitem compares its quantity against 0.2× the MEAN QUANTITY OF
    * ITS OWN PART. Catalyst must decorrelate this into one per-part
    * aggregate joined back to the fact (PlanShapeSpec pins the
    * Aggregate-under-Join shape) — naively it is one aggregate query
    * per row. The brand filter stands in for the official
    * brand+container pair (no p_container column in this testdata).
    * Quantities are integral doubles → their sums and the single
    * 0.2×(sum/count) division are bit-deterministic in both engines;
    * revenue sums ride DECIMAL(18,2) with one final /7.0 double. */
  private[graft] val tpchQ17Sql =
      """SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly,
        |       COUNT(*) AS n_small_lines
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey
        |  AND p_brand = 'Brand#12'
        |  AND l_quantity < (SELECT 0.2 * AVG(l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  def tpchQ17(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ17Sql)
  }

  /** TPC-H Q20 (potential part promotion) via SQL text, adapted: the
    * NESTED-subquery chain — an IN over a grouped derived table, which
    * itself holds an IN (part-name LIKE prune) AND a two-key correlated
    * scalar-aggregate comparison. The testdata has no
    * partsupp.ps_availqty, so "availability" is the supplier's all-time
    * shipped quantity of the part (the same (suppkey, partkey) grain)
    * and a supplier qualifies when that stock exceeds 2× what it
    * shipped inside the target year — preserving Q20's defining
    * decorrelation work: Catalyst must turn the correlated SUM into a
    * per-(part, supplier) aggregate joined on BOTH keys, plan both INs
    * as semi-joins, and keep the date range pushed into the inner scan.
    * Quantity sums are integral doubles → exact; a part never shipped
    * in-window yields a NULL subquery, which the > comparison rejects
    * in both engines. */
  private[graft] val tpchQ20Sql =
      """SELECT s_suppkey AS suppkey, s_name AS name, n_name AS nation
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT ps.l_suppkey
        |  FROM (SELECT l_suppkey, l_partkey, SUM(l_quantity) AS avail
        |        FROM lineitem GROUP BY 1, 2) ps
        |  WHERE ps.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |    AND ps.avail > (SELECT 2 * SUM(l.l_quantity)
        |                    FROM lineitem l
        |                    WHERE l.l_partkey = ps.l_partkey
        |                      AND l.l_suppkey = ps.l_suppkey
        |                      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        |                      AND l.l_shipdate < TIMESTAMP '1997-01-01'))""".stripMargin

  def tpchQ20(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ20Sql)
  }

  /** TPC-H Q21 (suppliers who kept orders waiting) via SQL text,
    * adapted: the multi-way EXISTS / NOT EXISTS self-join on the fact
    * table — the hardest decorrelation shape in the suite (two
    * correlated subqueries against the SAME table as the outer block,
    * one positive, one negated, both with an inequality on a second
    * column). "Late" is proxied by `l_returnflag = 'R'` (the testdata
    * has no commit/receipt dates; a RETURNED line is lineitem-local
    * exactly like the official receipt>commit predicate): count, per
    * supplier of one nation, its returned lines in finished
    * multi-supplier orders where it was the ONLY supplier with a
    * return. Catalyst must plan the EXISTS as a left-semi and the NOT
    * EXISTS as a left-anti join on o_orderkey (PlanShapeSpec pins
    * both); the final top-20 is a TakeOrderedAndProject. All-integer
    * counts → bit-exact. */
  private[graft] val tpchQ21Sql =
      """SELECT s_name AS name, COUNT(*) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |  AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_3'
        |GROUP BY s_name
        |ORDER BY numwait DESC, name ASC
        |LIMIT 20""".stripMargin

  def tpchQ21(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ21Sql)
  }

  /** TPC-H Q2 (minimum-cost supplier) via SQL text, adapted: the
    * correlated scalar-MIN subquery over a shared derived cost table —
    * for each part of one size, the EUROPE supplier(s) whose unit cost
    * equals the region-wide minimum for that part. partsupp has no
    * testdata counterpart, so unit cost is MIN(l_extendedprice /
    * l_quantity) at the (part, supplier) grain — same grain as
    * ps_supplycost, derived from the fact. The defining optimizer work
    * survives intact: the correlated MIN decorrelates into a per-part
    * aggregate over the region-pruned cost table joined back on
    * p_partkey, the region/nation dims broadcast on BOTH sides, and
    * the top-100 is a TakeOrderedAndProject over a pinned
    * (acctbal desc, name, partkey) order. Unit costs are raw IEEE
    * divisions — identical bit patterns in both engines, and MIN +
    * equality are exact selections, so no rounding is needed (and
    * ROUND(double) would only add midpoint risk). */
  private[graft] val tpchQ2Sql =
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey,
        |         MIN(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s_acctbal, s_name AS name, n_name AS nation,
        |       p_partkey AS partkey, unit_cost
        |FROM part, cost, supplier, nation, region
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |  AND p_size = 30
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND unit_cost = (SELECT MIN(c2.unit_cost)
        |                   FROM cost c2, supplier s2, nation n2, region r2
        |                   WHERE c2.l_partkey = p_partkey
        |                     AND c2.l_suppkey = s2.s_suppkey
        |                     AND s2.s_nationkey = n2.n_nationkey
        |                     AND n2.n_regionkey = r2.r_regionkey
        |                     AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, name, partkey
        |LIMIT 100""".stripMargin

  def tpchQ2(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ2Sql)
  }

  /** TPC-H Q11 (important stock identification) via SQL text, adapted
    * to the lineitem-derived (supplier, part) grain: per-part value
    * held by one nation's suppliers, kept when it exceeds 2× the MEAN
    * per-part value — the HAVING-against-uncorrelated-scalar-subquery
    * shape, with a threshold that is SCALE-INVARIANT (the official
    * query divides its fraction by SF by hand; a fixed fraction of the
    * total returns zero rows the moment the part population grows).
    * Both compare sides are doubles cast from exact DECIMAL sums with
    * one IEEE division — identical in both engines; a decimal-domain
    * division would hit the engines' different decimal-quotient scale
    * rules. At scale the threshold side is a second pruned scan reduced
    * to ONE row — broadcastable — while the group side shuffles only
    * the (partkey, sum) frame. */
  private[graft] val tpchQ11Sql =
      """SELECT l_partkey AS partkey,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS value
        |FROM lineitem, supplier, nation
        |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_5'
        |GROUP BY l_partkey
        |HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) > (
        |  SELECT 2 * (CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |              / COUNT(DISTINCT l_partkey))
        |  FROM lineitem, supplier, nation
        |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name = 'NATION_5')""".stripMargin

  def tpchQ11(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ11Sql)
  }

  /** TPC-H Q12 (shipping modes and order priority) via SQL text,
    * adapted: the two-branch CONDITIONAL AGGREGATION over a
    * fact-to-fact join — per linestatus (no l_shipmode column), how
    * many LATE lines (shipped ≥ 90 days after the order date — the
    * official commit/receipt lateness has no testdata counterpart)
    * belong to urgent/high-priority orders vs the rest. The CASE
    * branches fold into one map-side-combinable aggregate; the date
    * range prunes lineitem at the scan. All-integer counts →
    * bit-exact. */
  def tpchQ12(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(
      """SELECT l_linestatus AS linestatus,
        |       SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS high_line_count,
        |       SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS low_line_count
        |FROM orders, lineitem
        |WHERE o_orderkey = l_orderkey
        |  AND l_shipdate >= o_orderdate + INTERVAL 90 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin)
  }

  /** TPC-H Q15 (top supplier) via SQL text — the view-maximum shape:
    * a revenue CTE referenced twice, once as the join input and once
    * under an uncorrelated scalar MAX. The equality filter compares
    * DECIMAL sums — exact, so "the" top supplier is engine-independent
    * even on ties (all maximal suppliers survive, per the official
    * query's semantics). The revenue aggregate collapses the
    * quarter-pruned fact to supplier grain before any join; the MAX
    * side reduces the same frame to one broadcastable row. */
  private[graft] val tpchQ15Sql =
      """WITH revenue0 AS (
        |  SELECT l_suppkey AS supplier_no,
        |         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey AS suppkey, s_name AS name,
        |       CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM supplier, revenue0
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue0)""".stripMargin

  def tpchQ15(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(tpchQ15Sql)
  }

  /** LATERAL correlated subquery via SQL text: each region's top-2
    * customers by balance — the top-N-per-group idiom written the way a
    * SQL user writes it (Catalyst rewrites the correlated LIMIT into a
    * windowed join; no driver loop, no N scans of customer). */
  private[graft] val lateralTopNSql =
      """SELECT r.r_name AS region, t.custkey, t.acctbal
        |FROM region r,
        |LATERAL (
        |  SELECT c.c_custkey AS custkey, c.c_acctbal AS acctbal
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  ORDER BY c.c_acctbal DESC, c.c_custkey ASC
        |  LIMIT 2) t""".stripMargin

  def lateralTopN(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(lateralTopNSql)
  }

  /** RECURSIVE CTE via SQL text (Spark 4's WITH RECURSIVE): a month
    * spine generated by recursion — the set-based replacement for a
    * driver-side date loop — left-joined to per-month order totals so
    * empty months survive with zeros. The spine bounds are DERIVED from
    * the data (min/max order month): a hard-coded end bound silently
    * dropped orders past it — and because the oracle shared the
    * constant, the parity check could never catch the truncation.
    *
    * The bounds come from ONE 1-row aggregate collected up front, then
    * inlined as literals. Embedding them as subqueries in the anchor and
    * stop condition instead re-evaluated the stop-bound scan per
    * recursion step — ~80 full orders scans for an 80-month spine
    * (measured 27× the literal-bound plan). A 2-value collect of a
    * pre-aggregated frame is the sanctioned bounded-result pattern. */
  def recursiveMonths(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    val Array(mn, mx) = spark.sql(
      """SELECT CAST(CAST(date_trunc('MONTH', MIN(o_orderdate)) AS DATE) AS STRING),
        |       CAST(CAST(date_trunc('MONTH', MAX(o_orderdate)) AS DATE) AS STRING)
        |FROM orders""".stripMargin).collect()(0).toSeq.toArray
    // an empty orders table yields NULL bounds, which would interpolate
    // below as CAST('null' AS DATE) — a confusing downstream null-spine
    // failure instead of the actual cause
    require(mn != null && mx != null,
      "recursiveMonths: orders table is empty — no month spine to derive")
    spark.sql(
      s"""WITH RECURSIVE months(m) AS (
        |  SELECT CAST('$mn' AS DATE)
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
        |  WHERE m < CAST('$mx' AS DATE))
        |SELECT CAST(m AS STRING) AS month_start,
        |       COUNT(o.o_orderkey) AS n_orders,
        |       CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_price
        |FROM months LEFT JOIN orders o
        |  ON CAST(date_trunc('MONTH', o.o_orderdate) AS DATE) = m
        |GROUP BY m""".stripMargin)
  }

  /** Correlated scalar subquery via SQL text: customers above their
    * nation's average balance. */
  private[graft] val aboveNationAvgSql =
      """SELECT c_custkey AS custkey, c_nationkey AS nationkey, c_acctbal AS acctbal
        |FROM customer c1
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |                   FROM customer c2
        |                   WHERE c2.c_nationkey = c1.c_nationkey)""".stripMargin

  def aboveNationAvg(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(aboveNationAvgSql)
  }
}

/** CSV source/sink parity (reference S1/S2/S5 —
  * `/root/reference/utils/kmeans_utils.py:28-46,112-130`): declared-schema
  * CSV read, inferred-schema CSV read, and a CSV round-trip through a sink.
  * The round-trip is exercised against a temp dir at query time.
  */
object CsvIo {

  /** The reference's CSV timestamp contract: every inferred read passes
    * `timestampFormat="yyyy-MM-dd HH:mm:ss"`
    * (`/root/reference/utils/kmeans_utils.py:34,40,44,46`). */
  val TsFmt = "yyyy-MM-dd HH:mm:ss"

  /** Write a small result as CSV (S5 sink), read it back BOTH ways the
    * reference reads CSVs — declared schema (S1) and inferSchema (S2),
    * both with the reference's `timestampFormat` — and return the inner
    * join proving identical content. The `last_seen` column (distinct
    * second-precision timestamp per row) exercises the timestampFormat
    * option on the write and on both read paths; it is surfaced as epoch
    * seconds so the oracle compare is timezone-free. */
  def roundTrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val stats = Relational.userStats(spark, dir)
      .withColumn("last_seen",
        timestamp_seconds(lit(1100000000L) + col("custkey")))
    val tmp = Scale.scratchDir("graft_csv")
    // repartition(1), NOT coalesce(1): coalesce propagates upstream and
    // would collapse the whole join+agg pipeline into a single task; the
    // round-robin exchange keeps upstream parallel and only the final
    // file write is single-task (the reference's single-CSV contract).
    stats.repartition(1).write.mode("overwrite")
      .option("header", true).option("timestampFormat", TsFmt)
      .csv(s"$tmp/user_stats")
    val declared = StructType(Seq(
      StructField("custkey", LongType),
      StructField("avg_buy", DoubleType),
      StructField("min_buy", DoubleType),
      StructField("max_buy", DoubleType),
      StructField("last_seen", TimestampType)))
    val s1 = spark.read.schema(declared).option("header", true)
      .option("timestampFormat", TsFmt).csv(s"$tmp/user_stats")
    val s2 = spark.read.option("inferSchema", true).option("header", true)
      .option("timestampFormat", TsFmt).csv(s"$tmp/user_stats")
      .select(col("custkey").cast("long").as("custkey"),
        col("avg_buy").cast("double"), col("min_buy").cast("double"),
        col("max_buy").cast("double"),
        col("last_seen").cast("timestamp").as("last_seen"))
    // inner join on all columns: row count == original ⇔ lossless round-trip
    val joined = s1
      .join(s2, Seq("custkey", "avg_buy", "min_buy", "max_buy", "last_seen"))
      .withColumn("last_seen", unix_timestamp(col("last_seen")))
      .localCheckpoint(true)
    Scale.deleteScratch(tmp)
    joined
  }

  /** JSON-lines + ORC sink/source round trip — the rest of Spark's
    * built-in format matrix beside CSV ([[roundTrip]]) and parquet
    * (every other query). Doubles survive JSON via shortest-round-trip
    * printing; ORC is binary-lossless. The all-columns inner join of the
    * two re-reads proves both formats preserved every row bit-exactly
    * (row count == original ⇔ lossless), and the shared oracle pins the
    * values. */
  def formatRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val stats = Relational.userStats(spark, dir)
    val tmp = Scale.scratchDir("graft_fmt")
    // Cache once: without it the agg pipeline re-runs per sink (two full
    // recomputes); repartition(1) keeps each sink to one file so the
    // re-reads list one object instead of 32 shuffle-partition files.
    val out = Tables.withCached(stats) {
      stats.repartition(1).write.mode("overwrite").json(s"$tmp/stats_json")
      stats.repartition(1).write.mode("overwrite").orc(s"$tmp/stats_orc")
      val declared = StructType(Seq(
        StructField("custkey", LongType),
        StructField("avg_buy", DoubleType),
        StructField("min_buy", DoubleType),
        StructField("max_buy", DoubleType)))
      val j = spark.read.schema(declared).json(s"$tmp/stats_json")
      val o = spark.read.schema(declared).orc(s"$tmp/stats_orc")
      j.join(o, Seq("custkey", "avg_buy", "min_buy", "max_buy"))
    }
    Scale.deleteScratch(tmp)
    out
  }
}
