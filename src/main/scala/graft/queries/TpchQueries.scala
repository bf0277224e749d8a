package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The remaining TPC-H query shapes, adapted to the driver corpus
  * (TESTDATA.md star schema — no partsupp / comment / receiptdate
  * columns, so each query keeps the REFERENCE SHAPE — the join topology,
  * subquery pattern, and aggregation structure that make the original
  * query a distinct optimizer exercise — over the columns that exist).
  * Together with q1/q3/q5/q6/q7/q10/q12/q13/q14/q15/q18 in
  * [[CoreQueries]], every TPC-H query now has an oracle-exact twin.
  *
  * Money discipline (CoreQueries header): DECIMAL arithmetic internally,
  * integer cents / quarter-cents (`*100` / `*10000` cast BIGINT) at the
  * output — never raw DECIMAL or unrounded DOUBLE to the gate. Ratio
  * predicates (Q17's 0.2·avg, Q22's avg-positive) are cross-multiplied
  * into pure-integer comparisons so no engine-specific float division
  * can flip a boundary row.
  */
object TpchQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Fast measured-2-decimal double→decimal — see CoreQueries.dec2. */
  private def dec2(c: org.apache.spark.sql.Column, p: Int) =
    graft.functions.Expressions.moneyDec2(c, p)

  /** price * (1-discount) in the DECIMAL domain (see CoreQueries.discPrice). */
  private def discPrice =
    dec2(col("l_extendedprice"), 12) *
      (lit(1).cast("decimal(4,2)") - dec2(col("l_discount"), 4))

  private def cents(c: org.apache.spark.sql.Column) =
    (dec2(c, 12) * 100).cast("long")

  /** TPC-H Q2 shape: correlated per-group MIN subquery join — for each
    * SMALL part sized 10-15, the supplier(s) whose line price equals the
    * part's minimum (ALL ties kept, which is why this isn't a top-k
    * heap). The part filter broadcasts (2000 rows → ~80); the
    * correlated min is a whole-partition window min over the SAME
    * partkey shuffle the filter rides — ONE fact scan, where the
    * agg + join-back formulation reads the fact twice. distinct
    * collapses a supplier hitting the min price on two lines.
    */
  def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part")
      .filter(col("p_type") === "SMALL" && col("p_size").between(10, 15))
      .select(col("p_partkey"))
    val li = t(s, dir, "lineitem")
      .join(JoinHints.gated(parts, s"$dir|q2.parts"),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey").as("partkey"), col("l_suppkey").as("suppkey"),
        cents(col("l_extendedprice")).as("price_cents"))
    val w = Window.partitionBy("partkey")
    li.withColumn("min_cents", min("price_cents").over(w))
      .filter(col("price_cents") === col("min_cents"))
      .select("partkey", "suppkey", "min_cents").distinct()
  }

  /** TPC-H Q4 shape: EXISTS-per-order + priority histogram. The probe
    * side is a distinct orderkey set (returned lines), joined LEFT SEMI —
    * Catalyst keeps it a semi join (no row multiplication), and the
    * 5-row priority agg is map-side partial. One quarter of orders by
    * date → the filter is pushed to the orders scan.
    */
  def q4PriorityExists(s: SparkSession, dir: String): DataFrame = {
    val returned = t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1996-07-01")
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q8 shape: market share — a 6-table snowflake (lineitem ⋈ part
    * ⋈ supplier+nation ⋈ orders ⋈ customer+nation+region) with a
    * conditional aggregate. The share division is NOT computed: numerator
    * and denominator ship as exact quarter-cents (the gate's float-free
    * discipline); a consumer divides. Scale: part/supplier/customer
    * prefilters all broadcast; the fact shuffles once (orderkey).
    */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val nat = t(s, dir, "nation")
    val asiaCust = t(s, dir, "customer")
      .join(broadcast(nat
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val suppNat = t(s, dir, "supplier")
      .join(broadcast(nat.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val econParts = t(s, dir, "part")
      .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
    t(s, dir, "lineitem")
      .join(JoinHints.gated(econParts, s"$dir|q8.econParts"),
        col("l_partkey") === col("p_partkey"))
      .join(JoinHints.gated(suppNat, s"$dir|q8.suppNat"),
        col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(JoinHints.gated(asiaCust, s"$dir|q8.asiaCust"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_2", discPrice)
          .otherwise(lit(0).cast("decimal(12,2)"))) * 10000)
          .cast("long").as("nation_rev_c4"),
        (sum(discPrice) * 10000).cast("long").as("total_rev_c4"))
  }

  /** TPC-H Q9 shape: product-line profit by nation and year. Profit =
    * disc revenue − retail cost (p_retailprice·qty stands in for the
    * absent ps_supplycost), all in DECIMAL, emitted as quarter-cents.
    * The 'red%' part filter broadcasts; supplier+nation broadcasts; one
    * fact shuffle for the 25×7-group agg.
    */
  def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val redParts = t(s, dir, "part")
      .filter(col("p_name").startsWith("red"))
      .select(col("p_partkey"), col("p_retailprice"))
    val suppNat = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    // quantity is integral 1..50 (measured) — double→long→decimal skips
    // the string-parse decimal cast and is value-identical for integers
    val cost = dec2(col("p_retailprice"), 12) *
      col("l_quantity").cast("long").cast("decimal(4,0)")
    t(s, dir, "lineitem")
      .join(JoinHints.gated(redParts, s"$dir|q9.redParts"),
        col("l_partkey") === col("p_partkey"))
      .join(JoinHints.gated(suppNat, s"$dir|q9.suppNat"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), year(col("l_shipdate")).cast("long").as("o_year"))
      .agg((sum(discPrice - cost) * 10000).cast("long").as("profit_c4"))
  }

  /** TPC-H Q11 shape: group revenue HAVING > fraction-of-global-total —
    * the scalar-subquery-in-HAVING pattern. The one-row total broadcasts
    * back against the SAME per-part agg (computed once, reused); the
    * fraction (1/2000) is cross-multiplied so the predicate is exact
    * integer. Headroom: total quarter-cents ≈ 2·10^15 at sf1 ×2000 —
    * still inside BIGINT at sf1000.
    */
  def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("partkey"))
      .agg((sum(discPrice) * 10000).cast("long").as("rev_c4"))
    val total = rev.agg(sum(col("rev_c4")).as("total_c4"))
    rev.join(broadcast(total))
      .filter(col("rev_c4") * 2000 > col("total_c4"))
      .select("partkey", "rev_c4")
  }

  /** TPC-H Q16 shape: distinct-supplier counts per part attribute, with
    * a NOT-IN exclusion subquery (suppliers in deficit). The exclusion
    * is a broadcast LEFT ANTI (null-safe by construction: keys are
    * non-null); count(DISTINCT) runs as two-phase partial-distinct.
    */
  def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part")
      .filter(col("p_type") =!= "ECONOMY" &&
        col("p_size").isin(1, 5, 9, 13, 17, 21))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val deficit = t(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    t(s, dir, "lineitem")
      .join(JoinHints.gated(parts, s"$dir|q16.parts"),
        col("l_partkey") === col("p_partkey"))
      .join(JoinHints.gated(deficit, s"$dir|q16.deficit"),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q17 shape: rows below 0.2×per-group-average — the correlated
    * AVG subquery. The average is never divided: qty < 0.2·(sum/n) is
    * cross-multiplied to 5·qty_c·n < sum_c over integer centi-units, so
    * the boundary is engine-exact. The per-part stats ride the same
    * l_partkey keying as the join-back; output is one total-cents row.
    */
  def q17SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      col("l_partkey").as("partkey"),
      (col("l_quantity") * 100).cast("long").as("qty_c"),
      col("l_extendedprice"))
    val stats = li.groupBy("partkey")
      .agg(sum("qty_c").as("sum_c"), count(lit(1)).as("n"))
    li.join(stats, Seq("partkey"))
      .filter(col("qty_c") * 5 * col("n") < col("sum_c"))
      .agg((sum(dec2(col("l_extendedprice"), 12)) * 100)
        .cast("long").as("revenue_cents"))
  }

  /** TPC-H Q19 shape: disjunction of brand×size×quantity conjunctions —
    * the OR-of-ANDs predicate the optimizer must keep partially
    * pushable (the common `l_partkey = p_partkey` join under the OR).
    * part broadcasts; the three arms cover distinct brands so no row
    * double-counts.
    */
  def q19DisjunctivePreds(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .join(JoinHints.gated(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_size")),
          s"$dir|q19.part"),
        col("l_partkey") === col("p_partkey"))
    li.filter(
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#12" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#21" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 40)))
      .agg((sum(discPrice) * 10000).cast("long").as("revenue_c4"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q20 shape: nested IN subqueries — suppliers who shipped more
    * than 300 units of 'cold%' parts in 1997 (partkey IN part-filter,
    * suppkey IN heavy-shipper agg). Both inner subqueries reduce before
    * touching supplier; the final probe is LEFT SEMI against a
    * 100-row supplier table.
    */
  def q20ExcessSuppliers(s: SparkSession, dir: String): DataFrame = {
    val coldParts = t(s, dir, "part")
      .filter(col("p_name").startsWith("cold")).select(col("p_partkey"))
    val heavy = t(s, dir, "lineitem")
      .filter(year(col("l_shipdate")) === 1997)
      .join(JoinHints.gated(coldParts, s"$dir|q20.coldParts"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_quantity") * 100).cast("long")).as("qty_c"))
      .filter(col("qty_c") > 300 * 100)
    t(s, dir, "supplier")
      .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
  }

  /** TPC-H Q21 shape: the EXISTS(other) AND NOT EXISTS(other failing)
    * double-correlation — suppliers solely responsible for a returned
    * line on a multi-supplier order. Re-expressed Spark-first as ONE
    * keyed aggregate over l_orderkey computing both distinct counts
    * (all suppliers; R-suppliers via conditional distinct — nulls are
    * ignored, so the CASE restricts the domain) plus the min R-supplier
    * — the count-based form of the double EXISTS: one fact scan, one
    * shuffle, no correlated re-scan per row. The oracle deliberately
    * keeps the two-CTE EXISTS formulation, so the compare also checks
    * this fusion.
    *
    * The distinct counts run as a TWO-LEVEL aggregate: pre-aggregate on
    * the natural (orderkey, suppkey) key, then a plain count/sum roll-up.
    * Two countDistinct in one agg would plan an Expand (doubling every
    * pre-shuffle row, and Expand output defeats map-side combine); the
    * two-level form keeps both shuffles partially aggregated — measured
    * 1.8 s → 0.8 s at sf0.1, 3.2 s → 2.2 s at sf1, row-identical
    * (tools/Q21Probe, last at commit dd46e98).
    */
  def q21SoleBlame(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("l_returnflag") === "R", lit(1L))
        .otherwise(lit(0L))).as("has_r"))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"), sum(col("has_r")).as("n_r"),
        min(when(col("has_r") === 1L, col("l_suppkey"))).as("suppkey"))
      .filter(col("n_supp") >= 2 && col("n_r") === 1)
      .groupBy("suppkey")
      .agg(count(lit(1)).as("numwait"))
  }

  /** TPC-H Q22 shape: customers above the positive-average balance with
    * no RECENT orders (every customer in this corpus has some order, so
    * the idle predicate is windowed to stay discriminative) — scalar AVG
    * subquery + NOT EXISTS anti-join, grouped by nation. The average is
    * cross-multiplied (bal_c·n > sum_c) over exact cents; the orderer
    * side is a distinct custkey projection so the anti join is
    * key-vs-key.
    */
  def q22IdleCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(
      col("c_custkey"), col("c_nationkey"),
      round(col("c_acctbal") * 100).cast("long").as("bal_c"))
    val posAvg = c.filter(col("bal_c") > 0)
      .agg(sum("bal_c").as("sum_c"), count(lit(1)).as("n_pos"))
    val orderers = t(s, dir, "orders")
      .filter(col("o_orderdate") >= "2000-01-01")
      .select(col("o_custkey")).distinct()
    c.join(broadcast(posAvg))
      .filter(col("bal_c") * col("n_pos") > col("sum_c"))
      .join(orderers, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("numcust"), sum("bal_c").as("totbal_c"))
  }
}
