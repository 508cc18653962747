package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.PortableHash.pround

/** Relational breadth (SURVEY.md §2.4–§2.6): the set-oriented re-expression of
  * the reference's lookups/filters plus the idiomatic Spark surface (joins of
  * every flavor, hash aggregates, windows, top-k, set ops, rollup).
  *
  * Scale notes (100 TB design point):
  *  - Dimension joins (nation/region/supplier) are `broadcast()` — no shuffle.
  *  - Fact-fact joins (orders⋈customer, lineitem⋈orders) shuffle on the join
  *    key; at scale these tables would be co-bucketed on the key so the
  *    shuffle disappears. AQE handles skew.
  *  - Aggregates are partial (map-side combine) automatically via hash
  *    aggregation; every `ORDER BY` in these queries sits on top of an
  *    already-reduced result (small), except q02/q14 which sort row-level
  *    output only to make the driver's hash compare deterministic.
  *  - Every double aggregate is `round()`ed: summation order across
  *    partitions is nondeterministic, so unrounded doubles would not be
  *    byte-stable (nor DuckDB-comparable).
  */
object Relational {

  /** q01: pricing summary — hash aggregate with map-side combine (TPC-H Q1
    * shape; the engine analog of the reference's per-record fee arithmetic,
    * report_generator.py:75-86, made set-oriented).
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= lit("2000-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q02: selective filter + narrow projection — exercises parquet predicate
    * pushdown and column pruning (the engine form of early validation,
    * SURVEY §4 "reject before expensive work"). Plan must show PushedFilters
    * + a 5-column ReadSchema.
    */
  def filterProject(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_quantity") > 45 && col("l_discount") < 0.02)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        pround(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2).as("net_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** q03: enrichment join + found-filter — J2 (parcel enrichment,
    * crs_ui_bot.py:234-250 → orders⋈customer) with the F10 null/404 channel
    * as a post-join filter. Shuffle join on o_custkey; at scale: co-bucket
    * both tables on custkey.
    */
  def enrichOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"), "left")
      .filter(col("c_custkey").isNotNull)
      .select(
        col("o_orderkey"), col("c_name"), col("c_mktsegment"),
        pround(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** q109: the co-located twin of q03 — the 100 TB answer to the note on
    * `enrichOrders` ("at scale: co-bucket both tables on custkey"), run for
    * real instead of left as a comment. Both sides are materialized bucketed
    * by the join key (`bucketBy(16, custkey)` + in-bucket sort), so the
    * sort-merge join consumes bucket layout directly: **no shuffle exchange
    * on either side** (BucketingSpec asserts the plan). At fact ⋈ fact scale
    * this removes the dominant cost of q03 — the two-sided hash repartition
    * of every row — and is the layout a nightly pipeline would maintain for
    * its hottest join key.
    *
    * The residual per-side `Sort` is a modern-Spark default: since 3.0 the
    * scan only advertises the in-bucket `sortBy` order under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (unsound for
    * multi-file buckets; this write guarantees one file per bucket, so the
    * flag is sound here and elides the sorts too — proven in BucketingSpec,
    * left at default in the engine). That sort is bucket-local and
    * shuffle-free either way.
    *
    * Materialization is once per session per scale dir (idempotent catalog
    * check): the bench's warm-up pass pays the write, timed passes measure
    * the bucket-reading join itself. The `merge` hint pins SMJ because at
    * test SF the customer side is broadcast-small — at the target scale SMJ
    * over buckets is the only viable strategy, which is the plan being
    * proven. Result is identical to q03 (same oracle SQL).
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val ordersTable = s"b_orders$tag"
    val custTable = s"b_customer$tag"
    if (!spark.catalog.tableExists(ordersTable)) {
      // the in-memory catalog forgets tables across sessions but the
      // warehouse directory persists — clear stale locations first
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(ordersTable, custTable).foreach { t =>
        fs.delete(new org.apache.hadoop.fs.Path(wh, t.toLowerCase), true)
      }
      // one file per bucket (repartition on the bucket key aligns with the
      // bucket hash): Spark only consumes the in-bucket sortBy order when a
      // bucket is a single file — multi-file buckets get re-sorted at read
      Tables.orders(spark, dir).repartition(16, col("o_custkey"))
        .write.bucketBy(16, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable(ordersTable)
      Tables.customer(spark, dir).repartition(16, col("c_custkey"))
        .write.bucketBy(16, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable(custTable)
    }
    val o = spark.table(ordersTable)
    val c = spark.table(custTable)
    o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .select(
        col("o_orderkey"), col("c_name"), col("c_mktsegment"),
        pround(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** q04: semi join — J1 (auth probe, app.py:30): customers that exist in
    * orders. Broadcast-able at dim scale; EXISTS in the oracle.
    */
  def semiJoinActive(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** q05: anti join — the rejection channel of J1/F2: customers with no
    * order activity in a probe month (NOT EXISTS against the March-1995
    * order slice). The slice is what makes the query NON-VACUOUS: every
    * customer has orders somewhere in 1995–2001, so the unrestricted form
    * kept 0 rows at every tested scale and the anti-join's output path was
    * never exercised (round-14 verdict). Restricting the right side to one
    * month keeps ~88% of customers while preserving the LeftAnti plan shape
    * PlanAudit pins; the month filter pushes down to the orders scan.
    */
  def antiJoinInactive(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-03-01").cast("timestamp_ntz")
        && col("o_orderdate") < lit("1995-04-01").cast("timestamp_ntz"))
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), pround(col("c_acctbal"), 2).as("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** q06: geo dimension expansion — J3 (state→county, App.js:16-130 →
    * region⋈nation), broadcast hash join, zero shuffle.
    */
  def geoExpand(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir)
    val n = Tables.nation(spark, dir)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .orderBy(col("region_name"), col("nation_name"))
  }

  /** q07: first-of-group — J4 (county default repair = "first of the state's
    * list", App.js:313-319): earliest order per customer via a ranking
    * window with a deterministic (o_orderdate, o_orderkey) tie-break.
    */
  def firstOrderPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey").as("first_orderkey"),
              col("o_orderdate").as("first_orderdate"))
      .orderBy(col("o_custkey"))
  }

  /** q08: star join — lineitem ⋈ broadcast(part) ⋈ broadcast(supplier):
    * revenue by brand. Two broadcast joins, one shuffle (the final agg).
    */
  def revenueByBrand(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir)
    val s  = Tables.supplier(spark, dir)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .join(broadcast(s), li("l_suppkey") === s("s_suppkey"))
      .groupBy(col("p_brand"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"),
        count_distinct(col("s_suppkey")).as("n_suppliers"))
      .orderBy(col("p_brand"))
  }

  /** q14: analytic windows — running sum / rank / lag per supplier over a
    * deterministic total order (shipdate, orderkey, linenumber). The running
    * double sum is order-defined, so both engines add in the same sequence →
    * bit-identical before rounding. Bounded to suppkey<50 to keep row output
    * small; the window itself scales (partition-parallel by suppkey).
    */
  def supplierRunning(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).filter(col("l_suppkey") < 50)
    val w  = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    li.select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        row_number().over(w).cast("long").as("rn"),
        pround(sum(col("l_quantity")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).as("running_qty"),
        pround(lag(col("l_quantity"), 1, 0.0).over(w), 2).as("prev_qty"))
      .orderBy(col("l_suppkey"), col("rn"))
  }

  /** q15: top-k — global order-by + limit (the reference's first-match /
    * limit-1 semantics F9 generalized). Spark plans this as TakeOrderedAndProject
    * (per-partition top-k + merge, no full sort).
    */
  def topOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), pround(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** q16: set operations — union / intersect / except over two customer
    * selections, tagged so one result covers all three.
    */
  def segmentSetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val rich     = c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
    val both     = building.intersect(rich).withColumn("tag", lit("both"))
    val only     = building.except(rich).withColumn("tag", lit("building_only"))
    both.unionByName(only)
      .select(col("tag"), col("c_custkey"))
      .orderBy(col("tag"), col("c_custkey"))
  }

  /** q17: rollup — hierarchical aggregate with grouping_id (subtotals +
    * grand total in one pass, Expand-based).
    */
  def rollupPricing(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"),
           grouping_id(col("l_returnflag"), col("l_linestatus")).cast("long").as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }

  /** q64: explicit GROUPING SETS — the general form behind rollup/cube
    * (q17/q26): per-flag totals, per-status totals, and the grand total in
    * ONE pass (a single Expand + hash aggregate, not three scans).
    */
  def groupingSetsPricing(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"),
           grouping_id(col("l_returnflag"), col("l_linestatus")).cast("long").as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }

  /** q65: array-function breadth — per-order line arrays built by a hash
    * aggregate, then transformed with the higher-order array surface
    * (sort/slice/distinct/contains/element_at/join). Outputs stay scalar so
    * the oracle compare is type-exact. */
  def arrayOps(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).filter(col("l_orderkey") % 100 === 0)
    val grouped = li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"),
           collect_list(col("l_quantity").cast("long")).as("qtys"))
    grouped.select(
        col("l_orderkey"),
        size(col("lines")).as("n_lines"),
        array_join(transform(slice(col("lines"), 1, 3), _.cast("string")), ",").as("first3"),
        size(array_distinct(col("qtys"))).as("n_distinct_qty"),
        array_contains(col("lines"), 7).as("has_line7"),
        element_at(col("lines"), -1).as("max_line"))
      .orderBy(col("l_orderkey"))
  }

  /** q79: KMV distinct sketch — the custom typed-Aggregator tier (SURVEY
    * §2.8), chosen over HLL for the sketch because "K smallest distinct
    * hashes" is deterministic under any partitioning and reproducible in
    * any engine with the same hash: the DuckDB oracle computes the
    * *identical* estimate, so even the sketch path is hash-checked (q19's
    * HLL can only be rows-checked). Bounded K-long state per group,
    * partial-aggregated and tree-merged like any algebraic aggregate.
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{KmvSketch, PortableHash}
    val kmv = udaf(KmvSketch)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_partkey"),
        PortableHash.h48(col("l_partkey").cast("string")).as("hv"))
    li.groupBy(col("l_returnflag"))
      .agg(kmv(col("hv")).as("kmv_est"),
           count_distinct(col("l_partkey")).as("exact_distinct"))
      .orderBy(col("l_returnflag"))
  }

  /** q18: distinct counts — exact count_distinct per group (two distinct
    * aggregates → Expand; at scale prefer the HLL variant, see
    * `approxDistinct` which the bench runs without an oracle).
    */
  def distinctCounts(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"))
      .agg(
        count_distinct(col("l_partkey")).as("n_parts"),
        count_distinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** q26: cube — all grouping-set combinations over (returnflag, priority)
    * via orders⋈lineitem, with grouping_id disambiguation.
    */
  def cubePricing(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .cube(col("l_returnflag"), col("o_orderpriority"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"),
           grouping_id(col("l_returnflag"), col("o_orderpriority")).cast("long").as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("o_orderpriority"))
  }

  /** q69: approximate percentiles — the scale path for q27: a mergeable
    * GK/KLL-style sketch with bounded state per group instead of a per-group
    * sort, so quantiles of a 100 TB column cost one pass + constant-size
    * merges. The sketch values are engine-specific, so the oracle-checked
    * surface is the audit form (like q19): exact p50/p90 plus a
    * `within_1pct` bit proving the sketch tracks them; DuckDB recomputes
    * the exact columns and asserts the bit. Raw estimates stay available
    * via `approxPercentilesRaw` for ApproxSpec's numeric bound.
    */
  def approxPercentilesRaw(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_approx(l_extendedprice, 0.5, 10000)").as("ap50"),
        expr("percentile_approx(l_extendedprice, 0.9, 10000)").as("ap90"),
        expr("percentile(l_extendedprice, 0.5)").as("ep50"),
        expr("percentile(l_extendedprice, 0.9)").as("ep90"),
        count(lit(1)).as("n_rows"))
  }

  def approxPercentiles(spark: SparkSession, dir: String): DataFrame =
    approxPercentilesRaw(spark, dir)
      .select(col("l_returnflag"),
        pround(col("ep50"), 4).as("p50"),
        pround(col("ep90"), 4).as("p90"),
        (abs(col("ap50") - col("ep50")) <= col("ep50") * lit(0.01) &&
         abs(col("ap90") - col("ep90")) <= col("ep90") * lit(0.01)).as("within_1pct"),
        col("n_rows"))
      .orderBy(col("l_returnflag"))

  /** q27: exact percentiles — median/p90 of extended price per return flag
    * (linear interpolation; sorts are partition-local per group).
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"))
      .agg(
        pround(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        pround(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
        pround(min(col("l_extendedprice")), 4).as("p_min"),
        pround(max(col("l_extendedprice")), 4).as("p_max"))
      .orderBy(col("l_returnflag"))
  }

  /** Histogram geometry for [[histogramQuantiles]]. */
  val QuantileBuckets = 1024

  /** q122: histogram quantiles — fully deterministic approximate quantiles
    * via a fixed [[QuantileBuckets]]-bucket equi-width histogram, with the exact
    * rank value audited in-query (the q19/q69/q121 pattern). Unlike the GK
    * sketch (q69), whose internal estimates are engine-specific, every
    * number here is reproducible bit-for-bit on any engine: bucket
    * assignment, cumulative counts, and the bucket lower edge reported as
    * the estimate are all exact-integer or identical-IEEE arithmetic — so
    * the ESTIMATE itself is oracle-checked, not just an error bound.
    *
    * Scale shape: one tiny extent aggregate, one bucketing pass with a
    * map-side-partial 1024-key hash aggregate (the 1024-row histogram is
    * collected driver-side — aggregate-level data, never rows). The exact
    * rank value is recovered by RECURSIVE BUCKET REFINEMENT, never a
    * global sort or row-level window: bucket indices are monotone in the
    * value, so the global rank-k row is the (k − cum(b−1))-th row of its
    * estimated bucket b under the same ordering. While the measured bucket
    * population exceeds [[RefineTaskRows]], the bucket is re-histogrammed
    * into 1024 sub-buckets (one filtered aggregate pass per level — each
    * level divides the candidate set by ~1024, so 100 TB needs ~2 levels),
    * and the final rank is a distributed top-r (`TakeOrderedAndProject`,
    * per-partition heaps) over a task-sized row set, reduced with one
    * struct-max. No Window ever touches row-level data, at any n.
    * Assumes a non-degenerate extent (min < max), which holds for any
    * real-valued measure column.
    */
  def histogramQuantiles(spark: SparkSession, dir: String): DataFrame =
    histogramQuantilesImpl(spark, dir, RefineTaskRows)

  /** Bucket population at or below which the rank is recovered directly
    * with a distributed top-r instead of another refinement level: the
    * top-r heap union must fit one driver/task comfortably. */
  val RefineTaskRows = 262144L

  private[graft] def histogramQuantilesImpl(spark: SparkSession, dir: String,
      taskRows: Long): DataFrame =
    histogramQuantilesOf(spark, Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").as("x"), col("l_orderkey"), col("l_linenumber")),
      taskRows)

  /** Core of q122 over an arbitrary (x, l_orderkey, l_linenumber) relation —
    * exposed so specs can drive the refinement's degenerate paths (a
    * heavier-than-taskRows mass on ONE exact value) independently of the
    * test tables.
    */
  private[graft] def histogramQuantilesOf(spark: SparkSession,
      li: DataFrame, taskRows: Long): DataFrame = {
    val extR = li.agg(min(col("x")), max(col("x")), count(lit(1))).head
    val (lo, hi, n) = (extR.getDouble(0), extR.getDouble(1), extR.getLong(2))
    // IEEE-identical to the oracle's Column arithmetic: (hi−lo)/1024.0 then
    // floor((x−lo)/width) — the driver doubles go through the same ops
    val width = (hi - lo) / QuantileBuckets.toDouble
    def bucketCol(x: Column): Column =
      least(lit(QuantileBuckets - 1L), floor((x - lit(lo)) / lit(width)))
    def bucketOfVal(v: Double): Long =
      math.min(QuantileBuckets - 1L, math.floor((v - lo) / width).toLong)
    val hist = li.select(bucketCol(col("x")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val cumOf = hist.scanLeft((-1L, 0L)) { case ((_, c), (b, bn)) => (b, c + bn) }.drop(1)
    val rows = Seq(0.5, 0.9, 0.99).map { q =>
      val k = math.ceil(q * n).toLong
      // estimated bucket: smallest with cum ≥ k (same min-over-join as before)
      val bi = cumOf.indexWhere(_._2 >= k)
      val (b1, cum1) = cumOf(bi)
      val bn1 = hist(bi)._2
      // refinement state: predicate pinning the current bucket chain, rank
      // within it, and the chain's value range
      var pred = bucketCol(col("x")) === b1
      var r = k - (cum1 - bn1)
      var bn = bn1
      var bLo = lo + b1 * width
      var w = width
      // set when a degenerate chain resolves the value without the top-r
      var resolved: Option[Double] = None
      while (resolved.isEmpty && bn > taskRows) {
        val subW = w / QuantileBuckets.toDouble
        // clamped sub-bucket: FP wobble at range edges only shifts boundary
        // rows into edge buckets MONOTONICALLY, so rank arithmetic stays
        // exact (the row set is pinned by the parent predicate, not by the
        // value range)
        def subCol(x: Column): Column =
          greatest(lit(0L), least(lit(QuantileBuckets - 1L),
            floor((x - lit(bLo)) / lit(subW))))
        val subHist = li.filter(pred).select(subCol(col("x")).as("sb"))
          .groupBy(col("sb")).agg(count(lit(1)).as("bn"))
          .collect().map(rr => rr.getLong(0) -> rr.getLong(1)).sortBy(_._1)
        val subCum = subHist.scanLeft((-1L, 0L)) { case ((_, c), (b, x2)) => (b, c + x2) }.drop(1)
        val si = subCum.indexWhere(_._2 >= r)
        val (sb, scum) = subCum(si)
        val sbn = subHist(si)._2
        if (sbn == bn) {
          // No split: every chain row landed in one sub-bucket. Without a
          // guard this loops forever — a heavier-than-taskRows mass on ONE
          // exact value can never be divided by value-range bucketing, and
          // once subW underflows the bucketing itself degenerates (0/0 →
          // NaN). Re-anchor the histogram to the chain's EXACT extent: a
          // single tiny aggregate, after which min falls in bucket 0 and
          // max in bucket 1023, so the next split strictly progresses —
          // unless the extent says there is nothing left to split.
          val ext = li.filter(pred).agg(min(col("x")), max(col("x"))).head
          val (cLo, cHi) = (ext.getDouble(0), ext.getDouble(1))
          if (cLo == cHi) {
            // the whole chain is one exact value: any rank within it IS it
            resolved = Some(cLo)
          } else if (cLo + (cHi - cLo) / QuantileBuckets.toDouble == cLo) {
            // sub-ulp extent: fewer distinct doubles exist in [cLo, cHi]
            // than sub-buckets — value-level counts are aggregate-sized
            val vh = li.filter(pred).groupBy(col("x")).agg(count(lit(1)).as("c"))
              .collect().map(rr => rr.getDouble(0) -> rr.getLong(1)).sortBy(_._1)
            var acc = 0L
            resolved = Some(vh.find { case (_, c) => { acc += c; acc >= r } }.get._1)
          } else {
            bLo = cLo
            w = cHi - cLo
          }
        } else {
          pred = pred && (subCol(col("x")) === sb)
          r = r - (scum - sbn)
          bn = sbn
          bLo = bLo + sb * subW
          w = subW
        }
      }
      // rank-r row under (x, orderkey, linenumber) = max of the top-r —
      // TakeOrderedAndProject (distributed per-partition heaps), r ≤ taskRows
      val exactVal = resolved.getOrElse(li.filter(pred)
        .orderBy(col("x"), col("l_orderkey"), col("l_linenumber"))
        .limit(r.toInt)
        .agg(max(struct(col("x"), col("l_orderkey"), col("l_linenumber"))).as("s"))
        .head.getStruct(0).getDouble(0))
      def pr4(v: Double): Double = math.floor(v * 10000.0 + 0.5) / 10000.0
      (q, pr4(lo + b1 * width), pr4(exactVal), bucketOfVal(exactVal) == b1, n)
    }
    import spark.implicits._
    rows.toDF("q", "est_p", "exact_p", "within_bucket", "n")
      .orderBy(col("q"))
  }

  /** q28: JSON serde round-trip — S1/S12 (schema-on-read ingest + session
    * persistence): serialize records with to_json, corrupt a deterministic
    * subset, re-parse with from_json (PERMISSIVE → null struct = the bad-record
    * channel, exactly `request.json or {}`).
    */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val rec = o.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_orderpriority"))
    val js = to_json(struct(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority")))
    val corrupted = when(col("o_orderkey") % 11 === 0, concat(lit("corrupt"), js)).otherwise(js)
    val schema = "o_orderkey BIGINT, o_orderstatus STRING, o_orderpriority STRING"
    rec.withColumn("parsed", from_json(corrupted, org.apache.spark.sql.types.StructType.fromDDL(schema)))
      .select(col("o_orderkey"),
        // field-level null check: malformed input yields either a null struct
        // or an all-null struct depending on parser mode — both read as false
        col("parsed.o_orderstatus").isNotNull.as("ok"),
        col("parsed.o_orderstatus").as("rt_status"),
        col("parsed.o_orderpriority").as("rt_priority"))
      .orderBy(col("o_orderkey"))
  }

  /** q100: CSV ingestion surface (SURVEY §2.1 S1 family) — `from_csv` over a
    * delimited wire column with a typed schema and a null-on-malformed
    * channel (every 13th record carries an unparseable balance, taking the
    * same ""/null failure path as the reference formatters). The balance
    * rides the wire as a DECIMAL(18,2) string (the engine's cross-engine
    * double→string convention) and parses back to DOUBLE. Pure narrow
    * projection.
    */
  def csvParse(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val balStr = graft.functions.PortableHash.pround(col("c_acctbal"), 2)
      .cast("decimal(18,2)").cast("string")
    val line = concat(
      col("c_custkey").cast("string"), lit(","),
      col("c_name"), lit(","),
      when(col("c_custkey") % 13 === 0, lit("not-a-number")).otherwise(balStr))
    val schema = "k BIGINT, name STRING, bal DOUBLE"
    c.select(col("c_custkey"), line.as("line"))
      .withColumn("parsed", from_csv(col("line"),
        org.apache.spark.sql.types.StructType.fromDDL(schema),
        Map.empty[String, String]))
      .select(col("c_custkey"),
        col("parsed.name").as("parsed_name"),
        col("parsed.bal").as("parsed_bal"),
        col("parsed.bal").isNotNull.as("bal_ok"))
      .orderBy(col("c_custkey"))
  }

  /** q29: generator/UDTF surface — J3 (state→county expansion): regions with
    * their nation lists exploded back to rows with positions.
    */
  def explodeGeo(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir)
    val n = Tables.nation(spark, dir)
    val grouped = n.groupBy(col("n_regionkey"))
      .agg(sort_array(collect_list(col("n_name"))).as("nations"))
      .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
    grouped.select(col("r_name").as("region_name"),
        posexplode(col("nations")))
      .withColumnRenamed("pos", "pos").withColumnRenamed("col", "nation_name")
      .select(col("region_name"), col("pos").cast("long").as("pos"), col("nation_name"))
      .orderBy(col("region_name"), col("pos"))
  }

  /** q43: calendar dimension derivation — year/quarter/month/day extraction
    * with per-period aggregates (the date-function surface).
    */
  def datePartsRollup(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(
        year(col("o_orderdate")).cast("long").as("y"),     // DuckDB year() is BIGINT
        quarter(col("o_orderdate")).cast("long").as("q"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 2).as("revenue"),
           countDistinct(month(col("o_orderdate"))).as("n_months"))
      .orderBy(col("y"), col("q"))
  }

  /** q44: math-function surface — sqrt/ln/abs/floor/ceil/mod chains (sqrt is
    * IEEE-correctly-rounded in both engines; ln agrees well inside the
    * 6-decimal rounding).
    */
  def mathFunctions(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).filter(col("l_orderkey") % 100 === 0)
    li.select(
        col("l_orderkey"), col("l_linenumber"),
        pround(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
        pround(log(col("l_extendedprice") + 1.0), 6).as("ln_price"),
        abs(col("l_discount") - 0.05).as("abs_disc"),
        floor(col("l_quantity") / 7.0).cast("long").as("floor_q7"),
        ceil(col("l_quantity") / 7.0).cast("long").as("ceil_q7"),
        (col("l_orderkey") % 97).as("mod97"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** q45: null-handling surface — coalesce / nullif / greatest / least with
    * engineered null channels.
    */
  def nullFunctions(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val balOrNull = nullif(pround(col("c_acctbal"), 2), lit(0.0))
    c.select(
        col("c_custkey"),
        coalesce(balOrNull, lit(-1.0)).as("bal_or_default"),
        greatest(pround(col("c_acctbal"), 2), lit(0.0)).as("bal_floor0"),
        least(pround(col("c_acctbal"), 2), lit(5000.0)).as("bal_cap5k"),
        isnull(balOrNull).as("was_zero"))
      .orderBy(col("c_custkey"))
  }

  /** q46: pivot — event counts per user across the (fixed, deterministic)
    * event-type domain; conditional aggregation under the hood, one shuffle.
    */
  def pivotEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy(col("user_id"))
  }

  /** q70: unpivot/melt — the inverse of q46's pivot: the wide per-user
    * histogram back to long (user_id, event_type, n) form, dropping the
    * fill-zeros so the round trip reproduces the sparse groupBy exactly
    * (which is what the oracle computes directly). Wide→long reshaping is
    * a narrow Expand (one output row per value column per input row) — no
    * shuffle beyond the pivot's own aggregation.
    */
  def unpivotEvents(spark: SparkSession, dir: String): DataFrame = {
    val wide = pivotEvents(spark, dir)
    wide.unpivot(
        Array(col("user_id")),
        Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
        "event_type", "n")
      .filter(col("n") > 0)
      .orderBy(col("user_id"), col("event_type"))
  }

  /** q72: date-spine gap filling — generate the full calendar between the
    * corpus's first and last order date and left-join daily counts onto it,
    * zero-filling silent days (the standard time-series densification step
    * dashboards and trend models need). The spine is generated, not stored:
    * a `sequence` + `explode` over one aggregated row, broadcast against
    * the daily aggregate.
    */
  def dateSpine(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val bounds = o.agg(min(col("o_orderdate")).as("lo"), max(col("o_orderdate")).as("hi"))
    val spine = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
    val daily = o.groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("revenue"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"))
      .orderBy(col("day"))
  }

  /** q73: share-of-total — each group's fraction of the grand total via an
    * unpartitioned window sum (ratio_to_report): one aggregation plus one
    * single-partition window over the tiny aggregate, never over the fact.
    */
  def shareOfTotal(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val byFlag = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val w = Window.partitionBy()
    byFlag.select(
        col("l_returnflag"),
        round(col("rev"), 2).as("revenue"),
        pround(col("rev") / sum(col("rev")).over(w), 6).as("share"))
      .orderBy(col("l_returnflag"))
  }

  /** q74: above-group-average filter — the window-aggregate form of a
    * correlated subquery (`bal > avg(bal) over segment`): one pass, no
    * self-join, no subquery re-execution per row.
    */
  def aboveSegmentAverage(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val w = Window.partitionBy(col("c_mktsegment"))
    c.select(col("c_custkey"), col("c_mktsegment"),
        pround(col("c_acctbal"), 2).as("bal"),
        pround(avg(col("c_acctbal")).over(w), 2).as("seg_avg"))
      .filter(col("bal") > col("seg_avg"))
      .orderBy(col("c_custkey"))
  }

  /** q75: string aggregation (listagg) — deterministic by sorting the
    * collected values before joining; the grouped-collect shuffle carries
    * value lists only for the grouped keys.
    */
  def stringAgg(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"))
      .agg(count(lit(1)).as("n_nations"),
           array_join(sort_array(collect_list(col("n_name"))), "|").as("nations_list"))
      .orderBy(col("region_name"))
  }

  private val HistBuckets = 10

  /** q76: numeric histogram — fixed-width bucketing of account balances
    * over the observed [min, max] range: two passes (bounds, then a
    * bucket-keyed count), both partial-aggregated; the bucket arithmetic is
    * identical integer-derived FP in both engines.
    */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val b = c.agg(min(col("c_acctbal")).as("lo"), max(col("c_acctbal")).as("hi"))
    c.crossJoin(broadcast(b))
      .select(least(
          floor((col("c_acctbal") - col("lo")) / (col("hi") - col("lo")) * HistBuckets),
          lit(HistBuckets - 1)).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** q77: trailing 7-day moving average over the dense daily series — a
    * RANGE frame (interval-bounded, not row-counted): correct even if the
    * series had gaps, and the frame arithmetic is exact (integer sums and
    * counts divided once).
    */
  def movingAverage(spark: SparkSession, dir: String): DataFrame = {
    val daily = dateSpine(spark, dir).select(col("day"), col("n_orders"))
    val byDay = Window.orderBy(col("epoch_day")).rangeBetween(-6, 0)
    daily
      .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      .select(col("day"), col("n_orders"),
        pround(avg(col("n_orders")).over(byDay), 4).as("ma7"),
        sum(col("n_orders")).over(byDay).as("sum7"))
      .orderBy(col("day"))
  }

  /** q78: value window functions — first/last/nth over an interval frame
    * per segment with a deterministic tie-broken order.
    */
  def valueWindows(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_custkey") <= 2000)
    val bal = pround(col("c_acctbal"), 2)
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(bal, col("c_custkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c.select(col("c_custkey"), col("c_mktsegment"), bal.as("bal"),
        first(col("c_custkey")).over(full).as("poorest_key"),
        last(col("c_custkey")).over(full).as("richest_key"),
        nth_value(col("c_custkey"), 2).over(full).as("second_key"))
      .orderBy(col("c_custkey"))
  }

  /** q49: ranking-window breadth — ntile / percent_rank / cume_dist / lead
    * over a deterministic per-segment order.
    */
  def windowBreadth(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_custkey") <= 2000)
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(pround(col("c_acctbal"), 2), col("c_custkey"))
    c.select(
        col("c_mktsegment"), col("c_custkey"),
        pround(col("c_acctbal"), 2).as("bal"),
        ntile(4).over(w).cast("long").as("quartile"),
        pround(percent_rank().over(w), 6).as("pct_rank"),
        pround(cume_dist().over(w), 6).as("cume"),
        lead(col("c_custkey"), 1, -1L).over(w).as("next_custkey"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  /** q54: string-function breadth — levenshtein / pad / repeat / reverse /
    * slice / position / split_part over customer names.
    */
  def stringBreadth(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_custkey") <= 1000)
    c.select(
        col("c_custkey"),
        levenshtein(col("c_name"), lit("Customer#000000001")).cast("long").as("lev_to_first"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded_key"),
        reverse(col("c_name")).as("rev_name"),
        substring(col("c_name"), 1, 8).as("prefix8"),
        instr(col("c_name"), "#").cast("long").as("hash_pos"),
        split_part(col("c_name"), lit("#"), lit(2)).as("num_part"),
        repeat(lit("*"), (col("c_custkey") % 5).cast("int") + 1).as("stars"))
      .orderBy(col("c_custkey"))
  }

  /** HLL sketch distinct — the 100 TB path for count-distinct, constant
    * memory per group. The sketch value itself is engine-specific, so the
    * oracle-checked surface (q19) is the *audit* form: exact distinct plus a
    * `within_5pct` bit proving the HLL estimate tracks it — the same
    * pattern as q91's quantized-recall audit. DuckDB recomputes the exact
    * column and asserts the bit TRUE, so the whole row hash-checks; the raw
    * estimate stays available via `approxDistinctRaw` (ApproxSpec's numeric
    * bound). In production only the sketch side runs — the exact column here
    * is the verification harness, not the scale path.
    */
  def approxDistinctRaw(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
           count_distinct(col("l_partkey")).as("exact_parts"))
  }

  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    approxDistinctRaw(spark, dir)
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts"))
          <= col("exact_parts") * lit(0.05)).as("within_5pct"))
      .orderBy(col("l_returnflag"))

  /** q106: SCD type-2 dimension build — turn each customer's order-priority
    * history into versioned validity intervals with change suppression
    * (consecutive equal states collapse into one version; `valid_to` is the
    * next CHANGE's start; the open version is flagged current). The classic
    * warehouse operator for "property record changed — version it, don't
    * overwrite it" (the reference's archive-overwrite semantics, upgraded to
    * versioned history).
    *
    * Scale shape: one shuffle on the customer key feeds BOTH windows (lag for
    * change detection, lead/row_number over the filtered change rows keep the
    * same partitioning — no second exchange), and the pre-dedup is a partial
    * hash aggregate on the same key.
    */
  def scd2Dimension(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    // one state observation per (customer, day): the latest order wins
    val ded = o.groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("prio"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
    ded
      .withColumn("prev", lag(col("prio"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("prio"))
      .select(col("o_custkey"), col("prio"),
        row_number().over(w).cast("long").as("version"),
        col("o_orderdate").cast("timestamp_ntz").as("valid_from"),
        lead(col("o_orderdate"), 1).over(w).cast("timestamp_ntz").as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("o_custkey"), col("version"))
  }

  /** Edit threshold for q107. Candidates come from the DELETION NEIGHBORHOOD
    * (FastSS / SymSpell): every name is indexed under each string obtainable
    * by deleting ≤ k characters. If ed(x, y) ≤ k then an optimal alignment
    * has subs + dels ≤ k chars to remove from x and subs + ins ≤ k from y to
    * reach the common aligned core, so D(x, k) ∩ D(y, k) ≠ ∅ — the filter is
    * exact (complete). Unlike positional/q-gram blocking, a low-entropy name
    * format ("Customer#0000…") does NOT inflate blocks: two names share a
    * deletion variant only when they genuinely agree on all but ≤ 2k
    * characters, so block sizes track true-neighbor density, not corpus
    * size. Variants are restricted to the last [[FuzzyWindow]] code points
    * (SymSpell's prefix-window trick mirrored to the suffix, where this
    * name format keeps its entropy): completeness for ed ≤ k holds because
    * edits outside the window leave both suffix windows equal up to a
    * ≤ net-indel boundary shift, which the in-window deletion budget
    * absorbs (see SymDeleteHashes.compute's scaladoc; property-tested in
    * PortableHashSpec, and the full-pairwise oracle re-proves it at every
    * driver run). Cost drops from C(18,≤2) ≈ 172 variant keys per 18-char
    * record to C(12,≤2) = 79, emitted map-side as 48-bit hashes.
    */
  val FuzzyK = 2

  /** Suffix-window width for q107's deletion variants. Must exceed
    * [[FuzzyK]]; wider = fewer verifier-rejected candidates (more of the
    * name's entropy in the key), narrower = fewer variant keys per row.
    * 12 keeps every digit of the reference's name format in the key. */
  val FuzzyWindow = 12

  /** q107: blocked fuzzy matching (record linkage) — candidate pairs come
    * from an equality join on deletion-neighborhood blocking keys, then
    * exact edit-distance ≤ 2 on the name decides the match (nation/segment
    * equality rides along in the candidate key — they are exact predicates,
    * so they belong in the join key). The entity-resolution shape for "same
    * property/owner, slightly different spelling".
    *
    * Scale shape: variant generation is a narrow map-side explode (no data
    * exchanged until the candidate join); the join key (variant-hash,
    * nation, segment) is near-unique, so the shuffle is uniform and block
    * products stay O(true duplicates); one levenshtein per DISTINCT
    * candidate pair verifies. Hash collisions on the 48-bit key only ever
    * ADD candidates (verified away), never drop a true pair.
    */
  def fuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val cands = fuzzyCandidates(spark, dir)
    cands
      .filter(levenshtein(col("x_name"), col("y_name")) <= FuzzyK)
      .select(col("cust_a"), col("cust_b"),
        col("nationkey"), col("mktsegment"),
        levenshtein(col("x_name"), col("y_name")).cast("long").as("edit_dist"))
      .orderBy(col("cust_a"), col("cust_b"))
  }

  /** Candidate-pair generation for q107, exposed so specs can bound the
    * candidate volume independently of the verifier. Emits one row per
    * distinct (cust_a < cust_b) pair sharing a ≤2-deletion variant of the
    * name plus nation and segment, carrying both names for verification.
    *
    * Hot-variant cap (the q102 lever applied to blocking): a variant block
    * carried by more than `graft.fuzzy.maxBlock` customers (default 64)
    * contributes O(df²) candidate pairs but almost no recall — names within
    * edit distance ≤2 share MANY deletion variants, so true pairs co-occur
    * in the rarer ones, while oversize blocks are boilerplate names ("LLC",
    * "Trust") whose pairs the verifier would reject anyway. The cap is a
    * partial WindowGroupLimit on the uniform block key: every map partition
    * ships at most cap+1 rows per block, and a block that still carries
    * cap+1 rows after the shuffle is dropped whole (see fuzzyCandidatesOf).
    * A million identical "John Smith"s therefore cannot quadratic
    * a block; exact-duplicate names at that density are a clustering
    * problem (q34/q62), not a pairwise one. At sf0.1 the max block is 14,
    * so the default cap provably does not change the oracle-checked output.
    */
  def fuzzyCandidates(spark: SparkSession, dir: String): DataFrame = {
    val maxBlock = graft.GraftConf.int(spark, "graft.fuzzy.maxBlock", 64)
    fuzzyCandidatesOf(Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment")),
      maxBlock)
  }

  /** Core of q107 over an arbitrary (c_custkey, c_name, c_nationkey,
    * c_mktsegment) relation — exposed so DedupSpec can bound the candidate
    * volume under a synthetic hot name independently of the test tables.
    */
  def fuzzyCandidatesOf(c: DataFrame, maxBlock: Int): DataFrame = {
    // distinct hashes of the 0/1/2-deletion neighborhood in ONE native pass
    // (SymDeleteHashes) — the composed transform/substr/concat construction
    // built ~L²/2 variant strings per row through interpreted CodegenFallback
    // HOFs, the megamorphic-eval surface that made this query swing 62↔142 s
    // run-to-run at 10× scale (see SymDeleteHashes scaladoc).
    //
    // The block key (variant, nation, segment) is PACKED into one xxhash64
    // long BEFORE the exchange (r18, guide §2.3 shuffle fewer bytes): the
    // variant-row shuffle+sort — q107's dominant stage, ~1.6M rows at
    // sf0.1 — then carries (bkey, custkey) = 2 longs instead of 2 longs +
    // nation + a segment STRING, and the window sort compares one long.
    // Completeness is untouched (equal triples hash equal); a 64-bit
    // collision can only MERGE two blocks, which (a) adds candidates that
    // the re-verify below rejects and (b) could in principle push a merged
    // block over the cap — but that needs ≥⌈cap/maxTrueBlock⌉ simultaneous
    // collisions on one key (p < 1e-15 at any realistic block census), the
    // same accepted-risk class as the 48-bit variant hash itself. Because
    // the key is now lossy, nation+segment equality is RE-VERIFIED exactly
    // on the joined rows below — the same verify-what-the-hash-proposed
    // discipline the levenshtein check applies to the name.
    val keyedAll = c.select(col("c_custkey"), col("c_nationkey"),
        col("c_mktsegment"),
        explode(graft.functions.SymDeleteHashes(col("c_name"), FuzzyWindow)).as("vhash"))
      .select(col("c_custkey"),
        xxhash64(col("vhash"), col("c_nationkey"), col("c_mktsegment")).as("bkey"))
    // Blocks materialize as bounded member lists in ONE exchange: rank rows
    // per block with a cap+1 limit — the rn filter plans a PARTIAL
    // WindowGroupLimit below the shuffle, so a pathological million-member
    // block ships ≤ cap+1 rows per map partition, the same skew bound the
    // previous count/anti-join pre-pass enforced — then collect the (now
    // provably ≤ cap+1) members on the already-partitioned key with no
    // second exchange. A truncated hot block surfaces as df = cap+1 and the
    // between() filter drops it whole, exactly the anti-join semantics. The
    // average block is a SINGLETON (1.5M blocks over 1.6M variant rows at
    // sf0.1), so blocks that can never produce a pair cost one exchanged
    // row each and nothing more.
    val w = Window.partitionBy(col("bkey")).orderBy(col("c_custkey"))
    // candidate pairs as narrow id rows: near-identical names share HUNDREDS
    // of deletion variants, so the in-block pair expansion carries high
    // multiplicity — dedupe on the 2 id columns BEFORE re-attaching names
    val candIds = keyedAll
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxBlock + 1)
      .groupBy(col("bkey"))
      .agg(collect_list(col("c_custkey")).as("ids"), count(lit(1)).as("df"))
      .filter(col("df").between(2, maxBlock))
      .withColumn("cust_a", explode(col("ids")))
      .withColumn("cust_b", explode(col("ids")))
      .filter(col("cust_a") < col("cust_b"))
      .select(col("cust_a"), col("cust_b"))
      .distinct()
    candIds
      .join(c.select(col("c_custkey").as("cust_a"), col("c_name").as("x_name"),
        col("c_nationkey").as("nationkey"), col("c_mktsegment").as("mktsegment")), "cust_a")
      .join(c.select(col("c_custkey").as("cust_b"), col("c_name").as("y_name"),
        col("c_nationkey").as("y_nationkey"), col("c_mktsegment").as("y_mktsegment")), "cust_b")
      // exact re-verify of the predicates the packed key only hashed
      .filter(col("nationkey") === col("y_nationkey") &&
        col("mktsegment") === col("y_mktsegment"))
      .select(col("cust_a"), col("cust_b"), col("nationkey"), col("mktsegment"),
        col("x_name"), col("y_name"))
  }
}
