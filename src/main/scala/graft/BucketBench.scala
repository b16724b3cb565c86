package graft

import org.apache.spark.sql.functions._

/** Scale-rung demo of the bucketed co-located join (graft.sources
  * .Bucketing): pre-shuffle lineitem and orders ONCE at write time,
  * bucketed+sorted by orderkey, then run the q3-shape fact-fact join
  * off the bucketed tables — SortMergeJoin with no Exchange on either
  * side — and the q5 shape (fact-fact join, per-custkey pre-aggregation,
  * customer join + broadcast dims). This is the 100-TB answer to the
  * shuffle cost the plain rung measures on q3/q18/q5: a fact table is
  * written once and joined many times, so the per-query shuffle
  * disappears into the (amortized) layout.
  *
  * Prints one JSON line:
  *   {"bucketed_write_s":…,"bucketed_join_s":…,"plain_join_s":…,
  *    "join_exchanges":N,"rows":N,
  *    "bucketed_q5_s":…,"plain_q5_s":…,"q5_exchanges":N,"q5_rows":N,
  *    "bucketed_q18_s":…,"plain_q18_s":…,"q18_exchanges":N(required 0),
  *    "q18_rows":N}
  * `join_exchanges` counts `Exchange hashpartitioning` nodes in the
  * q3-shape join's EXECUTED plan's Final Plan section (the same physical
  * plan the timing ran, via toRdd — not a pre-execution print of a
  * different Dataset, and truncated before AQE's "== Initial Plan =="
  * echo so nothing double-counts) — required 0: co-location proven.
  * `q5_exchanges` counts the same for the bucketed q5 shape: expected 3
  * (the per-custkey re-aggregation, the customer-join alignment of the
  * PRE-AGGREGATED ≤|customer| frame, and the final region/nation
  * re-aggregation), with the 600M-row lineitem⋈orders itself
  * exchange-free; AQE may broadcast-convert the customer join at small
  * SF, so the require is ≤3, and the 0-exchange fact-fact property is
  * what the q3-shape requirement pins exactly.
  *
  * Usage: spark-submit --class graft.BucketBench <jar>
  *   env SPARK_GRAFT_SF_DIR (rung dir), SPARK_GRAFT_CPUS,
  *   SPARK_GRAFT_BUCKETS (default 64).
  */
object BucketBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val buckets = sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "64").toInt
    val spark = GraftSession.build()

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")

    // The q3-shape fact-fact join + aggregation, parameterized by source.
    def q3Shape(
        l: org.apache.spark.sql.DataFrame,
        o: org.apache.spark.sql.DataFrame) =
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(o("o_orderkey"), o("o_orderdate"), o("o_orderpriority"))
        .agg(sum(Q.cents(l("l_extendedprice") * (lit(1.0) - l("l_discount"))))
          .as("revenue_cents"))

    // One-time layout cost: repartition BY THE BUCKET HASH first so each
    // bucket lands in one file (without it, every write task emits a
    // file per bucket -> tasks x buckets small files).
    val (_, wL) = time {
      graft.sources.Bucketing.writeBucketed(
        lineitem.repartition(buckets, col("l_orderkey")),
        "bb_lineitem", "l_orderkey", buckets)
    }
    val (_, wO) = time {
      graft.sources.Bucketing.writeBucketed(
        orders.repartition(buckets, col("o_orderkey")),
        "bb_orders", "o_orderkey", buckets)
    }

    val bl = spark.table("bb_lineitem")
    val bo = spark.table("bb_orders")

    // Execute via toRdd so the timed run IS the plan we then inspect
    // (count() builds a different Dataset whose execution never touches
    // this one's executedPlan, and would also collapse to metadata
    // counts on simpler shapes).
    def runAndCountExchanges(
        df: org.apache.spark.sql.DataFrame): (Long, Double, Int) = {
      val qe = df.queryExecution
      val t0 = System.nanoTime()
      val rows = qe.toRdd.count()
      val t = (System.nanoTime() - t0) / 1e9
      // post-execution: AQE has finalized the plan that actually ran.
      // The toString of an executed AdaptiveSparkPlan prints the Final
      // Plan AND an "== Initial Plan ==" section — truncate before
      // counting, or every exchange double-counts (r10 logged
      // q5_exchanges:6 for a 3-exchange final plan).
      val planStr = qe.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val exchanges = planStr.sliding("Exchange hashpartitioning".length)
        .count(_ == "Exchange hashpartitioning")
      (rows, t, exchanges)
    }

    val (bRows, tB, exchanges) = runAndCountExchanges(q3Shape(bl, bo))
    val (pRows, tP, _) = runAndCountExchanges(q3Shape(lineitem, orders))
    require(bRows == pRows, s"bucketed $bRows != plain $pRows")

    // The q5 shape: fact-fact join off the layout, pre-aggregate revenue
    // per custkey (≤|customer| rows), then join customer + broadcast
    // nation/region — the bucketed answer to q5's dominant shuffle.
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_nationkey")
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
      .select("n_nationkey", "n_regionkey", "n_name")
    val region = spark.read.parquet(s"$sfDir/region.parquet")
      .select("r_regionkey", "r_name")
    def q5Shape(
        l: org.apache.spark.sql.DataFrame,
        o: org.apache.spark.sql.DataFrame) =
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(o("o_custkey"))
        .agg(sum(Q.cents(l("l_extendedprice")) *
          (lit(100L) - Q.cents(l("l_discount")))).as("rev_e4"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum("rev_e4").as("revenue_e4"))

    val (q5bRows, tQ5b, q5Exchanges) = runAndCountExchanges(q5Shape(bl, bo))
    val (q5pRows, tQ5p, _) = runAndCountExchanges(q5Shape(lineitem, orders))
    require(q5bRows == q5pRows, s"bucketed q5 $q5bRows != plain $q5pRows")
    require(exchanges == 0,
      s"bucketed q3-shape join must be exchange-free, saw $exchanges")
    require(q5Exchanges <= 3,
      s"bucketed q5 shape should need <=3 exchanges (re-agg, customer " +
        s"align, final agg), saw $q5Exchanges")

    // The q18 shape: group lineitem by orderkey (the bucket key — no
    // shuffle), HAVING-filter, join orders (both sides bucket-aligned —
    // no shuffle), then only the few qualifying orders hit the broadcast
    // customer dim. EVERY hash exchange in q18 sits on the bucket key,
    // so the bucketed plan is required to have ZERO (the final orderBy
    // is a range exchange on a tiny qualifying set, not counted).
    val customerDim = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_name")
    def q18Shape(
        l: org.apache.spark.sql.DataFrame,
        o: org.apache.spark.sql.DataFrame) =
      l.groupBy(l("l_orderkey"))
        .agg(sum(Q.cents(l("l_quantity"))).as("qty_cents"))
        .filter(col("qty_cents") > 250L * 100L)
        .join(o, col("l_orderkey") === o("o_orderkey"))
        .join(broadcast(customerDim), o("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), o("o_orderkey"),
          o("o_orderdate"), Q.cents(o("o_totalprice")).as("totalprice_cents"),
          col("qty_cents"))
        .orderBy(desc("qty_cents"), o("o_orderkey"))
    val (q18bRows, tQ18b, q18Exchanges) = runAndCountExchanges(q18Shape(bl, bo))
    val (q18pRows, tQ18p, _) = runAndCountExchanges(q18Shape(lineitem, orders))
    require(q18bRows == q18pRows, s"bucketed q18 $q18bRows != plain $q18pRows")
    require(q18Exchanges == 0,
      s"bucketed q18 shape must be hash-exchange-free, saw $q18Exchanges")

    val json = f"""{"bucketed_write_s":${(wL + wO)}%.3f,""" +
      f""""bucketed_join_s":$tB%.3f,"plain_join_s":$tP%.3f,""" +
      s""""join_exchanges":$exchanges,"rows":$bRows,""" +
      f""""bucketed_q5_s":$tQ5b%.3f,"plain_q5_s":$tQ5p%.3f,""" +
      s""""q5_exchanges":$q5Exchanges,"q5_rows":$q5bRows,""" +
      f""""bucketed_q18_s":$tQ18b%.3f,"plain_q18_s":$tQ18p%.3f,""" +
      s""""q18_exchanges":$q18Exchanges,"q18_rows":$q18bRows}"""
    println(json)
    System.err.println(json)
    spark.sql("DROP TABLE IF EXISTS bb_lineitem")
    spark.sql("DROP TABLE IF EXISTS bb_orders")
    spark.stop()
  }
}
