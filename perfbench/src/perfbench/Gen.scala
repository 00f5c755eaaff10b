package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Seeded input generation. Every value is a hash of (seed, salt, row
  * key), so the same seed gives the same rows whatever the partitioning
  * or core count, and the engine only ever sees the written files.
  */
object Gen {
  private def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)
  /** Uniform integer in [0, n). */
  def uni(seed: Long, salt: Int, n: Long, cs: Column*): Column = pmod(h(seed, salt, cs: _*), lit(n))
  /** Uniform double in [0, 1) with six decimals. */
  def frac(seed: Long, salt: Int, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(1000000L)).cast("double") / 1e6
  private def pick(xs: Seq[String], i: Column): Column =
    element_at(array(xs.map(lit): _*), (i + 1).cast("int"))

  final case class Sizes(orders: Long) {
    def customers: Long = math.max(30L, orders / 10)
    def parts: Long = math.max(20L, orders / 7)
  }

  /** TPC-H-shaped star: customer, orders, lineitem, part. A third of
    * the customers place no orders and an eighth of the orders have no
    * line items, so inner/anti mergers have work to drop. */
  def star(spark: SparkSession, seed: Long, sz: Sizes, k: Int): Map[String, DataFrame] = {
    val id = col("id")
    val customer = spark.range(1L, sz.customers + 1, 1L, k).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      uni(seed, 1, 25, id).cast("int").as("c_nationkey"),
      round(frac(seed, 2, id) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        uni(seed, 3, 5, id)).as("c_mktsegment"))
    val orders = ordersFrame(spark, seed, 1L, sz.orders, sz.customers * 2 / 3, k)
    val ln = col("l_linenumber")
    val ok = col("o_orderkey")
    val lineitem = orders.select(ok, explode(sequence(lit(1), lit(7))).as("l_linenumber"))
      .filter(ln <= uni(seed, 21, 8, ok))
      .select(ok.as("l_orderkey"),
        (uni(seed, 22, sz.parts, ok, ln) + 1).as("l_partkey"),
        (uni(seed, 23, 1000, ok, ln) + 1).as("l_suppkey"),
        ln,
        (uni(seed, 24, 50, ok, ln) + 1).cast("double").as("l_quantity"),
        round((uni(seed, 24, 50, ok, ln) + 1) * (frac(seed, 25, ok, ln) * 1000 + 900), 2)
          .as("l_extendedprice"),
        (uni(seed, 26, 11, ok, ln).cast("double") / 100.0).as("l_discount"),
        (uni(seed, 27, 9, ok, ln).cast("double") / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), uni(seed, 28, 3, ok, ln)).as("l_returnflag"),
        pick(Seq("F", "O"), uni(seed, 29, 2, ok, ln)).as("l_linestatus"),
        timestamp_seconds(lit(694224000L) + uni(seed, 30, 2500, ok, ln) * 86400L)
          .as("l_shipdate"))
    val part = spark.range(1L, sz.parts + 1, 1L, k).select(
      id.as("p_partkey"),
      concat_ws(" ", pick(Seq("azure", "blush", "coral", "khaki", "linen", "olive"),
        uni(seed, 41, 6, id)), pick(Seq("steel", "brass", "tin", "nickel"),
        uni(seed, 42, 4, id))).as("p_name"),
      format_string("Brand#%d%d", uni(seed, 43, 5, id) + 1, uni(seed, 44, 5, id) + 1)
        .as("p_brand"),
      pick(Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"),
        uni(seed, 45, 6, id)).as("p_type"),
      (uni(seed, 46, 50, id) + 1).cast("int").as("p_size"),
      round(frac(seed, 47, id) * 1000 + 900, 2).as("p_retailprice"))
    Map("customer" -> customer, "orders" -> orders, "lineitem" -> lineitem, "part" -> part)
  }

  /** Orders rows for keys [from, from + n). */
  def ordersFrame(spark: SparkSession, seed: Long, from: Long, n: Long, custs: Long,
                  k: Int): DataFrame =
    spark.range(from, from + n, 1L, k).select(ordersCols(seed, custs, col("id")): _*)

  /** The orders columns for a frame with key column `id`; every value
    * hashes `by`, so churn batches (keyed by id and batch) get fresh
    * values for the same keys. */
  def ordersCols(seed: Long, custs: Long, by: Column*): Seq[Column] = Seq(
    col("id").as("o_orderkey"),
    (uni(seed, 11, math.max(1L, custs), by: _*) + 1).as("o_custkey"),
    pick(Seq("F", "O", "P"), uni(seed, 12, 3, by: _*)).as("o_orderstatus"),
    round(frac(seed, 13, by: _*) * 450000 + 1000, 2).as("o_totalprice"),
    timestamp_seconds(lit(694224000L) + uni(seed, 14, 2400, by: _*) * 86400L).as("o_orderdate"),
    pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
      uni(seed, 15, 5, by: _*)).as("o_orderpriority"))

  /** Write `df` as the dataset `dir/name` the way the CLI addresses it
    * (`parquet//dir/name` resolves to `dir/name.parquet`). */
  def write(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
}
