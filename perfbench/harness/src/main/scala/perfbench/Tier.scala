package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The seeded input tier: `lineitem` and `orders` parquet tables with the
  * schemas and value ranges of the TPC-H-like test data the program's
  * fixtures derive from (FIXTURES.md, family B). Every value is a pure
  * function of (seed, row id), so the same seed writes the same tier; the
  * seed also picks the row order (orders are written in a seeded
  * permutation of their keys; lineitem keys are hashed) and a positive key
  * offset added to `l_orderkey` / `o_orderkey`.
  *
  * Dates are written as TIMESTAMP_NTZ, which parquet stores without a
  * zone, so the DuckDB oracle and Spark read the same calendar day. */
object Tier {

  val Tables: Seq[String] = Seq("lineitem", "orders")

  /** Keys are spread over `orders` partitions; lineitem has 4 rows per
    * order on average, as in the test data. */
  def write(spark: SparkSession, seed: Long, orders: Long,
      dir: String): Unit = {
    val offset = keyOffset(seed)
    def h(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
    def pick(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
    def oneOf(salt: Int, vs: String*): Column =
      element_at(array(vs.map(lit): _*), (pick(salt, vs.size) + 1).cast("int"))
    def day(salt: Int, from: String, span: Long): Column =
      date_add(lit(java.sql.Date.valueOf(from)), pick(salt, span).cast("int"))
        .cast("timestamp_ntz")

    val customers = math.max(10L, orders / 10)
    val parts = math.max(20L, orders * 2 / 15)
    val suppliers = math.max(6L, orders / 150)

    val stride = permutationStride(seed, orders)
    val ord = spark.range(orders).select(
      (pmod(col("id") * stride + lit(seed & 0xffffL), lit(orders)) + offset)
        .as("o_orderkey"),
      pick(1, customers).as("o_custkey"),
      oneOf(2, "F", "O", "P").as("o_orderstatus"),
      ((pick(3, 49900000L) + 100000L) / 100.0).as("o_totalprice"),
      day(4, "1995-01-01", 2404).as("o_orderdate"),
      oneOf(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"))

    val li = spark.range(orders * 4).select(
      (pick(11, orders) + offset).as("l_orderkey"),
      pick(12, parts).as("l_partkey"),
      pick(13, suppliers).as("l_suppkey"),
      (pick(14, 7) + 1).cast("int").as("l_linenumber"),
      (pick(15, 50) + 1).cast("double").as("l_quantity"),
      ((pick(16, 10410000L) + 90000L) / 100.0).as("l_extendedprice"),
      (pick(17, 11) / 100.0).as("l_discount"),
      (pick(18, 9) / 100.0).as("l_tax"),
      oneOf(19, "A", "N", "R").as("l_returnflag"),
      oneOf(20, "F", "O").as("l_linestatus"),
      day(21, "1995-01-02", 2498).as("l_shipdate"))

    save(ord, s"$dir/orders.parquet")
    save(li, s"$dir/lineitem.parquet")
  }

  /** A positive offset in [1, 2^20], fixed by the seed. */
  def keyOffset(seed: Long): Long =
    1L + java.lang.Math.floorMod(new java.util.SplittableRandom(seed)
      .nextLong(), 1L << 20)

  /** A multiplier coprime to `n`, so `id * stride mod n` permutes ids. */
  def permutationStride(seed: Long, n: Long): Long = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    Iterator.continually(1L + r.nextLong(1L << 20))
      .find(a => BigInt(a).gcd(BigInt(n)) == 1).get
  }

  private def save(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)
}
