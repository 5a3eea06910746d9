package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TPC-H-shaped sources for the ingest workloads. Every value is a
  * hash of (row id, seed, column), so a seed always yields the same rows,
  * whatever the partitioning. Timestamps are epoch microseconds in a long
  * column, the form a plain FITS BINTABLE carries them in.
  */
object Gen {
  private val Day = 86400L * 1000000L
  private val Jan1995 = 788918400L * 1000000L

  private def pick(seed: Long, k: Int, n: Long): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(n))

  private def oneOf(seed: Long, k: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), pick(seed, k, values.size.toLong).cast("int") + 1)

  /** 6,000,000 x sf rows, ~4 line items per order. */
  def lineitem(spark: SparkSession, sf: Double, seed: Long, parts: Int): DataFrame = {
    val rows = math.max(1L, (6000000 * sf).toLong)
    val qty = (pick(seed, 3, 50) + 1).cast("double")
    spark.range(0, rows, 1, parts).select(
      expr("id div 4 + 1").as("l_orderkey"),
      (pick(seed, 1, 200000) + 1).as("l_partkey"),
      (pick(seed, 2, 10000) + 1).as("l_suppkey"),
      expr("cast(id % 4 + 1 as int)").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (pick(seed, 4, 100000) / 100.0 + 900.0), 2).as("l_extendedprice"),
      (pick(seed, 5, 11) / 100.0).as("l_discount"),
      (pick(seed, 6, 9) / 100.0).as("l_tax"),
      oneOf(seed, 7, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(seed, 8, Seq("F", "O")).as("l_linestatus"),
      (lit(Jan1995) + pick(seed, 9, 2500) * Day).as("l_shipdate"))
  }

  val LineitemStrLens: Map[String, Int] = Map("l_returnflag" -> 1, "l_linestatus" -> 1)

  private val Words = Seq("furiously", "quickly", "carefully", "blithely", "slyly",
    "regular", "express", "final", "pending", "ironic", "special", "bold",
    "deposits", "requests", "packages", "accounts", "theodolites", "pinto",
    "beans", "foxes", "instructions", "asymptotes", "dependencies", "sheaves")

  /** 1,500,000 x sf orders with TPC-H's string columns (clerk, comment). */
  def orders(spark: SparkSession, sf: Double, seed: Long, parts: Int): DataFrame = {
    val rows = math.max(1L, (1500000 * sf).toLong)
    val words = Words.map(w => s"'$w'").mkString("array(", ", ", ")")
    // 4..11 words, cut to TPC-H's 79 characters; no trailing blank, which
    // a FITS character field would not keep
    val comment = expr(
      s"rtrim(substring(concat_ws(' ', transform(sequence(1, 4 + " +
        s"cast(pmod(xxhash64(id, ${seed}L, 17), 8L) as int)), i -> element_at($words, " +
        s"cast(pmod(xxhash64(id, ${seed}L, 100 + i), ${Words.size}L) as int) + 1))), 1, 79))")
    spark.range(0, rows, 1, parts).select(
      (col("id") + 1).as("o_orderkey"),
      (pick(seed, 11, math.max(1L, rows / 10)) + 1).as("o_custkey"),
      oneOf(seed, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      (pick(seed, 13, 50000000) / 100.0 + 850.0).as("o_totalprice"),
      (lit(Jan1995) + pick(seed, 14, 2400) * Day).as("o_orderdate"),
      oneOf(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"),
      concat(lit("Clerk#"), lpad((pick(seed, 16, 1000) + 1).cast("string"), 9, "0"))
        .as("o_clerk"),
      lit(0).as("o_shippriority"),
      comment.as("o_comment"))
  }

  val OrdersStrLens: Map[String, Int] = Map("o_orderstatus" -> 1,
    "o_orderpriority" -> 15, "o_clerk" -> 15, "o_comment" -> 79)
}
