package compactbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded lineitem-shaped rows. Row `id` always yields the same key columns
  * (`l_orderkey = id / 4`, `l_linenumber = id % 4 + 1`); the other columns
  * are pseudo-random functions of (id, seed, version), so an upsert can
  * regenerate a row with new values under the same key. Everything is an
  * expression over `spark.range`, so the expected table state after any
  * sequence of writes can be rebuilt in plain Spark without the engine. */
final class Gen(spark: SparkSession, val seed: Long) {
  val LinesPerOrder = 4L

  def h(salt: Int, cols: Column*): Column =
    xxhash64((cols :+ lit(seed) :+ lit(salt)): _*)
  private def pick(c: Column, n: Int): Column = pmod(c, lit(n.toLong))

  /** The lineitem columns, in the order the checksum hashes them. */
  val Columns: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate", "l_commitdate", "l_receiptdate",
    "l_shipinstruct", "l_shipmode", "l_comment")

  /** Rows for ids in [from, until) as first written (version 0). */
  def rows(from: Long, until: Long): DataFrame =
    withValues(spark.range(from, until).withColumn("v", lit(0)))

  /** Adds the lineitem columns to a frame with `id` and `v` (the row's
    * value version) columns. */
  def withValues(ids: DataFrame): DataFrame = {
    val id = col("id"); val v = col("v")
    def r(salt: Int) = h(salt, id, v)
    val ship = date_add(lit("1992-01-02").cast("date"), pick(r(5), 2500).cast("int"))
    ids.select(
      (id.divide(LinesPerOrder)).cast("bigint").as("l_orderkey"),
      pick(r(1), 200000).as("l_partkey"),
      pick(r(2), 10000).as("l_suppkey"),
      (pmod(id, lit(LinesPerOrder)) + 1).cast("int").as("l_linenumber"),
      (pick(r(3), 50) + 1).cast("decimal(12,2)").as("l_quantity"),
      (pick(r(4), 10000000).cast("decimal(12,2)") / 100 + 900)
        .cast("decimal(12,2)").as("l_extendedprice"),
      (pick(r(6), 11).cast("decimal(12,2)") / 100).cast("decimal(12,2)").as("l_discount"),
      (pick(r(7), 9).cast("decimal(12,2)") / 100).cast("decimal(12,2)").as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), pick(r(8), 3).cast("int") + 1)
        .as("l_returnflag"),
      when(ship > lit("1995-06-17").cast("date"), lit("O")).otherwise(lit("F"))
        .as("l_linestatus"),
      ship.as("l_shipdate"),
      date_add(ship, pick(r(9), 90).cast("int") - 30).as("l_commitdate"),
      date_add(ship, pick(r(10), 30).cast("int") + 1).as("l_receiptdate"),
      element_at(array(Seq("DELIVER IN PERSON", "COLLECT COD", "NONE",
        "TAKE BACK RETURN").map(lit): _*), pick(r(11), 4).cast("int") + 1)
        .as("l_shipinstruct"),
      element_at(array(Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
        .map(lit): _*), pick(r(12), 7).cast("int") + 1).as("l_shipmode"),
      substring(md5(concat_ws(":", id.cast("string"), v.cast("string"), lit(seed.toString))),
        1, 10).as("l_comment"))
  }

  /** True for roughly `pct` percent of order keys, distinct per `salt`. */
  def orderSelected(orderkey: Column, salt: Int, pct: Int): Column =
    pick(h(salt, orderkey), 100) < pct
  def orderOf(id: Column): Column = (id.divide(LinesPerOrder)).cast("bigint")

  /** The fixed read: a Q1-style aggregate over the shipped rows plus, for
    * every row, the row count and an order-independent checksum (sum of the
    * 64-bit hash of all columns). Equal results on two reads mean the same
    * multiset of rows, so the read doubles as the correctness gate. */
  def fixedRead(df: DataFrame): Seq[Row] = {
    val shipped = col("l_shipdate") <= lit("1998-09-02").cast("date")
    val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
    df.groupBy("l_returnflag", "l_linestatus").agg(
      sum(when(shipped, col("l_quantity"))).as("sum_qty"),
      sum(when(shipped, col("l_extendedprice"))).as("sum_base_price"),
      sum(when(shipped, disc)).as("sum_disc_price"),
      sum(when(shipped, disc * (lit(1) + col("l_tax")))).as("sum_charge"),
      count(when(shipped, lit(1))).as("count_order"),
      count(lit(1)).as("rows"),
      sum(xxhash64(Columns.map(col): _*).cast("decimal(38,0)")).as("checksum"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect().toSeq
  }

  def rowCount(result: Seq[Row]): Long = result.map(_.getAs[Long]("rows")).sum
}
