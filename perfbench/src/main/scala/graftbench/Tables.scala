package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** TPC-H-shaped synthetic tables. Every value is a hash of (row id,
  * seed, salt), so a seed reproduces the same table under any
  * partitioning. */
final class Tables(spark: SparkSession, seed: Long) {

  /** Uniform in [0, 1e9+7) for the current row's `id`. */
  def h(salt: String, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(1000000007L))

  def ids(from: Long, until: Long, parts: Int): DataFrame =
    spark.range(from, until, 1, parts).toDF("id")

  private def money(salt: String, lo: Long, span: Long): Column =
    ((h(salt) % span + lo) / 100).cast(DecimalType(12, 2))

  private def pick(salt: String, values: String*): Column =
    element_at(array(values.map(lit): _*), (h(salt) % values.size + 1).cast("int"))

  private def date(salt: String): Column =
    date_add(lit("1992-01-01").cast("date"), (h(salt) % 2500).cast("int"))

  private def text(salt: String, n: Int): Column =
    substring(concat((0 until (n + 15) / 16).map(i => hex(xxhash64(col("id"), lit(seed), lit(s"$salt$i")))): _*), 1, n)

  def customer(ids: DataFrame): DataFrame = ids.select(
    (col("id") + 1).as("c_custkey"),
    concat(lit("Customer#"), lpad((col("id") + 1).cast("string"), 9, "0")).as("c_name"),
    text("addr", 24).as("c_address"),
    (h("nation") % 25).cast("int").as("c_nationkey"),
    format_string("%02d-%03d-%03d-%04d", (h("p1") % 25 + 10).cast("int"),
      (h("p2") % 900 + 100).cast("int"), (h("p3") % 900 + 100).cast("int"),
      (h("p4") % 9000 + 1000).cast("int")).as("c_phone"),
    money("bal", -99999, 1099999).as("c_acctbal"),
    pick("seg", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment"),
    text("ccomment", 40).as("c_comment"))

  def orders(ids: DataFrame): DataFrame =
    ids.select(orderCols :+ lit(0).as("o_shippriority") :+ text("ocomment", 30).as("o_comment"): _*)

  private def orderCols: Seq[Column] = Seq(
    (col("id") * 4 + 1).as("o_orderkey"),
    (h("cust") % 15000 + 1).as("o_custkey"),
    pick("status", "O", "F", "P").as("o_orderstatus"),
    money("total", 90000, 50000000).as("o_totalprice"),
    date("odate").as("o_orderdate"),
    pick("prio", "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"),
    concat(lit("Clerk#"), lpad((h("clerk") % 1000 + 1).cast("string"), 9, "0")).as("o_clerk"))

  /** Orders with their lines nested as `items: array<struct>` (1-7 per
    * order). */
  def nestedOrders(ids: DataFrame): DataFrame = {
    val n = (h("nitems") % 7 + 1).cast("int")
    val item = (i: Column) => {
      val k = col("id") * 8 + i
      struct(
        i.as("l_linenumber"),
        (h("ipart", k) % 200000 + 1).as("l_partkey"),
        (h("iqty", k) % 50 + 1).cast(DecimalType(12, 2)).as("l_quantity"),
        ((h("iprice", k) % 10000000 + 90000) / 100).cast(DecimalType(12, 2)).as("l_extendedprice"),
        element_at(array(Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK").map(lit): _*),
          (h("imode", k) % 5 + 1).cast("int")).as("l_shipmode"))
    }
    ids.select(orderCols :+ transform(sequence(lit(1), n), item).as("items"): _*)
  }

  /** Lineitem. `(l_orderkey, l_linenumber)` is deliberately NOT unique
    * (as in the sf0.1 data); `(l_partkey, l_suppkey)` encodes the row id,
    * so the four columns together are. */
  def lineitem(ids: DataFrame, orders: Long): DataFrame =
    lineitemWith(ids, h("lorder") % orders + 1, (h("lline") % 7 + 1).cast("int"))

  private def lineitemWith(ids: DataFrame, orderKey: Column, lineNo: Column): DataFrame =
    ids.select(
    orderKey.cast("long").as("l_orderkey"),
    (col("id") % 20000 + 1).as("l_partkey"),
    (col("id") / 20000 + 1).cast("long").as("l_suppkey"),
    lineNo.as("l_linenumber"),
    (h("lqty") % 50 + 1).cast(DecimalType(12, 2)).as("l_quantity"),
    money("lprice", 90000, 10000000).as("l_extendedprice"),
    ((h("ldisc") % 11) / 100).cast(DecimalType(12, 2)).as("l_discount"),
    ((h("ltax") % 9) / 100).cast(DecimalType(12, 2)).as("l_tax"),
    pick("lrf", "A", "N", "R").as("l_returnflag"),
    pick("lls", "O", "F").as("l_linestatus"),
    date("lship").as("l_shipdate"),
    date("lcommit").as("l_commitdate"),
    date("lreceipt").as("l_receiptdate"),
    pick("linstr", "DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN").as("l_shipinstruct"),
    pick("lmode", "AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR").as("l_shipmode"),
    text("lcomment", 27).as("l_comment"))

  /** Append-ordered lineitem for the lake: order keys grow with the row
    * id (four lines per order), so each batch and each of its files
    * covers a narrow key range. */
  def lakeLineitem(ids: DataFrame): DataFrame =
    lineitemWith(ids, col("id") / 4 + 1, (col("id") % 4 + 1).cast("int"))
}
