package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of the input tables the graded queries read: the
  * TPC-H-shaped star schema (region, nation, customer, supplier, part,
  * orders, lineitem) plus events and documents, with the
  * column names and types of the reference testdata.
  *
  * Every value is a hash of (seed, table salt, row key), so the same
  * seed writes the same rows whatever the partitioning, and another
  * seed writes other rows of the same shape. `sf` scales row counts
  * like the TPC-H scale factor (sf 0.01 has 15 000 orders).
  */
object Gen {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents")

  /** Row counts at scale `sf` (lineitem is ~4 lines per order). */
  case class Sizes(customers: Long, suppliers: Long, parts: Long,
      orders: Long, events: Long, users: Long, documents: Long)

  def sizes(sf: Double): Sizes = {
    def n(perSf1: Double, floor: Long): Long =
      math.max(floor, math.round(perSf1 * sf))
    Sizes(customers = n(150000, 50), suppliers = n(10000, 10),
      parts = n(200000, 50), orders = n(1500000, 200),
      events = n(1000000, 500), users = n(15000, 20),
      documents = n(50000, 100))
  }

  private val Vocab = Seq("a", "the", "row", "key", "agg", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "big", "customer", "query", "filter", "group", "stream", "vector")

  /** Writes the tables named in `only` under `dir` as `<table>.parquet`. */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double,
      only: Set[String]): Unit =
    tables(spark, seed, sf).filter(t => only(t._1)).foreach {
      case (name, df) =>
        df.coalesce(1).write.mode("overwrite")
          .option("compression", "snappy").parquet(s"$dir/$name.parquet")
    }

  def tables(spark: SparkSession, seed: Long,
      sf: Double): Seq[(String, DataFrame)] = {
    val z = sizes(sf)
    // uniform integer in [0, n) drawn from (seed, salt, key columns)
    def u(salt: Int, n: Long, keys: Column*): Column =
      pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(n))
    def pick(values: Seq[String], salt: Int, keys: Column*): Column =
      element_at(array(values.map(lit): _*),
        (u(salt, values.size.toLong, keys: _*) + 1).cast(IntegerType))
    def money(salt: Int, lo: Long, hiCents: Long, keys: Column*): Column =
      ((u(salt, hiCents, keys: _*) + lo * 100) / 100.0).cast(DoubleType)
    def day(from: String, salt: Int, span: Long, keys: Column*): Column =
      date_add(to_date(lit(from)), u(salt, span, keys: _*).cast(IntegerType))
        .cast(TimestampNTZType)
    val id = col("id")
    def range(n: Long) = spark.range(0, n, 1, 1)

    val region = spark.createDataFrame(Seq((0, "AFRICA"), (1, "AMERICA"),
      (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")))
      .toDF("r_regionkey", "r_name")
    val nation = range(25).select(id.cast(IntegerType).as("n_nationkey"),
      concat(lit("NATION_"), id.cast(StringType)).as("n_name"),
      (id % 5).cast(IntegerType).as("n_regionkey"))
    val customer = range(z.customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(11, 25, id).cast(IntegerType).as("c_nationkey"),
      money(12, -1000, 1100000, id).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), 13, id).as("c_mktsegment"))
    val supplier = range(z.suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      u(21, 25, id).cast(IntegerType).as("s_nationkey"),
      money(22, -1000, 1100000, id).as("s_acctbal"))
    val part = range(z.parts).select(id.as("p_partkey"),
      concat_ws(" ", pick(Seq("blue", "red", "small", "large", "hot",
        "cold", "new", "old"), 31, id), pick(Seq("ring", "plate", "gear",
        "rod", "bolt", "anvil", "widget", "gizmo"), 32, id)).as("p_name"),
      concat(lit("Brand#"), (u(33, 25, id) + 1).cast(StringType))
        .as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        34, id).as("p_type"),
      (u(35, 50, id) + 1).cast(IntegerType).as("p_size"),
      (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice"))
    val orders = range(z.orders).select(id.as("o_orderkey"),
      u(41, z.customers, id).as("o_custkey"),
      pick(Seq("F", "O", "P"), 42, id).as("o_orderstatus"),
      money(43, 1000, 49900000, id).as("o_totalprice"),
      day("1995-01-01", 44, 2404, id).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), 45, id).as("o_orderpriority"))
    // 1 to 7 lines per order, so (l_orderkey, l_linenumber) is a key
    val line = Seq(col("l_orderkey"), col("l_linenumber"))
    val lineitem = range(z.orders)
      .select(id.as("l_orderkey"), explode(sequence(lit(1),
        (u(51, 7, id) + 1).cast(IntegerType))).as("l_linenumber"))
      .select(col("l_orderkey"),
        u(52, z.parts, line: _*).as("l_partkey"),
        u(53, z.suppliers, line: _*).as("l_suppkey"),
        col("l_linenumber"),
        (u(54, 50, line: _*) + 1).cast(DoubleType).as("l_quantity"),
        money(55, 900, 10410000, line: _*).as("l_extendedprice"),
        (u(56, 11, line: _*) / 100.0).as("l_discount"),
        (u(57, 9, line: _*) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), 58, line: _*).as("l_returnflag"),
        pick(Seq("F", "O"), 59, line: _*).as("l_linestatus"),
        day("1995-01-02", 60, 2498, line: _*).as("l_shipdate"))
    // event time grows with event_id over 30 days, jittered inside its slot
    val slotUs = 30L * 86400L * 1000000L / z.events
    val events = range(z.events).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * slotUs +
        u(61, slotUs, id)).cast(TimestampNTZType).as("ts"),
      u(62, z.users, id).as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), 63, id)
        .as("event_type"),
      ((floor(u(64, 49000, id) * u(65, 100, id) / 100) + 1) / 100.0)
        .as("value"),
      format_string("{\"k\": %d}", u(66, 100, id)).as("props"))
    // one document in ten is a near-duplicate of its predecessor: the
    // same tokens with one replaced and "dup" appended
    val dup = u(71, 10, id) === 0 && id > 0
    val base = when(dup, id - 1).otherwise(id)
    val nTok = (u(72, 73, base) + 8).cast(IntegerType)
    val edit = u(73, 1000, id).cast(IntegerType)
    val tokens = transform(sequence(lit(1), nTok), i =>
      when(dup && i === (edit % nTok) + 1,
        element_at(array(Vocab.map(lit): _*),
          (u(74, Vocab.size, id) + 1).cast(IntegerType)))
        .otherwise(element_at(array(Vocab.map(lit): _*),
          (u(75, Vocab.size, base, i) + 1).cast(IntegerType))))
    val documents = range(z.documents)
      .select(id.as("doc_id"),
        array_join(when(dup, concat(tokens, array(lit("dup"))))
          .otherwise(tokens), " ").as("text"),
        pick(Seq("en", "en", "en", "de", "es", "fr", "zh"), 76, id)
          .as("lang"),
        concat(lit("src"), (id % 20).cast(StringType)).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents)
  }
}
