package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded synthetic warehouse in the shape `graft.Tables` reads: a
  * TPC-H-like star schema plus the `events`, `documents` and `embeddings`
  * tables, four parquet files each (one per generating task), with row
  * counts proportional to `scale` (lineitem has 6M × scale rows). Value
  * ranges follow the tables the query pack was written against, so
  * filters and joins select similar shares of rows.
  */
object Warehouse {
  def write(spark: SparkSession, dir: String, scale: Double, seed: Long): Unit = {
    def n(base: Double) = math.max(1L, (base * scale).round)
    val customers = n(150000); val suppliers = n(10000); val parts = n(200000)
    val orders = n(1500000); val lines = n(6000000); val users = n(15000)
    // r(k): a uniform double in [0, 1) per row, deterministic in (seed, k, id)
    def r(k: Int) = s"(pmod(xxhash64(id, $seed, $k), 1000000007) / 1000000007.0)"
    def pick(k: Int, xs: Seq[String]) =
      s"element_at(array(${xs.map("'" + _ + "'").mkString(",")}), 1 + cast(${r(k)} * ${xs.length} AS INT))"
    def int(k: Int, lo: Long, hi: Long) = s"cast($lo + floor(${r(k)} * ${hi - lo + 1}) AS BIGINT)"
    def money(k: Int, lo: Double, hi: Double) =
      s"cast(round(cast($lo AS DOUBLE) + ${r(k)} * ${hi - lo}, 2) AS DOUBLE)"
    def day(k: Int, from: String, days: Int) =
      s"cast(date_add(date'$from', cast(${r(k)} * $days AS INT)) AS TIMESTAMP)"
    // tables are written by four concurrent Spark jobs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val pending = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    def table(name: String, rows: Long, cols: String*): Unit =
      pending += pool.submit(new Runnable {
        def run(): Unit = spark.range(0, rows, 1, 4).selectExpr(cols: _*)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      })

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    table("region", 5, "cast(id AS INT) AS r_regionkey",
      s"element_at(array(${regions.map("'" + _ + "'").mkString(",")}), cast(id AS INT) + 1) AS r_name")
    table("nation", 25, "cast(id AS INT) AS n_nationkey", "concat('NATION_', id) AS n_name",
      "cast(id % 5 AS INT) AS n_regionkey")
    table("customer", customers, "id AS c_custkey",
      "concat('Customer#', lpad(cast(id AS STRING), 9, '0')) AS c_name",
      s"cast(${int(1, 0, 24)} AS INT) AS c_nationkey", s"${money(2, -999.99, 9999.99)} AS c_acctbal",
      s"${pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} AS c_mktsegment")
    table("supplier", suppliers, "id AS s_suppkey",
      "concat('Supplier#', lpad(cast(id AS STRING), 9, '0')) AS s_name",
      s"cast(${int(1, 0, 24)} AS INT) AS s_nationkey", s"${money(2, -999.99, 9999.99)} AS s_acctbal")
    table("part", parts, "id AS p_partkey",
      s"concat(${pick(1, Seq("small", "red", "blue", "hot", "old", "large", "new", "green"))}, ' ', " +
        s"${pick(2, Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"))}) AS p_name",
      s"concat('Brand#', ${int(3, 1, 25)}) AS p_brand",
      s"${pick(4, Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"))} AS p_type",
      s"cast(${int(5, 1, 50)} AS INT) AS p_size", s"${money(6, 900, 999.9)} AS p_retailprice")
    table("orders", orders, "id AS o_orderkey", s"${int(1, 0, customers - 1)} AS o_custkey",
      s"${pick(2, Seq("F", "O", "P"))} AS o_orderstatus", s"${money(3, 1000, 500000)} AS o_totalprice",
      s"${day(4, "1995-01-01", 2404)} AS o_orderdate",
      s"${pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} AS o_orderpriority")
    table("lineitem", lines, s"${int(1, 0, orders - 1)} AS l_orderkey",
      s"${int(2, 0, parts - 1)} AS l_partkey", s"${int(3, 0, suppliers - 1)} AS l_suppkey",
      s"cast(${int(4, 1, 7)} AS INT) AS l_linenumber",
      s"cast(${int(5, 1, 50)} AS DOUBLE) AS l_quantity",
      s"round(cast(${int(5, 1, 50)} AS DOUBLE) * ${money(6, 900, 2100)}, 2) AS l_extendedprice",
      s"cast(${int(7, 0, 10)} AS DOUBLE) / 100 AS l_discount",
      s"cast(${int(8, 0, 8)} AS DOUBLE) / 100 AS l_tax",
      s"${pick(9, Seq("A", "N", "R"))} AS l_returnflag", s"${pick(10, Seq("F", "O"))} AS l_linestatus",
      s"${day(11, "1995-01-02", 2498)} AS l_shipdate")
    table("events", n(1000000), "id AS event_id",
      s"timestamp_micros(1704067200000000 + cast(${r(1)} * 2592000000000 AS BIGINT)) AS ts",
      s"${int(2, 0, users - 1)} AS user_id",
      s"${pick(3, Seq("click", "error", "purchase", "signup", "view"))} AS event_type",
      s"${money(4, 0.01, 490.02)} AS value", s"concat('{\"k\": ', ${int(5, 0, 99)}, '}') AS props")
    val words = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part", "hash",
      "merge", "batch", "spark", "a", "the", "line", "sort", "window", "data", "column", "join",
      "small", "customer", "query", "order", "group", "big", "stream", "filter")
    val text = s"concat_ws(' ', transform(sequence(1, 20 + cast(${r(1)} * 60 AS INT)), " +
      s"i -> element_at(array(${words.map("'" + _ + "'").mkString(",")}), " +
      s"1 + cast(pmod(xxhash64(id, i, $seed), ${words.length}) AS INT))))"
    table("documents", n(50000), "id AS doc_id", s"$text AS text",
      s"${pick(2, Seq("en", "en", "en", "de", "es", "fr"))} AS lang",
      s"concat('src', ${int(3, 0, 19)}) AS source", s"cast(length($text) AS BIGINT) AS n_chars")
    table("embeddings", n(50000), "id AS vec_id",
      s"transform(sequence(1, 64), i -> cast((pmod(xxhash64(id, i, $seed), 2001) - 1000) / 4000.0 AS FLOAT)) AS embedding",
      s"cast(${int(1, 0, 9)} AS INT) AS label")
    try pending.foreach(_.get()) finally pool.shutdown()
  }
}
