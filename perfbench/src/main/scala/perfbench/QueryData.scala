package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the star-schema, event, document and embedding
  * tables the operator queries read (`<dir>/<table>.parquet`). Every value
  * is a pure function of the row id and the seed (xxhash64 over
  * `spark.range`), so the bytes do not depend on parallelism. Row counts
  * follow TPC-H ratios at `sf`; documents and embeddings are fixed-size
  * corpora scaled the same way. */
object QueryData {

  private val vocab = Seq("a", "the", "and", "of", "to", "in", "is", "key", "agg",
    "row", "scan", "slow", "fast", "table", "value", "part", "hash", "merge",
    "batch", "spark", "line", "sort", "window", "order", "data", "column",
    "join", "small", "big", "customer", "query", "filter", "group", "stream",
    "stage", "task", "shuffle", "lake", "commit", "index")
  private val vocabDe = Seq("der", "die", "das", "und", "ist", "ein", "tabelle",
    "wert", "schnell", "langsam", "zeile", "daten", "gruppe", "strom")

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def h(c: Column, salt: Long): Column = xxhash64(c, lit(seed), lit(salt))
    def u(c: Column, salt: Long, n: Long): Column = pmod(h(c, salt), lit(n))
    def cents(c: Column, salt: Long, lo: Long, span: Long): Column =
      ((u(c, salt, span * 100) + lit(lo * 100)) / 100.0).cast("double")
    // tables are independent: write them concurrently, one job each
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val jobs = mutable.ArrayBuffer[java.util.concurrent.Future[_]]()
    def out(name: String, df: DataFrame, files: Int = 1): Unit =
      jobs += pool.submit(new Runnable {
        def run(): Unit = df.coalesce(files).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      })
    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    val id = col("id")
    val ts0 = 1700000000L

    out("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")))
    out("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      format_string("NATION_%d", id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey")))
    val nCust = n(150000)
    out("customer", spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(id, 1, 25).cast("int").as("c_nationkey"), cents(id, 2, -999, 10999).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        .map(lit): _*), (u(id, 3, 5) + 1).cast("int")).as("c_mktsegment")))
    out("supplier", spark.range(n(10000)).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      u(id, 4, 25).cast("int").as("s_nationkey"), cents(id, 5, -999, 10999).as("s_acctbal")))
    val nPart = n(200000)
    val colors = Seq("red", "green", "blue", "small", "large", "shiny", "matte", "steel")
    val nouns = Seq("widget", "ring", "bolt", "gear", "panel", "valve", "spring", "lever")
    out("part", spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", element_at(array(colors.map(lit): _*), (u(id, 6, colors.size) + 1).cast("int")),
        element_at(array(nouns.map(lit): _*), (u(id, 7, nouns.size) + 1).cast("int"))).as("p_name"),
      format_string("Brand#%d", u(id, 8, 25) + 1).as("p_brand"),
      element_at(array(Seq("ECONOMY", "STANDARD", "PROMO", "LARGE").map(lit): _*),
        (u(id, 9, 4) + 1).cast("int")).as("p_type"),
      (u(id, 10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000)) / 10.0).as("p_retailprice")))
    val nOrders = n(1500000)
    out("orders", spark.range(nOrders).select(id.as("o_orderkey"),
      // two thirds of the customers place orders, so semi/anti joins split
      (u(id, 11, math.max(1L, nCust * 2 / 3)) * 3 / 2).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")), (u(id, 12, 3) + 1).cast("int")).as("o_orderstatus"),
      cents(id, 13, 1000, 500000).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + u(id, 14, 2500) * 86400).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .map(lit): _*), (u(id, 15, 5) + 1).cast("int")).as("o_orderpriority")), files = 2)
    val nLine = n(6000000)
    out("lineitem", spark.range(nLine).select(u(id, 16, nOrders).as("l_orderkey"),
      u(id, 17, nPart).as("l_partkey"), u(id, 18, n(10000)).as("l_suppkey"),
      (u(id, 19, 7) + 1).cast("int").as("l_linenumber"),
      (u(id, 20, 50) + 1).cast("double").as("l_quantity"),
      cents(id, 21, 900, 100000).as("l_extendedprice"),
      (u(id, 22, 11) / 100.0).as("l_discount"), (u(id, 23, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (u(id, 24, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (u(id, 25, 2) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + u(id, 26, 3000) * 86400).as("l_shipdate")), files = 4)
    val nEvents = n(1000000)
    out("events", spark.range(nEvents).select(id.as("event_id"),
      timestamp_seconds(lit(ts0) + id * 37 + u(id, 27, 600)).as("ts"),
      u(id, 28, math.max(10L, nEvents / 100)).as("user_id"),
      element_at(array(Seq("click", "view", "purchase", "signup", "error").map(lit): _*),
        (u(id, 29, 5) + 1).cast("int")).as("event_type"),
      cents(id, 30, 0, 50).as("value"),
      format_string("{\"k\": %d}", u(id, 31, 100)).as("props")), files = 2)

    // documents: word sequences over a shared vocabulary (English, with a
    // German tenth), a few exact duplicates, lengths 20–80 words
    val nDocs = n(50000)
    val words = (salt: Long, vs: Seq[String]) => {
      val arr = array(vs.map(lit): _*)
      transform(sequence(lit(1), (u(id, salt, 61) + 20).cast("int")),
        i => element_at(arr, (pmod(xxhash64(id, i, lit(seed)), lit(vs.size.toLong)) + 1).cast("int")))
    }
    val src = id - when(u(id, 33, 25) === 0 && id > 0, lit(1L)).otherwise(lit(0L))
    val docs = spark.range(nDocs).select(id.as("doc_id"), src.as("id"))
      .select(col("doc_id"), (u(id, 32, 10) === 0).as("de"), id)
      .select(col("doc_id"),
        concat_ws(" ", when(col("de"), words(34, vocabDe)).otherwise(words(35, vocab))).as("text"),
        when(col("de"), lit("de")).otherwise(lit("en")).as("lang"),
        format_string("src%d", pmod(col("doc_id"), lit(7))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    out("documents", docs)

    // embeddings: 64-dim unit vectors scattered around 8 cluster centres
    val nVec = n(50000)
    val dims = 64
    def gauss(c: Column, j: Column, salt: Long): Column =
      (0 until 4).map(k => pmod(xxhash64(c, j, lit(seed + salt * 8 + k)), lit(2000L)) / 1000.0 - 1.0)
        .reduce(_ + _)
    val label = u(id, 36, 8).cast("int")
    val raw = spark.range(nVec).select(id.as("vec_id"), label.as("label"))
      .select(col("vec_id"), col("label"), transform(sequence(lit(0), lit(dims - 1)),
        j => gauss(col("label"), j, 37) * 1.0 + gauss(col("vec_id"), j, 38) * 0.35).as("v"))
    out("embeddings", raw.select(col("vec_id"),
      transform(col("v"), x => (x / sqrt(aggregate(col("v"), lit(0.0), (a, y) => a + y * y))).cast("float"))
        .as("embedding"), col("label")))
    try jobs.foreach(_.get()) finally pool.shutdown()
  }
}
