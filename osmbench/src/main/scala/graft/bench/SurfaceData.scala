package graft.bench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ten tables the query surface reads (`graft.Tables.all`), with the
  * column names, types and value domains of the repo's test data
  * (TESTDATA.md), generated from a fixed seed: every value is a hash of
  * the row key, so the tables, and so each query's answer, are the same
  * on every run and every host. One parquet file per table, at
  * `<dir>/<table>.parquet`, where `graft.Tables.path` looks.
  */
object SurfaceData {
  val Seed = 42L

  private def h(key: Column, salt: String): Column = xxhash64(key, lit(salt), lit(Seed))
  /** uniform integer in [0, n) */
  private def int(key: Column, salt: String, n: Long): Column = pmod(h(key, salt), lit(n))
  /** uniform double in [0, 1) */
  private def unit(key: Column, salt: String): Column =
    int(key, salt, 1000000000L).cast("double") / 1e9
  private def pick(key: Column, salt: String, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (int(key, salt, values.size.toLong) + 1).cast("int"))
  private def money(c: Column): Column = round(c, 2)
  private def day(base: String, offset: Column): Column =
    to_timestamp_ntz(date_add(lit(base).cast("date"), offset.cast("int")).cast("string"))

  private val Words = Seq("query", "row", "stream", "the", "spark", "line", "small", "fast",
    "group", "customer", "batch", "sort", "value", "hash", "filter", "big", "data", "dup",
    "part", "column", "order", "scan", "a", "slow", "agg", "key", "window", "table",
    "merge", "vector", "join")

  def write(spark: SparkSession, dir: Path, sf: Double): Unit = {
    Files.createDirectories(dir)
    val id = col("id")
    val nCust = math.max(150L, (150000 * sf).toLong)
    val nSupp = math.max(10L, (10000 * sf).toLong)
    val nPart = math.max(200L, (200000 * sf).toLong)
    val nOrders = math.max(1500L, (1500000 * sf).toLong)
    val nEvents = math.max(1000L, (1000000 * sf).toLong)
    val nDocs = math.max(100L, (50000 * sf).toLong)
    val nVecs = math.max(200L, (20000 * sf).toLong)
    val nUsers = math.max(15L, (15000 * sf).toLong)

    val region = spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name"))
    val nation = spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      int(id, "c_nation", 25).cast("int").as("c_nationkey"),
      money(unit(id, "c_bal") * 10999.65 - 999.85).as("c_acctbal"),
      pick(id, "c_seg", Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"))
        .as("c_mktsegment"))
    val supplier = spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      int(id, "s_nation", 25).cast("int").as("s_nationkey"),
      money(unit(id, "s_bal") * 10999.0 - 999.0).as("s_acctbal"))
    val part = spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick(id, "p_adj", Seq("small", "new", "blue", "old", "large", "hot", "cold", "red")),
        pick(id, "p_noun", Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")))
        .as("p_name"),
      concat(lit("Brand#"), int(id, "p_brand", 25) + 1).as("p_brand"),
      pick(id, "p_type", Seq("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")).as("p_type"),
      (int(id, "p_size", 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice"))
    val orders = spark.range(nOrders).select(id.as("o_orderkey"),
      int(id, "o_cust", nCust).as("o_custkey"),
      pick(id, "o_status", Seq("O", "P", "F")).as("o_orderstatus"),
      money(unit(id, "o_price") * 499000 + 1000).as("o_totalprice"),
      day("1995-01-01", int(id, "o_date", 2404)).as("o_orderdate"),
      pick(id, "o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lineKey = col("l_orderkey") * 8 + col("l_linenumber")
    val lineitem = spark.range(nOrders)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), (int(id, "l_lines", 7) + 1).cast("int"))).as("l_linenumber"),
        day("1995-01-01", int(id, "o_date", 2404)).as("odate"))
      .select(col("l_orderkey"), int(lineKey, "l_part", nPart).as("l_partkey"),
        int(lineKey, "l_supp", nSupp).as("l_suppkey"), col("l_linenumber"),
        (int(lineKey, "l_qty", 50) + 1).cast("double").as("l_quantity"),
        money(unit(lineKey, "l_ext") * 104099 + 900.68).as("l_extendedprice"),
        (int(lineKey, "l_disc", 11) / 100.0).as("l_discount"),
        (int(lineKey, "l_tax", 9) / 100.0).as("l_tax"),
        pick(lineKey, "l_rf", Seq("A", "N", "R")).as("l_returnflag"),
        pick(lineKey, "l_ls", Seq("O", "F")).as("l_linestatus"),
        (col("odate") + make_dt_interval((int(lineKey, "l_ship", 121) + 1).cast("int")))
          .as("l_shipdate"))
    val events = spark.range(nEvents).select(id.as("event_id"),
      (lit("2024-01-01 00:00:00").cast("timestamp_ntz") +
        make_dt_interval(lit(0), lit(0), lit(0), (id * 2592000.0 / nEvents).cast("decimal(18,6)") +
          int(id, "e_jit", 1000000).cast("decimal(18,6)") / 1000000)).as("ts"),
      int(id, "e_user", nUsers).as("user_id"),
      pick(id, "e_type", Seq("error", "view", "purchase", "click", "signup")).as("event_type"),
      money(-log(lit(1.0) - unit(id, "e_val")) * 40).as("value"),
      format_string("{\"k\": %d}", int(id, "e_k", 100)).as("props"))
    // documents: random word runs; every tenth a copy of an earlier one,
    // with two words replaced except for every hundredth, so the
    // dedup and near-duplicate families have positives to find
    val src = when(id % 10 === 9, pmod(h(id, "d_src"), id)).otherwise(id)
    val nWords = (int(src, "d_len", 60) + 8).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(array(Words.map(lit): _*), (int(concat_ws(":", src, i), "d_w", Words.size) + 1).cast("int")))
    val edited = when(id % 100 =!= 99 && id % 10 === 9,
      transform(words, (w, i) => when(i === int(id, "d_e1", 8) || i === int(id, "d_e2", 8) + 8,
        lit("dup")).otherwise(w))).otherwise(words)
    val documents = spark.range(nDocs).select(id.as("doc_id"), array_join(edited, " ").as("text"),
      pick(id, "d_lang", Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"),
      concat(lit("src"), int(id, "d_source", 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // embeddings: 64 floats around one of 10 label centroids
    val label = int(id, "v_label", 10)
    val embeddings = spark.range(nVecs).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((int(concat_ws(":", label, i), "v_c", 2001) - 1000) / 4000.0 +
          (int(concat_ws(":", id, i), "v_n", 2001) - 1000) / 20000.0).cast("float")).as("embedding"),
      label.cast("int").as("label"))

    val tables = Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders, "lineitem" -> lineitem,
      "events" -> events, "documents" -> documents, "embeddings" -> embeddings)
    tables.foreach { case (name, df) => writeOne(df, dir, name) }
  }

  /** `<dir>`: writes the tables at the run scale into `<dir>`. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[*]").appName("osmbench-surface-data")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try write(spark, Paths.get(args(0)).toAbsolutePath, SurfaceWorkload.Sf)
    finally spark.stop()
  }

  /** Write `df` as the single file `<dir>/<name>.parquet`. */
  private def writeOne(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.list(tmp).iterator().asScala.foreach(Files.delete)
    Files.delete(tmp)
  }
}
