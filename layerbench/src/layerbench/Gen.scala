package layerbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table has the column names and types of
  * the engine's fixture tables (FIXTURES.md) and, at scale factor 0.1, the
  * row counts and value distributions of the sf0.1 fixtures: the same
  * 31-word document vocabulary, language shares, 20 sources, 5 event types
  * over 30 days of 2024, the TPC-H-ish key ranges and value ranges.
  *
  * Every value is a pure function of (seed, row id, column): a hash, never
  * a session-dependent `rand`, and each table is written from ONE partition
  * as one parquet file (the fixtures' layout: one row group per table). The
  * same seed therefore writes byte-identical inputs in any session.
  */
object Gen {

  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  /** Cumulative language shares of the sf0.1 documents. */
  private val Langs = Seq("en" -> 0.41, "zh" -> 0.56, "es" -> 0.71,
    "fr" -> 0.86, "de" -> 1.0)
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Row counts of the fixture tables at one scale factor. */
  final case class Sizes(docs: Long, events: Long, embeddings: Long,
                         lineitem: Long, orders: Long, customer: Long,
                         part: Long, supplier: Long)

  def sizes(sf: Double): Sizes = {
    def n(base: Long) = math.max(1L, math.round(base * sf))
    Sizes(n(50000), n(1000000), n(20000), n(6000000), n(1500000),
      n(150000), n(200000), n(10000))
  }

  /** Uniform double in [0, 1) from (seed, id, k). */
  private def u(seed: Long, k: Int): Column =
    shiftrightunsigned(xxhash64(col("id"), lit(seed), lit(k)), 11)
      .cast("double") / lit(9007199254740992.0)

  private def below(seed: Long, k: Int, n: Long): Column =
    floor(u(seed, k) * n).cast("long")

  private def pick(xs: Seq[String], uc: Column): Column =
    element_at(typedlit(xs), (floor(uc * xs.size) + 1).cast("int"))

  private def rows(spark: SparkSession, n: Long): DataFrame =
    spark.range(0L, n, 1L, 1).toDF()

  /** `n` documents. A `exactShare` of them (never doc 0) copies the text of
    * an earlier document; a further `nearShare` copies an earlier text with
    * one word replaced, so its 5-shingle Jaccard with the original stays
    * far above the curation threshold.
    */
  def documents(spark: SparkSession, seed: Long, n: Long,
                exactShare: Double = 0.0, nearShare: Double = 0.0): DataFrame = {
    val vocab = typedlit(Vocab)
    val roll = u(seed, 1)
    val target = floor(u(seed, 2) * col("id")).cast("long")
    val kind = when(col("id") > 0 && roll < exactShare, lit(1))
      .when(col("id") > 0 && roll < exactShare + nearShare, lit(2))
      .otherwise(lit(0))
    val staged = rows(spark, n)
      .select(col("id"), kind.as("kind"), target.as("target"),
        u(seed, 3).as("u_lang"), u(seed, 4).as("u_pos"))
      .select(col("id"), col("kind"), col("u_lang"), col("u_pos"),
        when(col("kind") === 0, col("id")).otherwise(col("target")).as("src"))
      // the word count and words are functions of the SOURCE doc, so an
      // exact copy reproduces its source's text without a join
      .select(col("*"),
        (lit(10) + pmod(xxhash64(col("src"), lit(seed), lit(5)), lit(91)))
          .cast("int").as("n_words"))
    val words = transform(sequence(lit(0), col("n_words") - 1), i =>
      element_at(vocab, when(col("kind") === 2 &&
          i === floor(col("u_pos") * col("n_words")).cast("int"),
          pmod(xxhash64(col("id"), lit(seed), lit(7)), lit(Vocab.size)))
        .otherwise(pmod(xxhash64(col("src"), lit(seed), i), lit(Vocab.size)))
        .cast("int") + 1))
    val lang = Langs.foldRight(lit(null).cast("string")) { case ((l, c), acc) =>
      when(col("u_lang") < c, lit(l)).otherwise(acc)
    }
    staged
      .select(col("id").as("doc_id"), array_join(words, " ").as("text"),
        lang.as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20)).cast("string")).as("source"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Events sorted by time over the 30 days from 2024-01-01 (UTC). */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val base = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    val step = 30L * 86400L * 1000000L / math.max(n, 1L)
    rows(spark, n).select(
      col("id").as("event_id"),
      timestamp_micros((lit(base) + (col("id") + u(seed, 1)) * step)
        .cast("long")).cast("timestamp_ntz").as("ts"),
      below(seed, 2, 1500L).as("user_id"),
      pick(EventTypes, u(seed, 3)).as("event_type"),
      round(-log(lit(1.0) - u(seed, 4)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), below(seed, 5, 100L).cast("string"), lit("}"))
        .as("props"))
  }

  /** Unit vectors of dimension 64 (Box-Muller normals, normalised). */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    def unif(j: Column, k: Int): Column =
      shiftrightunsigned(xxhash64(col("id"), lit(seed), j, lit(k)), 11)
        .cast("double") / lit(9007199254740992.0)
    val raw = transform(sequence(lit(0), lit(63)), j =>
      sqrt(lit(-2.0) * log(lit(1.0) - unif(j, 1))) *
        cos(lit(2 * math.Pi) * unif(j, 2)))
    rows(spark, n)
      .select(col("id"), raw.as("raw"), below(seed, 3, 10L).cast("int").as("label"))
      .select(col("id"), col("raw"), col("label"),
        sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)).as("norm"))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label"))
  }

  private def day(from: String, seed: Long, k: Int, days: Long): Column =
    date_add(to_date(lit(from)), below(seed, k, days).cast("int"))
      .cast("timestamp_ntz")

  def lineitem(spark: SparkSession, seed: Long, s: Sizes): DataFrame =
    rows(spark, s.lineitem).select(
      below(seed, 1, s.orders).as("l_orderkey"),
      below(seed, 2, s.part).as("l_partkey"),
      below(seed, 3, s.supplier).as("l_suppkey"),
      (below(seed, 4, 7L) + 1).cast("int").as("l_linenumber"),
      (below(seed, 5, 50L) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(seed, 6) * 104100.0, 2).as("l_extendedprice"),
      (below(seed, 7, 11L).cast("double") / 100.0).as("l_discount"),
      (below(seed, 8, 9L).cast("double") / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), u(seed, 9)).as("l_returnflag"),
      pick(Seq("F", "O"), u(seed, 10)).as("l_linestatus"),
      day("1995-01-02", seed, 11, 2498L).as("l_shipdate"))

  def orders(spark: SparkSession, seed: Long, s: Sizes): DataFrame =
    rows(spark, s.orders).select(
      col("id").as("o_orderkey"),
      below(seed, 1, s.customer).as("o_custkey"),
      pick(Seq("F", "O", "P"), u(seed, 2)).as("o_orderstatus"),
      round(lit(1000.0) + u(seed, 3) * 499000.0, 2).as("o_totalprice"),
      day("1995-01-01", seed, 4, 2404L).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        u(seed, 5)).as("o_orderpriority"))

  def customer(spark: SparkSession, seed: Long, s: Sizes): DataFrame =
    rows(spark, s.customer).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      below(seed, 1, 25L).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u(seed, 2) * 10999.98, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        u(seed, 3)).as("c_mktsegment"))

  def part(spark: SparkSession, seed: Long, s: Sizes): DataFrame =
    rows(spark, s.part).select(
      col("id").as("p_partkey"),
      concat(pick(Seq("blue", "cold", "hot", "large", "new", "old", "red",
          "small"), u(seed, 1)), lit(" "),
        pick(Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
          "widget"), u(seed, 2))).as("p_name"),
      concat(lit("Brand#"), (below(seed, 3, 25L) + 1).cast("string")).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        u(seed, 4)).as("p_type"),
      (below(seed, 5, 50L) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000L)).cast("double") * 0.1, 1)
        .as("p_retailprice"))

  def supplier(spark: SparkSession, seed: Long, s: Sizes): DataFrame =
    rows(spark, s.supplier).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      below(seed, 1, 25L).cast("int").as("s_nationkey"),
      round(lit(-999.99) + u(seed, 2) * 10999.98, 2).as("s_acctbal"))

  def nation(spark: SparkSession): DataFrame =
    rows(spark, 25L).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      pmod(col("id"), lit(5L)).cast("int").as("n_regionkey"))

  def region(spark: SparkSession): DataFrame =
    rows(spark, 5L).select(col("id").cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
        (col("id").cast("double") + 0.5) / 5.0).as("r_name"))

  /** Write the named tables under `dir` as `<name>.parquet`, the layout
    * `graft.Tables` reads. */
  def write(spark: SparkSession, dir: String, tables: Seq[(String, DataFrame)]): Unit =
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  /** All ten fixture tables at scale factor `sf`. */
  def allTables(spark: SparkSession, seed: Long, sf: Double): Seq[(String, DataFrame)] = {
    val s = sizes(sf)
    Seq("documents" -> documents(spark, seed, s.docs),
      "events" -> events(spark, seed, s.events),
      "embeddings" -> embeddings(spark, seed, s.embeddings),
      "lineitem" -> lineitem(spark, seed, s),
      "orders" -> orders(spark, seed, s),
      "customer" -> customer(spark, seed, s),
      "part" -> part(spark, seed, s),
      "supplier" -> supplier(spark, seed, s),
      "nation" -> nation(spark),
      "region" -> region(spark))
  }
}
