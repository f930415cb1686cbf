package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table has the schema of the graft
  * test data (`Tables.*` reads it unchanged); every value is a pure
  * function of (seed, row id), and the row order written to disk is a
  * seeded permutation, so one seed always gives byte-identical inputs
  * and two seeds give inputs of the same size and shape.
  *
  * Each table is written as ONE parquet file, like the reference data.
  */
final class Gen(spark: SparkSession, seed: Long) {

  private def h(salt: Int): Column = xxhash64(lit(seed), lit(salt), col("id"))
  private def uniform(salt: Int, m: Long): Column = pmod(h(salt), lit(m))
  private def pick(salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (uniform(salt, xs.size) + 1).cast("int"))

  /** One partition of ids 0 until n: every table is written as a
    * single file without a shuffle. */
  private def ids(n: Long): DataFrame = spark.range(0L, n, 1L, 1).toDF()

  /** Writes `df` (with its `id` column dropped) as one parquet file
    * in a seeded row order. */
  private def write(df: DataFrame, path: String): Unit =
    df.sortWithinPartitions(xxhash64(lit(seed), lit(-1), col("id")))
      .drop("id")
      .write.mode("overwrite").parquet(path)

  /** Daily earnings facts: `orders` × 4 lines, ship dates over `days`
    * consecutive days from [[Gen.Epoch]]. */
  def lineitem(path: String, rows: Long, days: Int): Unit =
    write(ids(rows).select(col("id"),
      floor(col("id") / 4).cast("long").as("l_orderkey"),
      uniform(1, 2000).as("l_partkey"),
      uniform(2, 100).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (uniform(3, 50) + 1).cast("double").as("l_quantity"),
      round((uniform(3, 50) + 1) * (lit(900.0) + uniform(4, 100000) / 100.0), 2)
        .as("l_extendedprice"),
      (uniform(5, 11) / 100.0).as("l_discount"),
      (uniform(6, 9) / 100.0).as("l_tax"),
      pick(7, Seq("A", "N", "R")).as("l_returnflag"),
      pick(8, Seq("F", "O")).as("l_linestatus"),
      to_timestamp(date_add(lit(Gen.Epoch).cast("date"), uniform(9, days).cast("int")))
        .as("l_shipdate")), path)

  def orders(path: String, rows: Long, customers: Long, days: Int): Unit =
    write(ids(rows).select(col("id"),
      col("id").as("o_orderkey"),
      uniform(11, customers).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + uniform(13, 40000000) / 100.0, 2).as("o_totalprice"),
      to_timestamp(date_add(lit(Gen.Epoch).cast("date"), uniform(14, days).cast("int")))
        .as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), path)

  def customer(path: String, rows: Long): Unit =
    write(ids(rows).select(col("id"),
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      uniform(21, 25).cast("int").as("c_nationkey"),
      round(uniform(22, 1000000) / 100.0 - 999.99, 2).as("c_acctbal"),
      pick(23, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")), path)

  /** Ad events, evenly spread over `days` days from [[Gen.Epoch]] in event
    * id order. Views outnumber clicks about 4:1, and users are few
    * enough that every user is active on most days. */
  def events(path: String, rows: Long, days: Int, users: Long): Unit = {
    val stepMicros = days.toLong * 86400L * 1000000L / rows
    val kind = uniform(32, 100)
    write(ids(rows).select(col("id"),
      col("id").as("event_id"),
      timestamp_micros(lit(Gen.epochMicros) + col("id") * stepMicros +
        uniform(31, stepMicros)).as("ts"),
      uniform(33, users).as("user_id"),
      when(kind < 48, "view").when(kind < 60, "click").when(kind < 72, "purchase")
        .when(kind < 84, "signup").otherwise("error").as("event_type"),
      round(uniform(34, 50000) / 100.0, 2).as("value"),
      concat(lit("{\"k\": "), uniform(35, 100).cast("string"), lit("}")).as("props")), path)
  }

  /** Corpus documents: 30-120 tokens over a seed-salted vocabulary, so
    * replicas made from different seeds are not near-duplicates of each
    * other. About 8 % of documents are exact copies and 12 % near copies
    * (one token in 25 replaced) of an earlier document, some across
    * sources, so the dedup cascade and the src0 benchmark
    * decontamination both have work to do. */
  def documents(path: String, rows: Long): Unit = {
    val vocab = Gen.vocabulary(seed, 600)
    val vocabCol = array(vocab.map(lit): _*)
    val r = uniform(41, 100)
    // base(id): the document this row copies, or itself
    val base = when(r < 20, greatest(lit(0L), col("id") - 1 - uniform(42, 64)))
      .otherwise(col("id"))
    val mutate = r >= 8 && r < 20
    val nTok = (pmod(xxhash64(lit(seed), lit(43), col("base")), lit(91L)) + 30).cast("int")
    def word(k: Column): Column =
      element_at(vocabCol, (pmod(xxhash64(lit(seed), lit(44), col("base"), k),
        lit(vocab.size.toLong)) + 1).cast("int"))
    def noise(k: Column): Column =
      element_at(vocabCol, (pmod(xxhash64(lit(seed), lit(45), col("id"), k),
        lit(vocab.size.toLong)) + 1).cast("int"))
    val tokens = transform(sequence(lit(1), nTok), k =>
      when(col("mutate") && pmod(xxhash64(lit(seed), lit(46), col("id"), k), lit(25L)) === 0,
        noise(k)).otherwise(word(k)))
    val df = ids(rows)
      .select(col("id"), base.as("base"), mutate.as("mutate"))
      .select(col("id"), col("id").as("doc_id"),
        concat_ws(" ", tokens).as("text"),
        pick(47, Seq("en", "en", "en", "es", "de", "fr", "zh")).as("lang"),
        concat(lit("src"), uniform(48, 6).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(df, path)
  }

  /** 64-d embeddings with 10 labels; vectors of one label share a
    * seeded centre, so nearest neighbours are meaningful. */
  def embeddings(path: String, rows: Long): Unit = {
    val dim = 64
    val label = uniform(51, 10)
    val comp = transform(sequence(lit(1), lit(dim)), k =>
      ((pmod(xxhash64(lit(seed), lit(52), col("label"), k), lit(20001L)) - 10000) / 50000.0 +
        (pmod(xxhash64(lit(seed), lit(53), col("id"), k), lit(20001L)) - 10000) / 100000.0)
        .cast("float"))
    write(ids(rows).select(col("id"), label.as("label"))
      .select(col("id"), col("id").as("vec_id"), comp.as("embedding"),
        col("label").cast("int").as("label")), path)
  }
}

object Gen {
  val Epoch = "2024-01-01"
  val epochMicros: Long = java.time.LocalDate.parse(Epoch)
    .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000L

  /** Stopwords first (the quality score counts them), then `n` words
    * spelled from the seed. */
  def vocabulary(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed * 7919L + 17L)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    Seq("the", "a", "of", "and", "to") ++ (0 until n).map { _ =>
      val len = 3 + rnd.nextInt(6)
      (0 until len).map(_ => letters(rnd.nextInt(letters.length))).mkString
    }
  }

  /** The data files under `path` (no checksums, no `_SUCCESS`). */
  def filesUnder(path: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.isFile && !f.getName.endsWith(".crc") && !f.getName.startsWith("_")) Seq(f)
      else Seq.empty
    walk(new java.io.File(path))
  }
}
