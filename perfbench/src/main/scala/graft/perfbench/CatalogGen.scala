package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}

/** The catalog's tables at a given scale factor, generated from the
  * seed. Schemas, row counts and distributions are those of the
  * repository's fixture generator (FIXTURES.md §A): every value is
  * xxhash64 of (row id, salt, seed), so the output is identical at any
  * parallelism and differs between seeds. region and nation are the
  * fixed 5- and 25-row dimension tables of §A. Each table is written
  * as a single `<name>.parquet` file, the layout `graft.Tables` reads. */
object CatalogGen {
  private val Two52 = (1L << 52).toDouble

  def write(spark: SparkSession, seed: Long, sf: Double, out: String): Unit = {
    import spark.implicits._
    val s = lit(seed)
    def u(salt: Int, c: Column*): Column =
      shiftrightunsigned(xxhash64((c :+ lit(salt) :+ s): _*), 12).cast("double") / lit(Two52)
    def ui(salt: Int, n: Long, c: Column*): Column =
      pmod(xxhash64((c :+ lit(salt) :+ s): _*), lit(n))
    def pick(salt: Int, choices: Seq[String], c: Column): Column =
      element_at(array(choices.map(lit): _*), (ui(salt, choices.size.toLong, c) + 1L).cast("int"))

    JFiles.createDirectories(Paths.get(out))
    def n(base: Long): Long = math.max(1L, math.round(base * sf))
    val nSupp = n(10000); val nPart = n(200000); val nCust = n(150000)
    val nOrd = n(1500000); val nLi = nOrd * 4; val nEv = n(1000000)
    val nUsers = n(15000)
    val nDoc = math.max(500L, n(50000)); val nEmb = math.max(500L, n(20000))

    def save(df: DataFrame, name: String): Unit = {
      val tmp = s"$out/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"$name: expected 1 part file, got ${part.length}")
      JFiles.move(part.head.toPath, Paths.get(s"$out/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Files.deleteTree(new java.io.File(tmp))
    }
    def id: Column = col("id")
    def ntzDate(base: String, spanDays: Long, salt: Int): Column =
      date_add(to_date(lit(base)), ui(salt, spanDays, id).cast("int")).cast("timestamp_ntz")

    save(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (nm, i) => (i, nm) }.toDF("r_regionkey", "r_name"), "region")
    save((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    save(spark.range(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(1, 25, id).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u(2, id) * 11000.0, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), id).as("c_mktsegment")), "customer")

    save(spark.range(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ui(4, 25, id).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u(5, id) * 11000.0, 2).as("s_acctbal")), "supplier")

    val adjs = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    save(spark.range(nPart).select(
      id.as("p_partkey"),
      concat_ws(" ", pick(6, adjs, id), pick(7, nouns, id)).as("p_name"),
      concat(lit("Brand#"), (ui(8, 25, id) + 1L).cast("string")).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        id).as("p_type"),
      (ui(10, 50, id) + 1L).cast("int").as("p_size"),
      round(lit(900.0) + u(11, id) * 100.0, 2).as("p_retailprice")), "part")

    save(spark.range(nOrd).select(
      id.as("o_orderkey"),
      ui(12, nCust, id).as("o_custkey"),
      pick(13, Seq("F", "O", "P"), id).as("o_orderstatus"),
      round(lit(1000.0) + u(14, id) * 499000.0, 2).as("o_totalprice"),
      ntzDate("1995-01-01", 2405, 15).as("o_orderdate"),
      pick(16, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), id).as("o_orderpriority")), "orders")

    save(spark.range(nLi).select(
      ui(17, nOrd, id).as("l_orderkey"),
      ui(18, nPart, id).as("l_partkey"),
      ui(19, nSupp, id).as("l_suppkey"),
      (ui(20, 7, id) + 1L).cast("int").as("l_linenumber"),
      (ui(21, 50, id) + 1L).cast("double").as("l_quantity"),
      round(lit(900.0) + u(22, id) * 104100.0, 2).as("l_extendedprice"),
      round(ui(23, 11, id).cast("double") * 0.01, 2).as("l_discount"),
      round(ui(24, 9, id).cast("double") * 0.01, 2).as("l_tax"),
      pick(25, Seq("A", "N", "R"), id).as("l_returnflag"),
      pick(26, Seq("F", "O"), id).as("l_linestatus"),
      ntzDate("1995-01-02", 2499, 27).as("l_shipdate")), "lineitem")

    save(spark.range(nEv).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L)
        + ui(28, 30L * 86400L * 1000000L, id)).cast("timestamp_ntz").as("ts"),
      ui(29, nUsers, id).as("user_id"),
      pick(30, Seq("click", "error", "purchase", "signup", "view"), id)
        .as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u(31, id)), 2).as("value"),
      format_string("{\"k\": %d}", ui(32, 100, id)).as("props")), "events")

    // documents: a few reuse their 250-block anchor's seed (exact dups)
    // or reuse it and append one word (near dups)
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
      "dup", "fast", "filter", "group", "hash", "join", "key", "line",
      "merge", "order", "part", "query", "row", "scan", "slow", "small",
      "sort", "spark", "stream", "table", "the", "value", "vector", "window")
    val sel = ui(40, 1000, id)
    val anchor = (id.cast("long") / 250L).cast("long") * 250L
    val docSeed = when(sel < 5, anchor).otherwise(id)
    val nw = ui(41, 91, docSeed) + 10L
    val baseWords = transform(sequence(lit(1), nw.cast("int")),
      i => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(docSeed, i, lit(42), s), lit(vocab.size.toLong)) + 1L).cast("int")))
    val words = when(sel >= 2 && sel < 5,
      concat(baseWords, array(pick(45, vocab, id)))).otherwise(baseWords)
    save(spark.range(nDoc).select(
      id.as("doc_id"),
      concat_ws(" ", words).as("text"),
      when(ui(43, 20, docSeed) < 8, "en").otherwise(
        pick(44, Seq("de", "es", "fr", "zh"), docSeed)).as("lang"),
      concat(lit("src"), ui(46, 20, id).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    // embeddings: Box-Muller gaussians per dim, L2-normalized, float32
    val raw = transform(sequence(lit(0), lit(63)), j => {
      val u1 = shiftrightunsigned(xxhash64(id, j, lit(50), s), 12).cast("double") / lit(Two52)
      val u2 = shiftrightunsigned(xxhash64(id, j, lit(51), s), 12).cast("double") / lit(Two52)
      sqrt(lit(-2.0) * log(greatest(u1, lit(1e-300)))) * cos(lit(2.0 * math.Pi) * u2)
    })
    save(spark.range(nEmb)
      .withColumn("raw", raw)
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
      .select(
        id.as("vec_id"),
        transform(col("raw"), x => x / col("nrm")).cast("array<float>").as("embedding"),
        ui(52, 10, id).cast("int").as("label")), "embeddings")
  }
}
