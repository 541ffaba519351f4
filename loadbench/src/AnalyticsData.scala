package loadbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded stand-in for the engine's table fixtures: the TPC-H-style star
  * schema plus `events`, `documents` and `embeddings`, with the column
  * names and types the catalogue queries read. Data is fixed by
  * [[DataSeed]] (the run seed only orders the queries), so each query's
  * row count can be recorded once and checked on every run. */
object AnalyticsData {
  val DataSeed = 42L
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  val Words = Seq("the", "fast", "key", "order", "sort", "table", "scan", "merge",
    "part", "window", "small", "hash", "join", "batch", "stream", "spark", "dup",
    "group", "query", "row", "data", "slow", "filter", "customer", "line", "value",
    "column", "agg", "big", "a", "vector")

  private def frames(spark: SparkSession): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val s = DataSeed
    def r(i: Int) = rand(s + i)
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
    val nation = (0 until 25).map(i => (i, s"NATION$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = spark.range(1, 301, 1, 1).select(
      col("id").as("c_custkey"), format_string("Customer#%06d", col("id")).as("c_name"),
      (r(1) * 25).cast("int").as("c_nationkey"), round(r(2) * 10000 - 1000, 2).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(lit): _*),
        (r(3) * 5).cast("int") + 1).as("c_mktsegment"))
    val supplier = spark.range(1, 21, 1, 1).select(
      col("id").as("s_suppkey"), format_string("Supplier#%06d", col("id")).as("s_name"),
      (r(4) * 25).cast("int").as("s_nationkey"), round(r(5) * 10000 - 1000, 2).as("s_acctbal"))
    val part = spark.range(1, 401, 1, 1).select(
      col("id").as("p_partkey"), format_string("part %d", col("id")).as("p_name"),
      format_string("Brand#%d%d", (r(6) * 5 + 1).cast("int"), (r(7) * 5 + 1).cast("int")).as("p_brand"),
      element_at(array(Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO").map(lit): _*),
        (r(8) * 6).cast("int") + 1).as("p_type"),
      (r(9) * 50 + 1).cast("int").as("p_size"), round(r(10) * 1000 + 900, 2).as("p_retailprice"))
    val orders = spark.range(1, 3001, 1, 2).select(
      col("id").as("o_orderkey"), (r(11) * 300 + 1).cast("long").as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")), (r(12) * 3).cast("int") + 1).as("o_orderstatus"),
      round(r(13) * 400000 + 1000, 2).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + (r(14) * 2400 * 86400).cast("long")).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        (r(15) * 5).cast("int") + 1).as("o_orderpriority"))
    val lineitem = spark.range(0, 12000, 1, 2).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"), (r(16) * 400 + 1).cast("long").as("l_partkey"),
      (r(17) * 20 + 1).cast("long").as("l_suppkey"), (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (r(18) * 50 + 1).cast("int").cast("double").as("l_quantity"),
      round(r(19) * 100000 + 900, 2).as("l_extendedprice"), round(r(20) * 0.1, 2).as("l_discount"),
      round(r(21) * 0.08, 2).as("l_tax"),
      element_at(array(lit("R"), lit("A"), lit("N")), (r(22) * 3).cast("int") + 1).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (r(23) * 2).cast("int") + 1).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + (r(24) * 2500 * 86400).cast("long")).as("l_shipdate"))
    val events = spark.range(0, 4000, 1, 2).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704326400000000L) + col("id") * 60000000L + (r(25) * 50000000).cast("long")).as("ts"),
      (r(26) * 50).cast("long").as("user_id"),
      element_at(array(Seq("view", "click", "purchase", "signup", "error").map(lit): _*),
        (r(27) * 5).cast("int") + 1).as("event_type"),
      round(r(28) * 500, 2).as("value"),
      format_string("{\"k\": %d}", (r(29) * 100).cast("int")).as("props"))
    val rnd = new java.util.SplittableRandom(s)
    val docs = (0 until 500).map { i =>
      val n = 20 + rnd.nextInt(60)
      val text = Seq.fill(n)(Words(rnd.nextInt(Words.length))).mkString(" ")
      (i.toLong, text, Seq("en", "de", "fr", "es", "zh")(rnd.nextInt(5)), s"src${rnd.nextInt(20)}")
    }
    // every tenth document near-duplicates its predecessor
    val documents = docs.map { case d @ (i, t, l, src) =>
      if (i % 10 == 9) (i, docs((i - 1).toInt)._2 + " dup", l, src) else d
    }.map { case (i, t, l, src) => (i, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val centers = Array.fill(10, 64)(rnd.nextGaussian())
    val embeddings = (0 until 500).map { i =>
      val lab = i % 10
      val v = Array.tabulate(64)(j => centers(lab)(j) + 0.3 * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, lab)
    }.toDF("vec_id", "embedding", "label")
    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Write every table under `sfDir` as parquet, one file per partition
    * of its generated frame (one to four). */
  def materialize(spark: SparkSession, sfDir: String): Unit =
    frames(spark).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$sfDir/$name.parquet")
    }

  /** `graft.Tables` memoizes one DataFrame per (session, path) and, on a
    * miss, rewrites the table into a multi-file copy under a fixed
    * directory of the source tree. Seed that memo with this run's copies,
    * for the root session and its interactive child, so the catalogue reads
    * only the run's own files. (Queries that read the raw single-file
    * tables through `Tables.loadRaw` are not in the benchmark's set.) */
  def install(spark: SparkSession, sfDir: String): Unit = {
    val f = graft.Tables.getClass.getDeclaredFields
      .find(f => classOf[scala.collection.mutable.Map[_, _]].isAssignableFrom(f.getType))
      .getOrElse(sys.error("graft.Tables has no memo map; the benchmark needs updating"))
    f.setAccessible(true)
    val memo = f.get(graft.Tables).asInstanceOf[scala.collection.mutable.Map[(SparkSession, String), DataFrame]]
    val sessions = Seq(spark, graft.Sessions.interactive(spark)).distinct
    graft.Tables.synchronized {
      for (s <- sessions; t <- Tables) {
        memo((s, s"$sfDir/$t.parquet")) = s.read.parquet(s"$sfDir/$t.parquet")
      }
    }
  }
}
