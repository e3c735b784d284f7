package perfbench

import java.util.SplittableRandom

import graft.sources.PageSynth
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one seeded corpus generator every workload draws from.
  *
  * Documents follow the shape of the sf-scaled `documents` table (10-100
  * words over a 30-word vocabulary, five languages, 20 sources, 5 % of
  * docs a copy of an earlier doc plus " dup"). The seed picks both the
  * words and the doc-id range, so the kind mix of `PageSynth.kindOf`
  * (ids mod 101 / mod 10) lands on different documents per seed; the two
  * fixed-id fixtures (the 10 MB oversize page and the oversize-resolution
  * image) are always included. Pages come from `PageSynth.pageFor` and
  * golden output from `PageSynth.goldenFor`, so golden agrees with the
  * input by construction.
  */
object Corpus {

  private val Vocab = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  /** Seeded doc-id range: disjoint across seeds and clear of the fixture ids. */
  def idBase(seed: Long): Long = 1000L + Math.floorMod(seed, 100000L) * 1000000L

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** `n` documents for `seed` (plus the two fixtures), each text repeated
    * `inflate` times (Common-Crawl-sized pages, the way `Bench` inflates).
    */
  def documents(seed: Long, n: Int, inflate: Int = 1): Vector[PageSynth.Doc] = {
    val base = idBase(seed)
    val texts = new Array[String](n)
    val out = Vector.newBuilder[PageSynth.Doc]
    var i = 0
    while (i < n) {
      val id = base + i
      val rng = new SplittableRandom(mix(seed, id))
      texts(i) =
        if (i > 0 && rng.nextInt(20) == 0) texts(rng.nextInt(i)) + " dup"
        else {
          val nw = 10 + rng.nextInt(91)
          val sb = new java.lang.StringBuilder(nw * 7)
          var w = 0
          while (w < nw) {
            if (w > 0) sb.append(' ')
            sb.append(Vocab(rng.nextInt(Vocab.length)))
            w += 1
          }
          sb.toString
        }
      val text = if (inflate <= 1) texts(i) else Array.fill(inflate)(texts(i)).mkString(" ")
      out += PageSynth.Doc(id, text, Langs(rng.nextInt(Langs.length)), s"src${id % 20}")
      i += 1
    }
    val fixtures = Seq(PageSynth.OversizeDocId, PageSynth.OversizeResDocId).map { id =>
      PageSynth.Doc(id, s"fixture page $id", "en", s"src${id % 20}")
    }
    fixtures.toVector ++ out.result()
  }

  /** Kind label per doc, for the page-mix record and the kernel branch counts. */
  def kindLabel(id: Long): String = PageSynth.kindOf(id) match {
    case PageSynth.KHtml => "html"
    case PageSynth.KPdf | PageSynth.KCorruptPdf => "pdf"
    case PageSynth.KEmpty => "empty"
    case PageSynth.KOversize => "too_large"
    case PageSynth.KUnsupported => "unsupported"
    case PageSynth.KImage | PageSynth.KImageOversizedRes => "raster"
  }

  val KindLabels: Seq[String] = Seq("html", "pdf", "raster", "empty", "too_large", "unsupported")

  /** url → md5 hex of golden (text, status, error), the per-url check key. */
  def goldenDigests(docs: Seq[PageSynth.Doc]): Map[String, String] =
    docs.iterator.map { d =>
      val g = PageSynth.goldenFor(d)
      g.url -> Check.digest(g.expected_text, g.expected_status, g.expected_error)
    }.toMap

  // ------------------------------------------------------------------
  // query-suite probe tables: the sf-scaled star schema + events + documents +
  // embeddings, with the column names, types and value ranges of the
  // suite's input tables. Fixed seed: the suite's row counts are recorded
  // in query_rows.tsv and must not depend on --seed.
  // ------------------------------------------------------------------

  val SuiteSeed = 42L

  private def u(salt: Int, n: Long): org.apache.spark.sql.Column =
    pmod(xxhash64(col("id"), lit(salt)), lit(n))

  private def pick(salt: Int, values: Seq[String]): org.apache.spark.sql.Column =
    element_at(array(values.map(lit): _*), (u(salt, values.length.toLong) + 1).cast("int"))

  private def day(base: String, salt: Int, span: Long): org.apache.spark.sql.Column =
    (lit(base).cast("timestamp").cast("long") + u(salt, span) * 86400L).cast("timestamp")

  /** Write every suite table under `dir` as `<table>.parquet`. */
  def writeSuiteTables(s: SparkSession, dir: String, sf: Double, parts: Int): Unit = {
    import s.implicits._
    def rows(k: Double): Long = math.max(1L, math.round(k * sf))
    val nCust = rows(150000)
    val nSupp = rows(10000)
    val nPart = rows(200000)
    val nOrd = rows(1500000)
    val nLine = rows(6000000)
    val nEv = rows(1000000)
    val nUsers = math.max(10L, rows(15000))
    val nDocs = math.max(500, rows(50000).toInt)
    val nEmb = math.max(500, rows(20000).toInt)
    def range(n: Long) = s.range(0L, n, 1L, parts)
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"),
      "nation" -> (0 until 25).map(i => (i, s"NATION_$i", i % 5))
        .toDF("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> range(nCust).select(
        col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        u(1, 25).cast("int").as("c_nationkey"),
        round(u(2, 1099980).cast("double") / 100.0 - 999.99, 2).as("c_acctbal"),
        pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
          .as("c_mktsegment")),
      "supplier" -> range(nSupp).select(
        col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        u(4, 25).cast("int").as("s_nationkey"),
        round(u(5, 1099980).cast("double") / 100.0 - 999.99, 2).as("s_acctbal")),
      "part" -> range(nPart).select(
        col("id").as("p_partkey"),
        concat(pick(6, Seq("large", "hot", "blue", "old", "cold", "red", "small", "new")),
          lit(" "), pick(7, Seq("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")))
          .as("p_name"),
        concat(lit("Brand#"), (u(8, 25) + 1).cast("string")).as("p_brand"),
        pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
        (u(10, 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + pmod(col("id"), lit(1000L)).cast("double") / 10.0, 1).as("p_retailprice")),
      "orders" -> range(nOrd).select(
        col("id").as("o_orderkey"),
        u(11, nCust).as("o_custkey"),
        pick(12, Seq("O", "F", "P")).as("o_orderstatus"),
        round(u(13, 49899127).cast("double") / 100.0 + 1001.91, 2).as("o_totalprice"),
        day("1995-01-01", 14, 2404).as("o_orderdate"),
        pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")),
      "lineitem" -> range(nLine).select(
        u(16, nOrd).as("l_orderkey"),
        u(17, nPart).as("l_partkey"),
        u(18, nSupp).as("l_suppkey"),
        (u(19, 7) + 1).cast("int").as("l_linenumber"),
        (u(20, 50) + 1).cast("double").as("l_quantity"),
        round(u(21, 10409923).cast("double") / 100.0 + 900.68, 2).as("l_extendedprice"),
        (u(22, 11).cast("double") / 100.0).as("l_discount"),
        (u(23, 9).cast("double") / 100.0).as("l_tax"),
        pick(24, Seq("N", "R", "A")).as("l_returnflag"),
        pick(25, Seq("O", "F")).as("l_linestatus"),
        day("1995-01-02", 26, 2499).as("l_shipdate")),
      "events" -> range(nEv).select(
        col("id").as("event_id"),
        // ~26 s mean spacing with jitter: a month of events at sf0.1
        (lit("2024-01-01").cast("timestamp").cast("double") +
          col("id").cast("double") * (2592000.0 / nEv) + u(27, 20000).cast("double") / 1000.0)
          .cast("timestamp").as("ts"),
        u(28, nUsers).as("user_id"),
        pick(29, Seq("signup", "purchase", "view", "click", "error")).as("event_type"),
        round(u(30, 56021).cast("double") / 100.0, 2).as("value"),
        concat(lit("{\"k\": "), u(31, 100).cast("string"), lit("}")).as("props")),
      "documents" -> documents(SuiteSeed, nDocs).drop(2) // no fixtures: plain table rows
        .map(d => (d.doc_id - idBase(SuiteSeed), d.text, d.lang, d.source, d.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> embeddings(nEmb).toDF("vec_id", "embedding", "label"))
    tables.foreach { case (name, df) => df.write.mode("overwrite").parquet(s"$dir/$name.parquet") }
  }

  /** 64-d unit vectors in 10 labelled clusters (centroid + gaussian noise). */
  private def embeddings(n: Int): Seq[(Long, Array[Float], Int)] = {
    val dim = 64
    val rng = new SplittableRandom(SuiteSeed)
    val g = new java.util.Random(SuiteSeed)
    val centroids = Array.fill(10, dim)(g.nextGaussian() * 0.6)
    (0 until n).map { i =>
      val label = rng.nextInt(10)
      val v = Array.tabulate(dim)(k => centroids(label)(k) + g.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), label)
    }
  }
}
