package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The query registry the driver contract is derived from: one entry per
  * query, each with an oracle, and the registered frames' own hygiene.
  */
class RegistrySpec extends AnyFunSuite {
  import TestSpark.{sf0001, spark}

  test("registry: 91 distinct names, each with a non-blank oracle") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 91)
    assert(names.distinct.size == names.size)
    val oracles = SparkEntry.oracleSqlFor(sf0001)
    assert(SparkEntry.queries.keySet == oracles.keySet)
    assert(oracles.keySet == names.toSet)
    val blank = oracles.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"blank oracle SQL: $blank")
  }

  /** sha256 over every (name, oracle SQL) pair, sorted by name, each field
    * NUL-terminated. Pinned: the oracle strings are frozen, and a
    * deliberate change to one re-pins this and says why.
    */
  test("registry: the oracle SQL strings keep their pinned digest") {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for ((name, sql) <- SparkEntry.oracleSqlFor(sf0001).toSeq.sorted)
      md.update(s"$name\u0000$sql\u0000".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(md.digest().map(b => f"${b & 0xff}%02x").mkString ==
      "b6732b413b1a3cf97fa8c136cadfc100ef12a2cf7b1a3b2e6a32ba41b5e542cd")
  }

  test("registry: a name registered twice fails when the registry is built") {
    val q = SparkEntry.registry.head
    val other = SparkEntry.registry(1)
    val e = intercept[IllegalArgumentException](
      SparkEntry.distinctNames(Seq(q, other, q.copy(oracle = _ => "SELECT 1"))))
    assert(e.getMessage.contains(q.name))
    assert(!e.getMessage.contains(other.name))
  }

  test("stream_extract_counts: leaves no staging dir or sink view; rows match extract_main") {
    import spark.implicits._
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    // graft_stream<digits> only: OperatorsSpec's graft_stream_spec* dirs
    // share the prefix
    def stagedDirs(): Set[String] =
      Option(tmp.list()).fold(Set.empty[String])(_.filter(_.matches("graft_stream\\d+")).toSet)
    val before = stagedDirs()
    val got = TestSpark.queries("stream_extract_counts")(spark, sf0001)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(stagedDirs() -- before == Set.empty[String])
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("stream_extract")))
    val want = TestSpark.queries("extract_main")(spark, sf0001)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("n_pages").cast("long")).as("total_pages"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }
}
