package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ExtractJob, Relational, Similarity}
import graft.sources.PageSynth

/** Plan-shape regression tests: the properties that make the pipeline
  * scale are structural facts of the physical plan — assert them so a
  * future change can't silently reintroduce a payload shuffle or lose
  * column pruning.
  */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark.{sf0001, spark}

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The distinct file scans the executed plans ran, by object identity.
    * Walks into AQE's final plan and query stages, and into a cached
    * relation's plan — whose scan is shared by every query reading the
    * cache, and which a plan string would repeat once per query.
    */
  private def fileScans(qes: Seq[QueryExecution]): Seq[FileSourceScanExec] = {
    val seen = new java.util.IdentityHashMap[FileSourceScanExec, Unit]()
    def walk(p: SparkPlan): Unit = p match {
      case s: FileSourceScanExec => seen.put(s, ())
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cacheBuilder.cachedPlan)
      case other => (other.children ++ other.subqueries).foreach(walk)
    }
    qes.foreach(qe => walk(qe.executedPlan))
    import scala.jdk.CollectionConverters._
    seen.keySet.asScala.toSeq
  }

  test("extract: no exchange before the kernel; scan reads only url+html") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_plan").toString
    PageSynth.pages(spark, sf0001).write.mode("overwrite").parquet(s"$tmp/pages")
    import spark.implicits._
    val pages = spark.read.parquet(s"$tmp/pages").as[graft.model.Page]
    val plan = physicalPlan(ExtractJob.extract(spark, pages, 64).toDF())
    assert(!plan.contains("Exchange"), s"payload shuffle reintroduced:\n$plan")
    assert(plan.contains("ReadSchema: struct<url:string,html:binary>"),
      s"column pruning lost:\n$plan")
  }

  test("classic run: pages payload (html) is scanned exactly once, by the kernel") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_plan_once").toString
    PageSynth.pages(spark, sf0001).write.mode("overwrite").parquet(s"$tmp/pages")
    val (_, qes) = TestSpark.capturingQueries(
      graft.operators.ExtractRunner.run(spark, s"$tmp/pages", s"$tmp/out", buckets = 8))
    // distinct executed scan nodes, not plan strings: the write and the
    // lineage aggregate both read the persisted kernel output, and each
    // plan string repeats the cached relation's one scan
    val payloadScans = fileScans(qes).filter(s =>
      s.relation.location.rootPaths.exists(_.toUri.getPath == s"$tmp/pages") &&
        s.requiredSchema.fieldNames.contains("html"))
    assert(payloadScans.size == 1,
      s"expected exactly one html-reading scan of the pages table, got ${payloadScans.size}:\n" +
        qes.map(_.executedPlan.toString).filter(_.contains(s"$tmp/pages")).mkString("\n----\n"))
  }

  test("bucket write: one file per bucket, bucket b written by task b mod n") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_plan_write").toString
    val pages = PageSynth.pages(spark, sf0001)
    val buckets = 16
    ExtractJob.writeExtracted(ExtractJob.extract(spark, pages, buckets), s"$tmp/extracted")
    val n = spark.sparkContext.defaultParallelism
    // a part file is named for the write task's partition: part-<i>-...
    val taskOf = new java.io.File(s"$tmp/extracted").listFiles().filter(_.isDirectory).map { d =>
      val parts = d.list().filter(_.startsWith("part-"))
      assert(parts.length == 1, s"${d.getName}: ${parts.mkString(", ")}")
      d.getName.stripPrefix("bucket=").toInt -> parts.head.stripPrefix("part-").take(5).toInt
    }.toMap
    assert(taskOf.keySet == (0 until buckets).toSet)
    assert(taskOf.forall { case (b, t) => t == b % n }, s"bucket -> write task: ${taskOf.toSeq.sorted}")
    assert(taskOf.values.toSet == (0 until n).toSet)
  }

  test("statusBatch: bucket isin prunes partitions at the scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_plan_sb").toString
    PageSynth.pages(spark, sf0001).write.mode("overwrite").parquet(s"$tmp/pages")
    graft.operators.ExtractRunner.run(spark, s"$tmp/pages", s"$tmp/out", buckets = 8)
    import spark.implicits._
    val urls = spark.read.parquet(s"$tmp/out/extracted")
      .select(col("url")).limit(3).as[String].collect().toSeq
    // the bucket predicate must land in PartitionFilters (directory
    // pruning), not as a post-scan filter over the whole table — for the
    // batch lookup and for the single-url one
    Seq(graft.operators.ExtractRunner.statusBatch(spark, s"$tmp/out", urls),
      graft.operators.ExtractRunner.status(spark, s"$tmp/out", urls.head)).foreach { df =>
      val plan = physicalPlan(df)
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
        s"no partition pruning:\n$plan")
    }
  }

  test("minhash verify: candidate-doc gate is a broadcast semi-join") {
    val df = graft.operators.Dedup.dedupMinhashLsh(spark, sf0001)
    val plan = physicalPlan(df)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"candidate gate not broadcast semi:\n$plan")
  }

  test("q3: dimension joins are broadcast (no shuffle of the fact side for dims)") {
    val plan = physicalPlan(Relational.q3TopRevenue(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("broadcast dims: both dimension joins broadcast, no sort-merge join") {
    val plan = physicalPlan(Relational.qBroadcastDims(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q1: predicate pushed to parquet scan; partial aggregation before exchange") {
    val df = Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")
    val plan = physicalPlan(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed down:\n$plan")
    // partial_sum before the exchange = map-side combine
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"), plan)
  }

  test("topk: global sort+limit plans as TakeOrderedAndProject (no full sort)") {
    val plan = physicalPlan(Relational.qTopK(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("resume filter: the done-bucket side is broadcast, not shuffled") {
    val pages = PageSynth.pages(spark, sf0001)
    val plan = physicalPlan(
      ExtractJob.resumeFilter(spark, pages, Seq(0, 1, 2, 3), 8).toDF())
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
  }

  test("range join: tiny band table broadcasts (no shuffle of the fact side)") {
    val plan = physicalPlan(Relational.qRangeJoin(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("as-of join: union+window composition shuffles once on the key (no range join)") {
    val plan = physicalPlan(Relational.qAsofJoin(spark, "/root/testdata/sf0.001"))
    // one hashpartitioning(user_id) exchange feeds the window (the click
    // side's (user_id, ts) pre-dedup agg is a separate, smaller shuffle);
    // there must be NO join operator at all
    assert(!plan.contains("Join"), s"as-of should not plan a join:\n$plan")
    val keyExchanges = "hashpartitioning\\(user_id#\\d+L, \\d+\\)".r.findAllIn(plan).length
    assert(keyExchanges == 1, s"expected exactly one window key shuffle, got $keyExchanges:\n$plan")
  }

  test("sessionize: window and session agg share one user_id shuffle") {
    val plan = physicalPlan(Relational.qSessionize(spark, "/root/testdata/sf0.001"))
    val keyExchanges = "hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(keyExchanges == 1,
      s"session agg must reuse the window's partitioning, got $keyExchanges:\n$plan")
  }

  test("text_pii / text_chunks: narrow plans — no key shuffle, no join") {
    Seq(
      graft.operators.TextAnalysis.textPii(spark, "/root/testdata/sf0.001"),
      graft.operators.TextAnalysis.textChunks(spark, "/root/testdata/sf0.001")
    ).foreach { df =>
      val plan = physicalPlan(df)
      // the only exchange allowed is the output sort's rangepartitioning
      assert(!plan.contains("hashpartitioning"), s"unexpected key shuffle:\n$plan")
      assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    }
  }

  test("ann: query side broadcast against the corpus scan") {
    val plan = physicalPlan(Similarity.annBruteForce(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("ann_ivfpq: probe and query sides broadcast; no sort-merge join") {
    val dir = "/root/testdata/sf0.001"
    val plan = physicalPlan(Similarity.annIvfPqFrom(spark, dir,
      Similarity.annIvfCells(spark, dir),
      Similarity.annIvfProbes(spark, dir),
      graft.operators.Pq.pqPairs(spark, dir)))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"ivfpq must not sort-merge (probes/queries broadcast, codes join stays hash):\n$plan")
  }

  test("decontaminate: benchmark grams broadcast into the corpus window stream") {
    val plan = physicalPlan(
      graft.operators.TrainingSet.decontaminate(spark, "/root/testdata/sf0.001"))
    // both the donor anti-gate and the gram match must broadcast — the
    // corpus-side token windows never shuffle before matching
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"corpus grams must not sort-merge:\n$plan")
  }

  test("substring_dedup: map-side partial agg before the window-key shuffle") {
    val plan = physicalPlan(
      graft.operators.TrainingSet.substringDedup(spark, "/root/testdata/sf0.001"))
    // the corpus-wide gram groupBy must partial-aggregate before its
    // exchange (collapses per-partition repeats of hot windows)
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("bpe_pair_stats: partial agg collapses the pair explode; top-k never global-sorts") {
    val plan = physicalPlan(
      graft.operators.TextAnalysis.bpePairStats(spark, "/root/testdata/sf0.001"))
    // ~1 exploded row per corpus character MUST partial-aggregate down to
    // the tiny pair alphabet before the exchange
    assert(plan.contains("partial_count"), plan)
    // top-32 over the agg output is TakeOrderedAndProject, not Sort+Limit
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("exists subquery: decorrelates to a broadcast semi join, scalar avg is one tiny agg") {
    val plan = physicalPlan(Relational.qExistsSubquery(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("LeftSemi"), s"EXISTS must decorrelate to a semi join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("lateral topk: decorrelates to WindowGroupLimit (rank pushed below the shuffle)") {
    val plan = physicalPlan(Relational.qLateralTopk(spark, "/root/testdata/sf0.001"))
    // the per-key LIMIT must become a window-rank with partial group-limit
    // BEFORE the exchange — not a per-row nested-loop subquery
    assert(plan.contains("WindowGroupLimit"), s"no partial group limit:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("range-frame window: one user_id shuffle, RangeFrame in the window spec") {
    val plan = physicalPlan(Relational.qWindowRange(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("RangeFrame"), s"frame must be RANGE, not ROWS:\n$plan")
    val keyExchanges = "hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(keyExchanges == 1, s"expected one user_id shuffle, got $keyExchanges:\n$plan")
  }

  test("aqe: skewed sort-merge join is split at runtime (skew=true in final plan)") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled"
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // one hot key holding half the left side — the Common-Crawl hot-host shape
      val left = spark.range(0, 200000)
        .select(when(col("id") % 2 === 0, 0L).otherwise(col("id") % 1000).as("k"),
          col("id").as("v"))
      val right = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = left.join(right, "k").groupBy().agg(count(lit(1)).as("n"))
      val n = joined.collect()(0).getLong(0)
      assert(n == 200000L)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
