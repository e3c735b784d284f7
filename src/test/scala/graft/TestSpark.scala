package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for all Spark-backed suites (JVM-wide; sbt
  * forks one test JVM, so suites share startup cost).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.operators.GraftConf.LocalFs)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** The registry frames every spec runs: one `SparkEntry.queriesUnder`
    * map for the test JVM, so each stage materializes once per run, under
    * a temp base of this JVM's own that is deleted at exit. Verify keeps
    * `/tmp/graft_oracle` to itself.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val root = java.nio.file.Files.createTempDirectory("graft_stages").toFile
    sys.addShutdownHook(org.apache.hadoop.fs.FileUtil.fullyDelete(root): Unit)
    SparkEntry.queriesUnder(dir => s"$root/${new java.io.File(SparkEntry.oracleBase(dir)).getName}")
  }

  /** Runs `body` and returns it with every query execution that succeeded
    * while it ran. The listener bus is async: before `body`, drain it so a
    * query that ended earlier is not delivered to this listener; after
    * `body`, poll until the captured set stops growing (two consecutive
    * equal, non-zero sizes).
    */
  def capturingQueries[T](body: => T): (T, Seq[QueryExecution]) = {
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qes.add(qe): Unit
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    countingJobs(()): Unit
    spark.listenerManager.register(listener)
    try {
      val out = body
      var last = -1
      var stable = 0
      val deadline = System.currentTimeMillis() + 15000
      while (stable < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        val n = qes.size
        if (n == last && n > 0) stable += 1 else stable = 0
        last = n
      }
      import scala.jdk.CollectionConverters._
      (out, qes.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Runs `body` and returns it with the number of Spark jobs it started
    * from this thread (or threads it spawned). Jobs are told apart by a
    * local property; a marker job submitted after `body` drains the
    * listener bus, which delivers job starts in order.
    */
  def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).orNull match {
          case `tag` => started.incrementAndGet(): Unit
          case t if t == s"$tag-end" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = try body finally sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS), "the listener bus did not drain")
      (out, started.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Root paths of every file relation the queries read, subqueries
    * included. Taken from the analyzed plans: AQE can drop a scan that
    * already ran from its final physical plan (a stage found empty at
    * runtime collapses to an empty relation), never from these.
    */
  def pathsRead(qes: Seq[QueryExecution]): Seq[String] =
    qes.flatMap(_.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => r.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten).distinct
}
