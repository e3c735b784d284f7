package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    smoke: Boolean,
    work: String,
    traceOut: Option[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--smoke" => m("smoke") = "1"; i += 1
        case a if a.startsWith("--") && i + 1 < args.length => m(a.drop(2)) = args(i + 1); i += 2
        case a => throw new IllegalArgumentException(s"unexpected argument '$a'")
      }
    }
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.contains("smoke"),
      m.getOrElse("work", new File("perfbench/target/work").getAbsolutePath),
      m.get("trace-out"))
  }
}

/** What one run reports: the result line's fields. */
final case class Outcome(attempted: Long, failed: Long, wrong: Long,
    metrics: Seq[(String, Double, String)]) {
  def correct: Boolean = wrong == 0 && failed == 0
  def json: String = Json.obj(Seq(
    "correct" -> correct.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })))
}

/** Entry point: one workload, one JVM, a closed loop of calls (one client,
  * one call at a time). Prints the result JSON as the last stdout line and
  * exits non-zero on any wrong output or failed call.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val out = Harness.run(opts)
    println(out.json)
    System.out.flush()
    if (!out.correct) {
      System.err.println(s"[perfbench] FAILED: wrong_outputs=${out.wrong} failed_calls=${out.failed}")
      sys.exit(1)
    }
  }
}

/** Session, span and GC bookkeeping for one run. */
final class Run(val opts: Opts) {
  val hiCores: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  var session: SparkSession = _
  var cores: Int = 0
  val spans = new Spans(() => if (session == null) null else session.sparkContext)
  var tracer: Option[SparkTrace] = None

  /** A session built the way `ExtractRunner.main` builds one: GraftConf,
    * shuffle partitions = cores, dynamic partition overwrite.
    */
  def open(c: Int): SparkSession = {
    close()
    session = graft.operators.GraftConf(SparkSession.builder()
        .appName("graft-extract")
        .config("spark.sql.shuffle.partitions", c.toString)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic"))
      .master(s"local[$c]")
      .getOrCreate()
    session.sparkContext.setLogLevel("WARN")
    cores = c
    session
  }

  def trace(): SparkTrace = {
    val t = new SparkTrace(cores)
    session.sparkContext.addSparkListener(t)
    tracer = Some(t)
    t
  }

  def close(): Unit = {
    if (session != null) session.stop()
    session = null
  }

  def dir(name: String): String = new File(opts.work, name).getAbsolutePath

  // ---- largest old-gen occupancy after a GC, while `heapWatch` is on ----
  @volatile var heapWatch = false
  @volatile var heapPeak = 0L
  locally {
    import java.lang.management.ManagementFactory
    import javax.management.{NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    val listener: NotificationListener = (n, _) => {
      if (heapWatch && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.forEach { (pool, u) =>
          if (pool.contains("Old")) heapPeak = math.max(heapPeak, u.getUsed)
        }
      }
    }
    ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }
}

object Harness {

  val Workloads: Seq[String] = Seq("crawl_pages", "near_dup")

  def workloadFor(name: String, run: Run): Workload = name match {
    case "crawl_pages" => new CrawlWorkload(run)
    case "near_dup" => new NearDupWorkload(run)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Workloads.mkString(", ")})")
  }

  def run(opts: Opts): Outcome = {
    val run = new Run(opts)
    val work = new File(opts.work)
    rmrf(work)
    work.mkdirs()
    try {
      val wl = workloadFor(opts.workload, run)
      val out = wl.execute()
      if (opts.trace) writeTrace(run, wl, out)
      out
    } finally {
      run.close()
      rmrf(work)
    }
  }

  /** Host facts that decide whether two records are comparable. */
  def hostRecord(run: Run): Seq[(String, String)] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val memKb = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
      finally src.close()
    }.getOrElse(-1L)
    val conf = Option(run.session).map(_.sparkContext.getConf)
    val confLocal = conf.flatMap(_.getOption("spark.local.dir")).getOrElse("")
    val envLocal = sys.env.getOrElse("SPARK_LOCAL_DIRS", "")
    val scratch = if (envLocal.nonEmpty) envLocal.split(",")(0) else
      if (confLocal.nonEmpty) confLocal else System.getProperty("java.io.tmpdir")
    val fsType = scala.util.Try {
      val f = new File(scratch)
      f.mkdirs()
      java.nio.file.Files.getFileStore(f.toPath).`type`()
    }.getOrElse("unknown")
    Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cores_hi" -> run.hiCores.toString,
      "mem_total_kb" -> memKb.toString,
      "java" -> Json.str(System.getProperty("java.version")),
      "jvm_flags" -> rt.getInputArguments.toArray.map(a => Json.str(a.toString)).mkString("[", ",", "]"),
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "graft_conf_local_dir" -> Json.str(confLocal),
      "spark_local_dirs_env" -> Json.str(envLocal),
      "scratch_dir" -> Json.str(scratch),
      "scratch_fs" -> Json.str(fsType))
  }

  private def writeTrace(run: Run, wl: Workload, out: Outcome): Unit = {
    val lines = Seq(Json.obj(Seq("host" -> Json.obj(hostRecord(run)))),
      Json.obj(Seq("inputs" -> Json.obj(wl.inputRecord.toSeq)))) ++
      run.spans.toJsonLines ++ run.tracer.fold(Seq.empty[String])(_.toJsonLines) :+ out.json
    // default: <work>/../../traces, i.e. perfbench/target/traces under run.py
    val path = run.opts.traceOut.getOrElse(new File(
      new File(run.opts.work).getAbsoluteFile.getParentFile.getParentFile,
      s"traces/${run.opts.workload}-seed${run.opts.seed}.jsonl").getPath)
    new File(path).getAbsoluteFile.getParentFile.mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    System.err.println(s"[perfbench] trace written to $path")
  }

  /** CPU seconds the hypervisor ran other guests on this machine's vCPUs
    * (the steal column of /proc/stat; 0 where there is none): the loop log
    * prints its share of the loop's vCPU time as a gauge of host noise
    */
  def stealS(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toDouble / 100 finally src.close()
  }.getOrElse(0.0)

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }

  def dirBytes(f: File): (Long, Int) =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).map(dirBytes)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) (0L, 0)
    else (f.length, 1)
}
