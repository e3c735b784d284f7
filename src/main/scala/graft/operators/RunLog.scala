package graft.operators

import com.fasterxml.jackson.databind.DeserializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, max, regexp_extract}

import graft.model.RunRecord

/** The run log under `runs/`, kept on the driver: one single-line JSON
  * file per `RunRecord` (Delta Lake's commit-log shape). No Spark job
  * reads or writes it for planning; only the `frame` views run one.
  *
  * A record is written under a hidden temp name and published by one
  * rename, so it is visible whole or not at all: a writer killed before
  * the rename leaves only a hidden file, which this log and Spark's file
  * listing both skip. The name carries the snapshot id, the bucket
  * modulus and the number of buckets the run completed,
  *
  *   s<unsigned hex snapshot id>_b<buckets>_d<buckets done>_<run_at epoch ms>_<uuid>.json
  *
  * so planning learns every record's modulus from one listing and opens
  * only the records of its own snapshot that completed a bucket: start
  * records and the records no-op resumes and cancelled runs append are
  * never opened. A run's start record and end record share the uuid.
  */
private[graft] object RunLog {

  /** A committed record, as its name describes it. */
  final case class Entry(path: Path, snapshotId: Long, buckets: Int, bucketsDone: Long)

  /** The status of a start record, committed before a run writes data. */
  val Started = "started"

  private val RecordName =
    """s([0-9a-f]{1,16})_b([1-9][0-9]{0,8})_d([0-9]{1,10})_([0-9]+)_([0-9a-f-]{36})\.json""".r

  // strict: a record missing a field, holding a null one or trailing junk
  // fails to parse instead of reading as zeros
  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_NULL_FOR_PRIMITIVES,
      DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  /** Hidden the way Spark's file listing hides names: readers skip these. */
  private def hidden(name: String): Boolean = name.startsWith(".") || name.startsWith("_")

  private def fsOf(spark: SparkSession, p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Writes `record` of run `runId` under `dir` and publishes it by rename. */
  def commit(spark: SparkSession, dir: String, record: RunRecord,
      runId: java.util.UUID = java.util.UUID.randomUUID()): Unit = {
    val name = s"s${java.lang.Long.toHexString(record.snapshot_id)}_b${record.buckets}_" +
      s"d${record.buckets_done}_${java.time.Instant.parse(record.run_at).toEpochMilli}_$runId.json"
    val target = new Path(dir, name)
    val temp = new Path(dir, s".$name.tmp")
    val fs = fsOf(spark, target)
    val out = fs.create(temp, false)
    try {
      out.write(mapper.writeValueAsBytes(record))
      out.write('\n')
    } finally out.close()
    if (!fs.rename(temp, target))
      throw new java.io.IOException(s"cannot publish run record $temp as $target")
  }

  /** Every committed record under `dir`, read from its name alone; none
    * when `dir` does not exist. A visible entry that is not a record name
    * fails, naming it: skipping it could hide a run that completed buckets.
    */
  def entries(spark: SparkSession, dir: String): Seq[Entry] = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath).filterNot(f => hidden(f.getName))
      .sortBy(_.getName).map { f =>
        f.getName match {
          case RecordName(id, buckets, done, _, _) =>
            Entry(f, java.lang.Long.parseUnsignedLong(id, 16), buckets.toInt, done.toLong)
          case _ => throw new IllegalStateException(
            s"$f is not a run record (s<hex snapshot id>_b<buckets>_d<buckets done>_<ms>_<uuid>.json); " +
              "move it out of the run log")
        }
      }
  }

  /** The record behind `e`. Content that is not a record, or that
    * disagrees with its name, fails, naming the file.
    */
  def read(spark: SparkSession, e: Entry): RunRecord = {
    val in = fsOf(spark, e.path).open(e.path)
    val r = try mapper.readValue(in: java.io.InputStream, classOf[RunRecord])
    catch {
      case ex: Exception =>
        throw new IllegalStateException(s"cannot read the run record ${e.path}", ex)
    } finally in.close()
    if (r.snapshot_id != e.snapshotId || r.buckets != e.buckets || r.buckets_done != e.bucketsDone)
      throw new IllegalStateException(s"run record ${e.path} holds snapshot_id=${r.snapshot_id}, " +
        s"buckets=${r.buckets}, buckets_done=${r.buckets_done}; its name says " +
        s"snapshot_id=${e.snapshotId}, buckets=${e.buckets}, buckets_done=${e.bucketsDone}")
    r
  }

  /** Every committed record under `dir` as a frame with the record's own
    * schema: no inference job. The names are checked first, as `entries`
    * checks them, and content that is not JSON fails the first action
    * over the frame: an unreadable log never reads as an empty one.
    */
  def frame(spark: SparkSession, dir: String): DataFrame = {
    entries(spark, dir)
    spark.read.schema(Encoders.product[RunRecord].schema).option("mode", "FAILFAST").json(dir)
  }

  /** `frame` with one row per run: its end record, or its start record
    * when it has none. The records are paired by the uuid in their names.
    */
  def perRun(spark: SparkSession, dir: String): DataFrame = {
    val run = Window.partitionBy(regexp_extract(col("_metadata.file_name"), RecordName.regex, 5))
    frame(spark, dir)
      .withColumn("ended", max(col("status") =!= Started).over(run))
      .filter(col("status") =!= Started || !col("ended"))
      .drop("ended")
  }
}
