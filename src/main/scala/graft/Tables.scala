package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the parquet tables the pipelines read (TESTDATA.md).
  *
  * The reference declares each external table's schema once, in its Flink
  * `create_table` DDL (reference: flink-applications/01-basic-jdbc.json:4-22).
  * Here [[table]] infers a table's parquet schema the first time it is
  * opened and remembers it. Inference submits a Spark job that reads a
  * parquet footer, so an hourly job that opens five tables would otherwise
  * launch five such jobs before its query starts.
  *
  * The remembered schema is reused only while its key is unchanged:
  *  - the qualified table path;
  *  - the modification time of the table directory (or file), which an
  *    append or overwrite moves;
  *  - the session confs that change what inference derives from the same
  *    files ([[InferenceConfs]]).
  * The memo is process-wide, so sessions that share a key share the
  * schema. It relies on the filesystem moving the directory mtime on
  * every write into it: a file swapped in place with the mtime put back
  * keeps the old schema. A filesystem that reports no modification time
  * (0, as object stores do for directories) gets a fresh inference on
  * every call.
  *
  * File listings are never cached: every call lists the table again, so a
  * job sees the files added since the last call. Column pruning and filter
  * pushdown are Catalyst's job: callers `.select`/`.where` immediately and
  * the scan reads only the referenced columns (verify with `.explain`:
  * ReadSchema/PushedFilters).
  */
object Tables {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Session confs that change the schema parquet inference derives from
    * the same files. [[events]] may set the first. */
  private val InferenceConfs = Seq(
    NanosAsLong,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive")

  private final case class Resolved(mtime: Long, confs: Seq[Option[String]],
      schema: StructType)

  /** Qualified table path -> the schema last inferred there. */
  private val resolved = new ConcurrentHashMap[String, Resolved]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = new Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stat BEFORE inferring: a write that races the inference leaves an
    // mtime newer than the remembered one, so the next call re-infers.
    // A missing path goes to spark.read, which reports it as usual.
    val mtime =
      try fs.getFileStatus(path).getModificationTime
      catch { case _: FileNotFoundException => 0L }
    if (mtime <= 0L) spark.read.parquet(path.toString)
    else {
      val key = fs.makeQualified(path).toString
      val confs = InferenceConfs.map(spark.conf.getOption)
      Option(resolved.get(key)).filter(r => r.mtime == mtime && r.confs == confs) match {
        case Some(r) => spark.read.schema(r.schema).parquet(path.toString)
        case None =>
          val df = spark.read.parquet(path.toString)
          resolved.put(key, Resolved(mtime, confs, df.schema))
          df
      }
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** The harness has shipped `events.ts` in two physical shapes —
    * TIMESTAMP(NANOS) (readable only as nanos-long, truncated here to
    * micros exactly as DuckDB floor-truncates it) and plain
    * TIMESTAMP(MICROS) without a UTC flag (arrives as TIMESTAMP_NTZ).
    * Branch on what the file actually contains and normalize both to the
    * engine-standard TimestampType (UTC session TZ, SURVEY §1.3) so every
    * downstream operator sees one ts type regardless of harness vintage.
    *
    * The session's confs are left as they are, except for the NANOS
    * vintage: Spark refuses that type unless
    * `spark.sql.legacy.parquet.nanosAsLong` is set, and the scan reads the
    * conf when it runs, so it is set on the session and stays set. The
    * vintage is read from one data file's footer on the driver, so no
    * Spark job runs to find it. */
  def events(s: SparkSession, d: String): DataFrame = {
    if (tsIsNanos(s, s"$d/events.parquet")) s.conf.set(NanosAsLong, "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      // a UTC-flagged TIMESTAMP(MICROS) vintage arrives as TimestampType
      // already — the normalization target; pass through unchanged
      case org.apache.spark.sql.types.TimestampType => df
      // anything else (string, int96, a future vintage) must fail HERE,
      // at the normalization point, not as an obscure cast error in
      // whichever downstream operator first touches ts
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other in $d/events.parquet - " +
          "expected TIMESTAMP(NANOS) (nanos-long), TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")

  /** Whether the parquet table at `path` (a file, or a directory of part
    * files) stores `ts` as TIMESTAMP(NANOS), from the footer of one of its
    * data files. A missing table reads as false; the scan then reports it. */
  private def tsIsNanos(s: SparkSession, path: String): Boolean = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def isData(f: FileStatus): Boolean =
      f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")
    val file =
      try fs.listStatus(p).find(isData)
      catch { case _: FileNotFoundException => None }
    file.exists { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try {
        val schema = reader.getFileMetaData.getSchema
        schema.containsField("ts") &&
          (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
            case _ => false
          })
      } finally reader.close()
    }
  }
}
