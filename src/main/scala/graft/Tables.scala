package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Mirrors the reference's source surface for this project's data: the
  * reference reads splits via FileInputFormat subclasses (reference:
  * flink-core .../api/common/io/FileInputFormat.java); here the parquet
  * DataSource V2 scan gives vectorized reads + predicate/column pushdown
  * for free.
  *
  * Every read passes the file's schema explicitly ([[schema]]), so only a
  * JVM's first read of a file launches Spark's one-task parquet schema
  * inference job.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") events(spark, dir) else read(spark, path(dir, name))
  }

  private def read(spark: SparkSession, p: String): DataFrame =
    spark.read.schema(schema(spark, p)).parquet(p)

  /** The session confs parquet schema inference reads: Spark 4.1's
    * `ParquetToSparkSchemaConverter`, schema merging and the footer
    * reads. */
  private val inferenceConfs: Seq[String] = Seq(
    SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
    SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
    SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
    SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
    SQLConf.PARQUET_SCHEMA_MERGING_ENABLED, SQLConf.PARQUET_SCHEMA_RESPECT_SUMMARIES,
    SQLConf.IGNORE_CORRUPT_FILES, SQLConf.IGNORE_MISSING_FILES).map(_.key)

  private val schemas =
    new ConcurrentHashMap[(String, Seq[(String, Long, Long)], Seq[String]), StructType]()

  /** Exactly the schema `spark.read.parquet(path).schema` returns,
    * memoized per JVM. The key is `path`, every leaf file it names as
    * (path, length, mtime) and the values of [[inferenceConfs]], so a file
    * rewritten with a new length or mtime, or a read under different
    * inference confs, infers again. The one stale case: a file rewritten
    * in place with the same path, length and mtime keeps its old schema.
    * A missing path or a failed inference is not memoized (Spark's own
    * error surfaces). */
  def schema(spark: SparkSession, path: String): StructType = {
    val files = leafFiles(spark, path).map(f =>
      (f.getPath.toString, f.getLen, f.getModificationTime))
    val key = (path, files.sorted, inferenceConfs.map(spark.conf.get))
    val known = schemas.get(key)
    if (known != null) known
    else {
      val inferred = spark.read.parquet(path).schema
      schemas.put(key, inferred)
      inferred
    }
  }

  /** Every file under `path` (a file, directory or glob), hidden files
    * included: the files `listFiles(_, recursive = true)` yields. It walks
    * `listStatus` instead, since each located status `listFiles` builds
    * reads its file's permission, which forks `ls -ld` per file on a local
    * filesystem without Hadoop's native library. */
  private[graft] def leafFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def under(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.flatMap(s => if (s.isFile) Seq(s) else under(s.getPath))
    Option(fs.globStatus(p)).getOrElse(Array.empty).toSeq.flatMap(root => under(root.getPath))
  }

  /** Whether a parquet file under `path` has a TIMESTAMP(NANOS) column,
    * read from the footers (no Spark job); files Spark skips as hidden
    * (`_` or `.` prefix) are skipped here too. */
  private def holdsNanos(spark: SparkSession, path: String): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    val conf = spark.sparkContext.hadoopConfiguration
    val visible = leafFiles(spark, path).filterNot { f =>
      val n = f.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    visible.exists { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try reader.getFooter.getFileMetaData.getSchema.getColumns.asScala.exists(
        _.getPrimitiveType.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        })
      finally reader.close()
    }
  }

  /** The schema of `dir`'s events fixture, for a batch or a stream read of
    * it. If the file has a TIMESTAMP(NANOS) column, this first sets
    * `spark.sql.legacy.parquet.nanosAsLong=true` on the session (Spark has
    * no nanos type and fails the read without it), and the flag stays set:
    * Spark reads it again when the query executes. A file without one
    * leaves the session's confs as the caller left them. */
  def eventsSchema(spark: SparkSession, dir: String): StructType = {
    val p = path(dir, "events")
    if (holdsNanos(spark, p)) spark.conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "true")
    schema(spark, p)
  }

  /** `events.ts` has shipped in three physical layouts across fixture
    * generations; all must land as session-zoned TimestampType with the same
    * epoch-micros so watermarks (`withWatermark` requires TimestampType) and
    * the DuckDB oracle agree exactly:
    *  - TIMESTAMP(NANOS): Spark has no nanos type — read raw int64 via the
    *    legacy flag, which [[eventsSchema]] sets for the session, and
    *    floor-divide to micros (DuckDB applies the same ns→µs truncation on
    *    read);
    *  - timestamp[us] isAdjustedToUTC=false: Spark reads TIMESTAMP_NTZ —
    *    cast to TimestampType (UTC session tz makes the cast
    *    instant-preserving);
    *  - timestamp[us] UTC: already TimestampType, pass through. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(spark.read.schema(eventsSchema(spark, dir)).parquet(path(dir, "events")))

  /** A file stream over `dir`'s `name` fixture (every `<name>*.parquet`,
    * since a file-stream source needs a directory or glob) with the same
    * schema, and for events the same `ts` normalization, as a batch read. */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events")
      normalizeTs(spark.readStream.schema(eventsSchema(spark, dir))
        .parquet(s"$dir/events*.parquet"))
    else spark.readStream.schema(schema(spark, path(dir, name)))
      .parquet(s"$dir/$name*.parquet")

  private[graft] def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Register every fixture table as a temp view (for spark.sql queries). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
