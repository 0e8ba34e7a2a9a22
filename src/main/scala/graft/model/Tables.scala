package graft.model

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/**
 * Loaders for the driver-generated parquet tables (TESTDATA.md).
 * Parquet scans go through the DataSource V2 path, so filters/projections
 * composed downstream are pushed into the scan by Catalyst — callers
 * should NOT cache or materialize here.
 */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** A parquet read whose schema, for a single file without Spark's
   *  row-metadata key, comes from the footer read on the driver:
   *  `spark.read.parquet` infers it with a one-task Spark job per call
   *  instead. The converter is built from the session conf, so it
   *  honours the same flags inference does (`nanosAsLong` for
   *  [[events]]). Directories and Spark-written files are inferred. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private[graft] def footerSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    if (!fs.isFile(p)) return None
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    if (meta.getKeyValueMetaData.containsKey(ParquetReadSupport.SPARK_METADATA_KEY))
      None
    else Some(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(meta.getSchema))
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** events.ts varies by testdata drop: earlier generations wrote parquet
   *  TIMESTAMP(NANOS) — which Spark's vectorized reader rejects, so it is
   *  read as long nanos (legacy conf, runtime-settable) and converted with
   *  exact integer division — while later ones write TIMESTAMP(MICROS)
   *  without UTC adjustment, which Spark reads as TIMESTAMP_NTZ. Both are
   *  normalized to a session-UTC TimestampType (the session time zone is
   *  UTC everywhere — Verify/Bench/SparkSpec — so the NTZ cast is
   *  wall-clock-identity, matching DuckDB's naive read). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, sfDir, "events")
    import org.apache.spark.sql.functions._
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast(org.apache.spark.sql.types.TimestampType)
    }
    raw.withColumn("ts", ts)
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
