package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md).
  *
  * In the reference these tables arrive through a MySQL consistent-snapshot
  * scan (/root/reference/snapshot/mysql.go:70-346); here the same scan is a
  * declarative `spark.read` so Catalyst can push filters/projections into
  * the source (the reference reads `SELECT *` and drops columns after the
  * fact — /root/reference/encoder/json.go:344-373).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.parquet `ts` has shipped as TIMESTAMP(NANOS) in some fixture
    // generations and TIMESTAMP(MICROS) in others. Normalize BOTH to the
    // session-zoned TimestampType every query sees: nanos read as long
    // (reader rejects them otherwise) and truncate to micros — the same
    // floor DuckDB applies — while micros arrive as TIMESTAMP_NTZ and
    // cast value-identically under the UTC session zone.
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Bytes under a dataset path (a file or a dir tree) through the Hadoop
    * FS API, so size-from-the-source plan decisions answer on HDFS/S3
    * as they do locally. Checksum side-files are not counted: the local
    * FS listing hides `.crc` files.
    */
  def bytesOf(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "events")
  /** Documents fixture. INVARIANT (relied on by the text operators):
    * `text` is never NULL — the generator always emits a string (possibly
    * empty). Several reshaped plans (e.g. lineDedup's n_chunks sourced
    * from the exploded chunk rows) are row-set-equivalent to their
    * original forms only under this invariant: a NULL text would yield
    * NULL chunks, the explode would drop the doc, and it would vanish
    * from the output instead of carrying NULL stats (r19 ADVICE item 1).
    */
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
