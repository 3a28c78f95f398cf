package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest scan for encrypted snapshot files (reference S1-S3:
  * S3DirectoryReader.kt:51-98).
  *
  * The reference pages ListObjectsV2 into one big in-memory list, then
  * HEADs each object for user metadata. Spark-first: `binaryFile` lists
  * the prefix once on the driver (InMemoryFileIndex) and adds a
  * whole-file content column — the paginated listing and the per-file
  * fetch collapse into one scan. Encryption params ride in sidecar
  * `.meta.json` files (the local stand-in for S3 user metadata — a DSv2
  * source exposing real S3 user metadata would slot in here with the same
  * output schema).
  *
  * Both sides read the directory with a `pathGlobFilter`, never a path
  * glob: Spark expands a glob into one explicit path per match, and above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) explicit
  * paths it lists them with a Spark job of one task per path. A filtered
  * directory read stays one driver-side listing per prefix, so building
  * the scan starts no job whatever the file count.
  *
  * Output schema (FIXTURES.md §1):
  * fullPath, fileName, length, content BINARY, iv, dataKeyEncryptionKeyId,
  * cipherTextDataKey.
  *
  * Scale note: the metadata side is tiny (one short JSON per file) and is
  * broadcast; the content side never shuffles — everything downstream
  * until the record explode is narrow.
  */
object EncryptedSnapshotSource {

  val metaSchema: StructType = StructType(Seq(
    StructField("fileName", StringType),
    StructField("iv", StringType),
    StructField("dataKeyEncryptionKeyId", StringType),
    StructField("cipherTextDataKey", StringType)))

  /** S5: the no-op source — an empty relation with the ingest schema
    * (reference: noOpReader profile, ContextConfiguration.kt:24-26).
    * Zero-file collections flow through the identical plan and still
    * produce Received status + success indicators. */
  def empty(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("fileName", StringType), StructField("fullPath", StringType),
        StructField("length", LongType), StructField("content", BinaryType),
        StructField("iv", StringType),
        StructField("dataKeyEncryptionKeyId", StringType),
        StructField("cipherTextDataKey", StringType))))
  }

  /** Ingest read, switchable between the two equivalent implementations
    * via session conf `spark.graft.snapshotSource`:
    *  - "glob" (default): binaryFile scan + broadcast sidecar join;
    *  - "dsv2": the SnapshotSourceProvider DataSource V2 table
    *    (column-pruned per-object reads, metadata fetched beside each
    *    object — the S3-user-metadata source shape, SURVEY §4).
    * Identical schema and rows (SnapshotDsv2Spec). */
  def read(spark: SparkSession, dir: String): DataFrame =
    if (spark.conf.getOption("spark.graft.snapshotSource").contains("dsv2"))
      spark.read.format("encrypted-snapshot").load(dir)
    else {
      val files = spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.enc")
        .load(dir)
        .select(
          col("path").as("fullPath"),
          graft.operators.SnapshotPipeline.fileNameFromPath(col("path")).as("fileName"),
          col("length"),
          col("content"))
      files.join(broadcast(readMeta(spark, dir)), Seq("fileName"), "left")
    }

  /** Sidecar metadata scan. A directory with no sidecars reads as zero
    * rows (the user schema spares schema inference), so a legitimately
    * empty export (heartbeat run, zero-file collection) flows through to
    * Received statuses; a missing directory fails like the `.enc` scan.
    * Public: the streaming ingest re-reads this per micro-batch. */
  def readMeta(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(metaSchema)
      .option("pathGlobFilter", "*.meta.json")
      .json(dir)
}
