package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.operators.SnapshotPipeline.fileNameFromPath

/** Ingest scan for encrypted snapshot files (reference S1-S3:
  * S3DirectoryReader.kt:51-98).
  *
  * The reference pages ListObjectsV2 into one big in-memory list, then
  * HEADs each object for user metadata. Spark-first: `binaryFile` lists
  * the prefix once on the driver (InMemoryFileIndex) and adds a
  * whole-file content column — the paginated listing and the per-file
  * fetch collapse into one scan. Encryption params ride in sidecar
  * `.meta.json` files (the local stand-in for S3 user metadata — a source
  * of real S3 user metadata would take over [[withSidecars]], keeping its
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
  * fileName, fullPath, length, content BINARY, iv, dataKeyEncryptionKeyId,
  * cipherTextDataKey.
  *
  * Scale note: the metadata side is tiny (one short JSON per file) and is
  * broadcast; the content side never shuffles — everything downstream
  * until the record explode is narrow.
  *
  * A plan that never selects `content` does not read it (`binaryFile`
  * prunes the column). Delivery and the records view rely on that: their
  * file pass collects a content-free manifest, and [[withContent]] reads
  * the bytes of the manifest's files only, in the tasks that use them.
  */
object EncryptedSnapshotSource {

  private val metaSchema: StructType = StructType(Seq(
    StructField("fileName", StringType),
    StructField("iv", StringType),
    StructField("dataKeyEncryptionKeyId", StringType),
    StructField("cipherTextDataKey", StringType)))

  /** Ingest read: the `binaryFile` listing of `*.enc` under `dir`, joined
    * with its sidecars. A directory with no snapshot files reads as zero
    * rows and flows through the same plan (reference S5 no-op source). */
  def read(spark: SparkSession, dir: String): DataFrame =
    withSidecars(
      spark.read.format("binaryFile").option("pathGlobFilter", "*.enc").load(dir),
      dir)

  /** `binaryFile` rows (path, length, content) → the ingest schema, each
    * file joined with its sidecar under `dir` (no sidecar → null params,
    * which quarantine rejects). The batch read and every streaming
    * micro-batch go through here; the sidecars are re-read per call, so
    * a micro-batch sees sidecars that landed after the stream started. */
  def withSidecars(files: DataFrame, dir: String): DataFrame =
    files.select(
        col("path").as("fullPath"),
        fileNameFromPath(col("path")).as("fileName"),
        col("length"),
        col("content"))
      .join(broadcast(readMeta(files.sparkSession, dir)), Seq("fileName"), "left")

  /** Adds `content` (BINARY) to rows that carry `fullPath` and `length`:
    * each file read whole through the Hadoop `FileSystem` API, with the
    * broadcast configuration, inside the task that consumes the row —
    * the bytes `binaryFile` would have read, for these rows only. */
  def withContent(files: DataFrame,
      conf: Broadcast[SerializableConfiguration]): DataFrame = {
    val pathAt = files.schema.fieldIndex("fullPath")
    val lengthAt = files.schema.fieldIndex("length")
    files.mapPartitions { rows: Iterator[Row] =>
      rows.map { r =>
        val p = new Path(r.getString(pathAt))
        val bytes = new Array[Byte](Math.toIntExact(r.getLong(lengthAt)))
        val in = p.getFileSystem(conf.value.value).open(p)
        try in.readFully(bytes) finally in.close()
        Row.fromSeq(r.toSeq :+ bytes)
      }
    }(Encoders.row(files.schema.add("content", BinaryType)))
  }

  /** Sidecar metadata scan. A directory with no sidecars reads as zero
    * rows (the user schema spares schema inference), so a legitimately
    * empty export (heartbeat run, zero-file collection) flows through to
    * Received statuses; a missing directory fails like the `.enc` scan. */
  def readMeta(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(metaSchema)
      .option("pathGlobFilter", "*.meta.json")
      .json(dir)
}
