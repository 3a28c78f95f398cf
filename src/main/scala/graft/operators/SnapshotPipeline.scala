package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.CryptoExpressions
import graft.sources.KeyService

/** The snapshot dataflow as pure DataFrame→DataFrame operators
  * (reference operators F1-F3, M1-M8 — SURVEY.md §2.2-2.3). Each stage is
  * narrow (no shuffle) except the finished-file anti-join and the
  * distinct-key resolution, which touch only file-level rows (thousands),
  * never record-level ones.
  */
object SnapshotPipeline {

  /** Filename grammar (reference TextParsingUtility.kt:11). Group 1 =
    * database, group 2 = collection; optional prefix (e.g. `db.`) is
    * non-capturing. */
  val topicPattern = "^(?:\\w+\\.)?([\\w-]+)\\.([\\w-]+)-\\d{3}-\\d{3}-\\d+\\.\\w+\\.\\w+$"

  /** Shared name helpers — the scan side and the marker side MUST parse
    * identically or the finished anti-join silently stops matching. */
  def fileNameFromPath(path: Column): Column = element_at(split(path, "/"), -1)
  def stripEnc(name: Column): Column = regexp_replace(name, "\\.enc$", "")

  /** M4 + F3: derive database/collection/topic from the filename; rows
    * that fail the grammar get database='' (use [[quarantine]] to split
    * them off instead of throwing — at 100 TB one bad key must not kill
    * the job; the reference throws MetadataException, HttpWriter.kt:121-127). */
  def withTopic(df: DataFrame): DataFrame = {
    // the grammar allows exactly a 2-part extension (x.txt.gz); the scan
    // sees the encrypted x.txt.gz.enc — the reference parses after the
    // decrypt rename (DecryptionProcessor.kt:38 then HttpWriter.kt:47),
    // so parse on the name with any `.enc` stripped.
    val parsed = stripEnc(col("fileName"))
    val db = regexp_extract(parsed, topicPattern, 1)
    val coll = regexp_extract(parsed, topicPattern, 2)
    df.withColumn("database", db)
      .withColumn("collection", coll)
      // topic keeps a literal `db.` prefix iff the filename had one
      // (reference HttpWriter.kt:47-49)
      .withColumn("topic",
        concat(when(col("fileName").startsWith("db."), lit("db."))
          .otherwise(lit("")), col("database"), lit("."), col("collection")))
  }

  /** The quarantine rule, shared by [[quarantine]] and the scan
    * observation: a file is valid iff its name parses the grammar AND
    * its encryption metadata is present (an orphan object without a
    * sidecar / S3 user metadata fails the second half — the reference
    * throws DataKeyDecryptionException, S3DirectoryReader.kt:96-98; at
    * 100 TB one orphan must quarantine, not NPE the key-resolution or
    * silently vanish in the key join). */
  def isValid: Column = col("database") =!= "" &&
    col("iv").isNotNull && col("dataKeyEncryptionKeyId").isNotNull &&
    col("cipherTextDataKey").isNotNull

  /** Splits (valid, rejected) by [[isValid]]. */
  def quarantine(df: DataFrame): (DataFrame, DataFrame) =
    (df.filter(isValid), df.filter(!isValid))

  /** F1: drop files already delivered in a previous run. The reference
    * HEADs `<statusFolder>/<key>.finished` per file
    * (FinishedFilterProcessor.kt:17-27); here the status prefix is listed
    * once (`Delivery.listFinished`) and the membership test becomes a
    * left-anti join on fileName against that small relation, which the
    * planner broadcasts — zero per-file round-trips. */
  def filterFinished(df: DataFrame, finished: DataFrame, reprocess: Boolean): DataFrame =
    if (reprocess) df // reprocess.files=true bypass (FinishedFilterProcessor.kt:19)
    else df.join(finished.select(col("finishedFileName").as("fileName")),
      Seq("fileName"), "left_anti")

  /** M1 as a stage of its own: distinct (keyId, cipherText) pairs —
    * a handful per run, all files of a topic share one key — resolved on
    * the driver through [[resolveKeyPairs]], then broadcast-joined back.
    * Neither `SnapshotJob.run` nor `SnapshotJob.records` calls it: both
    * resolve the pairs of the manifest they have already collected, with
    * no distinct shuffle and no broadcast. It stays as the entry point
    * that times key resolution alone. Same asymptotics as the
    * reference's memo cache (HttpKeyService.kt:48-73): N files cost ~1
    * service call per distinct key, not N. */
  def resolveKeys(df: DataFrame, keys: KeyService,
      counters: Option[PipelineMetrics.RunCounters] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val distinctKeys = df
      .select(col("dataKeyEncryptionKeyId"), col("cipherTextDataKey"))
      .distinct()
      .as[(String, String)]
      .collect() // intentionally driver-side: cardinality == #data keys
    val resolved = resolveKeyPairs(distinctKeys.toSeq, keys, counters).toSeq
      .map { case ((keyId, cipher), plain) => (keyId, cipher, plain) }
      .toDF("dataKeyEncryptionKeyId", "cipherTextDataKey", "plaintextDataKey")
    df.join(broadcast(resolved), Seq("dataKeyEncryptionKeyId", "cipherTextDataKey"))
  }

  /** M1's service side: one [[KeyService]] call (with the service's own
    * retry/backoff) per distinct (keyId, cipherText) pair, on the driver.
    * @return pair → base64 plaintext data key */
  def resolveKeyPairs(pairs: Seq[(String, String)], keys: KeyService,
      counters: Option[PipelineMetrics.RunCounters] = None)
      : Map[(String, String), String] = {
    val distinct = pairs.distinct
    val resolved = distinct.map { case p @ (keyId, cipher) =>
      p -> keys.decryptKey(keyId, cipher)
    }.toMap
    // one increment per key actually resolved this run — the memo-cached
    // distinct set, service-agnostic (reference keysDecryptedCounter)
    counters.foreach(_.dksKeysDecrypted.addAndGet(distinct.length.toLong))
    resolved
  }

  /** M2 + M5: AES-CTR decrypt and strip the `.enc` suffix. Narrow, stays
    * inside the scan task. The pre-rename name is kept as sourceFileName —
    * `.finished` markers key off the ORIGINAL object key (the reference's
    * status key maps the original S3 key, S3Utils.kt:25-32, and the
    * finished filter runs before decryption). The plaintext data key is
    * dropped once the decrypt has used it: no row downstream — delivered,
    * exploded into records or written out by a caller — carries it. */
  def decrypt(df: DataFrame): DataFrame = {
    CryptoExpressions.register(df.sparkSession)
    df.withColumn("content",
        CryptoExpressions.aes_ctr_decrypt(col("content"), col("plaintextDataKey"), col("iv")))
      .drop("plaintextDataKey")
      .withColumn("sourceFileName", col("fileName"))
      .withColumn("fileName", stripEnc(col("fileName")))
  }

  /** M3: gunzip → one row per non-empty JSON line, cut on `'\n'` bytes.
    * Each line is a slice of the file's inflated buffer, never decoded to
    * a Java String; a file that is not valid UTF-8 fails the task with
    * MALFORMED_CHARACTER_CODING, as `decode` does (under
    * `spark.sql.legacy.codingErrorAction` its bad bytes become U+FFFD). */
  def explodeRecords(df: DataFrame): DataFrame = {
    CryptoExpressions.register(df.sparkSession)
    df.withColumn("line", explode(CryptoExpressions.gunzip_lines(col("content"))))
      .drop("content")
  }

  /** Schema of the reference's MongoDB document rows (FIXTURES.md §2).
    * `$`-prefixed Mongo extended-JSON keys are legal struct field names. */
  val recordSchema: StructType = {
    val dateStruct = StructType(Seq(StructField("$date", StringType)))
    val effDate = StructType(Seq(
      StructField("type", StringType), StructField("date", IntegerType),
      StructField("knownDate", IntegerType)))
    val addr = StructType(Seq(
      StructField("type", StringType), StructField("cryptoId", StringType)))
    StructType(Seq(
      StructField("_id", StructType(Seq(StructField("citizenId", StringType)))),
      StructField("type", StringType),
      StructField("contractId", StringType),
      StructField("addressNumber", addr),
      StructField("addressLine2", StringType),
      StructField("townCity", addr),
      StructField("postcode", StringType),
      StructField("processId", StringType),
      StructField("effectiveDate", effDate),
      StructField("createdDateTime", dateStruct),
      StructField("_version", IntegerType),
      StructField("_lastModifiedDateTime", dateStruct)))
  }

  /** Parse exploded JSONL into typed columns; Mongo `$date` becomes a real
    * timestamp. `record` is what `from_json(line, recordSchema)` gives
    * (a malformed line is the all-null struct), parsed by Spark's own
    * Jackson parser straight from the line's bytes. */
  def parseRecords(df: DataFrame): DataFrame = {
    CryptoExpressions.register(df.sparkSession)
    df.withColumn("record", CryptoExpressions.parse_json_bytes(col("line"), recordSchema))
      .withColumn("createdAt",
        to_timestamp(col("record.createdDateTime.`$date`"),
          "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"))
  }

  /** F2: blocked-topic filter with a side-output of the blocked rows
    * (reference raises BlockedTopicException + counter,
    * FilterBlockedTopicsUtils.kt:15-30). */
  def splitBlockedTopics(df: DataFrame, blocked: Seq[String]): (DataFrame, DataFrame) =
    if (blocked.isEmpty) (df, df.limit(0))
    else (df.filter(!col("topic").isin(blocked: _*)),
      df.filter(col("topic").isin(blocked: _*)))

  /** M6: snapshot-type normalization (NiFiUtility.kt:27-32). */
  def normalizeSnapshotType(c: Column): Column =
    when(c === "drift_testing_incremental", "incremental").otherwise(c)

  /** M7: the 12-header NiFi envelope as a struct column
    * (NiFiUtility.kt:12-25), with M5's output-name rewrite. */
  def nifiHeaders(df: DataFrame, conf: DeliveryConf): DataFrame =
    df.withColumn("outputName",
        regexp_replace(col("fileName"), "\\.txt\\.gz$", ".json.gz"))
      .withColumn("headers", struct(
        col("outputName").as("filename"),
        lit(conf.environment).as("environment"),
        lit(conf.exportDate).as("export_date"),
        col("database"),
        col("collection"),
        normalizeSnapshotType(lit(conf.snapshotType)).as("snapshot_type"),
        col("topic"),
        lit(conf.statusTableName).as("status_table_name"),
        lit(conf.correlationId).as("correlation_id"),
        lit(conf.s3Prefix).as("s3_prefix"),
        lit(conf.shutdownFlag.toString).as("shutdown_flag"),
        lit(conf.reprocessFiles.toString).as("reprocess_files")))

  /** Run-scoped constants (reference PropertyUtility.kt / NiFiUtility). */
  final case class DeliveryConf(
      correlationId: String = "run-1",
      environment: String = "local",
      exportDate: String = "2026-01-01",
      snapshotType: String = "full",
      statusTableName: String = "UCExportToCrownStatus",
      s3Prefix: String = "snapshots",
      shutdownFlag: Boolean = true,
      reprocessFiles: Boolean = false,
      blockedTopics: Seq[String] = Nil,
      /** strict=true restores the reference's fail-the-run behavior on
        * malformed filenames (MetadataException, HttpWriter.kt:121-127)
        * instead of the quarantine side-output. */
      strict: Boolean = false,
      /** K4 status-table directory (None → statuses only returned). */
      statusTable: Option[String] = None)
}
