package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.Base64

import graft.functions.Crypto

/** Deterministic local encrypted snapshot fixture, mirroring the
  * reference's integration fixture (resources/aws/s3_files.py:21-84):
  * each file is AES-CTR(gzip(JSONL×recordsPerFile)) named
  * `db.<database>.<collection>-045-050-<n>.txt.gz.enc`, with the
  * encryption parameters in a sidecar `.meta.json` (standing in for S3
  * user metadata, s3_files.py:30-36). Everything is derived from
  * sha256 of stable strings — no RNG, no clock — so repeated generation
  * is byte-identical and safe to cache.
  */
object SnapshotFixture {

  final case class Topic(database: String, collection: String, files: Int,
      recordsPerFile: Int) {
    def name: String = s"db.$database.$collection"
  }

  val defaultKeyId = "test-key-id-1"

  private def sha(s: String): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))

  /** Per-topic plaintext data key (all files of a topic share one key,
    * like the fixture — s3_files.py:21-29). */
  def dataKeyB64(topic: String): String =
    Base64.getEncoder.encodeToString(sha(s"datakey:$topic").take(16))

  def ivB64(fileName: String): String =
    Base64.getEncoder.encodeToString(sha(s"iv:$fileName").take(16))

  /** One record in the reference's MongoDB-document shape
    * (s3_files.py:41-75): nested _id, nulls, int dates, Mongo extended
    * JSON `$date` timestamps, version ints. */
  def record(topic: String, fileNo: Int, recNo: Int): String = {
    val id = s"$topic/$fileNo/$recNo"
    val day = 1 + (recNo % 28)
    f"""{"_id":{"citizenId":"$id"},"type":"addressDeclaration","contractId":"c-$fileNo-$recNo","addressNumber":{"type":"AddressLine","cryptoId":"crypto-$recNo"},"addressLine2":null,"townCity":{"type":"AddressLine","cryptoId":"town-$recNo"},"postcode":"SM5 ${recNo % 10}LE","processId":"p-$recNo","effectiveDate":{"type":"SPECIFIC_EFFECTIVE_DATE","date":201503$day%02d,"knownDate":201503$day%02d},"createdDateTime":{"$$date":"2015-03-$day%02dT12:23:25.183Z"},"_version":${1 + recNo % 3},"_lastModifiedDateTime":{"$$date":"2018-12-$day%02dT15:01:02.000Z"}}"""
  }

  def fileName(t: Topic, fileNo: Int): String =
    f"${t.name}-045-050-$fileNo%06d.txt.gz.enc"

  /** Generates (or reuses, if already present) the fixture under `dir`.
    * @return the directory */
  def generate(dir: String, topics: Seq[Topic]): Path = {
    val root = Paths.get(dir)
    Files.createDirectories(root)
    val done = root.resolve("_FIXTURE_COMPLETE")
    val truth = root.resolve("truth.csv")
    val stamp = topics.map(t => s"${t.name}:${t.files}:${t.recordsPerFile}").mkString(",")
    if (Files.exists(done) && Files.exists(truth) &&
        new String(Files.readAllBytes(done), StandardCharsets.UTF_8) == stamp)
      return root
    // stamp mismatch: clear stale files from a previous configuration —
    // shrinking a topic must not leave extra valid ciphertext behind
    root.toFile.listFiles().foreach { f =>
      if (f.getName.endsWith(".enc") || f.getName.endsWith(".meta.json") ||
          f.getName == "truth.csv" || f.getName == "_FIXTURE_COMPLETE") f.delete()
    }
    topics.foreach { t =>
      val keyB64 = dataKeyB64(t.name)
      val cipherKeyB64 = LocalKeyService.encryptKey(defaultKeyId, keyB64)
      (0 until t.files).foreach { f =>
        val fn = fileName(t, f)
        val jsonl = (0 until t.recordsPerFile)
          .map(r => record(t.name, f, r)).mkString("", "\n", "\n")
        val iv = ivB64(fn)
        val enc = Crypto.aesCtr(
          Crypto.gzip(jsonl.getBytes(StandardCharsets.UTF_8)), keyB64, iv)
        Files.write(root.resolve(fn), enc)
        val meta =
          s"""{"fileName":"$fn","iv":"$iv","dataKeyEncryptionKeyId":"$defaultKeyId","cipherTextDataKey":"$cipherKeyB64"}"""
        Files.write(root.resolve(s"$fn.meta.json"),
          meta.getBytes(StandardCharsets.UTF_8))
      }
    }
    writeTruth(truth, topics)
    Files.write(done, stamp.getBytes(StandardCharsets.UTF_8))
    root
  }

  /** Pre-encryption ground truth, one CSV row per record, constructed
    * directly from the generator's arithmetic — NEVER through the
    * decrypt/gunzip/parse path it exists to check. DuckDB reads it via
    * `read_csv('<dir>/truth.csv')`, which turns the end-to-end AES
    * pipeline (q50) into a hash-exact oracle (the reference's analogous
    * invariant: SnapshotSenderIntegrationTest.kt:78-102 re-derives the
    * expected plaintext independently of the delivery path). Fields
    * mirror [[record]]: citizenId = `<topic>/<file>/<rec>`, _version =
    * `1 + rec % 3`; fileName is the post-decrypt name (`.enc` stripped,
    * DecryptionProcessor.kt:38). No field ever contains `,` or `"`, so
    * no CSV quoting is needed. */
  private def writeTruth(path: Path, topics: Seq[Topic]): Unit = {
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try {
      w.write("topic,fileName,version,citizenId\n")
      topics.foreach { t =>
        (0 until t.files).foreach { f =>
          val fn = fileName(t, f).stripSuffix(".enc")
          (0 until t.recordsPerFile).foreach { r =>
            w.write(s"${t.name},$fn,${1 + r % 3},${t.name}/$f/$r\n")
          }
        }
      }
    } finally w.close()
  }

  /** The default 3-topic matrix from the reference's integration setup
    * (docker-compose.yml:22-63; scaled down for test speed): a full
    * topic, a small one, and an empty one. */
  def defaultTopics(files: Int = 20, records: Int = 200): Seq[Topic] = Seq(
    Topic("core", "claimant", files, records),
    Topic("database", "sent", math.max(1, files / 10), records),
    Topic("database", "empty", 0, records))
}
