package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Base64
import java.util.concurrent.{Callable, Executors}
import java.util.zip.{Deflater, GZIPOutputStream}
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

import scala.jdk.CollectionConverters._

import graft.sources.{LocalKeyService, SnapshotFixture}
import graft.sources.SnapshotFixture.Topic

/** One generated input file. `plainGzip` is gzip(JSONL) built from
  * [[SnapshotFixture.record]] before encryption: the exact body the
  * receiver must get, known without the program's decrypt path. */
final case class FileTruth(
    topic: String,
    encName: String,
    outputName: String,
    records: Int,
    plainGzip: Array[Byte]) {
  def bytes: Long = plainGzip.length.toLong // AES-CTR keeps the length
}

final case class Fixture(
    dir: Path,
    topics: Seq[Topic],
    files: IndexedSeq[FileTruth],
    /** encrypted names that carry a `.finished` marker before each run */
    premarked: Set[String]) {
  lazy val fresh: IndexedSeq[FileTruth] = files.filterNot(f => premarked(f.encName))
  def totalBytes: Long = files.map(_.bytes).sum
  def totalRecords: Long = files.map(_.records.toLong).sum
  /** (topic, FilesExported): the export manifest the run checks against */
  def manifest: Seq[(String, Long)] = topics.map(t => (t.name, t.files.toLong))
  /** The success indicator a completed run writes for each topic. */
  def indicators(outDir: Path): Seq[Path] = topics.map(t => outDir.resolve(t.name)
    .resolve(s"_${t.database}_${t.collection}_successful.gz"))
}

sealed trait Kind
/** `SnapshotJob.run` over HttpTransport to the in-process receiver */
case object DeliveryRun extends Kind
/** `SnapshotJob.records` fully materialised through the noop sink */
case object RecordsRun extends Kind

/** A workload: its topic layout as a function of the seed salt, the
  * share of files pre-marked `.finished` before every run, and the
  * deflate level of the generated gzip (it sets encrypted bytes per
  * record; delivery sends the gzip as is, records inflates it). */
final case class Workload(name: String, kind: Kind, premarkShare: Double,
    gzipLevel: Int, layout: String => Seq[Topic])

object Workloads {
  /** Each layout ends in an empty collection (FilesExported = 0 →
    * Received status + success indicator), as the reference's runs do. */
  private def withEmpty(salt: String, ts: Seq[Topic]): Seq[Topic] =
    ts :+ Topic(s"empty_$salt", "collection", 0, 1)

  val all: Seq[Workload] = Seq(
    // bytes dominate: few large files; delivery sends the decrypted gzip
    // as is, so the content scan, AES-CTR and the HTTP body path are hot.
    // Stored (level 0) deflate makes each file ~3.8 MB from 7.5k records, so
    // generating the bytes for every seed stays cheap.
    Workload("bulk", DeliveryRun, 0.0, Deflater.NO_COMPRESSION, salt => withEmpty(salt,
      (0 until 4).map(i => Topic(s"bulk${i}_$salt", "claimant", 8, 7500)))),
    // per-file overhead dominates: many tiny files, half already marked
    // (the re-run after a partial failure), so listing, the sidecar scan,
    // scheduling, the finished anti-join and per-request cost are hot
    Workload("small_files", DeliveryRun, 0.5, Deflater.DEFAULT_COMPRESSION, salt => withEmpty(salt,
      Seq(Topic(s"small_$salt", "claimant", 160, 10)))),
    // the analytics read path: gunzip, split and from_json per record
    Workload("records", RecordsRun, 0.0, Deflater.DEFAULT_COMPRESSION, salt => withEmpty(salt,
      (0 until 2).map(i => Topic(s"rec${i}_$salt", "claimant", 6, 10000)))))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (have ${all.map(_.name).mkString(", ")})"))

  /** 8 hex digits (SplitMix64 finaliser of the seed): constant length, so
    * names, and with them file sizes, stay the same across seeds. */
  def salt(seed: Long): String = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    f"${(z ^ (z >>> 31)) & 0xFFFFFFFFL}%08x"
  }
}

/** Writes a workload's encrypted snapshot files in the format of
  * [[SnapshotFixture.generate]] (same names, sidecar `.meta.json`, data
  * keys and IVs), in parallel, and keeps the plaintext gzip of each file
  * for verification. The program only ever sees the files on disk. */
object FixtureGen {

  def generate(w: Workload, seed: Long, dir: Path, threads: Int): Fixture = {
    val topics = w.layout(Workloads.salt(seed))
    if (Files.exists(dir)) Io.deleteTree(dir)
    Files.createDirectories(dir)
    val jobs = for (t <- topics; f <- 0 until t.files) yield (t, f)
    val pool = Executors.newFixedThreadPool(threads)
    val files =
      try pool.invokeAll(jobs.map { case (t, f) =>
        (() => writeFile(w, dir, t, f)): Callable[FileTruth]
      }.asJava).asScala.map(_.get()).toIndexedSeq
      finally pool.shutdown()
    val rnd = new scala.util.Random(seed)
    val premarked = rnd.shuffle(files.map(_.encName))
      .take(math.round(files.size * w.premarkShare).toInt).toSet
    Fixture(dir, topics, files, premarked)
  }

  private def writeFile(w: Workload, dir: Path, t: Topic, fileNo: Int): FileTruth = {
    val name = SnapshotFixture.fileName(t, fileNo)
    val jsonl = new java.lang.StringBuilder(t.recordsPerFile * 480)
    var r = 0
    while (r < t.recordsPerFile) {
      jsonl.append(SnapshotFixture.record(t.name, fileNo, r)).append('\n')
      r += 1
    }
    val plainGzip = gzip(jsonl.toString.getBytes(UTF_8), w.gzipLevel)
    val keyB64 = SnapshotFixture.dataKeyB64(t.name)
    val ivB64 = SnapshotFixture.ivB64(name)
    val cipher = Cipher.getInstance("AES/CTR/NoPadding")
    cipher.init(Cipher.ENCRYPT_MODE,
      new SecretKeySpec(Base64.getDecoder.decode(keyB64), "AES"),
      new IvParameterSpec(Base64.getDecoder.decode(ivB64)))
    Files.write(dir.resolve(name), cipher.doFinal(plainGzip))
    val cipherKey = LocalKeyService.encryptKey(SnapshotFixture.defaultKeyId, keyB64)
    Files.write(dir.resolve(s"$name.meta.json"),
      (s"""{"fileName":"$name","iv":"$ivB64","dataKeyEncryptionKeyId":""" +
        s""""${SnapshotFixture.defaultKeyId}","cipherTextDataKey":"$cipherKey"}""")
        .getBytes(UTF_8))
    FileTruth(t.name, name,
      name.stripSuffix(".enc").replaceAll("\\.txt\\.gz$", ".json.gz"),
      t.recordsPerFile, plainGzip)
  }

  private def gzip(bytes: Array[Byte], level: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream(bytes.length / 4)
    val gz = new GZIPOutputStream(bos, 64 * 1024) { `def`.setLevel(level) }
    gz.write(bytes)
    gz.close()
    bos.toByteArray
  }
}

object Io {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Empties `p` (creating it if needed). */
  def fresh(p: Path): Path = { deleteTree(p); Files.createDirectories(p) }

  /** File names directly under `dir`. */
  def names(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }
}
