package perfbench

import java.nio.file.Files
import java.util.Base64
import java.util.zip.Inflater
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

import graft.sources.SnapshotFixture

/** Single-core kernel throughput over a workload's own files, in input
  * MB/s (10^6 bytes): JCE AES-CTR over the encrypted bytes and
  * java.util.zip.Inflater over the gzip bytes. Both run on one thread
  * while Spark is idle; each repeats whole passes over the files for at
  * least `minSeconds` after one warm-up pass. */
object Roofline {

  final case class Result(aesMbS: Double, inflateMbS: Double)

  def measure(fx: Fixture, minSeconds: Double): Result = {
    val inputs = fx.files.map { f =>
      (Files.readAllBytes(fx.dir.resolve(f.encName)),
        SnapshotFixture.dataKeyB64(f.topic), SnapshotFixture.ivB64(f.encName),
        f.plainGzip)
    }
    val maxLen = inputs.map(_._1.length).max
    val out = new Array[Byte](maxLen)
    val aes = rate(minSeconds, inputs.map(_._1.length.toLong).sum) {
      inputs.foreach { case (enc, key, iv, _) =>
        val c = Cipher.getInstance("AES/CTR/NoPadding")
        c.init(Cipher.DECRYPT_MODE,
          new SecretKeySpec(Base64.getDecoder.decode(key), "AES"),
          new IvParameterSpec(Base64.getDecoder.decode(iv)))
        c.doFinal(enc, 0, enc.length, out, 0)
      }
    }
    val buf = new Array[Byte](256 * 1024)
    val inflate = rate(minSeconds, inputs.map(_._4.length.toLong).sum) {
      inputs.foreach { case (_, _, _, gz) => inflateGzip(gz, buf) }
    }
    Result(aes, inflate)
  }

  private def rate(minSeconds: Double, passBytes: Long)(pass: => Unit): Double = {
    pass
    var passes = 0L
    val t0 = System.nanoTime()
    var t = t0
    while (passes == 0 || (t - t0) / 1e9 < minSeconds) {
      pass
      passes += 1
      t = System.nanoTime()
    }
    passes * passBytes / 1e6 / ((t - t0) / 1e9)
  }

  /** Inflates one gzip member (the header GZIPOutputStream writes: 10
    * bytes, no optional fields) into `buf`, discarding the output. */
  private def inflateGzip(gz: Array[Byte], buf: Array[Byte]): Long = {
    require(gz(0) == 0x1f.toByte && gz(1) == 0x8b.toByte && gz(3) == 0,
      "expected a plain gzip header")
    val inf = new Inflater(true)
    try {
      inf.setInput(gz, 10, gz.length - 18)
      var n = 0L
      while (!inf.finished()) {
        val k = inf.inflate(buf)
        if (k == 0 && inf.needsInput()) sys.error("truncated gzip stream")
        n += k
      }
      n
    } finally inf.end()
  }
}
