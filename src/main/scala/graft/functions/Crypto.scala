package graft.functions

import java.io.ByteArrayOutputStream
import java.util.Base64
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** Crypto/compression kernels for the snapshot pipeline.
  *
  * Cipher parity with the reference: AES/CTR/NoPadding with base64 key+IV
  * (reference decrypt: DecryptionProcessor.kt:26-41; fixture encrypt:
  * resources/aws/s3_files.py:78-84). Stock JCE suffices — BouncyCastle is
  * only needed by the reference for its FIPS build.
  *
  * Byte-array kernels; their column form is the codegen'd expressions in
  * `plans/CryptoExpressions`, which run once per *file* row (not per
  * record).
  */
object Crypto {

  /** AES-CTR is symmetric: encrypt == decrypt. */
  def aesCtr(content: Array[Byte], keyB64: String, ivB64: String): Array[Byte] = {
    val cipher = Cipher.getInstance("AES/CTR/NoPadding")
    val key = new SecretKeySpec(Base64.getDecoder.decode(keyB64), "AES")
    val iv = new IvParameterSpec(Base64.getDecoder.decode(ivB64))
    cipher.init(Cipher.DECRYPT_MODE, key, iv)
    cipher.doFinal(content)
  }

  /** AES-ECB for the envelope data key (the fixture's stand-in for the
    * external Data Key Service: master key derived from the key id). */
  def aesEcb(mode: Int, content: Array[Byte], keyBytes: Array[Byte]): Array[Byte] = {
    val cipher = Cipher.getInstance("AES/ECB/PKCS5Padding")
    cipher.init(mode, new SecretKeySpec(keyBytes, "AES"))
    cipher.doFinal(content)
  }

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  /** The 20-byte empty-gzip success payload (reference:
    * SuccessServiceImpl.kt:97-104). */
  def emptyGzip: Array[Byte] = gzip(Array.emptyByteArray)
}
