package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc stage profiler: sbt "runMain graft.Profile <target> [sfDir]". */
object Profile {
  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  /** Fresh session built WITH GraftExtensions: the SQL-text surface of
    * the native expressions must resolve without any register() call. */
  private def runExtensionsProbe(): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val gz = java.util.Base64.getEncoder.encodeToString(
      graft.functions.Crypto.gzip("hello graft".getBytes("UTF-8")))
    val out = spark.sql(
      s"SELECT decode(gunzip(unbase64('$gz')), 'UTF-8') AS s").head().getString(0)
    println(s"[profile] extensions sql gunzip -> '$out'")
    assert(out == "hello graft")
    val jsonl = java.util.Base64.getEncoder.encodeToString(
      graft.functions.Crypto.gzip("{\"a\":1}\n\n{\"a\":2}\n".getBytes("UTF-8")))
    val lines = spark.sql(s"SELECT gunzip_lines(unbase64('$jsonl')) AS l")
      .head().getSeq[String](0)
    println(s"[profile] extensions sql gunzip_lines -> ${lines.mkString("[", ", ", "]")}")
    assert(lines == Seq("{\"a\":1}", "{\"a\":2}"))
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val target = args.headOption.getOrElse("minhash")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    if (target == "extensions") { runExtensionsProbe(); return }
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect() // warm-up

    target match {
      case "minhash" =>
        val d = Tables.load(spark, dir, "documents")
        val corpus = d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000L))
        import graft.functions.TextFunctions._
        time("corpus.count")(corpus.count())
        val shingled = corpus.select(col("doc_id"),
          wordShingles(col("text"), 3).as("sh"))
        time("shingles only")(shingled.write.format("noop").mode("overwrite").save())
        val sigs = corpus.select(col("doc_id").as("id"),
          minhash(wordShingles(col("text"), 3), 128).as("sig"))
        time("minhash sigs")(sigs.write.format("noop").mode("overwrite").save())
        val full = graft.operators.Dedup.minhashLshPairs(corpus, "doc_id", "text")
        time("full lsh pairs")(full.write.format("noop").mode("overwrite").save())
      case "stream" =>
        val fixture = "/tmp/graft-fixture-profstream"
        graft.sources.SnapshotFixture.generate(fixture,
          graft.sources.SnapshotFixture.defaultTopics(3, 10))
        val out = java.nio.file.Files.createTempDirectory("prof-sout").toString
        val status = java.nio.file.Files.createTempDirectory("prof-sstatus").toString
        val ckpt = java.nio.file.Files.createTempDirectory("prof-sckpt").toString
        val q = graft.streaming.SnapshotStream.start(spark, fixture, out,
          status, ckpt, graft.sources.LocalKeyService)
        q.awaitTermination(120000)
        val delivered = new java.io.File(out, "db.core.claimant").listFiles()
        println(s"[profile] stream delivered=${delivered.length} files to $out")
      case "metrics" =>
        val fixture = "/tmp/graft-fixture-profmetrics"
        graft.sources.SnapshotFixture.generate(fixture,
          graft.sources.SnapshotFixture.defaultTopics(5, 20))
        import spark.implicits._
        val expected = Seq(("db.core.claimant", 5L), ("db.database.sent", 1L),
          ("db.database.empty", 0L)).toDF("topic", "FilesExported")
        val collector = graft.operators.PipelineMetrics.install(spark)
        val out = java.nio.file.Files.createTempDirectory("prof-out").toString
        val status = java.nio.file.Files.createTempDirectory("prof-status").toString
        graft.operators.SnapshotJob.run(spark, fixture, out, status, expected,
          graft.sources.LocalKeyService)
        println(s"[profile] scan=${collector.await("graft_scan")}")
        println(s"[profile] delivery=${collector.await("graft_delivery")}")
      case "srp" =>
        val e = Tables.load(spark, dir, "embeddings")
        val corpus = e.unionByName(e.withColumn("vec_id", col("vec_id") + 10000L))
        import graft.functions.VectorFunctions._
        val sigs = corpus.select(col("vec_id"),
          srpSignature(col("embedding"), 16, 42L).as("sig"))
        time("srp signatures")(sigs.write.format("noop").mode("overwrite").save())
        val norms = corpus.select(col("vec_id"), norm(col("embedding")).as("n"))
        time("norms")(norms.write.format("noop").mode("overwrite").save())
        val full = graft.operators.Similarity.cosineDupPairs(corpus, 0.95)
        time("full dup pairs")(full.write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }
}
