package graft

import org.apache.spark.sql.SparkSession

/** Plan inspector: `sbt "runMain graft.Explain <queryName|pipeline> [sfDir]"`
  * prints the formatted physical plan (PushedFilters / ReadSchema /
  * WholeStageCodegen spans) — the feedback loop for the perf pass. The
  * session is sized from `SPARK_GRAFT_CPUS` (default 4), as Bench and
  * Verify size theirs. */
object Explain {
  def main(args: Array[String]): Unit = {
    val target = args.headOption.getOrElse("pipeline")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = target match {
      case "pipeline" =>
        val fixture = "/tmp/graft-fixture-explain"
        graft.sources.SnapshotFixture.generate(fixture,
          graft.sources.SnapshotFixture.defaultTopics(2, 10))
        graft.operators.SnapshotJob.records(spark, fixture,
          graft.sources.LocalKeyService)
      case name => SparkEntry.queries(name)(spark, dir)
    }
    df.explain("formatted")
    println(s"ROWS=${df.count()}")
    spark.stop()
  }
}
