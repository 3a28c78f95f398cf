package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{LocalKeyService, SnapshotFixture}

/** Plan inspector: `sbt "runMain graft.Explain <queryName|pipeline|delivery> [sfDir]"`.
  *
  *  - `pipeline`: the formatted physical plan (PushedFilters / ReadSchema
  *    / WholeStageCodegen spans) of `SnapshotJob.records` over a generated
  *    fixture — the feedback loop for the perf pass;
  *  - `delivery`: one `SnapshotJob.run` over a generated fixture with a
  *    third of its files already marked `.finished`;
  *  - a registered query name: that query's formatted plan.
  *
  * Every executed plan is printed too (`== Executed plan: <action> ==`,
  * the final adaptive plan), plans run inside a stream's `foreachBatch`
  * included: the listener is registered before any query starts, and a
  * stream's cloned session inherits it. The session is sized from
  * `SPARK_GRAFT_CPUS` (default 4), as Bench and Verify size theirs. */
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
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        println(s"== Executed plan: $funcName ==\n${qe.executedPlan.treeString}")
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit =
        println(s"== Failed plan: $funcName ($exception) ==\n${qe.executedPlan.treeString}")
    })
    target match {
      case "delivery" =>
        val fixture = "/tmp/graft-fixture-explain-delivery"
        val topics = SnapshotFixture.defaultTopics(12, 10)
        SnapshotFixture.generate(fixture, topics)
        val status = Files.createTempDirectory("graft-explain-status")
        val out = Files.createTempDirectory("graft-explain-out")
        for (t <- topics; i <- 0 until t.files by 3) {
          val name = SnapshotFixture.fileName(t, i)
          Files.write(status.resolve(s"$name.finished"), s"Finished $name".getBytes)
        }
        import spark.implicits._
        val expected = topics.map(t => (t.name, t.files.toLong))
          .toDF("topic", "FilesExported")
        val res = operators.SnapshotJob.run(spark, fixture, out.toString,
          status.toString, expected, LocalKeyService)
        println(s"ROWS=${res.statuses.collect().length}")
      case _ =>
        val df = target match {
          case "pipeline" =>
            val fixture = "/tmp/graft-fixture-explain"
            SnapshotFixture.generate(fixture, SnapshotFixture.defaultTopics(2, 10))
            operators.SnapshotJob.records(spark, fixture, LocalKeyService)
          case name => SparkEntry.queries(name)(spark, dir)
        }
        df.explain("formatted")
        println(s"ROWS=${df.count()}")
    }
    spark.stop()
  }
}
