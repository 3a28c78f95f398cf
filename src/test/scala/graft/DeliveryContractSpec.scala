package graft

import java.io.{File, IOException}
import java.net.{InetSocketAddress, URI}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.operators.{DeliveredFile, DeliveryTransport, HttpTransport, SnapshotJob}
import graft.sources.{LocalKeyService, SnapshotFixture}
import graft.sources.SnapshotFixture.Topic

/** Throws for the scheduled source files: before the wrapped send, or
  * after it returned (a send that leaves no marker). */
final case class FaultyTransport(inner: DeliveryTransport, failing: Set[String],
    afterSend: Boolean) extends DeliveryTransport {
  override def send(file: DeliveredFile): Unit = {
    val fail = failing(file.sourceFileName)
    if (fail && !afterSend)
      throw new IOException(s"injected failure before sending ${file.sourceFileName}")
    inner.send(file)
    if (fail && afterSend)
      throw new IOException(s"injected failure after sending ${file.sourceFileName}")
  }
}

/** The first send to start sleeps `slowMs`, then sends; a send on any
  * other thread throws, failing its task while the slow one is in flight.
  * The state is per JVM: tasks of a local session share it. */
final case class SlowThenFailTransport(inner: DeliveryTransport, slowMs: Long)
    extends DeliveryTransport {
  override def send(file: DeliveredFile): Unit = {
    val me = Thread.currentThread
    if (SlowThenFailTransport.slowThread.compareAndSet(null, me)) {
      SlowThenFailTransport.slowFile.set(file.sourceFileName)
      Thread.sleep(slowMs)
      inner.send(file)
    } else if (SlowThenFailTransport.slowThread.get eq me) inner.send(file)
    else throw new IOException(s"injected failure: ${file.sourceFileName} while a send is in flight")
  }
}

object SlowThenFailTransport {
  val slowThread = new AtomicReference[Thread]
  val slowFile = new AtomicReference[String]
  def reset(): Unit = { slowThread.set(null); slowFile.set(null) }
}

/** The delivery contract under failure: a marker is written only after
  * its send succeeded, a re-run sends exactly the unmarked files, and
  * FilesSent is the marker count. Each generated case fails some files
  * of a run (a throw before the send, a throw after it, or a receiver
  * non-200 with no retry), then re-runs with a healthy transport. */
class DeliveryContractSpec extends SparkSuite {
  import spark.implicits._

  private val topics = Seq(Topic("core", "claimant", 9, 3),
    Topic("database", "sent", 3, 3))
  private lazy val fixtureDir = {
    val d = "/tmp/graft-fixture-contract"
    SnapshotFixture.generate(d, topics)
    d
  }
  private val sources: Seq[String] =
    for (t <- topics; i <- 0 until t.files) yield SnapshotFixture.fileName(t, i)
  private def expected = topics.map(t => (t.name, t.files.toLong))
    .toDF("topic", "FilesExported")

  private def outputName(source: String): String =
    source.stripSuffix(".enc").replaceAll("\\.txt\\.gz$", ".json.gz")
  private def topicOf(source: String): String = source.takeWhile(_ != '-')

  /** Accepts POSTs (counted per `Filename` header) except for the names
    * in `rejecting`, which get a 500. */
  private final class Receiver {
    val accepted = new ConcurrentHashMap[String, AtomicInteger]()
    val rejecting: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      val name = ex.getRequestHeaders.getFirst("Filename")
      if (rejecting.contains(name)) ex.sendResponseHeaders(500, -1)
      else {
        accepted.computeIfAbsent(name, _ => new AtomicInteger).incrementAndGet()
        ex.sendResponseHeaders(200, -1)
      }
      ex.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/"
    def reset(): Unit = { accepted.clear(); rejecting.clear() }
    def stop(): Unit = server.stop(0)
  }

  private def markers(status: String): Set[String] =
    Paths.get(status).toFile.listFiles().map(_.getName)
      .filter(_.endsWith(".finished")).map(_.stripSuffix(".finished")).toSet

  private sealed trait Fault
  private case object BeforeSend extends Fault
  private case object AfterSend extends Fault
  private case object Non200 extends Fault

  private def schedule: Gen[Set[String]] =
    Gen.atLeastOne(sources).map(_.toSet)

  /** One failure schedule, then a healthy re-run. */
  private def faultThenRerun(rx: Receiver, fault: Fault, failing: Set[String]): Prop = {
    rx.reset()
    val status = Files.createTempDirectory("graft-contract-status").toString
    val out = Files.createTempDirectory("graft-contract-out").toString
    val http = HttpTransport(rx.url, maxAttempts = 1, initialDelayMs = 1)
    val faulty = fault match {
      case BeforeSend => FaultyTransport(http, failing, afterSend = false)
      case AfterSend => FaultyTransport(http, failing, afterSend = true)
      case Non200 =>
        failing.foreach(s => rx.rejecting.add(outputName(s)))
        http
    }
    // the run returns only once its tasks have ended, so the markers a
    // failed run wrote are all in place when it throws
    val first = Try(SnapshotJob.run(spark, fixtureDir, out, status, expected,
      LocalKeyService, transport = Some(faulty)))
    val delivered = sources.filter(s => rx.accepted.containsKey(outputName(s))).toSet
    val marked = markers(status)

    rx.reset()
    val res = SnapshotJob.run(spark, fixtureDir, out, status, expected,
      LocalKeyService, transport = Some(http))
    val resent = rx.accepted.asScala.map { case (n, c) => n -> c.get }.toMap
    val listed = markers(status).groupMapReduce(topicOf)(_ => 1L)(_ + _)
    val filesSent = res.statuses.select("topic", "FilesSent")
      .as[(String, Long)].collect().toMap

    (first.isFailure :| "the faulty run fails") &&
      (marked.subsetOf(delivered) :| s"marked ${marked -- delivered} never delivered") &&
      (marked.intersect(failing).isEmpty :| "a failed file was marked") &&
      ((resent.keySet == (sources.toSet -- marked).map(outputName)) :|
        s"re-run sent ${resent.keySet.size}, unmarked ${sources.size - marked.size}") &&
      (resent.forall(_._2 == 1) :| s"sent more than once: ${resent.filter(_._2 > 1)}") &&
      ((filesSent == listed) :| s"FilesSent $filesSent, markers $listed")
  }

  /** 3 + 3 + 2 generated cases, reproducible from a fixed seed. */
  test("failure schedules keep the marker contract across a healthy re-run") {
    val rx = new Receiver
    try Seq(BeforeSend -> 3, AfterSend -> 3, Non200 -> 2).foreach {
      case (fault, cases) =>
        val params = Test.Parameters.default
          .withMinSuccessfulTests(cases)
          .withWorkers(1)
          .withInitialSeed(Seed(20261019L))
        val result = Test.check(params,
          Prop.forAllNoShrink(schedule)(faultThenRerun(rx, fault, _)))
        assert(result.passed, s"$fault: ${Pretty.pretty(result)}")
    }
    finally rx.stop()
  }

  test("a failed run returns after its other tasks: a send in flight is marked, not re-sent") {
    val rx = new Receiver
    try {
      val status = Files.createTempDirectory("graft-contract-slow-status").toString
      val out = Files.createTempDirectory("graft-contract-slow-out").toString
      val http = HttpTransport(rx.url, maxAttempts = 1, initialDelayMs = 1)
      SlowThenFailTransport.reset()
      // a cancelled task is then not interrupted: it ends after the file
      // it is on, as a task in a send that ignores interrupts does
      spark.conf.set("spark.sql.execution.interruptOnCancel", "false")
      val first = try Try(SnapshotJob.run(spark, fixtureDir, out, status, expected,
          LocalKeyService, transport = Some(SlowThenFailTransport(http, slowMs = 400))))
        finally spark.conf.unset("spark.sql.execution.interruptOnCancel")
      val slow = SlowThenFailTransport.slowFile.get
      assert(first.isFailure && slow != null)
      assert(markers(status).contains(slow), s"no marker for $slow when the run threw")
      SnapshotJob.run(spark, fixtureDir, out, status, expected, LocalKeyService,
        transport = Some(http))
      assert(rx.accepted.get(outputName(slow)).get == 1)
    } finally rx.stop()
  }

  test("file: URIs for outDir and statusDir: a re-run delivers nothing") {
    val out = Files.createTempDirectory("graft-uri-out").toUri.toString
    val status = Files.createTempDirectory("graft-uri-status").toUri.toString
    assert(out.startsWith("file:") && status.startsWith("file:"))
    val cwd = new File(".").getCanonicalFile
    SnapshotJob.run(spark, fixtureDir, out, status, expected, LocalKeyService)
    assert(markers(new File(URI.create(status)).getPath) == sources.toSet)
    assert(Files.isRegularFile(Paths.get(URI.create(out))
      .resolve("db.core.claimant").resolve(outputName(sources.head))))
    assert(!new File(cwd, "file:").exists(), "markers went to a relative dir")

    val rx = new Receiver
    try {
      val again = SnapshotJob.run(spark, fixtureDir, out, status, expected,
        LocalKeyService, transport = Some(HttpTransport(rx.url, maxAttempts = 1)))
      assert(rx.accepted.isEmpty)
      assert(again.statuses.select("CollectionStatus").as[String].collect()
        .forall(_ == "Sent"))
    } finally rx.stop()
  }
}
