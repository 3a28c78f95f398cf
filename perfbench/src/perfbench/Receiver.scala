package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The in-process NiFi stand-in: accepts every POST with 200 and keeps
  * each body under its `filename` header, so a run can be checked for
  * exactly-once, byte-identical delivery after it ends. */
final class Receiver(threads: Int) {
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  val bodies = new ConcurrentHashMap[String, CopyOnWriteArrayList[Array[Byte]]]()
  val posts = new AtomicLong()
  val bytes = new AtomicLong()

  server.createContext("/", (ex: HttpExchange) => {
    try {
      val body = ex.getRequestBody.readAllBytes()
      val name = Option(ex.getRequestHeaders.getFirst("filename")).getOrElse("")
      bodies.computeIfAbsent(name, _ => new CopyOnWriteArrayList[Array[Byte]]())
        .add(body)
      posts.incrementAndGet()
      bytes.addAndGet(body.length.toLong)
      ex.sendResponseHeaders(200, -1)
    } finally ex.close()
  })
  server.setExecutor(pool)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"

  def reset(): Unit = { bodies.clear(); posts.set(0); bytes.set(0) }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }
}
