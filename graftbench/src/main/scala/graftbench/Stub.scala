package graftbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.polygonscan.{FixturePageSource, Tx}
import java.net.InetSocketAddress
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

/** In-process PolygonScan `tokentx` endpoint for the weekly job.
  *
  * Page bodies follow `FixturePageSource` arithmetic and are rendered
  * once, up front, into byte arrays, so serving a page costs one
  * socket write and the stub does not compete with the engine for CPU.
  * Each request holds one of at most `threads` handler threads for a
  * fixed `delayMs` before it is answered, like a remote API with a
  * fixed round trip. Pages past a wallet's last row answer with the
  * API's "No transactions found" envelope.
  */
final class PolygonscanStub(wallets: Seq[String], pageSize: Int,
    delayMs: Int, threads: Int) {
  import PolygonscanStub._

  private val pages: Map[(String, Int), Array[Byte]] =
    wallets.flatMap { w =>
      Iterator.from(1)
        .map(p => p -> FixturePageSource.fetch(w, 0L, MaxBlock, p, pageSize))
        .takeWhile(_._2.nonEmpty)
        .map { case (p, txs) => (w, p) -> render(txs) }
    }.toMap

  /** Bytes the pre-rendered pages hold. */
  val residentBytes: Long = pages.valuesIterator.map(_.length.toLong).sum

  private val requests = new AtomicLong
  private val bytesOut = new AtomicLong
  private val inflight = new AtomicInteger
  private val inflightMax = new AtomicInteger
  private val serviceNs = new ConcurrentLinkedQueue[java.lang.Long]
  private val lateNs = new ConcurrentLinkedQueue[java.lang.Long]
  private val seen = ConcurrentHashMap.newKeySet[(String, Int)]()
  private val dataPages = new AtomicLong

  // Records how long each accepted request waited for a handler thread.
  private val pool = new ThreadPoolExecutor(threads, threads, 60L,
      TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable]()) {
    override def execute(r: Runnable): Unit = {
      val queued = System.nanoTime()
      super.execute(() => { lateNs.add(System.nanoTime() - queued); r.run() })
    }
  }

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), threads)
  server.setExecutor(pool)
  server.createContext("/api", (ex: HttpExchange) => serve(ex))
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def serve(ex: HttpExchange): Unit = {
    val start = System.nanoTime()
    val now = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, math.max)
    try {
      val q = queryParams(ex.getRequestURI.getRawQuery)
      val key = (q.getOrElse("address", ""), q.get("page").map(_.toInt).getOrElse(1))
      val body = pages.get(key) match {
        case Some(b) => dataPages.incrementAndGet(); b
        case None => EmptyPage
      }
      requests.incrementAndGet()
      seen.add(key) // a repeated (wallet, page) is a client retry
      Thread.sleep(delayMs.toLong)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length.toLong)
      val out = ex.getResponseBody
      try out.write(body) finally out.close()
      bytesOut.addAndGet(body.length.toLong)
    } finally {
      inflight.decrementAndGet()
      serviceNs.add(System.nanoTime() - start)
      ex.close()
    }
  }

  /** Counters since the last reset, then reset them. */
  def drain(): StubStats = {
    def take(q: ConcurrentLinkedQueue[java.lang.Long]): Vector[Double] =
      Iterator.continually(q.poll()).takeWhile(_ != null).map(_ / 1e6).toVector
    val reqs = requests.getAndSet(0)
    val s = StubStats(reqs, dataPages.getAndSet(0), reqs - seen.size,
      bytesOut.getAndSet(0), inflightMax.getAndSet(0), take(serviceNs), take(lateNs))
    seen.clear()
    s
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** Requests, data pages, retried requests, bytes, peak concurrency,
  * and per-request service and queue-wait times (ms). */
final case class StubStats(requests: Long, pages: Long, retries: Long,
    bytes: Long, inflightMax: Int, serviceMs: Vector[Double], lateMs: Vector[Double])

object PolygonscanStub {
  /** The reference job's default `endblock`. */
  val MaxBlock = 99999999L

  val EmptyPage: Array[Byte] =
    """{"status":"0","message":"No transactions found","result":[]}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** One API page: the `status`/`message`/`result` envelope with every
    * transfer field as a string, as the API sends it. */
  def render(txs: Seq[Tx]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(txs.size * 240)
    sb.append("""{"status":"1","message":"OK","result":[""")
    var first = true
    txs.foreach { t =>
      if (!first) sb.append(',')
      first = false
      sb.append("{\"hash\":\"").append(t.hash)
        .append("\",\"blockNumber\":\"").append(t.blockNumber)
        .append("\",\"timeStamp\":\"").append(t.timeStamp)
        .append("\",\"from\":\"").append(t.from)
        .append("\",\"to\":\"").append(t.to)
        .append("\",\"contractAddress\":\"").append(t.contractAddress)
        .append("\",\"tokenName\":\"").append(t.tokenName)
        .append("\",\"tokenSymbol\":\"").append(t.tokenSymbol)
        .append("\",\"tokenDecimal\":\"").append(t.tokenDecimal)
        .append("\",\"value\":\"").append(t.value).append("\"}")
    }
    sb.append("]}")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  def queryParams(raw: String): Map[String, String] =
    Option(raw).toSeq.flatMap(_.split('&')).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }.toMap
}
