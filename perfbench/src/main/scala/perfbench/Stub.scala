package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, Executors}

/** Loopback enrichment service for `HttpPropertyTypeClient`.
  *
  * Answers POST {"concept_id": N} with the body `stub_model.py` defines for
  * N (entries, empty bodies, empty arrays and 404s), so the expected
  * enrichment output is known in advance. Runs on at most `threads` handler
  * threads. Counts requests, peak in-flight requests and handler busy time,
  * and can fail one request with HTTP 400 (`armFailureAt`).
  *
  * Start the JVM with -Dsun.net.httpserver.nodelay=true: without it the
  * server's small responses wait on Nagle/delayed-ACK (~40 ms per request)
  * and the enrichment stage measures the socket, not the program.
  */
final class StubService(threads: Int) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads)
  val requests = new AtomicLong()
  private val inflight = new AtomicInteger()
  val peakInflight = new AtomicInteger()
  val busyNanos = new AtomicLong()
  private val failAt = new AtomicLong(-1)

  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"

  /** The `n`-th request from now (1-based) gets HTTP 400, once. */
  def armFailureAt(n: Long): Unit = failAt.set(requests.get() + n)

  def resetCounters(): Unit = { requests.set(0); peakInflight.set(0); busyNanos.set(0) }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val now = inflight.incrementAndGet()
    peakInflight.accumulateAndGet(now, math.max)
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val n = requests.incrementAndGet()
      val id = body.filter(_.isDigit).toLong
      val (status, text) =
        if (failAt.compareAndSet(n, -1)) (400, "")
        else StubService.response(id)
      val bytes = text.getBytes("UTF-8")
      ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    } finally {
      ex.close()
      inflight.decrementAndGet()
      busyNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

object StubService {
  private val Types = Array("Disease", "Demographics", "Treatment", "Finding", "Procedure", "Gene")

  /** Mirrors stub_model.response. */
  def response(id: Long): (Int, String) = {
    val x = (id * 0x9E3779B1L) & 0xFFFFFFFFL
    val h = x ^ (x >> 15)
    if (h % 19 == 0) (404, "")
    else if (h % 13 == 0) (200, "")
    else if (h % 11 == 0) (200, """{"event_and_property_types": []}""")
    else {
      val entries = (0 until (1 + (h % 4).toInt))
        .map(j => "\"" + Types(((h >> (3 * j)) % Types.length).toInt) + s":detail $j" + "\"")
      (200, entries.mkString("""{"event_and_property_types": [""", ", ", "]}"))
    }
  }
}

/** Counting sink for `ReferencePipeline.load`: records every delivered row
  * by a 64-bit content hash, counts batches, rows and send time, and can
  * throw at the m-th batch from now (`armFailureAt`). Runs executor-side;
  * the benchmark runs Spark in local mode, so one JVM-wide instance sees
  * every task. */
object CountingSink {
  val delivered = new ConcurrentHashMap[Long, AtomicInteger]()
  val batches = new AtomicLong()
  val rows = new AtomicLong()
  val sendNanos = new AtomicLong()
  private val failAt = new AtomicLong(-1)

  def armFailureAt(m: Long): Unit = failAt.set(batches.get() + m)

  def reset(): Unit = { delivered.clear(); batches.set(0); rows.set(0); sendNanos.set(0) }

  def snapshot(): Map[Long, Int] = {
    val b = Map.newBuilder[Long, Int]
    delivered.forEach((k, v) => b += k -> v.get())
    b.result()
  }

  def restore(s: Map[Long, Int]): Unit = {
    reset()
    s.foreach { case (k, v) => delivered.put(k, new AtomicInteger(v)) }
  }

  val send: (graft.ops.BatchedSink.BatchId, Seq[org.apache.spark.sql.Row]) => Unit = (_, batch) => {
    val t0 = System.nanoTime()
    val f = failAt.get()
    if (f >= 0 && batches.get() + 1 >= f && failAt.compareAndSet(f, -1))
      throw new IllegalStateException("injected sink failure")
    batch.foreach(r => delivered.computeIfAbsent(rowHash(r), _ => new AtomicInteger()).incrementAndGet())
    rows.addAndGet(batch.size)
    batches.incrementAndGet()
    sendNanos.addAndGet(System.nanoTime() - t0)
  }

  /** Content hash independent of map-entry order. */
  def rowHash(r: org.apache.spark.sql.Row): Long = {
    val canon = r.toSeq.map {
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, v) => s"$k=$v" }.sorted.mkString("{", ",", "}")
      case v => String.valueOf(v)
    }.mkString("\u0001")
    val a = scala.util.hashing.MurmurHash3.stringHash(canon, 0x3c074a61)
    val b = scala.util.hashing.MurmurHash3.stringHash(canon, 0x1b873593)
    (a.toLong << 32) | (b.toLong & 0xFFFFFFFFL)
  }
}
