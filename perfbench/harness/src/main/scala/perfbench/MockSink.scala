package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, ScheduledExecutorService, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicIntegerArray, AtomicLong}

/** Keyed mock load endpoint for the ETL workloads: `POST /load` with a
  * JSON array of DeviceData rows whose names are `device-<i>`,
  * `0 <= i < devices`.
  *
  *  - A POST whose `X-Idempotency-Key` was already acknowledged is
  *    acknowledged again without storing its rows (counted as a dup).
  *  - While `failing`, POST number `n` in arrival order (from 0) is
  *    answered 503 when `(n + residue) % failEvery == 0`.
  *  - The reply delay is served by a timer, so a slow endpoint holds no
  *    handler thread; at most `threads` handler threads read requests.
  *  - Each POST leaves a server-side span (arrival, reply, rows, status).
  */
final class MockSink(devices: Int, delayMillis: Long, failEvery: Int, residue: Int, threads: Int) {
  import MockSink._

  private val handlers = Executors.newFixedThreadPool(threads, daemon("perfbench-sink"))
  private val timer: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor(daemon("perfbench-sink-timer"))
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 1024)
  private val keys = ConcurrentHashMap.newKeySet[String]()

  /** Acknowledged deliveries per device index. */
  val acks = new AtomicIntegerArray(devices)
  val arrivals = new AtomicLong
  val rejected = new AtomicLong
  val dupPosts = new AtomicLong
  val bytes = new AtomicLong
  val unknownRows = new AtomicLong
  private val inFlight = new AtomicInteger
  val inFlightMax = new AtomicInteger
  val posts = new ConcurrentLinkedQueue[Post]()
  @volatile var failing: Boolean = failEvery > 0

  server.setExecutor(handlers)
  server.createContext("/load", (x: HttpExchange) => handle(x))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/load"

  private def handle(x: HttpExchange): Unit = {
    val start = System.nanoTime()
    val n = arrivals.getAndIncrement()
    inFlightMax.accumulateAndGet(inFlight.incrementAndGet(), math.max)
    val body = x.getRequestBody.readAllBytes()
    bytes.addAndGet(body.length)
    val key = Option(x.getRequestHeaders.getFirst("X-Idempotency-Key")).getOrElse("")
    val reply: () => Unit = () => {
      val rows =
        if (failing && failEvery > 0 && (n + residue) % failEvery == 0) { rejected.incrementAndGet(); -1 }
        else if (key.nonEmpty && !keys.add(key)) { dupPosts.incrementAndGet(); 0 }
        else store(new String(body, "UTF-8"))
      val status = if (rows < 0) 503 else 200
      val msg = (if (rows < 0) """{"status":"unavailable"}""" else """{"status":"success"}""")
        .getBytes("UTF-8")
      try {
        x.sendResponseHeaders(status, msg.length)
        x.getResponseBody.write(msg)
      } finally x.close()
      inFlight.decrementAndGet()
      posts.add(Post(start, System.nanoTime(), math.max(rows, 0), status))
    }
    if (delayMillis > 0) timer.schedule((() => reply()): Runnable, delayMillis, TimeUnit.MILLISECONDS)
    else reply()
  }

  /** Count one acknowledgement per `{"name":"device-<i>"` record. */
  private def store(payload: String): Int = {
    var rows = 0
    var at = payload.indexOf(RecordStart)
    while (at >= 0) {
      var i = at + RecordStart.length
      var id = 0L
      while (i < payload.length && Character.isDigit(payload.charAt(i))) {
        id = id * 10 + (payload.charAt(i) - '0'); i += 1
      }
      if (id < devices) acks.incrementAndGet(id.toInt) else unknownRows.incrementAndGet()
      rows += 1
      at = payload.indexOf(RecordStart, i)
    }
    rows
  }

  def stop(): Unit = {
    server.stop(0)
    timer.shutdownNow()
    handlers.shutdownNow()
    timer.awaitTermination(5, TimeUnit.SECONDS)
    handlers.awaitTermination(5, TimeUnit.SECONDS)
  }
}

object MockSink {
  /** Server-side record of one POST (nanoTime stamps). */
  final case class Post(start: Long, end: Long, rows: Int, status: Int)

  private val RecordStart = "{\"name\":\"device-"

  def daemon(name: String): ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, name); t.setDaemon(true); t
  }
}
