package graft.eltbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, ExecutorService, ThreadFactory}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Seeded QBO customer records. Each record's `MetaData.LastUpdatedTime`
  * falls inside [[Customers.Lo]]..[[Customers.Hi]] with probability
  * `keepShare`, otherwise a year before or a few months after, so the
  * window's selectivity is a stated input, and `inWindow` says exactly
  * which ids the date-window filter must keep. */
final case class Customers(ids: Array[Long], json: Array[String],
    inWindow: Array[Boolean]) {
  def keptIds: Set[Long] =
    ids.indices.iterator.filter(inWindow).map(ids(_)).toSet
}

object Customers {
  val Lo = "2024-01-01"
  val Hi = "2025-06-30"
  private val Cities = Array("Tucson", "Austin", "Boise", "Fresno", "Dayton",
    "Eugene", "Albany", "Mobile")

  private def day(rng: java.util.Random, fromEpochDay: Long, days: Int): String =
    java.time.LocalDate.ofEpochDay(fromEpochDay + rng.nextInt(days)).toString

  def generate(seed: Long, ids: Array[Long], keepShare: Double): Customers = {
    val rng = new java.util.Random(seed)
    val lo = java.time.LocalDate.parse(Lo).toEpochDay
    val hi = java.time.LocalDate.parse(Hi).toEpochDay
    val inWindow = Array.fill(ids.length)(rng.nextDouble() < keepShare)
    val json = ids.indices.map { i =>
      val id = ids(i)
      val updated =
        if (inWindow(i)) day(rng, lo, (hi - lo + 1).toInt)
        else if (rng.nextBoolean()) day(rng, lo - 365, 360)
        else day(rng, hi + 5, 150)
      val created = day(rng, lo - 900, 500)
      val hh = rng.nextInt(24); val mm = rng.nextInt(60); val ss = rng.nextInt(60)
      f"""{"Id":"$id","SyncToken":"${rng.nextInt(9)}","domain":"QBO","sparse":false,""" +
        f""""DisplayName":"Customer $id","CompanyName":"Company ${rng.nextInt(50000)}",""" +
        f""""Active":${rng.nextInt(10) > 0},"Taxable":${rng.nextBoolean()},""" +
        f""""Balance":${rng.nextInt(1000000) / 100.0}%.2f,""" +
        """"CurrencyRef":{"value":"USD","name":"United States Dollar"},""" +
        f""""PrimaryEmailAddr":{"Address":"c$id@example.com"},""" +
        f""""BillAddr":{"Id":"${rng.nextInt(100000)}","Line1":"${rng.nextInt(9999)} Main St",""" +
        f""""City":"${Cities(rng.nextInt(Cities.length))}","PostalCode":"${10000 + rng.nextInt(89999)}"},""" +
        f""""MetaData":{"CreateTime":"${created}T09:15:00-07:00",""" +
        f""""LastUpdatedTime":"${updated}T$hh%02d:$mm%02d:$ss%02d-07:00"}}"""
    }.toArray
    Customers(ids, json, inWindow)
  }
}

/** QBO-shaped fixture API on 127.0.0.1: `/token` (OAuth2 client
  * credentials) and `/query` (`SELECT * FROM Customer STARTPOSITION s
  * MAXRESULTS n`). Page bodies are rendered once at construction, so
  * serving a request is a map lookup. The first attempt at a seeded
  * `throttleShare` of the pages (at least one) is answered `429` with
  * `Retry-After: 0`, so the client retries without sleeping; [[newEpoch]]
  * re-arms those throttles so every operation sees the same pattern.
  * Handler threads are daemons, at most one per core. */
final class QboFixture(records: Customers, pageSize: Int,
    throttleShare: Double, seed: Long) {
  val clientId = "bench-client"
  val clientSecret = "bench-secret"
  private val token = s"tok-$seed"

  private def envelope(recs: Seq[String], start: Long): Array[Byte] =
    (s"""{"QueryResponse":{"Customer":[${recs.mkString(",")}],""" +
      s""""startPosition":$start,"maxResults":${recs.size}},""" +
      s""""time":"2025-09-13T03:22:01.000-07:00"}""").getBytes(UTF_8)

  private val pages: Map[Long, Array[Byte]] =
    records.json.grouped(pageSize).zipWithIndex.map { case (recs, p) =>
      val start = p.toLong * pageSize + 1
      start -> envelope(recs.toSeq, start)
    }.toMap
  private val emptyPage =
    """{"QueryResponse":{},"time":"2025-09-13T03:22:01.000-07:00"}""".getBytes(UTF_8)
  private val throttled: Set[Long] = {
    val starts = pages.keys.toSeq.sorted
    val n = math.max(1, math.round(throttleShare * starts.size).toInt)
    new scala.util.Random(seed * 31 + 7).shuffle(starts).take(n).toSet
  }
  def pageCount: Int = pages.size
  def throttledPages: Int = throttled.size

  val queries = new AtomicLong
  val throttles = new AtomicLong
  val tokenCalls = new AtomicLong
  val bytesServed = new AtomicLong
  private val attempted = ConcurrentHashMap.newKeySet[Long]()

  /** Re-arm the first-attempt throttles. */
  def newEpoch(): Unit = attempted.clear()

  private val pool: ExecutorService = Executors.newFixedThreadPool(
    Runtime.getRuntime.availableProcessors(), new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "qbo-fixture"); t.setDaemon(true); t
      }
    })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/token", (ex: HttpExchange) => {
    tokenCalls.incrementAndGet()
    ex.getRequestBody.readAllBytes()
    val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
    if (!auth.startsWith("Basic ")) respond(ex, 401, """{"error":"invalid_client"}""".getBytes(UTF_8))
    else respond(ex, 200,
      s"""{"access_token":"$token","token_type":"bearer","expires_in":3600}""".getBytes(UTF_8))
  })
  private val StartPos = "STARTPOSITION\\s+(\\d+)".r
  server.createContext("/query", (ex: HttpExchange) => {
    queries.incrementAndGet()
    val q = java.net.URLDecoder.decode(
      Option(ex.getRequestURI.getRawQuery).getOrElse(""), UTF_8)
    val start = StartPos.findFirstMatchIn(q).map(_.group(1).toLong).getOrElse(1L)
    if (ex.getRequestHeaders.getFirst("Authorization") != s"Bearer $token")
      respond(ex, 401, """{"Fault":{"type":"AUTHENTICATION"}}""".getBytes(UTF_8))
    else if (throttled(start) && attempted.add(start)) {
      throttles.incrementAndGet()
      ex.getResponseHeaders.add("Retry-After", "0")
      respond(ex, 429, """{"Fault":{"type":"THROTTLED"}}""".getBytes(UTF_8))
    } else {
      val body = pages.getOrElse(start, emptyPage)
      bytesServed.addAndGet(body.length)
      respond(ex, 200, body)
    }
  })
  server.start()

  val baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, body.length)
    ex.getResponseBody.write(body)
    ex.close()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }
}
