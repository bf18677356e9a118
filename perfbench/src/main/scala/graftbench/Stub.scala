package graftbench

import java.net.InetSocketAddress
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback Groove/HelpScout stand-in on 127.0.0.1.
  *
  *  - `GET /<prefix>/groove/<resource>/meta.json|page-N.json` serves the
  *    generated dump; `<prefix>` is free, so each migration can use a
  *    fresh base URL (the paged source caches manifests per URL);
  *  - `GET /<prefix>/files/<name>` serves attachment bytes;
  *  - `POST /<prefix>/hs/<resource>` accepts a record. The first attempt
  *    of a seeded share of records is answered 429 with `Retry-After: 0`.
  *
  * Accepted records are counted by the id field named per resource, so a
  * caller can check each expected record arrived exactly once. */
final class Stub(dump: Path, seed: Long, status429Share: Double, idFields: Map[String, String]) {
  val gets = new AtomicLong()
  val posts = new AtomicLong()
  val retries = new AtomicLong()
  private val attempted = ConcurrentHashMap.newKeySet[String]()
  val accepted = new ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]]()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(4)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => try handle(ex) finally ex.close())
  server.start()

  def base(prefix: String): String = s"http://127.0.0.1:${server.getAddress.getPort}/$prefix"

  def resetLedger(): Unit = { attempted.clear(); accepted.clear() }

  def received(resource: String): Map[String, Long] =
    Option(accepted.get(resource)).map { m =>
      val b = Map.newBuilder[String, Long]
      m.forEach((k, v) => b += k -> v.get)
      b.result()
    }.getOrElse(Map.empty)

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit =
    if (body.isEmpty) ex.sendResponseHeaders(code, -1)
    else { ex.sendResponseHeaders(code, body.length); ex.getResponseBody.write(body) }

  private def throttled(body: String): Boolean = {
    val h = scala.util.hashing.MurmurHash3.stringHash(body, seed.toInt)
    ((h & 0x7fffffff) % 10000) < status429Share * 10000 && attempted.add(body)
  }

  private def handle(ex: HttpExchange): Unit = {
    val parts = ex.getRequestURI.getPath.split('/').filter(_.nonEmpty).drop(1)
    ex.getRequestMethod match {
      case "GET" =>
        gets.incrementAndGet()
        val file = dump.resolve(parts.mkString("/")).normalize()
        if (parts.isEmpty || !file.startsWith(dump) || !Files.isRegularFile(file))
          respond(ex, 404, Array.empty)
        else respond(ex, 200, Files.readAllBytes(file))
      case "POST" if parts.length == 2 && parts(0) == "hs" =>
        posts.incrementAndGet()
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        if (throttled(body)) {
          retries.incrementAndGet()
          ex.getResponseHeaders.add("Retry-After", "0")
          respond(ex, 429, Array.empty)
        } else {
          val field = idFields.getOrElse(parts(1), "id")
          val id = ("\"" + field + "\":\"?([^\",}]*)").r.findFirstMatchIn(body).map(_.group(1)).getOrElse("?")
          accepted.computeIfAbsent(parts(1), _ => new ConcurrentHashMap[String, AtomicLong]())
            .computeIfAbsent(id, _ => new AtomicLong()).incrementAndGet()
          respond(ex, 201, Array.empty)
        }
      case _ => respond(ex, 405, Array.empty)
    }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Stub {
  def apply(dump: String, seed: Long, status429Share: Double, idFields: Map[String, String]): Stub =
    new Stub(Paths.get(dump).toAbsolutePath.normalize(), seed, status429Share, idFields)
}
