package graft.iq

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.io.CharArrayWriter
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Minimal HTTP façade over materialized state — the full `ring.clj`
  * surface (`handler` routing + HTTP serving, `ring.clj:20-53`) on the JDK
  * http server (no extra dependencies). Routes:
  *
  *   GET /store/{name}[?limit=N]    → rows of the store, JSON array
  *                                     (default cap 1000; a full-store GET
  *                                     on a large materialization must not
  *                                     collect unbounded rows to the driver)
  *   GET /store/{name}/{col}/{key}[?limit=N] → point lookup, JSON array
  *
  * Path segments are percent-decoded one by one, so a key holding `/` or
  * `%` is sent as `%2F` or `%25`. The key is cast to the column's type, as
  * `col === key` casts it. Each row is the object `Dataset.toJSON` writes.
  * A keyed store ([[KeyedStore]]) answers from its driver map with no
  * Spark job; any other view is queried. An unknown store answers 404, a
  * malformed request (path shape, `limit`, column, key) 400.
  *
  * Single-driver Spark owns all state, so the reference's shard-owner
  * forwarding collapses to local serving; multi-driver deployments plug
  * their routing into [[InteractiveQueries.handler]].
  */
object HttpStateServer {

  /** Minimal JSON string escaper for error bodies (quotes, backslashes,
    * control chars) — exception messages interpolate URL-controlled names.
    */
  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** A request for a store that does not exist (HTTP 404). */
  private final class NoSuchStore(msg: String) extends Exception(msg)

  /** One percent-encoded path segment or query value, decoded; a `+`
    * stays a plus, as in a URL path.
    */
  private def decode(s: String): String =
    URLDecoder.decode(s.replace("+", "%2B"), StandardCharsets.UTF_8)

  /** Rows as a JSON array, each row the object `Dataset.toJSON` writes
    * for it: Spark's generator with toJSON's options (session time zone,
    * null fields left out).
    */
  private def json(spark: SparkSession, schema: StructType,
                   rows: Iterable[InternalRow]): String = {
    val out = new CharArrayWriter()
    val gen = new JacksonGenerator(schema, out,
      new JSONOptions(Map("ignoreNullFields" ->
          spark.conf.get("spark.sql.jsonGenerator.ignoreNullFields", "true")),
        spark.conf.get("spark.sql.session.timeZone")))
    out.write('[')
    rows.iterator.zipWithIndex.foreach { case (row, i) =>
      if (i > 0) out.write(',')
      gen.write(row)
      gen.flush()
    }
    gen.close()
    out.write(']')
    out.toString
  }

  /** The JSON body for a path under `/store` and a raw query string. */
  private def respond(spark: SparkSession, path: Array[String],
                      query: Option[String]): String = {
    val (name, probe) = path match {
      case Array(name) => (name, None)
      case Array(name, keyCol, key) => (name, Some((keyCol, key)))
      case _ => throw new IllegalArgumentException(
        "use /store/{name} or /store/{name}/{col}/{key}")
    }
    // ?limit=N (default 1000) caps the rows any route ships to the driver:
    // a full-store GET on a large materialization must not collect it all
    val limit = query.iterator.flatMap(_.split("&")).collectFirst {
      case p if p.startsWith("limit=") => decode(p.stripPrefix("limit=")).toInt
    }.getOrElse(1000)
    require(limit > 0, s"limit must be positive, got $limit")
    KeyedStore.named(spark, name) match {
      case Some(store) =>
        val hits = probe.fold(store.rows.toSeq) { case (c, k) => store.lookup(c, k) }
        json(spark, store.schema(), hits.take(limit))
      case None =>
        val view =
          try InteractiveQueries.store(spark, name)
          catch { case e: AnalysisException => throw new NoSuchStore(e.getMessage) }
        val df = probe.fold(view) { case (c, k) => view.where(col(c) === k) }
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(df.schema)
        json(spark, df.schema, df.limit(limit).collect().map(
          r => toCatalyst(r).asInstanceOf[InternalRow]))
    }
  }

  /** Start on `port` (0 = ephemeral); returns the server and bound port.
    * Binds loopback by default — the server exposes every Spark table/temp
    * view unauthenticated; front it with your own auth to serve remotely.
    */
  def start(spark: SparkSession, port: Int = 0,
            bindAddress: String = "127.0.0.1"): (HttpServer, Int) = {
    val server = HttpServer.create(new InetSocketAddress(bindAddress, port), 0)
    server.createContext("/store", (exchange: HttpExchange) => {
      def error(msg: String) = s"""{"error":"${jsonEscape(String.valueOf(msg))}"}"""
      val (code, body) =
        try {
          val uri = exchange.getRequestURI
          val path = uri.getRawPath.stripPrefix("/store").split("/")
            .filter(_.nonEmpty).map(decode)
          (200, respond(spark, path, Option(uri.getRawQuery)))
        } catch {
          case e: NoSuchStore => (404, error(e.getMessage))
          case e: IllegalArgumentException => (400, error(e.getMessage))
          case e: AnalysisException => (400, error(e.getMessage))
          case e: Exception => (500, error(String.valueOf(e)))
        }
      val bytes = body.getBytes("UTF-8")
      exchange.getResponseHeaders.set("Content-Type", "application/json")
      exchange.sendResponseHeaders(code, bytes.length)
      val os = exchange.getResponseBody
      os.write(bytes)
      os.close()
    })
    server.start()
    (server, server.getAddress.getPort)
  }
}
