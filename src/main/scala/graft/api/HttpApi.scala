package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.Instant

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.ml.{Forecaster, GbtLagModel}

/** HTTP serving surface: the reference's six Flask routes (app.py:86,92,
  * 109,138,153,195) over [[Api]] + [[Responses]], on the JDK's built-in
  * HTTP server — zero added dependencies, byte-identical endpoint JSON.
  *
  *   GET /                                  → realtime dashboard (HTML)
  *   GET /historical                        → historical dashboard (HTML)
  *   GET /api/realtime_stats/{sym}          → {"latest":{...},"stats":{...}}
  *   GET /api/chart_data_1m/{sym}           → [[ts_ms, close], ...]
  *   GET /api/historical_data/{sym_tf}?range= → Chart.js {labels, datasets}
  *   GET /api/predict_xgboost/{sym_tf}      → [{timestamp, predicted_price}]
  *   GET /api/symbols                       → realtime dropdown symbols
  *   GET /api/historical_pairs              → historical dropdown pairs
  *
  * The two page routes render [[Pages]] with the dropdown data injected
  * server-side per request (the reference's render_template shape); the
  * same lists stay available as JSON under /api for non-browser clients.
  *
  * Deviations mirrored from the reference, not improved: URL symbols are
  * '-'-encoded and decoded with replace('-','/') (app.py:94); predict
  * serves only the 1h timeframe, with per-symbol window sizes BTC=5 /
  * ETH=24 (app.py:203-206); model/scaler pairs load from `modelsDir` and
  * missing artifacts are 404s (app.py:211-213).
  *
  * Every route renders from [[Api]]'s row reads (`Option[Row]`, `Seq[Row]`,
  * `Seq[String]`), which cut rows from driver-side views: a warm request
  * builds, plans and collects no Spark query, and a view runs a Spark read
  * only on the first request after its table changes (for the historical
  * and predict routes: the first request of a pair). An absent table
  * answers as the reference's missing index does (empty objects and
  * lists); any other failure, such as a corrupt file, is a 500 after one
  * retry when a snapshot's files vanished mid-read. `now` is injected for
  * deterministic tests (SURVEY.md §7.5.4).
  *
  * [[start]] turns on TCP_NODELAY for the JDK server
  * (`sun.net.httpserver.nodelay=true`) unless that property is already
  * set. This is a process-wide policy: the JDK reads the property once,
  * when its server classes load, so it applies to every JDK HTTP server in
  * the JVM, and only if no server was created before. Without it, each
  * keep-alive response (headers and body written separately) waits on
  * Nagle's algorithm plus the client's delayed ACK.
  */
final class HttpApi(api: Api, modelsDir: Option[String] = None,
    now: () => Instant = () => Instant.now(),
    poolSize: Int = 4) {
  require(poolSize > 0, s"poolSize must be positive, got $poolSize")

  // Caches SUCCESSFUL loads only: a failure (artifact not yet deployed, or a
  // transient read error) is re-resolved on the next request, matching the
  // reference's per-request artifact resolution (app.py:211-218) — a model
  // becomes servable as soon as it lands in modelsDir, no restart needed.
  private val bundles =
    new java.util.concurrent.ConcurrentHashMap[String, Forecaster.Bundle]()

  private[api] var server: HttpServer = _

  /** Start on `port` (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = {
    System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/api/realtime_stats/", exchange { path =>
      val symbol = path.stripPrefix("/api/realtime_stats/").replace('-', '/')
      // absent tables → empty {} objects, like the reference's NotFound
      // handling (app.py:96-106)
      Right(Responses.realtimeStats(
        orEmptyIfAbsent(api.latestCandleRow(symbol), None),
        orEmptyIfAbsent(api.latestStatsRow(symbol), None)))
    })
    server.createContext("/api/chart_data_1m/", exchange { path =>
      val symbol = path.stripPrefix("/api/chart_data_1m/").replace('-', '/')
      Right(Responses.chartData1m(api.chartRows(symbol, now())))
    })
    server.createContext("/api/historical_data/", exchange { (path, query) =>
      val symTf = path.stripPrefix("/api/historical_data/")
      splitSymTf(symTf) match {
        case None => Left(400 -> """{"error": "Invalid symbol_timeframe format."}""")
        case Some((symbol, timeframe)) =>
          val range = query.getOrElse("range", "all")
          Right(Responses.historicalData(symbol, timeframe,
            api.historicalRows(symbol, timeframe, range, now())))
      }
    })
    server.createContext("/api/predict_xgboost/", exchange { path =>
      predict(path.stripPrefix("/api/predict_xgboost/"))
    })
    // absent tables → empty dropdown lists, like the reference's
    // get_available_symbols_* helpers (app.py:46-64: missing index → []).
    // ONLY the table-absent error maps to [] — scan failures must surface
    // (and get the FileNotFound retry in the exchange plumbing), not hide
    // an outage behind an empty dropdown.
    server.createContext("/api/symbols", exchange { path =>
      Right(Responses.strings(realtimeSymbols()))
    })
    server.createContext("/api/historical_pairs", exchange { path =>
      Right(Responses.strings(historicalPairs()))
    })
    // The two PAGE routes render the dashboards with the dropdown data
    // injected server-side per request — the reference's
    // render_template(available_symbols=...) shape (app.py:86-90,138-151)
    server.createContext("/historical", page { path =>
      if (path != "/historical" && path != "/historical/") notFound(path)
      else Right(Pages.historical(historicalPairs()))
    })
    // "/" is the JDK HttpServer catch-all context: bound to the exact root
    // path so typos and unknown routes get a 404 instead of silently
    // receiving the dashboard (which would mask client routing bugs).
    server.createContext("/", page { path =>
      if (path != "/") notFound(path)
      else Right(Pages.realtime(realtimeSymbols()))
    })
    // fixed pool sized to the expected dashboard fan-out: view hits are
    // cheap, and view rebuilds are bounded by driver scheduling anyway (the
    // JDK server handles HTTP keep-alive itself)
    server.setExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(poolSize))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  private def realtimeSymbols(): Seq[String] = orEmptyIfAbsent(api.symbolList(), Nil)

  private def historicalPairs(): Seq[String] = orEmptyIfAbsent(api.pairList(), Nil)

  /** `empty` only for ServingStore's table-absent error; anything else (a
    * corrupt file, a scan failure) propagates to the 500/retry plumbing.
    */
  private def orEmptyIfAbsent[T](read: => T, empty: T): T =
    try read catch {
      case e: IllegalArgumentException
          if String.valueOf(e.getMessage).contains("does not exist") =>
        empty
    }

  private def notFound(path: String): Left[(Int, String), String] =
    Left(404 -> errJson(s"Not found: $path"))

  /** A complete `{"error": ...}` body with the message JSON-escaped —
    * exception text (e.g. Spark AnalysisException) can contain quotes,
    * backslashes, and newlines that would otherwise break the body.
    */
  private def errJson(msg: String): String =
    Responses.error(Option(msg).getOrElse("(no message)"))

  /** app.py:156-159: timeframe = last '_' part, symbol = the rest. */
  private def splitSymTf(s: String): Option[(String, String)] = {
    val i = s.lastIndexOf('_')
    if (i <= 0 || i == s.length - 1) None
    else Some((s.substring(0, i), s.substring(i + 1)))
  }

  /** app.py:195-244 semantics: 1h-only, per-symbol window config, persisted
    * (model, scaler) pair, 404 on missing artifacts, M4 arity validation.
    */
  private def predict(symTf: String): Either[(Int, String), String] =
    splitSymTf(symTf) match {
      case None => Left(400 ->
        """{"error": "Invalid format. Expected SYMBOL_TIMEFRAME (e.g., BTC_USDT_1h)"}""")
      case Some((symbol, timeframe)) =>
        if (timeframe != "1h")
          Left(400 -> errJson(s"Prediction only for 1h timeframe. Requested: $timeframe"))
        else {
          val windowSize =
            if (symbol.contains("BTC_USDT")) 5
            else if (symbol.contains("ETH_USDT")) 24
            else 0
          if (windowSize == 0)
            Left(400 -> errJson(s"No window size configured for symbol $symbol."))
          else loadBundle(symbol, timeframe) match {
            case Left(err) => Left(404 -> errJson(err))
            case Right(b) if b.model.windowSize != windowSize =>
              Left(500 -> errJson(
                s"Model feature mismatch. Expects ${b.model.windowSize}, config $windowSize."))
            case Right(b) =>
              try Right(Responses.predictions(
                api.predict(symbol, timeframe, b, stepMs = 3600000L)))
              catch {
                case e: NoSuchElementException =>
                  Left(404 -> errJson(e.getMessage))
              }
          }
        }
    }

  private def loadBundle(symbol: String,
      timeframe: String): Either[String, Forecaster.Bundle] = {
    val key = s"${symbol}_$timeframe"
    Option(bundles.get(key)).map(Right(_)).getOrElse {
      val loaded: Either[String, Forecaster.Bundle] = modelsDir match {
        case None => Left(s"Model for $symbol not found.")
        case Some(dir) =>
          val path = s"$dir/$key"
          if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path)))
            Left(s"Model for $symbol not found.")
          else
            try Right(GbtLagModel.load(api.store.spark, path))
            catch { case e: Exception => Left(s"Failed to load model: ${e.getMessage}") }
      }
      loaded.foreach(b => bundles.put(key, b))
      loaded
    }
  }

  // ---- plumbing -----------------------------------------------------------

  private def isFileNotFound(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists {
      case _: java.io.FileNotFoundException => true
      case _: java.nio.file.NoSuchFileException => true
      case _ => false
    }

  private def exchange(f: String => Either[(Int, String), String])(
      implicit d: DummyImplicit): com.sun.net.httpserver.HttpHandler =
    exchange((path, _) => f(path))

  /** Like [[exchange]] but serves text/html on success; errors (404s,
    * retries, 500s) keep the JSON error body and content type.
    */
  private def page(f: String => Either[(Int, String), String])
      : com.sun.net.httpserver.HttpHandler =
    exchange((path, _) => f(path), okContentType = "text/html; charset=utf-8")

  private def exchange(
      f: (String, Map[String, String]) => Either[(Int, String), String],
      okContentType: String = "application/json")
      : com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => {
      val (status, body) =
        try {
          val q = Option(ex.getRequestURI.getQuery).getOrElse("")
            .split('&').filter(_.contains("=")).map { kv =>
              val Array(k, v) = kv.split("=", 2); k -> v
            }.toMap
          val path = ex.getRequestURI.getPath
          // One retry when a snapshot's files vanish mid-scan (the sink
          // swapped twice while this read was in flight — possible only if
          // a read outlives a full swap interval): re-running re-resolves
          // the fresh `_current` pointer.
          def run(): Either[(Int, String), String] =
            try f(path, q)
            catch {
              case e: Exception if isFileNotFound(e) => f(path, q)
            }
          run() match {
            case Right(ok) => 200 -> ok
            case Left((code, err)) => code -> err
          }
        } catch {
          case e: Exception => 500 -> errJson(e.getMessage)
        }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type",
        if (status == 200) okContentType else "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
}
