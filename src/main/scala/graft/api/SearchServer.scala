package graft.api

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.embed.Embedder
import graft.search.TextSearch
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HTTP serving layer — the runnable twin of the reference's Flask app
  * (`/root/reference/app.py:1-54` creates the app;
  * `backend/api.py:98-291` implements the endpoints). [[FoodFinder]]
  * already carries the SEMANTICS (modes, validation, clamps, filter
  * placement); this class puts them behind the same two routes, so a
  * reference user keeps their HTTP client unchanged:
  *
  *   - `POST /api/search` — payload `{mode, description, title, limit,
  *     available, maxPrice, restaurant}`; mode ∈ vector/fulltext/hybrid;
  *     per-mode required-field rules, limit clamped to [1, 25], and the
  *     reference's exact 400 messages (`backend/api.py:104-131` — they are
  *     part of the observable API; the frontend displays them verbatim).
  *   - `GET /api/restaurants` — distinct restaurant names ascending
  *     (`backend/api.py:80-95`).
  *   - with a `frontendDir` (the reference-shaped `frontend/` tree),
  *     `GET /` renders `templates/index.html` (Flask's `url_for('static',
  *     …)` is the only template construct it uses — rendered to `/static/…`)
  *     and `GET /static/...` serves the assets, confined to the static root
  *     (`app.py:16-20,44-46`).
  *
  * Zero new dependencies: JDK `HttpServer` + the Jackson that ships with
  * Spark. The server is a thin adapter — each request builds the same
  * [[FoodFinder]] plan the CLI builds and collects the ≤ 25 sanitized
  * rows; Spark remains the query engine, so the serving layer adds no
  * second execution path to keep correct.
  *
  * Scale note: this is the reference's single-node serving shape (one
  * driver answering interactive queries over session-cached indexes). A
  * production deployment would put it behind the usual stateless
  * replication; the per-request work is already the partition-pruned
  * index probes measured in BENCH. */
final class SearchServer(
    tbl: FoodFinder.SearchTable,
    embedder: Embedder = Embedder.default,
    textIndex: Option[TextSearch.Bm25Index] = None,
    restaurantCol: String = "restaurantName",
    frontendDir: Option[java.nio.file.Path] = None) {
  private val mapper = new ObjectMapper()

  /** Bad request carrying the reference's user-facing message. */
  private final class BadRequest(val message: String) extends RuntimeException(message)

  private def respondBytes(ex: HttpExchange, status: Int, bytes: Array[Byte],
      contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
  private def respond(ex: HttpExchange, status: Int, body: String): Unit =
    respondBytes(ex, status, body.getBytes("UTF-8"), "application/json")
  private def message(s: String): String =
    mapper.createObjectNode().put("message", s).toString

  private def optText(p: JsonNode, field: String): Option[String] =
    Option(p.get(field)).filterNot(_.isNull).map(_.asText.trim).filter(_.nonEmpty)

  /** The reference's filter surface (`backend/api.py:122-137` builds it,
    * `:166-199` places it): available/maxPrice pre-filter the vector
    * branch and post-filter fulltext; restaurant matches exactly. */
  private def buildFilter(p: JsonNode): Option[Column] = {
    val preds = Seq(
      Option(p.get("available")).filterNot(_.isNull)
        .map(n => col("product.available") === n.asBoolean()),
      Option(p.get("maxPrice")).filterNot(_.isNull).map { n =>
        if (!n.isNumber && scala.util.Try(n.asText.toDouble).isFailure)
          throw new BadRequest("El formato del precio máximo no es válido.")
        col("product.price.amount") < (if (n.isNumber) n.asDouble else n.asText.toDouble)
      },
      optText(p, "restaurant").map(col(restaurantCol) === _),
    ).flatten
    preds.reduceOption(_ && _)
  }

  private def handleSearch(ex: HttpExchange): Unit = {
    // the reference reads the body with get_json(silent=True) or {}
    // (`backend/api.py:100`): malformed JSON is an EMPTY payload, which
    // then fails the required-field checks as a 400 — never a 500
    val payload =
      try mapper.readTree(ex.getRequestBody.readAllBytes()) match {
        case null => mapper.createObjectNode()
        case n => n
      } catch {
        case _: com.fasterxml.jackson.core.JacksonException =>
          mapper.createObjectNode()
      }
    val mode = optText(payload, "mode").getOrElse("vector").toLowerCase
    if (!FoodFinder.Modes.contains(mode))
      throw new BadRequest("Modo de búsqueda no válido.")
    val description = optText(payload, "description")
    val title = optText(payload, "title")
    if ((mode == "vector" || mode == "hybrid") && description.isEmpty)
      throw new BadRequest("La descripción es obligatoria para la búsqueda seleccionada.")
    if ((mode == "hybrid" || mode == "fulltext") && title.isEmpty)
      throw new BadRequest("El título es obligatorio para la búsqueda seleccionada.")
    // the checks above ARE the rule set (the reference's Spanish 400
    // surface, `backend/api.py:104-131`); FoodFinder.validate is the same
    // rules with library-facing English messages — calling it here too
    // would leave two live gates to keep in sync, so the server goes
    // straight to the shared clamp (SearchServerSpec pins rule parity)
    val limit = graft.search.VectorSearch.clampLimit(
      Option(payload.get("limit")).filterNot(_.isNull)
        .map(_.asInt(FoodFinder.DefaultLimit))
        .getOrElse(FoodFinder.DefaultLimit))
    val filter = buildFilter(payload)
    val results = mode match {
      case "vector" =>
        FoodFinder.vector(tbl, embedder.embed(description.get), limit, filter)
      case "fulltext" =>
        FoodFinder.fulltext(tbl, title.get, limit, filter, textIndex)
      case "hybrid" =>
        FoodFinder.hybrid(tbl, embedder.embed(description.get), title.get,
          limit, filter, index = textIndex)
    }
    val rows = FoodFinder.sanitize(results).select("json").collect()
      .map(_.getString(0))
    respond(ex, 200, rows.mkString("[", ",", "]"))
  }

  private def handleRestaurants(ex: HttpExchange): Unit = {
    val names = tbl.df.select(col(restaurantCol))
      .where(col(restaurantCol).isNotNull)
      .distinct().orderBy(restaurantCol)
      .collect().map(_.getString(0))
    val arr = mapper.createArrayNode()
    names.foreach(arr.add)
    respond(ex, 200, arr.toString)
  }

  /** Start on `port` (0 = ephemeral); returns the live server — callers
    * own its lifecycle (`.stop(0)`). */
  def start(port: Int): HttpServer = {
    val server = HttpServer.create(new java.net.InetSocketAddress(port), 0)
    // without an executor every request serializes on the single
    // dispatcher thread — one slow Spark collect would block even
    // /api/restaurants; a small pool lets the driver overlap requests
    // (Spark schedules concurrent actions fine). Daemon threads:
    // HttpServer.stop does not shut down a user-supplied executor, and
    // the pool must never pin the JVM after the server is dropped.
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => { val t = new Thread(r, "search-server"); t.setDaemon(true); t }))
    // JDK HttpServer contexts PREFIX-match and accept every method; the
    // Flask reference 404s unknown paths (/api/search/extra included) and
    // 405s a wrong method before the handler runs — both are observable
    // API, so gate exactly before dispatching
    def route(path: String, method: String, fn: HttpExchange => Unit): Unit =
      server.createContext(path, { ex =>
        try {
          if (ex.getRequestURI.getPath != path)
            respond(ex, 404, message("Not Found"))
          else if (ex.getRequestMethod != method) {
            ex.getResponseHeaders.set("Allow", method)
            respond(ex, 405, message("Method Not Allowed"))
          } else fn(ex)
        } catch {
          case e: BadRequest => respond(ex, 400, message(e.message))
          case e: Throwable =>
            // the reference surfaces pipeline failure as 500 + message
            // (`backend/api.py:161-162`) — never a silent empty result
            respond(ex, 500, message(Option(e.getMessage).getOrElse(e.toString).take(500)))
        }
      })
    route("/api/search", "POST", handleSearch)
    route("/api/restaurants", "GET", handleRestaurants)
    frontendDir.foreach(mountFrontend(server, _))
    server.start()
    server
  }

  // ------------------------------------------------------------- frontend
  //
  // The reference ships a static UI (`frontend/templates/index.html`,
  // `frontend/static/{css,js}` — `app.py:16-20` points Flask at those two
  // folders and `app.py:44-46` renders index.html at "/"). The JS calls
  // exactly the two API routes above (`frontend/static/js/main.js:171-236`),
  // so serving the reference-shaped asset tree closes the last runnable
  // surface: a reference user's browser workflow works against this server
  // unchanged.

  private def assetContentType(name: String): String =
    name.takeRight(name.length - name.lastIndexOf('.') - 1) match {
      case "html" => "text/html; charset=utf-8"
      case "css"  => "text/css; charset=utf-8"
      case "js"   => "text/javascript; charset=utf-8"
      case "png"  => "image/png"
      case "svg"  => "image/svg+xml"
      case "ico"  => "image/x-icon"
      case _      => "application/octet-stream"
    }

  /** The one template expression index.html uses is Flask's
    * `url_for('static', filename='x')`, which renders to `/static/x` — the
    * minimal render that makes the reference's own template serve as-is
    * (it uses no other Jinja constructs). */
  private def renderTemplate(html: String): String =
    """\{\{\s*url_for\(\s*'static'\s*,\s*filename\s*=\s*'([^']+)'\s*\)\s*\}\}""".r
      .replaceAllIn(html, m =>
        // quoteReplacement: a '$' or '\' in the asset filename would
        // otherwise be parsed as a group reference and throw (or corrupt
        // the rendered page) — the filename is data, not a template
        scala.util.matching.Regex.quoteReplacement("/static/" + m.group(1)))

  private def mountFrontend(server: HttpServer,
      dir: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    val templates = dir.resolve("templates")
    val static = dir.resolve("static").toAbsolutePath.normalize()
    // "/" is the JDK HttpServer's catch-all context, but longest-prefix
    // dispatch still sends /api/* and /static/* to their own contexts —
    // so this context only ever sees the index route and unknown paths,
    // which Flask 404s (the same gating posture as the API routes)
    server.createContext("/", { ex =>
      try {
        if (ex.getRequestMethod != "GET") {
          ex.getResponseHeaders.set("Allow", "GET")
          respond(ex, 405, message("Method Not Allowed"))
        } else if (ex.getRequestURI.getPath == "/") {
          val html = renderTemplate(
            Files.readString(templates.resolve("index.html")))
          respondBytes(ex, 200, html.getBytes("UTF-8"),
            assetContentType("index.html"))
        } else respond(ex, 404, message("Not Found"))
      } catch {
        case e: Throwable =>
          respond(ex, 500, message(Option(e.getMessage).getOrElse(e.toString).take(500)))
      }
    })
    server.createContext("/static/", { ex =>
      try {
        if (ex.getRequestMethod != "GET") {
          ex.getResponseHeaders.set("Allow", "GET")
          respond(ex, 405, message("Method Not Allowed"))
        } else {
          // URI.getPath is already percent-DECODED, so an encoded
          // `%2e%2e` traversal lands here as literal dots; normalize()
          // folds every ../ and the startsWith check confines the result
          // to the static root — anything escaping it is the same 404 a
          // missing file gets (no oracle for "exists outside the root")
          val rel = ex.getRequestURI.getPath.stripPrefix("/static/")
          val target = static.resolve(rel).normalize()
          // the lexical check confines dot-dot traversal; the toRealPath
          // comparison additionally refuses a symlink INSIDE static/
          // pointing outside it (readAllBytes follows links, so without
          // this a planted link would serve arbitrary files — stricter
          // than Flask's send_from_directory, which stops at lexical)
          def realInsideStatic: Boolean =
            target.toRealPath().startsWith(static.toRealPath())
          if (!target.startsWith(static) || !Files.isRegularFile(target) ||
              !realInsideStatic)
            respond(ex, 404, message("Not Found"))
          else respondBytes(ex, 200, Files.readAllBytes(target),
            assetContentType(target.getFileName.toString))
        }
      } catch {
        case e: Throwable =>
          respond(ex, 500, message(Option(e.getMessage).getOrElse(e.toString).take(500)))
      }
    })
  }
}

/** Standalone entry point: serve a product-detail parquet.
  * `runMain graft.api.SearchServer <detail.parquet> [port] [frontendDir]` —
  * the `app.py` lifecycle: load the table, derive the search surface,
  * listen. `frontendDir` (a reference-shaped `frontend/` tree with
  * `templates/` + `static/`) additionally serves the UI at `/`. */
object SearchServer {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: SearchServer <detail.parquet> [port] [frontendDir]")
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val frontend = args.lift(2).map(java.nio.file.Paths.get(_))
    val spark = graft.SparkEntry.session()
    val df = spark.read.parquet(args(0))
      .withColumn("emb_description", col("emb_description").cast("array<double>"))
      .cache()
    val tbl = FoodFinder.SearchTable(df, "_id", "emb_description", "title")
    // offline DDL before serving (indexes.py lifecycle): queries share the
    // prebuilt text index instead of re-deriving corpus stats per request
    val idx = TextSearch.buildIndex(df, "_id", "title")
    val server = new SearchServer(tbl,
      textIndex = Some(idx.copy(postings = idx.postings.cache(),
        termDf = idx.termDf.cache())),
      frontendDir = frontend)
      .start(port)
    println(s"SEARCHSERVER listening on port ${server.getAddress.getPort}")
  }
}
