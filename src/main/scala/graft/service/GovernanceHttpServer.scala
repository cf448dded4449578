package graft.service

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.contracts.{ContractJson, ContractStore}
import graft.governance.{DatasetStatus, GovernanceBackend}
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}

/** Bearer-token authentication policy for [[GovernanceHttpServer]] — the
  * twin of the reference's `bearer_token_dependency`
  * (`dc43-service-backends/src/dc43_service_backends/auth.py:28`): a set
  * of accepted tokens, an optional custom verifier, or both; at least
  * one must be provided (an empty policy would silently allow nothing —
  * the reference raises the same way). Token comparison runs over
  * FIXED-LENGTH SHA-256 digests of both sides and folds across every
  * configured token without short-circuit (bitwise `|`, not `||`), so
  * neither token length, prefix, nor which-of-N-tokens matched is
  * timing-observable. The optional `verifier` branch is caller-defined
  * code and carries whatever timing profile the caller gives it. */
final case class BearerAuth(tokens: Set[String] = Set.empty,
                            verifier: Option[String => Boolean] = None) {
  require(tokens.nonEmpty || verifier.nonEmpty,
    "provide at least one token or a verifier for authentication")
  private def sha256(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
  // tokens are immutable after construction: digest them once, not on
  // every request
  private val tokenDigests: Seq[Array[Byte]] = tokens.toSeq.map(sha256)
  def accepts(presented: String): Boolean = {
    val p = sha256(presented)
    val tokenHit = tokenDigests.foldLeft(false) { (acc, d) =>
      acc | java.security.MessageDigest.isEqual(d, p)
    }
    tokenHit || verifier.exists(_(presented))
  }
}

object BearerAuth {
  /** The common single-token deployment shape. */
  def token(t: String): BearerAuth = BearerAuth(tokens = Set(t))
}

/** Thin HTTP facade over a contract store and governance backend — the
  * deployment-mode twin of the reference's service backend server
  * (`dc43-service-backends/src/dc43_service_backends/server.py:1-680`):
  * the same in-process library semantics, exposed to out-of-process
  * pipelines over JSON/HTTP. Built on the JDK's `com.sun.net.httpserver`
  * (no server dependency); [[HttpContractStore]] is the matching remote
  * client. All ids travel as QUERY PARAMETERS, never path segments, so
  * raw ids containing `/` or `:` need no sanitisation on the wire.
  *
  * Routes (JSON in/out):
  *  - `GET  /health`
  *  - `GET  /contracts`                         → `{"ids":[...]}`
  *  - `GET  /contracts/versions?id=`            → `{"versions":[...]}`
  *  - `GET  /contracts/get?id=&version=`        → ODCS JSON | 404
  *  - `GET  /contracts/latest?id=`              → ODCS JSON | 404
  *  - `POST /contracts/put` (body ODCS JSON)    → 204
  *  - `POST /data-quality/evaluate` (body `{"contract":ODCS,"schema":{col:{odcsType,nullable[,backendType]}},"metrics":{k:n}}`)
  *      → `{"ok":,"status":,"errors":[...],"warnings":[...][,"reason":]}`
  *      — the reference's observation-payload evaluation
  *      (`server.py:368` `/data-quality/evaluate`): a remote pipeline
  *      ships its OBSERVATIONS (one-pass metrics + schema snapshot),
  *      never its data, and the verdict comes back over the wire.
  *      Evaluation dispatches through [[graft.quality.DataQualityManager]]
  *      (r15): a contract naming an external engine (`quality_engine`
  *      custom property or a quality rule's `engine` attribute —
  *      reference manager.py:49-75) has its verdict interpreted from
  *      the metrics' nested run summary (e.g. a `great_expectations`
  *      object value) instead of recomputed natively; unknown engine
  *      names are a 400, not a silent native fallback
  *  - `POST /data-quality/expectations` (body `{"contract":ODCS}`)
  *      → `{"expectations":[{key,rule,column,optional,predicate},...]}`
  *      (`server.py:375` — the contract's expectation descriptors with
  *      their SQL predicates, so any engine can pre-check locally)
  *  - `GET  /governance/status?dataset=&version=` → verdict JSON | 404
  *  - `GET  /governance/datasets`               → `{"ids":[...]}`
  *  - `GET  /governance/link?dataset=`          → link JSON | 404
  *  - `POST /governance/link?dataset=&contractId=&contractVersion=[&datasetVersion=]` → 204
  *  - `GET  /governance/activity?dataset=[&version=]` → activity JSON array
  *  - `POST /governance/evaluate?dataset=&version=` (body = the
  *      dq-evaluate observation payload) → `{"status":verdict,"ok":,
  *      "draftVersions":[...]}` — evaluate + RECORD + auto-draft in one
  *      round trip (the reference's `/governance/evaluate`,
  *      `server.py:463`)
  *  - `GET  /governance/drafts?contractId=`     → `{"versions":[...]}`
  *  - `POST /governance/read/resolve?contractId=&version=` (or `?product=&port=`) → resolved plan JSON
  *  - `POST /governance/write/resolve?contractId=&version=` (or `?product=&port=`) → resolved plan JSON
  *  - `POST /governance/review-draft?contractId=&version=&approve=` → reviewed ODCS JSON
  *  - `POST /governance/update-draft?contractId=&version=` (body edited ODCS JSON) → stored ODCS JSON
  *  - `GET  /governance/status-matrix`          → verdict JSON array (`server.py:536`)
  *  - `GET  /governance/dataset-records?[dataset=&version=]` → merged
  *      version-chain records (`server.py` dataset-records)
  *  - `GET  /governance/metrics?dataset=`       → metric observation array (`server.py:610`)
  *
  * With a [[graft.products.DataProductBackend]] attached the ODPS
  * data-product family is served too — the reference exposes all three
  * service families (contracts / governance / data products) from one
  * server (`server.py`), and so does this facade:
  *  - `GET  /products[?limit=&offset=]`           → paged `{"items":[...],"total":,"limit":,"offset":}`
  *  - `GET  /products/versions?id=`               → `{"versions":[...]}`
  *  - `GET  /products/get?id=&version=`           → ODPS JSON | 404
  *  - `GET  /products/latest?id=`                 → ODPS JSON | 404
  *  - `POST /products/put` (body ODPS JSON)       → 204
  *  - `POST /products/register-input?id=[&bump=&sourceDataProduct=&sourceOutputPort=]`
  *      (body = one input-port JSON, or `{"port":…,"customProperties":{k:v}}`
  *      — the wrapped form merges extra properties SERVER-side, after the
  *      bare-port no-op comparison) → `{"changed":,"product":ODPS}`
  *  - `POST /products/register-output?id=[&bump=]` (body = one output-port JSON or the wrapped form) → same
  *  - `POST /products/review?id=&version=&approve=` → reviewed ODPS JSON
  *  - `GET  /products/resolve-output?id=&port=`   → `{"contractId":,"contractVersion":}` | 404
  *
  * `GET /ui...` serves the read-only browse pages ([[WebUi]] — the
  * reference contracts-app's list/detail views), HTML instead of JSON,
  * behind the same bearer policy.
  */
final class GovernanceHttpServer(contracts: ContractStore, gov: GovernanceBackend,
                                 port: Int = 0,
                                 products: Option[graft.products.DataProductService] = None,
                                 auth: Option[BearerAuth] = None,
                                 /** Bind address. Loopback by default (specs,
                                   * same-host pipelines); a deployment serving
                                   * REMOTE pipelines sets "0.0.0.0" or the
                                   * interface address — `[server] host` in the
                                   * [[ServiceBootstrap]] config. */
                                 host: String = "127.0.0.1",
                                 /** Per-contract DQ engine dispatch for
                                   * `/data-quality/evaluate` — the default
                                   * registry (native + the GE/Soda
                                   * metrics-driven adapters); deployments
                                   * register custom engines here. */
                                 dqManager: graft.quality.DataQualityManager =
                                   new graft.quality.DataQualityManager()) {

  private var server: Option[HttpServer] = None
  private var pool: Option[ExecutorService] = None

  /** One `k=v&k=v` decode for query strings AND form bodies — the two
    * transports a parameter can arrive on must parse identically. */
  private def decodePairs(raw: String): Map[String, String] =
    raw.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(URLDecoder.decode(k, "UTF-8") ->
          URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }.toMap

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).filter(_.nonEmpty)
      .fold(Map.empty[String, String])(decodePairs)

  /** `application/x-www-form-urlencoded` body fields (the UI's form
    * POSTs) — the same [[decodePairs]] as the query params. */
  private def formBody(ex: HttpExchange): Map[String, String] =
    decodePairs(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))

  private def urlEnc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  /** Post/redirect/get: 303 so the browser re-GETs the browse page. */
  private def redirect(ex: HttpExchange, location: String): Unit = {
    ex.getResponseHeaders.set("Location", location)
    ex.sendResponseHeaders(303, -1)
    ex.close()
  }

  private def respondHtml(ex: HttpExchange, html: String): Unit = {
    val bytes = html.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def jsonIds(key: String, ids: Seq[String]): String =
    JsonMethods.compact(JsonMethods.render(
      JObject(key -> JArray(ids.toList.map(JString(_))))))

  private def statusJson(st: DatasetStatus): JValue = JObject(
    "datasetId" -> JString(st.datasetId),
    "datasetVersion" -> JString(st.datasetVersion),
    "contractId" -> JString(st.contractId),
    "contractVersion" -> JString(st.contractVersion),
    "status" -> JString(st.status),
    "errors" -> JArray(st.errors.toList.map(JString(_))),
    "warnings" -> JArray(st.warnings.toList.map(JString(_))),
    "metrics" -> JObject(st.metrics.toList.sortBy(_._1)
      .map { case (k, v) => k -> (JDouble(v): JValue) }),
    "recordedAt" -> JLong(st.recordedAt))

  /** When auth is configured, every route except `/health` (the
    * load-balancer liveness probe — the reference leaves it open too)
    * requires `Authorization: Bearer <token>`. Missing, malformed and
    * rejected credentials all answer 401 with a `WWW-Authenticate`
    * challenge and give the same body, so a prober learns nothing about
    * WHICH check failed. */
  private def authorized(ex: HttpExchange): Boolean = auth match {
    case None => true
    case Some(_) if ex.getRequestURI.getPath == "/health" => true
    case Some(a) =>
      val ok = Option(ex.getRequestHeaders.getFirst("Authorization")).exists { h =>
        val sp = h.indexOf(' ')
        sp > 0 && h.substring(0, sp).equalsIgnoreCase("Bearer") &&
          a.accepts(h.substring(sp + 1).trim)
      }
      if (!ok) {
        ex.getResponseHeaders.set("WWW-Authenticate", "Bearer")
        respond(ex, 401, """{"error":"unauthorized"}""")
      }
      ok
  }

  /** CSRF guard for every state-changing (non-GET/HEAD) request: when
    * the request carries a browser provenance header (`Origin`, falling
    * back to `Referer`), its authority must equal the request's `Host`.
    * Browsers attach `Origin` to EVERY cross-site form POST — including
    * plain HTML forms targeting the `/ui/draft-edit` / `/ui/draft-review`
    * form routes and forms aimed at the query-parameter JSON routes
    * (`/governance/review-draft` can be driven entirely from an action
    * URL) — so an external page pivoting through an operator's browser
    * is rejected even when the facade runs without [[BearerAuth]] (the
    * only mode a browser can use: forms cannot attach an Authorization
    * header). Non-browser pipeline clients send neither header and pass
    * untouched; `Origin: null` (sandboxed iframe, file://) is treated as
    * foreign. */
  private def sameOrigin(ex: HttpExchange): Boolean = {
    val method = ex.getRequestMethod
    if (method == "GET" || method == "HEAD") true
    else {
      val host = Option(ex.getRequestHeaders.getFirst("Host"))
      def authority(url: String): Option[String] =
        try Option(java.net.URI.create(url).getAuthority) catch { case _: Exception => None }
      Option(ex.getRequestHeaders.getFirst("Origin"))
        .orElse(Option(ex.getRequestHeaders.getFirst("Referer"))) match {
        case None => true
        case Some(src) => host.nonEmpty && authority(src) == host
      }
    }
  }

  // every handler answers 400 on a missing parameter and 500 with the
  // message on an unexpected failure, so a bad client call can never
  // take the server down
  private def handler(f: (HttpExchange, Map[String, String]) => Unit)
      : com.sun.net.httpserver.HttpHandler = { ex =>
    try if (!sameOrigin(ex))
      respond(ex, 403, """{"error":"cross-origin request rejected"}""")
    else if (authorized(ex)) f(ex, params(ex))
    catch {
      case e: NoSuchElementException =>
        respond(ex, 400, s"""{"error":"missing parameter: ${e.getMessage}"}""")
      case e: IllegalArgumentException => // caller error (bad id/version/state), not a server fault
        respond(ex, 400, JsonMethods.compact(JsonMethods.render(
          JObject("error" -> JString(String.valueOf(e.getMessage))))))
      case e @ (_: org.json4s.ParserUtil.ParseException |
                _: com.fasterxml.jackson.core.JacksonException) => // malformed request JSON
        respond(ex, 400, JsonMethods.compact(JsonMethods.render(
          JObject("error" -> JString("malformed JSON body: " + String.valueOf(e.getMessage))))))
      case e: Exception =>
        respond(ex, 500, JsonMethods.compact(JsonMethods.render(
          JObject("error" -> JString(String.valueOf(e.getMessage))))))
    }
  }

  /** [[handler]] variant for state-changing routes: any method but POST
    * is answered 405 before the route body runs. The [[sameOrigin]] CSRF
    * guard only ever sees browser provenance headers on non-GET requests
    * — a cross-site `<img>`/`<a>` GET carries NO `Origin` header at all —
    * so a mutator reachable via GET would bypass the guard entirely
    * (e.g. `<img src=".../governance/review-draft?...&approve=true">`
    * approving a draft from a foreign page). Requiring POST closes that
    * hole and matches the documented route contracts ("POST
    * /governance/review-draft", "POST /products/review"). */
  private def mutator(f: (HttpExchange, Map[String, String]) => Unit)
      : com.sun.net.httpserver.HttpHandler = handler { (ex, p) =>
    if (ex.getRequestMethod != "POST") {
      ex.getResponseHeaders.set("Allow", "POST")
      respond(ex, 405,
        """{"error":"method not allowed: state-changing route requires POST"}""")
    } else f(ex, p)
  }

  /** Bind and start; returns the bound port (an ephemeral one for
    * `port = 0`, the spec-friendly default). */
  def start(): Int = synchronized {
    require(server.isEmpty, "server already started")
    val s = HttpServer.create(new InetSocketAddress(host, port), 0)

    s.createContext("/health", handler((ex, _) => respond(ex, 200, """{"ok":true}""")))

    s.createContext("/contracts/versions", handler { (ex, p) =>
      respond(ex, 200, jsonIds("versions", contracts.listVersions(p("id"))))
    })
    s.createContext("/contracts/get", handler { (ex, p) =>
      contracts.get(p("id"), p("version")) match {
        case Some(c) => respond(ex, 200, ContractJson.toJson(c))
        case None => respond(ex, 404, """{"error":"not found"}""")
      }
    })
    s.createContext("/contracts/latest", handler { (ex, p) =>
      contracts.latest(p("id")) match {
        case Some(c) => respond(ex, 200, ContractJson.toJson(c))
        case None => respond(ex, 404, """{"error":"not found"}""")
      }
    })
    s.createContext("/contracts/put", mutator { (ex, _) =>
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      contracts.put(ContractJson.fromJson(body))
      respond(ex, 204, "")
    })
    s.createContext("/contracts", handler { (ex, _) =>
      // prefix-match guard: an unregistered /contracts/* subpath must
      // 404, not answer with the id listing (see the /products twin)
      val path = ex.getRequestURI.getPath
      if (path != "/contracts" && path != "/contracts/")
        respond(ex, 404, """{"error":"not found"}""")
      else respond(ex, 200, jsonIds("ids", contracts.listContractIds()))
    })

    // ---- observation-payload decode helpers (shared by the dq and
    // governance evaluate routes): the pipeline ships its one-pass
    // metrics + schema snapshot; the data never crosses the wire
    def jsonBody(ex: HttpExchange): Map[String, JValue] =
      JsonMethods.parse(
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)) match {
        case JObject(fs) => fs.toMap
        case _ => throw new IllegalArgumentException("body must be a JSON object")
      }
    def decodeContract(fields: Map[String, JValue]): graft.contracts.Contract =
      ContractJson.fromJson(JsonMethods.compact(JsonMethods.render(
        fields.getOrElse("contract",
          throw new IllegalArgumentException("missing 'contract'")))))
    def decodeSchema(fields: Map[String, JValue]): Map[String, graft.quality.FieldSnapshot] =
      fields.get("schema") match {
        case Some(JObject(cols)) => cols.toMap.map {
          case (name, JObject(attrs)) =>
            val a = attrs.toMap
            def str(k: String) = a.get(k).collect { case JString(s) => s }
            name -> graft.quality.FieldSnapshot(
              backendType = str("backendType").getOrElse(""),
              odcsType = str("odcsType").getOrElse(
                throw new IllegalArgumentException(s"schema.$name needs odcsType")),
              nullable = a.get("nullable").collect { case JBool(b) => b }.getOrElse(true))
          case (name, _) => throw new IllegalArgumentException(
            s"schema.$name must be an object")
        }
        case Some(_) => throw new IllegalArgumentException("'schema' must be an object")
        case None => Map.empty
      }
    def decodeMetrics(fields: Map[String, JValue]): Map[String, Any] =
      fields.get("metrics") match {
        case Some(JObject(ms)) => ms.toMap.map {
          case (k, JInt(v)) => k -> (v.longValue: Any)
          case (k, JLong(v)) => k -> (v: Any)
          case (k, JDouble(v)) => k -> (v: Any)
          case (k, JDecimal(v)) => k -> (v.toDouble: Any)
          case (k, JString(v)) => k -> (v: Any)
          // string arrays are the observed-enum lists
          // (`Metrics.computeWithObservations` -> `observed.enum_<f>`),
          // which the drafting enum-extension path reads as Seq[String]
          case (k, JArray(vs)) if vs.forall(_.isInstanceOf[JString]) =>
            k -> (vs.collect { case JString(v) => v }: Any)
          // object values are EXTERNAL run summaries (a Great
          // Expectations / Soda result riding the payload under its
          // engine's metrics key — reference engines.py:128-133); the
          // metrics-driven engines read them as nested maps. The NATIVE
          // namespace stays scalar-only: an object under violations.* /
          // observed.* / row_count is a malformed count, and letting it
          // through would evaluate as a warn-grade "unexpected metric
          // type" — a soft verdict for a payload that actually reported
          // violations (the exact failure the reject-instead comment
          // below exists for)
          case (k, JObject(inner))
              if !k.startsWith("violations.") && !k.startsWith("observed.") &&
                k != "row_count" =>
            k -> (plainValue(JObject(inner)): Any)
          // dropping an unsupported value silently would evaluate as if
          // the observation was never shipped — a green verdict for a
          // payload that actually reported a violation; reject instead
          case (k, other) => throw new IllegalArgumentException(
            s"metrics.$k: unsupported value type ${other.getClass.getSimpleName} " +
              "(number, string, string array, or summary object)")
        }
        case Some(_) => throw new IllegalArgumentException("'metrics' must be an object")
        case None => Map.empty
      }
    def plainValue(v: JValue): Any = v match {
      case JString(s) => s
      case JBool(b) => b
      case JInt(i) => i.longValue
      case JLong(l) => l
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case JArray(xs) => xs.map(plainValue)
      case JObject(fs) => fs.map { case (k, x) => k -> plainValue(x) }.toMap
      case _ => null
    }

    s.createContext("/data-quality/evaluate", handler { (ex, _) =>
      val fields = jsonBody(ex)
      // per-contract engine resolution (manager.py:90-96): native unless
      // the contract names an external engine, whose run summary rides
      // the metrics as a nested object
      val res = dqManager.evaluate(decodeContract(fields),
        graft.quality.ObservationPayload(
          decodeMetrics(fields), decodeSchema(fields)))
      respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(List(
        "ok" -> (JBool(res.ok): JValue),
        "status" -> (JString(res.recordStatus): JValue),
        "errors" -> (JArray(res.errors.toList.map(JString(_))): JValue),
        "warnings" -> (JArray(res.warnings.toList.map(JString(_))): JValue)) ++
        res.reason.map(r => "reason" -> (JString(r): JValue)).toList))))
    })
    s.createContext("/data-quality/expectations", handler { (ex, _) =>
      val body = JsonMethods.parse(
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      val contractJson = body match {
        case JObject(fs) => fs.toMap.getOrElse("contract",
          throw new IllegalArgumentException("missing 'contract'"))
        case _ => throw new IllegalArgumentException("body must be a JSON object")
      }
      val contract = ContractJson.fromJson(
        JsonMethods.compact(JsonMethods.render(contractJson)))
      val specs = graft.quality.Expectations.fromContract(contract)
      respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
        "expectations" -> JArray(specs.toList.map { sp =>
          JObject(
            "key" -> JString(sp.key),
            "rule" -> JString(sp.rule),
            "column" -> sp.column.map(c => JString(c): JValue).getOrElse(JNull),
            "optional" -> JBool(sp.optional),
            "predicate" -> graft.quality.Expectations.sqlPredicate(sp)
              .map(p => JString(p): JValue).getOrElse(JNull))
        })))))
    })

    s.createContext("/governance/status", handler { (ex, p) =>
      gov.getStatus(p("dataset"), p("version")) match {
        case Some(st) => respond(ex, 200, JsonMethods.compact(JsonMethods.render(statusJson(st))))
        case None => respond(ex, 404, """{"error":"not found"}""")
      }
    })
    s.createContext("/governance/datasets", handler { (ex, _) =>
      respond(ex, 200, jsonIds("ids", gov.listDatasets()))
    })
    s.createContext("/governance/link", handler { (ex, p) =>
      if (ex.getRequestMethod == "POST") {
        gov.linkDatasetContract(p("dataset"), p("contractId"), p("contractVersion"),
          datasetVersion = p.getOrElse("datasetVersion", ""))
        respond(ex, 204, "")
      } else gov.linkedContract(p("dataset")) match {
        case Some((c, v)) => respond(ex, 200, JsonMethods.compact(JsonMethods.render(
          JObject("contractId" -> JString(c), "contractVersion" -> JString(v)))))
        case None => respond(ex, 404, """{"error":"not found"}""")
      }
    })
    // the full remote governance round trip (the reference's
    // `/governance/evaluate` shape): observations in → verdict evaluated,
    // RECORDED against the (dataset, version), and a draft contract
    // proposed from the feedback when the outcome warrants one — all
    // from one request, no data movement
    s.createContext("/governance/evaluate", mutator { (ex, p) =>
      val fields = jsonBody(ex)
      val eval = gov.evaluateAndRecord(p("dataset"), p("version"),
        decodeContract(fields), decodeSchema(fields), decodeMetrics(fields))
      respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
        "status" -> statusJson(eval.status),
        "ok" -> JBool(eval.ok),
        "draftVersions" -> JArray(eval.draftVersions.toList.map(JString(_)))))))
    })
    s.createContext("/governance/drafts", handler { (ex, p) =>
      respond(ex, 200, jsonIds("versions",
        gov.listDrafts(p("contractId")).map(_.version)))
    })
    s.createContext("/governance/review-draft", mutator { (ex, p) =>
      val reviewed = gov.reviewDraft(p("contractId"), p("version"),
        p("approve").toBoolean)
      respond(ex, 200, ContractJson.toJson(reviewed))
    })
    // plan RESOLUTION route symmetry (reference server.py:389-420
    // `/governance/read/resolve` + `/governance/write/resolve`): a
    // context names a contract (contractId + optional version/selector)
    // OR a data-product port binding (product + port), and the resolved
    // PLAN comes back: the concrete contract + the dataset/contract ids
    // a governed read/write will run under. Resolution runs the SAME
    // code the in-process pipeline runs so transports cannot drift:
    // GovernedIO.resolveContract for contract references, and on the
    // read side ProductPolicy.select + findInputPort (GovernedIO
    // .readPort's revision/port resolution — an unreviewed-draft latest
    // revision is skipped under the same status policy), falling back
    // to the product's OUTPUT port for source-binding reads; the write
    // side binds to the product's output port (writePort's shape).
    def resolvePlan(read: Boolean)(ex: HttpExchange, p: Map[String, String]): Unit = {
      val resolved = (p.get("product"), p.get("port")) match {
        case (Some(prod), Some(port)) =>
          val pb = products.getOrElse(throw new IllegalArgumentException(
            "no data-product service attached — bind by contractId instead"))
          val (cid, cver) =
            if (read) {
              val product = graft.products.ProductPolicy.select(
                pb, prod, p.get("productVersion"), operation = "read")
                .getOrElse(throw new IllegalArgumentException(
                  s"no revision of data product $prod is readable"))
              product.findInputPort(port)
                .map(ip => (ip.contractId, ip.version))
                .orElse(product.findOutputPort(port)
                  .map(op => (op.contractId, op.version)))
                .getOrElse(throw new IllegalArgumentException(
                  s"data product $prod has no port '$port'"))
            } else pb.resolveOutputContract(prod, port)
              .getOrElse(throw new IllegalArgumentException(
                s"data product $prod has no output port '$port'"))
          // a port binding is an exact pin (the port names the version)
          graft.io.GovernedIO.resolveContract(contracts, cid,
            Some(cver).filter(_.nonEmpty))
        case (None, None) =>
          graft.io.GovernedIO.resolveContract(contracts, p("contractId"),
            p.get("version"))
        case _ => throw new IllegalArgumentException(
          "product and port must be supplied together (or bind by contractId)")
      }
      // dataset/datasetVersion are the caller's CONTEXT assertion (the
      // reference's context semantics — the pipeline names the physical
      // dataset it will bind the plan to), but an assertion the
      // governance store can check, it must check: when the named
      // dataset carries a recorded contract link, a plan under a
      // DIFFERENT contract id is a mis-binding, answered 400 rather
      // than echoed back as an authoritative-looking plan. Unlinked
      // datasets pass through caller-asserted (first-run pipelines
      // resolve before any link exists).
      p.get("dataset").foreach { ds =>
        gov.linkedContract(ds).foreach { case (linkedId, _) =>
          if (linkedId != resolved.id) throw new IllegalArgumentException(
            s"dataset '$ds' is linked to contract '$linkedId', not '${resolved.id}' — " +
              "resolve under the linked contract or relink the dataset")
        }
      }
      respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
        "contractId" -> JString(resolved.id),
        "contractVersion" -> JString(resolved.version),
        "datasetId" -> JString(p.getOrElse("dataset", resolved.id)),
        "datasetVersion" -> JString(p.getOrElse("datasetVersion", resolved.version)),
        "contract" -> JsonMethods.parse(ContractJson.toJson(resolved))))))
    }
    s.createContext("/governance/read/resolve", handler(resolvePlan(read = true)))
    s.createContext("/governance/write/resolve", handler(resolvePlan(read = false)))
    // draft EDITING (reference contracts-app draft workspace): body is
    // the edited ODCS JSON; id/version/status are pinned server-side —
    // see GovernanceService.updateDraft
    s.createContext("/governance/update-draft", mutator { (ex, p) =>
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val stored = gov.updateDraft(p("contractId"), p("version"),
        ContractJson.fromJson(body))
      respond(ex, 200, ContractJson.toJson(stored))
    })
    s.createContext("/governance/status-matrix", handler { (ex, _) =>
      respond(ex, 200, JsonMethods.compact(JsonMethods.render(
        JArray(gov.statusMatrix().toList.map(statusJson)))))
    })
    s.createContext("/governance/dataset-records", handler { (ex, p) =>
      val recs = gov.datasetRecords(p.get("dataset"), p.get("version"))
      respond(ex, 200, JsonMethods.compact(JsonMethods.render(
        JArray(recs.toList.map { r =>
          JObject(
            "datasetId" -> JString(r.datasetId),
            "datasetVersion" -> JString(r.datasetVersion),
            "contractId" -> JString(r.contractId),
            "contractVersion" -> JString(r.contractVersion),
            "status" -> r.status.map(statusJson).getOrElse(JNull: JValue),
            "activityCount" -> JInt(r.activity.size),
            "lastSeenAt" -> JLong(r.lastSeenAt))
        }))))
    })
    s.createContext("/governance/metrics", handler { (ex, p) =>
      val obs = gov.metricHistory(p("dataset"))
      respond(ex, 200, JsonMethods.compact(JsonMethods.render(
        JArray(obs.toList.map { o =>
          JObject(
            "datasetId" -> JString(o.datasetId),
            "datasetVersion" -> JString(o.datasetVersion),
            "key" -> JString(o.key),
            "valueText" -> JString(o.valueText),
            "valueNumeric" -> o.valueNumeric.map(v => JDouble(v): JValue).getOrElse(JNull),
            "recordedAt" -> JLong(o.recordedAt))
        }))))
    })
    s.createContext("/governance/activity", handler { (ex, p) =>
      val acts = gov.pipelineActivity(p("dataset"), p.get("version"))
      respond(ex, 200, JsonMethods.compact(JsonMethods.render(
        JArray(acts.toList.map { case (a, st) =>
          JObject(
            "pipeline" -> JString(a.pipeline),
            "operation" -> JString(a.operation),
            "datasetId" -> JString(a.datasetId),
            "datasetVersion" -> JString(a.datasetVersion),
            "contractId" -> JString(a.contractId),
            "contractVersion" -> JString(a.contractVersion),
            "recordedAt" -> JLong(a.recordedAt),
            "status" -> st.map(statusJson).getOrElse(JNull: JValue))
        }))))
    })

    products.foreach { pb =>
      import graft.products.DataProductJson
      def body(ex: HttpExchange): String =
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      s.createContext("/products/versions", handler { (ex, p) =>
        respond(ex, 200, jsonIds("versions", pb.listVersions(p("id"))))
      })
      s.createContext("/products/get", handler { (ex, p) =>
        pb.get(p("id"), p("version")) match {
          case Some(d) => respond(ex, 200, DataProductJson.toJson(d))
          case None => respond(ex, 404, """{"error":"not found"}""")
        }
      })
      s.createContext("/products/latest", handler { (ex, p) =>
        pb.latest(p("id")) match {
          case Some(d) => respond(ex, 200, DataProductJson.toJson(d))
          case None => respond(ex, 404, """{"error":"not found"}""")
        }
      })
      s.createContext("/products/put", mutator { (ex, _) =>
        pb.put(DataProductJson.fromJson(body(ex)))
        respond(ex, 204, "")
      })
      def registrationJson(r: graft.products.RegistrationResult): String =
        JsonMethods.compact(JsonMethods.render(JObject(
          "changed" -> JBool(r.changed),
          "product" -> DataProductJson.toJValue(r.product))))
      // register bodies come in two shapes: a BARE port document, or the
      // wrapped `{"port": {...}, "customProperties": {k: v}}` form the
      // remote client sends — the wrapper is what lets extra properties
      // merge SERVER-side, after the no-op comparison on the bare port
      // (merging them into the port client-side would change that
      // comparison and flip no-op/redraft outcomes vs the local backend)
      def portBody(ex: HttpExchange): (JValue, Map[String, String]) =
        JsonMethods.parse(body(ex)) match {
          // the wrapper is recognised only when `port` holds an OBJECT:
          // a BARE port document may legitimately carry an unknown extra
          // attribute named "port" (scalar — e.g. a port number), and the
          // extra-passthrough design must keep accepting it verbatim
          case JObject(fs) if fs.toMap.get("port").exists(_.isInstanceOf[JObject]) =>
            val m = fs.toMap
            val props = m.get("customProperties") match {
              case Some(JObject(kvs)) =>
                kvs.toMap.collect { case (k, JString(v)) => k -> v }
              case _ => Map.empty[String, String]
            }
            (m("port"), props)
          case other => (other, Map.empty)
        }
      s.createContext("/products/register-input", mutator { (ex, p) =>
        val (portJson, props) = portBody(ex)
        val r = pb.registerInputPort(p("id"),
          DataProductJson.inputPortFromJValue(portJson),
          bump = p.getOrElse("bump", "minor"),
          customProperties = props,
          sourceDataProduct = p.get("sourceDataProduct"),
          sourceOutputPort = p.get("sourceOutputPort"))
        respond(ex, 200, registrationJson(r))
      })
      s.createContext("/products/register-output", mutator { (ex, p) =>
        val (portJson, props) = portBody(ex)
        val r = pb.registerOutputPort(p("id"),
          DataProductJson.outputPortFromJValue(portJson),
          bump = p.getOrElse("bump", "minor"),
          customProperties = props)
        respond(ex, 200, registrationJson(r))
      })
      s.createContext("/products/review", mutator { (ex, p) =>
        val reviewed = pb.reviewDraft(p("id"), p("version"), p("approve").toBoolean)
        respond(ex, 200, DataProductJson.toJson(reviewed))
      })
      s.createContext("/products/resolve-output", handler { (ex, p) =>
        pb.resolveOutputContract(p("id"), p("port")) match {
          case Some((cid, cv)) => respond(ex, 200,
            JsonMethods.compact(JsonMethods.render(JObject(
              "contractId" -> JString(cid), "contractVersion" -> JString(cv)))))
          case None => respond(ex, 404, """{"error":"not found"}""")
        }
      })
      s.createContext("/products", handler { (ex, p) =>
        // JDK HttpServer contexts are PREFIX matches: any /products/*
        // subpath with no specific context lands here — a typo'd or
        // unsupported route must 404, not echo a 200 listing that a
        // client would read as its operation succeeding
        val path = ex.getRequestURI.getPath
        if (path != "/products" && path != "/products/")
          respond(ex, 404, """{"error":"not found"}""")
        else {
          val listing = pb.listDataProducts(
            limit = p.get("limit").map(_.toInt), offset = p.get("offset").fold(0)(_.toInt))
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
            "items" -> JArray(listing.items.toList.map(JString(_))),
            "total" -> JInt(listing.total),
            "limit" -> listing.limit.map(l => JInt(l): JValue).getOrElse(JNull),
            "offset" -> JInt(listing.offset)))))
        }
      })
    }

    val ui = new WebUi(contracts, gov, products)
    s.createContext("/ui", handler { (ex, p) =>
      val path = ex.getRequestURI.getPath.stripSuffix("/")
      // the two UI mutations are form POSTs (x-www-form-urlencoded);
      // both delegate to the same GovernanceService methods as the JSON
      // routes (transports must not drift) and 303-redirect back to the
      // browse pages — the standard post/redirect/get shape
      if (ex.getRequestMethod == "POST" && path == "/ui/draft-edit") {
        val form = formBody(ex)
        gov.updateDraft(p("id"), p("version"),
          ContractJson.fromJson(form("json")))
        redirect(ex,
          s"/ui/draft-edit?id=${urlEnc(p("id"))}&version=${urlEnc(p("version"))}")
      } else if (ex.getRequestMethod == "POST" && path == "/ui/draft-review") {
        gov.reviewDraft(p("id"), p("version"), p("approve").toBoolean)
        redirect(ex, "/ui/drafts")
      } else if (ex.getRequestMethod == "POST" && path == "/ui/edit-contract") {
        // edit-as-new-version (reference POST /contracts/{cid}/{ver}/edit):
        // same error-round-trip shape as the create forms
        val submitted = formBody(ex)("json")
        ui.editContract(p("id"), p("version"), submitted) match {
          case Right(c) => redirect(ex,
            s"/ui/contract?id=${urlEnc(c.id)}&version=${urlEnc(c.version)}")
          case Left(err) =>
            ui.editContractPage(p("id"), p("version"), Some(submitted), Some(err)) match {
              case None => respond(ex, 404, """{"error":"not found"}""")
              case Some(h) => respondHtml(ex, h)
            }
        }
      } else if (ex.getRequestMethod == "POST" && path == "/ui/edit-product") {
        // product edit-as-new-version (reference
        // POST /data-products/{id}/{version}/edit): the contract-edit
        // error-round-trip shape over the product service
        val submitted = formBody(ex)("json")
        ui.editProduct(p("id"), p("version"), submitted) match {
          case Right(pr) => redirect(ex, s"/ui/product?id=${urlEnc(pr.id)}")
          case Left(err) =>
            ui.editProductPage(p("id"), p("version"), Some(submitted), Some(err)) match {
              case None => respond(ex, 404, """{"error":"not found"}""")
              case Some(h) => respondHtml(ex, h)
            }
        }
      } else if (ex.getRequestMethod == "POST" && path == "/ui/setup") {
        // wizard review (reference POST /setup): selections are
        // stateless — errors re-render the form with the operator's
        // values, success renders the review page with the export link
        val form = formBody(ex)
        ui.setupReview(form) match {
          case Right(html) => respondHtml(ex, html)
          case Left(err) => respondHtml(ex, ui.setupPage(form, Some(err)))
        }
      } else if (ex.getRequestMethod == "POST" && path == "/ui/setup/export") {
        // the bundle zip (reference GET /setup/export streams the same;
        // POST here so the optional API token travels in the body, not
        // a loggable URL)
        ui.setupExport(formBody(ex)) match {
          case Right(bytes) =>
            ex.getResponseHeaders.set("Content-Type", "application/zip")
            ex.getResponseHeaders.set("Content-Disposition",
              "attachment; filename=\"graft-setup-bundle.zip\"")
            ex.sendResponseHeaders(200, bytes.length)
            ex.getResponseBody.write(bytes)
            ex.close()
          case Left(err) =>
            respond(ex, 422, JsonMethods.compact(JsonMethods.render(
              JObject("error" -> JString(err)))))
        }
      } else if (ex.getRequestMethod == "POST" &&
          (path == "/ui/new-contract" || path == "/ui/new-product")) {
        // authoring create flows (reference POST /contracts/new and
        // /data-products/new): validation errors re-render the form WITH
        // the submitted text so a typo never loses the operator's
        // editing; success 303s to the detail page it just created
        val submitted = formBody(ex)("json")
        val outcome =
          if (path == "/ui/new-contract")
            ui.createContract(submitted).map(c =>
              s"/ui/contract?id=${urlEnc(c.id)}&version=${urlEnc(c.version)}")
          else ui.createProduct(submitted).map(pr =>
            s"/ui/product?id=${urlEnc(pr.id)}")
        outcome match {
          case Right(location) => redirect(ex, location)
          case Left(err) =>
            // no product service = the resource does not exist: 404 like
            // the GET route (not a 200 error re-render — scripts read
            // the status)
            val html =
              if (path == "/ui/new-contract")
                Some(ui.newContractPage(Some(submitted), Some(err)))
              else ui.newProductPage(Some(submitted), Some(err))
            html match {
              case None => respond(ex, 404, """{"error":"not found"}""")
              case Some(h) => respondHtml(ex, h)
            }
        }
      } else ui.render(ex.getRequestURI.getPath, p) match {
        case Some(html) => respondHtml(ex, html)
        case None => respond(ex, 404, """{"error":"not found"}""")
      }
    })

    // small fixed pool: a metadata facade, not a data plane. Its threads
    // are non-daemon, so stop() must shut it down or they outlive the
    // server and keep the JVM alive.
    val workers = Executors.newFixedThreadPool(4, r => new Thread(r, "graft-http-worker"))
    s.setExecutor(workers)
    s.start()
    server = Some(s)
    pool = Some(workers)
    s.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    server.foreach(_.stop(0))
    server = None
    pool.foreach { p => p.shutdown(); p.awaitTermination(5, TimeUnit.SECONDS) }
    pool = None
  }
}
