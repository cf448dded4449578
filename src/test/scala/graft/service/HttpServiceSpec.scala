package graft.service

import graft.{DemoContracts, SparkSpec}
import graft.contracts.FsContractStore
import graft.governance.GovernanceBackend

import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI

/** Server + remote client over a real localhost socket — the reference's
  * service deployment mode (`server.py` + `remote.py`) exercised
  * end-to-end: remote puts land in the backing store, reads round-trip
  * ODCS JSON bit-for-bit, raw ids with `/` and `:` survive the wire, and
  * governance verdicts recorded in-process are readable over HTTP. */
class HttpServiceSpec extends SparkSpec {

  private def withServer[A](f: (String, FsContractStore, GovernanceBackend) => A): A = {
    val root = tmpDir("graft_http")
    val store = new FsContractStore(s"$root/contracts")
    val gov = new GovernanceBackend(s"$root/governance", Some(store))
    val server = new GovernanceHttpServer(store, gov)
    val port = server.start()
    try f(s"http://127.0.0.1:$port", store, gov)
    finally server.stop()
  }

  private def getJson(url: String): (Int, String) = {
    val r = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("stop() shuts the request pool down: start/stop cycles leave no worker threads") {
    def live = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && t.getName == "graft-http-worker").toSet
    val before = live // another suite's still-running server, if any
    def workers = (live -- before).size
    val root = tmpDir("graft_http_cycle")
    val store = new FsContractStore(s"$root/contracts")
    val server = new GovernanceHttpServer(store, new GovernanceBackend(s"$root/governance", Some(store)))
    for (_ <- 1 to 3) {
      val port = server.start()
      assert(getJson(s"http://127.0.0.1:$port/health")._1 == 200) // spawns a worker
      assert(workers > 0)
      server.stop()
    }
    // a worker can still be unwinding right after the pool terminates
    val deadline = System.nanoTime() + 5000000000L
    while (workers > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    assert(workers == 0, "stop() left request-pool threads alive")
  }

  test("remote contract store round-trips puts, gets, listings and latest") {
    withServer { (url, store, _) =>
      val remote = new HttpContractStore(url)
      assert(remote.listContractIds().isEmpty)
      assert(remote.get("sales.lineitem", "1.2.0").isEmpty) // 404 -> None

      remote.put(DemoContracts.lineitem)
      // the remote put landed in the server's backing store
      assert(store.get(DemoContracts.lineitem.id, DemoContracts.lineitem.version).nonEmpty)

      val back = remote.get(DemoContracts.lineitem.id, DemoContracts.lineitem.version).get
      assert(graft.contracts.ContractJson.toJson(back) ==
        graft.contracts.ContractJson.toJson(DemoContracts.lineitem))
      assert(remote.listVersions(DemoContracts.lineitem.id) ==
        Seq(DemoContracts.lineitem.version))
      assert(remote.listContractIds() == Seq(DemoContracts.lineitem.id))

      // latest resolves released-over-prerelease (same core) on the SERVER
      remote.put(DemoContracts.lineitem.copy(
        version = DemoContracts.lineitem.version + "-draft"))
      assert(remote.latest(DemoContracts.lineitem.id).get.version ==
        DemoContracts.lineitem.version)
    }
  }

  test("raw ids with separators survive the wire as query parameters") {
    // exact-keyed JDBC backing, so any collision would have to come from
    // the WIRE (the filesystem store would collide these in the backing
    // store itself, hiding a transport bug)
    val root = tmpDir("graft_http_db")
    val store = new graft.contracts.JdbcContractStore(s"jdbc:derby:$root/db;create=true")
    val gov = new GovernanceBackend(s"$root/governance", Some(store))
    val server = new GovernanceHttpServer(store, gov)
    val port = server.start()
    try {
      val remote = new HttpContractStore(s"http://127.0.0.1:$port")
      val weird = DemoContracts.lineitem.copy(id = "team a/sales:lineitem")
      remote.put(weird)
      assert(remote.get("team a/sales:lineitem", weird.version).map(_.id).contains(weird.id))
      assert(remote.listVersions("team a/sales:lineitem") == Seq(weird.version))
      // the sanitised-colliding sibling id stays distinct over the wire
      assert(remote.get("team a/sales_lineitem", weird.version).isEmpty)
    } finally server.stop()
  }

  test("governance verdicts, links and activity are readable over HTTP") {
    withServer { (url, _, gov) =>
      val c = DemoContracts.lineitemAlign
      val vr = graft.quality.ValidationResult(ok = false, Seq("boom"), Nil,
        Map("row_count" -> 5L), Map.empty)
      gov.recordValidation("sales.d/1", "v1", c, vr, proposeDraftOnFeedback = false)
      gov.linkDatasetContract("sales.d/1", c.id, c.version)
      gov.recordActivity("pipe", "write", "sales.d/1", "v1", c)

      val (sc, body) = getJson(
        s"$url/governance/status?dataset=sales.d%2F1&version=v1")
      assert(sc == 200 && body.contains("\"status\":\"block\"") && body.contains("boom"))

      assert(getJson(s"$url/governance/datasets")._2.contains("sales.d/1"))

      val (lc, link) = getJson(s"$url/governance/link?dataset=sales.d%2F1")
      assert(lc == 200 && link.contains(c.id))

      val (ac, acts) = getJson(s"$url/governance/activity?dataset=sales.d%2F1")
      assert(ac == 200 && acts.contains("\"pipeline\":\"pipe\"")
        && acts.contains("\"status\":\"block\"")) // activity joined to verdict

      // missing parameter is a clean 400, not a server fault
      assert(getJson(s"$url/governance/status?dataset=x")._1 == 400)
      // absent verdict is a domain 404
      assert(getJson(s"$url/governance/status?dataset=nope&version=v9")._1 == 404)
    }
  }

  private def post(url: String, body: String): (Int, String) = {
    val r = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("cross-origin POSTs are rejected (CSRF guard); same-origin and non-browser pass") {
    withServer { (url, store, _) =>
      val host = url.stripPrefix("http://")
      def postWith(path: String, body: String, headers: Seq[(String, String)]): Int = {
        val b = HttpRequest.newBuilder(URI.create(s"$url$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
        headers.foreach { case (k, v) => b.header(k, v) }
        HttpClient.newHttpClient()
          .send(b.build(), HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      val odcs = graft.contracts.ContractJson.toJson(DemoContracts.lineitem)
      // a browser pivot: an external page form-POSTs into the facade —
      // the browser stamps ITS origin, and the facade must refuse even
      // though no auth is configured (the only mode a browser can use)
      assert(postWith("/contracts/put", odcs,
        Seq("Origin" -> "http://evil.example")) == 403)
      assert(store.listContractIds().isEmpty, "a rejected POST must not mutate")
      // Referer is the fallback provenance signal (older form posts)
      assert(postWith("/contracts/put", odcs,
        Seq("Referer" -> "http://evil.example/attack.html")) == 403)
      // `Origin: null` (sandboxed iframe / file://) is foreign
      assert(postWith("/contracts/put", odcs, Seq("Origin" -> "null")) == 403)
      // the facade's OWN pages posting back to it pass
      assert(postWith("/contracts/put", odcs,
        Seq("Origin" -> s"http://$host")) == 204)
      // non-browser pipeline clients send neither header: untouched
      assert(postWith("/contracts/put", odcs, Seq.empty) == 204)
      // GETs are never blocked (no state change; foreign reads are CORS'
      // domain, not CSRF's)
      val r = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"$url/contracts"))
          .header("Origin", "http://evil.example").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
    }
  }

  test("state-changing routes refuse non-POST (405): a cross-site GET cannot mutate") {
    // the CSRF guard never sees a provenance header on a cross-site
    // <img>/<a> GET (browsers attach Origin only to non-GET requests), so
    // a mutator reachable via GET would bypass it entirely — the server
    // must 405 the method before the route body runs
    val root = tmpDir("graft_http_405")
    val store = new FsContractStore(s"$root/contracts")
    val gov = new GovernanceBackend(s"$root/governance", Some(store))
    val pb = new graft.products.DataProductBackend(s"$root/products")
    val server = new GovernanceHttpServer(store, gov, products = Some(pb))
    val port = server.start()
    val url = s"http://127.0.0.1:$port"
    try {
      // seed a draft so an approve-by-GET would have something to approve
      val draft = DemoContracts.lineitem.copy(version = "1.3.0-draft")
      store.put(draft)
      val (sc, body) = getJson(s"$url/governance/review-draft" +
        s"?contractId=${DemoContracts.lineitem.id}&version=1.3.0-draft&approve=true")
      assert(sc == 405 && body.contains("requires POST"), s"$sc $body")
      // the draft is untouched: not promoted, still listed as a draft
      assert(store.get(draft.id, "1.3.0-draft").nonEmpty)
      assert(store.get(draft.id, "1.3.0").isEmpty, "GET must not approve")

      val (pc, _) = post(s"$url/products/register-output?id=dp.g",
        """{"name":"gold","version":"1.0.0","contractId":"sales.orders"}""")
      assert(pc == 200)
      assert(getJson(s"$url/products/review?id=dp.g&version=0.1.0-draft&approve=true")._1 == 405)
      assert(getJson(s"$url/products/get?id=dp.g&version=0.1.0-draft")._1 == 200,
        "GET review must not consume/promote the draft")

      // body-carrying mutators refuse GET too
      for (path <- Seq("/contracts/put", "/governance/update-draft?contractId=x&version=y",
          "/governance/evaluate?dataset=d&version=v", "/products/put",
          "/products/register-input?id=dp.g", "/products/register-output?id=dp.g"))
        assert(getJson(s"$url$path")._1 == 405, path)
      // read routes still answer GET
      assert(getJson(s"$url/contracts")._1 == 200)
      assert(getJson(s"$url/governance/link?dataset=none")._1 == 404) // read side of link
    } finally server.stop()
  }

  test("data-product family served over HTTP: register, review, resolve, page") {
    val root = tmpDir("graft_http_products")
    val store = new FsContractStore(s"$root/contracts")
    val gov = new GovernanceBackend(s"$root/governance", Some(store))
    val pb = new graft.products.DataProductBackend(s"$root/products")
    val server = new GovernanceHttpServer(store, gov, products = Some(pb))
    val port = server.start()
    val url = s"http://127.0.0.1:$port"
    try {
      // empty listing has the paging envelope
      val (lc0, empty) = getJson(s"$url/products")
      assert(lc0 == 200 && empty.contains("\"items\":[]") && empty.contains("\"total\":0"))

      // register an output port -> fresh draft revision over the wire
      val (rc, reg) = post(s"$url/products/register-output?id=dp.sales",
        """{"name":"gold","version":"1.0.0","contractId":"sales.orders"}""")
      assert(rc == 200 && reg.contains("\"changed\":true")
        && reg.contains("\"version\":\"0.1.0-draft\""), reg)
      // identical re-registration is a no-op
      assert(post(s"$url/products/register-output?id=dp.sales",
        """{"name":"gold","version":"1.0.0","contractId":"sales.orders"}""")
        ._2.contains("\"changed\":false"))

      // input port with provenance properties
      val (ic, inReg) = post(
        s"$url/products/register-input?id=dp.sales&sourceDataProduct=dp.raw&sourceOutputPort=bronze",
        """{"name":"orders-in","version":"2.0.0","contractId":"sales.orders"}""")
      assert(ic == 200 && inReg.contains("dc43.input.source_data_product")
        && inReg.contains("\"changed\":true"), inReg)

      // review the latest draft to active; reviewing it again is a clean 400
      val version = pb.latest("dp.sales").get.version.get
      val (vc, reviewed) = post(s"$url/products/review?id=dp.sales&version=$version&approve=true", "")
      // get/latest/review bodies are pretty-printed ODPS — normalise before matching
      assert(vc == 200 && reviewed.replaceAll("\\s", "").contains("\"status\":\"active\""), reviewed)
      assert(post(s"$url/products/review?id=dp.sales&version=$version&approve=true", "")._1 == 400)

      // resolve-output and the listing/get/latest/versions family
      val (oc, resolved) = getJson(s"$url/products/resolve-output?id=dp.sales&port=gold")
      assert(oc == 200 && resolved.contains("\"contractId\":\"sales.orders\""))
      assert(getJson(s"$url/products/resolve-output?id=dp.sales&port=nope")._1 == 404)
      assert(getJson(s"$url/products/latest?id=dp.sales")._1 == 200)
      assert(getJson(s"$url/products/get?id=dp.sales&version=$version")._1 == 200)
      assert(getJson(s"$url/products/get?id=dp.sales&version=9.9.9")._1 == 404)
      assert(getJson(s"$url/products/versions?id=dp.sales")._2.contains(version))
      val (pc, page) = getJson(s"$url/products?limit=1&offset=0")
      assert(pc == 200 && page.contains("\"items\":[\"dp.sales\"]")
        && page.contains("\"total\":1") && page.contains("\"limit\":1"))

      // full ODPS document round-trip through put + get
      val doc = pb.latest("dp.sales").get
      post(s"$url/products/put", graft.products.DataProductJson.toJson(doc.copy(
        version = Some("9.0.0"), status = "active")))
      assert(getJson(s"$url/products/get?id=dp.sales&version=9.0.0")._1 == 200)

      // an unregistered subpath must 404 (JDK contexts are PREFIX
      // matches — without the guard a typo'd route echoes a 200
      // listing that reads as success), on both listing families
      assert(getJson(s"$url/products/lateset?id=dp.sales")._1 == 404)
      assert(getJson(s"$url/contracts/lateset?id=x")._1 == 404)
      // malformed JSON bodies are caller errors: 400, not 500
      assert(post(s"$url/products/put", "not json")._1 == 400)
      assert(post(s"$url/products/register-output?id=dp.sales", "{broken")._1 == 400)
    } finally server.stop()
  }
}
