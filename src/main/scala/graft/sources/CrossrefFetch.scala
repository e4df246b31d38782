package graft.sources

import scala.annotation.tailrec

import com.fasterxml.jackson.databind.ObjectMapper

/** S2 — the reference's resilient CrossRef fetch loop
  * (src/barrazueta_pipeline_etl_crossref.py:44-94 `get_with_retry`,
  * :560-585 cursor pagination) as a driver-side client with a PLUGGABLE
  * transport. The container has zero egress, so the policy — not the
  * socket — is the portable part: tests inject a scripted transport, and
  * a live deployment plugs `java.net.http` (or any HTTP stack) into the
  * same function type. `Crossref.readPages` then reads the fetched page
  * files; this client is the driver-side producer that fills that
  * directory.
  *
  * Mirrored semantics:
  *  - 400 degradation ladder, in reference order: drop `select` → drop
  *    `sort`+`order` → reduce `filter` to dates-only (only when it
  *    contains `has-affiliation:true`) → give up. Each rung retries
  *    immediately, no backoff (PIPE:52-74).
  *  - Retryable statuses 429/500/502/503/504: wait `Retry-After` when
  *    the server sent it, else exponential backoff from 1s doubling to a
  *    30s cap; fails on the `maxTries`-th retryable response — `maxTries`
  *    requests, `maxTries - 1` waits (the reference's final sleep before
  *    giving up is skipped; request count matches PIPE:80-91).
  *  - Any other non-2xx fails immediately (`raise_for_status`).
  *  - Cursor pagination: start at `*`, follow `message.next-cursor`,
  *    stop on an empty `message.items`, a repeated cursor, or the page
  *    cap (the reference's NO_HITS_LIMIT / prev_cursor_val guards,
  *    PIPE:558-561,724-733).
  */
object CrossrefFetch {

  /** Minimal HTTP response view — status, body, optional Retry-After. */
  final case class Response(status: Int, body: String,
      retryAfter: Option[Double] = None)

  /** (url, query params, headers) => response. Tests script this;
    * production wraps a real HTTP client. The headers argument carries
    * the [[Etiquette]] identity on EVERY request — a transport that
    * drops it silently forfeits the API's polite pool.
    */
  type Transport = (String, Map[String, String], Map[String, String])
    => Response

  final case class RetryPolicy(maxTries: Int = 6, baseBackoff: Double = 1.0,
      maxBackoff: Double = 30.0)

  /** Crawl etiquette, mirrored from the reference (PIPE:16-17 builds
    * `User-Agent: UPS-ETL/1.0 (mailto:…)` onto the session so every
    * request self-identifies; PIPE:733 sleeps 0.3 s between cursor
    * pages). Both are POLICY, not plumbing: the Crossref API routes
    * identified callers to its polite pool and rate-limits anonymous
    * ones, and the inter-page delay keeps a long crawl a good citizen
    * regardless of how fast pages return. Fields are injectable so
    * tests assert the header map and the pacing hook instead of
    * serving real waits.
    */
  final case class Etiquette(product: String = "graft-etl/1.0",
      mailto: Option[String] = None, pageDelay: Double = 0.3) {
    /** The headers every request carries. */
    def headers: Map[String, String] = Map("User-Agent" ->
      (product + mailto.fold("")(m => s" (mailto:$m)")))
  }

  /** Outcome of a resilient GET: the OK response plus the params that
    * finally worked — the caller keeps using the degraded params for
    * subsequent pages, exactly like the reference's `local_params`.
    */
  final case class Fetched(response: Response, params: Map[String, String])

  class FetchFailedException(msg: String) extends RuntimeException(msg)

  private val Retryable = Set(429, 500, 502, 503, 504)

  /** One GET with the 400-degradation ladder and retry/backoff. `sleep`
    * is injectable so tests assert the waits instead of serving them.
    */
  def getWithRetry(transport: Transport, url: String,
      params: Map[String, String], datesOnlyFilter: String,
      policy: RetryPolicy = RetryPolicy(),
      sleep: Double => Unit = s => Thread.sleep((s * 1000).toLong),
      etiquette: Etiquette = Etiquette()): Fetched = {

    @tailrec
    def loop(p: Map[String, String], tries: Int, backoff: Double): Fetched = {
      // etiquette headers ride EVERY attempt, retries and degraded
      // rungs included — the reference sets them on the session once
      val resp = transport(url, p, etiquette.headers)
      resp.status match {
        case 400 =>
          // degradation ladder, one rung per attempt, immediate retry
          if (p.contains("select"))
            loop(p - "select", tries, backoff)
          else if (p.contains("sort") || p.contains("order"))
            loop(p - "sort" - "order", tries, backoff)
          else if (p.get("filter").exists(_.contains("has-affiliation:true"))
              && !p.get("filter").contains(datesOnlyFilter))
            // the replacement must actually CHANGE the params: if the
            // degraded filter still contains has-affiliation:true this
            // rung would recurse with identical state forever
            loop(p + ("filter" -> datesOnlyFilter), tries, backoff)
          else
            throw new FetchFailedException(
              s"400 Bad Request after full degradation: ${resp.body.take(500)}")
        case s if Retryable(s) =>
          if (tries + 1 >= policy.maxTries)
            throw new FetchFailedException(
              s"giving up after ${policy.maxTries} tries, last status $s: " +
                resp.body.take(500))
          sleep(resp.retryAfter.getOrElse(backoff))
          loop(p, tries + 1, math.min(backoff * 2, policy.maxBackoff))
        case s if s >= 200 && s < 300 =>
          Fetched(resp, p)
        case s =>
          throw new FetchFailedException(
            s"HTTP $s: ${resp.body.take(500)}")
      }
    }
    loop(params, 0, policy.baseBackoff)
  }

  private val mapper = new ObjectMapper

  /** Cursor-paginate `message.items` pages. Returns the raw page bodies
    * (ready to be written as the page files `Crossref.readPages` reads).
    * Stops on: empty items, missing/repeated next-cursor, or `maxPages`.
    */
  def fetchPages(transport: Transport, url: String,
      initialParams: Map[String, String], datesOnlyFilter: String,
      maxPages: Int = 10000, policy: RetryPolicy = RetryPolicy(),
      sleep: Double => Unit = s => Thread.sleep((s * 1000).toLong),
      etiquette: Etiquette = Etiquette())
      : Seq[String] = {
    val pages = Seq.newBuilder[String]
    var params = initialParams + ("cursor" -> "*")
    var prevCursor: Option[String] = None
    var page = 0
    var done = false
    while (!done && page < maxPages) {
      page += 1
      val got = getWithRetry(transport, url, params, datesOnlyFilter,
        policy, sleep, etiquette)
      params = got.params // keep any degradation for subsequent pages
      val msg = mapper.readTree(got.response.body).path("message")
      // a 2xx body without message.items is NOT end-of-data — treating
      // it as such would silently truncate the crawl (the reference's
      // r.json()["message"]["items"] raises loudly there too)
      if (!msg.path("items").isArray)
        throw new FetchFailedException(
          s"2xx response without message.items array: " +
            got.response.body.take(500))
      val n = msg.path("items").size()
      if (n == 0) done = true
      else {
        pages += got.response.body
        val next = Option(msg.path("next-cursor").asText(null))
        // repeated or missing cursor would loop forever (the reference's
        // prev_cursor_val guard) — stop instead
        if (next.isEmpty || next == prevCursor) done = true
        else {
          prevCursor = next
          params += ("cursor" -> next.get)
          // inter-page pacing (PIPE:733): after every page that will
          // be followed by another request, never after the last —
          // including when maxPages (not end-of-data) ends the crawl
          if (etiquette.pageDelay > 0 && page < maxPages)
            sleep(etiquette.pageDelay)
        }
      }
    }
    pages.result()
  }
}
