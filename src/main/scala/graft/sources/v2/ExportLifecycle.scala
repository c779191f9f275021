package graft.sources.v2

import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-side client of the reference's ASYNC EXPORT API — the one
  * feeder behavior the paged scan can't express: results are not paged
  * GETs but a server-side export job you create, poll, and download
  * (feeder.py:49-122).
  *
  *   1. `POST <base>/projects/{pid}/results/data` with the export
  *      options body (feeder.py:49-88) under the per-request `SS-Token`
  *      auth header (feeder.py:15-16) → `{"body": <requestId>}`;
  *   2. `GET <base>/projects/{pid}/results/data/{rid}` (same auth)
  *      until `body.state == 3` publishes `body.fileUrl`
  *      (feeder.py:90-116's sleep-and-repoll loop) — BOUNDED here by
  *      `maxPolls`, where the reference spins forever: a stuck export
  *      job must fail the pipeline loudly, not hang it;
  *   3. `GET <fileUrl>` BARE — the signed URL carries its own
  *      authorization, the reference sends no token (feeder.py:118) —
  *      returning the zip bytes the caller chains into the distributed
  *      zip→XLSX decode ([[graft.sources.ZippedTabular]]).
  *
  * Scale shape: the control plane (create/poll) is O(1) driver-side
  * HTTP — per PROJECT, not per row — and the data plane is one bounded
  * artifact download; fleet-scale ingest fans out over projects (many
  * lifecycles), then the decode of the downloaded archives is the
  * distributed part. Every request goes through [[HttpExchange]]:
  * transient faults (5xx, connection resets) retry with exponential
  * backoff; 4xx — a bad token (401) or a bad request — fails fast. */
object ExportLifecycle {

  private lazy val mapper = new ObjectMapper()

  /** The recruit counter's name in the reference config
    * (feeder.py:46 — `--------РЕКРУТ`) and the bare form the w6 feeder
    * ALSO accepts (feeder_w6.py:47 — `РЕКРУТ`). */
  val RecruitCounterName: String = "--------РЕКРУТ"
  val RecruitCounterNameBare: String = "РЕКРУТ"

  /** Counter-id resolution over a fetched listing (feeder.py:45-48):
    * the first counter named `--------РЕКРУТ` wins. The w6 variant
    * (feeder_w6.py:46-48) ALSO matches the bare `РЕКРУТ` — pass
    * `w6Fallback = true` for that feeder's behavior. None when nothing
    * matches (the reference falls off the loop returning Python None
    * and only fails later at the create — surfaced here instead so the
    * caller fails loudly at resolution time). */
  def recruitCounterId(counters: Seq[(Long, String)],
                       w6Fallback: Boolean = false): Option[Long] =
    counters.collectFirst {
      case (id, name) if name == RecruitCounterName ||
        (w6Fallback && name == RecruitCounterNameBare) => id
    }

  /** The response envelope's `body` node, or a loud IOException naming
    * the URL — an error/auth payload without `body` would otherwise
    * surface as a bare NullPointerException deep in Jackson traversal,
    * unlike the descriptive failures the rest of the lifecycle throws. */
  private def bodyNode(json: String, url: String): com.fasterxml.jackson.databind.JsonNode = {
    val node = mapper.readTree(json).get("body")
    if (node == null)
      throw new java.io.IOException(
        s"graft-export: $url returned no 'body' field: ${json.take(200)}")
    node
  }

  /** `GET /projects/{pid}/counters` under the SS-Token header →
    * (id, name) rows of the response's `body` array (feeder.py:40-44). */
  def listCounters(base: String, projectId: Long, token: String,
                   retries: Int = 3, backoffMs: Long = 100L): Seq[(Long, String)] = {
    val headers = Map("SS-Token" -> token)
    val url = s"$base/projects/$projectId/counters"
    val body = bodyNode(new String(
      HttpExchange.fetch(url, "GET", headers, None, retries, backoffMs), "UTF-8"), url)
    (0 until body.size()).map(i =>
      (body.get(i).get("id").asLong(), body.get(i).get("name").asText()))
  }

  /** Run the full lifecycle; returns the downloaded zip bytes.
    *
    * NOTE the create POST is retried on 5xx/connection faults with no
    * idempotency key (the reference's API offers none, feeder.py:56):
    * a create that succeeded server-side but lost its response spawns a
    * duplicate export job. Harmless against the loopback test server
    * and at worst wasted server work in production — the caller only
    * ever polls/downloads the rid from the response it actually
    * received, so the data read stays exactly-once either way.
    *
    * @param maxPolls   poll-retry budget: state≠3 after this many status
    *                   polls fails the export loudly
    * @param pollDelayMs delay between status polls (the reference's
    *                   `sleep(10)`, feeder.py:106 — tuned down in tests)
    */
  def fetchExportZip(base: String, projectId: Long, counterId: Long,
                     token: String, pollDelayMs: Long = 1000L,
                     maxPolls: Int = 30, retries: Int = 3,
                     backoffMs: Long = 100L): Array[Byte] = {
    val headers = Map("SS-Token" -> token, "Content-type" -> "application/json")
    // the reference's create body (feeder.py:56-88), reduced to the
    // fields that determine the artifact: which counter, which format,
    // single zipped XLSX
    val createBody =
      s"""{"counterId": $counterId, "exportFormat": 2,
         | "exportLabelsAndCodeValues": true, "ignoreErrors": true,
         | "archiveSingleXlsxResultFile": true}""".stripMargin
    val createUrl = s"$base/projects/$projectId/results/data"
    val created = new String(
      HttpExchange.fetch(createUrl, "POST", headers,
        Some(createBody), retries, backoffMs), "UTF-8")
    val rid = bodyNode(created, createUrl).asLong()
    var polls = 0
    var fileUrl: String = null
    while (fileUrl == null) {
      if (polls >= maxPolls)
        throw new java.io.IOException(
          s"graft-export: export $rid not ready after $maxPolls polls")
      if (polls > 0 && pollDelayMs > 0) Thread.sleep(pollDelayMs)
      val pollUrl = s"$base/projects/$projectId/results/data/$rid"
      val st = bodyNode(new String(
        HttpExchange.fetch(pollUrl, "GET",
          headers, None, retries, backoffMs), "UTF-8"), pollUrl)
      if (st.get("state").asInt() == 3) fileUrl = st.get("fileUrl").asText()
      polls += 1
    }
    HttpExchange.fetch(fileUrl, "GET", Map.empty, None, retries, backoffMs)
  }
}
