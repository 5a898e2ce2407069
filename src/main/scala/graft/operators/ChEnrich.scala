package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Companies House per-company enrichment fan-out — the reference's
  * get_company_officers / get_company_charges /
  * get_company_filing_history (api_clients.py:179-203) as a
  * distributed lookup stage (S12) over the live-socket transport (S5):
  * one GET per (company, sub-resource), parsed from the `{"items":[…]}`
  * envelope, flattened to one row per item.
  *
  * The budget is SHARED: every request — the advanced-search scan's
  * cursor pages and all three sub-resources — draws from the SAME
  * process-global token bucket keyed on the endpoint base url
  * (ChHttp.bucket), so a harvest + enrichment pipeline respects one
  * API quota end to end, exactly like the reference's client-wide
  * 0.5 s rate limit (api_clients.py:119). Pinned socket-side in
  * ChHttpSourceSpec: the server's own request log shows scan and
  * enrichment arrivals paced as one stream.
  *
  * Fan-out shape at scale: `companies` is distinct-projected to the
  * business key and fetched per partition (cost ∝ companies ÷
  * calls_per_sec wall-clock — quota-bound, not compute-bound; size
  * executor count by quota, like the reference's batch helpers
  * api_clients.py:385-430). A 404 is ZERO ITEMS, not an error — CH
  * returns 404 for a company with no charges — while any other
  * non-200 past the 429-retry budget throws: a warehouse enrichment
  * must fail loudly rather than silently drop rows (the same contract
  * as the scan source). */
object ChEnrich {

  /** One GET with the shared bucket + the scan's 429 discipline
    * (Retry-After capped, 3 s/5 s progressive fallback). */
  private def fetch(url: String, apiKey: String,
      bucket: ExternalLookup.TokenBucket, maxRetries: Int,
      maxRetryAfterMs: Long): Option[String] = {
    var attempt = 0
    while (true) {
      val d = bucket.acquireDelayMs()
      if (d > 0) Thread.sleep(d)
      val (code, retryAfter, text) = graft.sources.v2.ChHttp.get(url, apiKey)
      if (code == 200) return Some(text)
      else if (code == 404) return None // no such sub-resource = no rows
      else if (code == 429) {
        attempt += 1
        if (attempt > maxRetries)
          throw ExternalLookup.RetryAfter(retryAfter.getOrElse(0L))
        val wait = retryAfter match {
          case Some(ms) => math.min(math.max(ms, 0L), maxRetryAfterMs)
          case None => math.min(3000L + (attempt - 1) * 2000L, maxRetryAfterMs)
        }
        Thread.sleep(wait)
      } else throw new java.io.IOException(s"$url returned $code: $text")
    }
    None // unreachable
  }

  /** Fetch `resource` for every distinct company number and flatten
    * the selected item `fields` (strings; absent → null).
    *
    * PAGINATED: a company with more items than `itemsPerPage` is
    * fetched via `start_index` cursors until the envelope's
    * `total_results` is exhausted — the fail-loudly contract forbids
    * silently truncating a 200-officer company to its first page.
    * (The reference client single-pages here, api_clients.py:179-203 —
    * a truncation bug this implementation deliberately does NOT
    * reproduce.) An envelope WITHOUT `total_results` ends the cursor
    * after its first page: with no stated total there is nothing to
    * exhaust, and guessing from page fullness risks an unbounded loop
    * against a server that always fills pages. */
  def subResource(spark: SparkSession, url: String, companies: DataFrame,
      resource: String, fields: Seq[String],
      numberCol: String = "company_number", apiKey: String = "",
      itemsPerPage: Int = 50, callsPerSec: Double = 2.0,
      maxRetries: Int = 3, maxRetryAfterMs: Long = 10000L): DataFrame = {
    val schema = StructType(
      StructField("company_number", StringType, nullable = false) +:
        fields.map(StructField(_, StringType, nullable = true)))
    val rdd = companies.select(col(numberCol).cast("string")).distinct()
      .rdd.mapPartitions { it =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val bucket = graft.sources.v2.ChHttp.bucket(url, callsPerSec)
        it.flatMap { r =>
          val n = r.getString(0)
          val enc = java.net.URLEncoder.encode(n, "UTF-8")
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          var start = 0
          var more = true
          var statedTotal = -1
          while (more) {
            more = false
            val page = fetch(s"$url/company/$enc/$resource?items_per_page=" +
              s"$itemsPerPage&start_index=$start",
              apiKey, bucket, maxRetries, maxRetryAfterMs)
            // a missing FIRST page means the company has no such
            // sub-resource (the API 404s an absent collection) — but a
            // missing LATER page, after an envelope promised more rows,
            // would silently truncate the collection this method's
            // contract forbids truncating: fail loudly instead of
            // emitting a partial officer/charge list as if complete
            if (page.isEmpty && start > 0 && statedTotal > start)
              throw new IllegalStateException(
                s"ChEnrich.subResource: $resource page at start_index=" +
                  s"$start for company $n returned no body but the " +
                  s"envelope stated total_results=$statedTotal — refusing " +
                  "to emit a silently truncated sub-resource")
            page.foreach { body =>
              val root = mapper.readTree(body)
              val items = root.get("items")
              val m = if (items == null) 0 else items.size()
              (0 until m).foreach { i =>
                val h = items.get(i)
                out += Row.fromSeq(n +: fields.map { f =>
                  val node = h.get(f)
                  if (node == null || node.isNull) null else node.asText()
                })
              }
              val tr = root.get("total_results")
              if (tr != null && !tr.isNull) statedTotal = tr.asInt()
              start += itemsPerPage
              // continue only while the server states a total we have
              // not reached AND the page actually progressed (m > 0
              // guards a lying total against an empty-page livelock)
              more = m > 0 && tr != null && !tr.isNull && start < tr.asInt()
            }
          }
          out
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** api_clients.py:179-186. */
  def officers(spark: SparkSession, url: String, companies: DataFrame,
      numberCol: String = "company_number", apiKey: String = "",
      callsPerSec: Double = 2.0): DataFrame =
    subResource(spark, url, companies, "officers",
      Seq("name", "officer_role", "appointed_on"),
      numberCol, apiKey, callsPerSec = callsPerSec)

  /** api_clients.py:196-203; feeds the has-charges tier rule
    * (ApplicantPipeline.dataTier). */
  def charges(spark: SparkSession, url: String, companies: DataFrame,
      numberCol: String = "company_number", apiKey: String = "",
      callsPerSec: Double = 2.0): DataFrame =
    subResource(spark, url, companies, "charges",
      Seq("status", "created_on"),
      numberCol, apiKey, itemsPerPage = 25, callsPerSec = callsPerSec)
}
