package graft.pipeline

import java.time.Instant
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.model.CrawlSpec
import graft.rfc2616.Freshness
import graft.state.{SeenSet, StateStore}
import graft.url.UrlOps

/** The crawl engine: Geziyor's whole goroutine pipeline re-expressed as a
  * deterministic micro-batch loop of DataFrame transforms (SURVEY.md §3.1).
  *
  * One wave = one BFS generation:
  *   frontier → politeness token grant (per-host ranking window, optional
  *              randomized per-request delay ordering)
  *            → global concurrency / requests-per-second cap (two-phase)
  *            → robots gate (broadcast join vs incrementally-fetched rules)
  *            → cookie application (per-host jar state → meta("cookie"))
  *            → custom request middlewares (ordered DataFrame→DataFrame)
  *            → RFC2616 cache decision (serve-cached / revalidate / fetch)
  *            → fetch join vs pages corpus (with transparent redirect
  *              following, bounded by maxRedirect; rendered mode fetches the
  *              pre-rendered text variant)
  *            → validator/304 merge for revalidations
  *            → retryable statuses re-enqueued (retry ≤ retryTimes)
  *            → custom response middlewares → decode + parse
  *            → discovered links: AllowedDomains filter → intra-wave
  *              first-wins dedup → anti-join vs seen set → next frontier
  *
  * Each step is a stage function with explicit DataFrame inputs and outputs
  * (`grantPoliteness`, `fetchRobots`, `requestGate`, `fetchJoin`,
  * `mergeCache`, `splitRetries`, `parseExpand`, `candidateLinks`,
  * `dedupCandidates`, `trapGate`, `assembleFrontier`, `foldAudit`); `run`
  * only resumes or cold-starts, sequences the stages and owns every
  * materialization point. `graft.Bench`'s scaling wave calls the same
  * `dedupCandidates → grantPoliteness → fetchJoin` stages.
  *
  * Middleware-order fidelity (geziyor.go:63-68,121-130): AllowedDomains runs
  * BEFORE dedup (blocked-domain urls never enter the seen set); robots runs
  * AFTER dedup (blocked urls ARE in the seen set); custom request
  * middlewares run LAST in the request chain (appended after the built-ins,
  * geziyor.go:128-130); retries re-enter the client only (no re-dedup, no
  * politeness token, middleware chain not re-run — client/client.go:94-121
  * recursion semantics).
  *
  * Scale design: every per-wave step is a narrow DataFrame op —
  *  - the seen-set anti-join and fetch join both shuffle on url, so AQE can
  *    reuse/coalesce partitions; at 10^10 urls the seen set lives in the
  *    Parquet state table, Bloom-prefiltered (graft.state.SeenSet);
  *  - the politeness window shuffles on host; mega-hosts are bounded by the
  *    exact two-phase salted ranking (top-k per (host,salt), then top-k per
  *    host over ≤ k·S survivors);
  *  - the global concurrency cap is the same two-phase shape: per-bucket
  *    top-cap, then the exact global cap over ≤ cap·B bounded survivors —
  *    by DEFAULT (syncOrder=false) no per-wave window ever ranks an
  *    unbounded input on a single partition;
  *  - robots rules and the cookie jar are one row per host → broadcast;
  *  - per-wave `localCheckpoint` truncates lineage so plan analysis stays
  *    O(1) in wave count (on a cluster: reliable checkpoint / state table).
  */
object CrawlJob {

  final case class CrawlResult(
      records: DataFrame,    // wave, rank, seq, json
      audit: DataFrame,      // wave, kind, method, status, host, url, detail
      seen: DataFrame,       // url
      crawlOrder: DataFrame, // wave, rank, url  (issued fetches, determ. order)
      metrics: DataFrame,    // wave, metric, value — per-wave counters
      lineage: DataFrame,    // wave, partition_id, n_rows — granted-set lineage
      waves: Int)

  private val RedirectStatuses = Seq(301, 302, 303, 307, 308)

  /** Canonical frontier column ORDER (positional unions downstream). */
  private val FrontierCols = Seq("url", "host", "path", "depth", "method",
    "meta", "retry", "priority", "wave", "rank", "parser_id", "is_retry")
  private val AuditCols =
    Seq("wave", "kind", "method", "status", "host", "url", "detail")

  private def emptyFrontier(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, String, Int, String, Map[String, String], Int, Int, Int, Long, String, Boolean)]
      .toDF(FrontierCols: _*)
  }

  private val hostOfU = udf((u: String) => UrlOps.hostOf(u))
  private val pathOfU = udf((u: String) => UrlOps.pathOf(u))

  // robots.txt parsing + matching lives in RobotsRules (full
  // temoto/robotstxt semantics: per-agent groups, Allow longest-match
  // precedence, `*`/`$` wildcards, FromStatusAndBytes status mapping).

  /** Deterministic per-(url, wave) politeness delay in ms
    * (middleware/delay.go:20-24: uniform in [0.5d, 1.5d) when randomized).
    * md5-derived so any engine (and the DuckDB oracle) reproduces it.
    * 12 hex digits = 48 bits of seed: enough that the modulus covers any
    * realistic delay (4 digits capped the range at 65535ms and carried
    * visible modulo bias); still well inside BIGINT in Spark and DuckDB.
    */
  private[graft] def delayExpr(d: Long, random: Boolean): Column =
    if (!random) lit(d)
    else lit(d / 2) +
      conv(substring(md5(concat_ws(":", col("url"), col("wave"))), 1, 12),
        16, 10).cast("long") % d

  /** RFC 6265 jar: keyed by (domain, name, path) — c_domain is the
    * normalized Domain attribute (host-suffix matched at application) or
    * the exact response host when absent (c_hostonly) — plus value, Secure
    * flag, absolute expiry epoch (-1 = session) and receipt wave. The
    * jar-shape flags gate which apply-side join slices are even built, so
    * the common all-host-only jar never pays for the Domain machinery.
    */
  private[graft] final case class CookieJar(
      df: DataFrame,
      nonEmpty: Boolean = false,
      hasDomain: Boolean = false, // any non-host-only (Domain-attribute) cookie
      hasTld: Boolean = false)    // … with a single-label domain (no 2-label key)

  /** A non-empty jar with its shape flags (one tiny aggregate action). */
  private def jarOf(df: DataFrame): CookieJar = {
    val s = df.filter(!col("c_hostonly"))
      .agg(count(lit(1)),
        count(when(size(split(col("c_domain"), "\\.")) < 2, 1)))
      .head()
    CookieJar(df, nonEmpty = true, s.getLong(0) > 0, s.getLong(1) > 0)
  }

  /** The committed cookie-jar snapshot, refusing a legacy layout. */
  private def resumeJar(ck: DataFrame, dir: String, w: Int): CookieJar = {
    if (!ck.columns.contains("c_name") || !ck.columns.contains("c_path") ||
        !ck.columns.contains("c_domain"))
      throw new IllegalStateException(
        s"checkpoint at $dir wave=$w has a legacy cookies snapshot " +
          "(pre-RFC6265 jar without (host, name, path) keys); " +
          "resuming would fail downstream — restart the crawl or " +
          "migrate the snapshot")
    if (ck.isEmpty) CookieJar(ck) else jarOf(ck)
  }

  /** Small per-run daemon pool for overlapping INDEPENDENT per-wave Spark
    * actions (guide §2.6: actions are only sequential because the driver
    * calls them sequentially): the lineage collect and the frontier
    * assembly, which share no state with the critical chain. Every future
    * is awaited inside the same wave, so no work ever crosses a wave
    * boundary; `close` ends the pool's threads with the run.
    */
  private final class SidePool {
    private val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(2, r => {
      val t = new Thread(r, "crawl-side-job")
      t.setDaemon(true)
      threads.add(t)
      t
    })
    private val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    def submit[T](body: => T): scala.concurrent.Future[T] =
      scala.concurrent.Future(body)(ec)
    def await[T](f: scala.concurrent.Future[T]): T =
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
    def close(): Unit = {
      pool.shutdownNow()
      threads.forEach(_.join(10000))
    }
  }

  /** Cookie handling runs when enabled and the corpus carries Set-Cookie. */
  private def cookiesOn(spec: CrawlSpec, pages: DataFrame): Boolean =
    !spec.cookiesDisabled && pages.columns.contains("set_cookie")

  /** Fetch-relevant corpus projection (Catalyst prunes the parquet scan to
    * these columns when `pages` comes from files). Optional-feature columns
    * are projected only when the feature is on, keeping the scan narrow.
    * `pages` needs url, status, content_type, location and html.
    */
  private[graft] def fetchCorpus(pages: DataFrame, spec: CrawlSpec,
      cacheActive: Boolean): DataFrame = {
    def optCol(name: String, dt: String, want: Boolean): Column =
      if (want && pages.columns.contains(name)) col(name).cast(dt)
      else lit(null).cast(dt)
    pages.select(
      col("url").as("p_url"), col("status").as("p_status"),
      col("content_type").as("p_ct"), col("location").as("p_loc"),
      col("html").as("p_html"),
      optCol("text", "string", spec.rendered).as("p_text"),
      optCol("set_cookie", "string", cookiesOn(spec, pages)).as("p_setck"),
      optCol("etag", "string", cacheActive).as("p_etag"),
      optCol("last_modified", "string", cacheActive).as("p_lastmod"),
      optCol("latency_ms", "long",
        spec.requestTimeoutMs > 0 || spec.adaptiveRate).as("p_latency"),
      optCol("warc_ts", "timestamp",
        spec.warcArchiveDir.isDefined).as("p_warc_ts"))
  }

  /** Cold-start frontier and seen set. Seeds pass AllowedDomains + dedup
    * exactly like discovered urls (the reference runs seeds through the
    * same middleware chain). Seed source: a driver-side StartURLs list
    * (parity mode, ordered) or a seeds DataFrame with a `url` column (scale
    * mode — a 10^10 frontier seed list is a table, not a Seq). Optional
    * seed columns complete the Get/Head/Post helper surface
    * (geziyor.go:189-217): `method` (default GET — HEAD skips decode
    * downstream) and `body` (the POST payload, carried as meta("body") so
    * parsers see it).
    */
  private def seedFrontier(spark: SparkSession, spec: CrawlSpec,
      seedsDf: Option[DataFrame]): (DataFrame, DataFrame) = {
    import spark.implicits._
    val seedsRaw = seedsDf match {
      case Some(df) =>
        val bw = Window
          .partitionBy(pmod(hash(col("url")), lit(1024)))
          .orderBy(col("url"))
        val methodCol =
          if (df.columns.contains("method"))
            coalesce(col("method"), lit("GET"))
          else lit("GET")
        val metaCol =
          if (df.columns.contains("body"))
            when(col("body").isNotNull, map(lit("body"), col("body")))
              .otherwise(map().cast("map<string,string>"))
          else map().cast("map<string,string>")
        df.select(Seq(col("url")) ++
            (if (df.columns.contains("method")) Seq(col("method")) else Nil) ++
            (if (df.columns.contains("body")) Seq(col("body")) else Nil): _*)
          .withColumn("host", hostOfU(col("url")))
          .withColumn("path", pathOfU(col("url")))
          .withColumn("depth", lit(0))
          .withColumn("meta", metaCol)
          .withColumn("method", methodCol)
          .drop("body")
          .withColumn("retry", lit(0))
          .withColumn("priority", lit(0))
          .withColumn("wave", lit(0))
          .withColumn("rank",
            pmod(hash(col("url")), lit(1024)).cast("long") *
              lit(1L << 40) + row_number().over(bw).cast("long"))
          .withColumn("parser_id", lit(spec.parserId))
          .withColumn("is_retry", lit(false))
          .select(FrontierCols.map(col): _*)
      case None =>
        spec.startUrls.zipWithIndex
          .map { case (u, i) =>
            (u, UrlOps.hostOf(u), UrlOps.pathOf(u), 0, "GET",
              Map.empty[String, String], 0, 0, 0, i.toLong, spec.parserId,
              false)
          }
          .toDF(FrontierCols: _*)
    }
    val seedsAllowed =
      if (spec.allowedDomains.isEmpty) seedsRaw
      else seedsRaw.filter(col("host").isin(spec.allowedDomains: _*))
    // Only GETs are deduped / enter the seen set
    // (middleware/duplicate_requests.go:17: non-GET requests are never
    // filtered and never recorded) — a POST seed must not block a later
    // GET to the same url.
    val frontier = seedsAllowed.filter(col("method") === "GET")
      .dropDuplicates("url")
      .unionByName(seedsAllowed.filter(col("method") =!= "GET"))
    val seen = seedsAllowed.filter(col("method") === "GET")
      .dropDuplicates("url").select(col("url"))
    (frontier, seen)
  }

  /** Politeness: grant ≤ k tokens per host this wave, then the global
    * concurrency / requests-per-second cap. Returns (granted, deferred) in
    * frontier columns; the frontier needs every `FrontierCols` column.
    * Retries bypass the token budget — the reference retries inside the
    * client without re-running the delay middleware.
    *
    * Per-host wave cap: the spec's hostTokensPerWave, optionally tightened
    * by the host's robots Crawl-delay (`crawlDelays`: r_host, crawl_delay —
    * the reference's robots lib exposes Group.CrawlDelay; wave-mode
    * collapse: ≤ max(1, floor(waveInterval / delay)) grants per wave) and
    * by the AIMD controller state (`hostCaps`: a_host, acap). Rules are
    * fetched lazily, so a host's FIRST wave runs uncapped — exactly like
    * the reference's lazy robots fetch timing.
    */
  private[graft] def grantPoliteness(frontier: DataFrame, spec: CrawlSpec,
      crawlDelays: Option[DataFrame],
      hostCaps: Option[DataFrame]): (DataFrame, DataFrame) = {
    val empty = emptyFrontier(frontier.sparkSession)
    val cols = FrontierCols.map(col)
    val polOrder: Seq[Column] =
      if (spec.requestDelayMs > 0)
        Seq(col("priority").desc, col("delay_ms").asc, col("rank").asc)
      else Seq(col("priority").desc, col("rank").asc)
    val (granted, deferred) =
      if (spec.hostTokensPerWave == Int.MaxValue && crawlDelays.isEmpty &&
          !spec.adaptiveRate)
        (frontier, empty)
      else {
        val nonRetry00 = frontier.filter(!col("is_retry"))
        val nonRetry0 = crawlDelays match {
          case None =>
            nonRetry00.withColumn("hcap", lit(spec.hostTokensPerWave.toLong))
          case Some(rules) => nonRetry00
            .join(broadcast(rules.select(col("r_host"), col("crawl_delay"))),
              col("host") === col("r_host"), "left")
            .withColumn("hcap",
              least(lit(spec.hostTokensPerWave.toLong),
                coalesce(
                  greatest(lit(1L),
                    floor(lit(spec.waveIntervalMs / 1000.0) /
                      col("crawl_delay")).cast("long")),
                  lit(spec.hostTokensPerWave.toLong))))
            .drop("r_host", "crawl_delay")
        }
        // AIMD cap (CrawlSpec.adaptiveRate): tighten by the host's
        // controller state — new/unobserved hosts run at the initial
        // cap; the broadcast side is one row per observed host
        val nonRetry1 =
          if (!spec.adaptiveRate) nonRetry0
          else hostCaps match {
            case Some(caps) => nonRetry0
              .join(broadcast(caps),
                col("host") === col("a_host"), "left")
              .withColumn("hcap", least(col("hcap"),
                coalesce(col("acap"),
                  lit(spec.adaptiveInitialCap.toLong))))
              .drop("a_host", "acap")
            case None => nonRetry0.withColumn("hcap",
              least(col("hcap"), lit(spec.adaptiveInitialCap.toLong)))
          }
        val nonRetry =
          if (spec.requestDelayMs > 0)
            nonRetry1.withColumn("delay_ms",
              delayExpr(spec.requestDelayMs, spec.randomDelay))
          else nonRetry1
        // Two-phase salted ranking: phase 1 ranks within (host, salt) and
        // keeps ≤k per bucket — the global per-host top-k (by the same
        // total order) is always a subset of the per-salt survivors, so
        // phase 2 over ≤ k·S rows/host is EXACT while the mega-host's
        // window work spreads across S tasks (SURVEY.md §7 skew note).
        val (phase1, deferredA) =
          if (spec.skewSaltBuckets > 1) {
            val salted = nonRetry
              .withColumn("salt",
                pmod(hash(col("url")), lit(spec.skewSaltBuckets)))
              .withColumn("t1", row_number().over(
                Window.partitionBy(col("host"), col("salt"))
                  .orderBy(polOrder: _*)))
            (salted.filter(col("t1") <= col("hcap")),
             salted.filter(col("t1") > col("hcap"))
               .select(cols: _*))
          } else (nonRetry, empty)
        val tw = Window.partitionBy(col("host")).orderBy(polOrder: _*)
        val ranked2 = phase1.withColumn("tok", row_number().over(tw))
        val grantedNR = ranked2.filter(col("tok") <= col("hcap"))
          .select(cols: _*)
        val g = grantedNR.union(frontier.filter(col("is_retry")))
        // deferred = phase-1 drops ∪ phase-2 drops (no join needed)
        val d = deferredA.union(
          ranked2.filter(col("tok") > col("hcap"))
            .select(cols: _*))
        (g, d)
      }

    // ---- global concurrency cap (geziyor.go:109-111 semaphore → wave size
    // cap) + RequestsPerSecond × waveInterval (options.go:87) — both
    // collapse to a wave-size bound; excess is deferred, never dropped.
    // Two-phase like politeness: phase 1 keeps the per-bucket top-cap
    // (global top-cap rows always survive their bucket's cap by the same
    // order), phase 2 ranks only ≤ cap·B bounded survivors — exact, and no
    // unbounded single-partition window.
    val rpsCap =
      if (spec.requestsPerSecond > 0)
        math.max(1L, spec.requestsPerSecond.toLong * spec.waveIntervalMs / 1000L)
      else Long.MaxValue
    val waveCap = math.min(spec.concurrentRequests.toLong, rpsCap)
    if (waveCap >= Int.MaxValue) (granted, deferred)
    else {
      val CapBuckets = 32
      val b1 = granted
        .withColumn("cbkt", pmod(hash(col("url")), lit(CapBuckets)))
        .withColumn("c1", row_number().over(
          Window.partitionBy(col("cbkt")).orderBy(col("rank").asc)))
      val drop1 = b1.filter(col("c1") > waveCap).select(cols: _*)
      val ranked = b1.filter(col("c1") <= waveCap)
        .withColumn("gidx",
          row_number().over(Window.orderBy(col("rank").asc)))
      val g2 = ranked.filter(col("gidx") <= waveCap).select(cols: _*)
      val d2 = ranked.filter(col("gidx") > waveCap).select(cols: _*)
      (g2, deferred.union(drop1).union(d2))
    }
  }

  /** Robots: fetch rules for hosts of `granted` that have none yet.
    * Returns the materialized new-rule rows (host, robots_url, r_status,
    * rules, crawl_delay, and sitemap_ptrs when sitemapDiscovery is on), or
    * None when no new host appeared.
    *
    * Scheme fidelity (middleware/robotstxt.go:40): the robots URL uses the
    * triggering request's OWN scheme — per host, the first granted request
    * (min rank) decides, mirroring the reference's first-request-wins cache
    * fill. The rules cache stays keyed by host.
    */
  private[graft] def fetchRobots(granted: DataFrame, robotRules: DataFrame,
      corpus: DataFrame, spec: CrawlSpec): Option[DataFrame] = {
    val newHosts = granted
      .groupBy(col("host"))
      .agg(min_by(
        regexp_extract(col("url"), "^([A-Za-z][A-Za-z0-9+.-]*)://", 1),
        col("rank")).as("scheme"))
      .join(robotRules, col("host") === col("r_host"), "left_anti")
      .withColumn("robots_url",
        concat(when(col("scheme") === "", "http").otherwise(col("scheme")),
          lit("://"), col("host"), lit("/robots.txt")))
    // Materialize the (tiny) new-host set FIRST — its plan never touches
    // the corpus — and run the robots fetch machinery ONLY when it is
    // non-empty. On a settled crawl most waves discover no new hosts, and
    // the r4 shape paid a full corpus-scan checkpoint on every one of them
    // just to union an empty delta.
    val newHostsM = newHosts.localCheckpoint(true)
    if (newHostsM.isEmpty) None
    else {
      // newHosts is tiny by construction (new hosts this wave) → the
      // BROADCAST build side of an inner join, so the corpus is never
      // shuffled for the robots fetch (a left-outer join would force the
      // huge corpus to be the build side or shuffle both sides); hosts with
      // no robots page are recovered by the left join's nulls (allow-all,
      // exactly like a 404 in the reference's FromStatusAndBytes).
      val hits = corpus
        .join(broadcast(newHostsM), col("p_url") === col("robots_url"))
        .select(col("host").as("h_hit"),
          col("p_status").as("r_status"), col("p_html").as("r_body"))
      // FromStatusAndBytes semantics honoring the crawl's UA: 2xx → parse
      // groups + select the UA's group; 4xx / no page → allow-all (empty
      // rules); 5xx → disallow-all.
      val specUa = spec.userAgent
      val parseRobotsU = udf((status: java.lang.Integer, b: Array[Byte]) =>
        if (status == null) RobotsRules.Group(Seq.empty, None)
        else RobotsRules.fromStatusGroup(status.intValue(),
          if (b == null) ""
          else new String(b, java.nio.charset.StandardCharsets.UTF_8),
          specUa))
      // hits is ≤ |newHosts| rows → broadcast it back onto newHosts (a
      // single corpus scan feeds both the hit bodies and, via the left
      // join's nulls, the no-robots-page allow-all rows). ONE tiny eager
      // materialization (≤ new-hosts rows) feeds the rules-cache delta AND
      // the robots request/response counter rows without re-scanning the
      // corpus. When sitemap discovery is on, the Sitemap: pointers ride
      // the same checkpointed projection (no second robots-body pass).
      val smPtrsU = udf((status: java.lang.Integer, b: Array[Byte]) =>
        if (status == null || status.intValue() < 200 ||
            status.intValue() >= 300 || b == null) Seq.empty[String]
        else RobotsRules.sitemaps(
          new String(b, java.nio.charset.StandardCharsets.UTF_8)))
      val smCol =
        if (spec.sitemapDiscovery)
          Seq(smPtrsU(col("r_status"), col("r_body")).as("sitemap_ptrs"))
        else Nil
      Some(newHostsM
        .join(broadcast(hits), col("host") === col("h_hit"), "left")
        .withColumn("g", parseRobotsU(col("r_status"), col("r_body")))
        .select(Seq(col("host"), col("robots_url"), col("r_status"),
          col("g.rules").as("rules"),
          col("g.crawlDelay").as("crawl_delay")) ++ smCol: _*)
        .localCheckpoint(true))
    }
  }

  /** Counter parity (metrics/metrics.go:31-33): the reference counts
    * robots.txt fetches separately from forbidden decisions — one request
    * row per newly-seen host, one response row per robots.txt actually
    * served (status-labeled).
    */
  private def robotsAudit(newRules: DataFrame, wave: Int): Seq[DataFrame] = Seq(
    newRules.select(lit(wave), lit("robots_request"),
      lit("GET"), lit(0), col("host"), col("robots_url"), lit("")),
    newRules.filter(col("r_status").isNotNull)
      .select(lit(wave), lit("robots_response"), lit("GET"),
        col("r_status"), col("host"), col("robots_url"), lit("")))

  /** Sitemap autodiscovery (sitemaps.org; opt-in). The pointers just parsed
    * for this wave's NEW hosts are fetched from the corpus (tiny pointer set
    * → broadcast probe side, the corpus is never shuffled — the robots
    * fetch's own join shape) and every urlset <loc> becomes a candidate
    * link for the NEXT frontier. parent_rank = -1 sorts sitemap discoveries
    * ahead of parsed links in the intra-wave first-wins window
    * (deterministic keeper). At 10^8 hosts the pointer set is O(new hosts)
    * and the urlset explode is a per-partition flatMap — no driver state,
    * no collect.
    */
  private[graft] def sitemapLinks(newRules: DataFrame, corpus: DataFrame,
      spec: CrawlSpec): DataFrame = {
    val ptrs = newRules.select(
      posexplode(col("sitemap_ptrs")).as(Seq("sm_pos", "sm_url")))
    val smDocs = corpus
      .join(broadcast(ptrs), col("p_url") === col("sm_url"))
      .select(col("sm_pos"), col("p_status").as("s_status"),
        col("p_html").as("s_body"))
    val locsU = udf((status: java.lang.Integer, b: Array[Byte]) =>
      if (status == null || status.intValue() < 200 ||
          status.intValue() >= 300 || b == null) Seq.empty[String]
      else graft.sitemap.Sitemap.parse(
        new String(b, java.nio.charset.StandardCharsets.UTF_8))
        .map(_.loc))
    smDocs
      .select(col("sm_pos"),
        posexplode(locsU(col("s_status"), col("s_body")))
          .as(Seq("loc_pos", "url")))
      .select(col("url"), lit(spec.parserId).as("parser_id"),
        lit(-1L).as("parent_rank"),
        (col("sm_pos") * 65536 + col("loc_pos")).as("link_pos"),
        lit(1).as("depth"),
        typedLit(Map.empty[String, String]).as("meta"))
  }

  /** The request chain between politeness and the fetch: robots gate →
    * cookie application → custom request middlewares → RFC2616 cache
    * decision. Returns (toFetch, cache-served rows, audit increments);
    * toFetch carries the cache columns (k_headers, k_body, k_ct,
    * cache_action) through the fetch for the validator/304 merge.
    */
  private[graft] def requestGate(granted: DataFrame, spec: CrawlSpec,
      wave: Int, robotRules: DataFrame, jar: CookieJar, cookiesActive: Boolean,
      requestMiddlewares: Seq[DataFrame => DataFrame],
      cache: Option[DataFrame]): (DataFrame, Option[DataFrame], Seq[DataFrame]) = {
    val auditInc = Seq.newBuilder[DataFrame]
    val (robotsOk, robotsBlocked) =
      if (spec.robotsTxtDisabled)
        (granted, emptyFrontier(granted.sparkSession))
      else {
        // full-REP gate: longest-match over the UA-selected group's
        // Allow/Disallow rules (wildcards + end anchors) — see
        // RobotsRules.allowedRows
        val isBlocked = udf((path: String, rules: Seq[Row]) =>
          rules != null && rules.nonEmpty &&
            !RobotsRules.allowedRows(path, rules))
        val j = granted.join(broadcast(robotRules),
          col("host") === col("r_host"), "left")
        (j.filter(col("is_retry") ||
            !isBlocked(col("path"), col("rules")))
           .drop("r_host", "rules", "crawl_delay"),
         j.filter(!col("is_retry") &&
            isBlocked(col("path"), col("rules")))
           .drop("r_host", "rules", "crawl_delay"))
      }
    auditInc += robotsBlocked.select(col("wave"), lit("robots_forbidden"),
      col("method"), lit(0), col("host"), col("url"), lit(""))

    // ---- cookie jar: apply accumulated per-host cookies ------------------
    // (client/client.go:250-272 — the http.Client jar; corpus-mode: the
    // Cookie header the request would carry is exposed to parsers as
    // meta("cookie"), and Set-Cookie responses feed the jar after the fetch)
    // Deterministic wave clock for cookie expiry (the RFC2616 fake-clock
    // pattern): receipt/expiry arithmetic is reproducible across runs.
    val waveNowEpoch = waveClock(spec, wave)
    val withCookies =
      if (!cookiesActive || !jar.nonEmpty) robotsOk
      else {
        // Split jar application (scale shape): HOST-ONLY cookies — the
        // dominant population — stay on the per-host broadcast equi-join
        // (their key domain IS the exact host). DOMAIN cookies shard on a
        // derived registrable-domain-ish key: §5.1.3 domain-match (H == D
        // or H ends with "."+D) forces H and D to share their trailing two
        // labels, so keying BOTH sides by last-two-labels is a lossless
        // bucketing — the domain slice grows per key instead of globbing
        // into one unbounded collect_list row (round-4 verdict). A
        // single-label Domain (TLD-wide — settable because the jar, like the
        // reference's `cookiejar.New(nil)`, has no PSL) has no two-label
        // key; that pathological slice rides the old bounded single-row
        // broadcast, flag-gated so the common path never builds it. The
        // header UDF applies the exact RFC filters per request (full
        // domain-match incl. subdomains, path-match, Secure on https only,
        // unexpired at the wave clock) over the concatenated slices and
        // emits Go-jar-ordered name=value pairs — replacement was already
        // applied at accumulation.
        val cookieJar = jar.df
        val jarStruct = struct(col("c_name"), col("c_domain"),
          col("c_hostonly"), col("c_path"), col("c_value"),
          col("c_secure"), col("c_expires"), col("c_wave"))
        def lastTwo(c: Column): Column = {
          val parts = split(c, "\\.")
          when(size(parts) <= 2, c)
            .otherwise(concat_ws(".", slice(parts, -2, 2)))
        }
        val nLabels = size(split(col("c_domain"), "\\."))
        val hostAgg = cookieJar.filter(col("c_hostonly"))
          .groupBy(col("c_domain").as("jh_host"))
          .agg(collect_list(jarStruct).as("jar_h"))
        val jarColType = hostAgg.schema("jar_h").dataType
        val base = robotsOk
          .join(broadcast(hostAgg), col("host") === col("jh_host"), "left")
        val withDom =
          if (!jar.hasDomain)
            base.withColumn("jar_d", lit(null).cast(jarColType))
          else base.join(
            broadcast(cookieJar
              .filter(!col("c_hostonly") && nLabels >= 2)
              .groupBy(lastTwo(col("c_domain")).as("jd_key"))
              .agg(collect_list(jarStruct).as("jar_d"))),
            lastTwo(col("host")) === col("jd_key"), "left")
        val withTld =
          if (!jar.hasTld)
            withDom.withColumn("jar_t", lit(null).cast(jarColType))
          else withDom.crossJoin(
            broadcast(cookieJar
              .filter(!col("c_hostonly") && nLabels < 2)
              .agg(collect_list(jarStruct).as("jar_t"))))
        val headerU = udf((url: String, host: String, path: String,
            jarH: Seq[Row], jarD: Seq[Row], jarT: Seq[Row]) =>
          Cookies.header(url, host, path, waveNowEpoch,
            (if (jarH == null) Seq.empty else jarH) ++
              (if (jarD == null) Seq.empty else jarD) ++
              (if (jarT == null) Seq.empty else jarT)))
        withTld
          .withColumn("cookie_hdr",
            headerU(col("url"), col("host"), col("path"),
              col("jar_h"), col("jar_d"), col("jar_t")))
          .withColumn("meta",
            when(col("cookie_hdr").isNotNull,
              map_concat(
                map_filter(col("meta"), (k, _) => k =!= "cookie"),
                map(lit("cookie"), col("cookie_hdr"))))
              // no applicable cookie → STRIP any cookie inherited via meta
              // propagation from the parent (the jar, not the parent's
              // request, owns the Cookie header; custom middlewares still
              // inject later in the chain)
              .otherwise(
                map_filter(col("meta"), (k, _) => k =!= "cookie")))
          .drop("jh_host", "jar_h", "jd_key", "jar_d", "jar_t",
            "cookie_hdr")
      }

    // ---- custom request middlewares (geziyor.go:128-130: appended after
    // the built-in chain). A middleware may mutate columns (e.g. meta)
    // and/or set `cancelled` = true (Request.Cancelled analog — dropped
    // from the wave, audited).
    val afterReqMw =
      if (requestMiddlewares.isEmpty) withCookies
      else {
        val base = withCookies.withColumn("cancelled", lit(false))
        val out = requestMiddlewares.foldLeft(base)((df, mw) => mw(df))
        auditInc += out.filter(col("cancelled"))
          .select(col("wave"), lit("cancelled"), col("method"), lit(0),
            col("host"), col("url"), lit(""))
        out.filter(!col("cancelled")).drop("cancelled")
      }

    // ---- RFC2616 cache decision (cache/cache.go:182-265) -----------------
    // serve_cached rows never reach the fetch join (no re-fetch);
    // revalidate rows carry the cached entry through the fetch for the
    // validator/304 merge; gateway_504 (only-if-cached miss) is audited and
    // dropped. The decision is a classifier over the cached entry's headers
    // (Freshness.decide — the pure engine); the clock is injected via
    // spec.cacheNowEpochSec (fake-clock determinism).
    val (toFetch, cacheServed) = cache match {
      case None =>
        (afterReqMw
          .withColumn("k_headers",
            lit(null).cast("map<string,string>"))
          .withColumn("k_body", lit(null).cast("binary"))
          .withColumn("k_ct", lit(null).cast("string"))
          .withColumn("cache_action", lit("fetch")),
         None)
      case Some(cacheDf) =>
        val cacheNow = Instant.ofEpochSecond(spec.cacheNowEpochSec)
        val reqHeaders = CrawlSpec.DefaultHeaders
        val decideU = udf((method: String, cached: Map[String, String]) =>
          Freshness.decide(method, reqHeaders, Option(cached), cacheNow) match {
            case Freshness.ServeCached => "serve_cached"
            case _: Freshness.Revalidate => "revalidate"
            case Freshness.FetchAndStore => "fetch"
            case Freshness.FetchNoStore => "fetch_no_store"
            case Freshness.GatewayTimeout504 => "gateway_504"
          })
        val cached = cacheDf.select(
          col("url").as("k_url"),
          col("headers").as("k_headers"),
          col("body").as("k_body"),
          col("content_type").as("k_ct"))
        val tagged = afterReqMw
          .join(cached, col("url") === col("k_url"), "left")
          .drop("k_url")
          .withColumn("cache_action",
            when(col("k_headers").isNull,
              when(lit(reqHeaders.exists(h =>
                  h._1.equalsIgnoreCase("Cache-Control") &&
                    h._2.contains("only-if-cached"))),
                lit("gateway_504")).otherwise(lit("fetch")))
              .otherwise(
                // Dummy policy (cache/cache.go:136-173): a cached entry is
                // always served, never revalidated
                if (spec.cachePolicy == "dummy") lit("serve_cached")
                else decideU(col("method"), col("k_headers"))))
        auditInc += tagged.filter(col("cache_action") === "gateway_504")
          .select(col("wave"), lit("gateway_504"), col("method"),
            lit(504), col("host"), col("url"), lit(""))
        (tagged.filter(col("cache_action") =!= "serve_cached" &&
            col("cache_action") =!= "gateway_504"),
         Some(tagged.filter(col("cache_action") === "serve_cached")))
    }
    (toFetch, cacheServed, auditInc.result())
  }

  /** Deterministic wave clock (epoch seconds) for cookie expiry and WARC
    * dates.
    */
  private def waveClock(spec: CrawlSpec, wave: Int): Long =
    spec.cacheNowEpochSec + wave.toLong * spec.waveIntervalMs / 1000L

  /** Fetch join with transparent redirect following, up to `maxRedirect`
    * hops. `pending` must be materialized (it is probed once per hop).
    * Returns (fetched, the per-hop joins it persisted — the caller releases
    * them once everything reading `fetched` has materialized). Fetched rows
    * are the pending columns plus cur_url, hops, the corpus p_* columns and
    * redirect_exceeded.
    */
  private[graft] def fetchJoin(pending: DataFrame, corpus: DataFrame,
      maxRedirect: Int): (DataFrame, Seq[DataFrame]) = {
    val held = Seq.newBuilder[DataFrame]
    var hopIn = pending
      .withColumn("cur_url", col("url")).withColumn("hops", lit(0))
    var fetched = hopIn.limit(0)
      .withColumn("p_status", lit(null).cast("int"))
      .withColumn("p_ct", lit(null).cast("string"))
      .withColumn("p_html", lit(null).cast("binary"))
      .withColumn("p_text", lit(null).cast("string"))
      .withColumn("p_setck", lit(null).cast("string"))
      .withColumn("p_etag", lit(null).cast("string"))
      .withColumn("p_lastmod", lit(null).cast("string"))
      .withColumn("p_latency", lit(null).cast("long"))
      .withColumn("p_warc_ts", lit(null).cast("timestamp"))
      .withColumn("redirect_exceeded", lit(false))
    var hop = 0
    while (hop <= maxRedirect && !hopIn.isEmpty) {
      // Materialize the fetch join ONCE per hop: the delivered rows
      // (finals) and the redirect continuation are then cheap filters over
      // the cached join. The r1-r5 shape executed the join TWICE per wave —
      // once eagerly for the redirect probe's checkpoint and once more when
      // the lazy `finals` union materialized downstream.
      // persist+count, NOT localCheckpoint: downstream `fetched` unions
      // filters of this frame, and a LogicalRDD child whose carried
      // constraints mention pruned attributes trips Catalyst's
      // Union.rewriteConstraints (key-not-found on the status attr); the
      // InMemoryRelation path keeps the original plan's attributes.
      val j = hopIn.join(corpus, col("cur_url") === col("p_url"), "left")
        .drop("p_url").persist(StorageLevel.MEMORY_AND_DISK)
      j.count()
      held += j
      val isRedir = col("p_status").isin(RedirectStatuses.map(Integer.valueOf): _*) &&
        col("p_loc").isNotNull
      val finals = j.filter(!isRedir || lit(hop == maxRedirect))
        .withColumn("redirect_exceeded", isRedir)
        .drop("p_loc")
      fetched = fetched.unionByName(finals)
      hopIn =
        if (hop == maxRedirect) hopIn.limit(0)
        else {
          // Go http.Client redirect semantics (behind the reference's
          // client/client.go:303-311): 301/302/303 rewrite a non-GET/HEAD
          // method to GET and DROP the request body; 307/308 preserve
          // method + body through the hop.
          val rewrite = col("p_status").isin(301, 302, 303) &&
            col("method") =!= "GET" && col("method") =!= "HEAD"
          j.filter(isRedir)
            // evaluate the rewrite predicate ONCE against the original
            // method (the method withColumn below would otherwise feed the
            // already-rewritten GET into the meta step's predicate)
            .withColumn("mrw", rewrite)
            .withColumn("method",
              when(col("mrw"), lit("GET")).otherwise(col("method")))
            .withColumn("meta",
              when(col("mrw"),
                map_filter(col("meta"), (k, _) => k =!= "body"))
                .otherwise(col("meta")))
            .drop("mrw")
            .withColumn("cur_url", col("p_loc"))
            .withColumn("hops", col("hops") + 1)
            .drop("p_status", "p_ct", "p_html", "p_text", "p_setck",
              "p_etag", "p_lastmod", "p_latency", "p_warc_ts", "p_loc")
        }
      hop += 1
    }
    (fetched, held.result())
  }

  /** Validator / 304 merge for revalidations (cache/cache.go:210-239:
    * inject If-None-Match/If-Modified-Since; corpus-mode "304" = the live
    * page still carries the cached entry's validators → keep the cached
    * body, merge headers), then the cache-served rows join the delivery
    * stream without fetching. Returns (fetched + revalidated_304, audit
    * increments).
    */
  private[graft] def mergeCache(fetched0: DataFrame,
      cacheServed: Option[DataFrame],
      cacheActive: Boolean): (DataFrame, Seq[DataFrame]) = {
    var fetched =
      if (cacheActive) {
        val hOf = (m: Column, k: String) => element_at(m, k)
        val notModified = col("cache_action") === "revalidate" &&
          col("p_status").isNotNull && (
            (col("p_etag").isNotNull &&
              col("p_etag") === hOf(col("k_headers"), "ETag")) ||
            (col("p_lastmod").isNotNull &&
              col("p_lastmod") === hOf(col("k_headers"), "Last-Modified")))
        fetched0
          .withColumn("revalidated_304", notModified)
          .withColumn("p_html",
            when(notModified, col("k_body")).otherwise(col("p_html")))
          .withColumn("p_ct",
            when(notModified, col("k_ct")).otherwise(col("p_ct")))
      } else fetched0.withColumn("revalidated_304", lit(false))
    val audits = Seq.newBuilder[DataFrame]
    cacheServed.foreach { served =>
      val asFetched = served
        .withColumn("cur_url", col("url"))
        .withColumn("hops", lit(0))
        .withColumn("p_status", lit(200))
        .withColumn("p_ct", col("k_ct"))
        .withColumn("p_html", col("k_body"))
        .withColumn("p_text", lit(null).cast("string"))
        .withColumn("p_setck", lit(null).cast("string"))
        .withColumn("p_etag", lit(null).cast("string"))
        .withColumn("p_lastmod", lit(null).cast("string"))
        .withColumn("p_latency", lit(null).cast("long"))
        .withColumn("p_warc_ts", lit(null).cast("timestamp"))
        .withColumn("redirect_exceeded", lit(false))
        .withColumn("revalidated_304", lit(false))
      fetched = fetched.unionByName(asFetched)
      audits += served.select(col("wave"), lit("cache_hit"),
        col("method"), lit(200), col("host"), col("url"), lit(""))
    }
    audits += fetched.filter(col("revalidated_304"))
      .select(col("wave"), lit("revalidate_304"), col("method"),
        col("p_status"), col("host"), col("url"), lit(""))
    (fetched, audits.result())
  }

  /** AIMD controller update (CrawlSpec.adaptiveRate): one map-side-combined
    * aggregate over the wave's fetches. A host is overloaded when ANY
    * response was slower than the threshold or 5xx. Observed hosts move
    * (halve / +2); unobserved hosts keep their cap. State stays one row per
    * observed host (a_host, acap).
    */
  private[graft] def updateHostCaps(fetched: DataFrame,
      hostCaps: Option[DataFrame], spec: CrawlSpec): DataFrame = {
    val overObs = fetched
      .filter(col("p_status").isNotNull)
      .groupBy(col("host"))
      .agg(max(
        when(col("p_latency").isNotNull &&
          col("p_latency") > lit(spec.adaptiveLatencyMs), 1)
          .when(col("p_status") >= 500, 1)
          .otherwise(0)).as("over"))
      .select(col("host").as("a_host"), col("over"))
    val prev = hostCaps.getOrElse(
      overObs.limit(0).select(col("a_host"),
        lit(null).cast("long").as("acap")))
    val init = lit(spec.adaptiveInitialCap.toLong)
    prev
      .join(overObs, Seq("a_host"), "full_outer")
      .select(col("a_host"),
        when(col("over") === 1,
          greatest(lit(1L),
            floor(coalesce(col("acap"), init) / 2).cast("long")))
          .when(col("over") === 0,
            least(lit(spec.adaptiveMaxCap.toLong),
              coalesce(col("acap"), init) + 2))
          .otherwise(col("acap")).as("acap"))
  }

  /** Cookie jar: accumulate Set-Cookie responses. RFC 6265 jar semantics
    * (net/http CookieJar via client/client.go:250-272): parse attributes
    * (Path with §5.1.4 default, Max-Age over Expires, Secure), key by
    * (host, name, path), latest wave replaces (ties broken by max value for
    * determinism); Max-Age ≤ 0 / past Expires is an EVICTION of the keyed
    * cookie. Returns the new materialized jar, or None when no response set
    * a cookie. Cheap pre-test: on the (common) waves with zero Set-Cookie
    * responses the jar machinery costs ONE early-exit filter scan of the
    * persisted `fetched` — no parse UDF, no distinct shuffle, no merge
    * window (round-4 per-wave overhead clawback).
    */
  private[graft] def absorbCookies(fetched: DataFrame, jar: CookieJar,
      spec: CrawlSpec, wave: Int): Option[CookieJar] = {
    if (fetched.filter(col("p_setck").isNotNull).isEmpty) return None
    val waveNowEpoch = waveClock(spec, wave)
    val parseCkU = udf((setCookie: String, host: String, path: String) =>
      Cookies.parse(setCookie, host, path, waveNowEpoch))
    val newCk = fetched.filter(col("p_setck").isNotNull)
      .select(parseCkU(col("p_setck"), col("host"), col("path")).as("ck"),
        lit(wave).as("c_wave"))
      .filter(col("ck").isNotNull)
      .select(col("ck.domain").as("c_domain"),
        col("ck.hostOnly").as("c_hostonly"),
        col("ck.name").as("c_name"), col("ck.path").as("c_path"),
        col("ck.value").as("c_value"), col("ck.secure").as("c_secure"),
        col("ck.expiresAt").as("c_expires"),
        col("ck.remove").as("c_remove"), col("c_wave"))
      .distinct()
    if (newCk.isEmpty) return None
    val merged = jar.df.withColumn("c_remove", lit(false))
      .unionByName(newCk)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("c_domain"), col("c_name"), col("c_path"))
          .orderBy(col("c_wave").desc, col("c_value").desc)))
      .filter(col("rn") === 1 && !col("c_remove") &&
        // purge rows already expired at the wave clock — dead cookies
        // would otherwise ride every snapshot rewrite forever on a long
        // crawl (they were already invisible to header(), which re-checks
        // expiry per request)
        (col("c_expires") < 0 ||
          col("c_expires") > lit(waveNowEpoch)))
      .drop("rn", "c_remove")
    Some(jarOf(merged.localCheckpoint(true)))
  }

  /** Retry re-enqueue. Two transient-error families
    * (client/client.go:94-121): transport errors (timeout analog: corpus
    * latency_ms > requestTimeoutMs) and retryable status codes. BOTH retry
    * up to retryTimes; exhaustion differs: a timeout never produced a
    * response → ErrorFunc analog (fetch_timeout audit, nothing delivered),
    * while an exhausted retryable STATUS response IS delivered to the parser
    * (geziyor.go:233-263: only err != nil routes to ErrorFunc).
    * Returns (next-wave retries in frontier columns, delivered responses,
    * audit increments). Delivered = real responses that are not being
    * retried this wave: clean statuses AND retry-exhausted retryable
    * statuses; timeouts never deliver (transport error).
    */
  private[graft] def splitRetries(fetched: DataFrame,
      spec: CrawlSpec): (DataFrame, DataFrame, Seq[DataFrame]) = {
    val retryCodes = spec.retryHttpCodes.toSeq.map(Integer.valueOf)
    val timedOut =
      if (spec.requestTimeoutMs > 0)
        col("p_status").isNotNull && col("p_latency").isNotNull &&
          col("p_latency") > lit(spec.requestTimeoutMs)
      else lit(false)
    val retryableStatus = col("p_status").isin(retryCodes: _*)
    val retryable = fetched.filter(
      (retryableStatus || timedOut) && !col("redirect_exceeded"))
    val requeue = retryable.filter(col("retry") < spec.retryTimes)
      .select(col("url"), col("host"), col("path"), col("depth"),
        col("method"), col("meta"), (col("retry") + 1).as("retry"),
        col("priority"), (col("wave") + 1).as("wave"), col("rank"),
        col("parser_id"), lit(true).as("is_retry"))
    val audits = Seq(
      retryable.filter(col("retry") < spec.retryTimes)
        .select(col("wave"), lit("retry"), col("method"), col("p_status"),
          col("host"), col("url"), concat(lit("attempt "), col("retry") + 1)),
      retryable.filter(col("retry") >= spec.retryTimes && !timedOut)
        .select(col("wave"), lit("retry_exhausted"), col("method"),
          col("p_status"), col("host"), col("url"),
          lit(s"gave up after ${spec.retryTimes} retries")),
      retryable.filter(col("retry") >= spec.retryTimes && timedOut)
        .select(col("wave"), lit("fetch_timeout"), col("method"), lit(-1),
          col("host"), col("url"),
          lit(s"timed out after ${spec.retryTimes} retries")))
    val delivered = fetched.filter(col("p_status").isNotNull &&
      !col("redirect_exceeded") && !timedOut &&
      (!retryableStatus || col("retry") >= spec.retryTimes))
    (requeue, delivered, audits)
  }

  /** Delivered responses as the parser sees them: the custom rendered
    * action program, then the custom response middlewares
    * (geziyor.go:121-126 appended chain).
    *
    * Custom rendered action program: doRequestChrome runs the action list
    * as part of the FETCH itself, before any response middleware
    * (client/client.go:133-139,171-247). A replaced PreActions list owns
    * capture — never captured ⇒ empty body; never navigated ⇒ document
    * response unset ⇒ StatusCode 0 (client.go:227-239). Pure per-row map
    * inside the fetch projection — no extra shuffle; the audit's crawled
    * row sees the post-program status, like the reference's delivered
    * Response.
    */
  private[graft] def respond(delivered: DataFrame,
      actionProg: Option[Seq[Actions.Action]],
      responseMiddlewares: Seq[DataFrame => DataFrame]): DataFrame = {
    val rendered = actionProg match {
      case Some(prog) =>
        val renderU = udf((u: String, t: String) => {
          val r = Actions.render(u, t, prog)
          (r.body, r.statusSet)
        })
        delivered
          .withColumn("r_out", renderU(col("cur_url"), col("p_text")))
          .withColumn("p_text", col("r_out._1"))
          .withColumn("p_status",
            when(col("r_out._2"), col("p_status")).otherwise(lit(0)))
          .drop("r_out")
      case None => delivered
    }
    responseMiddlewares.foldLeft(rendered)((df, mw) => mw(df))
  }

  /** Proxy identity in the audit (client/proxy.go:19-48; SURVEY §2.4):
    * stable stateless assignment by url hash (the q34 scale face — portable
    * md5 derivation, so the oracle can reproduce it).
    */
  private def crawlDetail(spec: CrawlSpec): Column =
    if (spec.proxyUrls.isEmpty) lit("")
    else {
      val pid = conv(substring(md5(col("url")), 1, 4), 16, 10)
        .cast("long") % spec.proxyUrls.size
      concat(lit("proxy="), pid, lit(":"),
        element_at(array(spec.proxyUrls.map(lit): _*),
          (pid + 1).cast("int")))
    }

  /** The delivered (body, content-type) columns. Rendered fetch mode
    * (client/client.go:171-247) delivers the pre-rendered DOM (`text`
    * variant, always utf-8 HTML) instead of the raw body — the corpus-mode
    * analog of GetRendered; a custom program's body IS whatever
    * GetOuterHTML captured (possibly empty) — no raw-html fallback, like
    * the reference — and a never-received document response leaves the
    * headers unset (res==nil).
    */
  private def deliveredBody(spec: CrawlSpec,
      actionProg: Option[Seq[Actions.Action]]): (Column, Column) =
    if (actionProg.isDefined)
      (encode(coalesce(col("p_text"), lit("")), "UTF-8"),
       when(col("p_status") === 0, lit(null).cast("string"))
         .otherwise(lit("text/html; charset=utf-8")))
    else if (spec.rendered)
      (when(col("p_text").isNotNull, encode(col("p_text"), "UTF-8"))
         .otherwise(col("p_html")),
       when(col("p_text").isNotNull, lit("text/html; charset=utf-8"))
         .otherwise(col("p_ct")))
    else (col("p_html"), col("p_ct"))

  /** WARC archive output (opt-in): this wave's delivered responses become
    * one ISO-28500 member file per partition under warcArchiveDir/wave-NNNN/
    * (WarcSink streams from the executors; warcDedup folds identical
    * payloads into revisit records). One extra action per wave, only when
    * the archive is requested.
    */
  private def writeWarc(responses: DataFrame, spec: CrawlSpec, wave: Int,
      bodyCol: Column, wd: String): Unit = {
    val captures = responses.select(
      col("cur_url").as("url"),
      coalesce(
        date_format(col("p_warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        lit("1970-01-01T00:00:00Z")).as("ts"),
      coalesce(bodyCol, lit(Array.emptyByteArray)).as("payload"))
    // every member opens with a warcinfo self-description (ISO 28500 §6.2,
    // the Common-Crawl member layout); dated by the deterministic wave clock
    val infoDate = java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(java.time.Instant.ofEpochSecond(waveClock(spec, wave)))
    graft.sinks.WarcSink.write(captures, f"$wd%s/wave-$wave%04d",
      dedup = spec.warcDedup, compress = spec.warcGzip,
      info = Some((infoDate, Seq(
        "software" -> "geziyorspark",
        "format" -> "WARC File Format 1.0",
        "wave" -> wave.toString))))
  }

  /** Decode + parse every delivered response: (url, host, depth, meta,
    * wave, rank, parser_id, records, links, parse_error).
    */
  private[graft] def parseExpand(responses: DataFrame, spec: CrawlSpec,
      parsers: Map[String, Parser], bodyCol: Column,
      ctCol: Column): DataFrame = {
    import responses.sparkSession.implicits._
    val reg = parsers
    val maxBody = spec.maxBodySize
    val parseHtmlDisabled = spec.parseHtmlDisabled
    val charsetDetectDisabled = spec.charsetDetectDisabled
    val sniffCt = spec.sniffContentType
    responses
      .select(col("url"), col("cur_url"), col("host"), col("depth"),
        col("method"), col("meta"), col("wave"), col("rank"),
        col("parser_id"), col("p_status"), ctCol.as("p_ct"),
        bodyCol.as("p_html"))
      .as[(String, String, String, Int, String, Map[String, String], Int,
        Long, String, Int, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (url, finalUrl, host, depth, method, meta, w, rank,
            parserId, status, ct, html) =>
          val body = CharsetDecode.truncate(html, maxBody)
          // opt-in fallback for absent Content-Type headers: sniff the
          // leading bytes (Latin-1 view — binary-safe) so a typeless HTML
          // page still parses; a server-provided type always wins
          // (reference parity: IsHTML is header-only,
          // client/response.go:36-44)
          val ctEff =
            if (sniffCt && (ct == null || ct.isEmpty) &&
                body != null && body.nonEmpty)
              ContentSniff.sniff(new String(body, 0,
                math.min(body.length, ContentSniff.MaxSniff),
                java.nio.charset.StandardCharsets.ISO_8859_1))
            else ct
          val isHead = method == "HEAD"
          val text =
            if (isHead) ""
            else if (charsetDetectDisabled) CharsetDecode.decodeRaw(body)
            else CharsetDecode.decode(body, ctEff)
          val html4Parse = CharsetDecode.isHtml(ctEff) && !parseHtmlDisabled
          Parsers.safeParse(reg)(parserId, finalUrl, text, html4Parse, meta) match {
            case Right(out) => (url, host, depth, meta, w, rank, parserId,
              out.records, out.links.map(d => (d.url, d.parserId)), null: String)
            case Left(err) => (url, host, depth, meta, w, rank, parserId,
              Seq.empty[String], Seq.empty[(String, String)], err)
          }
        }
      }
      .toDF("url", "host", "depth", "meta", "wave", "rank", "parser_id",
        "records", "links", "parse_error")
  }

  /** Discovered links → candidate urls: parsed links plus sitemap locs (the
    * same depth cap, domain filter, first-wins dedup and seen filter).
    * Returns (AllowedDomains-passing candidates, rejected candidates).
    */
  private[graft] def candidateLinks(parsed: DataFrame,
      sitemapCand: Option[DataFrame], spec: CrawlSpec): (DataFrame, DataFrame) = {
    val candLinks = parsed
      .select(col("rank").as("parent_rank"), col("depth"), col("meta"),
        posexplode(col("links")).as(Seq("link_pos", "link")))
      .select(col("link._1").as("url"), col("link._2").as("parser_id"),
        col("parent_rank"), col("link_pos"),
        (col("depth") + 1).as("depth"), col("meta"))
    val cand = sitemapCand
      .map(candLinks.unionByName(_)).getOrElse(candLinks)
      .filter(col("depth") <= spec.maxDepth)
      .withColumn("host", hostOfU(col("url")))
      .withColumn("path", pathOfU(col("url")))
    if (spec.allowedDomains.isEmpty) (cand, cand.limit(0))
    else (cand.filter(col("host").isin(spec.allowedDomains: _*)),
      cand.filter(!col("host").isin(spec.allowedDomains: _*)))
  }

  /** Intra-wave first-wins dedup (duplicate_requests.go:18 LoadOrStore):
    * one row per url, the first by `order`.
    */
  private[graft] def firstWins(cand: DataFrame, order: Seq[Column]): DataFrame =
    cand.withColumn("rn",
        row_number().over(Window.partitionBy(col("url")).orderBy(order: _*)))
      .filter(col("rn") === 1).drop("rn")

  /** First-wins dedup, then the seen filter: the candidates whose url is
    * in neither this wave's earlier rows nor `seen` (exact; the filter may
    * prefilter with a sketch — SeenSet.Filter).
    */
  private[graft] def dedupCandidates(cand: DataFrame, order: Seq[Column],
      seen: DataFrame, seenFilter: SeenSet.Filter): DataFrame =
    seenFilter(firstWins(cand, order), seen)

  /** Crawl-trap budget gate (CrawlSpec.trapTemplateBudget): cap each
    * (host, digit-run path template) at `budget` frontier entries,
    * crawl-lifetime. Split by the running granted-count state (host,
    * template, n_prev):
    *  - SATURATED templates (n_prev >= budget) cap their urls with a plain
    *    filter — no window, the steady-state cost of a detected trap is one
    *    broadcast-join predicate per wave;
    *  - ACTIVE templates rank their candidates deterministically
    *    (parent_rank, link_pos, url) and keep n_prev + rank <= budget.
    * Capped urls are audited and still flow into `seen`/sketches (candNew
    * is the seen increment), so they stay suppressed forever. The state
    * table is one row per DISTINCT template ever granted — bounded and
    * broadcastable at any crawl scale. Returns (granted, capped, new
    * counts).
    */
  private[graft] def trapGate(candNew: DataFrame, trapCounts: Option[DataFrame],
      budget: Int): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val spark = candNew.sparkSession
    val withT = candNew.withColumn("template",
      regexp_replace(col("path"), "[0-9]+", "N"))
    val counts = trapCounts.getOrElse {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("host", StringType),
          StructField("template", StringType),
          StructField("n_prev", LongType))))
    }
    val joined = withT
      .join(broadcast(counts), Seq("host", "template"), "left")
      .withColumn("n_prev", coalesce(col("n_prev"), lit(0L)))
    val saturated = joined.filter(col("n_prev") >= budget)
    val active = joined.filter(col("n_prev") < budget)
    val tw = Window.partitionBy(col("host"), col("template"))
      .orderBy(col("parent_rank").asc, col("link_pos").asc, col("url").asc)
    val rankedT = active.withColumn("t_rn", row_number().over(tw).cast("long"))
    val granted = rankedT
      .filter(col("n_prev") + col("t_rn") <= budget)
      .drop("t_rn")
    val capped = rankedT
      .filter(col("n_prev") + col("t_rn") > budget)
      .drop("t_rn")
      .unionByName(saturated)
    val newCounts = granted.groupBy(col("host"), col("template"))
      .agg(count(lit(1)).as("n_inc"))
    val nextCounts = counts
      .join(newCounts, Seq("host", "template"), "full_outer")
      .select(col("host"), col("template"),
        (coalesce(col("n_prev"), lit(0L)) +
          coalesce(col("n_inc"), lit(0L))).as("n_prev"))
    (granted.drop("template", "n_prev"), capped, nextCounts)
  }

  /** Next frontier: deferred (oldest pending) < retries < new discoveries,
    * ranked uniquely so the (wave, rank) record key is always a total
    * order. Sync-order mode (geziyor.go:225-227) = one global window (exact
    * reference order, parity/test mode); scale mode (DEFAULT) = bucketed
    * windows (unique + deterministic, P-way parallel, not a global total
    * order). Scale mode skips the discovery window ENTIRELY — the assembly
    * window orders new discoveries directly by (parent_rank, link_pos), so
    * only ONE bucketed window runs per wave (profiled: the second window was
    * a top per-wave cost).
    */
  private[graft] def assembleFrontier(deferred: DataFrame, requeue: DataFrame,
      discovered: DataFrame, spec: CrawlSpec, wave: Int): DataFrame = {
    val RankBuckets = 1024
    val ranked0 =
      if (spec.syncOrder) {
        val rw = Window.orderBy(col("parent_rank").asc, col("link_pos").asc)
        discovered.withColumn("rank", row_number().over(rw).cast("long"))
      } else discovered.withColumn("rank", lit(0L))
    val nextFrontier = ranked0
      .select(col("url"), col("host"), col("path"), col("depth"),
        lit("GET").as("method"), col("meta"), lit(0).as("retry"),
        lit(0).as("priority"), lit(wave + 1).as("wave"), col("rank"),
        col("parser_id"), lit(false).as("is_retry"),
        col("parent_rank").as("ord_a"),
        col("link_pos").cast("long").as("ord_b"))
    // assembly order keys: deferred/retries by their carried rank, new
    // discoveries by (parent_rank, link_pos) — unique within a wave in both
    // modes, so the assigned ranks are deterministic
    val assembled = deferred.withColumn("wave", col("wave") + 1)
      .withColumn("grp", lit(0))
      .withColumn("ord_a", col("rank")).withColumn("ord_b", lit(0L))
      .unionByName(requeue.withColumn("grp", lit(1))
        .withColumn("ord_a", col("rank")).withColumn("ord_b", lit(0L)))
      .unionByName(nextFrontier.withColumn("grp", lit(2)))
    val ranked =
      if (spec.syncOrder) {
        val fw = Window.orderBy(col("grp").asc, col("rank").asc)
        assembled.withColumn("rank", row_number().over(fw).cast("long"))
      } else {
        val bw = Window
          .partitionBy(pmod(hash(col("url")), lit(RankBuckets)))
          .orderBy(col("grp").asc, col("ord_a").asc, col("ord_b").asc)
        assembled.withColumn("rank",
          pmod(hash(col("url")), lit(RankBuckets)).cast("long") *
            lit(1L << 40) + row_number().over(bw).cast("long"))
      }
    ranked.drop("grp", "ord_a", "ord_b")
  }

  /** The wave's audit increment as one frame with normalized column names
    * (the audit branches select lit() columns whose auto-names would
    * otherwise leak into the delta parquet). Size-adaptive task count
    * (guide §2.2 fewer-larger-partitions): the ~10 audit branches are
    * filters over cached frames whose union otherwise fans one tiny
    * checkpoint job out into hundreds of near-empty tasks; below the
    * threshold the branches collapse into 4 tasks with identical rows. Big
    * waves keep their natural parallelism.
    */
  private[graft] def foldAudit(auditInc: Seq[DataFrame], frontierN: Long): DataFrame = {
    val raw = auditInc.reduce(_ union _).toDF(AuditCols: _*)
    if (frontierN < 100000L) raw.coalesce(4) else raw
  }

  def run(
      spark: SparkSession,
      spec: CrawlSpec,
      pages: DataFrame,
      parsers: Map[String, Parser] = Parsers.registry,
      stateDir: Option[String] = None,
      seedsDf: Option[DataFrame] = None,
      requestMiddlewares: Seq[DataFrame => DataFrame] = Nil,
      responseMiddlewares: Seq[DataFrame => DataFrame] = Nil,
      cacheDf: Option[DataFrame] = None): CrawlResult = {
    import spark.implicits._

    val cache = cacheDf.filter(_ =>
      spec.cachePolicy == "rfc2616" || spec.cachePolicy == "dummy")
    val cookiesActive = cookiesOn(spec, pages)
    // Rendered-mode custom action program (pipeline/Actions.scala): the
    // effective replaced-or-default PreActions plus appended per-request
    // actions (client/client.go:215-221). None = the default rendered path
    // (deliver the pre-rendered text variant untouched) stays zero-cost.
    val actionProg: Option[Seq[Actions.Action]] =
      if (spec.rendered &&
          (spec.preActions.isDefined || spec.requestActions.nonEmpty))
        Some(Actions.program(spec.preActions, spec.requestActions))
      else None
    val corpus = fetchCorpus(pages, spec, cache.nonEmpty)
    val (bodyCol, ctCol) = deliveredBody(spec, actionProg)

    val emptyAudit = Seq.empty[(Int, String, String, Int, String, String, String)]
      .toDF(AuditCols: _*)
    val emptyRecords = Seq.empty[(Int, Long, Int, String)]
      .toDF("wave", "rank", "seq", "json")
    val emptyOrder = Seq.empty[(Int, Long, String)].toDF("wave", "rank", "url")
    val emptyRules = Seq.empty[(String, Seq[RobotsRules.Rule], Option[Double])]
      .toDF("r_host", "rules", "crawl_delay")
    val emptyCookies =
      Seq.empty[(String, Boolean, String, String, String, Boolean, Long, Int)]
        .toDF("c_domain", "c_hostonly", "c_name", "c_path", "c_value",
          "c_secure", "c_expires", "c_wave")
    val emptySeen = emptyFrontier(spark).select(col("url"))

    // ---- resume or cold start -------------------------------------------
    var startWave = 0
    var frontier: DataFrame = null
    var seen = emptySeen
    var records = emptyRecords
    var audit = emptyAudit
    var order = emptyOrder
    var robotRules = emptyRules // (r_host, rules) for hosts seen so far
    var rulesDeltas = 0 // non-empty robots deltas since last compaction
    var jar = CookieJar(emptyCookies) // accumulated Set-Cookies
    // At cold start the seed set itself is the first seen-delta increment
    // (resume reconstructs `seen` as the union of committed increments).
    var coldSeedSeen: Option[DataFrame] = None

    stateDir.flatMap(StateStore.latestCommitted) match {
      case Some(w) =>
        val dir = stateDir.get
        frontier = StateStore.read(spark, dir, w, "frontier")
        robotRules = StateStore.read(spark, dir, w, "robot_rules")
        // accumulators resume as the union of committed per-wave deltas
        val seenDeltas = StateStore.readDeltas(spark, dir, "seen", w)
        // Legacy-layout guard (round-3 advice): a checkpoint written by the
        // pre-delta format stored accumulators as wave=N snapshots; reading
        // it with the delta reader would silently resume with an EMPTY seen
        // set (re-fetching everything) and drop all prior records. Fail
        // loudly instead of corrupting the crawl.
        if (seenDeltas.isEmpty && StateStore.hasTable(dir, w, "seen"))
          throw new IllegalStateException(
            s"checkpoint at $dir wave=$w uses the legacy pre-delta layout " +
              "(accumulators under wave=N/ snapshots, no delta/ dir); " +
              "resuming would silently lose the seen set and all records — " +
              "re-run the crawl from scratch or migrate the checkpoint " +
              "(copy wave=N/<table> to delta/<table>/wave=N)")
        seen = seenDeltas.getOrElse(emptySeen)
        records = StateStore.readDeltas(spark, dir, "records", w)
          .getOrElse(emptyRecords)
        audit = StateStore.readDeltas(spark, dir, "audit", w)
          .getOrElse(emptyAudit)
        order = StateStore.readDeltas(spark, dir, "crawl_order", w)
          .getOrElse(emptyOrder)
        if (StateStore.hasTable(dir, w, "cookies"))
          jar = resumeJar(StateStore.read(spark, dir, w, "cookies"), dir, w)
        startWave = w + 1
      case None =>
        val (f, s) = seedFrontier(spark, spec, seedsDf)
        frontier = f
        seen = s
        coldSeedSeen = Some(s)
    }

    // per-wave counters + per-partition lineage of the granted set
    // (north-star: frontier mutations emit lineage + metrics to the audit
    // store). Tiny driver-side buffers — ≤ #partitions rows per wave.
    val metricsBuf = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    val lineageBuf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]

    // Per-wave persists live until the end of the crawl: the records/
    // audit/order accumulators union LAZY references into them, so each
    // wave's pipeline materializes exactly once (at its own checkpoint
    // points), and the accumulated outputs are folded ONCE at loop exit.
    val persisted = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Dataset[_]]

    // Seen filter with incremental sketch state (SeenSet.Filter): the
    // Bloom/cuckoo accelerators bootstrap once from the full seen set and
    // then absorb each wave's increment — never a full rebuild per wave.
    val seenFilter = new SeenSet.Filter(spec.bloomDedup, spec.cuckooDedup, seen)
    // crawl-trap gate state: (host, template) → urls granted so far; one
    // row per distinct template ever granted (bounded, broadcast side)
    var trapCounts: Option[DataFrame] = None
    // AIMD rate state (CrawlSpec.adaptiveRate): host → current grant cap;
    // one row per host ever OBSERVED in a fetch wave (bounded, broadcast)
    var hostCaps: Option[DataFrame] = None

    val debug = sys.env.contains("GRAFT_WAVE_DEBUG")
    def dbg(tag: String, t0: Long): Long = {
      val t = System.nanoTime()
      if (debug) println(f"[wave-debug] $tag%-24s ${(t - t0) / 1e9}%8.2fs")
      t
    }

    // live counter snapshot — re-rendered per scrape by the metrics
    // endpoint (metrics/metrics.go:100-115) and reused for the final
    // CrawlResult.metrics table
    // Scrapes run on the MetricsServer's HTTP handler threads while the
    // wave loop appends to metricsBuf / reassigns `audit` — snapshot both
    // under the shared metricsBuf lock so a mid-append scrape never sees a
    // torn buffer copy or a half-built audit plan.
    def liveMetrics(): DataFrame = {
      val (auditSnap, bufSnap) = metricsBuf.synchronized {
        (audit, metricsBuf.toList)
      }
      val auditMetrics = auditSnap
        .groupBy(col("wave"), col("kind").as("metric"))
        .agg(count(lit(1)).as("value"))
      auditMetrics.union(bufSnap.toDF("wave", "metric", "value"))
    }
    val metricsServer = graft.metrics.MetricsServer.start(
      spec.metricsType, () => liveMetrics(), spec.metricsPort)

    val side = new SidePool

    var wave = startWave
    var done = false
    frontier = frontier.localCheckpoint(true)
    try {
    while (!done && wave < spec.maxWaves) {
      // ONE count action doubles as the emptiness probe AND the
      // frontier_size metric (isEmpty + a later count() were two separate
      // jobs per wave through r5; frontier is checkpointed, so the count
      // scans cached partitions)
      val frontierN = frontier.count()
      if (frontierN == 0) { done = true }
      else {
        var tMark = System.nanoTime()
        if (debug) println(s"[wave-debug] ==== wave $wave ====")
        val auditInc = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

        val (granted2, deferred2) = grantPoliteness(frontier, spec,
          if (spec.honorCrawlDelay && !spec.robotsTxtDisabled) Some(robotRules)
          else None,
          hostCaps)

        // ---- robots: incrementally fetch rules for NEW hosts ------------
        val newRules =
          if (spec.robotsTxtDisabled) None
          else fetchRobots(granted2, robotRules, corpus, spec)
        newRules.foreach { nr =>
          auditInc ++= robotsAudit(nr, wave)
          robotRules = robotRules.union(nr.select(col("host").as("r_host"),
            col("rules"), col("crawl_delay")))
          // the rules cache compacts every 8th delta (plan-width bound,
          // like `seen`) instead of checkpointing per wave
          rulesDeltas += 1
          if (rulesDeltas % 8 == 0)
            robotRules = robotRules.localCheckpoint(true)
        }
        // sitemap-discovered candidate links for THIS wave's new hosts
        val sitemapCand =
          if (spec.sitemapDiscovery) newRules.map(sitemapLinks(_, corpus, spec))
          else None

        granted2.persist(StorageLevel.MEMORY_AND_DISK)
        deferred2.persist(StorageLevel.MEMORY_AND_DISK)

        val (toFetch, cacheServed, gateAudit) = requestGate(granted2, spec,
          wave, robotRules, jar, cookiesActive, requestMiddlewares, cache)
        auditInc ++= gateAudit

        // ---- fetch join with transparent redirect following -------------
        val pending = toFetch.localCheckpoint(true)

        tMark = dbg("politeness+robots+chk", tMark)
        // order/metrics/lineage read from the materialized pending set —
        // no recompute of the politeness/robots pipeline
        val orderInc = pending.select(col("wave"), col("rank"), col("url"))
        order = order.union(orderInc)
        metricsBuf.synchronized {
          metricsBuf += ((wave, "frontier_size", frontierN))
        }
        // lineage scans only the just-checkpointed pending set — run it
        // CONCURRENTLY with the fetch loop (its job back-fills executor
        // slots the fetch join leaves idle) and fold the rows in before the
        // wave closes
        val lineageF = side.submit {
          pending.groupBy(spark_partition_id().as("pid"))
            .agg(count(lit(1)).as("n")).collect()
        }
        val (fetched0, hopJoins) = fetchJoin(pending, corpus, spec.maxRedirect)
        persisted ++= hopJoins
        tMark = dbg("order+metrics+lineage", tMark)

        val (merged, cacheAudit) = mergeCache(fetched0, cacheServed, cache.nonEmpty)
        auditInc ++= cacheAudit
        // fetched stays persisted even though its union children are narrow
        // filters over the already-cached per-hop joins: the InMemoryRelation
        // is ALSO the attribute barrier that keeps downstream localCheckpoint
        // constraint snapshots stable — without it, optimizer-rewritten union
        // attribute ids leak into LogicalRDD originConstraints and Catalyst's
        // Union.rewriteConstraints throws key-not-found on later analysis
        // (observed on the AIMD/randomized-parity paths). Fill cost is one
        // pass over cached blocks, not a join re-execution.
        val fetched = merged.persist(StorageLevel.MEMORY_AND_DISK)
        persisted += fetched

        // fetch misses = transport-error analog → ErrorFunc audit branch
        auditInc += fetched.filter(col("p_status").isNull)
          .select(col("wave"), lit("fetch_miss"), col("method"), lit(-1),
            col("host"), col("url"),
            concat(lit("no such page: "), col("cur_url")))
        auditInc += fetched.filter(col("redirect_exceeded"))
          .select(col("wave"), lit("redirect_exceeded"), col("method"),
            col("p_status"), col("host"), col("url"),
            lit(s"stopped after ${spec.maxRedirect} redirects"))

        if (spec.adaptiveRate)
          hostCaps = Some(updateHostCaps(fetched, hostCaps, spec)
            .localCheckpoint(true))
        if (cookiesActive)
          absorbCookies(fetched, jar, spec, wave).foreach(jar = _)

        val (requeue, delivered, retryAudit) = splitRetries(fetched, spec)
        auditInc ++= retryAudit

        // ---- deliver responses → decode → parse --------------------------
        val responses = respond(delivered, actionProg, responseMiddlewares)
        if (!spec.logDisabled)
          auditInc += responses.select(col("wave"), lit("crawled"),
            col("method"), col("p_status"), col("host"), col("url"),
            crawlDetail(spec))
        else {
          // LogDisabled kills the log lines, NOT the counters
          // (metrics.go counters live outside LogStats) — keep the
          // per-wave crawled count in the metrics table directly.
          val crawledN = responses.count() // Spark action OUTSIDE the lock
          metricsBuf.synchronized {
            metricsBuf += ((wave, "crawled", crawledN))
          }
        }
        spec.warcArchiveDir.foreach(writeWarc(responses, spec, wave, bodyCol, _))

        val parsed = parseExpand(responses, spec, parsers, bodyCol, ctCol)
          .persist(StorageLevel.MEMORY_AND_DISK)

        tMark = dbg("fetch-loop(lazy)", tMark)
        auditInc += parsed.filter(col("parse_error").isNotNull)
          .select(col("wave"), lit("parse_error"), lit("GET"), lit(0),
            col("host"), col("url"), col("parse_error"))

        val recordsInc = parsed
          .select(col("wave"), col("rank"),
            posexplode(col("records")).as(Seq("seq", "json")))
        records = records.union(recordsInc)

        // ---- discovered links → next frontier ----------------------------
        val (candAllowed, candRejected) =
          candidateLinks(parsed, sitemapCand, spec)
        auditInc += candRejected
          .select(lit(wave), lit("rejected_domain"), lit("GET"), lit(0),
            col("host"), col("url"), lit(""))

        // seen filter (GETs only; URLRevisitEnabled disables). Checkpointed
        // ONCE: both consumers (seen increment + next-frontier ranking)
        // read the materialized result — without this the dedup-window +
        // anti-join pipeline ran twice per wave (profiled as the two
        // dominant per-wave stages).
        val linkOrder = Seq(col("parent_rank").asc, col("link_pos").asc)
        val candNew =
          (if (spec.urlRevisitEnabled) firstWins(candAllowed, linkOrder)
           else dedupCandidates(candAllowed, linkOrder, seen, seenFilter))
            .localCheckpoint(true)
        // absorb the materialized increment into the running sketches —
        // O(increment) per wave, no full-seen rescan, no count() on `seen`
        seenFilter.absorb(candNew)

        val candGranted = spec.trapTemplateBudget match {
          case Some(budget) =>
            val (g, capped, counts) = trapGate(candNew, trapCounts, budget)
            auditInc += capped.select(lit(wave), lit("trap_capped"),
              lit("GET"), lit(0), col("host"), col("url"), col("template"))
            trapCounts = Some(counts.localCheckpoint(true))
            g
          case None => candNew
        }

        tMark = dbg("records-chk", tMark)
        // candNew is unique per wave and anti-joined against seen, so the
        // increment needs no distinct — and it's a projection of the
        // already-checkpointed candNew, so this is free
        val seenInc = coldSeedSeen match {
          case Some(seeds) =>
            coldSeedSeen = None // seeds belong to the FIRST committed delta
            seeds.union(candNew.select(col("url")))
          case None => candNew.select(col("url"))
        }
        seen = seen.union(candNew.select(col("url")))
        // bound the in-loop union chain (round-3 verdict: a 1,000-wave crawl
        // otherwise carries a 1,000-way union through every anti-join's
        // analysis): compact every 8 waves — plan width stays ≤ 8 children
        // at an amortized O(|seen|/8 waves) copy cost. On a cluster this is
        // the state-table compaction; StateStore's resume reads already do
        // the equivalent single multi-path scan.
        if ((wave + 1) % 8 == 0) seen = seen.localCheckpoint(true)
        tMark = dbg("seen-increment-chk", tMark)
        // next-frontier assembly and the audit fold are independent (both
        // read only cached/checkpointed frames) — materialize them
        // CONCURRENTLY; the frontier future is awaited right after the
        // audit checkpoint completes
        val assembled =
          assembleFrontier(deferred2, requeue, candGranted, spec, wave)
        val frontierF = side.submit(assembled.localCheckpoint(true))
        tMark = dbg("frontier-assembly-async", tMark)
        // Materialize the wave's audit increment NOW, while granted2/fetched
        // are still cached: the audit branches re-run the gate/retry joins,
        // and deferring them to the end-of-crawl checkpoint (the r4 shape)
        // recomputed every wave's joins from UNPERSISTED inputs — profiled
        // as the dominant outside-loop cost on q17/q18. This also bounds
        // the audit plan to a union of materialized frames (the same
        // plan-width argument as the seen-chain compaction).
        val auditIncDf = foldAudit(auditInc.toSeq, frontierN).localCheckpoint(true)
        metricsBuf.synchronized { audit = audit.union(auditIncDf) }
        tMark = dbg("audit-fold-chk", tMark)
        frontier = side.await(frontierF)
        lineageBuf ++= side.await(lineageF)
          .map(r => (wave, r.getInt(0), r.getLong(1)))
        tMark = dbg("frontier-assembly-join", tMark)

        persisted += parsed
        granted2.unpersist()
        deferred2.unpersist()

        // Snapshot tables (bounded by live state) are rewritten whole;
        // accumulator tables commit ONLY this wave's increment — resume
        // unions the committed increments (StateStore scaladoc). Write
        // volume per wave is O(wave output), not O(crawl history).
        stateDir.foreach { dir =>
          StateStore.commitWave(dir, wave,
            snapshots = Map(
              "frontier" -> frontier,
              "robot_rules" -> robotRules, "cookies" -> jar.df),
            deltas = Map(
              "seen" -> seenInc, "records" -> recordsInc,
              "audit" -> auditIncDf, "crawl_order" -> orderInc))
        }
        wave += 1
      }
    }

    // single final materialization of the accumulated outputs, then release
    // the per-wave caches they were computed from
    records = records.localCheckpoint(true)
    locally {
      val a = audit.localCheckpoint(true) // action outside the lock
      metricsBuf.synchronized { audit = a }
    }
    order = order.localCheckpoint(true)
    persisted.foreach(_.unpersist())
    seenFilter.close()

    val metrics = liveMetrics()
    val lineage = lineageBuf.toSeq.toDF("wave", "partition_id", "n_rows")
    CrawlResult(records, audit, seen, order, metrics, lineage, wave)
    } finally {
      metricsServer.foreach(_.stop())
      side.close()
    }
  }
}
