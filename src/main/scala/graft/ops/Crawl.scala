package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PlanSeal.seal

/** The crawl graph — URL identity and the link structure of a crawled
  * corpus: canonicalization, URL-level dedup (the gate a crawl runs
  * BEFORE paying for content), link extraction from markup, the
  * host-level link graph, and a fixed-iteration PageRank over it (the
  * domain-quality prior Common-Crawl-derived corpora rank and sample
  * by).
  *
  * Everything before the graph ops is pure row-local column algebra —
  * zero shuffle at any corpus size, the same stance as [[Html]]. The
  * graph ops shuffle exactly what a distributed PageRank must: the
  * node-sized rank table, never document text.
  *
  * Cross-engine discipline: every pattern is in the Java-regex ∩ RE2
  * common subset (no backreferences, inline flags only) and published
  * as a constant the DuckDB twin interpolates; iterative arithmetic
  * follows the 12dp-decimal tier round-trip used by the LM family
  * (decimal sums are order-independent, so the only floating-point
  * ops are fixed-shape scalar expressions both engines evaluate
  * identically).
  *
  * STATE-INVALIDATION contract: `url_key = md5(canon_url)` is only
  * stable while the canonicalization RULES are stable. Any change to
  * the rule chain (e.g. the percent-encoding normalization and the
  * bare-`ref` tracking-list removal shipped in one upgrade) changes
  * the key of every URL the changed rule touches, so PERSISTED
  * key-keyed state written under the old rules — the streaming URL
  * gate's key history, frontier work lists, recrawl fetch logs,
  * stored dedup/redirect tables — no longer matches: a
  * previously seen URL whose key changed will be re-admitted and
  * re-queued once. Operators upgrading across a canonicalization
  * change must REBUILD those directories from raw inputs (or accept
  * the one-time re-admission); version-stamping history dirs with
  * [[CanonVersion]] makes the mismatch loud instead of silent.
  */
object Crawl {

  // ---- URL grammar (RFC-3986-ish, regex subset) ------------------------

  /** Leading/trailing whitespace stripped before parsing. Explicit
    * class — Java `\s` and RE2 `\s` disagree on VT, so neither is
    * used raw anywhere in the engine. */
  val WsTrimPat = "^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$"

  /** A URL still containing whitespace after the trim is invalid —
    * rejecting it up front also removes the Java-vs-RE2 `$`-before-
    * final-newline divergence from every anchored pattern below. */
  val InnerWsPat = "[ \\t\\n\\r\\f\\x0B]"

  /** Scheme (group 1), authority (group 1), path (group 1). The path
    * pattern spans scheme+authority so the three extracts are
    * independently anchored — no cross-engine group-numbering games. */
  val SchemePat = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  val AuthorityPat = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
  val PathPat = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"

  /** Fragment: everything from the first `#` (dropped — fragments are
    * client-side). Query: everything after the FIRST `?` of the
    * defragmented URL. `(?s)` so an embedded newline cannot split the
    * match (such URLs are rejected by [[InnerWsPat]] anyway). */
  val FragmentPat = "(?s)#.*$"
  val QueryPat = "(?s)^[^?]*\\?(.*)$"

  /** Authority internals: userinfo dropped, explicit port split off. */
  val UserinfoPat = "^[^@]*@"
  val PortPat = ":([0-9]+)$"

  /** Host normalization: trailing root-dot dropped, then a leading
    * `www.` (the single most common duplicate-URL alias). */
  val TrailingDotPat = "\\.$"
  val WwwPat = "^www\\."

  /** Trailing slashes collapse off the path (`/a/b/` ≡ `/a/b`); an
    * empty result renormalizes to `/`. Interior structure (including
    * `//` runs and dot-segments) is preserved — documented
    * approximation: full RFC 3986 dot-segment removal is rarely worth
    * its cost at crawl scale, and both engines must agree exactly. */
  val TrailingSlashPat = "/+$"

  /** Tracking parameters dropped from the query string before the
    * canonical sort — the closed list every published URL-dedup
    * pipeline starts from (UTM family, click ids, session echoes).
    * Matches the WHOLE `name=value` token (or a bare name). Bare
    * `ref` is NOT in the list: unlike the click-id family it is often
    * functional (a branch/page selector), and merging on it would
    * collapse genuinely distinct URLs (`ref_src` — Twitter's echo of
    * the referrer — stays). */
  val TrackingParamPat =
    "(?is)^(utm_[a-z0-9_]*|gclid|fbclid|msclkid|yclid|mc_eid|mc_cid|" +
      "igshid|_ga|ref_src)(=.*)?$"

  /** Registered-domain heuristic: a fixed list of common two-part
    * public suffixes (group 1 = label + suffix), else the last two
    * labels. The real public-suffix list is a data file; this
    * documented subset covers the dominant ccTLD second-levels and
    * degrades to the two-label rule — hosts that match neither (IDN,
    * single-label, IPs) fall back to the whole host. */
  val MultiSuffixPat =
    "([a-z0-9-]+\\.(?:co|com|net|org|gov|ac|edu|or|ne)\\." +
      "(?:uk|au|jp|br|cn|in|id|kr|nz|za|mx|tr|ar))$"
  val TwoLabelPat = "([a-z0-9-]+\\.[a-z0-9-]+)$"

  /** `href` attribute values, double- and single-quoted — two
    * patterns, not one alternation, so group numbering is identical
    * in both engines (unquoted hrefs are a documented skip). The
    * class before `href` is a required attribute boundary: without
    * it, attributes merely ENDING in `href` (`data-href`) would emit
    * spurious link targets. A closing QUOTE also counts as a
    * boundary — minified/malformed-but-recovered markup abuts a
    * quoted value directly against the next attribute
    * (`<a class="x"href="y">`), and real browsers accept it.
    * Explicit whitespace class — the engine-wide `\s` ban (Java and
    * RE2 disagree on VT). */
  val HrefDqPat = "(?is)<a[^>]*?[ \\t\\n\\r\\f\\x0B\"']href[ \\t]*=[ \\t]*\"([^\"]*)\""
  val HrefSqPat = "(?is)<a[^>]*?[ \\t\\n\\r\\f\\x0B\"']href[ \\t]*=[ \\t]*'([^']*)'"

  /** A link target carrying its own scheme (absolute, or a non-web
    * scheme like `mailto:`/`javascript:` — the canonicalizer keeps
    * only http/https, so those resolve to NULL). */
  val HasSchemePat = "^[A-Za-z][A-Za-z0-9+.-]*:"

  /** Rank values live between iterations as BIGINT "units" of 1e-12 —
    * integer space instead of the LM family's 12dp decimals, because
    * PageRank divides ranks by out-degrees and a 12dp value halved
    * lands EXACTLY on a 13th-digit 5 whenever its last digit is odd:
    * a systematic rounding tie that scaled double rounding may break
    * differently per engine. At scale 0 there is no scaling step —
    * `round(x, 0)` of the identical IEEE double is engine-exact (an
    * exact .5 is representable and both engines round it away from
    * zero) — and the per-node inbound sum is exact BIGINT addition,
    * order-independent under any shuffle. */
  val RankUnits = 1000000000000L

  /** Version of the URL-canonicalization RULE CHAIN — bump on ANY
    * semantic change to [[urlParts]]' rules (pattern lists, the
    * tracking-param set, percent-encoding handling). Persisted
    * key-keyed state (streaming history dirs) stamps this version so
    * a rules upgrade is detected loudly instead of silently
    * re-admitting every URL whose key changed (see the object
    * scaladoc's state-invalidation contract). History: v1 = original
    * chain; v2 = +pctNormalize, −bare-`ref` (round 14); v3 = href
    * boundary accepts a closing quote (round 15 — extraction, not
    * key, but extraction feeds the frontier's seen-set shape). */
  val CanonVersion = 3

  /** Percent-encoding normalization (RFC 3986 §6.2.2): a two-hex-digit
    * sequence after `%`, and the closed set of UNRESERVED codes
    * (ALPHA / DIGIT / `-` `.` `_` `~` — %41-5A, %61-7A, %30-39, %2D,
    * %2E, %5F, %7E) whose encoded and decoded forms are equivalent by
    * definition. Decoding a reserved code CAN change meaning (%2F vs
    * `/`), so those only hex-case-fold. */
  val PctHexPat = "^[0-9A-Fa-f]{2}"
  val PctUnreservedPat = "^(2[DE]|3[0-9]|4[1-9A-F]|5[0-9A]|5F|6[1-9A-F]|7[0-9A]|7E)$"

  // ---- URL canonicalization (row-local) --------------------------------

  private def trimmed(url: Column): Column =
    regexp_replace(coalesce(url, lit("")), WsTrimPat, "")

  /** Row-local percent-encoding normalization over the whole URL:
    * split at `%`, then per sequence decode the UNRESERVED codes
    * (`%7E` → `~` — the classic dup-miss vs the literal form) and
    * uppercase the hex of everything else (`%3a` → `%3A`, RFC 3986
    * §6.2.2.1); a `%` not followed by two hex digits passes through
    * verbatim (the URL is technically invalid — left for the grammar
    * gates to judge). Unreserved decode can never create a delimiter
    * or whitespace, so it is safe BEFORE the structural split. */
  private def pctNormalize(u: Column): Column =
    array_join(
      transform(split(u, "%", -1), (x, i) => {
        val hex2 = upper(substring(x, 1, 2))
        val rest = x.substr(lit(3), length(x))
        when(i === 0, x)
          .when(!x.rlike(PctHexPat), concat(lit("%"), x))
          .when(hex2.rlike(PctUnreservedPat), concat(decode(unhex(hex2), "UTF-8"), rest))
          .otherwise(concat(lit("%"), hex2, rest))
      }),
      "")

  /** The canonical parts of a URL as one struct column:
    * `(canon_url, host, domain)` — NULL `canon_url` when the input is
    * not an absolute http(s) URL (relative references, other schemes,
    * whitespace-bearing garbage).
    *
    * Rules, in order: trim → reject inner whitespace → lowercase
    * scheme and host (ONLY those — path/query case is significant) →
    * drop userinfo and fragment → drop default ports (80/http,
    * 443/https) → strip the host's trailing dot and a `www.` prefix →
    * collapse trailing path slashes (empty path → `/`) → drop
    * [[TrackingParamPat]] query params and SORT the survivors
    * (byte order; param order is almost never semantic, and the sort
    * is what makes `?a=1&b=2` ≡ `?b=2&a=1`). Percent-encoding is
    * normalized FIRST ([[pctNormalize]]: unreserved codes decode,
    * the rest hex-uppercase — `%7Euser` ≡ `~user`, `%3a` ≡ `%3A`). */
  /** The grammar's intermediate columns, built ONCE and shared by
    * every face ([[urlParts]], [[urlSignals]]) — Catalyst's
    * per-project subexpression elimination keeps the shared pieces
    * single-evaluated at runtime. */
  private final case class UrlCols(
      u0: Column, scheme: Column, port: Column, host: Column,
      defrag: Column, path: Column, rawParams: Column, keptParams: Column,
      keepPort: Column, canon: Column, domain: Column)

  private def urlCols(url: Column): UrlCols = {
    val u0 = pctNormalize(trimmed(url))
    val scheme = lower(regexp_extract(u0, SchemePat, 1))
    val hostport = regexp_replace(regexp_extract(u0, AuthorityPat, 1), UserinfoPat, "")
    val port = regexp_extract(hostport, PortPat, 1)
    val host = regexp_replace(
      regexp_replace(lower(regexp_replace(hostport, PortPat, "")), TrailingDotPat, ""),
      WwwPat, "")
    val defrag = regexp_replace(u0, FragmentPat, "")
    val path0 = regexp_replace(regexp_extract(defrag, PathPat, 1), TrailingSlashPat, "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val rawParams = filter(split(regexp_extract(defrag, QueryPat, 1), "&"),
      p => length(p) > lit(0))
    val keptParams = filter(rawParams, p => !p.rlike(TrackingParamPat))
    val query = array_join(array_sort(keptParams), "&")
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val canon = when(
      !u0.rlike(InnerWsPat) && scheme.isin("http", "https") && host =!= "",
      concat(scheme, lit("://"), host,
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
        path,
        when(length(query) > lit(0), concat(lit("?"), query)).otherwise(lit(""))))
    val domain = coalesce(
      nullif(regexp_extract(host, MultiSuffixPat, 1), lit("")),
      nullif(regexp_extract(host, TwoLabelPat, 1), lit("")),
      nullif(host, lit("")))
    UrlCols(u0, scheme, port, host, defrag, path, rawParams, keptParams,
      keepPort, canon, domain)
  }

  def urlParts(url: Column): Column = {
    val c = urlCols(url)
    struct(
      c.canon.as("canon_url"),
      when(c.canon.isNotNull, c.host).as("host"),
      when(c.canon.isNotNull, c.domain).as("domain"))
  }

  /** Scalar face: just the canonical URL (NULL when not canonical). */
  def canonicalizeUrl(url: Column): Column = urlParts(url).getField("canon_url")

  /** File-extension grammar for [[urlSignals]]: the last dot-suffix of
    * the canonical path, letters/digits only. */
  val FileExtPat = "\\.([A-Za-z0-9]+)$"

  /** URL shape signals — the quality features a crawl ranks fetches
    * by before it has content: `(doc_id, url, canon_url, is_https,
    * has_port, path_depth, n_params, n_tracking, host_labels,
    * file_ext, url_len)`. All but `url_len` are NULL when the URL
    * does not canonicalize (a non-web URL has no meaningful shape).
    * Pure row-local column algebra, the [[urlCanon]] stance. */
  def urlSignals(pages: DataFrame, urlCol: String = "url"): DataFrame = {
    val c = urlCols(col(urlCol))
    def gated(e: Column): Column = when(c.canon.isNotNull, e)
    graft.core.Parallelism.ensure(pages)
      .select(col("doc_id"), col(urlCol).as("url"),
        seal(struct(
          c.canon.as("canon_url"),
          gated(c.scheme === "https").as("is_https"),
          gated(c.keepPort).as("has_port"),
          gated(size(filter(split(c.path, "/"), s => length(s) > lit(0)))
            .cast("long")).as("path_depth"),
          gated(size(c.keptParams).cast("long")).as("n_params"),
          gated((size(c.rawParams) - size(c.keptParams)).cast("long")).as("n_tracking"),
          gated(size(filter(split(c.host, "[.]"), s => length(s) > lit(0)))
            .cast("long")).as("host_labels"),
          gated(lower(nullif(regexp_extract(c.path, FileExtPat, 1), lit("")))).as("file_ext"),
          length(c.u0).cast("long").as("url_len"))).as("sg"))
      .select(col("doc_id"), col("url"), col("sg.*"))
  }

  /** The REPORT face over a page table carrying `urlCol`: every input
    * row, plus `canon_url`/`host`/`domain` (NULLs for pages whose URL
    * does not canonicalize). Row-local; other columns pass through. */
  def urlCanon(pages: DataFrame, urlCol: String = "url"): DataFrame = {
    val keep = pages.columns.toSeq.filter(_ != urlCol).map(col)
    graft.core.Parallelism.ensure(pages)
      .select(keep :+ col(urlCol) :+ seal(urlParts(col(urlCol))).as("up"): _*)
      .select(keep :+ col(urlCol) :+ col("up.canon_url").as("canon_url") :+
        col("up.host").as("host") :+ col("up.domain").as("domain"): _*)
  }

  /** Digit runs in a path-and-query — the template hole marker's
    * grammar ([[urlTemplates]]). */
  val DigitRunPat = "[0-9]+"

  /** URL path-template mining — the crawl-trap detector's raw
    * material: collapse every canonical URL to
    * `(host, template)` where the template is the path-and-query with
    * each DIGIT RUN replaced by `{n}` (`/article/29481?page=3` →
    * `/article/{n}?page={n}`), then count pages and distinct URLs per
    * template, plus the template's share of its host's distinct URLs.
    * A crawl trap — calendar pagination, faceted search, session-id
    * echoes — surfaces as ONE template owning an unbounded and
    * growing `n_urls` (and usually most of `url_share`); a crawler
    * caps or blocks fetches per template the way [[crawlFrontier]]
    * caps per host. Letter-bearing ids (hex session tokens) stay
    * distinct — a documented approximation: digits-only templating is
    * deterministic and catches the dominant numeric-id trap class.
    *
    * Output: `(host, template, n_pages, n_urls, host_urls,
    * url_share)`. Non-canonical URLs have no template and drop.
    *
    * Scale shape: template derivation is row-local on top of
    * [[urlCanon]]; the aggregation shuffles `(host, template, url)`
    * once (the template table IS a URL-shaped list, the
    * [[crawlFrontier]] argument), distinct-counts ride separate
    * aggregates of one materialized projection (the repo-wide
    * no-Expand discipline), and the host totals join is
    * host-template-table-sized. */
  def urlTemplates(
      pages: DataFrame,
      urlCol: String = "url"): DataFrame = {
    val tpl = graft.core.Materialize(
      urlCanon(pages, urlCol)
        .where(col("canon_url").isNotNull)
        .select(col("host"),
          regexp_replace(
            regexp_replace(col("canon_url"), Robots.PathQueryPat, ""),
            DigitRunPat, "{n}").as("template"),
          col("canon_url")))
    val base = tpl.groupBy(col("host"), col("template"))
      .agg(count(lit(1)).as("n_pages"))
    val dist = tpl.select(col("host"), col("template"), col("canon_url")).distinct()
    val nUrls = dist.groupBy(col("host"), col("template"))
      .agg(count(lit(1)).as("n_urls"))
    val hostUrls = tpl.select(col("host"), col("canon_url")).distinct()
      .groupBy(col("host")).agg(count(lit(1)).as("host_urls"))
    base.join(nUrls, Seq("host", "template"))
      .join(hostUrls, Seq("host"))
      .withColumn("url_share",
        col("n_urls").cast("double") / col("host_urls").cast("double"))
  }

  /** The ENFORCEMENT face of [[urlTemplates]]: drop every URL row
    * whose `(host, template)` appears in `traps` — a trap table the
    * caller thresholds off [[urlTemplates]] output (`n_urls >= K`,
    * or a curated block list). Template derivation is the SAME
    * row-local digit-run collapse, so detection and enforcement
    * cannot drift; the trap table is template-count-sized and
    * broadcasts. Rows pass 1:1 (anti-join) — compose onto
    * [[crawlFrontier]]/[[politeFrontier]] output before fetching. */
  def blockTemplates(
      urls: DataFrame,
      traps: DataFrame,
      urlCol: String = "link_url",
      hostCol: String = "link_host",
      broadcastTraps: Boolean = true): DataFrame = {
    val t = traps.select(col("host").as(hostCol), col("template").as("_tpl"))
    val rhs = if (broadcastTraps) broadcast(t) else t
    urls
      .withColumn("_tpl",
        regexp_replace(
          regexp_replace(col(urlCol), Robots.PathQueryPat, ""),
          DigitRunPat, "{n}"))
      .join(rhs, Seq(hostCol, "_tpl"), "left_anti")
      .select(urls.columns.map(col): _*) // restore input column order
  }

  // ---- URL-level dedup -------------------------------------------------

  /** URL-identity dedup report: `(doc_id, url_key, keep)` — one row
    * per input page; `url_key` = md5 of the canonical URL (NULL when
    * the URL does not canonicalize — such pages are never URL-dups of
    * anything and always keep), `keep` marks the minimum-doc_id
    * winner of each canonical-URL group.
    *
    * Scale shape: only `(url_key, doc_id)` pairs shuffle — 16-byte
    * keys, never text or even the URL string; the winner join is a
    * group-table-sized equi-join. The content-dedup ladder
    * ([[Dedup]]) runs AFTER this gate on the survivors, so at crawl
    * scale the expensive signatures are never computed for re-crawled
    * URLs. */
  /** Winner selection over a `(doc_id, url_key)` table — the shared
    * core of both dedup faces. */
  private def dupFromKeys(keys: DataFrame): DataFrame = {
    val winners = keys.where(col("url_key").isNotNull)
      .groupBy("url_key").agg(min("doc_id").as("winner"))
    keys.join(winners, Seq("url_key"), "left")
      .select(col("doc_id"), col("url_key"),
        (col("url_key").isNull || col("doc_id") === col("winner")).as("keep"))
  }

  def urlDuplicates(pages: DataFrame, urlCol: String = "url"): DataFrame =
    dupFromKeys(graft.core.Parallelism.ensure(pages)
      .select(col("doc_id"), md5(canonicalizeUrl(col(urlCol))).as("url_key")))

  /** [[urlDuplicates]] under REDIRECT equivalence: a page whose URL
    * redirects to X is identical to a page AT X — each page's key
    * follows the redirect map one hop before hashing (chains are the
    * map owner's to pre-collapse; [[graft.sources.Warc.redirects]]
    * emits single hops). `redirectMap` is any `(url, redirect_to)`
    * table; both sides are canonicalized here, so raw crawl-log forms
    * are fine. The map is host-graph-sized next to a corpus —
    * broadcast by default; the shuffle still moves 16-byte keys
    * only. */
  def urlDuplicatesWithRedirects(
      pages: DataFrame,
      redirectMap: DataFrame,
      urlCol: String = "url",
      broadcastMap: Boolean = true): DataFrame = {
    // one target per source: an archive that captured a URL twice with
    // different Location headers must not fan a page into two rows with
    // conflicting keep flags — the minimum target wins deterministically
    val m = redirectMap.select(
      md5(canonicalizeUrl(col("url"))).as("url_key"),
      md5(canonicalizeUrl(col("redirect_to"))).as("target_key"))
      .where(col("url_key").isNotNull && col("target_key").isNotNull)
      .groupBy(col("url_key")).agg(min(col("target_key")).as("target_key"))
    val rhs = if (broadcastMap) broadcast(m) else m
    dupFromKeys(graft.core.Parallelism.ensure(pages)
      .select(col("doc_id"), md5(canonicalizeUrl(col(urlCol))).as("url_key"))
      .join(rhs, Seq("url_key"), "left")
      .select(col("doc_id"),
        coalesce(col("target_key"), col("url_key")).as("url_key")))
  }

  /** The STRIP face: pages minus URL-duplicate losers. Losers are a
    * (small) id set — the anti-join broadcasts under AQE; page text
    * never shuffles. */
  def dedupByUrl(pages: DataFrame, urlCol: String = "url"): DataFrame = {
    val losers = urlDuplicates(pages, urlCol)
      .where(!col("keep")).select(col("doc_id"))
    pages.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Per-host crawl accounting: `(host, n_pages, n_canonical,
    * n_distinct_urls, n_url_dups)` — the NULL host row buckets pages
    * whose URL does not canonicalize. The distinct-URL count is a
    * SEPARATE aggregate joined back on host (mixing countDistinct
    * into the main aggregate Expands every row — the corpus-profile
    * lesson); both aggregates move host-keyed counts only. */
  def hostSummary(pages: DataFrame, urlCol: String = "url"): DataFrame = {
    val keyed = urlCanon(pages, urlCol).select(col("host"), col("canon_url"))
    val base = keyed.groupBy(col("host"))
      .agg(count(lit(1)).as("n_pages"), count(col("canon_url")).as("n_canonical"))
    val dist = keyed.where(col("canon_url").isNotNull)
      .select(col("host"), col("canon_url")).distinct()
      .groupBy(col("host")).agg(count(lit(1)).as("n_distinct_urls"))
    base.join(dist, Seq("host"), "left")
      .select(col("host"), col("n_pages"), col("n_canonical"),
        coalesce(col("n_distinct_urls"), lit(0L)).as("n_distinct_urls"),
        (col("n_canonical") - coalesce(col("n_distinct_urls"), lit(0L)))
          .as("n_url_dups"))
  }

  // ---- Link extraction (row-local) -------------------------------------

  /** Outgoing links of each page: one row per `href` (double-quoted
    * first, then single-quoted — document order within each form),
    * entity-decoded ([[Html.Entities]] — `&amp;` in query strings is
    * the norm in markup), resolved against the page's CANONICAL
    * origin, and canonicalized:
    *
    *   - absolute http(s) targets stand alone;
    *   - `//host/…` takes the page's scheme;
    *   - `/path` takes the page's canonical origin (scheme://host[:port]);
    *   - everything else — relative paths, bare fragments, `mailto:`,
    *     `javascript:` — yields NULL `link_url` (kept as rows: the
    *     drop categories are themselves a crawl signal). Documented
    *     approximation: relative-path resolution needs dot-segment
    *     merging against the page path; crawl frontiers overwhelmingly
    *     follow the three forms above.
    *
    * Output: `(doc_id, page_host, link_idx, href, link_url,
    * link_host)`. Row-local explode — rows ~ links, no shuffle. */
  def extractLinks(pages: DataFrame, urlCol: String = "url"): DataFrame = {
    val raw = coalesce(col("text"), lit(""))
    val hrefs = concat(
      regexp_extract_all(raw, lit(HrefDqPat), lit(1)),
      regexp_extract_all(raw, lit(HrefSqPat), lit(1)))
    val prepared = graft.core.Parallelism.ensure(pages)
      .select(col("doc_id"),
        seal(struct(urlParts(col(urlCol)).as("up"), hrefs.as("hs"))).as("sx"))
      .select(col("doc_id"),
        col("sx.up.canon_url").as("page_canon"),
        col("sx.up.host").as("page_host"),
        col("sx.hs").as("hs"))
    prepared
      .select(col("doc_id"), col("page_canon"), col("page_host"),
        posexplode(col("hs")).as(Seq("link_idx", "href0")))
      .withColumn("href", decodedHref(col("href0")))
      .withColumn("resolved", resolvedTo(col("href"), col("page_canon")))
      .select(col("doc_id"), col("page_host"), col("link_idx"), col("href"),
        seal(urlParts(col("resolved"))).as("lp"))
      .select(col("doc_id"), col("page_host"), col("link_idx"), col("href"),
        col("lp.canon_url").as("link_url"), col("lp.host").as("link_host"))
  }

  /** Whitespace-trimmed, entity-decoded href value (`&amp;` in query
    * strings is the norm in markup). */
  private def decodedHref(href0: Column): Column =
    Html.Entities.foldLeft(regexp_replace(href0, WsTrimPat, "")) {
      case (c, (ent, ch)) => replace(c, lit(ent), lit(ch))
    }

  /** Three-form resolution against the page's CANONICAL origin
    * (scheme, normalized host, non-default port — re-extracted from
    * the canonical form so resolution and canonicalization agree);
    * NULL for every other form (see [[extractLinks]]). */
  private def resolvedTo(href: Column, pageCanon: Column): Column =
    when(href.rlike(HasSchemePat), href)
      .when(href.rlike("^//"),
        concat(regexp_extract(pageCanon, SchemePat, 1), lit(":"), href))
      .when(href.rlike("^/") && pageCanon.isNotNull,
        concat(regexp_extract(pageCanon, AuthorityPat, 0), href))

  /** Resolve one href-like reference against a base URL and
    * canonicalize it — the [[extractLinks]] pipeline as a scalar:
    * entity decode → absolute / protocol-relative / root-relative
    * resolution against the base's CANONICAL origin → [[urlParts]].
    * NULL when unresolvable. The public face redirect targets and
    * one-off reference resolution use. */
  def resolveHref(href: Column, baseUrl: Column): Column =
    urlParts(resolvedTo(decodedHref(href), canonicalizeUrl(baseUrl)))
      .getField("canon_url")

  // ---- In-page directives (REP meta robots, rel=canonical) --------------

  /** `<meta name="robots" …>` TAG matcher (group 0 = the whole tag —
    * attribute ORDER varies in the wild, so the tag is matched first
    * and its `content` attribute extracted second; both quote styles;
    * the Java ∩ RE2 subset like every pattern here). Every attribute
    * name requires a whitespace-or-quote BOUNDARY before it (the
    * [[HrefDqPat]] rule): `\\b` alone matches after a hyphen, so a
    * `data-content`/`data-name` decoy preceding the real attribute
    * would otherwise win the extraction and silently drop a noindex.
    * Gaps around `=` accept newlines (attributes wrap in real
    * markup). Unquoted attribute values are the documented skip,
    * matching the unquoted-href stance. */
  val MetaRobotsTagPat =
    "(?is)<meta\\b[^>]*[ \\t\\n\\r\\f\\x0B\"']name[ \\t\\n\\r\\f\\x0B]*=[ \\t\\n\\r\\f\\x0B]*[\"']robots[\"'][^>]*>"
  val MetaDescTagPat =
    "(?is)<meta\\b[^>]*[ \\t\\n\\r\\f\\x0B\"']name[ \\t\\n\\r\\f\\x0B]*=[ \\t\\n\\r\\f\\x0B]*[\"']description[\"'][^>]*>"
  val CanonicalTagPat =
    "(?is)<link\\b[^>]*[ \\t\\n\\r\\f\\x0B\"']rel[ \\t\\n\\r\\f\\x0B]*=[ \\t\\n\\r\\f\\x0B]*[\"']canonical[\"'][^>]*>"
  val ContentAttrPat =
    "(?is)[ \\t\\n\\r\\f\\x0B\"']content[ \\t\\n\\r\\f\\x0B]*=[ \\t\\n\\r\\f\\x0B]*[\"']([^\"']*)[\"']"
  val HrefAttrPat =
    "(?is)[ \\t\\n\\r\\f\\x0B\"']href[ \\t\\n\\r\\f\\x0B]*=[ \\t\\n\\r\\f\\x0B]*[\"']([^\"']*)[\"']"
  val TitleTagPat = "(?is)<title[^>]*>(.*?)</title>"

  /** A robots directive token inside a content value: delimited by
    * start/end or space/comma (`"NOINDEX,nofollow"` carries both). */
  def directiveTokenPat(tok: String): String =
    s"(?i)(^|[ \\t,])$tok([ \\t,]|$$)"

  /** In-page crawl directives + description metadata — the REP
    * surface robots.txt cannot carry (google.com/search/docs and the
    * proposed RFC 9309 extensions document all three):
    *
    *  - `<meta name="robots" content="noindex|nofollow, …">` —
    *    `noindex` excludes a FETCHED page from the index build (the
    *    robots.txt gate governs fetching; this governs indexing);
    *    `nofollow` tells the frontier to ignore the page's outlinks.
    *    Multiple robots tags combine MOST-RESTRICTIVE (Google's
    *    documented conflict rule): any tag carrying the token sets
    *    the flag.
    *  - `<link rel="canonical" href=…>` — the page's declared
    *    identity, resolved and canonicalized exactly like an
    *    extracted link ([[resolveHref]]); the STANDARD dedup signal
    *    beyond URL string rules ([[urlDuplicatesWithCanonical]]
    *    consumes it).
    *  - `<title>` / `<meta name="description">` — the serving
    *    metadata an index row wants alongside its postings.
    *
    * Output `(doc_id, url_key, title, meta_description, noindex,
    * nofollow, canonical_url)` — `url_key` the page's canonical md5
    * (NULL when the URL does not canonicalize), text fields NULL when
    * absent, flags false on directive-free pages. Row-parallel, one
    * scan, no shuffle; first tag wins for title/description/canonical
    * (the multi-tag conflict is only defined for the boolean flags).
    *
    * Per-LINK `rel="nofollow"` (the a-tag attribute) lives in
    * [[extractLinksRel]] — tag-depth extraction is a different scan
    * than this page-level pass. */
  def pageDirectives(pages: DataFrame, urlCol: String = "url"): DataFrame = {
    val text = coalesce(col("text"), lit(""))
    val robotsTags = regexp_extract_all(text, lit(MetaRobotsTagPat), lit(0))
    def hasTok(tok: String): Column =
      exists(robotsTags, t =>
        regexp_extract(t, ContentAttrPat, 1).rlike(directiveTokenPat(tok)))
    // the extractLinks staging discipline: every expensive expression
    // (urlParts, the regex extracts, the entity-decode fold) evaluates
    // ONCE per row behind a seal — unsealed, the canonical chain's
    // urlParts would re-inline the decode fold and the inner urlParts
    // into each of its internal input references (a measured 20-70 s
    // blowup at sf0.1, 2.4 MB task binaries)
    graft.core.Parallelism.ensure(pages)
      .select(col("doc_id"),
        seal(struct(
          urlParts(col(urlCol)).getField("canon_url").as("page_canon"),
          nullif(trim(regexp_extract(text, TitleTagPat, 1)), lit("")).as("title"),
          nullif(regexp_extract(
            regexp_extract(text, MetaDescTagPat, 0), ContentAttrPat, 1), lit(""))
            .as("meta_description"),
          hasTok("noindex").as("noindex"),
          hasTok("nofollow").as("nofollow"),
          nullif(regexp_extract(
            regexp_extract(text, CanonicalTagPat, 0), HrefAttrPat, 1), lit(""))
            .as("chref0"))).as("dx"))
      .select(col("doc_id"), col("dx.page_canon").as("page_canon"),
        col("dx.title").as("title"),
        col("dx.meta_description").as("meta_description"),
        col("dx.noindex").as("noindex"), col("dx.nofollow").as("nofollow"),
        seal(decodedHref(col("dx.chref0"))).as("chref"))
      .withColumn("resolved", resolvedTo(col("chref"), col("page_canon")))
      .select(col("doc_id"), col("page_canon"), col("title"),
        col("meta_description"), col("noindex"), col("nofollow"),
        seal(urlParts(col("resolved")).getField("canon_url")).as("canonical_url"))
      .select(col("doc_id"), md5(col("page_canon")).as("url_key"),
        col("title"), col("meta_description"), col("noindex"), col("nofollow"),
        col("canonical_url"))
  }

  /** `rel` attribute inside an anchor OPEN tag (both quote styles,
    * boundary class — the [[ContentAttrPat]] rules). */
  val RelAttrPat =
    "(?is)[ \\t\\n\\r\\f\\x0B\"']rel[ \\t\\n\\r\\f\\x0B]*=[ \\t\\n\\r\\f\\x0B]*[\"']([^\"']*)[\"']"

  /** Anchor OPEN tags, whole-tag matches (group 0). */
  val AnchorOpenTagPat = "(?is)<a\\b[^>]*>"

  /** Per-LINK `rel="nofollow"` — the a-tag attribute [[pageDirectives]]
    * documents as its skip, closed at TAG depth: every anchor OPEN tag
    * is matched whole, its `href` and `rel` attributes extracted
    * SECOND (so attribute order and quote style never matter — the
    * directive-pattern rules), and `nofollow` is the token test over
    * the rel value (`rel="nofollow ugc"` counts; the REP extension
    * tokens ride the same list). Output = the [[extractLinks]] column
    * contract plus `nofollow`; `link_idx` is DOCUMENT order (the
    * whole-tag scan sees one stream, unlike extractLinks'
    * double-then-single-quoted concatenation), and hrefs without
    * quotes are skipped, matching [[HrefDqPat]]'s documented stance.
    *
    * A frontier that honors link-level politeness filters
    * `!nofollow` before [[crawlFrontier]]; the page-level flag
    * ([[pageDirectives]]) remains the stream gate's cheap path.
    * Row-parallel tag scan + the shared decode/resolve/canonicalize
    * chain, sealed per the staging discipline. */
  def extractLinksRel(pages: DataFrame, urlCol: String = "url"): DataFrame = {
    val raw = coalesce(col("text"), lit(""))
    val tags = regexp_extract_all(raw, lit(AnchorOpenTagPat), lit(0))
    val prepared = graft.core.Parallelism.ensure(pages)
      .select(col("doc_id"),
        seal(struct(urlParts(col(urlCol)).as("up"), tags.as("tg"))).as("sx"))
      .select(col("doc_id"),
        col("sx.up.canon_url").as("page_canon"),
        col("sx.up.host").as("page_host"),
        col("sx.tg").as("tg"))
    prepared
      .select(col("doc_id"), col("page_canon"), col("page_host"),
        posexplode(col("tg")).as(Seq("link_idx", "tag")))
      .select(col("doc_id"), col("page_canon"), col("page_host"), col("link_idx"),
        nullif(regexp_extract(col("tag"), HrefAttrPat, 1), lit("")).as("href0"),
        regexp_extract(col("tag"), RelAttrPat, 1)
          .rlike(directiveTokenPat("nofollow")).as("nofollow"))
      .where(col("href0").isNotNull)
      .withColumn("href", seal(decodedHref(col("href0"))))
      .withColumn("resolved", resolvedTo(col("href"), col("page_canon")))
      .select(col("doc_id"), col("page_host"), col("link_idx"), col("href"),
        col("nofollow"), seal(urlParts(col("resolved"))).as("lp"))
      .select(col("doc_id"), col("page_host"), col("link_idx"), col("href"),
        col("lp.canon_url").as("link_url"), col("lp.host").as("link_host"),
        col("nofollow"))
  }

  /** JUST the robots flags — the streaming gate's hot-path face:
    * [[pageDirectives]] also canonicalizes the URL and resolves the
    * canonical link, work a noindex/nofollow gate never reads (and a
    * sealed struct blocks field pruning, so the dead columns would be
    * computed and checkpointed per batch). One regex family, sealed
    * once, row-parallel. */
  def pageDirectiveFlags(pages: DataFrame): DataFrame = {
    val text = coalesce(col("text"), lit(""))
    val robotsTags = regexp_extract_all(text, lit(MetaRobotsTagPat), lit(0))
    def hasTok(tok: String): Column =
      exists(robotsTags, t =>
        regexp_extract(t, ContentAttrPat, 1).rlike(directiveTokenPat(tok)))
    graft.core.Parallelism.ensure(pages)
      .select(col("doc_id"),
        seal(struct(hasTok("noindex").as("noindex"),
          hasTok("nofollow").as("nofollow"))).as("df"))
      .select(col("doc_id"), col("df.noindex").as("noindex"),
        col("df.nofollow").as("nofollow"))
  }

  /** [[urlDuplicates]] under rel=CANONICAL equivalence — the
    * [[urlDuplicatesWithRedirects]] construction with the map mined
    * from the pages themselves: a page DECLARING canonical X is a
    * duplicate of a page at X. One declared target per source key
    * (min — the redirect-map determinism rule); chains are the site's
    * to pre-collapse, exactly the redirect contract. The map is
    * page-table-sized in the worst case but declared-canonical rows
    * only in practice — broadcast. */
  def urlDuplicatesWithCanonical(
      pages: DataFrame, urlCol: String = "url"): DataFrame = {
    // ONE directive pass feeds both the map and the page keys (the
    // two-pass form re-ran the whole extraction per side)
    val d = graft.core.Materialize(
      pageDirectives(pages, urlCol).select("doc_id", "url_key", "canonical_url"))
    val m = d
      .where(col("canonical_url").isNotNull && col("url_key").isNotNull)
      .select(col("url_key"), md5(col("canonical_url")).as("target_key"))
      .groupBy(col("url_key")).agg(min(col("target_key")).as("target_key"))
    dupFromKeys(d
      .join(broadcast(m), Seq("url_key"), "left")
      .select(col("doc_id"),
        coalesce(col("target_key"), col("url_key")).as("url_key")))
  }

  /** The INDEX gate: pages minus `noindex` losers — run between the
    * fetch pipeline and [[graft.index.InvertedIndex.build]] (a robots
    * META directive governs indexing, never fetching). The loser set
    * is an id table; the anti-join broadcasts under AQE. */
  def indexablePages(pages: DataFrame, urlCol: String = "url"): DataFrame = {
    val losers = pageDirectives(pages, urlCol)
      .where(col("noindex")).select(col("doc_id"))
    pages.join(losers, Seq("doc_id"), "left_anti")
  }

  // ---- Anchor text (row-local) -----------------------------------------

  /** href + inner text of each anchor ELEMENT, double- and single-
    * quoted forms (group 1 = href, group 2 = inner markup; lazy inner
    * match — still the Java ∩ RE2 subset, no backreferences). Anchors
    * without a quoted href are skipped, matching [[HrefDqPat]]. */
  val AnchorDqPat = "(?is)<a[^>]*?[ \\t\\n\\r\\f\\x0B\"']href[ \\t]*=[ \\t]*\"([^\"]*)\"[^>]*>(.*?)</a>"
  val AnchorSqPat = "(?is)<a[^>]*?[ \\t\\n\\r\\f\\x0B\"']href[ \\t]*=[ \\t]*'([^']*)'[^>]*>(.*?)</a>"

  /** Anchor texts: one row per href-bearing anchor element — the
    * resolved/canonicalized target plus the anchor's VISIBLE text
    * (inner markup stripped, entities decoded, whitespace collapsed —
    * [[Html.extractSegment]]'s chain). Anchor text is the web's own
    * description of the TARGET page, the classic retrieval/quality
    * signal; [[anchorIndex]] aggregates it per target host. Output:
    * `(doc_id, page_host, link_idx, href, link_url, link_host,
    * anchor_text)`. Row-local explode, the [[extractLinks]] stance. */
  def anchorTexts(pages: DataFrame, urlCol: String = "url"): DataFrame = {
    val raw = coalesce(col("text"), lit(""))
    def pairsOf(pat: String): Column =
      zip_with(
        regexp_extract_all(raw, lit(pat), lit(1)),
        regexp_extract_all(raw, lit(pat), lit(2)),
        (h, t) => struct(h.as("href0"), t.as("inner0")))
    val prepared = graft.core.Parallelism.ensure(pages)
      .select(col("doc_id"),
        seal(struct(urlParts(col(urlCol)).as("up"),
          concat(pairsOf(AnchorDqPat), pairsOf(AnchorSqPat)).as("ps"))).as("sx"))
      .select(col("doc_id"),
        col("sx.up.canon_url").as("page_canon"),
        col("sx.up.host").as("page_host"),
        col("sx.ps").as("ps"))
    prepared
      .select(col("doc_id"), col("page_canon"), col("page_host"),
        posexplode(col("ps")).as(Seq("link_idx", "pair")))
      .withColumn("href", decodedHref(col("pair.href0")))
      .withColumn("anchor_text", Html.extractSegment(col("pair.inner0")))
      .withColumn("resolved", resolvedTo(col("href"), col("page_canon")))
      .select(col("doc_id"), col("page_host"), col("link_idx"), col("href"),
        seal(urlParts(col("resolved"))).as("lp"), col("anchor_text"))
      .select(col("doc_id"), col("page_host"), col("link_idx"), col("href"),
        col("lp.canon_url").as("link_url"), col("lp.host").as("link_host"),
        col("anchor_text"))
  }

  /** Host-level anchor-text index: what the web's link text calls
    * each target host — `(word, link_host, cnt)` over the engine's
    * §2 normalizer, riding [[graft.index.InvertedIndex.build]]'s
    * one-shuffle partial aggregation (anchors that resolve off-web
    * are excluded; rows ~ distinct (word, host) pairs). */
  def anchorIndex(pages: DataFrame, urlCol: String = "url"): DataFrame =
    graft.index.InvertedIndex.build(
      anchorTexts(pages, urlCol).where(col("link_host").isNotNull),
      idCol = "link_host", textCol = "anchor_text")
      .select(col("word"), col("doc_id").as("link_host"), col("cnt"))

  /** What the web's link text calls each TARGET URL — the focused
    * crawler's pre-fetch relevance feature: per canonical link target,
    * the top-`topWords` anchor words by `(count desc, word asc)`
    * joined into one string. Where [[anchorIndex]] aggregates per
    * HOST for retrieval, this keys by the exact target URL so it
    * joins onto [[crawlFrontier]] output — the only description a
    * crawler has of a page it has NOT fetched yet is what other pages
    * say when they link it. Output `(link_url, anchor_words)`.
    *
    * Scale shape: row-local anchor extraction + the §2 tokenizer,
    * one combinable `(url, word)` count, then the bounded-heap top-k
    * per URL ([[graft.functions.TopKByScore]] — never a window; a
    * popular URL has unbounded anchor vocabulary). */
  def anchorWordSummary(
      pages: DataFrame,
      urlCol: String = "url",
      topWords: Int = 3): DataFrame = {
    require(topWords >= 1, s"topWords=$topWords must be >= 1")
    anchorTexts(pages, urlCol)
      .where(col("link_url").isNotNull)
      .select(col("link_url"),
        explode(graft.core.TextNorm.tokens(col("anchor_text"))).as("word"))
      .groupBy(col("link_url"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("link_url"))
      .agg(graft.functions.TopKByScore.topK(
        col("cnt"), col("word"), topWords).as("_tk"))
      .select(col("link_url"),
        concat_ws(" ", expr("transform(_tk, e -> e.id)")).as("anchor_words"))
  }

  /** The host-level edge list: `(src, dst, n_links)` over resolvable
    * links from pages with a canonical host. `selfEdges=false`
    * (default) drops intra-host links — the domain graph a PageRank
    * prior wants. One aggregation; keys are hosts, never text. */
  def linkHostEdges(pages: DataFrame, urlCol: String = "url",
      selfEdges: Boolean = false): DataFrame = {
    val links = extractLinks(pages, urlCol)
      .where(col("page_host").isNotNull && col("link_host").isNotNull)
    val filtered = if (selfEdges) links else links.where(col("page_host") =!= col("link_host"))
    filtered.groupBy(col("page_host").as("src"), col("link_host").as("dst"))
      .agg(count(lit(1)).as("n_links"))
  }

  // ---- Domain rank (fixed-iteration PageRank) --------------------------

  /** PageRank over an edge table `(src, dst)` — the domain-quality
    * prior of Common-Crawl-scale curation, as a power iteration with
    * a FIXED iteration count by default (engine-exact and twin-able —
    * the count is data-independent) and an OPTIONAL convergence
    * stopping rule (`tol` — see [[domainRankConverged]]) for real
    * graphs where `iters` is a ceiling, not a schedule.
    * Unweighted on the DISTINCT edge set (the standard host-graph
    * formulation); dangling mass (nodes with no out-edges) is
    * redistributed uniformly, the classic correction.
    *
    * Determinism: each tier's values live as BIGINT [[RankUnits]]
    * units (see the constant's scaladoc for why integer space beats
    * the 12dp-decimal tier here); the per-node inbound sum is exact
    * integer addition, and the only floating-point arithmetic is the
    * fixed-shape per-node expression
    * `(1−d)·U/N + d·(inbound + dangling/N)` rounded at scale 0 —
    * identical IEEE evaluation on both engines.
    *
    * Scale shape: ranks/outdeg tables are NODE-sized (domains —
    * ~10⁸ at 100 TB, far smaller than edges); each iteration is one
    * equi-join of edges⋈ranks shuffled on `src` followed by one
    * aggregation on `dst` — exactly the minimum a distributed power
    * iteration moves. Each tier materializes ([[graft.core.Materialize]])
    * so the lineage stays one-iteration deep, and the superseded
    * tier releases under Persist (the [[Dedup.clusters]] discipline). */
  /** Materialized distinct edge set + node table — the prologue both
    * iterative graph ops ([[domainRank]], [[hits]]) share. The caller
    * releases `e`; `nodes` stays for the result lineage. */
  private def distinctGraph(
      edges: DataFrame): (DataFrame, DataFrame) = {
    val e = graft.core.Materialize(
      edges.select(col("src"), col("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)
        .distinct())
    val nodes = graft.core.Materialize(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct())
    (e, nodes)
  }

  def domainRank(
      edges: DataFrame,
      iters: Int = 5,
      damping: Double = 0.85,
      tol: Double = 0.0): DataFrame =
    domainRankConverged(edges, iters, damping, tol)._1

  /** [[domainRank]] plus the number of iterations actually run — the
    * convergence face. `tol > 0` adds a stopping rule: after each
    * iteration one extra node-sized aggregate computes
    * `max |Δrank_u|` (exact BIGINT units — the test is as
    * deterministic as the ranks themselves), the driver reads ONE
    * scalar, and the loop stops early when the change drops below
    * `tol` (in rank units of 1.0-total-mass, i.e. `tol · RankUnits`
    * integer units). `tol = 0` (default) keeps the fixed-iteration
    * contract — the count stays data-independent and twin-able; a
    * real domain graph passes e.g. `iters = 50, tol = 1e-9` and stops
    * when the power iteration has converged. */
  private[graft] def domainRankConverged(
      edges: DataFrame,
      iters: Int = 5,
      damping: Double = 0.85,
      tol: Double = 0.0): (DataFrame, Int) =
    domainRankIterate(edges, iters, damping, tol, prior = None)

  /** Warm-start PageRank — the DELTA-REFRESH face: yesterday's stored
    * [[domainRank]] table seeds today's iteration over the grown edge
    * set, so a daily graph update runs 1-2 iterations from the old
    * fixed point instead of `O(log(1/tol))` from uniform. `prior` is
    * any `(node, rank)` table (rank in 1.0-total-mass units — the
    * stored output shape); nodes ABSENT from the prior (the day's new
    * domains) start at the uniform `1/N`, nodes present only in the
    * prior (dropped from the graph) are ignored — the init is defined
    * on TODAY'S node set. No renormalization: the PageRank step's
    * `(1−d)·U/N` term pulls total mass back to U geometrically, so a
    * slightly-off prior total self-corrects (and an exact prior stays
    * exact).
    *
    * Determinism: init ranks quantize by the fixed-shape expression
    * `round(coalesce(rank · U, U/N), 0)` — one double multiply per
    * node, both engines IEEE-identical — then the integer-unit
    * iteration discipline of [[domainRank]] applies unchanged. */
  def domainRankFrom(
      edges: DataFrame,
      prior: DataFrame,
      iters: Int = 1,
      damping: Double = 0.85,
      tol: Double = 0.0): DataFrame =
    domainRankIterate(edges, iters, damping, tol, prior = Some(prior))._1

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB '04 —
    * "Combating Web Spam with TrustRank"): biased PageRank whose
    * teleport AND dangling mass go ONLY to a trusted seed set instead
    * of uniformly — trust flows out of hand-vetted hosts along links,
    * so a spam constellation no seed (transitively) points at scores
    * ~0 no matter how densely it interlinks, which uniform PageRank
    * structurally cannot do (every node gets teleport mass). The
    * crawl-side complement to [[domainRank]]: rank says "linked-to",
    * trust says "linked-to FROM vetted ground", and frontier policy
    * wants both.
    *
    * Seeds absent from the graph are ignored (trust is defined on
    * today's node set); at least one present seed is required. Seed
    * mass is uniform over present seeds (the paper's unweighted
    * variant).
    *
    * Determinism: the [[RankUnits]] BIGINT-unit discipline of
    * [[domainRank]] unchanged — integer rank units, exact integer
    * inbound sums, per-iteration fixed-shape double expressions both
    * engines evaluate identically (seed share `U/nS` replaces `U/N`;
    * non-seeds' update is the single multiply `round(d · inbound)`).
    *
    * Scale shape: the [[domainRank]] plan plus one broadcast seed
    * flag join — per iteration one edges⋈ranks join, one combinable
    * aggregate, two broadcast scalars; every state table node-sized. */
  def trustRank(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(damping > 0 && damping < 1, s"damping=$damping must be in (0, 1)")
    val (e, nodes) = distinctGraph(edges)
    val seedFlag = nodes
      .join(broadcast(seeds.select(col("node")).distinct()), Seq("node"))
      .select(col("node"), lit(1).as("is_seed"))
    val nSeeds = seedFlag.count()
    require(nSeeds >= 1, "trustRank needs at least one seed present in the graph")
    val nsD = lit(nSeeds.toDouble)
    val flagged = graft.core.Materialize(
      nodes.join(broadcast(seedFlag), Seq("node"), "left"))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).cast("double").as("outdeg"))
    val init = flagged.select(col("node"),
      when(col("is_seed").isNotNull,
        round(lit(RankUnits).cast("double") / nsD, 0).cast("long"))
        .otherwise(lit(0L)).as("rank_u"))
    var ranks = graft.core.Materialize(init)
    for (_ <- 1 to iters) {
      val contribs = ranks
        .join(outdeg, ranks("node") === outdeg("src"))
        .select(col("src"),
          round(col("rank_u").cast("double") / col("outdeg"), 0)
            .cast("long").as("contrib_u"))
      val inbound = e.join(contribs, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("contrib_u")).as("inb_u"))
      val dangling = ranks
        .join(outdeg, ranks("node") === outdeg("src"), "left_anti")
        .agg(coalesce(sum(col("rank_u")), lit(0L)).as("dang_u"))
      val next = graft.core.Materialize(
        flagged
          .join(inbound, flagged("node") === inbound("dst"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("node"),
            when(col("is_seed").isNotNull,
              round(
                (lit(1.0) - lit(damping)) * lit(RankUnits).cast("double") / nsD +
                  lit(damping) *
                    (coalesce(col("inb_u"), lit(0L)).cast("double") +
                      col("dang_u").cast("double") / nsD),
                0).cast("long"))
              .otherwise(
                round(lit(damping) * coalesce(col("inb_u"), lit(0L)).cast("double"), 0)
                  .cast("long"))
              .as("rank_u")))
      // no-op under eager LocalCheckpoint; forces the cache under Persist
      graft.core.Materialize.force(next)
      graft.core.Materialize.release(ranks)
      ranks = next
    }
    graft.core.Materialize.release(e)
    graft.core.Materialize.release(flagged)
    ranks.select(col("node"),
      (col("rank_u").cast("double") / lit(RankUnits).cast("double")).as("trust"))
  }

  /** The shared power-iteration loop behind [[domainRank]] (uniform
    * init) and [[domainRankFrom]] (warm-start init). */
  private def domainRankIterate(
      edges: DataFrame,
      iters: Int,
      damping: Double,
      tol: Double,
      prior: Option[DataFrame]): (DataFrame, Int) = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(damping > 0 && damping < 1, s"damping=$damping must be in (0, 1)")
    require(tol >= 0, s"tol=$tol must be >= 0")
    val tolUnits = math.round(tol * RankUnits)
    val (e, nodes) = distinctGraph(edges)
    // n_nodes is one already-materialized count, constant across the
    // loop — read it driver-side ONCE (r19) instead of re-broadcasting
    // a one-row aggregate subtree into init and into every round's
    // plan. Same double value → bit-identical formula results.
    val nNodes = lit(nodes.count().toDouble)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).cast("double").as("outdeg"))
    val init = prior match {
      case None =>
        nodes
          .select(col("node"),
            round(lit(RankUnits).cast("double") / nNodes, 0)
              .cast("long").as("rank_u"))
      case Some(p) =>
        // prior is node-sized — broadcast; the fixed-shape init
        // expression is the one FP op (see [[domainRankFrom]])
        nodes
          .join(broadcast(p.select(col("node"), col("rank"))), Seq("node"), "left")
          .select(col("node"),
            round(coalesce(
              col("rank") * lit(RankUnits).cast("double"),
              lit(RankUnits).cast("double") / nNodes), 0)
              .cast("long").as("rank_u"))
    }
    var ranks = graft.core.Materialize(init)
    var prev = ranks
    var itersRun = 0
    var converged = false
    while (itersRun < iters && !converged) {
      val contribs = ranks
        .join(outdeg, ranks("node") === outdeg("src"))
        .select(col("src"),
          round(col("rank_u").cast("double") / col("outdeg"), 0)
            .cast("long").as("contrib_u"))
      val inbound = e.join(contribs, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("contrib_u")).as("inb_u"))
      val dangling = ranks
        .join(outdeg, ranks("node") === outdeg("src"), "left_anti")
        .agg(coalesce(sum(col("rank_u")), lit(0L)).as("dang_u"))
      // iterate over RANKS, not `nodes` (r19): ranks covers exactly the
      // node set (the init invariant), and carrying the previous
      // rank through the same join lets the convergence delta ride the
      // materialized round as a COLUMN — the separate next⋈prev
      // node-sized join (+ its exchanges) per round is gone; the
      // convergence check becomes one aggregate over the
      // already-materialized blocks (the Dedup.clusters `changed`
      // discipline)
      val next = graft.core.Materialize(
        ranks
          .join(inbound, ranks("node") === inbound("dst"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("node"),
            round(
              (lit(1.0) - lit(damping)) * lit(RankUnits).cast("double") / nNodes +
                lit(damping) *
                  (coalesce(col("inb_u"), lit(0L)).cast("double") +
                    col("dang_u").cast("double") / nNodes),
              0).cast("long").as("rank_u"),
            col("rank_u").as("prev_u")))
      // no-op under eager LocalCheckpoint; forces the cache under Persist
      graft.core.Materialize.force(next)
      itersRun += 1
      if (tolUnits > 0 && itersRun < iters) {
        // one aggregate over the materialized round; the driver reads
        // one scalar
        val delta = next
          .agg(coalesce(max(abs(col("rank_u") - col("prev_u"))), lit(0L)))
          .head().getLong(0)
        converged = delta < tolUnits
      }
      if (prev ne next) graft.core.Materialize.release(prev)
      prev = next
      ranks = next
    }
    graft.core.Materialize.release(e)
    (ranks.select(col("node"),
      (col("rank_u").cast("double") / lit(RankUnits).cast("double")).as("rank")),
      itersRun)
  }

  /** HITS (Kleinberg '99) over an edge table — hub and authority
    * scores, the complementary prior to [[domainRank]]: an authority
    * is what good hubs point AT, a hub is what points at good
    * authorities (a link-farm aggregator ranks high as hub and low as
    * authority — exactly the page a curation pipeline wants to
    * separate from the content it links to). Fixed iterations,
    * unweighted distinct edges, L1 normalization to [[RankUnits]]
    * after each half-step.
    *
    * Determinism: the same integer-space discipline as [[domainRank]]
    * — scores live as BIGINT units, each half-step's inbound sum is
    * exact integer addition (HITS sums the NEIGHBOR'S WHOLE score, no
    * out-degree division, so a per-node sum is bounded by the total
    * mass U = 1e12 and cannot overflow), and the only floating-point
    * op is the fixed-shape normalization
    * `round(x·U/total, 0)` evaluated identically by both engines
    * (the normalization TOTAL is ≤ U·max-out-degree — overflow would
    * need a host linking 9.2M distinct hosts). Dangling sides simply
    * score 0 (a node nothing points at is no authority) — HITS has
    * no dangling-mass correction.
    *
    * Scale shape: per half-step one edges⋈scores equi-join + one
    * aggregation + one broadcast scalar — node-sized tables
    * throughout, the [[domainRank]] plan with the outdeg join
    * removed. */
  def hits(
      edges: DataFrame,
      iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    val (e, nodes) = distinctGraph(edges)
    val nRow = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    def normalized(raw: DataFrame, scoreCol: String): DataFrame = {
      // raw: (node, raw_u) over receiving nodes only; others score 0
      val tot = raw.agg(coalesce(sum(col("raw_u")), lit(0L)).as("tot_u"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(tot))
        .select(col("node"),
          round(coalesce(col("raw_u"), lit(0L)).cast("double") *
            lit(RankUnits).cast("double") / col("tot_u").cast("double"), 0)
            .cast("long").as(scoreCol))
    }
    var hubs = graft.core.Materialize(
      nodes.crossJoin(broadcast(nRow))
        .select(col("node"),
          round(lit(RankUnits).cast("double") / col("n_nodes"), 0)
            .cast("long").as("hub_u")))
    var auths: DataFrame = null
    var prevH = hubs
    var prevA: DataFrame = null
    for (_ <- 1 to iters) {
      val aRaw = e.join(hubs, e("src") === hubs("node"))
        .groupBy(col("dst").as("node")).agg(sum(col("hub_u")).as("raw_u"))
      val a = graft.core.Materialize(normalized(aRaw, "auth_u"))
      graft.core.Materialize.force(a) // no-op under eager LocalCheckpoint
      val hRaw = e.join(a, e("dst") === a("node"))
        .groupBy(col("src").as("node")).agg(sum(col("auth_u")).as("raw_u"))
      val h = graft.core.Materialize(normalized(hRaw, "hub_u"))
      graft.core.Materialize.force(h) // no-op under eager LocalCheckpoint
      if (prevA ne null) graft.core.Materialize.release(prevA)
      if (prevH ne h) graft.core.Materialize.release(prevH)
      prevA = a; prevH = h
      auths = a; hubs = h
    }
    graft.core.Materialize.release(e)
    hubs.join(auths, Seq("node"))
      .select(col("node"),
        (col("hub_u").cast("double") / lit(RankUnits).cast("double")).as("hub"),
        (col("auth_u").cast("double") / lit(RankUnits).cast("double")).as("authority"))
  }

  /** Two-level URL rank, WITHIN-HOST tier — the frontier-ordering fix
    * for large hosts: [[domainRank]] ranks HOSTS, so inside a
    * 10⁶-page host the frontier's only ordering is ref count + anchor
    * words; block-structured rank is the standard scale-safe
    * construction — a PageRank over each host's INTRA-host link graph
    * (every per-host rank vector sums to 1), composed with the host
    * tier multiplicatively ([[urlRankComposed]]:
    * `score = host_rank · url_rank`). Cross-host edges are the HOST
    * tier's signal and are excluded here by construction — that
    * exclusion is what keeps every table in this loop node-sized PER
    * TIER and the iteration embarrassingly parallel across hosts (no
    * global scalar: the teleport/dangling terms are per-host
    * aggregates).
    *
    * Input is a page table; edges derive as
    * `(host, src = page canon_url, dst = link_url)` for links whose
    * target host equals the page's host, self-loops dropped, distinct.
    * Unseen URLs (linked, never fetched) ARE ranked — they appear as
    * `dst` — which is exactly what the frontier needs. Output:
    * `(host, url, rank)`, rank in per-host total-mass-1 units.
    *
    * Determinism: the [[domainRank]] BIGINT-unit discipline per host
    * block — init `round(U/N_h, 0)`, contributions
    * `round(rank_u/outdeg, 0)`, exact integer inbound sums, the one
    * fixed-shape FP update per node with PER-HOST `N_h`/dangling.
    *
    * Scale shape: per iteration one `(host, src)` equi-join, one
    * `(host, dst)` aggregation, one per-host dangling aggregate —
    * all keyed by (host, url), never text; each tier materializes and
    * the superseded tier releases, the [[domainRank]] loop shape. */
  def urlRank(
      pages: DataFrame,
      urlCol: String = "url",
      iters: Int = 2,
      damping: Double = 0.85): DataFrame = {
    val canon = urlCanon(pages, urlCol)
      .where(col("canon_url").isNotNull)
      .select(col("doc_id"), col("canon_url"), col("host").as("page_h"))
    val links = extractLinks(pages, urlCol)
      .where(col("link_url").isNotNull)
      .select(col("doc_id"), col("link_url"), col("link_host"))
    val edges = links.join(canon, Seq("doc_id"))
      .where(col("link_host") === col("page_h") &&
        col("link_url") =!= col("canon_url"))
      .select(col("link_host").as("host"), col("canon_url").as("src"),
        col("link_url").as("dst"))
    urlRankEdges(edges, iters, damping)
  }

  /** [[urlRank]] over a prepared `(host, src, dst)` intra-host edge
    * table — the loop itself, exposed for stored edge sets. */
  def urlRankEdges(
      edges: DataFrame,
      iters: Int = 2,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(damping > 0 && damping < 1, s"damping=$damping must be in (0, 1)")
    val e = graft.core.Materialize(
      edges.select(col("host"), col("src"), col("dst"))
        .where(col("host").isNotNull && col("src").isNotNull &&
          col("dst").isNotNull && col("src") =!= col("dst"))
        .distinct())
    val nodes = graft.core.Materialize(
      e.select(col("host"), col("src").as("node"))
        .unionByName(e.select(col("host"), col("dst").as("node")))
        .distinct())
    // aggregate keys carry UNIQUE names (hh/oh/ih/dh) so every join
    // below is an explicit cross-name condition — plain Seq-joins or
    // df("col") refs over this shared-lineage graph trip Spark's
    // ambiguous-self-join detection
    val nHost = nodes.groupBy(col("host").as("hh"))
      .agg(count(lit(1)).cast("double").as("n_nodes"))
    val outdeg = e.groupBy(col("host").as("oh"), col("src").as("osrc"))
      .agg(count(lit(1)).cast("double").as("outdeg"))
    // ranks CARRIES its host's node count (r19): n_nodes is constant
    // per host across rounds, so joining nHost once at init and
    // keeping the column removes one node-sized join from EVERY
    // iteration's materialized plan — and iterating over ranks (the
    // node set, by the init invariant) instead of `nodes` removes a
    // second. Values unchanged: same counts, same fixed-shape formula.
    var ranks = graft.core.Materialize(
      nodes.join(nHost, col("host") === col("hh"))
        .select(col("host"), col("node"), col("n_nodes"),
          round(lit(RankUnits).cast("double") / col("n_nodes"), 0)
            .cast("long").as("rank_u")))
    var prev = ranks
    for (_ <- 1 to iters) {
      val contribs = ranks
        .join(outdeg, col("host") === col("oh") && col("node") === col("osrc"))
        .select(col("host").as("ch"), col("osrc").as("csrc"),
          round(col("rank_u").cast("double") / col("outdeg"), 0)
            .cast("long").as("contrib_u"))
      val inbound = e
        .join(contribs, col("host") === col("ch") && col("src") === col("csrc"))
        .groupBy(col("host").as("ih"), col("dst"))
        .agg(sum(col("contrib_u")).as("inb_u"))
      val dangling = ranks
        .join(outdeg, col("host") === col("oh") && col("node") === col("osrc"),
          "left_anti")
        .groupBy(col("host").as("dh")).agg(sum(col("rank_u")).as("dang_u"))
      val next = graft.core.Materialize(
        ranks
          .join(inbound,
            col("host") === col("ih") && col("node") === col("dst"), "left")
          .join(dangling, col("host") === col("dh"), "left")
          .select(col("host"), col("node"), col("n_nodes"),
            round(
              (lit(1.0) - lit(damping)) * lit(RankUnits).cast("double") / col("n_nodes") +
                lit(damping) *
                  (coalesce(col("inb_u"), lit(0L)).cast("double") +
                    coalesce(col("dang_u"), lit(0L)).cast("double") / col("n_nodes")),
              0).cast("long").as("rank_u")))
      // no-op under eager LocalCheckpoint; forces the cache under Persist
      graft.core.Materialize.force(next)
      if (prev ne next) graft.core.Materialize.release(prev)
      prev = next
      ranks = next
    }
    graft.core.Materialize.release(e)
    ranks.select(col("host"), col("node").as("url"),
      (col("rank_u").cast("double") / lit(RankUnits).cast("double")).as("rank"))
  }

  /** Compose the two rank tiers multiplicatively:
    * `score = host_rank · url_rank` — the block-structured rank's
    * serving face, joinable onto [[crawlFrontier]] output by
    * `link_url` (unseen frontier targets are ranked: they appear as
    * link-graph `dst` nodes). `urlRanks` is [[urlRank]] output,
    * `hostRanks` is [[domainRank]] output; hosts absent from the host
    * tier score 0 (the [[rankPrior]] stance). The host table is
    * node-sized — broadcast by default. Output:
    * `(host, url, url_rank, host_rank, score)`. */
  def urlRankComposed(
      urlRanks: DataFrame,
      hostRanks: DataFrame,
      broadcastHosts: Boolean = true): DataFrame = {
    val h = hostRanks.select(col("node").as("host"), col("rank").as("host_rank"))
    val rhs = if (broadcastHosts) broadcast(h) else h
    urlRanks.select(col("host"), col("url"), col("rank").as("url_rank"))
      .join(rhs, Seq("host"), "left")
      .select(col("host"), col("url"), col("url_rank"),
        coalesce(col("host_rank"), lit(0.0)).as("host_rank"),
        (col("url_rank") * coalesce(col("host_rank"), lit(0.0))).as("score"))
  }

  /** Weakly-connected components of the host graph —
    * [[Dedup.clusters]]' checkpointed min-label propagation over the
    * undirected edge set: `(node, component_id)` with the component
    * labeled by its lexicographically-minimum member. Mirror and
    * link-farm constellations surface as one component (feed the
    * component table into per-group keep policies the way near-dup
    * clusters do). Nodes with no edges never enter the graph. */
  def hostComponents(
      edges: DataFrame,
      maxIterations: Int = 20): DataFrame =
    Dedup.clusters(
      edges.select(col("src").as("doc_a"), col("dst").as("doc_b"))
        .where(col("doc_a").isNotNull && col("doc_b").isNotNull),
      maxIterations)
      .select(col("doc_id").as("node"), col("cluster_id").as("component_id"))

  /** BFS hop distance from a SEED set over the host graph — crawl
    * depth: how many link hops a crawler starting at `seeds` needs to
    * reach each host. The third iterative graph op, and the one a
    * crawl budget actually slices on (depth ≤ k = the "k clicks from
    * the seed list" crawl policy; TAXO/seed-distance quality priors
    * weight by it). Output `(node, depth)` — one row per host reached
    * within `maxDepth` hops, `depth` the MINIMUM hop count (seeds are
    * depth 0, including seeds the graph has no edges for — a crawled
    * start URL is at depth 0 whether or not anything links from it).
    * Hosts first reachable beyond `maxDepth` are absent.
    *
    * Determinism: pure integer BFS — no floating point anywhere, so
    * engine-exactness is free (vs the BIGINT-unit construction
    * [[domainRank]]/[[hits]] need). The early exit when a wave comes
    * back empty is exact reachability, not a heuristic.
    *
    * Scale shape: per wave, one equi-join of the edge set against the
    * FRONTIER (the nodes first reached last wave — shrinking), one
    * distinct, one anti-join against the node-sized depth table; each
    * wave materializes so lineage stays one-wave deep and superseded
    * tiers release under Persist. At 10⁸ hosts every table the loop
    * moves is node-sized or smaller — the [[domainRank]] envelope. */
  def crawlDepth(
      edges: DataFrame,
      seeds: DataFrame,
      maxDepth: Int = 5): DataFrame = {
    require(maxDepth >= 0, s"maxDepth=$maxDepth must be >= 0")
    val e = graft.core.Materialize(
      edges.select(col("src"), col("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)
        .distinct())
    val seed = graft.core.Materialize(
      seeds.select(col("node")).where(col("node").isNotNull).distinct()
        .withColumn("depth", lit(0L)))
    // the accumulated depth table stays a LAZY union over the
    // materialized waves (r20): waves are disjoint (each anti-joins
    // everything before it) and each is materialized, so the union is
    // a narrow read of existing blocks — the per-wave `grown`
    // materialization (+ its force job) re-copied the WHOLE table
    // every wave for nothing. Under Persist the waves back the
    // returned union, so nothing is superseded and total pinned
    // storage equals the old final table.
    var depth: DataFrame = seed
    var frontier = seed
    var k = 1
    var exhausted = false
    while (k <= maxDepth && !exhausted) {
      val next = graft.core.Materialize(
        e.join(frontier, e("src") === frontier("node"))
          .select(e("dst").as("node")).distinct()
          .join(depth, Seq("node"), "left_anti")
          .withColumn("depth", lit(k.toLong)))
      if (next.limit(1).count() == 0L) {
        graft.core.Materialize.release(next)
        exhausted = true
      } else {
        depth = depth.unionByName(next)
        frontier = next
        k += 1
      }
    }
    graft.core.Materialize.release(e)
    depth
  }

  /** Join a rank table onto a doc table as a quality prior:
    * `domain_rank` (0.0 for nodes the graph never saw — an unranked
    * domain is prior-less, not NULL-poisoned). `broadcastRanks`
    * defaults true — a domain table is usually tiny next to the
    * corpus; at ~10⁸ nodes pass false and let the join shuffle. */
  def rankPrior(docs: DataFrame, ranks: DataFrame, nodeCol: String = "node",
      broadcastRanks: Boolean = true): DataFrame = {
    val r = ranks.select(col("node").as(nodeCol), col("rank"))
    val rhs = if (broadcastRanks) broadcast(r) else r
    docs.join(rhs, Seq(nodeCol), "left")
      .withColumn("domain_rank", coalesce(col("rank"), lit(0.0)))
      .drop("rank")
  }

  /** Uncapped frontier candidates: extracted link targets NOT already
    * in the corpus, aggregated to distinct URLs with reference counts
    * — `(link_url, link_host, n_refs)`. The seen-set anti-join moves
    * 16-byte md5 keys; the candidate aggregation shuffles the
    * frontier URLs themselves (unavoidable — the frontier IS a URL
    * list, and it is links-sized, not corpus-sized). */
  private def frontierCandidates(pages: DataFrame, urlCol: String): DataFrame = {
    val links = extractLinks(pages, urlCol).where(col("link_url").isNotNull)
    val seen = pages
      .select(md5(canonicalizeUrl(col(urlCol))).as("url_key"))
      .where(col("url_key").isNotNull).distinct()
    links
      .select(col("link_url"), col("link_host"), md5(col("link_url")).as("url_key"))
      .join(seen, Seq("url_key"), "left_anti")
      .groupBy(col("link_url"), col("link_host"))
      .agg(count(lit(1)).as("n_refs"))
  }

  /** Per-host top-`perHostCap` by `(n_refs desc, link_url asc)` via
    * the bounded-heap aggregate [[graft.functions.TopKByScore]] —
    * NEVER `row_number` over a host window: a window puts ALL of a
    * host's candidate rows in one task and fully sorts them, and at
    * crawl scale a mega-hub host (news aggregator, wiki) holds tens
    * of millions of distinct outlink URLs — a skewed-key single-task
    * sort. The heap participates in partial aggregation, so each map
    * task forwards at most `perHostCap` rows per host into the
    * shuffle and nothing is ever fully sorted. Emits `pos` (1-based
    * rank within the host) exactly as the window formulation did. */
  private def topPerHost(cands: DataFrame, perHostCap: Int): DataFrame =
    cands
      .groupBy(col("link_host"))
      .agg(graft.functions.TopKByScore.topK(
        col("n_refs"), col("link_url"), perHostCap).as("_tk"))
      .select(col("link_host"), posexplode(col("_tk")).as(Seq("_p", "_e")))
      .select(col("_e.id").as("link_url"), col("link_host"),
        col("_e.score").as("n_refs"), (col("_p") + 1).as("pos"))

  /** The crawl frontier: unseen link targets, ref-counted, capped to
    * the top `perHostCap` per host (the politeness budget) by
    * `(n_refs desc, link_url)`, the domain-rank prior attached.
    * Output: `(link_url, link_host, n_refs, domain_rank, pos)`.
    * `ranks` is [[domainRank]] output or any `(node, rank)` table;
    * unranked hosts get prior 0.0. The per-host cap is a bounded
    * heap, not a window — see [[topPerHost]]. */
  def crawlFrontier(
      pages: DataFrame,
      ranks: DataFrame,
      urlCol: String = "url",
      perHostCap: Int = 10): DataFrame = {
    require(perHostCap >= 1, s"perHostCap=$perHostCap must be >= 1")
    rankPrior(topPerHost(frontierCandidates(pages, urlCol), perHostCap),
      ranks, nodeCol = "link_host")
      .select(col("link_url"), col("link_host"), col("n_refs"),
        col("domain_rank"), col("pos"))
  }

  /** [[crawlFrontier]] with a broadcast Bloom prefilter on the SEEN
    * set — the 100 TB formulation ([[Dedup.decontaminateBloom]]'s
    * construction applied to the crawl's hottest anti-join). The
    * exact frontier anti-joins EVERY candidate outlink against the
    * seen-URL set: both sides shuffle on the 16-byte key, and on an
    * expanding crawl the unseen MAJORITY of candidates — the rows
    * that survive to the output — pay that shuffle just to prove
    * nobody matches them. Here the seen keys are summarized once as a
    * Bloom filter over `xxhash64(url_key)` embedded in the plan as a
    * literal; candidates the filter rejects are DEFINITELY unseen
    * (Bloom filters have no false negatives) and bypass the join
    * entirely — a codegen'd bit-probe per link, no shuffle — while
    * the `might-contain` sliver (true re-links + the fpp fraction)
    * goes through the exact anti-join that kills false positives.
    * Result ≡ [[crawlFrontier]] byte-for-byte at any fpp; shares its
    * oracle.
    *
    * Sizing: ~9.6 bits/key at fpp=1e-2 — a 10⁹-URL seen set is a
    * ~1.2 GB filter, the practical ceiling for a plan literal; beyond
    * that, shard the crawl by host partition (each shard's seen set
    * builds its own filter) or fall back to [[crawlFrontier]]. The
    * two seen-side jobs (count to size, filter build) are the
    * train-once analogue of centroid training. */
  def crawlFrontierBloom(
      pages: DataFrame,
      ranks: DataFrame,
      urlCol: String = "url",
      perHostCap: Int = 10,
      fpp: Double = 0.01): DataFrame = {
    require(perHostCap >= 1, s"perHostCap=$perHostCap must be >= 1")
    require(fpp > 0 && fpp < 1, s"fpp=$fpp must be in (0, 1)")
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    // seen feeds three actions (size count, filter build, exact
    // confirm join) — materialize once
    val seen = graft.core.Materialize(
      pages.select(md5(canonicalizeUrl(col(urlCol))).as("url_key"))
        .where(col("url_key").isNotNull).distinct())
    val nSeen = math.max(seen.count(), 1L)
    val bloom = seen.select(xxhash64(col("url_key")).as("h"))
      .stat.bloomFilter("h", nSeen, fpp)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = GraftSqlBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      GraftSqlBridge.expression(xxhash64(col("url_key")))))
    val links = extractLinks(pages, urlCol).where(col("link_url").isNotNull)
      .select(col("link_url"), col("link_host"), md5(col("link_url")).as("url_key"))
    val definitelyUnseen = links.where(!mightContain)
    val confirmed = links.where(mightContain)
      .join(seen, Seq("url_key"), "left_anti")
    val cands = definitelyUnseen.unionByName(confirmed)
      .groupBy(col("link_url"), col("link_host"))
      .agg(count(lit(1)).as("n_refs"))
    rankPrior(topPerHost(cands, perHostCap), ranks, nodeCol = "link_host")
      .select(col("link_url"), col("link_host"), col("n_refs"),
        col("domain_rank"), col("pos"))
  }

  /** [[crawlFrontierBloom]] beyond the single-filter ceiling — the
    * HOST-SHARDED seen-set formulation: the seen keys split into
    * `shards` groups by `pmod(xxhash64(host), shards)`, each group
    * builds its OWN Bloom filter (so build-side peak allocation is one
    * shard's bits, not the whole set's ~1.2 GB at 10⁹ URLs), and each
    * candidate probes exactly its shard via a native expression whose
    * filters ride the codegen reference array — never a plan literal
    * (the ceiling [[crawlFrontierBloom]] documents; see
    * [[graft.functions.ShardedBloomSet]]). Routing is consistent by
    * construction: a candidate's `link_host` and a seen URL's
    * canonical host are the same string for the same canonical URL,
    * and both sides hash with Spark's own `xxhash64`.
    *
    * Result ≡ [[crawlFrontier]] byte-for-byte at any fpp/shards
    * (Bloom filters have no false negatives; the might-contain sliver
    * re-confirms exactly) — shares its oracle. Build cost: one
    * shard-routed pass over the Persisted key-sized seen table
    * (train-once, the centroid-training analogue); probe cost: one
    * exchange of the candidate links (the routing) plus one codegen'd
    * bit-probe per link.
    *
    * Probe-side residency is SHARD-PINNED: candidates repartition by
    * the SAME `pmod(xxhash64(host), shards)` the build used before
    * the probe filter runs, each shard's serialized bytes live behind
    * their own torrent-broadcast handle, and shards deserialize
    * per-index on first probe ([[graft.functions.ShardedBloomSet]]) —
    * so an executor fetches and materializes ONLY the shards its
    * routed partitions carry, never the full set. At the 10⁹-URL
    * design point (~1.2 GB total at fpp 0.01) a 100-executor cluster
    * holds ~12 MB of filter per executor instead of 1.2 GB in every
    * heap AND every stage binary. The routing exchange is the price;
    * it replaces the both-side exchange of the [[crawlFrontier]]
    * anti-join, which remains the fallback of choice when the seen
    * set is small enough that an exchange outweighs filter build
    * (rule of thumb: below ~10⁷ seen URLs just use [[crawlFrontier]]).
    *
    * `probePartitionsPerShard` > 1 adds a salt term to the routing so
    * the probe stage gets `shards × k` partitions (parallelism when
    * shards ≪ cores). The invariant either way: every (shard, salt)
    * routing group lands wholly in ONE partition, so an executor's
    * resident shard set is the union over the partitions it holds —
    * bounded by partitions held, never the full set.
    *
    * Broadcast LIFETIME: each call creates one torrent broadcast per
    * shard, referenced by the returned (lazy) plan — the blocks are
    * freed by the ContextCleaner only once that plan becomes
    * unreachable, which is non-deterministic. A long-lived crawl-loop
    * driver calling this per wave should use
    * [[crawlFrontierBloomShardedMaterialized]], which materializes the
    * frontier and destroys the shard broadcasts before returning —
    * per-wave filter bytes leave the executors with the wave. */
  def crawlFrontierBloomSharded(
      pages: DataFrame,
      ranks: DataFrame,
      urlCol: String = "url",
      perHostCap: Int = 10,
      fpp: Double = 0.01,
      shards: Int = 4,
      probePartitionsPerShard: Int = 1): DataFrame =
    crawlFrontierBloomShardedCore(pages, ranks, urlCol, perHostCap, fpp,
      shards, probePartitionsPerShard)._1

  /** The crawl-LOOP form of [[crawlFrontierBloomSharded]]: same plan,
    * but the frontier is MATERIALIZED and every shard's broadcast is
    * released before returning — the caller gets a concrete work list
    * with no live references to the wave's filter bytes, so per-wave
    * broadcasts never accumulate on executors across a long-running
    * driver (the lazy form frees them only when the ContextCleaner
    * notices the plan is gone). */
  def crawlFrontierBloomShardedMaterialized(
      pages: DataFrame,
      ranks: DataFrame,
      urlCol: String = "url",
      perHostCap: Int = 10,
      fpp: Double = 0.01,
      shards: Int = 4,
      probePartitionsPerShard: Int = 1): DataFrame = {
    val (frontier, handles) = crawlFrontierBloomShardedCore(pages, ranks, urlCol,
      perHostCap, fpp, shards, probePartitionsPerShard)
    val out = graft.core.Materialize(frontier)
    // force the probe while the filters are alive (a no-op when the
    // materialization was eager)
    graft.core.Materialize.force(out)
    if (graft.core.Materialize.cutsLineage)
      // concrete blocks, lineage CUT — nothing can ever re-reference
      // the filters; destroy frees the driver copy too
      handles.foreach(_.destroy())
    else
      // lineage RETAINED: an executor loss or a cleared cache
      // re-executes the probe, so the broadcasts must stay
      // recomputable. unpersist() frees the executor blocks with the
      // wave but keeps the driver-side value, so a recompute
      // re-broadcasts instead of failing on a destroyed handle.
      handles.foreach(_.unpersist(blocking = false))
    out
  }

  private def crawlFrontierBloomShardedCore(
      pages: DataFrame,
      ranks: DataFrame,
      urlCol: String,
      perHostCap: Int,
      fpp: Double,
      shards: Int,
      probePartitionsPerShard: Int)
      : (DataFrame, Seq[org.apache.spark.broadcast.Broadcast[Array[Byte]]]) = {
    require(perHostCap >= 1, s"perHostCap=$perHostCap must be >= 1")
    require(fpp > 0 && fpp < 1, s"fpp=$fpp must be in (0, 1)")
    require(shards >= 1, s"shards=$shards must be >= 1")
    require(probePartitionsPerShard >= 1,
      s"probePartitionsPerShard=$probePartitionsPerShard must be >= 1")
    import org.apache.spark.sql.GraftSqlBridge
    val seen = graft.core.Materialize(
      pages.select(seal(urlParts(col(urlCol))).as("up"))
        .select(md5(col("up.canon_url")).as("url_key"),
          pmod(xxhash64(col("up.host")), lit(shards)).cast("int").as("shard"))
        .where(col("url_key").isNotNull).distinct())
    val counts = seen.groupBy(col("shard")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // ALL shard filters in ONE job: keys repartition by shard, each
    // task builds filters only for the shards its partition holds —
    // per-task peak allocation stays ONE SHARD's bits (the sharding
    // claim; a single treeAggregate over an all-shards array would put
    // the whole 1.2 GB set in every task), and the driver merges
    // shard-compatible partials. N sequential stat.bloomFilter jobs
    // paid one full job overhead per shard for the same scan.
    val fppLocal = fpp
    val sizes = (0 until shards)
      .map(i => math.max(counts.getOrElse(i, 0L), 1L)).toArray
    val shardBytes: Array[Array[Byte]] = {
      import org.apache.spark.util.sketch.BloomFilter
      val partials = seen
        .select(col("shard"), xxhash64(col("url_key")).as("h"))
        .repartition(shards, col("shard"))
        .rdd.mapPartitions { it =>
          val local = new java.util.HashMap[Int, BloomFilter]()
          it.foreach { row =>
            val s = row.getInt(0)
            var f = local.get(s)
            if (f == null) {
              f = BloomFilter.create(sizes(s), fppLocal)
              local.put(s, f)
            }
            f.putLong(row.getLong(1))
          }
          import scala.jdk.CollectionConverters._
          local.asScala.iterator.map { case (s, f) =>
            val bos = new java.io.ByteArrayOutputStream()
            f.writeTo(bos)
            (s.intValue(), bos.toByteArray)
          }
        }.collect()
      val out = sizes.map(n => BloomFilter.create(n, fppLocal))
      partials.foreach { case (s, bytes) =>
        // same expectedItems+fpp per shard -> merge-compatible
        out(s).mergeInPlace(
          BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)))
      }
      out.map { f =>
        val bos = new java.io.ByteArrayOutputStream()
        f.writeTo(bos)
        bos.toByteArray
      }
    }
    // each shard behind its OWN broadcast handle: the stage binary
    // ships stubs, an executor pulls only the shards its routed
    // partitions probe (ShardedBloomSet scaladoc)
    val sc = pages.sparkSession.sparkContext
    val handles = shardBytes.toSeq.map(b => sc.broadcast(b))
    val bloomSet = new graft.functions.ShardedBloomSet(
      handles.toArray.map(h =>
        graft.functions.BroadcastShardBytes(h): graft.functions.ShardBytes))
    // route candidates by the build-side shard hash BEFORE the probe —
    // this pins per-partition (hence per-executor) shard residency;
    // the optional salt widens parallelism without mixing shards
    val routed0 = extractLinks(pages, urlCol).where(col("link_url").isNotNull)
      .select(col("link_url"), col("link_host"), md5(col("link_url")).as("url_key"))
      .withColumn("probe_shard",
        pmod(xxhash64(col("link_host")), lit(shards)).cast("int"))
    val links =
      if (probePartitionsPerShard == 1)
        routed0.repartition(shards, col("probe_shard"))
      else routed0
        .withColumn("probe_salt",
          pmod(xxhash64(col("link_url")), lit(probePartitionsPerShard)).cast("int"))
        .repartition(shards * probePartitionsPerShard,
          col("probe_shard"), col("probe_salt"))
        .drop("probe_salt")
    // SEALED probe: the expression is deterministic, so Catalyst's
    // PushPredicateThroughNonJoin would sink the filter BELOW the
    // routing RepartitionByExpression — probes would then execute on
    // the pre-routing host-mixed partitions and every executor would
    // materialize every shard, silently un-doing the residency pin
    // (byte-identical results, so only the plan shows it; the spec
    // asserts the ordering). PlanSeal blocks the push; the identical
    // routed subtrees under the two branches then share ONE exchange
    // via reuse, so extractLinks also runs once.
    val mightContain = graft.functions.PlanSeal.seal(GraftSqlBridge.column(
      graft.functions.ShardedBloomMightContain(
        GraftSqlBridge.expression(col("probe_shard")),
        GraftSqlBridge.expression(xxhash64(col("url_key"))),
        bloomSet)))
    val definitelyUnseen = links.where(!mightContain).drop("probe_shard")
    val confirmed = links.where(mightContain).drop("probe_shard")
      .join(seen.select(col("url_key")), Seq("url_key"), "left_anti")
    val cands = definitelyUnseen.unionByName(confirmed)
      .groupBy(col("link_url"), col("link_host"))
      .agg(count(lit(1)).as("n_refs"))
    (rankPrior(topPerHost(cands, perHostCap), ranks, nodeCol = "link_host")
      .select(col("link_url"), col("link_host"), col("n_refs"),
        col("domain_rank"), col("pos")),
      handles)
  }

  // ---- Sitemaps ----------------------------------------------------------

  /** Sitemap grammar (sitemaps.org XML, regex subset): `<url>` /
    * `<sitemap>` entry blocks, their `<loc>` URL plus the OPTIONAL
    * freshness fields the standard defines (`<lastmod>`,
    * `<changefreq>`, `<priority>`), and the `<sitemapindex>` root that
    * marks an index file. The entry pattern requires `>` or
    * whitespace after the tag name so `<urlset>` / `<sitemapindex>`
    * roots never match as entries. Explicit whitespace classes — the
    * engine-wide `\s` ban (Java and RE2 disagree on VT); inner trim
    * is the [[WsTrimPat]] job. */
  val SitemapEntryPat =
    "(?is)<(?:url|sitemap)(?:>|[ \\t\\n\\r\\f\\x0B][^>]*>)(.*?)</(?:url|sitemap)[ \\t\\n\\r\\f\\x0B]*>"
  val SitemapLocPat = "(?is)<loc[^>]*>([^<]*)</loc>"
  val SitemapLastmodPat = "(?is)<lastmod[^>]*>([^<]*)</lastmod>"
  val SitemapChangefreqPat = "(?is)<changefreq[^>]*>([^<]*)</changefreq>"
  val SitemapPriorityPat = "(?is)<priority[^>]*>([^<]*)</priority>"
  val SitemapIndexPat = "(?i)<sitemapindex[ \\t\\n\\r\\f\\x0B>]"

  /** Does a body look like a sitemap at all (urlset OR index root)?
    * Substring form — matches anywhere in the body, so a docs page
    * QUOTING '<urlset' matches too; prefer [[SitemapDocStrictPat]]
    * as a detection gate. */
  val SitemapDocPat = "(?is)<(?:urlset|sitemapindex)[ \\t\\n\\r\\f\\x0B>]"

  /** IS this body a sitemap document: the urlset/sitemapindex element
    * must be the ROOT — anchored at the document start, allowing only
    * what XML permits before the root (an optional BOM, the XML
    * declaration, whitespace, comments). A prose page that merely
    * CONTAINS '<urlset' (docs, code samples) no longer matches, so
    * the streaming discovery gate stops queueing its <loc> decoys as
    * frontier work. Explicit whitespace classes — the engine-wide
    * `\s` ban (Java and RE2 disagree on VT). */
  val SitemapDocStrictPat =
    "(?is)^\\uFEFF?[ \\t\\n\\r\\f\\x0B]*(?:<\\?xml[^>]*\\?>)?[ \\t\\n\\r\\f\\x0B]*" +
      "(?:<!--.*?-->[ \\t\\n\\r\\f\\x0B]*)*<(?:urlset|sitemapindex)[ \\t\\n\\r\\f\\x0B>]"

  /** A priority value safe to cast (sitemaps.org: 0.0–1.0 decimal);
    * anything else — including the negative/exponent forms the
    * standard forbids — reads NULL rather than risking an ANSI cast
    * failure on web garbage. */
  val SitemapPriorityNumPat = "^[0-9]+(\\.[0-9]+)?$"

  /** URL entries of sitemap documents `(doc_id, text)` — one row per
    * `<url>`/`<sitemap>` block carrying a `<loc>`, canonicalized:
    * `(doc_id, loc_idx, loc, url, host, is_index, lastmod,
    * changefreq, priority)`; `is_index` marks entries from a
    * `<sitemapindex>` (they name further sitemaps to fetch, not
    * content pages — a frontier seeds from the non-index rows and
    * feeds index rows back into the fetch queue). The three freshness
    * fields are the host's DECLARED change-rate signal — what
    * [[recrawlPolicySeeded]] seeds cold-start intervals from —
    * entity-decoded, whitespace-trimmed, NULL when absent/empty:
    * `lastmod` verbatim (W3C datetime text — parsing is the
    * consumer's policy), `changefreq` lowercased, `priority` as
    * double (non-numeric → NULL, [[SitemapPriorityNumPat]]). Entity
    * decode before canonicalization (`&amp;` is mandatory XML
    * escaping in query strings). Row-local explode, the
    * [[extractLinks]] stance. */
  def sitemapUrls(sitemaps: DataFrame): DataFrame = {
    val raw = coalesce(col("text"), lit(""))
    def field(pat: String): Column =
      nullif(regexp_replace(decodedHref(regexp_extract(col("entry"), pat, 1)),
        WsTrimPat, ""), lit(""))
    graft.core.Parallelism.ensure(sitemaps)
      .select(col("doc_id"),
        seal(struct(
          regexp_extract_all(raw, lit(SitemapEntryPat), lit(1)).as("es"),
          raw.rlike(SitemapIndexPat).as("is_index"))).as("sx"))
      .select(col("doc_id"), col("sx.is_index").as("is_index"),
        posexplode(col("sx.es")).as(Seq("loc_idx", "entry")))
      .where(col("entry").rlike(SitemapLocPat))
      .select(col("doc_id"), col("loc_idx"), col("is_index"),
        decodedHref(regexp_extract(col("entry"), SitemapLocPat, 1)).as("loc"),
        field(SitemapLastmodPat).as("lastmod"),
        lower(field(SitemapChangefreqPat)).as("changefreq"),
        field(SitemapPriorityPat).as("_pr"))
      .select(col("doc_id"), col("loc_idx"), col("loc"),
        seal(urlParts(col("loc"))).as("lp"), col("is_index"),
        col("lastmod"), col("changefreq"),
        when(col("_pr").rlike(SitemapPriorityNumPat), col("_pr"))
          .cast("double").as("priority"))
      .select(col("doc_id"), col("loc_idx"), col("loc"),
        col("lp.canon_url").as("url"), col("lp.host").as("host"),
        col("is_index"), col("lastmod"), col("changefreq"), col("priority"))
  }

  /** Transitive resolution of the sitemap-index tree over the FETCHED
    * corpus — `<sitemapindex>` files name child sitemaps
    * ([[sitemapUrls]] flags them `is_index`); when those children's
    * bodies are already in the corpus the engine resolves the tree
    * itself instead of every crawl loop re-implementing the fixpoint
    * (the [[crawlDepth]] iteration shape). Input `(doc_id, url, text)`
    * — each fetched sitemap body with the URL it was fetched from;
    * `loc` entries resolve to children by CANONICAL-URL equality
    * (both sides through [[canonicalizeUrl]], so escaping/tracking
    * -param/host-case noise never breaks the match).
    *
    * Output: one row per (index CHAIN, URL entry) — every entry of
    * every sitemap doc reached from a ROOT, with its provenance:
    * `(root_doc_id, doc_id, depth, path, loc_idx, loc, url, host,
    * is_index, child_doc_id, lastmod, changefreq, priority)`. `path`
    * is the canonical-URL chain `root > … > doc` that produced the
    * row (`depth` its hop count, root = 0); `child_doc_id` is — for
    * `is_index` entries only — the fetched doc the loc resolves to
    * (NULL = the child still needs fetching, i.e. the row IS the
    * fetch-queue entry). Roots are the docs no fetched index names
    * (in-degree 0): a real crawl enters the tree from a robots.txt
    * `Sitemap:` directive or a seed list, both of which land here.
    * An orphan cycle with no entry point is reachable from nowhere
    * and correctly absent.
    *
    * Termination is structural, twice over: a chain never revisits a
    * doc already on its own path (simple-path constraint — the cycle
    * guard; a cyclic `<sitemapindex>` pair terminates with the back
    * edge still visible as an entry row whose `child_doc_id` points
    * backward), and `maxDepth` bounds chain length (sitemaps.org
    * nests one level; 5 covers real trees with slack). On the
    * tree-shaped data the standard prescribes, chains are unique per
    * doc — the enumeration is corpus-sized, not combinatorial.
    *
    * Scale shape: per wave, one equi-join of the shrinking frontier
    * against the index EDGE set (edges = index entries resolved
    * against the doc-sized self-URL table — both doc-sized, never
    * body-sized), each wave materialized so lineage stays one wave
    * deep ([[crawlDepth]]'s discipline); the final join attaches
    * body-sized entries ONCE, after the fixpoint. */
  def sitemapTree(
      sitemaps: DataFrame,
      maxDepth: Int = 5)
      : DataFrame = {
    require(maxDepth >= 0, s"maxDepth=$maxDepth must be >= 0")
    // ONE materialized canon pass feeds both doc-keyed faces: selfs
    // (canonical self-URL -> fetched doc; dup fetches of one URL: min
    // doc_id wins, deterministically) and names (the path segments) —
    // both derive lazily from it, trading one eager job for two
    // cheap re-aggregations of a doc-sized checkpointed table
    val selfUrls = graft.core.Materialize(
      sitemaps.select(col("doc_id"), canonicalizeUrl(col("url")).as("self_url")))
    val selfs = selfUrls.where(col("self_url").isNotNull)
      .groupBy(col("self_url")).agg(min(col("doc_id")).as("doc_id"))
    val entries = graft.core.Materialize(sitemapUrls(sitemaps))
    // index edges: src doc -> FETCHED child doc (unfetched locs stay
    // out of the walk; they surface as child_doc_id NULL rows)
    val edges = graft.core.Materialize(
      entries.where(col("is_index"))
        .select(col("doc_id").as("src"), col("url"))
        .join(selfs.select(col("self_url").as("url"), col("doc_id").as("child")),
          Seq("url"))
        .select(col("src"), col("child")).distinct())
    val names = selfUrls.select(col("doc_id"),
      coalesce(col("self_url"), col("doc_id").cast("string")).as("name"))
    val roots = selfUrls.select(col("doc_id")).distinct()
      .join(edges.select(col("child").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    val rootChains = graft.core.Materialize(
      roots.join(names, Seq("doc_id"))
        .select(col("doc_id"), lit(0).as("depth"),
          array(col("doc_id")).as("path_ids"), col("name").as("path")))
    // chains accumulates as a LAZY union over the materialized waves
    // (r20, the crawlDepth discipline): waves are disjoint by depth and
    // each is materialized, so the union is a narrow block read — the
    // per-wave `grown` materialization (+ force job) re-copied the
    // whole chain table every wave. Under Persist the waves back the
    // returned union; pinned storage equals the old final table.
    var chains: DataFrame = rootChains
    var frontier = rootChains
    var k = 1
    var exhausted = frontier.limit(1).count() == 0L
    while (k <= maxDepth && !exhausted) {
      val next = graft.core.Materialize(
        frontier.select(col("doc_id").as("src"), col("depth"),
            col("path_ids"), col("path"))
          .join(edges, Seq("src"))
          .where(!array_contains(col("path_ids"), col("child")))
          .join(names.select(col("doc_id").as("child"), col("name").as("child_name")),
            Seq("child"))
          .select(col("child").as("doc_id"), (col("depth") + 1).as("depth"),
            concat(col("path_ids"), array(col("child"))).as("path_ids"),
            concat_ws(" > ", col("path"), col("child_name")).as("path")))
      if (next.limit(1).count() == 0L) {
        // an empty last wave is referenced by nothing — release it
        graft.core.Materialize.release(next)
        exhausted = true
      } else {
        chains = chains.unionByName(next)
        frontier = next
        k += 1
      }
    }
    val out = chains
      .select(element_at(col("path_ids"), 1).as("root_doc_id"), col("doc_id"),
        col("depth"), col("path"))
      .join(entries, Seq("doc_id"))
      .join(selfs.select(col("self_url").as("url"), col("doc_id").as("child_doc_id")),
        Seq("url"), "left")
      .select(col("root_doc_id"), col("doc_id"), col("depth"), col("path"),
        col("loc_idx"), col("loc"), col("url"), col("host"), col("is_index"),
        when(col("is_index"), col("child_doc_id")).as("child_doc_id"),
        col("lastmod"), col("changefreq"), col("priority"))
    graft.core.Materialize.release(edges)
    out
  }

  /** The complete next-fetch list in ONE call — the crawl loop's
    * output artifact: frontier candidates (unseen, ref-counted) that
    * robots ALLOW, capped to the top `perHostCap` per host AFTER the
    * robots filter (filter-then-cap: a host whose top-ranked
    * candidates are disallowed still emits its full budget of allowed
    * fetches — capping first would silently under-fill it), the
    * domain-rank prior and the host's declared politeness budget
    * attached, and a concrete fetch schedule:
    * `fetch_offset = (pos − 1) · delay` seconds into the host's fetch
    * wave, where `delay` is the host's `crawl_delay` or
    * `defaultDelay` when none is declared (`crawl_delay` stays NULL
    * in the output for undeclared hosts — the offset column is where
    * the default applies). `rules` / `delays` are stored
    * [[Robots.robotsRules]] / [[Robots.crawlDelays]] outputs —
    * host-sized, broadcast; both key by CANONICAL host
    * ([[Robots]]' contract), matching `link_host`. Output:
    * `(link_url, link_host, n_refs, domain_rank, pos, crawl_delay,
    * fetch_offset)`. */
  def politeFrontier(
      pages: DataFrame,
      ranks: DataFrame,
      rules: DataFrame,
      delays: DataFrame,
      urlCol: String = "url",
      perHostCap: Int = 10,
      defaultDelay: Double = 1.0): DataFrame = {
    require(perHostCap >= 1, s"perHostCap=$perHostCap must be >= 1")
    require(defaultDelay >= 0, s"defaultDelay=$defaultDelay must be >= 0")
    val allowed = Robots.allowedOnly(frontierCandidates(pages, urlCol), rules)
    rankPrior(topPerHost(allowed, perHostCap), ranks, nodeCol = "link_host")
      .join(broadcast(delays.select(col("host").as("link_host"), col("crawl_delay"))),
        Seq("link_host"), "left")
      .select(col("link_url"), col("link_host"), col("n_refs"),
        col("domain_rank"), col("pos"), col("crawl_delay"),
        ((col("pos") - 1).cast("double") *
          coalesce(col("crawl_delay"), lit(defaultDelay))).as("fetch_offset"))
  }

  // ---- Corpus snapshot diff --------------------------------------------

  /** Diff two corpus snapshots by doc_id + content hash:
    * `(doc_id, status ∈ added|removed|changed|unchanged, old_h,
    * new_h)`. The join moves only `(doc_id, md5)` pairs — hashes are
    * computed BEFORE the shuffle, text never moves — so diffing two
    * 100 TB snapshots costs two scans plus an id-sized co-partitioned
    * join. NULL text hashes like empty text (the engine-wide
    * total-function stance). Feed `status != 'unchanged'` into the
    * incremental faces ([[Dedup.dedupIncremental]],
    * [[graft.streaming.CorpusWatcher]] histories) to process only the
    * delta. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val oh = graft.core.Parallelism.ensure(oldDocs)
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("old_h"))
    val nh = graft.core.Parallelism.ensure(newDocs)
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("new_h"))
    oh.join(nh, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_h").isNull, lit("added"))
          .when(col("new_h").isNull, lit("removed"))
          .when(col("old_h") === col("new_h"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_h"), col("new_h"))
  }

  /** Allocate a TOTAL fetch budget across hosts proportionally to a
    * rank table — the planning face between [[domainRank]] and
    * [[politeFrontier]]: a crawl wave has a global capacity (fetcher
    * slots x window) and spends it where the quality prior says pages
    * are worth fetching, clamped to `[minPerHost, maxPerHost]`
    * (every known host deserves a probe; no host may monopolize the
    * wave). Output: `(node, rank, fetch_budget)`; feed each host's
    * budget to [[crawlFrontier]]'s `perHostCap` consumer or slice the
    * polite frontier by `pos <= fetch_budget`.
    *
    * Determinism: ranks re-quantize to BIGINT [[RankUnits]] by the
    * fixed-shape `round(rank · U, 0)` (exactly the stored
    * [[domainRank]] units), the denominator is an ORDER-INDEPENDENT
    * integer sum — never a double sum, whose partial-aggregation
    * order would differ per engine — and the per-host share is one
    * fixed-shape `floor(total · ru / sum_u)` double expression. A
    * rank table summing to zero (or empty) degrades to `minPerHost`
    * everywhere. Row-local + one broadcast scalar — no shuffle beyond
    * the one-row aggregate. */
  def crawlBudget(
      ranks: DataFrame,
      total: Long,
      minPerHost: Long = 1L,
      maxPerHost: Long = Long.MaxValue): DataFrame = {
    require(total >= 0, s"total=$total must be >= 0")
    require(minPerHost >= 0, s"minPerHost=$minPerHost must be >= 0")
    require(maxPerHost >= minPerHost,
      s"maxPerHost=$maxPerHost must be >= minPerHost=$minPerHost")
    val u = ranks.select(col("node"), col("rank"),
      round(col("rank") * lit(RankUnits).cast("double"), 0).cast("long").as("ru"))
    val sumU = u.agg(coalesce(sum(col("ru")), lit(0L)).as("sum_u"))
    u.crossJoin(broadcast(sumU))
      .select(col("node"), col("rank"),
        when(col("sum_u") > 0L,
          greatest(lit(minPerHost), least(lit(maxPerHost),
            floor(lit(total).cast("double") * col("ru").cast("double") /
              col("sum_u").cast("double")).cast("long"))))
          .otherwise(lit(minPerHost)).as("fetch_budget"))
  }

  // ---- Recrawl scheduling ----------------------------------------------

  /** Adaptive revisit scheduling from a fetch log — the freshness
    * economics of a continuous crawl (Cho & Garcia-Molina '03's
    * change-rate estimation, reduced to the binary-backoff policy
    * production crawlers actually run): a URL that keeps changing is
    * re-fetched at `baseInterval`; every consecutive UNCHANGED fetch
    * doubles the interval, capped at `maxInterval`.
    *
    * Input `fetches(url, fetch_ts, content_hash)` — one row per
    * completed fetch, `fetch_ts` epoch seconds, `(url, fetch_ts)`
    * unique (the fetch log's natural key). Output one row per URL:
    * `(url, n_fetches, n_changes, last_fetch, unchanged_streak,
    * interval_sec, next_fetch_at)` where `unchanged_streak` counts
    * the consecutive most-recent fetches that did NOT change the
    * content (a URL's first fetch always counts as a change — there
    * was no prior content), `interval_sec =
    * min(maxInterval, baseInterval · 2^min(streak, 30))` and
    * `next_fetch_at = last_fetch + interval_sec`. Filter
    * `next_fetch_at <= now` for the due list; feed it to
    * [[politeFrontier]]'s delay budgets for the fetch wave.
    *
    * Determinism: pure integer arithmetic. The shift exponent is
    * capped BEFORE shifting at `min(30, 62 − bitlength(baseInterval))`
    * so `baseInterval << s` can never exceed `Long.MaxValue` for ANY
    * legal `baseInterval` (only `>= 1` is required) — without the
    * second bound a base above ~2³³ would shift into the sign bit,
    * land `next_fetch_at` in the past, and mark stale URLs
    * permanently due. The `maxInterval` clamp then applies as the
    * policy bound (for the default day-scale base the cap is the
    * usual 30).
    *
    * Scale shape: ONE window over `(url)` ordered by fetch time for
    * the change flag — per-key cardinality is the URL's OWN fetch
    * count (history depth: tens to hundreds), bounded by crawl
    * policy, so the per-host-window skew the frontier bans
    * ([[topPerHost]]) cannot arise — then one combinable groupBy(url).
    * Text never appears; the log carries 16-byte hashes. */
  def recrawlPolicy(
      fetches: DataFrame,
      baseInterval: Long = 86400L,
      maxInterval: Long = 30L * 86400L): DataFrame = {
    require(baseInterval >= 1, s"baseInterval=$baseInterval must be >= 1")
    require(maxInterval >= baseInterval,
      s"maxInterval=$maxInterval must be >= baseInterval=$baseInterval")
    // largest shift that keeps baseInterval << s positive (see scaladoc)
    val maxShift =
      math.min(30, java.lang.Long.numberOfLeadingZeros(baseInterval) - 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url")).orderBy(col("fetch_ts"))
    val flagged = graft.core.Parallelism.ensure(fetches)
      .select(col("url"), col("fetch_ts"),
        coalesce(col("content_hash"), lit("")).as("h"))
      .select(col("url"), col("fetch_ts"),
        (lag(col("h"), 1).over(w).isNull ||
          lag(col("h"), 1).over(w) =!= col("h")).as("changed"),
        row_number().over(w).as("rn"))
    flagged.groupBy(col("url"))
      .agg(
        count(lit(1)).as("n_fetches"),
        sum(when(col("changed"), 1L).otherwise(0L)).as("n_changes"),
        max(col("fetch_ts")).as("last_fetch"),
        max(when(col("changed"), col("rn"))).as("_last_change_rn"))
      .select(col("url"), col("n_fetches"), col("n_changes"), col("last_fetch"),
        (col("n_fetches") - col("_last_change_rn")).as("unchanged_streak"))
      .withColumn("interval_sec",
        least(lit(maxInterval),
          expr(s"shiftleft(CAST($baseInterval AS BIGINT), " +
            s"CAST(least(unchanged_streak, $maxShift) AS INT))")))
      .withColumn("next_fetch_at", col("last_fetch") + col("interval_sec"))
  }

  /** sitemaps.org `<changefreq>` tokens → seconds. `always` maps to
    * the policy's own floor (fetch as often as the policy allows) and
    * `never` to its ceiling; unknown tokens map to NULL (no seed —
    * the standard's closed vocabulary, loosely honored by the web). */
  private def changefreqSeconds(cf: Column, baseInterval: Long, maxInterval: Long): Column =
    when(cf === "always", lit(baseInterval))
      .when(cf === "hourly", lit(3600L))
      .when(cf === "daily", lit(86400L))
      .when(cf === "weekly", lit(604800L))
      .when(cf === "monthly", lit(2592000L))
      .when(cf === "yearly", lit(31536000L))
      .when(cf === "never", lit(maxInterval))

  /** [[recrawlPolicy]] seeded by the host's DECLARED change rates —
    * the cold-start fix: a URL the crawl has fetched fewer than twice
    * has no observed change history, and the plain policy spends
    * `log2(realInterval/baseInterval)` wasted fetches learning a rate
    * the sitemap already declared (`<changefreq>`,
    * [[sitemapUrls]]' `changefreq` column). `declared` is any
    * `(url, changefreq)` table — canonical URL + token; multiple
    * declarations for one URL keep the FRESHEST (minimum seconds: a
    * host that declares a faster rate anywhere expects the page to
    * change that fast). Seconds clamp into
    * `[baseInterval, maxInterval]` AFTER the per-URL min.
    *
    * PRECEDENCE: observed history beats declaration — a URL with
    * `n_fetches >= 2` has real evidence and keeps the backoff
    * interval; only `n_fetches < 2` rows with a recognized declared
    * token take the seed (`seeded` marks them). Unknown tokens and
    * undeclared URLs keep the plain policy everywhere.
    *
    * Units: the changefreq mapping is defined in SECONDS — pass
    * epoch-second `fetch_ts` (the [[recrawlPolicy]] default contract),
    * not batch units.
    *
    * Scale shape: [[recrawlPolicy]]'s plan plus one join against the
    * url-count-sized declaration table (broadcast by default; at
    * 10⁹ declared URLs pass `broadcastDeclared = false` and let it
    * shuffle on the url key both sides already carry). */
  def recrawlPolicySeeded(
      fetches: DataFrame,
      declared: DataFrame,
      baseInterval: Long = 86400L,
      maxInterval: Long = 30L * 86400L,
      broadcastDeclared: Boolean = true): DataFrame = {
    val mapped = changefreqSeconds(
      lower(regexp_replace(coalesce(col("changefreq"), lit("")), WsTrimPat, "")),
      baseInterval, maxInterval)
    val d = declared
      .select(col("url"), mapped.as("_secs"))
      .where(col("url").isNotNull && col("_secs").isNotNull)
      .groupBy("url").agg(min(col("_secs")).as("_secs"))
    val rhs = if (broadcastDeclared) broadcast(d) else d
    val clamped = greatest(lit(baseInterval), least(lit(maxInterval), col("_secs")))
    recrawlPolicy(fetches, baseInterval, maxInterval)
      .join(rhs, Seq("url"), "left")
      .withColumn("seeded", col("n_fetches") < 2L && col("_secs").isNotNull)
      .withColumn("interval_sec",
        when(col("seeded"), clamped).otherwise(col("interval_sec")))
      .withColumn("next_fetch_at", col("last_fetch") + col("interval_sec"))
      .drop("_secs")
  }
}
