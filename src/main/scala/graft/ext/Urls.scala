package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * URL hygiene — the corpus-pipeline step between crawl ingest and dedup
 * (RefinedWeb §"URL filtering", C4's host-level dedup key): canonicalize
 * crawl URIs so that cosmetic variants (case of scheme/host, default
 * ports, fragments, tracking parameters) collapse to one key, derive the
 * host / approximate registrable domain, and drop documents from blocked
 * domains.
 *
 * Everything is composed from codegen'd string/array functions — no
 * UDFs, no regex fixed-point rewrites (a single-pass `regexp_replace`
 * cannot strip CONSECUTIVE tracking parameters because the scan resumes
 * past the consumed separator; splitting the query string and filtering
 * parts is exact on every engine instead). Every step is mirrored
 * verbatim in the DuckDB oracle, so the whole canonicalization is
 * hash-gated, not just spot-checked.
 *
 * Scale shape: pure narrow projections; the blocklist filter broadcasts
 * the (small) domain list and keeps the corpus un-shuffled.
 */
object Urls {

  /** `scheme://` + optional `userinfo@` matcher; group 1 is the
    * `host[:port]` part of the authority with any userinfo (up to the LAST
    * `@` before the path — greedy, same in RE2/DuckDB and Java regex)
    * already stripped. Userinfo MUST be stripped before host extraction:
    * `http://evil@blocked.com/` has authority `evil@blocked.com`, and a
    * host key cut from the raw authority would both miss the blocklist and
    * fragment dedup keys by login. */
  private val HostPortRe = "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/?#]*)"

  /** Lowercased host of `u` (empty string when `u` has no `scheme://`
    * authority): userinfo stripped (see [[HostPortRe]]), then the port
    * removed — at the first `:` for regular hosts (hostnames cannot
    * contain colons), or after the closing `]` for an IPv6 bracket
    * literal (`[::1]:8080` → `[::1]`, bracket kept so the key stays
    * unambiguous vs a hostname). Ports are removed for the HOST key on
    * purpose — host keys dedup/block by site, and a port-distinguished
    * site is not a case the corpus pipeline serves. */
  def urlHost(u: Column): Column = {
    val auth = regexp_extract(u, HostPortRe, 1)
    lower(when(auth.startsWith("["), regexp_extract(auth, "^(\\[[^\\]]*\\])", 1))
      .otherwise(substring_index(auth, ":", 1)))
  }

  /** Approximate registrable domain: the last two dot-labels of the host
    * (`news.bbc.co.uk` → `co.uk` — WRONG for multi-label public suffixes,
    * right for the common `domain.tld` case; an exact answer needs the
    * public-suffix list, which is a data dependency, not an operator —
    * callers with the list can join it against [[urlHost]] instead). */
  def registrableDomainApprox(host: Column): Column = {
    val parts = split(host, "\\.")
    when(size(parts) <= 2, host)
      .otherwise(concat_ws(".", element_at(parts, -2), element_at(parts, -1)))
  }

  /**
   * Canonical URL, five deterministic steps:
   *  1. trim surrounding whitespace;
   *  2. drop the fragment (`#…` — never sent to servers);
   *  3. lowercase the scheme and `host[:port]` ONLY (path and query stay
   *     case-significant per RFC 3986, and so does any `userinfo@` — login
   *     names are case-sensitive, so the userinfo passes through verbatim);
   *  4. strip default ports (`:80` for http, `:443` for https), seeing
   *     through userinfo and IPv6 bracket literals (`http://u:p@h:80/` and
   *     `http://[::1]:80/` both lose the port);
   *  5. remove tracking query parameters (default policy: `utm_*` by
   *     prefix, `gclid`/`fbclid` by name — both configurable) by splitting
   *     the query on `&` and filtering parts — exact for any number of
   *     consecutive parameters — dropping the `?` entirely when nothing
   *     survives.
   * Inputs without a `scheme://` pass through steps 1–2 unchanged
   * (nothing to lowercase or port-strip; a bare string has no authority).
   */
  def canonicalizeUrl(u: Column,
      trackingPrefixes: Seq[String] = DefaultTrackingPrefixes,
      trackingNames: Seq[String] = DefaultTrackingNames): Column = {
    val noFrag = regexp_replace(trim(u), "#.*$", "")
    val scheme = regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    val userinfo = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*@)", 1)
    val hostport = regexp_extract(noFrag, HostPortRe, 1)
    val prefixLen = length(scheme) + lit(3) + length(userinfo) + length(hostport)
    val lowered = when(scheme === "", noFrag)
      .otherwise(concat(lower(scheme), lit("://"), userinfo, lower(hostport),
        substring(noFrag, prefixLen + 1, lit(2147483647))))
    // the host alternation sees through `userinfo@` and keeps IPv6 bracket
    // literals whole, so `:80`/`:443` here can only be a real port
    val hostPat = "(?:[^/?#]*@)?(?:\\[[^\\]]*\\]|[^/?#:]*)"
    val noPort = regexp_replace(
      regexp_replace(lowered, s"^(http://$hostPat):80([/?#].*)?$$", "$1$2"),
      s"^(https://$hostPat):443([/?#].*)?$$", "$1$2")
    val base = substring_index(noPort, "?", 1)
    val query = when(noPort.contains("?"),
      noPort.substr(instr(noPort, "?") + 1, lit(2147483647)))
      .otherwise(lit(null))
    val kept = filter(split(query, "&"), p => !isTracking(p, trackingPrefixes, trackingNames))
    when(query.isNull, base)
      .when(size(kept) === 0, base)
      .otherwise(concat(base, lit("?"), array_join(kept, "&")))
  }

  /** Default tracking-parameter policy (the public-pipeline baseline):
    * any `utm_*` family parameter by prefix, plus the Google/Facebook
    * click ids by exact name. Deployments with their own hygiene list pass
    * it to [[canonicalizeUrl]] — the policy is configuration, like the
    * blocklist, not a constant of the operator. */
  val DefaultTrackingPrefixes: Seq[String] = Seq("utm_")
  val DefaultTrackingNames: Seq[String] = Seq("gclid", "fbclid")

  /** True when query part `p` is a tracking parameter under the policy: it
    * starts with a listed prefix, or its NAME equals a listed name (bare
    * `gclid` or valued `gclid=…` — a name that merely PREFIXES another
    * name, e.g. `gclid2=…`, is kept). Static lists fold to a static
    * codegen'd boolean — no per-row loop. */
  private def isTracking(p: Column, prefixes: Seq[String], names: Seq[String]): Column =
    (prefixes.map(pre => p.startsWith(pre)) ++
      names.flatMap(n => Seq(p === n, p.startsWith(n + "="))))
      .foldLeft(lit(false))(_ || _)

  /**
   * EXACT registrable domain against a caller-supplied public-suffix list
   * (the data dependency [[registrableDomainApprox]] documents away): for
   * each host, the longest PSL suffix matching on a label boundary wins,
   * and the registrable domain is that suffix plus one more label —
   * `news.bbc.co.uk` with `co.uk` listed → `bbc.co.uk`, where the
   * last-two-labels approximation wrongly says `co.uk`. Hosts matching no
   * rule fall back to the PSL's implicit default rule (the bare TLD is
   * the suffix); a host that IS a public suffix (or a single label, or
   * empty) has no registrable domain → null.
   *
   * `psl` is one lowercase `suffix` column (plain rules; feed wildcard
   * expansions as materialized rows if the deployment needs them).
   * Returns `df` plus an `out` column.
   *
   * Scale shape: hosts are DISTINCT'd first (crawl hosts dedup massively),
   * each distinct host explodes into its ≤ #labels dot-suffixes and
   * EQUI-joins the list — the same shape as [[filterBlockedDomains]], so
   * the full ~10k-rule public list shuffles or broadcasts fine — then one
   * max-per-host aggregation picks the longest rule and the mapping joins
   * back on the host key. No nested-loop anywhere.
   */
  def registrableDomainPsl(df: DataFrame, hostCol: String, psl: DataFrame,
      out: String = "domain"): DataFrame = {
    val hosts = df.select(col(hostCol).as("__host")).distinct()
    def parts = split(col("__host"), "\\.")
    val exploded = hosts.select(col("__host"),
        explode(transform(sequence(lit(1), size(parts)),
          i => struct(array_join(slice(parts, i, size(parts)), ".").as("suf"),
            (size(parts) - i + 1).as("k")))).as("__s"))
      .select(col("__host"), col("__s.suf").as("__suf"), col("__s.k").as("__k"))
    val best = exploded.join(psl.select(lower(col("suffix")).as("__suf")), Seq("__suf"))
      .groupBy("__host").agg(max("__k").as("__k"))
    // the internal frames never touch `df`, so their fixed temp names are
    // safe — but the final join lands two columns ON df, so those are
    // collision-probed against the caller's schema (the Dedup.exact
    // convention: a hardcoded name would silently drop a caller column)
    val taken = df.columns.toSet
    require(!taken.contains(out),
      s"output column '$out' already exists on the input frame")
    val hc = graft.ops.Ops.freshName(taken, "__pslhost")
    val dc = graft.ops.Ops.freshName(taken, "__psldom")
    val mapped = hosts.join(best, Seq("__host"), "left")
      .select(col("__host"), coalesce(col("__k"), lit(1)).as("__k"))
      .select(col("__host").as(hc),
        when(size(parts) > col("__k"),
          array_join(slice(parts, size(parts) - col("__k"), col("__k") + 1), "."))
          .as(dc))
    df.join(mapped, df(hostCol) === mapped(hc), "left")
      .drop(hc).withColumnRenamed(dc, out)
  }

  /**
   * Drop rows whose URL's host is a blocked domain or any subdomain of
   * one. `blocked` is one `domain` column (lowercase registrable domains);
   * matching is "some label-boundary suffix of the host equals a blocked
   * domain" — identical to the standard `host == d OR host endswith
   * ".d"` semantics, but expressed as an EQUI join: each host explodes
   * into its ≤ #labels dot-suffixes (`a.b.c` → `a.b.c`, `b.c`, `c`) and
   * the hit set anti-joins back by URL. An `endswith`-style OR condition
   * would plan a nested-loop join (every row × every blocked domain),
   * which also caps the blocklist at broadcast size; the suffix join
   * shuffles on the suffix key, so a UT1-scale multi-million-domain
   * blocklist works unchanged — and a small one still broadcasts via AQE.
   */
  def filterBlockedDomains(df: DataFrame, urlCol: String, blocked: DataFrame): DataFrame = {
    val host = urlHost(col(urlCol))
    val parts = split(host, "\\.")
    val suffixes = transform(sequence(lit(1), size(parts)),
      i => array_join(slice(parts, i, size(parts)), "."))
    val hitUrls = df.select(col(urlCol).as("__u"), explode(suffixes).as("__suf"))
      .join(blocked.select(lower(col("domain")).as("__suf")), Seq("__suf"))
      .select(col("__u")).distinct()
    df.join(hitUrls, df(urlCol) === hitUrls("__u"), "left_anti")
  }

  /**
   * Host-level corpus statistics — the aggregation RefinedWeb-class
   * pipelines run to make PER-HOST keep/drop decisions (a host whose pages
   * are mostly near-empty or stopword-free is boilerplate/spam wholesale;
   * judging it page-by-page both misses the pattern and wastes the
   * downstream budget). Per host: document count, short-document count and
   * ratio (`n_tokens < minTokens`, the [[TextAnalysis.quality]] flag),
   * total token mass, the host-pooled stopword ratio, and
   * `keep = short_ratio ≤ maxShortRatio`.
   *
   * The stopword ratio is pooled (`Σ stopwords / Σ tokens`), not an average
   * of per-doc ratios: pooling weighs pages by length AND keeps every
   * number an exact integer-over-integer division — bit-identical across
   * engines with no rounding contract (the [[TextAnalysis.quality]]
   * convention). Scale shape: one per-row codegen'd projection (host
   * extraction + two token counts), then ONE map-side-combined `groupBy` on
   * the host — host-cardinality output at any corpus size, no second
   * shuffle, no window. Rows with NULL text or no extractable host carry no
   * signal and are excluded.
   */
  def hostStats(docs: DataFrame, urlCol: String, textCol: String,
      minTokens: Int = 30, maxShortRatio: Double = 0.5): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1: $minTokens")
    require(maxShortRatio >= 0.0 && maxShortRatio <= 1.0,
      s"maxShortRatio must be in [0, 1]: $maxShortRatio")
    val t = TextAnalysis.tokens(col(textCol))
    val sw = typedLit(TextAnalysis.Stopwords)
    val base = docs.filter(col(textCol).isNotNull)
      .select(urlHost(col(urlCol)).as("host"), size(t).as("__nt"),
        size(filter(t, x => array_contains(sw, x))).as("__ns"))
      .filter(col("host") =!= "")
    val shortRatio = col("n_short").cast("double") / col("n_docs").cast("double")
    base.groupBy(col("host")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__nt") < minTokens, 1L).otherwise(0L)).as("n_short"),
        sum(col("__nt").cast("long")).as("total_tokens"),
        sum(col("__ns").cast("long")).as("total_stopwords"))
      .select(col("host"), col("n_docs"), col("n_short"),
        shortRatio.as("short_ratio"), col("total_tokens"),
        (col("total_stopwords").cast("double") /
          col("total_tokens").cast("double")).as("stopword_ratio"),
        (shortRatio <= maxShortRatio).as("keep"))
  }
}
