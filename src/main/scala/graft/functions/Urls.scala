package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL curation primitives — the crawl-metadata leg of the curation
  * surface (C4/RefinedWeb shape: URL-keyed filtering and dedup run
  * BEFORE content heuristics, because they are metadata-only and cost
  * nothing next to text processing).
  *
  * Everything is Column algebra (regexp + string ops): map-only,
  * codegen'd, zero shuffle — the per-domain caps/stats that follow are
  * one hash aggregation on the extracted domain.
  *
  * Normalization is the standard canonical form for URL-keyed exact
  * dedup: lowercase scheme+host, strip fragment, strip tracking query
  * parameters (utm_*, fbclid, gclid, ref), drop an empty residual `?`,
  * strip one trailing slash from a non-root path. Registered-domain
  * extraction is the public-suffix heuristic: last two host labels,
  * three when the penultimate label is a generic second-level label
  * (co/com/net/org/gov/ac/edu) under a 2-letter ccTLD — the fixed rule
  * set is documented as a subset of the public-suffix list (the full
  * PSL is a data file, not an algorithm; the heuristic covers the
  * co.uk/com.au family the corpus actually contains).
  */
object Urls {

  /** Lowercased host (authority minus userinfo/port). */
  def host(url: Column): Column =
    lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)", 1))

  /** Canonical URL for exact URL-keyed dedup (see scaladoc).
    *
    * A URL the scheme://host extraction cannot parse (scheme-relative
    * `//host/path`, bare `host/path`, garbage) falls back to the RAW
    * input: canonicalizing it to the empty string would send every
    * unparseable URL to the SAME dedup key, and a downstream
    * `Dedup.exactKept` would silently keep one survivor out of all of
    * them — corpus loss on real crawl data. Raw fallback means such URLs
    * dedup only against byte-identical twins, the conservative rule. */
  def normalize(url: Column): Column = {
    // lowercase scheme://host prefix only (path/query are case-sensitive)
    val schemeHost =
      regexp_extract(url, "^([a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?[^/?#]*)", 1)
    val lowered = concat(
      lower(schemeHost),
      regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?[^/?#]*(.*)$", 1))
    val noFragment = regexp_replace(lowered, "#.*$", "")
    // tracking params, wherever they sit in the query string
    val noTracking = regexp_replace(noFragment,
      "(?i)(?<=[?&])(?:utm_[a-z]+|fbclid|gclid|ref)=[^&#]*&?", "")
    val noDanglingAmp = regexp_replace(noTracking, "[?&]+$", "")
    // non-root trailing slash (the root "host/" form is canonical)
    val canon = regexp_replace(noDanglingAmp,
      "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]+/.+)/$", "$1")
    when(length(schemeHost) > 0, canon).otherwise(url)
  }

  /** Resolve an href against its page's base URL: absolute hrefs pass
    * through, protocol-relative (`//host/path`) takes the base's scheme
    * (RFC 3986 network-path reference — treating it as root-relative
    * would mis-join it onto the base host), root-relative (`/path`)
    * joins the base's scheme://host, and anything else (bare-relative,
    * fragment-only) is approximated as root-relative — the conservative
    * crawl-canonicalization rule (a wrong same-host path only fails an
    * intra-corpus join; it never fabricates a cross-site edge). Pair
    * with [[normalize]] before joining against canonical corpus URLs. */
  def resolve(base: Column, href: Column): Column = {
    val schemeHost =
      regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?[^/?#]*)", 1)
    val scheme = regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    when(href.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"), href)
      .when(href.startsWith("//"), concat(scheme, lit(":"), href))
      .when(href.startsWith("/"), concat(schemeHost, href))
      .otherwise(concat(schemeHost, lit("/"), href))
  }

  private val GenericSld = Seq("co", "com", "net", "org", "gov", "ac", "edu")

  /** A host's registered domain as one suffix match: its last three
    * labels when the second-last is a generic second-level label under a
    * 2-letter TLD, else its last two, else (one label) the whole host.
    * The leftmost match wins, so a host whose last three labels fit the
    * first branch never falls to the second. `\z`, not `$`: `$` would
    * also match before a trailing line break. */
  private val RegisteredSuffix =
    s"(?:[^.]*\\.(?:${GenericSld.mkString("|")})\\.[^.]{2}|[^.]*\\.[^.]*|^[^.]*)\\z"

  /** Registered domain of the host (public-suffix heuristic): the host
    * is extracted once and matched once, which keeps the generated code
    * of a (src, dst) domain aggregate under Janino's 64 KB method limit.
    * A URL with no host (null included) has the empty domain. */
  def registeredDomain(url: Column): Column =
    coalesce(regexp_extract(host(url), RegisteredSuffix, 0), lit(""))

  /** TRUE when the registered domain is on the blocklist. */
  def blocked(url: Column, blocklist: Seq[String]): Column =
    array_contains(array(blocklist.map(lit): _*), registeredDomain(url))
}
