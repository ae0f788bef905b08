package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL canonicalization + domain-level curation — the web-pipeline
  * stage BEFORE any content is fetched or deduped: crawl frontiers and
  * link graphs refer to the same resource under syntactic variants
  * (case-different hosts, default ports, tracking parameters, fragment
  * suffixes), and corpus balance is enforced per REGISTRABLE DOMAIN
  * (a per-domain document cap is how web corpora keep one SEO farm
  * from being 4% of the training set).
  *
  * Everything is a fixed RE2-compatible regexp chain (the q_t10 /
  * [[HtmlExtract]] oracle-parity discipline):
  *
  *   - canonicalize: lowercase scheme+host (path/query case AND any
  *     `user:pass@` userinfo are preserved — they are significant),
  *     strip `#fragment`, strip
  *     default ports (`:80` http, `:443` https), strip the common
  *     tracking parameters (`utm_*`, `gclid`, `fbclid`, `ref`), strip
  *     a dangling `?`/`&`, collapse duplicate slashes in the path
  *     (scheme `//` preserved), drop one trailing `/` from a non-root
  *     path;
  *   - registrable domain: decided against the PINNED Public Suffix
  *     List snapshot in [[PublicSuffix]] (two- and three-label rules,
  *     wildcards, exceptions — version-stamped; refreshing the
  *     snapshot is a versioned code change, the explicit boundary).
  *
  * Scale shape: canonicalize + domain are pure scan-side column
  * transforms; the per-domain cap is one window ranked by a
  * deterministic content hash (md5 of the canonical URL — stable
  * under any partitioning, no arrival-order dependence), partition
  * width = documents per domain.
  */
object UrlOps {

  private val trackingParam = "(?:utm_[A-Za-z0-9_]*|gclid|fbclid|ref)"

  /** The fixed canonicalization chain. Tracking-param removal is three
    * ordered global passes that each leave a well-formed query: strip
    * every NON-FIRST tracking param (`&p=v`), then a first param with a
    * successor (`?p=v&` → `?`), then a first-and-only (`?p=v` → empty).
    * The duplicate-slash collapse applies from the path onward (scheme
    * `//` protected by the preceding `:`; a `//` inside a query value
    * collapses too — documented boundary). A single trailing `/` drops,
    * INCLUDING the bare root slash — host-only is the canonical root.
    */
  def canonicalize(url: Column): Column = {
    val u0 = trim(coalesce(url, lit("")))
    // lowercase ONLY the scheme and the post-@ host:port — userinfo
    // (`User:Pass@`) is case-significant and passes through verbatim
    // (the r15 ADVICE fix; first-`@` semantics, matching [[host]]).
    // A scheme-less input leaves every extract empty and the replace a
    // no-op, so it passes through unchanged, as before.
    val lowered = concat(
      lower(regexp_extract(u0, "^([^:/?#]+://)", 1)),
      regexp_extract(u0, "^[^:/?#]+://([^/?#@]*@)", 1),
      lower(regexp_extract(u0, "^[^:/?#]+://(?:[^/?#@]*@)?([^/?#]*)", 1)),
      regexp_replace(u0, "^[^:/?#]+://[^/?#]*", ""))
    val noFrag = regexp_replace(lowered, "#.*$", "")
    val noPort = regexp_replace(
      regexp_replace(noFrag, "^(http://[^/?#:]*):80(/|\\?|$)", "$1$2"),
      "^(https://[^/?#:]*):443(/|\\?|$)", "$1$2")
    val noTrack = regexp_replace(
      regexp_replace(
        regexp_replace(noPort, s"&$trackingParam=[^&#]*", ""),
        s"\\?$trackingParam=[^&#]*&", "?"),
      s"\\?$trackingParam=[^&#]*$$", "")
    val deslashed = regexp_replace(noTrack, "([^:/])//+", "$1/")
    regexp_replace(deslashed, "([^:/?#])/(\\?|$)", "$1$2")
  }

  /** Host of an (already canonical) URL — userinfo (`user@`) skipped. */
  def host(url: Column): Column =
    regexp_extract(url, "^[^:/?#]+://(?:[^/?#@]*@)?([^/?#:@]*)", 1)

  /** Registrable domain of a host under the pinned PSL snapshot —
    * scan-side `isin` membership over last-k-label extracts with full
    * PSL precedence (exceptions > wildcards/three-label > two-label >
    * default); read [[PublicSuffix]] for the snapshot's provenance and
    * refresh boundary.
    */
  def registrableDomain(hostCol: Column): Column =
    PublicSuffix.registrableDomain(hostCol)

  /** Canonicalize a URL column and annotate: (idCol…, url_canon, host,
    * domain) — one row per input row, pure scan-side.
    */
  def normalize(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val canon = canonicalize(col(urlCol))
    df.select(
      col(idCol),
      canon.as("url_canon"),
      host(canon).as("host"),
      registrableDomain(host(canon)).as("domain"))
  }

  /** Per-domain cap: keep at most `cap` rows per registrable domain,
    * ranked by md5 of the canonical URL with the URL itself as the
    * total-order tiebreak (deterministic, arrival-order-free). Output
    * adds (domain_rank, n_in_domain, kept).
    */
  def domainCap(
      df: DataFrame,
      idCol: String,
      urlCol: String,
      cap: Int): DataFrame = {
    require(cap >= 1, "cap must be positive")
    val w = Window.partitionBy("domain")
      .orderBy(md5(col("url_canon").cast("binary")), col("url_canon"))
    normalize(df, idCol, urlCol)
      .withColumn("domain_rank", row_number().over(w))
      .withColumn("n_in_domain",
        count(lit(1)).over(Window.partitionBy("domain")))
      .withColumn("kept", col("domain_rank") <= cap)
  }
}
