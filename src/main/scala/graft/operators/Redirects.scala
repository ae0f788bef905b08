package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.RunScope.Pinning

/** HTTP redirect resolution over a capture frame — the crawl's URL
  * aliasing layer: a 3xx capture names its successor in `Location`
  * ([[HttpMessage]] hands the header plane up), and corpus URL
  * identity is the chain's FINAL destination — dedup, link graphs and
  * the CDX index all want `example.com/old` and `example.com/new`
  * folded when one 301s to the other.
  *
  * Every capture resolves to (final_url, n_hops, status):
  *   - `ok` — the chain lands on a non-redirect capture within the
  *     hop budget (n_hops = redirects followed, 0 for a direct hit);
  *   - `dangling` — the chain leaves the capture set (Location names
  *     an unfetched URL, or a 3xx carries no Location): final_url is
  *     the first unresolved URL;
  *   - `loop` — the next hop revisits a URL already on this chain
  *     (exact, via the bounded per-chain visited list — not a budget
  *     heuristic): final_url is the last NEW url reached;
  *   - `too-deep` — `maxHops` redirects followed and still pointing at
  *     a redirect.
  *
  * A relative `Location` resolves against the redirecting capture's
  * URL ([[LinkExtract.resolve]] — RFC 9110 allows relative references
  * here), and targets canonicalize ([[UrlOps.canonicalize]]) before
  * the lookup so header-level variants still chain.
  *
  * Scale shape: `maxHops + 1` hash joins of the live state against the
  * capture lookup (each round retires every chain that terminates, so
  * live rows shrink monotonically); the lookup frame is materialized
  * once. Redirect chains in real crawls are short (budget 5-8 covers
  * effectively all), so the round count is a small constant — the same
  * bounded-round discipline as the sitemap index level and the BFS
  * pivots.
  *
  * Reference scope note: the reference's REST client follows redirects
  * inside the HTTP library; a corpus engine must resolve them as DATA.
  */
object Redirects {

  private val redirectCodes = Seq(301, 302, 303, 307, 308)

  /** Resolve every capture: input columns pass through, plus
    * (final_url, n_hops, status). `statusCol` is the integer HTTP
    * status; `locationCol` the raw Location header (nullable).
    */
  def finalTargets(
      captures: DataFrame,
      urlCol: String,
      statusCol: String,
      locationCol: String,
      maxHops: Int = 5): DataFrame = {
    require(maxHops >= 1 && maxHops <= 16,
      s"maxHops must be in [1, 16] (bounded chain walk), got $maxHops")
    val canon = UrlOps.canonicalize(col(urlCol))
    val lookup = captures.select(
      canon.as("__lu"),
      col(statusCol).isInCollection(redirectCodes).as("__redir"),
      graft.functions.hof.bind(
        LinkExtract.resolve(col(urlCol), col(locationCol))) { r =>
        when(r.isNotNull, UrlOps.canonicalize(r))
      }.as("__dst"))
      // one lookup row per canonical URL — a duplicate capture must
      // not multiply every chain that passes through it; min(struct)
      // is the deterministic pick under any partitioning
      .groupBy("__lu")
      .agg(min(struct(col("__redir"), col("__dst"))).as("__s"))
      .select(col("__lu"), col("__s.__redir").as("__redir"),
        col("__s.__dst").as("__dst"))
      .pin()
    val init = captures
      .withColumn("__cur", canon)
      .withColumn("__visited", array(canon))
      .withColumn("n_hops", lit(0))
      .withColumn("status", lit(null).cast("string"))
    val resolved = (1 to (maxHops + 1)).foldLeft(init) { (st, _) =>
      val live = col("status").isNull
      st.join(lookup, col("__cur") === col("__lu"), "left")
        .select(
          st.columns.filter(c => c != "status" && c != "__cur" &&
            c != "__visited" && c != "n_hops").map(col) ++ Seq(
            when(!live, col("status"))
              .when(col("__lu").isNull, "dangling")
              .when(!col("__redir"), "ok")
              .when(col("__dst").isNull, "dangling")
              .when(col("n_hops") === maxHops, "too-deep")
              .when(array_contains(col("__visited"), col("__dst")), "loop")
              .as("status"),
            when(live && col("__redir") && col("__dst").isNotNull &&
              col("n_hops") < maxHops &&
              !array_contains(col("__visited"), col("__dst")),
              col("__dst")).otherwise(col("__cur")).as("__cur"),
            when(live && col("__redir") && col("__dst").isNotNull &&
              col("n_hops") < maxHops &&
              !array_contains(col("__visited"), col("__dst")),
              array_union(col("__visited"), array(col("__dst"))))
              .otherwise(col("__visited")).as("__visited"),
            when(live && col("__redir") && col("__dst").isNotNull &&
              col("n_hops") < maxHops &&
              !array_contains(col("__visited"), col("__dst")),
              col("n_hops") + 1).otherwise(col("n_hops")).as("n_hops")): _*)
    }
    resolved
      .withColumn("final_url",
        // a 3xx-without-location danglings IN PLACE; a chain that left
        // the capture set danglings ON the missing url (== __cur)
        col("__cur"))
      .drop("__visited", "__cur")
  }
}
