package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** One-pass URL decomposition: `url_parts(url)` → struct<protocol,
  * authority, path, query, host>, NULL row on malformed input. The
  * builtin route calls `try_parse_url` once PER PART — five
  * `java.net.URI` constructions per row; this parses once.
  */
object UrlKernels {

  def parts(url: UTF8String): InternalRow = {
    try {
      val u = new java.net.URI(url.toString)
      if (u.getScheme == null || u.getRawAuthority == null) return null
      InternalRow(
        UTF8String.fromString(u.getScheme),
        UTF8String.fromString(u.getRawAuthority),
        Option(u.getRawPath).map(UTF8String.fromString).orNull,
        Option(u.getRawQuery).map(UTF8String.fromString).orNull,
        Option(u.getHost).map(UTF8String.fromString).orNull)
    } catch {
      case _: java.net.URISyntaxException => null
    }
  }
}

object UrlExprs {
  def urlParts(url: Column): Column = Kernels.urlParts(url)
}
