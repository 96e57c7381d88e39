package graft.functions

import graft.htmlkit.HtmlKit
import graft.httpkit.HttpKit
import graft.robotskit.RobotsKit
import graft.urlkit.UrlKit
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/**
 * Column-level Scala UDFs over the pure kits (UrlKit, HtmlKit, RobotsKit,
 * HttpKit — SURVEY.md §2), null-safe via Option. Each function has one
 * implementation: the URL scalars that run per crawl row are native
 * Catalyst expressions in `UrlExpressions`, not UDFs here.
 */
object GraftFunctions {

  final case class LinkOut(pos: Int, url: String, internal: Boolean)
  final case class ClassifiedOut(
      kind: String, status: Option[Int], body: Option[String],
      content_type: Option[String], location: Option[String], error: Option[String])

  val url_canonicalize: UserDefinedFunction = udf((s: String) =>
    Option(s).flatMap(UrlKit.canonicalize))

  val http_classify: UserDefinedFunction = udf((url: String, bytes: Array[Byte]) => {
    val c = HttpKit.classify(url, bytes)
    ClassifiedOut(c.kind, c.status, c.body, c.contentType, c.location, c.error)
  })

  val extract_links: UserDefinedFunction = udf((pageUrl: String, body: String) =>
    (Option(pageUrl), Option(body)) match {
      case (Some(u), Some(b)) =>
        HtmlKit.extractLinksStr(u, b).map(l => LinkOut(l.pos, l.url, l.internal))
      case _ => Vector.empty[LinkOut]
    })

  /** text of a raw-HTTP-bytes page (null for non-HTML rows). */
  val extract_text_http: UserDefinedFunction = udf((bytes: Array[Byte]) =>
    Option(bytes).flatMap { b =>
      HttpKit.parseResponse(b) match {
        case Some(r) if r.status >= 200 && r.status < 300 &&
          r.header("Content-Type").flatMap(HttpKit.essence).contains("text/html") =>
          Some(HtmlKit.extractText(r.bodyString))
        case _ => None
      }
    })

  /** Sitemap URLs listed in a robots.txt body, document order. */
  val robots_sitemaps: UserDefinedFunction = udf((robots: String) =>
    RobotsKit.sitemaps(Option(robots).getOrElse("")))
}
