package perfbench

import graft.sources.PagesGen
import graft.sources.PagesGen.PageRow
import org.apache.spark.sql.SparkSession

/** What the reference semantics say a crawl of a site must report. Computed
  * from the generator's own link function (`Site.kind`, `children`, `parent`, ...), never by
  * running the engine. */
final case class Expect(fetched: Long, deduped: Long, robotsDenied: Long,
                        frontiers: Vector[Long]) {
  def rounds: Int = frontiers.size
  def largestFrontier: Long = frontiers.max
  def resultRows: Long = fetched + robotsDenied
  def processed: Long = fetched + robotsDenied + deduped
}

/**
 * A generated pages table shaped like `PagesGen.scale`: each host holds a
 * contiguous block of internal page ids arranged as a 16-ary tree (children
 * plus a back-link to the parent), the last 5% of each block are leaves of
 * which about 2% of all pages redirect to an already-seen page, 1% are
 * non-HTML and 1% are missing rows (network errors when linked); about 1%
 * of pages link to a robots-denied url and 1 in 7 to another host.
 *
 * The seed only relabels: the page number in every url is an affine
 * bijection of the internal id and host names carry a seed tag. The graph's
 * shape, and so every expected counter, is the same for every seed.
 */
final case class Site(seed: Long, sizes: Vector[Long]) {
  require(sizes.forall(_ >= 2), "every host needs at least two pages")
  val n: Long = sizes.sum
  val hosts: Int = sizes.size
  val starts: Vector[Long] = sizes.scanLeft(0L)(_ + _).init

  private val tag = java.lang.Long.toString(Site.mix(seed) & 0xffffffL, 36)
  private val mul: Long = {
    var a = Math.floorMod(Site.mix(seed ^ 0x5bd1e995L), n) | 1L
    while (Site.gcd(a, n) != 1) a += 2
    a % n
  }
  private val add: Long = Math.floorMod(Site.mix(seed + 0x632be5abL), n)

  def label(id: Long): Long = Math.floorMod(mul * id + add, n)
  private val startArr = starts.toArray
  def hostOf(id: Long): Int = {
    val i = java.util.Arrays.binarySearch(startArr, id)
    if (i >= 0) i else -i - 2
  }
  def hostName(h: Int): String = s"http://$tag-h$h.test"
  def urlOf(id: Long): String = s"${hostName(hostOf(id))}/page${label(id)}"
  def seedUrl(h: Int): String = urlOf(starts(h))
  def robotsUrl(h: Int): String = s"${hostName(h)}/robots.txt"

  // ---- the link function -------------------------------------------------

  private def local(id: Long): Long = id - starts(hostOf(id))
  private def isTail(id: Long): Boolean = {
    val size = sizes(hostOf(id))
    local(id) >= size - math.max(1L, size / 20)
  }
  /** 0 = html, 1 = redirect, 2 = non-HTML, 3 = missing row */
  def kind(id: Long): Int =
    if (!isTail(id)) 0
    else (id % 97) % 5 match {
      case 0 | 3 => 1
      case 1     => 2
      case 2     => 3
      case _     => 0
    }
  def children(id: Long): Seq[Long] = {
    val h = hostOf(id)
    val l = local(id)
    (1 to 16).map(c => 16L * l + c).filter(_ < sizes(h)).map(_ + starts(h))
  }
  def parent(id: Long): Option[Long] = {
    val l = local(id)
    if (l == 0) None else Some(starts(hostOf(id)) + (l - 1) / 16)
  }
  def redirectTarget(id: Long): Long = starts(hostOf(id)) + local(id) / 2
  def linksExcluded(id: Long): Boolean = id % 101 == 0
  def linksExternal(id: Long): Boolean = id % 7 == 0
  def excludedUrl(id: Long): String = s"${hostName(hostOf(id))}/excluded/page${label(id)}"

  /** Page rows for one internal id (none for a missing page). */
  def rows(id: Long): Seq[PageRow] = {
    val url = urlOf(id)
    kind(id) match {
      case 3 => Seq.empty
      case 1 => Seq(PagesGen.mkRow(url,
        PagesGen.redirect(if (id % 2 == 0) 301 else 302, urlOf(redirectTarget(id))), id))
      case 2 => Seq(PagesGen.mkRow(url, PagesGen.okOther("application/pdf", s"PDF$id"), id))
      case _ =>
        val h = hostOf(id)
        val links = children(id).map(urlOf) ++ parent(id).map(urlOf) ++
          (if (linksExternal(id)) Seq(s"${hostName((h + 1) % hosts)}/page0-external") else Nil) ++
          (if (linksExcluded(id)) Seq(excludedUrl(id)) else Nil)
        val filler = s"Deterministic filler text for page ${label(id)} on host $h. " * (1 + (id % 4).toInt)
        val body = PagesGen.htmlWithLinks(links).replace("<body>", s"<body>\n<p>$filler</p>")
        Seq(PagesGen.mkRow(url, PagesGen.okHtml(body), id))
    }
  }

  def robotsRow(h: Int): PageRow =
    PagesGen.mkRow(robotsUrl(h), PagesGen.okText("User-agent: *\nDisallow: /excluded\n"), n + h)

  /** Write the pages table (parquet) with Spark, one task per partition. */
  def write(spark: SparkSession, dir: String, partitions: Int): Unit = {
    import spark.implicits._
    val site = this
    spark.range(0, n, 1, partitions).flatMap(id => site.rows(id))
      .union(spark.createDataset((0 until hosts).map(robotsRow)))
      .write.parquet(dir)
  }

  // ---- expectations --------------------------------------------------------

  /** Breadth-first crawl of host `h` by the reference's rules: candidates of
    * a round are deduplicated, checked against everything seen so far, and
    * new robots-denied urls are recorded but not fetched. */
  def expect(h: Int): Expect = {
    val start = starts(h)
    val size = sizes(h).toInt
    val seenPage = new java.util.BitSet(size)
    val seenExcl = new java.util.BitSet(size)
    seenPage.set(0)
    var frontier = Array(0)
    var deduped, denied = 0L
    val frontiers = Vector.newBuilder[Long]
    while (frontier.nonEmpty) {
      frontiers += frontier.length.toLong
      val candPage = new java.util.BitSet(size)
      val candExcl = new java.util.BitSet(size)
      frontier.foreach { l =>
        val id = start + l
        kind(id) match {
          case 0 =>
            children(id).foreach(c => candPage.set((c - start).toInt))
            parent(id).foreach(p => candPage.set((p - start).toInt))
            if (linksExcluded(id)) candExcl.set(l)
          case 1 => candPage.set((redirectTarget(id) - start).toInt)
          case _ =>
        }
      }
      val discovered = candPage.cardinality + candExcl.cardinality
      candPage.andNot(seenPage)
      candExcl.andNot(seenExcl)
      deduped += discovered - candPage.cardinality - candExcl.cardinality
      denied += candExcl.cardinality
      seenPage.or(candPage)
      seenExcl.or(candExcl)
      frontier = candPage.stream().toArray
    }
    val fs = frontiers.result()
    Expect(fs.sum, deduped, denied, fs)
  }

  /** A multi-seed crawl of the given hosts: counters add up, rounds run
    * until the deepest host is done, and a round's frontier spans all hosts. */
  def expectAll(hs: Seq[Int]): Expect = {
    val per = hs.map(expect)
    val rounds = per.map(_.rounds).max
    Expect(per.map(_.fetched).sum, per.map(_.deduped).sum, per.map(_.robotsDenied).sum,
      Vector.tabulate(rounds)(r => per.map(_.frontiers.lift(r).getOrElse(0L)).sum))
  }
}

object Site {
  def mix(x0: Long): Long = graft.textkit.TextKit.mix64(x0)
  @annotation.tailrec def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** crawl_bulk: 8 hosts, host 0 holds 30% of the urls (PagesGen.ScaleSpec). */
  def bulk(seed: Long, n: Long): Site = {
    val heavy = n * 3 / 10
    val rest = (n - heavy) / 7
    Site(seed, Vector(heavy) ++ Vector.fill(6)(rest) :+ (n - heavy - 6 * rest))
  }

  /** crawl_api: one large host beside many small ones. */
  def api(seed: Long, large: Long, small: Long, smallHosts: Int): Site =
    Site(seed, Vector(large) ++ Vector.fill(smallHosts)(small))
}
