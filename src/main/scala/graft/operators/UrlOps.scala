package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** URL / crawl-graph operators (SURVEY §2.E66-E69, C42) — the layer a
  * crawl pipeline runs between WARC ingestion (G36) and the text ops:
  * URL canonicalization, URL-level dedup, per-domain rollups, outlink
  * extraction with RFC 3986 resolution, and host-graph centrality.
  * All reference semantics are public knowledge (RFC 3986 §5/§6,
  * the Common Crawl convention of record-level target URIs —
  * reference: src/types.rs:21-38 keys records by resource identity
  * the same way these ops key pages by canonical URL).
  *
  * Everything here is one narrow stateless pass over (doc_id, url) or
  * (doc_id, payload) plus the one aggregate the op is ABOUT — no
  * driver loops, no UDF registry, plain `Dataset.mapPartitions` at
  * the string boundary (the codec-op idiom: Jpeg/Png/Warc) and pure
  * Column algebra after it.
  */
object UrlOps {

  // ---------------------------------------------------------------
  // E66 core: parse + canonicalize one URL
  // ---------------------------------------------------------------

  /** Query parameters that never affect page identity (the crawl-side
    * canonicalization convention): click/campaign trackers. `utm_*`
    * is matched as a prefix; the rest exactly.
    */
  private val TrackingParams = Set("gclid", "fbclid", "msclkid")

  /** Heuristic stand-in for the public-suffix list: second-level
    * suffixes under which the REGISTERED domain is three labels
    * (site.co.uk), not two. A deployment would load the full PSL as a
    * broadcast relation; the operator's shape does not change.
    */
  private val SecondLevelSuffixes = Set(
    "co.uk", "ac.uk", "gov.uk", "org.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "co.nz", "com.br", "com.cn",
    "co.in", "co.kr")

  private val UrlRe = java.util.regex.Pattern.compile(
    "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$")

  /** E66 core: canonicalize ONE URL string. Envelope first (the
    * quarantine discipline): anything that is not
    * `scheme://authority...` is `not_url`; a scheme other than
    * http/https is `non_http`; a bracketed (IPv6) or empty host is
    * `unsupported_host`. Canonical form — RFC 3986 §6.2 plus the
    * crawl conventions:
    *
    *  - scheme and host lowercase; trailing host dot dropped;
    *  - userinfo dropped; the DEFAULT port (80/443) dropped, any
    *    other port kept;
    *  - empty path becomes `/`; the fragment is dropped;
    *  - query: empty params drop, tracking params
    *    ([[TrackingParams]] + `utm_*`) drop, survivors sort
    *    byte-wise (param order never affects page identity) and
    *    rejoin; an emptied query drops its `?`.
    *
    * Percent-decoding is deliberately NOT performed (decoding is
    * lossy on reserved characters; two spellings of one page hash
    * apart, which is the conservative failure for dedup).
    *
    * Returns (status, url_canon, scheme, host, reg_domain, n_params);
    * quarantined rows carry nulls and -1.
    */
  private[graft] def urlCanonOne(raw: String):
      (String, String, String, String, String, Long) = {
    val quarantine = (st: String) => (st, null: String, null: String,
      null: String, null: String, -1L)
    val m = UrlRe.matcher(raw.trim)
    if (!m.matches()) return quarantine("not_url")
    val scheme = m.group(1).toLowerCase(java.util.Locale.ROOT)
    if (scheme != "http" && scheme != "https") return quarantine("non_http")
    var auth = m.group(2)
    val at = auth.lastIndexOf('@')
    if (at >= 0) auth = auth.substring(at + 1)
    if (auth.startsWith("[")) return quarantine("unsupported_host")
    val ci = auth.lastIndexOf(':')
    val (hostRaw, portRaw) =
      if (ci >= 0) (auth.substring(0, ci), auth.substring(ci + 1))
      else (auth, "")
    val host = {
      val h = hostRaw.toLowerCase(java.util.Locale.ROOT)
      if (h.endsWith(".")) h.dropRight(1) else h
    }
    if (host.isEmpty) return quarantine("unsupported_host")
    val defPort = if (scheme == "http") "80" else "443"
    val portPart =
      if (portRaw.isEmpty || portRaw == defPort) "" else ":" + portRaw
    val path = if (m.group(3).isEmpty) "/" else m.group(3)
    val kept = Option(m.group(4)).getOrElse("")
      .split("&").iterator.filter(_.nonEmpty).filter { p =>
        val k = p.takeWhile(_ != '=').toLowerCase(java.util.Locale.ROOT)
        !(k.startsWith("utm_") || TrackingParams(k))
      }.toIndexedSeq.sorted
    val qPart = if (kept.isEmpty) "" else "?" + kept.mkString("&")
    val labels = host.split('.')
    val regDom =
      if (labels.length <= 2) host
      else {
        val last2 = labels.takeRight(2).mkString(".")
        if (SecondLevelSuffixes(last2)) labels.takeRight(3).mkString(".")
        else last2
      }
    ("ok", s"$scheme://$host$portPart$path$qPart", scheme, host, regDom,
      kept.size.toLong)
  }

  /** E66 public boundary: canonicalize ANY (doc_id, url) relation —
    * one narrow stateless pass (the mmDecodePayloads discipline for
    * URLs: a user's real crawl column drives this same path,
    * quarantines included).
    */
  def docFromUrls(spark: SparkSession, urls: DataFrame): DataFrame = {
    import spark.implicits._
    urls
      .select(col("doc_id").cast("long"), col("url").cast("string"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, u) =>
        val (st, canon, sc, ho, rd, np) = urlCanonOne(Option(u).getOrElse(""))
        (id, st, Option(canon), Option(sc), Option(ho), Option(rd),
          if (np < 0L) None else Some(np))
      })
      .toDF("doc_id", "status", "url_canon", "scheme", "host",
        "reg_domain", "n_params")
  }

  /** Deterministic planted URL per doc_id (the F2 formula-corpus
    * discipline): every canonicalization branch is exercised by a
    * residue class, so the EXPECTED canonical form is a pure function
    * of doc_id and DuckDB gates each branch per document. Traps:
    * non-URL text (%17), an ftp scheme (%13), uppercase scheme (%3),
    * uppercased www host + trailing dot (%2), a co.uk registered
    * domain (%11), explicit default port (%5=0) vs a real port
    * (%5=1), empty path (%4), tracking params + unsorted params
    * (%6∈{0,2}), an all-tracking query that must drop its `?` (%6=1),
    * and a fragment (%2=1).
    */
  private[graft] def urlPayload(id: Long): String = {
    if (id % 17 == 0) s"not a url $id"
    else if (id % 13 == 0) s"ftp://files.example.com/f$id"
    else {
      val scheme = if (id % 3 == 0) "HTTP" else "https"
      val core = s"site${id % 7}" +
        (if (id % 11 == 0) ".Example.CO.UK" else ".example.com")
      val host =
        if (id % 2 == 0) ("WWW." + core).toUpperCase(java.util.Locale.ROOT) + "."
        else core
      val port =
        if (id % 5 == 0) (if (id % 3 == 0) ":80" else ":443")
        else if (id % 5 == 1) ":8080"
        else ""
      val path = if (id % 4 == 0) "" else s"/d${id % 4}/p$id"
      val q = (id % 6) match {
        case 0 => s"?utm_source=news&b=${id % 9}&a=1&utm_campaign=x"
        case 1 => s"?gclid=g$id"
        case 2 => s"?z=2&y=${id % 9}"
        case _ => ""
      }
      val frag = if (id % 2 == 1) s"#s$id" else ""
      s"$scheme://$host$port$path$q$frag"
    }
  }

  /** E66 gated query: the planted-URL corpus through [[docFromUrls]]. */
  def docUrlCanon(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val urls = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, urlPayload(id))))
      .toDF("doc_id", "url")
    docFromUrls(spark, urls)
  }

  // ---------------------------------------------------------------
  // C42: URL-level dedup (exact, post-canonicalization)
  // ---------------------------------------------------------------

  /** Colliding planted URLs: consecutive doc_id pairs (pid, pid+1)
    * spell the SAME page two ways — case, default port, tracking
    * params, fragment — so only canonicalization makes them collide;
    * every 19th doc diverges to a unique URL (its pair partner then
    * stands alone, including across the corpus-size boundary, which
    * is why the oracle GROUPS the formula-derived canon instead of
    * assuming size-2 groups).
    */
  private[graft] def dupUrlPayload(id: Long): String = {
    val pid = id - (id % 2)
    if (id % 19 == 0) s"https://only.example.org/u$id"
    else if (id % 2 == 0)
      s"https://dup${pid % 5}.example.org/x/p$pid?id=${pid % 9}"
    else
      s"HTTPS://DUP${pid % 5}.EXAMPLE.ORG.:443/x/p$pid?utm_source=a&id=${pid % 9}#frag"
  }

  /** C42 gated query: URL-level exact dedup — the cheapest dedup a
    * crawl pipeline runs (two fetches of one page are duplicates by
    * IDENTITY, before any content hash): canonicalize, group by
    * `url_canon`, keep the min-doc_id fetch. One hash shuffle on the
    * canonical string; group sizes are refetch counts (tiny), so no
    * skew machinery is needed — the heavy tail a content-level dedup
    * faces (C2's boilerplate clusters) cannot occur at identity level.
    */
  def docUrlDup(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val urls = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, dupUrlPayload(id))))
      .toDF("doc_id", "url")
    val canon = docFromUrls(spark, urls)
      .filter(col("status") === "ok")
      .select(col("doc_id"), col("url_canon"))
    val groups = canon.groupBy(col("url_canon"))
      .agg(count(lit(1)).as("group_size"), min(col("doc_id")).as("keeper"))
    canon.join(groups, "url_canon")
      .select(col("doc_id"), col("url_canon"), col("group_size"),
        (col("doc_id") =!= col("keeper")).cast("int").as("is_dup"))
  }

  // ---------------------------------------------------------------
  // E67: per-domain crawl rollup card
  // ---------------------------------------------------------------

  /** E67 gated query: the per-(registered domain, host) crawl card —
    * the rollup a crawl operator reads to budget future fetches
    * (docs per host, token mass, https share). Composes E66's
    * canonical hosts with the documents' own token counts; the only
    * shuffle is the #hosts-sized rollup (at 100 TB the host key is
    * the natural partitioner: ~10⁸ keys, no skew beyond what a df-cap
    * would bound).
    */
  def docHostStats(t: Tables): DataFrame = {
    val canon = docUrlCanon(t).filter(col("status") === "ok")
      .select(col("doc_id"), col("scheme"), col("host"), col("reg_domain"))
    val toks = t.documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    canon.join(toks, "doc_id")
      .groupBy(col("reg_domain"), col("host"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tot_tokens"),
        r6(sum(col("n_tokens")).cast("double") / count(lit(1)))
          .as("mean_tokens_r"),
        r6(sum((col("scheme") === "https").cast("long")).cast("double") /
          count(lit(1))).as("https_share_r"))
  }

  // ---------------------------------------------------------------
  // E68: outlink extraction + RFC 3986 resolution
  // ---------------------------------------------------------------

  /** RFC 3986 §5.2.4 remove_dot_segments over a path that begins with
    * `/`: `.` segments drop, `..` pops (clamped at the root). The
    * planted corpus exercises one `..`; the spec pins the clamp.
    */
  private[graft] def removeDotSegments(p: String): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    p.split("/", -1).foreach {
      case "."  => ()
      case ".." => if (out.length > 1) out.remove(out.length - 1)
      case s    => out += s
    }
    val j = out.mkString("/")
    if (j.isEmpty || !j.startsWith("/")) "/" + j.dropWhile(_ == '/') else j
  }

  private val SchemePrefixRe =
    java.util.regex.Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*:")

  /** RFC 3986 §5.2 reference resolution against an absolute http(s)
    * base, restricted to the link kinds a crawl frontier keeps:
    * absolute http(s) targets pass through, protocol-relative adopt
    * the base scheme, root-relative and relative merge with the base
    * path (dot segments removed). Fragment-only references and
    * non-http schemes (mailto:, javascript:, ...) return None — they
    * are not fetchable outlinks. Returns (kind, absolute_url).
    */
  private[graft] def resolveUrl(base: String, href0: String):
      Option[(String, String)] = {
    val href = href0.trim.takeWhile(_ != '#')
    if (href.isEmpty) return None
    val low = href.toLowerCase(java.util.Locale.ROOT)
    if (SchemePrefixRe.matcher(href).find()) {
      return if (low.startsWith("http://") || low.startsWith("https://"))
        Some(("absolute", href))
      else None
    }
    val bm = UrlRe.matcher(base.trim)
    if (!bm.matches()) return None
    val scheme = bm.group(1).toLowerCase(java.util.Locale.ROOT)
    val origin = s"$scheme://${bm.group(2)}"
    if (href.startsWith("//")) Some(("protocol_relative", s"$scheme:$href"))
    else if (href.startsWith("/"))
      Some(("root_relative", origin + removeDotSegments(href)))
    else {
      val bPath = if (bm.group(3).isEmpty) "/" else bm.group(3)
      val dir = bPath.substring(0, bPath.lastIndexOf('/') + 1)
      val kind = if (href.startsWith("..")) "parent" else "relative"
      Some((kind, origin + removeDotSegments(dir + href)))
    }
  }

  private val HrefRe = java.util.regex.Pattern.compile(
    "(?is)<a\\b[^>]*\\bhref\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)')")

  /** E68 core: the fetchable outlinks of ONE HTML payload — the E64
    * envelope (non-HTML quarantines), the E64 structural drops
    * (comments and script/style subtrees never contribute links: an
    * `<a>` inside a comment or a script string literal is not a
    * link), then every `href` resolved via [[resolveUrl]]. Returns
    * one (ord, kind, url) per kept link, 1-based in document order.
    */
  private[graft] def htmlLinksOne(base: String, raw: String):
      Seq[(Long, String, String)] = {
    val low = raw.dropWhile(_.isWhitespace)
      .toLowerCase(java.util.Locale.ROOT)
    if (!(low.startsWith("<!doctype html") || low.startsWith("<html")))
      return Seq((0L, "not_html", null))
    val cleaned = raw
      .replaceAll("(?s)<!--.*?-->", "")
      .replaceAll("(?is)<script\\b[^>]*>.*?</script\\s*>", "")
      .replaceAll("(?is)<script\\b[^>]*>.*", "")
      .replaceAll("(?is)<style\\b[^>]*>.*?</style\\s*>", "")
      .replaceAll("(?is)<style\\b[^>]*>.*", "")
    val m = HrefRe.matcher(cleaned)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    var ord = 0L
    while (m.find()) {
      val href = if (m.group(1) != null) m.group(1) else m.group(2)
      resolveUrl(base, href).foreach { case (kind, abs) =>
        ord += 1
        out += ((ord, kind, abs))
      }
    }
    out.toSeq
  }

  /** E68 public boundary: outlinks over ANY (doc_id, base_url,
    * payload) relation — exploded (doc_id, link_ord, kind, url_abs)
    * rows, one narrow flatMap pass.
    */
  def docLinksFromHtml(spark: SparkSession, pages: DataFrame): DataFrame = {
    import spark.implicits._
    pages
      .select(col("doc_id").cast("long"), col("base_url").cast("string"),
        col("payload").cast("string"))
      .as[(Long, String, String)]
      .mapPartitions(_.flatMap { case (id, base, s) =>
        htmlLinksOne(Option(base).getOrElse(""), Option(s).getOrElse(""))
          .map { case (ord, kind, abs) => (id, ord, kind, Option(abs)) }
      })
      .toDF("doc_id", "link_ord", "kind", "url_abs")
  }

  /** Planted link page per doc_id: one href per resolution kind plus
    * the three traps (fragment-only, mailto:, links inside a comment
    * and a script string). The expected (ord, kind, url) rows are a
    * pure function of doc_id.
    */
  private[graft] def linkPayload(id: Long): String =
    s"""<!DOCTYPE html>
       |<html><head><title>Links $id</title>
       |  <script> var t = "<a href='/script-trap$id'>no</a>"; </script>
       |</head>
       |<body>
       |  <!-- <a href="/comment-trap$id">never</a> -->
       |  <a href="https://other${id % 5}.example.net/abs$id">a1</a>
       |  <a href="//cdn${id % 3}.example.net/c$id">a2</a>
       |  <a href='/r/p$id'>a3</a>
       |  <a href="sub/q$id">a4</a>
       |  <a href="../up$id">a5</a>
       |  <a href="#top">a6</a>
       |  <a href="mailto:x$id@example.com">a7</a>
       |</body></html>""".stripMargin

  private[graft] def linkBase(id: Long): String =
    s"https://site${id % 7}.example.com/dir/a/page$id.html"

  /** E68 gated query: the planted link corpus through
    * [[docLinksFromHtml]]; every 17th doc is plaintext and
    * quarantines as a single `not_html` row.
    */
  def docHtmlLinks(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val pages = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, linkBase(id),
        if (id % 17 == 0) s"plain text payload $id without any markup"
        else linkPayload(id))))
      .toDF("doc_id", "base_url", "payload")
    docLinksFromHtml(spark, pages)
  }

  // ---------------------------------------------------------------
  // E70: crawl politeness — per-host fetch throttle
  // ---------------------------------------------------------------

  /** E70 gated query: the PER-HOST FETCH THROTTLE a polite crawler
    * runs over its frontier — within each tumbling `windowSec`
    * window, the first `maxPerWindow` fetch requests per host are
    * allowed, the rest deferred. Rank order is (ts, doc_id) — fully
    * deterministic, so the verdict relation is replayable (the
    * scheduling complement of A4's lag throttle, keyed by E66's
    * canonical host instead of event type).
    *
    * Fetch times are planted: ts_s = (doc_id·37) mod 600 seconds —
    * 37 ⊥ 600 spreads ids across 10 windows of each host's queue
    * densely enough that real defers occur at every SF. The only
    * shuffle is the (host, window) rank — at 100 TB the frontier
    * partitions by host exactly like E67, and a per-cell top-k
    * (allowed fetches only) would drop even the rank's sort to a
    * bounded heap; the full rank ships here because the DEFERRED rows
    * are the output a re-queueing frontier needs.
    */
  def docHostThrottle(t: Tables, maxPerWindow: Int = 3,
      windowSec: Int = 60): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val reqs = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val (st, _, _, host, _, _) = urlCanonOne(linkBase(id))
        (id, if (st == "ok") host else null, (id * 37) % 600)
      })
      .toDF("doc_id", "host", "ts_s")
      .filter(col("host").isNotNull)
    val win = (col("ts_s") - pmod(col("ts_s"), lit(windowSec.toLong)))
    val ranked = reqs
      .withColumn("win_s", win)
      .withColumn("fetch_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("host"), col("win_s"))
          .orderBy(col("ts_s"), col("doc_id"))).cast("long"))
    ranked.select(col("doc_id"), col("host"), col("ts_s"), col("win_s"),
      col("fetch_rank"),
      (col("fetch_rank") <= maxPerWindow).cast("int").as("allow"))
  }

  // ---------------------------------------------------------------
  // E71: robots.txt filter (RFC 9309)
  // ---------------------------------------------------------------

  /** One robots rule compiled for matching: the verbatim pattern, its
    * byte length (the RFC 9309 precedence key), allow/disallow, and
    * the anchored regex the pattern translates to (`*` → `.*`, a
    * trailing `$` anchors, everything else literal).
    */
  final case class RobotsRule(pattern: String, len: Int, allow: Int,
      re: String)

  private def compileRule(pat: String, allow: Boolean): RobotsRule = {
    val anchored = pat.endsWith("$")
    val body = if (anchored) pat.dropRight(1) else pat
    val re = "^" + body.flatMap {
      case '*' => ".*"
      case c if "\\.[]{}()<>+-=!?^$|".indexOf(c) >= 0 => "\\" + c
      case c => c.toString
    } + (if (anchored) "$" else "")
    RobotsRule(pat, pat.length, if (allow) 1 else 0, re)
  }

  /** RFC 9309 group selection + rule extraction: lines parse into
    * user-agent groups (consecutive `User-agent:` lines share one
    * group, `#` comments and unknown directives skip); the group for
    * the EXACT agent (case-insensitive) wins over the `*` group; no
    * group → everything allowed. Returns the selected group's
    * compiled rules (empty-pattern rules drop — `Disallow:` with no
    * value means allow-all per the RFC).
    */
  private[graft] def parseRobots(text: String, agent: String): Seq[RobotsRule] = {
    final case class Group(agents: Seq[String], rules: Seq[RobotsRule])
    val groups = scala.collection.mutable.ArrayBuffer.empty[Group]
    var curAgents = List.empty[String]
    var curRules = List.empty[RobotsRule]
    var inAgents = false
    def flush(): Unit = {
      if (curAgents.nonEmpty) groups += Group(curAgents.reverse, curRules.reverse)
      curAgents = Nil; curRules = Nil
    }
    text.split("\n", -1).foreach { line0 =>
      val line = line0.takeWhile(_ != '#').trim
      val ci = line.indexOf(':')
      if (ci > 0) {
        val key = line.substring(0, ci).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(ci + 1).trim
        key match {
          case "user-agent" =>
            if (!inAgents) flush()
            curAgents ::= value.toLowerCase(java.util.Locale.ROOT)
            inAgents = true
          case "allow" | "disallow" =>
            inAgents = false
            if (value.nonEmpty && curAgents.nonEmpty)
              curRules ::= compileRule(value, key == "allow")
          case _ => inAgents = false
        }
      }
    }
    flush()
    val a = agent.toLowerCase(java.util.Locale.ROOT)
    groups.find(_.agents.contains(a))
      .orElse(groups.find(_.agents.contains("*")))
      .map(_.rules).getOrElse(Seq.empty)
  }

  /** Deterministic planted robots.txt per host index: an `otherbot`
    * group that would deny everything (group selection must skip it),
    * a `graftbot` group with a prefix disallow, a LONGER allow carved
    * out of it, a `$`-anchored disallow and a `*` wildcard disallow,
    * and a `*` group disallowing the very prefix the graftbot paths
    * use for their no-match branch — an evaluator that falls back to
    * `*` despite a matching agent group flips that branch's verdict.
    */
  private[graft] def robotsPayload(h: Long): String =
    s"""# planted robots for site$h
       |User-agent: otherbot
       |Disallow: /
       |
       |User-agent: graftbot
       |Disallow: /d$h/
       |Allow: /d$h/open
       |Disallow: /priv$$
       |Disallow: /w*z
       |
       |User-agent: *
       |Disallow: /ok/""".stripMargin

  /** The planted request path per doc (one residue per matcher
    * branch): prefix-denied, allow-overrides-shorter-disallow,
    * no-match (which also proves group selection), `$`-anchored
    * exact, and wildcard.
    */
  private[graft] def robotsPath(id: Long): String = (id % 5) match {
    case 0 => s"/d${id % 7}/x$id"
    case 1 => s"/d${id % 7}/open$id"
    case 2 => s"/ok/p$id"
    case 3 => "/priv"
    case _ => s"/w${id}z"
  }

  /** E71 gated query: ROBOTS.TXT FILTERING (RFC 9309) — the
    * politeness gate a crawler applies BEFORE E70's rate throttle
    * ever sees a request: each host's robots file parses once
    * (per-host rules are a tiny broadcast relation — at 100 TB the
    * rules side is #hosts-bounded and the corpus never shuffles),
    * and every request path evaluates the selected agent group's
    * rules with the RFC precedence — longest pattern wins, Allow
    * wins length ties, no match means allow. The match itself is a
    * per-row array fold over ≤|rules| compiled regexes: ZERO corpus
    * shuffle, no per-rule explode.
    */
  def docRobotsFilter(t: Tables, agent: String = "graftbot"): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val hosts = (0L until 7L).map { h =>
      (s"site$h.example.com",
        parseRobots(robotsPayload(h), agent).map(r =>
          (r.pattern, r.len, r.allow, r.re)))
    }
    val rules = hosts.toDF("host", "rules")
    val reqs = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id =>
        (id, s"site${id % 7}.example.com", robotsPath(id))))
      .toDF("doc_id", "host", "path")
    reqs.join(broadcast(rules), Seq("host"))
      .withColumn("best", expr(
        """aggregate(
          |  filter(rules, r -> path rlike r._4),
          |  named_struct('len', -1, 'allow', 1, 'pat', cast(null as string)),
          |  (acc, r) -> if(r._2 > acc.len or (r._2 = acc.len and r._3 > acc.allow),
          |    named_struct('len', r._2, 'allow', r._3, 'pat', r._1), acc))""".stripMargin))
      .select(col("doc_id"), col("host"), col("path"),
        col("best.pat").as("rule"),
        when(col("best.len") < 0, lit(null).cast("long"))
          .otherwise(col("best.len").cast("long")).as("rule_len"),
        col("best.allow").cast("int").as("allow"))
  }

  // ---------------------------------------------------------------
  // E72: charset sniffing (the byte→text custody step)
  // ---------------------------------------------------------------

  /** Strict UTF-8 validation + code-point count in one scan (RFC 3629
    * — the modern table: 1–4 byte sequences only, continuation bytes
    * 80..BF, overlongs rejected by minimum-lead constraints, CESU
    * surrogate halves ED A0..BF rejected, nothing above U+10FFFF,
    * truncated tails rejected). Returns the code-point count, or -1
    * if the bytes are not valid UTF-8.
    */
  private[graft] def utf8Chars(b: Array[Byte]): Long = {
    var i = 0
    var n = 0L
    while (i < b.length) {
      val c = b(i) & 0xff
      val need =
        if (c < 0x80) 0
        else if (c >= 0xc2 && c <= 0xdf) 1
        else if (c >= 0xe0 && c <= 0xef) 2
        else if (c >= 0xf0 && c <= 0xf4) 3
        else return -1L // C0/C1 overlong leads, F5+ out of range, bare continuation
      if (need > 0 && i + need >= b.length) return -1L // truncated tail
      var k = 1
      while (k <= need) {
        val cc = b(i + k) & 0xff
        if (cc < 0x80 || cc > 0xbf) return -1L
        // minimum-value / range constraints on the FIRST continuation
        if (k == 1) {
          if (c == 0xe0 && cc < 0xa0) return -1L      // overlong 3-byte
          if (c == 0xed && cc > 0x9f) return -1L      // surrogate half
          if (c == 0xf0 && cc < 0x90) return -1L      // overlong 4-byte
          if (c == 0xf4 && cc > 0x8f) return -1L      // above U+10FFFF
        }
        k += 1
      }
      i += need + 1
      n += 1L
    }
    n
  }

  /** E72 core: sniff ONE payload — BOM-tagged UTF-8, plain UTF-8, or
    * the Latin-1 fallback (every byte string is valid Latin-1, so the
    * fallback is total: n_chars = n_bytes). The custody rule a crawl
    * ingest applies before ANY text operator sees the bytes: decoding
    * rotted UTF-8 as UTF-8 manufactures replacement garbage that then
    * flows through dedup/quality silently.
    */
  private[graft] def sniffCharset(b: Array[Byte]): (String, Long, Long) = {
    val hasBom = b.length >= 3 && (b(0) & 0xff) == 0xef &&
      (b(1) & 0xff) == 0xbb && (b(2) & 0xff) == 0xbf
    val body = if (hasBom) java.util.Arrays.copyOfRange(b, 3, b.length) else b
    val n = utf8Chars(body)
    if (n >= 0 && hasBom) ("utf-8-bom", b.length.toLong, n)
    else if (n >= 0) ("utf-8", b.length.toLong, n)
    else ("latin-1", b.length.toLong, b.length.toLong)
  }

  /** E72 public boundary: charset custody over ANY (doc_id, payload)
    * relation — one narrow stateless pass.
    */
  def docCharsetSniff(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val (cs, nb, nc) = sniffCharset(Option(b).getOrElse(Array.emptyByteArray))
        (id, cs, nb, nc)
      })
      .toDF("doc_id", "charset", "n_bytes", "n_chars")
  }

  /** Planted byte payload per doc_id — one residue per validator
    * branch: pure ASCII, 2/3/4-byte sequences, a BOM, and the five
    * rejection classes (overlong lead, bare continuation, truncated
    * tail, surrogate half, above-range) that must each fall back to
    * Latin-1. The ASCII stem length varies with doc_id so n_bytes and
    * n_chars are per-document formulas, not constants.
    */
  private[graft] def charsetPayload(id: Long): Array[Byte] = {
    val stem = (0 until (4 + (id % 11)).toInt)
      .map(i => ('a' + ((id + i) % 26)).toByte).toArray
    val extra: Array[Int] = (id % 9) match {
      case 0 => Array()                            // pure ASCII
      case 1 => Array(0xc2, 0xa2)                  // U+00A2, 2-byte
      case 2 => Array(0xe2, 0x82, 0xac)            // U+20AC, 3-byte
      case 3 => Array(0xf0, 0x9f, 0x92, 0x96)      // U+1F496, 4-byte
      case 4 => Array(0xc0, 0xaf)                  // overlong → latin-1
      case 5 => Array(0x80)                        // bare continuation → latin-1
      case 6 => Array(0xe2, 0x82)                  // truncated tail → latin-1
      case 7 => Array(0xed, 0xa0, 0x80)            // surrogate half → latin-1
      case _ => Array(0xf4, 0x90, 0x80, 0x80)      // > U+10FFFF → latin-1
    }
    val bom: Array[Int] = if (id % 2 == 0 && id % 9 <= 3) Array(0xef, 0xbb, 0xbf) else Array()
    (bom ++ stem.map(_.toInt & 0xff) ++ extra).map(_.toByte)
  }

  /** E72 gated query: the planted byte corpus through
    * [[docCharsetSniff]].
    */
  def docCharsetSniffGated(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val payloads = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, charsetPayload(id))))
      .toDF("doc_id", "payload")
    docCharsetSniff(spark, payloads)
  }

  // ---------------------------------------------------------------
  // E73: the composed crawl-intake funnel
  // ---------------------------------------------------------------

  /** E73 gated query: the CRAWL-INTAKE FUNNEL — the per-host
    * dataset-card a crawl operator reads after one intake cycle,
    * computed by running the REAL stage operators end to end and
    * joining their verdicts per document (the E14/E52 composed-
    * pipeline discipline applied to the r15 crawl stack): robots
    * gate (E71) → politeness throttle (E70) → HTML extraction
    * envelope (E64) → charset custody (E72). `n_fetch_ok` is the
    * requests BOTH politeness gates pass, `n_extracted` those that
    * also parse as HTML; `yield_r` = extracted/requests is the
    * number that tells you what a crawl cycle actually bought.
    * Scale: four doc_id-keyed joins (co-partitioned at deploy) into
    * one #hosts rollup.
    */
  def crawlIntakeFunnel(t: Tables): DataFrame = {
    val robots = docRobotsFilter(t)
      .select(col("doc_id"), col("host"), col("allow").as("robots_ok"))
    val sched = docHostThrottle(t)
      .select(col("doc_id"), col("allow").as("sched_ok"))
    val html = TextOps.docHtmlExtract(t)
      .select(col("doc_id"),
        (col("status") === "ok").cast("int").as("html_ok"))
    val charset = docCharsetSniffGated(t)
      .select(col("doc_id"),
        (col("charset") =!= "latin-1").cast("int").as("utf8_ok"))
    robots.join(sched, "doc_id").join(html, "doc_id").join(charset, "doc_id")
      .withColumn("fetch_ok", col("robots_ok") * col("sched_ok"))
      .groupBy(col("host"))
      .agg(
        count(lit(1)).as("n_reqs"),
        sum(col("robots_ok").cast("long")).as("n_robots_ok"),
        sum(col("sched_ok").cast("long")).as("n_sched_ok"),
        sum(col("fetch_ok").cast("long")).as("n_fetch_ok"),
        sum((col("fetch_ok") * col("html_ok")).cast("long")).as("n_extracted"),
        sum(col("utf8_ok").cast("long")).as("n_utf8"),
        r6(sum((col("fetch_ok") * col("html_ok")).cast("long"))
          .cast("double") / count(lit(1))).as("yield_r"))
  }

  // ---------------------------------------------------------------
  // E69: host-graph centrality (PageRank on the integer lattice)
  // ---------------------------------------------------------------

  private def hostOf(url: Column): Column =
    lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))

  /** E69 gated query: HOST-GRAPH PAGERANK — the crawl-frontier
    * centrality signal (which hosts the corpus itself points at;
    * cf. the harmonic/PageRank host ranks Common Crawl publishes).
    * Edges are E68's resolved outlinks lifted to (src_host,
    * dst_host), self-loops dropped, DISTINCT — the host graph is
    * orders of magnitude smaller than the page corpus, which is the
    * scale design: the per-page flatMap never shuffles more than the
    * distinct host-pair relation, and the iteration runs on
    * #hosts-sized frames.
    *
    * The recursion is the standard damped PageRank with dangling
    * redistribution, computed ENTIRELY on the 10⁻⁶ integer lattice so
    * both engines agree bit-for-bit regardless of aggregation order
    * (the CC/Holt discipline, applied to a sum whose float ordering
    * would otherwise diverge): ranks are BIGINT micro-units,
    * contributions are `r div outdeg`, and one round is
    *
    *   r'(v) = (150000 div N) + (850000·(S(v) + D div N)) div 10⁶
    *
    * with S(v) the exact integer contribution sum into v and D the
    * dangling mass. Eight rounds (fixed — the mixing horizon, not a
    * convergence loop; the judge-visible invariant is bit-equality,
    * not a tolerance).
    */
  def hostRank(t: Tables, rounds: Int = 8): DataFrame = {
    val spark = t.spark
    val links = docHtmlLinks(t).filter(col("kind") =!= "not_html")
    val pages = {
      import spark.implicits._
      t.documents.select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, linkBase(id))))
        .toDF("doc_id", "base_url")
    }
    val edges = Dedup.stableCheckpoint(links
      .join(pages, "doc_id")
      .select(hostOf(col("base_url")).as("src"),
        hostOf(col("url_abs")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    val nodes = Dedup.stableCheckpoint(
      edges.select(col("src").as("host"))
        .union(edges.select(col("dst").as("host"))).distinct())
    val outdeg = Dedup.stableCheckpoint(
      edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    // #hosts is ROUND-INVARIANT: one bounded driver count (a scalar,
    // the train-once/broadcast-as-literals convention) instead of
    // re-aggregating + broadcasting the same 1-row relation in r0 and
    // in every round's plan (9 extra agg+broadcast jobs). Long `/` on
    // non-negative operands is identical to SQL `div`; max(,1) only
    // guards the divide on an edgeless corpus, where every downstream
    // relation is empty anyway.
    val nHosts = math.max(nodes.count(), 1L)
    val r0 = Dedup.stableCheckpoint(
      nodes.select(col("host"), lit(1000000L / nHosts).as("r")))
    val rFinal = (1 to rounds).foldLeft(r0) { (rk, _) =>
      val withDeg = rk.join(outdeg, rk("host") === outdeg("src"), "left")
      val dangRel = withDeg.agg(coalesce(
        sum(when(col("outdeg").isNull, col("r")).otherwise(lit(0L))),
        lit(0L)).as("dang"))
      val contribs = edges
        .join(rk, edges("src") === rk("host"))
        .join(outdeg, "src")
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("sv"))
      val next = nodes
        .join(contribs, nodes("host") === contribs("dst"), "left")
        .crossJoin(broadcast(dangRel))
        .select(col("host"), expr(
          s"${150000L / nHosts}L + (850000L * (coalesce(sv, 0L) + (dang div ${nHosts}L))) div 1000000L")
          .as("r"))
      val chk = Dedup.stableCheckpoint(next)
      Dedup.releaseCheckpoint(rk)
      chk
    }
    val indeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("in_deg"))
    val out = rFinal
      .join(outdeg, rFinal("host") === outdeg("src"), "left")
      .join(indeg, rFinal("host") === indeg("dst"), "left")
      .select(col("host"),
        coalesce(col("outdeg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        col("r").as("rank_6"),
        (col("r").cast("double") / 1e6).as("rank_r"))
    out
  }
}
