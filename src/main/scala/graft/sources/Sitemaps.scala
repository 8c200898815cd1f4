package graft.sources

import java.io.ByteArrayInputStream
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.urlfns

/** S1 — sitemap seed-expansion (reference `try_sitemap`,
  * `src/crawler/discovery.py:343-513`): sitemap.xml / sitemap_index.xml,
  * gzip `.xml.gz` decompression (`:417-425`), recursive sitemap-index
  * expansion (`:437-449`), same-domain + base-path filter (`:459-465`),
  * error-tolerant parse (invalid XML → empty, `:427-432`).
  *
  * XML parsing uses the JDK DOM parser with DTDs/external entities disabled
  * — the XXE posture of the reference's defusedxml (`discovery.py:8`).
  */
object Sitemaps {

  private val SitemapNs = "http://www.sitemaps.org/schemas/sitemap/0.9"

  /** Strips a DOCTYPE declaration (with optional internal subset). */
  private val DoctypeRe =
    java.util.regex.Pattern.compile("(?s)<!DOCTYPE[^\\[>]*(\\[[^\\]]*\\])?[^>]*>")

  /** Parse one sitemap body → (page urls, child sitemap urls). Invalid
    * XML → both empty (error tolerance); any root tag is accepted and
    * searched document-wide, like the reference's findall('.//…').
    *
    * Entity posture matches defusedxml's DEFAULTS (`discovery.py:8` —
    * forbid_dtd=False, forbid_entities=True): a body declaring ANY entity
    * is rejected outright, but an entity-free DOCTYPE is tolerated (the
    * declaration is stripped before the JDK parse, whose
    * disallow-doctype-decl would otherwise reject sitemaps the reference
    * accepts). */
  def parse(bytes: Array[Byte], gzipped: Boolean): (Seq[String], Seq[String]) = {
    try {
      val raw0 =
        if (gzipped) new GZIPInputStream(new ByteArrayInputStream(bytes)).readAllBytes()
        else bytes
      val text = new String(raw0, java.nio.charset.StandardCharsets.UTF_8)
      if (text.contains("<!ENTITY")) return (Seq.empty, Seq.empty) // EntitiesForbidden
      val raw =
        if (text.contains("<!DOCTYPE"))
          DoctypeRe.matcher(text).replaceFirst("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        else raw0
      // shared thread-local hardened builder (silent handler included) —
      // per-URL JAXP factory construction was pure fixed cost (round 6)
      val doc = graft.util.HardenedXml.builder()
        .parse(new ByteArrayInputStream(raw))
      def locs(parent: String): Seq[String] = {
        val nodes = doc.getElementsByTagNameNS(SitemapNs, parent)
        (0 until nodes.getLength).flatMap { i =>
          val e = nodes.item(i).asInstanceOf[org.w3c.dom.Element]
          val ls = e.getElementsByTagNameNS(SitemapNs, "loc")
          (0 until ls.getLength).map(j => ls.item(j).getTextContent.trim)
        }
      }
      // reference parity: findall('.//ns:url/ns:loc') AND
      // findall('.//ns:sitemap/ns:loc') run on EVERY document regardless
      // of root tag (`discovery.py` parses both element kinds wherever
      // they appear — a sitemapindex with inline <url> entries, or a
      // non-standard wrapper root, still yields its pages and children)
      (locs("url"), locs("sitemap"))
    } catch { case _: Exception => (Seq.empty, Seq.empty) }
  }

  /** Multi-host sitemap expansion: the sitemap→children edges are
    * collected once (one row per sitemap FILE, never per page URL), the
    * index cascade is walked on the driver with the same `maxRounds` bound
    * as [[expandPure]]'s recursion, and the page URLs of every reached
    * sitemap are returned as ONE lazy projection (parsed on the executors)
    * that the caller's commit write materializes. The reference's per-URL
    * admission (`discovery.py:459-465`) follows: RAW netloc equality with
    * the seed host whose chain reached the sitemap (case-sensitive,
    * pre-normalize), base-path prefix on the rstrip'd raw path (skipped
    * when the base path is root), then `normalize_url`.
    *
    * `sitemaps`: (sitemap_url, body binary, gzipped boolean);
    * `seeds`: host → baseUrl. Roots tried per host: the standard
    * /sitemap.xml and /sitemap_index.xml joined against the SEED's scheme
    * (`urljoin(base_url, ...)`, `discovery.py:481-484`) plus any `Sitemap:`
    * directives from that host's robots.txt policy (`discovery.py:487-497`).
    * Returns distinct (urlNorm, host).
    */
  def expandAll(sitemaps: DataFrame, seeds: Map[String, String],
      maxRounds: Int = 8,
      policies: Map[String, graft.operators.Robots.Policy] = Map.empty): DataFrame = {
    val spark = sitemaps.sparkSession
    import spark.implicits._
    val bodies = sitemaps.select($"sitemap_url", $"body", $"gzipped")
      .as[(String, Array[Byte], Boolean)]
    val edges: Map[String, Seq[String]] = bodies
      .map { case (u, b, gz) => (u, parse(b, gz)._2) }
      .collect().groupBy(_._1).view.mapValues(_.toSeq.flatMap(_._2)).toMap
    // every sitemap carries the SEED HOST whose chain reached it: the
    // reference admits a URL only when its netloc equals the host whose
    // expansion discovered it (expandPure parity) — without the tag, a URL
    // on host B listed in host A's sitemap would be admitted under B even
    // though B's own chain never saw it
    val roots = seeds.toSeq.sortBy(_._1).flatMap { case (h, baseUrl) =>
      (standardRoots(baseUrl) ++
        policies.get(h).map(_.sitemaps.toSeq).getOrElse(Seq.empty)).map(u => (u, h))
    }.distinct
    val visited = scala.collection.mutable.HashSet.from(roots)
    val reached = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var frontier = roots
    var round = 0
    while (frontier.nonEmpty && round < maxRounds) {
      val batch = frontier.filter { case (u, _) => edges.contains(u) }
      reached ++= batch
      frontier = batch.flatMap { case (u, h) => edges(u).map(_ -> h) }.distinct
        .filter(visited.add)
      round += 1
    }
    if (frontier.nonEmpty) // never silent: dropped children diverge from expandPure
      System.err.println(s"[graft] WARN sitemap expansion truncated at " +
        s"$maxRounds rounds; deeper index children were not followed")
    val seedsDf = broadcast(seeds.toSeq.sortBy(_._1).map { case (host, baseUrl) =>
      var basePath = graft.util.PyUrl.urlparse(baseUrl).path
      while (basePath.endsWith("/")) basePath = basePath.dropRight(1)
      (host, basePath)
    }.toDF("host", "basePath"))
    bodies.toDF()
      .join(broadcast(reached.toSeq.toDF("sitemap_url", "seedHost")), Seq("sitemap_url"))
      .select($"seedHost", $"body", $"gzipped").as[(String, Array[Byte], Boolean)]
      .flatMap { case (h, b, gz) => parse(b, gz)._1.map(h -> _) }
      .toDF("seedHost", "url")
      .withColumn("host", urlfns.url_host($"url")) // RAW netloc, pre-normalize
      .where($"host" === $"seedHost") // chain-origin equality (discovery.py:459)
      .withColumn("rawPath", regexp_replace(urlfns.url_path($"url"), "/+$", ""))
      .join(seedsDf, Seq("host"), "inner") // case-sensitive netloc equality
      .where($"basePath" === "" || startswith($"rawPath", $"basePath"))
      .select(urlfns.url_canonicalize($"url").as("urlNorm"), $"host")
      .distinct()
  }

  /** Standard sitemap roots for a seed, scheme inherited from the seed
    * (the reference's urljoin(base_url, "/sitemap.xml")). */
  def standardRoots(baseUrl: String): Seq[String] = {
    val p = graft.util.PyUrl.urlparse(baseUrl)
    val scheme = if (p.scheme.isEmpty) "https" else p.scheme
    Seq(s"$scheme://${p.netloc}/sitemap.xml", s"$scheme://${p.netloc}/sitemap_index.xml")
  }

  /** Pure single-host expansion (shared with the reference simulator —
    * identical admission rules, driver-side recursion). */
  def expandPure(bodies: Map[String, (Array[Byte], Boolean)], host: String,
      baseUrl: String,
      policy: graft.operators.Robots.Policy = graft.operators.Robots.Empty): Set[String] = {
    val bp = graft.util.PyUrl.urlparse(baseUrl)
    var basePath = bp.path; while (basePath.endsWith("/")) basePath = basePath.dropRight(1)
    val out = scala.collection.mutable.HashSet.empty[String]
    val seen = scala.collection.mutable.HashSet.empty[String]
    def walk(sitemapUrl: String): Unit =
      if (!seen.contains(sitemapUrl)) {
        seen += sitemapUrl
        bodies.get(sitemapUrl).foreach { case (b, gz) =>
          val (urls, children) = parse(b, gz)
          urls.foreach { u =>
            val p = graft.util.PyUrl.urlparse(u)
            var rp = p.path; while (rp.endsWith("/")) rp = rp.dropRight(1)
            if (p.netloc == host && (basePath.isEmpty || rp.startsWith(basePath)))
              out += graft.util.PyUrl.canonicalize(u)
          }
          children.foreach(walk)
        }
      }
    (standardRoots(baseUrl) ++ policy.sitemaps).foreach(walk)
    out.toSet
  }
}
