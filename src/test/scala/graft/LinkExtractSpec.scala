package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.kernel.LinkExtract

/** Outlink extraction: attribute lexing variants, duplicate-href
  * handling, totality on garbage, and the link_graph query's
  * cross-engine edge table.
  */
class LinkExtractSpec extends AnyFunSuite {

  test("href variants: quotes, spacing, case, unquoted, first-wins") {
    val html =
      """<a href="/one">x</a>
        |<A HREF='/two'>y</A>
        |<a class="z" href = "/three" rel=nofollow>z</a>
        |<a href=/four>u</a>
        |<a href="/first" href="/second">dup</a>
        |<a name="anchor-only">no link</a>
        |<abbr href="/not-an-anchor">abbr is not a</abbr>
        |<a
        |  href="/multiline">m</a>""".stripMargin
    assert(LinkExtract.hrefs(html) ==
      Vector("/one", "/two", "/three", "/four", "/first", "/multiline"))
  }

  test("total on malformed input; raw values (no entity decode)") {
    assert(LinkExtract.hrefs(null).isEmpty)
    assert(LinkExtract.hrefs("").isEmpty)
    assert(LinkExtract.hrefs("<a href=\"/unclosed").isEmpty) // tag never closes
    assert(LinkExtract.hrefs("plain text with < and a > signs").isEmpty)
    assert(LinkExtract.hrefs("<a href=\"/q?x=1&amp;y=2\">e</a>") ==
      Vector("/q?x=1&amp;y=2")) // raw, like the oracle's regex
    // random bytes never throw
    val rnd = new java.util.Random(5)
    for (_ <- 0 until 200) {
      val b = new Array[Byte](rnd.nextInt(300))
      rnd.nextBytes(b)
      LinkExtract.hrefsBytes(b)
    }
  }

  test("scanner equals the oracle's regex on the synthetic corpus markup") {
    import TestSpark.{sf0001, spark}
    import spark.implicits._
    val htmls = graft.sources.PageSynth.pages(spark, sf0001)
      .filter(p => p.html != null && p.html.length > 0 && p.html(0) == '<'.toByte)
      .map(p => new String(p.html, "UTF-8")).collect()
    assert(htmls.nonEmpty)
    val rx = "<a href=\"([^\"]*)\"".r
    htmls.foreach { h =>
      val viaScanner = LinkExtract.hrefs(h)
      val viaRegex = rx.findAllMatchIn(h).map(_.group(1)).toVector
      assert(viaScanner == viaRegex)
    }
  }

  test("link_graph: chrome anchors appear on every html page of a host") {
    import TestSpark.{sf0001, spark}
    import spark.implicits._
    val rows = TestSpark.queries("link_graph")(spark, sf0001)
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    // all destinations resolved absolute
    rows.foreach { case (dst, nSrc, nOcc) =>
      assert(dst.startsWith("https://") || dst.startsWith("http://"), dst)
      assert(nOcc >= nSrc && nSrc > 0)
    }
    // the header 'about' link exists for every host with html pages and
    // its per-host src count EQUALS that host's html page count (every
    // page carries the chrome header exactly once)
    // ground truth from the corpus generator: only true KHtml pages
    // carry the chrome (the oversize doc's '<'+filler payload is
    // html-ish to the sniff but anchor-free by construction)
    val htmlPagesByHost = graft.sources.PageSynth.docs(spark, sf0001).collect()
      .filter(d => graft.sources.PageSynth.kindOf(d.doc_id) == graft.sources.PageSynth.KHtml)
      .map(d => graft.sources.PageSynth.urlFor(d).split("/")(2))
      .groupBy(identity).map { case (h, xs) => h -> xs.length.toLong }
    assert(htmlPagesByHost.nonEmpty)
    val byHost = rows.groupBy(r => r._1.split("/")(2))
    htmlPagesByHost.foreach { case (host, nPages) =>
      val about = byHost(host).find(_._1 == s"https://$host/about")
      assert(about.isDefined, s"host $host missing /about chrome link")
      assert(about.get._2 == nPages,
        s"host $host /about src pages ${about.get._2} != html pages $nPages")
      assert(about.get._3 == nPages, s"host $host /about occurrences")
    }
  }
}
