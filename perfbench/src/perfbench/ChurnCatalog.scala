package perfbench

import java.time.LocalDateTime

import graft.core.UrlCanon
import graft.crawl.{FixtureCfg, FixtureGen, Page}

/** Catalog (home page) generator for the recrawl workload: the
  * "updated story" pattern. From wave 1 on, each wave moves a seeded
  * share of every host's already-listed articles to the top of its
  * catalog by giving them a catalog date just after the wave's newest
  * article, so the scheduler re-fetches URLs the store already holds.
  * Article bodies, the special-role hosts and the page layout are
  * FixtureGen's. */
final class ChurnCatalog(cfg: FixtureCfg, seed: Long, permille: Int) {

  private def mix(a: Long): Long = {
    var x = a
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  private val chosen = scala.collection.mutable.Map.empty[(Int, Int), Set[Int]]

  /** The articles of host i updated at wave w (w >= 1): a seeded choice
    * of exactly permille/1000 of the articles listed before wave w
    * (rounded up), so the amount of re-listing does not depend on the
    * seed. The previous wave's catalog head (its newest article or an
    * article updated then) is never chosen: re-listing the crawl
    * checkpoint would stop that host's wave at its first item. */
  private def updatedAt(i: Int, w: Int): Set[Int] = chosen.synchronized {
    chosen.getOrElseUpdate((i, w), {
      val n = FixtureGen.articleCount(cfg, i, w - 1)
      val recent = if (w >= 2) updatedAt(i, w - 1) else Set.empty[Int]
      (0 until n - 1).filterNot(recent)
        .sortBy(j => mix(seed * 0x9E3779B97F4A7C15L ^ (i.toLong << 40) ^ (j.toLong << 12) ^ w))
        .take((n * permille + 999) / 1000).toSet
    })
  }

  private def updated(i: Int, j: Int, w: Int): Boolean = w >= 1 && updatedAt(i, w).contains(j)

  /** Catalog date of article j of host i as listed at wave w. */
  def catalogDate(i: Int, j: Int, w: Int): LocalDateTime =
    (w to 1 by -1).find(v => updated(i, j, v)) match {
      case Some(v) =>
        val newest = FixtureGen.articleCount(cfg, i, v) - 1
        FixtureGen.publishedAt(i, newest).plusMinutes(1L + j % 300)
      case None => FixtureGen.publishedAt(i, j)
    }

  private def fmt(dt: LocalDateTime): String =
    f"${dt.getYear}%04d-${dt.getMonthValue}%02d-${dt.getDayOfMonth}%02d " +
      f"${dt.getHour}%02d:${dt.getMinute}%02d"

  def homeHtml(i: Int, w: Int): String = {
    val items = (0 until FixtureGen.articleCount(cfg, i, w)).map { j =>
      s"""<li><a href="${FixtureGen.messyHref(cfg, i, j)}">${FixtureGen.articleTitle(i, j)}</a>""" +
        s"""<span class="d">${fmt(catalogDate(i, j, w))}</span></li>"""
    }.mkString("\n")
    s"""<!DOCTYPE html>
       |<html>
       |<head><title>${FixtureGen.hostName(i)} — news</title></head>
       |<body>
       |<nav><a href="/">Home</a> <a href="/arch.html">Archive</a>
       |<a href="/tags.html">Tags</a> <a href="/feed.xml">Feed</a></nav>
       |<h1>Latest stories</h1>
       |<ul class="list">
       |$items
       |</ul>
       |<footer><a href="/about.html">About</a> <a href="#top">Top</a>
       |<a href="javascript:void(0)">Share</a></footer>
       |</body>
       |</html>
       |""".stripMargin
  }

  /** The catalog pages visible at wave w, one per live host. Hosts
    * whose catalogs FixtureGen gives special behaviour keep its pages. */
  def homes(w: Int): Seq[Page] = (0 until cfg.nHosts).flatMap { i =>
    val ts = FixtureGen.warcTs(i, 0)
    if (FixtureGen.brokenAtWave(i).exists(w >= _)) None
    else if (i == FixtureGen.JsonFeedHost)
      Some(Page(UrlCanon.canonicalize(FixtureGen.feedUrl(i)), ts,
        FixtureGen.feedJson(cfg, i, w).getBytes("UTF-8"), "", "en"))
    else {
      val html =
        if (i == FixtureGen.ShufflingHost || i == FixtureGen.UndatedCatalogHost)
          FixtureGen.homeHtml(cfg, i, w)
        else homeHtml(i, w)
      Some(Page(UrlCanon.canonicalize(FixtureGen.homeUrl(i)), ts,
        html.getBytes("UTF-8"), "", "en"))
    }
  }
}
