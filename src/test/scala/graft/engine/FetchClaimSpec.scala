package graft.engine

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

/** The engine's single corpus probe and per-claim fetch, without Spark:
  * a page probe that must hit fails naming the hash, and the fetch maps
  * a miss anywhere on the redirect chain to fetch_error.
  */
class FetchClaimSpec extends AnyFunSuite {

  private def page(url: String, status: Int = 200,
      redirectTo: String = ""): PageRow =
    PageRow(UrlNormalizer.sha256Hex(url), url, UrlNormalizer.sha256Hex(url),
      "a.example.com", status, redirectTo, "text/html", "", extract_ok = true,
      Seq(Span("text", url, "", 0)), Seq("/next"))

  private def corpus(rows: PageRow*): (Array[String], Array[PageRow]) = {
    val sorted = rows.sortBy(_.url_hash).toArray
    (sorted.map(_.url_hash), sorted)
  }

  private def claim(url: String): FrontierUrl =
    FrontierUrl(url, UrlNormalizer.sha256Hex(url), "a.example.com", "s",
      FrontierOrigin.Spider, None, 0, 5, FrontierStatus.Pending, 0L, None, 0,
      None, None, None, 0, None, 0L, 0L, 0L, 0)

  private val u = "https://a.example.com/"

  test("probePage: a miss fails naming the hash") {
    val c = corpus(page(s"${u}x"))
    val missing = UrlNormalizer.sha256Hex(s"${u}absent")
    val e = intercept[IllegalArgumentException](CrawlEngine.probePage(c, missing))
    assert(e.getMessage.contains(s"corpus probe miss: $missing"))
    assert(CrawlEngine.probePage(c, UrlNormalizer.sha256Hex(s"${u}x")).url == s"${u}x")
  }

  test("fetchClaim: misses map to fetch_error; chains end at the page") {
    val c = corpus(page(s"${u}a", 301, s"${u}b"), page(s"${u}b"),
      page(s"${u}dangling", 301, s"${u}gone"))
    def fetch(path: String, maxRedirects: Int = 5) = CrawlEngine.fetchClaim(
      c, claim(s"$u$path"), RobotsRules.AllowAll, maxRedirects)
    val missing = fetch("absent")
    assert((missing.outcome, missing.reason) == (("failed", "fetch_error")))
    val dangling = fetch("dangling")
    assert((dangling.outcome, dangling.reason) == (("failed", "fetch_error")))
    val ok = fetch("a")
    assert((ok.outcome, ok.finalUrl, ok.lookupHash) ==
      (("fetched", s"${u}b", UrlNormalizer.sha256Hex(s"${u}b"))))
    val tooMany = fetch("a", maxRedirects = 0)
    assert(tooMany.reason == CrawlDefaults.ReasonTooManyRedirects)
  }
}
