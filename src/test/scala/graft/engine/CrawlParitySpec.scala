package graft.engine

import graft.SparkTestBase
import graft.core._
import graft.corpus._
import graft.oracle.CrawlOracle
import graft.state.SnapshotStore
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end parity: the Spark engine must reproduce the oracle's crawl
  * ordering (claim log), final URL-seen set, full frontier state, and doc
  * span sequences exactly (SURVEY.md §5.2, BASELINE.md target correctness).
  */
class CrawlParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def newStore(): SnapshotStore =
    new SnapshotStore(Files.createTempDirectory("graft-state").toString)

  private def mkEngine(pages: Seq[PageRow], robots: Seq[RobotsRow],
      cfg: EngineConfig, store: SnapshotStore = newStore(),
      robotsUpdates: Seq[(Long, RobotsRow)] = Nil): CrawlEngine =
    new CrawlEngine(spark, store, spark.createDataset(pages), robots, cfg,
      robotsUpdates)

  /** Frontier fields both models define, keyed by url_hash. */
  private def engineState(e: CrawlEngine): Map[String, Product] =
    e.frontier().collect().map { r =>
      r.url_hash -> ((r.url, r.host, r.status, r.priority, r.depth, r.origin,
        r.parent_url, r.retry_count, r.fetch_count, r.content_hash,
        r.last_error, r.next_fetch_at, r.last_fetched_at, r.discovered_at))
    }.toMap

  private def oracleState(o: CrawlOracle): Map[String, Product] =
    o.frontier.map { case (h, r) =>
      h -> ((r.url, r.host, r.status, r.priority, r.depth, r.origin,
        r.parentUrl, r.retryCount, r.fetchCount, r.contentHash,
        r.lastError, r.nextFetchAt, r.lastFetchedAt, r.discoveredAt))
    }.toMap

  /** The defined claim order: batch, then priority DESC, next_fetch_at ASC,
    * url_hash ASC (the reference's claim ORDER BY + deterministic tie-break).
    */
  private def claimOrder(c: ClaimLogEntry): (Long, Int, Long, String) =
    (c.batch_id, -c.priority, c.next_fetch_at, c.url_hash)

  private def engineClaims(e: CrawlEngine): Seq[(Long, String)] =
    e.claimLog().as[ClaimLogEntry].collect().toSeq
      .sortBy(claimOrder).map(c => (c.batch_id, c.url_hash))

  private def oracleClaims(o: CrawlOracle): Seq[(Long, String)] =
    o.claimLog.toSeq.sortBy(claimOrder).map(c => (c.batch_id, c.url_hash))

  private def compareAll(e: CrawlEngine, o: CrawlOracle): Unit = {
    val (ec, oc) = (engineClaims(e), oracleClaims(o))
    if (ec != oc) {
      val firstDiff = ec.zip(oc).indexWhere { case (a, b) => a != b }
      fail(s"claim logs diverge (engine ${ec.size} vs oracle ${oc.size}); " +
        s"first diff at $firstDiff: engine=${ec.lift(firstDiff)} oracle=${oc.lift(firstDiff)}")
    }
    assert(e.frontier().collect().map(_.url_hash).toSet == o.seenSet, "URL-seen set")
    val (es, os) = (engineState(e), oracleState(o))
    val diffKeys = (es.keySet ++ os.keySet).filter(k => es.get(k) != os.get(k))
    assert(diffKeys.isEmpty,
      s"frontier rows differ for ${diffKeys.take(3).map(k => (k, es.get(k), os.get(k)))}")
    // docs + span-sequence invariant (kind, text, media_ref, order)
    val edocs = e.docs().as[(String, String, Seq[Span], Long)].collect()
      .map(d => d._1 -> (d._2, d._3)).toMap
    val odocs = o.docs.toMap
    assert(edocs.keySet == odocs.keySet, "doc set")
    edocs.foreach { case (id, (url, spans)) =>
      assert(odocs(id)._1 == url, s"doc url for $id")
      assert(odocs(id)._2 == spans, s"span sequence for $id")
      assert(spans.map(_.offset) == spans.indices.map(identity), s"span order for $id")
    }
    // discovered-links table: upsert view vs the oracle's link map
    val elinks = e.discoveredLinks().collect().map { r =>
      (r.getAs[String]("source_id"), r.getAs[String]("url_hash")) ->
        ((r.getAs[String]("url"), r.getAs[String]("domain"),
          Option(r.getAs[String]("parent_url")), r.getAs[Int]("depth"),
          r.getAs[Int]("priority"), r.getAs[Long]("discovered_at"),
          r.getAs[Long]("updated_at"), r.getAs[String]("source_name")))
    }.toMap
    val olinks = o.links.map { case (k, l) =>
      k -> ((l.url, l.domain, l.parentUrl, l.depth, l.priority,
        l.discoveredAt, l.updatedAt, l.sourceName))
    }.toMap
    val ldiff = (elinks.keySet ++ olinks.keySet)
      .filter(k => elinks.get(k) != olinks.get(k))
    assert(ldiff.isEmpty,
      s"discovered links differ for ${ldiff.take(3).map(k => (k, elinks.get(k), olinks.get(k)))}")
  }

  private def runBoth(pages: Seq[PageRow], robots: Seq[RobotsRow],
      seeds: Seq[Seed], cfg: EngineConfig): (CrawlEngine, CrawlOracle) = {
    val e = mkEngine(pages, robots, cfg)
    e.seed(seeds)
    e.runDrain()
    val o = new CrawlOracle(pages.map(p => p.url_hash -> p).toMap,
      robots.map(r => r.host -> r).toMap, cfg.userAgent, cfg.maxRetries,
      cfg.maxRedirects, cfg.maxDepth)
    o.submitSeeds(seeds)
    o.runDrain()
    (e, o)
  }

  test("fixture-news-site: exact claim order, seen set, docs vs oracle") {
    val (pages, robots, seeds) = Corpus.fixtureNewsSite()
    val cfg = EngineConfig(numBuckets = 8, maxDepth = 5)
    val (e, o) = runBoth(pages, robots, seeds, cfg)
    compareAll(e, o)
    // the three fixture pages all get fetched
    assert(o.statusCounts(FrontierStatus.Fetched) == 3)
  }

  test("synthetic corpus: full parity (ordering, seen set, state, spans)") {
    val p = CorpusParams(numHosts = 6, pagesPerHost = 8, skewHosts = 1,
      skewFactor = 3, outdegree = 4)
    val pages = Corpus.allPages(p)
    val robots = Corpus.robots(p)
    val seeds = Corpus.seeds(p)
    val cfg = EngineConfig(numBuckets = 8, maxDepth = 12)
    val (e, o) = runBoth(pages, robots, seeds, cfg)
    compareAll(e, o)
    // the corpus must actually exercise the interesting paths
    val errs = o.frontier.values.flatMap(_.lastError).toSeq
    assert(errs.exists(_ == "robots_blocked"), "corpus exercised robots")
    assert(errs.exists(_ == "not_found"), "corpus exercised 404")
    assert(errs.exists(_.startsWith("http status")), "corpus exercised retry")
    assert(o.statusCounts(FrontierStatus.Fetched) > 10)
    assert(o.claimLog.size > 20)
  }

  test("resume: restart from a mid-drain snapshot converges to identical state") {
    val p = CorpusParams(numHosts = 4, pagesPerHost = 5, skewHosts = 0,
      outdegree = 3)
    val pages = Corpus.allPages(p)
    val robots = Corpus.robots(p)
    val seeds = Corpus.seeds(p)
    val cfg = EngineConfig(numBuckets = 8, maxDepth = 6)

    // uninterrupted run
    val (e1, o) = runBoth(pages, robots, seeds, cfg)

    // interrupted run: stop after 4 batches, resume from snapshot, finish
    val store2 = newStore()
    val e2 = mkEngine(pages, robots, cfg, store2)
    e2.seed(seeds)
    (1 to 4).foreach(_ => e2.step())
    val e3 = mkEngine(pages, robots, cfg, store2)
    assert(e3.resume(), "resume finds the snapshot")
    assert(e3.batchId == 4)
    e3.runDrain()
    compareAll(e3, o)
    assert(engineClaims(e3) == engineClaims(e1))
    assert(engineState(e3) == engineState(e1))
  }

  test("resume: legacy monolithic 'host_state' snapshot fails loudly") {
    val store = newStore()
    // hand-craft a pre-bucketing manifest: host table under one key
    val hostDir = java.nio.file.Paths.get(store.dataPath("host_state_v0"))
    Files.createDirectories(hostDir)
    store.commit(store.Manifest(3, 123L, Map.empty,
      Map("host_state" -> hostDir.toString)))
    val e = mkEngine(Nil, Nil, EngineConfig(numBuckets = 8))
    val e2 = new CrawlEngine(spark, store, spark.createDataset(Seq.empty[PageRow]),
      Nil, EngineConfig(numBuckets = 8))
    val ex = intercept[IllegalStateException](e2.resume())
    assert(ex.getMessage.contains("legacy snapshot"))
    assert(e.batchId == 0) // untouched engine unaffected
  }

  test("bloom seen-set prefilter changes nothing: identical state + claims") {
    val p = CorpusParams(numHosts = 5, pagesPerHost = 6, skewHosts = 1,
      skewFactor = 2, outdegree = 3)
    val pages = Corpus.allPages(p)
    val robots = Corpus.robots(p)
    val seeds = Corpus.seeds(p)
    val base = EngineConfig(numBuckets = 8, maxDepth = 8)
    val (eOff, _) = runBoth(pages, robots, seeds, base)
    val eOn = mkEngine(pages, robots, base.copy(useBloomPrefilter = true))
    eOn.seed(seeds)
    eOn.runDrain()
    assert(engineClaims(eOn) == engineClaims(eOff), "claim logs")
    assert(engineState(eOn) == engineState(eOff), "frontier state")
  }

  /** Minimal hand-built page for targeted scenarios. */
  private def pg(host: String, path: String, status: Int, redir: String,
      links: Seq[String]): PageRow = {
    val url = Corpus.canonicalUrl(host, path)
    PageRow(UrlNormalizer.sha256Hex(url), url, UrlNormalizer.sha256Hex(url),
      host, status, redir, "text/html; charset=utf-8", "", extract_ok = true,
      Seq(Span("text", s"page $path", "", 0)), links)
  }

  test("bloom stays superset when a re-key and a matching link land in one batch") {
    // A:/r 301→A:/t re-keys in batch 1; B:/ links to A:/t in the SAME
    // batch. The re-keyed hash must enter the bloom before the merge or the
    // submission tests "definitely unseen" and inserts a duplicate row.
    val hA = "rk-a.example.org"; val hB = "rk-b.example.org"
    val pages = Seq(
      pg(hA, "/r", 301, Corpus.canonicalUrl(hA, "/t"), Nil),
      pg(hA, "/t", 200, "", Nil),
      pg(hB, "/", 200, "", Seq(Corpus.canonicalUrl(hA, "/t"))))
    val seeds = Seq(Seed(Corpus.canonicalUrl(hA, "/r"), "s1"),
      Seed(Corpus.canonicalUrl(hB, "/"), "s2"))
    val cfg = EngineConfig(numBuckets = 8, maxDepth = 3)
    val (eOff, o) = runBoth(pages, Nil, seeds, cfg)
    val eOn = mkEngine(pages, Nil, cfg.copy(useBloomPrefilter = true))
    eOn.seed(seeds)
    eOn.runDrain()
    compareAll(eOn, o)
    assert(engineClaims(eOn) == engineClaims(eOff), "claim logs (no re-crawl)")
    assert(engineState(eOn) == engineState(eOff), "frontier state")
    val hashes = eOn.frontier().collect().map(_.url_hash).toSeq
    assert(hashes.length == hashes.distinct.length, "no duplicate url_hash")
  }

  test("re-key drains a bucket: manifest drops it instead of a missing path") {
    // host X's ONLY frontier row re-keys to host Y in a different bucket:
    // bucket(X) ends the batch with zero rows and no bucket=b output dir.
    val nb = 64
    def bOf(h: String) =
      (scala.util.hashing.MurmurHash3.stringHash(h) & 0x7fffffff) % nb
    val hY = "mv-target.example.org"
    val hX = (0 to 1000).map(k => s"mv-src$k.example.org")
      .find(h => bOf(h) != bOf(hY)).get
    val pages = Seq(
      pg(hX, "/moved", 301, Corpus.canonicalUrl(hY, "/new-home"), Nil),
      pg(hY, "/", 200, "", Nil),
      pg(hY, "/new-home", 200, "", Nil))
    val seeds = Seq(Seed(Corpus.canonicalUrl(hX, "/moved"), "s1"),
      Seed(Corpus.canonicalUrl(hY, "/"), "s2"))
    val cfg = EngineConfig(numBuckets = nb, maxDepth = 3)
    val (e, o) = runBoth(pages, Nil, seeds, cfg) // crashes on read if stale
    compareAll(e, o)
    assert(e.frontier().collect().forall(_.status == FrontierStatus.Fetched))
  }

  test("collision-heavy re-keys: distributed resolution ≡ sequential replay") {
    // Every re-key branch the static fetch model can reach, most in ONE
    // batch (distinct hosts ⇒ all claimed together), against the oracle's
    // claim-by-claim sequential unique check
    // (frontier_repository.go:216-263):
    //  - 3-way FRESH contest: s0,s1,s2 all 301 → t.ex/t0 (absent from the
    //    frontier). First in claim order ((-prio, nfa, url_hash)) wins the
    //    hash; the other two fall back to their old keys.
    //  - chain contest: c0 301 → m.ex/hop 301 → t.ex/t1 and c1 301 →
    //    t.ex/t1 — different chains, SAME final URL, same contest rules.
    //  - present-hash fallback: p0 301 → q.ex/home, which is seeded (its
    //    hash is live in the frontier and nothing frees it) → p0 keeps
    //    its old key, marked fetched.
    //  - cross-batch fallback: lh.ex/a (batch 1) links to lh.ex/b, which
    //    is claimed in batch 2 and redirects to t.ex/t0 — by then the
    //    batch-1 winner OWNS that hash → fallback.
    val cu = Corpus.canonicalUrl _
    val contest0 = Seq("s0.example.org", "s1.example.org", "s2.example.org")
    val pages = Seq(
      pg("t.example.org", "/t0", 200, "", Nil),
      pg("t.example.org", "/t1", 200, "", Nil),
      pg("m.example.org", "/hop", 301, cu("t.example.org", "/t1"), Nil),
      pg("c0.example.org", "/old", 301, cu("m.example.org", "/hop"), Nil),
      pg("c1.example.org", "/old", 301, cu("t.example.org", "/t1"), Nil),
      pg("p0.example.org", "/old", 301, cu("q.example.org", "/home"), Nil),
      pg("q.example.org", "/home", 200, "", Nil),
      pg("lh.example.org", "/a", 200, "", Seq("/b")),
      pg("lh.example.org", "/b", 301, cu("t.example.org", "/t0"), Nil)) ++
      contest0.map(h => pg(h, "/old", 301, cu("t.example.org", "/t0"), Nil))
    val seeds = (contest0.map(h => cu(h, "/old")) ++ Seq(
      cu("c0.example.org", "/old"), cu("c1.example.org", "/old"),
      cu("p0.example.org", "/old"), cu("q.example.org", "/home"),
      cu("lh.example.org", "/a"))).zipWithIndex
      .map { case (u, i) => Seed(u, s"s$i") }
    val cfg = EngineConfig(numBuckets = 8, maxDepth = 3)
    val (e, o) = runBoth(pages, Nil, seeds, cfg)
    compareAll(e, o)
    val rows = e.frontier().collect().map(r => r.url_hash -> r).toMap
    // t0 contest: winner = least url_hash among the three seeds (equal
    // priority and next_fetch_at ⇒ url_hash breaks the tie)
    val h0 = contest0.map(h => UrlNormalizer.sha256Hex(cu(h, "/old"))).sorted
    val t0Hash = UrlNormalizer.sha256Hex(cu("t.example.org", "/t0"))
    assert(!rows.contains(h0.head), "t0 winner re-keyed away from its old hash")
    assert(rows(t0Hash).url == cu("t.example.org", "/t0"))
    assert(rows(t0Hash).host == "t.example.org")
    h0.tail.foreach { h =>
      assert(rows(h).status == FrontierStatus.Fetched, "t0 loser fell back")
    }
    // t1 contest: exactly one of c0/c1 owns the hash, the other fell back
    val t1Hash = UrlNormalizer.sha256Hex(cu("t.example.org", "/t1"))
    val cHashes = Seq("c0.example.org", "c1.example.org")
      .map(h => UrlNormalizer.sha256Hex(cu(h, "/old")))
    assert(rows.contains(t1Hash), "t1 hash owned by a re-keyed row")
    assert(cHashes.count(rows.contains) == 1, "exactly one chain loser fell back")
    // present-hash fallback: p0 keeps its key, q/home keeps its row
    val pHash = UrlNormalizer.sha256Hex(cu("p0.example.org", "/old"))
    assert(rows(pHash).status == FrontierStatus.Fetched)
    assert(rows(UrlNormalizer.sha256Hex(cu("q.example.org", "/home"))).url ==
      cu("q.example.org", "/home"))
    // cross-batch fallback: lh/b fetched under its OLD hash in batch ≥ 2
    val lhb = UrlNormalizer.sha256Hex(cu("lh.example.org", "/b"))
    assert(rows(lhb).status == FrontierStatus.Fetched, "lh/b fell back")
    val lhbClaim = e.claimLog().as[ClaimLogEntry].collect()
      .find(_.url_hash == lhb).get
    assert(lhbClaim.batch_id >= 2, "lh/b claimed after the t0 contest batch")
    // the seen-filter path must agree bit-for-bit under the same contests
    val eOn = mkEngine(pages, Nil, cfg.copy(useBloomPrefilter = true))
    eOn.seed(seeds)
    eOn.runDrain()
    assert(engineClaims(eOn) == engineClaims(e), "filter-on claims")
    assert(engineState(eOn) == engineState(e), "filter-on state")
  }

  test("seen-filter kinds: bloom ≡ cuckoo ≡ off; cuckoo-overflow bloom fallback") {
    // 5×14 pages ≈ 80+ distinct URLs: enough to overflow the ~30-slot
    // tiny cuckoo below while keeping the 4-drain test quick
    val p = CorpusParams(numHosts = 5, pagesPerHost = 14, skewHosts = 1,
      skewFactor = 2, outdegree = 3)
    val pages = Corpus.allPages(p)
    val robots = Corpus.robots(p)
    val seeds = Corpus.seeds(p)
    val base = EngineConfig(numBuckets = 8, maxDepth = 5)
    val (eOff, _) = runBoth(pages, robots, seeds, base)
    def drained(cfg: EngineConfig): CrawlEngine = {
      val e = mkEngine(pages, robots, cfg)
      e.seed(seeds)
      e.runDrain()
      e
    }
    // cuckoo forced past capacity: ONE bucket, ~30-slot table vs 80+
    // URLs — the degrade + rebuild-as-bloom path must stay exact. Claim
    // logs and the compared state fields are bucket-count independent,
    // so eOff (8 buckets, filter off) is the baseline.
    val eTiny = drained(EngineConfig(numBuckets = 1, maxDepth = 5,
      useBloomPrefilter = true, bloomExpectedItems = 16))
    assert(engineClaims(eTiny) == engineClaims(eOff), "fallback claims")
    assert(engineState(eTiny) == engineState(eOff), "fallback state")
    // sidecars resume: a new engine loads the persisted filters and the
    // state reads back identically
    val store2 = newStore()
    val e2 = mkEngine(pages, robots, base.copy(useBloomPrefilter = true), store2)
    e2.seed(seeds)
    (1 to 3).foreach(_ => e2.step())
    val e3 = mkEngine(pages, robots, base.copy(useBloomPrefilter = true), store2)
    assert(e3.resume())
    e3.runDrain()
    assert(engineClaims(e3) == engineClaims(eOff), "resume-with-sidecars claims")
    assert(engineState(e3) == engineState(eOff), "resume-with-sidecars state")
  }

  test("B2 pre-submit filter on: engine ≡ oracle, filtered URLs never enter") {
    val p = CorpusParams(numHosts = 5, pagesPerHost = 8, skewHosts = 1,
      skewFactor = 2, outdegree = 4)
    val pages = Corpus.allPages(p)
    val robots = Corpus.robots(p)
    val seeds = Corpus.seeds(p)
    val cfg = EngineConfig(numBuckets = 8, maxDepth = 6,
      usePreSubmitUrlFilter = true)
    val e = mkEngine(pages, robots, cfg)
    e.seed(seeds)
    e.runDrain()
    val o = new CrawlOracle(pages.map(pg => pg.url_hash -> pg).toMap,
      robots.map(r => r.host -> r).toMap, cfg.userAgent, cfg.maxRetries,
      cfg.maxRedirects, cfg.maxDepth,
      preSubmitFilter = Some(u => UrlFilter.shouldSkipUrl(u)))
    o.submitSeeds(seeds)
    o.runDrain()
    compareAll(e, o)
    // the corpus links /assets/... pages; the gate must keep them out
    assert(!e.frontier().collect().exists(_.url.contains("/assets/")),
      "CDN-asset URLs filtered pre-submit")
    // and without the gate the same corpus DOES submit them
    val (eOff, _) = runBoth(pages, robots, seeds,
      cfg.copy(usePreSubmitUrlFilter = false))
    assert(eOff.frontier().collect().exists(_.url.contains("/assets/")),
      "corpus actually exercises the filter")
  }

  test("X10 manual ops: resetForRetry revives dead rows; deleteUrls removes") {
    val h = "x10.example.org"
    val pages = Seq(
      pg(h, "/", 200, "", Seq("/gone")),
      pg(h, "/gone", 404, "", Nil))
    val seeds = Seq(Seed(Corpus.canonicalUrl(h, "/"), "s1"))
    val e = mkEngine(pages, Nil, EngineConfig(numBuckets = 8, maxDepth = 3))
    e.seed(seeds)
    e.runDrain()
    val gone = e.frontier().collect().find(_.status == FrontierStatus.Dead).get
    assert(gone.last_error.contains("not_found"))
    // reset: dead → pending, cleared error/retries, due at virtual now
    assert(e.resetForRetry(Set(gone.url_hash)) == 1L)
    val revived = e.frontier().collect().find(_.url_hash == gone.url_hash).get
    assert(revived.status == FrontierStatus.Pending)
    assert(revived.retry_count == 0 && revived.last_error.isEmpty)
    // non-dead rows are not eligible for reset
    val fetchedRow = e.frontier().collect().find(_.status == FrontierStatus.Fetched).get
    assert(e.resetForRetry(Set(fetchedRow.url_hash)) == 0L)
    // the revived row is re-claimed on the next drain and dies again
    e.runDrain()
    assert(e.frontier().collect().find(_.url_hash == gone.url_hash)
      .get.status == FrontierStatus.Dead)
    // delete removes it from state entirely; stats reflect it
    assert(e.deleteUrls(Set(gone.url_hash)) == 1L)
    assert(!e.frontier().collect().exists(_.url_hash == gone.url_hash))
    assert(e.deleteUrls(Set(gone.url_hash)) == 0L)
    assert(e.frontierStats().values.sum == 1L)
  }

  test("keyed robots: a mid-drain robots change takes effect after TTL") {
    // one host, five seeded pages ⇒ politeness claims one per batch, the
    // virtual clock stepping +min_delay (1 s) per batch. TTL 2.5 s;
    // robots flip to Disallow:/ at epoch+1.5 s. Batches 1-3 (epoch,
    // +1 s, +2 s) run on the cached Allow; batch 4 (+3 s) refreshes past
    // the TTL, sees the flip, and the remaining two pages die
    // robots_blocked — the reference's cached-robots behavior
    // (fetcher/robots.go:19) end to end.
    val h = "krob.example.org"
    val pages = (1 to 5).map(i => pg(h, s"/p$i", 200, "", Nil))
    val seeds = (1 to 5).map(i => Seed(Corpus.canonicalUrl(h, s"/p$i"), "s1"))
    val allow = Seq(RobotsRow(h, "User-agent: *\nAllow: /", 200))
    val flipAt = CrawlDefaults.VirtualEpochMs + 1500L
    val updates = Seq((flipAt, RobotsRow(h, "User-agent: *\nDisallow: /", 200)))
    val cfg = EngineConfig(numBuckets = 8, maxDepth = 3,
      useKeyedRobotsState = true, robotsTtlMs = 2500L)
    val e = mkEngine(pages, allow, cfg, robotsUpdates = updates)
    e.seed(seeds)
    e.runDrain()
    val o = new CrawlOracle(pages.map(p => p.url_hash -> p).toMap,
      allow.map(r => r.host -> r).toMap, cfg.userAgent, cfg.maxRetries,
      cfg.maxRedirects, cfg.maxDepth, keyedRobots = true,
      robotsTtlMs = 2500L, robotsUpdates = updates)
    o.submitSeeds(seeds)
    o.runDrain()
    compareAll(e, o)
    val rows = e.frontier().collect()
    assert(rows.count(_.status == FrontierStatus.Fetched) == 3,
      "cached Allow carries batches 1-3")
    assert(rows.count(r => r.status == FrontierStatus.Dead &&
      r.last_error.contains(CrawlDefaults.ReasonRobotsBlocked)) == 2,
      "post-TTL refresh blocks the rest")
    // the refreshed cache PERSISTED into host_state
    val hs = e.hostState().collect().find(_.host == h).get
    assert(hs.robots_body.exists(_.contains("Disallow")), "cache persisted")
    assert(hs.robots_fetched_at.contains(CrawlDefaults.VirtualEpochMs + 3000L))
    // fixture mode (static rules) never observes the update
    val (eStatic, _) = runBoth(pages, allow, seeds,
      cfg.copy(useKeyedRobotsState = false))
    assert(eStatic.frontier().collect()
      .forall(_.status == FrontierStatus.Fetched), "static mode ignores flip")
    // keyed ≡ static when robots never change
    val eKeyedStable = mkEngine(pages, allow, cfg)
    eKeyedStable.seed(seeds)
    eKeyedStable.runDrain()
    assert(engineState(eKeyedStable) == engineState(eStatic),
      "keyed mode is bit-identical without mid-drain changes")
  }

  test("robots wildcards gate the drain: engine ≡ oracle") {
    val h = "wc.example.org"
    val pages = Seq(
      pg(h, "/", 200, "", Seq("/doc.pdf", "/tmp/x", "/tmp/keep", "/news/a")),
      pg(h, "/doc.pdf", 200, "", Nil),
      pg(h, "/tmp/x", 200, "", Nil),
      pg(h, "/tmp/keep", 200, "", Nil),
      pg(h, "/news/a", 200, "", Nil))
    val robots = Seq(RobotsRow(h,
      "User-agent: *\nDisallow: /*.pdf$\nDisallow: /tmp/*\nAllow: /tmp/keep\n",
      200))
    val seeds = Seq(Seed(Corpus.canonicalUrl(h, "/"), "s1"))
    val (e, o) = runBoth(pages, robots, seeds,
      EngineConfig(numBuckets = 8, maxDepth = 3))
    compareAll(e, o)
    val byPath = e.frontier().collect()
      .map(r => r.url.stripPrefix(s"https://$h") -> r).toMap
    assert(byPath("/doc.pdf").last_error.contains("robots_blocked"))
    assert(byPath("/tmp/x").last_error.contains("robots_blocked"))
    assert(byPath("/tmp/keep").status == FrontierStatus.Fetched)
    assert(byPath("/news/a").status == FrontierStatus.Fetched)
  }

  test("append-only settled: long drain compacts chains, parity + resume + vacuum") {
    val p = CorpusParams(numHosts = 5, pagesPerHost = 10, skewHosts = 1,
      skewFactor = 3, outdegree = 3)
    val pages = Corpus.allPages(p)
    val robots = Corpus.robots(p)
    val seeds = Corpus.seeds(p)
    // tiny segment cap so the long drain compacts repeatedly
    val cfg = EngineConfig(numBuckets = 4, maxDepth = 12,
      maxSettledSegments = 2)
    val store = newStore()
    val e = mkEngine(pages, robots, cfg, store)
    e.seed(seeds)
    e.runDrain()
    val o = new CrawlOracle(pages.map(pp => pp.url_hash -> pp).toMap,
      robots.map(r => r.host -> r).toMap, cfg.userAgent, cfg.maxRetries,
      cfg.maxRedirects, cfg.maxDepth)
    o.submitSeeds(seeds)
    o.runDrain()
    compareAll(e, o)
    assert(o.claimLog.map(_.batch_id).max >= 8, "drain long enough to compact")
    val chains = e.settledSegmentCounts()
    assert(chains.nonEmpty && chains.values.max <= cfg.maxSettledSegments,
      s"chains compacted under the cap: $chains")

    // vacuum old snapshots: live segments (old versions carried forward by
    // the kept manifests) must survive; the frontier must read identically
    val stateBefore = engineState(e)
    assert(store.vacuum(keepLast = 2) > 0, "vacuum removed dead versions")
    assert(engineState(e) == stateBefore, "post-vacuum frontier intact")

    // resume across segment chains: interrupt mid-drain, resume, finish
    val store2 = newStore()
    val e2 = mkEngine(pages, robots, cfg, store2)
    e2.seed(seeds)
    (1 to 6).foreach(_ => e2.step())
    val e3 = mkEngine(pages, robots, cfg, store2)
    assert(e3.resume(), "resume finds the snapshot")
    e3.runDrain()
    assert(engineClaims(e3) == engineClaims(e), "resumed claim log")
    assert(engineState(e3) == stateBefore, "resumed frontier state")
  }

  test("fetch-broadcast byte budget: generated (stat-less) corpus within bounds broadcasts") {
    // a mapPartitions-generated corpus has NO catalyst stats: it reports
    // the defaultSizeInBytes sentinel, which must not fail the size check
    val p = CorpusParams(numHosts = 4, pagesPerHost = 6, skewHosts = 1,
      skewFactor = 2, outdegree = 3)
    val seeds = Corpus.seeds(p)
    val cfg = EngineConfig(numBuckets = 8, maxDepth = 8)
    val genPages = spark.range(p.totalPages)
      .mapPartitions(it => it.map(i => Corpus.pageAt(p, i)))
    val eGen = new CrawlEngine(spark, newStore(), genPages, Corpus.robots(p), cfg)
    assert(eGen.warmCorpus() == p.totalPages, "generated corpus passes the size check")
    eGen.seed(seeds)
    eGen.runDrain()
    val eMem = mkEngine(Corpus.allPages(p), Corpus.robots(p), cfg)
    eMem.seed(seeds)
    eMem.runDrain()
    assert(engineClaims(eGen) == engineClaims(eMem), "claim logs")
    assert(engineState(eGen) == engineState(eMem), "frontier state")
  }

  test("lineage: per-partition metrics recorded every batch") {
    val (pages, robots, seeds) = Corpus.fixtureNewsSite()
    val cfg = EngineConfig(numBuckets = 8, maxDepth = 5)
    val (e, _) = runBoth(pages, robots, seeds, cfg)
    val rows = e.lineage().as[LineageRow].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.urls_fetched).sum == 3)
    assert(rows.forall(r => r.batch_id >= 1))
  }
}
