package graft

import graft.core._
import graft.corpus.Corpus
import graft.engine.{CrawlEngine, EngineConfig}
import graft.functions.UrlExpressions
import graft.ops.TextOps
import graft.state.SnapshotStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract (see README/SURVEY.md §7): one `queries` entry per
  * implemented operator from SURVEY.md §2 plus the training-data pipeline
  * operators, each with DuckDB oracle SQL over the same parquet tables.
  * Column names and types are aligned between both sides (BIGINT counts,
  * ROUND(…,2)::DOUBLE money sums — never DECIMAL outputs, which the
  * driver's two read paths materialize differently — ROUND(…,6) ratios)
  * so the driver's hash-compare is deterministic.
  */
object SparkEntry {

  /** Flagship: the crawl engine itself — drains the reference seed-list
    * fixture site end-to-end (claim → politeness → fetch → extract →
    * merge) and returns the frontier status counts.
    */
  def entry(spark: SparkSession): DataFrame = {
    val s = spark
    import s.implicits._
    val (pages, robots, seeds) = Corpus.fixtureNewsSite()
    val store = new SnapshotStore(
      java.nio.file.Files.createTempDirectory("graft-entry").toString)
    val engine = new CrawlEngine(spark, store, spark.createDataset(pages),
      robots, EngineConfig(numBuckets = 4, maxDepth = 5))
    engine.seed(seeds)
    engine.runDrain()
    engine.frontier().groupBy("status").count().orderBy("status").toDF()
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Deterministic HTML page for each documents row — q37's input,
    * mirrored token-for-token in the DuckDB oracle. Branches cover every
    * extractor precedence path: doc_id%5 picks title-absent (og
    * fallback) and the published-date pattern; %3 description fallback;
    * %4 article-vs-body and author-absent; %7 og:image absent; %2
    * canonical absent.
    */
  private def docHtmlCol: Column = {
    val id = col("doc_id").cast("string")
    val m5 = col("doc_id") % 5
    val date = concat(lit("2024-"),
      lpad((col("doc_id") % 12 + 1).cast("string"), 2, "0"), lit("-"),
      lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
      lit("T10:30:00Z"))
    val para = concat(lit("<p>"), col("text"), lit("</p>"))
    val timeEl = when(m5 === 3,
      concat(lit("<time datetime=\""), date, lit("\">published</time>")))
      .otherwise(lit(""))
    val scriptEl = concat(lit("<script>var d = "), id, lit(";</script>"))
    concat(
      lit("<html><head>"),
      when(m5 =!= 0, concat(lit("<title> Doc "), id, lit(" from "),
        col("source"), lit(" </title>"))).otherwise(lit("")),
      lit("<meta property=\"og:type\" content=\"article\">"),
      concat(lit("<meta property=\"og:title\" content=\"OG Doc "), id,
        lit("\">")),
      when(col("doc_id") % 3 =!= 0,
        concat(lit("<meta name=\"description\" content=\"Summary of doc "),
          id, lit(".\">"))).otherwise(lit("")),
      concat(lit("<meta property=\"og:description\" content=\"OG summary "),
        id, lit(".\">")),
      when(col("doc_id") % 7 =!= 0,
        concat(lit("<meta property=\"og:image\" content=\"https://img.example.com/"),
          id, lit(".jpg\">"))).otherwise(lit("")),
      when(col("doc_id") % 4 =!= 1,
        concat(lit("<meta name=\"author\" content=\"Writer "),
          (col("doc_id") % 7).cast("string"), lit("\">"))).otherwise(lit("")),
      concat(lit("<meta name=\"keywords\" content=\""), col("lang"),
        lit(", "), col("source"), lit("\">")),
      when(m5 === 0, concat(
        lit("<meta property=\"article:published_time\" content=\""), date,
        lit("\">")))
        .when(m5 === 1, concat(lit("<meta name=\"datePublished\" content=\""),
          date, lit("\">")))
        .when(m5 === 2, concat(lit("<meta name=\"pubdate\" content=\""),
          date, lit("\">")))
        .otherwise(lit("")),
      when(col("doc_id") % 2 === 0,
        concat(lit("<link rel=\"canonical\" href=\"https://docs.example.com/"),
          id, lit("\">"))).otherwise(lit("")),
      lit("</head><body><header>Docs masthead</header><nav>home | docs</nav>"),
      when(col("doc_id") % 4 =!= 0,
        concat(lit("<article><h1>Doc "), id, lit("</h1>"), para, timeEl,
          scriptEl, lit("</article><div>Sidebar text.</div>")))
        .otherwise(concat(para, timeEl, scriptEl)),
      lit("<footer>Docs footer</footer></body></html>"))
  }

  // dirty URL built from part rows — exercises the full normalizer
  private def dirtyUrl = concat(lit("HTTP://EXAMPLE.com:80/"),
    regexp_replace(col("p_name"), " ", "/"), lit("/?b=2&a=1&utm_source=x#frag"))
  private def dirtyHostUrl = concat(lit("HTTPS://"),
    upper(regexp_replace(col("p_brand"), "#", "")), lit(".Example.COM:8443/x"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational read side (SURVEY §2.7) ----
    "q01_status_counts" -> ((s, d) =>
      t(s, d, "orders").groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("cnt")).orderBy("status")),

    "q02_frontier_list" -> ((s, d) =>
      t(s, d, "orders")
        .filter(lower(col("o_orderpriority")).contains("urgent") &&
          col("o_totalprice") > 150000)
        .orderBy(desc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .offset(10).limit(50)),

    "q03_domain_aggregates" -> ((s, d) =>
      t(s, d, "customer").join(t(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("c_mktsegment")).as("nseg"),
          // no DECIMAL in the output: the driver's two read paths materialize
          // parquet decimal differently (pyarrow Decimal vs DuckDB float64)
          // and the hash compare sees it. Sum exactly in decimal, emit DOUBLE
          // (lossless here: 2-decimal sums ≪ 2^53).
          round(sum(col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("double").as("bal"),
          round(sum(when(col("c_acctbal") > 0, 1).otherwise(0)) /
            count(lit(1)).cast("double"), 6).as("pos_ratio"))
        .filter(col("cnt") > 10)
        .orderBy("nation")),

    "q04_referring_sources" -> ((s, d) =>
      t(s, d, "documents").select("source").distinct().orderBy("source")),

    "q05_origin_budget" -> ((s, d) =>
      t(s, d, "events")
        .filter(col("event_type") === "purchase" &&
          col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")))
        .agg(count(lit(1)).as("budget_used"))),

    // ---- claim/scheduler column logic (SURVEY §2.3/§2.6) ----
    "q06_claim_order" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(desc("value"), asc("ts"), asc("event_id"))
      t(s, d, "events").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "value").orderBy("user_id")
    }),

    "q07_retry_backoff" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        (least(pow(lit(2.0), col("user_id") % 10), lit(96.0)) * 5)
          .as("backoff_min"))
        .orderBy("event_id")),

    "q08_submit_merge" -> ((s, d) =>
      t(s, d, "events").groupBy("user_id")
        .agg(max(col("value")).as("priority_merged"),
          min(col("ts")).as("first_seen"),
          count(lit(1)).as("submissions"))
        .orderBy("user_id")),

    "q09_status_dispatch" -> ((s, d) =>
      t(s, d, "events").select(
        when(col("event_type") === "purchase", "fetched")
          .when(col("event_type") === "error", "failed")
          .when(col("event_type") === "signup", "fetched")
          .otherwise("pending").as("outcome"))
        .groupBy("outcome").agg(count(lit(1)).as("cnt"))
        .orderBy("outcome")),

    "q10_stale_recovery" -> ((s, d) =>
      t(s, d, "events")
        .filter(col("event_type") === "view" &&
          col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")))
        .agg(count(lit(1)).as("recovered"))),

    // ---- canonicalization (SURVEY §2.1) through the real normalizer ----
    "q11_normalize_url" -> ((s, d) =>
      t(s, d, "part").select(col("p_partkey"),
        UrlExpressions.normalize_url_native(dirtyUrl).as("normalized"))
        .orderBy("p_partkey")),

    "q12_url_hash" -> ((s, d) =>
      t(s, d, "part").select(col("p_partkey"),
        UrlExpressions.url_hash_native(dirtyUrl).as("h"))
        .orderBy("p_partkey")),

    "q13_extract_host" -> ((s, d) =>
      t(s, d, "part").select(col("p_partkey"),
        UrlExpressions.extract_host_native(dirtyHostUrl).as("host"))
        .orderBy("p_partkey")),

    // ---- graft span shape (input_hint) ----
    "q14_spans_flatten" -> ((s, d) =>
      TextOps.flattenSpans(TextOps.spanize(t(s, d, "documents")))
        .orderBy("doc_id", "offset")),

    "q15_span_fingerprint" -> ((s, d) =>
      TextOps.spanize(t(s, d, "documents")).select(col("doc_id"),
        sha2(concat_ws("|", expr(
          "transform(spans, x -> concat(x.kind, ':', x.text, ':', x.media_ref))")),
          256).as("fp"))
        .orderBy("doc_id")),

    // ---- dedup family ----
    "q16_dedup_exact" -> ((s, d) =>
      TextOps.dedupExact(t(s, d, "documents")).orderBy("doc_id")),

    "q17_minhash_signatures" -> ((s, d) =>
      TextOps.minhashSignatures(t(s, d, "documents"), 8, 3)
        .orderBy("doc_id", "k")),

    "q18_minhash_lsh_pairs" -> ((s, d) =>
      // maxBucket ACTIVE (64): degenerate band buckets are cut, with the
      // identical cut in the oracle SQL — defined semantics, not trim
      TextOps.minhashLshPairs(t(s, d, "documents"), 8, 4, 3, maxBucket = 64L)
        .orderBy("a", "b")),

    "q19_simhash" -> ((s, d) =>
      TextOps.simhash16(t(s, d, "documents")).orderBy("doc_id")),

    "q30_ngram_jaccard" -> ((s, d) =>
      // stop-shingle cut ACTIVE (df > 64 dropped from intersections AND
      // sizes), identically in the oracle SQL
      TextOps.ngramJaccardPairs(t(s, d, "documents"), 3, 0.05, maxDocFreq = 64L)
        .orderBy("a", "b")),

    // ---- similarity search ----
    "q20_ann_cosine" -> ((s, d) =>
      TextOps.cosineTopK(t(s, d, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 3)
        .orderBy("qid", "rn")),

    "q21_ann_lsh_buckets" -> ((s, d) =>
      TextOps.lshBuckets(t(s, d, "embeddings"), 8).orderBy("vec_id")),

    "q31_ann_lsh_topk" -> ((s, d) =>
      TextOps.annLshTopK(t(s, d, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 3)
        .orderBy("qid", "rn")),

    // ---- IVF ANN top-k (inverted-file scale path: deterministic
    //      codebook, nprobe-bounded probe, in-list exact rerank) ----
    "q36_ivf_topk" -> ((s, d) =>
      TextOps.ivfTopK(t(s, d, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 3, 16, 4)
        .orderBy("qid", "rn")),

    // ---- embedding-cosine near-dup (dedup family over vectors):
    //      LSH-bucketed candidates + exact cosine threshold, the bucket
    //      semantics mirrored exactly in the oracle ----
    "q35_cosine_near_dup" -> ((s, d) =>
      TextOps.cosineNearDupPairs(t(s, d, "embeddings"), 4, 0.25)
        .orderBy("a", "b")),

    // ---- text analysis ----
    "q22_token_stats" -> ((s, d) =>
      TextOps.tokenStats(t(s, d, "documents")).orderBy("doc_id")),

    "q23_quality_score" -> ((s, d) =>
      TextOps.qualityScore(t(s, d, "documents")).orderBy("doc_id")),

    "q24_langid" -> ((s, d) =>
      TextOps.langId(t(s, d, "documents")).orderBy("doc_id")),

    "q25_fingerprint" -> ((s, d) =>
      TextOps.fingerprint(t(s, d, "documents")).orderBy("doc_id")),

    // ---- streaming-analog windows + scheduler stats ----
    "q26_event_windows" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value").cast("decimal(18,2)")), 2)
            .cast("double").as("val"))
        .select(col("w.start").as("wstart"), col("cnt"), col("val"))
        .orderBy("wstart")),

    "q27_adaptive_interval" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        least(pow(lit(2.0), col("user_id") % 5) * 30, lit(1440.0))
          .as("next_interval_min"))
        .orderBy("event_id")),

    "q28_exec_stats" -> ((s, d) =>
      t(s, d, "events").groupBy("event_type")
        .agg(count(when(col("value") > 50, 1)).as("completed"),
          count(when(col("value") <= 50, 1)).as("failed"),
          round(sum(col("value").cast("decimal(18,2)")), 2)
            .cast("double").as("total_value"))
        .orderBy("event_type")),

    // ---- multimodal plumbing (opaque-binary carrier; byte metadata) ----
    "q29_multimodal" -> ((s, d) =>
      TextOps.multimodalFeatures(t(s, d, "documents")).orderBy("doc_id")),

    // ---- multimodal DECODE (real javax.imageio round-trip: Spark
    //      measures width/height/mean from the decoded raster, the
    //      oracle predicts them from the construction formula) ----
    "q33_image_decode" -> ((s, d) =>
      graft.ops.ImageOps.imageFeatures(t(s, d, "documents"))
        .orderBy("doc_id")),

    // ---- R3 repository shape end-to-end: DomainViews.aggregate itself
    //      (status LEFT JOIN + COALESCE('active') + NULL-aware ratios +
    //      HAVING + ordering + paging) over links/states derived
    //      deterministically from the events table, so the DuckDB oracle
    //      checks the ENGINE aggregate code, not an analog
    //      (domain_aggregate_repository.go:176-243) ----
    "q34_domain_aggregate_repo" -> ((s, d) => {
      val ev = t(s, d, "events")
      val links = ev.select(
        concat(lit("d"), (col("user_id") % 50).cast("string"),
          lit(".example.org")).as("domain"),
        col("event_type").as("source_id"),
        (col("user_id") % 7).cast("int").as("depth"),
        col("ts").as("discovered_at"),
        when(col("value") > 60, 500).when(col("value") > 20, 200)
          .cast("int").as("http_status"),
        when(col("value") > 50, "text/html; charset=utf-8")
          .when(col("value") > 10, "application/pdf").as("content_type"))
      val states = s.range(20).select(
        concat(lit("d"), col("id").cast("string"), lit(".example.org"))
          .as("domain"),
        element_at(array(lit("ignored"), lit("reviewing"), lit("promoted")),
          (col("id") % 3).cast("int") + 1).as("status"),
        concat(lit("note-"), (col("id") % 3).cast("string")).as("notes"))
      graft.engine.DomainViews.aggregate(s, links, Some(states),
        minLinkCount = 5L, limit = 40, offset = 3)
    }),

    // ---- HTML field extraction (fetcher/extractor.go precedence rules
    //      as one codegen'd Generate projection): pages are CONSTRUCTED
    //      deterministically from the documents table so the DuckDB
    //      oracle can mirror both the construction and the extraction —
    //      title→og:title fallback, description→og:description,
    //      4-pattern published-date precedence, article-preferred body
    //      with script/style/nav/header/footer stripped, sha256 content
    //      hash + whitespace word count all value-checked ----
    "q37_html_extract" -> ((s, d) => {
      val withHtml = t(s, d, "documents").withColumn("html", docHtmlCol)
      graft.ops.HtmlOps.extractFields(withHtml, "html", "doc_id")
        .select("doc_id", "title", "description", "author", "content_hash",
          "word_count", "og_type", "og_title", "og_description", "og_image",
          "canonical_url", "meta_keywords", "published_date")
        .orderBy("doc_id")
    }),

    // ---- upsert view (the discovered_links latest-wins shape: one
    //      hash-partitioned groupBy with max_by over the version order,
    //      engine/CrawlEngine.discoveredLinks) ----
    "q32_upsert_view" -> ((s, d) =>
      t(s, d, "events").groupBy("user_id")
        // max_by_obj = the built-in's exact semantics as an
        // ObjectHashAggregate-eligible aggregate (the built-in's
        // var-length buffer planned SortAggregate; optimization r6)
        .agg(graft.functions.AggExpressions.max_by_obj(
            struct(col("event_id"), col("event_type"), col("value")),
            struct(col("ts"), col("event_id"))).as("last"),
          min(col("ts")).as("first_seen"),
          count(lit(1)).as("versions"))
        .select(col("user_id"), col("last.event_id").as("last_event_id"),
          col("last.event_type").as("last_type"),
          col("last.value").as("last_value"), col("first_seen"),
          col("versions"))
        .orderBy("user_id")),

    // ---- F4 feed/sitemap ingest end-to-end through the REAL StAX
    //      parsers + poll dispatch (feed/parser.go:26-60,
    //      sitemap.go:49-130, poller.go:201-231): deterministic per-source
    //      feed XML is built from the documents table (kind cycles
    //      rss/atom/sitemap by source number), FeedIngest.poll parses it
    //      and emits submissions at the origin priority (feed +2 = 7,
    //      sitemap +1 = 6); the oracle replays the construction
    //      arithmetic directly — a value mismatch means the parser or the
    //      priority/origin dispatch broke ----
    "q38_feed_ingest" -> ((s, d) => {
      import s.implicits._
      val srcnum = substring(col("source"), 4, 10).cast("int")
      val kindNum = srcnum % 3
      val iurl = concat(lit("https://feed.example.org/"), col("source"),
        lit("/p"), col("doc_id").cast("string"))
      val item = when(kindNum === 0,
          concat(lit("<item><link>"), iurl, lit("</link></item>")))
        .when(kindNum === 1,
          concat(lit("<entry><link href=\""), iurl, lit("\"/></entry>")))
        .otherwise(concat(lit("<url><loc>"), iurl, lit("</loc></url>")))
      t(s, d, "documents")
        .select(col("source"), kindNum.as("kindnum"), col("doc_id"),
          item.as("item"))
        .groupBy(col("source"), col("kindnum"))
        .agg(concat_ws("", expr(
          "transform(sort_array(collect_list(struct(doc_id, item))), x -> x.item)"))
          .as("body"))
        .as[(String, Int, String)].flatMap { case (src, kn, body) =>
          val kind = kn match {
            case 0 => "rss"; case 1 => "atom"; case _ => "sitemap"
          }
          val xml = kind match {
            case "rss"  => s"<rss><channel>$body</channel></rss>"
            case "atom" => s"<feed>$body</feed>"
            case _      => s"<urlset>$body</urlset>"
          }
          val feedUrl = s"https://feed.example.org/$src/feed.xml"
          val (subs, _) = graft.engine.FeedIngest.poll(
            graft.engine.FeedRow(src, feedUrl, xml, "", 200, kind),
            graft.engine.FeedPollState(src, "", 0, 0, "", 0L),
            graft.core.CrawlDefaults.VirtualEpochMs)
          subs.map(sub => (sub.source_id, sub.url, sub.url_hash, sub.host,
            sub.origin, sub.priority, sub.depth,
            sub.parent_url.getOrElse("")))
        }.toDF("source_id", "url", "url_hash", "host", "origin", "priority",
          "depth", "parent_url")
        .orderBy("source_id", "url")
    }),

    // ---- B3 content detection through the REAL detector code
    //      (content_detector.go:184-229 heuristics, 311-374 precedence):
    //      page URL / og:type / JSON-LD scripts are constructed
    //      deterministically per doc so the DuckDB oracle can replay the
    //      precedence (JSON-LD first-match → .pdf-beats-patterns URL
    //      table → og:type=article → isContentUrl long-slug fallback)
    //      as pure CASE arithmetic ----
    "q39_content_detect" -> ((s, d) => {
      import s.implicits._
      val jtypes = Array("NewsArticle", "Article", "BlogPosting",
        "PressRelease", "Event", "SpecialAnnouncement", "Report", "WebPage")
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val path = id % 6 match {
          case 0 => s"/press/item$id"
          case 1 => s"/events/item$id"
          case 2 => s"/reports/item$id"
          case 3 => s"/jobs/item$id"
          case 4 =>
            if (id % 2 == 0) s"/misc/long-slug-item-doc-$id"
            else s"/misc/item$id"
          case _ => s"/events/brochure$id.pdf" // .pdf rule beats /events/
        }
        val pageUrl = s"https://site.example.com$path"
        val og = if (id % 5 != 0) "article" else "website"
        val scripts =
          if (id % 4 == 0)
            Seq("{\"@context\":\"https://schema.org\",\"@type\":\"" +
              jtypes(((id / 4) % 8).toInt) + "\"}")
          else Nil
        val detected = UrlFilter.detectContentTypeFromHtml(scripts, og, pageUrl)
        val (collect, ctype) = UrlFilter.isStructuredContentPage(scripts, og, pageUrl)
        (id, detected, if (collect) 1 else 0, ctype)
      }.toDF("doc_id", "detected", "collected", "collect_type")
        .orderBy("doc_id")
    }),

    // ---- R5 links-by-domain page + total through the ENGINE repository
    //      shape itself (DomainViews.linksPage — the same code
    //      CrawlEngine.linksByDomain serves; links derived
    //      deterministically from events as in q34;
    //      domain_aggregate_repository.go:132-174) ----
    "q40_links_page" -> ((s, d) => {
      val ev = t(s, d, "events")
      val links = ev.select(
        concat(lit("d"), (col("user_id") % 50).cast("string"),
          lit(".example.org")).as("domain"),
        concat(lit("https://d"), (col("user_id") % 50).cast("string"),
          lit(".example.org/p"), col("event_id").cast("string")).as("url"),
        col("event_type").as("source_id"),
        (col("user_id") % 7).cast("int").as("depth"),
        col("ts").as("discovered_at"))
      val (page, total) =
        graft.engine.DomainViews.linksPage(links, "d7.example.org", 20, 5)
      page.withColumn("total_count", lit(total))
    }),

    // ---- F7 feed auto-discovery through the REAL discovery code
    //      (feed/discovery.go:49-252): a deterministic per-source probe
    //      world exercises every precedence branch — a validating
    //      link-rel-alternate candidate, a non-validating candidate that
    //      falls back to /rss.xml, a dead base page that falls through to
    //      /atom.xml, a source with nothing valid (""), and a non-feed
    //      link type that falls back to /feed — plus the per-source
    //      attempt throttle (srcnum%7==0 attempted inside the retry
    //      window, so skipped). The oracle replays the precedence as
    //      CASE arithmetic; a mismatch means candidate extraction, URL
    //      resolution, feed validation, or path order broke ----
    "q41_feed_discovery" -> ((s, d) => {
      import s.implicits._
      val validRss =
        "<rss><channel><item><link>https://w.example.org/x</link></item></channel></rss>"
      def probePage(url: String, alts: Seq[(String, String)] = Nil) =
        graft.engine.FeedProbePage(url, 200, validRss, alts)
      // curation-scale collect (10s of sources), like the reference's
      // source table sweep — NOT corpus data
      val srcs = t(s, d, "documents").select(col("source")).distinct()
        .as[String].collect().sorted
      val probe = srcs.flatMap { src =>
        val base = s"https://$src.example.net"
        src.drop(3).toInt % 5 match {
          case 0 => Seq(
            base -> probePage(base, Seq("application/rss+xml" -> "/by-link.xml")),
            s"$base/by-link.xml" -> probePage(s"$base/by-link.xml"))
          case 1 => Seq( // candidate 404s; /feed../feed.xml absent too
            base -> probePage(base, Seq("application/atom+xml" -> "/broken.xml")),
            s"$base/rss.xml" -> probePage(s"$base/rss.xml"))
          case 2 => Seq(s"$base/atom.xml" -> probePage(s"$base/atom.xml"))
          case 3 => Nil
          case _ => Seq(
            base -> probePage(base, Seq("text/html" -> "/page.html")),
            s"$base/feed" -> probePage(s"$base/feed"))
        }
      }.toMap
      val now = graft.core.CrawlDefaults.VirtualEpochMs
      val lastAttempt = srcs.collect {
        case src if src.drop(3).toInt % 7 == 0 => src -> (now - 1000L)
      }.toMap
      val sources = t(s, d, "documents").select(col("source")).distinct()
        .as[String].map(src =>
          graft.engine.UndiscoveredSource(src, s"https://$src.example.net"))
      graft.engine.FeedDiscovery.discoverFeeds(s, sources, probe,
          lastAttempt, retryAfterMs = 60000L, now = now)
        .toDF("source_id", "feed_url", "attempted_at")
        .orderBy("source_id")
    })
  )

  // Shared SQL fragments for the DuckDB oracle.
  private val dirtySqlNorm =
    "'https://example.com/' || replace(p_name, ' ', '/') || '?a=1&b=2'"
  private val shingleSub =
    """SELECT doc_id, lang, source, array_to_string(toks[i:i+2], ' ') AS sh
       FROM (SELECT doc_id, lang, source, toks,
                    unnest(toks) AS _t, generate_subscripts(toks, 1) AS i
             FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS toks
                   FROM documents))
       WHERE i <= greatest(len(toks) - 2, 1)"""

  def oracleSql: Map[String, String] = Map(
    "q01_status_counts" ->
      """SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM orders GROUP BY o_orderstatus ORDER BY status""",

    "q02_frontier_list" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE lower(o_orderpriority) LIKE '%urgent%' AND o_totalprice > 150000
         ORDER BY o_orderkey DESC LIMIT 50 OFFSET 10""",

    "q03_domain_aggregates" ->
      """SELECT n_name AS nation, CAST(COUNT(*) AS BIGINT) AS cnt,
                CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS nseg,
                CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS bal,
                ROUND(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END)
                      / CAST(COUNT(*) AS DOUBLE), 6) AS pos_ratio
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name HAVING COUNT(*) > 10 ORDER BY nation""",

    "q04_referring_sources" ->
      "SELECT DISTINCT source FROM documents ORDER BY source",

    "q05_origin_budget" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS budget_used FROM events
         WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-15 00:00:00'""",

    "q06_claim_order" ->
      """SELECT user_id, event_id, value FROM (
           SELECT user_id, event_id, value,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY value DESC, ts ASC, event_id ASC) AS rn
           FROM events) WHERE rn = 1 ORDER BY user_id""",

    "q07_retry_backoff" ->
      """SELECT event_id, LEAST(POW(2, user_id % 10), 96) * 5 AS backoff_min
         FROM events ORDER BY event_id""",

    "q08_submit_merge" ->
      """SELECT user_id, MAX(value) AS priority_merged, MIN(ts) AS first_seen,
                CAST(COUNT(*) AS BIGINT) AS submissions
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q09_status_dispatch" ->
      """SELECT outcome, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
           SELECT CASE WHEN event_type = 'purchase' THEN 'fetched'
                       WHEN event_type = 'error' THEN 'failed'
                       WHEN event_type = 'signup' THEN 'fetched'
                       ELSE 'pending' END AS outcome FROM events)
         GROUP BY outcome ORDER BY outcome""",

    "q10_stale_recovery" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS recovered FROM events
         WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-10 00:00:00'""",

    "q11_normalize_url" ->
      s"SELECT p_partkey, $dirtySqlNorm AS normalized FROM part ORDER BY p_partkey",

    "q12_url_hash" ->
      s"SELECT p_partkey, sha256($dirtySqlNorm) AS h FROM part ORDER BY p_partkey",

    "q13_extract_host" ->
      """SELECT p_partkey, lower(replace(p_brand, '#', '')) || '.example.com' AS host
         FROM part ORDER BY p_partkey""",

    "q14_spans_flatten" ->
      """SELECT doc_id, CAST(i - 1 AS INT) AS "offset",
                CASE WHEN (i - 1) % 3 = 2 THEN 'media' ELSE 'text' END AS kind,
                CASE WHEN (i - 1) % 3 = 2 THEN '' ELSE tok END AS text,
                CASE WHEN (i - 1) % 3 = 2 THEN 'asset://' || md5(tok) ELSE '' END AS media_ref
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                      generate_subscripts(string_split(text, ' '), 1) AS i
               FROM documents)
         ORDER BY doc_id, "offset"""",

    "q15_span_fingerprint" ->
      """SELECT doc_id, sha256(string_agg(kind || ':' || text || ':' || media_ref,
                '|' ORDER BY o)) AS fp
         FROM (SELECT doc_id, i AS o,
                      CASE WHEN (i - 1) % 3 = 2 THEN 'media' ELSE 'text' END AS kind,
                      CASE WHEN (i - 1) % 3 = 2 THEN '' ELSE tok END AS text,
                      CASE WHEN (i - 1) % 3 = 2 THEN 'asset://' || md5(tok) ELSE '' END AS media_ref
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                            generate_subscripts(string_split(text, ' '), 1) AS i
                     FROM documents))
         GROUP BY doc_id ORDER BY doc_id""",

    "q16_dedup_exact" ->
      """SELECT d.doc_id, t.dup_count FROM documents d
         JOIN (SELECT text, MIN(doc_id) AS m, CAST(COUNT(*) AS BIGINT) AS dup_count
               FROM documents GROUP BY text) t ON d.text = t.text
         WHERE d.doc_id = t.m ORDER BY d.doc_id""",

    "q17_minhash_signatures" ->
      s"""SELECT doc_id, CAST(j AS INT) AS k,
                 MIN(CAST('0x' || substr(md5(sh || '#' || j), 1, 15) AS BIGINT)) AS minhash
          FROM ($shingleSub), generate_series(0, 7) AS gj(j)
          GROUP BY doc_id, j ORDER BY doc_id, k""",

    "q18_minhash_lsh_pairs" ->
      s"""WITH sig AS (
            SELECT doc_id, CAST(j AS INT) AS k,
                   MIN(CAST('0x' || substr(md5(sh || '#' || j), 1, 15) AS BIGINT)) AS minhash
            FROM ($shingleSub), generate_series(0, 7) AS gj(j)
            GROUP BY doc_id, j),
          banded AS (
            SELECT doc_id, (k // 2) AS band,
                   md5(MIN(minhash) || '|' || MAX(minhash)) AS band_hash
            FROM sig GROUP BY doc_id, (k // 2)),
          bsz AS (
            SELECT band, band_hash, CAST(COUNT(*) AS BIGINT) AS c
            FROM banded GROUP BY band, band_hash)
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM banded x JOIN banded y
            ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
          JOIN bsz z ON x.band = z.band AND x.band_hash = z.band_hash
          WHERE z.c <= 64
          ORDER BY a, b""",

    "q19_simhash" ->
      """WITH th AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
                     FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
          bits AS (SELECT doc_id, j,
                          SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
                   FROM th, generate_series(0, 15) AS g(j) GROUP BY doc_id, j)
          SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                                       ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id ORDER BY doc_id""",

    "q30_ngram_jaccard" ->
      s"""WITH sh0 AS (SELECT DISTINCT * FROM ($shingleSub)),
          df AS (SELECT lang, source, sh, CAST(COUNT(*) AS BIGINT) AS df
                 FROM sh0 GROUP BY lang, source, sh),
          sh AS (SELECT s.* FROM sh0 s
                 JOIN df f ON s.lang = f.lang AND s.source = f.source
                          AND s.sh = f.sh
                 WHERE f.df <= 64),
          sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
          inter AS (SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS inter
                    FROM sh x JOIN sh y ON x.lang = y.lang AND x.source = y.source
                      AND x.sh = y.sh AND x.doc_id < y.doc_id
                    GROUP BY x.doc_id, y.doc_id)
          SELECT a, b, ROUND(inter / CAST(sza + szb - inter AS DOUBLE), 6) AS jaccard
          FROM (SELECT i.a, i.b, i.inter, sa.sz AS sza, sb.sz AS szb
                FROM inter i JOIN sizes sa ON i.a = sa.doc_id
                             JOIN sizes sb ON i.b = sb.doc_id)
          WHERE inter / CAST(sza + szb - inter AS DOUBLE) >= 0.05
          ORDER BY a, b""",

    "q20_ann_cosine" ->
      """SELECT qid, CAST(rn AS INT) AS rn, vec_id, cos FROM (
           SELECT q.vec_id AS qid, e.vec_id,
                  ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                        CAST(e.embedding AS DOUBLE[])), 6) AS cos,
                  ROW_NUMBER() OVER (PARTITION BY q.vec_id
                    ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                             CAST(e.embedding AS DOUBLE[])), 6) DESC, e.vec_id ASC) AS rn
           FROM embeddings q, embeddings e
           WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id)
         WHERE rn <= 3 ORDER BY qid, rn""",

    "q21_ann_lsh_buckets" ->
      """WITH comp AS (SELECT vec_id,
                              generate_subscripts(embedding, 1) - 1 AS d,
                              CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS xq
                       FROM embeddings),
          dots AS (SELECT vec_id, p,
                          SUM(xq * (CASE WHEN CAST('0x' || substr(md5(p || ':' || d), 1, 15) AS BIGINT) % 2 = 0
                                    THEN 1 ELSE -1 END)) AS dot
                   FROM comp, generate_series(0, 7) AS g(p)
                   GROUP BY vec_id, p)
          SELECT vec_id, CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p)
                                       ELSE 0 END) AS BIGINT) AS bucket
          FROM dots GROUP BY vec_id ORDER BY vec_id""",

    "q31_ann_lsh_topk" ->
      """WITH comp AS (SELECT vec_id,
                              generate_subscripts(embedding, 1) - 1 AS d,
                              CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS xq
                       FROM embeddings),
          dots AS (SELECT vec_id, t, p,
                          SUM(xq * (CASE WHEN CAST('0x' || substr(md5(t || ':' || p || ':' || d), 1, 15) AS BIGINT) % 2 = 0
                                    THEN 1 ELSE -1 END)) AS dot
                   FROM comp, generate_series(0, 3) AS gt(t), generate_series(0, 7) AS gp(p)
                   GROUP BY vec_id, t, p),
          buckets AS (SELECT vec_id, t,
                             SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
                      FROM dots GROUP BY vec_id, t),
          cand AS (SELECT DISTINCT q.vec_id AS qid, e.vec_id
                   FROM buckets q JOIN buckets e ON q.t = e.t AND q.bucket = e.bucket
                   WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
          scored AS (SELECT c.qid, c.vec_id,
                            ROUND(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                  CAST(ee.embedding AS DOUBLE[])), 6) AS cos
                     FROM cand c JOIN embeddings qe ON c.qid = qe.vec_id
                                 JOIN embeddings ee ON c.vec_id = ee.vec_id)
          SELECT qid, CAST(rn AS INT) AS rn, vec_id, cos FROM (
            SELECT qid, vec_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
            FROM scored)
          WHERE rn <= 3 ORDER BY qid, rn""",

    "q22_token_stats" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(length(text) AS BIGINT) AS n_chars_actual,
                CAST(GREATEST(len(string_split(text, ' ')),
                     CAST(CEIL(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS n_subwords
         FROM documents ORDER BY doc_id""",

    "q23_quality_score" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                ROUND(len(list_filter(string_split(text, ' '),
                      t -> list_contains(string_split('the,a,of,and,to,in,is,it,for,on', ','), t)))
                  / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stopword_ratio,
                ROUND(length(replace(text, ' ', ''))
                  / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS mean_word_len
         FROM documents ORDER BY doc_id""",

    "q24_langid" ->
      """SELECT doc_id, lang AS lang_true,
                CASE WHEN GREATEST(en, fr, es, de) = 0 THEN 'und'
                     WHEN en >= GREATEST(fr, es, de) THEN 'en'
                     WHEN fr >= GREATEST(es, de) THEN 'fr'
                     WHEN es >= de THEN 'es'
                     ELSE 'de' END AS lang_pred
         FROM (SELECT doc_id, lang,
                 len(list_filter(string_split(text,' '), t -> list_contains(string_split('the,and,of,is,value,table,row', ','), t))) AS en,
                 len(list_filter(string_split(text,' '), t -> list_contains(string_split('le,la,et,de,est', ','), t))) AS fr,
                 len(list_filter(string_split(text,' '), t -> list_contains(string_split('el,los,es,y,que', ','), t))) AS es,
                 len(list_filter(string_split(text,' '), t -> list_contains(string_split('der,die,das,und,ist', ','), t))) AS de
               FROM documents)
         ORDER BY doc_id""",

    "q25_fingerprint" ->
      """SELECT doc_id, sha256(lower(array_to_string(string_split(text, ' '), ' '))) AS fp
         FROM documents ORDER BY doc_id""",

    "q26_event_windows" ->
      """SELECT date_trunc('hour', ts) AS wstart, CAST(COUNT(*) AS BIGINT) AS cnt,
                CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS val
         FROM events GROUP BY date_trunc('hour', ts) ORDER BY wstart""",

    "q27_adaptive_interval" ->
      """SELECT event_id, LEAST(POW(2, user_id % 5) * 30, 1440) AS next_interval_min
         FROM events ORDER BY event_id""",

    "q28_exec_stats" ->
      """SELECT event_type,
                CAST(COUNT(CASE WHEN value > 50 THEN 1 END) AS BIGINT) AS completed,
                CAST(COUNT(CASE WHEN value <= 50 THEN 1 END) AS BIGINT) AS failed,
                CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q29_multimodal" ->
      """SELECT doc_id, 'application/octet-stream' AS media_type,
                CAST(strlen(text) AS BIGINT) AS n_bytes,
                sha256(text) AS content_digest
         FROM documents ORDER BY doc_id""",

    // Spark DECODES synthesized PNGs (javax.imageio) and measures these
    // from the raster; the oracle predicts them from the construction
    // arithmetic — match ⇒ the encode→decode round-trip is faithful.
    "q33_image_decode" ->
      """SELECT doc_id, 'image/png' AS media_type,
                CAST(2 + doc_id % 16 AS INT) AS width,
                CAST(2 + (doc_id // 16) % 8 AS INT) AS height,
                CAST((2 + doc_id % 16) * (2 + (doc_id // 16) % 8) AS BIGINT) AS n_px,
                CAST(doc_id % 256 AS BIGINT) AS mean_luma
         FROM documents ORDER BY doc_id""",

    // Mirrors docHtmlCol token-for-token, then re-extracts with the same
    // regex semantics (RE2 needs explicit 'g'; Spark replaces globally by
    // default). NULLIF(...,'') makes regex-miss and empty-value both fall
    // through COALESCE precedence exactly like the Spark side.
    "q37_html_extract" ->
      """WITH h AS (
           SELECT doc_id,
             '<html><head>'
             || CASE WHEN doc_id % 5 <> 0 THEN '<title> Doc ' || CAST(doc_id AS VARCHAR) || ' from ' || source || ' </title>' ELSE '' END
             || '<meta property="og:type" content="article">'
             || '<meta property="og:title" content="OG Doc ' || CAST(doc_id AS VARCHAR) || '">'
             || CASE WHEN doc_id % 3 <> 0 THEN '<meta name="description" content="Summary of doc ' || CAST(doc_id AS VARCHAR) || '.">' ELSE '' END
             || '<meta property="og:description" content="OG summary ' || CAST(doc_id AS VARCHAR) || '.">'
             || CASE WHEN doc_id % 7 <> 0 THEN '<meta property="og:image" content="https://img.example.com/' || CAST(doc_id AS VARCHAR) || '.jpg">' ELSE '' END
             || CASE WHEN doc_id % 4 <> 1 THEN '<meta name="author" content="Writer ' || CAST(doc_id % 7 AS VARCHAR) || '">' ELSE '' END
             || '<meta name="keywords" content="' || lang || ', ' || source || '">'
             || CASE doc_id % 5
                  WHEN 0 THEN '<meta property="article:published_time" content="' || dt || '">'
                  WHEN 1 THEN '<meta name="datePublished" content="' || dt || '">'
                  WHEN 2 THEN '<meta name="pubdate" content="' || dt || '">'
                  ELSE '' END
             || CASE WHEN doc_id % 2 = 0 THEN '<link rel="canonical" href="https://docs.example.com/' || CAST(doc_id AS VARCHAR) || '">' ELSE '' END
             || '</head><body><header>Docs masthead</header><nav>home | docs</nav>'
             || CASE WHEN doc_id % 4 <> 0
                  THEN '<article><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p>' || tm || sc || '</article><div>Sidebar text.</div>'
                  ELSE '<p>' || text || '</p>' || tm || sc END
             || '<footer>Docs footer</footer></body></html>' AS html
           FROM (
             SELECT *,
               '2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T10:30:00Z' AS dt,
               CASE WHEN doc_id % 5 = 3 THEN '<time datetime="' || '2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T10:30:00Z' || '">published</time>' ELSE '' END AS tm,
               '<script>var d = ' || CAST(doc_id AS VARCHAR) || ';</script>' AS sc
             FROM documents)
         ), e0 AS (
           SELECT doc_id, html,
             regexp_extract(html, '(?s)<article>(.*?)</article>', 1) AS art,
             regexp_extract(html, '(?s)<body>(.*?)</body>', 1) AS bod
           FROM h
         ), e1 AS (
           SELECT doc_id, html,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               CASE WHEN art <> '' THEN art ELSE bod END,
               '(?s)<script[^>]*>.*?</script>', '', 'g'),
               '(?s)<style[^>]*>.*?</style>', '', 'g'),
               '(?s)<nav[^>]*>.*?</nav>', '', 'g'),
               '(?s)<header[^>]*>.*?</header>', '', 'g'),
               '(?s)<footer[^>]*>.*?</footer>', '', 'g') AS stripped
           FROM e0
         ), e2 AS (
           SELECT doc_id, html,
             regexp_replace(regexp_replace(stripped, '<[^>]*>', '', 'g'), '^\s+|\s+$', '', 'g') AS btext
           FROM e1
         )
         SELECT doc_id,
           COALESCE(NULLIF(regexp_replace(regexp_extract(html, '(?s)<title>(.*?)</title>', 1), '^\s+|\s+$', '', 'g'), ''),
                    NULLIF(regexp_replace(regexp_extract(html, '<meta property="og:title" content="([^"]*)"', 1), '^\s+|\s+$', '', 'g'), ''),
                    '') AS title,
           COALESCE(NULLIF(regexp_replace(regexp_extract(html, '<meta name="description" content="([^"]*)"', 1), '^\s+|\s+$', '', 'g'), ''),
                    NULLIF(regexp_replace(regexp_extract(html, '<meta property="og:description" content="([^"]*)"', 1), '^\s+|\s+$', '', 'g'), ''),
                    '') AS description,
           COALESCE(NULLIF(regexp_replace(regexp_extract(html, '<meta name="author" content="([^"]*)"', 1), '^\s+|\s+$', '', 'g'), ''), '') AS author,
           sha256(btext) AS content_hash,
           CAST(CASE WHEN btext = '' THEN 0 ELSE len(regexp_split_to_array(btext, '\s+')) END AS BIGINT) AS word_count,
           COALESCE(NULLIF(regexp_replace(regexp_extract(html, '<meta property="og:type" content="([^"]*)"', 1), '^\s+|\s+$', '', 'g'), ''), '') AS og_type,
           COALESCE(NULLIF(regexp_replace(regexp_extract(html, '<meta property="og:title" content="([^"]*)"', 1), '^\s+|\s+$', '', 'g'), ''), '') AS og_title,
           COALESCE(NULLIF(regexp_replace(regexp_extract(html, '<meta property="og:description" content="([^"]*)"', 1), '^\s+|\s+$', '', 'g'), ''), '') AS og_description,
           COALESCE(NULLIF(regexp_replace(regexp_extract(html, '<meta property="og:image" content="([^"]*)"', 1), '^\s+|\s+$', '', 'g'), ''), '') AS og_image,
           COALESCE(NULLIF(regexp_replace(regexp_extract(html, '<link rel="canonical" href="([^"]*)"', 1), '^\s+|\s+$', '', 'g'), ''), '') AS canonical_url,
           COALESCE(NULLIF(regexp_replace(regexp_extract(html, '<meta name="keywords" content="([^"]*)"', 1), '^\s+|\s+$', '', 'g'), ''), '') AS meta_keywords,
           COALESCE(NULLIF(regexp_replace(regexp_extract(html, '<meta property="article:published_time" content="([^"]*)"', 1), '^\s+|\s+$', '', 'g'), ''),
                    NULLIF(regexp_replace(regexp_extract(html, '<meta name="datePublished" content="([^"]*)"', 1), '^\s+|\s+$', '', 'g'), ''),
                    NULLIF(regexp_replace(regexp_extract(html, '<meta name="pubdate" content="([^"]*)"', 1), '^\s+|\s+$', '', 'g'), ''),
                    NULLIF(regexp_replace(regexp_extract(html, '<time datetime="([^"]*)"', 1), '^\s+|\s+$', '', 'g'), ''),
                    '') AS published_date
         FROM e2 ORDER BY doc_id""",

    "q32_upsert_view" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
                value AS last_value, first_seen,
                CAST(versions AS BIGINT) AS versions
         FROM (SELECT user_id, event_id, event_type, value,
                      MIN(ts) OVER (PARTITION BY user_id) AS first_seen,
                      COUNT(*) OVER (PARTITION BY user_id) AS versions,
                      ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id""",

    // AVG is written SUM/COUNT on purpose: both engines then divide the
    // identical exact integer operands (a streaming-mean AVG could differ
    // in the last bit).
    "q34_domain_aggregate_repo" ->
      """WITH links AS (
           SELECT 'd' || (user_id % 50) || '.example.org' AS domain,
                  event_type AS source_id,
                  CAST(user_id % 7 AS INT) AS depth,
                  ts AS discovered_at,
                  CAST(CASE WHEN value > 60 THEN 500
                            WHEN value > 20 THEN 200 END AS INT) AS http_status,
                  CASE WHEN value > 50 THEN 'text/html; charset=utf-8'
                       WHEN value > 10 THEN 'application/pdf' END AS content_type
           FROM events),
         states AS (
           SELECT 'd' || i || '.example.org' AS domain,
                  CASE CAST(i % 3 AS INT) WHEN 0 THEN 'ignored'
                       WHEN 1 THEN 'reviewing' ELSE 'promoted' END AS status,
                  'note-' || (i % 3) AS notes
           FROM generate_series(0, 19) AS g(i))
         SELECT dl.domain, COALESCE(ds.status, 'active') AS status,
                CAST(COUNT(*) AS BIGINT) AS link_count,
                CAST(COUNT(DISTINCT dl.source_id) AS BIGINT) AS source_count,
                CAST(SUM(dl.depth) AS DOUBLE) / COUNT(*) AS avg_depth,
                MIN(dl.discovered_at) AS first_seen,
                MAX(dl.discovered_at) AS last_seen,
                CASE WHEN COUNT(dl.http_status) > 0 THEN
                  COUNT(CASE WHEN dl.http_status BETWEEN 200 AND 299 THEN 1 END)
                    / CAST(COUNT(dl.http_status) AS DOUBLE) END AS ok_ratio,
                CASE WHEN COUNT(dl.content_type) > 0 THEN
                  COUNT(CASE WHEN dl.content_type LIKE 'text/html%' THEN 1 END)
                    / CAST(COUNT(dl.content_type) AS DOUBLE) END AS html_ratio,
                ds.notes
         FROM links dl LEFT JOIN states ds ON dl.domain = ds.domain
         GROUP BY dl.domain, ds.status, ds.notes
         HAVING COUNT(*) >= 5
         ORDER BY link_count DESC, dl.domain ASC
         LIMIT 40 OFFSET 3""",

    "q35_cosine_near_dup" ->
      """WITH comp AS (SELECT vec_id,
                              generate_subscripts(embedding, 1) - 1 AS d,
                              CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS xq
                       FROM embeddings),
          dots AS (SELECT vec_id, p,
                          SUM(xq * (CASE WHEN CAST('0x' || substr(md5(p || ':' || d), 1, 15) AS BIGINT) % 2 = 0
                                    THEN 1 ELSE -1 END)) AS dot
                   FROM comp, generate_series(0, 3) AS g(p)
                   GROUP BY vec_id, p),
          buckets AS (SELECT vec_id, CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p)
                                               ELSE 0 END) AS BIGINT) AS bucket
                      FROM dots GROUP BY vec_id),
          -- mirror cosineNearDupPairs' default maxBucket=10000 cap (the
          -- degenerate-bucket guard must cut identically on both sides)
          bsz AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
                  FROM buckets GROUP BY bucket),
          cand AS (SELECT x.vec_id AS a, y.vec_id AS b
                   FROM buckets x JOIN buckets y
                     ON x.bucket = y.bucket AND x.vec_id < y.vec_id
                   JOIN bsz z ON x.bucket = z.bucket
                   WHERE z.c <= 10000)
          SELECT c.a, c.b,
                 ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                       CAST(eb.embedding AS DOUBLE[])), 6) AS cos
          FROM cand c JOIN embeddings ea ON c.a = ea.vec_id
                      JOIN embeddings eb ON c.b = eb.vec_id
          WHERE ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                      CAST(eb.embedding AS DOUBLE[])), 6) >= 0.25
          ORDER BY a, b""",

    "q36_ivf_topk" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
          c AS (SELECT vec_id AS cid, ve AS cv FROM v WHERE vec_id < 16),
          assign AS (SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                     ORDER BY ROUND(list_cosine_similarity(v.ve, c.cv), 6) DESC,
                              c.cid ASC) AS rn
            FROM v, c) WHERE rn = 1),
          probes AS (SELECT qid, cid FROM (
            SELECT v.vec_id AS qid, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                     ORDER BY ROUND(list_cosine_similarity(v.ve, c.cv), 6) DESC,
                              c.cid ASC) AS rn
            FROM v, c WHERE v.vec_id < 5) WHERE rn <= 4),
          cand AS (SELECT p.qid, a.vec_id FROM probes p
                   JOIN assign a ON p.cid = a.cid
                   WHERE a.vec_id <> p.qid)
          SELECT qid, CAST(rn AS INT) AS rn, vec_id, cos FROM (
            SELECT cand.qid, cand.vec_id,
                   ROUND(list_cosine_similarity(q.ve, x.ve), 6) AS cos,
                   ROW_NUMBER() OVER (PARTITION BY cand.qid
                     ORDER BY ROUND(list_cosine_similarity(q.ve, x.ve), 6) DESC,
                              cand.vec_id ASC) AS rn
            FROM cand JOIN v q ON cand.qid = q.vec_id
                      JOIN v x ON cand.vec_id = x.vec_id)
          WHERE rn <= 3 ORDER BY qid, rn""",

    // Replays q38's construction arithmetic directly: the item URLs are
    // deterministic functions of (source, doc_id), so the expected
    // submission set needs no XML parsing — the Spark side MUST go
    // through the real StAX parsers to produce the same rows. Clean URLs
    // are normalizer fixpoints, so url_hash = sha256(url) on both sides.
    "q38_feed_ingest" ->
      """SELECT source AS source_id,
                'https://feed.example.org/' || source || '/p' || CAST(doc_id AS VARCHAR) AS url,
                sha256('https://feed.example.org/' || source || '/p' || CAST(doc_id AS VARCHAR)) AS url_hash,
                'feed.example.org' AS host,
                CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 2
                     THEN 'sitemap' ELSE 'feed' END AS origin,
                CAST(CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 2
                     THEN 6 ELSE 7 END AS INT) AS priority,
                CAST(0 AS INT) AS depth,
                'https://feed.example.org/' || source || '/feed.xml' AS parent_url
         FROM documents ORDER BY source_id, url""",

    // Mirrors the detector precedence as pure arithmetic: JSON-LD
    // first-match (table order jsonldToDetected), URL patterns with the
    // .pdf-report rule first, og:type=article fallback, then the
    // isContentUrl long-slug heuristic for the collect gate.
    "q39_content_detect" ->
      """WITH b AS (
           SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN
               CASE (doc_id // 4) % 8
                 WHEN 0 THEN 'article' WHEN 1 THEN 'article'
                 WHEN 2 THEN 'blog_post' WHEN 3 THEN 'press_release'
                 WHEN 4 THEN 'event' WHEN 5 THEN 'advisory'
                 WHEN 6 THEN 'report' ELSE '' END
             ELSE '' END AS jld,
             CASE doc_id % 6 WHEN 0 THEN 'press_release' WHEN 1 THEN 'event'
               WHEN 2 THEN 'report' WHEN 3 THEN 'job' WHEN 5 THEN 'report'
               ELSE '' END AS urldet,
             CASE WHEN doc_id % 5 <> 0 THEN 'article' ELSE '' END AS ogdet,
             CASE WHEN doc_id % 6 = 4 AND doc_id % 2 = 0 THEN 1 ELSE 0 END AS slug
           FROM documents),
         det AS (
           SELECT doc_id, slug,
             CASE WHEN jld <> '' THEN jld
                  WHEN urldet <> '' THEN urldet
                  ELSE ogdet END AS detected
           FROM b)
         SELECT doc_id, detected,
           CAST(CASE WHEN detected <> '' OR slug = 1 THEN 1 ELSE 0 END AS INT) AS collected,
           CASE WHEN detected <> '' THEN detected
                WHEN slug = 1 THEN 'article' ELSE '' END AS collect_type
         FROM det ORDER BY doc_id""",

    "q40_links_page" ->
      """WITH links AS (
           SELECT 'd' || (user_id % 50) || '.example.org' AS domain,
                  'https://d' || (user_id % 50) || '.example.org/p' || CAST(event_id AS VARCHAR) AS url,
                  event_type AS source_id,
                  CAST(user_id % 7 AS INT) AS depth,
                  ts AS discovered_at
           FROM events),
         f AS (SELECT * FROM links WHERE domain = 'd7.example.org')
         SELECT domain, url, source_id, depth, discovered_at,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM f) AS total_count
         FROM f ORDER BY discovered_at DESC, url ASC LIMIT 20 OFFSET 5""",

    // Replays q41's probe-world construction: the discovered feed URL is
    // a pure function of srcnum % 5 (link-rel candidate, /rss.xml
    // fallback, /atom.xml fallback, none, /feed fallback) and throttled
    // sources (srcnum % 7 = 0) are skipped — the Spark side MUST go
    // through the real candidate-extraction / validation / path-order
    // code to produce the same rows.
    "q41_feed_discovery" ->
      """SELECT source AS source_id,
                CASE CAST(substr(source, 4) AS INT) % 5
                  WHEN 0 THEN 'https://' || source || '.example.net/by-link.xml'
                  WHEN 1 THEN 'https://' || source || '.example.net/rss.xml'
                  WHEN 2 THEN 'https://' || source || '.example.net/atom.xml'
                  WHEN 3 THEN ''
                  ELSE 'https://' || source || '.example.net/feed'
                END AS feed_url,
                CAST(1700000000000 AS BIGINT) AS attempted_at
         FROM (SELECT DISTINCT source FROM documents)
         WHERE CAST(substr(source, 4) AS INT) % 7 <> 0
         ORDER BY source_id"""
  )
}
