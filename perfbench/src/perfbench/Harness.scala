package perfbench

import graft.SparkEntry
import graft.core._
import graft.corpus.{Corpus, CorpusParams}
import graft.engine.{CrawlEngine, EngineConfig}
import graft.oracle.CrawlOracle
import graft.state.SnapshotStore
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The JVM half of the benchmark (perfbench/run.py is the other half).
  *
  * It drives the program only through public calls, one call at a time
  * from one client thread (a closed loop), records a span around every
  * call, and writes the spans plus the raw job, task and Catalyst-phase
  * events of traced passes to one JSON dump. run.py turns the dump into
  * metrics.
  *
  *   Harness --workload crawl_wide|crawl_deep|queries --seed N
  *           --seconds S --trace 0|1 --cpus C --work DIR --out FILE
  *           [--tables DIR]
  *
  * Measured passes repeat until S seconds have passed since the first
  * one began; there is at least one. A traced run makes at least three
  * and registers the listeners for the middle one only; the untraced
  * passes around it are the baseline for the tracing overhead.
  */
object Harness {

  final case class Opts(workload: String, seed: Int, seconds: Double,
      trace: Boolean, cpus: Int, work: String, out: String, tables: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Opts(m("--workload"), m("--seed").toInt, m("--seconds").toDouble,
      m.getOrElse("--trace", "0") == "1", m.getOrElse("--cpus", "4").toInt,
      m("--work"), m("--out"), m.getOrElse("--tables", ""))
  }

  /** Crawl sessions use graft.Bench's crawl confs (AQE off, shuffled hash
    * joins, 64 MB broadcast threshold); the query session uses its query
    * confs (AQE on, 10 MB threshold).
    */
  def session(o: Opts, crawl: Boolean): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.broadcastTimeout", "3600")
      .config("spark.sql.adaptive.enabled", !crawl)
      .config("spark.sql.join.preferSortMergeJoin", !crawl)
      .config("spark.sql.autoBroadcastJoinThreshold",
        if (crawl) "67108864" else "10485760")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Everything a run reports: spans, listener events, scalar facts and
    * output checks.
    */
  final class Run(val o: Opts) {
    val t = new Tracer
    val events = new JobTaskEvents
    val phases = new PlanPhases
    val values = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    var attempted = 0L
    var failed = 0L

    def check(name: String, ok: Boolean, detail: => String): Unit = synchronized {
      checks += ((name, ok, if (ok) "" else detail))
      if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    }

    /** Counts calls made outside `call`: the crawl warm-up's, and those of
      * the query warm pass's client threads.
      */
    def count(calls: Long, failures: Long): Unit = synchronized {
      attempted += calls
      failed += failures
    }

    /** One timed call; a thrown call counts as failed and yields None. */
    def call[T](name: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(t.span(name)(body))
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $name failed: $e")
          None
      }
    }

    def traced[T](spark: SparkSession, on: Boolean)(body: => T): T =
      if (!on) body
      else {
        spark.sparkContext.addSparkListener(events)
        spark.listenerManager.register(phases)
        try body
        finally {
          ListenerBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(events)
          spark.listenerManager.unregister(phases)
        }
      }

    def write(): Unit = {
      val spans = t.spans.map { s =>
        Json.arr(Seq(s.id.toString, s.parent.toString, Json.str(s.name),
          Json.num(s.start), Json.num(s.end),
          Json.obj(s.attrs.map { case (k, v) => k -> Json.num(v) })))
      }
      val body = Json.obj(Seq(
        "workload" -> Json.str(o.workload),
        "seed" -> o.seed.toString,
        "cpus" -> o.cpus.toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "values" -> Json.obj(values.map { case (k, v) => k -> Json.num(v) }),
        "checks" -> Json.arr(checks.map { case (n, ok, d) =>
          Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString,
            "detail" -> Json.str(d)))
        }),
        "spans" -> Json.arr(spans),
        "jobs" -> Json.arr(events.jobs.map { case (a, b) => s"[$a,$b]" }),
        "tasks" -> Json.arr(events.tasks.map(a => a.map(Json.num).mkString("[", ",", "]"))),
        "phases" -> Json.arr(phases.phases.map { case (n, a, b) =>
          s"[${Json.str(n)},$a,$b]"
        })))
      Files.writeString(Paths.get(o.out), body)
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val run = new Run(o)
    o.workload match {
      case "crawl_wide" | "crawl_deep" => Crawl.run(run)
      case "queries" => Queries.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    run.write()
  }

  // ------------------------------------------------------------ helpers

  def dirStats(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f)).toSeq
      (files.map(f => Files.size(f)).sum, files.size.toLong)
    }
  }

  def deleteRecursively(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach((f: Path) => Files.deleteIfExists(f))
  }

  def sha256(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** crawl_wide and crawl_deep. A run drains a small warm-up corpus first
  * (untimed: it pays the JVM's and Spark's one-time compilation), then repeats set-up plus a capped drain of the measured
  * corpus, checking each drain against CrawlOracle. A traced run then
  * reads the final snapshot and resumes it from a fresh engine.
  */
object Crawl {
  import Harness._

  final case class Shape(params: CorpusParams, cfg: EngineConfig,
      warmup: CorpusParams, warmCfg: EngineConfig)

  /** Wide: hosts with two pages each, so both measured batches claim one
    * URL per host and their rows grow with the host count. Deep: few
    * hosts with many pages, so politeness (one claim per host per batch)
    * makes small batches whose per-batch floor dominates, and snapshot
    * leaves pile up. Both warm up on the same small deep corpus, whose
    * steps run the engine's driver code (planning, scheduling, commits)
    * until the JIT has compiled it.
    */
  def shape(workload: String, seed: Int): Shape = {
    val warmup = CorpusParams(seed = seed, numHosts = 20, pagesPerHost = 10,
      skewHosts = 1, skewFactor = 5, outdegree = 4)
    val warmCfg = EngineConfig(numBuckets = 16, maxDepth = 12, maxBatches = 3)
    workload match {
      case "crawl_wide" => Shape(
        CorpusParams(seed = seed, numHosts = 6000, pagesPerHost = 2),
        EngineConfig(numBuckets = 16, maxDepth = 2, maxBatches = 2),
        warmup, warmCfg)
      case "crawl_deep" => Shape(
        CorpusParams(seed = seed, numHosts = 200, pagesPerHost = 30,
          skewHosts = 1, skewFactor = 5, outdegree = 4),
        EngineConfig(numBuckets = 16, maxDepth = 12, maxBatches = 10),
        warmup, warmCfg)
    }
  }

  /** What the oracle says a capped drain must produce. */
  final case class Expected(claims: String, seen: String, fetched: Long,
      nClaims: Long, stats: Map[String, Long], linksByDomain: Map[String, Long])

  private def claimKey(batch: Long, priority: Int, nextFetchAt: Long,
      hash: String) = (batch, -priority, nextFetchAt, hash)

  def expected(p: CorpusParams, cfg: EngineConfig): Expected = {
    val pages = Corpus.allPages(p)
    val o = new CrawlOracle(pages.map(pg => pg.url_hash -> pg).toMap,
      Corpus.robots(p).map(r => r.host -> r).toMap, cfg.userAgent,
      cfg.maxRetries, cfg.maxRedirects, cfg.maxDepth)
    o.submitSeeds(Corpus.seeds(p))
    o.runDrain(cfg.maxBatches)
    val claims = o.claimLog.toSeq
      .sortBy(c => claimKey(c.batch_id, c.priority, c.next_fetch_at, c.url_hash))
    Expected(
      sha256(claims.iterator.map(c => s"${c.batch_id} ${c.url_hash}")),
      sha256(o.seenSet.toSeq.sorted.iterator),
      o.statusCounts.getOrElse(FrontierStatus.Fetched, 0).toLong,
      claims.size.toLong,
      o.statusCounts.map { case (k, v) => k -> v.toLong },
      o.links.values.groupBy(_.domain).map { case (d, ls) => d -> ls.size.toLong })
  }

  def run(r: Run): Unit = {
    val o = r.o
    val t = r.t
    val sh = shape(o.workload, o.seed)
    val cfg = sh.cfg
    val spark = t.span("session")(session(o, crawl = true))
    import spark.implicits._

    var live = Option.empty[(CrawlEngine, String)]
    def retire(): Unit = live.foreach { case (_, dir) =>
      spark.catalog.clearCache()
      deleteRecursively(dir)
    }

    /** Corpus `p` written to parquet, and a seeded engine over it. */
    def setUp(p: CorpusParams, cfg: EngineConfig, dir: String,
        tm: Timer): CrawlEngine = tm("setup") {
      tm("corpus.gen") {
        spark.range(p.totalPages)
          .mapPartitions(it => it.map(i => Corpus.pageAt(p, i)))
          .write.parquet(s"$dir/corpus")
      }
      val pages = spark.read.parquet(s"$dir/corpus").as[PageRow]
      val e = new CrawlEngine(spark, new SnapshotStore(s"$dir/store"), pages,
        Corpus.robots(p), cfg)
      tm("engine.warm_corpus")(e.warmCorpus())
      tm("engine.seed") {
        e.seed(spark.range(p.numHosts.toLong)
          .map(i => (i.toLong, Corpus.seedAt(i))))
      }
      e
    }

    /** Untimed: a drain's claim log, seen set and fetched count against
      * the oracle's. Returns (claims, fetched).
      */
    def verify(e: CrawlEngine, exp: Expected, tag: String,
        steps: Int): (Int, Long) = {
      val claims = e.claimLog()
        .select("batch_id", "priority", "next_fetch_at", "url_hash")
        .as[(Long, Int, Long, String)].collect().toSeq
        .sortBy { case (b, pr, nf, h) => claimKey(b, pr, nf, h) }
      val front = e.frontier().select("url_hash", "status")
        .as[(String, String)].collect()
      val fetched = front.count(_._2 == FrontierStatus.Fetched).toLong
      val okClaims =
        sha256(claims.iterator.map(c => s"${c._1} ${c._4}")) == exp.claims
      val okSeen = sha256(front.map(_._1).sorted.iterator) == exp.seen
      r.check(s"$tag.claim_log", okClaims,
        s"${claims.size} claims vs oracle ${exp.nClaims}")
      r.check(s"$tag.seen_set", okSeen, s"${front.length} urls")
      r.check(s"$tag.fetched", fetched == exp.fetched,
        s"$fetched fetched vs oracle ${exp.fetched}")
      if (!(okClaims && okSeen && fetched == exp.fetched)) r.count(0, steps)
      (claims.size, fetched)
    }

    // Warm-up, untimed: three batches of a small corpus pay the one-time
    // compilation a fresh JVM needs (README, "Warm-up and JIT").
    t.span("warmup") {
      val t0 = t.nowMs
      val e = setUp(sh.warmup, sh.warmCfg, s"${o.work}/warmup", Untimed)
      var steps = 0
      while (steps < sh.warmCfg.maxBatches &&
          e.step(prefetchNext = steps + 1 < sh.warmCfg.maxBatches)) steps += 1
      r.count(steps, 0)
      verify(e, expected(sh.warmup, sh.warmCfg), "warmup", steps)
      spark.catalog.clearCache()
      deleteRecursively(s"${o.work}/warmup")
      System.err.println(f"[perfbench] warm-up: $steps steps, " +
        f"${(t.nowMs - t0) / 1e3}%.2f s")
    }

    /** Set-up plus one capped drain of the measured corpus. */
    var n = 0
    def drain(p: CorpusParams, exp: Expected, traced: Boolean): Unit = {
      retire()
      val dir = s"${o.work}/drain_$n"
      n += 1
      val engine = setUp(p, cfg, dir, t)
      live = Some((engine, dir))
      def storeAttrs(s: CallSpan): Unit = if (traced) {
        val (bytes, files) = dirStats(s"$dir/store")
        s.attrs("store_bytes") = bytes.toDouble
        s.attrs("store_files") = files.toDouble
      }
      var steps = 0
      r.traced(spark, traced) {
        t.span("pass") {
          t.attr("traced", if (traced) 1 else 0)
          storeAttrs(t.spans.last)
          var more = true
          while (more && steps < cfg.maxBatches) {
            more = r.call("step") {
              engine.step(prefetchNext = steps + 1 < cfg.maxBatches)
            }.getOrElse(false)
            storeAttrs(t.spans.last)
            if (more) steps += 1
          }
        }
      }
      val passSpan = t.spans.findLast(_.name == "pass").get
      val (claims, fetched) = verify(engine, exp, s"drain$n", steps)
      passSpan.attrs("steps") = steps
      passSpan.attrs("claims") = claims
      passSpan.attrs("fetched") = fetched
      System.err.println(f"[perfbench] drain $n: $steps steps, $claims " +
        f"claims, $fetched fetched, ${(passSpan.end - passSpan.start) / 1e3}%.2f s")
    }

    val p = sh.params
    val exp = t.span("oracle")(expected(p, cfg))
    val minPasses = if (o.trace) 3 else 1
    var pass = 0
    val loopStart = t.nowMs
    while (pass < minPasses || t.nowMs - loopStart < o.seconds * 1e3) {
      drain(p, exp, traced = o.trace && pass % 2 == 1)
      pass += 1
    }

    // The per-layer phases run in traced runs only, after the measured
    // drains: the state read API and resume on the final snapshot, and a
    // URL-normalization loop.
    if (o.trace) {
      // ---- read phase on the final snapshot (closed loop, one client) ----
      val (engine, dir) = live.get
      val storeDir = s"$dir/store"
      val store = new SnapshotStore(storeDir)
      val domain = Corpus.host(0)
      t.span("reads") {
        r.call("read.frontier_stats")(engine.frontierStats()).foreach { st =>
          r.check("read.frontier_stats", st == exp.stats,
            s"$st vs oracle ${exp.stats}")
        }
        r.call("read.frontier_list")(engine.frontierList().collect())
          .foreach(rows => r.check("read.frontier_list", rows.length == 50,
            s"${rows.length} rows"))
        r.call("read.links_by_domain") {
          val (page, total) = engine.linksByDomain(domain)
          (page.collect(), total)
        }.foreach { case (_, total) =>
          val want = exp.linksByDomain.getOrElse(domain, 0L)
          r.check("read.links_by_domain", total == want,
            s"$domain: $total vs oracle $want")
        }
        r.call("read.domain_aggregates")(engine.domainAggregates().collect())
      }
      (0 until 5).foreach(_ => t.span("state.latest")(store.latest()))
      val m = store.latest().get
      r.values("manifest_entries") = (m.buckets.size + m.tables.size).toDouble
      r.values("store_bytes") = dirStats(storeDir)._1.toDouble
      r.values("frontier_rows") = engine.frontier().count().toDouble

      // ---- resume: a fresh engine on the same store ----
      val pages = spark.read.parquet(s"$dir/corpus").as[PageRow]
      (0 until 2).foreach { _ =>
        val fresh = new CrawlEngine(spark, new SnapshotStore(storeDir), pages,
          Corpus.robots(p), cfg)
        r.call("resume") { fresh.resume(); fresh.frontierStats() }
          .foreach(st => r.check("resume.frontier_stats", st == exp.stats,
            s"$st vs oracle ${exp.stats}"))
      }

      // ---- core: URL normalization over the corpus's own links ----
      {
        val urls = Corpus.allPages(p)
          .flatMap(pg => pg.links.map(GoUrl.absoluteUrl(pg.url, _)))
          .filter(_.startsWith("http")).toArray
        val secs = (0 until 5).map { _ =>
          val t0 = System.nanoTime()
          urls.foreach(UrlNormalizer.normalizeHashHost)
          (System.nanoTime() - t0) / 1e9
        }
        r.values("normalize_hash_host_us") = median(secs) * 1e6 / urls.length
      }
    }
    retire()
    spark.stop()
  }
}

/** queries: one untimed warm pass materializes every SparkEntry query to
  * parquet (the outputs run.py compares with DuckDB) and runs it twice
  * more through the noop sink, which warms the JVM; then steady passes
  * run every query through the noop sink in a seeded order. The noop sink computes every output column, where
  * count() would let Catalyst prune them.
  */
object Queries {
  import Harness._

  def run(r: Run): Unit = {
    val o = r.o
    val t = r.t
    val spark = t.span("session")(session(o, crawl = false))
    val names = SparkEntry.queries.keys.toSeq.sorted
    val outDir = s"${o.work}/query_out"
    def df(n: String) = SparkEntry.queries(n)(spark, o.tables)

    // set-up, not measurement: the warm pass runs on `cpus` client
    // threads, which keeps the one-time compilation off the run's wall
    t.span("warm_pass") {
      val t0 = t.nowMs
      val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cpus)
      val failures = names.map { n =>
        pool.submit(() => {
          try {
            df(n).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
            (0 until 2).foreach { _ =>
              df(n).write.format("noop").mode("overwrite").save()
            }
            0
          } catch { case e: Exception =>
            System.err.println(s"[perfbench] materialize $n failed: $e")
            1
          }
        })
      }.map(_.get()).sum
      pool.shutdown()
      r.count(names.size, failures)
      System.err.println(f"[perfbench] warm pass: ${(t.nowMs - t0) / 1e3}%.2f s")
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.map { case (k, v) => k -> Json.str(v) }))

    val minPasses = if (o.trace) 3 else 1
    var pass = 0
    val loopStart = t.nowMs
    while (pass < minPasses || t.nowMs - loopStart < o.seconds * 1e3) {
      val traced = o.trace && pass % 2 == 1
      val order = new scala.util.Random(o.seed * 1000003L + pass).shuffle(names)
      r.traced(spark, traced) {
        t.span("pass") {
          t.attr("traced", if (traced) 1 else 0)
          order.foreach { n =>
            r.call(s"q:$n")(df(n).write.format("noop").mode("overwrite").save())
          }
        }
      }
      val ps = t.spans.findLast(_.name == "pass").get
      System.err.println(f"[perfbench] pass $pass: ${(ps.end - ps.start) / 1e3}%.2f s")
      pass += 1
    }
    spark.stop()
  }
}
