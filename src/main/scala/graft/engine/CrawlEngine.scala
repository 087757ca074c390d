package graft.engine

import graft.core._
import graft.state.SnapshotStore
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SeenFilter
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

final case class EngineConfig(
    /** Frontier and host-state partition count: O(cores) locally, thousands
      * on a cluster; results are bucket-count independent.
      */
    numBuckets: Int = 32,
    /** Failed fetches retried, with backoff, before a URL goes dead. */
    maxRetries: Int = CrawlDefaults.MaxRetries,
    /** Redirect hops followed before too_many_redirects (redirect.go:16-23). */
    maxRedirects: Int = CrawlDefaults.MaxRedirects,
    /** Link-discovery depth limit: pages at this depth submit no links. */
    maxDepth: Int = 3,
    /** Agent the robots rules are matched against. */
    userAgent: String = "graft-bot",
    /** Batch cap for `runDrain` (bounded drains in benches and tests). */
    maxBatches: Int = 100000,
    /** Seen-set prefilter (north rule): submissions the filter proves
      * unseen skip the dedup join entirely; possible hits go through the
      * exact anti-join, which stays authoritative. Per-bucket cuckoo
      * filters, rebuilt as a bloom when a bucket's cuckoo fills.
      * Results are bit-identical with or without (CrawlParitySpec
      * asserts it).
      */
    useBloomPrefilter: Boolean = false,
    /** Seen-filter sizing: expected URLs across all buckets. */
    bloomExpectedItems: Long = 1L << 20,
    /** B2: apply UrlFilter.shouldSkipUrl as a pre-submit gate in the
      * drain, mirroring the reference's pre-fetch abort
      * (crawler/collector.go:443-450, url_filter.go:38-65). Off by
      * default: the oracle fixtures define parity without it; the gated
      * parity test runs both models with it on.
      */
    usePreSubmitUrlFilter: Boolean = false,
    /** Keyed robots state (fetcher/robots.go:19 24h TTL;
      * host_state_repository.go:55-70 caches robots_txt per host): each
      * batch serves claim hosts from the robots cache in host_state and
      * re-fetches only hosts whose TTL lapsed, so a robots change takes
      * effect after at most TTL of virtual time. Off = fixture mode (the
      * per-drain static broadcast): identical results whenever robots
      * never change mid-drain (CrawlParitySpec asserts both).
      */
    useKeyedRobotsState: Boolean = false,
    /** Robots cache lifetime in virtual millis (keyed-robots mode). */
    robotsTtlMs: Long = 24L * 3600L * 1000L,
    /** Settled-segment chain cap per bucket: a batch APPENDS one settled
      * segment per touched bucket (the append-only frontier — never an
      * O(frontier) rewrite); when a bucket's chain exceeds this, the
      * SMALLEST segments merge into one (size-tiered, so a row is
      * rewritten O(log batches) times total, and read fan-in stays
      * bounded on long drains).
      */
    maxSettledSegments: Int = 8
)

/** One claim's fetch result: the per-batch cache every downstream stage
  * reads.
  */
private[engine] final case class Resolved(
    claim: FrontierUrl,
    outcome: String, // fetched | dead | failed
    reason: String,
    finalUrl: String, // "" = not fetched; else the final page URL (link base)
    contentHash: String, // "" = none
    docId: String, // "" = no doc indexed
    /** url_hash of the indexed page ("" iff docId is): the docs sink and
      * link discovery re-probe the corpus broadcast for its spans and
      * links instead of the cache columnar-encoding every span struct and
      * href of every fetched page per batch (cache the lightweight proxy,
      * move heavy bytes once).
      */
    lookupHash: String
)

private[engine] final case class SubFirst(
    url_hash: String,
    priority: Int,
    next_fetch_at: Long,
    url: String,
    host: String,
    source_id: String,
    origin: String,
    parent_url: Option[String],
    depth: Int,
    bucket: Int
)

/** In-batch submission order key = (claim order, link index); claim order
  * is the defined tuple (priority DESC, next_fetch_at ASC, url_hash ASC).
  */
private[engine] final case class SubRow(
    negPrio: Int, nfa: Long, claimHash: String, li: Int, s: Submission)

private[engine] final case class RekeyCandidate(
    negPrio: Int, nfa: Long, oldHash: String, oldBucket: Int, newUrl: String,
    newHash: String, newHost: String, newBucket: Int)

private[engine] final case class RekeyAccepted(
    oldHash: String, newUrl: String, newHash: String, newHost: String,
    newBucket: Int)

/** Effective robots for one claim host this batch (keyed-robots mode). */
private[engine] final case class RobotsEff(host: String, body: String,
    status: Int, fetched_at: Long, refreshed: Boolean)

/** The Spark-native micro-batch frontier drain (SURVEY.md §2.3/§2.4, §7).
  *
  * Each micro-batch is the deterministic linearization defined by the
  * oracle (graft.oracle.CrawlOracle): politeness-filtered per-host top-1
  * claim (argmin over (priority DESC, next_fetch_at ASC, url_hash ASC) —
  * the batch form of the reference's `ORDER BY priority DESC, next_fetch_at
  * ASC LIMIT 1 FOR UPDATE SKIP LOCKED` claim,
  * database/frontier_repository.go:151-161), distributed fetch against the
  * corpus table (the sandbox stand-in for HTTP I/O), outcome dispatch
  * (fetcher/worker.go:308-437), and a set-oriented submit-merge with the
  * reference's upsert semantics (frontier_repository.go:58-79) that
  * pre-aggregates in-batch duplicates to match sequential upserts.
  *
  * Scale design — per-batch work is O(touched), never O(frontier):
  *   - The frontier is hash-partitioned by host into `numBuckets` buckets,
  *     each persisted as TWO parquet leaves: the pending slice and the
  *     settled (fetched/dead) slice — the storage form of the reference's
  *     partial index `(priority DESC, next_fetch_at ASC) WHERE
  *     status='pending'` (crawler/migrations/014:29). Claim eligibility
  *     reads ONLY pending leaves (sorted by next_fetch_at, so parquet
  *     row-group stats skip backoff rows scheduled in the future).
  *   - A batch rewrites ONLY the buckets its delta touches (claims,
  *     re-keys, submissions); every other leaf carries forward in the
  *     snapshot manifest — the Iceberg copy-on-write MERGE shape.
  *   - Claim application is a BROADCAST anti-join (≤1 claim/host/batch
  *     bounds the claim set), so the frontier side never shuffles for it.
  *   - The submit merge repartitions both sides by `bucket` and joins on
  *     (bucket, url_hash): HashPartitioning(bucket) satisfies the join's
  *     clustering, so the delta data is shuffled ONCE and arrives at the
  *     writer already aligned with the bucket layout.
  *   - The seen-set bloom prefilter is per-bucket sidecar filters built
  *     distributed (one pass, no driver collect of hashes), persisted
  *     beside the bucket parquet and tracked in the manifest.
  *
  * Constructing an engine sets two SQL confs on `spark`, and they are
  * SESSION-GLOBAL: they stay set for every later query on that session,
  * engine or not.
  *   - `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` =
  *     1048576 keys (Spark's default is 128).
  *   - `spark.sql.inMemoryColumnarStorage.compressed` = false, so caches
  *     built on the session afterwards are stored uncompressed.
  * Pass a session the engine may own, or reset them after the drain.
  */
final class CrawlEngine(
    spark: SparkSession,
    store: SnapshotStore,
    pages: Dataset[PageRow],
    robotsRows: Seq[RobotsRow],
    cfg: EngineConfig = EngineConfig(),
    /** Robots changes over virtual time: (effective-from, row). The
      * fixture stand-in for "the server's robots.txt changed mid-crawl";
      * only the keyed-robots mode observes them (after its TTL lapses),
      * exactly like the reference's cached robots (fetcher/robots.go:19).
      */
    robotsUpdates: Seq[(Long, RobotsRow)] = Nil
) extends Serializable {

  import spark.implicits._

  /** One bucket function everywhere (driver, executors, merge logic). */
  def bucketOf(host: String): Int =
    (MurmurHash3.stringHash(host) & 0x7fffffff) % cfg.numBuckets

  private val robotsMap: Map[String, RobotsRules] = robotsRows.map { r =>
    r.host -> RobotsRules.fromResponse(r.body, r.status_code, cfg.userAgent)
  }.toMap
  private val robotsBc = spark.sparkContext.broadcast(robotsMap)

  /** Parquet codec for every engine sink (state leaves + append tables):
    * snappy (optimization r6 A/B'd zstd on the bench drain — see
    * OPTIMIZATION_r06.md).
    */
  private val parquetCodec = "snappy"

  // The engine's argmin/argmax aggregations (claims, submission
  // aggregate, links last-wins) are TypedImperativeAggregates so they
  // plan as ObjectHashAggregate instead of SortAggregate (see
  // functions/AggExpressions). ObjectHashAggregate falls back to
  // sort-based once a partition's hash map exceeds this many KEYS;
  // the 128 default would re-introduce the sort for any realistic batch
  // (local: one partition can hold every host). Keys are bounded by
  // hosts (claims) / submissions per partition, so 1M bounds the object
  // map at low hundreds of MB locally; clusters with many partitions sit
  // far below it.
  spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
    "1048576")

  // The per-batch caches (claims / resolved / submissions / subAgg) are
  // built and dropped within one micro-batch; stack profiling showed the
  // columnar cache BUILD (ColumnBuilder append + per-column
  // compressibility stats) as the hottest executor frame group in a
  // drain. Cache compression trades CPU on the batch's critical path for
  // memory none of these short-lived caches needs.
  spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")

  /** The robots "web server" as a function of virtual time: initial rows
    * effective from the beginning, updates from their instant. Broadcast
    * once; consulted only for hosts whose cached TTL lapsed.
    */
  private lazy val robotsTimelineBc
      : org.apache.spark.broadcast.Broadcast[Map[String, Seq[(Long, RobotsRow)]]] =
    spark.sparkContext.broadcast(
      (robotsRows.map(r => (Long.MinValue, r)) ++ robotsUpdates)
        .groupBy(_._2.host).map { case (h, xs) => h -> xs.sortBy(_._1) })

  /** The corpus lookup, broadcast once per engine: the corpus is the
    * offline stand-in for HTTP I/O, whose real cost is per CLAIM, not per
    * corpus, so every claim probes it (redirect hops included) inside one
    * fetch task (a real deployment replaces this with its fetch service).
    *
    * Broadcast as PARALLEL SORTED ARRAYS (url_hash-sorted rows + the hash
    * column), probed by binary search — not a Map: the BlockManager runs
    * SizeEstimator over a stored broadcast value, which WALKS a map's
    * every entry (minutes of driver time for 600 k nested rows) but
    * SAMPLES large arrays.
    *
    * The collect reads the scan directly (no columnar cache: caching a
    * 600 k-page corpus once cost a ~517 s single-task build). It is
    * size-checked first, so an oversized corpus fails here, naming its
    * size, instead of exhausting the driver: by row count, and by plan
    * stats when the scan has real ones (parquet footers, local data; a
    * generated corpus reports the defaultSizeInBytes sentinel, which
    * must not fail it).
    */
  private lazy val pagesLookupBc
      : org.apache.spark.broadcast.Broadcast[(Array[String], Array[PageRow])] = {
    val statsBytes = pages.queryExecution.optimizedPlan.stats.sizeInBytes
    val sentinel = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    require(statsBytes >= sentinel || statsBytes <= CrawlEngine.CorpusMaxBytes,
      s"corpus too large to broadcast: $statsBytes bytes by plan stats " +
        s"(limit ${CrawlEngine.CorpusMaxBytes})")
    val n = pages.count()
    require(n <= CrawlEngine.CorpusMaxRows,
      s"corpus too large to broadcast: $n rows (limit ${CrawlEngine.CorpusMaxRows})")
    val sorted = pages.collect().sortBy(_.url_hash)
    spark.sparkContext.broadcast((sorted.map(_.url_hash), sorted))
  }

  /** Materialize the corpus lookup up front (bench: the corpus is the
    * test stand-in for HTTP I/O, not engine work to measure). Returns the
    * corpus row count.
    */
  def warmCorpus(): Long = pagesLookupBc.value._1.length.toLong

  var clock: Long = CrawlDefaults.VirtualEpochMs
  var batchId: Long = 0L
  /** Pending-leaf manifest: bucket -> the ONE pending parquet leaf.
    * Pending is the mutating slice; a batch rewrites the pending leaves
    * of its delta buckets (O(pending churn), never O(frontier)).
    */
  private var pendingPaths: Map[Int, String] = Map.empty
  /** Settled-segment manifest: bucket -> APPEND-ONLY segment chain.
    * Settled (fetched/dead) rows are immutable after their settling batch
    * (re-keys resolve in-batch), so a batch appends ONE delta segment per
    * touched bucket and never rewrites what settled before — the
    * reference's single-row UPDATE cost model
    * (database/frontier_repository.go:195-211 touches one row, never the
    * table), and the Iceberg data-file-append + manifest-rewrite shape.
    * Chains longer than cfg.maxSettledSegments compact size-tiered; only
    * manual ops (which may mutate settled rows) and compaction replace
    * segments.
    */
  private var settledSegs: Map[Int, Vector[String]] = Map.empty
  /** Host-state leaf manifest: bucket -> parquet leaf dir. Like the
    * frontier, a batch rewrites ONLY the buckets whose hosts it touched;
    * the rest carry forward — the delta-bucket form of the reference's
    * single-row host upsert (database/host_state_repository.go:46-51).
    */
  private var hostPaths: Map[Int, String] = Map.empty

  // ------------------------------------------------------------------ bloom

  /** Per-bucket seen-set filters (sidecars): cuckoo, with a
    * per-bucket bloom fallback at capacity, per the north star. Filters
    * LIVE WITH THEIR BUCKETS: they are built, updated, and persisted on
    * executors (one mapGroups task per delta bucket, reading the freshly
    * written bucket parquet); the driver holds only bucket → sidecar-file
    * paths, tracked in the manifest and loaded lazily by the tasks that
    * consult them. Nothing O(inserts) ever ships to the driver.
    */
  private var bloomPaths: Map[Int, String] = Map.empty

  private def bloomExpectedPerBucket: Long =
    math.max(cfg.bloomExpectedItems / cfg.numBuckets, 16L)

  private def initBloom(): Unit = if (cfg.useBloomPrefilter) {
    val expected = bloomExpectedPerBucket
    val fpp = CrawlEngine.SeenFilterFpp
    val dir = store.dataPath(s"bloom_v$batchId")
    val built = frontier().groupByKey(_.bucket).mapGroups { (b, it) =>
      (b, CrawlEngine.writeFilterFile(dir, b,
        SeenFilter.build(SeenFilter.KindCuckoo, expected, fpp,
          it.map(_.url_hash))))
    }.collect()
    bloomPaths = built.toMap
    // commit immediately: until a manifest references the fresh sidecars,
    // a gc/vacuum would see them as dead and delete files the in-memory
    // bloomPaths still points at (the next batch is not guaranteed)
    commit()
  }

  private def loadFilter(path: String): SeenFilter =
    SeenFilter.deserialize(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  /** Executor-side per-batch filter upkeep: one task per delta bucket
    * reads the just-written (page-cached) bucket rows, folds this batch's
    * inserted + re-keyed hashes into the bucket's existing filter, and
    * persists the new sidecar FROM THE EXECUTOR. A cuckoo that fills
    * rebuilds as a bloom over the full bucket (the rows are in hand) —
    * the literal bloom fallback. The driver receives only (bucket, path).
    */
  private def updateFilters(deltaLeaves: Seq[String], bid: Long): Unit =
    if (cfg.useBloomPrefilter && deltaLeaves.nonEmpty) timed("bloom_update") {
      val dir = store.dataPath(s"bloom_v$bid")
      val pathsBc = spark.sparkContext.broadcast(bloomPaths)
      val expected = bloomExpectedPerBucket
      val fpp = CrawlEngine.SeenFilterFpp
      val cacheCap = CrawlEngine.filterCacheCap(cfg.numBuckets)
      val updated = spark.read.schema(insertReadSchema).parquet(deltaLeaves: _*)
        .as[(Int, String, String)]
        .groupByKey(_._1).mapGroups { (b, it) =>
          val existingPath = pathsBc.value.get(b)
          // fold into a DEEP COPY of the cached instance: a retried /
          // re-executed task would otherwise re-fold the same hashes into
          // the already-mutated cuckoo (inflating itemCount, consuming
          // duplicate slots, and persisting the drift into the sidecar);
          // the copy keeps the cached old-version filter exact for any
          // later reader of the old path
          var f = existingPath
            .map(p => CrawlEngine.loadFilterCached(p, cacheCap).copyFilter())
            .getOrElse(SeenFilter.create(SeenFilter.KindCuckoo, expected, fpp))
          var degraded = false
          var touched = existingPath.isEmpty
          it.foreach { case (_, h, tag) =>
            if (!degraded && (tag == "i" || tag == "rf" || tag == "rf_d")) {
              touched = true
              if (!f.put(h)) degraded = true
            }
          }
          // an overflowed cuckoo needs the bloom fallback built over the
          // bucket's FULL hash set, which the delta leaves no longer
          // carry (append-only settled) — signal the driver for a
          // dedicated full-bucket rebuild pass instead of persisting a
          // filter with false negatives
          if (degraded) (b, "", true)
          else if (touched) (b, CrawlEngine.writeFilterFile(dir, b, f), false)
          else (b, existingPath.get, false)
        }.collect()
      bloomPaths ++= updated.collect { case (b, p, false) => b -> p }
      val degraded = updated.collect { case (b, _, true) => b }.toSet
      if (degraded.nonEmpty) {
        // rare (capacity-sized): the bloom fallback reads everything live
        // in the over-full buckets — pending leaves + settled chain — so
        // the rebuilt filter stays a strict superset of the seen set
        val rebuilt = bucketSlice(degraded)
          .groupByKey(_.bucket).mapGroups { (b, it) =>
            (b, CrawlEngine.writeFilterFile(dir, b,
              SeenFilter.build(SeenFilter.KindBloom, expected * 4, fpp,
                it.map(_.url_hash))))
          }.collect()
        bloomPaths ++= rebuilt
      }
    }

  // ----------------------------------------------------------------- state IO

  private lazy val frontierSchema =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[FrontierUrl]().schema

  // projection schemas for the lineage/bloom readback of delta files
  private lazy val tagReadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("mtag",
      org.apache.spark.sql.types.StringType)))
  private lazy val insertReadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("url_hash",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("mtag",
      org.apache.spark.sql.types.StringType)))

  private def readSlice(paths: Seq[String]): Dataset[FrontierUrl] =
    if (paths.isEmpty) spark.emptyDataset[FrontierUrl]
    else spark.read.schema(frontierSchema).parquet(paths.sorted: _*).as[FrontierUrl]

  /** Full frontier: ONE multi-path scan over every manifest leaf (pending
    * leaves + every settled segment). Data files carry all columns
    * (bucket included) — nothing is recomputed.
    */
  def frontier(): Dataset[FrontierUrl] =
    readSlice(pendingPaths.values.toSeq ++ settledSegs.values.flatten)

  /** The claimable slice: pending leaves only (S3 — the partial-index
    * read). At 10^10 rows this is the difference between scanning the
    * eligible slice and scanning the world.
    */
  def pendingSlice(): Dataset[FrontierUrl] =
    readSlice(pendingPaths.values.toSeq)

  /** Pending leaves of the given buckets only (the delta keep-read). */
  private def pendingSliceOf(buckets: Set[Int]): Dataset[FrontierUrl] =
    readSlice(pendingPaths.collect { case (b, p) if buckets(b) => p }.toSeq)

  /** Settled segments of the given buckets only (the read-only dedup
    * probe; column pruning reaches these scans, so the per-batch cost is
    * a 2-column stream, never a rewrite).
    */
  private def settledSliceOf(buckets: Set[Int]): Dataset[FrontierUrl] =
    readSlice(settledSegs.collect { case (b, ps) if buckets(b) => ps }
      .flatten.toSeq)

  /** Diagnostic: per-bucket settled-segment chain length (compaction
    * observability for tests/bench traces).
    */
  private[engine] def settledSegmentCounts(): Map[Int, Int] =
    settledSegs.map { case (b, v) => b -> v.size }

  /** Both slices of the given buckets only (rekey probes, manual ops). */
  def bucketSlice(buckets: Set[Int]): Dataset[FrontierUrl] =
    readSlice(pendingPaths.collect { case (b, p) if buckets(b) => p }.toSeq ++
      settledSegs.collect { case (b, ps) if buckets(b) => ps }.flatten)

  private lazy val hostSchema =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[HostState]().schema

  private def readHostSlice(paths: Seq[String]): Dataset[HostState] =
    if (paths.isEmpty) spark.emptyDataset[HostState]
    else spark.read.schema(hostSchema).parquet(paths.sorted: _*).as[HostState]

  def hostState(): Dataset[HostState] = readHostSlice(hostPaths.values.toSeq)

  /** Host rows of the given buckets only (the per-batch delta read). */
  private def hostSlice(buckets: Set[Int]): Dataset[HostState] =
    readHostSlice(hostPaths.collect { case (b, p) if buckets(b) => p }.toSeq)

  /** R2: frontier counts by status (frontier_repository.go:444-468).
    * Untyped groupBy so the scan prunes to the one column it needs.
    */
  def frontierStats(): Map[String, Long] =
    frontier().groupBy("status").count()
      .as[(String, Long)].collect().toMap

  /** R1: dashboard list — dynamic filters, ILIKE-style search, whitelisted
    * sort column, limit/offset (frontier_repository.go:315-432).
    */
  def frontierList(
      status: Option[String] = None,
      sourceId: Option[String] = None,
      host: Option[String] = None,
      origin: Option[String] = None,
      search: Option[String] = None,
      sortBy: String = "priority",
      limit: Int = 50,
      offset: Int = 0): Dataset[FrontierUrl] = {
    val sortCol = // whitelist-validated, like the reference
      if (Seq("priority", "next_fetch_at", "created_at").contains(sortBy)) sortBy
      else "priority"
    // status is a storage dimension: a pending/not-pending filter prunes
    // whole leaves before any row is read
    var df = (status match {
      case Some(FrontierStatus.Pending) => pendingSlice()
      case _ => frontier()
    }).toDF()
    status.foreach(v => df = df.filter($"status" === v))
    sourceId.foreach(v => df = df.filter($"source_id" === v))
    host.foreach(v => df = df.filter($"host" === v))
    origin.foreach(v => df = df.filter($"origin" === v))
    search.foreach(v => df = df.filter(lower($"url").contains(v.toLowerCase)))
    df.orderBy(desc(sortCol), asc("url_hash")) // deterministic tie-break
      .offset(math.max(offset, 0)).limit(math.max(limit, 0))
      .as[FrontierUrl]
  }

  def claimLog(): DataFrame = readAppendTable("claim_log")
  def lineage(): DataFrame = readAppendTable("lineage")
  def docs(): DataFrame = readAppendTable("docs")

  /** The discovered_links table: latest row per (source_id, url_hash)
    * across batches — the set-oriented view of the reference's
    * CreateOrUpdate upsert (discovered_link_repository.go:46-59;
    * parent/depth/priority from the LAST write, discovered_at from the
    * first). Group key is the 64-char hash, so at 10^10 links the shuffle
    * ships fixed-width keys and partial-aggregates map-side.
    */
  def discoveredLinks(): DataFrame = {
    val all = readAppendTable("links")
    if (all.columns.isEmpty)
      return spark.emptyDataset[DiscoveredLinkRow].toDF()
      .drop("batch_id").withColumnRenamed("queued_at", "updated_at")
    all.groupBy($"source_id", $"url_hash")
      .agg(
        max_by(struct($"url", $"domain", $"parent_url", $"depth",
          $"priority", $"status", $"source_name", $"http_status",
          $"content_type"), $"batch_id").as("last"),
        min($"discovered_at").as("discovered_at"),
        max($"queued_at").as("updated_at"))
      .select($"source_id", $"last.source_name".as("source_name"),
        $"last.url".as("url"), $"url_hash",
        $"last.parent_url".as("parent_url"), $"last.depth".as("depth"),
        $"last.domain".as("domain"), $"last.http_status".as("http_status"),
        $"last.content_type".as("content_type"), $"discovered_at",
        $"updated_at", $"last.status".as("status"),
        $"last.priority".as("priority"))
  }

  /** R5: paginated links of one domain + total count
    * (domain_aggregate_repository.go:132-174). url ASC tie-break added
    * for determinism (the reference orders by discovered_at alone).
    */
  def linksByDomain(domain: String, limit: Int = 50, offset: Int = 0)
      : (DataFrame, Long) =
    // one evaluation of the multi-version scan + latest-wins groupBy;
    // the page/count shape lives in DomainViews.linksPage (oracle-checked
    // directly by q40)
    DomainViews.linksPage(discoveredLinks(), domain, limit, offset)

  /** R3: per-domain aggregates over discovered links
    * (domain_aggregate_repository.go:176-243). Logic in
    * [[DomainViews.aggregate]] (unit-tested directly).
    */
  def domainAggregates(
      domainStates: Option[DataFrame] = None, // (domain, status, notes)
      minLinkCount: Long = 0L,
      limit: Int = 100,
      offset: Int = 0): DataFrame =
    DomainViews.aggregate(spark, discoveredLinks(),
      domainStates.orElse(
        if (domainStatesPath.isEmpty) None
        else Some(this.domainStates().toDF()
          .select("domain", "status", "notes"))),
      minLinkCount, limit, offset)

  // ------------------------------------------------ curation tables (small)

  /** Source registry + curated domain states: keyed tables of config /
    * dashboard cardinality, persisted as single manifest-tracked leaves
    * and upserted whole — the honest cost at their size (the frontier's
    * delta-bucket machinery would be overhead here, not savings). Both
    * survive resume via the manifest like every other state table.
    */
  private var sourcesPath: String = ""
  private var domainStatesPath: String = ""
  /** Curation tables version independently of batchId: bumping batchId
    * here would shift claim-log batch numbering away from the oracle's.
    * Restored from the persisted path suffixes on resume.
    */
  private var curationVersion: Long = 0L
  private def nextCurationPath(name: String): String = {
    curationVersion += 1
    store.dataPath(s"${name}_c$curationVersion")
  }
  private def parseCurationVersion(path: String): Long =
    "_c(\\d+)$".r.findFirstMatchIn(path).map(_.group(1).toLong).getOrElse(0L)
  /** source_id → display name, broadcast to the links sink. */
  private var sourceNamesBc
      : org.apache.spark.broadcast.Broadcast[Map[String, String]] =
    spark.sparkContext.broadcast(Map.empty[String, String])

  private lazy val sourceSchema =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[SourceEntry]().schema
  private lazy val domainStateSchema =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[DomainStateRow]().schema

  def sources(): Dataset[SourceEntry] =
    if (sourcesPath.isEmpty) spark.emptyDataset[SourceEntry]
    else spark.read.schema(sourceSchema).parquet(sourcesPath).as[SourceEntry]

  /** Upsert source-registry entries (latest name wins per id). The links
    * sink resolves discovered_links.source_name through this registry
    * (link_handler.go:396 `cc.Source.Name`); unregistered ids fall back
    * to the id.
    */
  def registerSources(entries: Seq[SourceEntry]): Unit = {
    if (entries.isEmpty) return
    val merged = sourceNamesBc.value ++ entries.map(e => e.source_id -> e.name)
    val path = nextCurationPath("sources")
    merged.toSeq.map { case (id, n) => SourceEntry(id, n) }.toDS()
      .coalesce(1).write.mode("overwrite").option("compression", parquetCodec).parquet(path)
    sourcesPath = path
    sourceNamesBc = spark.sparkContext.broadcast(merged)
    commit()
  }

  def domainStates(): Dataset[DomainStateRow] =
    if (domainStatesPath.isEmpty) spark.emptyDataset[DomainStateRow]
    else spark.read.schema(domainStateSchema).parquet(domainStatesPath)
      .as[DomainStateRow]

  /** Bulk domain-state upsert (domain_state_repository.go Upsert /
    * BulkUpsert): status + notes take the new values, created_at is kept
    * on conflict, and the status-specific timestamp (ignored_at /
    * promoted_at) is stamped with the virtual clock on transition.
    * Returns the number of domains written.
    */
  def upsertDomainStates(domains: Seq[String], status: String,
      notes: Option[String] = None): Long = {
    if (domains.isEmpty) return 0L
    val now = clock
    val current = domainStates().collect().map(d => d.domain -> d).toMap
    val updated = domains.distinct.map { dom =>
      val prev = current.get(dom)
      dom -> DomainStateRow(dom, status, notes,
        prev.map(_.created_at).getOrElse(now), now,
        if (status == "ignored") Some(now) else prev.flatMap(_.ignored_at),
        if (status == "promoted") Some(now) else prev.flatMap(_.promoted_at))
    }
    val merged = current ++ updated
    val path = nextCurationPath("domain_states")
    merged.values.toSeq.sortBy(_.domain).toDS()
      .coalesce(1).write.mode("overwrite").option("compression", parquetCodec).parquet(path)
    domainStatesPath = path
    commit()
    domains.distinct.size.toLong
  }

  // ------------------------------------------------------------ manual ops

  /** X10 ResetForRetry (frontier_repository.go:471-487): dead rows →
    * pending with retry_count 0, last_error cleared, due immediately at
    * the current virtual clock. Returns the number of rows reset. A
    * manual op commits its own snapshot version; only the affected
    * buckets are rewritten. Intended for dashboard-sized hash sets.
    */
  def resetForRetry(urlHashes: Set[String]): Long = {
    if (urlHashes.isEmpty || (pendingPaths.isEmpty && settledSegs.isEmpty))
      return 0L
    val hit = $"url_hash".isin(urlHashes.toSeq: _*) &&
      $"status" === FrontierStatus.Dead
    val now = clock
    manualRewrite(hit, df => df
      .withColumn("status",
        when($"hit", lit(FrontierStatus.Pending)).otherwise($"status"))
      .withColumn("retry_count", when($"hit", lit(0)).otherwise($"retry_count"))
      .withColumn("last_error",
        when($"hit", lit(null).cast("string")).otherwise($"last_error"))
      .withColumn("next_fetch_at", when($"hit", lit(now)).otherwise($"next_fetch_at"))
      .withColumn("updated_at", when($"hit", lit(now)).otherwise($"updated_at")))
  }

  /** X10 Delete (frontier_repository.go:516-523): remove rows by
    * url_hash. Returns the number of rows removed. The seen-set bloom (a
    * may-contain superset) stays valid: a re-submitted deleted URL passes
    * through the exact join and re-inserts correctly.
    */
  def deleteUrls(urlHashes: Set[String]): Long = {
    if (urlHashes.isEmpty || (pendingPaths.isEmpty && settledSegs.isEmpty))
      return 0L
    val hit = $"url_hash".isin(urlHashes.toSeq: _*)
    manualRewrite(hit, df => df.filter(!$"hit"), pairs =>
      // the cuckoo seen-filter supports true deletion — the prefilter
      // stays TIGHT after manual deletes (a bloom stays a superset,
      // which is also correct, just looser). Manual ops are
      // dashboard-sized, so load-modify-persist of the affected buckets'
      // sidecars right here is the honest cost.
      if (cfg.useBloomPrefilter && bloomPaths.nonEmpty) {
        val dir = store.dataPath(s"bloom_v$batchId")
        pairs.groupBy(_._1).foreach { case (b, hs) =>
          bloomPaths.get(b).foreach { p =>
            val f = loadFilter(p)
            hs.foreach { case (_, h) => f.remove(h) }
            bloomPaths += b -> CrawlEngine.writeFilterFile(dir, b, f)
          }
        }
      })
  }

  /** Shared manual-op rewrite: find affected rows, rewrite ONLY their
    * buckets with the transform applied (rows flagged `hit`), run the
    * side-effect hook (filter upkeep), commit a snapshot.
    */
  private def manualRewrite(hit: org.apache.spark.sql.Column,
      transform: DataFrame => DataFrame,
      onAffected: Array[(Int, String)] => Unit = _ => ()): Long = {
    dropMinReadyPrefetch() // state is about to change under the aggregate
    val affected = frontier().toDF().filter(hit)
      .select($"bucket", $"url_hash").as[(Int, String)].collect()
    if (affected.isEmpty) return 0L
    val affBuckets = affected.map(_._1).toSet
    batchId += 1
    val f2 = transform(bucketSlice(affBuckets).toDF().withColumn("hit", hit))
      .drop("hit").withColumn("mtag", lit("k"))
    // manual ops may MUTATE settled rows (reset revives dead → pending,
    // delete removes), so the affected buckets' chains are replaced by
    // one freshly compacted segment — the one sanctioned non-append write
    writeBuckets(f2, affBuckets, batchId, repartitionFirst = true,
      replaceSettled = true)
    onAffected(affected)
    commit()
    affected.length.toLong
  }

  private def readAppendTable(name: String): DataFrame = {
    val dirs = (1L to batchId).map(b => store.dataPath(s"${name}_v$b"))
      .filter(p => new java.io.File(p).exists())
    if (dirs.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(dirs: _*)
  }

  /** Persist the delta buckets' rows as (bucket, pending) parquet leaves
    * in ONE partitioned write. The caller hands data already partitioned
    * bucket-wise (the merge's single shuffle); `repartitionFirst` is for
    * cold paths (seed, manual ops) only.
    *
    * Manifest semantics per delta bucket:
    *   - the pend_p=true leaf REPLACES the bucket's pending leaf (absent
    *     leaf = pending drained — the entry drops, never stale);
    *   - the pend_p=false leaf is this batch's NEWLY settled rows and
    *     APPENDS to the bucket's segment chain — the frontier write is
    *     O(pending churn + rows settled this batch), never O(frontier).
    *     `replaceSettled` (manual ops, which may mutate settled rows)
    *     swaps the whole chain for the leaf instead.
    *
    * The input carries one extra column, `mtag` (insert|dedup|keep), which
    * is WRITTEN INTO the delta parquet: per-bucket lineage is then a
    * two-column readback of the just-written (page-cached) files instead
    * of a second evaluation of the merge. State readers are unaffected —
    * every frontier read uses the explicit row schema, which simply never
    * selects the column.
    *
    * Returns the leaf dirs actually written (the lineage/seen-filter
    * delta readback set).
    */
  private def writeBuckets(df: DataFrame, deltaBuckets: Set[Int],
      version: Long, repartitionFirst: Boolean,
      replaceSettled: Boolean = false): Seq[String] = {
    if (deltaBuckets.isEmpty) return Nil
    val path = store.dataPath(s"frontier_v$version")
    val base = df.filter($"bucket".isin(deltaBuckets.toSeq: _*))
    val part =
      if (repartitionFirst) base.repartition(math.max(1, deltaBuckets.size), $"bucket")
      else base
    part
      .withColumn("bucket_p", $"bucket")
      .withColumn("pend_p", $"status" === FrontierStatus.Pending)
      // pending leaves sorted by due time: `next_fetch_at <= now` prunes
      // row groups of backoff rows scheduled in the future
      .sortWithinPartitions($"bucket_p", $"pend_p", $"next_fetch_at")
      .write.mode("overwrite").option("compression", parquetCodec).partitionBy("bucket_p", "pend_p").parquet(path)
    val written = Seq.newBuilder[String]
    def exists(p: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    deltaBuckets.toSeq.sorted.foreach { b =>
      val pLeaf = s"$path/bucket_p=$b/pend_p=true"
      val sLeaf = s"$path/bucket_p=$b/pend_p=false"
      if (exists(pLeaf)) { pendingPaths += b -> pLeaf; written += pLeaf }
      else pendingPaths -= b
      val sEx = exists(sLeaf)
      if (sEx) written += sLeaf
      if (replaceSettled) {
        if (sEx) settledSegs += b -> Vector(sLeaf) else settledSegs -= b
      } else if (sEx) {
        settledSegs += b -> (settledSegs.getOrElse(b, Vector.empty) :+ sLeaf)
      }
    }
    written.result()
  }

  /** Size-tiered settled-segment compaction: every bucket whose chain
    * outgrew cfg.maxSettledSegments merges its SMALLEST segments into one
    * (down to ~half the cap), in ONE partitioned write covering all
    * over-limit buckets. Merging smallest-first means a settled row is
    * rewritten O(log #batches) times over a drain's lifetime while read
    * fan-in stays bounded — the LSM/Iceberg rewrite-data-files shape.
    * Old segment files stay on disk until vacuum (older manifests may
    * still reference them).
    */
  private def compactSettled(version: Long): Unit = {
    val over = settledSegs.filter(_._2.size > cfg.maxSettledSegments)
    if (over.isEmpty) return
    timed("compact_settled") {
      val target = math.max(2, cfg.maxSettledSegments / 2)
      def bytesOf(dir: String): Long = {
        val d = java.nio.file.Paths.get(dir)
        val s = java.nio.file.Files.list(d)
        try s.iterator().asScala.map(f => java.nio.file.Files.size(f)).sum
        finally s.close()
      }
      val choice: Map[Int, Vector[String]] = over.map { case (b, segs) =>
        b -> segs.sortBy(bytesOf).take(segs.size - target + 1)
      }
      val path = store.dataPath(s"frontier_v${version}c")
      spark.read.schema(frontierSchema)
        .parquet(choice.values.flatten.toSeq.sorted: _*)
        .withColumn("bucket_p", $"bucket")
        .repartition(choice.size, $"bucket_p")
        .sortWithinPartitions($"bucket_p", $"url_hash")
        .write.mode("overwrite").option("compression", parquetCodec).partitionBy("bucket_p").parquet(path)
      choice.foreach { case (b, merged) =>
        val leaf = s"$path/bucket_p=$b"
        val rest = settledSegs(b).filterNot(merged.toSet)
        settledSegs += b -> (
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(leaf)))
            rest :+ leaf
          else rest)
      }
    }
  }

  // ----------------------------------------------------------------- seeding

  /** Seed the frontier (discovery/pipeline.go:369-379: priority 5, depth 0)
    * and commit snapshot 0. Small/test entry point: delegates to the
    * Dataset form, which is the scale path.
    */
  def seed(seeds: Seq[Seed]): Unit =
    seed(spark.createDataset(seeds.zipWithIndex.map { case (s, i) => (i.toLong, s) }))

  /** Distributed seeding: seeds arrive as an indexed Dataset (index =
    * submission linearization order, assigned BEFORE validation so a
    * dropped invalid seed does not renumber its successors — same
    * semantics as the Seq form ever had). 10^8 seeds never touch the
    * driver or the task binary; generate them with `range().map` (see
    * Bench) or read them from a table.
    */
  def seed(seeds: Dataset[(Long, Seed)]): Unit = {
    dropMinReadyPrefetch()
    val now = clock // hoisted: the flatMap closure must not capture `this`
    val subs = seeds.flatMap { case (i, sd) =>
      (UrlNormalizer.normalize(sd.url), UrlNormalizer.urlHash(sd.url),
        UrlNormalizer.extractHost(sd.url)) match {
        case (Right(u), Right(h), Right(host)) =>
          // li is the in-batch tiebreak; Int caps the seed count at 2^31
          // per seed() call, far above the driver-OOM point this fixes —
          // ENFORCED, not assumed: past the cap the narrowed tiebreak
          // would silently wrap negative and corrupt submission order
          require(i <= Int.MaxValue,
            s"seed index $i exceeds the 2^31-1 per-call submission-order " +
              "cap; split the seed set across seed() calls")
          Some(SubRow(0, 0L, "", i.toInt, Submission(u, h, host, sd.source_id,
            FrontierOrigin.Manual, None, 0, Priorities.Default, now)))
        case _ => None
      }
    }
    val subAgg = aggregateSubmissions(subs).persist()
    val delta = subAgg.select("bucket").distinct().as[Int].collect().toSet
    val merged = mergeSubmissions(
      spark.emptyDataset[(FrontierUrl, String)].toDF(),
      subAgg, spark.emptyDataset[(Int, String)], None, math.max(1, delta.size))
    writeBuckets(merged.select($"_1.*", $"_2".as("mtag")), delta, 0L,
      repartitionFirst = false)
    subAgg.unpersist()
    commit()
    initBloom() // AFTER the seed snapshot: the filter must cover every row
  }

  /** Persist the delta buckets of the host table as bucket leaves;
    * untouched buckets carry forward in the manifest (the frontier's
    * delta-write shape applied to host_state — a batch touching k hosts
    * rewrites O(k)-bucket data, never the whole host table).
    */
  private def writeHostBuckets(hs: Dataset[HostState], deltaBuckets: Set[Int],
      version: Long): Unit = {
    if (deltaBuckets.isEmpty) return
    val path = store.dataPath(s"host_state_v$version")
    hs.toDF().filter($"bucket".isin(deltaBuckets.toSeq: _*))
      .repartition(math.max(1, deltaBuckets.size), $"bucket")
      .withColumn("bucket_p", $"bucket")
      .sortWithinPartitions($"bucket_p", $"host")
      .write.mode("overwrite").option("compression", parquetCodec).partitionBy("bucket_p").parquet(path)
    val updated = for {
      b <- deltaBuckets.toSeq
      leaf = s"$path/bucket_p=$b"
      if java.nio.file.Files.exists(java.nio.file.Paths.get(leaf))
    } yield b -> leaf
    hostPaths = (hostPaths -- deltaBuckets) ++ updated
  }

  private def commit(): Unit =
    store.commit(store.Manifest(batchId, clock,
      // pending leaf = "<b>/p"; settled chain = "<b>/s0".."<b>/sN" in
      // chain order (legacy single-leaf "<b>/s" reads back as a
      // one-segment chain)
      pendingPaths.map { case (b, p) => s"$b/p" -> p } ++
        settledSegs.flatMap { case (b, ps) =>
          ps.zipWithIndex.map { case (p, i) => s"$b/s$i" -> p }
        },
      hostPaths.map { case (b, p) => s"host/$b" -> p } ++
        bloomPaths.map { case (b, p) => s"bloom/$b" -> p } ++
        (if (sourcesPath.isEmpty) Map.empty
         else Map("sources" -> sourcesPath)) ++
        (if (domainStatesPath.isEmpty) Map.empty
         else Map("domain_states" -> domainStatesPath))))

  /** Resume from the latest committed snapshot. */
  def resume(): Boolean = {
    dropMinReadyPrefetch()
    store.latest() match {
      case Some(m) =>
        // pre-bucketing snapshots stored the host table under a single
        // 'host_state' key; silently ignoring it would resume with ALL
        // politeness state dropped (claim order diverges) — fail loudly.
        if (m.tables.contains("host_state"))
          throw new IllegalStateException(
            "unsupported legacy snapshot format: monolithic 'host_state' " +
              "table (expected per-bucket 'host/<b>' keys); re-drain from " +
              "the source crawl or migrate the snapshot offline")
        batchId = m.batchId
        clock = m.clock
        pendingPaths = m.buckets.collect {
          case (k, v) if k.endsWith("/p") => k.stripSuffix("/p").toInt -> v
        }
        settledSegs = m.buckets.toSeq.collect {
          case (k, v) if !k.endsWith("/p") =>
            val Array(b, ps) = k.split("/", 2)
            // legacy pre-segment snapshots stored one "<b>/s" leaf: a
            // valid one-segment chain, resumed as such
            (b.toInt, if (ps == "s") 0 else ps.stripPrefix("s").toInt, v)
        }.groupBy(_._1).map { case (b, xs) =>
          b -> xs.sortBy(_._2).map(_._3).toVector
        }
        hostPaths = m.tables.collect {
          case (k, v) if k.startsWith("host/") => k.stripPrefix("host/").toInt -> v
        }
        sourcesPath = m.tables.getOrElse("sources", "")
        domainStatesPath = m.tables.getOrElse("domain_states", "")
        curationVersion = math.max(parseCurationVersion(sourcesPath),
          parseCurationVersion(domainStatesPath))
        if (sourcesPath.nonEmpty)
          sourceNamesBc = spark.sparkContext.broadcast(
            sources().collect().map(e => e.source_id -> e.name).toMap)
        if (cfg.useBloomPrefilter) {
          val persisted = m.tables.collect {
            case (k, v) if k.startsWith("bloom/") => k.stripPrefix("bloom/").toInt -> v
          }
          if (persisted.nonEmpty) bloomPaths = persisted else initBloom()
        }
        true
      case None => false
    }
  }

  // ----------------------------------------------------------------- batches

  /** Runs micro-batches until the frontier drains; returns #batches run. */
  def runDrain(): Long = {
    var n = 0L
    // the batch that exhausts the budget must not prefetch a successor
    // (min_ready + claims argmin for a batch that never runs): the orphan
    // job would steal executor threads from the caller's next action and
    // die unpersisting under spark.stop ("Block ... not found" noise)
    while (n < cfg.maxBatches && step(prefetchNext = n + 1 < cfg.maxBatches))
      n += 1
    n
  }

  /** One micro-batch. Returns false when no pending URLs remain.
    *
    * Exactly two jobs find the batch's claims (the oracle's two phases):
    * ONE min(ready_at) aggregate advances the virtual clock (rows
    * eligible now leave it unchanged, since their ready_at ≤ clock), then
    * ONE claim pass filters with the LITERAL advanced clock —
    * `next_fetch_at <= clock` reaches the pending-leaf scan as a pushed
    * filter, so the due-time-sorted leaves skip whole row groups of
    * backoff rows scheduled in the future (S1 + the partial-index read).
    * The previous try-claim-then-jump-then-retry shape cost an extra
    * claim job at every politeness-parked batch boundary.
    */
  def step(prefetchNext: Boolean = true): Boolean = {
    // consume the prefetched (min_ready → claims) chain when the previous
    // batch kicked one off (it overlaps that batch's sink awaits, commit,
    // and — for the claims cache — the start of this batch); fallback is
    // the plain synchronous pair of jobs
    val next = minReadyPre match {
      case Some(f) =>
        minReadyPre = None
        timed("min_ready") {
          scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
        }
      case None =>
        timed("min_ready") {
          withReadiness().agg(min($"ready_at")).as[Option[Long]].first()
        }.map { t =>
          val c = math.max(clock, t)
          val (df, bF) = claimAt(c)
          (c, df, bF)
        }
    }
    next match {
      case None => false // drained
      case Some((c, claimsDf, bucketsF)) =>
        // non-empty is guaranteed: the min-ready row satisfies both claim
        // conjuncts at the advanced clock, so the batch always has >=1
        // claim (runBatch asserts when it awaits the bucket set)
        clock = c
        batchId += 1
        runBatch(claimsDf, bucketsF, prefetchNext)
        true
    }
  }

  /** Prefetched next-batch (min(ready_at) → claims) chain: spawned once a
    * batch's state writes (frontier + host buckets) are durable, so the
    * readiness aggregate overlaps the remaining sink awaits + commit, and
    * the claims argmin job runs warm in the background — the next batch's
    * fetch chain then starts from an already-materializing claims cache
    * instead of paying it cold. Any out-of-band state mutation must call
    * [[dropMinReadyPrefetch]] first.
    */
  private var minReadyPre: Option[scala.concurrent.Future[
    Option[(Long, Dataset[FrontierUrl], scala.concurrent.Future[Set[Int]])]]] = None

  private def spawnPrefetch(): Unit = {
    import scala.concurrent.ExecutionContext.Implicits.global
    val clockSnap = clock
    minReadyPre = Some(scala.concurrent.Future {
      withReadiness().agg(min($"ready_at")).as[Option[Long]].first().map { t =>
        val c = math.max(clockSnap, t)
        val (df, bF) = claimAt(c)
        (c, df, bF)
      }
    })
  }

  private def dropMinReadyPrefetch(): Unit = {
    // drain, don't abandon: an in-flight plan must not race the caller's
    // frontier/host manifest mutation. BOTH futures drain — the outer
    // min_ready chain AND the nested touched-bucket collection claimAt
    // spawned (a Spark job over pre-mutation leaves that must not still
    // be running, against an unpersisting cache, while the caller
    // rewrites buckets). Only then is the orphaned claims cache released.
    minReadyPre.foreach { f =>
      scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf)
      f.value.foreach(_.toOption.foreach(_.foreach { case (_, df, bucketsF) =>
        scala.concurrent.Await.ready(bucketsF,
          scala.concurrent.duration.Duration.Inf)
        df.unpersist()
      }))
    }
    minReadyPre = None
  }

  /** pending ⋈ host_state with per-row readiness (S1 politeness
    * predicate, frontier_repository.go:155-157).
    */
  private def withReadiness(): DataFrame =
    pendingSlice()
      .join(hostState().select($"host", $"last_fetch_at", $"min_delay_ms"),
        Seq("host"), "left")
      .withColumn("host_ready",
        coalesce($"last_fetch_at" + $"min_delay_ms", lit(Long.MinValue)))
      .withColumn("ready_at", greatest($"next_fetch_at", $"host_ready"))

  /** The per-host argmin claim over rows eligible at `now`; None when
    * nothing is eligible. An argmin AGGREGATION (min_by over the
    * claim-order tuple) rather than a window row_number: hash aggregation
    * does map-side partial combine, so a skewed host with 10^7 eligible
    * rows reduces locally on every partition before the shuffle — the
    * window form would sort that host's entire row set in one task.
    */
  private def claimAt(now: Long): (Dataset[FrontierUrl], scala.concurrent.Future[Set[Int]]) = {
    val fields = frontierSchema.fieldNames
    val eligible = withReadiness()
      // both conjuncts on literal `now`: the next_fetch_at one is pushed
      // into the pending-leaf scan (PushedFilters), the host_ready one
      // runs post-join
      .filter($"next_fetch_at" <= now && $"host_ready" <= now)
    val claimsDf = eligible
      .groupBy($"host".as("claim_host"))
      .agg(graft.functions.AggExpressions.min_by_obj(struct(fields.map(col): _*),
        struct((-$"priority").as("np"), $"next_fetch_at", $"url_hash")).as("top"))
      .select($"top.*").as[FrontierUrl]
      .persist() // every downstream consumer reads the cached claims
    // the touched-bucket collection runs ASYNC: nothing on the batch's
    // serial path needs it until the delta-bucket union right before the
    // merge (keyed-robots mode and the host write await it themselves),
    // so its ~1 job of latency comes off the per-batch floor. Whichever
    // consumer job lands first materializes the shared claims cache.
    import scala.concurrent.ExecutionContext.Implicits.global
    val bucketsF = scala.concurrent.Future(timed("claims") {
      claimsDf.agg(collect_set($"bucket")).as[Seq[Int]].first().toSet
    })
    (claimsDf, bucketsF)
  }

  private val trace = sys.env.contains("GRAFT_TRACE")
  private def timed[T](tag: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    if (trace) System.err.println(
      f"[graft-trace] batch=$batchId $tag%-16s ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  private def runBatch(claims: Dataset[FrontierUrl],
      claimsBucketsF: scala.concurrent.Future[Set[Int]],
      prefetchNext: Boolean = true): Unit = {
    val now = clock
    val bid = batchId
    val nb = cfg.numBuckets
    val maxRedirects = cfg.maxRedirects
    val maxRetries = cfg.maxRetries
    val maxDepth = cfg.maxDepth
    val robots = robotsBc
    val preFilter = cfg.usePreSubmitUrlFilter
    val fields = frontierSchema.fieldNames
    // per-batch values as ParamLiteral64, NOT lit(): identical generated
    // source across batches -> the JVM codegen cache compiles each stage
    // once per drain instead of once per batch (the claim scan's pushed
    // literal clock is deliberately NOT converted - see ParamLiteral64)
    val nowL = graft.functions.AggExpressions.param_lit(now)
    val bidL = graft.functions.AggExpressions.param_lit(bid)

    // claim log (the crawl-ordering trace; in-batch order = the defined
    // tuple, so no global sort is materialized here). Sink writes that are
    // independent of the merge path run as concurrent Spark jobs and are
    // awaited before the snapshot commit.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val claimLogF = Future(timed("claim_log") {
      // column projection, not a typed map: same ClaimLogEntry shape with
      // zero per-row object round-trips (optimization r6, guide §4.1)
      claims.toDF().select(bidL.as("batch_id"), $"url_hash", $"url",
          $"host", $"priority", $"next_fetch_at")
        .write.mode("overwrite").option("compression", parquetCodec)
        .parquet(store.dataPath(s"claim_log_v$bid"))
    })

    // Keyed-robots mode: claim hosts are served from the robots cache in
    // host_state; only hosts whose TTL lapsed consult the (broadcast)
    // robots timeline at `now`. All joins are claim-host-sized broadcasts;
    // the host slice streams once. Refreshed entries persist with the
    // batch's host write.
    val robotsEffDs: Option[Dataset[RobotsEff]] =
      if (!cfg.useKeyedRobotsState) None
      else Some(timed("robots_state") {
        val ttl = cfg.robotsTtlMs
        val tl = robotsTimelineBc
        val ch = claims.map(_.host).distinct().toDF("host")
        // full host slice + broadcast semi join, NOT hostSlice(claim
        // buckets): awaiting the async bucket set here would re-serialize
        // the claims aggregate into the critical path (measured +1.5
        // s/batch), and bucket pruning only beats the semi join when a
        // batch claims so few hosts that whole buckets go untouched —
        // at healthy batch sizes every bucket is hit anyway
        val cached = hostSlice(hostPaths.keySet).toDF()
          .select($"host", $"robots_body", $"robots_status", $"robots_fetched_at")
          .join(broadcast(ch), Seq("host"), "left_semi")
        val eff = ch.join(broadcast(cached), Seq("host"), "left_outer")
          .as[(String, Option[String], Option[Int], Option[Long])]
          .map { case (h, b, st, fa) =>
            if (fa.exists(_ + ttl > now))
              RobotsEff(h, b.getOrElse(""), st.getOrElse(404), fa.get,
                refreshed = false)
            else {
              val row = tl.value.get(h)
                .flatMap(_.takeWhile(_._1 <= now).lastOption).map(_._2)
              RobotsEff(h, row.map(_.body).getOrElse(""),
                row.map(_.status_code).getOrElse(404), now, refreshed = true)
            }
          }.persist()
        // LAZY: no eager count() job — the first consumer (the gate's
        // broadcast inside the fetch map, or the host write) computes
        // the cached plan, so keyed-robots mode costs no extra serial
        // job per batch; the persist dedups across the two consumers
        eff
      })

    // ---- the fetch stage: X2 robots gate → X3 redirect chain → page
    //      probe → X4-X6 outcome dispatch, one typed map per claim against
    //      the corpus broadcast (see CrawlEngine.fetchClaim) ----
    // (local vals: the closures must not capture `this`)
    val corpus = pagesLookupBc
    val ua = cfg.userAgent
    val resolved: Dataset[Resolved] = (robotsEffDs match {
      case None => claims.map { r =>
        CrawlEngine.fetchClaim(corpus.value, r,
          robots.value.getOrElse(r.host, RobotsRules.AllowAll), maxRedirects)
      }
      case Some(eff) =>
        claims.joinWith(broadcast(eff), claims("host") === eff("host"))
          .map { case (r, e) =>
            CrawlEngine.fetchClaim(corpus.value, r,
              RobotsRules.fromResponse(e.body, e.status, ua), maxRedirects)
          }
    }).persist()

    // ---- X7 final-URL re-key candidates (23505 semantics) ----
    // Column-form over the pruned resolved cache (optimization r6): the
    // native URL expressions replace the per-row flatMap (which
    // deserialized every Resolved and re-normalized two URLs per fetched
    // row). `claim.url` is INVARIANTLY already normalized — every
    // frontier row enters through UrlNormalizer (seeds, submissions,
    // accepted re-keys) — so the old `normalize(claim.url)` was the
    // identity and the candidate test reduces to
    // normalize(finalUrl) != claim.url (CrawlParitySpec's
    // collision-heavy scenario pins the equivalence). sha2(,256) is
    // byte-identical to UrlNormalizer.sha256Hex.
    val rekeyCandidates: DataFrame = resolved.toDF()
      .filter($"outcome" === "fetched" && $"finalUrl" =!= "")
      .select((-$"claim.priority").as("negPrio"),
        $"claim.next_fetch_at".as("nfa"), $"claim.url_hash".as("oldHash"),
        $"claim.bucket".as("oldBucket"), $"claim.url".as("claimUrl"),
        $"claim.host".as("claimHost"),
        graft.functions.UrlExpressions.normalize_url_native($"finalUrl")
          .as("newUrl"))
      .filter($"newUrl".isNotNull && $"newUrl" =!= $"claimUrl")
      .select($"negPrio", $"nfa", $"oldHash", $"oldBucket", $"newUrl",
        sha2($"newUrl", 256).as("newHash"),
        coalesce(
          graft.functions.UrlExpressions.extract_host_native($"newUrl"),
          $"claimHost").as("newHost"))
      .withColumn("newBucket",
        graft.functions.UrlExpressions.host_bucket($"newHost", nb))
      // FOUR consumers evaluate this pipeline (the bucket collect below,
      // then resolveRekeys' existence-probe broadcast, join left side and
      // enabler broadcast) and each re-ran the per-fetched-row normalize
      // over the resolved cache — rekey_resolve measured 17-18 s/batch at
      // p1 before this persist, with ~3 of the 4 evaluations redundant.
      // Tiny cache (candidates = redirect-reached claims only); dropped
      // with the other per-batch caches.
      .persist()
    // ONE action materializes the resolved cache AND returns the buckets
    // candidate hashes can live in (url_hash → host → bucket is
    // deterministic); candidate ROWS never collect to the driver. ASYNC:
    // nothing needs the bucket set until the re-key resolution, so the
    // fetch chain overlaps the submission-aggregate job instead of
    // preceding it (block-level cache locks keep the shared claims/
    // resolved caches computed once across the concurrent consumers)
    val candBucketsF: Future[Set[Int]] = Future(timed("fetch_resolve") {
      rekeyCandidates.agg(collect_set($"newBucket")).as[Seq[Int]].first().toSet
    })

    // ---- S2 host_state update (fetch-attempted hosts only; reads the
    // resolved cache, so it overlaps the whole rest of the batch). Only
    // the claim-host buckets are rewritten; everything else carries
    // forward (host_state_repository.go:46-51 single-row semantics) ----
    val hostF = Future(timed("host_write") {
      val claimsBuckets = scala.concurrent.blocking {
        Await.result(claimsBucketsF, Duration.Inf)
      }
      require(claimsBuckets.nonEmpty,
        "empty claim set in a batch min_ready proved non-empty")
      // column projection over the resolved cache (optimization r6): reads
      // only the pruned (reason, claim.host) columns instead of
      // deserializing every Resolved object
      val touched = resolved.toDF()
        .filter($"reason" =!= CrawlDefaults.ReasonRobotsBlocked)
        .select($"claim.host".as("host")).distinct()
        .withColumn("t", lit(1))
      // upserts = fetch-attempted hosts ∪ robots-refreshed hosts (a
      // robots-blocked host still persists its refreshed cache, exactly
      // like the reference caching robots regardless of the verdict);
      // both sides are claim-host-sized
      val upserts = robotsEffDs match {
        case None => touched
          .withColumn("r_body", lit(null).cast("string"))
          .withColumn("r_status", lit(null).cast("int"))
          .withColumn("r_fat", lit(null).cast("bigint"))
        case Some(eff) => touched.join(
            eff.filter(_.refreshed).toDF()
              .select($"host", $"body".as("r_body"), $"status".as("r_status"),
                $"fetched_at".as("r_fat")),
            Seq("host"), "full_outer")
      }
      val newHs = hostSlice(claimsBuckets).toDF()
        .join(upserts, Seq("host"), "full_outer")
        .select($"host",
          when($"t".isNotNull, nowL).otherwise($"last_fetch_at").as("last_fetch_at"),
          coalesce($"min_delay_ms", lit(CrawlDefaults.MinDelayMs)).as("min_delay_ms"),
          coalesce($"r_body", $"robots_body").as("robots_body"),
          coalesce($"r_status", $"robots_status").as("robots_status"),
          coalesce($"r_fat", $"robots_fetched_at").as("robots_fetched_at"))
        .withColumn("bucket",
          graft.functions.UrlExpressions.host_bucket($"host", nb))
        .as[HostState]
      writeHostBuckets(newHs, claimsBuckets, bid)
    })

    // ---- docs sink (ES-index analog; one doc per fetched 200 page) ----
    val docsF = Future(timed("docs_write") {
      resolved.filter(o => o.docId.nonEmpty)
        .map { o =>
          (o.docId, o.claim.url,
            CrawlEngine.probePage(corpus.value, o.lookupHash).spans, bid)
        }
        .toDF("doc_id", "url", "spans", "batch_id")
        .write.mode("overwrite").option("compression", parquetCodec).parquet(store.dataPath(s"docs_v$bid"))
    })

    // ---- F3 link discovery → submissions ----
    val submissions: Dataset[SubRow] = resolved.flatMap { o =>
      // only an indexed 200 page has links (a 304 is fetched without
      // content, like the oracle's)
      if (o.docId.isEmpty || o.claim.depth + 1 > maxDepth) Nil
      else {
        val links = CrawlEngine.probePage(corpus.value, o.lookupHash).links
        // the page's base URL parses ONCE per page, not once per link
        // (GoUrl.absoluteUrl re-parses it for every href)
        val baseE = GoUrl.parse(o.finalUrl)
        links.zipWithIndex.flatMap { case (href, li) =>
          // inlined ContentUrl.shouldSkipLink, keeping the href parse for
          // the resolve step: skip empty, unparseable, or
          // non-http(s)-scheme links; relative (scheme-less) links pass
          if (href.isEmpty) None
          else GoUrl.parse(href) match {
            case Left(_) => None
            case Right(hu)
                if hu.scheme.nonEmpty && hu.scheme != "http" &&
                  hu.scheme != "https" => None
            case Right(hu) =>
              val abs = baseE match {
                case Right(b) => GoUrl.render(GoUrl.resolveReference(b, hu))
                case Left(_)  => ""
              }
              if (abs.isEmpty) None
              else if (preFilter && UrlFilter.shouldSkipUrl(abs)) None // B2 gate
              // one parse serves normalize + hash + host (the separate
              // calls re-parsed `abs` three times and normalized twice)
              else UrlNormalizer.normalizeHashHost(abs) match {
                case Right((u, h, host)) =>
                  val prio = Priorities.Default +
                    (if (ContentUrl.isContentUrl(abs)) Priorities.SpiderArticleBonus else 0)
                  // parent_url = the FINAL page the link was found on
                  // (colly rewrites e.Request.URL after redirects)
                  Some(SubRow(-o.claim.priority, o.claim.next_fetch_at,
                    o.claim.url_hash, li, Submission(u, h, host, o.claim.source_id,
                      FrontierOrigin.Spider, Some(o.finalUrl), o.claim.depth + 1,
                      prio, now)))
                case Left(_) => None
              }
          }
        }
      }
    }.persist() // link extraction+normalization runs ONCE; the frontier
    //              aggregation and the links sink both read the cache

    val subAgg = aggregateSubmissions(submissions).persist()
    // one async action materializes subAgg AND (pulling through it) the
    // submissions cache, returning the submission buckets — it runs
    // CONCURRENTLY with the re-key resolution below, and the result is
    // only awaited where deltaBuckets needs it
    val subBucketsF: Future[Set[Int]] = Future(timed("sub_buckets") {
      subAgg.agg(collect_set($"bucket")).as[Seq[Int]].first().toSet
    })

    // discovered-link tracking sink (link_handler.go:384-406): one row per
    // (source_id, url_hash) per batch, LAST submission in batch order wins
    // — the append form of the reference's CreateOrUpdate upsert
    // (discovered_link_repository.go:46-59). Chained AFTER sub_buckets so
    // it reads the now-populated submissions cache.
    val srcNames = sourceNamesBc
    val linksF = subBucketsF.map(_ => timed("links_write") {
      // nested-field projection, not a typed map (optimization r6): the
      // registry-resolved display name (link_handler.go:396; fallback =
      // the id) comes from a tiny broadcast join when the registry is
      // non-empty instead of a per-row closure over the whole cache
      val base = submissions.toDF().select(
        $"s.source_id".as("source_id"), $"s.url_hash".as("url_hash"),
        $"s.url".as("url"), $"s.host".as("domain"),
        $"s.parent_url".as("parent_url"), $"s.depth".as("depth"),
        $"s.priority".as("priority"), $"negPrio", $"nfa", $"claimHash",
        $"li")
      val names = srcNames.value
      val named =
        if (names.isEmpty) base.withColumn("source_name", $"source_id")
        else base.join(
            broadcast(names.toSeq.toDF("source_id", "source_name0")),
            Seq("source_id"), "left_outer")
          .withColumn("source_name",
            coalesce($"source_name0", $"source_id"))
          .drop("source_name0")
      named
        .groupBy($"source_id", $"source_name", $"url_hash")
        .agg(graft.functions.AggExpressions.max_by_obj(
          struct($"url", $"domain", $"parent_url", $"depth", $"priority"),
          struct($"negPrio", $"nfa", $"claimHash", $"li")).as("last"))
        .select($"source_id", $"source_name",
          $"last.url".as("url"), $"url_hash",
          $"last.parent_url".as("parent_url"), $"last.depth".as("depth"),
          $"last.domain".as("domain"),
          lit(null).cast("int").as("http_status"),
          lit(null).cast("string").as("content_type"),
          nowL.as("discovered_at"), nowL.as("queued_at"),
          lit("pending").as("status"), $"last.priority".as("priority"),
          bidL.as("batch_id"))
        .write.mode("overwrite").option("compression", parquetCodec).parquet(store.dataPath(s"links_v$bid"))
    })

    // ---- distributed re-key resolution (X7, frontier_repository.go:216-263)
    // runs on this thread while sub_buckets materializes concurrently ----
    val candBuckets = Await.result(candBucketsF, Duration.Inf)
    val noRekey = candBuckets.isEmpty
    val (acceptedDf, rekeyBuckets, rekeyCleanup) =
      if (noRekey) (null: DataFrame, Set.empty[Int], () => ())
      else resolveRekeys(rekeyCandidates.toDF(), candBuckets)
    val accDs: Dataset[RekeyAccepted] =
      if (noRekey) spark.emptyDataset[RekeyAccepted]
      else acceptedDf.select($"oldHash", $"newUrl", $"newHash", $"newHost",
        $"newBucket").as[RekeyAccepted]

    // ---- updated frontier rows for all claims, tagged for lineage:
    // "f" fetched, "rf" fetched + re-keyed, "u" dead/failed/backoff. A
    // lazy narrow map over the cached outcomes (+ a broadcast join with
    // the accepted re-keys when any exist — never a driver-held map) ----
    // Column-form of the per-claim outcome application (optimization r6,
    // guide §4.1): the former typed map deserialized every Resolved and
    // re-serialized a 21-field FrontierUrl per row; this projection reads
    // only the pruned (claim, outcome, reason, contentHash) columns from
    // the resolved cache and stays inside whole-stage codegen. Semantics
    // are field-for-field the old match (CrawlParitySpec pins them):
    //   fetched → Fetched, last_fetched_at=now, fetch_count+1,
    //             content_hash=NULLIF(contentHash,''), etag/last_modified
    //             cleared, retry_count=0, updated_at=now
    //   dead    → Dead, last_error=reason, updated_at=now
    //   failed  → retry_count+1; Dead at maxRetries else Pending with
    //             next_fetch_at = now + 2^oldRetry minutes
    def packClaim(over: Map[String, Column]): Column =
      struct(fields.toSeq.map(f =>
        over.getOrElse(f, col(s"claim.$f")).as(f)): _*)
    val isFetched = $"outcome" === "fetched"
    val isDead = $"outcome" === "dead"
    val willDie = $"claim.retry_count" + 1 >= maxRetries
    val updates0: DataFrame = resolved.toDF().select(
      packClaim(Map(
        "status" -> when(isFetched, FrontierStatus.Fetched)
          .when(isDead || willDie, FrontierStatus.Dead)
          .otherwise(FrontierStatus.Pending),
        "next_fetch_at" -> when(!isFetched && !isDead && !willDie,
            nowL + expr("shiftleft(cast(1 as bigint), claim.retry_count)")
              * lit(60000L))
          .otherwise($"claim.next_fetch_at"),
        "last_fetched_at" -> when(isFetched, nowL)
          .otherwise($"claim.last_fetched_at"),
        "fetch_count" -> when(isFetched, $"claim.fetch_count" + 1)
          .otherwise($"claim.fetch_count"),
        "content_hash" -> when(isFetched,
            when($"contentHash" === "", lit(null).cast("string"))
              .otherwise($"contentHash"))
          .otherwise($"claim.content_hash"),
        "etag" -> when(isFetched, lit(null).cast("string"))
          .otherwise($"claim.etag"),
        "last_modified" -> when(isFetched, lit(null).cast("string"))
          .otherwise($"claim.last_modified"),
        "retry_count" -> when(isFetched, lit(0))
          .when(isDead, $"claim.retry_count")
          .otherwise($"claim.retry_count" + 1),
        "last_error" -> when(isFetched, $"claim.last_error")
          .otherwise($"reason"),
        "updated_at" -> nowL)).as("_1"),
      when(isFetched, "f").otherwise("u").as("_2"))
    val updates: DataFrame =
      if (noRekey) updates0
      else {
        // accepted re-keys apply as a broadcast left-outer + column CASE
        // (same shape as before, minus the typed round-trip)
        val acc = broadcast(accDs.toDF())
        val hit = $"oldHash".isNotNull && $"_2" === "f"
        val rekeyed = Map[String, Column](
          "url" -> $"newUrl", "url_hash" -> $"newHash",
          "host" -> $"newHost", "bucket" -> $"newBucket")
        updates0.join(acc, updates0("_1.url_hash") === acc("oldHash"),
            "left_outer")
          .select(
            when(hit, struct(fields.toSeq.map(f =>
                rekeyed.getOrElse(f, col(s"_1.$f")).as(f)): _*))
              .otherwise($"_1").as("_1"),
            when(hit, "rf").otherwise($"_2").as("_2"))
      }

    // delta = claimed rows' buckets ∪ re-key old/new buckets ∪ submission
    // buckets; every other bucket's leaves carry forward untouched.
    val subBuckets = Await.result(subBucketsF, Duration.Inf)
    val claimsBuckets = Await.result(claimsBucketsF, Duration.Inf)
    val deltaBuckets = claimsBuckets ++ subBuckets ++ rekeyBuckets

    // ---- apply outcomes then submissions (the batch linearization) ----
    // Claim application: broadcast anti-join (claims ≤ 1/host/batch) over
    // the delta buckets' PENDING leaves only — settled rows are immutable,
    // so they are neither read as keeps nor rewritten (append-only
    // frontier: the write below is O(churn), never O(frontier)).
    val f0p = pendingSliceOf(deltaBuckets)
    // NB: a using-column join moves the key column first; re-select the
    // canonical field order, then pack (row, "k") WITHOUT a typed lambda
    // (select-struct keeps the carried bulk inside Tungsten).
    val keeps = f0p.toDF()
      .join(broadcast(claims.toDF().select("url_hash")), Seq("url_hash"), "left_anti")
      .select(struct(fields.map(col): _*).as("_1"), lit("k").as("_2"))
    val f1 = keeps.union(updates)

    // Settled-dedup probe: a submission whose hash settled in an EARLIER
    // batch must dedup without the settled row ever rewriting. The probe
    // is a read-only, column-pruned (bucket, url_hash) stream of the
    // submission buckets' settled segments against the broadcast
    // submission hash set — output ≤ |subAgg| rows, repartitioned to the
    // merge's bucket alignment so the anti-join inside mergeSubmissions
    // adds no extra shuffle of submission data. (Hashes that settle THIS
    // batch dedup inside the merge itself — their rows ride `updates`
    // through the full-outer join.) Persisted: the merge filters with it
    // and the lineage readback counts it.
    val settledDup =
      if (subBuckets.isEmpty) None
      else Some(settledSliceOf(subBuckets).toDF()
        .select($"bucket", $"url_hash")
        .join(broadcast(subAgg.toDF().select($"url_hash")), Seq("url_hash"),
          "left_semi")
        .repartition(math.max(1, deltaBuckets.size), $"bucket")
        .persist())

    // Accepted re-key hashes ride into the merge as explicit maybe-seen
    // marks (a broadcast join, not driver state): a same-batch submission
    // matching a just-re-keyed final URL must take the exact-join path or
    // it would insert a duplicate row beside the re-keyed one.
    val accNew: Dataset[(Int, String)] = accDs.map(a => (a.newBucket, a.newHash))
    val merged = mergeSubmissions(f1, subAgg, accNew, settledDup,
      math.max(1, deltaBuckets.size))

    // ---- the batch's ONE pass over delta data: merge → write ----
    val deltaLeaves = timed("frontier_write") {
      writeBuckets(merged.select($"_1.*", $"_2".as("mtag")), deltaBuckets,
        bid, repartitionFirst = false)
    }
    // bounded read fan-in on long drains: over-limit chains merge their
    // smallest segments (rare; amortized O(log) rewrites per settled row)
    compactSettled(bid)

    // ---- per-bucket lineage (north rule): a two-column readback of the
    // mtag column persisted in the just-written (page-cached) delta files
    // — the merge is never evaluated twice, and the whole block runs off
    // the critical path (awaited before the snapshot commit) ----
    val lineageF = Future(timed("lineage") {
      val tagCounts: Map[(Int, String), Long] =
        if (deltaLeaves.isEmpty) Map.empty
        else spark.read.schema(tagReadSchema).parquet(deltaLeaves: _*)
          .filter($"mtag" =!= "k")
          .groupBy($"bucket", $"mtag").count()
          .as[(Int, String, Long)].collect()
          .map { case (b, t, c) => (b, t) -> c }.toMap
      def sumTags(p: String => Boolean): Map[Int, Long] =
        tagCounts.toSeq.collect { case ((b, t), c) if p(t) => (b, c) }
          .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
      // the tags carry fetch + re-key + dedup provenance, so the whole
      // lineage (incl. urls_fetched) is ONE 2-column readback — no
      // second evaluation of the update pipeline. Dedups against rows
      // settled in EARLIER batches no longer appear in the delta files
      // (the settled row never rewrites), so their per-bucket counts come
      // from the already-materialized settledDup cache instead.
      val insertedBy = sumTags(_ == "i")
      val settledDupBy: Map[Int, Long] = settledDup match {
        case None => Map.empty
        case Some(sd) => sd.groupBy($"bucket").count()
          .as[(Int, Long)].collect().toMap
      }
      val dedupBy0 = sumTags(_.endsWith("_d"))
      val dedupBy = (dedupBy0.keySet ++ settledDupBy.keySet).map { b =>
        b -> (dedupBy0.getOrElse(b, 0L) + settledDupBy.getOrElse(b, 0L))
      }.toMap
      val fetchedBy = sumTags(t => t == "f" || t == "f_d" || t == "rf" || t == "rf_d")
      val lineageRows = (fetchedBy.keySet ++ insertedBy.keySet ++ dedupBy.keySet)
        .toSeq.sorted.map { b =>
          LineageRow(bid, b, insertedBy.getOrElse(b, 0L), fetchedBy.getOrElse(b, 0L),
            dedupBy.getOrElse(b, 0L))
        }
      spark.createDataset(lineageRows).toDF().coalesce(1)
        .write.mode("overwrite").option("compression", parquetCodec).parquet(store.dataPath(s"lineage_v$bid"))
    })

    // executor-side seen-filter upkeep from the just-written delta files —
    // async like the sinks (it only reads the durable delta leaves and
    // mutates bloomPaths at the end), awaited before commit() snapshots
    // the sidecar paths
    val filtersF = Future(updateFilters(deltaLeaves, bid))

    // all sinks must be durable before the snapshot pointer moves. The
    // host write is awaited FIRST: once frontier + host buckets are both
    // durable the next batch's min(ready_at) input is final, so its
    // aggregate prefetches here and overlaps the remaining awaits, the
    // manifest commit and the inter-batch driver bookkeeping.
    Await.result(hostF, Duration.Inf)
    if (prefetchNext) spawnPrefetch()
    Await.result(claimLogF, Duration.Inf)
    Await.result(docsF, Duration.Inf)
    Await.result(linksF, Duration.Inf)
    Await.result(lineageF, Duration.Inf)
    Await.result(filtersF, Duration.Inf)
    commit()
    rekeyCleanup()
    rekeyCandidates.unpersist()
    robotsEffDs.foreach(_.unpersist())
    settledDup.foreach(_.unpersist())
    claims.unpersist()
    resolved.unpersist()
    subAgg.unpersist()
    submissions.unpersist()
  }

  /** Distributed re-key resolution — the set-oriented form of the
    * reference's per-transaction sequential unique check
    * (frontier_repository.go:216-263), which the oracle replays claim by
    * claim: candidate c (claim order pos = (-priority, next_fetch_at,
    * url_hash)) re-keys iff its newHash is ABSENT from the live frontier
    * at its turn — where earlier accepted re-keys have already removed
    * their oldHash and inserted their newHash.
    *
    * Decomposition (provably equal to the sequential replay):
    *   - newHash not in the frontier → the FIRST candidate per newHash
    *     group wins; later ones see the winner's insert and fall back.
    *   - newHash present and no candidate re-keys that row away → the
    *     whole group falls back (nothing can free the hash).
    *   - newHash present and freed by its unique "enabler" candidate d
    *     (the one with oldHash == newHash; unique since claims are) →
    *     members ordered BEFORE d fall back (not yet freed at their
    *     turn); the first member AFTER d wins IFF d itself is accepted.
    * Only that last conditional needs chasing: pointers strictly descend
    * in claim order (a contested winner sits after its enabler), so the
    * chains are acyclic and settle bottom-up; each chase round is a small
    * broadcast join, and batches without contested groups (the norm)
    * resolve in the single materialization action.
    */
  private[engine] def resolveRekeys(cand: DataFrame, candBuckets: Set[Int])
      : (DataFrame, Set[Int], () => Unit) = {
    // existence probe vs the pre-batch frontier: the frontier slice
    // streams ONCE through a broadcast semi-join against the (tiny)
    // candidate hash set — its output (`present`) is ≤ |candidates| rows,
    // which then broadcast back onto the candidates. Candidates never
    // collect to the driver, and the big side is never the build side.
    // (No distinct on the build side: semi-join dedups by construction.)
    val front = bucketSlice(candBuckets).toDF().select($"url_hash".as("exHash"))
    val present = front
      .join(broadcast(cand.select($"newHash")), $"exHash" === $"newHash",
        "left_semi")
    val enab = cand.select($"oldHash".as("enabHash"),
      $"negPrio".as("eNegPrio"), $"nfa".as("eNfa"))
    val c2 = cand
      .join(broadcast(present), $"newHash" === $"exHash", "left_outer")
      .withColumn("ex", $"exHash".isNotNull).drop("exHash")
      .join(broadcast(enab), $"newHash" === $"enabHash", "left_outer")
    // ONE partial-aggregatable hash aggregation per newHash group replaces
    // the two window sort-shuffles: `ex` and the enabler's claim position
    // are group-level facts (both keyed by newHash), so the free winner
    // and the first-member-after-the-enabler are min_by's over the group.
    // posRank avoids min_by-over-null semantics: members positioned after
    // the enabler rank 0, the rest 1 — cwin is valid iff min(posRank)=0.
    val candCols = Seq("negPrio", "nfa", "oldHash", "oldBucket", "newUrl",
      "newHash", "newHost", "newBucket")
    val candStruct = struct(candCols.map(col): _*)
    val candKey = struct($"negPrio", $"nfa", $"oldHash")
    val posGt = candKey > struct($"eNegPrio", $"eNfa", $"enabHash")
    val posRank = when($"enabHash".isNotNull && posGt, 0).otherwise(1)
    val dec0 = c2.groupBy($"newHash".as("nh")).agg(
        first($"ex").as("ex"),
        first($"enabHash").as("enabHash"),
        graft.functions.AggExpressions.min_by_obj(candStruct, candKey)
          .as("win"),
        graft.functions.AggExpressions.min_by_obj(candStruct,
          struct(posRank, $"negPrio", $"nfa", $"oldHash")).as("cwin"),
        min(posRank).as("anyPos"))
      .select(
        when(!$"ex", $"win")
          .when($"enabHash".isNotNull && $"anyPos" === 0, $"cwin").as("d"),
        (!$"ex").as("acc"),
        ($"ex" && $"enabHash".isNotNull && $"anyPos" === 0).as("pending"),
        $"enabHash")
      .filter($"d".isNotNull) // ex groups nothing can free: all fall back
      .select($"d.*" +: Seq($"acc", $"pending", $"enabHash"): _*)
      .persist()
    val (nPend, accOld, accNew) = timed("rekey_resolve") {
      dec0.agg(
        sum(when($"pending", 1L).otherwise(0L)),
        collect_set(when($"acc", $"oldBucket")),
        collect_set(when($"acc", $"newBucket")))
        .as[(Option[Long], Seq[Int], Seq[Int])].first()
    }
    if (nPend.getOrElse(0L) == 0L)
      (dec0.filter($"acc"), accOld.toSet ++ accNew.toSet, () => { dec0.unpersist(); () })
    else timed("rekey_chase") {
      // rare: acceptance chains through freed hashes. A pending winner's
      // pointer (enabHash) targets a candidate that is either accepted
      // (dec0 acc), still pending, or rejected (absent from dec0 — only
      // winners appear). Settle bottom-up until no pending remain.
      val accCols = Seq($"oldHash", $"oldBucket", $"newUrl", $"newHash",
        $"newHost", $"newBucket")
      var accepted = dec0.filter($"acc").select(accCols: _*).persist()
      var pend = dec0.filter($"pending").select(accCols :+ $"enabHash": _*).persist()
      var nLeft = nPend.getOrElse(0L)
      var stalled = false
      while (nLeft != 0L && !stalled) {
        val prev = nLeft
        val pendKeys = pend.select($"oldHash".as("pk"))
        val accKeys = accepted.select($"oldHash".as("ak"))
        val j = pend
          .join(broadcast(pendKeys), $"enabHash" === $"pk", "left_outer")
          .join(broadcast(accKeys), $"enabHash" === $"ak", "left_outer")
          .persist()
        val settledAcc = j.filter($"pk".isNull && $"ak".isNotNull).select(accCols: _*)
        val stillPend = j.filter($"pk".isNotNull).select(accCols :+ $"enabHash": _*)
        val nextAccepted = accepted.unionByName(settledAcc).persist()
        val nextPend = stillPend.persist()
        nLeft = nextPend.count()
        accepted.unpersist(); pend.unpersist(); j.unpersist()
        accepted = nextAccepted
        pend = nextPend
        // every non-stalled round settles (accepts or rejects) >=1 row,
        // so the loop is bounded by the INITIAL pending count — no
        // arbitrary round cap. A round that settles nothing means every
        // remaining row's enabler is itself still pending: the remainder
        // is chains into enabler CYCLES.
        stalled = nLeft >= prev
      }
      if (stalled)
        // faithful, not a downgrade: each cycle member's target hash
        // belongs to another member that stays LIVE (it too will fail),
        // so the oracle's sequential replay rejects every one at its
        // turn — collision fallback is exactly what dropping them does;
        // chain rows feeding a cycle inherit the same fate inductively.
        System.err.println(s"[graft] rekey chase: $nLeft pending in enabler " +
          "cycles resolved as collision fallbacks (sequential-replay faithful)")
      val (ob, nb2) = accepted
        .agg(collect_set($"oldBucket"), collect_set($"newBucket"))
        .as[(Seq[Int], Seq[Int])].first()
      val acceptedFinal = accepted
      (acceptedFinal, ob.toSet ++ nb2.toSet,
        () => { acceptedFinal.unpersist(); dec0.unpersist(); () })
    }
  }

  /** Pre-aggregate in-batch duplicate submissions with the
    * sequential-upsert-equivalent semantics: priority=GREATEST,
    * next_fetch_at=LEAST over all duplicates, insert-only fields from the
    * FIRST submission in (claim order, link index) order.
    */
  private def aggregateSubmissions(subs: Dataset[SubRow]): Dataset[SubFirst] = {
    val nb = cfg.numBuckets
    // nested-field projection + native bucket expression (optimization
    // r6): the former row was built by a typed map (full SubRow
    // deserialization per submission) and the bucket by a SECOND typed
    // map over the aggregate output; both now stay in codegen
    subs.toDF()
      .select($"s.url_hash".as("url_hash"), $"s.priority".as("priority"),
        $"s.next_fetch_at".as("next_fetch_at"), $"negPrio", $"nfa",
        $"claimHash", $"li", $"s.url".as("url"), $"s.host".as("host"),
        $"s.source_id".as("source_id"), $"s.origin".as("origin"),
        $"s.parent_url".as("parent_url"), $"s.depth".as("depth"))
      .groupBy($"url_hash")
      .agg(
        max($"priority").as("priority"),
        min($"next_fetch_at").as("next_fetch_at"),
        graft.functions.AggExpressions.min_by_obj(
          struct($"url", $"host", $"source_id", $"origin", $"parent_url",
            $"depth"), struct($"negPrio", $"nfa", $"claimHash", $"li")).as("first")
      )
      .select($"url_hash", $"priority", $"next_fetch_at", $"first.url",
        $"first.host", $"first.source_id", $"first.origin", $"first.parent_url",
        $"first.depth",
        graft.functions.UrlExpressions.host_bucket($"first.host", nb)
          .as("bucket"))
      .as[SubFirst]
  }

  /** Set-oriented Submit (F1): merge aggregated submissions into the delta
    * frontier slice (insert new; update pending; fetched/dead untouched).
    *
    * Shuffle shape: both sides repartition by `bucket` and join on
    * (bucket, url_hash) — HashPartitioning(bucket) satisfies the join's
    * required clustering, so this is the batch's ONE shuffle of frontier
    * data, and the output lands already aligned with the bucket layout
    * the writer persists — one pass straight into the write, nothing
    * cached or tagged.
    */
  private def mergeSubmissions(
      f1: DataFrame, // (_1: frontier-row struct, _2: lineage tag)
      subAgg: Dataset[SubFirst],
      accNew: Dataset[(Int, String)], // (bucket, url_hash) of accepted re-keys
      settledDup: Option[DataFrame], // (bucket, url_hash) settled earlier
      nParts: Int
  ): DataFrame = {
    val now = clock
    val nowL = graft.functions.AggExpressions.param_lit(now)
    val fields = frontierSchema.fieldNames
    // column-form of the old typed mkInsert — field-for-field identical
    // (discovered_at = next_fetch_at; created/updated = the batch clock)
    val insertOver = Map[String, Column](
      "status" -> lit(FrontierStatus.Pending),
      "last_fetched_at" -> lit(null).cast("bigint"),
      "fetch_count" -> lit(0),
      "content_hash" -> lit(null).cast("string"),
      "etag" -> lit(null).cast("string"),
      "last_modified" -> lit(null).cast("string"),
      "retry_count" -> lit(0),
      "last_error" -> lit(null).cast("string"),
      "discovered_at" -> $"next_fetch_at",
      "created_at" -> nowL,
      "updated_at" -> nowL)
    val mkInsertStruct: Column =
      struct(fields.toSeq.map(f =>
        insertOver.getOrElse(f, col(f)).as(f)): _*)
    val subR0 = subAgg.repartition(nParts, $"bucket")
    // drop submissions whose hash settled in an earlier batch: the settled
    // row is out of the merge (append-only frontier), so without this they
    // would full-outer-miss and re-insert a duplicate beside it. Both
    // sides share HashPartitioning(bucket, nParts) — no new shuffle. The
    // dedup still COUNTS (lineage reads the settledDup cache directly).
    val subR = settledDup match {
      case None => subR0
      case Some(sd) =>
        subR0.toDF().join(sd, Seq("bucket", "url_hash"), "left_anti")
          .as[SubFirst]
    }
    // seen-filter split: definitely-new submissions bypass the dedup join
    // — its probe side shrinks to the maybe-seen subset. Filters are
    // loaded ON EXECUTORS from the per-bucket sidecar files (the driver
    // holds only paths); a bucket with no filter has no rows, so "no
    // filter" means definitely new. This batch's accepted re-key hashes
    // arrive as a broadcast join and count as maybe-seen.
    val (subJoin, subFresh): (Dataset[SubFirst], Dataset[SubFirst]) =
      if (!cfg.useBloomPrefilter) (subR, spark.emptyDataset[SubFirst])
      else {
        val pathsBc = spark.sparkContext.broadcast(bloomPaths)
        val cacheCap = CrawlEngine.filterCacheCap(cfg.numBuckets)
        val marked: Dataset[(SubFirst, Boolean)] = subR
          .joinWith(broadcast(accNew),
            subR("bucket") === accNew("_1") && subR("url_hash") === accNew("_2"),
            "left_outer")
          .mapPartitions { it =>
            // loadFilterCached: the two consumers of `marked` (maybe-seen
            // and definitely-new branches) and later batches re-read the
            // same sidecars — the JVM-wide path cache deserializes each
            // version once per executor
            val cache = scala.collection.mutable.Map.empty[Int, Option[SeenFilter]]
            it.map { case (s, rk) =>
              val maybe = (rk != null) || cache.getOrElseUpdate(s.bucket,
                pathsBc.value.get(s.bucket)
                  .map(CrawlEngine.loadFilterCached(_, cacheCap)))
                .exists(_.mightContain(s.url_hash))
              (s, maybe)
            }
          }
        (marked.filter(_._2).map(_._1), marked.filter(!_._2).map(_._1))
      }
    val freshInserts = subFresh.toDF()
      .select(mkInsertStruct.as("_1"), lit("i").as("_2"))
    // the full-outer merge as column CASEs (optimization r6, guide §4.1):
    // the former joinWith + typed lambda deserialized both sides and
    // re-serialized a full row per output — the single biggest encoder
    // boundary of the batch (O(pending churn + submissions) rows). The
    // CASE arms mirror the old match exactly:
    //   f only          → (f, tag)
    //   both, f pending → (f with max priority / min next_fetch_at /
    //                      updated_at=now, tag + "_d")
    //   both, else      → (f, tag + "_d")
    //   s only          → (insert, "i")
    val f1r = f1.repartition(nParts, $"_1.bucket")
    val sj = subJoin.toDF()
    val joined = f1r.join(sj,
      f1r("_1.bucket") === sj("bucket") &&
        f1r("_1.url_hash") === sj("url_hash"), "full_outer")
    val fPresent = $"_2".isNotNull // tag is non-null on every f1 row
    val sPresent = sj("url_hash").isNotNull
    val pendingMod = struct(frontierSchema.fieldNames.toSeq.map {
      case "priority" =>
        greatest($"_1.priority", $"priority").as("priority")
      case "next_fetch_at" =>
        least($"_1.next_fetch_at", $"next_fetch_at").as("next_fetch_at")
      case "updated_at" => nowL.as("updated_at")
      case f => col(s"_1.$f").as(f)
    }: _*)
    joined.select(
      when(!fPresent, mkInsertStruct)
        .when(sPresent && $"_1.status" === FrontierStatus.Pending, pendingMod)
        .otherwise($"_1").as("_1"),
      when(!fPresent, "i")
        .when(sPresent, concat($"_2", lit("_d")))
        .otherwise($"_2").as("_2"))
      .union(freshInserts)
  }
}

private[engine] object CrawlEngine {
  /** Corpus size limits for the fetch broadcast (driver collect). */
  val CorpusMaxRows: Long = 2000000L
  val CorpusMaxBytes: Long = 4L << 30

  /** Seen-filter false-positive target (bloom fallback sizing). */
  val SeenFilterFpp = 0.03

  /** Index of `hash` in the url_hash-sorted corpus arrays; negative on a
    * miss.
    */
  private def probeIndex(corpus: (Array[String], Array[PageRow]),
      hash: String): Int =
    java.util.Arrays.binarySearch(corpus._1.asInstanceOf[Array[AnyRef]], hash)

  /** Must-hit probe for the payload consumers (docs sink, link
    * discovery): they only probe pages the fetch stage resolved, so a
    * miss is an invariant violation and fails naming the hash.
    */
  def probePage(corpus: (Array[String], Array[PageRow]), hash: String): PageRow = {
    val i = probeIndex(corpus, hash)
    require(i >= 0, s"corpus probe miss: $hash")
    corpus._2(i)
  }

  /** One claim's fetch, the engine form of CrawlOracle.processClaim: the
    * robots gate (X2, before any fetch), then the redirect chain probed
    * hop by hop against the corpus (fetcher/redirect.go:16-23; a missing
    * hop is a fetch_error), then status dispatch (worker.go:308-437).
    */
  def fetchClaim(corpus: (Array[String], Array[PageRow]), r: FrontierUrl,
      rules: RobotsRules, maxRedirects: Int): Resolved = {
    def dead(reason: String) = Resolved(r, "dead", reason, "", "", "", "")
    def failed(reason: String) = Resolved(r, "failed", reason, "", "", "", "")
    @scala.annotation.tailrec
    def follow(hash: String, hops: Int): Either[String, PageRow] = {
      val i = probeIndex(corpus, hash)
      if (i < 0) Left("fetch_error")
      else {
        val p = corpus._2(i)
        if (p.status_code < 300 || p.status_code >= 400 || p.redirect_to.isEmpty)
          Right(p)
        else if (hops == maxRedirects) Left(CrawlDefaults.ReasonTooManyRedirects)
        else follow(UrlNormalizer.sha256Hex(p.redirect_to), hops + 1)
      }
    }
    val path = GoUrl.parse(r.url).map(_.path).getOrElse("/")
    if (!rules.isAllowed(path)) dead(CrawlDefaults.ReasonRobotsBlocked)
    else follow(r.url_hash, 0) match {
      case Left(reason) => failed(reason)
      case Right(p) => p.status_code match {
        case 200 =>
          if (!ContentUrl.isHtmlContent(p.content_type))
            dead(CrawlDefaults.ReasonUnsupportedContentType)
          else if (ContentUrl.isBinaryUrl(r.url))
            dead(CrawlDefaults.ReasonBinaryUrl)
          else if (!p.extract_ok) dead(CrawlDefaults.ReasonExtractFailed)
          else {
            val contentHash = UrlNormalizer.sha256Hex(
              p.spans.filter(_.kind == "text").map(_.text).mkString("\n"))
            Resolved(r, "fetched", "", p.url, contentHash,
              UrlNormalizer.sha256Hex(r.url), p.url_hash)
          }
        case 304 => Resolved(r, "fetched", "", p.url, "", "", "")
        case 404 => dead(CrawlDefaults.ReasonNotFound)
        case c if c == 429 || c >= 500 => failed(s"http status $c")
        case c => failed(s"unexpected http status $c")
      }
    }
  }

  /** Executor-safe sidecar write: create the version dir (idempotent,
    * concurrent-safe) and persist one bucket's serialized filter.
    */
  def writeFilterFile(dir: String, bucket: Int, f: SeenFilter): String = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    val p = d.resolve(s"b_$bucket.bloom")
    java.nio.file.Files.write(p, f.serialize())
    p.toString
  }

  /** Executor-local (JVM-wide) cache of deserialized seen filters keyed
    * by sidecar path. Paths are version-unique (every batch writes a new
    * bloom_v<bid>/ dir), so an entry's FILE never changes; without this
    * the merge gate and the same batch's filter update each re-read and
    * re-deserialize every touched bucket's sidecar, and every later
    * batch re-reads the untouched ones. Cached instances are never
    * mutated (updateFilters folds into a copyFilter()), so a hit is
    * always the exact persisted filter. LRU-bounded with a cap scaled to
    * the engine's bucket count — a wholesale clear() at a fixed 64 wiped
    * the cache every batch once numBuckets (a thousands-scale cluster
    * knob) outgrew it, forcing every sidecar to re-deserialize per batch.
    */
  def filterCacheCap(numBuckets: Int): Int = math.max(256, 4 * numBuckets)
  private val filterCache =
    new java.util.LinkedHashMap[String, SeenFilter](64, 0.75f, true)
  def loadFilterCached(path: String, cap: Int): SeenFilter = {
    filterCache.synchronized {
      val hit = filterCache.get(path)
      if (hit != null) return hit
    }
    // deserialize OUTSIDE the lock: concurrent misses on different paths
    // must not serialize their file IO behind one monitor
    val f = SeenFilter.deserialize(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    filterCache.synchronized {
      val prev = filterCache.get(path)
      if (prev != null) prev
      else {
        filterCache.put(path, f)
        // access-ordered map iterates least-recently-used first
        val it = filterCache.entrySet().iterator()
        while (filterCache.size > cap && it.hasNext) { it.next(); it.remove() }
        f
      }
    }
  }
}
