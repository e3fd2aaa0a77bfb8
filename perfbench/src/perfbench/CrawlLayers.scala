package perfbench

import java.nio.file.{Files, Paths}

import graft.core.{CatalogDetect, CharsetDetect, RobotsTxt, RuleEngine, UrlCanon}
import graft.core.filters.{BloomFilter, CuckooFilter}
import graft.crawl._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks, store-growth rows, the seen-cascade replay and the
  * core-kernel throughputs shared by the two crawl workloads. All of it
  * runs outside the timed waves and reaches the program only through its
  * public API and the committed store. */
object CrawlLayers {

  /** Order-insensitive digest of a frame: row count and the exact sum of
    * the 64-bit hashes of its rows. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  def inputFingerprint(pages: Dataset[Page], hosts: Dataset[HostConfig],
      robots: Dataset[RobotsRow]): String =
    s"pages=${digest(pages.toDF())};hosts=${digest(hosts.toDF())};" +
      s"robots=${digest(robots.toDF())}"

  /** Row count the wave's manifest records for `table`. */
  def manifestRows(root: String, wave: Int, table: String): Long = {
    val body = Files.readString(Paths.get(root, "manifests", f"wave-$wave%06d.json"))
    val m = ("\"" + table + "\": \\{\"path\": \"[^\"]*\", \"rows\": (-?\\d+)\\}").r
      .findFirstMatchIn(body)
    m.map(_.group(1).toLong).getOrElse(-2L)
  }

  /** The output checks of one committed wave. Returns the failed checks,
    * the digest of the wave's articles and the store's article total. */
  def checkWave(spark: SparkSession, store: SnapshotStore, wave: Int,
      pages: Dataset[Page]): (Seq[String], String, Long) = {
    val arts = store.read(spark, "articles", wave)
    val dg = digest(arts)
    val n = dg.takeWhile(_ != ':').toLong
    val errs = Seq.newBuilder[String]
    val insertedRow = store.read(spark, "metrics", wave).agg(sum("inserted")).head()
    val inserted = if (insertedRow.isNullAt(0)) 0L else insertedRow.getLong(0)
    val manifest = manifestRows(store.root, wave, "articles")
    if (n != inserted || n != manifest)
      errs += s"wave $wave: articles rows $n, metrics inserted $inserted, manifest $manifest"
    val mismatched = arts.select("url", "content")
      .join(pages.select("url", "text"), Seq("url"), "left")
      .where(col("text").isNull || col("content") =!= col("text")).count()
    if (mismatched > 0)
      errs += s"wave $wave: $mismatched stored articles differ from their page text"
    val all = store.readDeltas(spark, "articles", wave).get
      .agg(count(lit(1)), countDistinct("url")).head()
    if (all.getLong(0) != all.getLong(1))
      errs += s"wave $wave: ${all.getLong(0) - all.getLong(1)} urls stored twice"
    (errs.result(), dg, all.getLong(0))
  }

  /** Files and bytes under the store root. */
  def storeSize(root: String): (Long, Long) = {
    val s = Files.walk(Paths.get(root))
    try {
      var files = 0L; var bytes = 0L
      s.filter(Files.isRegularFile(_)).forEach { p => files += 1; bytes += Files.size(p) }
      (files, bytes)
    } finally s.close()
  }

  /** Wall of the store reads the next wave plans (each lists its files
    * and reads parquet footers eagerly). */
  def readPlanSeconds(spark: SparkSession, store: SnapshotStore, wave: Int,
      cc: CrawlConfig): Double = {
    val all = 0 until cc.hostBuckets * cc.salt
    val t0 = System.nanoTime()
    store.read(spark, "state", wave)
    store.read(spark, "seen", wave)
    store.readBuckets(spark, "seenurls", wave, all)
    val evict = wave + 1 - cc.recrawlAfterWaves
    if (cc.recrawlAfterWaves > 0 && evict >= 0)
      store.readWaveBuckets(spark, "seenurls", evict, all)
    (System.nanoTime() - t0) / 1e9
  }

  def storeRow(spark: SparkSession, store: SnapshotStore, wave: Int,
      articles: Long, cc: CrawlConfig): Map[String, Any] = {
    val (files, bytes) = storeSize(store.root)
    Map("wave" -> wave, "files" -> files, "mb" -> bytes / 1e6,
      "articles" -> articles,
      "bytes_per_article" -> (if (articles > 0) bytes.toDouble / articles else 0.0),
      "read_plan_s" -> readPlanSeconds(spark, store, wave, cc))
  }

  /** Replays the seen cascade of committed wave `wave`: its fetched URLs
    * against the sketches carried into it, counting Bloom and Cuckoo
    * positives separately, then the exact check of the maybe-seen URLs
    * against the committed `seenurls` inside the recrawl-TTL window. */
  def seenReplay(spark: SparkSession, store: SnapshotStore, wave: Int,
      pages: Dataset[Page], cc: CrawlConfig): Map[String, Any] = {
    import spark.implicits._
    val fetched = store.read(spark, "frontier", wave).select("url", "host", "seq")
      .join(pages.select("url"), Seq("url"), "left_semi").as[UrlRef].collect()
    val prev = wave - 1
    val sketches =
      if (prev >= 0 && store.isCommitted(prev))
        store.read(spark, "seen", prev).as[SeenSketch].collect().toSeq
      else Seq.empty
    val t0 = System.nanoTime()
    val keyed = fetched.toSeq
      .map(r => (SeenFilter.urlBucket(r.url, cc.hostBuckets, cc.salt), r)).toDS()
    val bucketSketches = sketches
      .map(s => SeenFilter.BucketSketch(s.bucket, s.bloom, Option(s.cuckoo))).toDS()
    val maybeUrls = SeenFilter.probe(keyed, bucketSketches)
      .where($"_2").select($"_1.url".as("url")).as[String].collect()
    val exactHits =
      if (maybeUrls.isEmpty || prev < 0) 0L
      else store.readBuckets(spark, "seenurls", prev, 0 until cc.hostBuckets * cc.salt).map { df =>
        val live = if (cc.recrawlAfterWaves > 0) df.where($"wave" > wave - cc.recrawlAfterWaves) else df
        live.select("url").distinct().join(maybeUrls.toSeq.toDF("url"), "url").count()
      }.getOrElse(0L)
    val probeS = (System.nanoTime() - t0) / 1e9
    val filters = sketches.map(s => s.bucket ->
      (s.bloom.map(BloomFilter.deserialize), Option(s.cuckoo).map(CuckooFilter.deserialize))).toMap
    var bloomPos = 0L; var cuckooPos = 0L
    fetched.foreach { r =>
      val h = BloomFilter.hash64(r.url)
      filters.get(SeenFilter.urlBucket(r.url, cc.hostBuckets, cc.salt)).foreach { case (b, c) =>
        if (b.exists(_.mightContain(h))) bloomPos += 1
        if (c.exists(_.contains(h))) cuckooPos += 1
      }
    }
    Map("wave" -> wave, "probed" -> fetched.length.toLong, "bloom_pos" -> bloomPos,
      "cuckoo_pos" -> cuckooPos, "maybe" -> maybeUrls.length.toLong,
      "exact_hits" -> exactHits, "probe_s" -> probeS)
  }

  /** Single-thread throughput (items/s) of `body` over `n` items: one
    * warm pass, then passes until at least `minSeconds` have run. */
  private def rate(n: Int, minSeconds: Double = 0.3)(body: => Unit): Double = {
    body
    var passes = 0
    val t0 = System.nanoTime()
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < minSeconds) { body; passes += 1 }
    n.toDouble * passes / ((System.nanoTime() - t0) / 1e9)
  }

  @volatile private var sink = 0L

  /** graft.core kernel throughputs on inputs sampled from the workload's
    * own pages. */
  def kernels(spark: SparkSession, pages: Dataset[Page], fx: FixtureCfg): Map[String, Double] = {
    import spark.implicits._
    val sample = pages.where(col("url").contains("/a/") && pmod(xxhash64(col("url")), lit(40)) === 0)
      .select("html").as[Array[Byte]].collect().take(300)
    val homes = pages.where(col("text") === "" && !col("url").contains("/api/"))
      .select("url", "html").as[(String, Array[Byte])].collect()
      .map { case (u, h) => (u, CharsetDetect.decode(h)) }
    val perHost = 100
    val hrefs = (0 until fx.nHosts).flatMap(i =>
      (0 until perHost).map(j => (FixtureGen.homeUrl(i), FixtureGen.messyHref(fx, i, j))))
    val urls = hrefs.map { case (b, h) => UrlCanon.canonicalize(UrlCanon.resolve(b, h)) }.toArray
    val policies = (0 until fx.nHosts).map(i => RobotsTxt.parse(FixtureGen.robotsTxtFor(i), "graftbot"))
    val paths = urls.map(WaveEngine.pathOf)
    val bloom = BloomFilter.create(urls.length.toLong, 0.01)
    val cuckoo = CuckooFilter.create(urls.length)
    urls.indices.foreach { k => if (k % 2 == 0) { bloom.putString(urls(k)); cuckoo.insertString(urls(k)) } }
    val items = homes.map { case (u, h) => CatalogDetect.detect(h, u).size }.sum
    Map(
      "extract_docs_per_s" -> rate(sample.length) {
        sample.foreach(b => sink += RuleEngine.parseArticle(CharsetDetect.decode(b), None).content.length)
      },
      "catalog_items_per_s" -> rate(items) {
        homes.foreach { case (u, h) => sink += CatalogDetect.detect(h, u).size }
      },
      "canon_urls_per_s" -> rate(hrefs.size) {
        hrefs.foreach { case (b, h) => sink += UrlCanon.canonicalize(UrlCanon.resolve(b, h)).length }
      },
      "robots_checks_per_s" -> rate(paths.length) {
        var k = 0
        while (k < paths.length) { if (policies(k / perHost).allows(paths(k))) sink += 1; k += 1 }
      },
      "bloom_probes_per_s" -> rate(urls.length) {
        urls.foreach(u => if (bloom.mightContainString(u)) sink += 1)
      },
      "cuckoo_probes_per_s" -> rate(urls.length) {
        urls.foreach(u => if (cuckoo.containsString(u)) sink += 1)
      })
  }
}
