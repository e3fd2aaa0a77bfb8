package perfbench

import graft.crawl._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

/** `recrawl`: the steady-state cadence of an incremental crawl. Set-up
  * generates the inputs and commits waves 0 (the first crawl of the seed
  * list) and 1. Each block then runs small waves from wave 2 on, with the
  * recrawl TTL (two waves) and digest revalidation on, while the churn
  * catalog re-lists a share of every host's older articles. So every
  * timed wave evicts the urls of the wave that expires from the carried
  * Cuckoo, revalidates the expired urls it re-lists against their stored
  * digests, and runs the exact anti-join against the live previous wave.
  * Between blocks the store is rolled back to wave 1, so every block
  * measures the same waves. A traced block runs three waves, so the
  * store-growth rows span several waves. */
final class Recrawl(h: Harness, seed: Long, work: String) extends Workload {
  private val spark = h.spark
  import spark.implicits._

  val fx = FixtureCfg(nHosts = 30, baseArticles = 30, growthPerWave = 3,
    hotHostFactor = 10, seed = seed)
  val prebuilt = 1 // last wave set-up commits
  val lastWave = prebuilt + 3 // last wave a traced block runs
  val cc = CrawlConfig(maxPerHostPerWave = fx.baseArticles * fx.hotHostFactor,
    expectedUrlsPerBucket = 4096, cuckooCapacityPerBucket = 4096,
    recrawlAfterWaves = 2, revalidateOnRecrawl = true)
  private val churn = new ChurnCatalog(fx, seed, permille = 50)
  private val hosts = FixtureGen.hosts(spark, fx)
  private val robots = FixtureGen.robots(spark, fx)
  private var articles: Dataset[Page] = _
  private var store: SnapshotStore = _
  private var step = 0

  private def pagesAt(w: Int): Dataset[Page] =
    articles.unionByName(churn.homes(w).toDS())

  override def inputs(rep: Int): Unit = {
    // every article any wave of a block can list, written once
    articles = FixtureGen.pagesParquet(spark, fx, lastWave, s"$work/pages-$rep")
      .where(col("url").contains("/a/"))
    if (rep > 0) Harness.deleteTree(s"$work/pages-${rep - 1}")
  }

  def prebuild(): Unit = {
    store = new SnapshotStore(s"$work/store")
    (0 to prebuilt).foreach(w => WaveEngine.runWave(spark, store, pagesAt(w), hosts, robots, w, cc))
  }

  def fingerprint: String = CrawlLayers.inputFingerprint(
    articles.unionByName((0 to lastWave).flatMap(churn.homes).toDS()), hosts, robots)

  /** Back to the pre-built store, dropping the later waves' files. */
  private def reset(): Unit = {
    store.rollbackTo(prebuilt)
    val tables = java.nio.file.Files.list(java.nio.file.Paths.get(store.root, "data"))
    try tables.forEach { t =>
      (prebuilt + 1 to lastWave).foreach(w => Harness.deleteTree(t.resolve(s"wave=$w").toString))
    } finally tables.close()
  }

  def block(b: Int, traced: Boolean): Unit = {
    if (b > 0) reset()
    (prebuilt + 1 to (if (traced) lastWave else prebuilt + 1)).foreach { w =>
      val pages = pagesAt(w)
      val (res, t) = h.timed(WaveEngine.runWave(spark, store, pages, hosts, robots, w, cc))
      res match {
        case Right(r) =>
          val (errs, dg, total) = CrawlLayers.checkWave(spark, store, w, pages)
          h.record("wave", s"wave$w", step, traced, t, r.inserted + r.deduped, errs, dg)
          if (traced) {
            h.addRow("store", CrawlLayers.storeRow(spark, store, w, total, cc))
            h.addRow("seen", CrawlLayers.seenReplay(spark, store, w, pages, cc))
          }
        case Left(e) =>
          h.record("wave", s"wave$w", step, traced, t, 0L, Seq(Harness.errorText(e)), "")
      }
      step += 1
    }
  }

  override def traceExtras(): Map[String, Any] =
    Map("core" -> CrawlLayers.kernels(spark, pagesAt(lastWave), fx))
}
