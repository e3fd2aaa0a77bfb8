package perfbench

import graft.SparkEntry
import org.apache.spark.sql.Row

/** `analytics`: a fixed mix of `SparkEntry.queries` over the
  * repository's sf0.01 test tables (`documents`, `embeddings`, `events`,
  * copied byte for byte into `perfbench/data/sf0.01`), one query at a
  * time, in a seeded order per pass (a block is one pass); the seed sets
  * only that order. Set-up runs two warm-up passes. The crawl layers
  * are idle here. */
final class Analytics(h: Harness, seed: Long, dir: String) extends Workload {
  private val spark = h.spark
  private val firstDigest = scala.collection.mutable.Map.empty[String, String]

  /** Warm-up: `Analytics.warmPasses` passes over the mix, each in its
    * own seeded order. A query's digest is kept only when every warm-up
    * pass got the same one; the timed passes must match it. */
  def prebuild(): Unit = {
    val got = (0 until Analytics.warmPasses).map { p =>
      new scala.util.Random(seed * 31 - 1 - p).shuffle(Analytics.mix).flatMap { case (q, _) =>
        try Some(q -> Analytics.rowsDigest(SparkEntry.queries(q)(spark, dir).collect()))
        catch { case e: Throwable if scala.util.control.NonFatal(e) => None }
      }.toMap
    }
    Analytics.mix.foreach { case (q, _) =>
      val dgs = got.map(_.get(q))
      if (dgs.forall(_.isDefined) && dgs.distinct.size == 1) firstDigest(q) = dgs.head.get
    }
  }

  def fingerprint: String =
    Seq("documents", "embeddings", "events").map { t =>
      s"$t=${CrawlLayers.digest(spark.read.parquet(s"$dir/$t.parquet"))}"
    }.mkString(";")

  def block(b: Int, traced: Boolean): Unit = {
    val order = new scala.util.Random(seed * 31 + b).shuffle(Analytics.mix)
    order.foreach { case (q, module) =>
      val (res, t) = h.timed(SparkEntry.queries(q)(spark, dir).collect())
      val name = q.takeWhile(_ != '_')
      res match {
        case Right(rows) =>
          val dg = Analytics.rowsDigest(rows)
          val errs =
            if (firstDigest.get(q).contains(dg)) Nil
            else Seq(s"$q: result digest $dg differs from the set-up pass (${firstDigest.getOrElse(q, "failed")})")
          h.record("query", name, b, traced, t, 1L, errs, dg, Map("module" -> module))
        case Left(e) =>
          h.record("query", name, b, traced, t, 1L, Seq(Harness.errorText(e)), "",
            Map("module" -> module))
      }
    }
  }
}

object Analytics {
  /** Warm-up passes in set-up. A fresh JVM's first pass takes more than
    * twice a warm one and the second is still about a fifth above the
    * third, so timing starts at the third pass. */
  val warmPasses = 2

  /** query → roll-up module. Covers every graft.ops module and
    * graft.sources.Warc, and the query-surface items the roadmap names
    * (q63, q81, q82, q85). */
  val mix: Seq[(String, String)] = Seq(
    "q17_events_daily" -> "relational",
    "q19_text_stats" -> "ops.textops",
    "q63_semantic_dedup" -> "ops.dedup",
    "q22_ann_topk" -> "ops.similarity",
    "q81_mirror_hosts" -> "ops.urlops",
    "q82_dust_rules" -> "ops.urlops",
    "q85_soft404" -> "ops.urlops",
    "q95_budget_apportion" -> "ops.linkgraph",
    "q93_kmv_distinct" -> "ops.sketches",
    "q72_warc_read" -> "sources.warc")

  /** Order-insensitive digest of collected rows: row count and the
    * wrapping sum of a 64-bit hash of each row's canonical text. */
  def rowsDigest(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(render(r).getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(md).getLong
    }
    s"${rows.length}:${java.lang.Long.toUnsignedString(acc)}"
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case a: Array[_] => a.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case other => other.toString
  }
}
