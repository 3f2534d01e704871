package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.crawl.{Crawl, CrawlConfig, CrawlRound, StateCatalog, TokenBucket}
import graft.functions.CrawlUdfs
import graft.functions.UrlExpressions.canonicalize_url
import graft.operators.{HostTopK, Ranks}

/**
 * Timed replays of single layers over one finished crawl's committed data.
 * Each replay pins its input first (untimed), then times only the layer's own
 * public function, written to a noop sink, and reports the median of `reps`.
 */
final class Replay(spark: SparkSession, catalog: StateCatalog, cfg: CrawlConfig, cores: Int,
    reps: Int) {

  private def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timed(body: => Unit): Double = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    Stats.median(ts)
  }

  private def pinned(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

  def run(): Map[String, Double] = {
    val load = (t: String) => catalog.load(spark, t).get
    val fetched = Crawl.fullFetchLog(spark, catalog).filter(col("status") === 200)
      .select("canon_url")
    val pages = pinned(load("pages_canon").join(fetched, Seq("canon_url"))
      .select(col("canon_url"), col("html")))
    val htmlMb = pages.agg(sum(length(col("html")))).head().getLong(0) / 1e6

    // html: the fused text+links parse the round runs on every fetched page
    val parseS = timed(sink(pages.select(CrawlUdfs.parse_page(col("html"), col("canon_url")).as("p"))))

    // urls: canonicalization of every outlink those pages carry
    val links = pinned(pages.select(explode(
      CrawlUdfs.parse_page(col("html"), col("canon_url")).getField("links")).as("raw_url")))
    val canonS = timed(sink(links.select(canonicalize_url(col("raw_url")))))

    // sketch: two per-partition deltas over the seen set, merged
    val seen = pinned(load("url_seen_exact"))
    val half = pmod(xxhash64(col("canon_url")), lit(2)) === 0
    val buildS = timed(sink(Crawl.mergeSketches(
      Crawl.buildSketchDelta(spark, seen.filter(half), cfg),
      Crawl.buildSketchDelta(spark, seen.filter(!half), cfg))))

    // operators over the final frontier: host budget, global rank, schedule
    val frontier = pinned(load("frontier"))
    val topkS = timed(sink(HostTopK.hostTopK(frontier, cfg.hostBudget)))
    val seqS = timed {
      val (out, sorted, _) = Ranks.globalSeqCachedWithCount(
        frontier.withColumn("priority", CrawlRound.priorityCol), "seq",
        Seq(col("priority").asc), cfg.numPartitions)
      try sink(out) finally sorted.unpersist()
    }
    val ranked = pinned(HostTopK.hostTopK(frontier, cfg.hostBudget)
      .withColumn("crawl_delay_ms", lit(null).cast("long")))
    val schedS = timed(sink(TokenBucket.scheduleByRankDelay(ranked, cfg.burst, cfg.ratePerSec)))

    Seq(pages, links, seen, frontier, ranked).foreach(_.unpersist())
    Map(
      "html.parse_s" -> parseS,
      "html.parse_mb_per_core_s" -> htmlMb / (parseS * cores),
      "urls.canon_s" -> canonS,
      "sketch.build_s" -> buildS,
      "operators.host_topk_s" -> topkS,
      "operators.global_seq_s" -> seqS,
      "operators.schedule_s" -> schedS)
  }
}
