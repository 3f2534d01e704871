package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.crawl.{FixtureGen, PageRow}
import graft.functions.UrlExpressions.{host_rev, url_host}

/**
 * Seeded input generator: the crawl corpus of `FixtureGen.Universe(nPages,
 * seed, textScale)`, written with exactly `FixtureGen.write`'s layout
 * (pages hash-partitioned by host and host_rev-sorted, html last; robots;
 * seeds.txt). `FixtureGen.write` itself always uses seed 42, so the layout is
 * repeated here with the universe passed in; for seed 42 the two write the
 * same corpus.
 *
 * Corpora are cached by (seed, pages, textScale, partitions, seeds) under
 * `root`. The marker file is written last, so a corpus left half-written by
 * a killed run is regenerated rather than reused.
 */
object Corpus {

  final case class Spec(seed: Long, nPages: Long, textScale: Int, parts: Int, nSeeds: Int) {
    def key: String = s"s${seed}_n${nPages}_t${textScale}_p${parts}_k$nSeeds"
    def marker: String =
      s"""{"gen":"fixturegen-layout-v1","seed":$seed,"pages":$nPages,"textScale":$textScale,"parts":$parts,"seeds":$nSeeds}"""
  }

  /** Corpus directory for `spec`, generating it when the cache has none.
    * At most `keep` corpora stay cached; older ones are deleted first. */
  def ensure(spark: SparkSession, root: Path, spec: Spec, keep: Int): Path = {
    val dir = root.resolve(spec.key)
    val markerPath = dir.resolve("_marker.json")
    val cached = Files.exists(markerPath) &&
      new String(Files.readAllBytes(markerPath), StandardCharsets.UTF_8) == spec.marker
    if (cached) {
      Files.setLastModifiedTime(markerPath, java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis()))
    } else {
      Files.createDirectories(root)
      evict(root, keep - 1)
      Fs.deleteTree(dir)
      write(spark, dir.toString, FixtureGen.Universe(spec.nPages, spec.seed, spec.textScale),
        spec.nSeeds, spec.parts)
      Files.write(markerPath, spec.marker.getBytes(StandardCharsets.UTF_8))
    }
    dir
  }

  /** Delete the least recently used corpora until at most `keep` remain. */
  private def evict(root: Path, keep: Int): Unit = {
    val corpora = Fs.children(root).filter(p => Files.exists(p.resolve("_marker.json")))
      .sortBy(p => -Files.getLastModifiedTime(p.resolve("_marker.json")).toMillis)
    corpora.drop(math.max(0, keep)).foreach(Fs.deleteTree)
    // partial corpora (no marker) are never reusable
    Fs.children(root).filterNot(p => Files.exists(p.resolve("_marker.json")))
      .foreach(Fs.deleteTree)
  }

  /** `FixtureGen.write`'s layout for an arbitrary universe. */
  def write(spark: SparkSession, dir: String, u: FixtureGen.Universe, nSeeds: Int,
      numPartitions: Int): Unit = {
    import spark.implicits._
    val pages: Dataset[PageRow] = spark.range(u.nPages).map(p => u.pageRow(p))
    val v2 = spark.range(u.nPages).filter(p => u.hasSecondVersion(p)).map(p => u.pageRowV2(p))
    pages.unionByName(v2).toDF()
      .withColumn("__host", url_host(col("url")))
      .repartition(numPartitions, pmod(xxhash64(col("__host")), lit(numPartitions)))
      .sortWithinPartitions(host_rev(col("__host")))
      .drop("__host")
      .select("url", "warc_ts", "text", "lang", "html")
      .write.mode("overwrite").parquet(s"$dir/pages.parquet")

    val robots = (0 until u.nHosts).flatMap(i => u.robotsBody(i).map(b => (u.host(i), b)))
    robots.toDF("host", "robots_body").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/robots.parquet")

    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/seeds.txt"),
      u.seeds(nSeeds).mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  def readSeeds(dir: Path): Seq[String] =
    new String(Files.readAllBytes(dir.resolve("seeds.txt")), StandardCharsets.UTF_8)
      .split("\n").toSeq
}
