package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Bench
import graft.crawl.{Crawl, CrawlConfig, CrawlRound, HadoopSnapshotCatalog, StateCatalog}

/** One crawl workload: the corpus it reads and the crawl it runs. */
final case class Workload(name: String, pages: Long, textScale: Int, nSeeds: Int, rounds: Int,
    cfg: CrawlConfig)

object Workload {
  /** `bench` sizes keep one run near a minute on 4 cores; `full` sizes are
    * the original bench-crawl shapes (60k pages, n/8 seeds, 3 rounds is
    * `Bench.crawlBench`'s crawl object), kept for reproducing its counts.
    *
    * At bench size a round's fixed cost (about 44 jobs and a commit) is
    * ~4 s on 4 cores whatever the round holds, so `crawl_bulk` packs its
    * parse work into two wide rounds (seeds = half the corpus) instead of
    * three narrow ones, and `crawl_rounds` starts from 512 seeds so its
    * three rounds already fetch hundreds of pages under the budgets. */
  def apply(name: String, scale: String, cores: Int): Workload = {
    val full = scale == "full"
    name match {
      case "crawl_bulk" =>
        val pages = if (full) 60000L else 3000L
        Workload(name, pages, textScale = 128,
          nSeeds = if (full) math.max(64, (pages / 8).toInt) else (pages / 2).toInt,
          rounds = if (full) 3 else 2, cfg = Bench.benchCfg(cores))
      case "crawl_rounds" =>
        Workload(name, pages = 20000L, textScale = 1, nSeeds = if (full) 64 else 512,
          rounds = if (full) 10 else 3,
          cfg = Bench.benchCfg(cores).copy(hostBudget = 8, roundBudget = 2048))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}

/** Per-round output check: counters plus an order-free digest of the round's
  * committed fetch_log rows. */
final case class RoundCheck(round: Int, fetched: Long, discovered: Long, enqueued: Long,
    digest: String) {
  def json: String = Json.arr(Seq(round.toString, fetched.toString, discovered.toString,
    enqueued.toString, Json.str(digest)))
}

final case class Iter(index: Int, traced: Boolean, setupS: Double, crawlS: Double,
    fetched: Long, discovered: Long, cachedMb: Double, checks: Seq[RoundCheck],
    failedRounds: Int, errors: Seq[String], layers: Map[String, Double]) {
  def urlsPerS: Double = (fetched + discovered) / crawlS
  def json: String = Json.obj(Seq(
    "i" -> index.toString, "traced" -> traced.toString,
    "setup_s" -> Json.num(setupS), "crawl_s" -> Json.num(crawlS),
    "urls_per_s" -> Json.num(urlsPerS), "cached_mb_peak" -> Json.num(cachedMb),
    "fetched" -> fetched.toString, "discovered" -> discovered.toString,
    "failed_rounds" -> failedRounds.toString,
    "errors" -> Json.arr(errors.map(Json.str)),
    "rounds" -> Json.arr(checks.map(_.json))))
}

/**
 * Crawl benchmark main. Drives the engine only through `Crawl.bootstrap`,
 * `Crawl.openState` and `Crawl.runRounds` on a `Bench.session`, one client,
 * closed loop: an untimed warm-up crawl, then bootstrap, open, crawl, check,
 * repeated until `--seconds` of measured time have passed, then one more
 * bootstrap + open. Every iteration starts from a fresh catalog.
 *
 * `--trace 1` runs plain, traced, plain iterations (listener + timing
 * catalog wrapper) and then replays single layers over the traced crawl's
 * committed data; it reports per-layer metrics and the tracing overhead.
 * Writes one JSON result to `--out`.
 */
object CrawlBench {

  /** Units of the per-layer metrics that are not seconds. */
  val LayerUnits: Map[String, String] = Map(
    "loop.jobs_per_round" -> "count", "loop.exec_busy" -> "ratio",
    "catalog.commit_jobs_per_round" -> "count", "catalog.load_files_max" -> "count",
    "catalog.write_mb" -> "MB", "round.shuffle_mb" -> "MB", "round.spill_mb" -> "MB",
    "round.skew" -> "ratio", "html.parse_mb_per_core_s" -> "MB/core-s",
    "sketch.might_ratio" -> "ratio", "sketch.useful_ratio" -> "ratio", "sketch.fpr" -> "ratio",
    "jvm.heap_peak_mb" -> "MB")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path, pins: Option[Path], scale: String, cores: Int, maxWallS: Double)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(
      workload = m("workload"), seed = m.getOrElse("seed", "42").toLong,
      seconds = m.getOrElse("seconds", "10").toDouble, trace = m.getOrElse("trace", "0") == "1",
      work = Paths.get(m("work")), out = Paths.get(m("out")), pins = m.get("pins").map(Paths.get(_)),
      scale = m.getOrElse("scale", "bench"), cores = m.getOrElse("cores", "4").toInt,
      maxWallS = m.getOrElse("max-wall-s", "140").toDouble)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workload(o.workload, o.scale, o.cores)
    val spark = Bench.session(o.cores)
    val sc = spark.sparkContext
    val cache = new CacheTracker
    sc.addSparkListener(cache)
    val trace = if (o.trace) Some(new TaskTrace) else None
    trace.foreach(sc.addSparkListener)
    try {
      val g0 = System.nanoTime()
      val corpus = Corpus.ensure(spark, o.work.resolve("corpus"),
        Corpus.Spec(o.seed, wl.pages, wl.textScale, o.cores, wl.nSeeds), keep = 24)
      System.err.println(f"[perfbench] corpus ready in ${(System.nanoTime() - g0) / 1e9}%.1fs")
      val json = new Runner(spark, wl, corpus, o, cache, trace).run()
      Files.write(o.out, json.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  /** Reference per-round checks for (workload, scale, seed), if pinned. */
  def pinsFor(path: Option[Path], wl: Workload, scale: String, seed: Long): Option[Seq[RoundCheck]] =
    path.filter(Files.exists(_)).flatMap { p =>
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
      Option(root.get(s"${wl.name}@$scale")).flatMap(w => Option(w.get(seed.toString))).map { rs =>
        (0 until rs.size).map { i =>
          val r = rs.get(i)
          RoundCheck(r.get(0).asInt, r.get(1).asLong, r.get(2).asLong, r.get(3).asLong,
            r.get(4).asText)
        }
      }
    }

  private final class Runner(spark: SparkSession, wl: Workload, corpus: Path, o: Opts,
      cache: CacheTracker, trace: Option[TaskTrace]) {
    private val sc = spark.sparkContext
    private val cfg = wl.cfg
    private val catRoot = o.work.resolve("catalogs")
    private val pinned = pinsFor(o.pins, wl, o.scale, o.seed)
    private var reference: Option[Seq[RoundCheck]] = pinned
    private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

    def run(): String = {
      val t0 = System.nanoTime()
      def wall = (System.nanoTime() - t0) / 1e9
      val iters = scala.collection.mutable.ArrayBuffer.empty[Iter]
      var lastTracedCatalog: Option[Path] = None
      var measured = 0.0
      // traced runs go plain, traced, plain: the first crawl after the
      // warm-up is the slowest, and the overhead compares across it
      def enough: Boolean = measured >= o.seconds && iters.size >= (if (o.trace) 3 else 1)
      warmUp()
      var i = 0
      // each iteration must fit in what remains of the wall budget: stop when
      // the slowest one so far would overrun it
      def fits: Boolean = iters.isEmpty ||
        wall + iters.map(it => it.setupS + it.crawlS).max * 1.5 < o.maxWallS
      while (!enough && fits && !iters.exists(_.errors.nonEmpty)) {
        val traced = o.trace && i % 2 == 1
        val it = iteration(i, traced)
        iters += it
        measured += it.setupS + it.crawlS
        if (traced) {
          lastTracedCatalog.foreach(Fs.deleteTree)
          lastTracedCatalog = Some(catRoot.resolve(s"i$i"))
        } else Fs.deleteTree(catRoot.resolve(s"i$i"))
        i += 1
      }
      // set-up alone is cheap next to a crawl: one more keeps setup_s a
      // median of two samples when a single crawl fills the run
      val setups = if (o.trace) Nil else Seq(setupOnly())
      val replay = lastTracedCatalog.map { dir =>
        try new Replay(spark, new HadoopSnapshotCatalog(dir.toString), cfg, o.cores, reps = 3).run()
        finally Fs.deleteTree(dir)
      }
      Fs.deleteTree(catRoot)
      if (o.trace) writeSpans()
      result(iters.toSeq, setups, replay.getOrElse(Map.empty))
    }

    private def setupOnly(): Double = {
      val dir = catRoot.resolve("setup")
      Fs.deleteTree(dir)
      val catalog = new HadoopSnapshotCatalog(dir.toString)
      val s0 = System.nanoTime()
      bootstrap(catalog)
      Crawl.openState(spark, catalog, cfg, eager = true).close()
      val setupS = (System.nanoTime() - s0) / 1e9
      spark.catalog.clearCache()
      Fs.deleteTree(dir)
      note(f"set-up only: ${setupS}%.2fs")
      setupS
    }

    /** Untimed, unchecked one-round crawl on the run's corpus: a JVM's first
      * crawl pays class loading, JIT and codegen in every layer it touches
      * (measured: setup 2-3x and crawl ~1.3x a warm iteration's). */
    private def warmUp(): Unit = {
      val t0 = System.nanoTime()
      val dir = catRoot.resolve("warmup")
      Fs.deleteTree(dir)
      val catalog = new HadoopSnapshotCatalog(dir.toString)
      bootstrap(catalog)
      val st = Crawl.openState(spark, catalog, cfg, eager = true)
      try Crawl.runRounds(spark, catalog, cfg, 1, st) finally st.close()
      spark.catalog.clearCache()
      Fs.deleteTree(dir)
      note(f"warm-up ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }

    private def bootstrap(catalog: StateCatalog): Unit =
      Crawl.bootstrap(spark, catalog, spark.read.parquet(corpus.resolve("pages.parquet").toString),
        spark.read.parquet(corpus.resolve("robots.parquet").toString), Corpus.readSeeds(corpus), cfg)

    private def note(msg: String): Unit = System.err.println(s"[perfbench] ${wl.name}: $msg")

    private def iteration(i: Int, traced: Boolean): Iter = {
      val dir = catRoot.resolve(s"i$i")
      Fs.deleteTree(dir)
      val base = new HadoopSnapshotCatalog(dir.toString)
      val tcat = if (traced) Some(new TracingCatalog(base)) else None
      val catalog: StateCatalog = tcat.getOrElse(base)
      val errors = scala.collection.mutable.ArrayBuffer.empty[String]

      val s0 = System.nanoTime()
      val s0ms = System.currentTimeMillis()
      bootstrap(catalog)
      val st = Crawl.openState(spark, catalog, cfg, eager = true)
      val setupS = (System.nanoTime() - s0) / 1e9

      SparkInternals.drain(sc)
      cache.resetPeak()
      trace.foreach { t => t.clear(); t.recording = traced }
      val jvm = if (traced) Some(new JvmWindow) else None
      jvm.foreach(_.start())
      val w0 = System.currentTimeMillis()
      val c0 = System.nanoTime()
      val results = try Crawl.runRounds(spark, catalog, cfg, wl.rounds, st)
      catch {
        case e: Throwable =>
          errors += s"runRounds threw ${e.getClass.getName}: ${e.getMessage}"
          Nil
      } finally st.close()
      val crawlS = (System.nanoTime() - c0) / 1e9
      val w1 = System.currentTimeMillis()
      jvm.foreach(_.stop())
      SparkInternals.drain(sc)
      trace.foreach(_.recording = false)
      val cachedMb = cache.peakBytes / 1e6

      val (checks, seqErrors) = if (errors.isEmpty) roundChecks(base) else (Nil, Nil)
      var failed = if (errors.nonEmpty) wl.rounds else 0
      if (errors.isEmpty) {
        val expect = reference.getOrElse(checks)
        if (reference.isEmpty) reference = Some(checks)
        if (checks.size != expect.size)
          errors += s"crawl ran ${checks.size} rounds, reference has ${expect.size}"
        checks.zipAll(expect, null, null).foreach { case (got, want) =>
          val r = Option(got).orElse(Option(want)).map(_.round).getOrElse(-1)
          val res = results.find(_.round == r)
          val bad =
            if (got != want) Some(s"round $r: got $got, reference $want")
            else if (res.exists(_.textMismatches != 0))
              Some(s"round $r: ${res.get.textMismatches} text mismatches")
            else if (res.forall(x => x.fetched != got.fetched || x.discovered != got.discovered ||
                x.enqueued != got.enqueued)) Some(s"round $r: result counters disagree with the log")
            else None
          bad.foreach { b => errors += b; failed += 1 }
        }
        errors ++= seqErrors
        if (errors.nonEmpty && failed == 0) failed = wl.rounds
      }

      val layers = tcat.map(t => layerMetrics(t, results, s0ms, w0, w1, crawlS, jvm.get, i))
        .getOrElse(Map.empty)
      spark.catalog.clearCache()
      errors.foreach(e => note(s"iteration $i: $e"))
      note(f"iteration $i${if (traced) " (traced)" else ""}: setup ${setupS}%.2fs crawl ${crawlS}%.2fs")
      Iter(i, traced, setupS, crawlS, results.map(_.fetched).sum, results.map(_.discovered).sum,
        cachedMb, checks, failed, errors.toSeq, layers)
    }

    /** Per-round counters and digest read back from the committed state,
      * plus fetch_seq density: seq is global, so round r's rows must be
      * exactly the range after everything fetched before it. */
    private def roundChecks(catalog: StateCatalog): (Seq[RoundCheck], Seq[String]) = {
      val log = Crawl.fullFetchLog(spark, catalog)
      val h = xxhash64(log.columns.map(col).toIndexedSeq: _*)
      val per = log.groupBy("round").agg(count(lit(1)), min("fetch_seq"), max("fetch_seq"),
          sum(shiftrightunsigned(h, 32)), sum(h.bitwiseAND(0xffffffffL)))
        .collect().map(r => r.getInt(0) -> r).toMap
      var before = 0L
      val seqErrors = scala.collection.mutable.ArrayBuffer.empty[String]
      val checks = (1 to catalog.latestRound.getOrElse(0)).map { r =>
        val m = catalog.metricsOf(r)
        val digest = per.get(r).map { x =>
          val n = x.getLong(1)
          if (x.getLong(2) != before || x.getLong(3) != before + n - 1)
            seqErrors += s"round $r: fetch_seq ${x.getLong(2)}..${x.getLong(3)} is not dense after $before rows"
          before += n
          f"$n%x-${x.getLong(4)}%x-${x.getLong(5)}%x"
        }.getOrElse("none")
        RoundCheck(r, m.getOrElse("fetched", -1L), m.getOrElse("discovered", -1L),
          m.getOrElse("enqueued", -1L), digest)
      }
      (checks, seqErrors.toSeq)
    }

    /** Union length of [start, end) intervals clipped to [w0, w1). */
    private def covered(iv: Seq[(Long, Long)], w0: Long, w1: Long): Long = {
      val c = iv.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }.filter(x => x._1 < x._2)
        .sortBy(_._1)
      var total = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      c.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) total += ce - cs
      total
    }

    private def layerMetrics(tcat: TracingCatalog, results: Seq[CrawlRound.RoundResult],
        s0: Long, w0: Long, w1: Long, crawlS: Double, jvm: JvmWindow, i: Int): Map[String, Double] = {
      val t = trace.get
      val commitGroup = "graft-commit-r"
      val jobs = t.jobs.filter(j => j.start >= w0 && j.start <= w1)
      // commit round of each SQL execution that ran a commit write
      val commitExec = jobs.filter(j => j.group.startsWith(commitGroup) && j.exec.nonEmpty)
        .map(j => j.exec -> j.group.stripPrefix(commitGroup).toInt).toMap
      def commitRound(group: String, exec: String): Option[Int] =
        if (group.startsWith(commitGroup)) Some(group.stripPrefix(commitGroup).toInt)
        else commitExec.get(exec)
      val nRounds = math.max(1, results.size).toDouble
      val (commitJobs, computeJobs) = jobs.partition(j => commitRound(j.group, j.exec).isDefined)
      val tasks = t.tasks
      val (commitTasks, computeTasks) = tasks.partition(k => commitRound(k.group, k.exec).isDefined)
      val commits = tcat.commits.filter(_.round >= 1).sortBy(_.start)
      val windowMs = (w1 - w0).toDouble

      val cadence = commits.map(_.start).sliding(2).collect { case Seq(a, b) => (b - a) / 1e3 }.toSeq
      val computeIv = computeJobs.map(j => (j.start, if (j.end < 0) w1 else j.end))
      val exposed = commits.map { c =>
        (c.end - c.start) - covered(computeIv, c.start, c.end)
      }.sum / 1e3
      val taskIv = tasks.map(k => (k.launch, k.finish))
      val busyMs = tasks.map(k => k.finish - k.launch).sum.toDouble
      val stageTotals = computeTasks.groupBy(_.stage).values.toSeq
      val taskTotal = computeTasks.map(_.runMs).sum.toDouble
      // skew over the stages that carry at least 1% of the round's task time
      val skews = stageTotals.filter(s => s.size >= 2 && s.map(_.runMs).sum >= 0.01 * taskTotal)
        .map { s =>
          val run = s.map(_.runMs.toDouble)
          run.max / math.max(1.0, Stats.median(run))
        }
      val sum = (f: CrawlRound.RoundResult => Long) => results.map(f).sum.toDouble
      val discovered = sum(_.discovered)
      val might = discovered - sum(_.dedupedBloomDefinite)
      val trulySeen = sum(_.dedupedExact)
      def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

      // spans: set-up and crawl, their loads and commits, the crawl's jobs
      // (a compute job belongs to the round after the last commit that
      // started before it)
      val (setupName, iterName) = (s"setup#$i", s"crawl#$i")
      spans += Span(setupName, s0, w0, "", 0)
      spans += Span(iterName, w0, w1, "", -1)
      def phase(start: Long) = if (start < w0) setupName else iterName
      tcat.loads.foreach(l => spans += Span(s"load ${l.table}", l.start, l.end, phase(l.start), -1))
      tcat.commits.foreach(c =>
        spans += Span(s"commit r${c.round}", c.start, c.end, phase(c.start), c.round))
      jobs.foreach { j =>
        val c = commitRound(j.group, j.exec)
        val r = c.getOrElse(1 + commits.count(_.start <= j.start))
        spans += Span(s"job ${j.id} group=${j.group} exec=${j.exec}", j.start,
          if (j.end < 0) w1 else j.end,
          if (c.isDefined) s"commit r$r" else s"round r$r", r)
      }

      Map(
        "loop.round_s_p50" -> (if (cadence.isEmpty) crawlS else Stats.median(cadence)),
        "loop.jobs_per_round" -> jobs.size / nRounds,
        "loop.exec_busy" -> busyMs / (windowMs * o.cores),
        "loop.driver_gap_s" -> (windowMs - covered(taskIv, w0, w1)) / 1e3,
        "catalog.commit_s_p50" ->
          (if (commits.isEmpty) 0.0 else Stats.median(commits.map(c => (c.end - c.start) / 1e3))),
        "catalog.commit_exposed_s" -> exposed,
        "catalog.commit_jobs_per_round" -> commitJobs.size / nRounds,
        "catalog.load_files_max" -> tcat.loads.filter(l => l.start >= w0)
          .map(_.dirs.toDouble).maxOption.getOrElse(0.0),
        "catalog.write_mb" -> commitTasks.map(_.bytesWritten).sum / 1e6,
        "catalog.bootstrap_commit_s" -> tcat.commits.filter(_.round == 0)
          .map(c => (c.end - c.start) / 1e3).headOption.getOrElse(0.0),
        "round.task_s" -> taskTotal / 1e3,
        "round.shuffle_mb" -> computeTasks.map(_.shuffleWrite).sum / 1e6,
        "round.spill_mb" -> computeTasks.map(_.diskSpill).sum / 1e6,
        "round.skew" -> skews.maxOption.getOrElse(1.0),
        "round.gc_s" -> computeTasks.map(_.gcMs).sum / 1e3,
        "sketch.might_ratio" -> ratio(might, discovered),
        "sketch.useful_ratio" -> ratio(trulySeen, might),
        "sketch.fpr" -> ratio(might - trulySeen, discovered - trulySeen),
        "jvm.gc_s" -> jvm.gcSeconds,
        "jvm.heap_peak_mb" -> jvm.heapLiveMb)
    }

    private def writeSpans(): Unit = {
      val dir = o.work.resolve("trace")
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"${wl.name}_s${o.seed}.spans.jsonl"),
        spans.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }

    private def result(iters: Seq[Iter], setups: Seq[Double], replay: Map[String, Double]): String = {
      val plain = iters.filterNot(_.traced)
      val traced = iters.filter(_.traced)
      def med(xs: Seq[Iter], f: Iter => Double) = if (xs.isEmpty) Double.NaN else Stats.median(xs.map(f))
      val e2e: Seq[(String, Iter => Double, String)] = Seq(
        ("setup_s", _.setupS, "s"), ("crawl_s", _.crawlS, "s"),
        ("urls_per_s", _.urlsPerS, "url/s"), ("cached_mb_peak", _.cachedMb, "MB"))
      def metric(v: Double, unit: String) = Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      val metrics: Seq[(String, String)] =
        if (!o.trace) e2e.map {
          case ("setup_s", f, u) => "setup_s" -> metric(Stats.median(setups ++ plain.map(f)), u)
          case (n, f, u) => n -> metric(med(plain, f), u)
        }
        else {
          def unitOf(n: String) = LayerUnits.getOrElse(n, "s")
          val layerNames = traced.headOption.map(_.layers.keys.toSeq.sorted).getOrElse(Nil)
          val layers = layerNames.map(n => n -> Stats.median(traced.map(_.layers(n))))
          // tracing's cost on each end-to-end metric, positive = worse
          val plainSetup = Stats.median(setups ++ plain.map(_.setupS))
          val overhead = e2e.map { case (n, f, u) =>
            val base = if (n == "setup_s") plainSetup else med(plain, f)
            val cost = if (n == "urls_per_s") base - med(traced, f) else med(traced, f) - base
            s"trace.overhead.$n" -> metric(cost, u)
          }
          (layers ++ replay.toSeq.sortBy(_._1)).map { case (n, v) => n -> metric(v, unitOf(n)) } ++
            overhead
        }
      val attempted = iters.size * wl.rounds
      val failed = iters.map(_.failedRounds).sum
      val detail = Json.obj(Seq(
        "workload" -> Json.str(wl.name), "seed" -> o.seed.toString, "scale" -> Json.str(o.scale),
        "pages" -> wl.pages.toString, "text_scale" -> wl.textScale.toString,
        "seeds" -> wl.nSeeds.toString, "rounds" -> wl.rounds.toString,
        "host_budget" -> wl.cfg.hostBudget.toString, "round_budget" -> wl.cfg.roundBudget.toString,
        "partitions" -> wl.cfg.numPartitions.toString,
        "sketch_delivery" -> Json.str(wl.cfg.sketchDelivery),
        "pinned" -> pinned.isDefined.toString,
        "jvm" -> Json.obj(Seq(
          "java" -> Json.str(sys.props("java.version")), "spark" -> Json.str(spark.version),
          "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
          "processors" -> Runtime.getRuntime.availableProcessors.toString,
          "gc" -> Json.arr(java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
            .toArray.toSeq.map(b => Json.str(b.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName))))),
        "setup_only_s" -> Json.arr(setups.map(Json.num)),
        "iterations" -> Json.arr(iters.map(_.json))))
      Json.obj(Seq(
        "correct" -> (failed == 0 && iters.nonEmpty && iters.forall(_.errors.isEmpty)).toString,
        "attempted" -> math.max(1, attempted).toString, "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics), "detail" -> detail))
    }
  }
}
