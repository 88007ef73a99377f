package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.analysis.Tokenizer
import graft.index.{Build, Codec, Merge, SegmentCache, SegmentStore}
import graft.operators.{DupClusters, IndexOps}
import graft.query.{DistributedRunner, Engine}

/** Benchmark entry point: one run of one workload.
  *
  * A run has three parts:
  *  1. set-up, repeated [[Main.SetupReps]] times and reported as the
  *     median: write the seeded bulk and delta corpora as parquet (after
  *     one small untimed write, so that no repetition pays the JVM's
  *     first Spark job);
  *  2. the recorded window, in the same JVM: the delta corpus built
  *     (the JVM's first build), then a `Build.run` of the bulk corpus,
  *     then the delta published into it with `Merge.disjoint` (the
  *     stream indexer's epoch), then a preloaded
  *     `Engine` on the published index serves the workload's query mix,
  *     first as one closed-loop client, then as `DistributedRunner`
  *     batches of its OR queries on local[nproc - 1]: one untimed, then
  *     timed ones, with a second timed bulk build between the first two;
  *  3. output checks, outside every timed window.
  *
  * `--trace 1` runs the same window with spans around each call into the
  * program and a SparkListener, adds the operator suite ([[Suite]]) to
  * it, and reports the per-layer metrics; its end-to-end numbers are not
  * reported, because tracing perturbs them. */
object Main {

  val K = 250
  val BulkDocs = 2000
  val DeltaDocs = 100
  /** Queries in a workload's mix. */
  val MixQueries = 4000
  /** Untimed client queries first, then timed ones (latency is printed,
    * not bounded). */
  val WarmQueries = 200
  val ClientQueries = 500
  /** OR queries per DistributedRunner batch; one untimed batch, then at
    * least [[Batches]] timed ones, for at least --seconds. */
  val BatchQueries = 200
  val Batches = 2
  val CheckQueries = 24
  val ProbeQueries = 300
  val TokenizeDocs = 200
  val SetupReps = 3
  /** Rounds of the operator suite (traced runs); digests must agree. */
  val SuiteRounds = 2
  /** SegmentCache capacity. The serving index here is a few MiB, not the
    * hundreds the 64 MiB default is sized for, so the cache is scaled
    * down with it: the hotcold mix's records fit, the wide mix's do not. */
  val CacheMb = 1

  /** Workload names; each is also the name of its query mix. */
  val Workloads: Seq[String] = Seq("hotcold", "wide")

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String)

  def parse(args: Array[String]): Either[String, Opts] = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    if (args.length % 2 != 0) return Left("arguments come in --key value pairs")
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload").filterOrElse(Workloads.contains,
        s"unknown workload; known: ${Workloads.mkString(", ")}")
      s <- need("seed").flatMap(x => x.toLongOption.toRight(s"bad --seed $x"))
      sec <- need("seconds").flatMap(x => x.toIntOption.filter(_ > 0)
        .toRight(s"bad --seconds $x"))
      tr <- kv.get("trace").map(x => if (x == "0" || x == "1") Right(x == "1")
        else Left(s"bad --trace $x")).getOrElse(Right(false))
    } yield Opts(w, s, sec, tr, kv.getOrElse("work", ".bench_build/work"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args) match {
      case Right(o) => o
      case Left(msg) =>
        System.err.println(s"perfbench: $msg\nusage: --workload <" +
          Workloads.mkString("|") +
          "> --seed <n> --seconds <n> [--trace 0|1] [--work <dir>]")
        sys.exit(2)
    }
    val work = new File(opts.work,
      s"${opts.workload}-s${opts.seed}-${ProcessHandle.current().pid()}")
    // one vCPU is left to the driver, JIT and GC threads, so that Spark's
    // task threads do not queue behind them
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", (2L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (256L << 10).toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try {
        val result = new Run(spark, opts, work, cores).execute()
        println(result)
        0
      } catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: run aborted: $e")
          e.printStackTrace()
          1
      } finally {
        spark.stop()
        deleteTree(work)
      }
    sys.exit(code)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()
}

/** One run's state: inputs, samples, failure counts and the trace. */
final class Run(spark: SparkSession, o: Main.Opts, work: File, cores: Int) {
  import Main._
  import spark.implicits._

  private val tracer = new Tracer(o.trace)
  private val meter = if (o.trace) Some(new SparkMeter) else None
  meter.foreach(spark.sparkContext.addSparkListener)

  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  private val cfg = Build.Config(numPartitions = 2 * cores, nSalts = 8,
    saltDfThreshold = BulkDocs / 2, heavySampleFraction = 0.02)

  // samples of the end-to-end metrics
  private val setupS = mutable.ArrayBuffer.empty[Double]
  private val docsPerS = mutable.ArrayBuffer.empty[Double]
  private val publishS = mutable.ArrayBuffer.empty[Double]
  private val bytesRatio = mutable.ArrayBuffer.empty[Double]
  private val latencyMs = mutable.ArrayBuffer.empty[Double] // per query
  private val batchQps = mutable.ArrayBuffer.empty[Double]
  private val liveMb = mutable.ArrayBuffer.empty[Double]
  private val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def note(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private var queries: IndexedSeq[Query] = IndexedSeq.empty
  private var contentBytes = 0L

  private def attempt[T](what: => String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$what: $e"
        None
    }
  }

  private def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case NonFatal(e) => failures += s"$what: $e"; false }
    if (!pass) { failed += 1; failures += s"check failed: $what" }
  }

  private val started = System.nanoTime()
  private def progress(what: String): Unit =
    System.err.println(f"perfbench: [${(System.nanoTime() - started) / 1e9}%6.1fs] $what")

  private def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap in use after full collections, repeated until two readings
    * agree within 64 KiB: Spark's cleaner thread releases broadcast and
    * shuffle state asynchronously, after a collection finds it
    * unreachable. */
  private def liveHeapBytes(): Long = {
    def used() = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var (prev, cur, n) = (Long.MaxValue, used(), 1)
    while (math.abs(prev - cur) > (64L << 10) && n < 10) {
      prev = cur
      cur = used()
      n += 1
    }
    cur
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def corpusDir = new File(work, "corpus").getPath

  def execute(): String = {
    work.mkdirs()
    SegmentCache.capacityBytes = CacheMb.toLong << 20

    // ---- set-up: the seeded corpora, written like an ingest snapshot,
    // after one small untimed write that takes the JVM's first-job cost
    Corpus.frame(spark, o.seed, 0, DeltaDocs, cores).write.parquet(s"${work.getPath}/warm")
    Main.deleteTree(new File(work, "warm"))
    val reps = if (o.trace) 1 else SetupReps
    for (i <- 0 until reps) {
      val dir = new File(work, s"setup$i").getPath
      val (_, s) = secondsOf {
        Corpus.frame(spark, o.seed, 0, BulkDocs, 2 * cores)
          .write.parquet(s"$dir/bulk")
        Corpus.frame(spark, o.seed, BulkDocs, BulkDocs + DeltaDocs, cores)
          .write.parquet(s"$dir/delta")
      }
      setupS += s
      if (i == reps - 1) new File(dir).renameTo(new File(corpusDir))
      else Main.deleteTree(new File(dir))
    }
    contentBytes = spark.read.parquet(s"$corpusDir/bulk")
      .selectExpr("sum(octet_length(content))").head().getLong(0)
    progress(f"set-up done: ${setupS.map(s => f"$s%.2f").mkString(" ")} s, bulk content $contentBytes bytes")

    // ---- the recorded window
    val gc0 = gcSeconds()
    tracer.span("bench.run", tracer.newRequest()) {
      val built = build()
      progress("build and publish done")
      serve(built)
      progress("serving done")
      tracer.span("bench.checks")(checks())
      progress("checks done")
      if (o.trace) {
        tracer.span("operators.suite")(operatorSuite())
        progress("operator suite done")
      }
    }
    note("jvm.gc_s", gcSeconds() - gc0)
    if (o.trace) traced()
    engineHeap()
    report()
  }

  private val indexDir = new File(work, "index").getPath
  /** The bulk index of the first build, and the published generation the
    * engine serves. */
  private val bulkDir = s"$indexDir/bulk"
  private val served = s"$indexDir/published"
  private var engine: Engine = _
  private var expectedDocs = 0L
  // DistributedRunner rows of the sampled check queries, from the timed batch
  private var distRows: Map[Int, Array[(Long, Double)]] = Map.empty
  /** The mix's first [[BatchQueries]] OR queries, by index. */
  private lazy val batchIdx: IndexedSeq[Int] =
    queries.indices.filterNot(i => queries(i).and).take(BatchQueries)
  private lazy val checkSample: Seq[Int] = {
    val r = new graft.corpus.Synth.Rng(graft.corpus.Synth.mix(o.seed ^ 0xC4ECL))
    Seq.fill(CheckQueries)(batchIdx(r.nextInt(batchIdx.length))).distinct
  }

  /** The delta built first, in the cold JVM; then the first bulk build
    * (a docs/s sample; [[serve]] takes the second); then the delta
    * published by merging it into the bulk index (the stream indexer's
    * epoch). publish_s is the delta build plus the merge. Returns
    * whether the published generation exists. */
  private def build(): Boolean = {
    val (deltaDir, req) = (s"$indexDir/delta", tracer.newRequest())
    val delta = attempt("delta Build.run") {
      secondsOf(tracer.span("index.Build.run.delta", req)(buildDelta(deltaDir)))
    }
    val bulk = delta.flatMap(_ => bulkBuild(bulkDir, req))
    bulk.foreach { b =>
      bytesRatio += Main.treeBytes(new File(bulkDir)).toDouble / contentBytes
      val segBytes = Main.treeBytes(new File(bulkDir, "segments"))
      note("index.segments_mb", segBytes / 1e6)
      note("index.staging_mb", Main.treeBytes(new File(bulkDir, "staging_postings")) / 1e6)
      note("index.bytes_per_posting", segBytes.toDouble / b.totalPostings)
    }
    val merged = bulk.flatMap { _ =>
      attempt("Merge.disjoint") {
        secondsOf(tracer.span("index.Merge.disjoint", req) {
          Merge.disjoint(spark, Seq(bulkDir, deltaDir), served)
        })
      }
    }
    for ((d, ds) <- delta; b <- bulk; (_, ms) <- merged) {
      check("delta shaViolations == 0")(d.shaViolations == 0)
      publishS += ds + ms
      expectedDocs = b.nDocs + d.nDocs
      progress(f"publish: ${ds + ms}%.2f s")
    }
    merged.isDefined
  }

  private def buildDelta(dir: String): Build.Result =
    Build.run(spark, spark.read.parquet(s"$corpusDir/delta"), dir, cfg)

  /** One timed `Build.run` of the bulk corpus into `dir`: a docs/s sample. */
  private def bulkBuild(dir: String, req: Long): Option[Build.Result] =
    attempt("bulk Build.run") {
      secondsOf(tracer.span("index.Build.run", req) {
        Build.run(spark, spark.read.parquet(s"$corpusDir/bulk"), dir, cfg)
      })
    }.map { case (res, s) =>
      check("bulk shaViolations == 0")(res.shaViolations == 0)
      docsPerS += res.nDocs / s
      progress(f"bulk build: $s%.2f s")
      res
    }

  /** Open the engine and serve the mix as one closed-loop client; then
    * one untimed DistributedRunner batch, then [[Batches]] timed batches
    * (more while --seconds has not passed) with one more timed bulk build
    * between the first two. Interleaving the two spreads each metric's
    * samples over the run instead of taking them back to back. */
  private def serve(built: Boolean): Unit = if (built) {
    queries = Queries.mix(o.workload, o.seed,
      Queries.vocabulary(spark.read.parquet(s"$served/term_stats")
        .select($"term", $"df").as[(String, Long)].collect()), MixQueries)
    SegmentCache.clear()
    val opened = attempt("Engine open") {
      secondsOf(tracer.span("query.Engine.open") {
        new Engine(spark, served, preload = true, eagerSpell = true)
      })
    }
    if (opened.isEmpty) return
    engine = opened.get._1
    note("query.engine_open_s", opened.get._2)
    (0 until WarmQueries).foreach(w => clientQuery(queries(w % queries.length), spans = false))
    val hits0 = SegmentCache.hits.get()
    val miss0 = SegmentCache.misses.get()
    for (i <- 0 until ClientQueries)
      latencyMs ++= clientQuery(queries((WarmQueries + i) % queries.length), spans = true)
    progress("client loop done")
    // the first call plans, compiles and broadcasts: untimed
    if (attempt("DistributedRunner warm-up batch")(runBatch(served)).isEmpty) return
    val t1 = System.nanoTime()
    var r = 0
    while (r < Batches || (System.nanoTime() - t1) / 1e9 < o.seconds) {
      if (r == 1) {
        val dir = new File(s"$indexDir/bulk2")
        if (bulkBuild(dir.getPath, tracer.newRequest()).isEmpty) return
        Main.deleteTree(dir)
      }
      val batch = attempt("DistributedRunner batch") {
        secondsOf(tracer.span("query.DistributedRunner.run")(runBatch(served)))
      }
      if (batch.isEmpty) return
      val (rows, s) = batch.get
      distRows = rows
      batchQps += batchIdx.size / s
      progress(f"batch: $s%.2f s")
      r += 1
    }
    val hits = SegmentCache.hits.get() - hits0
    val misses = SegmentCache.misses.get() - miss0
    note("index.segcache.hit_ratio", hits.toDouble / math.max(1L, hits + misses))
    note("index.segcache.misses", misses.toDouble)
    note("index.segcache.resident_mb", SegmentCache.residentBytes / 1048576.0)
  }

  /** One client query: its latency in ms, or nothing if it threw. */
  private def clientQuery(q: Query, spans: Boolean): Option[Double] = {
    val name =
      if (q.misspelled) "query.search.misspelled"
      else if (q.and) "query.search.and" else "query.search.or"
    val t0 = System.nanoTime()
    attempt(s"query ${q.text}") {
      def run() = if (q.and) engine.searchConjunctive(q.text, K) else engine.searchWand(q.text, K)
      if (spans) tracer.span(name, tracer.newRequest())(run()) else run()
    }.map(_ => (System.nanoTime() - t0) / 1e6)
  }

  /** The batch's OR queries through one DistributedRunner call (a batch
    * has one retrieval mode; AND queries are served by the client loop).
    * Every query is scored; only the sampled check queries' rows come back. */
  private def runBatch(indexDir: String): Map[Int, Array[(Long, Double)]] = {
    val sample = checkSample.toSet
    val df = spark.sparkContext
      .parallelize(batchIdx.map(i => (i, queries(i).text)), 2 * cores)
      .toDF("query_num", "query")
    val rows = DistributedRunner.run(spark, indexDir, df, K)
      .as[(Int, Long, Int, Double)].filter(r => sample(r._1)).collect()
    rows.groupBy(_._1).map { case (qn, rs) =>
      qn -> rs.sortBy(_._3).map(r => (r._2, r._4)) }
  }

  private def sameRanking(a: Array[(Long, Double)], b: Array[(Long, Double)]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((i, s), (j, t)) =>
      i == j && math.abs(s - t) <= 1e-9 * math.max(1.0, math.abs(s))
    }

  /** Output checks on the served index, then the cache evidence. */
  private def checks(): Unit = {
    if (engine == null) { check("the engine served the mix")(false); return }
    check("served n_docs == bulk + delta")(engine.nDocs == expectedDocs)
    var wandNs = 0L
    var exhNs = 0L
    for (i <- checkSample; q = queries(i)) {
      val local = if (q.and) engine.searchConjunctive(q.text, K) else engine.searchWand(q.text, K)
      if (batchQps.nonEmpty && !q.and) check(s"distributed == engine top-k: ${q.text}") {
        sameRanking(distRows.getOrElse(i, Array.empty), local)
      }
      if (!q.and) check(s"WAND == exhaustive top-k: ${q.text}") {
        val (w, ws) = secondsOf(tracer.span("query.searchWand")(engine.searchWand(q.text, K)))
        val (e, es) = secondsOf(tracer.span("query.searchExhaustive")(engine.searchExhaustive(q.text, K)))
        wandNs += (ws * 1e9).toLong
        exhNs += (es * 1e9).toLong
        sameRanking(w, e)
      }
    }
    note("query.wand_vs_exhaustive", wandNs.toDouble / math.max(1L, exhNs))
    touched()
  }

  /** Traced runs: the operator suite on its own seeded tables: its two
    * per-JVM artifacts, then [[SuiteRounds]] rounds of a seed-permuted
    * order. A query that throws, or whose result digest differs between
    * rounds, fails. The walls reported are the last round's, when the
    * per-JVM caches are warm. */
  private def operatorSuite(): Unit = {
    val dir = new File(work, "suite").getPath
    tracer.span("bench.suite_data")(SuiteData.write(spark, o.seed, dir))
    // the per-JVM artifacts, cold, apart from the rounds that reuse them
    for ((name, metric, f) <- Seq[(String, String, () => Any)](
      ("operators.IndexOps.indexFor", "operators.index_for_s", () => IndexOps.indexFor(spark, dir)),
      ("operators.DupClusters.labels", "operators.labels_s", () => DupClusters.labels(spark, dir).count())))
      attempt(name)(secondsOf(tracer.span(name)(f()))).foreach(r => note(metric, r._2))
    val entries = graft.SparkEntry.queries
    val module = Suite.Picks.toMap
    val digests = mutable.Map.empty[String, String]
    val last = mutable.Map.empty[String, Double]
    for (round <- 0 until SuiteRounds; q <- Suite.order(o.seed)) {
      attempt(s"operator query $q") {
        secondsOf(tracer.span(s"operators.${module(q)}.$q")(Suite.digest(entries(q)(spark, dir))))
      }.foreach { case ((_, d), s) =>
        last(q) = s
        if (round == 0) digests(q) = d
        else check(s"$q: same result digest in every round")(digests.get(q).contains(d))
      }
    }
    for ((q, m) <- Suite.Picks; s <- last.get(q)) note(s"operators.${m}_s", s)
    if (last.size == Suite.Picks.size) note("operators.suite_s", last.values.sum)
  }

  /** The engine's retained heap: live heap with it open, minus live heap
    * once it is closed and collected (the SegmentCache emptied for both). */
  private def engineHeap(): Unit = if (engine != null) {
    SegmentCache.clear()
    val open = liveHeapBytes()
    engine.close()
    engine = null
    liveMb += (open - liveHeapBytes()) / 1048576.0
  }

  /** Resolve every query of the mix once: the distinct posting records it
    * touches, summed as stored (DictEntry.length) and as the SegmentCache
    * accounts them (plus its per-block overhead). Traced runs also take
    * the per-call probes here. */
  private def touched(): Unit = tracer.span("bench.probe") {
    val terms = mutable.Set.empty[String]
    var blocks = 0L
    var postings = 0L
    var corrections = 0
    val parseUs, lookupUs, scoreUs = mutable.ArrayBuffer.empty[Double]
    var decodeNs = 0L
    var decoded = 0L
    val distinct = queries.distinct
    for ((q, i) <- distinct.zipWithIndex) {
      val (qt, ps) = secondsOf(tracer.span("analysis.tokenizeQuery")(Tokenizer.tokenizeQuery(q.text)))
      val tps = tracer.span("query.lookup")(engine.lookup(qt))
      tps.foreach { tp =>
        terms += tp.term
        blocks += tp.blocks.length
        postings += tp.blocks.iterator.map(_.n.toLong).sum
      }
      if (q.misspelled) corrections += tps.count(tp => !qt.contains(tp.term))
      if (o.trace && i < ProbeQueries) {
        parseUs += ps * 1e6
        // the records are cached now: lookup and scoring are timed warm
        val (_, ls) = secondsOf(tracer.span("query.lookup")(engine.lookup(qt)))
        lookupUs += ls * 1e6
        if (!q.and) {
          val (_, ss) = secondsOf(tracer.span("query.searchWandQuery")(engine.searchWandQuery(qt, K)))
          scoreUs += (ss - ls) * 1e6
        }
        tps.foreach { tp =>
          val (d, ds) = secondsOf(tracer.span("index.Codec.decode")(Codec.decode(tp.blocks.toSeq)))
          decodeNs += (ds * 1e9).toLong
          decoded += d.length
        }
      }
    }
    val dict = spark.read.parquet(s"$served/dict").as[SegmentStore.DictEntry]
      .collect().filter(e => terms(e.term))
    note("index.touched_record_mb", dict.map(_.length.toLong).sum / 1048576.0)
    note("index.touched_cache_mb", dict.map { e =>
      e.length + 64L * ((e.df + Codec.BlockSize - 1) / Codec.BlockSize + 1)
    }.sum / 1048576.0)
    note("index.blocks_per_query", blocks.toDouble / distinct.size)
    note("index.postings_per_query", postings.toDouble / distinct.size)
    note("query.spell_corrections", corrections.toDouble)
    if (o.trace) {
      note("analysis.query_parse_us", Stats.median(parseUs))
      note("query.lookup_us", Stats.median(lookupUs))
      note("query.score_us", Stats.median(scoreUs))
      note("index.decode_ns_per_posting", decodeNs.toDouble / math.max(1L, decoded))
    }
  }

  /** Per-layer numbers only the traced run takes, after its recorded
    * window: job attribution, one-off layer timings, tracing overhead. */
  private def traced(): Unit = {
    val m = meter.get
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    // the recorded window: bench.run and everything under it (the overhead
    // loops below stay outside)
    def window(all: Seq[Span]): Seq[Span] = {
      val byId = all.map(s => s.id -> s).toMap
      val memo = mutable.Map.empty[Int, Boolean]
      def in(s: Span): Boolean = memo.getOrElseUpdate(s.id,
        s.name == "bench.run" || byId.get(s.parent).exists(in))
      all.filter(in)
    }
    val spans = window(tracer.spans)
    // Spark jobs become child spans of the call that ran them
    val callers = spans.filter(s => s.name.startsWith("index.Build.run") ||
      s.name == "index.Merge.disjoint" || s.name == "query.Engine.open" ||
      s.name == "query.DistributedRunner.run" ||
      (s.name.startsWith("operators.") && s.name != "operators.suite"))
    for (s <- callers) {
      val jobs = m.jobsIn(s.start, s.end)
      val phase = (j: SparkMeter.Job) =>
        if (s.name == "index.Build.run") SparkMeter.buildPhase(m.plan(j)) else "spark"
      jobs.foreach(j => tracer.add(s"${s.name}.job.${phase(j)}", s.id, s.request, j.start, j.end))
      if (s.name == "index.Build.run") {
        val withJobs = tracer.spans.filter(x => x.id == s.id || x.parent == s.id)
        val self = SelfTime.of(withJobs)
        val byPhase = withJobs.filter(_.parent == s.id).groupBy(_.name.split('.').last)
          .map { case (p, xs) => p -> xs.map(x => self(x.id)).sum / 1e9 }
        for (p <- Seq("stage", "segments", "heavy_terms", "stats"))
          note(s"index.build.${p}_s", byPhase.getOrElse(p, 0.0))
        note("index.build.unattributed_s", self(s.id) / 1e9)
        note("index.build.jobs", jobs.size.toDouble)
        val stages = m.stagesOf(jobs)
        note("index.build.shuffle_write_mb", stages.map(_.shuffleWriteBytes).sum / 1e6)
        note("index.build.shuffle_records", stages.map(_.shuffleWriteRecords).sum.toDouble)
        note("index.build.spill_mb", stages.map(_.spillBytes).sum / 1e6)
        note("index.build.gc_s", stages.map(_.gcMs).sum / 1e3)
        val segStages = m.stagesOf(jobs.filter(j => SparkMeter.buildPhase(m.plan(j)) == "segments"))
        note("index.build.task_skew",
          if (segStages.isEmpty) 1.0 else SparkMeter.skew(m.tasksOf(segStages.maxBy(_.runMs).id)))
      }
      if (s.name == "query.DistributedRunner.run" &&
        spans.exists(p => p.id == s.parent && p.name == "bench.run")) {
        val stages = m.stagesOf(jobs)
        note("query.dist.tasks", stages.map(st => m.tasksOf(st.id).size).sum.toDouble)
        note("query.dist.task_skew",
          if (stages.isEmpty) 1.0 else SparkMeter.skew(m.tasksOf(stages.maxBy(_.runMs).id)))
        note("query.dist.gc_s", stages.map(_.gcMs).sum / 1e3)
      }
    }
    spans.find(_.name == "operators.suite").foreach { s =>
      val jobs = m.jobsIn(s.start, s.end)
      note("operators.jobs", jobs.size.toDouble)
      note("operators.shuffle_mb", m.stagesOf(jobs).map(_.shuffleWriteBytes).sum / 1e6)
    }
    for ((name, metric) <- Seq("index.Build.run.delta" -> "index.delta_build_s",
      "index.Merge.disjoint" -> "index.merge_s"))
      spans.filter(_.name == name).foreach(s => note(metric, s.durNs / 1e9))
    val sorted = latencyMs.sorted.toIndexedSeq
    note("query.client_p50_ms", Stats.median(sorted))
    note("query.client_p90_ms", Stats.percentile(sorted, 90.0))
    val byKind = spans.groupBy(_.name)
    note("query.and_us", Stats.median(byKind.getOrElse("query.search.and", Nil).map(_.durNs / 1e3)))
    note("query.spell_us", Stats.median(byKind.getOrElse("query.search.misspelled", Nil).map(_.durNs / 1e3)))

    // self time per layer over the recorded window, jobs included
    val inTree = window(tracer.spans)
    val rootSpan = inTree.find(_.name == "bench.run").get
    val selfBy = SelfTime.byLayer(inTree)
    for (l <- Seq("analysis", "index", "query", "operators", "bench"))
      note(s"self.${l}_s", selfBy.getOrElse(l, 0.0))
    note("trace.wall_s", rootSpan.durNs / 1e9)

    // one-off timings outside the recorded window
    val docs = (0 until TokenizeDocs).map(i => Corpus.doc(o.seed, i).content)
    note("analysis.tokenize_us_per_doc", Stats.median((0 until 3).map { _ =>
      secondsOf(docs.foreach(d => Tokenizer.tokenize(d)))._2 * 1e6 / docs.size
    }))
    note("index.spell_artifact_s",
      secondsOf(Build.trySpellArtifact(spark, bulkDir))._2)
    // tracing overhead: the same client queries without and with spans,
    // after one pass that caches their records, then alternated so that
    // warm-up favours neither side
    val sample = queries.take(ClientQueries / 2)
    def loop(spans: Boolean) = secondsOf(sample.foreach(clientQuery(_, spans)))._2
    loop(spans = false)
    val pairs = (0 until 3).map(_ => (loop(spans = false), loop(spans = true)))
    note("trace.overhead_pct",
      100.0 * (pairs.map(_._2).sum - pairs.map(_._1).sum) / pairs.map(_._1).sum)

    writeTrace(inTree, selfBy, rootSpan)
  }

  private def writeTrace(spans: Seq[Span], selfBy: Map[String, Double], root: Span): Unit = {
    val dir = new File(new File(o.work).getParentFile, "traces")
    dir.mkdirs()
    val f = new File(dir, s"${o.workload}-seed${o.seed}.json")
    val body = Json.render(Map(
      "workload" -> o.workload, "seed" -> o.seed,
      "wall_s" -> root.durNs / 1e9,
      "self_s_by_layer" -> selfBy,
      "note" -> ("self times split each instant among the innermost open spans; " +
        "bench is the harness itself, i.e. the named unattributed time"),
      "spans" -> spans.sortBy(_.start).map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "request" -> s.request, "start_ns" -> (s.start - root.start),
        "end_ns" -> (s.end - root.start)))))
    java.nio.file.Files.writeString(f.toPath, body)
    System.err.println(s"perfbench: trace written to ${f.getPath}")
  }

  private def report(): String = {
    val e2e: Map[String, Seq[Double]] = Map(
      "setup_s" -> setupS.toSeq, "build_docs_per_s" -> docsPerS.toSeq,
      "publish_s" -> publishS.toSeq, "index_bytes_per_input_byte" -> bytesRatio.toSeq,
      "batch_qps" -> batchQps.toSeq, "engine_live_mb" -> liveMb.toSeq)
    val wanted = if (o.trace) Metrics.PerLayer else Metrics.EndToEnd
    val values = mutable.LinkedHashMap.empty[String, Double]
    for (m <- wanted) {
      val xs = if (o.trace) layer.getOrElse(m.name, Nil).toSeq else e2e(m.name)
      if (xs.isEmpty) check(s"metric ${m.name} measured")(false)
      else {
        val s = Stats.summarize(xs)
        values(m.name) = s.median
        val arrow = if (m.arrow.nonEmpty) s"  -> ${m.arrow}" else ""
        println(f"${m.name}%-34s ${m.unit}%-6s median ${s.median}%.6g  ${s.upperLabel} ${s.upper}%.6g  n=${s.n}$arrow")
      }
    }
    if (latencyMs.nonEmpty) {
      val s = Stats.summarize(latencyMs)
      println(f"client latency (not bounded: one JVM's single thread is bimodal here) ms " +
        f"median ${s.median}%.6g  p90 ${Stats.percentile(latencyMs.sorted.toIndexedSeq, 90.0)}%.6g  " +
        f"${s.upperLabel} ${s.upper}%.6g  n=${s.n}")
    }
    val cache = Seq("index.segcache.hit_ratio", "index.segcache.misses",
      "index.segcache.resident_mb", "index.touched_record_mb", "index.touched_cache_mb")
      .map(k => s"$k=${layer.get(k).map(v => f"${Stats.median(v)}%.4g").getOrElse("-")}")
    println(s"cache evidence: capacity_mb=$CacheMb ${cache.mkString(" ")}")
    println(f"op_fail_ratio ${failed.toDouble / math.max(1L, attempted)}%.6g ($failed of $attempted operations)")
    failures.take(20).foreach(f => System.err.println(s"perfbench: $f"))
    Json.render(mutable.LinkedHashMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> values.map { case (k, v) =>
        k -> mutable.LinkedHashMap("value" -> v,
          "unit" -> wanted.find(_.name == k).get.unit)
      }))
  }
}
