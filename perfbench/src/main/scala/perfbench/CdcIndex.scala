package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import graft.operators.TextSearch
import graft.streaming.{IncrementalLinkIndex, IncrementalSearchIndex, Maintenance}
import perfbench.Main.{Ctx, Outcome}

/** `cdc_index` — the Sync phase: a `mongodb-oplog` tail of crawl records
  * through `opfilter` + `decode` into a `search-index` and a `link-index`
  * sink that self-maintain (`maintain_every`), driven by ONE stream
  * config in two phases:
  *
  *   1. catch-up: the pre-landed backlog drained with AvailableNow;
  *   2. live tail: a generator thread lands oplog files atomically on a
  *      fixed schedule (open loop, rate fixed below the drain rate) while
  *      one prober thread issues search, inlinks and rank-prior top-k
  *      probes with a fixed think time (closed loop).
  *
  * Checks: every mid-tail probe succeeds and returns only doc ids that
  * had landed when it started; after the drive, all three probes equal
  * a batch twin that ingests the same records as epoch 0 into fresh
  * dirs. */
final class CdcIndex extends Main.Workload {
  import StreamProgress.Epoch

  val PerFile = 12
  val BacklogFiles = 120
  val IntervalMs = 250
  /** One bucket per core. */
  val Buckets = 4
  /** Maintenance stays out of the measured window: the live tail commits
    * about 7 epochs after the one drain epoch, and a link-index pass
    * takes 8–12 s, most of a 15 s window, so a window holding one would
    * time the pass rather than freshness. Twice the epochs a run commits
    * keeps the policy checked on every epoch without a pass firing; the
    * traced run times one pass of each index as its own span. */
  val MaintainEvery = 16
  val GraceMs = 3000L
  val ThinkMs = 50L
  /** The warm-up drive: backlog files, live files (one epoch each) and
    * probe rounds. */
  val WarmBacklog = 30
  val WarmLive = 3
  val WarmRounds = 2
  val Sites = 40
  val K = 10
  /** Oplog lines per file: the pages plus a noop, a foreign-namespace
    * insert and a delete. */
  val LinesPerFile = PerFile + 3
  val Schema = "doc_id long, url string, html string, text string"

  private var in: Gen.CdcInputs = _
  private var dir: Path = _

  private def indexSink(kind: String, idx: Path, maintain: Boolean)
      : (String, Map[String, Any]) = {
    val base = Map[String, Any]("dir" -> idx.toString,
      "id_col" -> "doc_id", "hash_buckets" -> Buckets) ++
      (if (maintain) Map("maintain_every" -> MaintainEvery,
        "maintain_grace_ms" -> GraceMs) else Map.empty)
    kind -> (if (kind == "search")
      base ++ Map("adaptor" -> "search-index", "text_col" -> "text")
    else base ++ Map("adaptor" -> "link-index", "url_col" -> "url",
      "html_col" -> "html"))
  }

  private val chain = Seq(
    "inserts" -> Map[String, Any]("fn" -> "opfilter", "whitelist" -> Seq("insert")),
    "decode" -> Map[String, Any]("fn" -> "decode", "schema" -> Schema))

  private def cfg(oplog: Path, idx: Path, maintain: Boolean = true): PipeCfg =
    PipeCfg("cdc-index",
      Map("adaptor" -> "mongodb-oplog", "name" -> "oplog",
        "uri" -> oplog.toString, "ns" -> "^crawl\\.pages$"),
      Seq("search", "links").map { k =>
        val (name, fields) = indexSink(k, idx.resolve(k), maintain)
        SinkCfg(name, fields, chain)
      })

  /** The stream form of a config (mode: stream + checkpoint). */
  private def streamJson(c: PipeCfg, ckpt: Path): String = {
    val m = c.json
    m.stripSuffix("}") + s""","mode":"stream","checkpoint":${Json.str(ckpt.toString)}}"""
  }

  private def parseStream(c: PipeCfg, ckpt: Path) =
    graft.pipeline.ConfigLoader.parse(streamJson(c, ckpt), Map.empty)

  private def gen(out: Gen.Out, ctx: Ctx, seed: Long, live: Int) =
    Gen.cdcIndex(out, ctx.words, seed, BacklogFiles, live, PerFile, Sites)

  def setup(ctx: Ctx, d: Path): String = {
    dir = d
    words = ctx.words
    in = gen(new Gen.Out(Some(d)), ctx, ctx.seed, ctx.seconds * 1000 / IntervalMs)
    // warm-up: a small drive of its own (other seed, own dirs) in both
    // phases — a drain, then live epochs — and probe rounds over it
    val w = d.resolve("warm")
    val warm = Gen.cdcIndex(new Gen.Out(Some(w)), ctx.words, ctx.seed ^ 0x77L,
      WarmBacklog, WarmLive, PerFile, Sites)
    val wc = cfg(w.resolve("oplog"), w.resolve("idx"))
    val wk = w.resolve("ckpt")
    parseStream(wc, wk).runStream(ctx.spark, wk.toString).awaitTermination()
    val q = parseStream(wc, wk).runStream(ctx.spark, wk.toString,
      Trigger.ProcessingTime(0L))
    try warm.liveFiles.foreach { case (name, bytes, _) =>
      Gen.write(w.resolve("oplog").resolve(name), bytes)
      q.processAllAvailable()
    } finally q.stop()
    val r = new SplittableRandom(ctx.seed)
    (1 to WarmRounds).foreach(_ => Probes.all.foreach(
      _.run(ctx.spark, w.resolve("idx"), r, warm.pages.size.toLong)))
    in.digest
  }

  def digest(ctx: Ctx, seed: Long): String =
    gen(new Gen.Out(None), ctx, seed, ctx.seconds * 1000 / IntervalMs).digest

  // ------------------------------------------------------------ probes

  private def searchCfg(idx: Path) =
    IncrementalSearchIndex.Config(idx.resolve("search").toString,
      hashBuckets = Buckets)
  private def linkCfg(idx: Path) =
    IncrementalLinkIndex.Config(idx.resolve("links").toString,
      hashBuckets = Buckets)

  /** One probe kind: runs against an index root, returns the doc ids it
    * saw (for the landed-ids check) and a comparable result. */
  sealed trait Probe {
    def name: String
    def run(spark: SparkSession, idx: Path, r: SplittableRandom,
        landed: Long): (Seq[Long], Seq[String])
  }

  object Probes {
    val search: Probe = new Probe {
      val name = "search"
      def run(spark: SparkSession, idx: Path, r: SplittableRandom,
          landed: Long) = {
        val q = TextSearch.queriesDf(spark, (1 to 3).map(_ =>
          s"${words.draw(r)} ${words.draw(r)} ${words.draw(r)}"))
        val rows = IncrementalSearchIndex.probe(spark, searchCfg(idx), q,
          "query_id", "query_text", K).orderBy("query_id", "rank").collect()
        (rows.map(_.getLong(2)).toSeq,
          rows.map(x => s"${x.getInt(1)}:${x.getLong(2)}:${x.getLong(3)}").toSeq)
      }
    }
    val inlinks: Probe = new Probe {
      val name = "inlinks"
      def run(spark: SparkSession, idx: Path, r: SplittableRandom,
          landed: Long) = {
        val targets = (1 to 5).map(_ =>
          Gen.urlOf(1 + r.nextLong(math.max(1L, landed)), Sites))
        val rows = IncrementalLinkIndex.inlinks(spark, linkCfg(idx), targets)
          .collect()
        (rows.map(_.getLong(1)).toSeq,
          rows.map(x => s"${x.getString(0)}|${x.getLong(1)}|${x.getString(2)}")
            .toSeq.sorted)
      }
    }
    val rank: Probe = new Probe {
      val name = "rank"
      def run(spark: SparkSession, idx: Path, r: SplittableRandom,
          landed: Long) = {
        val rows = IncrementalLinkIndex.rankPrior(spark, linkCfg(idx))
          .orderBy(desc("rank_fp"), asc("doc_id")).limit(K).collect()
        (rows.map(_.getLong(0)).toSeq,
          rows.map(x => s"${x.getLong(0)}:${x.getLong(3)}").toSeq)
      }
    }
    val all: Seq[Probe] = Seq(search, inlinks, rank)
  }

  private var words: Gen.Words = _

  // ----------------------------------------------------------- measure

  /** What the live tail saw, kept for the traced run's streaming layer. */
  private var tailEpochs: Seq[Epoch] = Nil
  private var lateMs: Seq[Long] = Nil
  private var backlogAtEpoch: Seq[Long] = Nil
  private var probeMs: Map[String, Seq[Double]] = Map.empty
  private var drainWall = 0.0

  def measure(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val errors = new ConcurrentLinkedQueue[String]()
    val idx = dir.resolve("idx"); val ckpt = dir.resolve("ckpt")
    val oplog = dir.resolve("oplog")
    val log = new StreamProgress
    spark.streams.addListener(log)
    var attempted = 0L; var failed = 0L

    // 1. catch-up drain of the backlog
    attempted += 1
    val t0 = System.nanoTime()
    try parseStream(cfg(oplog, idx), ckpt).runStream(spark, ckpt.toString)
      .awaitTermination()
    catch { case e: Exception => failed += 1; errors.add(s"drain failed: $e") }
    drainWall = Stats.s(System.nanoTime() - t0)

    // 2. live tail: open-loop generator + closed-loop prober
    attempted += 1
    val q = parseStream(cfg(oplog, idx), ckpt).runStream(spark,
      ckpt.toString, Trigger.ProcessingTime(0L))
    val landed = new AtomicLong(in.backlogRows)
    val done = new AtomicBoolean(false)
    val due = new Array[Long](in.liveFiles.size)
    val late = new Array[Long](in.liveFiles.size)
    val landedAt = new Array[Long](in.liveFiles.size)
    val start = System.currentTimeMillis() + IntervalMs
    val genThread = new Thread(() => {
      in.liveFiles.zipWithIndex.foreach { case ((name, bytes, lastId), i) =>
        due(i) = start + i.toLong * IntervalMs
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Gen.write(oplog.resolve(name), bytes)
        landedAt(i) = System.currentTimeMillis()
        late(i) = landedAt(i) - due(i)
        landed.set(lastId)
      }
    }, "perfbench-generator")
    val probeLog = new ConcurrentLinkedQueue[(String, Double, Boolean)]()
    val probeThread = new Thread(() => {
      val r = new SplittableRandom(ctx.seed ^ 0x9e37L)
      var i = 0
      while (!done.get()) {
        val p = Probes.all(i % Probes.all.size); i += 1
        val seen = landed.get()
        val p0 = System.nanoTime()
        val ok = try {
          val (ids, _) = p.run(spark, idx, r, seen)
          val bad = ids.filter(_ > seen)
          if (bad.nonEmpty) errors.add(s"${p.name} probe returned " +
            s"not-yet-landed ids ${bad.take(5)} (landed ≤ $seen)")
          true
        } catch {
          case e: Exception => errors.add(s"${p.name} probe failed: $e"); false
        }
        probeLog.add((p.name, Stats.ms(System.nanoTime() - p0), ok))
        Thread.sleep(ThinkMs)
      }
    }, "perfbench-prober")
    genThread.start(); probeThread.start()
    genThread.join()
    done.set(true)
    probeThread.join()
    try q.processAllAvailable()
    catch { case e: Exception => failed += 1; errors.add(s"live tail failed: $e") }
    q.stop()
    spark.streams.removeListener(log)
    org.apache.spark.BenchBus.drain(spark.sparkContext)

    // lag: file i is in the first epoch whose cumulative input covers it
    val eps = log.epochs(q.runId).filter(_.rows > 0)
    val cum = eps.scanLeft(0L)(_ + _.rows).tail
    val lags = in.liveFiles.indices.flatMap { i =>
      val need = (i + 1).toLong * LinesPerFile
      cum.indexWhere(_ >= need) match {
        case -1 => errors.add(s"live file $i never committed"); None
        case e => Some((eps(e).endMs - due(i)).toDouble)
      }
    }
    tailEpochs = eps
    lateMs = late.toSeq
    backlogAtEpoch = eps.map(e => landedAt.count(t => t > 0 && t <= e.endMs -
      e.triggerMs).toLong).zip(0L +: cum.map(_ / LinesPerFile)).map {
      case (landedN, consumed) => landedN - consumed }
    val probes = probeLog.asScala.toSeq
    probeMs = probes.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    attempted += probes.size + eps.size
    failed += probes.count(!_._3)

    // after the drive: streamed probes == batch twin
    val twinIdx = dir.resolve("twin")
    val pages = spark.createDataFrame(in.pages.map(p =>
      (p.id, p.url, p.html, p.text))).toDF("doc_id", "url", "html", "text")
    IncrementalSearchIndex.ingestBatch(searchCfg(twinIdx), pages, "doc_id",
      "text", 0L)
    IncrementalLinkIndex.ingestBatch(linkCfg(twinIdx), pages, "doc_id",
      "url", "html", 0L)
    val total = in.pages.size.toLong
    Probes.all.foreach { p =>
      val a = p.run(spark, idx, new SplittableRandom(ctx.seed), total)._2
      val b = p.run(spark, twinIdx, new SplittableRandom(ctx.seed), total)._2
      if (a != b) errors.add(s"${p.name} probe differs from the batch " +
        s"twin: ${a.take(3)} vs ${b.take(3)}")
      if (a.isEmpty) errors.add(s"${p.name} probe returned nothing")
    }

    val allProbes = probes.map(_._2)
    Probes.all.filterNot(p => probeMs.contains(p.name)).foreach(p =>
      errors.add(s"no ${p.name} probe ran during the live tail"))
    // every kind weighs the same, however many probes of it ran
    val kindP50 = probeMs.values.map(Stats.median).toSeq
    val probeP50 = kindP50.sum / math.max(1, kindP50.size)
    val (lagTail, lp, ln) = Stats.tail(lags)
    val (prTail, pp, pn) = Stats.tail(allProbes)
    val drainRate = in.backlogRows / drainWall
    val errs = errors.asScala.toSeq.distinct
    val searchMs = probeMs.getOrElse("search", Nil)
    val maint = maintenanceFacts()
    Outcome(errs.isEmpty, attempted, failed,
      Map("rows_per_s" -> drainRate,
        "freshness_p50_ms" -> Stats.median(lags),
        "freshness_tail_ms" -> lagTail,
        "probe_p50_ms" -> probeP50),
      Map("drain_rows_per_s" -> drainRate, "drain_s" -> drainWall,
        "lag_p50_ms" -> Stats.median(lags), "lag_tail_ms" -> lagTail,
        "lag_tail" -> Map("percentile" -> lp, "samples" -> ln,
          "epochs" -> eps.size),
        "probe_kinds_mean_p50_ms" -> probeP50,
        "search_probe_p50_ms" -> (if (searchMs.isEmpty) 0.0 else Stats.median(searchMs)),
        "all_probes_p50_ms" -> Stats.median(allProbes),
        "all_probes_tail_ms" -> prTail,
        "all_probes_tail" -> Map("percentile" -> pp, "samples" -> pn),
        "probes" -> probeMs.map { case (k, v) =>
          k -> Map("n" -> v.size, "p50_ms" -> Stats.median(v), "ms" -> v) },
        "epochs" -> eps.size, "epoch_ms" -> eps.map(_.triggerMs),
        "lags_ms" -> lags, "generator_late_ms_max" -> late.max,
        "maintenance" -> maint,
        "failed_ratio" -> failed.toDouble / attempted),
      Map[String, Any]("pages" -> total, "backlog_pages" -> in.backlogRows,
        "live_pages" -> in.liveRows, "bytes" -> in.bytes,
        "backlog_files" -> BacklogFiles, "live_files" -> in.liveFiles.size,
        "pages_per_file" -> PerFile,
        "file_bytes_mean" -> in.liveFiles.map(_._2.length).sum.toDouble /
          math.max(1, in.liveFiles.size),
        "rate_pages_per_s" -> PerFile * 1000.0 / IntervalMs,
        "interval_ms" -> IntervalMs, "maintain_every" -> MaintainEvery,
        "maintain_grace_ms" -> GraceMs, "hash_buckets" -> Buckets,
        "think_ms" -> ThinkMs, "digest" -> in.digest),
      errs)
  }

  /** On-disk facts of the streamed indexes: generations, live data files
    * and bytes per input byte. */
  private def maintenanceFacts(): Map[String, Any] =
    Seq("search", "links").map { k =>
      val root = dir.resolve("idx").resolve(k)
      val gens = Files.list(root).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith("-compact"))
        .flatMap(c => Files.list(c).iterator().asScala.toSeq)
        .count(_.getFileName.toString.matches("gen=\\d+"))
      val (bytes, files) = Layers.dirStats(root)
      k -> Map("generations" -> gens, "live_files" -> files,
        "bytes_per_input_byte" -> bytes.toDouble / in.bytes)
    }.toMap

  // ------------------------------------------------------------- trace

  def trace(ctx: Ctx, tr: Collector): (Map[String, Double], Map[String, Any]) = {
    val spark = ctx.spark
    val cores = ctx.cores
    val t = dir.resolve("trace")
    // the backlog alone, so the traced drain does the untraced one's work
    val backlog = t.resolve("oplog")
    Files.createDirectories(backlog)
    Files.list(dir.resolve("oplog")).iterator().asScala.toSeq
      .filter(p => in.liveFiles.forall(_._1 != p.getFileName.toString))
      .foreach(p => Files.copy(p, backlog.resolve(p.getFileName)))
    val backlogBytes = Layers.dirStats(backlog)._1
    val lines = in.backlogRows / PerFile * LinesPerFile
    val c = cfg(backlog, t.resolve("idx"))

    val parseMs = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime(); parseStream(c, t.resolve("ckpt"))
      Stats.ms(System.nanoTime() - t0)
    })
    // traced catch-up drain: spark counters, driver time, planning,
    // source read amplification
    val drainQuery = tr.span("run") {
      val q = parseStream(c, t.resolve("ckpt"))
        .runStream(spark, t.resolve("ckpt").toString)
      q.awaitTermination(); q
    }
    val run = tr.report("run", cores)
    val drainEpochs = tr.streams.epochs(drainQuery.runId)

    // lazy layers as noop prefixes over the same backlog
    val spec = c.parse()
    tr.span("sources")(spec.source.read(spark).write.format("noop")
      .mode("overwrite").save())
    val src = tr.report("sources", cores)
    val chainSelf = spec.sinks.map { s =>
      tr.span(s"chain:${s.name}")(spec.compile(spark)(s.name)
        .write.format("noop").mode("overwrite").save())
      s.name -> math.max(0.0,
        tr.report(s"chain:${s.name}", cores)("wall_s") - src("wall_s"))
    }.toMap

    // index ingest: writeEpoch with maintenance off, epoch by epoch, then
    // the maintenance pass as its own span
    val decoded = spec.compile(spark)("search")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pagesOut = decoded.count()
    val epochs = 6
    val ing = t.resolve("ingest")
    val sinks = Seq(
      "search" -> IncrementalSearchIndex.SearchIndexSink(searchCfg(ing),
        "doc_id", "text"),
      "links" -> IncrementalLinkIndex.LinkIndexSink(linkCfg(ing),
        "doc_id", "url", "html"))
    val ingestMs = mutable.Map.empty[String, Seq[Double]]
    (0 until epochs).foreach { e =>
      val part = decoded.filter(pmod(col("doc_id"), lit(epochs)) === e)
        .persist(StorageLevel.MEMORY_AND_DISK)
      part.count()
      sinks.foreach { case (k, s) =>
        val span = s"ingest:$k"
        val t0 = System.nanoTime()
        tr.span(span)(s.writeEpoch(part, e.toLong))
        ingestMs(k) = ingestMs.getOrElse(k, Nil) :+ Stats.ms(System.nanoTime() - t0)
      }
      part.unpersist(blocking = true)
    }
    decoded.unpersist(blocking = true)
    val pol = Maintenance.Policy(everyEpochs = 1, graceMs = 0L)
    val maint = Map(
      "search" -> tr.span("maintain:search")(
        IncrementalSearchIndex.maintainIfDue(spark, searchCfg(ing), pol)),
      "links" -> tr.span("maintain:links")(
        IncrementalLinkIndex.maintainIfDue(spark, linkCfg(ing), pol)))
    val indexFacts = Seq("search", "links").map { k =>
      val (bytes, files) = Layers.dirStats(ing.resolve(k))
      k -> Map("ingest_ms.p50" -> Stats.median(ingestMs(k)),
        "write_s" -> tr.report(s"ingest:$k", cores)("wall_s"),
        "maintenance_ms" -> tr.report(s"maintain:$k", cores)("wall_s") * 1e3,
        "maintenance_ran" -> maint(k),
        "live_files" -> files, "bytes_per_input_byte" -> bytes.toDouble / backlogBytes)
    }.toMap

    // probes under spans: jobs and files read per probe
    val r = new SplittableRandom(ctx.seed ^ 0x51L)
    val probeFacts = Probes.all.map { p =>
      val per = (1 to 3).map { j =>
        val span = s"probe:${p.name}:$j"
        tr.span(span)(p.run(spark, dir.resolve("idx"), r, in.pages.size))
        val rep = tr.report(span, cores)
        (rep("jobs"), rep("fs_bytes_read"))
      }
      p.name -> Map("ms.p50" -> Stats.median(probeMs.getOrElse(p.name, Seq(0.0))),
        "jobs.p50" -> Stats.median(per.map(_._1)),
        "bytes_read.p50" -> Stats.median(per.map(_._2)))
    }.toMap

    val epochMs = tailEpochs.map(_.triggerMs.toDouble)
    val streaming = Map(
      "streaming.epochs" -> tailEpochs.size,
      "streaming.rows_per_epoch" -> (if (tailEpochs.isEmpty) 0.0
        else tailEpochs.map(_.rows).sum.toDouble / tailEpochs.size),
      "streaming.epoch_ms.p50" -> (if (epochMs.isEmpty) 0.0 else Stats.median(epochMs)),
      "streaming.epoch_ms.tail" -> (if (epochMs.isEmpty) 0.0 else Stats.tail(epochMs)._1),
      "streaming.engine_overhead_ms.p50" -> (if (tailEpochs.isEmpty) 0.0
        else Stats.median(tailEpochs.map(e => (e.triggerMs - e.addBatchMs).toDouble))),
      "streaming.backlog_files.max" -> (if (backlogAtEpoch.isEmpty) 0L else backlogAtEpoch.max),
      "streaming.generator_late_ms.max" -> (if (lateMs.isEmpty) 0L else lateMs.max),
      "streaming.drain_epochs" -> drainEpochs.map(e => Map("rows" -> e.rows,
        "trigger_ms" -> e.triggerMs, "add_batch_ms" -> e.addBatchMs)),
      "streaming.indexes" -> indexFacts,
      "streaming.streamed_indexes" -> maintenanceFacts())

    val sinkWrite = indexFacts.values.map(_("write_s").asInstanceOf[Double]).sum
    val layers = Map(
      "sources.read_s" -> src("wall_s"),
      "sources.rows_per_s" -> lines / src("wall_s"),
      "sources.input_bytes" -> backlogBytes.toDouble,
      "transforms.self_s" -> chainSelf.values.sum,
      "transforms.rows_out_ratio" -> pagesOut.toDouble / lines,
      "pipeline.parse_ms" -> parseMs,
      "pipeline.plan_ms" -> run("plan_ms"),
      "pipeline.source_read_amplification" -> run("fs_bytes_read") / backlogBytes,
      "pipeline.driver_s" -> run("driver_s"),
      "sinks.write_s" -> sinkWrite,
      "sinks.rows_per_s" -> 2.0 * pagesOut / sinkWrite,
      "sinks.bytes_per_input_byte" -> indexFacts.values
        .map(_("bytes_per_input_byte").asInstanceOf[Double]).sum,
      "sinks.files" -> indexFacts.values
        .map(_("live_files").asInstanceOf[Long]).sum.toDouble,
      "trace.overhead_s" -> (run("wall_s") - drainWall)) ++ Layers.spark(run)
    (layers, Map("run" -> run, "sources" -> src, "chains" -> chainSelf,
      "streaming" -> streaming, "probes" -> probeFacts,
      "tracing_overhead_s" -> (run("wall_s") - drainWall),
      "untraced_drain_s" -> drainWall))
  }
}

