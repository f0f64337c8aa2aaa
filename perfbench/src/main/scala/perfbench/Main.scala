package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  *   java … perfbench.Main --workload cdc_index --seed 7 --seconds 15 \
  *     --trace 0 --work <scratch dir> --data <seed_corpus.tsv> --cores 4
  *
  * Set-up (session start + input generation + warm-up pass) runs once,
  * cold, in this fresh JVM; `setup_s` is its wall. One sample per run:
  * the JVM-wide caches it fills would make any repeat a warm one.
  * The last stdout line is the result object; `--report` additionally
  * gets the full record (input properties, digests, the workload-named
  * metrics and, when traced, every layer's figures).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, data: Path, cores: Int,
      report: Option[Path])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work")),
      Paths.get(need("--data")), m.getOrElse("--cores", "4").toInt,
      m.get("--report").map(Paths.get(_)))
  }

  private def phase(name: String, t0: Long): Unit =
    System.err.println(f"[perfbench] $name: ${Stats.s(System.nanoTime() - t0)}%.2f s")

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Everything a workload needs for one run. */
  final class Ctx(val args: Args, val words: Gen.Words) {
    var spark: SparkSession = _
    def seconds: Int = args.seconds
    def cores: Int = args.cores
    def seed: Long = args.seed
  }

  /** What a workload reports. `e2e` holds the BENCHMARK.json end-to-end
    * names; `named` the same figures under the workload's own names
    * (copy_rows_per_s, lag_p50_ms, …) plus their side facts. */
  final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
      e2e: Map[String, Double], named: Map[String, Any],
      props: Map[String, Any], errors: Seq[String])

  trait Workload {
    /** Generate inputs under `dir` and run one warm-up pass; returns the
      * inputs' digest. */
    def setup(ctx: Ctx, dir: Path): String
    /** The seed's input digest, recomputed without touching the disk —
      * the determinism self check. */
    def digest(ctx: Ctx, seed: Long): String
    def measure(ctx: Ctx): Outcome
    /** The traced run: per-layer metrics (declared names) and the full
      * per-layer record for the report. */
    def trace(ctx: Ctx, col: Collector): (Map[String, Double], Map[String, Any])
  }

  val workloads: Map[String, () => Workload] = Map(
    "cdc_index" -> (() => new CdcIndex),
    "curate_batch" -> (() => new CurateBatch))

  /** A run that throws prints no result and exits non-zero (Spark's
    * threads would otherwise keep the JVM alive). */
  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl = workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))()
    val heap = new HeapWatch

    val t0 = System.nanoTime()
    val ctx = new Ctx(args, new Gen.Words(Gen.loadSeedCorpus(args.data)))
    ctx.spark = session(args.work, args.cores)
    val d1 = wl.setup(ctx, args.work.resolve("in"))
    val setupS = Stats.s(System.nanoTime() - t0)
    phase("setup", t0)
    // determinism self check (off the set-up clock): the seed's inputs
    // generated again give the same bytes, the next seed's give others
    val t1 = System.nanoTime()
    val dAgain = wl.digest(ctx, args.seed)
    val dNext = wl.digest(ctx, args.seed + 1)
    val genOk = d1 == dAgain && d1 != dNext
    phase("self check", t1)

    heap.reset()
    val t2 = System.nanoTime()
    val out = wl.measure(ctx)
    phase("measure", t2)
    val (gcMedMb, gcMaxMb) = heap.afterGcMb
    val e2e = out.e2e ++ Map("setup_s" -> setupS,
      "heap_mb" -> heap.retainedMb())
    val correct = out.correct && genOk

    val t3 = System.nanoTime()
    val (layers, layerDetail) =
      if (args.trace) {
        val col = new Collector(ctx.spark).attach()
        try wl.trace(ctx, col) finally col.detach()
      } else (Map.empty[String, Double], Map.empty[String, Any])
    if (args.trace) phase("trace", t3)

    val errors = out.errors ++ (if (genOk) Nil
      else Seq(s"generator self check failed: $d1 / $dAgain / $dNext"))
    errors.foreach(e => System.err.println(s"[perfbench] FAIL: $e"))
    args.report.foreach { p =>
      Files.createDirectories(p.getParent)
      Files.writeString(p, Json.render(Map(
        "workload" -> args.workload, "seed" -> args.seed,
        "seconds" -> args.seconds, "cores" -> args.cores,
        "correct" -> correct, "errors" -> errors,
        "input_digest" -> d1, "input_digest_next_seed" -> dNext,
        "input" -> out.props,
        "end_to_end" -> e2e, "named" -> out.named,
        "heap_after_gc_mb" -> Map("median" -> gcMedMb, "max" -> gcMaxMb),
        "per_layer" -> layers, "layers" -> layerDetail)) + "\n")
    }
    System.err.println(s"[perfbench] input digest $d1 (seed ${args.seed}); " +
      s"input ${Json.render(out.props)}")
    val unit = Units.all
    val shown = if (args.trace) layers else e2e
    val metrics = shown.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> Map("value" -> v, "unit" -> unit.getOrElse(k, "count")) }
    ctx.spark.stop()
    println(Json.render(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    sys.exit(0)
  }
}

/** Heap occupancy right after each collection, from GC notifications.
  * Its maximum depends on when old-generation cycles happen to run, so
  * the end-to-end figure is [[retainedMb]] and these samples go to the
  * report. */
final class HeapWatch {
  val Collections = 3
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          samples.add(info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
        }
      }, null, null)
    case _ => ()
  }
  def reset(): Unit = samples.clear()
  /** (median, max) of the after-collection samples in MB. */
  def afterGcMb: (Double, Double) = {
    val xs = samples.asScala.toSeq.map(_ / (1024.0 * 1024.0))
    if (xs.isEmpty) (0.0, 0.0) else (Stats.median(xs), xs.max)
  }
  /** The heap the session still holds once the workload is done (caches,
    * persisted blocks, index and memo state): occupancy after a full
    * collection, in MB. Blocks of dead broadcasts, shuffles and RDDs are
    * freed by Spark's cleaner only after a collection has shown them
    * dead, so the figure is taken after [[Collections]] rounds. */
  def retainedMb(): Double = {
    val mb = (1 to Collections).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
        (1024.0 * 1024.0)
    }
    System.err.println(f"[perfbench] heap after collections: ${mb.map(m => f"$m%.1f").mkString(", ")} MB")
    mb.last
  }
}

/** Units of every metric name the run can print. */
object Units {
  val all: Map[String, String] = Map(
    "setup_s" -> "s", "rows_per_s" -> "rows/s",
    "freshness_p50_ms" -> "ms", "freshness_tail_ms" -> "ms",
    "probe_p50_ms" -> "ms",
    "heap_mb" -> "MB") ++ Layers.units
}
