package perfbench

import java.nio.file.Path

import scala.collection.mutable

import perfbench.Main.{Ctx, Outcome}

/** `curate_batch` — corpus curation as one config: a `file` source of
  * crawl records → url_filter → gopher_filter → repetition_filter →
  * exact_dedup → jaccard_dedup → parquet. Each run is followed by the
  * user's read-back of the kept set, which is also the correctness check
  * against the generator's planted groups: exactly one doc of every
  * exact-dup group, none of the planted removals (exact copies, near
  * copies, low-quality pages), every clean page.
  *
  * A run takes longer than the usual window, so the window mostly holds
  * one run: `rows_per_s`, `freshness_p50_ms` (median run wall) and
  * `freshness_tail_ms` (slowest run wall) then all come from that one
  * wall. There are never enough runs for the tail rule. */
final class CurateBatch extends Main.Workload {
  val Docs = 1500
  val Files_ = 4
  /** Read-backs per run: the first ten or so are still warming up. */
  val ReadBacks = 30

  private var in: Gen.CurateInputs = _
  private var dir: Path = _

  /** The config reading `c`'s records under `d` into `d`/out/kept. */
  private def cfg(d: Path, c: Gen.CurateInputs): PipeCfg = PipeCfg("curate",
    Map("adaptor" -> "file", "name" -> "crawl",
      "uri" -> d.resolve(c.dir).toString, "ns" -> "crawl",
      "schema" -> "doc_id long, url string, text string"),
    Seq(SinkCfg("kept", Map("adaptor" -> "parquet",
      "uri" -> d.resolve("out/kept").toString), Seq(
      "url_filter" -> Map("fn" -> "url_filter", "url_col" -> "url",
        "blocklist" -> Seq(Gen.blockedDomain)),
      "gopher_filter" -> Map("fn" -> "gopher_filter", "text_col" -> "text"),
      "repetition_filter" -> Map("fn" -> "repetition_filter",
        "id_col" -> "doc_id", "text_col" -> "text"),
      "exact_dedup" -> Map("fn" -> "exact_dedup", "id_col" -> "doc_id",
        "text_col" -> "text"),
      "jaccard_dedup" -> Map("fn" -> "jaccard_dedup", "id_col" -> "doc_id",
        "text_col" -> "text", "t_num" -> 1, "t_den" -> 2,
        "shingle_k" -> 3)))))

  /** Warm-up: the chain through the quality gates. A full warm-up run
    * (over a smaller corpus of its own) made the measured runs ~11 s
    * instead of ~17 s but no steadier, and cost 14 s of set-up. */
  val WarmStages = 2

  def setup(ctx: Ctx, d: Path): String = {
    dir = d
    in = Gen.curateBatch(new Gen.Out(Some(d)), ctx.words, ctx.seed, Docs, Files_)
    BatchPipe.run(ctx.spark, cfg(d, in).prefix("kept", WarmStages))
    readBack(ctx, d)
    in.digest
  }

  def digest(ctx: Ctx, seed: Long): String =
    Gen.curateBatch(new Gen.Out(None), ctx.words, seed, Docs, Files_).digest

  private val walls = mutable.ArrayBuffer.empty[Double]
  private val probes = mutable.ArrayBuffer.empty[Double]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private var keptN = 0L

  /** The planted-group check of one kept set. */
  private def check(kept: Set[Long]): Seq[String] = {
    val e = mutable.ArrayBuffer.empty[String]
    val badGroups = in.exactGroups.filter(g => g.count(kept) != 1)
    if (badGroups.nonEmpty)
      e += s"${badGroups.size} exact-dup groups not kept exactly once, " +
        s"e.g. ${badGroups.head}"
    val leaked = in.plantedRemovals.intersect(kept)
    if (leaked.nonEmpty)
      e += s"${leaked.size} planted removals kept, e.g. ${leaked.take(5)}"
    val lost = in.clean -- kept
    if (lost.nonEmpty)
      e += s"${lost.size} clean pages dropped, e.g. ${lost.take(5)}"
    e.toSeq
  }

  private def readBack(ctx: Ctx, d: Path): Set[Long] =
    ctx.spark.read.parquet(d.resolve("out/kept").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  private def once(ctx: Ctx): Unit = {
    attempted += 1
    try {
      val (wall, recs) = BatchPipe.run(ctx.spark, cfg(dir, in))
      walls += wall
      // the user's read-back of the kept set, a few times for a median
      val kept = (1 to ReadBacks).map { _ =>
        val t0 = System.nanoTime()
        val k = readBack(ctx, dir)
        probes += Stats.ms(System.nanoTime() - t0)
        k
      }.head
      keptN = kept.size
      if (recs.get("kept") != Some(kept.size.toLong))
        errors += s"events records $recs, kept ${kept.size}"
      errors ++= check(kept)
    } catch {
      case e: Exception => failed += 1; errors += s"run failed: $e"
    }
  }

  def measure(ctx: Ctx): Outcome = {
    walls.clear(); probes.clear(); errors.clear(); attempted = 0; failed = 0
    val end = System.nanoTime() + ctx.seconds * 1000000000L
    once(ctx)
    while (System.nanoTime() < end) once(ctx)
    val rates = walls.map(in.docs / _)
    val (ptail, pp, pn) = Stats.tail(probes.toSeq)
    Outcome(errors.isEmpty, attempted, failed,
      Map("rows_per_s" -> Stats.median(rates.toSeq),
        "freshness_p50_ms" -> Stats.median(walls.toSeq) * 1e3,
        "freshness_tail_ms" -> walls.max * 1e3,
        "probe_p50_ms" -> Stats.median(probes.toSeq)),
      Map("curate_docs_per_s" -> Stats.median(rates.toSeq),
        "runs" -> walls.size, "run_walls_s" -> walls.toSeq,
        "readback_ms" -> probes.toSeq,
        "readback_tail_ms" -> ptail,
        "readback_tail" -> Map("percentile" -> pp, "samples" -> pn),
        "kept_docs" -> keptN,
        "failed_ratio" -> failed.toDouble / attempted),
      in.props ++ Map("digest" -> in.digest), errors.toSeq)
  }

  def trace(ctx: Ctx, col: Collector): (Map[String, Double], Map[String, Any]) =
    BatchPipe.trace(ctx.spark, col, cfg(dir, in), in.docs, in.bytes,
      Map("kept" -> dir.resolve("out/kept")), walls.toSeq, ctx.cores)
}
