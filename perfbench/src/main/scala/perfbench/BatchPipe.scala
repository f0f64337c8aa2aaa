package perfbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

import graft.events.Events
import graft.pipeline.{ConfigLoader, PipelineSpec}

/** A batch pipeline config kept as data, so the traced run can cut it
  * into prefixes (the source alone, then each transform stage in turn). */
final case class SinkCfg(name: String, fields: Map[String, Any],
    transforms: Seq[(String, Map[String, Any])])

final case class PipeCfg(name: String, source: Map[String, Any],
    sinks: Seq[SinkCfg]) {
  def json: String = Json.render(Map("name" -> name, "source" -> source,
    "sinks" -> sinks.map(s => s.fields ++ Map("name" -> s.name,
      "transforms" -> s.transforms.map { case (n, t) => t + ("name" -> n) }))))

  /** Only `sink`, with its first `k` transforms. */
  def prefix(sink: String, k: Int): PipeCfg = copy(sinks = sinks
    .filter(_.name == sink).map(s => s.copy(transforms = s.transforms.take(k))))

  def parse(): PipelineSpec = ConfigLoader.parse(json, Map.empty)
}

/** The drive and traced split of a batch pipeline config. */
object BatchPipe {

  /** One user-path run: parse the config, run it with the events
    * emitter; returns (wall seconds, records per sink from the events). */
  def run(spark: SparkSession, cfg: PipeCfg): (Double, Map[String, Long]) = {
    val em = new Events.BufferingEmitter
    val t0 = System.nanoTime()
    cfg.parse().run(spark, em)
    val wall = Stats.s(System.nanoTime() - t0)
    System.err.println(f"[perfbench] ${cfg.name} run: $wall%.3f s")
    val recs = em.events.filter(_.name == "metrics")
      .map(e => e.path.stripPrefix(cfg.name + "/") -> e.records).toMap
    (wall, recs)
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The traced split of a batch pipeline. Lazy layers are timed as
    * prefixes written to `noop` (source; source + stage 1; …), a stage's
    * self time is its prefix minus the previous one; sink writes are
    * timed on the persisted chain output; the whole run is timed as the
    * user calls it. `outDirs` are the sinks' output dirs (bytes/files),
    * `untraced` the untraced run walls of the same process. */
  def trace(spark: SparkSession, col: Collector, cfg: PipeCfg,
      sourceRows: Long, inputBytes: Long,
      outDirs: Map[String, java.nio.file.Path], untraced: Seq[Double],
      cores: Int): (Map[String, Double], Map[String, Any]) = {
    val parseMs = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime(); cfg.parse(); Stats.ms(System.nanoTime() - t0)
    })
    val spec = cfg.parse()
    col.span("sources")(noop(spec.source.read(spark)))
    val src = col.report("sources", cores)
    val srcWall = src("wall_s")

    // per sink: each transform prefix, then the sink write. The last
    // prefix is the chain itself, persisted and counted, so the sink
    // write is timed on the persisted chain output without planning and
    // running the chain a second time.
    val perSink = cfg.sinks.map { s =>
      val n = s.transforms.size
      var chain: org.apache.spark.sql.DataFrame = null
      val prefixes = (1 to n).map { k =>
        val (tname, _) = s.transforms(k - 1)
        val span = s"stage:${s.name}:$k"
        val rows =
          if (k < n) {
            val df = cfg.prefix(s.name, k).parse().compile(spark)(s.name)
            val obs = new Observation(span)
            col.span(span)(noop(df.observe(obs, count(lit(1)).as("n"))))
            obs.get("n").asInstanceOf[Long]
          } else col.span(span) {
            chain = spec.compile(spark)(s.name)
              .persist(StorageLevel.MEMORY_AND_DISK)
            chain.count()
          }
        (tname, col.report(span, cores), rows)
      }
      val self = Layers.selfTimes(("", srcWall) +:
        prefixes.map(p => (p._1, p._2("wall_s")))).tail
      val stages = prefixes.zip(self).zipWithIndex.map {
        case (((tname, r, rows), (_, selfS)), i) =>
          val inRows = if (i == 0) sourceRows else prefixes(i - 1)._3
          val prevSh = if (i == 0) src else prefixes(i - 1)._2
          tname -> Map("self_s" -> selfS, "prefix_s" -> r("wall_s"),
            "rows_out" -> rows.toDouble,
            "kept_ratio" -> rows.toDouble / math.max(1L, inRows),
            "shuffle_bytes" -> math.max(0.0,
              r("shuffle_write_bytes") - prevSh("shuffle_write_bytes")),
            "plan_ms" -> r("plan_ms"))
      }
      if (chain == null) chain = spec.compile(spark)(s.name)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val out = chain.count()
      val sink = spec.sinks.find(_.name == s.name).get.sink
      col.span(s"sink:${s.name}")(sink.write(chain))
      chain.unpersist(blocking = true)
      val w = col.report(s"sink:${s.name}", cores)
      val (bytes, files) = outDirs.get(s.name).map(Layers.dirStats)
        .getOrElse((0L, 0L))
      (s.name, stages, out, out, w("wall_s"), bytes, files)
    }

    val runs = Seq(col.span("run")(run(spark, cfg))._1)
    val full = col.report("run", cores)
    val overhead = Stats.median(runs) - Stats.median(untraced)

    val chainSelf = perSink.flatMap(_._2.map(_._2("self_s"))).sum
    val chainIn = sourceRows.toDouble * cfg.sinks.size
    val sinkWrite = perSink.map(_._5).sum
    val sinkRows = perSink.map(_._4).sum.toDouble
    val layers = Map(
      "sources.read_s" -> srcWall,
      "sources.rows_per_s" -> sourceRows / srcWall,
      "sources.input_bytes" -> inputBytes.toDouble,
      "transforms.self_s" -> chainSelf,
      "transforms.rows_out_ratio" -> perSink.map(_._3).sum / chainIn,
      "pipeline.parse_ms" -> parseMs,
      "pipeline.plan_ms" -> full("plan_ms") / runs.size,
      "pipeline.source_read_amplification" ->
        full("fs_bytes_read") / runs.size / inputBytes,
      "pipeline.driver_s" -> full("driver_s") / runs.size,
      "sinks.write_s" -> sinkWrite,
      "sinks.rows_per_s" -> sinkRows / sinkWrite,
      "sinks.bytes_per_input_byte" ->
        perSink.map(_._6).sum.toDouble / inputBytes,
      "sinks.files" -> perSink.map(_._7).sum.toDouble,
      "trace.overhead_s" -> overhead) ++
      Layers.spark(full.map { case (k, v) =>
        k -> (if (k == "core_util") v else v / runs.size) })
    val detail = Map(
      "sources" -> src,
      "chains" -> perSink.map { case (name, stages, out, _, _, _, _) =>
        name -> Map("self_s" -> stages.map(_._2("self_s")).sum,
          "rows_out_ratio" -> out.toDouble / sourceRows,
          "stages" -> stages.toMap) }.toMap,
      "sinks" -> perSink.map { case (name, _, _, rows, w, bytes, files) =>
        name -> Map("write_s" -> w, "rows_per_s" -> rows / w,
          "bytes_per_input_byte" -> bytes.toDouble / inputBytes,
          "files" -> files) }.toMap,
      "run" -> full, "run_walls_s" -> runs, "untraced_walls_s" -> untraced,
      "tracing_overhead_s" -> overhead)
    (layers, detail)
  }
}
