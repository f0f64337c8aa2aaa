package perfbench

/** The per-layer metric names every traced run prints (BENCHMARK.json
  * `per_layer`), with units. Each workload fills them from its own
  * spans; the workload-specific breakdowns (one entry per transform
  * chain, operator stage, sink, index and probe kind) go to the report
  * file only, since not every workload crosses every layer. */
object Layers {
  val units: Map[String, String] = Map(
    "sources.read_s" -> "s", "sources.rows_per_s" -> "rows/s",
    "sources.input_bytes" -> "bytes",
    "transforms.self_s" -> "s", "transforms.rows_out_ratio" -> "ratio",
    "pipeline.parse_ms" -> "ms", "pipeline.plan_ms" -> "ms",
    "pipeline.source_read_amplification" -> "ratio",
    "pipeline.driver_s" -> "s",
    "sinks.write_s" -> "s", "sinks.rows_per_s" -> "rows/s",
    "sinks.bytes_per_input_byte" -> "ratio", "sinks.files" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_s" -> "s", "spark.cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.core_util" -> "ratio",
    "trace.overhead_s" -> "s")

  /** The spark.* block from one span report. */
  def spark(r: Map[String, Double]): Map[String, Double] =
    Seq("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
      "core_util").map(k => s"spark.$k" -> r(k)).toMap

  /** Bytes and data files (no `_`/`.` marker files) under a dir. */
  def dirStats(dir: java.nio.file.Path): (Long, Long) =
    if (!java.nio.file.Files.exists(dir)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        val fs = s.iterator().asScala.filter(p =>
          java.nio.file.Files.isRegularFile(p) && {
            val n = p.getFileName.toString
            !n.startsWith("_") && !n.startsWith(".")
          }).toSeq
        (fs.map(java.nio.file.Files.size).sum, fs.size.toLong)
      } finally s.close()
    }

  /** Self time of a prefix chain: each prefix's wall minus the previous
    * prefix's (never below zero — prefixes are separate timed runs). */
  def selfTimes(prefixes: Seq[(String, Double)]): Seq[(String, Double)] =
    prefixes.zip(0.0 +: prefixes.map(_._2)).map { case ((n, w), prev) =>
      n -> math.max(0.0, w - prev) }
}
