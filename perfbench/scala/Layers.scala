package perfbench

/** Per-layer metrics of a traced run, from its set-up and timed-op spans
  * (warm-up spans are left out). Every metric is reported on every
  * workload; a layer the workload never calls reads 0.
  */
object Layers {

  /** Timed spans: each yields `<name>.p50` (median per call) and
    * `<name>.sum` (total over the run), in seconds.
    */
  val TimedSpans: Seq[String] = Seq(
    "config.build_router_s",
    "router.fanout_s",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.overhead_s",
    "sink.write_s",
    "index.append_text_s", "index.append_ivf_s",
    "index.delete_text_s", "index.delete_ivf_s",
    "index.compact_text_s", "index.compact_ivf_s",
    "index.read_text_s", "index.read_ivf_s",
    "text.bm25_s", "text.bm25_plan_s", "text.bm25_exec_s",
    "text.hybrid_s", "text.hybrid_plan_s", "text.hybrid_exec_s",
    "similarity.ann_s", "similarity.ann_plan_s", "similarity.ann_exec_s",
    "dedup.pairs_s", "graph.cc_s", "graph.pagerank_s")

  /** Layers whose spans carry Spark counts (jobs are charged to the
    * innermost open span, so layers never double count).
    */
  val SparkLayers: Seq[String] =
    Seq("sink", "index", "text", "similarity", "dedup", "graph")
  val SparkCounts: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B")

  /** (metric name, unit) in report order — what BENCHMARK.json declares. */
  val declared: Seq[(String, String)] =
    TimedSpans.flatMap(n => Seq(s"$n.p50" -> "s", s"$n.sum" -> "s")) ++ Seq(
      "sink.rows_written" -> "count", "sink.files_written" -> "count",
      "sink.bytes_written" -> "B", "index.compactions_fired" -> "count",
      "index.files" -> "count", "index.disk_bytes" -> "B",
      "dedup.pairs" -> "count", "graph.pagerank_rounds" -> "count") ++
      SparkLayers.flatMap(l => SparkCounts.map { case (k, u) =>
        s"spark.$l.${k.stripPrefix("spark.")}" -> u })

  def metrics(all: Seq[Span]): Seq[(String, Double, String)] = {
    val spans = all.filter(_.op >= 0)
    def named(n: String) = spans.filter(_.name == n)
    def attr(ss: Seq[Span], k: String) = ss.map(_.attrs.getOrElse(k, 0.0))
    def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Main.percentile(xs, 0.5)
    val values: Map[String, Double] =
      TimedSpans.flatMap { n =>
        val d = named(n).map(_.seconds)
        Seq(s"$n.p50" -> median(d), s"$n.sum" -> d.sum)
      }.toMap ++ Map(
        "sink.rows_written" -> attr(named("sink.write_s"), "spark.records_written").sum,
        "sink.files_written" -> attr(named("sink.census"), "files").sum,
        "sink.bytes_written" -> attr(named("sink.write_s"), "spark.bytes_written").sum,
        "index.compactions_fired" ->
          (attr(named("index.compact_text_s"), "fired") ++
            attr(named("index.compact_ivf_s"), "fired")).sum,
        "index.files" -> median(attr(named("index.census"), "files")),
        "index.disk_bytes" -> median(attr(named("index.census"), "bytes")),
        "dedup.pairs" -> median(attr(named("dedup.pairs_s"), "pairs")),
        "graph.pagerank_rounds" -> median(attr(named("graph.pagerank_s"), "rounds"))
      ) ++ SparkLayers.flatMap { l =>
        val ss = spans.filter(_.layer == l)
        SparkCounts.map { case (k, _) =>
          s"spark.$l.${k.stripPrefix("spark.")}" -> attr(ss, k).sum }
      }
    declared.map { case (n, u) => (n, values(n), u) }
  }
}
