package perfbench

/** Per-op Spark counters of the traced ops, from the span listener. */
object SparkLayer {
  def metrics(t: Tracer, traced: Seq[OpRec], cpus: Int): Seq[(String, M)] = {
    val byOp = t.spans.groupBy(_.op)
    val perOp = traced.flatMap(r => byOp.get(r.i).map { spans =>
      val st = spans.map(s => t.statsOf(s.id))
      val runS = st.map(_.taskRunMs).sum / 1000.0
      val busyS = Tracer.unionMs(st.flatMap(_.jobIntervals).toSeq) / 1000.0
      Seq(
        "spark.jobs" -> st.map(_.jobs).sum.toDouble,
        "spark.stages" -> st.map(_.stages).sum.toDouble,
        "spark.tasks" -> st.map(_.tasks).sum.toDouble,
        "spark.shuffle_bytes" -> st.map(_.shuffleBytes).sum.toDouble,
        "spark.spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
        "spark.task_cpu_s" -> st.map(_.taskCpuNs).sum / 1e9,
        "spark.gc_s" -> st.map(_.gcMs).sum / 1000.0,
        "spark.slot_util" -> runS / (r.seconds * cpus),
        "spark.driver_gap_s" -> math.max(0.0, r.seconds - busyS))
    })
    Catalog.spark.map { case (name, unit) =>
      name -> M(Stats.median(perOp.flatMap(_.collect { case (`name`, v) => v })), unit)
    }
  }

  /** Median over traced ops of the summed duration of spans named `name`. */
  def layerSeconds(t: Tracer, traced: Seq[OpRec], name: String): Double = {
    val byOp = t.spans.filter(_.name == name).groupBy(_.op)
    Stats.median(traced.map(r => byOp.get(r.i).map(_.map(_.seconds).sum).getOrElse(0.0)))
  }

  /** Spark counters summed over every span named `name` of the traced ops. */
  def layerStats(t: Tracer, traced: Seq[OpRec], name: String): SpanStats = {
    val ops = traced.map(_.i).toSet
    val acc = new SpanStats
    t.spans.filter(s => s.name == name && ops(s.op)).map(s => t.statsOf(s.id)).foreach { s =>
      acc.jobs += s.jobs; acc.inputBytes += s.inputBytes
      acc.inputRecords += s.inputRecords; acc.outputBytes += s.outputBytes
    }
    acc
  }
}

/** Every per-layer metric the traced run prints, with its unit. The list
  * is the same for every workload: a layer that a workload does not enter
  * reads 0 there (see perfbench/METRICS.md for which workload each
  * layer belongs to). Must match `per_layer` in BENCHMARK.json. */
object Catalog {
  val spark: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.slot_util" -> "ratio",
    "spark.driver_gap_s" -> "s")

  val views: Seq[String] = Seq("pa_v1", "pa_v2", "incidence", "primary_location",
    "observation_pa", "sample_visible")

  val all: Seq[(String, String)] = Seq(
    "op_drift_ratio" -> "ratio", "trace_overhead_ratio" -> "ratio") ++ spark ++ Seq(
    "receiving.read_s" -> "s", "receiving.unprocessed_s" -> "s",
    "receiving.swap_s" -> "s", "receiving.rows_scanned_per_pending" -> "count",
    "receiving.bytes_written_per_doc" -> "bytes",
    "receiving.stored_bytes_per_input_byte" -> "ratio",
    "etl.decompose_s" -> "s", "etl.docs_parsed" -> "count",
    "etl.quarantine_ratio" -> "ratio", "etl.cycle_p50_s" -> "s",
    "etl.docs_per_s" -> "1/s",
    "merge.upsert_s" -> "s", "merge.created" -> "count",
    "merge.updated" -> "count", "merge.unchanged" -> "count",
    "merge.rows_scanned_per_changed_row" -> "count",
    "merge.bytes_written_per_changed_row" -> "bytes") ++
    views.map(v => s"shipping.view_s.$v" -> "s") ++ Seq(
    "shipping.read_p50_s" -> "s",
    "shipping.lookup_p50_ms" -> "ms", "shipping.lookup_tail_ms" -> "ms",
    "shipping.bytes_scanned_per_read" -> "bytes",
    "shipping.rows_scanned_per_row_out" -> "ratio",
    "shipping.lookup_rows_scanned" -> "count",
    "barcodes.mint_s" -> "s", "barcodes.rounds" -> "count",
    "barcodes.yield_ratio" -> "ratio", "barcodes.conflicts" -> "count",
    "barcodes.jobs_per_round" -> "count", "barcodes.ids_per_s" -> "1/s",
    "dedup.pairs_s" -> "s", "dedup.cc_s" -> "s", "dedup.cc_jobs" -> "count",
    "dedup.candidate_pairs" -> "count", "dedup.pair_precision" -> "ratio",
    "dedup.recall" -> "ratio", "dedup.docs_per_s" -> "1/s",
    "catalogue.pass_s" -> "s", "catalogue.query_p50_s" -> "s",
    "catalogue.query_tail_s" -> "s") ++
    Catalogue.Families.map { case (f, _) => s"catalogue.family_s.$f" -> "s" }

  /** The full per-layer set: measured values, 0 for layers not entered. */
  def perLayer(measured: Seq[(String, M)]): Seq[(String, M)] = {
    val m = measured.toMap
    val unknown = m.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the catalog: $unknown")
    all.map { case (name, unit) =>
      name -> m.get(name).filterNot(_.value.isNaN).getOrElse(M(0.0, unit)) }
  }

  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op_p50_ms" -> "ms",
    "items_per_s" -> "1/s", "retained_heap_mb" -> "MB")

  /** Fails fast when BENCHMARK.json and the metrics printed here disagree. */
  def requireMatches(benchmarkJson: java.io.File): Unit = if (benchmarkJson.exists) {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(benchmarkJson)
    def listed(key: String): Seq[(String, String)] = {
      val it = tree.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(n => n.get("name").asText -> n.get("unit").asText).toSeq
    }
    require(listed("end_to_end") == endToEnd,
      s"BENCHMARK.json end_to_end ${listed("end_to_end")} != $endToEnd")
    require(listed("per_layer") == all,
      s"BENCHMARK.json per_layer differs from perfbench.Catalog.all")
  }
}
