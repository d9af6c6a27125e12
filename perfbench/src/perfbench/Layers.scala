package perfbench

/** The per-layer metrics of a traced run. Every layer reports, per
  * occurrence (one span: a round, a batch, a leg, a read): self time,
  * executor busy time, task wait, CPU and GC. Layers a workload does
  * not exercise report 0. Layers that Spark fuses into one stage come
  * from difference legs: the same input through successively longer
  * chains of public calls, each layer being one chain minus the one
  * before it. */
object Layers {
  /** layer → (leg span, leg span it extends) for difference layers. */
  val legs: Map[String, (String, Option[String])] = Map(
    "sources.scan" -> ("leg.scan", None),
    "operators.system_columns" -> ("leg.scan_attach", Some("leg.scan")),
    "sinks.parquet" -> ("leg.scan_attach_parquet", Some("leg.scan_attach")),
    "llm.quality" -> ("leg.quality", None),
    "llm.decontaminate" -> ("leg.quality_decon", Some("leg.quality")),
    "llm.dedup_probe" -> ("leg.quality_decon_probe", Some("leg.quality_decon")))

  val names: Seq[String] = Seq("Protocol.sync_all", "sources.scan",
    "operators.system_columns", "sinks.parquet", "sinks.iceberg.commit",
    "sinks.iceberg.read", "cdc.decode", "operators.merge", "sinks.delta",
    "sinks.iceberg.publish", "streaming.cdc_apply", "streaming.curate_apply",
    "llm.quality", "llm.decontaminate", "llm.dedup_probe")

  /** Per-occurrence figures of one layer. */
  final case class Per(self: Double, busy: Double, waitS: Double, cpu: Double,
                       gc: Double, tasks: Double, jobs: Double, shuffle: Double,
                       inRows: Double, inBytes: Double, outBytes: Double) {
    def -(o: Per): Per = Per(self - o.self, busy - o.busy, waitS - o.waitS,
      cpu - o.cpu, gc - o.gc, tasks - o.tasks, jobs - o.jobs,
      shuffle - o.shuffle, inRows - o.inRows, inBytes - o.inBytes,
      outBytes - o.outBytes)
  }
  private val zero = Per(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  private def per(s: LayerStat): Per = {
    val n = math.max(s.occurrences, 1).toDouble
    val c = s.c
    Per(s.selfS / n, c.busyMs / 1e3 / n, c.waitMs / 1e3 / n, c.cpuNs / 1e9 / n,
      c.gcMs / 1e3 / n, c.tasks / n, c.jobs / n, c.shuffleBytes / n,
      c.inRows / n, c.inBytes / n, c.outBytes / n)
  }

  def metrics(b: Breakdown, counters: Map[String, Double],
              e2e: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val stats = b.layers
    def layer(n: String): Per = legs.get(n) match {
      case Some((leg, prev)) => stats.get(leg).map(per).fold(zero)(l =>
        prev.flatMap(stats.get).map(per).fold(l)(l - _))
      case None => stats.get(n).map(per).getOrElse(zero)
    }
    val ls = names.map(n => n -> layer(n)).toMap
    val common = names.flatMap { n =>
      val p = ls(n)
      Seq((s"$n.self_s", p.self, "s"), (s"$n.busy_s", p.busy, "s"),
        (s"$n.wait_s", p.waitS, "s"), (s"$n.cpu_s", p.cpu, "s"),
        (s"$n.gc_s", p.gc, "s"))
    }
    def c(k: String) = counters.getOrElse(k, 0.0)
    val changeBytes = c("sinks.delta.change_bytes_in")
    val extra = Seq(
      ("Protocol.sync_all.streams", c("Protocol.sync_all.streams"), "count"),
      ("Protocol.sync_all.attempts", c("Protocol.sync_all.attempts"), "count"),
      ("Protocol.sync_all.parallel_eff", c("Protocol.sync_all.parallel_eff"), "ratio"),
      ("sources.scan.rows_in", ls("sources.scan").inRows, "count"),
      ("sources.scan.bytes_in", ls("sources.scan").inBytes, "bytes"),
      ("sinks.parquet.rows_out", c("sinks.parquet.rows_out"), "count"),
      ("sinks.parquet.bytes_out", layer("sinks.parquet").outBytes, "bytes"),
      ("sinks.parquet.files_out", c("sinks.parquet.files_out"), "count"),
      ("sinks.iceberg.commit.files", c("sinks.iceberg.commit.files"), "count"),
      ("sinks.iceberg.commit.metadata_bytes", c("sinks.iceberg.commit.metadata_bytes"), "bytes"),
      ("sinks.iceberg.read.data_files", c("sinks.iceberg.read.data_files"), "count"),
      ("sinks.iceberg.read.delete_files", c("sinks.iceberg.read.delete_files"), "count"),
      ("cdc.decode.msgs_in", ls("cdc.decode").inRows, "count"),
      ("cdc.decode.changes_out", c("cdc.decode.changes_out"), "count"),
      ("cdc.decode.bytes_in", c("cdc.decode.bytes_in"), "bytes"),
      ("operators.merge.rows_in", c("operators.merge.rows_in"), "count"),
      ("operators.merge.rows_out", c("operators.merge.rows_out"), "count"),
      ("operators.merge.dedup_ratio", if (c("operators.merge.rows_in") > 0)
        c("operators.merge.rows_out") / c("operators.merge.rows_in") else 0.0, "ratio"),
      ("operators.merge.shuffle_bytes", ls("operators.merge").shuffle, "bytes"),
      ("sinks.delta.compactions", c("sinks.delta.compactions"), "count"),
      ("sinks.delta.bytes_rewritten", c("sinks.delta.bytes_rewritten"), "bytes"),
      ("sinks.delta.segments_live", c("sinks.delta.segments_live"), "count"),
      ("sinks.delta.write_amp", if (changeBytes > 0)
        b.layers.get("sinks.delta").map(_.c.outBytes.toDouble).getOrElse(0.0) / changeBytes
        else 0.0, "ratio"),
      ("sinks.iceberg.publish.files", c("sinks.iceberg.publish.files"), "count"),
      ("sinks.iceberg.publish.delete_files", c("sinks.iceberg.publish.delete_files"), "count"),
      ("sinks.iceberg.publish.metadata_bytes", c("sinks.iceberg.publish.metadata_bytes"), "bytes"),
      ("streaming.cdc_apply.jobs", applyJobs(b, "streaming.cdc_apply"), "count"),
      ("streaming.cdc_apply.files_out", c("streaming.cdc_apply.files_out"), "count"),
      ("streaming.curate_apply.jobs", applyJobs(b, "streaming.curate_apply"), "count"),
      ("streaming.curate_apply.files_out", c("streaming.curate_apply.files_out"), "count"),
      ("llm.quality.rows_in", ls("llm.quality").inRows, "count"),
      ("llm.quality.rows_out", c("llm.quality.rows_out"), "count"),
      ("llm.decontaminate.rows_in", c("llm.quality.rows_out"), "count"),
      ("llm.decontaminate.rows_out", c("llm.decontaminate.rows_out"), "count"),
      ("llm.dedup_probe.rows_in", c("llm.decontaminate.rows_out"), "count"),
      ("llm.dedup_probe.rows_out", c("llm.dedup_probe.rows_out"), "count"),
      ("llm.dedup_probe.dup_hit_ratio", c("llm.dedup_probe.dup_hit_ratio"), "ratio"),
      ("llm.funnel.n_quality_dropped", c("llm.funnel.n_quality_dropped"), "count"),
      ("llm.funnel.n_contaminated", c("llm.funnel.n_contaminated"), "count"),
      ("llm.funnel.n_dup", c("llm.funnel.n_dup"), "count"),
      ("llm.funnel.n_kept", c("llm.funnel.n_kept"), "count"),
      ("trace.unattributed_jobs", b.unattributed.size.toDouble, "count"))
    val traced = e2e.collect {
      case (n @ ("rows_per_s" | "batch_p50_s" | "read_s"), v, u) => (s"traced.$n", v, u)
    }
    common ++ extra ++ traced
  }

  /** Spark jobs per batch of an apply span, its child spans and
    * call-site layers included. */
  private def applyJobs(b: Breakdown, span: String): Double = {
    val spans = b.layers.get(span)
    val n = spans.map(_.occurrences).getOrElse(0)
    if (n == 0) 0.0 else b.jobsUnder(span).toDouble / n
  }
}
