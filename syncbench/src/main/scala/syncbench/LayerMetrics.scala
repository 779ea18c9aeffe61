package syncbench

/**
 * The per-layer metrics of a traced run, each named `<layer>.<figure>`
 * after a package under `graft/`. Every run reports every metric; a layer
 * the workload does not exercise reads 0. Times are mean ms per call of
 * the span, Spark counts are per call, and `*_calls` are per sync.
 */
object LayerMetrics {
  val Formats: Seq[String] = Seq("delta", "iceberg", "hudi")

  /** Span names the source decorator emits, after `<format>.`. */
  val SourceMembers: Set[String] = Set("data_root", "schema", "partition_columns",
    "current_version", "version_exists", "is_completed", "versions_after", "schema_at",
    "snapshot_files", "changes", "inflight_versions", "record_key_fields", "physical_names",
    "later_of", "statistics_props")

  def all(l: Layers, counts: Map[String, Long], out: Outcome): Seq[(String, Double, String)] = {
    val syncs = l.calls("sync")
    def perSync(x: Double): Double = if (syncs == 0) 0.0 else x / syncs
    def replayJobs(fmt: String): Double = perSync(l.spark { n =>
      n.startsWith(fmt + ".") && SourceMembers.contains(n.drop(fmt.length + 1))
    }.jobs.toDouble)
    def fromWorkload(name: String): Double = out.layers.getOrElse(name, 0.0)
    def ms(metric: String, span: String) = (metric, l.meanMs(span), "ms")
    def jobs(metric: String, span: String) = (metric, l.sparkPer(span, _.jobs), "count")

    Seq(
      ms("hudi.snapshot_files_ms", "hudi.snapshot_files"),
      ("hudi.replay_jobs", replayJobs("hudi"), "count"),
      ms("hudi.changes_ms", "hudi.changes"),
      ms("hudi.schema_at_ms", "hudi.schema_at"),
      ms("delta.changes_ms", "delta.changes"),
      ms("delta.schema_at_ms", "delta.schema_at"),
      ("delta.replay_jobs", replayJobs("delta"), "count"),
      ms("delta.append_ms", "delta.append"),
      ms("delta.compact_ms", "delta.compact"),
      jobs("delta.append_jobs", "delta.append"),
      ("delta.meta_bytes_written", fromWorkload("delta.meta_bytes_written"), "B/file"),
      ("iceberg.meta_bytes_written", fromWorkload("iceberg.meta_bytes_written"), "B/file"),
      ("sync.self_ms", l.meanSelfMs("sync"), "ms"),
      ("sync.versions_pending", fromWorkload("sync.versions_pending"), "count")) ++
    Formats.flatMap { f =>
      Seq(
        ms(s"$f.commit_ms", s"$f.commit"),
        jobs(s"$f.commit_jobs", s"$f.commit"),
        ms(s"$f.live_paths_ms", s"$f.live_paths"),
        ms(s"$f.sync_state_ms", s"$f.sync_state"),
        (s"$f.sync_state_calls", perSync(l.calls(s"$f.sync_state").toDouble), "count"),
        (s"$f.cas_retries", counts.getOrElse(s"$f.cas_retries", 0L).toDouble, "count"))
    } ++ Seq(
      ms("spark.load_ms", "spark.load"),
      jobs("spark.load_jobs", "spark.load"),
      ms("sources.plan_ms", "sources.plan"),
      ms("exec.ms", "exec"),
      jobs("exec.jobs", "exec"),
      ("exec.tasks", l.sparkPer("exec", _.tasks), "count"),
      ("exec.input_bytes", l.sparkPer("exec", _.inputBytes), "B"),
      ("exec.shuffle_bytes", l.sparkPer("exec", _.shuffleBytes), "B")) ++
    ServeReads.Shapes.flatMap { s =>
      Seq(
        (s"sources.files_scanned_ratio.$s", fromWorkload(s"sources.files_scanned_ratio.$s"), "ratio"),
        (s"serve.$s.p50_ms", fromWorkload(s"serve.$s.p50_ms"), "ms"))
    }
  }
}
