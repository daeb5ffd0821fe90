package perfbench

/** Metric names, units and how each is computed. Names are what later
  * changes cite; see README.md for the interactions between them. */
object Metrics {

  type Values = Map[String, (Double, String)]

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Medians over the timed passes of an untraced run; `setup_s` is this
    * JVM's start to `Engine.session` ready. */
  def endToEnd(timed: Seq[Pass], setupS: Double, sourceRows: Double,
      sourceBytes: Double): Values = {
    def med(p: String) = median(timed.map(_.result.phaseSeconds(p)))
    val migrate = median(timed.map(t =>
      Migration.Phases.filter(_ != "resume").map(t.result.phaseSeconds).sum))
    Map(
      "setup_s" -> (setupS, "s"),
      "migrate_s" -> (migrate, "s"),
      "premigration_s" -> (med("premigration"), "s"),
      "extract_s" -> (med("extract"), "s"),
      "transfer_s" -> (med("transfer"), "s"),
      "load_s" -> (med("load"), "s"),
      "resume_s" -> (med("resume"), "s"),
      "rows_per_s" -> (sourceRows / migrate, "1/s"),
      "extract_bytes_ratio" -> (median(timed.map(_.extractBytes.toDouble)) / sourceBytes, "ratio"))
  }

  /** One check per phase of the first traced pass: no span has a negative
    * self time, and the self times of the phase's spans (`cli.<p>.self_s`
    * and its children's) cover the phase wall, timed outside the root span,
    * to within 10 ms. They sum to the root span's duration by definition,
    * so this checks that the spans nest and that the root span is the
    * phase. */
  def selfTimeChecks(tr: Trace, traced: Pass): Seq[(String, Boolean)] = {
    val spans = tr.spans(1)
    val self = Trace.selfSeconds(spans)
    spans.filter(_.parent == -1).map { r =>
      val selfs = spans.filter(_.phase == r.name).map(s => self(s.id))
      val wall = traced.result.phaseSeconds(r.name.stripPrefix("cli."))
      (f"${r.name}: self times sum to ${selfs.sum}%.4f s (least ${selfs.min}%.6f s), " +
        f"the phase wall is $wall%.4f s",
        selfs.forall(_ >= -1e-9) && selfs.sum <= wall && wall - selfs.sum < 0.01)
    }
  }

  /** Per-layer numbers of the first traced pass (iteration 1), and the
    * tracing overhead: a later traced pass against the mean of the untraced
    * passes just before and after it. */
  def perLayer(tr: Trace, stats: SparkStats, traced: Pass, plain: Seq[Pass], traced2: Pass,
      engineSessionS: Double, cores: Int): Values = {
    val spans = tr.spans(1)
    val self = Trace.selfSeconds(spans)
    def sum(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def count(name: String) = tr.count(1, name)
    def per(name: String, phase: String) =
      spans.filter(s => s.name == name && s.phase == s"cli.$phase").map(_.seconds)
    val roots = spans.filter(_.parent == -1)
    def wall(p: String) = traced.result.phaseSeconds(p)
    val cli = Migration.Phases.map(p =>
      s"cli.$p.self_s" -> (roots.filter(_.name == s"cli.$p").map(r => self(r.id)).sum, "s"))
    val spark = Migration.Phases.flatMap { p =>
      val a = stats.phase(p)
      val taskS = a.taskMs / 1e3
      Seq(
        s"spark.$p.jobs" -> (a.jobs.toDouble, "count"),
        s"spark.$p.tasks" -> (a.tasks.toDouble, "count"),
        s"spark.$p.task_s" -> (taskS, "s"),
        s"spark.$p.gc_s" -> (a.gcMs / 1e3, "s"),
        s"spark.$p.sched_delay_s" -> (a.schedDelayMs / 1e3, "s"),
        s"spark.$p.shuffle_bytes" -> (a.shuffleBytes.toDouble, "bytes"),
        s"spark.$p.spill_bytes" -> (a.spillBytes.toDouble, "bytes"),
        s"spark.$p.busy_ratio" -> (taskS / (wall(p) * cores), "ratio"))
    }
    def migrateOf(p: Pass) = Migration.Phases.filter(_ != "resume").map(p.result.phaseSeconds).sum
    val extractTables = per("extract.table", "extract")
    val loadTables = per("load.table", "load")
    val jdbcWriteS = sum("jdbc.write")
    Map(
      "engine.session_s" -> (engineSessionS, "s"),
      "catalog.inventory_s" -> (sum("catalog.inventory"), "s"),
      "catalog.inventory_calls" -> (count("catalog.inventory_calls"), "count"),
      "premigration.gates_s" -> (sum("premigration.gates"), "s"),
      "premigration.checks_s" -> (sum("premigration.checks"), "s"),
      "rewrite.schema_s" -> (sum("rewrite.schema"), "s"),
      "extract.table_s.p50" -> (median(extractTables), "s"),
      "extract.table_s.max" -> (extractTables.max, "s"),
      "extract.write_s" -> (sum("extract.write"), "s"),
      "extract.lob_s" -> (sum("extract.lob"), "s"),
      "extract.manifest_read_s" -> (sum("extract.manifest_read"), "s"),
      "extract.lob_files" -> (traced.result.transfer.lobFiles.toDouble, "count"),
      "extract.tables_written" -> (count("extract.tables_written"), "count"),
      "extract.tables_skipped" -> (count("extract.tables_skipped"), "count"),
      "extract.files" -> (traced.result.transfer.files.toDouble, "count"),
      "extract.bytes" -> (traced.extractBytes.toDouble, "bytes"),
      "transfer.copy_s" -> (sum("transfer.copy"), "s"),
      "transfer.merge_s" -> (sum("transfer.merge"), "s"),
      "transfer.validate_s" -> (sum("transfer.validate"), "s"),
      "transfer.files" -> (traced.result.transfer.files.toDouble, "count"),
      "transfer.parts" -> (traced.result.transfer.parts.toDouble, "count"),
      "transfer.bytes" -> (traced.result.transfer.bytes.toDouble, "bytes"),
      "load.table_s.p50" -> (median(loadTables), "s"),
      "load.table_s.max" -> (loadTables.max, "s"),
      "load.read_extracted_s" -> (sum("load.read_extracted"), "s"),
      "load.verified_s" -> (sum("load.verified"), "s"),
      "load.reconcile_s" -> (sum("load.reconcile"), "s"),
      "load.tables_loaded" -> (count("load.tables_loaded"), "count"),
      "load.tables_skipped" -> (count("load.tables_skipped"), "count"),
      "load.failed" -> (count("load.failed"), "count"),
      "load.bytes" -> (traced.loadBytes.toDouble, "bytes"),
      "ctl.ops" -> (count("ctl.ops"), "count"),
      "ctl.s" -> (sum("ctl"), "s"),
      "jdbc.inventory_s" -> (sum("jdbc.inventory"), "s"),
      "jdbc.read_partitions" -> (count("jdbc.read_partitions"), "count"),
      "jdbc.write_s" -> (jdbcWriteS, "s"),
      "jdbc.verify_s" -> (sum("jdbc.verify"), "s"),
      "jdbc.rows_per_s" -> (if (jdbcWriteS > 0) count("jdbc.rows_written") / jdbcWriteS
        else 0.0, "1/s"),
      "trace.untraced_migrate_s" -> (plain.map(migrateOf).sum / plain.size, "s"),
      "trace.traced_migrate_s" -> (migrateOf(traced2), "s"),
      "trace.overhead_s" -> (migrateOf(traced2) - plain.map(migrateOf).sum / plain.size, "s")
    ) ++ cli ++ spark
  }
}
