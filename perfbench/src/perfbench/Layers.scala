package perfbench

/** Per-layer metrics of a traced phase, named after the repo's modules
  * (cli, engine, operators, streaming, ext, functions, sources) plus the
  * Spark runtime beneath them. Every name is emitted on every workload;
  * a layer a workload does not exercise reports 0.
  */
object Layers {
  /** The corpus pipeline's steps, in order. */
  val ExtSteps: Seq[String] = Seq("normalize", "quality", "langid", "exact_dedup",
    "minhash_pairs", "components", "tfidf_vocab", "exact_topk", "lsh_topk", "shard_write")

  /** One op's span time, the Spark jobs under it and the file bytes it
    * moved. */
  final case class OpStat(rec: OpRec, ms: Double, jobs: Int, cpuMs: Double, inJobMs: Double,
                          fsRead: Long, fsWritten: Long) {
    def driverMs: Double = ms - inJobMs
  }

  def opStats(ph: Phase, tr: Tracer): Seq[OpStat] = {
    val jobsByOp = tr.jobs.values.filter(_.span >= 0).groupBy(j => tr.spans(j.span).op)
    ph.ops.toSeq.flatMap { o =>
      tr.spans.find(s => s.op == o.op && s.name == s"${o.kind}/${o.name}").map { s =>
        val js = jobsByOp.getOrElse(o.op, Nil).toSeq
        OpStat(o, s.ms, js.size, js.map(_.cpuNs).sum / 1e6, tr.jobCoveredMs(s, js),
          s.fsRead, s.fsWritten)
      }
    }
  }

  def metrics(ph: Phase, tr: Tracer, k: Int, wallS: Double,
              untracedWallS: Option[Double]): Map[String, Double] = {
    import Bench.median
    val st = opStats(ph, tr)
    val cycles = math.max(1, ph.cycleS.size).toDouble
    def of(kind: String) = st.filter(_.rec.kind == kind)
    def named(kind: String, p: String => Boolean) = st.filter(s => s.rec.kind == kind && p(s.rec.name))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def inJobFrac(xs: Seq[OpStat]) =
      if (xs.isEmpty) 0.0 else xs.map(_.inJobMs).sum / math.max(1e-9, xs.map(_.ms).sum)
    val counts = named("lookup", n => n == "count" || n == "at_version") // every --count op
    val allJobs = tr.jobs.values.toSeq
    val cli = ph.ops.filter(_.parseMs > 0).map(_.parseMs).toSeq
    val ext = ExtSteps.flatMap { step =>
      val xs = named("ext", _ == step)
      Seq(s"ext.$step.ms" -> median(xs.map(_.ms)),
        s"ext.$step.task_cpu_ms" -> median(xs.map(_.cpuMs)))
    }
    Map(
      "cli.parse_ms" -> median(cli),
      "engine.commit_driver_ms" -> median(of("commit").map(_.driverMs)),
      "engine.lookup_driver_ms" -> median(of("lookup").map(_.driverMs)),
      "engine.batch_driver_ms" -> median(of("batch").map(_.driverMs)),
      "engine.commit_jobs" -> mean(of("commit").map(_.jobs.toDouble)),
      "engine.lookup_jobs" -> mean(of("lookup").map(_.jobs.toDouble)),
      "engine.batch_jobs" -> mean(of("batch").map(_.jobs.toDouble)),
      "engine.count_fastpath_ratio" ->
        (if (counts.isEmpty) 0.0 else counts.count(_.jobs == 0).toDouble / counts.size),
      "operators.commit_bytes_written" -> mean(of("commit").map(_.fsWritten.toDouble)),
      "operators.commit_bytes_read" -> mean(of("commit").map(_.fsRead.toDouble)),
      "operators.commit_files_added" ->
        mean(of("commit").map(s => ph.extra.getOrElse((s.rec.op, "files_added"), 0.0))),
      "operators.compact_ms" -> median(named("maint", _ == "compact").map(_.ms)),
      "operators.vacuum_ms" -> median(named("maint", _ == "vacuum").map(_.ms)),
      "operators.fsck_ms" -> median(named("maint", _ == "fsck").map(_.ms)),
      "operators.history_ms" -> median(named("maint", _ == "history").map(_.ms)),
      "operators.changelog_ms" -> median(named("maint", _ == "changelog").map(_.ms)),
      "operators.time_travel_ms" -> median(named("lookup", _.startsWith("at_version")).map(_.ms)),
      "operators.merge_job_ms" -> median(named("batch", _.startsWith("merge")).map(_.inJobMs)),
      "operators.create_bytes_written" -> mean(of("batch").map(_.fsWritten.toDouble)),
      "streaming.cdf_ms" -> median(of("cdf").map(_.ms)),
      "streaming.cdf_jobs" -> mean(of("cdf").map(_.jobs.toDouble)),
      "ext.driver_ms" -> of("ext").map(_.driverMs).sum / cycles,
      "functions.transform_job_ms" -> median(named("batch", _.contains("transform")).map(_.inJobMs)),
      "sources.bytes_read" -> allJobs.map(_.inputBytes).sum / cycles,
      "spark.jobs" -> allJobs.size / cycles,
      "spark.stages" -> allJobs.map(_.stagesDone).sum / cycles,
      "spark.tasks" -> allJobs.map(_.tasks).sum / cycles,
      "spark.task_cpu_ms" -> allJobs.map(_.cpuNs).sum / 1e6 / cycles,
      "spark.task_gc_ms" -> allJobs.map(_.gcMs).sum / cycles,
      "spark.shuffle_write_bytes" -> allJobs.map(_.shuffleWrite).sum / cycles,
      "spark.shuffle_read_bytes" -> allJobs.map(_.shuffleRead).sum / cycles,
      "spark.spill_bytes" -> allJobs.map(_.spill).sum / cycles,
      "spark.busy_frac" -> allJobs.map(_.runMs).sum / (ph.cycleS.sum * 1000.0 * k),
      "trace.in_job_frac" -> inJobFrac(st),
      "trace.commit_in_job_frac" -> inJobFrac(of("commit")),
      "trace.lookup_in_job_frac" -> inJobFrac(of("lookup")),
      "trace.batch_in_job_frac" -> inJobFrac(of("batch")),
      "trace.ext_in_job_frac" -> inJobFrac(of("ext")),
      "trace.overhead_frac" -> untracedWallS.map(u => wallS / u - 1.0).getOrElse(0.0),
      // workload-specific figures; the workload that measures them overrides
      "operators.space_amp" -> 0.0, "ext.dedup_recall" -> 0.0, "ext.ann_recall" -> 0.0
    ) ++ ext
  }
}
