package graft.perfbench

/** The per-layer ledger of a traced run: span self times over the traced
  * operations, Spark task metrics per operation, the commit probe's writes
  * and the layer probes' rates. */
object Ledger {
  private final case class OpCost(wallNs: Long, jobNs: Long, coveredNs: Long,
                                  optimizeNs: Long, physicalNs: Long, jobs: Seq[JobStats])

  private def cost(op: Span, kids: Seq[Span], jobs: Seq[JobStats]): OpCost = {
    def iv(ss: Seq[Span]) = ss.map(s => (math.max(s.startNs, op.startNs), math.min(s.endNs, op.endNs)))
      .filter { case (s, e) => e > s }
    val jobSpans = kids.filter(_.name == "spark.job")
    def phase(n: String) = kids.filter(_.name == n).map(_.durNs).sum
    OpCost(op.durNs, Tracer.unionNs(iv(jobSpans)), Tracer.unionNs(iv(kids)),
      phase("sql.optimization"), phase("sql.planning"), jobs)
  }

  def metrics(t: Tracer, listener: JobListener, traced: Main.Phase, probe: Main.Phase,
              layers: Map[String, Double], cal: Double,
              overhead: Double): Seq[(String, Double, String)] = {
    val spans = t.attach()
    val byParent = spans.groupBy(_.parent)
    val jobsByOp = listener.snapshot.groupBy(_.op)
    val rootById = spans.filter(_.layer == Tracer.OpLayer).map(s => s.id -> s).toMap
    val timed = spans.filter(s => s.layer == Tracer.OpLayer && !s.name.startsWith("probe"))
    val costs = timed.map(op => cost(op, byParent.getOrElse(op.id, Nil), jobsByOp.getOrElse(op.op, Nil)))
    val wall = costs.map(_.wallNs).sum.toDouble
    def med(f: OpCost => Double) = Stats.median(costs.map(f))
    // millisecond task counters: a mean per operation keeps their digits
    def mean(f: OpCost => Double) = Stats.mean(costs.map(f))
    def jobSum(f: JobStats => Double)(c: OpCost) = c.jobs.map(f).sum

    // commit: what a write does on the driver after its last Spark job
    val commitMs = probe.writes.map { case (_, root, _, _, _) =>
      val op = rootById(root)
      val lastJobEnd = byParent.getOrElse(root, Nil).filter(_.name == "spark.job")
        .map(_.endNs).maxOption.getOrElse(op.startNs)
      (op.endNs - lastJobEnd) / 1e6
    }
    Seq(
      ("trace.unattributed_frac", 1.0 - costs.map(_.coveredNs).sum / wall, "ratio"),
      ("trace.self_frac.jobs", costs.map(_.jobNs).sum / wall, "ratio"),
      ("trace.self_frac.sql", costs.map(c => c.coveredNs - c.jobNs).sum / wall, "ratio"),
      ("trace.overhead_frac", overhead, "ratio"),
      ("sql.optimize.ms", Stats.mean(costs.map(_.optimizeNs / 1e6)), "ms"),
      ("sql.physical.ms", Stats.mean(costs.map(_.physicalNs / 1e6)), "ms"),
      ("job.stages", med(jobSum(_.stages)), "count"),
      ("job.tasks", med(jobSum(_.tasks)), "count"),
      ("job.executor_run_ms", mean(jobSum(_.runMs.toDouble)), "ms"),
      ("job.executor_cpu_ms", med(jobSum(_.cpuNs / 1e6)), "ms"),
      ("job.scheduler_delay_ms", mean(jobSum(_.schedDelayMs.toDouble)), "ms"),
      ("job.gc_frac", costs.map(jobSum(_.gcMs.toDouble)).sum /
        math.max(1.0, costs.map(jobSum(_.runMs.toDouble)).sum), "ratio"),
      ("job.shuffle_bytes", mean(jobSum(_.shuffleBytes.toDouble)), "bytes"),
      ("job.driver_ms", med(c => (c.wallNs - c.jobNs) / 1e6), "ms"),
      ("lineage.commit.ms", Stats.median(commitMs.toSeq), "ms"),
      ("lineage.files_written", Stats.median(probe.writes.map(_._3.toDouble).toSeq), "count"),
      ("lineage.bytes_written_per_user_byte",
        Stats.median(probe.writes.map(w => w._4.toDouble / w._5).toSeq), "ratio"),
      ("jvm.gc_frac", traced.gcMs / (traced.wallNs / 1e6), "ratio"),
      ("host.cal_1t_mtok_s", cal, "Mtok/s")
    ) ++ layers.toSeq.sortBy(_._1).map { case (k, v) => (k, v, unit(k)) }
  }

  private def unit(name: String): String =
    if (name.endsWith("mtok_s")) "Mtok/s"
    else if (name.endsWith(".tok_s")) "tok/s"
    else if (name.endsWith("mb_s")) "MB/s"
    else if (name.endsWith("rows_s")) "rows/s"
    else if (name.endsWith(".ms")) "ms"
    else if (name.contains("frac") || name.contains("per_")) "ratio"
    else "count"

  /** Every span of the traced run, per-kind write counts, the ledger and
    * the exact counts of the table as set up. */
  def traceJson(t: Tracer, traced: Main.Phase, host: Seq[(String, Any)],
                ledger: Seq[(String, Double, String)], counts: Map[String, Double]): Json.Raw =
    Json.obj(
      "host" -> Json.obj(host: _*),
      "ledger" -> Json.obj(ledger.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "counts" -> Json.obj(counts.toSeq.sortBy(_._1): _*),
      "writes" -> Json.arr(traced.writes.map { case (k, root, files, bytes, user) =>
        Json.obj("kind" -> k, "span" -> root, "files_written" -> files,
          "bytes_written" -> bytes, "user_bytes" -> user)
      }),
      "spans" -> Json.arr(t.all.map { s =>
        Json.obj("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "op" -> s.op,
          "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "attrs" -> Json.obj(s.attrs.toSeq: _*))
      }))
}
