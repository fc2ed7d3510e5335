package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.codec.TokenCodec
import graft.io.Corpus

/** The graft benchmark: one seeded workload (`ingest`, `scan` or `serve`)
  * run closed-loop by one client thread in one local Spark JVM.
  *
  * Untraced (`--trace 0`) the result holds the end-to-end metrics; traced
  * (`--trace 1`) it holds the per-layer ledger: the measured time runs as
  * untraced, traced, traced and untraced quarters (the ratio of the two
  * halves' op_p50_ms is the tracing overhead), then the layer probes call each layer directly on the
  * workload's table. Any wrong answer ends the run with exit code 4 and no
  * result; any failed operation with exit code 5 and no result. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, result: String, commit: String, out: String)

  /** Set-up runs this many times per run; setup_s is their median. */
  val SetupRounds = 3

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch {
        case m: Mismatch =>
          System.err.println(s"perfbench: WRONG ANSWER: ${m.getMessage}"); 4
        case f: OpsFailed =>
          System.err.println(s"perfbench: ${f.getMessage}"); 5
        case e: Throwable =>
          System.err.println("perfbench: run failed"); e.printStackTrace(); 1
      }
    System.out.flush()
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("result"), m("commit"), m("out"))
  }

  /** Samples of one measured phase. Latencies (ms) of successful
    * operations only: a failed operation is counted and its time dropped. */
  final class Phase {
    val lat = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    /** CPU time (ms) of the whole JVM over each successful operation. */
    val cpu = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    var attempted = 0
    var failed = 0
    var gcMs = 0L
    var wallNs = 0L
    /** Host CPU time (ticks) stolen by the hypervisor, and all CPU time. */
    var stealTicks = 0L
    var cpuTicks = 0L
    /** Traced write operations: (kind, root span id, files written,
      * bytes written, user bytes). */
    val writes = mutable.ArrayBuffer[(String, Int, Int, Long, Long)]()
    def latencies: Map[String, Seq[Double]] = lat.view.mapValues(_.toSeq).toMap
    def add(o: Phase): Unit = {
      o.lat.foreach { case (k, xs) => lat.getOrElseUpdate(k, mutable.ArrayBuffer()) ++= xs }
      o.cpu.foreach { case (k, xs) => cpu.getOrElseUpdate(k, mutable.ArrayBuffer()) ++= xs }
      attempted += o.attempted; failed += o.failed
      gcMs += o.gcMs; wallNs += o.wallNs
      stealTicks += o.stealTicks; cpuTicks += o.cpuTicks
      writes ++= o.writes
    }
    def succeeded: Int = lat.values.map(_.length).sum
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of all JVM threads. Linux charges a thread only for time
    * it ran, so time the hypervisor gave other guests (steal) is left out;
    * the clock steps in 10 ms ticks. */
  private def processCpuNs: Long = os.getProcessCpuTime

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** (steal, total) ticks of all CPUs from /proc/stat, or zeros where the
    * file does not exist. On a virtual machine steal is the time other
    * guests held this one's CPUs: read every timing against it. */
  private def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Runs operations until `seconds` of operation time have elapsed, or
    * `limit` operations have been attempted. */
  private def measure(spark: SparkSession, w: Workload, seconds: Double,
                      tracer: Option[Tracer], opBase: Int, limit: Int = Int.MaxValue): Phase = {
    val ph = new Phase
    val gc0 = gcMillis
    val cpu0 = cpuTicks()
    val wall0 = System.nanoTime()
    var busyNs = 0L
    while (busyNs < seconds * 1e9 && ph.attempted < limit) {
      val op = w.next()
      val id = opBase + ph.attempted
      ph.attempted += 1
      spark.sparkContext.setLocalProperty(JobListener.OpKey, id.toString)
      val before =
        if (tracer.isDefined && op.isWrite && op.dir != null) Workload.files(op.dir)
        else Map.empty[String, (Long, Long)]
      val t0s = tracer.map(_.nowNs).getOrElse(0L)
      val c0 = processCpuNs
      val t0 = System.nanoTime()
      val res = try Right(op.run()) catch { case NonFatal(e) => Left(e) }
      val dt = System.nanoTime() - t0
      val dc = processCpuNs - c0
      busyNs += dt
      spark.sparkContext.setLocalProperty(JobListener.OpKey, null)
      res match {
        case Right(r) =>
          tracer.foreach { t =>
            val root = t.add(op.kind, Tracer.OpLayer, id, -1, t0s, t0s + dt)
            if (op.isWrite) {
              val changed = Workload.changedFiles(before, Option(op.dir).getOrElse(r.toString))
              ph.writes += ((op.kind, root, changed.size, changed.values.map(_._1).sum, op.userBytes))
            }
          }
          op.check(r)
          ph.lat.getOrElseUpdate(op.kind, mutable.ArrayBuffer()) += dt / 1e6
          ph.cpu.getOrElseUpdate(op.kind, mutable.ArrayBuffer()) += dc / 1e6
        case Left(e) =>
          ph.failed += 1
          System.err.println(s"perfbench: ${op.kind} failed: $e")
      }
    }
    ph.wallNs = System.nanoTime() - wall0
    ph.gcMs = gcMillis - gc0
    val cpu1 = cpuTicks()
    ph.stealTicks = cpu1._1 - cpu0._1
    ph.cpuTicks = cpu1._2 - cpu0._2
    ph
  }

  /** Samples of every kind the workload deals (one kind outside serve). */
  private def byKind(samples: collection.Map[String, mutable.ArrayBuffer[Double]],
                     kinds: Seq[String]): Seq[Seq[Double]] =
    kinds.map { k =>
      val xs = samples.getOrElse(k, mutable.ArrayBuffer.empty[Double])
      if (xs.isEmpty) throw new IllegalStateException(s"no $k operation succeeded")
      xs.toSeq
    }
  /** The workload's operation latency: the geometric mean over kinds of
    * each kind's median wall time. */
  private def opP50(ph: Phase, kinds: Seq[String]): Double =
    Stats.geomean(byKind(ph.lat, kinds).map(Stats.median))
  /** The workload's operation cost: JVM CPU time per operation of the
    * workload's mix, in which every kind has the same share (the mean over
    * kinds of each kind's mean). A mean, not a median: CPU time is a cost
    * that adds up, and work one operation leaves to Spark's background
    * threads is charged to whichever operation follows. */
  private def opCpu(ph: Phase, kinds: Seq[String]): Double =
    Stats.mean(byKind(ph.cpu, kinds).map(Stats.mean))

  /** The `Bench` calibration kernel: single-thread `encodeAuto` on fixed
    * rows, best of three. Read every other number against it. */
  private def calibrate(): Double = {
    val rows = (0L until 2000L).map(i => Corpus.row(7L, i))
    val toks = rows.flatMap(_.tokens).toArray
    val lens = rows.map(_.n_tok).toArray
    def once(): Double = {
      val t0 = System.nanoTime()
      TokenCodec.encodeAuto(toks, lens)
      (System.nanoTime() - t0) / 1e9
    }
    once()
    toks.length / (1 to 3).map(_ => once()).min / 1e6
  }

  private def retainedHeapMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def run(a: Args): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cpus]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.driver.host", "localhost")
      .config("spark.ui.enabled", "false")
      // the status stores run without the UI; keep what they retain small
      // so retained_heap_mb does not grow with the number of operations
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.catalog.bench", "graft.spark.GraftCatalog")
      .config("spark.sql.catalog.bench.root", s"${a.work}/catalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try runIn(spark, a, cpus, master) finally spark.stop()
  }

  private def runIn(spark: SparkSession, a: Args, cpus: Int, master: String): Unit = {
    val start = System.nanoTime()
    def mark(phase: String): Unit =
      println(f"# time $phase done at ${(System.nanoTime() - start) / 1e9}%.1f s")
    val cal = calibrate()
    val host = Seq[(String, Any)]("host.cal_1t_mtok_s" -> cal, "nproc" -> cpus,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576, "master" -> master,
      "seed" -> a.seed, "commit" -> a.commit, "workload" -> a.workload,
      "seconds" -> a.seconds, "trace" -> (if (a.trace) 1 else 0),
      "java" -> System.getProperty("java.version"), "spark" -> spark.version)
    host.foreach { case (k, v) => println(s"# host $k = $v") }

    val ctx = Ctx(spark, a.seed, a.work)
    val w = Workload(a.workload, ctx)
    // set-up time as the JVM's CPU time: on a shared host the wall time of
    // the same set-up moves with the CPU time other guests take
    val setups = (0 until SetupRounds).map { r =>
      val c0 = processCpuNs
      val t0 = System.nanoTime()
      w.setup(r)
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = (processCpuNs - c0) / 1e9
      println(f"# setup round $r: cpu $dc%.3f s, wall $dt%.3f s")
      (dc, dt, w.counts)
    }
    val counts = setups.last._3
    // counts that must repeat exactly: across this run's set-ups, and
    // across runs of one seed on one build
    setups.foreach { case (_, _, c) =>
      Workload.check(c == counts, s"counts differ between set-ups of one seed: $c vs $counts")
    }
    checkCountsAcrossRuns(a, counts)
    mark("setup")
    // warm-up: latency and CPU per operation keep falling for several
    // operations after the set-ups (JIT); these are checked and counted,
    // not timed
    val warm = measure(spark, w, Double.PositiveInfinity, None, 0, w.warmupOps)
    mark("warm-up")

    val (phase, traced) =
      if (!a.trace) (measure(spark, w, a.seconds, None, 0), None)
      else {
        // untraced, traced, traced, untraced quarters: both halves see the
        // same host and the same share of any warm-up trend
        val t = new Tracer
        val jobs = new JobListener(t)
        val phases = new PhaseListener(t)
        def traced[A](f: => A): A = {
          spark.sparkContext.addSparkListener(jobs)
          spark.listenerManager.register(phases)
          try f finally {
            PerfbenchBus.drain(spark.sparkContext)
            spark.sparkContext.removeSparkListener(jobs)
            spark.listenerManager.unregister(phases)
          }
        }
        val untraced = new Phase
        val tr = new Phase
        for (tracing <- Seq(false, true, true, false)) {
          if (!tracing) untraced.add(measure(spark, w, a.seconds / 4.0, None, 0))
          else tr.add(traced(measure(spark, w, a.seconds / 4.0, Some(t), 1000000 + tr.attempted)))
        }
        val probe = traced(commitProbe(spark, a, t))
        val layers = Layers.probe(ctx, w, t)
        (untraced, Some((tr, t, jobs, probe, layers)))
      }
    mark("measure")
    w.finish()
    val all = new Phase
    all.add(warm)
    all.add(phase)
    traced.foreach(tr => all.add(tr._1))
    val lat = phase.latencies
    lat.foreach { case (k, xs) =>
      println(f"# ops $k: n=${xs.length} p50=${Stats.median(xs)}%.3f ms" +
        Stats.tail(xs).map { case (v, p, n) => f" tail p$p%.1f=$v%.3f ms (n=$n)" }.getOrElse(""))
    }
    phase.cpu.foreach { case (k, xs) => println(f"# cpu $k: n=${xs.length} mean=${Stats.mean(xs.toSeq)}%.3f ms") }
    println(s"# ops attempted=${all.attempted} failed=${all.failed}")
    // a failed operation misses every latency limit; rather than leave it
    // out of a median, which could make that median look better, the run
    // ends without a result
    if (all.failed > 0)
      throw new OpsFailed(s"${all.failed} of ${all.attempted} operations failed " +
        s"(ops_failed_frac = ${all.failed.toDouble / all.attempted})")
    w.release()
    val heap = retainedHeapMb()
    mark("finish")

    val e2e = Seq(
      ("setup_s", Stats.median(setups.map(_._1)), "s"),
      ("op_cpu_ms", opCpu(phase, w.kinds), "ms"),
      ("retained_heap_mb", heap, "MB"),
      ("stored_bytes_ratio", w.storedBytesRatio, "ratio"))
    val report = w.report(lat) ++ Seq(
      ("op_p50_ms", opP50(phase, w.kinds), "ms"),
      ("setup_wall_s", Stats.median(setups.map(_._2)), "s"),
      (s"${a.workload}_ops_s", phase.succeeded / (lat.values.flatten.sum / 1000.0), "ops/s"),
      ("ops_failed_frac", all.failed.toDouble / all.attempted, "ratio"),
      ("jvm.gc_frac", phase.gcMs / (phase.wallNs / 1e6), "ratio"),
      ("host.steal_frac", phase.stealTicks.toDouble / math.max(1L, phase.cpuTicks), "ratio"))
    e2e.foreach { case (k, v, u) => println(s"# e2e $k = $v $u") }
    report.foreach { case (k, v, u) => println(s"# ${a.workload} $k = $v $u") }
    counts.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"# count $k = $v") }

    val metrics: Seq[(String, Double, String)] = traced match {
      case None => e2e
      case Some((tr, t, jobs, probe, layers)) =>
        val ledger = Ledger.metrics(t, jobs, tr, probe, layers, cal,
          overhead = opP50(tr, w.kinds) / opP50(phase, w.kinds) - 1.0)
        ledger.foreach { case (k, v, u) => println(s"# layer $k = $v $u") }
        writeFile(s"${a.out}/${a.workload}-seed${a.seed}-spans.json",
          Ledger.traceJson(t, tr, host, ledger, counts))
        ledger
    }
    metrics.foreach { case (k, v, _) =>
      if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric $k is $v")
    }
    val record = Json.obj(
      "host" -> Json.obj(host: _*),
      "end_to_end" -> Json.obj(e2e.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "report" -> Json.obj(report.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "counts" -> Json.obj(counts.toSeq.sortBy(_._1): _*),
      "latencies_ms" -> Json.obj(lat.toSeq.map { case (k, xs) => k -> Json.arr(xs) }: _*),
      "cpu_ms" -> Json.obj(phase.cpu.toSeq.map { case (k, xs) => k -> Json.arr(xs) }: _*))
    writeFile(s"${a.out}/${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json", record)

    val result = Json.obj(
      "correct" -> true,
      "attempted" -> all.attempted,
      "failed" -> all.failed,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*))
    writeFile(a.result, result)
  }

  /** Three small DSv2 appends into a fresh table, traced as operations:
    * the commit cost and write amplification of the smallest write. */
  private def commitProbe(spark: SparkSession, a: Args, t: Tracer): Phase = {
    import spark.implicits._
    val dir = s"${a.work}/commit-probe"
    val ph = new Phase
    for (k <- 0 until 3) {
      val rows = (0 until 16).map(j => Corpus.row(a.seed, 10000000L + 16 * k + j))
      val id = 2000000 + k
      val before = Workload.files(dir)
      spark.sparkContext.setLocalProperty(JobListener.OpKey, id.toString)
      val t0 = t.nowNs
      spark.createDataset(rows).write.format("graft").mode("append").save(dir)
      val root = t.add("probe_append", Tracer.OpLayer, id, -1, t0, t.nowNs)
      spark.sparkContext.setLocalProperty(JobListener.OpKey, null)
      val changed = Workload.changedFiles(before, dir)
      ph.writes += (("probe_append", root, changed.size, changed.values.map(_._1).sum,
        4L * rows.map(_.n_tok.toLong).sum))
    }
    Workload.deleteDir(dir)
    ph
  }

  private def checkCountsAcrossRuns(a: Args, counts: Map[String, Double]): Unit = {
    val p = Paths.get(s"${a.out}/counts/${a.workload}-seed${a.seed}.json")
    val now = Json.obj(counts.toSeq.sortBy(_._1): _*)
    if (Files.exists(p)) {
      val before = new String(Files.readAllBytes(p), UTF_8).trim
      Workload.check(before == now.text, s"counts differ from an earlier run of this seed:\n$before\n$now")
    } else writeFile(p.toString, now)
  }

  private def writeFile(path: String, s: Any): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, (s.toString + "\n").getBytes(UTF_8))
  }
}

/** Operations that threw: the run ends without a result. */
final class OpsFailed(msg: String) extends Exception(msg)

/** Minimal JSON writer: numbers keep every digit. */
object Json {
  /** Text that is already JSON. */
  final case class Raw(text: String) { override def toString: String = text }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case r: Raw => r.text
    case d: Double => d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def arr(xs: Iterable[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))
}
