package graft.perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.SparkSession
import graft.Bench

/** Benchmark harness: one workload, one seed, one closed-loop client.
  *
  * {{{
  * Harness --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir>
  * }}}
  *
  * Set-up runs [[SetupRounds]] times (session start, input read, caches,
  * view build) and reports the median; one warm-up job per kind follows.
  * The timed phase then submits the whole passes over the seed-shuffled job
  * mix that `--seconds` buy on the reference host ([[PassSeconds]]),
  * the next job only when the previous one has finished. Outputs are checked after the timed phase. The
  * result line goes to stdout and to
  * `<root>/.bench_build/runs/<run>/result.json`, the run record next to it. */
object Harness {

  /** End-to-end metrics (`--trace 0`). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "job_geomean_s" -> "s", "rows_per_s" -> "rows/s",
    "setup_s" -> "s", "peak_rss_mb" -> "MB")

  private val modules = Seq("model", "engine", "spatial", "ops")

  /** Per-layer metrics (`--trace 1`): totals over the traced jobs divided by
    * the traced passes, so each is "per pass of the job mix"; ratios are
    * ratios of those totals ([[Ratios]]); 0 where the workload does not
    * exercise the layer. */
  val PerLayer: Seq[(String, String)] = Seq(
    "ofl.parse_s" -> "s", "compile.compile_s" -> "s", "engine.plan_s" -> "s",
    "model.scan_s" -> "s", "model.scan_bytes" -> "bytes",
    "model.decode_s" -> "s", "model.decode_passes" -> "count",
    "exprs.predicate_s" -> "s", "exprs.codegen_fallback_nodes" -> "count",
    "exprs.wscg_stages" -> "count",
    "engine.filter_s" -> "s", "engine.complete_ways_s" -> "s", "engine.sink_s" -> "s",
    "engine.output_rows" -> "count", "engine.output_bytes" -> "bytes",
    "engine.selectivity" -> "ratio",
    "engine.shuffle_write_bytes" -> "bytes", "engine.shuffle_read_bytes" -> "bytes",
    "engine.fetch_wait_s" -> "s", "engine.spill_bytes" -> "bytes",
    "engine.sort_merge_joins" -> "count", "engine.broadcast_joins" -> "count",
    "engine.spark_jobs" -> "count", "engine.materialize_view_s" -> "s",
    "spatial.polygon_join_s" -> "s", "spatial.s2_radius_join_s" -> "s",
    "spatial.knn_s" -> "s", "spatial.within_distance_s" -> "s",
    "spatial.cell_encode_s" -> "s", "spatial.candidates" -> "count",
    "spatial.refine_hit_ratio" -> "ratio", "spatial.spark_jobs" -> "count",
    "spatial.shuffle_bytes" -> "bytes", "spatial.spill_bytes" -> "bytes",
    "ops.winnow_s" -> "s", "ops.clusters_s" -> "s", "ops.minhash_s" -> "s",
    "ops.candidate_pairs" -> "count", "ops.pairs_out" -> "count",
    "ops.verify_hit_ratio" -> "ratio", "ops.spark_jobs" -> "count",
    "ops.result_bytes" -> "bytes", "ops.shuffle_bytes" -> "bytes",
    "ops.spill_bytes" -> "bytes") ++
    modules.flatMap(m => Seq(s"$m.task_busy_s" -> "s", s"$m.task_cpu_s" -> "s",
      s"$m.gc_s" -> "s")) ++
    Seq("harness.unaccounted_s" -> "s", "harness.trace_overhead_s" -> "s")

  /** Ratio metrics as (numerator, denominator) of per-job quantities. */
  val Ratios: Map[String, (String, String)] = Map(
    "engine.selectivity" -> ("engine.output_rows", "engine.input_rows"),
    "spatial.refine_hit_ratio" -> ("spatial.matches", "spatial.candidates"),
    "ops.verify_hit_ratio" -> ("ops.pairs_out", "ops.candidate_pairs"))

  /** The seed runs use by default, and the one kept for confirming a claim
    * on inputs no change was tuned on. */
  val DefaultSeed = 1L
  val HeldOutSeed = 7919L
  val SetupRounds = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: String)

  /** A job of the timed phase, then its output check. */
  private final case class Ran(index: Int, pass: Int, out: JobOut, error: Option[String],
                               traced: Boolean, steal: Double)
  private final case class Checked(ran: Ran, problem: Option[String], rows: Long)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.getOrElse("root", "."))
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "filter"        => new OflWorkload(ctx)
    case "spatial_dedup" => new SpatialDedupWorkload(ctx)
    case other           => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Highest whole percentile (nearest rank) with at least `beyond` samples
    * above it: (percentile, value). Fewer than beyond+1 samples give the
    * median, reported as percentile 50. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    (99 to 1 by -1).iterator.map { p =>
      val rank = math.ceil(p * n / 100.0).toInt
      (p, rank)
    }.collectFirst { case (p, rank) if rank >= 1 && n - rank >= beyond => (p, s(rank - 1)) }
      .getOrElse((50, median(xs)))
  }

  /** Each kind's median wall time over the half of its attempts (rounded
    * up) that lost the least CPU time to the hypervisor; ties keep run order.
    * Jobs are (kind, wall s, steal share). */
  def kindMedians(jobs: Seq[(String, Double, Double)]): Map[String, Double] =
    jobs.groupBy(_._1).map { case (k, js) =>
      k -> median(js.sortBy(_._3).take((js.size + 1) / 2).map(_._2))
    }

  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(0.0)

  /** The VM's CPU time by state since boot, in ticks:
    * (user + nice + system, iowait, steal, total). */
  private def hostTicks(): Seq[Long] = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
      .drop(1).map(_.toLong)
    Seq(f(0) + f(1) + f(2), f(4), f(7), f.take(8).sum)
  }

  /** Share of the VM's CPU time (busy plus stolen) stolen since `from`. */
  private def stealSince(from: Seq[Long]): Double = {
    val d = hostTicks().zip(from).map { case (a, b) => (a - b).toDouble }
    d(2) / math.max(d(0) + d(2), 1.0)
  }

  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def calibration(cores: Int): Map[String, Double] = Map(
    "alu_s" -> Bench.calibrate(), "mem_s" -> Bench.calibrateMem(),
    "par_s" -> Bench.calibratePar(cores))

  private def session(buildDir: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .config("spark.local.dir", s"$buildDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$buildDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def log(msg: String): Unit = System.err.println(
    f"perfbench [${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s]: $msg")

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  val Workloads: Seq[String] = Seq("filter", "spatial_dedup")

  /** How long one warm pass of each workload takes on the reference host
    * (4 cores). The timed phase runs `round(seconds / passSeconds)` passes,
    * so a contended host takes longer but measures the same jobs. */
  val PassSeconds: Map[String, Double] = Map("filter" -> 9.0, "spatial_dedup" -> 9.0)

  def main(args: Array[String]): Unit = run(parse(args))

  /** One job per kind, so JIT and codegen settle before timing. */
  private def warmUp(spark: SparkSession, wl: Workload): Unit = {
    val off = new Tracer(spark, enabled = false)
    wl.kinds.zipWithIndex.foreach { case (k, i) => wl.job(k, -1 - i, off) }
  }

  private def run(o: Opts): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val buildDir = new java.io.File(o.root, ".bench_build").getCanonicalPath
    val runName = s"${o.workload}_s${o.seed}_t${if (o.trace) 1 else 0}"
    val runDir = new java.io.File(s"$buildDir/runs/$runName")
    val workDir = new java.io.File(s"$buildDir/work/$runName")
    rm(runDir); rm(workDir)
    runDir.mkdirs(); workDir.mkdirs()
    val ctx = Ctx(s"$buildDir/data", workDir.getPath, o.seed, cores)
    val wl = workload(o.workload, ctx)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "cores" -> cores, "master" -> s"local[$cores]",
      "clients" -> 1, "loop" -> "closed")

    val calibBefore = calibration(cores)
    log(s"calibration $calibBefore")

    // --- set-up rounds; the first also generates (timed apart) -----------
    var spark: SparkSession = null
    var genS = 0.0
    var inputs = Seq.empty[(String, Digest)]
    var setupFacts = Map.empty[String, Double]
    val setups = (1 to SetupRounds).map { r =>
      if (spark != null) { wl.release(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(buildDir, cores)
      if (r == 1) {
        val g0 = System.nanoTime()
        inputs = wl.generate(spark)
        genS = (System.nanoTime() - g0) / 1e9
        log(f"generate $genS%.2f s")
      }
      setupFacts = wl.setup(spark)
      val s = (System.nanoTime() - t0) / 1e9 - (if (r == 1) genS else 0.0)
      log(f"setup round $r $s%.2f s")
      s
    }
    val w0 = System.nanoTime()
    warmUp(spark, wl)
    val warmupS = (System.nanoTime() - w0) / 1e9
    log(f"warm-up $warmupS%.2f s")
    rm(new java.io.File(ctx.jobsDir))

    // --- timed phase: whole passes over the seed-shuffled kinds ------------
    // A traced run traces every other job (the other half in the next pass),
    // so traced and untraced jobs share the JIT state they run in. Each job
    // records the share of the VM's CPU time the hypervisor stole while it ran.
    val order = new Random(o.seed).shuffle(wl.pass)
    val jobs = mutable.ArrayBuffer[Ran]()
    val untracedT = new Tracer(spark, enabled = false)
    val tracer = if (o.trace) new Tracer(spark, enabled = true) else untracedT
    val passes = math.max(1, math.round(o.seconds / PassSeconds(o.workload)).toInt)
    val (host0, cpu0, wall0) = (hostTicks(), processCpuS(), System.nanoTime())
    for (pass <- 0 until passes) {
      order.zipWithIndex.foreach { case (k, i) =>
        val t = if (o.trace && (i + pass) % 2 == 1) tracer else untracedT
        val j = jobs.size
        val h0 = hostTicks()
        val (out, error) = try (wl.job(k, j, t), None) catch {
          case e: Exception => (JobOut(k, 0.0, 0L, None, None, Map.empty), Some(e.toString))
        }
        jobs += Ran(j, pass, out, error, t.enabled, stealSince(h0))
      }
    }
    tracer.close()
    val timedHost = hostTicks().zip(host0).map { case (a, b) => (a - b).toDouble }
    val timedFacts = Map("wall_s" -> (System.nanoTime() - wall0) / 1e9,
      "process_cpu_s" -> (processCpuS() - cpu0),
      "host_busy_share" -> timedHost(0) / timedHost(3),
      "host_iowait_share" -> timedHost(1) / timedHost(3),
      "host_steal_share" -> timedHost(2) / timedHost(3))
    log(f"timed phase ${jobs.size} jobs, median steal ${median(jobs.map(_.steal).toSeq)}%.3f")
    val calibAfter = calibration(cores)

    // --- output checks (outside the timed phase) ---------------------------
    val c0 = System.nanoTime()
    val expected = wl.expected(spark)
    val writtenFacts = Checks.written(spark, jobs.flatMap(_.out.written).toSeq)
    val checked = jobs.toSeq.map { ran =>
      val out = ran.out
      val problem = ran.error.orElse {
        val exp = expected(out.kind)
        out.written match {
          case Some(dir) =>
            val (d, ordered) = writtenFacts(dir)
            Checks.compare(exp, d, ordered)
          case None => out.digest.flatMap(Checks.compare(exp, _))
        }
      }
      val rows = out.written.map(writtenFacts(_)._1.rows).orElse(out.digest.map(_.rows))
      Checked(ran, problem, rows.getOrElse(0L))
    }
    val checkS = (System.nanoTime() - c0) / 1e9
    log(f"checks $checkS%.2f s")
    val failed = checked.count(_.problem.isDefined)
    val rssMb = peakRssMb()

    // --- metrics ----------------------------------------------------------
    val ok = checked.filter(c => !c.ran.traced && c.problem.isEmpty).map(_.ran)
    val times = ok.map(_.out.wallS)
    val (pct, tailS) = tail(times)
    val p50 = median(times)
    val kinds = kindMedians(ok.map(r => (r.out.kind, r.out.wallS, r.steal)))
    val rowsOf = ok.map(r => r.out.kind -> r.out.inputRows).toMap
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val values = Map("job_geomean_s" -> geomean(kinds.values),
          "rows_per_s" -> order.map(rowsOf.getOrElse(_, 0L)).sum /
            math.max(order.map(kinds.getOrElse(_, 0.0)).sum, 1e-9),
          "setup_s" -> median(setups), "peak_rss_mb" -> rssMb)
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        val traced = checked.filter(c => c.ran.traced && c.problem.isEmpty)
        val perJob = traced.map { case Checked(Ran(j, _, out, _, _, _), _, rows) =>
          val spans = tracer.jobSpans(j)
          val root = spans.find(_.name == "harness.job")
          val direct = root.map(r => spans.filter(_.parent == r.id).map(_.seconds).sum).getOrElse(0.0)
          val extra = mutable.Map[String, Double](
            "harness.unaccounted_s" -> root.fold(0.0)(_.seconds - direct))
          modules.foreach { m =>
            val tot = spans.filter(_.module == m).map(s => tracer.tasksOf(s.id))
              .foldLeft(new TaskTotals)(_ add _)
            if (tot.jobs > 0) {
              extra(s"$m.task_busy_s") = tot.busyMs / 1e3
              extra(s"$m.task_cpu_s") = tot.cpuNs / 1e9
              extra(s"$m.gc_s") = tot.gcMs / 1e3
            }
          }
          if (out.written.isDefined) extra("engine.output_rows") = rows.toDouble
          out.layer ++ extra
        }
        val totals = perJob.flatten.groupMapReduce(_._1)(_._2)(_ + _)
        val tracedPasses = math.max(1.0, traced.size.toDouble / order.size)
        def total(n: String) = totals.getOrElse(n, 0.0)
        val overhead = median(traced.map(_.ran.out.wallS)) - p50
        PerLayer.map { case (name, unit) =>
          val v = name match {
            case "harness.trace_overhead_s" => overhead
            case n if setupFacts.contains(n) => setupFacts(n)
            case n if Ratios.contains(n) =>
              val (num, den) = Ratios(n)
              if (total(den) > 0) total(num) / total(den) else 0.0
            case n => total(n) / tracedPasses
          }
          (name, v, unit)
        }
      }

    // --- run record, spans, layer table, result line -----------------------
    record ++= Seq(
      "sizes" -> wl.sizes,
      "seeds" -> Map("run" -> o.seed, "default" -> DefaultSeed, "held_out" -> HeldOutSeed),
      "inputs" -> inputs.map { case (n, d) => n -> Map("rows" -> d.rows, "checksum" -> d.checksum) }.toMap,
      "generate_s" -> genS, "setup_rounds_s" -> setups, "warmup_s" -> warmupS, "check_s" -> checkS,
      "timed_phase" -> timedFacts,
      "calibration_before" -> calibBefore, "calibration_after" -> calibAfter,
      "job_order" -> order, "passes" -> passes,
      "jobs_attempted" -> checked.size, "jobs_failed" -> failed,
      "failed_frac" -> failed.toDouble / math.max(checked.size, 1),
      "job_p50_s" -> p50, "job_tail_s" -> tailS, "job_tail_percentile" -> pct,
      "job_samples" -> times.size, "kind_medians_s" -> kinds,
      "jobs" -> checked.map { c =>
        Map("kind" -> c.ran.out.kind, "pass" -> c.ran.pass, "wall_s" -> c.ran.out.wallS,
          "steal" -> c.ran.steal, "traced" -> c.ran.traced, "output_rows" -> c.rows,
          "error" -> c.problem.getOrElse(""))
      },
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)
    Json.write(new java.io.File(runDir, "record.json"), record)
    if (o.trace) Report.write(runDir, tracer, metrics)
    checked.filter(_.problem.isDefined).foreach { c =>
      System.err.println(s"FAILED ${c.ran.out.kind}: ${c.problem.get}")
    }
    val result = Json.render(mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> checked.size, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }: _*)))
    java.nio.file.Files.writeString(new java.io.File(runDir, "result.json").toPath, result + "\n")
    spark.stop()
    rm(workDir)
    println(result)
  }
}
