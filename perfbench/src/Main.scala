package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `perfbench/run.py`, which builds the
  * classes and sets the working directory to a per-run scratch dir):
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <n> --trace <0|1>
  *        --data <fixture dir> --expected <expected.json> [--smoke] [--plant]
  *   Main --emit-expected <out.json> --data <fixture dir>
  * }}}
  *
  * One closed loop in one driver process on `local[nproc]`: set-up
  * (inputs, session, one untimed warm-up iteration), then iterations until
  * `--seconds` have passed. `--trace 0` prints the end-to-end metrics;
  * `--trace 1` runs traced and untraced iterations in turn and prints
  * the per-layer metrics (per traced iteration) with the tracing overhead. The
  * last stdout line is the result JSON; the exit code is non-zero when any
  * unit failed or gave wrong output.
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "unit_p50_s" -> "s", "unit_tail_s" -> "s",
    "peak_rss_mb" -> "MB", "write_amp" -> "ratio", "space_amp" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "config.discover_s" -> "s", "pipeline.check_s" -> "s", "model.render_s" -> "s",
    "pipeline.extract_s" -> "s", "pipeline.extract_max_s" -> "s",
    "pipeline.models_s" -> "s", "pipeline.models_max_s" -> "s",
    "pipeline.metadata_s" -> "s", "store.merge_s" -> "s",
    "store.raw_files" -> "count", "store.table_mb" -> "MB",
    "pipeline.corpus_run_s" -> "s", "pipeline.corpus_export_s" -> "s",
    "pipeline.corpus_resume_s" -> "s") ++
    QueryMix.Queries.flatMap(q => Seq(s"ops.$q.s" -> "s", s"ops.$q.jobs" -> "count")) ++
    Seq("spark.jobs" -> "count", "spark.driver_gap_s" -> "s",
      "spark.broadcast_builds" -> "count", "spark.broadcast_build_s" -> "s",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
      "spark.stages" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
      "spark.cpu_s" -> "s", "spark.gc_s" -> "s", "spark.busy_share" -> "ratio",
      "trace_overhead" -> "ratio")

  private def parse(args: Array[String]): (Opts, Option[String]) = {
    var o = Opts()
    var emit: Option[String] = None
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case "--workload" => o = o.copy(workload = it.next())
      case "--seed" => o = o.copy(seed = it.next().toLong)
      case "--seconds" => o = o.copy(seconds = it.next().toInt)
      case "--trace" => o = o.copy(trace = it.next() match {
        case "0" => false
        case "1" => true
        case v => throw new IllegalArgumentException(s"--trace takes 0 or 1, not $v")
      })
      case "--smoke" => o = o.copy(smoke = true)
      case "--plant" => o = o.copy(plant = true)
      case "--data" => o = o.copy(data = it.next())
      case "--expected" => o = o.copy(expected = it.next())
      case "--emit-expected" => emit = Some(it.next())
      case a => throw new IllegalArgumentException(s"unknown argument: $a")
    }
    require(o.data.nonEmpty, "--data is required")
    (o, emit)
  }

  private def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", graft.TempDirs.create("graft-perfbench-wh"))
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(ctx: Ctx): Workload = ctx.opts.workload match {
    case "tenant_fresh" => new TenantFresh(ctx)
    case "tenant_incremental" => new TenantIncremental(ctx)
    case "corpus_fresh" => new CorpusFresh(ctx)
    case "query_mix" => new QueryMix(ctx)
    case w => throw new IllegalArgumentException(s"unknown workload: $w")
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble * 1024 / 1e6
  }

  def main(args: Array[String]): Unit = {
    val code = try {
      val (opts, emit) = parse(args)
      val t0 = System.nanoTime()
      val spark = session()
      val meter = new Meter
      spark.sparkContext.addSparkListener(meter)
      def ctx(w: String) = new Ctx(spark, opts.copy(workload = w),
        Files.createDirectories(Paths.get(w).toAbsolutePath), meter)
      val (rc, result) = emit match {
        case Some(out) => emitExpected(ctx("emit"), out); (0, "")
        case None => run(ctx(opts.workload), t0)
      }
      spark.stop()
      if (result.nonEmpty) println(result)
      rc
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def run(ctx: Ctx, t0: Long): (Int, String) = {
    val wl = workload(ctx)
    val spark = ctx.spark
    val opts = ctx.opts
    val tGen = System.nanoTime()
    wl.generate()
    val tWarm = System.nanoTime()
    if (!opts.smoke) wl.warmUp()
    val setupS = Harness.seconds(t0)
    println(f"# setup: session ${(tGen - t0) / 1e9}%.2f s, inputs " +
      f"${(tWarm - tGen) / 1e9}%.2f s, warm-up ${Harness.seconds(tWarm)}%.2f s")
    val inputBytes = wl.inputFiles.map(Harness.bytesUnder).sum.toDouble
    val plain, traced = ArrayBuffer.empty[Iter]
    val writes, lives = ArrayBuffer.empty[Double]
    val layers = ArrayBuffer.empty[Map[String, Double]]

    def once(trace: Boolean): Unit = {
      wl.prepare()
      ctx.meter.sync(spark)
      val w0 = ctx.meter.bytesWritten.get
      val tracer = if (trace) Some(new Tracer) else None
      tracer.foreach(_.register(spark))
      val gc0 = gcMs()
      ctx.tracing = trace
      val it = try wl.iteration() finally ctx.tracing = false
      val gcS = (gcMs() - gc0) / 1e3
      ctx.meter.sync(spark)
      tracer.foreach(_.unregister(spark))
      val live = Harness.bytesUnder(ctx.warehouse).toDouble
      tracer match {
        case Some(tr) =>
          wl.afterTraced()
          layers += ctx.takeLayer() ++ sparkLayers(ctx, tr, it, gcS) +
            ("store.table_mb" -> live / 1e6)
          traced += it
        case None =>
          plain += it
          writes += (ctx.meter.bytesWritten.get - w0).toDouble
          lives += live
      }
    }

    // a traced run times a traced iteration first, in the warmth the
    // untraced runs measure, then an untraced one; that one is warmer, so
    // trace_overhead errs high
    val m0 = System.nanoTime()
    def more = !opts.smoke && Harness.seconds(m0) < opts.seconds
    val round = if (opts.trace) Seq(true, false) else Seq(false)
    do round.foreach(once) while (more)

    val all = plain ++ traced
    val attempted = all.map(_.units.size).sum
    val failed = all.map(_.failed).sum
    val units = plain.flatMap(_.units).toSeq
    val (tailS, tailPct) = Harness.tail(units)
    println("# unit latencies (s): " + plain.map(_.units.map(u => f"$u%.3f")
      .mkString(" ")).mkString(" | "))
    val inputRows = wl.inputFiles.map(f => spark.read.parquet(f.toString).count()).sum
    println(f"# ${opts.workload}: ${plain.size} untraced + ${traced.size} traced " +
      f"iterations; input $inputRows rows, ${inputBytes / 1e6}%.3f MB; " +
      s"unit_tail_s is p$tailPct of ${units.size} units")
    val metrics: Seq[(String, String, Double)] =
      if (!opts.trace) {
        val v = Map(
          "setup_s" -> setupS,
          "wall_s" -> Harness.median(plain.map(_.wallS).toSeq),
          "unit_p50_s" -> Harness.median(units),
          "unit_tail_s" -> tailS,
          "peak_rss_mb" -> peakRssMb(),
          "write_amp" -> Harness.median(writes.toSeq) / inputBytes,
          "space_amp" -> Harness.median(lives.toSeq) / inputBytes)
        EndToEnd.map { case (n, u) => (n, u, v(n)) }
      } else {
        val overhead = Harness.median(traced.map(_.wallS).toSeq) /
          Harness.median(plain.map(_.wallS).toSeq)
        PerLayer.map { case (n, u) =>
          val v = if (n == "trace_overhead") overhead
            else layers.map(_.getOrElse(n, 0.0)).sum / layers.size
          (n, u, v)
        }
      }
    metrics.foreach { case (n, _, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not a number: $v") }
    val body = metrics.map { case (n, u, v) =>
      s""""$n": {"value": $v, "unit": "$u"}""" }.mkString("{", ", ", "}")
    (if (failed == 0) 0 else 2,
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $body}""")
  }

  /** Spark-level layer metrics of one traced iteration. */
  private def sparkLayers(ctx: Ctx, tr: Tracer, it: Iter, gcS: Double): Map[String, Double] = {
    val jobs = tr.jobIntervals
    val taskS = tr.runMs.sum / 1e3
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.driver_gap_s" ->
        Tracer.uncoveredMs(jobs.map(j => (j._2, j._3)), it.t0Ms, it.t1Ms) / 1e3,
      "spark.broadcast_builds" -> tr.broadcasts.sum.toDouble,
      "spark.broadcast_build_s" -> tr.broadcastMs.sum / 1e3,
      "spark.shuffle_write_mb" -> tr.shuffleWrite.sum / 1e6,
      "spark.shuffle_read_mb" -> tr.shuffleRead.sum / 1e6,
      "spark.spill_mb" -> tr.spill.sum / 1e6,
      "spark.input_mb" -> tr.input.sum / 1e6,
      "spark.output_mb" -> tr.output.sum / 1e6,
      "spark.stages" -> tr.stages.sum.toDouble,
      "spark.tasks" -> tr.tasks.sum.toDouble,
      "spark.task_s" -> taskS,
      "spark.cpu_s" -> tr.cpuNs.sum / 1e9,
      "spark.gc_s" -> gcS,
      "spark.busy_share" -> taskS / (it.wallS * ctx.cores)) ++
      QueryMix.Queries.map(q =>
        s"ops.$q.jobs" -> jobs.count(_._1 == s"ops.$q").toDouble)
  }

  /** Writes the expected digests of `query_mix` and `corpus_fresh`. */
  private def emitExpected(ctx: Ctx, out: String): Unit = {
    val q = new QueryMix(ctx)
    val queries = q.digests()
    val corpus = new CorpusFresh(ctx)
    corpus.generate()
    corpus.prepare()
    corpus.runPipeline().get
    Files.writeString(Paths.get(out), Expected.render(Seq(
      "query_mix" -> queries, "corpus_fresh" -> corpus.digests())))
  }
}
