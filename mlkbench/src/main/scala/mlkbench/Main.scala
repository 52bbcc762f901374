package mlkbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, normally launched by `run.py`:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --detail <file> --expected <file> --sf <dir>
  *      [--commit <sha>] [--toy] [--corrupt-expected]
  * }}}
  *
  * Prints one `MLKBENCH_RESULT {...}` line: correctness, operation counts
  * and metric values by name (end-to-end with tracing off, per-layer with
  * tracing on). Everything else (samples, spans, confs, calibration probes)
  * goes to the detail file. Exits 1 when any operation or check failed.
  */
object Main {
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def flag(name: String) = argv.contains(s"--$name")
    val workload = args("workload")
    val seed     = args("seed").toLong
    val seconds  = args("seconds").toInt
    val trace    = args("trace") == "1"
    val work     = args("work")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"mlkbench-$workload")
      // the correctness gate's session (Verify): measured means verified
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftSessionExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // keep every file the run writes inside its work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(trace, spark.sparkContext)
    val ctx = Ctx(spark, seed, seconds, tracer, work, flag("toy"), flag("corrupt-expected"),
      args.getOrElse("sf", ""), args.getOrElse("expected", ""))

    val prepared = Workloads.prepare(workload, ctx)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val calibStart = calibrate()
    System.gc() // set-up garbage is not the measured phase's to collect
    val m0 = System.nanoTime()
    prepared.measure()
    val measuredS = (System.nanoTime() - m0) / 1e9
    val heapSamples = retainedHeapMb()
    val out = prepared.finish()
    val calibEnd = calibrate()
    tracer.close()

    val lat = out.opMs
    val e2e = Seq(
      "setup_s" -> setupS,
      "op_ms_p50" -> Workloads.percentile(lat, 0.5),
      "op_ms_mean" -> lat.sum / lat.size,
      "heap_retained_mb" -> heapSamples.min)
    val layers = if (trace) Layers(tracer, out, measuredS) else Seq.empty
    val correct = out.failed == 0

    val self = tracer.selfSeconds
    val t0   = tracer.all.headOption.map(_.startNs).getOrElse(0L)
    val detail = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "toy" -> ctx.toy, "corrupt_expected" -> ctx.corrupt,
      "commit" -> args.getOrElse("commit", "unknown"),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "confs" -> spark.conf.getAll.filter { case (k, _) =>
        (k.startsWith("spark.sql.") && k != "spark.sql.warehouse.dir") ||
          k == "spark.master" || k == "spark.driver.memory"
      },
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "calibrate_single_thread_s" -> Json.obj("start" -> calibStart, "end" -> calibEnd),
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "failures" -> out.failures,
      "input" -> Json.Obj(out.input),
      "measured_s" -> measuredS,
      "ops" -> lat.size,
      "op_ms_p90" -> Workloads.percentile(lat, 0.9),
      "heap_after_gc_mb" -> heapSamples,
      "end_to_end" -> Json.Obj(e2e),
      "headline" -> Json.Obj(out.headline :+
        ("ops_failed_frac" -> out.failed.toDouble / out.attempted)),
      "per_layer" -> Json.Obj(layers),
      "samples" -> out.samples,
      "spans" -> tracer.all.map(s => Tracer.spanJson(s, self(s.id), t0, tracer.phases.get(s.id))))
    Files.writeString(Paths.get(args("detail")), Json(detail) + "\n")

    val metrics = if (trace) layers else e2e
    println("MLKBENCH_RESULT " + Json(Json.obj(
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> Json.Obj(metrics))))
    out.failures.foreach(f => System.err.println(s"[mlkbench] FAILED: $f"))
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** `graft.util.Calibrate`'s fixed-work single-thread probe (seconds). */
  private def calibrate(): Double = graft.util.Calibrate.singleThreadSec()

  /** Driver heap in use after each of three forced collections, 50 ms apart
    * (the least is reported: softly reachable caches may survive the first).
    */
  private def retainedHeapMb(): Seq[Double] = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(50)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
  }
}

/** The per-layer metrics of a traced run, named as in BENCHMARK.json. A
  * layer that does not run on a workload reports 0.
  */
object Layers {
  def apply(t: Tracer, out: Outcome, measuredS: Double): Seq[(String, Double)] = {
    val ph = t.phaseTotals
    def s(labels: String*): Double = labels.map(l => ph.get(l).map(_._1).getOrElse(0.0)).sum
    def n(label: String): Double = ph.get(label).map(_._2.toDouble).getOrElse(0.0)
    def prefixed(p: String): Double = ph.iterator.filter(_._1.startsWith(p)).map(_._2._1).sum
    val measured = (tag: String) => !(tag.startsWith("setup") || tag == "check" || tag == "untagged")
    val spark = t.listener.map(_.sum(measured)).getOrElse(Map.empty[String, Long])
    def sp(k: String): Double = spark.getOrElse(k, 0L).toDouble
    def jobs(span: String): Double =
      t.listener.map(_.sum(_ == span)("jobs").toDouble).getOrElse(0.0)
    Seq(
      "deltalog.discover_s" -> s("orch.discover"),
      "state.read_s" -> s("store.read"),
      "state.status_s" -> s("orch.status"),
      "state.append_s" -> s("store.append"),
      "state.append_calls" -> n("store.append"),
      "state.compact_s" -> (s("store.compact") + prefixed("compact.")),
      "state.compactions" -> n("store.compact"),
      "state.store_bytes" -> out.layers.getOrElse("state.store_bytes", 0.0),
      "engine.poll_s" -> t.total("engine.run_once"),
      "engine.analyze_s" -> s("orch.analyze"),
      "engine.stage_s" -> s("orch.stage"),
      "engine.load_self_s" -> s("orch.load"),
      "sink.stage_plan_s" -> s("stage.plan"),
      "sink.stage_write_s" -> s("mirror.stage"),
      "sink.publish_s" -> (s("mirror.publish") + prefixed("publish.")),
      "sink.live_files" -> out.layers.getOrElse("sink.live_files", 0.0),
      "sink.mirror_bytes_per_source_byte" ->
        out.layers.getOrElse("sink.mirror_bytes_per_source_byte", 0.0),
      "spark.jobs" -> sp("jobs"),
      "spark.tasks" -> sp("tasks"),
      "spark.task_s" -> sp("task_ns") / 1e9,
      "spark.core_busy_frac" -> sp("task_ns") / 1e9 / (Main.Cores * measuredS),
      "spark.bytes_read" -> sp("bytes_read"),
      "spark.bytes_written" -> sp("bytes_written"),
      "spark.shuffle_bytes" -> sp("shuffle_bytes"),
      "kql.build_s" -> t.total("kql.build"),
      "kql.plan_s" -> t.total("kql.plan"),
      "kql.exec_s" -> t.total("kql.exec"),
      "kql.jobs_build" -> jobs("kql.build"),
      "kql.jobs_exec" -> jobs("kql.exec"),
      "trace.overhead_frac" -> t.ownSeconds / measuredS)
  }
}
