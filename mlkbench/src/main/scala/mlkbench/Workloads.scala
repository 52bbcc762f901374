package mlkbench

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.deltalog.DeltaLogWriter
import graft.engine.{MirrorConfig, MirrorOrchestrator}
import graft.state.CheckpointStore
import graft.txlog.{InternalState, TransactionItem, TxAction, TxState}
import Lineitem.{Digest, FileSpec}

/** What a workload hands back to [[Main]]. */
final case class Outcome(
    opMs: Seq[Double],           // latency of each measured operation
    attempted: Int,              // operations plus correctness checks
    failed: Int,                 // failed operations plus failed checks
    failures: Seq[String],       // one line per failure
    input: Seq[(String, Any)],   // input sizes, stated in the record
    headline: Seq[(String, Any)], // the workload's own end-to-end figures
    layers: Map[String, Double], // workload-specific layer values (sizes, counts)
    samples: Seq[Json.Obj])      // per-operation detail

final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Int,
    tracer: Tracer,
    work: String,        // working directory for generated inputs and mirrors
    toy: Boolean,        // self-test size
    corrupt: Boolean,    // add one row to every expected row count
    sfDir: String,
    expectedFile: String)

/** A prepared workload: `measure` runs the timed phase, `finish` checks
  * the program's outputs and reports.
  */
trait Prepared {
  def measure(): Unit
  def finish(): Outcome
}

object Workloads {
  /** Seeds the shape of the mirror workloads' tables: file sizes,
    * partitions, repeats and which files a rewrite replaces. The shape is
    * the same in every run, so runs with different `--seed`s do the same
    * amount of work; `--seed` makes the values of the rows, and with them
    * which rows a rewrite deletes or updates.
    */
  val ShapeSeed = 20261017L

  def prepare(name: String, c: Ctx): Prepared = name match {
    case "backfill"     => new Backfill(c)
    case "steady_cdc"   => new SteadyCdc(c)
    case "kql_registry" => new KqlRegistry(c)
    case other          => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  /** Compare the mirror's live rows, tracking columns dropped, with the
    * generator's record; returns a failure line on mismatch.
    */
  def checkMirror(snapshot: DataFrame, expected: Digest): Option[String] = {
    val got = Lineitem.digest(snapshot)
    if (got == expected) None
    else Some(s"mirror holds ${got.rows} rows (hash ${got.hash}), " +
      s"generator recorded ${expected.rows} rows (hash ${expected.hash})")
  }

  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo  = math.floor(pos).toInt
      val hi  = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** Shared by the two mirror workloads: mirror-side sizes for the layer
  * table, read after the measured phase.
  */
private object MirrorSizes {
  def apply(c: Ctx, orch: MirrorOrchestrator, stateDir: String,
      sourceBytes: Long): Map[String, Double] = {
    val live = orch.table.liveAdds()
    Map(
      "sink.live_files" -> live.size.toDouble,
      "sink.mirror_bytes_per_source_byte" -> live.map(_.size).sum.toDouble / sourceBytes,
      "state.store_bytes" -> Workloads.dirBytes(c.spark, stateDir).toDouble)
  }
}

/** First mirror of a partitioned table of thousands of skew-sized files,
  * read from a Delta checkpoint plus trailing JSON commits. One `runOnce`
  * in a fresh process, timed with no warm-up of the mirror path.
  */
final class Backfill(c: Ctx) extends Prepared {
  private val rows     = if (c.toy) 6000L else 600000L // distinct rows: sf0.001 / sf0.1 lineitem
  private val nFiles   = if (c.toy) 300 else 1500
  private val bigFiles = if (c.toy) 3 else 40
  private val srcDir   = s"${c.work}/source"
  private val stateDir = s"${c.work}/state"

  private val (files, record, sourceBytes) = c.tracer.span("setup", 0) {
    val rng   = new Random(Workloads.ShapeSeed)
    // distinct files: the big ones and one small file in eight; every other
    // small file repeats the content of a distinct small file of its year
    val nDistinct = bigFiles + (nFiles - bigFiles) / 8
    val sizes =
      if (c.toy) Lineitem.skewedSizes(rng, nDistinct, bigFiles, rows, 3, 25, 300)
      else Lineitem.skewedSizes(rng, nDistinct, bigFiles, rows, 10, 200, 1000)
    val starts = sizes.scanLeft(0L)(_ + _)
    val distinct = sizes.indices.map(i =>
      FileSpec(i, Lineitem.Years(rng.nextInt(Lineitem.Years.size)), starts(i), sizes(i), 0))
    val smalls = distinct.filter(_.rows < (if (c.toy) 300 else 1000))
    val copies = (nDistinct until nFiles).map(i => smalls(rng.nextInt(smalls.size)).copy(fid = i))
    val specs  = rng.shuffle(distinct ++ copies)
    val written = c.tracer.span("setup.generate", 0)(Lineitem.write(c.spark, c.seed, srcDir, specs))
    val w = new DeltaLogWriter(c.spark, srcDir)
    w.commit(Seq(w.metaDataAction("lineitem-src", "lineitem", Lineitem.TableSchema,
      Seq(Lineitem.PartCol))))
    // four commits folded into a checkpoint, then five trailing commits
    val head = (specs.size * 0.8).toInt
    def commitAll(part: Seq[FileSpec], n: Int): Unit =
      part.grouped(math.max(1, (part.size + n - 1) / n)).foreach { g =>
        w.commit(g.map(f => w.addAction(f.path, written(f.fid)._2,
          Map(Lineitem.PartCol -> f.year.toString), Some(written(f.fid)._1.rows))))
      }
    c.tracer.span("setup.log", 0) {
      commitAll(specs.take(head), 4)
      w.writeCheckpoint("lineitem")
      commitAll(specs.drop(head), 5)
    }
    (specs, written.values.map(_._1).reduce(_ + _), written.values.map(_._2).sum)
  }

  private val orch = new MirrorOrchestrator(c.spark, MirrorConfig(
    deltaTableUrl = srcDir, mirrorDir = s"${c.work}/mirror",
    mirrorTableName = "lineitem", checkpointDir = stateDir))
  private var opMs     = Double.NaN
  private var batches  = 0
  private var runError = Option.empty[String]

  def measure(): Unit = c.tracer.span("backfill.op", 0) {
    val t0 = System.nanoTime()
    try batches = c.tracer.span("engine.run_once", 0)(c.tracer.withPhases(orch.runOnce()))
    catch { case e: Exception => runError = Some(s"backfill runOnce failed: $e") }
    opMs = (System.nanoTime() - t0) / 1e6
  }

  def finish(): Outcome = {
    val expected = if (c.corrupt) record.copy(rows = record.rows + 1) else record
    val check = runError.orElse(
      if (batches < 1) Some("backfill runOnce processed no batch")
      else c.tracer.span("check", 0)(Workloads.checkMirror(orch.table.snapshot(), expected)))
    Outcome(
      opMs = Seq(opMs),
      attempted = 2,
      failed = (if (runError.isDefined || batches < 1) 1 else 0) + (if (check.isDefined) 1 else 0),
      failures = check.toSeq,
      input = Seq("rows" -> record.rows, "files" -> files.size,
        "distinct_rows" -> rows, "distinct_files" -> files.map(_.content).distinct.size,
        "partitions" -> files.map(_.year).distinct.size,
        "largest_file_rows" -> files.map(_.rows).max,
        "median_file_rows" -> files.map(_.rows).sorted.apply(files.size / 2),
        "source_bytes" -> sourceBytes, "log" -> "checkpoint + 5 trailing commits"),
      headline = Seq("backfill_rows_per_s" -> record.rows / (opMs / 1000.0),
        "batches" -> batches),
      layers = MirrorSizes(c, orch, stateDir, sourceBytes),
      samples = Seq(Json.obj("op" -> "backfill", "ms" -> opMs, "batches" -> batches)))
  }
}

/** One planned poll of [[SteadyCdc]]: the files it adds and removes. */
private final case class Step(adds: Seq[FileSpec], removes: Seq[FileSpec])

/** A long-lived orchestrator over a checkpoint store that already holds a
  * ballast table's state. Each step writes one Delta commit and then polls
  * once: three steps in four append small files, every fourth removes
  * earlier files and adds their rewrites (the UPDATE/DELETE shape).
  */
final class SteadyCdc(c: Ctx) extends Prepared {
  private val ballastRows = if (c.toy) 2000 else 200000
  private val WarmPolls   = 1
  private val minPolls    = if (c.toy) 4 else 24
  private val maxPolls    = if (c.toy) 4 else 40
  private val srcDir      = s"${c.work}/source"
  private val stateDir    = s"${c.work}/state"

  private val rng   = new Random(Workloads.ShapeSeed)
  private var nextFid = 0
  private var nextId  = 0L
  private def smallFile(year: Int): FileSpec = {
    val n = math.exp(math.log(10) + rng.nextDouble() * math.log(20)).toInt
    val f = FileSpec(nextFid, year, nextId, n, 0)
    nextFid += 1; nextId += n
    f
  }
  /** `n` small files in `n` distinct seeded partitions. */
  private def smallFiles(n: Int): Seq[FileSpec] = rng.shuffle(Lineitem.Years).take(n).map(smallFile)

  private val store   = new CheckpointStore(c.spark, stateDir)
  private val (initial, steps, written) = c.tracer.span("setup", 0) {
    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
    c.tracer.span("setup.ballast", 0) {
      (0 until ballastRows).grouped(50000).foreach { chunk =>
        store.append(chunk.map(i => TransactionItem(
          tableName = "ballast", startTxId = (i / 1000).toLong, endTxId = (i / 1000).toLong,
          action = TxAction.Add, state = TxState.Done, mirrorTimestamp = t0.plusSeconds(i.toLong),
          blobPath = Some(f"ballast-$i%08d.parquet"), size = Some(100000L),
          recordCount = Some(100L), internalState = InternalState.empty)))
      }
      store.compact()
    }

    val initial = (1 to (if (c.toy) 1 else 4)).flatMap(_ => smallFiles(5)).toIndexedSeq
    var live    = initial.toVector
    // Every fourth poll, the warm one first, is a rewrite of 1, 2, 3, 1,
    // ... files; the others append 1, 2, 3, 1, ... files, each in its own
    // partition.
    var appends, rewrites = 0
    val steps = (0 until WarmPolls + maxPolls).map { i =>
      if (i % 4 == 0) {
        val doomed = rng.shuffle(live).take(1 + rewrites % 3)
        rewrites += 1
        val redone = doomed.map { f =>
          val r = f.copy(fid = nextFid, gen = f.gen + 1); nextFid += 1; r
        }
        live = live.filterNot(doomed.contains) ++ redone
        Step(redone, doomed)
      } else {
        val adds = smallFiles(1 + appends % 3)
        appends += 1
        live = live ++ adds
        Step(adds, Nil)
      }
    }
    val all = initial ++ steps.flatMap(_.adds)
    val written = c.tracer.span("setup.generate", 0)(Lineitem.write(c.spark, c.seed, srcDir, all))
    (initial, steps, written)
  }

  private val writer = new DeltaLogWriter(c.spark, srcDir)
  private def pv(f: FileSpec) = Map(Lineitem.PartCol -> f.year.toString)
  private def addAction(f: FileSpec) =
    writer.addAction(f.path, written(f.fid)._2, pv(f), Some(written(f.fid)._1.rows))

  private val orch = new MirrorOrchestrator(c.spark, MirrorConfig(
    deltaTableUrl = srcDir, mirrorDir = s"${c.work}/mirror",
    mirrorTableName = "cdc", checkpointDir = stateDir), Some(store))

  private var live = initial.toSet
  private def commit(step: Step): Unit = {
    writer.commit(step.removes.map(f => writer.removeAction(f.path, Some(pv(f)))) ++
      step.adds.map(addAction))
    live = live -- step.removes ++ step.adds
  }

  // the table's first commit, the open poll (open-time compaction of the
  // ballast store plus the first mirror of the initial files) and the warm
  // rewrite poll are set-up
  c.tracer.span("setup", 0) {
    writer.commit(writer.metaDataAction("cdc-src", "cdc", Lineitem.TableSchema,
      Seq(Lineitem.PartCol)) +: initial.map(addAction))
    require(orch.runOnce() >= 1, "open poll processed no batch")
    steps.take(WarmPolls).foreach { st =>
      commit(st)
      require(orch.runOnce() >= 1, "warm poll processed no batch")
    }
  }

  private val opMs    = Seq.newBuilder[Double]
  private val samples = Seq.newBuilder[Json.Obj]
  private val errors  = Seq.newBuilder[String]
  private var polls   = 0

  def measure(): Unit = {
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    // stop only after a whole round of the mix, so the mix is the same at any length
    while (polls < maxPolls &&
        (polls < minPolls || polls % 4 != 0 || System.nanoTime() < deadline)) {
      val step = steps(WarmPolls + polls)
      c.tracer.span("cdc.op", polls) {
        c.tracer.span("cdc.commit", polls)(commit(step))
        val t0 = System.nanoTime()
        val processed =
          try c.tracer.span("engine.run_once", polls)(c.tracer.withPhases(orch.runOnce()))
          catch { case e: Exception => errors += s"poll $polls failed: $e"; -1 }
        val ms = (System.nanoTime() - t0) / 1e6
        if (processed == 0) errors += s"poll $polls applied no batch"
        opMs += ms
        samples += Json.obj("op" -> polls, "ms" -> ms, "adds" -> step.adds.size,
          "removes" -> step.removes.size)
      }
      polls += 1
    }
  }

  def finish(): Outcome = {
    val record   = live.iterator.map(f => written(f.fid)._1).foldLeft(Digest.empty)(_ + _)
    val expected = if (c.corrupt) record.copy(rows = record.rows + 1) else record
    val failedPolls = errors.result()
    val check = c.tracer.span("check", 0) {
      Workloads.checkMirror(orch.table.snapshot(), expected).toSeq ++ {
        val b = store.readTable("ballast").size
        if (b == ballastRows) Nil else Seq(s"ballast holds $b state rows, expected $ballastRows")
      }
    }
    val lat = opMs.result()
    val liveBytes = live.iterator.map(f => written(f.fid)._2).sum
    Outcome(
      opMs = lat,
      attempted = polls + 1,
      failed = failedPolls.size + (if (check.nonEmpty) 1 else 0),
      failures = failedPolls ++ check,
      input = Seq("ballast_state_rows" -> ballastRows, "initial_files" -> initial.size,
        "warm_polls" -> WarmPolls, "polls" -> polls,
        "rewrite_polls" -> steps.slice(WarmPolls, WarmPolls + polls).count(_.removes.nonEmpty),
        "files_added" -> steps.slice(WarmPolls, WarmPolls + polls).map(_.adds.size).sum,
        "live_rows" -> record.rows, "live_source_bytes" -> liveBytes),
      headline = Seq(
        "commit_to_mirror_ms_p50" -> Workloads.percentile(lat, 0.5),
        "commit_to_mirror_ms_p90" -> Workloads.percentile(lat, 0.9)),
      layers = MirrorSizes(c, orch, stateDir, liveBytes),
      samples = samples.result())
  }
}

/** A fixed sample of the `q_kql_*` registry queries over the sf0.1 test
  * data, in a seeded order: one untimed warm pass (set-up), then timed
  * passes, at least two, until `seconds` have elapsed. Each query is timed
  * from calling its registry function until its result is collected.
  */
final class KqlRegistry(c: Ctx) extends Prepared {
  /** Every twentieth `q_kql_*` query in name order, from the first (8 of
    * 151): a cold and a warm pass over all of them take about 230 s at
    * local[4], far past the budget of one run.
    */
  private val sample: IndexedSeq[(String, (SparkSession, String) => DataFrame)] = {
    val all = graft.SparkEntry.queries.toIndexedSeq.filter(_._1.startsWith("q_kql_")).sortBy(_._1)
    val every20 = all.indices.by(20).map(all)
    if (c.toy) every20.take(3) else every20
  }

  /** DuckDB-verified row counts: the record's `per_query` {name: "OK:<rows>"}. */
  private val expected: Map[String, Long] = {
    val perQuery = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(c.expectedFile)).get("per_query")
    sample.map(_._1).map { q =>
      val v = Option(perQuery.get(q)).map(_.asText).filter(_.startsWith("OK:")).getOrElse(
        throw new IllegalArgumentException(s"${c.expectedFile} has no verified count for $q"))
      val n = v.stripPrefix("OK:").toLong
      q -> (if (c.corrupt) n + 1 else n)
    }.toMap
  }

  private val opMs    = Seq.newBuilder[Double]
  private val samples = Seq.newBuilder[Json.Obj]
  private val errors  = Seq.newBuilder[String]
  private var ops     = 0

  /** Run one query; returns its latency in ms and appends any failure. */
  private def runQuery(name: String, fn: (SparkSession, String) => DataFrame,
      run: Int): Double = {
    val t0 = System.nanoTime()
    try {
      // the warm pass (run < 0) is set-up: its work stays under the setup span
      def span[T](name: String)(body: => T): T =
        if (run < 0) body else c.tracer.span(name, run)(body)
      val rows = span("kql.query") {
        val df = span("kql.build")(fn(c.spark, c.sfDir))
        span("kql.plan")(df.queryExecution.executedPlan)
        span("kql.exec")(df.collect().length)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (rows != expected(name)) errors += s"$name returned $rows rows, expected ${expected(name)}"
      ms
    } catch {
      case e: Exception =>
        errors += s"$name failed: ${e.toString.take(300)}"
        (System.nanoTime() - t0) / 1e6
    } finally graft.Bench.releaseAll(c.spark)
  }

  c.tracer.span("setup", 0) {
    new Random(c.seed).shuffle(sample).foreach { case (n, fn) => runQuery(n, fn, -1) }
  }
  private val warmErrors = errors.result()
  errors.clear()

  def measure(): Unit = {
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    var pass = 0
    while (pass < 2 || System.nanoTime() < deadline) {
      new Random(c.seed + 1 + pass).shuffle(sample).foreach { case (n, fn) =>
        val ms = runQuery(n, fn, ops)
        opMs += ms
        samples += Json.obj("op" -> ops, "query" -> n, "pass" -> pass, "ms" -> ms)
        ops += 1
      }
      pass += 1
    }
  }

  def finish(): Outcome = {
    val lat  = opMs.result()
    val errs = warmErrors.map("warm pass: " + _) ++ errors.result()
    Outcome(
      opMs = lat,
      attempted = sample.size + ops,
      failed = errs.size,
      failures = errs,
      input = Seq("sf" -> new java.io.File(c.sfDir).getName, "queries" -> sample.map(_._1),
        "registry_kql_queries" -> graft.SparkEntry.queries.keys.count(_.startsWith("q_kql_")),
        "timed_executions" -> ops, "expected_counts" -> new java.io.File(c.expectedFile).getName),
      headline = Seq(
        "kql_suite_s" -> lat.sum / 1000.0 / math.max(1, ops / sample.size),
        "kql_query_ms_p50" -> Workloads.percentile(lat, 0.5),
        "kql_query_ms_p90" -> Workloads.percentile(lat, 0.9)),
      layers = Map.empty,
      samples = if (c.tracer.enabled) traced(samples.result()) else samples.result())
  }

  /** Per-query layer split from the spans and the listener's job tags. */
  private def traced(rows: Seq[Json.Obj]): Seq[Json.Obj] = {
    val byRun = c.tracer.all.groupBy(_.run)
    val jobs  = c.tracer.listener.map(_.jobsByTag).getOrElse(Map.empty)
    rows.map { r =>
      val run = r.fields.head._2.asInstanceOf[Int]
      val sp  = byRun.getOrElse(run, Nil).map(s => s.name -> s.seconds).toMap
      Json.Obj(r.fields ++ Seq(
        "build_s" -> sp.getOrElse("kql.build", 0.0), "plan_s" -> sp.getOrElse("kql.plan", 0.0),
        "exec_s" -> sp.getOrElse("kql.exec", 0.0),
        "jobs_build" -> jobs.getOrElse(s"kql.build#$run", 0L),
        "jobs_exec" -> jobs.getOrElse(s"kql.exec#$run", 0L)))
    }
  }
}
