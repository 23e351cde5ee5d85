package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The shared state of one benchmark run: latencies per operation kind,
  * attempts, failures and correctness mismatches. */
final class Run(val spark: SparkSession, val tracer: Tracer, val work: Path,
    val seconds: Int, val corruptExpectation: Boolean) {
  val latencies: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap()
  var recording = false
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  var mismatchCount = 0L
  val mismatches: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()

  def lat(kind: String): Seq[Double] =
    latencies.get(kind).map(_.toSeq).getOrElse(Nil)

  /** One operation: timed, traced as span `span`, and counted against the
    * attempts. A failure is counted, never skipped, and the loop goes on. */
  def op[T](kind: String, span: String)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(span)(f)
      if (recording)
        latencies.getOrElseUpdate(kind, mutable.ArrayBuffer()) +=
          (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        if (errors.size < 20)
          errors += s"$kind: ${e.getClass.getName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** A read of table `t`, timed as one operation: `query` builds the frame,
    * the rows are collected and handed to `result`. Traced, the read also
    * runs the slices listing it makes internally as its own span, splits
    * into plan and execute spans, and records what its scans read. */
  def read[T](kind: String, t: graft.table.GraftTable)(query: graft.table.GraftTable => DataFrame)(
      result: Array[Row] => T): Option[T] = {
    if (tracer.enabled) tracer.span("table.read.slices")(t.slices())
    op(kind, s"table.read.$kind") {
      val df = tracer.span("table.read.plan") {
        val d = query(t)
        if (tracer.enabled) d.queryExecution.executedPlan
        d
      }
      val rows = tracer.span("table.read.exec")(df.collect())
      if (tracer.enabled) Scans.record(tracer, df)
      result(rows)
    }
  }

  /** Record a correctness mismatch when `ok` is false. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    mismatchCount += 1
    if (mismatches.size < 20) mismatches += what.take(400)
  }

  def correct: Boolean = mismatchCount == 0
}

/** A workload: one closed-loop client against tables that live for the run. */
trait Workload {
  /** Create and fill the tables. */
  def seed(): Unit
  /** Untimed steps after seeding: the first steps of a JVM run 2-3x slower. */
  def warmupSteps: Int
  /** Steps in one cycle of the periodic table services. */
  def cycleSteps: Int
  /** One closed-loop step; the next starts only when this one returns. */
  def step(i: Int): Unit
  /** Untimed: bookkeeping between steps (commit rows, traced counts). */
  def afterStep(i: Int): Unit
  /** Final correctness check and end-of-run measurements. */
  def finish(): Unit
  /** End-to-end metrics, given the wall of the timed loop. */
  def metrics(loopSeconds: Double): Seq[Metric]
  /** The operations behind the workload-neutral metrics. */
  def writeKind: String
  def readKinds: Seq[String]
  def ingested: Long
}

object Main {
  val Workloads = Seq("cow_upsert", "mor_read_mix", "corpus_dedup_ingest")

  /** Every end-to-end metric, printed for each workload; n/a where the
    * workload has no such operation. */
  val EndToEndMetrics: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "upsert_p50_s" -> "s", "upsert_tail_s" -> "s",
    "ingest_rows_per_s" -> "rows/s", "lookup_p50_s" -> "s", "snapshot_p50_s" -> "s",
    "incremental_p50_s" -> "s", "compact_p50_s" -> "s", "admit_p50_s" -> "s",
    "admit_tail_s" -> "s", "docs_admitted_per_s" -> "docs/s",
    "write_amp_rows" -> "ratio", "space_amp" -> "ratio",
    "failed_ops_ratio" -> "ratio", "heap_peak_mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def int(k: String, d: Int) = a.get(k).map(_.toInt).getOrElse(d)
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = int("seconds", 10)
    val traced = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out")).toAbsolutePath
    val scale = a.getOrElse("scale", "full")
    // tiny: the smoke tests' scale, with one seeding
    val seedRepeats = if (scale == "tiny") 1 else 2

    val t0 = System.nanoTime()
    val spark = Session.build(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, traced)
    val run = new Run(spark, tracer, work, seconds,
      a.getOrElse("corrupt-expectation", "0") == "1")

    def make(dir: Path): Workload = workload match {
      case "cow_upsert" => new Lake(run, dir, seed, mor = false, LakeParams.of(scale))
      case "mor_read_mix" => new Lake(run, dir, seed, mor = true, LakeParams.of(scale))
      case "corpus_dedup_ingest" => new Corpus(run, dir, seed, CorpusParams.of(scale))
    }
    // the tables are seeded more than once (the first on a cold JVM) and
    // setup_s takes the median; the last copy is the one used
    val seedTimes = mutable.ArrayBuffer[Double]()
    var w: Workload = null
    for (k <- 1 to seedRepeats) {
      if (w != null) Session.delete(work.resolve(s"tables-${k - 1}"))
      w = make(work.resolve(s"tables-$k"))
      val s0 = System.nanoTime()
      run.op("seed", "setup.seed")(w.seed()).getOrElse(
        throw new IllegalStateException(s"seeding failed: ${run.errors.mkString("; ")}"))
      seedTimes += (System.nanoTime() - s0) / 1e9
    }
    val warmup = w.warmupSteps
    val w0 = System.nanoTime()
    (0 until warmup).foreach { i => w.step(-1 - i); w.afterStep(-1 - i) }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(seedTimes.toSeq).get + warmupS

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    run.recording = true
    val l0 = System.nanoTime()
    val deadline = l0 + seconds * 1000000000L
    var steps = 0
    // whole service cycles only: an upsert's cost rises with the logs that
    // pile up between compactions, so a run that stopped mid-cycle would
    // move the medians with its step count
    while (System.nanoTime() < deadline || steps % w.cycleSteps != 0) {
      tracer.beginOp(steps)
      tracer.span("step")(w.step(steps))
      tracer.endOp()
      w.afterStep(steps)
      steps += 1
    }
    val loopS = (System.nanoTime() - l0) / 1e9
    run.recording = false
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    w.finish()

    val failedRatio = run.failed.toDouble / math.max(1L, run.attempted)
    val own = w.metrics(loopS) ++ Seq(
      Metric("setup_s", Some(setupS), "s", seedTimes.size,
        f"session $sessionS%.3f s + median seed ${Stats.median(seedTimes.toSeq).get}%.3f s " +
          f"of ${seedTimes.size} + warm-up $warmupS%.3f s ($warmup steps)"),
      Metric("failed_ops_ratio", Some(failedRatio), "ratio", run.attempted),
      Metric("heap_peak_mb", Some(heapPeakMb), "MB", 1))
    val endToEnd = EndToEndMetrics.map { case (name, unit) =>
      own.find(_.name == name).getOrElse(Metric(name, None, unit, 0))
    }
    val generic = Seq(
      Stats.p50("write_p50_s", "s", run.lat(w.writeKind), w.writeKind),
      Stats.p50("read_p50_s", "s", w.readKinds.flatMap(run.lat), w.readKinds.mkString(" ")),
      Metric("ingest_per_s", Some(w.ingested / loopS), "1/s", steps,
        s"${w.ingested} units in $loopS s"))
    val view = if (traced) Some(new TraceView(tracer.spans.toSeq, tracer.jobs())) else None
    val layers = view.map(Layers.metrics(run, _, spark.sparkContext.defaultParallelism))
      .getOrElse(Nil)
    view.foreach(writeSpans(out.resolveSibling(out.getFileName.toString
      .stripSuffix(".json") + "-spans.jsonl"), tracer.spans.toSeq, _))

    val json = Out.write(ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> (if (traced) 1 else 0), "steps" -> steps, "loop_s" -> loopS,
      "correct" -> run.correct, "attempted" -> run.attempted, "failed" -> run.failed,
      "errors" -> run.errors.toSeq, "mismatches" -> run.mismatches.toSeq,
      "end_to_end" -> Out.metrics(endToEnd),
      "metrics" -> Out.metrics(generic ++ endToEnd.filter(_.name == "setup_s")),
      "layers" -> Out.metrics(layers),
      "latencies_s" -> ListMap(run.latencies.toSeq.map { case (k, xs) => k -> xs.toSeq }: _*),
      "span_summary" -> view.map(Layers.spanSummary(_, tracer.spans.toSeq)).getOrElse(Nil)))
    Files.createDirectories(out.getParent)
    Files.write(out, json.getBytes("UTF-8"))
    spark.stop()
  }

  private def writeSpans(path: Path, spans: Seq[Span], view: TraceView): Unit = {
    val lines = spans.map { s =>
      Out.write(ListMap("id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.seconds,
        "self_s" -> view.selfSeconds(s), "jobs" -> view.jobsUnder(s).size,
        "counts" -> s.counts))
    }
    Files.write(path, lines.asJava)
  }
}

object Session {
  /** The session conf of `graft.Bench`, with every directory the run
    * writes kept under `work`. */
  def build(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", work.resolve("warehouse").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** (files, bytes) under `p`, recursively, skipping directories named in `skip`. */
  def usage(p: Path, skip: Set[String] = Set.empty): Map[String, Long] = {
    if (!Files.exists(p)) return Map.empty
    val s = Files.walk(p)
    try s.iterator.asScala
      .filter(f => Files.isRegularFile(f) &&
        !p.relativize(f).iterator.asScala.exists(x => skip(x.toString)))
      .map(f => p.relativize(f).toString -> Files.size(f)).toMap
    finally s.close()
  }
}
