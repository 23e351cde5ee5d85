package perfbench

import graft.table.GraftTable
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import scala.collection.immutable.ListMap

/** Files and rows a finished read scanned, from its executed plan. */
object Scans extends AdaptiveSparkPlanHelper {
  def record(tracer: Tracer, df: DataFrame): Unit = {
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def metric(s: FileSourceScanExec, k: String): Long =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    tracer.count("files_scanned", scans.map(metric(_, "numFiles")).sum.toDouble)
    tracer.count("log_files_scanned", scans.map(s =>
      s.relation.location.inputFiles.count(_.contains("/log_"))).sum.toDouble)
    tracer.count("rows_scanned", scans.map(metric(_, "numOutputRows")).sum.toDouble)
  }
}

/** Counts taken between steps of a traced run. */
object Counters {
  /** Storage and timeline counts for step `i`, attached to its step span.
    * Returns the file listing, to diff against at the next step. */
  def stepCounts(tracer: Tracer, t: GraftTable, i: Int,
      before: Map[String, Long]): Map[String, Long] = {
    val base = Paths.get(t.basePath)
    val now = Session.usage(base)
    tracer.spans.findLast(s => s.name == "step" && s.op == i).foreach { s =>
      val created = now.filter { case (f, n) => !before.get(f).contains(n) }
      s.counts("files_created") = created.size
      s.counts("bytes_written") = created.values.sum.toDouble
      s.counts("files_live") = t.slices().map(x => x.baseFiles.size + x.logs.size).sum
      val meta = Session.usage(base.resolve(".graft").resolve("timeline"), Set("archive"))
      s.counts("instants") = t.timeline.completed().size
      s.counts("meta_files") = meta.size
      s.counts("meta_bytes") = meta.values.sum.toDouble
    }
    now
  }

  /** What commit `inst` wrote, from its metadata, on the span that closed last. */
  def commit(tracer: Tracer, t: GraftTable, inst: String): Unit =
    if (tracer.enabled) t.timeline.metas(None).find(_.instant == inst).foreach { c =>
      tracer.count("files_written", c.files.size)
      tracer.count("groups_replaced", c.replaced.size)
      tracer.count("rows_written", c.files.map(_.rows).sum.toDouble)
    }

  /** The text kernels timed from outside, on one batch. */
  def kernels(tracer: Tracer, batch: DataFrame, idCol: String, textCol: String): Unit =
    if (tracer.enabled) {
      val docs = batch.count()
      tracer.span("functions.shingle")(graft.pipeline.Dedup.shingleHashes(
        batch, idCol = idCol, textCol = textCol).count())
      tracer.count("docs", docs)
      tracer.span("functions.minhash")(graft.pipeline.Dedup.minhashSignatures(
        batch, idCol = idCol, textCol = textCol).count())
      tracer.count("docs", docs)
    }

  /** Bytes under the table directory ÷ bytes of its live snapshot written
    * once as parquet. */
  def spaceAmp(run: Run, live: DataFrame, tableDir: Path): Option[Double] = {
    val probe = run.work.resolve("space-probe")
    Session.delete(probe)
    live.write.parquet(probe.toString)
    val liveBytes = Session.usage(probe).collect {
      case (f, n) if f.endsWith(".parquet") => n
    }.sum
    Session.delete(probe)
    val tableBytes = Session.usage(tableDir).values.sum
    if (liveBytes == 0) None else Some(tableBytes.toDouble / liveBytes)
  }
}

/** Per-layer metrics of a traced run: each a median over the calls (or
  * steps) of the timed loop that exercised the layer. */
object Layers {
  private def med(name: String, unit: String, xs: Seq[Double], note: String = "") =
    Metric(name, Stats.median(xs), unit, xs.size,
      if (xs.isEmpty) "not exercised by this workload" else note)

  def metrics(run: Run, v: TraceView, cores: Int): Seq[Metric] = {
    def timed(name: String) = v.named(name).filter(_.op >= 0)
    def subCount(s: Span, k: String): Double =
      v.subtree(s).flatMap(_.counts.get(k)).sum

    val writes = Seq("table.write.upsert", "table.write.upsert_global").flatMap(timed)
    def phase(p: String) = writes.map(w => v.jobsUnder(w).filter(_.phase.contains(p))
      .map(_.seconds).sum)
    val labelled = writes.map(w => v.jobsUnder(w).filter(_.phase.nonEmpty).map(_.seconds).sum)

    val readOps = Seq("lookup", "range", "snapshot", "incremental")
      .flatMap(k => timed(s"table.read.$k"))
    val lookups = timed("table.read.lookup")
    val steps = timed("step")
    val stepJobs = steps.map(s => s -> v.jobsByOp.getOrElse(s.op, Nil))
    val admits = timed("pipeline.admit")
    val upsertP50 = Stats.median(run.lat("upsert"))
    val stalls = run.lat("upsert_after_service")

    Seq(
      med("table.write.pin_s", "s", phase("pin")),
      med("table.write.tag_s", "s", phase("tag")),
      med("table.write.counts_s", "s", phase("counts")),
      med("table.write.stage_s", "s", phase("stage")),
      med("table.write.driver_s", "s", writes.zip(labelled).map { case (w, l) => w.seconds - l },
        "call wall minus labelled job time"),
      med("table.write.jobs", "count", writes.map(v.jobsUnder(_).size.toDouble)),
      med("table.write.tasks", "count", writes.map(v.jobsUnder(_).map(_.tasks).sum.toDouble)),
      med("table.write.shuffle_bytes", "bytes",
        writes.map(v.jobsUnder(_).map(_.shuffleWriteBytes).sum.toDouble)),
      med("table.write.files_written", "count", writes.map(subCount(_, "files_written"))),
      med("table.write.groups_replaced", "count", writes.map(subCount(_, "groups_replaced"))),
      med("table.write.rows_written", "count", writes.map(subCount(_, "rows_written"))),

      med("table.read.load_s", "s", timed("table.read.load").map(_.seconds)),
      med("table.read.slices_s", "s", timed("table.read.slices").map(_.seconds)),
      med("table.read.plan_s", "s", timed("table.read.plan").map(_.seconds)),
      med("table.read.exec_s", "s", timed("table.read.exec").map(_.seconds)),
      med("table.read.files_scanned", "count", readOps.map(subCount(_, "files_scanned"))),
      med("table.read.log_files_scanned", "count",
        readOps.map(subCount(_, "log_files_scanned"))),
      med("table.read.listing_jobs", "count", readOps.map(r => v.jobsUnder(r)
        .count(j => j.desc != null && j.desc.startsWith("Listing leaf files")).toDouble)),
      med("table.read.jobs", "count", readOps.map(v.jobsUnder(_).size.toDouble)),
      med("table.read.rows_scanned_per_row_returned", "ratio", lookups.map(s =>
        subCount(s, "rows_scanned") / math.max(1.0, subCount(s, "rows_returned"))),
        "point lookups"),

      med("table.services.compact_s", "s", timed("table.services.compact").map(_.seconds)),
      med("table.services.compact_rows_rewritten", "count",
        timed("table.services.compact").map(subCount(_, "rows_rewritten"))),
      med("table.services.clean_s", "s", timed("table.services.clean").map(_.seconds)),
      med("table.services.files_deleted", "count",
        timed("table.services.clean").map(subCount(_, "files_deleted"))),
      med("table.services.archive_s", "s", timed("table.services.archive").map(_.seconds)),
      med("table.services.mdt_sync_s", "s", timed("table.services.mdt_sync").map(_.seconds)),
      Metric("table.services.stall_s",
        for (a <- Stats.median(stalls); b <- upsertP50) yield a - b, "s", stalls.size,
        if (stalls.isEmpty) "not exercised by this workload"
        else "first upsert after a service minus upsert median"),

      med("table.timeline.instants", "count", steps.flatMap(_.counts.get("instants"))),
      med("table.timeline.meta_files", "count", steps.flatMap(_.counts.get("meta_files"))),
      med("table.timeline.meta_bytes", "bytes", steps.flatMap(_.counts.get("meta_bytes"))),

      med("pipeline.gate_s", "s", timed("pipeline.gate").map(_.seconds)),
      med("pipeline.corpus_write_s", "s", timed("pipeline.corpus_write").map(_.seconds)),
      med("pipeline.index_upsert_s", "s", timed("pipeline.index_upsert").map(_.seconds)),
      med("pipeline.jobs_per_batch", "count", admits.map(v.jobsUnder(_).size.toDouble)),
      med("pipeline.survivor_ratio", "ratio", admits.map(s =>
        subCount(s, "survivors") / math.max(1.0, subCount(s, "offered")))),

      med("functions.minhash_ns_per_doc", "ns", v.named("functions.minhash").map(s =>
        s.seconds * 1e9 / math.max(1.0, s.counts.getOrElse("docs", 1.0)))),
      med("functions.shingle_ns_per_doc", "ns", v.named("functions.shingle").map(s =>
        s.seconds * 1e9 / math.max(1.0, s.counts.getOrElse("docs", 1.0)))),

      med("spark.jobs", "count", stepJobs.map(_._2.size.toDouble)),
      med("spark.stages", "count", stepJobs.map(_._2.map(_.stages).sum.toDouble)),
      med("spark.tasks", "count", stepJobs.map(_._2.map(_.tasks).sum.toDouble)),
      med("spark.executor_run_s", "s", stepJobs.map(_._2.map(_.runMs).sum / 1e3)),
      med("spark.gc_s", "s", stepJobs.map(_._2.map(_.gcMs).sum / 1e3)),
      med("spark.shuffle_write_bytes", "bytes",
        stepJobs.map(_._2.map(_.shuffleWriteBytes).sum.toDouble)),
      med("spark.spill_bytes", "bytes", stepJobs.map(_._2.map(_.spillBytes).sum.toDouble)),
      med("spark.driver_gap_s", "s", stepJobs.map { case (s, js) => v.gapSeconds(s, js) },
        "step wall covered by no job"),
      med("spark.idle_core_s", "s", stepJobs.map { case (s, js) =>
        cores * s.seconds - js.map(_.runMs).sum / 1e3 }, s"$cores cores x wall - run time"),

      med("storage.bytes_written", "bytes", steps.flatMap(_.counts.get("bytes_written"))),
      med("storage.files_created", "count", steps.flatMap(_.counts.get("files_created"))),
      med("storage.files_live", "count", steps.flatMap(_.counts.get("files_live"))))
  }

  /** Per span name: calls, median total and median self seconds. */
  def spanSummary(v: TraceView, spans: Seq[Span]): Seq[Map[String, Any]] =
    spans.filter(_.op >= 0).groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      ListMap("name" -> name, "calls" -> ss.size,
        "total_s" -> Stats.median(ss.map(_.seconds)).get,
        "self_s" -> Stats.median(ss.map(v.selfSeconds)).get)
    }
}
