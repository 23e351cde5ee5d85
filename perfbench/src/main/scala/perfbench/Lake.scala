package perfbench

import graft.table._
import java.nio.file.Path
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Murmur3Hash}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Table shape of the lake workloads. */
final case class LakeParams(seedRows: Int, batchRows: Int, partitions: Int,
    fileRows: Int, warmupSteps: Int)

object LakeParams {
  def of(scale: String): LakeParams = scale match {
    case "tiny" => LakeParams(4000, 200, 16, 500, 1)
    case _ => LakeParams(12000, 500, 16, 1000, 4)
  }
}

/** One record of the synthetic lake table. */
final case class Rec(key: String, dt: String, version: Long, qty: Int,
    amount: Double, note: String)

object Rec {
  val schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("dt", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("qty", IntegerType, nullable = false),
    StructField("amount", DoubleType, nullable = false),
    StructField("note", StringType, nullable = false)))
  val cols: Seq[String] = schema.fieldNames.toSeq

  // the expression Spark's `hash(cols)` plans to, evaluated on the driver:
  // the model's checksum and the table's checksum are the same function
  private val murmur = Murmur3Hash(schema.fields.toSeq.zipWithIndex.map {
    case (f, i) => BoundReference(i, f.dataType, f.nullable)
  }, 42)

  def rowHash(r: Rec): Long = murmur.eval(InternalRow(UTF8String.fromString(r.key),
    UTF8String.fromString(r.dt), r.version, r.qty, r.amount,
    UTF8String.fromString(r.note))).asInstanceOf[Int].toLong

  def of(row: Row): Rec = Rec(row.getString(0), row.getString(1), row.getLong(2),
    row.getInt(3), row.getDouble(4), row.getString(5))

  /** Row count and order-independent checksum of a frame: one job. */
  def checksum(df: DataFrame): DataFrame =
    df.select(cols.map(col): _*)
      .agg(count(lit(1)), coalesce(sum(hash(cols.map(col): _*).cast("long")), lit(0L)))

  def sums(rows: Array[Row]): (Long, Long) = (rows(0).getLong(0), rows(0).getLong(1))
}

/** The latest version of every key over the seed rows and every committed
  * batch, with the count and checksum per partition. */
final class LakeModel(partitions: Int) {
  val rows: mutable.HashMap[String, Rec] = mutable.HashMap()
  val count: Array[Long] = new Array(partitions)
  val sum: Array[Long] = new Array(partitions)

  def apply(r: Rec, part: Int): Unit = rows.get(r.key) match {
    case Some(old) if old.version >= r.version =>
    case old =>
      old.foreach { o => count(part) -= 1; sum(part) -= Rec.rowHash(o) }
      rows(r.key) = r
      count(part) += 1
      sum(part) += Rec.rowHash(r)
  }
}

/** Deterministic rows from the seed: the table starts with `seedRows` keys
  * over `partitions` date partitions; each batch is 90 % updates, skewed
  * toward the newest partitions, and 10 % inserts into the newest one. */
final class LakeGen(seed: Long, p: LakeParams) {
  private val rnd = new java.util.SplittableRandom(seed)
  val dates: IndexedSeq[String] =
    (0 until p.partitions).map(i => LocalDate.of(2026, 1, 1).plusDays(i).toString)
  private val keysByPart = Array.fill(p.partitions)(mutable.ArrayBuffer[String]())
  private var nextKey = 0L
  private var version = 0L
  def keyCount: Long = nextKey
  // partition weights 2^(i/3): the newest partition draws ~30x the oldest
  private val cumWeights = {
    val w = (0 until p.partitions).map(i => math.pow(2, i / 3.0))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }

  private def newKey(part: Int): String = {
    val k = f"k$nextKey%09d"
    nextKey += 1
    keysByPart(part) += k
    k
  }

  private def rec(key: String, part: Int): (Rec, Int) = {
    version += 1
    // four short words, so the text kernels have shingles to hash
    val note = Seq.fill(4)(Seq.fill(3 + rnd.nextInt(4))(('a' + rnd.nextInt(26)).toChar)
      .mkString).mkString(" ")
    (Rec(key, dates(part), version, rnd.nextInt(1000), rnd.nextInt(10000000) / 100.0,
      note), part)
  }

  def seedRows(): Seq[(Rec, Int)] =
    (0 until p.seedRows).map(i => rec(newKey(i % p.partitions), i % p.partitions))

  def batch(): Seq[(Rec, Int)] = (0 until p.batchRows).map { _ =>
    if (rnd.nextDouble() < 0.1) rec(newKey(p.partitions - 1), p.partitions - 1)
    else {
      val u = rnd.nextDouble()
      val part = math.min(cumWeights.indexWhere(_ >= u) max 0, p.partitions - 1)
      val ks = keysByPart(part)
      rec(ks(rnd.nextInt(ks.size)), part)
    }
  }
}

/**
 * cow_upsert and mor_read_mix: one writer upserting into a table that lives
 * for the run. COW: each step upserts, then one point lookup and one
 * snapshot checksum; clean every 10 commits. MOR: each step upserts, then
 * reads through a freshly loaded handle, as a separate reader job would:
 * a point lookup, a partition-range scan, a snapshot checksum or an
 * incremental pull of the last three upserts, in turn; compaction and
 * metadata-table sync every 5 commits, clean and archive every 10. Every
 * read is checked against the model.
 */
final class Lake(run: Run, dir: Path, seed: Long, mor: Boolean, p: LakeParams)
    extends Workload {
  private val spark = run.spark
  private val tracer = run.tracer
  private val path = dir.resolve("lake").toString
  private val gen = new LakeGen(seed, p)
  private val reads = new java.util.SplittableRandom(seed * 31 + 7)
  private val model = new LakeModel(p.partitions)
  private var table: GraftTable = _
  private var commits = 0
  private val upserts = mutable.ArrayBuffer[(String, Set[String])]()
  private var afterService = false
  private var userRows = 0L
  private var writtenRows = 0L
  private val seen = mutable.Set[String]()
  private var files = Map.empty[String, Long]
  private var lastBatch: Option[DataFrame] = None
  private var spaceAmp: Option[Double] = None
  // retention: clean keeps 8 data commits and archive 12, both wider than
  // the incremental window (3 upserts, at most one compaction between)
  private val cleanPolicy = KeepLatestCommits(8)
  private val archiveKeep = 12
  private val incrementalWindow = 3
  // day-based compaction: the 4 newest partitions, where the skewed updates
  // land; older partitions keep their logs, so every snapshot read stays on
  // the merge path instead of flipping to a plain scan after each compaction
  private val compaction = PartitionBounded(4)

  def warmupSteps: Int = p.warmupSteps
  def cycleSteps: Int = if (mor) 5 else 10
  val writeKind = "upsert"
  val readKinds: Seq[String] =
    if (mor) Seq("lookup", "range", "snapshot", "incremental") else Seq("lookup", "snapshot")
  def ingested: Long = userRows

  private def frame(rows: Seq[(Rec, Int)]): DataFrame =
    spark.createDataFrame(rows.map { case (r, _) =>
      Row(r.key, r.dt, r.version, r.qty, r.amount, r.note)
    }.asJava, Rec.schema)

  def seed(): Unit = {
    table = GraftTable.create(spark, path, TableConfig("lake",
      if (mor) MergeOnRead else CopyOnWrite, keyFields = Seq("key"),
      precombineField = Some("version"),
      partitioning = PartitionByColumns(Seq("dt")),
      targetFileSizeRows = p.fileRows))
    val rows = gen.seedRows()
    table.bulkInsert(frame(rows))
    rows.foreach { case (r, part) => model.apply(r, part) }
    seen ++= table.timeline.completed().map(_._1)
  }

  def step(i: Int): Unit = {
    val batch = gen.batch()
    val stall = afterService
    afterService = false
    val t0 = System.nanoTime()
    val df = frame(batch)
    lastBatch = Some(df)
    run.op("upsert", "table.write.upsert")(table.upsert(df)).foreach { inst =>
      if (stall && run.recording)
        run.latencies.getOrElseUpdate("upsert_after_service", mutable.ArrayBuffer()) +=
          (System.nanoTime() - t0) / 1e9
      batch.foreach { case (r, part) => model.apply(r, part) }
      if (run.recording) userRows += batch.size
      upserts += inst -> batch.map(_._1.key).toSet
      Counters.commit(tracer, table, inst)
    }
    commits += 1
    if (mor && commits % 5 == 0) {
      run.op("compact", "table.services.compact")(table.compact(strategy = compaction)).foreach(
        _.foreach(inst => tracer.count("rows_rewritten", table.commitRows(inst))))
      run.op("mdt_sync", "table.services.mdt_sync")(table.syncMetadataTable())
      afterService = true
    }
    if (commits % 10 == 0) {
      run.op("clean", "table.services.clean")(table.clean(cleanPolicy)).foreach { inst =>
        tracer.count("files_deleted", table.timeline.read(inst, "clean").deletedPaths.size)
      }
      if (mor) run.op("archive", "table.services.archive")(table.archive(archiveKeep))
      afterService = true
    }
    if (mor) {
      // the reader job runs one query per step, in turn: a step stays short
      // enough that one run holds ~10 upserts and two compaction cycles
      val query = Math.floorMod(i, 4)
      run.op("load", "table.read.load")(GraftTable.load(spark, path)).foreach { reader =>
        query match {
          case 0 => lookup(reader)
          case 1 => rangeScan(reader)
          case 2 => snapshot(reader)
          case _ => incremental(reader)
        }
      }
    } else {
      lookup(table)
      snapshot(table)
    }
  }

  private def uniformKey(): String = f"k${reads.nextLong(gen.keyCount)}%09d"

  private def lookup(t: GraftTable): Unit = {
    val k = uniformKey()
    run.read("lookup", t)(_.snapshot().filter(col("key") === k)
      .select(Rec.cols.map(col): _*))(identity).foreach { rows =>
      tracer.count("rows_returned", rows.length)
      run.check(rows.map(Rec.of).toSeq == model.rows.get(k).toSeq,
        s"lookup $k: got ${rows.mkString(",")}, expected ${model.rows.get(k)}")
    }
  }

  private def rangeScan(t: GraftTable): Unit = {
    val from = reads.nextInt(p.partitions - 3)
    val parts = (from until from + 4).toSet
    val wanted = parts.map(i => s"dt=${gen.dates(i)}")
    val got = run.read("range", t)(x =>
      Rec.checksum(x.snapshot(partitionPred = wanted)))(Rec.sums)
    got.foreach { case (n, s) =>
      tracer.count("rows_returned", n)
      run.check(n == parts.toSeq.map(model.count(_)).sum &&
        s == parts.toSeq.map(model.sum(_)).sum, s"range scan $wanted: got ($n, $s)")
    }
  }

  private def snapshot(t: GraftTable): Unit =
    run.read("snapshot", t)(x => Rec.checksum(x.snapshot()))(Rec.sums).foreach { case (n, s) =>
      tracer.count("rows_returned", n)
      run.check(n == model.count.sum && s == model.sum.sum,
        s"snapshot: got ($n, $s), expected (${model.count.sum}, ${model.sum.sum})")
    }

  private def incremental(t: GraftTable): Unit = if (upserts.size > incrementalWindow) {
    val from = upserts(upserts.size - 1 - incrementalWindow)._1
    val changed = upserts.takeRight(incrementalWindow).flatMap(_._2).toSet
    val got = run.read("incremental", t)(x => Rec.checksum(x.incremental(from)))(Rec.sums)
    got.foreach { case (n, s) =>
      tracer.count("rows_returned", n)
      val expected = changed.toSeq.map(k => Rec.rowHash(model.rows(k))).sum
      run.check(n == changed.size && s == expected,
        s"incremental from $from: got ($n, $s), expected (${changed.size}, $expected)")
    }
  }

  def afterStep(i: Int): Unit = {
    // rows written by the data commits of this step, from commit metadata,
    // before archive can move them off the active timeline
    val ms = table.showCommits().collect()
    ms.filter(r => !seen(r.getString(0))).foreach { r =>
      seen += r.getString(0)
      if (run.recording && Set("commit", "deltacommit")(r.getString(1)) &&
          r.getString(2) != "checkpoint") writtenRows += r.getLong(4)
    }
    if (tracer.enabled && i >= 0) {
      files = Counters.stepCounts(tracer, table, i, files)
      lastBatch.foreach(Counters.kernels(tracer, _, "key", "note"))
    }
  }

  def finish(): Unit = {
    val last = GraftTable.load(spark, path)
    val (n, s) = Rec.sums(Rec.checksum(last.snapshot()).collect())
    val expected = model.sum.sum + (if (run.corruptExpectation) 1 else 0)
    run.check(n == model.rows.size && s == expected,
      s"final snapshot: got ($n, $s), expected (${model.rows.size}, $expected)")
    spaceAmp = Counters.spaceAmp(run, last.snapshot().select(Rec.cols.map(col): _*),
      dir.resolve("lake"))
  }

  def metrics(loopSeconds: Double): Seq[Metric] = Seq(
    Stats.p50("upsert_p50_s", "s", run.lat("upsert")),
    Stats.tailMetric("upsert_tail_s", "s", run.lat("upsert")),
    Metric("ingest_rows_per_s", Some(userRows / loopSeconds), "rows/s",
      run.lat("upsert").size),
    Stats.p50("lookup_p50_s", "s", run.lat("lookup")),
    Stats.p50("snapshot_p50_s", "s", run.lat("snapshot")),
    Stats.p50("incremental_p50_s", "s", run.lat("incremental")),
    Stats.p50("compact_p50_s", "s", run.lat("compact")),
    Metric("write_amp_rows", Option.when(userRows > 0)(writtenRows.toDouble / userRows), "ratio",
      run.lat("upsert").size),
    Metric("space_amp", spaceAmp, "ratio", 1))
}
