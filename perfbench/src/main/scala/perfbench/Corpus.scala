package perfbench

import graft.pipeline.MinhashIndex
import graft.table._
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Murmur3Hash}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Corpus shape: seed documents, documents per admitted batch (half fresh,
  * half near-duplicates), the corpus table's target file size and the
  * untimed warm-up batches. */
final case class CorpusParams(seedDocs: Int, batchDocs: Int, fileRows: Int,
    warmupSteps: Int)

object CorpusParams {
  def of(scale: String): CorpusParams = scale match {
    case "tiny" => CorpusParams(200, 40, 100, 1)
    case _ => CorpusParams(2500, 200, 500, 3)
  }
}

object Doc {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("source", StringType, nullable = false)))
  val cols: Seq[String] = schema.fieldNames.toSeq

  private val murmur = Murmur3Hash(schema.fields.toSeq.zipWithIndex.map {
    case (f, i) => BoundReference(i, f.dataType, f.nullable)
  }, 42)

  def rowHash(id: Long, text: String, source: String): Long =
    murmur.eval(InternalRow(id, UTF8String.fromString(text),
      UTF8String.fromString(source))).asInstanceOf[Int].toLong

  def checksum(df: DataFrame): DataFrame =
    df.select(cols.map(col): _*)
      .agg(count(lit(1)), coalesce(sum(hash(cols.map(col): _*).cast("long")), lit(0L)))

  def sums(rows: Array[Row]): (Long, Long) = (rows(0).getLong(0), rows(0).getLong(1))
}

/** Deterministic documents from the seed: 150-250 words drawn from a
  * 5000-word vocabulary, so two fresh documents share almost no 3-word
  * shingles. A near-duplicate is a corpus document with one word replaced:
  * shingle Jaccard above 0.96, far over the gate's 0.5. */
final class DocGen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val vocab: IndexedSeq[String] = {
    val s = mutable.LinkedHashSet[String]()
    while (s.size < 5000)
      s += Seq.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString
    s.toIndexedSeq
  }
  private var nextId = 1L

  def id(): Long = { val i = nextId; nextId += 1; i }
  def pick(n: Int): Int = rnd.nextInt(n)

  def fresh(): String =
    Seq.fill(150 + rnd.nextInt(101))(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  def nearDup(text: String): String = {
    val words = text.split(' ')
    val at = rnd.nextInt(words.length)
    var w = words(at)
    while (w == words(at)) w = vocab(rnd.nextInt(vocab.size))
    words(at) = w
    words.mkString(" ")
  }
}

/**
 * corpus_dedup_ingest: one crawler admitting batches through the persisted
 * MinHash gate into a curated COW corpus. Each step admits a batch that is
 * half fresh documents and half near-duplicates of corpus documents, then
 * reads back one admitted document. The benchmark knows which documents are
 * near-duplicates: exactly the fresh half must be admitted.
 *
 * Traced, the step makes `MinhashIndex.admit`'s three calls (gate, corpus
 * upsert, index upsert) itself, so that each is its own span.
 */
final class Corpus(run: Run, dir: Path, seed: Long, p: CorpusParams) extends Workload {
  private val spark = run.spark
  private val tracer = run.tracer
  private val corpusPath = dir.resolve("corpus").toString
  private val indexDir = dir.resolve("index").toString
  private val gen = new DocGen(seed)
  private val model = mutable.LinkedHashMap[Long, (String, String)]()
  private val ids = mutable.ArrayBuffer[Long]()
  private var corpus: GraftTable = _
  private var offered = 0L
  private var admitted = 0L
  private var writtenRows = 0L
  private val seen = mutable.Set[String]()
  private var files = Map.empty[String, Long]
  private var lastBatch: Option[DataFrame] = None
  private var spaceAmp: Option[Double] = None

  def warmupSteps: Int = p.warmupSteps
  val cycleSteps = 1
  val writeKind = "admit"
  val readKinds = Seq("lookup")
  def ingested: Long = offered

  private def frame(docs: Seq[(Long, String, String)]): DataFrame =
    spark.createDataFrame(docs.map { case (i, t, s) => Row(i, t, s) }.asJava, Doc.schema)

  private def add(i: Long, text: String, source: String): Unit = {
    model(i) = (text, source)
    ids += i
  }

  def seed(): Unit = {
    val docs = Seq.fill(p.seedDocs)((gen.id(), gen.fresh(), "seed"))
    corpus = GraftTable.create(spark, corpusPath, TableConfig("corpus", CopyOnWrite,
      keyFields = Seq("doc_id"), targetFileSizeRows = p.fileRows))
    corpus.bulkInsert(frame(docs))
    MinhashIndex.build(corpus.snapshot(), indexDir)
    docs.foreach { case (i, t, s) => add(i, t, s) }
    seen ++= corpus.timeline.completed().map(_._1)
  }

  private def admit(batch: DataFrame): DataFrame =
    if (!tracer.enabled) MinhashIndex.admit(indexDir, corpus, batch)
    else {
      val (survivors, any) = tracer.span("pipeline.gate") {
        val s = MinhashIndex.gate(indexDir, corpus.snapshot(), batch).localCheckpoint(true)
        (s, !s.isEmpty)
      }
      if (any) {
        tracer.span("pipeline.corpus_write") {
          val inst = tracer.span("table.write.upsert_global")(corpus.upsertGlobal(survivors))
          Counters.commit(tracer, corpus, inst)
        }
        tracer.span("pipeline.index_upsert")(MinhashIndex.upsert(indexDir, survivors))
      }
      survivors
    }

  def step(i: Int): Unit = {
    val half = p.batchDocs / 2
    val fresh = Seq.fill(half)((gen.id(), gen.fresh(), s"crawl-$i"))
    val dups = Seq.fill(p.batchDocs - half) {
      val of = ids(gen.pick(ids.size))
      (gen.id(), gen.nearDup(model(of)._1), s"crawl-$i")
    }
    // interleave so neither half sits in one input split
    val docs = fresh.zip(dups).flatMap { case (a, b) => Seq(a, b) }
    val batch = frame(docs)
    lastBatch = Some(batch)
    run.op("admit", "pipeline.admit")(admit(batch)).foreach { survivors =>
      if (run.recording) offered += docs.size
      val got = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
      tracer.count("offered", docs.size)
      tracer.count("survivors", got.size)
      val freshIds = fresh.map(_._1).toSet
      val dupIds = dups.map(_._1).toSet
      run.check((got & dupIds).isEmpty,
        s"batch $i admitted ${(got & dupIds).size} near-duplicates: ${(got & dupIds).take(5)}")
      run.check(freshIds.subsetOf(got),
        s"batch $i rejected ${(freshIds -- got).size} fresh documents")
      docs.filter(d => got(d._1)).foreach { case (id, t, s) => add(id, t, s) }
      if (run.recording) admitted += got.size
      fresh.find(d => got(d._1)).foreach { case (id, text, source) =>
        run.read("lookup", corpus)(_.snapshot().filter(col("doc_id") === id)
          .select(Doc.cols.map(col): _*))(identity).foreach { rows =>
          tracer.count("rows_returned", rows.length)
          run.check(rows.length == 1 && rows(0).getString(1) == text &&
            rows(0).getString(2) == source, s"lookup of admitted doc $id: ${rows.length} rows")
        }
      }
    }
  }

  def afterStep(i: Int): Unit = {
    val ms = corpus.showCommits().collect()
    ms.filter(r => !seen(r.getString(0))).foreach { r =>
      seen += r.getString(0)
      if (run.recording && Set("commit", "deltacommit")(r.getString(1)) &&
          r.getString(2) != "checkpoint") writtenRows += r.getLong(4)
    }
    if (tracer.enabled && i >= 0) {
      files = Counters.stepCounts(tracer, corpus, i, files)
      lastBatch.foreach(Counters.kernels(tracer, _, "doc_id", "text"))
    }
  }

  def finish(): Unit = {
    val last = GraftTable.load(spark, corpusPath)
    val (n, s) = Doc.sums(Doc.checksum(last.snapshot()).collect())
    val expected = model.iterator.map { case (i, (t, src)) => Doc.rowHash(i, t, src) }.sum +
      (if (run.corruptExpectation) 1 else 0)
    run.check(n == model.size && s == expected,
      s"final corpus: got ($n, $s), expected (${model.size}, $expected)")
    spaceAmp = Counters.spaceAmp(run, last.snapshot().select(Doc.cols.map(col): _*),
      dir.resolve("corpus"))
  }

  def metrics(loopSeconds: Double): Seq[Metric] = Seq(
    Stats.p50("lookup_p50_s", "s", run.lat("lookup")),
    Stats.p50("admit_p50_s", "s", run.lat("admit")),
    Stats.tailMetric("admit_tail_s", "s", run.lat("admit")),
    Metric("docs_admitted_per_s", Some(offered / loopSeconds), "docs/s",
      run.lat("admit").size, "documents offered"),
    Metric("write_amp_rows", Option.when(admitted > 0)(writtenRows.toDouble / admitted), "ratio",
      run.lat("admit").size),
    Metric("space_amp", spaceAmp, "ratio", 1))
}
