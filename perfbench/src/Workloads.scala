package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.{col, when}

import graft.operators.{Dedup, DiffSummary, TableDiff}
import graft.pipelines.TrainingExport

/** What one op reports back to the closed loop; `seconds` is NaN for
  * an op that is checked but not timed (a warm-up batch, or one that
  * threw).
  */
final case class OpResult(seconds: Double, rows: Long, ok: Boolean)

/** One workload: set-up makes its seeded inputs and warms the code
  * path on separate data; each `iteration` runs one or more ops and
  * checks every result against the generator's truth.
  */
trait Workload {
  /** the untimed part of set-up: generation, truths and warm-up */
  def setup(): Unit
  /** one unit of the closed loop (a diff op, or a whole ingest
    * lifecycle of several ops); `tr` is set only in traced runs
    */
  def iteration(i: Int, tr: Option[Tracer]): Seq[OpResult]
  /** iterations every run makes, however long they take */
  def minIterations: Int = 1
  /** iterations an untraced run makes at most, however short they are */
  def maxIterations: Int = Int.MaxValue
  /** on-disk bytes written per input byte, over the last iteration */
  def outBytesPerInByte: Double
  /** per-layer metrics this workload measures itself (state scans) */
  def layerMetrics: Map[String, Double] = Map.empty
  def cleanup(): Unit
}

object Workload {

  def spanned[T](tr: Option[Tracer], traceId: Int, name: String)(body: => T): T =
    tr match {
      case Some(t) => t.span(traceId, name)(body)
      case None => body
    }

  /** Log a set-up phase's duration to stderr. */
  def phase[T](name: String)(body: => T): T = {
    val (r, s) = timed(body)
    System.err.println(f"perfbench: $name%s ${s}%.2f s")
    r
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Data files (not `_SUCCESS`/`.crc`) and their bytes under `dir`. */
  def scan(dir: File): (Int, Long) =
    if (!dir.exists()) (0, 0L)
    else if (dir.isFile) {
      val n = dir.getName
      if (n.startsWith("_") || n.startsWith(".")) (0, 0L) else (1, dir.length())
    } else dir.listFiles().map(scan).foldLeft((0, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The diff workload: one op = `TableDiff.diff` written as a table, then
  * `DiffSummary.summary` over the written table, collected.
  */
final class DiffWorkload(
    spark: SparkSession, shape: DiffShape, seed: Long, warehouse: File,
    inject: Option[String]) extends Workload {
  import Workload._

  private val before = s"${shape.name}_before"
  private val after = s"${shape.name}_after"
  private val out = s"${shape.name}_diff"
  private var truth: DiffTruth = _
  private var rows = 0L

  private def runOp(b: String, a: String, o: String, tr: Option[Tracer], traceId: Int)
      : (Row, Double) = {
    spark.sql(s"DROP TABLE IF EXISTS $o")
    timed {
      spanned(tr, traceId, "op") {
        spanned(tr, traceId, "TableDiff") {
          TableDiff.diff(spark.table(b), spark.table(a), DiffGen.Keys)
            .write.format("parquet").saveAsTable(o)
        }
        spanned(tr, traceId, "DiffSummary") {
          DiffSummary.summary(spark.table(o)).head()
        }
      }
    }
  }

  def setup(): Unit = {
    // warm-up on separate, smaller data: JIT and first-call cost land
    // in set-up, not in the first timed op
    val warm = shape.copy(keySpace = math.max(1000L, shape.keySpace / 10))
    phase("warm-up generation") { DiffGen.write(spark, warm, seed ^ 0x5eedL, "warm_before", "warm_after") }
    phase("warm-up op") { runOp("warm_before", "warm_after", "warm_diff", None, 0) }
    Seq("warm_before", "warm_after", "warm_diff").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    phase("generation") { DiffGen.write(spark, shape, seed, before, after) }
    truth = phase("truth") { DiffGen.truth(spark, shape, seed) }
    rows = spark.table(before).count() + spark.table(after).count()
  }

  // the first op after set-up still runs ~25% slower than the rest,
  // so the median of three or more ops never reads it
  override def minIterations: Int = 3

  def iteration(i: Int, tr: Option[Tracer]): Seq[OpResult] = {
    val (summary, s) = runOp(before, after, out, tr, i)
    Seq(OpResult(s, rows, check(summary)))
  }

  /** The written diff and its summary must equal the generator's
    * record: row totals per status, and per-status cell counts of the
    * checked columns.
    */
  private def check(summary: Row): Boolean = {
    var diff = spark.table(out)
    var sum = summary
    val c0 = truth.cellCounts.keys.toSeq.sorted.head
    inject match {
      case Some("summary") =>
        val v = summary.toSeq.toArray
        v(1) = summary.getLong(1) - 1
        sum = new GenericRowWithSchema(v, summary.schema)
      case Some("cells") =>
        diff = diff.withColumn(c0, when(col(c0) === 1, 0)
          .otherwise(col(c0)))
      case _ =>
    }
    val got = DiffGen.observed(diff, sum, truth.cellCounts.keys)
    val ok = got == truth
    if (!ok) System.err.println(s"perfbench: ${shape.name} diff mismatch\n  want $truth\n  got  $got")
    ok
  }

  def outBytesPerInByte: Double = {
    def bytes(t: String) = scan(new File(warehouse, t))._2.toDouble
    bytes(out) / (bytes(before) + bytes(after))
  }

  def cleanup(): Unit =
    Seq(before, after, out).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
}

/** The ingest workload: one iteration is a `runIngest` lifecycle —
  * batches of the seeded corpus, in order, into a fresh state prefix
  * that is removed afterwards. One op is one batch.
  *
  * The lifecycle's first `maxFilesPerBucket + 1` batches are its
  * warm-up: run untimed (and untraced), but checked like every other
  * batch. They take the JIT and first-call cost, and the last of them
  * compacts the dedup state, so every code path of the timed batches
  * has run. The timed batches are whole compaction cycles of
  * `maxFilesPerBucket` batches, the last of which compacts again: one
  * cycle per `cycleSeconds` of `seconds` (at least one, at most
  * `maxCycles`). The count is fixed by `seconds` alone, not by how fast
  * the cycles run, because a later cycle can run faster than the first:
  * a run that made one or two cycles by their speed would report one
  * of two different medians.
  */
final class IngestWorkload(
    spark: SparkSession, seed: Long, maxFilesPerBucket: Int, docsPerBatch: Int,
    seconds: Double, warehouse: File, inject: Option[String]) extends Workload {
  import Workload._
  import spark.implicits._

  private val warmBatches = maxFilesPerBucket + 1
  private val maxCycles = 4
  // about one cycle's time on a 4-core machine
  private val cycleSeconds = 12.0
  private val cycles = math.min(maxCycles, math.max(1, (seconds / cycleSeconds).toInt))
  private val batches = warmBatches + cycles * maxFilesPerBucket
  private var corpus: IngestCorpus = _
  private var expected: IndexedSeq[Set[Long]] = _
  private var byId: Map[Long, Doc] = _
  private var first: Lifecycle = _
  private var firstWarm: Seq[OpResult] = Nil
  private var stateBytesPerInByte = Double.NaN
  private val layer = mutable.Map.empty[String, Double]

  private def cfg(c: IngestCorpus) = TrainingExport.Config(
    curate = true,
    dedup = TrainingExport.DedupExact,
    contaminationMaxPpm = Some(500000L),
    budgets = c.budgets,
    defaultBudget = c.defaultBudget,
    numShards = c.numShards)

  /** The batches land in one table partitioned by `batch`; batch `b`
    * is a pruned read of its partition.
    */
  private def writeCorpus(c: IngestCorpus): Unit = {
    c.batches.zipWithIndex.flatMap { case (b, i) => b.map(d => (d.docId, d.source, d.text, d.nChars, i)) }
      .toDF("doc_id", "source", "text", "n_chars", "batch")
      .coalesce(1).write.format("parquet").partitionBy("batch").saveAsTable("ingest_batches")
    c.benchmark.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .coalesce(1).write.format("parquet").saveAsTable("ingest_bench")
  }

  private def batchFrame(b: Int) = spark.table("ingest_batches").where(col("batch") === b).drop("batch")

  /** Remove every table of a state prefix, found by listing. */
  private def dropPrefix(prefix: String): Unit = {
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(prefix))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    Option(warehouse.listFiles()).toSeq.flatten.filter(_.getName.startsWith(prefix))
      .foreach(deleteTree)
  }

  /** One lifecycle in progress: its state prefix and what the checks
    * carry from batch to batch.
    */
  private final class Lifecycle(prefix: String) {
    private val config = cfg(corpus)
    private val bench = spark.table("ingest_bench")
    private val shippedText = mutable.Set.empty[Int]
    private val seqs = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
    private val spent = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private val dedupDir = new File(warehouse, s"${prefix}_dedup")
    private var files = 0
    private var compactions = 0

    /** Batch `b`; `timedOp` false for a warm-up batch, which reports
      * no time.
      */
    def batch(b: Int, tr: Option[Tracer], traceId: Int, timedOp: Boolean): OpResult = {
      val (shipped, s) = timed {
        spanned(tr, traceId, "op") {
          // the caller's release of the previous batch's cached frames
          Dedup.unpersistAll()
          spanned(tr, traceId, "TrainingExport") {
            TrainingExport.runIngest(
              batchFrame(b), bench, config, prefix,
              buckets = 8, maxFilesPerBucket = maxFilesPerBucket)
          }
        }
      }
      val nowFiles = scan(dedupDir)._1
      if (nowFiles < files) compactions += 1
      files = nowFiles
      var rows = shipped.select("shard", "seq", "doc_id").as[(Long, Long, Long)].collect().toSeq
      inject match {
        case Some("count") if b == warmBatches => rows = rows.drop(1)
        case Some("dup") if b == warmBatches => rows = rows :+ rows.head
        case Some("seq") if b == warmBatches => rows = rows.updated(0, rows(0).copy(_2 = rows(0)._2 + 1))
        case Some("shard") if b == warmBatches =>
          rows = rows.updated(0, rows(0).copy(_1 = (rows(0)._1 + 1) % corpus.numShards))
        case _ =>
      }
      val ok = checkBatch(corpus, b, rows, expected(b), shippedText, seqs, spent)
      OpResult(if (timedOp) s else Double.NaN, corpus.batches(b).size.toLong, ok)
    }

    def warmUp(): Seq[OpResult] = (0 until warmBatches).map(batch(_, None, 0, timedOp = false))

    def timedCycles(tr: Option[Tracer], traceId: Int): Seq[OpResult] =
      (warmBatches until warmBatches + cycles * maxFilesPerBucket)
        .map(batch(_, tr, traceId, timedOp = true))

    /** Record the state's size, then drop every table of the prefix. */
    def close(): Unit = {
      stateBytesPerInByte = Option(warehouse.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(prefix)).map(scan(_)._2).sum.toDouble / corpus.textBytes
      val (f, bytes) = scan(dedupDir)
      layer("Dedup.state_files") = f.toDouble
      layer("Dedup.state_bytes") = bytes.toDouble
      layer("Dedup.compactions") = compactions.toDouble
      Dedup.unpersistAll()
      dropPrefix(prefix)
    }
  }

  /** One batch against the reference: the shipped doc ids are exactly
    * the first-arrival reference's; no text ships twice across the
    * lifecycle; shard is the doc's hash placement and `seq` stays dense
    * per shard; per-source shipped weight stays within budget.
    */
  private def checkBatch(
      c: IngestCorpus, b: Int, rows: Seq[(Long, Long, Long)], want: Set[Long],
      shippedText: mutable.Set[Int],
      seqs: mutable.Map[Long, mutable.ArrayBuffer[Long]],
      spent: mutable.Map[String, Long]): Boolean = {
    val errs = mutable.ArrayBuffer.empty[String]
    val ids = rows.map(_._3)
    if (ids.toSet != want || ids.size != want.size)
      errs += s"shipped ${ids.size} docs, reference ships ${want.size}" +
        s" (${(ids.toSet -- want).size} extra, ${(want -- ids.toSet).size} missing)"
    rows.foreach { case (shard, seq, id) =>
      val d = byId(id)
      if (!shippedText.add(d.textId)) errs += s"text ${d.textId} shipped twice (doc $id)"
      if (shard != IngestGen.mixed(id) % c.numShards) errs += s"doc $id in shard $shard"
      seqs.getOrElseUpdate(shard, mutable.ArrayBuffer.empty) += seq
      spent(d.source) += d.nChars
    }
    seqs.foreach { case (shard, ss) =>
      if (ss.sorted != (1L to ss.size.toLong)) errs += s"shard $shard seq not dense"
    }
    val budget = c.budgets.toMap.withDefaultValue(c.defaultBudget)
    spent.foreach { case (src, w) =>
      if (w > budget(src)) errs += s"$src shipped weight $w over budget ${budget(src)}"
    }
    if (errs.nonEmpty) System.err.println(s"perfbench: ingest batch $b: ${errs.take(5).mkString("; ")}")
    errs.isEmpty
  }

  def setup(): Unit = {
    corpus = IngestGen.generate(seed, batches, docsPerBatch)
    phase("generation") { writeCorpus(corpus) }
    expected = phase("reference") { IngestGen.reference(corpus) }
    byId = corpus.batches.flatten.map(d => d.docId -> d).toMap
    first = new Lifecycle("pb_state_0")
    firstWarm = phase("warm-up batches") { first.warmUp() }
  }

  /** A run's iterations repeat the same lifecycle, whose later copies
    * run faster than the first, so an untraced run makes just one.
    */
  override def maxIterations: Int = 1

  def iteration(i: Int, tr: Option[Tracer]): Seq[OpResult] = {
    val life = if (i == 0) first else new Lifecycle(s"pb_state_$i")
    try {
      val warm = if (i == 0) firstWarm else life.warmUp()
      warm ++ life.timedCycles(tr, i)
    } finally life.close()
  }

  def outBytesPerInByte: Double = stateBytesPerInByte

  override def layerMetrics: Map[String, Double] = layer.toMap

  def cleanup(): Unit = {
    dropPrefix("pb_state_")
    Seq("ingest_batches", "ingest_bench").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
