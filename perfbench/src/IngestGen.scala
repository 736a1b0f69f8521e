package perfbench

import scala.collection.mutable

/** One generated document. `textId` names the text it carries: copies
  * share it, so "shipped twice" is decidable without hashing text.
  */
final case class Doc(
    docId: Long, source: String, text: String, textId: Int,
    short: Boolean, contaminated: Boolean) {
  def nChars: Long = text.length.toLong
}

/** A seeded ingest corpus: `batches` arrive in order into one state
  * prefix. Each batch mixes fresh English-like documents with planted
  * cases every stage of the export has to handle:
  *
  *  - exact copies of documents from EARLIER batches (cross-batch
  *    dedup against persisted state),
  *  - exact copies inside the batch (first = min doc_id),
  *  - 10-token documents the curation funnel rejects as too short,
  *  - copies of a benchmark text (rejected by decontamination).
  *
  * Fresh documents are 70–110 words of pseudo-words (6–9 letters, no
  * `q`) with ~25% English stopwords, no punctuation: well past the
  * funnel's length, quality, language and repetition gates. Benchmark
  * texts use a disjoint `q…` vocabulary, so only planted copies share
  * their 3-grams.
  */
final case class IngestCorpus(
    batches: IndexedSeq[IndexedSeq[Doc]],
    benchmark: IndexedSeq[String],
    budgets: Seq[(String, Long)],
    defaultBudget: Long,
    numShards: Int) {
  def textBytes: Long = batches.flatten.map(_.text.getBytes("UTF-8").length.toLong).sum
}

object IngestGen {

  val Sources = IndexedSeq("src0", "src1", "src2", "src3")
  private val Stop = IndexedSeq("the", "a", "and", "of", "to", "is", "in", "it")

  private def word(r: scala.util.Random, first: String = ""): String = {
    val cons = "bcdfghjklmnprstvwxz"
    val vow = "aeiouy"
    val len = 6 + r.nextInt(4)
    val sb = new StringBuilder(first)
    while (sb.length < len)
      sb += (if (sb.length % 2 == 0) cons(r.nextInt(cons.length)) else vow(r.nextInt(vow.length)))
    sb.toString
  }

  def generate(seed: Long, batches: Int, docsPerBatch: Int): IngestCorpus = {
    val r = new scala.util.Random(seed)
    val vocab = IndexedSeq.fill(4000)(word(r))
    val qvocab = IndexedSeq.fill(1000)(word(r, "qu"))
    def text(words: Int, v: IndexedSeq[String], stopShare: Double): String =
      Iterator.fill(words)(
        if (r.nextDouble() < stopShare) Stop(r.nextInt(Stop.size)) else v(r.nextInt(v.size))
      ).mkString(" ")
    val benchmark = IndexedSeq.fill(40)(text(80, qvocab, 0.0))
    val texts = mutable.ArrayBuffer.empty[(String, Boolean, Boolean)] // text, short, contaminated
    def fresh(kind: Int): Int = {
      kind match {
        case 0 => texts += ((text(70 + r.nextInt(41), vocab, 0.25), false, false))
        case 1 => texts += ((text(10, vocab, 0.25), true, false))
        case 2 => texts += ((benchmark(r.nextInt(benchmark.size)), false, true))
      }
      texts.size - 1
    }
    // doc ids: a seeded permutation, so within-batch "first = min id"
    // is not the generation order
    val ids = r.shuffle((0 until batches * docsPerBatch).map(i => 100000L + 7L * i))
    val earlier = mutable.ArrayBuffer.empty[Int]
    val out = (0 until batches).map { b =>
      val thisBatch = mutable.ArrayBuffer.empty[Int]
      val docs = (0 until docsPerBatch).map { i =>
        val x = r.nextInt(100)
        val tid =
          if (b > 0 && x < 12) earlier(r.nextInt(earlier.size))
          else if (x < 15 && thisBatch.nonEmpty) thisBatch(r.nextInt(thisBatch.size))
          else if (x < 18) fresh(1)
          else if (x < 21) fresh(2)
          else fresh(0)
        thisBatch += tid
        val (t, short, cont) = texts(tid)
        Doc(ids(b * docsPerBatch + i), Sources(r.nextInt(Sources.size)), t, tid, short, cont)
      }
      earlier ++= thisBatch
      docs
    }
    // src0's lifetime budget runs out around the middle of the
    // lifecycle and src1's near its end; src2/src3 are unbounded
    def mass(src: String) =
      out.flatten.filter(d => d.source == src && !d.short && !d.contaminated).map(_.nChars).sum
    IngestCorpus(out, benchmark,
      Seq("src0" -> mass("src0") * 4 / 10, "src1" -> mass("src1") * 8 / 10),
      Long.MaxValue, numShards = 4)
  }

  // ---- the reference: first-arrival export in plain Scala ----

  /** `poly_hash` of the decimal doc id: a code-point fold mod 1e9+7. */
  private def polyHash(s: String): Long =
    s.codePoints().toArray.foldLeft(0L)((acc, cp) => (acc * 31 + cp) % 1000000007L)

  /** The mixture/shard order of a doc: the re-mixed hash. */
  def mixed(docId: Long): Long = (polyHash(docId.toString) * 2654435761L) % 1000000007L

  /** Doc ids each batch should ship, in arrival order: the funnel
    * drops short docs; a text ships only from its first arrival (min
    * id within the batch) and never again; contaminated texts hold
    * their dedup slot but do not ship; each source then admits a
    * hash-order prefix of its survivors that fits the REMAINING
    * lifetime budget.
    */
  def reference(c: IngestCorpus): IndexedSeq[Set[Long]] = {
    val seen = mutable.Set.empty[Int]
    val consumed = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val budget = c.budgets.toMap.withDefaultValue(c.defaultBudget)
    c.batches.map { batch =>
      val gated = batch.filterNot(_.short)
      val firsts = gated.groupBy(_.textId).values.map(_.minBy(_.docId))
        .filterNot(d => seen(d.textId)).toSeq
      seen ++= firsts.map(_.textId)
      val clean = firsts.filterNot(_.contaminated)
      clean.groupBy(_.source).toSeq.flatMap { case (src, ds) =>
        val remaining = math.max(0L, budget(src) - consumed(src))
        var run = 0L
        val kept = ds.sortBy(d => (mixed(d.docId), d.docId)).takeWhile { d =>
          run += d.nChars; run <= remaining
        }
        consumed(src) += kept.map(_.nChars).sum
        kept.map(_.docId)
      }.toSet
    }
  }
}
