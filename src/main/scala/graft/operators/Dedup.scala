package graft.operators

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PolyHash
import graft.functions.TextExprs._
import graft.functions.VectorExprs

/** Deduplication operators for training-data pipelines, in increasing
  * sophistication: exact (hash groupBy), n-gram Jaccard (exact
  * set-similarity), MinHash+LSH (the 100 TB scale path: candidate
  * generation by band-bucket join instead of all-pairs), SimHash
  * (bit-fingerprint + Hamming), and embedding-cosine near-dup.
  *
  * Scale notes: exact dedup is one hash shuffle on the text (or its
  * fingerprint — at 100 TB group by a 64-bit fingerprint, not the
  * full text, to shrink shuffle width). n-gram Jaccard all-pairs is
  * quadratic per shared gram and exists as the small-scale oracle /
  * verifier; MinHash-LSH is the production path — cost is
  * O(docs × bands) explode + an equi-join on (band, key), both
  * shuffle-partitionable, no cross join anywhere. SimHash candidates
  * come from the lossless pigeonhole multi-index over fingerprint
  * segments; embedding near-dup candidates from scale-invariant
  * comparison-bit LSH bands — both equi-joins, no within-block
  * cartesian anywhere. All hashes are oracle-reproducible polynomial folds
  * (see [[graft.functions.TextExprs]]); swap in `xxhash64` for raw
  * throughput when cross-engine reproducibility isn't needed.
  *
  * Cache lifecycle: these operators `persist()` load-bearing
  * intermediates (multi-consumer array columns — SCALE.md "Hard-won
  * Spark evaluation rules") and can NOT unpersist them before
  * returning, since the returned DataFrame still depends on them
  * lazily. Every persist is TRACKED: after the terminal action on a
  * returned DataFrame, call [[Dedup.unpersistAll]] to release exactly
  * the intermediates these operators cached (leaving caller-owned
  * caches alone — unlike `spark.catalog.clearCache()`, which
  * graft.Verify/Bench use because they own the whole session).
  * Composing several dedup calls without either cleanup accumulates
  * cached intermediates silently.
  */
object Dedup {

  /** Column-metadata key stamping the shingle width k onto a
    * [[shingleTable]]'s `p` column, so a persisted corpus table probed
    * at a different `minTokens` fails loudly instead of silently
    * reporting every span length off by the difference.
    */
  val ShingleKMeta = "graft_shingle_k"

  /** Intermediates persisted by operators in this object, pending
    * [[unpersistAll]]. Unpersisting a DataFrame is always SAFE — any
    * still-lazy consumer just recomputes — so the worst case of
    * calling this too early is lost caching, never wrong results.
    */
  private val trackedCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private[graft] def persistTracked(df: DataFrame): DataFrame = {
    val p = df.persist()
    trackedCaches.add(p)
    p
  }

  /** Release every intermediate a Dedup operator persisted in this
    * JVM since the last call (blocking, so cache memory is actually
    * free when this returns).
    */
  def unpersistAll(): Unit = {
    var df = trackedCaches.poll()
    while (df != null) {
      df.unpersist(blocking = true)
      df = trackedCaches.poll()
    }
  }

  /** Exact dedup: one row per distinct text with the winning
    * (minimum) id and the number of copies.
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(col(textCol))
      .agg(min(col(idCol)).as("canonical_doc_id"), count(lit(1)).as("n_copies"))
      .select("canonical_doc_id", "n_copies")

  /** Exact n-gram Jaccard similarity pairs: explode distinct word
    * n-gram hashes, self-join on (block, gram), count shared, Jaccard
    * = |∩| / (|A| + |B| − |∩|) in fixed-point ppm. The `blockCol`
    * bound is what keeps the inherently-quadratic exact comparison
    * tractable — at scale you always block (by source, domain, or an
    * LSH bucket); the unblocked exact sweep is what [[minhashPairs]]
    * replaces.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int = 3,
      minJaccardPpm: Long = 300000L,
      blockCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    PolyHash.register(docs.sparkSession)
    // the word-hash array MUST be materialized before the shingle
    // lambda indexes it: GetArrayItem on an inline array expression
    // re-evaluates the whole array per access (~130× per row here)
    val wh = docs
      .filter(expr(s"${tokenCountSpark(textCol)} >= $n"))
      .select(
        col(idCol).as("doc_id"),
        col(blockCol).as("block"),
        expr(wordHashArraySpark(wordsSpark(textCol))).as("wh"))
      .pipe(graft.operators.Dedup.persistTracked)
    // materialized: consumed by size() + explode() and both join sides
    val toks = wh
      .select(
        col("doc_id"),
        col("block"),
        expr(shingleHashesFromWordHashesSpark("wh", n)).as("grams"))
      .pipe(graft.operators.Dedup.persistTracked)
    val g = toks.select(
      col("doc_id"),
      col("block"),
      size(col("grams")).cast("long").as("n_grams"),
      explode(col("grams")).as("gram"))
    g.as("x")
      .join(g.as("y"),
        col("x.gram") === col("y.gram") && col("x.block") === col("y.block") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(
        col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"),
        col("x.n_grams").as("na"),
        col("y.n_grams").as("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard_ppm", expr(ppmSpark("shared", "na + nb - shared")).cast("long"))
      .filter(col("jaccard_ppm") >= minJaccardPpm)
      .select("doc_a", "doc_b", "shared", "jaccard_ppm")
  }

  /** Substring-level exact dedup: maximal token spans of at least
    * `minTokens` tokens repeated VERBATIM across document pairs — the
    * standard LLM-curation operator (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", the ExactSubstr
    * technique; their suffix-array formulation is single-machine, this
    * is the distributed shingle-join equivalent).
    *
    * Shape: tokenize → positional minTokens-shingle hashes (two
    * polynomial folds per window, multipliers 31/131 — a ~60-bit
    * composite so unrelated windows can't collide into false spans) →
    * drop shingles in more than `maxDocsPerShingle` docs (bounded
    * fan-out, the PSL-explode-cap pattern: a boilerplate phrase shared
    * by 10k docs would otherwise emit 10k² pairs; dedup treats such
    * spans as cluster material, not pairs) and shingles in only one
    * doc (nothing to pair) → equi-join on the composite hash with
    * doc_a < doc_b → merge runs of consecutive positions per
    * (pair, diagonal) with the islands trick → one row per MAXIMAL
    * shared span: (doc_a, doc_b, a_start, b_start, span_tokens),
    * positions 0-based in tokens.
    *
    * Scale notes: the exploded shingle table is token-count-sized but
    * NARROW (id + position + two BIGINT hashes — never the text);
    * every stage is an equi-shuffle (count, join, window), no
    * all-pairs anywhere, and the per-shingle doc cap bounds the join
    * fan-out by construction. A span of L tokens emits L−minTokens+1
    * consecutive join rows that the diagonal merge collapses — the
    * detector's inherent k× position amplification, same as the
    * reference technique's suffix array being |corpus|-sized.
    * DedupScaleBench measures the linear curve on planted spans.
    */
  def repeatedSpanPairs(
      docs: DataFrame,
      minTokens: Int = 10,
      maxDocsPerShingle: Int = 20,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val pos = shingleTable(docs, minTokens, textCol, idCol)
    // shareable shingles only: in ≥2 docs (else nothing to pair) and
    // ≤ cap docs (bounded fan-out)
    val keep = pos
      .groupBy("h1", "h2")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= maxDocsPerShingle)
      .select("h1", "h2")
    // NOT persisted although both self-join sides consume it —
    // measured: caching the capped position table costs more than
    // recomputing the codegen'd explode (isolated best-of-3 at sf0.1:
    // 1.90 s unpersisted vs 2.32 s persisted; the narrow 600k-row
    // materialization is pure overhead at this width)
    val f = pos.join(keep, Seq("h1", "h2"))
    val cand = f.as("x")
      .join(
        f.as("y"),
        col("x.h1") === col("y.h1") && col("x.h2") === col("y.h2") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"),
        col("x.p").as("pa"),
        col("y.p").as("pb"))
    spansFromCandidates(cand, minTokens)
  }

  /** Positional shingle table `(doc_id, p, h1, h2)` for a corpus —
    * the persistable half of incremental span detection (the
    * [[signatureTable]] pattern): write it once, append each ingested
    * batch's shingles, and probe later batches against it so the
    * corpus TEXT is never re-read. Row width is 28 bytes — at k=10
    * the table is token-count-sized but far narrower than the text.
    */
  def shingleTable(
      docs: DataFrame,
      minTokens: Int = 10,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    PolyHash.register(docs.sparkSession)
    val k = minTokens
    require(k >= 2, "minTokens must be at least 2")
    val wh = docs
      .filter(expr(s"${tokenCountSpark(textCol)} >= $k"))
      .select(
        col(idCol).as("doc_id"),
        expr(wordHashArraySpark(wordsSpark(textCol))).as("wh"))
      .pipe(persistTracked)
    // positional shingle arrays must be materialized before the zip
    // indexes them (same CollapseProject trap as the gram arrays)
    val sh = wh
      .select(
        col("doc_id"),
        expr(positionalShingleHashesSpark("wh", k, 31L)).as("s1"),
        expr(positionalShingleHashesSpark("wh", k, 131L)).as("s2"))
      .pipe(persistTracked)
    // stamp the shingle width onto the table (column metadata survives
    // parquet round trips): span_tokens math downstream is only right
    // when probed at the SAME k, and the (doc_id, p, h1, h2) shape
    // carries no other trace of it
    val kMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(ShingleKMeta, k.toLong).build()
    sh
      .select(col("doc_id"), posexplode(arrays_zip(col("s1"), col("s2"))))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("p", kMeta),
        col("col.s1").as("h1"),
        col("col.s2").as("h2"))
  }

  /** Spans of a NEW batch against an EXISTING corpus shingle table —
    * the production ingest shape (the [[minhashPairsAgainstSignatures]]
    * pattern): the corpus is only touched through its (precomputable,
    * append-only) shingle table, probed with the batch's shingle
    * keys FIRST, so per-ingest work is O(|batch| + matched shingles),
    * never a corpus self-join. Returns
    * `(doc_a = corpus id, doc_b = batch id, a_start, b_start,
    * span_tokens)`; a doc present in both inputs matches itself —
    * callers filter, same contract as [[minhashPairsAgainst]]. The
    * per-shingle cap counts CORPUS docs only (the batch is small by
    * definition); counting over the probe-matched subset equals the
    * corpus-wide count for every shingle that can produce a pair.
    */
  def repeatedSpansAgainstShingles(
      newShingles: DataFrame,
      corpusShingles: DataFrame,
      minTokens: Int = 10,
      maxDocsPerShingle: Int = 20): DataFrame = {
    // `minTokens` MUST equal the k both input tables were built at —
    // span_tokens = max(pa)−min(pa)+minTokens, so a mismatch silently
    // shifts every reported length by the difference. The tables carry
    // their k in column metadata (stamped by [[shingleTable]], parquet-
    // durable); verify it whenever it's present.
    def kOf(df: DataFrame): Option[Long] =
      df.schema.fields.find(_.name == "p")
        .filter(_.metadata.contains(ShingleKMeta))
        .map(_.metadata.getLong(ShingleKMeta))
    Seq("newShingles" -> kOf(newShingles), "corpusShingles" -> kOf(corpusShingles))
      .foreach {
        case (which, Some(k)) =>
          require(
            k == minTokens.toLong,
            s"$which was built at k=$k but probed with minTokens=$minTokens — " +
              s"every span_tokens would be off by ${minTokens - k}; pass minTokens=$k")
        case _ => ()
      }
    val probeKeys = newShingles.select("h1", "h2").distinct()
    val touched = corpusShingles.join(probeKeys, Seq("h1", "h2"))
    val keep = touched
      .groupBy("h1", "h2")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") <= maxDocsPerShingle)
      .select("h1", "h2")
    val cand = touched.join(keep, Seq("h1", "h2")).as("x")
      .join(
        newShingles.as("y"),
        col("x.h1") === col("y.h1") && col("x.h2") === col("y.h2"))
      .select(
        col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"),
        col("x.p").as("pa"),
        col("y.p").as("pb"))
    spansFromCandidates(cand, minTokens)
  }

  /** Shared back half of span detection: merge candidate position
    * pairs into maximal spans per (pair, diagonal) with the islands
    * trick (pa is unique within a diagonal — pb is determined by
    * pa − diag — so row_number has no ties).
    */
  private def spansFromCandidates(cand: DataFrame, minTokens: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    cand
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("island", col("pa") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "island")
      .agg(
        min("pa").as("a_start"),
        min("pb").as("b_start"),
        (max(col("pa")) - min(col("pa")) + lit(minTokens.toLong)).as("span_tokens"))
      .select("doc_a", "doc_b", "a_start", "b_start", "span_tokens")
  }

  /** Merge possibly-overlapping per-doc `[s, e)` intervals into
    * disjoint islands: `(doc_id, s0, e1)` per merged run. The leading
    * DISTINCT is load-bearing, not cosmetic: duplicate (doc, s, e)
    * intervals (one doc sharing the same span with several partners)
    * tie under the windows' ORDER BY (s, e), and the pmax and island
    * passes may order ties DIFFERENTLY — an identical interval can
    * then open its own island and downstream unions double-count
    * (reproduced as a nondeterministic DuckDB oracle before the fix;
    * DedupSimilaritySpec pins the duplicate-interval fixture). With
    * the 3-column row deduped, (s, e) is unique per doc and the
    * window order is total.
    */
  private def mergedIntervals(iv: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byDoc = W.partitionBy("doc_id").orderBy("s", "e")
    iv.distinct()
      .withColumn(
        "pmax",
        max(col("e")).over(byDoc.rowsBetween(W.unboundedPreceding, -1)))
      .withColumn(
        "island",
        sum(when(col("pmax").isNull || col("s") > col("pmax"), 1).otherwise(0))
          .over(byDoc.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("s").as("s0"), max("e").as("e1"))
      .select("doc_id", "s0", "e1")
  }

  /** The ACT step of substring dedup: per-doc duplicated-token
    * coverage from a [[repeatedSpanPairs]] result — the production
    * gate for "drop documents that are mostly duplicated content"
    * (Lee et al. cut the duplicated spans; at corpus curation
    * granularity the standard posture is dropping high-coverage docs,
    * the same act-on-detection shape as [[applyKeepBest]]).
    *
    * Each span covers tokens [start, start+span_tokens) in BOTH its
    * docs; overlapping spans in one doc must not double-count, so
    * intervals are merged per doc with the gaps-and-islands window
    * (an interval opens a new island when its start clears the
    * running max end of everything before it). Output per doc:
    * `(doc_id, n_tokens, covered_tokens, coverage_ppm, span_verdict)`
    * with verdict `drop` above `maxCoveragePpm`. Scale shape: the
    * interval list is span-pair-sized (tiny vs the corpus), one
    * window shuffle on doc_id, one left join back to the docs scan.
    */
  def repeatedSpanCoverage(
      docs: DataFrame,
      spans: DataFrame,
      maxCoveragePpm: Long = 200000L,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val iv = spans
      .select(col("doc_a").as("doc_id"), col("a_start").as("s"),
        (col("a_start") + col("span_tokens")).as("e"))
      .unionByName(spans.select(col("doc_b").as("doc_id"), col("b_start").as("s"),
        (col("b_start") + col("span_tokens")).as("e")))
    val cov = mergedIntervals(iv)
      .groupBy("doc_id")
      .agg(sum(col("e1") - col("s0")).cast("long").as("covered_tokens"))
    val ppm = expr(graft.functions.TextExprs.ppmSpark(
      "coalesce(covered_tokens, 0L)", s"CAST(${tokenCountSpark(textCol)} AS BIGINT)"))
    docs
      .join(cov, docs(idCol) === cov("doc_id"), "left")
      .select(
        docs(idCol).as("doc_id"),
        expr(s"CAST(${tokenCountSpark(textCol)} AS BIGINT)").as("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        ppm.cast("long").as("coverage_ppm"),
        when(ppm > maxCoveragePpm, "drop").otherwise("keep").as("span_verdict"))
  }

  /** CUT the repeated spans out of the LATER occurrence — the actual
    * Lee et al. 2022 action (they delete the duplicated substring
    * from all but one occurrence; deleting from the higher doc_id of
    * each pair is the deterministic keep-first policy, symmetric
    * with exact dedup's min-id canonical). Docs only ever lose their
    * doc_b-role intervals, so the FIRST occurrence of every span
    * survives somewhere by construction.
    *
    * Output: `(doc_id, clean_text, n_tokens_removed)` for EVERY input
    * doc — untouched docs pass their text through byte-identical;
    * touched docs are rebuilt from their kept tokens
    * (whitespace-normalized to single spaces, the documented
    * reconstruction contract). Scale shape: the removal-interval list
    * is span-pair-sized, one window shuffle to merge it, one
    * broadcast-friendly left join onto the docs scan, and the token
    * surgery is a per-row higher-order filter — no extra corpus
    * shuffle.
    */
  def removeRepeatedSpans(
      docs: DataFrame,
      spans: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      passthroughCols: Seq[String] = Nil): DataFrame = {
    // collision guard (the perGroupCap convention): a passthrough
    // named like an output column would emit two same-named columns
    // that fail only at the first downstream name-based select
    val reserved = Seq("doc_id", "clean_text", "n_tokens_removed")
    val clash = passthroughCols.filter(c => reserved.exists(_.equalsIgnoreCase(c)))
    require(
      clash.isEmpty,
      s"removeRepeatedSpans emits column(s) ${clash.mkString(", ")} itself — " +
        "rename the passthrough column(s)")
    val iv = spans.select(
      col("doc_b").as("doc_id"),
      col("b_start").as("s"),
      (col("b_start") + col("span_tokens")).as("e"))
    val ivs = mergedIntervals(iv)
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(struct(col("s0"), col("e1")))).as("ivs"),
        sum(col("e1") - col("s0")).cast("long").as("n_tokens_removed"))
    docs
      .join(ivs, docs(idCol) === ivs("doc_id"), "left")
      .select(
        (docs(idCol).as("doc_id") +:
          when(col("ivs").isNull, col(textCol))
            .otherwise(expr(
              s"concat_ws(' ', filter(split(trim($textCol), '\\\\s+'), " +
                "(t, i) -> NOT exists(ivs, iv -> i >= iv.s0 AND i < iv.e1)))"))
            .as("clean_text") +:
          coalesce(col("n_tokens_removed"), lit(0L)).as("n_tokens_removed") +:
          // extra doc columns carried through the surgery (the
          // wordpieceStats passthrough pattern) — the pipeline keeps
          // `source` riding the rewrite instead of re-joining
          passthroughCols.map(c => docs(c))): _*)
  }

  /** MinHash+LSH near-dup candidates: signature → band keys →
    * equi-join on (band, key) → estimated Jaccard = fraction of
    * agreeing signature positions. The scale path: no all-pairs
    * comparison; candidate generation is a partitionable hash join.
    */
  /** Persisted (doc_id, sig) minhash signatures for a corpus — the
    * shared front half of [[minhashPairs]] / [[minhashPairsAgainst]].
    * Cache boundaries at every array-consuming step: lambdas indexing
    * an inline array expression re-evaluate it per access, and the
    * signature projection references the gram array 32× (once per
    * permutation); the band join then consumes signatures twice.
    */
  private def minhashSignatures(
      docs: DataFrame, n: Int, textCol: String, idCol: String): DataFrame = {
    val wh = docs
      .filter(expr(s"${tokenCountSpark(textCol)} >= $n"))
      .select(
        col(idCol).as("doc_id"),
        expr(wordHashArraySpark(wordsSpark(textCol))).as("wh"))
      .pipe(graft.operators.Dedup.persistTracked)
    val grams = wh
      .select(col("doc_id"), expr(shingleHashesFromWordHashesSpark("wh", n)).as("grams"))
      .pipe(graft.operators.Dedup.persistTracked)
    grams
      .select(col("doc_id"), expr(minhashSigSpark("grams")).as("sig"))
      .pipe(graft.operators.Dedup.persistTracked)
  }

  /** (doc_id, sig, band, bkey) LSH band rows for a signature table.
    * `bands`×`rowsPerBand` is the recall/cost dial — see
    * [[graft.functions.TextExprs.bandKeysSpark]].
    */
  private def bandRows(
      toks: DataFrame,
      bands: Int = graft.functions.TextExprs.Bands,
      rowsPerBand: Int = graft.functions.TextExprs.RowsPerBand): DataFrame = {
    val bandStructs = bandKeysSpark("sig", bands, rowsPerBand).zipWithIndex
      .map { case (k, b) => s"struct($b AS band, $k AS bkey)" }
      .mkString(", ")
    toks.select(
      col("doc_id"),
      col("sig"),
      expr(s"explode(array($bandStructs))").as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Top-`k` hottest candidate buckets of any bucket-keyed rows — the
    * dial-setting diagnostic for the hot-bucket star caps. Works on
    * every candidate-generation state the engine keeps, because they
    * are all (key..., doc) rows: minhash band rows / the persisted
    * band table on `(band, bkey)`, pigeonhole segment rows / the
    * Hamming table on `(sh_seg, sh_key[, block])`, the shingle table
    * on `(h1, h2)`, a written IVF index's assignments on `(cid)`.
    * Returns the key columns plus `nd` (bucket member count), largest
    * first with the key columns as the deterministic tie-break. A
    * bucket's uncapped candidate contribution is nd·(nd−1)/2 — read
    * the top row against that square before picking a cap. One
    * partial-aggregable groupBy + a k-row TopK: safe to run on the
    * full state at any scale.
    */
  def hotBucketReport(rows: DataFrame, keys: Seq[String], k: Int = 20): DataFrame = {
    require(keys.nonEmpty, "hotBucketReport needs at least one bucket key column")
    rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1L)).as("nd"))
      .orderBy(col("nd").desc +: keys.map(col): _*)
      .limit(k)
  }

  /** [[hotBucketReport]] over a corpus's minhash band rows — the
    * report to read before setting `minhashPairs(maxDocsPerBand)`.
    */
  def hotBandReport(
      docs: DataFrame,
      k: Int = 20,
      n: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id",
      bands: Int = graft.functions.TextExprs.Bands,
      rowsPerBand: Int = graft.functions.TextExprs.RowsPerBand): DataFrame = {
    PolyHash.register(docs.sparkSession)
    graft.functions.MinHashSig.register(docs.sparkSession)
    hotBucketReport(
      bandRows(minhashSignatures(docs, n, textCol, idCol), bands, rowsPerBand),
      Seq("band", "bkey"), k)
  }

  /** `maxDocsPerBand` is the HOT-BUCKET dial: 0 (the default) keeps
    * the exact all-pairs-within-bucket semantics; a positive cap
    * switches any (band, bkey) bucket holding MORE than `cap` docs
    * from the quadratic self-join to a STAR on the bucket's minimum
    * doc_id — |bucket|−1 candidate edges instead of |bucket|²/2.
    * This is the one blowup the band join cannot otherwise escape at
    * corpus scale: B near-identical boilerplate docs share a bucket
    * in EVERY band (identical signatures hash identically in all of
    * them), so the uncapped join materializes bands × B²/2 rows —
    * at B = 10⁶ that is ~4·10¹² candidate rows from ONE template.
    * The star keeps exactly what dedup needs: members of a
    * hot bucket stay one connected component through the hub (for
    * mutually-identical docs every star edge verifies at full
    * signature agreement, so clusters()/apply() are unchanged —
    * spec-pinned), while merely-similar hot-bucket members may lose
    * pair edges the quadratic join would have verified — the recall
    * side of the dial, same trade as `maxDocsPerShingle` in the
    * substring family. Star edges still pass the n_agree verify; the
    * output contract (doc_a < doc_b, n_agree) is unchanged.
    */
  def minhashPairs(
      docs: DataFrame,
      n: Int = 3,
      minAgree: Int = NumMinhash / 2,
      textCol: String = "text",
      idCol: String = "doc_id",
      bands: Int = graft.functions.TextExprs.Bands,
      rowsPerBand: Int = graft.functions.TextExprs.RowsPerBand,
      maxDocsPerBand: Int = 0): DataFrame = {
    PolyHash.register(docs.sparkSession)
    graft.functions.MinHashSig.register(docs.sparkSession)
    val toks = minhashSignatures(docs, n, textCol, idCol)
    val bandRws = bandRows(toks, bands, rowsPerBand)
    // distinct over the BARE id pair (a pair can collide in several
    // bands), then re-join the persisted signatures: deduplicating
    // rows that carry two 32-long arrays makes the exchange and the
    // hash compare pay for 64 longs per row; the narrow form ships 2
    val cand = (if (maxDocsPerBand <= 0) {
      bandRws.as("x")
        .join(bandRws.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    } else {
      val (cold, hot) = starSplitBuckets(
        bandRws.select("band", "bkey", "doc_id"),
        Seq("band", "bkey"), "doc_id", maxDocsPerBand)
      val coldPairs = cold.as("x")
        .join(cold.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      val hotPairs = hot.select(col("bmin").as("doc_a"), col("doc_id").as("doc_b"))
      coldPairs.unionByName(hotPairs)
    }).distinct()
    cand
      .join(toks.select(col("doc_id").as("doc_a"), col("sig").as("siga")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("sig").as("sigb")), "doc_b")
      .withColumn("n_agree", expr(sigAgreementSpark("siga", "sigb")).cast("long"))
      .filter(col("n_agree") >= minAgree)
      .select("doc_a", "doc_b", "n_agree")
  }

  /** Incremental dedup: MinHash+LSH near-dup pairs of a NEW batch
    * against an EXISTING corpus — the production ingest shape. A
    * steady-state pipeline never re-pairs the corpus with itself; it
    * signatures the (small) new batch and band-joins it against the
    * corpus's (precomputable, append-only) signature table, so the
    * per-ingest cost is O(|new| + matched corpus bands), not
    * O(|corpus|²) or even O(|corpus| log |corpus|). Candidate
    * generation stays a partitionable equi-join on (band, key); at
    * 100 TB the corpus band table is the thing you materialize once
    * and append to.
    *
    * Returns (new_id, corpus_id, n_agree). A document present in both
    * inputs (same id) matches itself — callers filter if unwanted.
    */
  def minhashPairsAgainst(
      newDocs: DataFrame,
      corpus: DataFrame,
      n: Int = 3,
      minAgree: Int = NumMinhash / 2,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxCorpusDocsPerBand: Int = 0): DataFrame = {
    PolyHash.register(newDocs.sparkSession)
    graft.functions.MinHashSig.register(newDocs.sparkSession)
    minhashPairsAgainstSignatures(
      minhashSignatures(newDocs, n, textCol, idCol),
      minhashSignatures(corpus, n, textCol, idCol),
      minAgree,
      maxCorpusDocsPerBand)
  }

  /** Public (doc_id, sig) signature table for a corpus — the
    * persistable half of the incremental pipeline: write it once,
    * append each ingested batch's signatures, and feed it back to
    * [[minhashPairsAgainstSignatures]] so later ingests never re-read
    * the corpus text (spec pins the parquet round-trip).
    */
  def signatureTable(
      docs: DataFrame,
      n: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    PolyHash.register(docs.sparkSession)
    graft.functions.MinHashSig.register(docs.sparkSession)
    minhashSignatures(docs, n, textCol, idCol)
  }

  /** [[minhashPairsAgainst]] over precomputed (doc_id, sig) tables —
    * what a steady-state 100 TB ingest actually calls: both sides are
    * stored signature tables; the corpus text is never touched.
    */
  /** Corpus-side band rows reduced to the `cap` SMALLEST doc_ids per
    * (band, bkey) bucket — the ingest probe's hot-bucket dial. A
    * boilerplate template with B corpus copies makes every matching
    * batch doc fan out to B candidate rows in EVERY band; the cap
    * bounds that to `cap` deterministic representatives per bucket.
    * For the decision the probe feeds (does this arrival near-match
    * the corpus?), sig-identical bucket members are interchangeable —
    * any representative verifies at the same n_agree — so hot
    * EXACT-duplicate buckets reject exactly as before; merely-similar
    * bucket members beyond the cap may lose pairs the full fan-out
    * would verify (the recall side, same trade as the one-shot star).
    * row_number over the bucket keys rides the band table's bucketed
    * layout (no exchange, an in-bucket sort) and never buffers the
    * bucket the way a collect_list cap would.
    */
  private def capCorpusBands(corpusBands: DataFrame, cap: Int): DataFrame =
    capBucketRows(corpusBands, Seq("band", "bkey"), cap)

  /** The hot-bucket star's shared skeleton: per-bucket (min, count)
    * via groupBy+join — partial-aggregable, one stats row a bucket,
    * never a hot window sort — with singleton buckets dropped at the
    * inner join (they cannot pair; the uncapped self-joins shuffle
    * them for nothing). Returns (cold rows: buckets within the cap,
    * still all-pairs; hot rows: past-cap bucket members EXCLUDING the
    * hub, each carrying its bucket's `bmin`). The three families'
    * capped branches (minhash bands, Hamming segments, k-means
    * clusters) all build their pair forms on this one split, so the
    * boundary invariants — nd ≥ 2, ≤ cap vs > cap, hub excluded, and
    * doc_a < doc_b holding because bmin IS the bucket minimum — live
    * here once. `rows` is tracked-persisted with the joined stats
    * (both branches and the cold self-join's two sides read it).
    */
  private def starSplitBuckets(
      rows: DataFrame, keys: Seq[String], idCol: String, cap: Int)
      : (DataFrame, DataFrame) = {
    val stats = rows.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as("bmin"), count(lit(1L)).as("nd"))
      .filter(col("nd") >= 2)
    val rws = persistTracked(rows.join(stats, keys))
    (rws.filter(col("nd") <= cap),
      rws.filter(col("nd") > cap && col(idCol) =!= col("bmin")))
  }

  /** The corpus-side representative cap shared by every bucket-keyed
    * ingest probe: keep the `cap` smallest `doc_id`s per bucket. See
    * [[capCorpusBands]]'s call sites for the semantics argument
    * (sig-/fingerprint-identical members are interchangeable for the
    * rejection decision a probe feeds).
    */
  private[graft] def capBucketRows(
      rows: DataFrame, keys: Seq[String], cap: Int,
      idCol: String = "doc_id"): DataFrame =
    if (cap <= 0) rows
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(col(idCol))
      rows
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= cap)
        .drop("_rk")
    }

  /** `maxNewDocsPerBand` caps the NEW side the same way — the dial
    * for the within-batch SELF-probe (`newSigs eq corpusSigs`,
    * rejected = the larger id of each pair): capping the new side
    * keeps the cap smallest bucket members as HUBS, and every
    * larger member still pairs with a smaller hub, so the rejection
    * set over sig-identical buckets is EXACTLY the uncapped one at
    * O(cap × |bucket|) fan-out. Capping the CORPUS side there would
    * be wrong — a member past the cap slice never appears as
    * corpus_id and would escape rejection.
    */
  def minhashPairsAgainstSignatures(
      newSigs: DataFrame,
      corpusSigs: DataFrame,
      minAgree: Int = NumMinhash / 2,
      maxCorpusDocsPerBand: Int = 0,
      maxNewDocsPerBand: Int = 0): DataFrame = {
    val cand = capCorpusBands(bandRows(newSigs), maxNewDocsPerBand).as("x")
      .join(capCorpusBands(bandRows(corpusSigs), maxCorpusDocsPerBand).as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("corpus_id"))
      .distinct()
    cand
      .join(newSigs.select(col("doc_id").as("new_id"), col("sig").as("siga")), "new_id")
      .join(corpusSigs.select(col("doc_id").as("corpus_id"), col("sig").as("sigb")), "corpus_id")
      .withColumn("n_agree", expr(sigAgreementSpark("siga", "sigb")).cast("long"))
      .filter(col("n_agree") >= minAgree)
      .select("new_id", "corpus_id", "n_agree")
  }

  /** Default bucket count for [[writeBandTable]] — sized like
    * `spark.sql.shuffle.partitions` here (32); a 100 TB deployment
    * picks buckets so each holds one task's worth of band rows.
    */
  val BandTableBuckets = 32

  /** Materialize a corpus's LSH band rows `(band, bkey, doc_id)` as
    * a BUCKETED table on the join keys — the physical layout that
    * makes steady-state ingest probes O(|new batch|).
    *
    * [[minhashPairsAgainstSignatures]] re-explodes and re-SHUFFLES
    * the corpus signature table on every probe: the band equi-join
    * hash-partitions both sides, and the corpus side is the big one
    * — O(corpus) movement per ingest, which at 100 TB dwarfs the
    * batch itself. Bucketing the stored band rows by `(band, bkey)`
    * (with in-bucket sort) hands the scan a pre-shuffled, pre-sorted
    * partitioning Catalyst recognizes: probes exchange ONLY the new
    * batch's band rows (spec-pinned by counting Exchange nodes).
    * The table is narrow on purpose — signatures stay in the plain
    * `(doc_id, sig)` table, re-joined only for the ≤candidate-set
    * agreement check, so band storage is 3 longs per (doc, band)
    * instead of 3 + 32.
    *
    * Append each ingested batch with [[appendToBandTable]]; after
    * many appends each bucket accumulates one small file per append
    * job, so periodically [[compactBandTable]] rewrites the table
    * back to ~one file per bucket (same name, same layout).
    */
  def writeBandTable(
      sigs: DataFrame, table: String, buckets: Int = BandTableBuckets): DataFrame = {
    writeBucketedState(
      bandRows(sigs).select("band", "bkey", "doc_id"),
      table, buckets, Seq("band", "bkey"), "overwrite", appendTasks = 0)
    sigs.sparkSession.table(table)
  }

  // ---- shared bucketed catalog-state plumbing: the band table
  // (minhash) and the shingle table (spans) use the same layout idea
  // — bucket + in-bucket sort on the probe-join keys, so steady-state
  // probes scan the state pre-partitioned and shuffle only the batch.
  private def writeBucketedState(
      rows: DataFrame, table: String, buckets: Int, keys: Seq[String],
      mode: String, appendTasks: Int): Unit =
    (if (appendTasks > 0) rows.repartition(appendTasks) else rows)
      .write.mode(mode).format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  private def compactBucketedState(
      spark: org.apache.spark.sql.SparkSession,
      table: String, buckets: Int, keys: Seq[String]): DataFrame = {
    val tmp = table + "_compact_tmp"
    // Two rewrite paths (r14 review):
    //
    // ROUTINE (no tombstone table, or a set inside the probe cap —
    // i.e. every state the public API can produce): the zero-exchange
    // form. Bucketed scanning is FORCED ON (Spark auto-disables it
    // when the plan doesn't exploit the partitioning, bringing
    // size-based splits back), so each write task holds one whole
    // bucket and the in-cap mask is stateTableLive's plain filter —
    // narrow, partitioning preserved, one file per bucket, NOTHING
    // shuffles. This is the cadence path appendAndMaybeCompact runs
    // per fragmentation threshold; it must not pay an O(state)
    // shuffle.
    //
    // RECOVERY (a legacy/externally-grown set PAST the cap): the
    // probe mask's capped collect would deadlock here (ADVICE r13) —
    // and a broadcast anti-join would merely move the ceiling to
    // Spark's broadcast limit — so the set rides a PLAIN shuffled
    // anti-join (no distinct: duplicate right-side ids cannot change
    // an anti-join). One-file-per-bucket then comes from an explicit
    // repartition on the bucket keys (the same murmur3-mod the
    // bucketed write uses) with bucketed READING disabled: the scan's
    // CLAIMED bucket partitioning otherwise makes the optimizer
    // eliminate the repartition's exchange while the accumulated
    // files are still read in size-based splits — measured 3
    // files/bucket scatter, probed back to 1.
    val tt = tombstoneTableName(table)
    val overCap = spark.catalog.tableExists(tt) &&
      spark.table(tt).distinct().count() > MaxTombstones
    def writeBucketed(df: DataFrame): Unit =
      df.write.mode("overwrite").format("parquet")
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .saveAsTable(tmp)
    if (!overCap) {
      val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val prevAuto = spark.conf.get(autoKey)
      try {
        spark.conf.set(autoKey, "false")
        writeBucketed(stateTableLive(spark, table))
      } finally spark.conf.set(autoKey, prevAuto)
    } else {
      val bucketingKey = "spark.sql.sources.bucketing.enabled"
      val prevBucketing = spark.conf.get(bucketingKey)
      try {
        spark.conf.set(bucketingKey, "false")
        spark.table(table)
          .join(spark.table(tt), Seq("doc_id"), "left_anti")
          .repartition(buckets, keys.map(col): _*)
          .pipe(writeBucketed)
      } finally spark.conf.set(bucketingKey, prevBucketing)
    }
    spark.sql(s"DROP TABLE `$table`")
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    // deletions are now baked into the layout — clear the tombstone
    // set so live views stop paying the (broadcast) mask
    spark.sql(s"DROP TABLE IF EXISTS `${tombstoneTableName(table)}`")
    spark.table(table)
  }

  private def tombstoneTableName(table: String): String = table + "_tombstones"

  /** Tear down every piece of state kept under `prefix`: each
    * non-temporary catalog table named `prefix` or `prefix_*` (a state
    * table and the `_compact_tmp`/`_tombstones` siblings its verbs
    * create, or a whole [[graft.pipelines.TrainingExport.runIngest]]
    * prefix), then every warehouse entry with that name or the
    * `prefix_` prefix. The sweep catches what the catalog cannot see:
    * written layouts kept beside the tables (the ingest semantic
    * stage's `_semidx`), and the directory of a CTAS killed before its
    * table registered, which a fresh catalog never drops while every
    * later CREATE fails with LOCATION_ALREADY_EXISTS. Names compare
    * case-insensitively, as the catalog does. Single-writer, like the
    * state itself.
    */
  def dropState(spark: org.apache.spark.sql.SparkSession, prefix: String): Unit = {
    val p = prefix.toLowerCase(java.util.Locale.ROOT)
    def owned(name: String): Boolean = {
      val n = name.toLowerCase(java.util.Locale.ROOT)
      n == p || n.startsWith(p + "_")
    }
    spark.catalog.listTables().collect()
      .filter(t => !t.isTemporary && owned(t.name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh))
      fs.listStatus(wh).filter(st => owned(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** Tombstone documents in a bucketed state table (band or shingle —
    * both key rows by `doc_id`): `docIds` rows (first column, cast to
    * long) append to a tiny `{table}_tombstones` catalog table,
    * [[stateTableLive]] masks them from every subsequent probe, and
    * the next compaction rewrites the state without them and clears
    * the set. This is the takedown/re-curation path the r12 verdict
    * named: without it a deleted document's signatures keep pairing
    * against every new batch forever. Deletes cost O(|deleted|) at
    * write time; the O(state) rewrite rides the compaction the layout
    * already needs for append fragmentation.
    *
    * Contract (same as the written-index tombstones): ids are
    * permanent — re-ingesting a tombstoned doc_id before a compaction
    * clears the set leaves it masked, and the compaction drops the
    * re-added rows too. Delete-then-re-add of one id is a caller
    * error.
    *
    * SINGLE-WRITER assumption (ADVICE r14): the cap check below is
    * check-then-append — two separate jobs with no transaction — so
    * two concurrent deleters can both pass the check and overshoot
    * the cap, and the `existing + new` count does not deduplicate
    * overlap with already-tombstoned ids (an overlapping re-delete is
    * rejected conservatively near the cap). Every maintenance verb on
    * these layouts (append, compact, delete) assumes one writer at a
    * time — the same contract as the Z-order layout's roll-forward;
    * concurrent writers need an external lock.
    */
  def deleteFromStateTable(docIds: DataFrame, table: String): Unit = {
    val spark = docIds.sparkSession
    require(
      spark.catalog.tableExists(table),
      s"state table '$table' does not exist")
    // cap enforced at DELETE time, like ZLayout.delete (ADVICE r13):
    // the probe-path mask collects the set onto the driver under
    // MaxTombstones, so a write that pushes past the cap would brick
    // every probe until a compaction — fail the delete instead, at
    // the call that caused it, while the state is still serviceable.
    // (The count is conservative — overlapping re-deletes of the same
    // ids double-count — matching the Z-order layout's contract.)
    val ids = checkedTombstoneIds(docIds).localCheckpoint(true)
    val tt = tombstoneTableName(table)
    val existing =
      if (spark.catalog.tableExists(tt)) spark.table(tt).distinct().count() else 0L
    require(
      existing + ids.count() <= MaxTombstones,
      s"tombstone set for '$table' would exceed $MaxTombstones ids — no longer " +
        "takedown-sized; run the state's compaction to fold the current set " +
        "into the layout before tombstoning more")
    ids
      .repartition(1)
      .write.mode("append").format("parquet")
      .saveAsTable(tt)
  }

  /** The id column cast to long, FAIL-FAST on any NULL result: a
    * silently-null id (bad cast, null input) written into a tombstone
    * table would poison every later probe with an NPE far from the
    * actual error site — check here, where the bad delete happens.
    * Shared by the catalog-table and written-layout delete paths.
    */
  private[operators] def checkedTombstoneIds(docIds: DataFrame): DataFrame = {
    val ids = docIds
      .select(col(docIds.columns.head).cast("long").as("doc_id"))
      .distinct()
    require(
      ids.filter(col("doc_id").isNull).isEmpty,
      s"tombstone ids contain NULL after casting column '${docIds.columns.head}' " +
        "to long — a non-numeric or null id cannot be deleted; clean the id set " +
        "before calling delete")
    ids
  }

  /** [[deleteFromStateTable]] under the band-table name. */
  def deleteFromBandTable(docIds: DataFrame, table: String): Unit =
    deleteFromStateTable(docIds, table)

  /** [[deleteFromStateTable]] under the shingle-table name. */
  def deleteFromShingleTable(docIds: DataFrame, table: String): Unit =
    deleteFromStateTable(docIds, table)

  /** The live view of a bucketed state table: the stored rows minus
    * any tombstoned doc_ids. The mask is a plain NOT-IN FILTER over a
    * driver-collected id set, NOT an anti-join: a join between the
    * scan and the probe's band join makes Spark's
    * DisableUnnecessaryBucketedScan rule drop the bucketed scan
    * (measured: +2 exchanges — the corpus shuffle the layout exists
    * to avoid), while a Filter keeps the scan bucketed and the probe
    * plan's exchange count unchanged (spec-pinned). The collect is
    * the bounded-small-side localization discipline: tombstone sets
    * are takedown-sized by contract, hard-capped with a remedy.
    * When no tombstone table exists the plan is the bare scan,
    * untouched.
    */
  def stateTableLive(
      spark: org.apache.spark.sql.SparkSession, table: String): DataFrame = {
    val t = spark.table(table)
    val tt = tombstoneTableName(table)
    if (!spark.catalog.tableExists(tt)) t
    else {
      val ids = collectTombstones(spark.table(tt), "doc_id", tt)
      if (ids.isEmpty) t else t.filter(!col("doc_id").isin(ids: _*))
    }
  }

  /** Driver-side tombstone localization, hard-capped: past the cap
    * the set is no longer "takedown-sized" and the fix is to fold it
    * into the layout (compaction), not to grow the filter. DISTINCT
    * before the cap — repeated takedowns of overlapping id sets must
    * not inflate either the literal list or the cap trip.
    */
  private[operators] def collectTombstones(
      df: DataFrame, key: String, what: String,
      max: Int = MaxTombstones): Seq[Long] = {
    val rows = df.select(col(key)).distinct().limit(max + 1).collect()
    require(
      rows.length <= max,
      s"tombstone set '$what' exceeds $max ids — run the state's compaction " +
        "to fold the deletions into the layout before tombstoning more")
    rows.map(_.getLong(0)).toSeq.sorted
  }

  /** Cap on driver-localized tombstone ids. Deliberately modest: the
    * mask becomes a Catalyst `In` whose CHILD LIST is one Literal per
    * id until the optimizer's InSet conversion, and plan analysis
    * walks that list per rule — 100k literals is fine, the earlier
    * 4M figure would stall/OOM the driver at plan time long before
    * the ~32 MB of longs mattered. Past this, deletions are no longer
    * "takedown-sized": compact.
    */
  val MaxTombstones: Int = 100000

  private def overCompactionThreshold(
      spark: org.apache.spark.sql.SparkSession, table: String,
      buckets: Int, maxFilesPerBucket: Int, maxBytes: Long): Boolean = {
    val files = spark.table(table).inputFiles
    // the documented threshold is PER BUCKET (fragmentation cost is
    // paid per bucket a probe opens): bucketed file names carry their
    // bucket id as `_NNNNN.` before the extension — group on it. A hot
    // bucket over the threshold triggers even when skewed appends keep
    // the global total low; the global bound stays as a backstop for
    // any file the pattern misses.
    val bucketId = "_([0-9]{5})\\.".r
    val perBucketMax = files
      .groupBy { f =>
        bucketId.findFirstMatchIn(f.substring(f.lastIndexOf('/') + 1)).map(_.group(1))
      }
      .collect { case (Some(_), fs) => fs.length }
      .maxOption.getOrElse(0)
    val overCount = perBucketMax > maxFilesPerBucket ||
      files.length > buckets.toLong * maxFilesPerBucket
    // bytes threshold: only LISTED when a finite cap is set — listing
    // every file's size per ingest is pointless work otherwise
    val overBytes = maxBytes != Long.MaxValue && {
      val conf = spark.sparkContext.hadoopConfiguration
      files.iterator.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).getFileStatus(p).getLen
      }.sum > maxBytes
    }
    overCount || overBytes
  }

  /** Append a batch's band rows to an existing bucketed band table
    * (bucket spec must match the original [[writeBandTable]]).
    *
    * A bucketed write emits one file per (task × non-empty bucket),
    * so appending a batch that arrives in many partitions fragments
    * the table by tasks×buckets files per ingest (measured: ~1000
    * small files per append at 32 partitions — the 4× probe penalty
    * CompactionBench quantifies). `appendTasks` > 0 REPARTITIONS the
    * batch's band rows to that many write tasks first, capping the
    * append at appendTasks×buckets files; batches are small relative
    * to the corpus by definition, so 1-4 tasks is the steady-state
    * setting (a repartition, not a coalesce: coalesce would propagate
    * upstream and serialize the signature explode itself onto
    * appendTasks cores — the shuffle here moves only the batch's band
    * rows). 0 (the default) preserves the incoming layout for
    * callers that sized it themselves.
    */
  def appendToBandTable(
      sigs: DataFrame, table: String, buckets: Int = BandTableBuckets,
      appendTasks: Int = 0): Unit =
    writeBucketedState(
      bandRows(sigs).select("band", "bkey", "doc_id"),
      table, buckets, Seq("band", "bkey"), "append", appendTasks)

  /** Rewrite an append-grown band table down to ~one file per bucket.
    * N appends leave N files per bucket; every probe then pays N×
    * the open/seek cost and the per-file sorted runs degrade the
    * merge. Compaction re-clusters to the SAME bucketing (so probe
    * plans are byte-identical before/after — spec-pinned) via a tmp
    * table + rename, atomic at the catalog level.
    */
  def compactBandTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      buckets: Int = BandTableBuckets): DataFrame =
    compactBucketedState(spark, table, buckets, Seq("band", "bkey"))

  /** [[appendToBandTable]] plus automatic compaction cadence: when
    * the append pushes the table past `maxFilesPerBucket` files per
    * bucket (the fragmentation CompactionBench measured at 4× probe
    * cost) or past `maxBytes` total, [[compactBandTable]] runs
    * immediately — the operational knob the manual write/append/
    * compact trio leaves to the caller, folded into the ingest call
    * so steady-state pipelines cannot forget it. Probe plans and
    * results are identical across the automatic trigger
    * (StateCompactionSpec pins both). Returns true when this append
    * triggered a compaction.
    *
    * Threshold defaults: 4 files/bucket keeps worst-case probe open
    * cost within the measured noise band while compacting every ~4
    * ingests; `maxBytes` default off (Long.MaxValue) because file
    * COUNT, not volume, is what fragmentation degrades.
    */
  def appendAndMaybeCompact(
      sigs: DataFrame,
      table: String,
      buckets: Int = BandTableBuckets,
      maxFilesPerBucket: Int = 4,
      maxBytes: Long = Long.MaxValue,
      appendTasks: Int = 0): Boolean = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    appendToBandTable(sigs, table, buckets, appendTasks)
    val spark = sigs.sparkSession
    if (overCompactionThreshold(spark, table, buckets, maxFilesPerBucket, maxBytes)) {
      compactBandTable(spark, table, buckets); true
    } else false
  }

  /** Materialize a corpus's MinHash SIGNATURE rows `(doc_id, sig)` as
    * a bucketed catalog table on `doc_id` — the REFINE side of the
    * banded incremental probe ([[minhashPairsAgainstBandTable]]'s
    * `corpusSigs`), persisted: the band table generates candidates,
    * but scoring them needs the full corpus signatures, and a
    * steady-state ingest must read those from state rather than
    * re-signaturing the corpus (O(corpus) tokenize per ingest — the
    * exact cost the band table exists to avoid). Bucketing on doc_id
    * makes the candidate refine join shuffle only the batch-bounded
    * candidate side. Append per ingest with
    * [[appendToSignatureTable]]; rows are doc-keyed, so takedowns
    * ride [[deleteFromStateTable]] like every other state.
    */
  def writeSignatureTable(
      sigs: DataFrame, table: String, buckets: Int = BandTableBuckets): DataFrame = {
    writeBucketedState(
      sigs.select("doc_id", "sig"), table, buckets, Seq("doc_id"),
      "overwrite", appendTasks = 0)
    sigs.sparkSession.table(table)
  }

  /** Append a new batch's (doc_id, sig) rows to a
    * [[writeSignatureTable]] state table. Same contract as the band
    * appends: each doc's signature appended exactly once (steady-state
    * ingest satisfies this by construction — the batch is new).
    */
  def appendToSignatureTable(
      sigs: DataFrame, table: String, buckets: Int = BandTableBuckets,
      appendTasks: Int = 0): Unit =
    writeBucketedState(
      sigs.select("doc_id", "sig"), table, buckets, Seq("doc_id"),
      "append", appendTasks)

  /** Materialize a corpus's positional shingle rows `(h1, h2, doc_id,
    * p)` as a BUCKETED catalog table on the probe-join keys — the
    * [[writeBandTable]] layout applied to span state.
    * [[repeatedSpansAgainstShingles]] consumes it UNCHANGED (its every
    * join and aggregation keys on exactly `(h1, h2)`), and because the
    * scan arrives pre-partitioned and pre-sorted, a steady-state probe
    * shuffles only the batch's shingles — O(batch) movement per
    * ingest where the plain table re-shuffles the corpus every time
    * (StateCompactionSpec pins the exchange gap). The `p` column keeps
    * its [[ShingleKMeta]] stamp through the catalog, so a mismatched
    * probe still fails loudly.
    *
    * Append contract — STRICTER than the band table's: each doc's
    * shingles must be appended exactly once. The band-table probe
    * absorbs duplicate rows in its candidate DISTINCT, but span
    * detection consumes positions, where a duplicated (doc_id, p) row
    * breaks the islands row_number. Appends are per NEW batch by
    * construction, so steady-state ingest satisfies this for free.
    */
  def writeShingleTable(
      docs: DataFrame, table: String, minTokens: Int = 10,
      buckets: Int = BandTableBuckets,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    writeBucketedState(
      shingleTable(docs, minTokens, textCol, idCol).select("h1", "h2", "doc_id", "p"),
      table, buckets, Seq("h1", "h2"), "overwrite", appendTasks = 0)
    docs.sparkSession.table(table)
  }

  /** Append a NEW batch's shingles to a [[writeShingleTable]] state
    * table (bucket spec must match; see the once-per-doc append
    * contract there). `appendTasks` caps the file fan-out exactly as
    * [[appendToBandTable]]'s does.
    */
  def appendToShingleTable(
      docs: DataFrame, table: String, minTokens: Int = 10,
      buckets: Int = BandTableBuckets, appendTasks: Int = 0,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    // a mismatched-k append would POISON the state silently: Spark's
    // append keeps the existing catalog schema, so the table would
    // keep advertising its original k and the probe-time guard would
    // keep passing over mixed-width hashes — check the stamp here,
    // where the mismatch actually enters
    val spark = docs.sparkSession
    if (spark.catalog.tableExists(table)) {
      spark.table(table).schema.fields.find(_.name == "p")
        .filter(_.metadata.contains(ShingleKMeta))
        .map(_.metadata.getLong(ShingleKMeta))
        .foreach(k => require(
          k == minTokens.toLong,
          s"shingle table '$table' was built at k=$k but this append uses " +
            s"minTokens=$minTokens — mixed widths corrupt span detection; " +
            s"pass minTokens=$k"))
    }
    writeBucketedState(
      shingleTable(docs, minTokens, textCol, idCol).select("h1", "h2", "doc_id", "p"),
      table, buckets, Seq("h1", "h2"), "append", appendTasks)
  }

  /** [[compactBandTable]] for the shingle state table: rewrite back to
    * ~one file per bucket, same layout, probe plans byte-identical.
    */
  def compactShingleTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      buckets: Int = BandTableBuckets): DataFrame =
    compactBucketedState(spark, table, buckets, Seq("h1", "h2"))

  /** [[appendToShingleTable]] plus the [[appendAndMaybeCompact]]
    * cadence — the ingest call steady-state span pipelines use so the
    * layout cannot silently fragment. Returns true when this append
    * triggered a compaction.
    */
  def appendAndMaybeCompactShingles(
      docs: DataFrame,
      table: String,
      minTokens: Int = 10,
      buckets: Int = BandTableBuckets,
      maxFilesPerBucket: Int = 4,
      maxBytes: Long = Long.MaxValue,
      appendTasks: Int = 0): Boolean = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    appendToShingleTable(docs, table, minTokens, buckets, appendTasks)
    val spark = docs.sparkSession
    if (overCompactionThreshold(spark, table, buckets, maxFilesPerBucket, maxBytes)) {
      compactShingleTable(spark, table, buckets); true
    } else false
  }

  /** [[minhashPairsAgainstSignatures]] with the corpus side read from
    * a [[writeBandTable]]-bucketed band table: candidate generation
    * scans the pre-partitioned corpus bands in place and shuffles
    * only the new batch. `corpusSigs` is the plain signature table,
    * joined per-candidate for the agreement check.
    */
  def minhashPairsAgainstBandTable(
      newSigs: DataFrame,
      corpusBands: DataFrame,
      corpusSigs: DataFrame,
      minAgree: Int = NumMinhash / 2,
      maxCorpusDocsPerBand: Int = 0): DataFrame = {
    val cand = bandRows(newSigs).as("x")
      .join(capCorpusBands(corpusBands, maxCorpusDocsPerBand).as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("corpus_id"))
      .distinct()
    cand
      .join(newSigs.select(col("doc_id").as("new_id"), col("sig").as("siga")), "new_id")
      .join(corpusSigs.select(col("doc_id").as("corpus_id"), col("sig").as("sigb")), "corpus_id")
      .withColumn("n_agree", expr(sigAgreementSpark("siga", "sigb")).cast("long"))
      .filter(col("n_agree") >= minAgree)
      .select("new_id", "corpus_id", "n_agree")
  }

  /** Disjoint bit segments covering the SimHash fingerprint:
    * `maxHamming + 1` segments of near-equal width. Pigeonhole: a pair
    * with Hamming distance ≤ maxHamming differs in at most maxHamming
    * bits, which can touch at most maxHamming of the maxHamming+1
    * segments — so the pair agrees EXACTLY on at least one whole
    * segment. Candidate generation on (segment_idx, segment_value) is
    * therefore a lossless equi-join: same answer as all-pairs, but
    * hash-join-shaped (the 100 TB requirement).
    */
  private[graft] def simhashSegments(maxHamming: Int, bits: Int = SimhashBits): Seq[(Int, Int)] = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, $bits)")
    val nSeg = maxHamming + 1
    val base = bits / nSeg
    val rem = bits % nSeg
    val widths = Seq.tabulate(nSeg)(i => if (i < rem) base + 1 else base)
    widths.scanLeft(0)(_ + _).init.zip(widths)
  }

  /** All pairs within Hamming distance `maxHamming` over precomputed
    * `bits`-wide fingerprints — the pigeonhole-multi-index kernel
    * shared by [[simhashPairs]] (30-bit text SimHash) and
    * [[Multimodal.perceptualHashPairs]] (64-bit image dHash). `fp`
    * carries (doc_id, fph) plus an optional `block` column that
    * confines pairs to equal-block groups. Candidates come from an
    * equi-join on (segment, segment value): splitting the hash into
    * `maxHamming + 1` segments guarantees any pair within the radius
    * agrees on at least one WHOLE segment (pigeonhole), so the
    * candidate set is lossless and the `bit_count(xor)` refine makes
    * the result exact. `pigeonhole = false` is the quadratic
    * within-block reference formulation the spec uses to prove
    * losslessness. Returns (doc_a, doc_b, hamming).
    */
  private[graft] def hammingPairs(
      fp: DataFrame,
      maxHamming: Int,
      bits: Int,
      pigeonhole: Boolean,
      maxDocsPerSegment: Int = 0): DataFrame = {
    require(maxDocsPerSegment <= 0 || pigeonhole,
      "maxDocsPerSegment is a pigeonhole-bucket dial — the quadratic " +
        "reference form has no buckets to cap")
    val blocked = fp.columns.contains("block")
    val fpp = persistTracked(fp)
    def blockEq = if (blocked) col("x.block") === col("y.block") else lit(true)
    val cand =
      if (!pigeonhole) {
        fpp.as("x")
          .join(fpp.as("y"), blockEq && col("x.doc_id") < col("y.doc_id"))
          .select(
            col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            col("x.fph").as("ha"), col("y.fph").as("hb"))
      } else if (maxDocsPerSegment <= 0) {
        val sg = hammingSegmentRows(fpp, maxHamming, bits)
        sg.as("x")
          .join(sg.as("y"),
            col("x.sh_seg") === col("y.sh_seg") &&
              col("x.sh_key") === col("y.sh_key") &&
              blockEq &&
              col("x.doc_id") < col("y.doc_id"))
          .select(
            col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            col("x.fph").as("ha"), col("y.fph").as("hb"))
          .distinct() // a pair can agree on several segments
      } else {
        // the minhash family's hot-bucket STAR on (segment, value[,
        // block]) buckets: B identical fingerprints agree on EVERY
        // segment, so the uncapped self-join emits (maxHamming+1) ×
        // B²/2 candidates from one fingerprint value; past the cap a
        // bucket contributes |bucket|−1 hub edges instead. The
        // pigeonhole candidate set stops being lossless for
        // merely-similar members of a hot bucket (the recall dial);
        // Hamming-0 members keep their components exactly — every
        // hub edge verifies at 0 (spec-pinned).
        val segKeys = Seq("sh_seg", "sh_key") ++ (if (blocked) Seq("block") else Nil)
        val (cold, hot) = starSplitBuckets(
          hammingSegmentRows(fpp, maxHamming, bits),
          segKeys, "doc_id", maxDocsPerSegment)
        val coldPairs = cold.as("x")
          .join(cold.as("y"),
            col("x.sh_seg") === col("y.sh_seg") &&
              col("x.sh_key") === col("y.sh_key") &&
              blockEq &&
              col("x.doc_id") < col("y.doc_id"))
          .select(
            col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            col("x.fph").as("ha"), col("y.fph").as("hb"))
        val hotPairs = hot
          .select(col("bmin").as("doc_a"), col("doc_id").as("doc_b"),
            col("fph").as("hb"))
          .join(fpp.select(col("doc_id").as("doc_a"), col("fph").as("ha")), "doc_a")
          .select("doc_a", "doc_b", "ha", "hb")
        coldPairs.unionByName(hotPairs).distinct()
      }
    cand
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** The pigeonhole segment rows of a fingerprint frame — input
    * columns plus `(sh_seg, sh_key)`, one row per segment (maxHamming
    * + 1 per fingerprint). Shared by the self-join ([[hammingPairs]]),
    * the incremental probe ([[hammingPairsAgainst]]), and the
    * persisted segment table ([[writeHammingTable]]) so all three
    * carve the hash identically — a boundary drift between writer and
    * prober would silently lose pairs.
    */
  private[graft] def hammingSegmentRows(
      fp: DataFrame, maxHamming: Int, bits: Int): DataFrame = {
    val keep = fp.columns.map(col).toSeq
    val segStructs = simhashSegments(maxHamming, bits).zipWithIndex
      .map { case ((start, width), i) =>
        // the top segment of a 64-bit hash spans the sign bit:
        // mask with the unsigned width pattern, which shiftright's
        // arithmetic shift would otherwise sign-extend past
        val mask = if (width == 64) -1L else (1L << width) - 1
        s"struct($i AS seg, shiftright(fph, $start) & ${mask}L AS segval)"
      }
      .mkString(", ")
    fp
      .select(keep :+ expr(s"explode(array($segStructs))").as("sk"): _*)
      .select(keep ++ Seq(
        col("sk.seg").as("sh_seg"), col("sk.segval").as("sh_key")): _*)
  }

  /** All corpus fingerprints within `maxHamming` of a NEW batch —
    * the Hamming family's ingest shape ([[minhashPairsAgainst]]'s
    * contract): the batch is segmented and equi-joined against the
    * corpus's (persistable, append-only) segment rows, so per-ingest
    * cost is O(batch × matched segments), never a corpus self-join.
    * `corpusSegs` carries (doc_id, fph, sh_seg, sh_key) — a
    * [[writeHammingTable]] layout or an in-memory
    * [[hammingSegmentRows]]. Returns (new_id, corpus_id, hamming).
    * A fingerprint present in both sides (same id) matches itself —
    * callers filter if unwanted.
    */
  /** `maxCorpusDocsPerSegment` is the ingest twin of the one-shot
    * [[hammingPairs]] star dial ([[minhashPairsAgainstSignatures]]'s
    * `maxCorpusDocsPerBand` on segment buckets): the corpus side of
    * the probe join keeps the cap smallest doc_ids per (segment,
    * value[, block]) bucket — fingerprint-identical members are
    * interchangeable for the rejection decision, so an asset-farm /
    * template bucket rejects re-shipped copies at O(cap) fan-out per
    * batch row instead of O(|accumulated copies|).
    */
  private[graft] def hammingPairsAgainst(
      newFp: DataFrame,
      corpusSegs: DataFrame,
      maxHamming: Int,
      bits: Int,
      maxCorpusDocsPerSegment: Int = 0): DataFrame = {
    // OPTIONAL block confinement — the text-SimHash granularity pairs
    // within `source` blocks (the one-shot simhashPairs semantics,
    // and what keeps the candidate volume sane when a corpus's
    // fingerprints are correlated); media carries no block and probes
    // globally. Both sides must agree: a blocked batch against an
    // unblocked state (or vice versa) is a semantics mismatch, not
    // something to resolve silently.
    val batchBlocked = newFp.columns.contains("block")
    val corpusBlocked = corpusSegs.columns.contains("block")
    require(batchBlocked == corpusBlocked,
      s"hammingPairsAgainst: batch ${if (batchBlocked) "carries" else "lacks"} a " +
        s"'block' column but the corpus state ${if (corpusBlocked) "carries" else "lacks"} " +
        "one — blocked and unblocked Hamming states pair under different " +
        "semantics; rebuild the state (or the batch fingerprints) to match")
    def blockEq =
      if (batchBlocked) col("x.block") === col("y.block") else lit(true)
    val cappedCorpus = capBucketRows(
      corpusSegs,
      Seq("sh_seg", "sh_key") ++ (if (corpusBlocked) Seq("block") else Nil),
      maxCorpusDocsPerSegment)
    hammingSegmentRows(newFp, maxHamming, bits).as("x")
      .join(
        cappedCorpus.as("y"),
        col("x.sh_seg") === col("y.sh_seg") && col("x.sh_key") === col("y.sh_key") &&
          blockEq)
      .select(
        col("x.doc_id").as("new_id"), col("y.doc_id").as("corpus_id"),
        col("x.fph").as("ha"), col("y.fph").as("hb"))
      .distinct() // a pair can agree on several segments
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("new_id", "corpus_id", "hamming")
  }

  /** Materialize a fingerprint corpus's pigeonhole SEGMENT rows as a
    * bucketed catalog table on `(sh_seg, sh_key)` — the
    * [[writeBandTable]] layout for the Hamming family (media dHash,
    * text SimHash): probes scan the state pre-partitioned on the join
    * key and shuffle only the batch. Rows are (doc_id, fph, mh,
    * sh_seg, sh_key) — `mh` pins the segmentation's maxHamming, which
    * is a TABLE attribute (segment boundaries depend on it): probing
    * with a different radius would silently carve the hash
    * differently and lose pairs, so [[hammingTableLive]] verifies it.
    * Owner-keyed deletes ride [[deleteFromStateTable]] (`doc_id` is
    * the owning id), compaction rides [[compactHammingTable]].
    */
  /** The stored row set keeps an optional `block` column (the
    * text-SimHash granularity's source confinement —
    * [[hammingPairsAgainst]] restores the blocked join semantics when
    * both sides carry it; media states store none and probe global).
    */
  private def hammingStateProjection(fp: DataFrame): Seq[org.apache.spark.sql.Column] =
    Seq(col("doc_id"), col("fph")) ++
      (if (fp.columns.contains("block")) Seq(col("block")) else Nil)

  def writeHammingTable(
      fp: DataFrame, table: String, maxHamming: Int, bits: Int,
      buckets: Int = BandTableBuckets): DataFrame = {
    writeBucketedState(
      hammingSegmentRows(
        fp.select(hammingStateProjection(fp): _*)
          .withColumn("mh", lit(maxHamming)).withColumn("hbits", lit(bits)),
        maxHamming, bits),
      table, buckets, Seq("sh_seg", "sh_key"), "overwrite", appendTasks = 0)
    fp.sparkSession.table(table)
  }

  /** Append a new batch's segment rows to a [[writeHammingTable]]
    * state table — after verifying the batch is segmented under the
    * TABLE's (maxHamming, bits) (review r15: an unchecked mismatched
    * append would build a mixed-segmentation table whose one-row
    * guard passes nondeterministically and whose appended
    * fingerprints silently never pair; checking at every write
    * boundary keeps the table homogeneous, which is what makes the
    * one-row read below sufficient).
    */
  def appendToHammingTable(
      fp: DataFrame, table: String, maxHamming: Int, bits: Int,
      buckets: Int = BandTableBuckets, appendTasks: Int = 0): Unit = {
    val existing = fp.sparkSession.table(table)
    requireHammingGeometry(existing, table, maxHamming, bits, "appended to")
    // blockedness is table geometry too: a block-less batch appended
    // into a blocked table (or vice versa) would change the stored
    // schema's meaning — the same every-write-boundary homogeneity
    // rule the (mh, hbits) check enforces
    require(
      fp.columns.contains("block") == existing.columns.contains("block"),
      s"Hamming state table '$table' was written " +
        s"${if (existing.columns.contains("block")) "WITH" else "WITHOUT"} a 'block' " +
        "column but the appended batch disagrees — rebuild the table or the " +
        "batch fingerprints under one blocking convention")
    writeBucketedState(
      hammingSegmentRows(
        fp.select(hammingStateProjection(fp): _*)
          .withColumn("mh", lit(maxHamming)).withColumn("hbits", lit(bits)),
        maxHamming, bits),
      table, buckets, Seq("sh_seg", "sh_key"), "append", appendTasks)
  }

  /** [[compactBandTable]] for a Hamming segment table. */
  def compactHammingTable(
      spark: org.apache.spark.sql.SparkSession, table: String,
      buckets: Int = BandTableBuckets): DataFrame =
    compactBucketedState(spark, table, buckets, Seq("sh_seg", "sh_key"))

  /** [[appendToHammingTable]] plus the [[appendAndMaybeCompact]]
    * cadence — the last state family without the automatic trigger
    * (band/shingle/line tables all had one). Returns true when this
    * append triggered a compaction.
    */
  def appendAndMaybeCompactHamming(
      fp: DataFrame, table: String, maxHamming: Int, bits: Int,
      buckets: Int = BandTableBuckets,
      maxFilesPerBucket: Int = 4,
      maxBytes: Long = Long.MaxValue,
      appendTasks: Int = 0): Boolean = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    appendToHammingTable(fp, table, maxHamming, bits, buckets, appendTasks)
    val spark = fp.sparkSession
    if (overCompactionThreshold(spark, table, buckets, maxFilesPerBucket, maxBytes)) {
      compactHammingTable(spark, table, buckets); true
    } else false
  }

  /** The live (tombstone-masked) view of a [[writeHammingTable]]
    * state table, with the stored-geometry check: the table's
    * `(mh, hbits)` columns pin the segmentation it was written under
    * — boundaries depend on BOTH the radius and the hash width — and
    * a probe under any other geometry must fail loudly, not lose
    * pairs silently. One limit-1 job; sufficient because every write
    * boundary ([[writeHammingTable]]/[[appendToHammingTable]])
    * enforces homogeneity.
    */
  def hammingTableLive(
      spark: org.apache.spark.sql.SparkSession, table: String,
      maxHamming: Int, bits: Int): DataFrame = {
    val live = stateTableLive(spark, table)
    requireHammingGeometry(live, table, maxHamming, bits, "probed")
    live
  }

  private def requireHammingGeometry(
      rows: DataFrame, table: String, maxHamming: Int, bits: Int,
      verb: String): Unit = {
    val head = rows.select("mh", "hbits").head(1)
    require(
      head.isEmpty ||
        (head.head.getInt(0) == maxHamming && head.head.getInt(1) == bits),
      s"Hamming state table '$table' was written for (maxHamming=" +
        s"${head.headOption.map(_.getInt(0)).getOrElse(-1)}, bits=" +
        s"${head.headOption.map(_.getInt(1)).getOrElse(-1)}) but is being " +
        s"$verb at (maxHamming=$maxHamming, bits=$bits) — segment boundaries " +
        "depend on both; rebuild the table (writeHammingTable) at the probe geometry")
  }

  /** SimHash near-dup pairs: 30-bit fingerprints, Hamming distance
    * within `source` blocks. Candidates come from the pigeonhole
    * multi-index (see [[simhashSegments]]) — an equi-join on
    * (block, segment, segment_value) with an exact
    * `bit_count(xor) <= maxHamming` refine, never an all-pairs sweep.
    * `pigeonhole = false` selects the quadratic-within-block reference
    * formulation (the small-scale verifier DedupSimilaritySpec uses to
    * prove the equi-join candidates are lossless).
    */
  /** `maxDocsPerSegment` is the hot-bucket dial ([[minhashPairs]]'s
    * `maxDocsPerBand` on pigeonhole segment buckets): past the cap a
    * (segment, value, block) bucket contributes |bucket|−1 star
    * edges to its minimum doc_id instead of all pairs — identical
    * fingerprints (Hamming 0, the B-copy template shape) keep their
    * components exactly, merely-similar hot-bucket members trade
    * recall for escaping the (maxHamming+1) × B²/2 blowup.
    */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 4,
      blockCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id",
      pigeonhole: Boolean = true,
      maxDocsPerSegment: Int = 0): DataFrame = {
    // the fingerprints are persisted (inside hammingPairs) because
    // the self-join consumes them on both sides; the block column
    // rides the fingerprint projection (one scan, no join back)
    val fp = simhashFingerprints(docs, textCol, idCol, passthroughCols = Seq(blockCol))
      .withColumnRenamed(blockCol, "block")
    hammingPairs(fp, maxHamming, SimhashBits, pigeonhole, maxDocsPerSegment)
  }

  /** A text corpus's 30-bit SimHash fingerprints — (doc_id, fph): the
    * tokenize → word-hash → vote-pack front shared by the one-shot
    * pairs ([[simhashPairs]]), the incremental probe, and the
    * persisted segment state ([[writeHammingTable]] at bits =
    * [[SimhashBits]]) — the text twin of
    * [[Multimodal.mediaDhashFingerprints]], proving the Hamming state
    * family generic across granularities (r15 verdict task #2).
    * `simhash_pack` consumes the word-hash array exactly once in a
    * fused codegen'd kernel (no lambda indexing → no re-evaluation
    * trap). Empty-token docs carry no fingerprint (a vote over zero
    * words is meaningless) and simply never pair — same contract as
    * an undecodable media payload under permissive decode.
    */
  def simhashFingerprints(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      passthroughCols: Seq[String] = Seq.empty): DataFrame = {
    PolyHash.register(docs.sparkSession)
    graft.functions.SimHashPack.register(docs.sparkSession)
    docs
      .filter(expr(s"${tokenCountSpark(textCol)} >= 1"))
      .select(
        (col(idCol).as("doc_id") +:
          expr(s"simhash_pack(${wordHashArraySpark(wordsSpark(textCol))})").as("fph") +:
          passthroughCols.map(col)): _*)
  }

  /** Persist a text corpus's SimHash state — the pigeonhole segment
    * rows in a bucketed catalog table ([[writeHammingTable]] at
    * [[SimhashBits]]), blocks included: the text twin of
    * [[Multimodal.writeDhashTable]], and the proof the Hamming state
    * family is granularity-generic (r15 verdict task #2 — the family
    * was built for both, Dedup.scala's writeHammingTable scaladoc,
    * but only media exercised it). Steady-state ingests probe with
    * [[simhashPairsAgainst]] — only the batch tokenizes and shuffles;
    * takedowns ride [[deleteFromStateTable]] + [[compactHammingTable]]
    * like every other persisted state.
    */
  def writeSimhashTable(
      docs: DataFrame, table: String,
      maxHamming: Int = 4,
      blockCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id",
      buckets: Int = BandTableBuckets): DataFrame =
    writeHammingTable(
      simhashFingerprints(docs, textCol, idCol, passthroughCols = Seq(blockCol))
        .withColumnRenamed(blockCol, "block"),
      table, maxHamming, bits = SimhashBits, buckets = buckets)

  /** SimHash near-dup pairs of a NEW document batch against a
    * PERSISTED corpus state ([[writeSimhashTable]]) — the text twin
    * of [[Multimodal.perceptualHashPairsAgainst]]: tokenize and pack
    * the batch only, segment its fingerprints, equi-join against the
    * pre-bucketed segment table WITHIN source blocks, refine by exact
    * Hamming. Returns (new_doc, corpus_doc, hamming).
    */
  def simhashPairsAgainst(
      newDocs: DataFrame,
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      maxHamming: Int = 4,
      blockCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id",
      maxCorpusDocsPerSegment: Int = 0): DataFrame =
    hammingPairsAgainst(
      simhashFingerprints(newDocs, textCol, idCol, passthroughCols = Seq(blockCol))
        .withColumnRenamed(blockCol, "block"),
      hammingTableLive(spark, table, maxHamming, bits = SimhashBits),
      maxHamming, bits = SimhashBits,
      maxCorpusDocsPerSegment = maxCorpusDocsPerSegment)
      .select(
        col("new_id").as("new_doc"), col("corpus_id").as("corpus_doc"),
        col("hamming"))

  /** Embedding-cosine near-duplicate pairs. Candidate blocks are
    * derived from the data: comparison-bit LSH bands
    * ([[graft.functions.VectorExprs.cmpBandKeysSpark]]) — bit t is
    * `x[a_t] > x[b_t]`, invariant under positive scaling, so scaled
    * copies collide in every band; a pair is a candidate when any of
    * the 8 bands agrees in full. Candidate generation is an equi-join
    * on (band, key) — partitionable, no within-block cartesian — and
    * the refine is the exact cosine threshold.
    */
  /** Persisted (vec_id, embedding, norm) table — norms once per
    * vector instead of per candidate; materialized because band joins
    * read it twice.
    */
  private def embWithNorms(emb: DataFrame, idCol: String): DataFrame =
    emb.select(
      col(idCol).as("vec_id"),
      col("embedding"),
      expr(s"sqrt(${VectorExprs.dotSpark("embedding", "embedding")})").as("norm"))
      .pipe(graft.operators.Dedup.persistTracked)

  /** (vec_id, embedding, norm, eb_band, eb_key) comparison-bit LSH
    * band rows.
    */
  private def embBandRows(e: DataFrame): DataFrame = {
    val bandStructs = VectorExprs.cmpBandKeysSpark("embedding").zipWithIndex
      .map { case (k, b) => s"struct($b AS band, $k AS bkey)" }
      .mkString(", ")
    e.select(
        col("vec_id"), col("embedding"), col("norm"),
        expr(s"explode(array($bandStructs))").as("bk"))
      .select(
        col("vec_id"), col("embedding"), col("norm"),
        col("bk.band").as("eb_band"), col("bk.bkey").as("eb_key"))
  }

  def embeddingPairs(
      emb: DataFrame,
      minCosPpm: Long = 999000L,
      idCol: String = "vec_id"): DataFrame = {
    graft.functions.VecDot.register(emb.sparkSession)
    val e = embWithNorms(emb, idCol)
    val bands = embBandRows(e)
    // same narrow-distinct shape as minhashPairs: dedup bare id
    // pairs, then re-join the persisted vectors for the exact refine
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.eb_band") === col("y.eb_band") && col("x.eb_key") === col("y.eb_key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(
        e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("norm").as("na")),
        "vec_a")
      .join(
        e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("norm").as("nb")),
        "vec_b")
      .withColumn("cos", expr(VectorExprs.dotSpark("ea", "eb")) / (col("na") * col("nb")))
      .withColumn("cos_ppm", floor(lit(1000000.0) * col("cos")).cast("long"))
      .filter(col("cos_ppm") >= minCosPpm)
      .select("vec_a", "vec_b", "cos_ppm")
  }

  /** Incremental embedding dedup: near-dup pairs of a NEW vector
    * batch against an EXISTING corpus — same ingest shape as
    * [[minhashPairsAgainst]]: the corpus's band rows are derivable
    * from a stored (vec_id, embedding) table and appended per ingest;
    * candidate generation stays an equi-join on (band, key) with no
    * corpus self-pairing. Returns (new_id, corpus_id, cos_ppm).
    */
  def embeddingPairsAgainst(
      newEmb: DataFrame,
      corpus: DataFrame,
      minCosPpm: Long = 999000L,
      idCol: String = "vec_id"): DataFrame = {
    graft.functions.VecDot.register(newEmb.sparkSession)
    val en = embWithNorms(newEmb, idCol)
    val ec = embWithNorms(corpus, idCol)
    val cand = embBandRows(en).as("x")
      .join(embBandRows(ec).as("y"),
        col("x.eb_band") === col("y.eb_band") && col("x.eb_key") === col("y.eb_key"))
      .select(col("x.vec_id").as("new_id"), col("y.vec_id").as("corpus_id"))
      .distinct()
    cand
      .join(
        en.select(col("vec_id").as("new_id"), col("embedding").as("ea"), col("norm").as("na")),
        "new_id")
      .join(
        ec.select(col("vec_id").as("corpus_id"), col("embedding").as("eb"), col("norm").as("nb")),
        "corpus_id")
      .withColumn("cos", expr(VectorExprs.dotSpark("ea", "eb")) / (col("na") * col("nb")))
      .withColumn("cos_ppm", floor(lit(1000000.0) * col("cos")).cast("long"))
      .filter(col("cos_ppm") >= minCosPpm)
      .select("new_id", "corpus_id", "cos_ppm")
  }

  /** Paragraph-level exact deduplication — the CCNet/C4 curation
    * granularity (Wenzek et al. 2020 dedup shards by paragraph hash;
    * C4 discards repeated three-sentence spans): a line repeated
    * ANYWHERE in the corpus (boilerplate headers, navigation chrome,
    * license blocks) survives only at its FIRST occurrence, and every
    * document is reassembled from its surviving lines.
    *
    * Pinned semantics, shared verbatim with the oracle:
    *  - paragraphs = `split(text, '\n')`, positions 0-based; empty
    *    and whitespace-only lines are STRUCTURE — always kept, never
    *    deduped (dropping "the second blank line ever" would mangle
    *    every document).
    *  - dedup key = `lower(trim(para))` (the CCNet normalization);
    *    removal drops the RAW paragraph.
    *  - first occurrence corpus-wide wins, ordered by (doc_id, pos) —
    *    later occurrences drop even inside the same document.
    *
    * Scale shape — two forms, identical results (q_dedup_paragraph_fp
    * pins the equality under the one DuckDB oracle):
    *
    *  - `byFingerprint = false` (the SEMANTICS REFERENCE): one hash
    *    shuffle partitioned by the raw normalized line (a rank
    *    window), one by doc_id (the reassembly). The window shuffle
    *    carries line text, and a hot boilerplate line ("all rights
    *    reserved.") is a skewed WINDOW key AQE cannot split (skew
    *    handling splits joins only) — fine at test scale, not the
    *    100 TB form.
    *  - `byFingerprint = true` (the PRODUCTION form): lines key by a
    *    128-bit fingerprint (an independent `xxhash64` pair), the
    *    first occurrence per key comes from a `min(struct(doc_id,
    *    pos))` AGGREGATION — partial-aggregable, so a hot key
    *    collapses map-side instead of funneling through one sort
    *    task — and the keep mark comes back via an equi-join on the
    *    fingerprint, which AQE skew-join CAN split. Shuffle rows are
    *    hash-width, not line-width. `collisionCheck = true` adds a
    *    third independent hash per key group and raises an error if
    *    any 128-bit group spans two distinct third hashes (lazy —
    *    costs one agg column, fires only on an actual collision).
    *
    * Blank lines BYPASS the paragraph-key shuffle entirely in both
    * forms (they would otherwise pile every blank line in the corpus
    * into one skewed '' partition).
    *
    * Returns (doc_id, n_paras, n_kept, text_deduped).
    */
  def paragraphDedup(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      passthroughCols: Seq[String] = Nil,
      byFingerprint: Boolean = false,
      collisionCheck: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // collision guard (the removeRepeatedSpans convention): a
    // passthrough named like an output or working column would emit
    // duplicate names that fail only at the first downstream
    // name-based select
    val reserved = Seq(
      "doc_id", "n_paras", "n_kept", "text_deduped", "pos", "para", "pkey",
      "keep", "pk1", "pk2", "_first", "_nck")
    val clash = passthroughCols.filter(c => reserved.exists(_.equalsIgnoreCase(c)))
    require(
      clash.isEmpty,
      s"paragraphDedup emits column(s) ${clash.mkString(", ")} itself — " +
        "rename the passthrough column(s)")
    val parts = paragraphParts(docs, textCol, idCol, passthroughCols)
    val nonBlank = parts.filter(trim(col("para")) =!= "")
    val elig =
      if (!byFingerprint)
        nonBlank
          .withColumn("pkey", lower(trim(col("para"))))
          .withColumn("keep",
            row_number().over(Window.partitionBy("pkey").orderBy("doc_id", "pos")) === 1)
          .drop("pkey")
      else markFirstByFingerprint(nonBlank, collisionCheck)
    val blank = parts.filter(trim(col("para")) === "").withColumn("keep", lit(true))
    rebuildParagraphs(elig.unionByName(blank), passthroughCols)
  }

  /** The 128-bit line fingerprint: two `xxhash64` evaluations of the
    * normalized line under DIFFERENT SEEDS. Spark's multi-arg
    * xxhash64 folds left-to-right with the running hash as the next
    * seed, so the salt must come FIRST — `xxhash64(salt, key)` is
    * `XXH64(key, seed = XXH64(salt, 42))`, a different-constant-seed
    * hash of the key and genuinely independent of the unsalted
    * stream; `xxhash64(key, salt)` would be a pure FUNCTION of the
    * first hash (seed = pk1), collapsing the pair to 64-bit
    * resistance and making any collision check over a third such
    * stream vacuous (review finding, r14). Collision probability at
    * a true 128 bits is ~n²/2¹²⁹ — immaterial at any corpus size;
    * the optional third stream ([[markFirstByFingerprint]]) is the
    * runtime check for the paranoid.
    */
  private def lineFp(keyExpr: org.apache.spark.sql.Column) =
    (xxhash64(keyExpr), xxhash64(lit("fp2"), keyExpr))

  /** Mark each non-blank line row `keep` = is-the-corpus-first
    * occurrence of its normalized key, via the skew-safe aggregation
    * form: group line rows by the 128-bit fingerprint, take
    * `min(struct(doc_id, pos))` (struct ordering IS the (doc_id, pos)
    * lexicographic order the window form sorts by), and join the
    * winners back on the fingerprint. Input must carry (doc_id, pos,
    * para); output keeps every input column, plus `keep`, minus
    * nothing.
    */
  private def markFirstByFingerprint(
      nonBlank: DataFrame, collisionCheck: Boolean): DataFrame =
    markFirstByFp(
      nonBlank, lower(trim(col("para"))), Seq("doc_id", "pos"),
      collisionCheck, remedy = "rerun with byFingerprint=false")

  /** The SHARED fingerprint keep-first kernel (review r15: the
    * paragraph, chunk, and media forms were three hand-rolled copies
    * that a fingerprint-scheme fix would have to chase separately):
    * key rows by the 128-bit salted pair ([[lineFp]] over `keyExpr`),
    * take the minimum `struct(orderCols)` per key (struct ordering IS
    * the lexicographic first-occurrence order), and join the winners
    * back on the fingerprint — partial-aggregable, hash-width
    * shuffles, AQE-splittable join skew, no window anywhere. Output =
    * input + `keep`. `collisionCheck` adds a third independent hash
    * per key group (recomputed inside the agg from the key, so the
    * GROUPING columns stay the two fingerprint longs) and raises with
    * `remedy` if any 128-bit group spans two distinct third hashes —
    * lazy, fires only on an actual collision.
    */
  private def markFirstByFp(
      rows: DataFrame,
      keyExpr: org.apache.spark.sql.Column,
      orderCols: Seq[String],
      collisionCheck: Boolean,
      remedy: String): DataFrame = {
    graft.functions.MinPair.register(rows.sparkSession)
    val (h1, h2) = lineFp(keyExpr)
    val keyed = rows.withColumn("pk1", h1).withColumn("pk2", h2)
    // min_pair_long dispatch is TYPE-GUARDED (r20, VERDICT r19 #2):
    // the CAST to BIGINT is a widening no-op for integral order
    // columns, but on anything else (a string id "doc_42") it yields
    // NULL, min_pair_long skips the row, and the keep filter silently
    // drops the whole group — where min(struct(...)) handles any
    // orderable type. Only a provably-lossless pair takes the fast
    // path; everything else keeps the generic struct minimum.
    val integralTypes: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    def isIntegral(c: String): Boolean =
      rows.schema.fields.find(_.name == c).exists(f => integralTypes(f.dataType))
    val pairFast = orderCols.length == 2 && orderCols.forall(isIntegral)
    // the first-occurrence aggregate, HASH-aggregable (r19): a plain
    // min for one order column, the two-long-buffer min_pair_long for
    // an integral (id, pos) pair — min(struct(...)) carries an
    // immutable struct buffer, which HashAggregateExec refuses, and
    // the SortAggregate fallback sorts every task's full line/chunk/
    // media table by fingerprint (see graft.functions.MinPairLong).
    // Same lexicographic minimum either way.
    val firstAgg = orderCols match {
      case Seq(c) => min(col(c)).as("_first")
      case Seq(c1, c2) if pairFast =>
        expr(s"min_pair_long(CAST(`$c1` AS BIGINT), CAST(`$c2` AS BIGINT))")
          .as("_first")
      case cs => min(struct(cs.map(col): _*)).as("_first")
    }
    val aggs =
      firstAgg +:
        (if (collisionCheck)
           Seq(countDistinct(xxhash64(lit("fpck"), keyExpr)).as("_nck"))
         else Nil)
    val first = keyed.groupBy("pk1", "pk2").agg(aggs.head, aggs.tail: _*)
    val keepExpr = orderCols match {
      case Seq(c) => col(c) === col("_first")
      case Seq(c1, c2) if pairFast =>
        col(c1) === col("_first")("a") && col(c2) === col("_first")("b")
      case cs => cs.map(c => col(c) === col("_first")(c)).reduce(_ && _)
    }
    val marked = keyed
      .join(first, Seq("pk1", "pk2"))
      .withColumn(
        "keep",
        if (!collisionCheck) keepExpr
        else when(
          col("_nck") > 1,
          raise_error(concat(
            lit("128-bit fingerprint collision (pk1="), col("pk1"),
            lit(") — two distinct normalized keys share a fingerprint; "),
            lit(remedy))).cast("boolean"))
          .otherwise(keepExpr))
    marked.drop("pk1", "pk2", "_first", "_nck")
  }

  /** Reserved-column clash guard shared by the keep-first operators:
    * a working/output name already on the input would be silently
    * clobbered by withColumn and fail (or worse, mislead) only far
    * downstream.
    */
  private def requireNoReservedCols(df: DataFrame, op: String): Unit = {
    val reserved = Seq("keep", "pk1", "pk2", "_first", "_nck")
    val clash = df.columns.filter(c => reserved.exists(_.equalsIgnoreCase(c)))
    require(
      clash.isEmpty,
      s"$op emits column(s) ${clash.mkString(", ")} itself — " +
        "rename or drop the input column(s)")
  }

  /** (doc_id, [passthroughs], pos, para) exploded line table — the
    * shared front of the one-shot and streaming paragraph paths.
    */
  private def paragraphParts(
      docs: DataFrame, textCol: String, idCol: String,
      passthroughCols: Seq[String]): DataFrame =
    docs.select(
      col(idCol).as("doc_id") +:
        passthroughCols.map(col) :+
        posexplode(split(coalesce(col(textCol), lit("")), "\n", -1)).as(Seq("pos", "para")): _*)

  /** Reassemble documents from a marked line table (doc_id, pos,
    * para, keep) — the shared tail of the one-shot and streaming
    * paragraph paths.
    */
  private def rebuildParagraphs(
      marked: DataFrame, passthroughCols: Seq[String]): DataFrame =
    marked
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_paras"),
        Seq(
          sum(col("keep").cast("long")).as("n_kept"),
          concat_ws("\n",
            transform(
              array_sort(collect_list(when(col("keep"), struct(col("pos"), col("para"))))),
              e => e("para"))).as("text_deduped")) ++
          // doc-constant passthroughs (source, lang, …): min is an
          // order-free pick of the single distinct value
          passthroughCols.map(c => min(col(c)).as(c)): _*)

  /** One paragraph-ingest step — [[paragraphDedup]]'s INCREMENTAL
    * form, the line-granularity sibling of `minhashPairsAgainst` /
    * `repeatedSpansAgainstShingles`: dedup a NEW batch's lines
    * against the accumulated line-key state (first ARRIVAL wins —
    * the streaming semantics; within a batch the one-shot's
    * (doc_id, pos) order breaks ties), and return the batch's
    * rebuilt docs together with the state rows this batch adds.
    *
    * State is the 128-bit line fingerprint pair `(pk1, pk2)` — hash
    * rows, never line text bodies (the r13 verdict's production
    * variant: text-keyed state rows made the state table
    * corpus-text-sized and the shuffle line-width) — so steady-state
    * ingest cost is one hash-width equi-join of O(batch) lines
    * against the key table plus the batch-local first-wins
    * aggregation; at 100 TB the key table takes the same
    * bucketed-layout treatment as the shingle state
    * ([[appendAndMaybeCompact]]). The returned `newKeys` are distinct
    * within the batch (one aggregation winner per key) and disjoint
    * from `stateKeys`, so plain unions keep the state a set.
    */
  def paragraphIngestStep(
      batch: DataFrame,
      stateKeys: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      passthroughCols: Seq[String] = Seq.empty): (DataFrame, DataFrame) = {
    val parts = paragraphParts(batch, textCol, idCol, passthroughCols)
    // within-batch first-wins via the same skew-safe fingerprint
    // aggregation as the one-shot's production form, then the state
    // probe as a hash-width left join; tolerate state rows carrying
    // owner ids ([[writeLineTable]]) — the probe needs the key set only
    val stateProbe = adaptLineState(stateKeys, "paragraphIngestStep")
    val key = lower(trim(col("para")))
    val (h1, h2) = lineFp(key)
    val keyed = parts.filter(trim(col("para")) =!= "")
      .withColumn("pk1", h1).withColumn("pk2", h2)
    graft.functions.MinPair.register(batch.sparkSession)
    val first = keyed.groupBy("pk1", "pk2")
      .agg(expr(
        "min_pair_long(CAST(doc_id AS BIGINT), CAST(pos AS BIGINT))")
        .as("_first"))
    val marked = keyed
      .join(first, Seq("pk1", "pk2"))
      .join(
        stateProbe.withColumn("_seen", lit(true)),
        Seq("pk1", "pk2"), "left")
      .withColumn("keep",
        col("doc_id") === col("_first.a") &&
          col("pos") === col("_first.b") && col("_seen").isNull)
      .drop("_first", "_seen")
      .unionByName(
        parts.filter(trim(col("para")) === "")
          .withColumn("pk1", lit(null).cast("long"))
          .withColumn("pk2", lit(null).cast("long"))
          .withColumn("keep", lit(true)))
      .pipe(persistTracked) // rebuilt docs AND new state read it
    val rebuilt = rebuildParagraphs(marked.drop("pk1", "pk2"), passthroughCols)
    val newKeys = marked
      .filter(col("keep") && col("pk1").isNotNull)
      .select("pk1", "pk2", "doc_id")
    (rebuilt, newKeys)
  }

  /** Adapt a line-state frame to the probe's (pk1, pk2) fingerprint
    * layout, with an explicit schema check (ADVICE r14: a state table
    * written by the pre-fingerprint revision — `(pkey STRING,
    * doc_id)`, pkey = the normalized line text — used to fail the
    * probe join with a raw missing-column AnalysisException far from
    * the cause). A legacy text-keyed table is REHASHED on read:
    * `pkey` already stores `lower(trim(para))` and [[lineFp]] is a
    * pure function of that key, so the rehash probes identically to
    * a rebuilt table (the normalization is re-applied — idempotent —
    * to also tolerate state written from pre-normalized text).
    * Anything else fails fast with the rebuild remedy.
    */
  private def adaptLineState(state: DataFrame, caller: String): DataFrame = {
    val cols = state.columns.map(_.toLowerCase).toSet
    if (cols.contains("pk1") && cols.contains("pk2")) state.select("pk1", "pk2")
    else if (cols.contains("pkey")) {
      val (l1, l2) = lineFp(lower(trim(col("pkey"))))
      state.select(l1.as("pk1"), l2.as("pk2"))
    } else throw new IllegalArgumentException(
      s"$caller expects fingerprint line-state columns (pk1, pk2) or the " +
        s"legacy text-keyed layout (pkey); got [${state.columns.mkString(", ")}] — " +
        "rebuild the state table with writeLineTable on this revision")
  }

  /** A corpus's one-shot line-key state: the (pk1, pk2, doc_id) rows
    * of every eligible line's FIRST (doc_id, pos) occurrence — the
    * fingerprints of exactly the keys [[paragraphDedup]] keeps, with
    * the keeping doc as the owner (the deletion unit). Computed by
    * the skew-safe aggregation, carrying hash-width rows only.
    */
  private def lineStateRows(
      docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    graft.functions.MinPair.register(docs.sparkSession)
    val key = lower(trim(col("para")))
    val (h1, h2) = lineFp(key)
    paragraphParts(docs, textCol, idCol, Nil)
      .filter(trim(col("para")) =!= "")
      .withColumn("pk1", h1).withColumn("pk2", h2)
      .groupBy("pk1", "pk2")
      .agg(expr(
        "min_pair_long(CAST(doc_id AS BIGINT), CAST(pos AS BIGINT))")
        .as("_first"))
      .select(col("pk1"), col("pk2"), col("_first.a").as("doc_id"))
  }

  /** Materialize a corpus's line-key state as a BUCKETED catalog
    * table on the fingerprint pair `(pk1, pk2)` — the
    * [[writeBandTable]] layout applied to paragraph state, storing
    * 24-byte hash rows instead of line text (the r13 verdict's
    * production variant). [[paragraphIngestStep]] probes it unchanged
    * (its state join keys on the pair), so a steady-state ingest
    * scans the state pre-partitioned and shuffles only the batch's
    * lines. Rows carry the owning doc_id, making
    * [[deleteFromLineTable]] takedowns doc-scoped like every other
    * state table's.
    *
    * Deletion contract nuance, inherent to first-wins state: removing
    * a deleted doc's (pkey, owner) rows makes those line keys
    * claimable by FUTURE ingests — the state cannot resurrect the
    * duplicate occurrences it already dropped, so a line whose first
    * owner is taken down reappears only when some later batch ships
    * it again. That is the correct takedown semantics: the text is
    * gone until re-ingested.
    */
  def writeLineTable(
      docs: DataFrame, table: String, buckets: Int = BandTableBuckets,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    writeBucketedState(
      lineStateRows(docs, textCol, idCol),
      table, buckets, Seq("pk1", "pk2"), "overwrite", appendTasks = 0)
    docs.sparkSession.table(table)
  }

  /** Append an ingest step's NEW keys ((pk1, pk2, doc_id) — the
    * second member of [[paragraphIngestStep]]'s result) to a
    * [[writeLineTable]] state table. New keys are disjoint from the
    * probed state by construction, so the append keeps the key set a
    * set.
    */
  def appendToLineTable(
      newKeys: DataFrame, table: String, buckets: Int = BandTableBuckets,
      appendTasks: Int = 0): Unit = {
    // fail fast on a legacy text-keyed (pkey) table: appending
    // fingerprint rows into it would raise a schema-mismatch error
    // far from the cause (ADVICE r14) — the table must be rebuilt
    val spark = newKeys.sparkSession
    if (spark.catalog.tableExists(table) &&
      spark.table(table).columns.exists(_.equalsIgnoreCase("pkey")))
      throw new IllegalArgumentException(
        s"line-state table '$table' has the legacy text-keyed layout (pkey) — " +
          "rebuild it with writeLineTable on this revision before appending")
    writeBucketedState(
      newKeys.select("pk1", "pk2", "doc_id"),
      table, buckets, Seq("pk1", "pk2"), "append", appendTasks)
  }

  /** [[compactBandTable]] for the line-key state table. */
  def compactLineTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      buckets: Int = BandTableBuckets): DataFrame = {
    // same legacy-layout fail-fast as the append path (review r15:
    // the r14 guards covered probe + append but left the compaction
    // to die on a raw missing-(pk1,pk2) error far from the cause)
    if (spark.catalog.tableExists(table) &&
      spark.table(table).columns.exists(_.equalsIgnoreCase("pkey")))
      throw new IllegalArgumentException(
        s"line-state table '$table' has the legacy text-keyed layout (pkey) — " +
          "rebuild it with writeLineTable on this revision before compacting")
    compactBucketedState(spark, table, buckets, Seq("pk1", "pk2"))
  }

  /** [[appendToLineTable]] plus the [[appendAndMaybeCompact]]
    * cadence. Returns true when this append triggered a compaction.
    */
  def appendAndMaybeCompactLines(
      newKeys: DataFrame,
      table: String,
      buckets: Int = BandTableBuckets,
      maxFilesPerBucket: Int = 4,
      maxBytes: Long = Long.MaxValue,
      appendTasks: Int = 0): Boolean = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    appendToLineTable(newKeys, table, buckets, appendTasks)
    val spark = newKeys.sparkSession
    if (overCompactionThreshold(spark, table, buckets, maxFilesPerBucket, maxBytes)) {
      compactLineTable(spark, table, buckets); true
    } else false
  }

  /** [[deleteFromStateTable]] under the line-table name: tombstone by
    * owning doc_id; [[stateTableLive]] masks, the next compaction
    * bakes the removal in.
    */
  def deleteFromLineTable(docIds: DataFrame, table: String): Unit =
    deleteFromStateTable(docIds, table)

  /** CHUNK-level exact deduplication — the dedup the chunker's own
    * output needs: [[TextAnalysis.chunkDocuments]] with stride <
    * chunk creates systematic overlap, and identical source passages
    * (boilerplate, mirrored documents, re-crawls) emit byte-identical
    * chunks from different docs — the common RAG-index pollution.
    * Marks each chunk `keep` = is-the-corpus-first occurrence of its
    * normalized (`lower(trim(...))`) chunk text, first = minimum
    * (doc_id, chunk_id).
    *
    * Scale shape: the paragraph-fp machinery applied at chunk
    * granularity — 128-bit fingerprint keys ([[lineFp]]), first
    * occurrence via the partial-aggregable `min(struct(...))`, keep
    * marks back via a fingerprint equi-join. Shuffle rows are
    * hash-width; a hot boilerplate chunk partial-aggregates map-side
    * and its join skew is AQE-splittable. No window anywhere.
    *
    * Returns the input columns plus `keep`.
    */
  def chunkDedup(
      chunks: DataFrame,
      textCol: String = "chunk_text",
      idCol: String = "doc_id",
      chunkIdCol: String = "chunk_id"): DataFrame = {
    requireNoReservedCols(chunks, "chunkDedup")
    markFirstByFp(
      chunks, lower(trim(col(textCol))), Seq(idCol, chunkIdCol),
      collisionCheck = false, remedy = "")
  }

  /** One CHUNK-ingest step — [[chunkDedup]]'s INCREMENTAL form and
    * the chunk-granularity sibling of [[paragraphIngestStep]]: chunk
    * a NEW batch of documents, dedup the chunks against the
    * accumulated chunk-KEY state (first ARRIVAL wins; within a batch
    * the one-shot's (doc_id, chunk_id) order breaks ties), and return
    * the batch's marked chunks together with the state rows this
    * batch adds. State is the same 24-byte (pk1, pk2, doc_id)
    * fingerprint layout as the line table — [[writeChunkTable]]
    * persists it, and the append/compact/delete verbs are the line
    * table's verbatim (the layout IS identical; one implementation,
    * two granularities).
    *
    * Returns (marked chunks: doc_id, chunk_id, n_tokens, chunk_text,
    * keep; newKeys: pk1, pk2, doc_id).
    */
  def chunkIngestStep(
      batch: DataFrame,
      stateKeys: DataFrame,
      chunkTokens: Int = 128,
      strideTokens: Int = 96,
      textCol: String = "text",
      idCol: String = "doc_id",
      passthroughCols: Seq[String] = Seq.empty): (DataFrame, DataFrame) = {
    val chunks = TextAnalysis.chunkDocuments(
      batch, chunkTokens, strideTokens, textCol, idCol, passthroughCols)
    val stateProbe = adaptLineState(stateKeys, "chunkIngestStep")
    val key = lower(trim(col("chunk_text")))
    val (h1, h2) = lineFp(key)
    val keyed = chunks.withColumn("pk1", h1).withColumn("pk2", h2)
    graft.functions.MinPair.register(batch.sparkSession)
    val first = keyed.groupBy("pk1", "pk2")
      .agg(expr(
        "min_pair_long(CAST(doc_id AS BIGINT), CAST(chunk_id AS BIGINT))")
        .as("_first"))
    val marked = keyed
      .join(first, Seq("pk1", "pk2"))
      .join(
        stateProbe.withColumn("_seen", lit(true)),
        Seq("pk1", "pk2"), "left")
      .withColumn("keep",
        col("doc_id") === col("_first.a") &&
          col("chunk_id") === col("_first.b") && col("_seen").isNull)
      .drop("_first", "_seen")
      .pipe(persistTracked) // marked output AND new state read it
    val newKeys = marked
      .filter(col("keep"))
      .select("pk1", "pk2", "doc_id")
    (marked.drop("pk1", "pk2"), newKeys)
  }

  /** Materialize a corpus's CHUNK-key state as a bucketed catalog
    * table — [[writeLineTable]] at chunk granularity: the (pk1, pk2,
    * doc_id) fingerprints of each normalized chunk text's FIRST
    * (doc_id, chunk_id) occurrence, owner = the keeping doc (the
    * deletion unit, same takedown semantics as the line table's —
    * deleted owners' keys become claimable by future ingests).
    * Append/compact/delete with the line-table verbs
    * ([[appendToLineTable]]/[[compactLineTable]]/
    * [[deleteFromLineTable]]): the layout is byte-identical.
    */
  def writeChunkTable(
      docs: DataFrame, table: String, buckets: Int = BandTableBuckets,
      chunkTokens: Int = 128, strideTokens: Int = 96,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    graft.functions.MinPair.register(docs.sparkSession)
    val key = lower(trim(col("chunk_text")))
    val (h1, h2) = lineFp(key)
    val rows = TextAnalysis.chunkDocuments(
        docs, chunkTokens, strideTokens, textCol, idCol)
      .withColumn("pk1", h1).withColumn("pk2", h2)
      .groupBy("pk1", "pk2")
      .agg(expr(
        "min_pair_long(CAST(doc_id AS BIGINT), CAST(chunk_id AS BIGINT))")
        .as("_first"))
      .select(col("pk1"), col("pk2"), col("_first.a").as("doc_id"))
    writeBucketedState(
      rows, table, buckets, Seq("pk1", "pk2"), "overwrite", appendTasks = 0)
    docs.sparkSession.table(table)
  }

  /** Probe-and-mark a NEW document batch against a persisted
    * DOC-fingerprint state under first-ARRIVAL-wins — [[exact]]'s
    * steady-state form, and the WHOLE-DOCUMENT member of the
    * line/chunk ingest-step family: a doc keeps iff its raw-text
    * fingerprint is the batch's first occurrence (min doc_id — the
    * within-batch tie [[exact]] also breaks by min id) AND unseen by
    * any earlier ingest. The key is the RAW text (no normalization),
    * matching [[exact]]'s exact-bytes grouping — whole-document
    * identity is byte identity, unlike the line/chunk keys that
    * normalize incidental whitespace.
    *
    * Returns (marked batch with `keep`, new (pk1, pk2, doc_id) keys
    * to append). Note the seen-corpus policy this implies: a doc that
    * CLEARS dedup here holds its fingerprint slot even if a later
    * pipeline gate (budget, decontamination) drops it — identity is
    * permanent, capacity is not, so a re-shipped copy of a
    * budget-rejected doc is still a duplicate.
    */
  def docIngestStep(
      batch: DataFrame,
      stateKeys: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    val stateProbe = adaptLineState(stateKeys, "docIngestStep")
    val (h1, h2) = lineFp(col(textCol))
    val keyed = batch.withColumn("pk1", h1).withColumn("pk2", h2)
    val first = keyed.groupBy("pk1", "pk2")
      .agg(min(col(idCol)).as("_first"))
    val marked = keyed
      .join(first, Seq("pk1", "pk2"))
      .join(
        stateProbe.withColumn("_seen", lit(true)),
        Seq("pk1", "pk2"), "left")
      .withColumn("keep", col(idCol) === col("_first") && col("_seen").isNull)
      .drop("_first", "_seen")
      .pipe(persistTracked) // marked output AND new state read it
    val newKeys = marked
      .filter(col("keep"))
      .select(col("pk1"), col("pk2"), col(idCol).as("doc_id"))
    (marked.drop("pk1", "pk2"), newKeys)
  }

  /** Materialize a corpus's DOC-fingerprint state as a bucketed
    * catalog table — [[writeLineTable]] at whole-document granularity:
    * (pk1, pk2, doc_id) of each raw text's FIRST (min-id) occurrence,
    * owner = the keeping doc. Probe with [[docIngestStep]];
    * append/compact/delete with the line-table verbs
    * ([[appendToLineTable]]/[[compactLineTable]]/
    * [[deleteFromLineTable]]) — the layout is byte-identical.
    */
  def writeDocTable(
      docs: DataFrame, table: String, buckets: Int = BandTableBuckets,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val (h1, h2) = lineFp(col(textCol))
    val rows = docs
      .withColumn("pk1", h1).withColumn("pk2", h2)
      .groupBy("pk1", "pk2")
      .agg(min(col(idCol)).as("doc_id"))
    writeBucketedState(
      rows, table, buckets, Seq("pk1", "pk2"), "overwrite", appendTasks = 0)
    docs.sparkSession.table(table)
  }

  /** Chunk-identity packing bit budget: chunk ordinals live in the
    * low [[ChunkIdBits]] bits, doc ids in the rest. 2²⁰ chunks per
    * doc ≈ a 100M-token document at stride 96 — far above any real
    * corpus row, but CHECKED, not assumed (see [[packedChunkId]]).
    */
  val ChunkIdBits = 20

  /** The composite chunk identity `(doc_id, chunk_id)` packed into
    * one BIGINT — `doc_id·2²⁰ + chunk_id` — with LAZY range guards
    * (the raise_error idiom: no separate validation scan; the first
    * out-of-range row aborts the job that touches it, naming the
    * violation). Closes the r14 verdict's unguarded bench packing:
    * silent overflow would alias two different chunks into one
    * identity and corrupt every downstream dedup/join keyed on it.
    * Unpack with [[unpackedDocId]]/[[unpackedChunkId]].
    */
  def packedChunkId(docCol: org.apache.spark.sql.Column, chunkCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val lim = 1L << ChunkIdBits
    val docLim = 1L << (62 - ChunkIdBits) // packed stays a positive BIGINT
    when(
      chunkCol < 0 || chunkCol >= lim,
      raise_error(concat(
        lit(s"chunk_id out of packing range [0, $lim): "), chunkCol.cast("string"),
        lit(" — raise ChunkIdBits or key on the composite directly")))
        .cast("long"))
      .when(
        docCol < 0 || docCol >= docLim,
        raise_error(concat(
          lit(s"doc_id out of packing range [0, $docLim): "), docCol.cast("string")))
          .cast("long"))
      .otherwise(docCol.cast("long") * lim + chunkCol.cast("long"))
  }

  /** Inverse of [[packedChunkId]] (valid because the pack guards
    * non-negative operands — shiftright needs no sign handling).
    */
  def unpackedDocId(packed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shiftright(packed, ChunkIdBits)
  def unpackedChunkId(packed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    packed.bitwiseAND(lit((1L << ChunkIdBits) - 1))

  /** CHUNK-level NEAR-duplicate pairs — [[chunkDedup]]'s MinHash
    * sibling, with the composite identity handled AT THE OPERATOR
    * (the r14 verdict gap: the bench query packed doc_id·2²⁰ +
    * chunk_id with a comment asserting the bound; this packs with
    * [[packedChunkId]]'s lazy range guards and unpacks the result, so
    * callers never see — or get to corrupt — the packed form).
    * Chunks flow through [[minhashPairs]] unchanged: to the dedup
    * family a chunk IS a document, which is the point.
    *
    * Returns (doc_a, chunk_a, doc_b, chunk_b, n_agree), pair-ordered
    * by the packed identity (doc, then chunk ordinal).
    */
  def chunkNearDupPairs(
      chunks: DataFrame,
      n: Int = 3,
      minAgree: Int = NumMinhash / 2,
      textCol: String = "chunk_text",
      idCol: String = "doc_id",
      chunkIdCol: String = "chunk_id",
      bands: Int = graft.functions.TextExprs.Bands,
      rowsPerBand: Int = graft.functions.TextExprs.RowsPerBand): DataFrame =
    minhashPairs(
      chunks.select(
        packedChunkId(col(idCol), col(chunkIdCol)).as("doc_id"),
        col(textCol).as("text")),
      n, minAgree, bands = bands, rowsPerBand = rowsPerBand)
      .select(
        unpackedDocId(col("doc_a")).as("doc_a"),
        unpackedChunkId(col("doc_a")).as("chunk_a"),
        unpackedDocId(col("doc_b")).as("doc_b"),
        unpackedChunkId(col("doc_b")).as("chunk_b"),
        col("n_agree"))

  /** EXACT media deduplication — the byte granularity of the media
    * dedup pair ([[Multimodal.perceptualHashPairs]] is the perceptual
    * one): marks each media row `keep` = is-the-corpus-first
    * (minimum-id) occurrence of its payload BYTES. This is the
    * [[chunkDedup]] fingerprint machinery applied to binary payloads:
    * 128-bit key from the salted `xxhash64` pair over the raw bytes
    * ([[lineFp]] — xxhash64 hashes BINARY natively, no decode), first
    * occurrence via the partial-aggregable `min(id)`, keep marks back
    * via a fingerprint equi-join. Shuffle rows are hash-width — the
    * payloads (the heavy column) never move; a viral byte-identical
    * asset partial-aggregates map-side and its join skew is
    * AQE-splittable. NULL payloads group together (xxhash64 of NULL
    * is the seed constant — deterministic) and dedup like any other
    * group.
    *
    * Returns the input columns plus `keep`.
    */
  def mediaDedupExact(
      media: DataFrame,
      idCol: String = "media_id",
      payloadCol: String = "media"): DataFrame = {
    requireNoReservedCols(media, "mediaDedupExact")
    markFirstByFp(
      media, col(payloadCol), Seq(idCol),
      collisionCheck = false, remedy = "")
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the same
    * deterministic k-means kernel the IVF index uses
    * ([[SimilaritySearch.buildIndex]] — seeds at `vec_id %
    * centroidMod`, one Lloyd step with exact DECIMAL mean
    * accumulation), find cosine near-duplicates WITHIN each cluster
    * only, group them into connected components, and keep ONE
    * representative per component: the member FARTHEST from its
    * cluster centroid (the paper's low-cosine-to-centroid choice —
    * it keeps boundary examples and sheds redundant cluster-core
    * mass), ties broken by minimum id.
    *
    * This is a distinct dedup GRANULARITY from everything above:
    * exact/MinHash/SimHash catch copy-paste, span dedup catches
    * shared substrings, [[embeddingPairs]] catches vectors that are
    * near-identical anywhere in space — SemDeDup targets *semantic
    * redundancy inside a cluster*, where the candidate structure
    * comes from the clustering itself rather than from LSH bands.
    *
    * Scale shape (why clustering precedes comparison): the pairwise
    * step is an equi-join on `cid`, so candidate volume is
    * Σ|cluster|² — never |corpus|². With k ≈ √n clusters the
    * expected volume is ~n^1.5, and at 100 TB `centroidMod` tunes k
    * up to bound cluster sizes (the paper runs 11k clusters on
    * LAION). A pathologically hot cluster is one skewed join key —
    * standard AQE-skew/salting territory. Everything downstream of
    * the assignment is id-width: the component propagation and the
    * keep window shuffle (id, cid, dc) rows only.
    *
    * Cluster-BOUNDARY pairs are the construction's known loss: a
    * near-dup pair split across two clusters is never compared (the
    * r13 CurationScaleBench measured 37/64,000 planted pairs lost at
    * ×64). `assignTop = 2` reclaims them SemDeDup-style by assigning
    * each vector to its top-2 nearest centroids for CANDIDATE
    * GENERATION ONLY — pairs sharing ANY assigned cluster are
    * compared (deduplicated before the cosine), while the
    * keep/representative logic still uses the primary assignment
    * unchanged. Cost: candidate volume ≈ 4× (2×2 cluster combos),
    * one extra assignment row per vector — measured on the
    * CurationScaleBench fixture and recorded in SCALE.md; the default
    * stays 1 (the paper's operating point) because the fixture
    * measured the reclaim at +0.06% recall for ~4× pair volume.
    * `assignMargin` makes the dial AFFORDABLE: the second assignment
    * is emitted only when the vector genuinely sits in the boundary
    * band — `d₂ − d₁ < margin` in L2² units — which is where the
    * split pairs live by construction, so the margin buys most of
    * top-2's recall at a fraction of its candidate volume (measured:
    * the CurationScaleBench margin sweep in SCALE.md). Setting a
    * margin with `assignTop = 1` still considers top-2 candidates;
    * the keep/representative logic uses the primary assignment
    * unchanged in every mode.
    *
    * Returns the full decision table, one row per corpus vector:
    * `(vec_id, cid, component, keep)` — filter `keep` for the
    * curation apply, or aggregate for cluster/component audits.
    */
  /** `maxVecsPerCluster` is the hot-CLUSTER dial ([[minhashPairs]]'s
    * star on the clustering's own candidate buckets): a cluster past
    * the cap contributes |cluster|−1 hub edges to its minimum vec_id
    * instead of |cluster|²/2 within-cluster comparisons — the
    * degenerate-spike defense (a broken upstream encoder emitting one
    * constant embedding collapses the corpus into ONE cluster, and
    * Σ|cluster|² becomes |corpus|²; AQE spreads that join's tasks but
    * cannot shrink its quadratic output). Cosine-identical members
    * verify against the hub at cos 1 and keep their component
    * exactly; merely-similar members of a hot cluster may lose pair
    * edges (recall dial). Top-1/no-margin path only — the
    * multi-assignment candidate structure has its own dials.
    */
  def semanticDedup(
      emb: DataFrame,
      centroidMod: Int = 50,
      minCosPpm: Long = 995000L,
      idCol: String = "vec_id",
      numPartitions: Option[Int] = None,
      propagateRounds: Int = 8,
      assignTop: Int = 1,
      assignMargin: Option[Double] = None,
      maxVecsPerCluster: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(assignTop >= 1, s"assignTop must be >= 1, got $assignTop")
    require(assignMargin.forall(_ >= 0.0),
      s"assignMargin must be non-negative, got $assignMargin")
    require(maxVecsPerCluster <= 0 || (assignTop <= 1 && assignMargin.isEmpty),
      "maxVecsPerCluster caps the top-1 within-cluster join; the " +
        "multi-assignment paths have their own candidate dials")
    graft.functions.VecDot.register(emb.sparkSession)
    val idx = SimilaritySearch.buildIndex(emb, centroidMod = centroidMod, idCol = idCol)
    // Assignment table + distance-to-own-centroid (the representative
    // key). dc is recomputed here because the shared assignment
    // kernel drops its distance column; the expression is the same
    // index-ordered l2sq both engines spell, so it is bit-identical
    // to the oracle's. Persisted: both self-join sides and the final
    // decision join consume it.
    val a = idx.assignments
      .join(broadcast(idx.centroids), "cid")
      .select(
        col("cand_id").as("vec_id"),
        col("cid"),
        col("cand_emb"),
        col("cnorm"),
        expr(VectorExprs.l2sqSpark("cand_emb", "cemb")).as("dc"))
      .pipe(persistTracked)
    def cosGate(df: DataFrame, ea: String, na: String, eb: String, nb: String) =
      df.withColumn(
        "cos",
        expr(VectorExprs.dotSpark(ea, eb)) / (col(na) * col(nb)))
        .filter(floor(lit(1000000.0) * col("cos")).cast("long") >= minCosPpm)
    val pairs =
      if (assignTop <= 1 && assignMargin.isEmpty && maxVecsPerCluster <= 0)
        cosGate(
          a.as("x")
            .join(a.as("y"),
              col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id")),
          "x.cand_emb", "x.cnorm", "y.cand_emb", "y.cnorm")
          .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      else if (assignTop <= 1 && assignMargin.isEmpty) {
        // hot-cluster star on the shared split; a vector belongs to
        // exactly one cluster in this path, so cold and hot branches
        // are disjoint and need no final distinct
        val (cold, hot) = starSplitBuckets(
          a.select("vec_id", "cid", "cand_emb", "cnorm"),
          Seq("cid"), "vec_id", maxVecsPerCluster)
        val coldPairs = cosGate(
          cold.as("x")
            .join(cold.as("y"),
              col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id")),
          "x.cand_emb", "x.cnorm", "y.cand_emb", "y.cnorm")
          .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
        val hotPairs = cosGate(
          hot.as("y")
            .join(
              a.select(col("vec_id").as("_hid"), col("cand_emb").as("_hemb"),
                col("cnorm").as("_hnorm")).as("h"),
              col("h._hid") === col("y.bmin")),
          "h._hemb", "h._hnorm", "y.cand_emb", "y.cnorm")
          .select(col("y.bmin").as("vec_a"), col("y.vec_id").as("vec_b"))
        coldPairs.unionByName(hotPairs)
      } else {
        // multi-assignment candidates: top-`assignTop` centroids per
        // vector (a per-vector window — k rows each, no skew), pairs
        // on ANY shared assigned cluster, deduplicated BEFORE the
        // cosine so a pair sharing both clusters scores once.
        // `assignMargin` is the MARGIN-GATED refinement (r14 verdict
        // task #2): a NON-primary assignment row is emitted only when
        // its L2² distance is within `margin` of the vector's best —
        // the boundary band is where the cluster-split misses live by
        // construction, so most of top-2's recall costs a fraction of
        // its pair volume (measured: CurationScaleBench margin sweep,
        // SCALE.md). With a margin set, at least top-2 candidates are
        // considered even when assignTop stays 1.
        val effTop = if (assignMargin.isDefined) math.max(assignTop, 2) else assignTop
        val multi = multiAssignRows(
          a.select(col("vec_id"), col("cand_emb")),
          idx.centroids, effTop, assignMargin)
          .select("vec_id", "acid")
        val slim = a.select(col("vec_id"), col("cand_emb"), col("cnorm"))
        multi.as("x")
          .join(multi.as("y"),
            col("x.acid") === col("y.acid") && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
          .distinct()
          .join(
            slim.select(
              col("vec_id").as("vec_a"), col("cand_emb").as("_ea"),
              col("cnorm").as("_na")), "vec_a")
          .join(
            slim.select(
              col("vec_id").as("vec_b"), col("cand_emb").as("_eb"),
              col("cnorm").as("_nb")), "vec_b")
          .withColumn(
            "cos",
            expr(VectorExprs.dotSpark("_ea", "_eb")) / (col("_na") * col("_nb")))
          .filter(floor(lit(1000000.0) * col("cos")).cast("long") >= minCosPpm)
          .select("vec_a", "vec_b")
      }
    // ADAPTIVE clustering (the components() contract): min-label
    // propagation for the near-clique duplicate groups this operator
    // usually sees, with the O(log n)-round star fallback for
    // transitive cosine chains whose diameter outruns the round
    // budget — a hot component must degrade to the slower algorithm,
    // never abort the job
    val labels = graft.operators.ConnectedComponents
      .components(pairs, "vec_a", "vec_b",
        propagateRounds = propagateRounds, numPartitions = numPartitions)
      .withColumnRenamed("node", "vec_id")
    // Singletons never appear in the edge list: they become their own
    // component via the coalesce and trivially win their window.
    val w = Window.partitionBy("component").orderBy(col("dc").desc, col("vec_id").asc)
    a.join(labels, Seq("vec_id"), "left")
      .withColumn("component", coalesce(col("component"), col("vec_id")))
      .withColumn("keep", row_number().over(w) === 1)
      .select("vec_id", "cid", "component", "keep")
  }

  /** The multi-assignment candidate rows — [[semanticDedup]]'s
    * top-k/margin gate as a standalone frame (vec_id, acid, _rn),
    * `private[graft]` so the scale bench counts secondary rows
    * through the OPERATOR's own gate instead of a re-spelling that
    * could silently drift (review r15). `vectors` carries
    * (vec_id, cand_emb); `_rn` is the per-vector nearest-centroid
    * rank, so `_rn > 1` rows are exactly the extra candidates the
    * dial admits.
    */
  private[graft] def multiAssignRows(
      vectors: DataFrame,
      centroids: DataFrame,
      effTop: Int,
      assignMargin: Option[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byD = Window.partitionBy("vec_id").orderBy(col("_d"), col("acid"))
    val m0 = vectors
      .crossJoin(broadcast(
        centroids.select(col("cid").as("acid"), col("cemb").as("_ce"))))
      .withColumn("_d", expr(VectorExprs.l2sqSpark("cand_emb", "_ce")))
      .withColumn("_rn", row_number().over(byD))
      .filter(col("_rn") <= effTop)
    (assignMargin match {
      case None => m0
      case Some(m) =>
        m0.withColumn("_d1", min(col("_d")).over(Window.partitionBy("vec_id")))
          .filter(col("_rn") === 1 || col("_d") - col("_d1") < m)
    }).select("vec_id", "acid", "_rn", "_d")
  }

  /** The d₂−d₁ assignment-gap LOW QUANTILES of a corpus under the
    * same deterministic clustering [[semanticDedup]] uses — the
    * margin-selection probe (r15 verdict task #5). SCALE.md's sweep
    * guidance says pick `assignMargin` from the gap distribution's
    * low quantiles (the boundary band where cluster-split near-dup
    * pairs live); this turns the advice into an API: one
    * [[multiAssignRows]] pass at top-2 over the per-vector distance
    * table the operator already materializes, one exact `percentile`
    * aggregate. Returns (quantile, margin) rows — setting
    * `assignMargin` to the margin at quantile q admits a second
    * assignment for ≈ q·|corpus| vectors, which is the
    * candidate-volume driver in the sweep table (n_secondary), so the
    * quantile IS the cost dial. Exact percentile, not approx: the
    * probe is one aggregate over |corpus| doubles and the chosen
    * margin feeds a strict inequality — a sketch's rank error would
    * silently move the admitted fraction.
    */
  def assignMarginProbe(
      emb: DataFrame,
      quantiles: Seq[Double] = Seq(0.001, 0.01, 0.05, 0.1),
      centroidMod: Int = 50,
      idCol: String = "vec_id"): DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0, 1], got $quantiles")
    val idx = SimilaritySearch.buildIndex(
      emb, centroidMod = centroidMod, idCol = idCol)
    val gaps = multiAssignRows(
        idx.assignments.select(col("cand_id").as("vec_id"), col("cand_emb")),
        idx.centroids, effTop = 2, assignMargin = None)
      .groupBy("vec_id")
      // top-2 rows per vector: max − min IS d₂ − d₁ (single-centroid
      // corpora degenerate to gap 0 — no second assignment exists, so
      // every margin admits nothing, which the 0 correctly signals)
      .agg((max(col("_d")) - min(col("_d"))).as("gap"))
    val qArr = quantiles.map(_.toString).mkString(", ")
    gaps
      .agg(expr(s"percentile(gap, array($qArr))").as("m"))
      .select(posexplode(col("m")).as(Seq("i", "margin")))
      .select(
        element_at(
          array(quantiles.map(lit): _*), col("i").cast("int") + 1).as("quantile"),
        col("margin"))
  }

  /** [[semanticDedup]]'s INCREMENTAL form — the ingest shape shared
    * with [[minhashPairsAgainst]] / [[embeddingPairsAgainst]]: assign
    * a NEW vector batch to the corpus's FROZEN centroids (the faiss
    * `add` semantics [[SimilaritySearch.appendToIndex]] uses) and
    * compare each new vector against the corpus members of ITS
    * cluster only — O(batch × cluster-size) cosine refines, never
    * O(batch × corpus). THIS form also (re)builds the corpus index,
    * so it pays one O(corpus) clustering pass; steady-state loops use
    * [[semanticDedupAgainstIndex]] with a prebuilt (or
    * [[SimilaritySearch.readIndex]]-loaded) index so each ingest
    * costs only the batch-side work.
    *
    * Returns (new_id, corpus_id, cos_ppm) near-dup pairs, the
    * [[embeddingPairsAgainst]] contract with cluster-structured
    * candidates instead of LSH bands.
    */
  def semanticDedupAgainst(
      newEmb: DataFrame,
      corpus: DataFrame,
      centroidMod: Int = 50,
      minCosPpm: Long = 995000L,
      idCol: String = "vec_id"): DataFrame =
    // convenience form: builds the corpus index IN this call — fine
    // for one-shot probes, but a steady-state ingest loop must pay
    // the corpus clustering once, not per batch: build (or
    // SimilaritySearch.readIndex) the index up front and call
    // [[semanticDedupAgainstIndex]] per batch
    semanticDedupAgainstIndex(
      newEmb,
      SimilaritySearch.buildIndex(corpus, centroidMod = centroidMod, idCol = idCol),
      minCosPpm, idCol)

  /** [[semanticDedupAgainst]] over a PREBUILT corpus index — the
    * steady-state form: per ingest this costs one broadcast-centroid
    * assignment pass over the batch plus the cid equi-join against
    * the stored assignments, with the corpus side PRUNED to the lists
    * the batch actually touches (an isin over the batch's assigned
    * cids — on a written layout that is static partition pruning, so
    * the scan AND the join's corpus input are Σ|touched lists|, the
    * SemDeDup co-assignment contract); the corpus is never
    * re-clustered or re-scanned whole. Pairs with
    * [[SimilaritySearch.writeIndex]]/[[SimilaritySearch.readIndex]]
    * for the persisted layout, exactly like the minhash family's
    * band-table probe.
    */
  /** `maxCorpusVecsPerList` is the ingest family's hot-bucket cap on
    * the clustering's own buckets (the semantic twin of
    * `maxCorpusDocsPerBand`/`maxCorpusDocsPerSegment`): the corpus
    * side of the probe keeps the cap smallest corpus_ids per touched
    * list, so a degenerate-encoder spike accumulated in the state
    * (one constant embedding → one list holding the whole flood)
    * rejects re-arriving copies at O(cap) fan-out per batch vector
    * instead of O(|accumulated spike|). Cosine-identical list members
    * are interchangeable for the rejection decision; merely-similar
    * members past the cap may lose pairs (the family's recall dial).
    */
  def semanticDedupAgainstIndex(
      newEmb: DataFrame,
      index: SimilaritySearch.IvfIndex,
      minCosPpm: Long = 995000L,
      idCol: String = "vec_id",
      maxCorpusVecsPerList: Int = 0): DataFrame = {
    graft.functions.VecDot.register(newEmb.sparkSession)
    // persisted: the assign pass feeds both the touched-list collect
    // and the pair join (the codes-backed verb's discipline, r18) —
    // and the touched-cid isin makes the corpus-side prune STATIC:
    // on a written layout the assignments scan partition-prunes to
    // the batch's lists at plan time, where the bare cid equi-join
    // left the planner a full corpus scan + shuffle per ingest
    // (runtime DPP needs a broadcast side the batch frame's unknown
    // stats don't offer). Driver-resident by the driftReport
    // argument: bounded by nLists ≈ sqrt(corpus).
    val newA = persistTracked(
      SimilaritySearch.assignVectors(index.centroids, newEmb, idCol).select(
        col("cand_id").as("new_id"), col("cid"),
        col("cand_emb").as("ne"), col("cnorm").as("nn")))
    val touched = newA.select(col("cid").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val corpusA = capBucketRows(
      index.assignments
        .filter(
          if (touched.isEmpty) lit(false)
          else col("cid").cast("long").isin(touched: _*))
        .select(
          col("cand_id").as("corpus_id"), col("cid"),
          col("cand_emb").as("ce"), col("cnorm").as("cn")),
      Seq("cid"), maxCorpusVecsPerList, idCol = "corpus_id")
    newA.join(corpusA, "cid")
      .withColumn(
        "cos",
        expr(VectorExprs.dotSpark("ne", "ce")) / (col("nn") * col("cn")))
      .withColumn("cos_ppm", floor(lit(1000000.0) * col("cos")).cast("long"))
      .filter(col("cos_ppm") >= minCosPpm)
      .select("new_id", "corpus_id", "cos_ppm")
  }

  /** [[semanticDedupAgainstIndex]] against a written IVFADC layout —
    * the CODES-ONLY form of the persisted semantic state (r16 verdict
    * task #6): the corpus side carries PQ codes + frozen codebooks
    * (~m bytes a vector) instead of full float embeddings, and the
    * probe scores each new FLOAT vector against the co-assigned
    * corpus vectors' RECONSTRUCTIONS
    * ([[graft.operators.SimilaritySearch.reconstructWrittenCodes]]).
    * Same pairing semantics, threshold, and fixed-point ppm floor as
    * the float verb; the cosine is asymmetric by design (float query
    * × reconstructed corpus — the ADC orientation), which is exactly
    * the arrival orientation the ingest stage needs: the corpus side
    * is always the no-later arrival.
    *
    * Scale shape (r17 verdict's O(corpus) finding, fixed): one
    * broadcast coarse-assign pass over the batch, then EVERYTHING
    * corpus-side is pruned to the lists the batch actually touches —
    * code rows carry `cid` as a partition column (stamped at encode
    * time), so the reconstruction's posexplode/groupBy fan-out runs
    * over Σ|touched lists| rows
    * ([[SimilaritySearch.reconstructWrittenCodesForCids]]), and the
    * assignment scan partition-prunes to the same lists. The probe's
    * corpus cost is the SemDeDup contract — co-assigned mass only —
    * however large the full corpus grows (ProbePqProbeScale measures
    * the reconstruction input rows staying flat while the corpus
    * grows; SCALE.md). The touched-cid set is driver-resident by the
    * driftReport argument: bounded by nLists ≈ sqrt(corpus). No
    * corpus float vectors anywhere in the plan.
    */
  /** `maxCorpusVecsPerList` — see [[semanticDedupAgainstIndex]]: the
    * same corpus-side list cap, applied BEFORE reconstruction, so a
    * hot list's decode bill also drops to the cap (the codes-backed
    * form pays per reconstructed row). "Before" is literal since r19:
    * the capped representative ids are pushed into
    * [[SimilaritySearch.reconstructWrittenCodesForCids]] as a
    * broadcast semi-join BELOW its posexplode/groupBy (an inner join
    * above that aggregate is not pushable by Catalyst — ADVICE r18),
    * so only cap×|touched lists| code rows decode.
    */
  def semanticDedupAgainstPqIndex(
      newEmb: DataFrame,
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      minCosPpm: Long = 995000L,
      idCol: String = "vec_id",
      maxCorpusVecsPerList: Int = 0): DataFrame = {
    graft.functions.VecDot.register(spark)
    val coarse = SimilaritySearch.readIndex(spark, dir)
    // persisted: the assign pass feeds both the touched-list collect
    // and the pair join — one broadcast pass over the batch, not two
    val newA = persistTracked(
      SimilaritySearch.assignVectors(coarse.centroids, newEmb, idCol).select(
        col("cand_id").as("new_id"), col("cid"),
        col("cand_emb").as("ne"), col("cnorm").as("nn")))
    val touched = newA.select(col("cid").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    // capped representatives computed ONCE (tracked persist when the
    // cap is live: the frame feeds both the pair join and the decode's
    // id filter; uncapped it is a bare pruned scan read once — no
    // persist, plan unchanged)
    val reps0 = capBucketRows(
      coarse.assignments
        .filter(
          if (touched.isEmpty) lit(false)
          else col("cid").cast("long").isin(touched: _*))
        .select(col("cand_id").as("corpus_id"), col("cid")),
      Seq("cid"), maxCorpusVecsPerList, idCol = "corpus_id")
    val reps = if (maxCorpusVecsPerList > 0) persistTracked(reps0) else reps0
    val corpusA = reps
      .join(
        SimilaritySearch
          .reconstructWrittenCodesForCids(
            spark, dir, touched,
            idFilter =
              if (maxCorpusVecsPerList > 0)
                Some(reps.select(col("corpus_id").as("cand_id")))
              else None)
          .select(col("cand_id").as("corpus_id"), col("recon").as("ce")),
        Seq("corpus_id"))
      .withColumn("cn", expr(s"sqrt(${VectorExprs.dotSpark("ce", "ce")})"))
    newA.join(corpusA, "cid")
      // a direction the frozen codebooks never saw reconstructs to
      // the zero vector — its cosine is undefined and it can claim
      // nothing; without the guard the division is an ANSI
      // DIVIDE_BY_ZERO job failure (spec-pinned fixture)
      .filter(col("nn") > 0.0 && col("cn") > 0.0)
      .withColumn(
        "cos",
        expr(VectorExprs.dotSpark("ne", "ce")) / (col("nn") * col("cn")))
      .withColumn("cos_ppm", floor(lit(1000000.0) * col("cos")).cast("long"))
      .filter(col("cos_ppm") >= minCosPpm)
      .select("new_id", "corpus_id", "cos_ppm")
  }

  /** Train/eval SPLIT-LEAKAGE repair — the within-corpus sibling of
    * benchmark decontamination: a near-duplicate pair straddling the
    * train/eval boundary leaks training signal into evaluation no
    * matter how clean the benchmark set is. Given the corpus with its
    * split assignment and a near-dup pair list (any of the
    * [[minhashPairs]] / [[embeddingPairs]] / [[semanticDedup]]
    * families), connect the pairs into components and re-home each
    * component WHOLE to the highest-priority split any member holds —
    * `priority` head wins, so `Seq("train", "valid", "test")` pulls
    * every leaky group out of evaluation (transitive chains included;
    * pair-local fixes miss A–B–C bridges).
    *
    * Scale shape: label propagation on the pair list plus one window
    * over (id, split, component) rows — id-width shuffles only, the
    * corpus text never moves. The distinct-split guard is a
    * driver-side localization of a by-contract tiny set (splits are a
    * handful), failing fast on a split name missing from `priority`
    * rather than silently re-homing it.
    *
    * Returns (idCol, split, split_repaired, leaked).
    */
  def repairSplitLeakage(
      corpus: DataFrame,
      pairs: DataFrame,
      priority: Seq[String],
      idCol: String = "doc_id",
      splitCol: String = "split",
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      numPartitions: Option[Int] = None,
      propagateRounds: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(priority.nonEmpty && priority.distinct == priority,
      s"priority must be a non-empty list of distinct split names, got $priority")
    require(corpus.columns.contains(splitCol) && corpus.columns.contains(idCol),
      s"corpus needs ($idCol, $splitCol), got ${corpus.columns.mkString(", ")}")
    // the propagation casts node ids to LONG; a string id would
    // silently NULL out and report zero leakage — guard at the
    // SCHEMA level (no job) rather than discover it in the output
    def integral(df: DataFrame, c: String): Boolean =
      df.schema.find(_.name == c).exists(f => f.dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => true
        case _ => false
      })
    require(integral(corpus, idCol) && integral(pairs, aCol) && integral(pairs, bCol),
      s"repairSplitLeakage needs integral ids ($idCol / $aCol / $bCol) — " +
        "string ids would cast to NULL inside the component propagation and " +
        "read as zero leakage; map ids to longs first")
    def lit1(s: String) = s"'${s.replace("'", "''")}'"
    // fail-fast totality is LAZY (no separate scan): a split value
    // missing from the ranking aborts the main job on first contact
    val pidxCase = priority.zipWithIndex
      .map { case (s, i) => s"WHEN `$splitCol` = ${lit1(s)} THEN $i" }
      .mkString(
        "CASE ", " ",
        s" ELSE CAST(raise_error(concat('split value ', `$splitCol`, " +
          "' not in the priority list — every split must be ranked so the " +
          "repair is total')) AS INT) END")
    val backCase = priority.zipWithIndex
      .map { case (s, i) => s"WHEN $i THEN ${lit1(s)}" }
      .mkString("CASE _widx ", " ", " END")
    val labels = graft.operators.ConnectedComponents
      .components(pairs, aCol, bCol,
        propagateRounds = propagateRounds, numPartitions = numPartitions)
      .withColumnRenamed("node", idCol)
    corpus
      .select(col(idCol), col(splitCol).cast("string").as(splitCol))
      .join(labels, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("_pidx", expr(pidxCase))
      .withColumn("_widx", min(col("_pidx")).over(Window.partitionBy("component")))
      .select(
        col(idCol),
        col(splitCol).as("split"),
        expr(backCase).as("split_repaired"))
      .withColumn("leaked", col("split") =!= col("split_repaired"))
  }

  /** Cluster-apply with a QUALITY policy: keep the best-scoring
    * member of each near-dup cluster instead of the minimum id. The
    * min-id apply (q_dedup_apply) is arbitrary about WHICH copy
    * survives; a curation run wants the longest / highest-quality
    * member — pass any numeric `scoreCol` (length, quality_ppm,
    * naturalness_ppm) and the canonical member is argmax(score),
    * ties broken by minimum id for determinism. Singletons never
    * enter the label frame and pass through untouched.
    *
    * Shape: adaptive connected components over the pair list
    * ([[graft.operators.ConnectedComponents.components]]: min-label
    * propagation, with the O(log n)-round star fallback if the pair
    * graph turns out to have long transitive chains — identical
    * labels either way), one score join, one per-component window,
    * one anti-join — every stage keyed and partitionable; nothing
    * driver-side.
    */
  def applyKeepBest(
      corpus: DataFrame,
      pairs: DataFrame,
      scoreCol: String,
      idCol: String = "doc_id",
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      numPartitions: Option[Int] = None,
      propagateRounds: Int = 8): DataFrame =
    applyKeepBestWithLabels(
      corpus,
      graft.operators.ConnectedComponents
        .components(pairs, aCol, bCol, propagateRounds = propagateRounds,
          numPartitions = numPartitions),
      scoreCol, idCol)

  /** [[applyKeepBest]] over PRECOMPUTED cluster labels (a
    * `(node, component)` frame) — the pipeline-sharing form: one
    * label propagation feeds clusters, min-id apply, and every
    * keep-best policy without re-running the iteration per consumer.
    */
  def applyKeepBestWithLabels(
      corpus: DataFrame,
      labels: DataFrame,
      scoreCol: String,
      idCol: String = "doc_id"): DataFrame = {
    require(corpus.columns.contains(scoreCol) && corpus.columns.contains(idCol),
      s"corpus needs ($idCol, $scoreCol), got ${corpus.columns.mkString(", ")}")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("component")
      .orderBy(col("_score").desc, col("node").asc)
    val losers = labels
      .join(corpus.select(col(idCol).as("node"), col(scoreCol).as("_score")), "node")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") =!= 1)
      .select(col("node").as(idCol))
    corpus.join(losers, Seq(idCol), "left_anti")
  }
}
