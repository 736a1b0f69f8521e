package graft.pipelines

import scala.util.chaining._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, Dedup, Multimodal, Sampling, SimilaritySearch, TextAnalysis}

/** The composed training-export pipeline as a first-class operator:
  * curate → dedup → [span surgery] → decontaminate → budget-mixture →
  * shard — the full path a pre-training corpus takes from raw
  * documents to the trainer's shard layout, assembled as ONE
  * declarative plan (no stage materializes; Catalyst fuses the
  * left-semi/anti gates into a single optimized tree — PlanSpec pins
  * the exchange budget).
  *
  * Every stage is a [[Config]] toggle, because real corpus runs mix
  * and match: a pre-curated corpus skips the funnel, an
  * exact-dedup'd ingest wants only the near-dup pass, an evals-free
  * domain skips decontamination. Stage semantics (and the DuckDB
  * oracle replay in q_pipeline_train_export / _neardup) are
  * unchanged from the round-8/9 inline compositions this operator
  * was extracted from.
  *
  * Scale shape: the dominant costs are the dedup stage (banded
  * equi-join candidates + O(diameter) label propagation — see
  * [[graft.operators.Dedup]] / [[ConnectedComponents]]) and the
  * mixture window (one hash shuffle per stratum set). Everything
  * else is left-semi gates on doc_id — broadcast-able once the
  * funnel has cut the corpus.
  */
object TrainingExport {

  /** Dedup stage strength. */
  sealed trait DedupStage
  /** Corpus is already unique — stage off. */
  case object DedupOff extends DedupStage
  /** Exact text dedup: keep each text's canonical (min-id) doc. */
  case object DedupExact extends DedupStage
  /** MinHash-LSH near-dup: candidate pairs → connected components →
    * drop every non-canonical cluster member. `numPartitions` sizes
    * the propagation frames to the EDGE list (see
    * [[ConnectedComponents.labelPropagate]]). The clustering
    * algorithm is chosen ADAPTIVELY ([[ConnectedComponents.components]]):
    * min-label propagation first (the cheaper-per-round winner on
    * near-clique duplicate clusters, which converge in 2-3 rounds),
    * falling back to the O(log n)-round large-star/small-star
    * alternation if propagation hasn't converged within
    * `propagateRounds` — the signature of transitive near-dup chains
    * giving the similarity graph unbounded diameter (the 100 TB
    * shape). Both algorithms emit identical labels (spec-pinned), so
    * nobody has to guess their corpus's chain structure up front.
    */
  /** `maxDocsPerBand` is the hot-bucket dial (0 = off): the batch
    * stage runs [[Dedup.minhashPairs]]'s star cap (a bucket past the
    * cap contributes |bucket|−1 hub edges — identical-copy components
    * unchanged, which is all this stage consumes), and the ingest
    * stage caps the state probe's corpus side at the cap smallest
    * doc_ids per bucket ([[Dedup.minhashPairsAgainstBandTable]]) —
    * bounding a boilerplate template's per-ingest candidate fan-out
    * at O(cap) instead of O(|corpus copies|).
    */
  final case class DedupNearDup(
      numPartitions: Option[Int] = None,
      propagateRounds: Int = 8,
      maxDocsPerBand: Int = 0) extends DedupStage
  /** SimHash near-dup: 30-bit fingerprint pairs within source blocks
    * at `maxHamming` ([[Dedup.simhashPairs]] — pigeonhole equi-join
    * candidates, exact bit_count refine) → connected components →
    * drop every non-canonical member. The cheaper-per-pair
    * alternative to [[DedupNearDup]] when the near-dup definition is
    * "small token-level drift" rather than set overlap: fingerprints
    * are one codegen'd scan, candidates shuffle 8-byte rows, and the
    * source blocking bounds incidental pairing (see FIXTURES.md on
    * why text SimHash must block).
    */
  /** `maxDocsPerSegment` is [[DedupNearDup]]'s hot-bucket dial at the
    * SimHash granularity (0 = off): batch stage and within-batch
    * ingest pass run [[Dedup.simhashPairs]]'s segment-bucket star
    * (hub = min id, the orientation both consumers need), and the
    * state probe caps its corpus side at the cap smallest doc_ids
    * per bucket ([[Dedup.simhashPairsAgainst]]).
    */
  final case class DedupSimHash(
      maxHamming: Int = 4,
      numPartitions: Option[Int] = None,
      propagateRounds: Int = 8,
      maxDocsPerSegment: Int = 0) extends DedupStage

  /** Budget currency for the mixture stage. */
  sealed trait BudgetCurrency
  /** Budgets denominated in characters (`n_chars` — the raw proxy). */
  case object BudgetChars extends BudgetCurrency
  /** Budgets denominated in REAL WordPiece tokens under `vocab` — the
    * currency a trainer actually bills in (whitespace/char proxies
    * mis-state subword costs by 1.3-1.5×). Costs one extra codegen'd
    * byte-scan projection over the CLEAN subset (post-funnel, dedup,
    * decontamination — the cheapest place to tokenize); the mixture
    * window itself is unchanged, so no additional shuffle.
    */
  final case class BudgetWordPieceTokens(
      vocab: Seq[String] = TextAnalysis.wordpieceVocab()) extends BudgetCurrency

  /** @param curate language/quality/length/repetition funnel on or off
    * @param lineRules line-level Gopher gates
    *   ([[TextAnalysis.lineStats]]: bullet/ellipsis/duplicate-line
    *   ratios) on or off — off by default because single-line corpora
    *   pass them trivially; turn on for real multi-line web text
    * @param dedup [[DedupStage]] strength
    * @param paragraphDedup CCNet/C4 paragraph-granularity dedup
    *   ([[Dedup.paragraphDedup]]): repeated normalized lines are cut
    *   corpus-wide (first (doc_id, pos) occurrence wins) and every
    *   doc is rebuilt from its surviving lines. Runs AFTER the
    *   doc-level gate and BEFORE span surgery — coarse cuts first,
    *   so the span self-join never pays for whole duplicated lines.
    *   Rewrites text, so downstream stages (span surgery,
    *   decontamination, budgets) read the rebuilt corpus
    * @param spanDedup substring-level dedup (Lee et al. 2022
    *   ExactSubstr): when Some(minTokens), repeated ≥minTokens-token
    *   spans are CUT from the later occurrence
    *   ([[Dedup.removeRepeatedSpans]], keep-first) after the doc-level
    *   dedup gate, and the REWRITTEN text flows into every later
    *   stage — decontamination sees the post-surgery n-grams and the
    *   budget mixture bills post-surgery chars/tokens (`n_chars` is
    *   recomputed from the rewritten text). None (default) = stage
    *   off, prior behavior byte-identical
    * @param semanticDedup SemDeDup embedding-granularity dedup
    *   ([[Dedup.semanticDedup]]): the EMBEDDING-granularity stage,
    *   composed LAST of the dedup granularities (doc-level exact/
    *   near-dup first, then paragraph, then span, then this) — it
    *   clusters the embeddings of the docs still alive after text
    *   surgery and drops every non-representative member of a
    *   semantic component. Docs WITHOUT an embedding row pass
    *   through untouched (an embedding-free doc cannot be
    *   semantically deduped). Requires the `embeddings` frame on
    *   [[run]] — embeddings are data, like the benchmark frame
    * @param mediaDedup MEDIA-granularity dedup (Some(maxHamming)):
    *   the byte-and-pixel stage, composed after every text/embedding
    *   granularity — a multimodal corpus dedups its payloads inside
    *   the one declarative plan (r15 verdict task #1). Two passes
    *   over the media of the docs still alive: EXACT byte dedup
    *   first ([[Dedup.mediaDedupExact]] — fingerprints of the raw
    *   payload, no decode, so re-shipped assets drop before anything
    *   pays decode cost — the 100 TB ordering), then PERCEPTUAL
    *   near-dup on the survivors ([[graft.operators.Multimodal
    *   .perceptualHashPairs]] at `maxHamming` → connected components
    *   → drop every non-canonical member, the q_dedup_media_apply
    *   chain). Docs WITHOUT a media row pass through untouched (the
    *   anti-join-on-droppers shape the semantic stage uses). Requires
    *   the `media` frame on [[run]] — media is data, like embeddings
    * @param mediaMaxDocsPerSegment the media stage's hot-bucket dial
    *   (0 = off; [[DedupSimHash]]'s `maxDocsPerSegment` at dHash
    *   granularity): batch pairs and the within-batch ingest pass run
    *   the segment-bucket star, and the ingest state probe caps its
    *   corpus side — an asset farm re-shipping one payload rejects at
    *   O(cap) fan-out instead of O(accumulated copies)
    * @param contaminationMaxPpm keep docs strictly under this
    *   benchmark n-gram overlap (None = stage off). The benchmark
    *   frame is a [[run]] argument, not config — it's data.
    * @param budgets per-source budgets for the mixture stage
    *   (empty = stage off: every clean doc ships), denominated in
    *   `budgetCurrency`
    * @param defaultBudget budget for sources not named in `budgets`
    * @param budgetCurrency chars (default, the historical contract)
    *   or WordPiece tokens
    * @param numShards training-shard fan-out; shard AND intra-shard
    *   order are pure hash functions (reproducible, no RNG)
    */
  final case class Config(
      curate: Boolean = true,
      lineRules: Boolean = false,
      dedup: DedupStage = DedupExact,
      paragraphDedup: Boolean = false,
      spanDedup: Option[Int] = None,
      semanticDedup: Boolean = false,
      semanticPq: Boolean = false,
      mediaDedup: Option[Int] = None,
      mediaMaxDocsPerSegment: Int = 0,
      contaminationMaxPpm: Option[Long] = Some(500000L),
      budgets: Seq[(String, Long)] = Nil,
      defaultBudget: Long = Long.MaxValue,
      budgetCurrency: BudgetCurrency = BudgetChars,
      numShards: Int = 8)

  /** Run the pipeline over `docs` (schema: doc_id, source, text,
    * n_chars). Returns (shard, seq, doc_id, source) — the trainer's
    * manifest; pair with [[Sampling.writeShards]] for the on-disk
    * layout. The engine's char-hash of doc_id (the hash of the inline
    * queries this was extracted from) drives BOTH the mixture order
    * and the shard placement. `embeddings` (vec_id keyed by doc_id,
    * embedding) is required only when `cfg.semanticDedup` is
    * on — like `benchmark`, it's data, not config.
    */
  def run(
      docs: DataFrame,
      benchmark: => DataFrame,
      cfg: Config,
      embeddings: => DataFrame = null,
      media: => DataFrame = null): DataFrame = {
    require(cfg.numShards >= 1, s"numShards must be >= 1, got ${cfg.numShards}")
    graft.functions.PolyHash.register(docs.sparkSession)
    val h = graft.functions.TextExprs.charHashSpark("CAST(doc_id AS STRING)")
    val clean = cleanDocs(docs, benchmark, cfg, embeddings, media)
    val sampled =
      if (cfg.budgets.isEmpty) clean.select("doc_id", "source")
      else {
        val weighted = cfg.budgetCurrency match {
          case BudgetChars =>
            clean.select(col("doc_id"), col("source"), col("n_chars").as("_weight"))
          case BudgetWordPieceTokens(vocab) =>
            // ONE scan of the clean subset: source rides the wordpiece
            // projection as a passthrough column (no self-join)
            TextAnalysis
              .wordpieceStats(clean, vocab = vocab, passthroughCols = Seq("source"))
              .select(col("doc_id"), col("source"), col("n_tokens").as("_weight"))
        }
        Sampling.mixtureByBudget(
          weighted, "source", "_weight", h, "doc_id", cfg.budgets, cfg.defaultBudget)
          .select("doc_id", "source")
      }
    Sampling.shardForTraining(sampled, "doc_id", h, cfg.numShards)
      .select("shard", "seq", "doc_id", "source")
  }

  /** The STATELESS per-document gates — funnel and (optionally) line
    * rules — shared by the batch front ([[cleanDocs]]) and the
    * steady-state ingest ([[runIngest]]): both are pure functions of
    * one document, so batch and incremental runs apply them
    * identically.
    */
  private def gateDocs(docs: DataFrame, cfg: Config): DataFrame = {
    val funneled =
      if (!cfg.curate) docs
      else docs.join(
        TextAnalysis.curationFunnel(docs)
          .filter(col("verdict") === "keep").select("doc_id"),
        Seq("doc_id"), "left_semi")
    if (!cfg.lineRules) funneled
    else funneled.join(
      TextAnalysis.lineStats(funneled)
        .filter(col("line_verdict") === "keep").select("doc_id"),
      Seq("doc_id"), "left_semi")
  }

  /** The shared curation front of [[run]] and [[runChunks]]: every
    * DOCUMENT-granularity stage — funnel, line rules, doc dedup,
    * paragraph rebuild, span surgery, semantic dedup, decontamination
    * — leaving the clean corpus (doc_id, source, text, n_chars) whose
    * text is exactly what ships (or gets chunked).
    */
  private def cleanDocs(
      docs: DataFrame,
      benchmark: => DataFrame,
      cfg: Config,
      embeddings: => DataFrame,
      media: => DataFrame = null): DataFrame = {
    val kept = gateDocs(docs, cfg)
    val deduped = cfg.dedup match {
      case DedupOff => kept
      case DedupExact =>
        kept.join(
          Dedup.exact(kept).select(col("canonical_doc_id").as("doc_id")),
          Seq("doc_id"), "left_semi")
      case DedupNearDup(np, rounds, cap) =>
        val pairs = Dedup.minhashPairs(kept, maxDocsPerBand = cap)
        val labels = ConnectedComponents.components(
          pairs, "doc_a", "doc_b", propagateRounds = rounds, numPartitions = np)
        kept.join(
          labels.filter(col("node") =!= col("component"))
            .select(col("node").as("doc_id")),
          Seq("doc_id"), "left_anti")
      case DedupSimHash(mh, np, rounds, cap) =>
        val pairs = Dedup.simhashPairs(kept, maxHamming = mh, maxDocsPerSegment = cap)
        val labels = ConnectedComponents.components(
          pairs, "doc_a", "doc_b", propagateRounds = rounds, numPartitions = np)
        kept.join(
          labels.filter(col("node") =!= col("component"))
            .select(col("node").as("doc_id")),
          Seq("doc_id"), "left_anti")
    }
    val paraged =
      if (!cfg.paragraphDedup) deduped
      else {
        // rebuilt text + recomputed n_chars flow into everything
        // downstream, exactly like the span stage's contract. The
        // PRODUCTION fingerprint form (hash-width shuffles, skew-safe
        // min_by first-occurrence; q_dedup_paragraph_fp pins its
        // equality with the text-keyed semantics reference)
        val rebuilt = Dedup.paragraphDedup(
          deduped, passthroughCols = Seq("source"), byFingerprint = true)
          .select(
            col("doc_id"), col("source"),
            col("text_deduped").as("text"),
            length(col("text_deduped")).cast("long").as("n_chars"))
        // materialized ONLY when the span stage follows: the span
        // self-join and the removal base each re-read their input, and
        // re-computing the rebuild (agg + fingerprint join + reassembly)
        // per read loses — unlike the raw-corpus case, where caching
        // measured slower than recomputing the codegen'd gates (see the
        // span stage's cache note)
        if (cfg.spanDedup.isDefined) rebuilt.localCheckpoint(true) else rebuilt
      }
    val spanned = cfg.spanDedup match {
      case None => paraged
      case Some(minTok) =>
        // the surgery REWRITES text, so it must land before anything
        // that reads it: decontamination n-grams and token budgets
        // are computed over what actually ships to the trainer.
        // NOT cached although the span self-join, the removal base,
        // and decontamination each re-read the deduped subtree —
        // measured at sf0.1 (best-of-3): caching it cut exchanges
        // 11→7 but cost 6.7→8.8 s wall; materializing the
        // text-bearing corpus loses to recomputing the codegen'd
        // funnel gates, the same verdict as the span position table
        Dedup
          .removeRepeatedSpans(
            paraged, Dedup.repeatedSpanPairs(paraged, minTok),
            passthroughCols = Seq("source"))
          .select(
            col("doc_id"), col("source"),
            col("clean_text").as("text"),
            length(col("clean_text")).cast("long").as("n_chars"))
    }
    val semantic =
      if (!cfg.semanticDedup) spanned
      else {
        // the embedding granularity composes LAST of the dedup
        // stages: cluster the embeddings of the docs still alive
        // after text surgery (a dropped doc must not hold a semantic
        // component's keeper slot), drop every non-representative
        // member. The anti-join on DROPPERS — not a semi-join on
        // keepers — is what lets embedding-free docs pass through.
        val emb = embeddings
        require(
          emb != null,
          "cfg.semanticDedup is on but no embeddings frame was passed to run()")
        val live = emb.join(
          spanned.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        spanned.join(
          Dedup.semanticDedup(live)
            .filter(!col("keep"))
            .select(col("vec_id").as("doc_id")),
          Seq("doc_id"), "left_anti")
      }
    // materialized ONLY when the media stage follows AND the text
    // subtree above is expensive (a rewriting stage — paragraph or
    // span — is on): the media stage reads this frame on THREE plan
    // branches (the live-media semi-join, the final anti-join, and
    // everything downstream), and re-computing a rebuild/surgery
    // subtree per branch loses — same verdict as the paragraph
    // stage's span-follows cache. With only cheap gates above
    // (q_pipeline_media_export's shape), recomputing the codegen'd
    // funnel wins, as measured for the span stage.
    val semanticM =
      if (cfg.mediaDedup.isDefined && (cfg.paragraphDedup || cfg.spanDedup.isDefined))
        semantic.localCheckpoint(true)
      else semantic
    val mediaed = cfg.mediaDedup match {
      case None => semanticM
      case Some(maxHamming) =>
        // the media granularity composes LAST of the dedup stages: a
        // doc dropped by any earlier gate must not hold a media
        // cluster's keeper slot, so only the payloads of still-alive
        // docs participate. Two passes, cheap-first: EXACT byte
        // dedup fingerprints raw payloads (no decode — at 100 TB the
        // re-shipped-asset mass drops before anything pays decode),
        // then the perceptual chain decodes only the exact survivors
        // and applies the pairs→components→non-canonical-drop step
        // (q_dedup_media_apply's semantics). Anti-joins on DROPPERS
        // keep media-less docs flowing through untouched.
        val md = media
        require(
          md != null,
          "cfg.mediaDedup is on but no media frame was passed to run()")
        val live = md.join(
          semanticM.select(col("doc_id").as("media_id")),
          Seq("media_id"), "left_semi")
        val exactDroppers = Dedup.mediaDedupExact(live)
          .filter(!col("keep"))
          .select(col("media_id"))
          // tiny by construction (the duplicated-asset mass), read by
          // BOTH the doc anti-join and the perceptual input mask
          .pipe(Dedup.persistTracked)
        val liveExact = live.join(exactDroppers, Seq("media_id"), "left_anti")
        val labels = ConnectedComponents.labelPropagate(
          Multimodal.perceptualHashPairs(liveExact, maxHamming = maxHamming,
            maxDocsPerSegment = cfg.mediaMaxDocsPerSegment),
          "media_a", "media_b")
        val perceptualDroppers = labels
          .filter(col("node") =!= col("component"))
          .select(col("node").as("media_id"))
        semanticM.join(
          exactDroppers.unionByName(perceptualDroppers)
            .select(col("media_id").as("doc_id")),
          Seq("doc_id"), "left_anti")
    }
    cfg.contaminationMaxPpm match {
      case None => mediaed
      case Some(maxPpm) =>
        mediaed.join(
          TextAnalysis.contamination(mediaed, benchmark)
            .filter(col("contamination_ppm") < maxPpm)
            .select("doc_id"),
          Seq("doc_id"), "left_semi")
    }
  }

  /** The CHUNK-granularity export — the RAG-prep shape: run every
    * document-level curation stage ([[cleanDocs]] — the same [[run]]
    * front, so gates, dedup granularities, and decontamination apply
    * to whole documents first), then chunk the clean text
    * ([[TextAnalysis.chunkDocuments]]), drop every non-first
    * occurrence of a duplicated chunk ([[Dedup.chunkDedup]] — the
    * stride-overlap and mirrored-passage pollution a chunk index
    * otherwise ingests), budget the survivors per source (billed in
    * CHUNK TOKENS — the chunker already counted them; no extra
    * tokenize pass), and shard. One declarative plan, like [[run]].
    *
    * Chunk identity rides [[Dedup.packedChunkId]] through the
    * mixture/shard hashing (range-guarded), and is emitted UNPACKED:
    * returns (shard, seq, doc_id, chunk_id, source).
    */
  def runChunks(
      docs: DataFrame,
      benchmark: => DataFrame,
      cfg: Config,
      chunkTokens: Int = 128,
      strideTokens: Int = 96,
      embeddings: => DataFrame = null,
      media: => DataFrame = null): DataFrame = {
    require(cfg.numShards >= 1, s"numShards must be >= 1, got ${cfg.numShards}")
    // chunk budgets bill in the chunker's own token count — rejecting
    // the WordPiece currency beats silently billing a different one
    // (review r15: a Config migrated from run() would otherwise admit
    // 1.3-2x the text its budgets specify, with no error anywhere)
    require(cfg.budgetCurrency == BudgetChars,
      "runChunks bills budgets in CHUNK TOKENS (the chunker's n_tokens); " +
        "budgetCurrency = BudgetWordPieceTokens is not supported at chunk " +
        "granularity — size the budgets in chunk tokens and keep BudgetChars")
    graft.functions.PolyHash.register(docs.sparkSession)
    // persisted (tracked, Dedup.unpersistAll releases it): the chunks
    // frame feeds chunkDedup's keyed self-aggregation AND the join
    // back, and each branch would otherwise re-evaluate the entire
    // doc-curation subtree — funnel, dedup granularities,
    // decontamination, chunking (ADVICE r15). Unlike the raw-corpus
    // caching cases that measured slower, this frame sits ABOVE the
    // whole curation funnel, so recomputing it is the expensive side.
    val chunks = Dedup.persistTracked(TextAnalysis.chunkDocuments(
      cleanDocs(docs, benchmark, cfg, embeddings, media),
      chunkTokens, strideTokens, passthroughCols = Seq("source")))
    val kept = chunks
      .join(
        Dedup.chunkDedup(chunks.select("doc_id", "chunk_id", "chunk_text"))
          .filter(col("keep")).select("doc_id", "chunk_id"),
        Seq("doc_id", "chunk_id"), "left_semi")
      .withColumn("_cid", Dedup.packedChunkId(col("doc_id"), col("chunk_id")))
    val h = graft.functions.TextExprs.charHashSpark("CAST(_cid AS STRING)")
    val sampled =
      if (cfg.budgets.isEmpty) kept
      else Sampling.mixtureByBudget(
        kept.select(col("_cid"), col("doc_id"), col("chunk_id"),
          col("source"), col("n_tokens").as("_weight")),
        "source", "_weight", h, "_cid", cfg.budgets, cfg.defaultBudget)
    Sampling.shardForTraining(
      sampled.select("_cid", "doc_id", "chunk_id", "source"),
      "_cid", h, cfg.numShards)
      .select("shard", "seq", "doc_id", "chunk_id", "source")
  }

  /** Budget-state source-count collect cap: the consumed table is
    * config-sized (one row per source ever shipped), but CHECKED, not
    * assumed — a corpus whose "source" column is accidentally a URL
    * or doc id would otherwise grow the driver-side read unboundedly.
    */
  val MaxBudgetSources = 1 << 20

  /** Write tasks per ingest state append: one, so an ingest adds at
    * most one file per bucket (a batch is small next to its state)
    * and the compaction cadence counts ingests, not one append's
    * fan-out.
    */
  private val IngestAppendTasks = 1

  /** STEADY-STATE ingest export — [[run]]'s incremental form, and the
    * composition every persisted dedup state exists for: at 100 TB
    * nobody re-runs the full export when a batch arrives; the batch
    * probes the accumulated states, only NEW survivors flow through
    * decontamination → budgets → shards, and the states absorb the
    * batch for the next arrival. One call per arriving batch; state
    * lives in catalog tables under `statePrefix`:
    *
    *   - `<p>_dedup` — the dedup-stage state ([[graft.operators.Dedup.writeDocTable]]
    *     doc fingerprints for [[DedupExact]], the bucketed band table
    *     for [[DedupNearDup]], the blocked SimHash segment table for
    *     [[DedupSimHash]]), appended through the cadence-managed
    *     verbs so compaction cannot be forgotten
    *   - `<p>_sigs` — ([[DedupNearDup]] only) the persisted corpus
    *     signatures the candidate refine scores against
    *   - `<p>_budget` — cumulative consumed weight per source: budgets
    *     are corpus-lifetime ceilings, so each ingest fills only the
    *     REMAINING budget (batch-k candidates are admitted in
    *     hash-order prefix against `budget − consumed`), making the
    *     lifetime admission an ARRIVAL-ORDER prefix — earlier batches
    *     fill first, which is the only order an incremental system
    *     can honor (the batch [[run]] admits in global hash order
    *     instead; the two agree only in the single-batch case)
    *   - `<p>_offsets` — per-shard row counts, so `seq` continues
    *     densely across ingests (shard placement is a pure hash and
    *     never changes; within-shard order is per-batch hash order)
    *
    * ACCEPTANCE SEMANTICS (what the q_pipeline_ingest_export oracle
    * replays end-to-end): a doc ships iff it (1) passes the stateless
    * gates, (2) is no duplicate of anything SEEN by an earlier ingest
    * nor of a smaller-id doc of its own batch (first-ARRIVAL-wins,
    * first-min-id within a batch), (3) passes decontamination, and
    * (4) fits its source's remaining budget in batch hash order. The
    * dedup state records every dedup-ACCEPTED doc whether or not a
    * later gate drops it — identity is permanent, capacity is not: a
    * budget-rejected doc's future copies are still duplicates. (For
    * [[DedupNearDup]] the state absorbs ALL the batch's band rows,
    * accepted or not — the seen-corpus policy that keeps near-dup
    * chains from drifting in batch by batch.)
    *
    * The paragraph, span, semantic and media stages run here too,
    * each on its own state under the prefix (`<p>_lines`,
    * `<p>_shingles`, `<p>_semidx`, `<p>_mediafp`/`<p>_mediadh`) when
    * `cfg` turns it on. [[graft.operators.Dedup.dropState]] with the
    * prefix tears the whole state down. Single-writer, like every
    * state table in this library. Tracked persists are released by
    * the caller's [[graft.operators.Dedup.unpersistAll]] (the
    * ingest-loop convention). Returns the SHIPPED batch rows
    * (shard, seq, doc_id, source), already materialized — state
    * updates land before the method returns, so the frame stays valid
    * across later ingests and state drops.
    *
    * CRASH CONTRACT (at-least-once callers): states fold in the order
    * media → shingle → line → dedup → budget/offsets, after the
    * shipped frame materializes. A crash INSIDE that window can leave
    * the dedup state holding the batch while budget/offsets never
    * billed it; re-running the batch then ships nothing (the dedup
    * state claims every doc) and the batch's text is lost to the corpus — the same first-wins
    * property every state table documents for takedowns. The remedy
    * is the takedown verb itself:
    * [[graft.operators.Dedup.deleteFromStateTable]] (or the
    * table-specific alias) with the batch's doc ids frees their slots
    * and a re-ingest ships them fresh (spec-pinned). This ordering is
    * deliberate: the failure mode is bounded capacity UNDER-use (one
    * batch's weight never billed), never duplicate shipping or seq
    * collisions — the reverse order would re-ship rows under fresh
    * seqs on retry, corrupting the trainer's manifest.
    *
    * [[DedupNearDup]]/[[DedupSimHash]] knobs note: the batch forms'
    * `numPartitions`/`propagateRounds` size their connected-components
    * step; the ingest form has no components (arrival order resolves
    * every cluster — first in wins, the rest reject pairwise), so
    * those two fields are inert here.
    */
  def runIngest(
      batch: DataFrame,
      benchmark: => DataFrame,
      cfg: Config,
      statePrefix: String,
      buckets: Int = Dedup.BandTableBuckets,
      maxFilesPerBucket: Int = 4,
      media: => DataFrame = null,
      embeddings: => DataFrame = null,
      semCentroidMod: Int = 50,
      semPqSeedMod: Int = 50,
      semMinCosPpm: Long = 995000L,
      semCorpusVectors: () => DataFrame = () => null,
      onSemanticMaintenance: SimilaritySearch.MaintenanceAction => Unit = _ => (),
      semRefitErrFactor: Double = 2.0)
      : DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    require(cfg.numShards >= 1, s"numShards must be >= 1, got ${cfg.numShards}")
    graft.functions.PolyHash.register(spark)
    val h = graft.functions.TextExprs.charHashSpark("CAST(doc_id AS STRING)")
    val gated = gateDocs(batch, cfg)
    val (accepted, appendDedupState) =
      ingestDedupStage(gated, cfg, statePrefix, buckets, maxFilesPerBucket)
    val (paraged, appendLineState) =
      ingestParagraphStage(accepted, cfg, statePrefix, buckets, maxFilesPerBucket)
    val (spanned, appendShingleState) =
      ingestSpanStage(paraged, cfg, statePrefix, buckets, maxFilesPerBucket)
    val (semed, _) =
      ingestSemanticStage(
        spanned, embeddings, cfg, statePrefix, semCentroidMod,
        semPqSeedMod, semMinCosPpm, semCorpusVectors,
        onSemanticMaintenance, semRefitErrFactor)
    val (mediaed, appendMediaState) =
      ingestMediaStage(semed, media, cfg, statePrefix, buckets, maxFilesPerBucket)
    val clean = decontaminate(mediaed, benchmark, cfg)

    // ---- cumulative budget: this batch fills the REMAINING budget
    val budgetTbl = s"${statePrefix}_budget"
    val budgetOn = cfg.budgets.nonEmpty
    val ledgerCurrency = currencyTag(cfg.budgetCurrency)
    val consumed = readConsumedChecked(spark, budgetTbl, budgetOn, ledgerCurrency)
    // the batch pipeline's currency split, incrementally: chars read
    // the column the rewriting stages already recomputed; WordPiece
    // tokens cost ONE extra codegen'd byte-scan over the clean
    // SURVIVORS (the cheapest place to tokenize — everything dropped
    // upstream never pays it). The persisted consumed state bills in
    // whatever currency the loop runs — the currency is part of the
    // state contract, like the budget numbers themselves: switch it
    // only with a fresh budget table.
    val weighted = cfg.budgetCurrency match {
      case BudgetChars =>
        clean.select(
          col("doc_id"), col("source"), col("n_chars").cast("long").as("_weight"))
      case BudgetWordPieceTokens(vocab) =>
        graft.operators.TextAnalysis
          .wordpieceStats(clean, vocab = vocab, passthroughCols = Seq("source"))
          .select(
            col("doc_id"), col("source"), col("n_tokens").cast("long").as("_weight"))
    }
    val sampled =
      if (!budgetOn) weighted
      else Sampling
        .mixtureByBudget(
          weighted, "source", "_weight", h, "doc_id",
          remainingBudgets(cfg, consumed), cfg.defaultBudget)
        .drop("running_weight")

    // ---- shard with cross-ingest seq continuation
    val offTbl = s"${statePrefix}_offsets"
    val offsets = readOffsets(spark, offTbl, cfg.numShards)
    val withOff = applyOffsets(
      Sampling.shardForTraining(sampled, "doc_id", h, cfg.numShards), offsets)
    // materialize BEFORE any state moves: the shipped rows both feed
    // the state updates and outlive them
    val shipped = withOff
      .select("shard", "seq", "doc_id", "source", "_weight")
      .localCheckpoint(true)

    // ---- fold the batch into every state, DOWNSTREAM-MOST FIRST
    // (the runChunksIngest ordering invariant: the line keys' lineage
    // reads the doc state table, so the doc fold must come after;
    // the shingle fold's input is checkpointed but its ordering
    // keeps the invariant legible; the media states sit downstream
    // of all text stages)
    appendMediaState()
    appendShingleState()
    appendLineState()
    appendDedupState()
    writeBudgetAndOffsets(
      spark, budgetTbl, offTbl, consumed, offsets, shipped,
      ledgerCurrency, budgetOn, cfg.numShards)
    shipped.select("shard", "seq", "doc_id", "source")
  }

  /** [[runIngest]] at CHUNK granularity — [[runChunks]]'s incremental
    * form, completing the steady-state axis at the RAG-prep shape:
    * the batch runs the document-granularity ingest front (stateless
    * gates, dedup vs the persisted doc state, decontamination), then
    * its clean text chunks and probes the persisted CHUNK-key state
    * ([[graft.operators.Dedup.chunkIngestStep]] — first-ARRIVAL-wins,
    * first (doc_id, chunk_id) within the batch), survivors fill the
    * REMAINING cumulative per-source budget in CHUNK TOKENS (the
    * chunker's own count — [[runChunks]]'s billing contract), and
    * shard seq continues densely on the packed chunk identity. State
    * tables: the [[runIngest]] set plus `<p>_chunks` (the line-table
    * layout at chunk granularity, cadence-compacted). Same acceptance
    * semantics and single-writer contract as [[runIngest]]; returns
    * (shard, seq, doc_id, chunk_id, source), materialized.
    */
  def runChunksIngest(
      batch: DataFrame,
      benchmark: => DataFrame,
      cfg: Config,
      statePrefix: String,
      chunkTokens: Int = 128,
      strideTokens: Int = 96,
      buckets: Int = Dedup.BandTableBuckets,
      maxFilesPerBucket: Int = 4,
      media: => DataFrame = null,
      embeddings: => DataFrame = null,
      semCentroidMod: Int = 50,
      semPqSeedMod: Int = 50,
      semMinCosPpm: Long = 995000L,
      semCorpusVectors: () => DataFrame = () => null,
      onSemanticMaintenance: SimilaritySearch.MaintenanceAction => Unit = _ => (),
      semRefitErrFactor: Double = 2.0)
      : DataFrame = {
    val spark = batch.sparkSession
    require(cfg.numShards >= 1, s"numShards must be >= 1, got ${cfg.numShards}")
    // same rejection as runChunks: chunk budgets bill in the chunker's
    // own token count, and a silently different currency would admit
    // 1.3-2x the text the budgets specify
    require(cfg.budgetCurrency == BudgetChars,
      "runChunksIngest bills cumulative budgets in CHUNK TOKENS (the chunker's " +
        "n_tokens); budgetCurrency = BudgetWordPieceTokens is not supported at " +
        "chunk granularity — size the budgets in chunk tokens and keep BudgetChars")
    graft.functions.PolyHash.register(spark)
    val gated = gateDocs(batch, cfg)
    val (accepted, appendDedupState) =
      ingestDedupStage(gated, cfg, statePrefix, buckets, maxFilesPerBucket)
    val (paraged, appendLineState) =
      ingestParagraphStage(accepted, cfg, statePrefix, buckets, maxFilesPerBucket)
    val (spanned, appendShingleState) =
      ingestSpanStage(paraged, cfg, statePrefix, buckets, maxFilesPerBucket)
    val (semed, _) =
      ingestSemanticStage(
        spanned, embeddings, cfg, statePrefix, semCentroidMod,
        semPqSeedMod, semMinCosPpm, semCorpusVectors,
        onSemanticMaintenance, semRefitErrFactor)
    val (mediaed, appendMediaState) =
      ingestMediaStage(semed, media, cfg, statePrefix, buckets, maxFilesPerBucket)
    val clean = decontaminate(mediaed, benchmark, cfg)

    // ---- chunk + probe the persisted chunk-key state
    val chunkTbl = s"${statePrefix}_chunks"
    if (!spark.catalog.tableExists(chunkTbl))
      Dedup.writeChunkTable(
        clean.limit(0), chunkTbl, buckets, chunkTokens, strideTokens)
    val (markedChunks, newChunkKeys) = Dedup.chunkIngestStep(
      clean, Dedup.stateTableLive(spark, chunkTbl), chunkTokens, strideTokens,
      passthroughCols = Seq("source"))
    val kept = markedChunks
      .filter(col("keep"))
      .withColumn("_cid", Dedup.packedChunkId(col("doc_id"), col("chunk_id")))
    val h = graft.functions.TextExprs.charHashSpark("CAST(_cid AS STRING)")

    // ---- cumulative chunk-token budget + cross-ingest seq
    val budgetTbl = s"${statePrefix}_budget"
    val budgetOn = cfg.budgets.nonEmpty
    // the chunk front bills in the chunker's own token count — its
    // OWN currency, distinct from both doc-front units, so a prefix
    // shared across fronts fails fast instead of mixing units
    val ledgerCurrency = "chunk_tokens"
    val consumed = readConsumedChecked(spark, budgetTbl, budgetOn, ledgerCurrency)
    val weighted = kept.select(
      col("_cid"), col("doc_id"), col("chunk_id"), col("source"),
      col("n_tokens").cast("long").as("_weight"))
    val sampled =
      if (!budgetOn) weighted
      else Sampling
        .mixtureByBudget(
          weighted, "source", "_weight", h, "_cid",
          remainingBudgets(cfg, consumed), cfg.defaultBudget)
        .drop("running_weight")
    val offTbl = s"${statePrefix}_offsets"
    val offsets = readOffsets(spark, offTbl, cfg.numShards)
    val withOff = applyOffsets(
      Sampling.shardForTraining(sampled, "_cid", h, cfg.numShards), offsets)
    val shipped = withOff
      .select("shard", "seq", "doc_id", "chunk_id", "source", "_weight")
      .localCheckpoint(true)

    // ---- fold the batch into every state. ORDER MATTERS: the chunk
    // keys' lineage reads the DOC state table (markedChunks sits
    // downstream of the doc probe), and the doc append can trigger a
    // compaction that swaps that table's files out from under any
    // plan later forced to re-evaluate (the tracked persist is
    // dropped by Spark's own cache invalidation at the append) — so
    // the downstream-most state folds FIRST, and each append only
    // ever re-reads tables no earlier fold has moved
    Dedup.appendAndMaybeCompactLines(
      newChunkKeys, chunkTbl, buckets, maxFilesPerBucket,
      appendTasks = IngestAppendTasks)
    appendMediaState()
    appendShingleState()
    appendLineState()
    appendDedupState()
    writeBudgetAndOffsets(
      spark, budgetTbl, offTbl, consumed, offsets, shipped,
      ledgerCurrency, budgetOn, cfg.numShards)
    shipped.select("shard", "seq", "doc_id", "chunk_id", "source")
  }

  /** The ingest DEDUP stage shared by [[runIngest]] and
    * [[runChunksIngest]]: probe the persisted state under
    * first-arrival-wins, return (accepted docs, a thunk that folds
    * the batch into the state). The thunk runs AFTER the shipped
    * frame materializes — the state must not move under the plan
    * that reads it.
    */
  private def ingestDedupStage(
      gated: DataFrame, cfg: Config, statePrefix: String,
      buckets: Int, maxFilesPerBucket: Int): (DataFrame, () => Unit) = {
    val spark = gated.sparkSession
    val dedupTbl = s"${statePrefix}_dedup"
    val sigsTbl = s"${statePrefix}_sigs"
    // layout guard: the three dedup stages write INCOMPATIBLE state
    // layouts under the same table name, and a cfg.dedup switch
    // mid-stream would otherwise die on a missing-column
    // AnalysisException deep inside a probe join (the legacy
    // line-state lesson, ADVICE r14) — name the mismatch and the
    // remedy instead
    def requireLayout(needed: Seq[String], stage: String): Unit =
      if (spark.catalog.tableExists(dedupTbl)) {
        val cols = spark.table(dedupTbl).columns.map(_.toLowerCase).toSet
        require(needed.forall(cols.contains),
          s"ingest dedup state '$dedupTbl' has columns " +
            s"[${spark.table(dedupTbl).columns.mkString(", ")}] but cfg.dedup = " +
            s"$stage expects (${needed.mkString(", ")}) — the table was written " +
            "under a different dedup stage; keep cfg.dedup fixed per " +
            "statePrefix, or start a fresh prefix")
      }
    cfg.dedup match {
      case DedupOff => (gated, () => ())
      case DedupExact =>
        requireLayout(Seq("pk1", "pk2"), "DedupExact")
        if (!spark.catalog.tableExists(dedupTbl))
          Dedup.writeDocTable(gated.limit(0), dedupTbl, buckets)
        val (marked, newKeys) = Dedup.docIngestStep(
          gated, Dedup.stateTableLive(spark, dedupTbl))
        (marked.filter(col("keep")).drop("keep"),
          () => { Dedup.appendAndMaybeCompactLines(
            newKeys, dedupTbl, buckets, maxFilesPerBucket,
            appendTasks = IngestAppendTasks); () })
      case DedupNearDup(_, _, cap) =>
        requireLayout(Seq("band", "bkey"), "DedupNearDup")
        // tracked persist: the probe, the within-batch pass, and the
        // state appends all read the batch signatures
        val sigs = Dedup.persistTracked(Dedup.signatureTable(gated))
        if (!spark.catalog.tableExists(dedupTbl))
          Dedup.writeBandTable(sigs.limit(0), dedupTbl, buckets)
        if (!spark.catalog.tableExists(sigsTbl))
          Dedup.writeSignatureTable(sigs.limit(0), sigsTbl, buckets)
        val vsSeen = Dedup
          .minhashPairsAgainstBandTable(
            sigs,
            Dedup.stateTableLive(spark, dedupTbl),
            Dedup.stateTableLive(spark, sigsTbl),
            maxCorpusDocsPerBand = cap)
          .select(col("new_id").as("_rid"))
        // within-batch: the cap goes on the NEW side (hub orientation
        // — rejected is the LARGER id, so hubs must be the small ids;
        // see minhashPairsAgainstSignatures' scaladoc)
        val within = Dedup
          .minhashPairsAgainstSignatures(sigs, sigs, maxNewDocsPerBand = cap)
          .filter(col("new_id") < col("corpus_id"))
          .select(col("corpus_id").as("_rid"))
        // no DISTINCT: the left-anti below only tests existence, and a
        // distinct here costs a full exchange + two aggregates per
        // ingest over the pair fan-out (guide §2.4 — remove shuffles
        // outright; r20)
        val rejected = vsSeen.union(within)
        (gated.join(rejected, gated("doc_id") === rejected("_rid"), "left_anti"),
          () => {
            Dedup.appendAndMaybeCompact(
              sigs, dedupTbl, buckets, maxFilesPerBucket, appendTasks = IngestAppendTasks)
            Dedup.appendToSignatureTable(
              sigs, sigsTbl, buckets, appendTasks = IngestAppendTasks)
          })
      case DedupSimHash(mh, _, _, cap) =>
        requireLayout(Seq("sh_seg", "sh_key"), "DedupSimHash")
        if (!spark.catalog.tableExists(dedupTbl))
          Dedup.writeSimhashTable(gated.limit(0), dedupTbl, maxHamming = mh, buckets = buckets)
        val vsSeen = Dedup.simhashPairsAgainst(gated, spark, dedupTbl, maxHamming = mh,
          maxCorpusDocsPerSegment = cap)
          .select(col("new_doc").as("_rid"))
        // within-batch: the one-shot star's hub IS the min id, so
        // rejecting doc_b keeps the uncapped rejection set over
        // fingerprint-identical buckets
        val within = Dedup.simhashPairs(gated, maxHamming = mh, maxDocsPerSegment = cap)
          .select(col("doc_b").as("_rid")) // pairs emit doc_a < doc_b
        // no DISTINCT before the anti join — existence test only (r20)
        val rejected = vsSeen.union(within)
        (gated.join(rejected, gated("doc_id") === rejected("_rid"), "left_anti"),
          () => { Dedup.appendAndMaybeCompactHamming(
            Dedup.simhashFingerprints(gated, passthroughCols = Seq("source"))
              .withColumnRenamed("source", "block"),
            dedupTbl, mh, bits = graft.functions.TextExprs.SimhashBits,
            buckets = buckets,
            maxFilesPerBucket = maxFilesPerBucket,
            appendTasks = IngestAppendTasks); () })
    }
  }

  /** The ingest PARAGRAPH stage — [[cleanDocs]]'s rewriting line
    * granularity on the persisted line-key state
    * ([[graft.operators.Dedup.paragraphIngestStep]] — first ARRIVAL
    * wins at line granularity, `(doc_id, pos)` within a batch):
    * repeated normalized lines are cut from later arrivals, the
    * batch's docs are rebuilt, and — exactly the batch stage's
    * contract — everything downstream (decontamination n-grams,
    * budget weights, chunking) reads the REBUILT text with `n_chars`
    * recomputed. Composes after the doc-level gate like the batch
    * pipeline. Returns (rebuilt docs, the line-state fold thunk).
    */
  private def ingestParagraphStage(
      docs: DataFrame, cfg: Config, statePrefix: String,
      buckets: Int, maxFilesPerBucket: Int): (DataFrame, () => Unit) =
    if (!cfg.paragraphDedup) (docs, () => ())
    else {
      val spark = docs.sparkSession
      val linesTbl = s"${statePrefix}_lines"
      if (!spark.catalog.tableExists(linesTbl))
        Dedup.writeLineTable(docs.limit(0), linesTbl, buckets)
      val (rebuilt, newKeys) = Dedup.paragraphIngestStep(
        docs, Dedup.stateTableLive(spark, linesTbl),
        passthroughCols = Seq("source"))
      (rebuilt.select(
        col("doc_id"), col("source"),
        col("text_deduped").as("text"),
        length(col("text_deduped")).cast("long").as("n_chars")),
        () => { Dedup.appendAndMaybeCompactLines(
          newKeys, linesTbl, buckets, maxFilesPerBucket,
          appendTasks = IngestAppendTasks); () })
    }

  /** The ingest SPAN stage — substring surgery (Lee et al. 2022) on
    * the persisted positional shingle state, closing the last
    * granularity missing from the steady-state front (r16 verdict
    * task #4: the fail-fast told users to hand-compose
    * [[graft.operators.Dedup.repeatedSpansAgainstShingles]] ahead of
    * the call). Arrival orientation at SPAN granularity: a span
    * already recorded in the state belongs to an earlier arrival, so
    * the BATCH side is cut whatever the ids (the cross probe's
    * (doc_a = corpus, doc_b = batch) orientation is exactly
    * [[graft.operators.Dedup.removeRepeatedSpans]]'s cut-doc_b
    * contract); within a batch the larger id loses, the one-shot
    * pair orientation. Everything downstream — decontamination
    * n-grams, budget weights, chunking — reads the REBUILT text with
    * `n_chars` recomputed, the rewriting-stage contract shared with
    * the paragraph stage.
    *
    * State: `<p>_shingles`, the 28-byte-row bucketed positional
    * shingle table ([[graft.operators.Dedup.writeShingleTable]] —
    * q_stream_span_ingest's layout), appended with the batch's
    * PRE-surgery shingles (all staged docs, shipped or not — the
    * every-stage seen-corpus policy; original positions keep the
    * state append-only and a later copy of a cut span still finds
    * its earliest arrival). Probe cost is O(batch) — the state
    * arrives bucketed on (h1, h2), only the batch's keys shuffle.
    * The batch is shingled ONCE (persistTracked) and feeds the
    * within-batch self-probe, the cross probe, and the fold.
    *
    * CAP SEMANTICS (ADVICE r17): the `maxDocsPerShingle`
    * stop-shingle cap is ARRIVAL-SCOPED, not one-shot-equivalent —
    * each probe counts the docs visible to IT (state-so-far for the
    * cross probe, batch-only for the within-batch probe), so a
    * shingle held by ≤cap docs in every individual batch but >cap in
    * aggregate is still cut here while a one-shot run over the union
    * would suppress it as a stop-shingle. That is the coherent
    * incremental reading (an arrival can only see the corpus that
    * exists when it lands), and it errs toward MORE dedup, never
    * less; a loop that needs the one-shot cap must re-run the batch
    * pipeline over the accumulated corpus.
    */
  private def ingestSpanStage(
      docs: DataFrame, cfg: Config, statePrefix: String,
      buckets: Int, maxFilesPerBucket: Int): (DataFrame, () => Unit) =
    cfg.spanDedup match {
      case None => (docs, () => ())
      case Some(minTok) =>
        val spark = docs.sparkSession
        val shTbl = s"${statePrefix}_shingles"
        if (!spark.catalog.tableExists(shTbl))
          Dedup.writeShingleTable(docs.limit(0), shTbl, minTok, buckets)
        // materialized like the batch pipeline's span-follows cache:
        // the self-join, the cross probe, the removal base, and the
        // fold all re-read this frame, and its lineage carries the
        // upstream state probes
        val staged = docs.localCheckpoint(true)
        val bs = Dedup.persistTracked(Dedup.shingleTable(staged, minTok))
        val within = Dedup.repeatedSpansAgainstShingles(bs, bs, minTok)
          .filter(col("doc_a") < col("doc_b"))
        // re-ingest protection is the doc-dedup stage's job — a doc
        // probing its own persisted shingles would self-erase here
        val cross = Dedup
          .repeatedSpansAgainstShingles(
            bs, Dedup.stateTableLive(spark, shTbl), minTok)
          .filter(col("doc_a") =!= col("doc_b"))
        val rebuilt = Dedup.removeRepeatedSpans(
          staged, within.unionByName(cross), passthroughCols = Seq("source"))
        (rebuilt.select(
          col("doc_id"), col("source"),
          col("clean_text").as("text"),
          length(col("clean_text")).cast("long").as("n_chars")),
          () => { Dedup.appendAndMaybeCompactShingles(
            staged, shTbl, minTok, buckets, maxFilesPerBucket,
            appendTasks = IngestAppendTasks); () })
    }

  /** Where the ingest SEMANTIC stage keeps its written IVF index —
    * under the session warehouse beside the prefix's catalog tables,
    * exposed so callers can locate, maintain
    * ([[graft.operators.SimilaritySearch.reclusterWrittenIndex]] /
    * `driftReport`), or remove the state.
    */
  def semanticIndexDir(
      spark: org.apache.spark.sql.SparkSession, statePrefix: String): String =
    s"${spark.conf.get("spark.sql.warehouse.dir")}/${statePrefix}_semidx"

  /** The ingest SEMANTIC stage — SemDeDup's embedding granularity on
    * the persisted WRITTEN IVF index. The FIRST ingest builds the
    * index from its own live vectors; every later ingest appends
    * through the CLOSED-LOOP verb
    * ([[graft.operators.SimilaritySearch.appendAndMaintainWrittenIndex]]):
    * compact when a list directory fragments, RE-CLUSTER when
    * `driftReport` trips (appended mass material AND skewed) — so a
    * long-running ingest loop gets the same automatic maintenance
    * cadence as the media and line states instead of fragmenting and
    * drifting until someone remembers to look. The batch then probes
    * against the accumulated membership
    * ([[graft.operators.Dedup.semanticDedupAgainstIndex]] — assign to
    * the (possibly re-trained) centroids, cosine ≥ threshold among
    * co-assigned). On a stationary corpus the trigger never fires and
    * the stage is byte-identical to a plain append
    * (q_pipeline_ingest_export_semantic's oracle); on a drifted one
    * the re-cluster restores the list geometry mid-stream, which the
    * manual-recluster spec proved safe in place.
    *
    * This stage folds its state AT PROBE TIME (append-then-probe),
    * unlike the text stages' probe-then-fold: arrival orientation
    * needs batch MEMBERSHIP, not id order — a pair against an
    * earlier arrival rejects the new side whatever the ids, a
    * within-batch pair rejects the larger id — and membership is
    * only observable by probing the post-append index and splitting
    * pairs on whether the corpus side belongs to this batch. The
    * crash window is therefore wider (a crash after the append loses
    * the batch to the semantic state before anything ships); the
    * remedy is unchanged — `deleteFromWrittenIndex` the batch ids and
    * re-ingest. Seen-corpus policy like every stage: ALL live batch
    * vectors join the index, accepted or not. Embedding-less docs
    * pass through (the anti-join-on-droppers shape).
    */
  private def ingestSemanticStage(
      docs: DataFrame, embeddings: => DataFrame, cfg: Config,
      statePrefix: String, semCentroidMod: Int,
      semPqSeedMod: Int = 50,
      semMinCosPpm: Long = 995000L,
      semCorpusVectors: () => DataFrame = () => null,
      onMaintenance: SimilaritySearch.MaintenanceAction => Unit = _ => (),
      semRefitErrFactor: Double = 2.0)
      : (DataFrame, () => Unit) =
    if (!cfg.semanticDedup) (docs, () => ())
    else {
      val spark = docs.sparkSession
      val emb = embeddings
      require(emb != null,
        "cfg.semanticDedup is on but no embeddings frame was passed to the ingest call")
      val idxDir = semanticIndexDir(spark, statePrefix)
      val live = Dedup.persistTracked(emb.join(
        docs.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"))
      val marker = new org.apache.hadoop.fs.Path(s"$idxDir/centroids")
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker)) {
        if (!cfg.semanticPq)
          SimilaritySearch.writeIndex(
            SimilaritySearch.buildIndex(live, centroidMod = semCentroidMod), idxDir)
        else {
          // CODES-ONLY state (r16 verdict task #6): the written layout
          // persists coarse assignments + PQ codes + frozen codebooks
          // — ~m bytes a vector instead of a full float embedding
          val idx = SimilaritySearch.buildIndex(live, centroidMod = semCentroidMod)
          val cb = SimilaritySearch.pqFit(live, m = 16, seedMod = semPqSeedMod)
          SimilaritySearch.writeIvfPqIndex(
            idx, cb, SimilaritySearch.pqEncode(live, cb), idxDir)
        }
      } else {
        // a semanticPq flip against an existing state would die on a
        // missing codes/meta table deep inside a probe — name it here
        val hasCodes = fs.exists(
          new org.apache.hadoop.fs.Path(s"$idxDir/codes"))
        require(hasCodes == cfg.semanticPq,
          s"semantic ingest state '$idxDir' is a " +
            s"${if (hasCodes) "codes-backed (IVFADC)" else "float (plain IVF)"} " +
            s"layout but cfg.semanticPq = ${cfg.semanticPq} — keep the flag " +
            "fixed per statePrefix, or start a fresh prefix")
        val action =
          if (!cfg.semanticPq)
            // centroidMod threads through so a drift-triggered re-cluster
            // retrains at the stage's own list granularity
            SimilaritySearch.appendAndMaintainWrittenIndex(
              spark, idxDir, live, centroidMod = semCentroidMod)
          else
            // the IVFADC closed loop: codes are lossy, so a drift- or
            // quantization-error-triggered O(corpus) verb (re-cluster /
            // codebook REFIT) must re-encode from RAW corpus vectors —
            // supplied lazily and only paid when one actually fires
            // (at 100 TB the vectors live in a corpus table anyway)
            SimilaritySearch.appendAndMaintainWrittenIvfPqIndex(
              spark, idxDir, live,
              corpusVectors = {
                val cv = semCorpusVectors()
                require(cv != null,
                  "the semantic ingest state's maintenance trigger fired " +
                    "(re-cluster or codebook refit) and the codes-backed " +
                    "layout needs raw corpus vectors to re-encode — pass " +
                    "semCorpusVectors to the ingest call (it is only " +
                    "evaluated when an O(corpus) verb actually runs)")
                cv
              },
              centroidMod = semCentroidMod,
              refitErrFactor = semRefitErrFactor,
              // a refit retrains at the stage's own codebook seeding
              // dial — the verb's corpus-scale default would mis-seed
              // small-id corpora (seeds are ids % seedMod == 0)
              refitSeedMod = semPqSeedMod)
        // the caller's window into the closed loop: oracle-backed
        // fixtures assert NoMaintenance here (their DuckDB twins model
        // frozen batch-0 geometry — ADVICE r17: pin the assumption
        // instead of relying on the trigger never firing), production
        // loops log/alert on the O(corpus) events
        onMaintenance(action)
      }
      val pairs = (if (cfg.semanticPq)
        // the threshold dial matters here: reconstruction error eats
        // into the cosine, so a codes-backed state runs a LOWER
        // threshold than the float default (measured in the query
        // fixture; the oracle replays whatever is passed)
        Dedup.semanticDedupAgainstPqIndex(live, spark, idxDir, semMinCosPpm)
      else
        Dedup.semanticDedupAgainstIndex(
          live, SimilaritySearch.readIndex(spark, idxDir), semMinCosPpm))
        .filter(col("new_id") =!= col("corpus_id")) // the batch is in the index
      val own = live.select(col("vec_id").as("corpus_id"), lit(true).as("_own"))
      // no DISTINCT: the anti join below only tests existence (r20)
      val rejected = pairs
        .join(own, Seq("corpus_id"), "left")
        .select(
          when(col("_own").isNull, col("new_id")) // earlier arrival claims
            .otherwise(greatest(col("new_id"), col("corpus_id"))).as("_rid"))
      (docs.join(rejected, docs("doc_id") === rejected("_rid"), "left_anti"),
        () => ())
    }

  /** The ingest MEDIA stage — the multimodal granularity on
    * persisted state, composing [[cleanDocs]]'s media stage into the
    * steady-state front. Two passes over the batch media of
    * still-alive docs, cheap-first like the batch stage:
    *
    *   - EXACT byte pass (no decode): first-ARRIVAL-wins on the raw
    *     payload fingerprint against `<p>_mediafp` —
    *     [[graft.operators.Dedup.docIngestStep]] IS the verb (its
    *     128-bit key hash accepts BINARY), so a re-shipped asset
    *     drops before anything pays decode cost
    *   - PERCEPTUAL pass on the exact survivors: ONE decode per
    *     batch ([[graft.operators.Multimodal.mediaDhashFingerprints]]
    *     computed once, tracked-persisted, and reused by the state
    *     probe, the within-batch pairs, AND the state append — the
    *     one-decode-per-ingest contract the media ingest queries
    *     pin), probed against the `<p>_mediadh` pigeonhole segment
    *     state at `maxHamming`, rejecting later arrivals
    *
    * Docs whose media is dropped at either pass leave the pipeline;
    * media-less docs pass through (the batch stage's anti-join-on-
    * droppers shape). State policy mirrors the text stages: the
    * exact state records every first-occurrence payload key whether
    * or not the perceptual pass (or a later gate) drops the doc, and
    * the perceptual state absorbs ALL exact-surviving fingerprints —
    * identity is permanent. The media frame is keyed `media_id ==
    * doc_id` (one payload per doc — the batch stage's multimodal-
    * corpus shape); rows keyed otherwise never match the doc
    * anti-join and would silently no-op. The fold thunk runs dhash-then-fp
    * (downstream-most first: the dhash rows' lineage reads the
    * mediafp state through the exact-survivor mask).
    */
  private def ingestMediaStage(
      docs: DataFrame, media: => DataFrame, cfg: Config, statePrefix: String,
      buckets: Int, maxFilesPerBucket: Int): (DataFrame, () => Unit) =
    cfg.mediaDedup match {
      case None => (docs, () => ())
      case Some(mh) =>
        val spark = docs.sparkSession
        val md = media
        require(md != null,
          "cfg.mediaDedup is on but no media frame was passed to the ingest call")
        val fpTbl = s"${statePrefix}_mediafp"
        val dhTbl = s"${statePrefix}_mediadh"
        val live = md.join(
          docs.select(col("doc_id").as("media_id")), Seq("media_id"), "left_semi")
        if (!spark.catalog.tableExists(fpTbl))
          Dedup.writeDocTable(
            live.limit(0), fpTbl, buckets, textCol = "media", idCol = "media_id")
        val (xMarked, xKeys) = Dedup.docIngestStep(
          live, Dedup.stateTableLive(spark, fpTbl),
          textCol = "media", idCol = "media_id")
        val liveExact = xMarked.filter(col("keep")).drop("keep")
        if (!spark.catalog.tableExists(dhTbl))
          Dedup.writeHammingTable(
            Multimodal.mediaDhashFingerprints(live.limit(0)),
            dhTbl, mh, bits = 64, buckets = buckets)
        // ONE decode per ingest: probe, within-batch pairs, and the
        // state append all read this frame
        val fps = Dedup.persistTracked(
          Multimodal.mediaDhashFingerprints(liveExact))
        val vsSeen = Dedup
          .hammingPairsAgainst(
            fps, Dedup.hammingTableLive(spark, dhTbl, mh, bits = 64),
            mh, bits = 64,
            maxCorpusDocsPerSegment = cfg.mediaMaxDocsPerSegment)
          .select(col("new_id").as("_mid"))
        // within-batch: the one-shot star's hub IS the min id, the
        // orientation rejecting doc_b needs (the DedupSimHash twin)
        val within = Dedup
          .hammingPairs(fps, maxHamming = mh, bits = 64, pigeonhole = true,
            maxDocsPerSegment = cfg.mediaMaxDocsPerSegment)
          .select(col("doc_b").as("_mid")) // pairs emit doc_a < doc_b
        val exactDrop = xMarked.filter(!col("keep"))
          .select(col("media_id").as("_mid"))
        // no DISTINCT before the anti join — existence test only (r20)
        val dropped = exactDrop.union(vsSeen).union(within)
        (docs.join(dropped, docs("doc_id") === dropped("_mid"), "left_anti"),
          () => {
            Dedup.appendAndMaybeCompactHamming(
              fps, dhTbl, mh, bits = 64,
              buckets = buckets, maxFilesPerBucket = maxFilesPerBucket,
              appendTasks = IngestAppendTasks)
            Dedup.appendAndMaybeCompactLines(
              xKeys, fpTbl, buckets, maxFilesPerBucket,
              appendTasks = IngestAppendTasks)
            ()
          })
    }

  /** The stateless decontamination gate shared by the batch front and
    * both ingest forms.
    */
  private def decontaminate(
      docs: DataFrame, benchmark: => DataFrame, cfg: Config): DataFrame =
    cfg.contaminationMaxPpm match {
      case None => docs
      case Some(maxPpm) =>
        docs.join(
          TextAnalysis.contamination(docs, benchmark)
            .filter(col("contamination_ppm") < maxPpm)
            .select("doc_id"),
          Seq("doc_id"), "left_semi")
    }

  /** Read the persisted consumed-per-source budget state (bounded by
    * [[MaxBudgetSources]] — checked, not assumed) AND check the
    * ledger's currency stamp, in ONE collect (r19:
    * the two verbs each ran a job against the same config-sized table
    * every ingest; the ledger is MaxBudgetSources-bounded, so the
    * currency check reads the same rows the consumed map needs).
    * Identical failure messages and acceptance (unstamped 2-column
    * legacy ledgers pass and get stamped by this ingest's write).
    */
  private def readConsumedChecked(
      spark: org.apache.spark.sql.SparkSession, budgetTbl: String,
      budgetOn: Boolean, tag: String): Map[String, Long] =
    if (!budgetOn || !spark.catalog.tableExists(budgetTbl)) Map.empty
    else {
      val t = spark.table(budgetTbl)
      val stamped = t.columns.contains("currency")
      val cols =
        if (stamped) t.select("source", "consumed", "currency")
        else t.select("source", "consumed")
      val rows = cols.limit(MaxBudgetSources + 1).collect()
      require(rows.length <= MaxBudgetSources,
        s"budget state '$budgetTbl' holds more than $MaxBudgetSources sources — " +
          "the stratum column is not a source label; re-key the corpus")
      if (stamped) {
        val stamps = rows.map(_.getString(2)).distinct.toSeq
        require(stamps.isEmpty || stamps == Seq(tag),
          s"budget state '$budgetTbl' is denominated in " +
            s"'${stamps.mkString("', '")}' but this ingest bills in '$tag' — " +
            "mixing units in one consumed ledger silently mis-prices every " +
            "later batch; keep the currency fixed per statePrefix, or start " +
            "a fresh prefix")
      }
      rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    }

  /** The ledger stamp for a billing currency. WordPiece stamps one
    * tag for any vocab — vocab stability across a loop is the
    * caller's contract (it is a data argument, not cheaply
    * fingerprintable here); the stamp closes the chars↔tokens and
    * docs↔chunks unit mixes, the silent ones.
    */
  private def currencyTag(c: BudgetCurrency): String = c match {
    case BudgetChars => "chars"
    case BudgetWordPieceTokens(_) => "wordpiece"
  }


  /** Per-source REMAINING budgets for this ingest: lifetime budget −
    * consumed, floored at zero; sources seen only by earlier ingests
    * get the default budget as their lifetime ceiling.
    */
  private def remainingBudgets(
      cfg: Config, consumed: Map[String, Long]): Seq[(String, Long)] = {
    val named = cfg.budgets.toMap
    (named.keySet ++ consumed.keySet).toSeq.sorted.map(src =>
      src -> math.max(
        0L, named.getOrElse(src, cfg.defaultBudget) - consumed.getOrElse(src, 0L)))
  }

  /** Fold the batch's spend into the budget ledger AND the shard
    * offsets from ONE job over the checkpointed shipped frame (r20,
    * guide §1.2 — the two ledgers each ran their own collect against
    * the same tiny frame every ingest; one (shard, source) rollup
    * carries both: shards × sources is offsets-table-bounded small).
    * Writes and failure behavior are unchanged — the budget table is
    * only touched when budgets are on, exactly as before.
    */
  private def writeBudgetAndOffsets(
      spark: org.apache.spark.sql.SparkSession,
      budgetTbl: String, offTbl: String,
      consumed: Map[String, Long], offsets: Map[Long, Long],
      shipped: DataFrame, currency: String,
      budgetOn: Boolean, numShards: Int): Unit = {
    import spark.implicits._
    val rows = shipped.groupBy("shard", "source")
      .agg(sum("_weight").cast("long").as("w"), count(lit(1)).as("n"))
      .collect()
    if (budgetOn) {
      val spent = rows.groupBy(_.getString(1)).view
        .mapValues(_.map(_.getLong(2)).sum).toMap
      (consumed.keySet ++ spent.keySet).toSeq.sorted
        .map(src =>
          (src, consumed.getOrElse(src, 0L) + spent.getOrElse(src, 0L), currency))
        .toDF("source", "consumed", "currency")
        .write.mode("overwrite").saveAsTable(budgetTbl)
    }
    val counts = rows.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(3)).sum).toMap
    (0L until numShards.toLong)
      .map(s0 => (s0, offsets.getOrElse(s0, 0L) + counts.getOrElse(s0, 0L)))
      .toDF("shard", "n")
      .write.mode("overwrite").saveAsTable(offTbl)
  }

  /** Read the per-shard row-count offsets; numShards is fixed at the
    * first ingest (shard placement is a pure hash mod numShards).
    */
  private def readOffsets(
      spark: org.apache.spark.sql.SparkSession, offTbl: String,
      numShards: Int): Map[Long, Long] =
    if (!spark.catalog.tableExists(offTbl)) Map.empty
    else {
      val rows = spark.table(offTbl).collect()
      require(rows.length == numShards,
        s"shard-offset state '$offTbl' was written with ${rows.length} shards " +
          s"but this ingest asks for $numShards — numShards is fixed at " +
          "the first ingest (shard placement is a pure hash mod numShards)")
      rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

  private def applyOffsets(
      sharded: DataFrame, offsets: Map[Long, Long]): DataFrame =
    if (offsets.isEmpty) sharded
    else {
      val spark = sharded.sparkSession
      import spark.implicits._
      sharded
        .join(broadcast(offsets.toSeq.toDF("shard", "_off")), Seq("shard"), "left")
        .withColumn("seq", col("seq") + coalesce(col("_off"), lit(0L)))
        .drop("_off")
    }

}
