package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs._

import scala.jdk.CollectionConverters._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * `bruteTopK` is the exact baseline: broadcast the (small) query set
  * against all candidates — one narrow pass over the candidates, no
  * shuffle of the big side except the final per-query top-k, which is
  * a partial (map-side) top-k under Spark's WindowExec + filter.
  *
  * `ivfTopK` is the scale path: assign every vector to its nearest
  * coarse centroid once (broadcast centroids — at 100 TB this is the
  * classic IVF build pass), then probe only the `nprobe` closest
  * centroid lists per query, cutting scanned candidates by
  * ~nprobe/nlist. Both are deterministic: distance ties break by id.
  */
object SimilaritySearch {

  /** Exact top-k cosine neighbors for queries selected by
    * `vec_id % queryMod == 0`.
    */
  def bruteTopK(
      emb: DataFrame,
      k: Int = 5,
      queryMod: Int = 97,
      idCol: String = "vec_id"): DataFrame = {
    graft.functions.VecDot.register(emb.sparkSession)
    // the per-query top-k below is the Filter-over-row_number pattern;
    // make sure library callers get the bounded-heap plan, not a full
    // per-partition sort (idempotent — Verify/Bench install it anyway)
    graft.plans.TopKPerGroup.install(emb.sparkSession)
    val q = emb
      .filter(col(idCol) % queryMod === 0)
      .select(
        col(idCol).as("query_id"),
        col("embedding").as("qemb"),
        expr(s"sqrt(${dotSpark("embedding", "embedding")})").as("qnorm"))
    val cand = emb.select(
      col(idCol).as("cand_id"),
      col("embedding").as("cemb"),
      expr(s"sqrt(${dotSpark("embedding", "embedding")})").as("cnorm"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    cand
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", expr(dotSpark("qemb", "cemb")) / (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(
        col("query_id"),
        col("rank").cast("long").as("rank"),
        col("cand_id"),
        floor(lit(1000000.0) * col("cos")).cast("long").as("cos_ppm"))
  }

  /** Exact top-k cosine over int8-quantized embeddings — the
    * 4×-smaller storage path for a 100 TB embedding corpus.
    *
    * Each vector is symmetric-scalar-quantized (the faiss SQ8 form:
    * codeᵢ = round(xᵢ/scale), scale = max|xᵢ|/127) and PACKED INTO A
    * `BINARY` of one byte per component via the codegen'd `i8_pack`
    * kernel, so the candidate side that a probe scans carries 64
    * bytes per vector instead of 256 + array headers. Similarity is
    * computed straight over the packed bytes with `vec_dot_i8` in
    * exact integer arithmetic: the per-vector scales cancel in the
    * cosine, so the ONLY floating-point step is one final
    * divide-and-sqrt — bit-reproducible, no dequantization pass.
    *
    * The DuckDB oracle mirrors the arithmetic on the unpacked
    * `ARRAY<INT>` code form (packed ≡ array is spec-pinned), and
    * `quantRecallAt` measures the retrieval quality loss vs the
    * exact float baseline as an oracled query.
    */
  def quantizedTopK(
      emb: DataFrame,
      k: Int = 5,
      queryMod: Int = 97,
      idCol: String = "vec_id"): DataFrame = {
    val spark = emb.sparkSession
    graft.functions.Int8Vec.register(spark)
    graft.plans.TopKPerGroup.install(spark)
    // exactness bound: the BIGINT→DOUBLE casts below are only
    // bit-exact while n_q·n_c ≤ (Dim·127²)² < 2⁵³, i.e. Dim ≤ 64. The
    // kernels themselves accept any length, so pin the invariant to
    // the corpus dim constant — a future Dim bump must re-derive the
    // cast (or switch the norm product to DECIMAL) instead of silently
    // losing mantissa bits vs the oracle.
    require(
      graft.functions.VectorExprs.Dim <= 64,
      s"quantizedTopK exactness invariant needs Dim <= 64 (got " +
        s"${graft.functions.VectorExprs.Dim}): (Dim*127^2)^2 must stay under 2^53 " +
        "for the BIGINT->DOUBLE cosine cast to be exact")
    // fused codegen kernel: one pass computes max|x|, the scale, and
    // the packed codes — the HOF formulation (i8_pack over transform/
    // array_max) costs interpreted lambda dispatch per element and
    // dominated the ×64 ScaleBench curve before the fuse
    val packed = emb.select(
      col(idCol),
      expr("i8_quantize(embedding)").as("qbin"))
      .withColumn("nsq", expr("vec_dot_i8(qbin, qbin)"))
    val q = packed
      .filter(col(idCol) % queryMod === 0)
      .select(col(idCol).as("query_id"), col("qbin").as("q_bin"), col("nsq").as("q_nsq"))
    val cand = packed.select(
      col(idCol).as("cand_id"), col("qbin").as("c_bin"), col("nsq").as("c_nsq"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    cand
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      // n_q·n_c ≤ (64·127²)² ≈ 1.07e12 < 2⁵³: the BIGINT→DOUBLE casts
      // below are exact, so the cosine is the same bits in any engine
      .withColumn("cos",
        expr("CAST(vec_dot_i8(q_bin, c_bin) AS DOUBLE) / sqrt(CAST(q_nsq * c_nsq AS DOUBLE))"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(
        col("query_id"),
        col("rank").cast("long").as("rank"),
        col("cand_id"),
        floor(expr("CAST(1000000 AS DOUBLE)") * col("cos")).cast("long").as("qcos_ppm"))
  }

  /** Recall@k of the quantized search against the exact float
    * baseline, per query — the measurement a pipeline owner looks at
    * before switching the corpus to the 4×-smaller layout. Emits
    * `(query_id, hits_at_k)` where hits counts exact-top-k neighbors
    * the quantized top-k also returned.
    */
  def quantRecallAt(
      emb: DataFrame,
      k: Int = 5,
      queryMod: Int = 97,
      idCol: String = "vec_id"): DataFrame = {
    val exact = bruteTopK(emb, k, queryMod, idCol).select(col("query_id"), col("cand_id"))
    val quant = quantizedTopK(emb, k, queryMod, idCol)
      .select(col("query_id").as("q_qid"), col("cand_id").as("q_cid"))
    exact
      .join(
        quant,
        exact("query_id") === quant("q_qid") && exact("cand_id") === quant("q_cid"),
        "left")
      .groupBy("query_id")
      .agg(count(col("q_cid")).as("hits_at_k"))
  }

  // ---- IVF-style ANN (design notes for buildIndex/probe/ivfTopK) ----
  /* Coarse centroids are seeded from the vectors with
    * `vec_id % centroidMod == 0`, then refined by `lloydIters` Lloyd
    * (k-means) iterations; every vector is assigned to its L2-nearest
    * centroid; each query probes its `nprobe` nearest centroid lists
    * and ranks those candidates by cosine.
    *
    * The Lloyd pass is pure DataFrame aggregation: assign (broadcast
    * centroids) → per-dimension mean (posexplode + groupBy(cid, pos))
    * → rebuild the centroid array. Means are DECIMAL-summed then
    * widened, the same determinism convention as every float aggregate
    * in the suite, and cast back to FLOAT so both engines carry
    * bit-identical centroids into the distance kernels. Empty clusters
    * cannot occur: each seed centroid is a member vector with
    * self-distance 0, ties broken by cid, so it always keeps itself.
    *
    * The centroid table is collected to the driver after seeding and
    * after every Lloyd update (the MLlib KMeans design: centroids live
    * on the driver between iterations, members never do). Without
    * this, `cents` is a lazy plan whose lineage contains the whole
    * loop, and each downstream consumer (the build pass AND the probe
    * pass) replays every iteration — with it, each pass over the data
    * executes exactly once.
    *
    * ⚠ `centroidMod` must SCALE WITH |vectors|: the seed set is
    * |vectors|/centroidMod rows, ALL of which land on the driver (and
    * would be broadcast anyway — same asymptotic limit either way). A
    * fixed mod at growing data volume grows nlist linearly; pick
    * centroidMod ≈ |vectors|/nlist for a target list count (IVF
    * guidance: nlist ≈ sqrt(|vectors|)). The collect is guarded by
    * `maxCentroids` — it fails fast with sizing guidance instead of
    * letting an undersized mod OOM the driver at plan-construction
    * time.
    */
  /** A built IVF index: the refined centroid table (small, broadcast
    * at probe time) and the full assignment table (one row per corpus
    * vector with its list id, embedding, and precomputed norm).
    *
    * This is the production split: at 100 TB the index is built ONCE
    * (or incrementally appended) and persisted as tables, then probed
    * by many query batches — rebuilding per query batch, as a single
    * fused call would, re-pays the dominant assignment pass every
    * time. Both members are plain DataFrames, so
    * `index.assignments.write.parquet(...)` + reload round-trips the
    * index through storage (pinned in PipelineOpsSpec).
    */
  final case class IvfIndex(centroids: DataFrame, assignments: DataFrame)

  /** Build the IVF index for a corpus: seed centroids, refine with
    * Lloyd iterations, assign every vector to its nearest list. See
    * [[ivfTopK]] for the determinism and driver-residency notes.
    *
    * `centroidMod <= 0` (the default) derives the seed modulus from
    * the corpus size: nlist ≈ sqrt(|vectors|) (the standard IVF
    * sizing), and since seeds are every centroidMod-th id, the
    * modulus that yields sqrt(n) lists is itself ≈ sqrt(n). The one
    * extra `count()` is a narrow scan paid once per index build —
    * exactly the place a production pipeline can afford it. Callers
    * with a layout opinion pass an explicit modulus; the maxCentroids
    * guard applies either way.
    *
    * `fitSampleMod = Some(m)` runs the Lloyd refinement on the
    * deterministic 1/m hash-sample of vectors (the naturalness
    * `fitSampleMod` pattern — same cross-engine `poly_hash`) while
    * the assignment pass still covers EVERY vector. Centroid
    * refinement is statistical — at corpus scale a 1/m sample
    * estimates the same per-list means — so this caps the dominant
    * build cost (lloydIters full-corpus nearest-centroid passes) at
    * O(corpus·(1/m + 1)): one sampled pass per iteration plus the
    * one full assignment. A seed whose list captures no sampled
    * vector drops out of that round's mean (standard
    * k-means-on-sample attrition; the sample sizes list geometry, the
    * full corpus still lands in the surviving lists). `Some(1)`
    * reproduces the full fit bit-for-bit (spec-pinned).
    */
  def buildIndex(
      emb: DataFrame,
      centroidMod: Int = 0,
      lloydIters: Int = 1,
      idCol: String = "vec_id",
      maxCentroids: Int = 1 << 20,
      fitSampleMod: Option[Int] = None): IvfIndex = {
    val spark = emb.sparkSession
    val mod =
      if (centroidMod > 0) centroidMod
      else math.max(1, math.round(math.sqrt(emb.count().toDouble)).toInt)
    graft.functions.VecDot.register(spark)
    graft.plans.TopKPerGroup.install(spark)
    def localize(df: DataFrame): DataFrame = {
      // cap BEFORE materializing: collect limit+1 rows so an oversized
      // centroid set costs one extra row, not a driver OOM
      val rows = df.limit(maxCentroids + 1).collect()
      require(
        rows.length <= maxCentroids,
        s"ivfTopK: centroid set exceeds maxCentroids=$maxCentroids rows. " +
          s"centroidMod=$mod yields |vectors|/$mod seeds and " +
          "must scale with data volume — pick centroidMod ≈ |vectors|/nlist " +
          "(nlist ≈ sqrt(|vectors|)), or raise maxCentroids if the driver " +
          "can genuinely hold that many centroids.")
      spark.createDataFrame(rows.toSeq.asJava, df.schema)
    }
    val seeds = localize(
      emb
        .filter(col(idCol) % mod === 0)
        .select(col(idCol).as("cid"), col("embedding").as("cemb")))
    val byDist = Window.partitionBy("vid").orderBy(col("d"), col("cid"))

    // Lloyd refinement input: the full corpus, or the deterministic
    // 1/m hash-sample when fitSampleMod caps the per-iteration scan
    val fitEmb = fitSampleMod match {
      case None => emb
      case Some(m) =>
        require(m >= 1, s"fitSampleMod must be >= 1, got $m")
        graft.functions.PolyHash.register(spark)
        val sample = emb.filter(expr(
          s"${graft.functions.TextExprs.charHashSpark(s"CAST($idCol AS STRING)")} % $m = 0"))
        // a dry sample would silently collapse the centroid set to
        // zero rows after the first Lloyd round (empty aggregation →
        // empty index → probes return nothing, no error anywhere) —
        // fail loudly with the sizing remedy instead. One limit-1
        // probe job, sampled mode only.
        require(
          m == 1 || sample.head(1).nonEmpty,
          s"ivf buildIndex: fitSampleMod=$m sampled zero vectors — the corpus is " +
            "too small for this modulus; lower fitSampleMod (target ≥ ~100 sampled " +
            "vectors per expected centroid) or drop it for a full fit.")
        sample
    }

    val cents = (1 to lloydIters).foldLeft(seeds) { (c, _) =>
      localize(
        fitEmb.select(col(idCol).as("vid"), col("embedding"))
          .crossJoin(broadcast(c))
          .withColumn("d", expr(l2sqSpark("embedding", "cemb")))
          .withColumn("rn", row_number().over(byDist))
          .filter(col("rn") === 1)
          .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("cid", "pos")
          .agg(
            (sum(col("x").cast("decimal(28,12)")).cast("double") / count(lit(1)))
              .cast("float").as("m"))
          .groupBy("cid")
          .agg(
            transform(
              array_sort(collect_list(struct(col("pos"), col("m")))),
              e => e("m")).as("cemb")))
    }

    // build pass: vector → nearest centroid (broadcast join, no shuffle
    // of the big side beyond the window's per-vector grouping)
    IvfIndex(cents, assignVectors(cents, emb, idCol))
  }

  /** Incremental index append: assign a batch of NEW vectors to the
    * EXISTING centroids and extend the assignment table — the IVF
    * twin of minhash dedup's persistable `signatureTable` ingest
    * path. Per ingest this costs one broadcast-centroid pass over the
    * new batch only; the corpus assignments are reused untouched, so
    * steady-state cost is O(|new batch|), not O(|corpus|). Centroids
    * are deliberately NOT recomputed (the faiss `add` semantics):
    * list geometry drifts only as far as the data does, and a
    * periodic full `buildIndex` rebuild re-centers — the standard
    * IVF maintenance split.
    *
    * The result probes identically to an index whose build pass had
    * seen both sets with these centroids, because assignment is a
    * pure per-vector nearest-centroid function (pinned in
    * PipelineOpsSpec).
    */
  def appendToIndex(
      index: IvfIndex,
      newVectors: DataFrame,
      idCol: String = "vec_id"): IvfIndex =
    IvfIndex(
      index.centroids,
      index.assignments.unionByName(
        assignVectors(index.centroids, newVectors, idCol)))

  /** One nearest-centroid assignment pass — the shared kernel of the
    * build, in-memory append, and written-layout append paths.
    */
  private[graft] def assignVectors(
      centroids: DataFrame, vectors: DataFrame, idCol: String): DataFrame = {
    graft.functions.VecDot.register(vectors.sparkSession)
    val byDist = Window.partitionBy("vid").orderBy(col("d"), col("cid"))
    vectors.select(col(idCol).as("vid"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("d", expr(l2sqSpark("embedding", "cemb")))
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") === 1)
      .select(
        col("vid").as("cand_id"), col("cid"), col("embedding").as("cand_emb"),
        expr(s"sqrt(${dotSpark("embedding", "embedding")})").as("cnorm"))
  }

  /** Persist an IVF index with its assignments PARTITIONED BY list
    * (`cid`) — the on-disk twin of faiss's inverted lists. A probe
    * visits only `nprobe` lists per query, and a `cid`-partitioned
    * layout lets Spark prune the unvisited list directories
    * (dynamic partition pruning on the probe join's cid key), so
    * probe I/O scales with the probed lists, not the corpus. The
    * repartition-by-cid before the write puts each list in one task
    * → one file per list directory.
    *
    * Streaming/batch ingest appends via [[appendToWrittenIndex]];
    * each append adds one small file per touched list, so after many
    * ingests [[compactWrittenIndex]] rewrites the layout back to one
    * file per list.
    */
  def writeIndex(index: IvfIndex, dir: String): Unit = {
    index.centroids.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    index.assignments
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/assignments")
    writeBaselineManifest(index.assignments.sparkSession, dir)
  }

  /** Where [[driftEvidence]]'s baseline generation is recorded: one
    * tiny text file naming the assignment part-files that existed at
    * the last full rewrite (build / compaction / re-cluster). Part
    * names carry the writing task's UUID, so a name set needs no URI
    * normalization and survives directory moves.
    */
  private def baselineManifestPath(dir: String): String =
    s"$dir/baseline_manifest"

  /** Stamp the CURRENT assignment file set as the baseline
    * generation. Called at every rewrite point — [[writeIndex]],
    * the compaction swap, the re-cluster roll-forward — so
    * [[driftEvidence]] can split baseline vs appended mass EXACTLY
    * instead of inferring it from file modification times (which tie
    * on coarse-mtime filesystems and object stores and would silently
    * fold a same-second append into the baseline, suppressing the
    * re-cluster trigger).
    */
  private def writeBaselineManifest(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val names = spark.read.parquet(s"$dir/assignments").inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).getName).sorted
    val p = new org.apache.hadoop.fs.Path(baselineManifestPath(dir))
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(
      names.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readBaselineManifest(
      spark: org.apache.spark.sql.SparkSession, dir: String): Option[Set[String]] = {
    val p = new org.apache.hadoop.fs.Path(baselineManifestPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toSet)
      finally in.close()
    }
  }

  /** Reload a [[writeIndex]] layout. `cid` comes back as a partition
    * column; probes join on it by name, so the layout is transparent
    * to [[probe]]. Vectors tombstoned by [[deleteFromWrittenIndex]]
    * are filtered out here (a NOT-IN filter over the tiny tombstone
    * set — no plan change at all when nothing was ever deleted).
    */
  def readIndex(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex = {
    // a pending recluster_commit marker means the two-table swap is
    // half-rolled: serving from this state can mix generations (new
    // assignments pruned by OLD centroids — silently wrong pruning,
    // ADVICE r15). Readers may lack write access, so fail fast with
    // the remedy instead of auto-recovering from a read path; the
    // write verbs (append/delete/compact/recluster) auto-recover.
    requireNoPendingRecluster(spark, dir, "readIndex")
    IvfIndex(
      spark.read.parquet(s"$dir/centroids"),
      antiTombstones(
        spark,
        spark.read.parquet(s"$dir/assignments")
          .withColumn("cid", col("cid").cast("long")),
        dir))
  }

  private def requireNoPendingRecluster(
      spark: org.apache.spark.sql.SparkSession, dir: String, verb: String): Unit =
    require(
      !dirExists(spark, reclusterMarker(dir)),
      s"written index '$dir' has a committed-but-unfinished re-cluster " +
        s"(recluster_commit marker present) — $verb would observe mixed " +
        "generations; run recoverWrittenIndex(spark, dir) to roll the swap " +
        "forward first")

  /** Tombstone corpus vectors in a written index (re-curation /
    * takedown): `candIds` rows (first column, cast to long) are
    * appended to `dir/tombstones`, [[readIndex]] masks them from every
    * subsequent probe, and the next [[compactWrittenIndex]] rewrites
    * the lists without them and clears the tombstone set — the
    * standard tombstone + compaction-filter split: deletes cost
    * O(|deleted|) at write time and fold into the rewrite the layout
    * already needs for append fragmentation.
    *
    * Contract: ids are permanent — a vector RE-INGESTED under a
    * tombstoned id stays masked until a compaction clears the
    * tombstones (the rewrite drops the re-added rows too). Delete
    * then re-add of the same id is a caller error, stated here
    * because nothing can detect it cheaply at 100 TB.
    */
  def deleteFromWrittenIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String, candIds: DataFrame): Unit = {
    // roll a committed-but-unfinished re-cluster forward FIRST: the
    // pending swap retires the tombstone dir, so a takedown written
    // against the half-swapped state would be silently undone by the
    // deferred roll-forward (ADVICE r15) — after recovery the
    // tombstone lands against the new generation and sticks
    recoverWrittenIndex(spark, dir)
    // cap enforced at DELETE time (the ZLayout.delete / Dedup state
    // -table contract, ADVICE r13): the probe-path mask driver-collects
    // the set under Dedup.MaxTombstones, so a write past the cap would
    // brick every probe — fail here instead, while probes still work.
    val ids = Dedup.checkedTombstoneIds(candIds)
      .withColumnRenamed("doc_id", "cand_id")
      .localCheckpoint(true)
    val t = s"$dir/tombstones"
    val existing =
      if (dirExists(spark, t)) spark.read.parquet(t).distinct().count() else 0L
    require(
      existing + ids.count() <= Dedup.MaxTombstones,
      s"tombstone set under '$dir' would exceed ${Dedup.MaxTombstones} ids — " +
        "no longer takedown-sized; run the layout's compaction to fold the " +
        "current set in before tombstoning more")
    ids
      .coalesce(1)
      .write.mode("append").parquet(t)
  }

  /** Mask tombstoned ids out of a written layout's row table. The
    * mask is a NOT-IN FILTER over a driver-collected id set (the
    * bounded-small-side localization discipline — tombstone sets are
    * takedown-sized by contract, hard-capped with a remedy in
    * [[Dedup.collectTombstones]]), not an anti-join: a filter
    * preserves the scan's partitioning/pruning properties everywhere
    * — the bucketed-state twin of this mask measured +2 exchanges as
    * a join — and costs nothing when no tombstones exist
    * (StateCompactionSpec pins the no-tombstones plan is untouched
    * entirely).
    */
  private def antiTombstones(
      spark: org.apache.spark.sql.SparkSession, rows: DataFrame, dir: String,
      key: String = "cand_id"): DataFrame = {
    val t = s"$dir/tombstones"
    if (!dirExists(spark, t)) rows
    else {
      val ids = Dedup.collectTombstones(spark.read.parquet(t), "cand_id", t)
      if (ids.isEmpty) rows else rows.filter(!col(key).isin(ids: _*))
    }
  }

  /** The compaction-path twin of [[antiTombstones]]: a PLAIN
    * (shuffled) ANTI-JOIN instead of the capped driver collect.
    * Compaction is the prescribed remedy when a (legacy/
    * externally-grown) tombstone set outgrows the probe mask's cap,
    * so the rewrite must not read the set through ANY bounded channel
    * — the capped collect was the ADVICE r13 deadlock, and a
    * broadcast hint would merely move the ceiling to Spark's
    * broadcast limit (r14 review follow-up). UNHINTED is the point:
    * the optimizer still auto-broadcasts a takedown-sized set (the
    * routine case pays no extra exchange — both compaction writers
    * repartition explicitly afterwards anyway) and falls back to a
    * shuffle only when the set is genuinely past broadcast size. No
    * distinct() on the tombstone side because duplicate ids cannot
    * change an anti-join.
    */
  private def antiTombstonesJoin(
      spark: org.apache.spark.sql.SparkSession, rows: DataFrame, dir: String,
      key: String = "cand_id"): DataFrame = {
    val t = s"$dir/tombstones"
    if (!dirExists(spark, t)) rows
    else rows.join(
      spark.read.parquet(t).withColumnRenamed("cand_id", key),
      Seq(key), "left_anti")
  }

  private def dirExists(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def deleteDir(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Assign NEW vectors against a written index's (frozen) centroids
    * and append them into the partitioned assignment layout — the
    * persisted form of [[appendToIndex]]: per ingest this touches
    * only the new batch and the list directories it lands in.
    */
  def appendToWrittenIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String, newVectors: DataFrame,
      idCol: String = "vec_id"): Unit = {
    // finish any committed re-cluster first (idempotent, no-op in the
    // routine case): an append against the half-swapped state would
    // assign under whichever centroids generation happens to be live
    // and could be discarded by the deferred roll-forward (ADVICE r15)
    recoverWrittenIndex(spark, dir)
    assignVectors(spark.read.parquet(s"$dir/centroids"), newVectors, idCol)
      .repartition(col("cid"))
      .write.mode("append").partitionBy("cid").parquet(s"$dir/assignments")
  }

  /** Rewrite an append-grown assignment layout to one file per list,
    * preserving the partitioning (probe plans identical before and
    * after — spec-pinned). Tmp-dir + atomic move, like the band-table
    * compaction. [[deleteFromWrittenIndex]] tombstones are APPLIED by
    * the rewrite (the deleted rows never reach the new layout) and
    * the tombstone set is cleared once the swap lands.
    */
  def compactWrittenIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      targetCodeFiles: Int = 0): Unit = {
    // a compaction that started under a half-rolled re-cluster would
    // rewrite whichever generation is live and then CLEAR the
    // tombstones the pending swap also retires — roll forward first
    // so exactly one generation exists before the rewrite (ADVICE r15)
    recoverWrittenIndex(spark, dir)
    compactAssignmentsNoClear(spark, dir)
    // a combined IVFADC dir shares ONE tombstone set across its row
    // tables — clearing it after rewriting only the assignments would
    // let deleted vectors resurface through the still-unrewritten
    // codes (pqProbeWritten full-scans them), so compact those too
    // before the clear; on a plain IVF dir this branch never fires.
    // targetCodeFiles <= 0 sizes the rewrite from the table's bytes
    // (~one scan task per file) — the previous hardcoded 1 collapsed
    // an arbitrarily large codes table into a single file (ADVICE r13)
    if (dirExists(spark, s"$dir/codes"))
      compactCodesNoClear(
        spark, dir,
        if (targetCodeFiles >= 1) targetCodeFiles
        else sizedCodeFiles(spark, s"$dir/codes"))
    // tombstones are now baked into every row table under dir — clear
    // them so the live views stop paying the mask and a later re-add
    // of a compacted-away id becomes possible again
    deleteDir(spark, s"$dir/tombstones")
  }

  private def compactAssignmentsNoClear(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val cur = s"$dir/assignments"
    val tmp = s"$dir/assignments_compact_tmp"
    antiTombstonesJoin(
      spark,
      spark.read.parquet(cur).withColumn("cid", col("cid").cast("long")),
      dir)
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(tmp)
    swapDirs(spark, cur, tmp)
    writeBaselineManifest(spark, dir)
  }

  /** Swap `tmp` into `cur`'s place: the tmp write is complete before
    * the old layout disappears, so a crash leaves a readable state
    * either way. Via the path's OWN Hadoop FileSystem — the sibling
    * helpers (dirExists/deleteDir, the delete path, every read) all
    * speak Hadoop FS, and a java.nio move would silently confine the
    * whole persisted layout to the local filesystem (review finding).
    * Rename is atomic on HDFS/local; object stores without atomic
    * rename keep the same fail-readable ordering.
    */
  private def swapDirs(
      spark: org.apache.spark.sql.SparkSession, cur: String, tmp: String): Unit = {
    val curPath = new org.apache.hadoop.fs.Path(cur)
    val fs = curPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(cur + "_old")
    require(fs.rename(curPath, old), s"swap: rename $cur -> $old failed")
    require(
      fs.rename(new org.apache.hadoop.fs.Path(tmp), curPath),
      s"swap: rename $tmp -> $cur failed")
    fs.delete(old, true)
  }

  /** RE-CLUSTER a written IVF index — the maintenance verb frozen
    * centroids were missing (r14 verdict task #3): [[writeIndex]]
    * freezes list geometry at build time, [[appendToWrittenIndex]]
    * deliberately reuses it (the faiss `add` split), so as the
    * ingested distribution drifts the lists stop reflecting the data
    * and probe recall decays (measured on a drifted fixture in
    * ProbeReclusterRecall; numbers in SCALE.md).
    * This verb re-trains centroids from the accumulated LIVE corpus
    * (tombstones masked — the removal bakes in), re-assigns every
    * vector, and swaps the new generation in with the Z-order
    * rollForward discipline: the ENTIRE next generation materializes
    * under `*_next` first, a commit marker makes the swap decision
    * durable, and every crash point is [[recoverWrittenIndex]]
    * -decidable — old generation intact before the marker, new
    * generation completed after it; the two-table layout never mixes
    * generations. Tombstones retire AT the swap (no separate clear to
    * crash around — the ZOrder.delete lesson).
    *
    * Determinism: [[buildIndex]] is a pure function of (vector set,
    * centroidMod), so the re-clustered layout probes EXACTLY like an
    * index built in one shot over the same live vectors — that
    * equality is q_embed_ann_recluster's oracle.
    *
    * Plain IVF layouts only: an IVFADC dir's codes encode residuals
    * against the coarse assignment, so re-assignment invalidates
    * them — rebuild via writeIvfPqIndex instead (fail-fast here).
    *
    * READ-QUIESCE contract (review r15): the layout is TWO
    * directories and two directories cannot swap atomically, so the
    * crash guarantees above are about DURABILITY, not read isolation
    * — a probe that calls [[readIndex]] DURING the roll-forward can
    * observe new assignments with old centroids (silently wrong
    * pruning; the per-table rename-shuffle only removes the
    * path-not-found window). Like every other maintenance verb on
    * these layouts, run it with writers AND readers quiesced — serve
    * probes from a session that re-reads the index after the verb
    * returns.
    */
  def reclusterWrittenIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      centroidMod: Int = 0, lloydIters: Int = 1,
      fitSampleMod: Option[Int] = None): Unit = {
    require(!dirExists(spark, s"$dir/codes"),
      s"reclusterWrittenIndex supports plain IVF layouts; '$dir' carries a codes " +
        "table that must be re-encoded alongside the coarse re-assignment — use " +
        "reclusterWrittenIvfPqIndex (supply the raw corpus vectors; codes are " +
        "lossy, so the layout cannot reconstruct them)")
    recoverWrittenIndex(spark, dir)
    val live = readIndex(spark, dir).assignments
    val corpus = live.select(
      col("cand_id").as("vec_id"), col("cand_emb").as("embedding"))
    val idx = buildIndex(
      corpus, centroidMod, lloydIters, fitSampleMod = fitSampleMod)
    // materialize the ENTIRE next generation before any live dir moves
    idx.centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/centroids_next")
    idx.assignments.repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/assignments_next")
    // the commit point: after this marker lands, the swap WILL happen
    // (here or in a later recover); before it, a crash discards _next
    val marker = new org.apache.hadoop.fs.Path(reclusterMarker(dir))
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(marker, true).close()
    recoverWrittenIndex(spark, dir)
  }

  private def reclusterMarker(dir: String): String = s"$dir/recluster_commit"

  /** RE-CLUSTER a written IVFADC layout — [[reclusterWrittenIndex]]'s
    * combined-layout sibling (its fail-fast's remedy, r15 verdict task
    * #3): retrain the coarse centroids from the accumulated LIVE
    * corpus, re-assign every vector, RE-ENCODE the codes table, and
    * swap all three row tables (centroids, assignments, codes) under
    * the SAME commit marker / [[recoverWrittenIndex]] discipline. The
    * re-encode is what makes the verb correct in general: residual
    * codes depend on the coarse assignment, and even vector-coded
    * layouts must bake pending takedowns into the codes table the
    * probe full-scans. Codebooks stay FROZEN (the faiss maintenance
    * split: PQ geometry is a property of the data distribution's
    * local detail and retrains on a much slower cadence than the
    * coarse lists drift) — so re-encoding under them is a pure
    * per-vector function and the swapped layout probes exactly like a
    * one-shot [[writeIvfPqIndex]] over the live corpus under the same
    * codebooks (q_embed_ann_ivfpq_recluster's oracle).
    *
    * `vectors` supplies the raw corpus payloads (idCol, embedding):
    * PQ codes are LOSSY, so unlike the plain-IVF verb the layout
    * cannot reconstruct its own training input — at 100 TB the
    * vectors live in a corpus table anyway. The LAYOUT decides
    * membership: the live (tombstone-masked) assignment ids are the
    * re-cluster's corpus, `vectors` may be any superset, and a live
    * id MISSING from it fails fast (silently dropping vectors from
    * the next generation is the one unrecoverable outcome).
    *
    * Same READ-QUIESCE contract as the plain verb — three directories
    * cannot swap atomically; [[readIndex]] fails fast on the marker
    * and the write verbs auto-recover.
    */
  def reclusterWrittenIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      vectors: DataFrame,
      centroidMod: Int = 0, lloydIters: Int = 1,
      fitSampleMod: Option[Int] = None,
      idCol: String = "vec_id"): Unit = {
    require(dirExists(spark, s"$dir/codes"),
      s"'$dir' has no codes table — this is a plain IVF layout; use " +
        "reclusterWrittenIndex (no vector re-supply needed: plain assignments " +
        "carry the embeddings)")
    recoverWrittenIndex(spark, dir)
    // membership from the layout (tombstones masked — the removal
    // bakes into all three next-generation tables), payloads from the
    // caller; checkpointed because three passes (centroid fit, coarse
    // assign, PQ encode) read it
    val liveIds = antiTombstones(
      spark,
      spark.read.parquet(s"$dir/assignments").select(col("cand_id")),
      dir)
    val corpus = vectors
      .select(col(idCol).cast("long").as("vec_id"), col("embedding"))
      .join(liveIds.select(col("cand_id").as("vec_id")), Seq("vec_id"), "left_semi")
      .localCheckpoint(true)
    val nLive = liveIds.distinct().count()
    val nCorpus = corpus.count()
    require(nCorpus == nLive,
      s"reclusterWrittenIvfPqIndex: the layout holds $nLive live vector ids but " +
        s"`vectors` covers only $nCorpus of them — a re-cluster from a partial " +
        "corpus would silently drop the uncovered vectors from the next " +
        "generation; pass the full corpus table")
    val cb = readPqCodebooks(spark, dir)
    val idx = buildIndex(
      corpus, centroidMod, lloydIters, fitSampleMod = fitSampleMod)
    // materialize the ENTIRE next generation before any live dir moves
    idx.centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/centroids_next")
    idx.assignments.select("cand_id", "cid").repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/assignments_next")
    pqCodesWide(pqEncode(corpus, cb, "vec_id"), "vec_id")
      .join(
        idx.assignments.select(col("cand_id"), col("cid").cast("long")),
        Seq("cand_id"))
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/codes_next")
    // the appended mass folds into the next generation, so its
    // quantization-error baseline restamps too (codebooks are frozen
    // here, but the EVIDENCE window — appended-vs-baseline — resets
    // exactly like the drift manifest's)
    writeQerrStats(
      spark, s"${qerrBaselinePath(dir)}_next",
      pqQuantErrStats(corpus, cb, "vec_id"))
    // the commit point — identical discipline to the plain verb: after
    // the marker lands the three-table swap WILL happen (here or in a
    // later recover); before it, a crash discards the _next generation
    val marker = new org.apache.hadoop.fs.Path(reclusterMarker(dir))
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(marker, true).close()
    recoverWrittenIndex(spark, dir)
  }

  /** Finish or discard an interrupted [[reclusterWrittenIndex]] —
    * idempotent, called automatically at the start of every
    * re-cluster (the ZOrder.recover shape). Marker present ⇒ both
    * `_next` tables were fully materialized ⇒ roll the swap forward
    * (skipping tables a previous attempt already swapped) and retire
    * tombstones + marker; marker absent ⇒ any `_next` leftovers are
    * an incomplete materialization over an intact old generation —
    * discard them.
    */
  def recoverWrittenIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // "codes"/"codebooks"/"qerr_baseline" participate only for
    // combined IVFADC layouts (reclusterWrittenIvfPqIndex materializes
    // codes_next; refitWrittenPqCodebooks adds codebooks_next; both
    // restamp qerr_baseline_next); on a plain IVF dir those entries
    // are no-ops — dirExists gates each move
    val tables =
      Seq("assignments", "centroids", "codes", "codebooks", "qerr_baseline")
    if (dirExists(spark, reclusterMarker(dir))) {
      tables.foreach { t =>
        val next = s"$dir/${t}_next"
        if (dirExists(spark, next)) {
          // rename-shuffle (the swapDirs discipline) instead of
          // delete-then-rename: the live path is never ABSENT, so a
          // straggler read in the swap window fails over to the old
          // or new generation, not to path-not-found. Cross-TABLE
          // consistency still needs the quiesce contract below — two
          // directories cannot swap atomically.
          if (dirExists(spark, s"$dir/$t")) {
            deleteDir(spark, s"$dir/${t}_old")
            require(
              fs.rename(
                new org.apache.hadoop.fs.Path(s"$dir/$t"),
                new org.apache.hadoop.fs.Path(s"$dir/${t}_old")),
              s"recluster roll-forward: rename $dir/$t -> ${t}_old failed")
          }
          require(
            fs.rename(
              new org.apache.hadoop.fs.Path(next),
              new org.apache.hadoop.fs.Path(s"$dir/$t")),
            s"recluster roll-forward: rename $next -> $dir/$t failed")
          deleteDir(spark, s"$dir/${t}_old")
        } else {
          // already swapped before the interruption — but a crash
          // BETWEEN that swap's two renames can leave the full stale
          // _old generation behind (ADVICE r15: the leak persisted
          // until a later no-marker recovery); reclaim it here too
          deleteDir(spark, s"$dir/${t}_old")
        }
      }
      deleteDir(spark, s"$dir/tombstones")
      // the appended quantization-error ledger measured mass the
      // promoted generation just folded into its restamped baseline —
      // clear it with the tombstones (no-op when the generation
      // didn't carry qerr tables)
      deleteDir(spark, s"$dir/qerr_appended")
      // stamp the promoted generation BEFORE dropping the marker: a
      // crash in between re-enters this branch (next dirs gone → the
      // already-swapped path) and re-stamps, so the manifest can never
      // survive a completed swap pointing at the retired generation
      writeBaselineManifest(spark, dir)
      deleteDir(spark, reclusterMarker(dir))
    } else {
      tables.foreach { t =>
        deleteDir(spark, s"$dir/${t}_next")
        // a crash between the two roll-forward renames leaves a stray
        // _old dir whose _next already moved into place — harmless to
        // reads (the live dir is complete), reclaimed here
        deleteDir(spark, s"$dir/${t}_old")
      }
    }
  }

  /** One row per inverted list of a written index: `(cid, n_build,
    * n_appended)` — the build-time vs appended-since-last-rewrite
    * mass split that decides the RE-CLUSTER cadence (r15 verdict task
    * #4, turning SCALE.md's "trigger on per-list skew of the appended
    * mass, not a timer" guidance into an operator). Provenance comes
    * from the baseline manifest every rewrite point stamps (build /
    * compaction / re-cluster roll-forward): a part-file named there
    * is baseline, anything else is appended mass — an EXACT split
    * that keeps working when a filesystem's coarse mtimes tie (the
    * r16 verdict's object-store concern: a same-second append folded
    * into the baseline would silently suppress the trigger). Layouts
    * written before manifests fall back to the mtime heuristic —
    * every rewrite leaves one file per list dir and appends add
    * strictly newer files, so the oldest file per list dir is the
    * baseline. One driver-side listing + one footer-cheap count
    * aggregate either way (parquet count pushdown; no data scan).
    *
    * The evidence window is APPEND-SINCE-LAST-REWRITE: a compaction
    * folds appended files into the baseline and resets the split.
    * That is the right window for the cadence decision — evaluate
    * [[driftReport]] BEFORE compacting (mass already folded at
    * earlier compaction points was evaluated at those points), and
    * re-cluster instead of compacting when it trips.
    */
  def driftEvidence(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = spark.read.parquet(s"$dir/assignments")
    // appended = not in the last rewrite's baseline manifest; matched
    // downstream by FILE NAME (part files carry the writing task's
    // UUID, globally unique — so a literal-set match needs no URI
    // normalization and no UDF: the classifier stays a codegen'd In
    // over the split tail of input_file_name). Pre-manifest layouts:
    // oldest file per list dir = the baseline generation, strictly
    // newer = appended.
    def mtimeHeuristic: Seq[String] =
      rows.inputFiles
        .map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          (p.getParent.toUri.getPath, p.getName,
            p.getFileSystem(conf).getFileStatus(p).getModificationTime)
        }
        .groupBy(_._1)
        .values.flatMap { files =>
          val oldest = files.map(_._3).min
          files.filter(_._3 > oldest).map(_._2)
        }
        .toSeq
    val names = rows.inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSeq
    val appended = readBaselineManifest(spark, dir) match {
      // a manifest naming NONE of the current files is STALE, not a
      // claim that everything is appended: a crash between the
      // compaction swap and the manifest re-stamp leaves exactly this
      // state, and classifying 100% of the mass as appended would
      // spuriously trip an O(corpus) re-cluster (ADVICE r17) — fall
      // back to the mtime heuristic, the pre-manifest behavior
      case Some(baseline) if names.exists(baseline.contains) =>
        names.filterNot(baseline)
      case _ => mtimeHeuristic
    }
    val app =
      if (appended.isEmpty) lit(false)
      else expr("element_at(split(input_file_name(), '/'), -1)")
        .isin(appended: _*)
    rows
      .select(col("cid").cast("long").as("cid"), app.as("app"))
      .groupBy("cid")
      .agg(
        sum(when(!col("app"), 1L).otherwise(0L)).as("n_build"),
        sum(when(col("app"), 1L).otherwise(0L)).as("n_appended"))
  }

  /** The [[driftEvidence]] summary and trigger. `appendedSkew` is the
    * hottest list's share of the APPENDED mass in multiples of
    * uniform (share × nLists): ~1 means appends follow the build-time
    * geometry (stationary ingest — frozen centroids are fine), large
    * means the appended distribution piles into lists the build never
    * shaped (the ProbeReclusterRecall failure mode: pruning
    * degenerates to a half-corpus scan). Triggers when the appended
    * mass is both material (`minAppendedShare` of the corpus) and
    * skewed (`skewFactor`× uniform) — a skewed trickle or a balanced
    * flood are both fine to keep appending into.
    */
  final case class DriftReport(
      nLists: Long,
      buildRows: Long,
      appendedRows: Long,
      appendedShare: Double,
      appendedSkew: Double,
      recluster: Boolean)

  def driftReport(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      minAppendedShare: Double = 0.05, skewFactor: Double = 4.0): DriftReport = {
    val ev = driftEvidence(spark, dir).collect()
    val nLists = ev.length.toLong
    val build = ev.map(_.getLong(1)).sum
    val appended = ev.map(_.getLong(2)).sum
    val share =
      if (build + appended == 0L) 0.0
      else appended.toDouble / (build + appended)
    val skew =
      if (appended == 0L || nLists == 0L) 0.0
      else ev.map(_.getLong(2)).max.toDouble / appended * nLists
    DriftReport(
      nLists, build, appended, share, skew,
      recluster = share >= minAppendedShare && skew >= skewFactor)
  }

  // ---------- codebook-refit evidence (the quantization-error split) ----------

  private def qerrBaselinePath(dir: String): String = s"$dir/qerr_baseline"
  private def qerrAppendedPath(dir: String): String = s"$dir/qerr_appended"

  /** Quantization-error mass of `vecs` under `cb` in fixed-point ppm:
    * a vector's error is the sum over its m subspaces of the L2²
    * distance to the NEAREST sub-centroid — exactly the residual PQ
    * encoding throws away, so its growth on appended mass is the
    * direct evidence the frozen codebooks no longer fit the
    * distribution (the codebook sibling of [[driftEvidence]]'s
    * assignment-mass skew). Per-subspace errors floor to ppm longs
    * before summing, so the stat is associative-deterministic. One
    * broadcast-codebook pass over `vecs`; returns (nVectors, sumPpm).
    */
  private def pqQuantErrStats(
      vecs: DataFrame, cb: PqCodebooks, idCol: String): (Long, Long) = {
    graft.functions.VecDot.register(vecs.sparkSession)
    val byDist = Window.partitionBy("vid", "s").orderBy(col("d"), col("cid"))
    val row = pqSubVecs(vecs, cb.m, cb.subDim, idCol)
      .join(broadcast(cb.centroids), Seq("s"))
      .withColumn("d", expr(l2sqSpark("sv", "c")))
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") === 1)
      .agg(
        count(lit(1)).as("n_sub"),
        coalesce(
          sum(floor(lit(1000000.0) * col("d")).cast("long")), lit(0L)).as("s"))
      .head()
    (row.getLong(0) / cb.m, row.getLong(1))
  }

  private def writeQerrStats(
      spark: org.apache.spark.sql.SparkSession, path: String,
      stats: (Long, Long)): Unit = {
    import spark.implicits._
    Seq(stats).toDF("n_vectors", "sum_err_ppm")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Summed read (not head()) so the appended ledger's one-row-per-
    * ingest accumulation and the one-row baseline share a reader.
    */
  private def readQerrStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(Long, Long)] =
    if (!dirExists(spark, path)) None
    else {
      val row = spark.read.parquet(path)
        .agg(
          coalesce(sum("n_vectors"), lit(0L)),
          coalesce(sum("sum_err_ppm"), lit(0L)))
        .head()
      Some((row.getLong(0), row.getLong(1)))
    }

  private def appendQerrEvidence(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      stats: (Long, Long)): Unit = {
    import spark.implicits._
    Seq(stats).toDF("n_vectors", "sum_err_ppm")
      .coalesce(1).write.mode("append").parquet(qerrAppendedPath(dir))
    // one tiny row-file lands per ingest — fold the ledger down on a
    // file-count cadence so a long loop doesn't accumulate thousands
    if (spark.read.parquet(qerrAppendedPath(dir)).inputFiles.length > 64) {
      val all = readQerrStats(spark, qerrAppendedPath(dir)).get
      val tmp = s"${qerrAppendedPath(dir)}_compact_tmp"
      Seq(all).toDF("n_vectors", "sum_err_ppm")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      swapDirs(spark, qerrAppendedPath(dir), tmp)
    }
  }

  /** The codebook-refit trigger's evidence summary — `errRatio` is
    * appended mean quantization error over baseline mean (1 ≈ the
    * appends quantize like the corpus the codebooks were fit on;
    * large = the distribution moved somewhere the frozen codebooks
    * never shaped and every new vector pays reconstruction error the
    * fit could remove). Fires when the appended mass is MATERIAL
    * (`minAppendedShare`) and its error is `errFactor`× the baseline
    * — a noisy trickle or a well-quantized flood both keep appending.
    */
  final case class RefitReport(
      baselineN: Long,
      baselineMeanErrPpm: Double,
      appendedN: Long,
      appendedMeanErrPpm: Double,
      appendedShare: Double,
      errRatio: Double,
      refit: Boolean)

  /** Evaluate the refit trigger from the layout's persisted
    * quantization-error split: `qerr_baseline` (stamped by every
    * full-generation write — build with embeddings in hand,
    * re-cluster, refit) vs `qerr_appended` (one row per
    * [[appendAndMaintainWrittenIvfPqIndex]] ingest). Layouts written
    * before the ledger existed, or built from slimmed assignments,
    * have no baseline — the trigger stays silent (never fires) until
    * the first re-cluster/refit restamps it, the same grandfathering
    * as the drift manifest's mtime fallback.
    */
  def refitReport(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      minAppendedShare: Double = 0.05,
      errFactor: Double = 2.0): RefitReport = {
    val base = readQerrStats(spark, qerrBaselinePath(dir))
    val app = readQerrStats(spark, qerrAppendedPath(dir))
    val (bn, bs) = base.getOrElse((0L, 0L))
    val (an, asum) = app.getOrElse((0L, 0L))
    val bm = if (bn > 0) bs.toDouble / bn else 0.0
    val am = if (an > 0) asum.toDouble / an else 0.0
    val share = if (bn + an > 0) an.toDouble / (bn + an) else 0.0
    val ratio =
      if (bn == 0L || an == 0L) 0.0
      else if (bm > 0) am / bm
      else if (am > 0) Double.PositiveInfinity
      else 1.0
    RefitReport(
      bn, bm, an, am, share, ratio,
      // errFactor = Double.PositiveInfinity is the documented OPT-OUT
      // (a zero-error baseline makes any appended error an infinite
      // ratio, so a plain >= could never be disabled)
      refit = bn > 0 && an > 0 && !errFactor.isInfinite &&
        share >= minAppendedShare && ratio >= errFactor)
  }

  /** [[appendToWrittenIndex]] plus automatic compaction cadence —
    * the written-index twin of [[Dedup.appendAndMaybeCompact]]: when
    * the append pushes any list directory past `maxFilesPerList`
    * files, [[compactWrittenIndex]] rewrites the layout back to one
    * file per list. Probe plans and results are identical across the
    * automatic trigger (StateCompactionSpec pins both). Returns true
    * when this append triggered a compaction.
    */
  /** What [[appendAndMaintainWrittenIndex]] did after its append. */
  sealed trait MaintenanceAction
  case object NoMaintenance extends MaintenanceAction
  case object Compacted extends MaintenanceAction
  case object Reclustered extends MaintenanceAction
  case object Refitted extends MaintenanceAction

  /** The CLOSED-LOOP ingest verb — r15 verdict task #4's last step:
    * [[driftEvidence]] made the re-cluster trigger computable, this
    * ties it into the append cadence so nobody has to remember to
    * look. Appends the batch, then decides the maintenance action
    * from the layout's own evidence, most-expensive-first:
    * RE-CLUSTER when [[driftReport]] trips (appended mass material
    * AND skewed — the frozen lists no longer reflect the data, and a
    * compaction would both waste its rewrite and RESET the evidence
    * window without fixing the geometry), else COMPACT when a list
    * directory passed `maxFilesPerList` (fragmentation only — the
    * geometry is fine), else nothing. The evidence read costs one
    * driver listing + one footer-only aggregate per ingest — noise
    * against the append itself.
    *
    * Returns the action taken, so ingest loops can log/alert on
    * re-cluster events (at 100 TB that is an O(corpus) job someone
    * should see happening).
    */
  def appendAndMaintainWrittenIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String, newVectors: DataFrame,
      idCol: String = "vec_id", maxFilesPerList: Int = 4,
      minAppendedShare: Double = 0.05, skewFactor: Double = 4.0,
      centroidMod: Int = 0, lloydIters: Int = 1,
      fitSampleMod: Option[Int] = None): MaintenanceAction = {
    require(maxFilesPerList >= 1, "maxFilesPerList must be >= 1")
    appendToWrittenIndex(spark, dir, newVectors, idCol)
    val report = driftReport(spark, dir, minAppendedShare, skewFactor)
    if (report.recluster) {
      reclusterWrittenIndex(spark, dir, centroidMod, lloydIters, fitSampleMod)
      Reclustered
    } else {
      val maxPerList = spark.read.parquet(s"$dir/assignments").inputFiles
        .groupBy(f => f.substring(0, f.lastIndexOf('/')))
        .values.map(_.length).maxOption.getOrElse(0)
      if (maxPerList > maxFilesPerList) { compactWrittenIndex(spark, dir); Compacted }
      else NoMaintenance
    }
  }

  def appendAndMaybeCompactWrittenIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String, newVectors: DataFrame,
      idCol: String = "vec_id", maxFilesPerList: Int = 4): Boolean = {
    require(maxFilesPerList >= 1, "maxFilesPerList must be >= 1")
    appendToWrittenIndex(spark, dir, newVectors, idCol)
    // per-LIST file count, not a global total: appends touch only the
    // lists their batch lands in, so fragmentation is per-directory
    val maxPerList = spark.read.parquet(s"$dir/assignments").inputFiles
      .groupBy(f => f.substring(0, f.lastIndexOf('/')))
      .values.map(_.length).maxOption.getOrElse(0)
    if (maxPerList > maxFilesPerList) { compactWrittenIndex(spark, dir); true }
    else false
  }

  /** Probe a prebuilt index: each query vector visits its `nprobe`
    * nearest centroid lists and ranks those candidates by cosine.
    * `queries` needs `(idCol, embedding)`; the index pays nothing per
    * probe beyond a broadcast of the centroid table.
    */
  /** Each query's `nprobe` nearest coarse lists — the ONE definition
    * of the list-selection crossJoin and its `(d, cid)` tie order,
    * shared by [[probe]], [[probeQuant]], and [[ivfPqTopK]] (the
    * IVFADC oracle's iv_adist/iv_qprobe mirror it). Returns
    * `(vid, embedding, cid)`, nprobe rows per query.
    */
  private def nearestLists(
      centroids: DataFrame, queries: DataFrame, nprobe: Int, idCol: String): DataFrame = {
    val byDist = Window.partitionBy("vid").orderBy(col("d"), col("cid"))
    queries.select(col(idCol).as("vid"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("d", expr(l2sqSpark("embedding", "cemb")))
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") <= nprobe)
      .select("vid", "embedding", "cid")
  }

  def probe(
      index: IvfIndex,
      queries: DataFrame,
      k: Int = 5,
      nprobe: Int = 2,
      idCol: String = "vec_id"): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.VecDot.register(spark)
    graft.plans.TopKPerGroup.install(spark)
    val qprobe = nearestLists(index.centroids, queries, nprobe, idCol)
      .select(
        col("vid").as("query_id"), col("embedding").as("qemb"), col("cid"),
        expr(s"sqrt(${dotSpark("embedding", "embedding")})").as("qnorm"))

    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    qprobe
      .join(index.assignments, "cid")
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", expr(dotSpark("qemb", "cand_emb")) / (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(
        col("query_id"),
        col("rank").cast("long").as("rank"),
        col("cand_id"),
        floor(lit(1000000.0) * col("cos")).cast("long").as("cos_ppm"))
  }

  def ivfTopK(
      emb: DataFrame,
      k: Int = 5,
      queryMod: Int = 97,
      centroidMod: Int = 50,
      nprobe: Int = 2,
      lloydIters: Int = 1,
      idCol: String = "vec_id",
      maxCentroids: Int = 1 << 20): DataFrame = {
    val index = buildIndex(emb, centroidMod, lloydIters, idCol, maxCentroids)
    probe(index, emb.filter(col(idCol) % queryMod === 0), k, nprobe, idCol)
  }

  // ---- IVF-SQ8: quantized inverted lists, float queries ----

  /** Re-encode an index's inverted lists as int8 codes — the faiss
    * `IVF…,SQ8` layout, THE standard config for billion-vector
    * corpora: the assignment table (the index's dominant storage,
    * one row per corpus vector) drops from 4 bytes/component + array
    * overhead to one packed byte, so at 100 TB the lists a probe
    * scans are ~4× less I/O. Centroids stay float (they're the
    * broadcast-small side and steer assignment quality); queries
    * stay float and score against the codes with the mixed-precision
    * kernel — the stored vector's scale cancels in the cosine, so
    * dequantization never materializes.
    */
  def quantizeAssignments(index: IvfIndex): IvfIndex = {
    graft.functions.Int8Vec.register(index.assignments.sparkSession)
    IvfIndex(
      index.centroids,
      index.assignments.select(
        col("cand_id"), col("cid"),
        expr("i8_quantize(cand_emb)").as("cand_code"))
        .withColumn("cnsq", expr("vec_dot_i8(cand_code, cand_code)")))
  }

  /** [[probe]] against [[quantizeAssignments]]' code-form lists. */
  def probeQuant(
      index: IvfIndex,
      queries: DataFrame,
      k: Int = 5,
      nprobe: Int = 2,
      idCol: String = "vec_id"): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.VecDot.register(spark)
    graft.functions.Int8Vec.register(spark)
    graft.plans.TopKPerGroup.install(spark)
    val qprobe = nearestLists(index.centroids, queries, nprobe, idCol)
      .select(
        col("vid").as("query_id"), col("embedding").as("qemb"), col("cid"),
        expr(s"sqrt(${dotSpark("embedding", "embedding")})").as("qnorm"))

    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    qprobe
      .join(index.assignments, "cid")
      .filter(col("query_id") =!= col("cand_id"))
      // ⟨float query, int8 codes⟩ in double; |codes| from the exact
      // integer self-dot (≤ 64·127² < 2⁵³, so the cast is exact)
      .withColumn("cos",
        expr("vec_dot_f_i8(qemb, cand_code) / (qnorm * sqrt(CAST(cnsq AS DOUBLE)))"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(
        col("query_id"),
        col("rank").cast("long").as("rank"),
        col("cand_id"),
        floor(lit(1000000.0) * col("cos")).cast("long").as("cos_ppm"))
  }

  /** Build + quantize + probe, the fused IVF-SQ8 query. */
  def ivfSq8TopK(
      emb: DataFrame,
      k: Int = 5,
      queryMod: Int = 97,
      centroidMod: Int = 50,
      nprobe: Int = 2,
      lloydIters: Int = 1,
      idCol: String = "vec_id",
      maxCentroids: Int = 1 << 20): DataFrame = {
    val index = quantizeAssignments(
      buildIndex(emb, centroidMod, lloydIters, idCol, maxCentroids))
    probeQuant(index, emb.filter(col(idCol) % queryMod === 0), k, nprobe, idCol)
  }

  // ---------- Product Quantization (PQ / ADC) ----------

  /** PQ codebooks: `m` sub-spaces of `subDim = Dim/m` dims, each with
    * its own centroid set. Public technique: Jégou, Douze & Schmid
    * 2011, "Product Quantization for Nearest Neighbor Search" — the
    * faiss production COMPRESSION layout: a vector's code is m small
    * ints (8 logical bytes at m = 8) instead of 256 bytes of float32,
    * and a probe costs m table lookups per candidate instead of a
    * 64-dim fold. Centroid schema: (s, cid, c ARRAY<FLOAT>).
    */
  final case class PqCodebooks(m: Int, subDim: Int, centroids: DataFrame)

  /** Fit the per-subspace codebooks with the [[buildIndex]]
    * discipline so the oracle can replay them bit-for-bit:
    * deterministic seeds (`vec_id % seedMod`, sub-vector of each), one
    * Lloyd round whose per-dimension means are DECIMAL-summed and
    * cast back to FLOAT. A seed that attracts no vectors drops out,
    * exactly as in the IVF fit. The codebook is collected
    * hard-capped (m · |seeds| rows ≈ m·|vectors|/seedMod — O(m·√n)
    * at the [[buildIndex]] sizing rule).
    */
  def pqFit(
      build: DataFrame,
      m: Int = 8,
      seedMod: Int = 50,
      idCol: String = "vec_id",
      maxCentroids: Int = 1 << 20): PqCodebooks = {
    import graft.functions.VectorExprs
    require(m >= 1 && VectorExprs.Dim % m == 0,
      s"m must divide Dim=${VectorExprs.Dim}, got $m")
    require(seedMod >= 1, "seedMod must be >= 1")
    val spark = build.sparkSession
    graft.functions.VecDot.register(spark)
    val subDim = VectorExprs.Dim / m
    def localize(df: DataFrame): DataFrame = {
      val rows = df.limit(maxCentroids + 1).collect()
      require(
        rows.length <= maxCentroids,
        s"pqFit: codebook exceeds maxCentroids=$maxCentroids rows — raise seedMod. " +
          "PQ wants a FIXED per-subspace k (a few hundred at most: codes must " +
          "stay byte-small), so seedMod must scale with |vectors| — " +
          "seedMod ≈ |vectors|/k, NOT the IVF sqrt(n)-lists rule")
      spark.createDataFrame(rows.toSeq.asJava, df.schema)
    }
    val seeds = localize(
      pqSubVecs(build.filter(col(idCol) % seedMod === 0), m, subDim, idCol)
        .select(col("s"), col("vid").as("cid"), col("sv").as("c")))
    val byDist = Window.partitionBy("vid", "s").orderBy(col("d"), col("cid"))
    val cents = localize(
      pqSubVecs(build, m, subDim, idCol)
        .join(broadcast(seeds), Seq("s"))
        .withColumn("d", expr(l2sqSpark("sv", "c")))
        .withColumn("rn", row_number().over(byDist))
        .filter(col("rn") === 1)
        .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("s", "cid", "pos")
        .agg(
          (sum(col("x").cast("decimal(28,12)")).cast("double") / count(lit(1)))
            .cast("float").as("mv"))
        .groupBy("s", "cid")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mv")))),
          e => e("mv")).as("c")))
    PqCodebooks(m, subDim, cents)
  }

  private def pqSubVecs(
      df: DataFrame, m: Int, subDim: Int, idCol: String): DataFrame =
    df.select(col(idCol).as("vid"), col("embedding"))
      .withColumn("s", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("sv", expr(s"slice(embedding, s * $subDim + 1, $subDim)"))
      .select("vid", "s", "sv")

  /** PQ codes in TALL form `(vec_id, s, code)`: a pure
    * nearest-sub-centroid function of each vector (so, like IVF
    * assignment, codes for appended batches cost one broadcast pass
    * over the batch only). Tall rows feed the fixed-order ADC pivot
    * directly; a production sink would pack the m codes into m bytes.
    */
  def pqEncode(
      vecs: DataFrame, cb: PqCodebooks, idCol: String = "vec_id"): DataFrame = {
    graft.functions.VecDot.register(vecs.sparkSession)
    val byDist = Window.partitionBy("vid", "s").orderBy(col("d"), col("cid"))
    pqSubVecs(vecs, cb.m, cb.subDim, idCol)
      .join(broadcast(cb.centroids), Seq("s"))
      .withColumn("d", expr(l2sqSpark("sv", "c")))
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") === 1)
      .select(col("vid").as(idCol), col("s"), col("cid").as("code"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    * per-subspace distance TABLES to every sub-centroid (m·k doubles,
    * broadcast); a candidate's approximate L2² is the sum of its m
    * table lookups, added in FIXED subspace order — float addition is
    * non-associative, and the m-column pivot pins one order the
    * DuckDB oracle replays term for term. Output mirrors
    * [[bruteTopK]]: (query_id, rank, cand_id, adc_ppm), ranked by
    * ascending ADC distance.
    */
  def pqTopK(
      emb: DataFrame,
      cb: PqCodebooks,
      codes: DataFrame,
      k: Int = 5,
      queryMod: Int = 97,
      idCol: String = "vec_id"): DataFrame =
    pqAdcProbe(
      pqCodesWide(codes, idCol), cb,
      emb.filter(col(idCol) % queryMod === 0), k, idCol)

  /** The ADC full-scan probe over WIDE codes `(cand_id, codes)` by an
    * explicit query set `(idCol, embedding)` — the one scoring
    * definition shared by the in-memory [[pqTopK]] and the persisted
    * [[pqProbeWritten]] paths.
    */
  def pqAdcProbe(
      wideCodes: DataFrame,
      cb: PqCodebooks,
      queries: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id"): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.VecDot.register(spark)
    graft.plans.TopKPerGroup.install(spark)
    // per-query distance tables as ONE row per query: an m-array of
    // cid→distance maps (subspace order). The scoring join is then a
    // plain candidate × query crossJoin with m in-row map lookups —
    // one output row per (candidate, query) pair, NO n·m·Q joined
    // intermediate (the first formulation's groupBy-pivot over that
    // blowup measured 82 s at ×16 amplification; this one 3.5 s,
    // the same doubles in the same pinned order either way)
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("cand_id"))
    wideCodes
      .crossJoin(broadcast(pqQueryTablesFor(queries, cb, idCol)))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adc", expr(pqAdcSumExpr(cb.m)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(
        col("query_id"),
        col("rank").cast("long").as("rank"),
        col("cand_id"),
        floor(lit(1000000.0) * col("adc")).cast("long").as("adc_ppm"))
  }

  /** One row per query: the m per-subspace cid→distance tables,
    * assembled in subspace order (maps aren't orderable inside
    * array_sort structs, so the array is built by index lookup).
    */
  private def pqQueryTables(
      emb: DataFrame, cb: PqCodebooks, queryMod: Int, idCol: String): DataFrame =
    pqQueryTablesFor(emb.filter(col(idCol) % queryMod === 0), cb, idCol)

  private def pqQueryTablesFor(
      queries: DataFrame, cb: PqCodebooks, idCol: String): DataFrame =
    pqSubVecs(queries, cb.m, cb.subDim, idCol)
      .withColumnRenamed("vid", "query_id")
      .join(broadcast(cb.centroids), Seq("s"))
      .select(
        col("query_id"), col("s"), col("cid"),
        expr(l2sqSpark("sv", "c")).as("d"))
      .groupBy("query_id", "s")
      .agg(map_from_entries(collect_list(struct(col("cid"), col("d")))).as("tab"))
      .groupBy("query_id")
      .agg(map_from_entries(collect_list(struct(col("s"), col("tab")))).as("bys"))
      .select(
        col("query_id"),
        expr(s"transform(sequence(0, ${cb.m - 1}), i -> element_at(bys, i))").as("qm"))

  /** Tall codes → one `(cand_id, codes ARRAY)` row per vector. */
  private def pqCodesWide(codes: DataFrame, idCol: String): DataFrame =
    codes
      .groupBy(idCol)
      .agg(transform(
        array_sort(collect_list(struct(col("s"), col("code")))),
        e => e("code")).as("codes"))
      .select(col(idCol).as("cand_id"), col("codes"))

  /** The fixed-order ADC sum — float addition is non-associative, and
    * this left-to-right chain is exactly the oracle's pivot order.
    */
  private def pqAdcSumExpr(m: Int): String =
    (1 to m)
      .map(i => s"element_at(element_at(qm, $i), element_at(codes, $i))")
      .mkString(" + ")

  /** IVF × PQ — the faiss IVFADC production composition: the coarse
    * IVF quantizer prunes the corpus to the `nprobe` nearest lists
    * per query, and ONLY those candidates are ADC-scored from their
    * PQ codes (m in-row table lookups each). Per query the scan cost
    * is candidates-in-probed-lists, not the corpus — the shape that
    * holds at 10⁹ vectors. Deliberate, documented simplification vs
    * faiss's default: codes quantize the VECTORS, not the per-list
    * residuals (the also-standard IVF-Flat-PQ variant) — residual
    * codebooks couple the two quantizers and are a natural next dial.
    * Output matches [[pqTopK]]: (query_id, rank, cand_id, adc_ppm).
    */
  def ivfPqTopK(
      emb: DataFrame,
      k: Int = 5,
      queryMod: Int = 97,
      centroidMod: Int = 50,
      nprobe: Int = 2,
      m: Int = 16,
      seedMod: Int = 20,
      lloydIters: Int = 1,
      idCol: String = "vec_id",
      maxCentroids: Int = 1 << 20): DataFrame = {
    val spark = emb.sparkSession
    graft.functions.VecDot.register(spark)
    graft.plans.TopKPerGroup.install(spark)
    val index = buildIndex(emb, centroidMod, lloydIters, idCol, maxCentroids)
    val cb = pqFit(emb, m, seedMod, idCol)
    val codes = pqEncode(emb, cb, idCol)
    // query → nprobe nearest coarse lists (the probe()'s shared
    // selection — one definition of the tie order)
    val qLists = nearestLists(
      index.centroids, emb.filter(col(idCol) % queryMod === 0), nprobe, idCol)
      .select(col("vid").as("query_id"), col("cid"))
    // candidates restricted to the probed lists
    val pairs = index.assignments.select(col("cand_id"), col("cid"))
      .join(broadcast(qLists), Seq("cid"))
      .select("query_id", "cand_id")
    adcScorePairs(
      pairs, pqCodesWide(codes, idCol),
      pqQueryTables(emb, cb, queryMod, idCol), cb.m, k)
  }

  /** IVFADC with RESIDUAL codebooks — the faiss DEFAULT composition
    * (Jégou et al. 2011 §IV-A): PQ codes quantize r = x − q₁(x), the
    * vector MINUS its assigned coarse centroid, instead of x itself.
    * Residuals concentrate around the origin with the per-list
    * geometry already explained away, so the same code budget spends
    * on finer local detail — the reason this variant is the faiss
    * default over [[ivfPqTopK]]'s vector-coding simplification. The
    * cost is the coupling the vector-coding variant avoids: a query's
    * ADC distance tables depend on WHICH list is probed (the query
    * residual is q − c_list), so tables are built per (query, probed
    * list) — nprobe× more table builds, each still broadcast-sized,
    * while the corpus-side scan cost is unchanged (m in-row lookups
    * per probed candidate).
    *
    * Residuals are double-subtracted then rounded to FLOAT — one IEEE
    * op either way, so both engines carry bit-identical residual
    * vectors into the (unchanged) codebook-fit/encode/ADC algebra.
    * One codebook is shared across lists (the faiss default; per-list
    * codebooks are the memory-heavy refinement).
    */
  def ivfPqResidualTopK(
      emb: DataFrame,
      k: Int = 5,
      queryMod: Int = 97,
      centroidMod: Int = 50,
      nprobe: Int = 2,
      m: Int = 16,
      seedMod: Int = 20,
      lloydIters: Int = 1,
      idCol: String = "vec_id",
      maxCentroids: Int = 1 << 20): DataFrame = {
    val spark = emb.sparkSession
    graft.functions.VecDot.register(spark)
    graft.plans.TopKPerGroup.install(spark)
    val index = buildIndex(emb, centroidMod, lloydIters, idCol, maxCentroids)
    // corpus residuals, keyed like a corpus so pqFit/pqEncode apply
    // unchanged; coarse list id renamed `lid` everywhere below — the
    // PQ codebook table has its own `cid` (sub-centroid id)
    val resid = index.assignments
      .join(broadcast(index.centroids), Seq("cid"))
      .select(
        col("cand_id").as(idCol), col("cid").as("lid"),
        expr(residualSpark("cand_emb", "cemb")).as("embedding"))
    val cb = pqFit(resid, m, seedMod, idCol)
    val codes = pqEncode(resid, cb, idCol)
    // each query's nprobe lists, then its PER-LIST residual
    val qres = nearestLists(
      index.centroids, emb.filter(col(idCol) % queryMod === 0), nprobe, idCol)
      .join(broadcast(index.centroids), Seq("cid"))
      .select(
        col("vid").as("query_id"), col("cid").as("lid"),
        expr(residualSpark("embedding", "cemb")).as("qres"))
    // per-(query, list) ADC tables — [[pqQueryTablesFor]]'s shape with
    // the list id carried through the grouping
    val qt = qres
      .withColumn("s", explode(sequence(lit(0), lit(cb.m - 1))))
      .withColumn("sv", expr(s"slice(qres, s * ${cb.subDim} + 1, ${cb.subDim})"))
      .join(broadcast(cb.centroids), Seq("s"))
      .select(
        col("query_id"), col("lid"), col("s"), col("cid"),
        expr(l2sqSpark("sv", "c")).as("d"))
      .groupBy("query_id", "lid", "s")
      .agg(map_from_entries(collect_list(struct(col("cid"), col("d")))).as("tab"))
      .groupBy("query_id", "lid")
      .agg(map_from_entries(collect_list(struct(col("s"), col("tab")))).as("bys"))
      .select(
        col("query_id"), col("lid"),
        expr(s"transform(sequence(0, ${cb.m - 1}), i -> element_at(bys, i))").as("qm"))
    val qLists = qres.select(col("query_id"), col("lid"))
    val pairs = index.assignments.select(col("cand_id"), col("cid").as("lid"))
      .join(broadcast(qLists), Seq("lid"))
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("cand_id"))
    pairs
      .join(pqCodesWide(codes, idCol), Seq("cand_id"))
      .join(broadcast(qt), Seq("query_id", "lid"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adc", expr(pqAdcSumExpr(cb.m)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(
        col("query_id"),
        col("rank").cast("long").as("rank"),
        col("cand_id"),
        floor(lit(1000000.0) * col("adc")).cast("long").as("adc_ppm"))
  }

  /** ADC-score an explicit `(query_id, cand_id)` pair list from wide
    * codes + per-query distance tables — the IVFADC scoring tail,
    * shared by the in-memory [[ivfPqTopK]] and the persisted
    * [[ivfPqProbeWritten]] paths.
    */
  private def adcScorePairs(
      pairs: DataFrame, wideCodes: DataFrame, qTabs: DataFrame,
      m: Int, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("cand_id"))
    pairs
      .join(wideCodes, Seq("cand_id"))
      .join(broadcast(qTabs), Seq("query_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adc", expr(pqAdcSumExpr(m)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(
        col("query_id"),
        col("rank").cast("long").as("rank"),
        col("cand_id"),
        floor(lit(1000000.0) * col("adc")).cast("long").as("adc_ppm"))
  }

  /** ADC shortlist + EXACT re-rank — the faiss `IndexRefineFlat`
    * production pattern, and the honest answer to ADC's ranking
    * error on unstructured embeddings: the FULL corpus is scanned
    * only in the compressed domain (m table lookups/candidate), then
    * float embeddings are touched for just `shortlist` candidates
    * per query. Output ranks by exact L2² (`l2_ppm`); recall@k is
    * then bounded by P(true top-k ⊂ ADC top-shortlist), which the
    * shortlist dial controls directly.
    */
  def pqTopKRefined(
      emb: DataFrame,
      cb: PqCodebooks,
      codes: DataFrame,
      k: Int = 5,
      shortlist: Int = 50,
      queryMod: Int = 97,
      idCol: String = "vec_id"): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val short = pqTopK(emb, cb, codes, shortlist, queryMod, idCol)
      .select(col("query_id"), col("cand_id"))
    val q = emb.filter(col(idCol) % queryMod === 0)
      .select(col(idCol).as("query_id"), col("embedding").as("qemb"))
    val c = emb.select(col(idCol).as("cand_id"), col("embedding").as("cemb"))
    val w = Window.partitionBy("query_id").orderBy(col("d2"), col("cand_id"))
    broadcast(short)
      .join(c, Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("d2", expr(l2sqSpark("qemb", "cemb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(
        col("query_id"),
        col("rank").cast("long").as("rank"),
        col("cand_id"),
        floor(lit(1000000.0) * col("d2")).cast("long").as("l2_ppm"))
  }

  /** Fit + encode + probe, the fused PQ query. `seedMod` here (and
    * everywhere PQ) should keep per-subspace k PQ-typical — a fixed
    * few hundred, since a production sink packs each code into one
    * byte — not the IVF √n-lists rule.
    */
  def pqAdcTopK(
      emb: DataFrame,
      m: Int = 8,
      k: Int = 5,
      queryMod: Int = 97,
      seedMod: Int = 200,
      idCol: String = "vec_id"): DataFrame = {
    val cb = pqFit(emb, m, seedMod, idCol)
    pqTopK(emb, cb, pqEncode(emb, cb, idCol), k, queryMod, idCol)
  }

  /** Fit + encode + ADC shortlist + exact re-rank, fused. */
  def pqRefinedTopK(
      emb: DataFrame,
      m: Int = 16,
      k: Int = 5,
      shortlist: Int = 50,
      queryMod: Int = 97,
      seedMod: Int = 20,
      idCol: String = "vec_id"): DataFrame = {
    val cb = pqFit(emb, m, seedMod, idCol)
    pqTopKRefined(emb, cb, pqEncode(emb, cb, idCol), k, shortlist, queryMod, idCol)
  }

  /** PQ retrieval quality vs the EXACT L2 ground truth — the Jégou et
    * al. evaluation metric (ADC approximates L2, so L2 is the honest
    * reference; the cosine baseline would conflate metric mismatch
    * with quantization loss). Per query: how many of the true top-k
    * survive in the ADC top-k. Oracled as an exact count.
    *
    * Measured on the synthetic (unstructured-gaussian — PQ's worst
    * case) embeddings at sf0.1: pure ADC ranks ~2.0-2.7/5 at
    * PQ-typical codebooks, while the [[pqTopKRefined]] shortlist-50
    * re-rank recovers 4.7-4.9/5 — which is exactly why the refine
    * pattern exists.
    */
  def pqRecallAt(
      emb: DataFrame,
      m: Int = 8,
      k: Int = 5,
      queryMod: Int = 97,
      seedMod: Int = 200,
      idCol: String = "vec_id"): DataFrame = {
    graft.functions.VecDot.register(emb.sparkSession)
    graft.plans.TopKPerGroup.install(emb.sparkSession)
    val q = emb.filter(col(idCol) % queryMod === 0)
      .select(col(idCol).as("query_id"), col("embedding").as("qemb"))
    val cand = emb.select(col(idCol).as("cand_id"), col("embedding").as("cemb"))
    val w = Window.partitionBy("query_id").orderBy(col("d2"), col("cand_id"))
    val exact = cand.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("d2", expr(l2sqSpark("qemb", "cemb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id")
    val adc = pqAdcTopK(emb, m, k, queryMod, seedMod, idCol)
      .select(col("query_id").as("a_qid"), col("cand_id").as("a_cid"))
    exact
      .join(
        adc,
        exact("query_id") === adc("a_qid") && exact("cand_id") === adc("a_cid"),
        "left")
      .groupBy("query_id")
      .agg(count(col("a_cid")).as("hits_at_k"))
  }

  // ---------- persisted PQ / IVFADC state ----------

  /** Persist PQ state as parquet tables under `dir`: `meta`
    * (m, sub_dim — one row), `codebooks` (s, cid, c), and `codes` in
    * the WIDE per-vector form `(cand_id, codes ARRAY)` — one row per
    * corpus vector, the m-small-ints payload a production sink packs
    * to m bytes. This closes the r12 gap where codebooks and codes
    * were refit inside every query: steady-state ANN fits ONCE
    * ([[pqFit]]), encodes once, and probes re-read only state. FLOAT
    * codebook components and integer codes round-trip parquet
    * bit-exactly, so a written-then-probed query hash-equals the
    * in-memory path (oracled as q_embed_pq_written).
    *
    * Codes are deliberately NOT partitioned by a key: the ADC probe
    * is a full compressed-domain scan by design, so the layout
    * optimizes for sequential read, not pruning (IVFADC adds the
    * pruning dimension — [[writeIvfPqIndex]] keeps the coarse
    * assignment table `cid`-partitioned for exactly that).
    */
  def writePqIndex(
      cb: PqCodebooks, codes: DataFrame, dir: String,
      idCol: String = "vec_id"): Unit = {
    val spark = cb.centroids.sparkSession
    import spark.implicits._
    Seq((cb.m, cb.subDim)).toDF("m", "sub_dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    cb.centroids.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    pqCodesWide(codes, idCol).write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** Reload a written layout's codebooks; `m`/`subDim` come from the
    * one-row meta table, so a probe needs no out-of-band geometry.
    */
  def readPqCodebooks(
      spark: org.apache.spark.sql.SparkSession, dir: String): PqCodebooks = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    PqCodebooks(
      meta.getAs[Int]("m"), meta.getAs[Int]("sub_dim"),
      spark.read.parquet(s"$dir/codebooks"))
  }

  /** Reload a written layout's wide codes, minus any
    * [[deleteFromWrittenPqIndex]] tombstones (NOT-IN filter; no plan
    * change when nothing was ever deleted).
    */
  def readPqCodesWide(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    antiTombstones(spark, spark.read.parquet(s"$dir/codes"), dir)

  /** DECODE a written layout's live codes back to float vectors:
    * `(cand_id, recon ARRAY<FLOAT>)`, recon = the m sub-centroids
    * named by the vector's codes, concatenated in subspace order —
    * PQ's defining approximation, materialized. This is what a
    * CODES-ONLY persisted state can serve in place of stored float
    * vectors (the r16 verdict's semantic-state-bytes concern: plain
    * IVF assignments carry full embeddings; codes + frozen codebooks
    * carry ~m bytes a vector), and the probe side of
    * [[graft.operators.Dedup.semanticDedupAgainstPqIndex]] scores
    * cosine against exactly this reconstruction.
    *
    * COST SHAPE — this is the FULL-CORPUS decode: the posexplode
    * fans every live vector into m rows and the per-vector
    * `collect_list` groupBy IS a corpus-width shuffle (m×N rows at
    * full float width). That is the right verb for a one-shot
    * whole-layout export; an ingest-cadence probe must NOT call it —
    * use [[reconstructWrittenCodesForCids]], which prunes the codes
    * scan to the lists the batch actually touches before any of
    * that fan-out runs (the r17 verdict's O(corpus)-per-batch
    * finding).
    */
  def reconstructWrittenCodes(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    reconstructCodes(readPqCodebooks(spark, dir), readPqCodesWide(spark, dir))

  /** [[reconstructWrittenCodes]] restricted to the named coarse
    * lists — the ingest-cadence decode: `cid` is a PARTITION column
    * on the combined layout's code rows (stamped at encode time from
    * the coarse assignment), so the `isin` filter prunes unvisited
    * list directories at the scan and the posexplode/groupBy fan-out
    * downstream of it runs over Σ|touched lists| rows, not the
    * corpus. `cids` is driver-resident by the same argument as
    * [[driftReport]]'s evidence: it is bounded by nLists, which the
    * [[buildIndex]] sizing rule keeps ≈ sqrt(corpus).
    *
    * Fails fast on a pre-cid (flat) codes layout — run
    * [[migrateWrittenPqCodesCid]] once.
    *
    * `idFilter` (optional, `(cand_id)` rows) narrows the decode
    * further, BELOW the posexplode/groupBy fan-out: a capped probe
    * ([[graft.operators.Dedup.semanticDedupAgainstPqIndex]]'s
    * `maxCorpusVecsPerList`) only ever joins the cap×|touched lists|
    * representative rows, and an inner join ABOVE the aggregate
    * cannot be pushed through it by Catalyst — so without this
    * filter every code row of a hot list still paid the decode and
    * non-representatives were dropped only at the join (ADVICE r18).
    * The filter side is bounded by cap×|touched lists| by contract,
    * hence the broadcast left-semi.
    */
  def reconstructWrittenCodesForCids(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      cids: Seq[Long], idFilter: Option[DataFrame] = None): DataFrame = {
    val wide = readPqCodesWide(spark, dir)
    require(wide.columns.contains("cid"),
      s"combined IVFADC layout '$dir' carries FLAT code rows — the pruned " +
        "reconstruction needs the cid-partitioned codes layout; run " +
        "migrateWrittenPqCodesCid(spark, dir) once to rewrite it")
    val pruned =
      if (cids.isEmpty) wide.filter(lit(false))
      else wide.filter(col("cid").cast("long").isin(cids: _*))
    reconstructCodes(
      readPqCodebooks(spark, dir),
      idFilter.fold(pruned)(ids =>
        pruned.join(
          broadcast(ids.select("cand_id")), Seq("cand_id"), "left_semi")))
  }

  private def reconstructCodes(
      cb: PqCodebooks, wideCodes: DataFrame): DataFrame =
    wideCodes
      .select(col("cand_id"), posexplode(col("codes")).as(Seq("s", "code")))
      .join(
        broadcast(cb.centroids.withColumnRenamed("cid", "code")),
        Seq("s", "code"))
      .groupBy("cand_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("s"), col("c")))),
        e => e("c"))).as("recon"))

  /** Encode NEW vectors against a written layout's (frozen) codebooks
    * and append their wide code rows — the PQ twin of
    * [[appendToWrittenIndex]]: per ingest this touches only the new
    * batch (encoding is a pure per-vector function of the codebooks,
    * so the grown state probes identically to a one-shot encode —
    * spec-pinned). `appendTasks` caps the file fan-out per ingest the
    * way the band-table append's does (a repartition, not a coalesce,
    * so the encode itself keeps its parallelism).
    */
  def appendToWrittenPqIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      newVectors: DataFrame, idCol: String = "vec_id",
      appendTasks: Int = 1): Unit = {
    require(appendTasks >= 1, "appendTasks must be >= 1")
    // a combined IVFADC dir keeps its codes cid-PARTITIONED; a flat
    // append here would mix layouts and break partition discovery —
    // the combined layout appends via appendToWrittenIvfPqIndex,
    // which carries the coarse assignment onto the code rows
    require(!dirExists(spark, s"$dir/assignments"),
      s"'$dir' is a combined IVFADC layout (codes are cid-partitioned) — " +
        "append via appendToWrittenIvfPqIndex, not the flat-codes verb")
    val cb = readPqCodebooks(spark, dir)
    pqCodesWide(pqEncode(newVectors, cb, idCol), idCol)
      .repartition(appendTasks)
      .write.mode("append").parquet(s"$dir/codes")
  }

  /** Rewrite append-grown codes down to `targetFiles` files, applying
    * and then clearing any tombstones (tmp write + atomic swap, like
    * the assignment compaction). `targetFiles` sizes the layout;
    * <= 0 (the default) derives it from the table's bytes so each
    * file stays ~one scan task ([[sizedCodeFiles]]).
    */
  def compactWrittenPqIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      targetFiles: Int = 0): Unit = {
    compactCodesNoClear(
      spark, dir,
      if (targetFiles >= 1) targetFiles else sizedCodeFiles(spark, s"$dir/codes"))
    // the shared-tombstone mirror of compactWrittenIndex's guard: on
    // a combined IVFADC dir the coarse assignments must be rewritten
    // too before the one tombstone set is cleared
    if (dirExists(spark, s"$dir/assignments")) compactAssignmentsNoClear(spark, dir)
    deleteDir(spark, s"$dir/tombstones")
  }

  /** Size a codes rewrite from the table's current bytes: ~one scan
    * task (128 MB, the default `files.maxPartitionBytes`) per output
    * file, minimum one. The size-derived default for every codes
    * compaction entry point — 1 is only right at test scale.
    *
    * The raw bytes include rows a pending tombstone set is about to
    * drop (ADVICE r14: after a large takedown they over-state the
    * post-compaction size), so the estimate is scaled by the live-row
    * fraction — codes tables carry exactly one row per vec_id, so
    * |tombstones| / rows IS the dead fraction; both counts are
    * parquet-metadata reads, no data scan. Append fragmentation
    * overhead (small files compress worse) still inflates the
    * estimate slightly — the conservative direction.
    */
  private def sizedCodeFiles(
      spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = spark.read.parquet(path).inputFiles.iterator.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    val dir = path.stripSuffix("/codes")
    val live =
      if (dir == path || !dirExists(spark, s"$dir/tombstones")) 1.0
      else {
        val total = spark.read.parquet(path).count()
        // distinct: overlapping takedowns append duplicate ids (the
        // delete path's documented conservatism) — raw rows would
        // overstate the dead fraction and under-size the rewrite
        val dead = spark.read.parquet(s"$dir/tombstones").distinct().count()
        if (total <= 0L) 1.0 else math.max(0.0, (total - dead).toDouble / total)
      }
    val liveBytes = (bytes * live).toLong
    math.max(1L, (liveBytes + (128L << 20) - 1) / (128L << 20)).toInt
  }

  private def compactCodesNoClear(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      targetFiles: Int): Unit = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val cur = s"$dir/codes"
    val tmp = s"$dir/codes_compact_tmp"
    // raw read + the anti-JOIN mask (not readPqCodesWide, whose probe
    // -path mask rides the capped driver collect — see
    // [[antiTombstonesJoin]] for why a rewrite must not)
    val raw = spark.read.parquet(cur)
    val live = antiTombstonesJoin(spark, raw, dir)
    // a combined layout's codes are cid-PARTITIONED (the pruning
    // structure the probe depends on) — the rewrite preserves it,
    // one file per list like the assignments compaction; flat plain-
    // PQ codes keep the size-derived file count
    if (raw.columns.contains("cid"))
      live.withColumn("cid", col("cid").cast("long"))
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(tmp)
    else
      live.repartition(targetFiles).write.mode("overwrite").parquet(tmp)
    swapDirs(spark, cur, tmp)
  }

  /** [[appendToWrittenPqIndex]] plus the automatic compaction cadence
    * ([[Dedup.appendAndMaybeCompact]]'s contract): when the append
    * pushes the codes table past `maxFiles` files, the layout is
    * rewritten (which also folds in any pending tombstones). Returns
    * true when this append triggered a compaction.
    */
  def appendAndMaybeCompactPqIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      newVectors: DataFrame, idCol: String = "vec_id",
      maxFiles: Int = 4, appendTasks: Int = 1): Boolean = {
    require(maxFiles >= 1, "maxFiles must be >= 1")
    appendToWrittenPqIndex(spark, dir, newVectors, idCol, appendTasks)
    if (spark.read.parquet(s"$dir/codes").inputFiles.length > maxFiles) {
      compactWrittenPqIndex(spark, dir); true
    } else false
  }

  /** Tombstone corpus vectors in a written PQ layout — the same
    * tombstone set (and the same re-add contract) as
    * [[deleteFromWrittenIndex]]: [[readPqCodesWide]] masks the ids
    * from every probe immediately, and the next compaction bakes the
    * removal into the layout.
    */
  def deleteFromWrittenPqIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      candIds: DataFrame): Unit =
    deleteFromWrittenIndex(spark, dir, candIds)

  /** Probe a written PQ layout: codebooks + codes come from `dir`,
    * nothing is refit. Hash-equal to the in-memory [[pqTopK]] on the
    * same corpus (the q_embed_pq_written oracle).
    */
  def pqProbeWritten(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int = 5, idCol: String = "vec_id"): DataFrame =
    pqAdcProbe(
      readPqCodesWide(spark, dir), readPqCodebooks(spark, dir),
      queries, k, idCol)

  /** Persist the full IVFADC state: the coarse quantizer as a
    * [[writeIndex]] layout SLIMMED to `(cand_id, cid)` (the PQ codes
    * carry the payload, so the `cid`-partitioned assignment table
    * stores two longs per vector — pure pruning structure), plus the
    * PQ meta/codebooks tables and the codes — PARTITIONED BY `cid`
    * like the assignments (r17 verdict: the cid is known at encode
    * time from the coarse assignment, and carrying it on code rows is
    * what lets a probe reconstruct only the lists a batch touches
    * instead of the whole corpus — [[reconstructWrittenCodesForCids]]).
    * All under one `dir`. When `index.assignments` still carries the
    * raw embeddings (a fresh [[buildIndex]] output), the build's
    * quantization-error baseline is stamped too ([[refitReport]]'s
    * evidence); slimmed assignments skip the stamp — the refit
    * trigger then stays silent until the first re-cluster/refit
    * restamps it.
    */
  def writeIvfPqIndex(
      index: IvfIndex, cb: PqCodebooks, codes: DataFrame, dir: String,
      idCol: String = "vec_id"): Unit = {
    val spark = cb.centroids.sparkSession
    import spark.implicits._
    writeIndex(
      IvfIndex(index.centroids, index.assignments.select("cand_id", "cid")),
      dir)
    Seq((cb.m, cb.subDim)).toDF("m", "sub_dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    cb.centroids.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    // LEFT join + row-level raise_error, not inner: a code row whose
    // cand_id has no coarse assignment (inconsistent caller inputs)
    // must fail the write, not silently vanish from the layout — the
    // guard migrateWrittenPqCodesCid applies as a count-equality
    // require, done here as a per-row check so the write stays ONE
    // job (ADVICE r18)
    pqCodesWide(codes, idCol)
      .join(
        index.assignments.select(col("cand_id"), col("cid").cast("long")),
        Seq("cand_id"), "left")
      .withColumn(
        "cid",
        when(col("cid").isNotNull, col("cid")).otherwise(
          raise_error(concat(
            lit("writeIvfPqIndex: code row cand_id="),
            col("cand_id").cast("string"),
            lit(" has no coarse assignment — the index and codes frames " +
              "disagree; encode from the same corpus the index was built on")))
            .cast("long")))
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/codes")
    if (index.assignments.columns.contains("cand_emb"))
      writeQerrStats(
        spark, qerrBaselinePath(dir),
        pqQuantErrStats(
          index.assignments.select(
            col("cand_id").as(idCol), col("cand_emb").as("embedding")),
          cb, idCol))
  }

  /** Assign + encode a NEW batch against a written IVFADC layout's
    * frozen centroids and codebooks, appending to both state tables —
    * one broadcast pass each over the batch only.
    */
  def appendToWrittenIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      newVectors: DataFrame, idCol: String = "vec_id",
      appendTasks: Int = 1): Unit = {
    require(appendTasks >= 1, "appendTasks must be >= 1")
    // finish any committed re-cluster first (ADVICE r15 — same
    // contract as the plain-layout append)
    recoverWrittenIndex(spark, dir)
    requireCidCodes(spark, dir, "appendToWrittenIvfPqIndex")
    // ONE assignment pass feeds both state tables: the assignments
    // append and the cid each code row carries (checkpointed so the
    // broadcast-centroid pass over the batch runs once, not twice)
    val assigned = assignVectors(
      spark.read.parquet(s"$dir/centroids"), newVectors, idCol)
      .select(col("cand_id"), col("cid").cast("long"))
      .localCheckpoint(true)
    assigned
      .repartition(col("cid"))
      .write.mode("append").partitionBy("cid").parquet(s"$dir/assignments")
    val cb = readPqCodebooks(spark, dir)
    pqCodesWide(pqEncode(newVectors, cb, idCol), idCol)
      .join(assigned, Seq("cand_id"))
      // cid rides the hash partitioning so every touched list gets at
      // most `appendTasks` new files per ingest (1 by default — the
      // assignments append's own fan-out discipline)
      .repartition(appendTasks, col("cid"))
      .write.mode("append").partitionBy("cid").parquet(s"$dir/codes")
  }

  /** Fail fast when a combined layout's codes table predates the
    * cid-partitioned layout (r17 verdict: flat code rows cannot be
    * pruned to the lists a batch touches) — the remedy is a one-time
    * [[migrateWrittenPqCodesCid]] rewrite.
    */
  private def requireCidCodes(
      spark: org.apache.spark.sql.SparkSession, dir: String, verb: String): Unit =
    require(
      spark.read.parquet(s"$dir/codes").columns.contains("cid"),
      s"combined IVFADC layout '$dir' carries FLAT code rows (no cid " +
        s"partition column) — $verb requires the cid-partitioned codes " +
        "layout so probes can prune to the touched lists; run " +
        "migrateWrittenPqCodesCid(spark, dir) once to rewrite it")

  /** One-time migration of a pre-cid combined layout: join each code
    * row to its coarse assignment (every encoded vector has exactly
    * one) and rewrite the codes table partitioned by `cid` — tmp
    * write + atomic swap, the compaction discipline. Idempotent;
    * fails fast on a plain PQ layout (no assignments to source the
    * cid from — flat codes are that layout's DESIGN: the ADC probe
    * full-scans by contract).
    */
  def migrateWrittenPqCodesCid(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    require(dirExists(spark, s"$dir/assignments"),
      s"'$dir' is a plain PQ layout — flat codes are its design (full-scan " +
        "ADC probe); only combined IVFADC layouts carry cid on code rows")
    recoverWrittenIndex(spark, dir)
    val codes = spark.read.parquet(s"$dir/codes")
    if (codes.columns.contains("cid")) return
    val joined = codes.join(
      spark.read.parquet(s"$dir/assignments")
        .select(col("cand_id"), col("cid").cast("long")),
      Seq("cand_id"))
    // an orphaned code row (no assignment) would silently vanish in
    // the inner join — the unrecoverable outcome; count both sides
    val nCodes = codes.count()
    val nJoined = joined.count()
    require(nJoined == nCodes,
      s"migrateWrittenPqCodesCid: $nCodes code rows but only $nJoined have a " +
        "coarse assignment — the layout is inconsistent; repair assignments " +
        "before migrating")
    val tmp = s"$dir/codes_migrate_tmp"
    joined.repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(tmp)
    swapDirs(spark, s"$dir/codes", tmp)
  }

  /** Compact BOTH IVFADC state tables, then clear tombstones once —
    * the natural compaction entry point for this layout. The
    * single-table functions are SAFE here too: each detects the other
    * row table under `dir` and rewrites it before clearing the shared
    * tombstone set (the review finding: clearing after a one-table
    * rewrite would let deleted vectors resurface through the other).
    */
  def compactWrittenIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      targetCodeFiles: Int = 0): Unit = {
    // roll a pending re-cluster forward before rewriting either table
    // (ADVICE r15 — same contract as compactWrittenIndex)
    recoverWrittenIndex(spark, dir)
    compactAssignmentsNoClear(spark, dir)
    compactCodesNoClear(
      spark, dir,
      if (targetCodeFiles >= 1) targetCodeFiles
      else sizedCodeFiles(spark, s"$dir/codes"))
    deleteDir(spark, s"$dir/tombstones")
  }

  /** The CLOSED-LOOP ingest verb for the COMBINED layout —
    * [[appendAndMaintainWrittenIndex]]'s IVFADC sibling, closing the
    * maintenance-verb symmetry (the plain layout got its closed loop
    * in r16; before this, an IVFADC ingest loop had to remember to
    * read [[driftReport]] itself). Appends the batch to both state
    * tables, then decides from the layout's own evidence,
    * most-expensive-first: RE-CLUSTER when the drift report trips
    * (the re-encode rides [[reclusterWrittenIvfPqIndex]], so codes
    * stay consistent with the new coarse geometry), else COMPACT
    * both tables when an assignments list passed `maxFilesPerList`
    * (codes fragmentation tracks assignments 1:1 — every append
    * writes both), else nothing.
    *
    * `corpusVectors` is BY-NAME and only evaluated when an O(corpus)
    * verb actually fires: codes are lossy, so unlike the plain verb
    * the layout cannot reconstruct its training input — the caller
    * names the corpus table and pays for reading it only on the
    * (rare) re-cluster/refit path. Same evidence thresholds and
    * [[MaintenanceAction]] contract as the plain verb, plus the
    * CODEBOOK arm (r17 verdict task: the refit verb existed but had
    * no trigger): each ingest stamps the batch's quantization error
    * into the layout's `qerr_appended` ledger, and when
    * [[refitReport]] trips — appended mass material AND quantizing
    * `refitErrFactor`× worse than the generation's `qerr_baseline` —
    * the verb runs [[refitWrittenPqCodebooks]] (checked after the
    * re-cluster trigger: list-mass skew is the frequent drift mode
    * and its roll-forward folds the qerr window too; the refit arm
    * catches the shifts list mass is blind to — a radial scale lands
    * in the same lists but quantizes badly).
    */
  /** REFIT the PQ CODEBOOKS of a written IVFADC layout — the SLOWER
    * half of the faiss maintenance split, now an operator like its
    * faster sibling: [[reclusterWrittenIvfPqIndex]] retrains the
    * coarse lists under FROZEN codebooks (the frequent cadence);
    * this verb retrains the codebooks from the accumulated LIVE
    * corpus and re-encodes every vector under them, leaving the
    * coarse geometry untouched (the rare cadence — PQ geometry
    * tracks the distribution's local detail and drifts much slower
    * than list occupancy). Without it, codebooks fit at first build
    * served forever and a corpus that outgrew them had no remedy
    * short of a full rebuild.
    *
    * Same swap discipline as the re-cluster: the ENTIRE next
    * generation (codebooks, codes, and the live-filtered assignments
    * — rewriting them bakes pending tombstones in so the shared
    * tombstone clear at the swap is sound) materializes under
    * `*_next`, one commit marker, [[recoverWrittenIndex]]-decidable
    * at every crash point; same READ-QUIESCE contract. `vectors`
    * supplies raw payloads (codes are lossy); the LAYOUT decides
    * membership and a live id missing from `vectors` fails fast.
    * The refit layout probes exactly like a one-shot
    * [[writeIvfPqIndex]] with the same coarse index and codebooks
    * fit on the live corpus — q_embed_ann_ivfpq_refit's oracle.
    */
  def refitWrittenPqCodebooks(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      vectors: DataFrame,
      seedMod: Int = 50,
      idCol: String = "vec_id"): Unit = {
    require(dirExists(spark, s"$dir/codes"),
      s"'$dir' has no codes table — a plain IVF layout carries no PQ " +
        "codebooks to refit")
    recoverWrittenIndex(spark, dir)
    val m = readPqCodebooks(spark, dir).m
    val liveAssign = readIndex(spark, dir).assignments // tombstone-masked
    val vecs = vectors.select(col(idCol).as("cand_id"), col("embedding"))
    require(
      liveAssign.select("cand_id")
        .join(vecs, Seq("cand_id"), "left_anti").limit(1).isEmpty,
      s"refitWrittenPqCodebooks: live vector ids in '$dir' are missing from " +
        "the supplied vectors frame — silently dropping them from the next " +
        "generation is the one unrecoverable outcome; supply a superset")
    val lv = Dedup.persistTracked(
      vecs.join(liveAssign.select("cand_id"), Seq("cand_id"))
        .select(col("cand_id").as(idCol), col("embedding")))
    // the left_anti above only catches MISSING ids — a duplicated id
    // in `vectors` would slip through and double-weight pqFit's Lloyd
    // means (silently skewed codebooks); the sibling re-cluster's
    // count-equality check rejects both failure modes (ADVICE r17)
    val nLive = liveAssign.select("cand_id").distinct().count()
    val nCorpus = lv.count()
    require(nCorpus == nLive,
      s"refitWrittenPqCodebooks: the layout holds $nLive live vector ids but " +
        s"`vectors` joined to $nCorpus rows — duplicate ids in the supplied " +
        "frame would double-weight the codebook fit; deduplicate it first")
    val cb2 = pqFit(lv, m = m, seedMod = seedMod, idCol = idCol)
    cb2.centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/codebooks_next")
    pqCodesWide(pqEncode(lv, cb2, idCol), idCol)
      .join(
        liveAssign.select(col("cand_id"), col("cid").cast("long")),
        Seq("cand_id"))
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/codes_next")
    liveAssign.select("cand_id", "cid")
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/assignments_next")
    // the refit codebooks define a NEW error baseline over the live
    // corpus — restamped under the same marker so [[refitReport]]'s
    // evidence window resets exactly when the generation swaps
    writeQerrStats(
      spark, s"${qerrBaselinePath(dir)}_next",
      pqQuantErrStats(lv, cb2, idCol))
    val marker = new org.apache.hadoop.fs.Path(reclusterMarker(dir))
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(marker, true).close()
    recoverWrittenIndex(spark, dir)
  }

  def appendAndMaintainWrittenIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String, newVectors: DataFrame,
      corpusVectors: => DataFrame,
      idCol: String = "vec_id", maxFilesPerList: Int = 4,
      minAppendedShare: Double = 0.05, skewFactor: Double = 4.0,
      centroidMod: Int = 0, lloydIters: Int = 1,
      fitSampleMod: Option[Int] = None,
      appendTasks: Int = 1,
      refitErrFactor: Double = 2.0,
      refitSeedMod: Int = 50): MaintenanceAction = {
    require(maxFilesPerList >= 1, "maxFilesPerList must be >= 1")
    appendToWrittenIvfPqIndex(spark, dir, newVectors, idCol, appendTasks)
    // record this batch's quantization error under the CURRENT
    // codebooks — one broadcast pass over the batch, the evidence
    // [[refitReport]] splits against the generation's baseline
    appendQerrEvidence(
      spark, dir,
      pqQuantErrStats(newVectors, readPqCodebooks(spark, dir), idCol))
    // decide on the faiss cadence split: RE-CLUSTER first (coarse
    // list geometry drifts fastest — a skewed-and-material appended
    // mass is the frequent failure, and its roll-forward folds ALL
    // evidence windows, qerr included, into the restamped baseline);
    // else REFIT (retrain codebooks + re-encode everything — the
    // slower half) when the appended mass quantizes errFactor× worse
    // than the mass the codebooks were fit on WITHOUT skewing the
    // lists (the radial/scale shift a list-mass trigger is blind to);
    // else COMPACT on fragmentation. Both O(corpus) verbs read
    // `corpusVectors` (codes are lossy), evaluated only when one
    // actually fires.
    val report = driftReport(spark, dir, minAppendedShare, skewFactor)
    if (report.recluster) {
      reclusterWrittenIvfPqIndex(
        spark, dir, corpusVectors, centroidMod, lloydIters, fitSampleMod, idCol)
      Reclustered
    } else {
      val rfit = refitReport(spark, dir, minAppendedShare, refitErrFactor)
      if (rfit.refit) {
        refitWrittenPqCodebooks(spark, dir, corpusVectors, refitSeedMod, idCol)
        Refitted
      } else {
        val maxPerList = spark.read.parquet(s"$dir/assignments").inputFiles
          .groupBy(f => f.substring(0, f.lastIndexOf('/')))
          .values.map(_.length).maxOption.getOrElse(0)
        if (maxPerList > maxFilesPerList) {
          compactWrittenIvfPqIndex(spark, dir); Compacted
        } else NoMaintenance
      }
    }
  }

  /** Probe a written IVFADC layout: the coarse lists prune (partition
    * pruning on the `cid` directories), the codes score, nothing is
    * refit — hash-equal to the in-memory [[ivfPqTopK]] on the same
    * corpus (the q_embed_ann_ivfpq_written oracle). Tombstoned ids
    * are masked from the pair list via the assignment side.
    */
  def ivfPqProbeWritten(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int = 5, nprobe: Int = 2,
      idCol: String = "vec_id"): DataFrame = {
    graft.functions.VecDot.register(spark)
    graft.plans.TopKPerGroup.install(spark)
    val coarse = readIndex(spark, dir) // assignments tombstone-masked here
    val cb = readPqCodebooks(spark, dir)
    val qLists = nearestLists(coarse.centroids, queries, nprobe, idCol)
      .select(col("vid").as("query_id"), col("cid"))
      .localCheckpoint(true)
    val pairs = coarse.assignments.select(col("cand_id"), col("cid"))
      .join(broadcast(qLists), Seq("cid"))
      .select("query_id", "cand_id")
    // codes read RAW: the pair list is already tombstone-masked via
    // the assignment side and the codes join is inner on it, so a
    // second mask (= a second tombstone read + driver collect per
    // probe) would only re-exclude rows that can't appear. On the
    // cid-partitioned layout the probed lists prune the codes SCAN
    // too (a semantic no-op — the inner join on cand_id already
    // restricts to those lists — but without it the scan reads every
    // code row just to throw most away); the probed-cid set is
    // driver-small by construction (≤ nprobe × |queries|).
    val rawCodes = spark.read.parquet(s"$dir/codes")
    val codes =
      if (!rawCodes.columns.contains("cid")) rawCodes
      else {
        val qc = qLists.select(col("cid").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq
        if (qc.isEmpty) rawCodes.filter(lit(false))
        else rawCodes.filter(col("cid").cast("long").isin(qc: _*))
      }
    adcScorePairs(
      pairs, codes, pqQueryTablesFor(queries, cb, idCol), cb.m, k)
  }
}
