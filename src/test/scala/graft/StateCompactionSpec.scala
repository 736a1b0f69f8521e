package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, SimilaritySearch}
import graft.sources.{Corpus, Tables}

/** Compaction story for the two accumulating state tables of the
  * streaming-ingest paths: the minhash signature/band table and the
  * IVF assignment layout. Both grow monotonically under ingest; these
  * specs pin that (a) the bucketed/partitioned layouts give probes
  * the plan that shuffles only the new batch, (b) appends don't
  * change results, and (c) compaction rewrites the layout without
  * changing results or plan shape while bounding the file count.
  */
class StateCompactionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    "Exchange".r.findAllIn(p).size
  }

  private def parquetFiles(path: String): Int = {
    val d = new java.io.File(path)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(d).count(_.getName.endsWith(".parquet"))
  }

  test("bucketed band table: probe matches, shuffles only the batch, compaction keeps both") {
    val corpus = Corpus.docCorpus(spark, dir)
    val newBatch = corpus
      .filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" ingest tail")))
    val corpusSigs = Dedup.signatureTable(corpus).localCheckpoint(true)
    val newSigs = Dedup.signatureTable(newBatch).localCheckpoint(true)
    Dedup.unpersistAll()
    val table = "sigband_spec_t1"
    TestSpark.resetTable(spark, s"$table")
    TestSpark.resetTable(spark, s"${table}_compact_tmp")
    try {
      val bands = Dedup.writeBandTable(corpusSigs, table, buckets = 4)

      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("new_id", "corpus_id").collect().toSeq
      val expectedDf = Dedup.minhashPairsAgainstSignatures(newSigs, corpusSigs)
      val expected = canon(expectedDf)
      assert(expected.nonEmpty, "fixture must plant cross-batch near-dups")
      val viaTable = Dedup.minhashPairsAgainstBandTable(newSigs, bands, corpusSigs)
      assert(canon(viaTable) == expected)

      // the point of the layout: the bucketed corpus side arrives
      // pre-shuffled, so the band join exchanges strictly less than
      // the signature-vs-signature probe (which shuffles the corpus
      // bands every ingest). At spec scale everything broadcasts, so
      // pin the SHUFFLE plan the 100 TB sizes would get by disabling
      // broadcast while counting.
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val (exBucketed, exPlain) =
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          (exchanges(Dedup.minhashPairsAgainstBandTable(newSigs, bands, corpusSigs)),
            exchanges(Dedup.minhashPairsAgainstSignatures(newSigs, corpusSigs)))
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      assert(exBucketed < exPlain,
        s"bucketed probe should shuffle less: $exBucketed vs $exPlain")
      val p = viaTable.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("Bucketed: true"), p.take(3000))

      // appending the corpus's own band rows again is candidate-
      // idempotent (DISTINCT collapses duplicates) — result pinned
      // unchanged while the per-bucket file count grows
      val wh = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      val tablePath = s"$wh/$table"
      val filesBefore = parquetFiles(tablePath)
      Dedup.appendToBandTable(corpusSigs, table, buckets = 4)
      Dedup.appendToBandTable(corpusSigs, table, buckets = 4)
      assert(parquetFiles(tablePath) > filesBefore)
      assert(canon(
        Dedup.minhashPairsAgainstBandTable(newSigs, spark.table(table), corpusSigs))
        == expected)

      // compaction: same results, same plan shape, bounded files
      val compacted = Dedup.compactBandTable(spark, table, buckets = 4)
      val viaCompacted =
        Dedup.minhashPairsAgainstBandTable(newSigs, compacted, corpusSigs)
      assert(canon(viaCompacted) == expected)
      val exCompacted =
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          exchanges(Dedup.minhashPairsAgainstBandTable(newSigs, compacted, corpusSigs))
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      assert(exCompacted == exBucketed,
        "compaction must not change the probe plan's exchange count")
      assert(viaCompacted.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).contains("Bucketed: true"))
      assert(parquetFiles(tablePath) <= 4,
        s"compaction should leave ~one file per bucket, got ${parquetFiles(tablePath)}")
    } finally {
      TestSpark.resetTable(spark, s"$table")
      TestSpark.resetTable(spark, s"${table}_compact_tmp")
    }
  }

  test("hot-bucket probe cap: representatives only, rejection set intact, no extra exchange on the bucketed layout") {
    // corpus carries a 20-copy boilerplate template; the batch
    // re-ships it 5 times plus the natural tail-append batch
    val base = Corpus.docCorpus(spark, dir)
    val seed = base.orderBy("doc_id").limit(1).select("text")
    def copies(nCopies: Int, offset: Long) = spark.range(nCopies.toLong)
      .select((col("id") + offset).as("doc_id"))
      .crossJoin(seed).select("doc_id", "text")
    val corpus = base.select("doc_id", "text").unionByName(copies(20, 3000000L))
    val newBatch = base
      .filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" ingest tail")))
      .select("doc_id", "text")
      .unionByName(copies(5, 4000000L))
    val corpusSigs = Dedup.signatureTable(corpus).localCheckpoint(true)
    val newSigs = Dedup.signatureTable(newBatch).localCheckpoint(true)
    Dedup.unpersistAll()
    val cap = 4
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("new_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairSet(
      Dedup.minhashPairsAgainstSignatures(newSigs, corpusSigs, maxCorpusDocsPerBand = cap))
    val uncapped = pairSet(Dedup.minhashPairsAgainstSignatures(newSigs, corpusSigs))
    assert(capped.subsetOf(uncapped))
    // the REJECTION decision the ingest stage consumes is unchanged:
    // sig-identical bucket members are interchangeable representatives
    assert(capped.map(_._1) == uncapped.map(_._1),
      "the set of batch docs with >=1 corpus partner must not change")
    // the cap binds PER BUCKET: partners are the union of each shared
    // bucket's <=cap smallest members, so a hot batch doc may also
    // keep pairs from OTHER (small) buckets it matches. Pin the
    // sig-IDENTICAL bucket's slice exactly: its members sorted are
    // (seed, seed+1M exact copy, 3M+0, 3M+1, ...), so cap=4 admits
    // seed, 1M, 3M+0, 3M+1 — and NO 3M member past the slice.
    val seedId = base.orderBy("doc_id").limit(1).collect()(0).getLong(0)
    val identicalBucket = Set(seedId, seedId + 1000000L) ++
      (0 until 20).map(g => 3000000L + g)
    val hotPartners = capped.filter(_._1 >= 4000000L).groupBy(_._1)
    assert(hotPartners.size == 5)
    val expectedSlice = Set(seedId, seedId + 1000000L, 3000000L, 3000001L)
    hotPartners.foreach { case (nid, ps) =>
      assert(ps.map(_._2).intersect(identicalBucket) == expectedSlice,
        s"batch doc $nid identical-bucket reps: got ${ps.map(_._2).intersect(identicalBucket)}")
    }
    // uncapped control: every hot batch doc fans to ALL 22 sig-identical members
    assert(uncapped.filter(_._1 >= 4000000L).groupBy(_._1)
      .forall(_._2.map(x => x._2).intersect(identicalBucket).size == 22))

    // the bucketed-layout probe agrees, and the cap's row_number rides
    // the bucketing: no additional exchange over the uncapped probe
    val table = "sigband_spec_hot"
    TestSpark.resetTable(spark, s"$table")
    try {
      val bands = Dedup.writeBandTable(corpusSigs, table, buckets = 4)
      assert(pairSet(Dedup.minhashPairsAgainstBandTable(
        newSigs, bands, corpusSigs, maxCorpusDocsPerBand = cap)) == capped)
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val (exCapped, exPlain) =
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          (exchanges(Dedup.minhashPairsAgainstBandTable(
            newSigs, bands, corpusSigs, maxCorpusDocsPerBand = cap)),
            exchanges(Dedup.minhashPairsAgainstBandTable(newSigs, bands, corpusSigs)))
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      assert(exCapped == exPlain,
        s"the per-bucket cap must not add an exchange: $exCapped vs $exPlain")
    } finally {
      TestSpark.resetTable(spark, s"$table")
    }
    Dedup.unpersistAll()
  }

  test("appendAndMaybeCompact: cadence triggers on the file-count threshold, probe results pinned across it") {
    val corpus = Corpus.docCorpus(spark, dir)
    val newBatch = corpus
      .filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" ingest tail")))
    val corpusSigs = Dedup.signatureTable(corpus).localCheckpoint(true)
    val newSigs = Dedup.signatureTable(newBatch).localCheckpoint(true)
    Dedup.unpersistAll()
    val table = "sigband_spec_t2"
    TestSpark.resetTable(spark, s"$table")
    TestSpark.resetTable(spark, s"${table}_compact_tmp")
    try {
      Dedup.writeBandTable(corpusSigs, table, buckets = 4)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("new_id", "corpus_id").collect().toSeq
      val expected = canon(
        Dedup.minhashPairsAgainstBandTable(newSigs, spark.table(table), corpusSigs))
      assert(expected.nonEmpty)
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val tablePath = s"$wh/$table"
      // bucketed writes emit one file per (task × non-empty bucket),
      // so absolute counts aren't portable — pin the trigger SEMANTICS
      // instead: an uncapped threshold never compacts (files grow), a
      // tight one compacts back to ≤ one file per bucket
      val before = parquetFiles(tablePath)
      assert(!Dedup.appendAndMaybeCompact(
        corpusSigs, table, buckets = 4, maxFilesPerBucket = 1000))
      assert(parquetFiles(tablePath) > before, "no compaction below the threshold")
      assert(Dedup.appendAndMaybeCompact(
        corpusSigs, table, buckets = 4, maxFilesPerBucket = 1))
      assert(parquetFiles(tablePath) <= 4,
        s"triggered compaction should leave ~one file per bucket, got ${parquetFiles(tablePath)}")
      // bytes threshold: 1 byte is always exceeded → compacts again
      assert(Dedup.appendAndMaybeCompact(
        corpusSigs, table, buckets = 4, maxFilesPerBucket = 1000, maxBytes = 1L))
      assert(parquetFiles(tablePath) <= 4)
      // duplicate band rows collapse in the candidate DISTINCT, so the
      // probe answer is pinned across append+auto-compact
      assert(canon(
        Dedup.minhashPairsAgainstBandTable(newSigs, spark.table(table), corpusSigs))
        == expected)
    } finally {
      TestSpark.resetTable(spark, s"$table")
      TestSpark.resetTable(spark, s"${table}_compact_tmp")
    }
  }

  test("bucketed shingle table: probe matches, shuffles only the batch, k survives the catalog") {
    val corpus = Corpus.spanCorpus(spark, dir)
    val state1 = corpus.filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 3)
    val state2 = corpus.filter(col("doc_id") % 4 === 2)
    val batch = corpus.filter(col("doc_id") % 4 === 0)
    val batchSh = Dedup.shingleTable(batch).localCheckpoint(true)
    Dedup.unpersistAll()
    val table = "shingle_spec_t1"
    TestSpark.resetTable(spark, s"$table")
    TestSpark.resetTable(spark, s"${table}_compact_tmp")
    try {
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_a", "doc_b", "a_start", "b_start").collect().toSeq
      val stateTable = Dedup.writeShingleTable(state1, table, buckets = 4)
      val plainSh = Dedup.shingleTable(state1).localCheckpoint(true)
      Dedup.unpersistAll()
      val expected = canon(Dedup.repeatedSpansAgainstShingles(batchSh, plainSh))
      assert(expected.nonEmpty, "fixture must plant cross-split spans")
      assert(canon(Dedup.repeatedSpansAgainstShingles(batchSh, stateTable)) == expected)

      // the layout's point: the bucketed corpus side arrives
      // pre-shuffled on (h1, h2) — every join/agg key of the probe —
      // so the probe exchanges strictly less than the plain-table
      // form, which re-shuffles the corpus shingles every ingest.
      // Broadcast hides shuffles at spec scale; disable while counting.
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val (exBucketed, exPlain) =
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          (exchanges(Dedup.repeatedSpansAgainstShingles(batchSh, stateTable)),
            exchanges(Dedup.repeatedSpansAgainstShingles(batchSh, plainSh)))
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      assert(exBucketed < exPlain,
        s"bucketed probe should shuffle less: $exBucketed vs $exPlain")
      val p = Dedup.repeatedSpansAgainstShingles(batchSh, stateTable)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("Bucketed: true"), p.take(3000))

      // the k stamp survives saveAsTable + spark.table — a mismatched
      // probe against the CATALOG table still fails loudly
      assert(spark.table(table).schema("p").metadata
        .getLong(Dedup.ShingleKMeta) == 10L)
      val mism = intercept[IllegalArgumentException] {
        Dedup.repeatedSpansAgainstShingles(
          Dedup.shingleTable(batch, minTokens = 5), spark.table(table), minTokens = 5)
      }
      assert(mism.getMessage.contains("built at k=10"), mism.getMessage)
      Dedup.unpersistAll()
      // ... and a mismatched-k APPEND is rejected before it can
      // poison the state (the append keeps the catalog schema, so the
      // probe-time guard alone would keep passing over mixed widths)
      val mismAppend = intercept[IllegalArgumentException] {
        Dedup.appendToShingleTable(state2, table, minTokens = 5, buckets = 4)
      }
      assert(mismAppend.getMessage.contains("built at k=10"), mismAppend.getMessage)
      Dedup.unpersistAll()

      // cadence-managed append of a DISJOINT slice (the once-per-doc
      // append contract): uncapped threshold leaves the files, tight
      // one compacts back — answers match the plain two-slice probe
      // across both, and the probe plan's exchange count is unchanged
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val before = parquetFiles(s"$wh/$table")
      assert(!Dedup.appendAndMaybeCompactShingles(
        state2, table, buckets = 4, maxFilesPerBucket = 1000, appendTasks = 1))
      assert(parquetFiles(s"$wh/$table") > before, "no compaction below the threshold")
      val plainBoth = Dedup.shingleTable(state1.unionByName(state2)).localCheckpoint(true)
      Dedup.unpersistAll()
      val expectedBoth = canon(Dedup.repeatedSpansAgainstShingles(batchSh, plainBoth))
      assert(canon(
        Dedup.repeatedSpansAgainstShingles(batchSh, spark.table(table))) == expectedBoth)
      assert(Dedup.appendAndMaybeCompactShingles(
        corpus.filter(col("doc_id") % 4 === 0).limit(0), table, buckets = 4,
        maxFilesPerBucket = 1))
      assert(parquetFiles(s"$wh/$table") <= 4,
        s"triggered compaction should leave ~one file per bucket, got ${parquetFiles(s"$wh/$table")}")
      assert(canon(
        Dedup.repeatedSpansAgainstShingles(batchSh, spark.table(table))) == expectedBoth)
      val exCompacted =
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          exchanges(Dedup.repeatedSpansAgainstShingles(batchSh, spark.table(table)))
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      assert(exCompacted == exBucketed,
        "compaction must not change the probe plan's exchange count")
    } finally {
      TestSpark.resetTable(spark, s"$table")
      TestSpark.resetTable(spark, s"${table}_compact_tmp")
      Dedup.unpersistAll()
    }
  }

  test("partitioned IVF layout: probe matches in-memory, appends accumulate, compaction bounds files per list") {
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
      .withColumn("vec_id", col("vec_id") + 500000L)
    val queries = emb.filter(col("vec_id") % 97 === 0)

    val index = SimilaritySearch.buildIndex(base, centroidMod = 50)
    val ivfDir = java.nio.file.Files
      .createTempDirectory("graft_ivf_layout_").toString
    try {
      SimilaritySearch.writeIndex(index, ivfDir)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank").collect().toSeq

      // read-back probes identically to the in-memory index
      val expected = canon(SimilaritySearch.probe(index, queries))
      assert(expected.nonEmpty)
      assert(canon(SimilaritySearch.probe(
        SimilaritySearch.readIndex(spark, ivfDir), queries)) == expected)

      // append a batch through the written layout ≡ in-memory append
      SimilaritySearch.appendToWrittenIndex(spark, ivfDir, batch)
      val expectedAppended = canon(SimilaritySearch.probe(
        SimilaritySearch.appendToIndex(index, batch), queries))
      assert(canon(SimilaritySearch.probe(
        SimilaritySearch.readIndex(spark, ivfDir), queries)) == expectedAppended)

      // each list dir now holds the build file + the append's file;
      // compaction brings every list back to one file, same answers
      val listDirs = new java.io.File(s"$ivfDir/assignments")
        .listFiles().filter(f => f.isDirectory && f.getName.startsWith("cid="))
      assert(listDirs.nonEmpty)
      assert(listDirs.exists(d =>
        d.listFiles().count(_.getName.endsWith(".parquet")) > 1),
        "append should have left extra files in at least one touched list")
      SimilaritySearch.compactWrittenIndex(spark, ivfDir)
      val after = new java.io.File(s"$ivfDir/assignments")
        .listFiles().filter(f => f.isDirectory && f.getName.startsWith("cid="))
      assert(after.nonEmpty)
      assert(after.forall(d =>
        d.listFiles().count(_.getName.endsWith(".parquet")) == 1),
        "compaction should leave exactly one file per list")
      assert(canon(SimilaritySearch.probe(
        SimilaritySearch.readIndex(spark, ivfDir), queries)) == expectedAppended)

      // cadence-managed append: threshold 2 tolerates the first extra
      // file per touched list, the second append trips it and the
      // layout returns to one file per list — answers pinned
      val batch2 = batch.withColumn("vec_id", col("vec_id") + 500000L)
      assert(!SimilaritySearch.appendAndMaybeCompactWrittenIndex(
        spark, ivfDir, batch2, maxFilesPerList = 2))
      val batch3 = batch.withColumn("vec_id", col("vec_id") + 1000000L)
      assert(SimilaritySearch.appendAndMaybeCompactWrittenIndex(
        spark, ivfDir, batch3, maxFilesPerList = 2))
      val afterAuto = new java.io.File(s"$ivfDir/assignments")
        .listFiles().filter(f => f.isDirectory && f.getName.startsWith("cid="))
      assert(afterAuto.forall(d =>
        d.listFiles().count(_.getName.endsWith(".parquet")) == 1),
        "triggered compaction should leave exactly one file per list")
      val expectedFinal = canon(SimilaritySearch.probe(
        SimilaritySearch.appendToIndex(
          SimilaritySearch.appendToIndex(
            SimilaritySearch.appendToIndex(index, batch), batch2), batch3),
        queries))
      assert(canon(SimilaritySearch.probe(
        SimilaritySearch.readIndex(spark, ivfDir), queries)) == expectedFinal)
    } finally rmTree(ivfDir)
  }

  private def rmTree(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  test("written PQ layout: round trip + frozen-codebook appends probe identically, cadence bounds files, probe pays state read only") {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") % 97 === 0)
    val cb = SimilaritySearch.pqFit(emb, m = 8, seedMod = 50)
    val codes = SimilaritySearch.pqEncode(emb, cb).localCheckpoint(true)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().toSeq
    val expected = canon(SimilaritySearch.pqTopK(emb, cb, codes))
    assert(expected.nonEmpty)
    val oneShot = java.nio.file.Files
      .createTempDirectory("graft_pq_oneshot_").toString
    val grown = java.nio.file.Files
      .createTempDirectory("graft_pq_grown_").toString
    try {
      // one-shot write round-trips: geometry from the meta table,
      // float codebooks bit-exact through parquet
      SimilaritySearch.writePqIndex(cb, codes, oneShot)
      val rt = SimilaritySearch.readPqCodebooks(spark, oneShot)
      assert(rt.m == 8 && rt.subDim == graft.functions.VectorExprs.Dim / 8)
      assert(canon(SimilaritySearch.pqProbeWritten(spark, oneShot, queries))
        == expected)

      // base + two frozen-codebook appends ≡ the one-shot encode
      // (encoding is a pure per-vector function); the second append's
      // tight threshold trips the cadence and the layout returns to
      // one file, answers pinned across the rewrite
      SimilaritySearch.writePqIndex(
        cb, codes.filter(col("vec_id") % 3 =!= 0), grown)
      assert(!SimilaritySearch.appendAndMaybeCompactPqIndex(
        spark, grown,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0),
        maxFiles = 1000))
      assert(SimilaritySearch.appendAndMaybeCompactPqIndex(
        spark, grown,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 1),
        maxFiles = 1))
      assert(parquetFiles(s"$grown/codes") == 1,
        s"triggered compaction should leave one codes file, got ${parquetFiles(s"$grown/codes")}")
      assert(canon(SimilaritySearch.pqProbeWritten(spark, grown, queries))
        == expected)

      // the written probe pays the state READ only — the in-memory
      // path's fit/encode exchanges are gone from its plan
      val exWritten =
        exchanges(SimilaritySearch.pqProbeWritten(spark, grown, queries))
      val exInMem = exchanges(SimilaritySearch.pqTopK(
        emb, cb, SimilaritySearch.pqEncode(emb, cb)))
      assert(exWritten < exInMem,
        s"written probe should shuffle less than fit+encode+probe: $exWritten vs $exInMem")
    } finally { rmTree(oneShot); rmTree(grown) }
  }

  test("written-layout tombstones: deletes mask immediately, survive compaction, clear after, and cost nothing when absent") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") % 97 === 0)
    val ivfDir = java.nio.file.Files
      .createTempDirectory("graft_ivf_del_").toString
    val pqDir = java.nio.file.Files
      .createTempDirectory("graft_pq_del_").toString
    try {
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank").collect().toSeq
      def plan(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)

      // ---- IVF-flat layout ----
      val index = SimilaritySearch.buildIndex(emb, centroidMod = 50)
      SimilaritySearch.writeIndex(index, ivfDir)
      val baseline = canon(SimilaritySearch.probe(
        SimilaritySearch.readIndex(spark, ivfDir), queries))
      assert(baseline.nonEmpty)
      // no tombstones → the read is the bare scan, no anti-join at all
      assert(!plan(SimilaritySearch.probe(
        SimilaritySearch.readIndex(spark, ivfDir), queries)).contains("LeftAnti"))
      // victims: ids that actually appear as neighbors, so masking
      // provably changes answers
      val victims = baseline.map(_.getLong(2)).distinct.take(3)
      SimilaritySearch.deleteFromWrittenIndex(
        spark, ivfDir, victims.toDF("cand_id"))
      val expected = canon(SimilaritySearch.probe(
        SimilaritySearch.IvfIndex(
          index.centroids,
          index.assignments.filter(!col("cand_id").isin(victims: _*))),
        queries))
      val masked = canon(SimilaritySearch.probe(
        SimilaritySearch.readIndex(spark, ivfDir), queries))
      assert(masked == expected)
      assert(masked != baseline)
      assert(!masked.exists(r => victims.contains(r.getLong(2))))
      // compaction bakes the removal in and clears the tombstone set
      SimilaritySearch.compactWrittenIndex(spark, ivfDir)
      assert(!new java.io.File(s"$ivfDir/tombstones").exists())
      val afterCompact = SimilaritySearch.probe(
        SimilaritySearch.readIndex(spark, ivfDir), queries)
      assert(canon(afterCompact) == expected)
      assert(!plan(afterCompact).contains("LeftAnti"),
        "post-compaction reads must not pay the mask")

      // ---- written PQ layout: same contract ----
      val cb = SimilaritySearch.pqFit(emb, m = 8, seedMod = 50)
      val codes = SimilaritySearch.pqEncode(emb, cb).localCheckpoint(true)
      SimilaritySearch.writePqIndex(cb, codes, pqDir)
      val pqBaseline = canon(
        SimilaritySearch.pqProbeWritten(spark, pqDir, queries))
      val pqVictims = pqBaseline.map(_.getLong(2)).distinct.take(3)
      SimilaritySearch.deleteFromWrittenPqIndex(
        spark, pqDir, pqVictims.toDF("cand_id"))
      val pqExpected = canon(SimilaritySearch.pqTopK(
        emb, cb, codes.filter(!col("vec_id").isin(pqVictims: _*))))
      val pqMasked = canon(
        SimilaritySearch.pqProbeWritten(spark, pqDir, queries))
      assert(pqMasked == pqExpected)
      assert(pqMasked != pqBaseline)
      SimilaritySearch.compactWrittenPqIndex(spark, pqDir)
      assert(!new java.io.File(s"$pqDir/tombstones").exists())
      assert(canon(SimilaritySearch.pqProbeWritten(spark, pqDir, queries))
        == pqExpected)
      assert(parquetFiles(s"$pqDir/codes") == 1)

      // ---- combined IVFADC dir, SINGLE-table compaction entry point
      // (the review finding): the one shared tombstone set must not
      // be cleared until EVERY row table under dir is rewritten —
      // compactWrittenIndex on an IVFADC dir detects the codes table,
      // rewrites it too, and deleted ids stay gone from the PQ
      // full-scan probe afterwards
      val comboDir = java.nio.file.Files
        .createTempDirectory("graft_ivfpq_del_").toString
      try {
        SimilaritySearch.writeIvfPqIndex(
          SimilaritySearch.IvfIndex(
            index.centroids, index.assignments),
          cb, codes, comboDir)
        val comboBase = canon(
          SimilaritySearch.pqProbeWritten(spark, comboDir, queries))
        val comboVictims = comboBase.map(_.getLong(2)).distinct.take(3)
        SimilaritySearch.deleteFromWrittenIndex(
          spark, comboDir, comboVictims.toDF("cand_id"))
        SimilaritySearch.compactWrittenIndex(spark, comboDir) // single-table API
        assert(!new java.io.File(s"$comboDir/tombstones").exists())
        val afterSingle = canon(
          SimilaritySearch.pqProbeWritten(spark, comboDir, queries))
        assert(!afterSingle.exists(r => comboVictims.contains(r.getLong(2))),
          "single-table compaction on a combined dir must not resurrect " +
            "deleted ids through the codes table")
        assert(afterSingle == canon(SimilaritySearch.pqTopK(
          emb, cb, codes.filter(!col("vec_id").isin(comboVictims: _*)))))
      } finally rmTree(comboDir)
    } finally { rmTree(ivfDir); rmTree(pqDir) }
  }

  test("bucketed line table: catalog equals the derived state, deletes mask and survive compaction, appends close the set") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val corpus = Corpus.paraCorpus(spark, dir).select("doc_id", "text").localCheckpoint(true)
    val batch = corpus.filter(col("doc_id") % 9 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L).localCheckpoint(true)
    val table = "line_spec_del"
    Seq(table, s"${table}_compact_tmp", s"${table}_tombstones")
      .foreach(t => TestSpark.resetTable(spark, s"$t"))
    try {
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().toSeq
      Dedup.writeLineTable(corpus, table, buckets = 4)
      // the catalog state IS the independently-derived first-occurrence
      // set, fingerprinted with the pinned xxhash64 pair (the
      // SALT-FIRST "fp2" spelling is contract — salt first makes the
      // second stream a different-SEED hash of the key, independent of
      // the first; key-first would make it a pure function of pk1 —
      // and state written by one version must probe under the next)
      val parts = corpus.select(
        col("doc_id"),
        posexplode(split(coalesce(col("text"), lit("")), "\n", -1)).as(Seq("pos", "para")))
      val memKeys = parts.filter(trim(col("para")) =!= "")
        .withColumn("pkey", lower(trim(col("para"))))
        .withColumn("rn",
          row_number().over(Window.partitionBy("pkey").orderBy("doc_id", "pos")))
        .filter(col("rn") === 1)
        .select(
          xxhash64(col("pkey")).as("pk1"),
          xxhash64(lit("fp2"), col("pkey")).as("pk2"),
          col("doc_id"))
        .localCheckpoint(true)
      assert(spark.table(table).except(memKeys).isEmpty
        && memKeys.except(spark.table(table)).isEmpty)
      val baseline = canon(
        Dedup.paragraphIngestStep(batch, Dedup.stateTableLive(spark, table))._1)
      Dedup.unpersistAll()
      // tombstone owners: expectation derived from the in-memory keys
      // minus the deleted owners' rows (NOT a rebuilt state)
      Dedup.deleteFromLineTable(
        corpus.filter(col("doc_id") % 5 === 0).select("doc_id"), table)
      val expected = canon(Dedup.paragraphIngestStep(
        batch, memKeys.filter(col("doc_id") % 5 =!= 0))._1)
      Dedup.unpersistAll()
      val masked = canon(
        Dedup.paragraphIngestStep(batch, Dedup.stateTableLive(spark, table))._1)
      Dedup.unpersistAll()
      assert(masked == expected)
      assert(masked != baseline, "the delete must visibly change the probe")
      // compaction bakes the delete in and clears the tombstone set
      Dedup.compactLineTable(spark, table, buckets = 4)
      assert(!spark.catalog.tableExists(s"${table}_tombstones"))
      assert(canon(Dedup.paragraphIngestStep(
        batch, Dedup.stateTableLive(spark, table))._1) == expected)
      Dedup.unpersistAll()
      // append the batch's new keys: a re-ship of the same lines under
      // fresh ids now keeps NOTHING but structural blanks
      val newKeys = Dedup.paragraphIngestStep(
        batch, Dedup.stateTableLive(spark, table))._2.localCheckpoint(true)
      Dedup.unpersistAll()
      Dedup.appendToLineTable(newKeys, table, buckets = 4)
      val reprobe = Dedup.paragraphIngestStep(
        batch.withColumn("doc_id", col("doc_id") + 5000000L),
        Dedup.stateTableLive(spark, table))._1
      val blanks = batch.select(
          posexplode(split(coalesce(col("text"), lit("")), "\n", -1)).as(Seq("pos", "para")))
        .filter(trim(col("para")) === "").count()
      assert(reprobe.agg(sum(col("n_kept"))).collect()(0).getLong(0) == blanks)
      Dedup.unpersistAll()
    } finally {
      Seq(table, s"${table}_compact_tmp", s"${table}_tombstones")
        .foreach(t => TestSpark.resetTable(spark, s"$t"))
    }
  }

  test("written-index re-cluster: one-shot equivalence, tombstones retired at swap, crash points recover") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .localCheckpoint(true)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val batch = e.filter(col("vec_id") % 3 === 0)
    val queries = e.filter(col("vec_id") % 97 === 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().toSeq
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_recluster_spec_").toString
    try {
      SimilaritySearch.writeIndex(
        SimilaritySearch.buildIndex(base, centroidMod = 50), stateDir)
      SimilaritySearch.appendToWrittenIndex(spark, stateDir, batch)
      // tombstone a few ids BEFORE the re-cluster: the rebuild must
      // bake the removal in and retire the set at the swap
      val victims = Seq(102L, 204L, 306L)
      import spark.implicits._
      SimilaritySearch.deleteFromWrittenIndex(
        spark, stateDir, victims.toDF("vec_id"))
      SimilaritySearch.reclusterWrittenIndex(spark, stateDir, centroidMod = 50)
      assert(!new java.io.File(s"$stateDir/tombstones").exists(),
        "tombstones retire at the swap")
      assert(!new java.io.File(s"$stateDir/recluster_commit").exists())
      val live = e.filter(!col("vec_id").isin(victims: _*))
      val viaRecluster = canon(SimilaritySearch.probe(
        SimilaritySearch.readIndex(spark, stateDir), queries))
      // one-shot equivalence: buildIndex is a pure function of the
      // live vector set, so the re-clustered layout probes exactly
      // like an in-memory build over it
      assert(viaRecluster == canon(SimilaritySearch.probe(
        SimilaritySearch.buildIndex(live, centroidMod = 50), queries)))
      assert(!viaRecluster.exists(r => victims.contains(r.getLong(2))))
      // CRASH POINT A — materialized but no marker: recovery discards
      // the _next generation, the live layout is untouched
      val fs = new org.apache.hadoop.fs.Path(stateDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      spark.read.parquet(s"$stateDir/centroids").write
        .mode("overwrite").parquet(s"$stateDir/centroids_next")
      SimilaritySearch.recoverWrittenIndex(spark, stateDir)
      assert(!new java.io.File(s"$stateDir/centroids_next").exists())
      assert(viaRecluster == canon(SimilaritySearch.probe(
        SimilaritySearch.readIndex(spark, stateDir), queries)))
      // CRASH POINT B — marker written, one table already swapped,
      // the other still pending: recovery finishes the roll-forward
      // and the layout equals a re-cluster that never crashed
      val idx2 = SimilaritySearch.buildIndex(live, centroidMod = 25)
      idx2.centroids.coalesce(1).write.mode("overwrite")
        .parquet(s"$stateDir/centroids_next")
      idx2.assignments.repartition(col("cid")).write
        .mode("overwrite").partitionBy("cid").parquet(s"$stateDir/assignments_next")
      fs.create(new org.apache.hadoop.fs.Path(s"$stateDir/recluster_commit"), true).close()
      // simulate the partial swap: assignments already moved
      fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/assignments"), true)
      assert(fs.rename(
        new org.apache.hadoop.fs.Path(s"$stateDir/assignments_next"),
        new org.apache.hadoop.fs.Path(s"$stateDir/assignments")))
      SimilaritySearch.recoverWrittenIndex(spark, stateDir)
      assert(!new java.io.File(s"$stateDir/recluster_commit").exists())
      assert(!new java.io.File(s"$stateDir/centroids_next").exists())
      assert(canon(SimilaritySearch.probe(
        SimilaritySearch.readIndex(spark, stateDir), queries)) ==
        canon(SimilaritySearch.probe(idx2, queries)),
        "recovery must finish the interrupted swap, never mix generations")
      // an IVFADC dir refuses the verb with the rebuild remedy
      val comboDir = java.nio.file.Files
        .createTempDirectory("graft_recluster_combo_").toString
      try {
        val comboIdx = SimilaritySearch.buildIndex(base, centroidMod = 50)
        val cb = SimilaritySearch.pqFit(base)
        SimilaritySearch.writeIvfPqIndex(
          comboIdx, cb, SimilaritySearch.pqEncode(base, cb), comboDir)
        val err = intercept[IllegalArgumentException](
          SimilaritySearch.reclusterWrittenIndex(spark, comboDir))
        assert(err.getMessage.contains("reclusterWrittenIvfPqIndex"))
      } finally rmTree(comboDir)
    } finally rmTree(stateDir)
  }

  test("pending recluster marker: takedown auto-recovers the swap first and sticks (ADVICE r15)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .localCheckpoint(true)
    val queries = e.filter(col("vec_id") % 97 === 0)
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_marker_takedown_").toString
    try {
      SimilaritySearch.writeIndex(
        SimilaritySearch.buildIndex(e, centroidMod = 50), stateDir)
      // simulate a crash right AFTER the commit marker landed: the
      // entire next generation is materialized, nothing swapped yet
      val idx2 = SimilaritySearch.buildIndex(e, centroidMod = 25)
      idx2.centroids.coalesce(1).write.mode("overwrite")
        .parquet(s"$stateDir/centroids_next")
      idx2.assignments.repartition(col("cid")).write
        .mode("overwrite").partitionBy("cid").parquet(s"$stateDir/assignments_next")
      val fs = new org.apache.hadoop.fs.Path(stateDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(
        new org.apache.hadoop.fs.Path(s"$stateDir/recluster_commit"), true).close()
      // the ADVICE r15 scenario: a takedown issued NOW used to write
      // tombstones the deferred roll-forward would silently delete —
      // the verb must roll the swap forward first, then tombstone
      val victims = Seq(97L, 194L)
      SimilaritySearch.deleteFromWrittenIndex(spark, stateDir, victims.toDF("vec_id"))
      assert(!new java.io.File(s"$stateDir/recluster_commit").exists(),
        "the write verb auto-recovers the committed swap")
      assert(new java.io.File(s"$stateDir/tombstones").exists(),
        "the takedown lands AFTER the roll-forward, so it sticks")
      val res = SimilaritySearch.probe(
        SimilaritySearch.readIndex(spark, stateDir), queries)
      assert(!res.select("cand_id").as[Long].collect().toSet
        .exists(victims.contains),
        "deleted ids stay masked in the new generation")
      // and the served generation IS the committed one (idx2)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank").collect().toSeq
      val live = e.filter(!col("vec_id").isin(victims: _*))
      assert(canon(res) == canon(SimilaritySearch.probe(
        SimilaritySearch.IvfIndex(
          idx2.centroids,
          idx2.assignments.filter(!col("cand_id").isin(victims: _*))),
        queries)))
      assert(live.count() == e.count() - 2)
    } finally rmTree(stateDir)
  }

  test("driftEvidence: drifted appends trip the re-cluster trigger, stationary appends do not") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .localCheckpoint(true)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val stationary = e.filter(col("vec_id") % 3 === 0)
    // the ProbeReclusterRecall drift shape: the same vectors
    // TRANSLATED into a region the build-time centroids never saw —
    // frozen-centroid appends pile it into the few nearest lists
    val drifted = stationary.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(embedding, x -> x + cast(1.5 as float))").as("embedding"))
    def reportAfter(batch: org.apache.spark.sql.DataFrame) = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_drift_spec_").toString
      try {
        SimilaritySearch.writeIndex(
          SimilaritySearch.buildIndex(base, centroidMod = 50), d)
        SimilaritySearch.appendToWrittenIndex(spark, d, batch)
        // flatten every part-file to ONE mtime before reading the
        // evidence: the baseline/appended split comes from the rewrite
        // -stamped manifest, so coarse-mtime filesystems and object
        // stores that tie a same-second append with the build cannot
        // fold appended mass into the baseline (r16 verdict finding)
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d, "assignments"))
        val t0 = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
        try walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .foreach(java.nio.file.Files.setLastModifiedTime(_, t0))
        finally walk.close()
        val r = SimilaritySearch.driftReport(spark, d)
        // the evidence split must account for every row exactly once
        assert(r.buildRows == base.count() && r.appendedRows == batch.count())
        r
      } finally rmTree(d)
    }
    val stat = reportAfter(stationary)
    val drift = reportAfter(drifted)
    // stationary ingest follows the build geometry — no trigger;
    // drift concentrates the appended mass — trigger. The skew gap
    // itself is the measurement (recorded in SCALE.md next to the
    // re-cluster verb).
    assert(!stat.recluster,
      s"stationary appends must not trip: $stat")
    assert(drift.recluster,
      s"drifted appends must trip: $drift")
    assert(drift.appendedSkew > 2 * stat.appendedSkew,
      s"skew gap is the signal: stationary=$stat drifted=$drift")
    // fresh layout (no appends at all): zero appended mass, no trigger
    val d2 = java.nio.file.Files
      .createTempDirectory("graft_drift_fresh_").toString
    try {
      SimilaritySearch.writeIndex(
        SimilaritySearch.buildIndex(base, centroidMod = 50), d2)
      val fresh = SimilaritySearch.driftReport(spark, d2)
      assert(fresh.appendedRows == 0L && !fresh.recluster)
      // compaction folds appended files into the baseline: the window
      // resets, which is why the report is read BEFORE compacting
      SimilaritySearch.appendToWrittenIndex(spark, d2, drifted)
      SimilaritySearch.compactWrittenIndex(spark, d2)
      val folded = SimilaritySearch.driftReport(spark, d2)
      assert(folded.appendedRows == 0L && !folded.recluster)
    } finally rmTree(d2)
  }

  test("appendAndMaintainWrittenIndex: drift re-clusters, fragmentation compacts, quiet appends do nothing") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .localCheckpoint(true)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val stationary = e.filter(col("vec_id") % 3 === 0).localCheckpoint(true)
    val drifted = stationary.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(embedding, x -> x + cast(1.5 as float))").as("embedding"))
      .localCheckpoint(true)
    val queries = e.filter(col("vec_id") % 97 === 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().toSeq
    def fresh() = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_maintain_spec_").toString
      SimilaritySearch.writeIndex(
        SimilaritySearch.buildIndex(base, centroidMod = 50), d)
      d
    }
    // 1. DRIFTED batch: the evidence trips and the verb re-clusters —
    // the layout then probes exactly like a one-shot build over the
    // union (the recluster determinism claim, through the closed loop)
    val d1 = fresh()
    try {
      val a1 = SimilaritySearch.appendAndMaintainWrittenIndex(
        spark, d1, drifted, centroidMod = 50)
      assert(a1 == SimilaritySearch.Reclustered, s"got $a1")
      assert(canon(SimilaritySearch.probe(
        SimilaritySearch.readIndex(spark, d1), queries))
        == canon(SimilaritySearch.probe(
          SimilaritySearch.buildIndex(
            base.unionByName(drifted), centroidMod = 50), queries)))
    } finally rmTree(d1)
    // 2. STATIONARY batch under a tight file cadence: geometry is
    // fine (no re-cluster), fragmentation compacts
    val d2 = fresh()
    try {
      val before = canon(SimilaritySearch.probe(
        SimilaritySearch.appendToIndex(
          SimilaritySearch.readIndex(spark, d2), stationary), queries))
      val a2 = SimilaritySearch.appendAndMaintainWrittenIndex(
        spark, d2, stationary, maxFilesPerList = 1, centroidMod = 50)
      assert(a2 == SimilaritySearch.Compacted, s"got $a2")
      // compaction is physical only: the probe answers are the
      // in-memory append's
      assert(canon(SimilaritySearch.probe(
        SimilaritySearch.readIndex(spark, d2), queries)) == before)
    } finally rmTree(d2)
    // 3. a small stationary trickle under loose thresholds: nothing
    val d3 = fresh()
    try {
      val a3 = SimilaritySearch.appendAndMaintainWrittenIndex(
        spark, d3, stationary.limit(5), maxFilesPerList = 1000,
        centroidMod = 50)
      assert(a3 == SimilaritySearch.NoMaintenance, s"got $a3")
    } finally rmTree(d3)
  }

  test("appendAndMaintainWrittenIvfPqIndex: drift re-clusters (codes re-encoded), fragmentation compacts both tables, trickle does nothing") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .localCheckpoint(true)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val stationary = e.filter(col("vec_id") % 3 === 0).localCheckpoint(true)
    val drifted = stationary.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(embedding, x -> x + cast(1.5 as float))").as("embedding"))
      .localCheckpoint(true)
    val queries = e.filter(col("vec_id") % 97 === 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().toSeq
    val cb = SimilaritySearch.pqFit(e, m = 16, seedMod = 20)
    def fresh() = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_maintain_ivfpq_spec_").toString
      SimilaritySearch.writeIvfPqIndex(
        SimilaritySearch.buildIndex(base, centroidMod = 50),
        cb, SimilaritySearch.pqEncode(base, cb), d)
      d
    }
    // 1. DRIFTED batch: the evidence trips and the verb re-clusters
    // all THREE tables — the layout then probes exactly like a
    // one-shot writeIvfPqIndex over the union under the same frozen
    // codebooks. corpusVectors (by-name) is evaluated on this path.
    val d1 = fresh()
    try {
      var corpusReads = 0
      val a1 = SimilaritySearch.appendAndMaintainWrittenIvfPqIndex(
        spark, d1, drifted,
        { corpusReads += 1; base.unionByName(drifted) }, centroidMod = 50)
      assert(a1 == SimilaritySearch.Reclustered, s"got $a1")
      assert(corpusReads == 1, "re-cluster path evaluates the corpus supplier")
      val oneShot = java.nio.file.Files
        .createTempDirectory("graft_maintain_ivfpq_oneshot_").toString
      try {
        val union = base.unionByName(drifted)
        SimilaritySearch.writeIvfPqIndex(
          SimilaritySearch.buildIndex(union, centroidMod = 50),
          cb, SimilaritySearch.pqEncode(union, cb), oneShot)
        assert(
          canon(SimilaritySearch.ivfPqProbeWritten(spark, d1, queries))
            == canon(SimilaritySearch.ivfPqProbeWritten(spark, oneShot, queries)))
      } finally rmTree(oneShot)
    } finally rmTree(d1)
    // 2. STATIONARY batch under a tight file cadence: geometry is fine
    // (no re-cluster — the corpus supplier must NOT be evaluated),
    // fragmentation compacts; compaction is physical only
    val d2 = fresh()
    try {
      val a2 = SimilaritySearch.appendAndMaintainWrittenIvfPqIndex(
        spark, d2, stationary,
        sys.error("compaction path must not read the corpus"),
        maxFilesPerList = 1, centroidMod = 50)
      assert(a2 == SimilaritySearch.Compacted, s"got $a2")
      // the compacted layout answers like an untouched append twin
      val twin = fresh()
      try {
        SimilaritySearch.appendToWrittenIvfPqIndex(spark, twin, stationary)
        assert(
          canon(SimilaritySearch.ivfPqProbeWritten(spark, d2, queries))
            == canon(SimilaritySearch.ivfPqProbeWritten(spark, twin, queries)))
      } finally rmTree(twin)
    } finally rmTree(d2)
    // 3. a small stationary trickle under loose thresholds: nothing
    val d3 = fresh()
    try {
      val a3 = SimilaritySearch.appendAndMaintainWrittenIvfPqIndex(
        spark, d3, stationary.limit(5),
        sys.error("quiet path must not read the corpus"),
        maxFilesPerList = 1000, centroidMod = 50)
      assert(a3 == SimilaritySearch.NoMaintenance, s"got $a3")
    } finally rmTree(d3)
  }

  test("ivfpq re-cluster: three-table swap equals one-shot, crash points recover, coverage guard fires") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .localCheckpoint(true)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val batch = e.filter(col("vec_id") % 3 === 0)
    val queries = e.filter(col("vec_id") % 97 === 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().toSeq
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_recluster_spec_").toString
    try {
      // codebooks frozen across the whole lifecycle (the verb's
      // contract); coarse geometry starts on the base corpus only
      val cb = SimilaritySearch.pqFit(e, m = 16, seedMod = 20)
      SimilaritySearch.writeIvfPqIndex(
        SimilaritySearch.buildIndex(base, centroidMod = 50),
        cb, SimilaritySearch.pqEncode(base, cb), stateDir)
      SimilaritySearch.appendToWrittenIvfPqIndex(spark, stateDir, batch)
      // tombstone a few ids BEFORE the re-cluster: all THREE next
      // tables must bake the removal in (codes included — the probe
      // full-scans them)
      val victims = Seq(102L, 204L, 306L)
      import spark.implicits._
      SimilaritySearch.deleteFromWrittenPqIndex(
        spark, stateDir, victims.toDF("vec_id"))
      SimilaritySearch.reclusterWrittenIvfPqIndex(
        spark, stateDir, e, centroidMod = 50)
      assert(!new java.io.File(s"$stateDir/tombstones").exists(),
        "tombstones retire at the swap")
      assert(!new java.io.File(s"$stateDir/recluster_commit").exists())
      val live = e.filter(!col("vec_id").isin(victims: _*))
        .localCheckpoint(true)
      val viaRecluster = canon(
        SimilaritySearch.ivfPqProbeWritten(spark, stateDir, queries))
      // one-shot equivalence: buildIndex and pqEncode are pure in
      // (vectors, mods/codebooks), so the swapped layout probes like
      // a fresh writeIvfPqIndex over the live corpus
      val oneShotDir = java.nio.file.Files
        .createTempDirectory("graft_ivfpq_oneshot_spec_").toString
      try {
        SimilaritySearch.writeIvfPqIndex(
          SimilaritySearch.buildIndex(live, centroidMod = 50),
          cb, SimilaritySearch.pqEncode(live, cb), oneShotDir)
        assert(viaRecluster == canon(
          SimilaritySearch.ivfPqProbeWritten(spark, oneShotDir, queries)))
      } finally rmTree(oneShotDir)
      assert(!viaRecluster.exists(r => victims.contains(r.getLong(2))))
      // codes were RE-ENCODED from the live corpus: deleted ids are
      // gone from the codes table itself, not just masked
      assert(spark.read.parquet(s"$stateDir/codes")
        .filter(col("cand_id").isin(victims: _*)).count() == 0L)
      // CRASH POINT A — codes_next materialized but no marker:
      // recovery discards it, the live layout is untouched
      spark.read.parquet(s"$stateDir/codes").limit(5).write
        .mode("overwrite").parquet(s"$stateDir/codes_next")
      SimilaritySearch.recoverWrittenIndex(spark, stateDir)
      assert(!new java.io.File(s"$stateDir/codes_next").exists())
      assert(viaRecluster == canon(
        SimilaritySearch.ivfPqProbeWritten(spark, stateDir, queries)))
      // CRASH POINT B — marker written, assignments+centroids already
      // swapped, codes still pending: recovery finishes the
      // three-table roll-forward and the layout equals a re-cluster
      // that never crashed
      val fs = new org.apache.hadoop.fs.Path(stateDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val idx2 = SimilaritySearch.buildIndex(live, centroidMod = 25)
      idx2.centroids.coalesce(1).write.mode("overwrite")
        .parquet(s"$stateDir/centroids_next")
      idx2.assignments.select("cand_id", "cid").repartition(col("cid")).write
        .mode("overwrite").partitionBy("cid").parquet(s"$stateDir/assignments_next")
      // codes_next the way the real verb materializes it: cid comes
      // from the NEXT generation's coarse assignment (code rows carry
      // their generation's cid in lockstep — a stale cid column would
      // mis-prune every probe)
      spark.read.parquet(s"$stateDir/codes").select("cand_id", "codes")
        .join(
          idx2.assignments.select(col("cand_id"), col("cid").cast("long")),
          Seq("cand_id"))
        .repartition(col("cid")).write
        .mode("overwrite").partitionBy("cid").parquet(s"$stateDir/codes_next")
      fs.create(new org.apache.hadoop.fs.Path(s"$stateDir/recluster_commit"), true).close()
      Seq("centroids", "assignments").foreach { t =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/$t"), true)
        assert(fs.rename(
          new org.apache.hadoop.fs.Path(s"$stateDir/${t}_next"),
          new org.apache.hadoop.fs.Path(s"$stateDir/$t")))
      }
      // the half-rolled state REFUSES reads (mixed generations) and
      // the write verbs auto-recover — the ADVICE r15 medium
      val err = intercept[IllegalArgumentException](
        SimilaritySearch.readIndex(spark, stateDir))
      assert(err.getMessage.contains("recoverWrittenIndex"))
      SimilaritySearch.recoverWrittenIndex(spark, stateDir)
      assert(!new java.io.File(s"$stateDir/recluster_commit").exists())
      assert(!new java.io.File(s"$stateDir/codes_next").exists())
      val twinDir = java.nio.file.Files
        .createTempDirectory("graft_ivfpq_crashtwin_").toString
      try {
        SimilaritySearch.writeIvfPqIndex(
          idx2, cb, SimilaritySearch.pqEncode(live, cb), twinDir)
        assert(
          canon(SimilaritySearch.ivfPqProbeWritten(spark, stateDir, queries))
            == canon(SimilaritySearch.ivfPqProbeWritten(spark, twinDir, queries)),
          "recovery must finish the interrupted three-table swap")
      } finally rmTree(twinDir)
      // partial-corpus guard: a vectors frame missing live ids fails
      // fast instead of silently dropping them from the next generation
      val err2 = intercept[IllegalArgumentException](
        SimilaritySearch.reclusterWrittenIvfPqIndex(
          spark, stateDir, e.filter(col("vec_id") % 2 === 0), centroidMod = 50))
      assert(err2.getMessage.contains("full corpus"))
      // a plain IVF dir refuses the combined verb with the remedy
      val plainDir = java.nio.file.Files
        .createTempDirectory("graft_ivfpq_plain_").toString
      try {
        SimilaritySearch.writeIndex(
          SimilaritySearch.buildIndex(base, centroidMod = 50), plainDir)
        val err3 = intercept[IllegalArgumentException](
          SimilaritySearch.reclusterWrittenIvfPqIndex(
            spark, plainDir, e, centroidMod = 50))
        assert(err3.getMessage.contains("reclusterWrittenIndex"))
      } finally rmTree(plainDir)
    } finally rmTree(stateDir)
  }

  test("ivfpq codebook REFIT: re-encode bakes takedowns in, equals one-shot under new codebooks, guards fire") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .localCheckpoint(true)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val batch = e.filter(col("vec_id") % 3 === 0)
    val queries = e.filter(col("vec_id") % 97 === 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().toSeq
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_refit_spec_").toString
    try {
      // codebooks fit on the BASE only (the drift the refit remedies);
      // coarse geometry also on the base and UNTOUCHED throughout
      val cbBase = SimilaritySearch.pqFit(base, m = 16, seedMod = 20)
      val idxBase = SimilaritySearch.buildIndex(base, centroidMod = 50)
      SimilaritySearch.writeIvfPqIndex(
        idxBase, cbBase, SimilaritySearch.pqEncode(base, cbBase), stateDir)
      SimilaritySearch.appendToWrittenIvfPqIndex(spark, stateDir, batch)
      // tombstones pending at refit time: the re-encode must bake the
      // removal into codes AND the rewritten assignments
      val victims = Seq(101L, 102L, 204L)
      SimilaritySearch.deleteFromWrittenPqIndex(
        spark, stateDir, victims.toDF("vec_id"))
      SimilaritySearch.refitWrittenPqCodebooks(spark, stateDir, e, seedMod = 20)
      assert(!new java.io.File(s"$stateDir/tombstones").exists())
      assert(!new java.io.File(s"$stateDir/recluster_commit").exists())
      assert(spark.read.parquet(s"$stateDir/codes")
        .filter(col("cand_id").isin(victims: _*)).count() == 0L)
      assert(spark.read.parquet(s"$stateDir/assignments")
        .filter(col("cand_id").isin(victims: _*)).count() == 0L)
      // one-shot equivalence: same coarse geometry, codebooks fit on
      // the LIVE corpus (the layout decides membership — pending
      // tombstones are excluded from the refit's training set, not
      // just from the re-encode) — pqFit/pqEncode purity means the
      // refit layout probes exactly like a twin built that way
      val liveE = e.filter(!col("vec_id").isin(victims: _*))
      val cbFull = SimilaritySearch.pqFit(liveE, m = 16, seedMod = 20)
      val liveBase = base.filter(!col("vec_id").isin(victims: _*))
      val liveBatch = batch.filter(!col("vec_id").isin(victims: _*))
      val twinDir = java.nio.file.Files
        .createTempDirectory("graft_ivfpq_refit_twin_").toString
      try {
        SimilaritySearch.writeIvfPqIndex(
          SimilaritySearch.IvfIndex(
            idxBase.centroids,
            idxBase.assignments.filter(!col("cand_id").isin(victims: _*))),
          cbFull, SimilaritySearch.pqEncode(liveBase, cbFull), twinDir)
        SimilaritySearch.appendToWrittenIvfPqIndex(spark, twinDir, liveBatch)
        assert(
          canon(SimilaritySearch.ivfPqProbeWritten(spark, stateDir, queries))
            == canon(SimilaritySearch.ivfPqProbeWritten(spark, twinDir, queries)),
          "refit must equal the one-shot full-corpus-codebook build")
      } finally rmTree(twinDir)
      // wait — the refit CHANGED the codebooks: probing must not
      // equal the frozen-codebook state (else the verb did nothing)
      val frozenDir = java.nio.file.Files
        .createTempDirectory("graft_ivfpq_refit_frozen_").toString
      try {
        SimilaritySearch.writeIvfPqIndex(
          SimilaritySearch.IvfIndex(
            idxBase.centroids,
            idxBase.assignments.filter(!col("cand_id").isin(victims: _*))),
          cbBase, SimilaritySearch.pqEncode(liveBase, cbBase), frozenDir)
        SimilaritySearch.appendToWrittenIvfPqIndex(spark, frozenDir, liveBatch)
        assert(
          canon(SimilaritySearch.ivfPqProbeWritten(spark, stateDir, queries))
            != canon(SimilaritySearch.ivfPqProbeWritten(spark, frozenDir, queries)),
          "the refit must actually move the codebooks on this fixture")
      } finally rmTree(frozenDir)
      // guards: live ids missing from the supplied vectors fail fast;
      // a plain IVF layout has no codebooks to refit
      val g1 = intercept[IllegalArgumentException](
        SimilaritySearch.refitWrittenPqCodebooks(
          spark, stateDir, e.filter(col("vec_id") % 2 === 0)))
      assert(g1.getMessage.contains("superset"), g1.getMessage)
      val plainDir = java.nio.file.Files
        .createTempDirectory("graft_refit_plain_").toString
      try {
        SimilaritySearch.writeIndex(
          SimilaritySearch.buildIndex(base, centroidMod = 50), plainDir)
        val g2 = intercept[IllegalArgumentException](
          SimilaritySearch.refitWrittenPqCodebooks(spark, plainDir, e))
        assert(g2.getMessage.contains("no codes table"), g2.getMessage)
      } finally rmTree(plainDir)
      Dedup.unpersistAll()
    } finally rmTree(stateDir)
  }

  test("ivfpq refit TRIGGER: badly-quantizing appends trip Refitted, stationary appends stay quiet") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .localCheckpoint(true)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val stationary = e.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    // the shift a LIST-MASS trigger is blind to: same directions, so
    // coarse assignment stays the build's shape, but radially
    // scaled — quantization error explodes under the frozen codebooks
    val scaled = e.filter(col("vec_id") % 3 === 0)
      .select(
        (col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> x * cast(6 as float))").as("embedding"))
      .localCheckpoint(true)
    val cb = SimilaritySearch.pqFit(base, m = 16, seedMod = 20)
    def fresh() = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_refit_trigger_spec_").toString
      SimilaritySearch.writeIvfPqIndex(
        SimilaritySearch.buildIndex(base, centroidMod = 50),
        cb, SimilaritySearch.pqEncode(base, cb), d)
      d
    }
    // skewFactor pinned out of reach: the spec isolates the REFIT arm
    // (a scaled cloud can also skew lists; that path has its own spec)
    val d1 = fresh()
    try {
      var reads = 0
      val a1 = SimilaritySearch.appendAndMaintainWrittenIvfPqIndex(
        spark, d1, scaled,
        { reads += 1; base.unionByName(scaled) },
        maxFilesPerList = 1000, skewFactor = 1e9, centroidMod = 50)
      assert(a1 == SimilaritySearch.Refitted, s"got $a1")
      assert(reads == 1, "the refit path evaluates the corpus supplier once")
      assert(!new java.io.File(s"$d1/recluster_commit").exists())
      assert(!new java.io.File(s"$d1/qerr_appended").exists(),
        "the appended-error ledger resets when the generation swaps")
      // the swapped generation's codebooks actually moved (fit now
      // covers the scaled mass) and the layout still serves probes
      val cbNow = spark.read.parquet(s"$d1/codebooks")
        .orderBy("s", "cid").collect().toSeq
      val cbWas = cb.centroids.orderBy("s", "cid").collect().toSeq
      assert(cbNow != cbWas, "refit must retrain the codebooks")
      val queries = e.filter(col("vec_id") % 97 === 0)
      assert(SimilaritySearch.ivfPqProbeWritten(spark, d1, queries).count() > 0)
      // and the restamped baseline covers the whole live corpus, so
      // the very next stationary append reads as well-quantized
      val rep = SimilaritySearch.refitReport(spark, d1)
      assert(rep.baselineN == base.count() + scaled.count() && rep.appendedN == 0L,
        s"$rep")
    } finally rmTree(d1)
    // stationary appends under the SAME thresholds: evidence recorded,
    // trigger quiet, the supplier never evaluated
    val d2 = fresh()
    try {
      val a2 = SimilaritySearch.appendAndMaintainWrittenIvfPqIndex(
        spark, d2, stationary,
        sys.error("quiet refit path must not read the corpus"),
        maxFilesPerList = 1000, skewFactor = 1e9, centroidMod = 50)
      assert(a2 == SimilaritySearch.NoMaintenance, s"got $a2")
      assert(new java.io.File(s"$d2/qerr_appended").exists())
      assert(new java.io.File(s"$d2/qerr_baseline").exists())
      val rep = SimilaritySearch.refitReport(spark, d2)
      assert(rep.appendedN > 0L && rep.errRatio < 2.0,
        s"stationary appends must quantize like the fit set: $rep")
    } finally rmTree(d2)
    Dedup.unpersistAll()
  }

  test("pre-cid codes layout: combined verbs fail fast with the remedy, migrateWrittenPqCodesCid restores pruned probes") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .localCheckpoint(true)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val batch = e.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") % 97 === 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().toSeq
    val cb = SimilaritySearch.pqFit(base, m = 16, seedMod = 20)
    val d = java.nio.file.Files
      .createTempDirectory("graft_precid_spec_").toString
    try {
      SimilaritySearch.writeIvfPqIndex(
        SimilaritySearch.buildIndex(base, centroidMod = 50),
        cb, SimilaritySearch.pqEncode(base, cb), d)
      val before = canon(SimilaritySearch.ivfPqProbeWritten(spark, d, queries))
      // SIMULATE a pre-r18 layout: the codes table flat, no cid
      val flat = spark.read.parquet(s"$d/codes").select("cand_id", "codes")
        .localCheckpoint(true)
      rmTree(s"$d/codes")
      flat.repartition(1).write.mode("overwrite").parquet(s"$d/codes")
      // writes and pruned reads name the one-time migration
      val g1 = intercept[IllegalArgumentException](
        SimilaritySearch.appendToWrittenIvfPqIndex(spark, d, batch))
      assert(g1.getMessage.contains("migrateWrittenPqCodesCid"), g1.getMessage)
      val g2 = intercept[IllegalArgumentException](
        SimilaritySearch.reconstructWrittenCodesForCids(spark, d, Seq(0L)))
      assert(g2.getMessage.contains("migrateWrittenPqCodesCid"), g2.getMessage)
      // the full-scan probe keeps serving the legacy layout meanwhile
      assert(canon(SimilaritySearch.ivfPqProbeWritten(spark, d, queries))
        == before)
      SimilaritySearch.migrateWrittenPqCodesCid(spark, d)
      SimilaritySearch.migrateWrittenPqCodesCid(spark, d) // idempotent
      assert(spark.read.parquet(s"$d/codes").columns.contains("cid"))
      assert(canon(SimilaritySearch.ivfPqProbeWritten(spark, d, queries))
        == before, "migration is layout-only")
      // appends flow again on the migrated layout
      SimilaritySearch.appendToWrittenIvfPqIndex(spark, d, batch)
      assert(SimilaritySearch.reconstructWrittenCodesForCids(
        spark, d,
        spark.read.parquet(s"$d/assignments")
          .select(col("cid").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq).count()
        == base.count() + batch.count())
      // a plain PQ layout refuses the migration — flat is its design
      val pq = java.nio.file.Files
        .createTempDirectory("graft_precid_plainpq_").toString
      try {
        SimilaritySearch.writePqIndex(
          cb, SimilaritySearch.pqEncode(base, cb), pq)
        val g3 = intercept[IllegalArgumentException](
          SimilaritySearch.migrateWrittenPqCodesCid(spark, pq))
        assert(g3.getMessage.contains("plain PQ layout"), g3.getMessage)
      } finally rmTree(pq)
    } finally rmTree(d)
    Dedup.unpersistAll()
  }

  test("driftEvidence: a manifest naming zero current files is STALE — mtime fallback, never 100%-appended (ADVICE r17)") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .localCheckpoint(true)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val batch = e.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val d = java.nio.file.Files
      .createTempDirectory("graft_stale_manifest_spec_").toString
    try {
      SimilaritySearch.writeIndex(
        SimilaritySearch.buildIndex(base, centroidMod = 50), d)
      SimilaritySearch.appendToWrittenIndex(spark, d, batch)
      val honest = SimilaritySearch.driftReport(spark, d)
      assert(honest.buildRows > 0L && honest.appendedRows > 0L)
      // simulate the crash window between the compaction swap and the
      // manifest re-stamp: every name in the manifest belongs to a
      // retired generation
      val mp = new org.apache.hadoop.fs.Path(s"$d/baseline_manifest")
      val out = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(mp, true)
      try out.write(
        "part-00000-retired-generation.snappy.parquet\n".getBytes("UTF-8"))
      finally out.close()
      val fell = SimilaritySearch.driftReport(spark, d)
      assert(fell.buildRows >= honest.buildRows,
        s"a stale manifest must fall back to mtimes, not classify all " +
          s"mass as appended: $fell vs $honest")
      assert(!fell.recluster || honest.recluster,
        "the fallback must not manufacture a re-cluster trigger")
    } finally rmTree(d)
    Dedup.unpersistAll()
  }

  test("semantic probes PARTITION-PRUNE the written corpus scans to the batch's lists (r18)") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .localCheckpoint(true)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    // a small batch so touched lists are visibly fewer than nLists
    val batch = e.filter(col("vec_id") % 199 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    def fmt(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // FLOAT layout: the assignments scan carries a cid IN(...)
    // partition filter (static pruning — the batch's touched lists
    // are driver-known literals, so no DPP machinery is needed)
    val d = java.nio.file.Files
      .createTempDirectory("graft_sem_prune_spec_").toString
    try {
      SimilaritySearch.writeIndex(
        SimilaritySearch.buildIndex(base, centroidMod = 50), d)
      val idx = SimilaritySearch.readIndex(spark, d)
      val pruned = Dedup.semanticDedupAgainstIndex(batch, idx, 900000L)
      val plan = fmt(pruned)
      assert(plan.contains("PartitionFilters") && plan.contains("cid"),
        s"assignments scan must partition-prune on cid:\n$plan")
      assert("cid.* IN ".r.findFirstIn(plan).nonEmpty
        || plan.contains("cid#") && plan.contains(" IN ("),
        s"expected a cid IN (...) partition filter:\n$plan")
      // pruning is a semantic no-op: equals the hand-rolled UNPRUNED
      // probe (full assignments join on cid)
      val newA = SimilaritySearch.assignVectors(idx.centroids, batch, "vec_id")
        .select(
          col("cand_id").as("new_id"), col("cid"),
          col("cand_emb").as("ne"), col("cnorm").as("nn"))
      val corpusA = idx.assignments.select(
        col("cand_id").as("corpus_id"), col("cid"),
        col("cand_emb").as("ce"), col("cnorm").as("cn"))
      val unpruned = newA.join(corpusA, "cid")
        .withColumn(
          "cos",
          expr(graft.functions.VectorExprs.dotSpark("ne", "ce"))
            / (col("nn") * col("cn")))
        .withColumn("cos_ppm", floor(lit(1000000.0) * col("cos")).cast("long"))
        .filter(col("cos_ppm") >= 900000L)
        .select("new_id", "corpus_id", "cos_ppm")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("new_id", "corpus_id").collect().toSeq
      assert(canon(pruned) == canon(unpruned))
    } finally rmTree(d)
    // IVFADC layout: the codes scan prunes the same way through
    // reconstructWrittenCodesForCids
    val dc = java.nio.file.Files
      .createTempDirectory("graft_sempq_prune_spec_").toString
    try {
      val cb = SimilaritySearch.pqFit(base, m = 16, seedMod = 20)
      SimilaritySearch.writeIvfPqIndex(
        SimilaritySearch.buildIndex(base, centroidMod = 50),
        cb, SimilaritySearch.pqEncode(base, cb), dc)
      val planPq = fmt(
        Dedup.semanticDedupAgainstPqIndex(batch, spark, dc, 900000L))
      // two partitioned scans (assignments + codes), both cid-filtered
      assert("PartitionFilters".r.findAllIn(planPq).size >= 2,
        s"both corpus scans must partition-prune on cid:\n$planPq")
    } finally rmTree(dc)
    Dedup.unpersistAll()
  }

  test("hamming segment table: catalog equals derived rows, radius guard fires, appends extend the probe") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, dir)
    val corpus = graft.operators.Multimodal.synthesizePpmTextured(docs)
      .localCheckpoint(true)
    val batch = graft.operators.Multimodal.synthesizePpmTextured(
      docs.filter(col("doc_id") % 7 === 0),
      mediaIdOffset = 1000000L, perturb = true).localCheckpoint(true)
    val table = "hamming_spec_state"
    Seq(table, s"${table}_compact_tmp", s"${table}_tombstones")
      .foreach(t => TestSpark.resetTable(spark, s"$t"))
    try {
      graft.operators.Multimodal.writeDhashTable(
        corpus, table, maxHamming = 4, buckets = 4)
      Dedup.unpersistAll()
      // catalog = the independently-derived segment rows (same
      // decode, same segmentation)
      val fp = graft.operators.Multimodal.mediaDhashFingerprints(corpus)
        .withColumn("mh", lit(4)).withColumn("hbits", lit(64))
      val memRows = Dedup.hammingSegmentRows(fp, maxHamming = 4, bits = 64)
        .localCheckpoint(true)
      assert(spark.table(table).except(memRows).isEmpty
        && memRows.except(spark.table(table)).isEmpty)
      // probing at a different radius fails loudly with the remedy —
      // segment boundaries depend on it, silence would lose pairs
      val e = intercept[IllegalArgumentException](
        graft.operators.Multimodal.perceptualHashPairsAgainst(
          batch, spark, table, maxHamming = 2))
      assert(e.getMessage.contains("rebuild"), e.getMessage)
      // ... and so do mismatched-geometry APPENDS (review r15: an
      // unchecked append would build a MIXED table whose one-row
      // guard passes nondeterministically — the write boundary is
      // where homogeneity must hold), for radius AND hash width
      val ea = intercept[IllegalArgumentException](
        Dedup.appendToHammingTable(
          graft.operators.Multimodal.mediaDhashFingerprints(batch),
          table, maxHamming = 2, bits = 64, buckets = 4))
      assert(ea.getMessage.contains("appended"), ea.getMessage)
      val eb = intercept[IllegalArgumentException](
        Dedup.appendToHammingTable(
          graft.operators.Multimodal.mediaDhashFingerprints(batch),
          table, maxHamming = 4, bits = 32, buckets = 4))
      assert(eb.getMessage.contains("bits=32"), eb.getMessage)
      // append a batch's rows: a re-probe of the same batch now also
      // self-matches against its appended segment rows
      val before = graft.operators.Multimodal
        .perceptualHashPairsAgainst(batch, spark, table, maxHamming = 4)
        .count()
      Dedup.unpersistAll()
      Dedup.appendToHammingTable(
        graft.operators.Multimodal.mediaDhashFingerprints(batch),
        table, maxHamming = 4, bits = 64, buckets = 4)
      val after = graft.operators.Multimodal
        .perceptualHashPairsAgainst(batch, spark, table, maxHamming = 4)
      assert(after.count() == before + batch.count(),
        "after the append every batch member self-matches at Hamming 0")
      assert(after.filter(col("new_media") === col("corpus_media"))
        .agg(max("hamming")).collect()(0).getLong(0) == 0L)
      Dedup.unpersistAll()
      // the automatic compaction cadence (the band/shingle/line
      // families' contract, now on the Hamming family too): a second
      // append under maxFilesPerBucket=1 trips the rewrite, and the
      // probe answers are pinned across it
      val batch2 = graft.operators.Multimodal.synthesizePpmTextured(
        docs.filter(col("doc_id") % 11 === 0),
        mediaIdOffset = 2000000L, perturb = true).localCheckpoint(true)
      val preCanon = graft.operators.Multimodal
        .perceptualHashPairsAgainst(batch, spark, table, maxHamming = 4)
        .orderBy("new_media", "corpus_media").collect().toSeq
      Dedup.unpersistAll()
      val tripped = Dedup.appendAndMaybeCompactHamming(
        graft.operators.Multimodal.mediaDhashFingerprints(batch2),
        table, maxHamming = 4, bits = 64, buckets = 4, maxFilesPerBucket = 1)
      assert(tripped, "a second append at maxFilesPerBucket=1 must compact")
      val postCanon = graft.operators.Multimodal
        .perceptualHashPairsAgainst(batch, spark, table, maxHamming = 4)
        .orderBy("new_media", "corpus_media").collect().toSeq
      Dedup.unpersistAll()
      // batch2's rows joined the state (new %11 self-matches appear
      // when probing batch2), while batch's probe picture is the
      // pre-compaction one plus nothing lost
      assert(postCanon.size >= preCanon.size)
      assert(Dedup.hammingPairsAgainst(
          graft.operators.Multimodal.mediaDhashFingerprints(batch2),
          Dedup.hammingTableLive(spark, table, maxHamming = 4, bits = 64),
          maxHamming = 4, bits = 64)
        .filter(col("new_id") === col("corpus_id")).count() == batch2.count())
      Dedup.unpersistAll()
    } finally {
      Seq(table, s"${table}_compact_tmp", s"${table}_tombstones")
        .foreach(t => TestSpark.resetTable(spark, s"$t"))
    }
  }

  test("simhash state on the generic hamming family: blocked catalog equals derived rows, block guards fire") {
    import graft.functions.TextExprs.SimhashBits
    val docs = Tables.documents(spark, dir).localCheckpoint(true)
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" ingest tail")))
      .localCheckpoint(true)
    val table = "simhash_spec_state"
    Seq(table, s"${table}_compact_tmp", s"${table}_tombstones")
      .foreach(t => TestSpark.resetTable(spark, s"$t"))
    try {
      Dedup.writeSimhashTable(docs, table, maxHamming = 4, buckets = 4)
      // catalog = the independently-derived segment rows — same
      // tokenize/pack front, same segmentation, BLOCK COLUMN STORED
      // (the text granularity's source confinement rides the generic
      // family's optional-block support)
      def blockedFp(d: org.apache.spark.sql.DataFrame) =
        Dedup.simhashFingerprints(d, passthroughCols = Seq("source"))
          .withColumnRenamed("source", "block")
      val fp = blockedFp(docs)
        .withColumn("mh", lit(4)).withColumn("hbits", lit(SimhashBits))
        // stored layout orders (doc_id, fph, block, mh, hbits)
        .select("doc_id", "fph", "block", "mh", "hbits")
      val memRows = Dedup.hammingSegmentRows(fp, maxHamming = 4, bits = SimhashBits)
        .localCheckpoint(true)
      assert(spark.table(table).except(memRows).isEmpty
        && memRows.except(spark.table(table)).isEmpty)
      // the state probe = the quadratic blocked reference (pigeonhole
      // candidates are lossless, block equality confines)
      val brute = blockedFp(batch).as("x")
        .join(blockedFp(docs).as("y"), col("x.block") === col("y.block"))
        .withColumn("hamming",
          bit_count(col("x.fph").bitwiseXOR(col("y.fph"))).cast("long"))
        .filter(col("hamming") <= 4)
        .select(col("x.doc_id").as("new_doc"), col("y.doc_id").as("corpus_doc"),
          col("hamming"))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("new_doc", "corpus_doc").collect().toSeq
      assert(canon(Dedup.simhashPairsAgainst(batch, spark, table, maxHamming = 4))
        == canon(brute))
      assert(brute.count() > 0, "fixture must plant blocked pairs")
      Dedup.unpersistAll()
      // blockedness is table geometry: an UNBLOCKED batch cannot
      // probe or append a blocked state (and vice versa) — silence
      // would change the pairing semantics mid-table
      val bare = Dedup.simhashFingerprints(batch)
      val ep = intercept[IllegalArgumentException](
        Dedup.hammingPairsAgainst(
          bare, Dedup.hammingTableLive(spark, table, maxHamming = 4, bits = SimhashBits),
          maxHamming = 4, bits = SimhashBits))
      assert(ep.getMessage.contains("block"), ep.getMessage)
      val ea = intercept[IllegalArgumentException](
        Dedup.appendToHammingTable(
          bare, table, maxHamming = 4, bits = SimhashBits, buckets = 4))
      assert(ea.getMessage.contains("block"), ea.getMessage)
      // the (mh, hbits) geometry guard holds at text width too
      val er = intercept[IllegalArgumentException](
        Dedup.simhashPairsAgainst(batch, spark, table, maxHamming = 2))
      assert(er.getMessage.contains("rebuild"), er.getMessage)
      // blocked append extends the probe exactly like the media row:
      // every appended batch member then self-matches at Hamming 0
      val before = Dedup.simhashPairsAgainst(batch, spark, table, maxHamming = 4).count()
      Dedup.unpersistAll()
      Dedup.appendToHammingTable(
        blockedFp(batch), table, maxHamming = 4, bits = SimhashBits, buckets = 4)
      val after = Dedup.simhashPairsAgainst(batch, spark, table, maxHamming = 4)
        .localCheckpoint(true)
      assert(after.filter(col("new_doc") === col("corpus_doc")).count()
        == batch.count())
      assert(after.filter(col("new_doc") === col("corpus_doc"))
        .agg(max("hamming")).collect()(0).getLong(0) == 0L)
      assert(after.count() >= before + batch.count())
      Dedup.unpersistAll()
    } finally {
      Seq(table, s"${table}_compact_tmp", s"${table}_tombstones")
        .foreach(t => TestSpark.resetTable(spark, s"$t"))
    }
  }

  test("bucketed chunk table: catalog equals the derived state, ingest appends close the key set") {
    import org.apache.spark.sql.expressions.Window
    val corpus = Corpus.docCorpus(spark, dir).select("doc_id", "text").localCheckpoint(true)
    val table = "chunk_spec_state"
    Seq(table, s"${table}_compact_tmp", s"${table}_tombstones")
      .foreach(t => TestSpark.resetTable(spark, s"$t"))
    try {
      Dedup.writeChunkTable(
        corpus, table, buckets = 4, chunkTokens = 30, strideTokens = 20)
      // catalog state = the independently-derived first-occurrence
      // chunk keys under the pinned salt-first fingerprint pair
      val memKeys = graft.operators.TextAnalysis.chunkDocuments(
          corpus, chunkTokens = 30, strideTokens = 20)
        .withColumn("ckey", lower(trim(col("chunk_text"))))
        .withColumn("rn",
          row_number().over(Window.partitionBy("ckey").orderBy("doc_id", "chunk_id")))
        .filter(col("rn") === 1)
        .select(
          xxhash64(col("ckey")).as("pk1"),
          xxhash64(lit("fp2"), col("ckey")).as("pk2"),
          col("doc_id"))
        .localCheckpoint(true)
      assert(spark.table(table).except(memKeys).isEmpty
        && memKeys.except(spark.table(table)).isEmpty)
      // a batch's new keys append through the LINE-table verb (the
      // layouts are identical by design); a re-ship of the same docs
      // under fresh ids then keeps nothing
      val batch = corpus.filter(col("doc_id") % 9 === 0)
        .withColumn("doc_id", col("doc_id") + 10000000L).localCheckpoint(true)
      val newKeys = Dedup.chunkIngestStep(
        batch, Dedup.stateTableLive(spark, table),
        chunkTokens = 30, strideTokens = 20)._2.localCheckpoint(true)
      Dedup.unpersistAll()
      Dedup.appendToLineTable(newKeys, table, buckets = 4)
      val reprobe = Dedup.chunkIngestStep(
        batch.withColumn("doc_id", col("doc_id") + 10000000L),
        Dedup.stateTableLive(spark, table),
        chunkTokens = 30, strideTokens = 20)._1
      assert(reprobe.filter(col("keep")).isEmpty,
        "every chunk of a re-shipped doc is already in the key set")
      Dedup.unpersistAll()
    } finally {
      Seq(table, s"${table}_compact_tmp", s"${table}_tombstones")
        .foreach(t => TestSpark.resetTable(spark, s"$t"))
    }
  }

  test("legacy text-keyed line state (pkey): probe rehashes on read, append fails fast (ADVICE r14)") {
    import org.apache.spark.sql.expressions.Window
    val corpus = Corpus.paraCorpus(spark, dir).select("doc_id", "text").localCheckpoint(true)
    val batch = corpus.filter(col("doc_id") % 9 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L).localCheckpoint(true)
    def canon(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect().toSeq
    // the pre-fingerprint revision's state layout: (pkey STRING,
    // doc_id), pkey = the normalized line text of each first occurrence
    val parts = corpus.select(
      col("doc_id"),
      posexplode(split(coalesce(col("text"), lit("")), "\n", -1)).as(Seq("pos", "para")))
    val legacyState = parts.filter(trim(col("para")) =!= "")
      .withColumn("pkey", lower(trim(col("para"))))
      .withColumn("rn",
        row_number().over(Window.partitionBy("pkey").orderBy("doc_id", "pos")))
      .filter(col("rn") === 1)
      .select(col("pkey"), col("doc_id"))
      .localCheckpoint(true)
    // probing the legacy frame must NOT throw a missing-column
    // AnalysisException: pkey is rehashed into (pk1, pk2) on read and
    // the probe result is identical to a rebuilt fingerprint state
    val viaLegacy = canon(Dedup.paragraphIngestStep(batch, legacyState)._1)
    Dedup.unpersistAll()
    val fpState = legacyState.select(
      xxhash64(col("pkey")).as("pk1"),
      xxhash64(lit("fp2"), col("pkey")).as("pk2"),
      col("doc_id"))
    val viaFp = canon(Dedup.paragraphIngestStep(batch, fpState)._1)
    Dedup.unpersistAll()
    assert(viaLegacy == viaFp)
    // a frame with NEITHER layout names the remedy, not a join error
    val bogus = intercept[IllegalArgumentException] {
      Dedup.paragraphIngestStep(batch, corpus.select(col("doc_id").as("some_id")))
    }
    assert(bogus.getMessage.contains("writeLineTable"), bogus.getMessage)
    // appending fingerprint rows into a legacy pkey TABLE fails fast
    // with the rebuild message instead of a schema mismatch downstream
    val table = "line_spec_legacy"
    Seq(table, s"${table}_compact_tmp", s"${table}_tombstones")
      .foreach(t => TestSpark.resetTable(spark, s"$t"))
    try {
      legacyState.write.saveAsTable(table)
      val e = intercept[IllegalArgumentException] {
        Dedup.appendToLineTable(fpState, table, buckets = 4)
      }
      assert(e.getMessage.contains("legacy text-keyed layout"), e.getMessage)
      // … and so does COMPACTION (the r15 verdict's migration-matrix
      // row: a rewrite would die on a raw missing-(pk1,pk2) error far
      // from the cause without the guard)
      val ec = intercept[IllegalArgumentException] {
        Dedup.compactLineTable(spark, table, buckets = 4)
      }
      assert(ec.getMessage.contains("legacy text-keyed layout"), ec.getMessage)
      // DELETION is layout-agnostic by design — tombstones key on the
      // owning doc_id, which both layouts carry — so a takedown
      // against a legacy table masks immediately: the deleted owner's
      // line keys leave the live view, and a probe through the
      // rehash-on-read adapter equals a probe of the fingerprint
      // state minus that owner
      val victim = legacyState.select("doc_id").orderBy("doc_id").head().getLong(0)
      import spark.implicits._
      Dedup.deleteFromLineTable(Seq(victim).toDF("doc_id"), table)
      val viaLegacyDel = canon(Dedup.paragraphIngestStep(
        batch, Dedup.stateTableLive(spark, table))._1)
      Dedup.unpersistAll()
      val viaFpDel = canon(Dedup.paragraphIngestStep(
        batch, fpState.filter(col("doc_id") =!= victim))._1)
      Dedup.unpersistAll()
      assert(viaLegacyDel == viaFpDel,
        "legacy-table takedown must mask by owner exactly like the fp state's")
      // the masked live view genuinely differs from the unmasked probe
      // (the victim owned at least one key the batch re-ships)
      assert(viaLegacyDel != viaFp,
        "fixture must make the deleted owner's keys observable")
    } finally
      Seq(table, s"${table}_compact_tmp", s"${table}_tombstones")
        .foreach(t => TestSpark.resetTable(spark, s"$t"))
  }

  test("bucketed-state tombstones: band and shingle deletes mask immediately, survive compaction, keep the probe plan") {
    import spark.implicits._
    // ---- band table ----
    val corpus = Corpus.docCorpus(spark, dir)
    val newBatch = corpus
      .filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" ingest tail")))
    val corpusSigs = Dedup.signatureTable(corpus).localCheckpoint(true)
    val newSigs = Dedup.signatureTable(newBatch).localCheckpoint(true)
    Dedup.unpersistAll()
    val table = "sigband_spec_del"
    val shTable = "shingle_spec_del"
    Seq(table, shTable).foreach { t =>
      TestSpark.resetTable(spark, s"$t")
      TestSpark.resetTable(spark, s"${t}_compact_tmp")
      TestSpark.resetTable(spark, s"${t}_tombstones")
    }
    try {
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("new_id", "corpus_id").collect().toSeq
      Dedup.writeBandTable(corpusSigs, table, buckets = 4)
      // no tombstone table → the live view IS the bare table
      val baseline = canon(Dedup.minhashPairsAgainstBandTable(
        newSigs, Dedup.stateTableLive(spark, table), corpusSigs))
      assert(baseline == canon(Dedup.minhashPairsAgainstBandTable(
        newSigs, spark.table(table), corpusSigs)))
      assert(baseline.nonEmpty)
      val victims = baseline.map(_.getLong(1)).distinct.take(2)
      Dedup.deleteFromBandTable(victims.toDF("doc_id"), table)
      // independent derivation: the signature-table probe against a
      // corpus that never contained the victims
      val expected = canon(Dedup.minhashPairsAgainstSignatures(
        newSigs, corpusSigs.filter(!col("doc_id").isin(victims: _*))))
      val masked = canon(Dedup.minhashPairsAgainstBandTable(
        newSigs, Dedup.stateTableLive(spark, table), corpusSigs))
      assert(masked == expected)
      assert(masked != baseline)
      // the mask broadcasts: with broadcast forced off elsewhere, the
      // probe's exchange count is unchanged by the tombstone view
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val (exBare, exMasked) =
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          (exchanges(Dedup.minhashPairsAgainstBandTable(
            newSigs, spark.table(table), corpusSigs)),
            exchanges(Dedup.minhashPairsAgainstBandTable(
              newSigs, Dedup.stateTableLive(spark, table), corpusSigs)))
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      assert(exMasked == exBare,
        s"tombstone mask must not add a shuffle: $exMasked vs $exBare")
      // compaction bakes the delete in, drops the tombstone table,
      // and the live view degrades to the bare (bucketed) scan
      Dedup.compactBandTable(spark, table, buckets = 4)
      assert(!spark.catalog.tableExists(s"${table}_tombstones"))
      assert(canon(Dedup.minhashPairsAgainstBandTable(
        newSigs, Dedup.stateTableLive(spark, table), corpusSigs)) == expected)

      // ---- shingle table: same contract on the span state ----
      val spanCorpus = Corpus.spanCorpus(spark, dir)
      val state = spanCorpus.filter(col("doc_id") % 4 =!= 0)
      val batch = spanCorpus.filter(col("doc_id") % 4 === 0)
      val batchSh = Dedup.shingleTable(batch).localCheckpoint(true)
      Dedup.unpersistAll()
      def canonSp(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_a", "doc_b", "a_start", "b_start").collect().toSeq
      Dedup.writeShingleTable(state, shTable, buckets = 4)
      val spBaseline = canonSp(Dedup.repeatedSpansAgainstShingles(
        batchSh, Dedup.stateTableLive(spark, shTable)))
      assert(spBaseline.nonEmpty)
      val spVictims = spBaseline.map(_.getLong(0)).distinct.take(2)
      Dedup.deleteFromShingleTable(spVictims.toDF("doc_id"), shTable)
      val spExpectedDf = Dedup.shingleTable(
        state.filter(!col("doc_id").isin(spVictims: _*))).localCheckpoint(true)
      Dedup.unpersistAll()
      val spExpected = canonSp(
        Dedup.repeatedSpansAgainstShingles(batchSh, spExpectedDf))
      val spMasked = canonSp(Dedup.repeatedSpansAgainstShingles(
        batchSh, Dedup.stateTableLive(spark, shTable)))
      assert(spMasked == spExpected)
      assert(spMasked != spBaseline)
      Dedup.compactShingleTable(spark, shTable, buckets = 4)
      assert(!spark.catalog.tableExists(s"${shTable}_tombstones"))
      assert(canonSp(Dedup.repeatedSpansAgainstShingles(
        batchSh, Dedup.stateTableLive(spark, shTable))) == spExpected)
    } finally {
      Seq(table, shTable).foreach { t =>
        TestSpark.resetTable(spark, s"$t")
        TestSpark.resetTable(spark, s"${t}_compact_tmp")
        TestSpark.resetTable(spark, s"${t}_tombstones")
      }
      Dedup.unpersistAll()
    }
  }

  test("tombstone cap enforced at DELETE time; compaction recovers an over-cap legacy set (ADVICE r13 deadlock)") {
    import spark.implicits._
    val corpus = Corpus.docCorpus(spark, dir)
    val corpusSigs = Dedup.signatureTable(corpus).localCheckpoint(true)
    Dedup.unpersistAll()
    val table = "sigband_spec_cap"
    Seq(table, s"${table}_compact_tmp", s"${table}_tombstones").foreach { t =>
      TestSpark.resetTable(spark, s"$t")
    }
    val ivfDir = java.nio.file.Files
      .createTempDirectory("graft_ivf_cap_").toString
    try {
      // ---- bucketed state table ----
      Dedup.writeBandTable(corpusSigs, table, buckets = 4)
      val bare = spark.table(table).count()
      // one delete past the cap fails AT THE DELETE, with the remedy,
      // and writes nothing — probes keep working
      val over = spark.range(Dedup.MaxTombstones + 1L)
        .select((col("id") + 10000000L).as("doc_id"))
      val e = intercept[IllegalArgumentException] {
        Dedup.deleteFromBandTable(over, table)
      }
      assert(e.getMessage.contains("compaction"), e.getMessage)
      assert(!spark.catalog.tableExists(s"${table}_tombstones"))
      assert(Dedup.stateTableLive(spark, table).count() == bare)
      // the cap sums EXISTING + new: a small delete then one that
      // would cross the line fails too, leaving the small set intact
      val victims = corpus.select("doc_id").limit(2).as[Long].collect().toSeq
      Dedup.deleteFromBandTable(victims.toDF("doc_id"), table)
      intercept[IllegalArgumentException] {
        Dedup.deleteFromBandTable(
          spark.range(Dedup.MaxTombstones.toLong)
            .select((col("id") + 10000000L).as("doc_id")), table)
      }
      assert(spark.table(s"${table}_tombstones").count() == 2)
      // ---- legacy over-cap set (grown before the write-time cap):
      // the probe mask refuses with the compaction remedy, and the
      // compaction ITSELF must not read through the same capped
      // collect — it anti-joins, succeeds, and unbricks the state
      spark.range(Dedup.MaxTombstones + 1L)
        .select((col("id") + 10000000L).as("doc_id"))
        .write.mode("append").format("parquet")
        .saveAsTable(s"${table}_tombstones")
      val probeErr = intercept[IllegalArgumentException] {
        Dedup.stateTableLive(spark, table).count()
      }
      assert(probeErr.getMessage.contains("compaction"), probeErr.getMessage)
      Dedup.compactBandTable(spark, table, buckets = 4)
      assert(!spark.catalog.tableExists(s"${table}_tombstones"))
      // the rewrite applied the set: victims gone, phantom ids no-ops
      val live = Dedup.stateTableLive(spark, table)
      assert(live.filter(col("doc_id").isin(victims: _*)).isEmpty)
      assert(live.count() > 0)
      // one file per bucket survives the anti-join rewrite
      val loc = spark.sql(s"DESCRIBE FORMATTED $table")
        .filter(col("col_name") === "Location").select("data_type")
        .as[String].head()
      assert(parquetFiles(loc.stripPrefix("file:")) == 4,
        "anti-join compaction must keep one file per bucket")

      // ---- written layout: same two guarantees ----
      val emb = Tables.embeddings(spark, dir)
      val index = SimilaritySearch.buildIndex(emb, centroidMod = 50)
      SimilaritySearch.writeIndex(index, ivfDir)
      val overW = spark.range(Dedup.MaxTombstones + 1L)
        .select((col("id") + 10000000L).as("cand_id"))
      val eW = intercept[IllegalArgumentException] {
        SimilaritySearch.deleteFromWrittenIndex(spark, ivfDir, overW)
      }
      assert(eW.getMessage.contains("compaction"), eW.getMessage)
      assert(!new java.io.File(s"$ivfDir/tombstones").exists())
      // legacy over-cap set on disk: reads refuse, compaction recovers
      overW.coalesce(1).write.mode("append").parquet(s"$ivfDir/tombstones")
      intercept[IllegalArgumentException] {
        SimilaritySearch.readIndex(spark, ivfDir).assignments.count()
      }
      SimilaritySearch.compactWrittenIndex(spark, ivfDir)
      assert(!new java.io.File(s"$ivfDir/tombstones").exists())
      assert(SimilaritySearch.readIndex(spark, ivfDir).assignments.count() > 0)
    } finally {
      Seq(table, s"${table}_compact_tmp", s"${table}_tombstones").foreach { t =>
        TestSpark.resetTable(spark, s"$t")
      }
      Dedup.unpersistAll()
    }
  }

  test("capped PQ probe: the cap bounds the DECODE set itself, pairs equal uncapped-filtered-to-reps") {
    // r19 optimization (ADVICE r18): maxCorpusVecsPerList used to cap
    // only the pair fan-out — every code row of a touched list still
    // paid the posexplode/groupBy decode because Catalyst cannot push
    // an inner join below that aggregate. The capped representative
    // ids now enter reconstructWrittenCodesForCids as a broadcast
    // semi-join BELOW the aggregate. This spec pins (a) the decode
    // output is exactly the representative set, (b) the pair list is
    // byte-identical to the uncapped probe filtered to those
    // representatives (the cap's documented semantics), and (c) the
    // cap=0 path is unchanged.
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .localCheckpoint(true)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val batch = e.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val cb = SimilaritySearch.pqFit(base, m = 16, seedMod = 20)
    val d = java.nio.file.Files
      .createTempDirectory("graft_cappq_spec_").toString
    def rm(p: String): Unit = {
      def walk(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(walk)
        f.delete()
      }
      walk(new java.io.File(p))
    }
    try {
      SimilaritySearch.writeIvfPqIndex(
        SimilaritySearch.buildIndex(base, centroidMod = 20),
        cb, SimilaritySearch.pqEncode(base, cb), d)
      val cap = 2
      // low threshold so several pairs per list survive and the cap bites
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("new_id", "corpus_id").collect().toSeq
      val uncapped = Dedup.semanticDedupAgainstPqIndex(
        batch, spark, d, minCosPpm = -2000000L)
      val capped = Dedup.semanticDedupAgainstPqIndex(
        batch, spark, d, minCosPpm = -2000000L, maxCorpusVecsPerList = cap)
      // representatives: the cap smallest corpus ids per list
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("cid").orderBy("cand_id")
      val reps = spark.read.parquet(s"$d/assignments")
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= cap)
        .select(col("cand_id"))
        .collect().map(_.getLong(0)).toSet
      val expect = canon(
        uncapped.filter(col("corpus_id").isInCollection(reps)))
      assert(expect.nonEmpty, "fixture must produce capped pairs")
      assert(canon(capped) == expect,
        "capped pairs must equal the uncapped probe filtered to the reps")
      assert(canon(uncapped).size > expect.size,
        "the cap must actually bite on this fixture")
      // (a) the decode path itself is bounded: with an id filter the
      // reconstruction returns exactly the filtered ids
      val touched = spark.read.parquet(s"$d/assignments")
        .select(col("cid").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq
      import spark.implicits._
      val someIds = reps.take(3).toSeq
      val recon = SimilaritySearch.reconstructWrittenCodesForCids(
        spark, d, touched,
        idFilter = Some(someIds.toDF("cand_id")))
      assert(recon.select("cand_id").collect().map(_.getLong(0)).toSet
        == someIds.toSet,
        "idFilter must bound the decode output to exactly the filtered ids")
    } finally {
      rm(d)
      Dedup.unpersistAll()
    }
  }

  test("writeIvfPqIndex fails fast on a code row with no coarse assignment") {
    // ADVICE r18: the codes⋈assignments stamp was an inner join, so a
    // code row whose cand_id has no assignment (inconsistent caller
    // inputs) silently vanished from the written layout. Now a left
    // join + per-row raise_error (no extra count job) names the bad id.
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .localCheckpoint(true)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val phantom = base.limit(1)
      .select((col("vec_id") + 9999999L).as("vec_id"), col("embedding"))
    val cb = SimilaritySearch.pqFit(base, m = 16, seedMod = 20)
    val d = java.nio.file.Files
      .createTempDirectory("graft_pqguard_spec_").toString
    def rm(p: String): Unit = {
      def walk(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(walk)
        f.delete()
      }
      walk(new java.io.File(p))
    }
    try {
      val idx = SimilaritySearch.buildIndex(base, centroidMod = 20)
      val ex = intercept[Exception] {
        SimilaritySearch.writeIvfPqIndex(
          idx, cb,
          SimilaritySearch.pqEncode(base.unionByName(phantom), cb), d)
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("no coarse assignment")),
        s"want the named-id guard, got: ${messages(ex).mkString(" | ")}")
      // consistent inputs still write
      SimilaritySearch.writeIvfPqIndex(
        idx, cb, SimilaritySearch.pqEncode(base, cb), d)
      assert(spark.read.parquet(s"$d/codes").count() == base.count())
    } finally {
      rm(d)
      Dedup.unpersistAll()
    }
  }

  // ---- the state scaffold: Dedup.dropState and withIngestState

  private def warehouse = {
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    (wh, wh.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Catalog tables and warehouse entries whose name starts with
    * `prefix` (case-insensitive, as the catalog stores names).
    */
  private def stateLeft(prefix: String): Seq[String] = {
    val p = prefix.toLowerCase(java.util.Locale.ROOT)
    val (wh, fs) = warehouse
    val tables = spark.catalog.listTables().collect().map(_.name).toSeq
    val entries =
      if (!fs.exists(wh)) Nil else fs.listStatus(wh).map(_.getPath.getName).toSeq
    (tables ++ entries).filter(_.toLowerCase(java.util.Locale.ROOT).startsWith(p))
  }

  test("Dedup.dropState removes a prefix's tables, siblings and stray warehouse dirs only") {
    val (wh, fs) = warehouse
    val doomed = Seq("graft_ds", "graft_ds_x", "graft_ds_x_tombstones")
    val kept = Seq("graft_dsx", "graft_ds2_x", "q_graft_ds_x")
    // an unregistered written layout, and a CTAS killed before its
    // table registered: on disk, unknown to the catalog
    val strays = Seq("graft_ds_semidx/centroids", "graft_ds_y/_temporary/0")
      .map(new org.apache.hadoop.fs.Path(wh, _))
    try {
      (doomed ++ kept).foreach { t =>
        TestSpark.resetTable(spark, t)
        spark.range(3).write.saveAsTable(t)
      }
      strays.foreach(d => fs.create(new org.apache.hadoop.fs.Path(d, "part-0")).close())
      Dedup.dropState(spark, "graft_ds")
      doomed.foreach(t => assert(!spark.catalog.tableExists(t), t))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(wh, "graft_ds_semidx")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(wh, "graft_ds_y")))
      assert(stateLeft("graft_ds_").isEmpty, stateLeft("graft_ds_"))
      kept.foreach { t =>
        assert(spark.catalog.tableExists(t), t)
        assert(spark.table(t).count() == 3, t)
      }
    } finally kept.foreach(TestSpark.resetTable(spark, _))
  }

  test("q_pipeline_ingest_export leaves no state behind and restores the shuffle width") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "5")
      val rows = SparkEntry.queries("q_pipeline_ingest_export")(spark, dir).collect()
      assert(rows.nonEmpty)
      assert(spark.conf.get(key) == "5")
      val prefix = "graft_ingest_export_" + ExtensionQueries.jvmName
      assert(stateLeft(prefix).isEmpty, stateLeft(prefix))
    } finally {
      spark.conf.set(key, prev)
      Dedup.unpersistAll()
    }
  }

  test("withIngestState tears the state down and restores the width when the body throws") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val (wh, fs) = warehouse
    var prefix = ""
    try {
      spark.conf.set(key, "5")
      val e = intercept[IllegalStateException] {
        ExtensionQueries.withIngestState(spark, "graft_scaffold_throw_") { p =>
          prefix = p
          assert(spark.conf.get(key) == "8")
          spark.range(3).write.saveAsTable(s"${p}_dedup")
          fs.mkdirs(new org.apache.hadoop.fs.Path(wh, s"${p}_semidx"))
          assert(stateLeft(p).size == 3, stateLeft(p)) // table, its dir, the index dir
          throw new IllegalStateException("ingest failed")
        }
      }
      assert(e.getMessage == "ingest failed")
      assert(prefix.startsWith("graft_scaffold_throw_"))
      assert(spark.conf.get(key) == "5")
      assert(stateLeft(prefix).isEmpty, stateLeft(prefix))
    } finally spark.conf.set(key, prev)
  }
}
