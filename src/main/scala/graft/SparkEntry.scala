package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DiffSql, DiffSummary, TableDiff, DiffOptions}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry ends in a deterministic total ORDER BY (cheap
  * at verify scale; eliminated under `count()` by Catalyst's
  * EliminateSorts when benching) and every float aggregate is computed
  * in DECIMAL then cast to DOUBLE, so the DuckDB oracle hashes
  * identically regardless of partial-aggregation order.
  */
object SparkEntry {

  // ---- shared column lists (testdata schemas, FIXTURES.md §B) ----
  private val lineitemCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")
  private val ordersCols = Seq(
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")

  private val lineitemDiffSql: String = DiffSql.generate(
    beforeBody = "SELECT * FROM lineitem",
    afterBody = Tables.lineitemAfterSql,
    keys = Seq("l_orderkey", "l_linenumber"),
    beforeCols = lineitemCols,
    afterCols = lineitemCols :+ "extra_col",
    paddedTypes = Map("extra_col" -> "DOUBLE"))

  /** O2 oracle twin of q_diff_filtered: identical predicates pushed
    * into the CTE bodies, exactly where the reference's Jinja template
    * injects them (full_compare.sql.j2:14-15,19-20).
    */
  private val lineitemFilteredDiffSql: String = DiffSql.generate(
    beforeBody =
      "SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'",
    afterBody =
      s"""SELECT * FROM (
         |${Tables.lineitemAfterSql}
         |) t WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00' AND l_discount <= 0.08""".stripMargin,
    keys = Seq("l_orderkey", "l_linenumber"),
    beforeCols = lineitemCols,
    afterCols = lineitemCols :+ "extra_col",
    paddedTypes = Map("extra_col" -> "DOUBLE"))

  private val ordersDiffSql: String = DiffSql.generate(
    beforeBody = "SELECT * FROM orders",
    afterBody = Tables.ordersAfterSql,
    keys = Seq("o_orderkey"),
    beforeCols = ordersCols,
    afterCols = ordersCols)

  /** Orders fixture with every 971st key nulled (both sides) — the
    * NULL-key skew scenario the side channel exists for. The SQL twin
    * nulls the same keys so the generated diff (null-safe
    * IS NOT DISTINCT FROM joins) is the oracle for the side-channel
    * plan.
    */
  private def nullKeyedOrdersBody(body: String): String =
    s"""SELECT CASE WHEN o_orderkey % 971 = 0 THEN NULL ELSE o_orderkey END AS o_orderkey,
       |  o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
       |FROM ($body)""".stripMargin

  private val nullKeyDiffSql: String = DiffSql.generate(
    beforeBody = nullKeyedOrdersBody("SELECT * FROM orders"),
    afterBody = nullKeyedOrdersBody(Tables.ordersAfterSql),
    keys = Seq("o_orderkey"),
    beforeCols = ordersCols,
    afterCols = ordersCols)

  /** Duplicate-key collapsed twin of [[lineitemDiffSql]] — the
    * synthetic lineitem genuinely duplicates (l_orderkey,
    * l_linenumber) (TESTDATA.md), the very fixture SkewBench measures:
    * reference semantics fan each duplicated key out b×a, the
    * collapsed mode emits one row per key (MIN representative +
    * multiplicity columns). The emitted SQL IS the mode's contract,
    * run verbatim by the DuckDB oracle.
    */
  private val lineitemDupkeysDiffSql: String = DiffSql.generate(
    beforeBody = "SELECT * FROM lineitem",
    afterBody = Tables.lineitemAfterSql,
    keys = Seq("l_orderkey", "l_linenumber"),
    beforeCols = lineitemCols,
    afterCols = lineitemCols :+ "extra_col",
    paddedTypes = Map("extra_col" -> "DOUBLE"),
    dedupDuplicateKeys = true)

  /** ARRAY-column diff twin (q_diff_arrays): the embeddings table
    * (ARRAY<FLOAT>) through the planted before/after fixture
    * (Tables.embeddingsBefore/After — null elements, empty arrays,
    * length mismatches, whole-array NULLs, missing rows). The
    * embedding column's value branch is spelled IS NOT DISTINCT FROM
    * (structuralEqCols): ANSI `=` on a null-element array returns
    * NULL and would mis-code an equal pair as status 1, while
    * Spark's array `=` is structural — DuckDB's DISTINCT-semantics
    * comparison matches Spark exactly (see DiffSql scaladoc).
    */
  /** Toleranced numeric diff twin (q_diff_tolerance): o_totalprice
    * with planted nudges — %23 NULLed, %7 rows +5.0 (beyond the 0.01
    * tolerance → status 1), %11 rows +0.005 (within → status 0; the
    * CASE order resolves the %77 overlap identically in both
    * engines), %29 rows dropped. The bodies are dialect-neutral, so
    * ONE string pair feeds Spark's temp-view build and the oracle;
    * the generated SQL spells the identical ABS-double predicate
    * ([[DiffSql.generate]] absTolCols).
    */
  private val tolBeforeSql = "SELECT o_orderkey, o_totalprice FROM orders"
  private val tolAfterSql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 23 = 0 THEN CAST(NULL AS DOUBLE)
      |       WHEN o_orderkey % 7 = 0 THEN o_totalprice + 5.0
      |       WHEN o_orderkey % 11 = 0 THEN o_totalprice + 0.005
      |       ELSE o_totalprice END AS o_totalprice
      |FROM orders WHERE o_orderkey % 29 <> 0""".stripMargin
  private val toleranceDiffSql: String = DiffSql.generate(
    beforeBody = tolBeforeSql,
    afterBody = tolAfterSql,
    keys = Seq("o_orderkey"),
    beforeCols = Seq("o_orderkey", "o_totalprice"),
    afterCols = Seq("o_orderkey", "o_totalprice"),
    numericAbsTol = Some(0.01),
    // o_orderkey (BIGINT) stays on exact `=` — integer-family columns
    // left the tolerance in r13 (ADVICE: double-casting exact operands
    // collapses beyond 2^53); only the DOUBLE column is toleranced
    absTolCols = Set("o_totalprice"))

  private val embeddingsCols = Seq("vec_id", "embedding", "label")

  private val arraysDiffSql: String = DiffSql.generate(
    beforeBody = Tables.embeddingsBeforeSql,
    afterBody = Tables.embeddingsAfterSql,
    keys = Seq("vec_id"),
    beforeCols = embeddingsCols,
    afterCols = embeddingsCols,
    structuralEqCols = Set("embedding"))

  /** MAP-column diff twin (q_diff_maps): an attrs MAP<STRING,DOUBLE>
    * derived from orders, with the full planted matrix — value
    * changed, key added, whole-map NULL per side, and the decisive
    * case: ENTRY ORDER REVERSED with equal content, which must read
    * status 0 (the canonicalized entry-sort equality; engine-native
    * map `=` is order-sensitive in DuckDB and absent in Spark).
    * Both bodies are kept textually parallel below; the planted
    * moduli are disjoint from the orders fixture's (53/47/43).
    */
  private val mapsBeforeSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 23 = 0 THEN CAST(NULL AS MAP(VARCHAR, DOUBLE))
      |       ELSE MAP(['price', 'disc'], [o_totalprice, CAST(o_orderkey % 7 AS DOUBLE)])
      |  END AS attrs
      |FROM orders""".stripMargin

  private val mapsAfterSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 17 = 0 THEN CAST(NULL AS MAP(VARCHAR, DOUBLE))
      |       WHEN o_orderkey % 11 = 0 THEN MAP(['price', 'disc'], [o_totalprice + 1.0, CAST(o_orderkey % 7 AS DOUBLE)])
      |       WHEN o_orderkey % 13 = 0 THEN MAP(['price', 'disc', 'extra'], [o_totalprice, CAST(o_orderkey % 7 AS DOUBLE), 1.0])
      |       WHEN o_orderkey % 19 = 0 THEN MAP(['disc', 'price'], [CAST(o_orderkey % 7 AS DOUBLE), o_totalprice])
      |       ELSE MAP(['price', 'disc'], [o_totalprice, CAST(o_orderkey % 7 AS DOUBLE)])
      |  END AS attrs
      |FROM orders WHERE o_orderkey % 29 <> 0
      |UNION ALL
      |SELECT -o_orderkey, MAP(['price', 'disc'], [o_totalprice, CAST(o_orderkey % 7 AS DOUBLE)])
      |FROM orders WHERE o_orderkey % 31 = 0""".stripMargin

  private val mapsDiffSql: String = DiffSql.generate(
    beforeBody = mapsBeforeSql,
    afterBody = mapsAfterSql,
    keys = Seq("o_orderkey"),
    beforeCols = Seq("o_orderkey", "attrs"),
    afterCols = Seq("o_orderkey", "attrs"),
    mapEntryEqCols = Set("attrs"))

  /** STRUCT-column diff twin (q_diff_structs) — closes the nested-type
    * family (arrays, maps, structs). Same cross-engine seam as arrays:
    * Spark's struct `=` is structural (equal null FIELDS → TRUE) while
    * ANSI `=` returns NULL, so the struct column rides
    * structuralEqCols' IS NOT DISTINCT FROM spelling. The %23 rows
    * plant an equal null-field pair on BOTH sides — the cell that
    * would mis-code 1 under ANSI `=`.
    */
  private val structsBeforeSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 37 = 0 THEN NULL
      |       WHEN o_orderkey % 23 = 0 THEN {'price': o_totalprice, 'prio': CAST(NULL AS VARCHAR)}
      |       ELSE {'price': o_totalprice, 'prio': o_orderpriority}
      |  END AS info
      |FROM orders""".stripMargin

  private val structsAfterSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 17 = 0 THEN NULL
      |       WHEN o_orderkey % 23 = 0 THEN {'price': o_totalprice, 'prio': CAST(NULL AS VARCHAR)}
      |       WHEN o_orderkey % 11 = 0 THEN {'price': o_totalprice + 1.0, 'prio': o_orderpriority}
      |       WHEN o_orderkey % 13 = 0 THEN {'price': o_totalprice, 'prio': CAST(NULL AS VARCHAR)}
      |       ELSE {'price': o_totalprice, 'prio': o_orderpriority}
      |  END AS info
      |FROM orders WHERE o_orderkey % 29 <> 0
      |UNION ALL
      |SELECT -o_orderkey, {'price': o_totalprice, 'prio': o_orderpriority}
      |FROM orders WHERE o_orderkey % 31 = 0""".stripMargin

  private val structsDiffSql: String = DiffSql.generate(
    beforeBody = structsBeforeSql,
    afterBody = structsAfterSql,
    keys = Seq("o_orderkey"),
    beforeCols = Seq("o_orderkey", "info"),
    afterCols = Seq("o_orderkey", "info"),
    structuralEqCols = Set("info"))

  /** Type-evolution diff twin (q_diff_typechange, r13): the SAME
    * column on both sides with DIFFERENT types — the single most
    * common migration change, which the reference leaves to the
    * warehouse's implicit coercion (full_compare.sql.j2:82). The
    * engine pins an explicit widened comparison type instead
    * ([[graft.operators.SchemaUtils.widen]]), and the oracle spells
    * the IDENTICAL casts (castTypes), so neither engine's coercion
    * ever decides a status cell. Planted type changes:
    *
    *   - `o_orderkey` INT → BIGINT (the KEY itself type-changes:
    *     exercises the key-universe cast + widened K_ echo);
    *   - `price_dec` DECIMAL(15,2) → DECIMAL(18,4), with %11 rows
    *     drifted +0.0001 — representable ONLY at scale 4, the cell
    *     a scale-2 comparison would miss — and %7 rows +1.0;
    *   - `cust_str` INT → STRING, compared TEXTUALLY: %13 rows are
    *     zero-padded ('0123' vs 123 → status 1, where numeric
    *     coercion would read 0 — the decisive direction pin), %23
    *     rows NULL;
    *   - `event_day` DATE → TIMESTAMP(_NTZ), dates compare at
    *     midnight: %17 rows +10h → status 1, the rest midnight →
    *     status 0.
    *
    * The after-body is one template instantiated per dialect — the
    * ONLY divergent token is the NTZ timestamp's type name (Spark
    * `TIMESTAMP_NTZ`, DuckDB's native `TIMESTAMP`).
    */
  private val typechangeBeforeSql: String =
    """SELECT CAST(o_orderkey AS INTEGER) AS o_orderkey,
      |  CAST(o_totalprice AS DECIMAL(15,2)) AS price_dec,
      |  CAST(o_custkey AS INTEGER) AS cust_str,
      |  CAST(o_orderdate AS DATE) AS event_day
      |FROM orders""".stripMargin

  private def typechangeAfterSql(ts: String): String =
    s"""SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       |  CAST(CASE WHEN o_orderkey % 7 = 0 THEN CAST(o_totalprice AS DECIMAL(15,2)) + 1.0
       |            WHEN o_orderkey % 11 = 0 THEN CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS DECIMAL(18,4)) + 0.0001
       |            ELSE CAST(o_totalprice AS DECIMAL(15,2)) END AS DECIMAL(18,4)) AS price_dec,
       |  CASE WHEN o_orderkey % 23 = 0 THEN CAST(NULL AS STRING)
       |       WHEN o_orderkey % 13 = 0 THEN concat('0', CAST(o_custkey AS STRING))
       |       ELSE CAST(o_custkey AS STRING) END AS cust_str,
       |  CASE WHEN o_orderkey % 17 = 0 THEN CAST(CAST(o_orderdate AS DATE) AS $ts) + INTERVAL '10' HOUR
       |       ELSE CAST(CAST(o_orderdate AS DATE) AS $ts) END AS event_day
       |FROM orders WHERE o_orderkey % 29 <> 0
       |UNION ALL
       |SELECT CAST(-o_orderkey AS BIGINT),
       |  CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS DECIMAL(18,4)),
       |  CAST(o_custkey AS STRING),
       |  CAST(CAST(o_orderdate AS DATE) AS $ts)
       |FROM orders WHERE o_orderkey % 31 = 0""".stripMargin

  private val typechangeCols = Seq("o_orderkey", "price_dec", "cust_str", "event_day")

  private val typechangeDiffSql: String = DiffSql.generate(
    beforeBody = typechangeBeforeSql,
    afterBody = typechangeAfterSql("TIMESTAMP"),
    keys = Seq("o_orderkey"),
    beforeCols = typechangeCols,
    afterCols = typechangeCols,
    castTypes = Map(
      "o_orderkey" -> "BIGINT",
      "price_dec" -> "DECIMAL(18,4)",
      "cust_str" -> "STRING",
      "event_day" -> "TIMESTAMP"))

  /** Legacy `_row_status = 0` twin of [[ordersDiffSql]] — the
    * reference's own version-skew trap (SURVEY §0 trap 1: README.md:189
    * and samples/setup_all.sql:80 count matches with `= 0`, the live
    * template emits NULL — tests/test_diffgen.py:56).
    */
  private val ordersLegacyDiffSql: String = DiffSql.generate(
    beforeBody = "SELECT * FROM orders",
    afterBody = Tables.ordersAfterSql,
    keys = Seq("o_orderkey"),
    beforeCols = ordersCols,
    afterCols = ordersCols,
    legacyRowStatusZero = true)

  /** Upper-cased twin of [[ordersDiffSql]] — diffgen.py:73 upper-cases
    * every column name for Snowflake; DuckDB resolves the references
    * case-insensitively while preserving alias case in the output.
    */
  private val ordersUpperDiffSql: String = DiffSql.generate(
    beforeBody = "SELECT * FROM orders",
    afterBody = Tables.ordersAfterSql,
    keys = Seq("O_ORDERKEY"),
    beforeCols = ordersCols.map(_.toUpperCase),
    afterCols = ordersCols.map(_.toUpperCase))

  private def decodeSql(c: String): String =
    s"""CASE WHEN $c IS NULL THEN 'PRESENT_BOTH'
       | WHEN $c = 0 THEN 'MATCH'
       | WHEN $c = 1 THEN 'DIFFERENT'
       | WHEN $c = 2 THEN 'NULL_IN_BEFORE_ONLY'
       | WHEN $c = 3 THEN 'NULL_IN_AFTER_ONLY'
       | WHEN $c = 4 THEN 'MISSING_IN_BEFORE'
       | WHEN $c = 5 THEN 'MISSING_IN_AFTER'
       | ELSE 'UNKNOWN' END""".stripMargin.replaceAll("\n", "")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full diff pipeline, drilled down to the rows that differ.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val d = TableDiff.diff(
      Tables.lineitem(spark, dir),
      Tables.lineitemAfter(spark, dir),
      Seq("l_orderkey", "l_linenumber"))
    DiffSummary.differingRows(d)
  }

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * training-data-pipeline extensions in [[ExtensionQueries]].
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ ExtensionQueries.queries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- core diff pipeline (SURVEY §2.1 O1–O10) ----
    "q_diff_lineitem" -> ((s, dir) => {
      TableDiff
        .diff(
          Tables.lineitem(s, dir),
          Tables.lineitemAfter(s, dir),
          Seq("l_orderkey", "l_linenumber"))
        .orderBy("K_l_orderkey", "K_l_linenumber")
    }),
    "q_diff_orders_literal" -> ((s, dir) => {
      // reference's literal 3-node plan (union-distinct keys + 2 left joins)
      TableDiff
        .diff(
          Tables.orders(s, dir),
          Tables.ordersAfter(s, dir),
          Seq("o_orderkey"),
          opts = DiffOptions(literalPlan = true))
        .orderBy("K_o_orderkey")
    }),
    "q_diff_summary" -> ((s, dir) => {
      DiffSummary.summary(
        TableDiff.diff(
          Tables.lineitem(s, dir),
          Tables.lineitemAfter(s, dir),
          Seq("l_orderkey", "l_linenumber")))
    }),
    "q_status_decode" -> ((s, dir) => {
      val d = TableDiff.diff(
        Tables.orders(s, dir),
        Tables.ordersAfter(s, dir),
        Seq("o_orderkey"))
      d.select(
        col("K_o_orderkey"),
        DiffSummary.decodeStatus(col(TableDiff.RowStatus)).as("row_label"),
        DiffSummary.decodeStatus(col("o_totalprice")).as("price_label"),
        DiffSummary.decodeStatus(col("o_orderpriority")).as("priority_label"))
        .orderBy("K_o_orderkey")
    }),
    "q_sidebyside_unionall" -> ((s, dir) => {
      DiffSummary
        .sideBySide(
          Tables.lineitem(s, dir),
          Tables.lineitemAfter(s, dir))
        .orderBy("source", "l_orderkey", "l_linenumber")
    }),
    "q_diff_ctas" -> ((s, dir) => {
      // O10 materialized sink: the reference's one output IS a
      // persisted diff_result table (full_compare.sql.j2:10 CTAS).
      // Write the diff, then answer from the materialization — the
      // hash compare therefore verifies the write+read round trip,
      // not just the plan.
      val d = TableDiff.diff(
        Tables.orders(s, dir),
        Tables.ordersAfter(s, dir),
        Seq("o_orderkey"))
      // per-JVM unique target: a fixed shared tmp path would let two
      // harness processes overwrite each other's part files mid-scan
      d.write.mode("overwrite").parquet(ctasPath)
      s.read.parquet(ctasPath).orderBy("K_o_orderkey")
    }),
    "q_diff_bucketed" -> ((s, dir) => {
      // the recurring-diff posture at 100 TB: both snapshots written
      // bucketed by the business key → the full-outer join reads
      // co-located buckets with ZERO shuffle exchanges (only the
      // deterministic ORDER BY exchanges; pinned in PlanSpec).
      // keysNotNull is required: Spark rewrites null-safe `<=>` keys
      // to coalesce/isnull forms no bucketed layout can satisfy.
      val bTbl = "graft_bucketed_orders_before"
      val aTbl = "graft_bucketed_orders_after"
      Seq(bTbl, aTbl).foreach(Dedup.dropState(s, _))
      Tables.orders(s, dir).write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(bTbl)
      Tables.ordersAfter(s, dir).write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(aTbl)
      TableDiff
        .diff(
          s.table(bTbl), s.table(aTbl), Seq("o_orderkey"),
          opts = DiffOptions(keysNotNull = true))
        .orderBy("K_o_orderkey")
    }),
    "q_diff_nullkeys" -> ((s, dir) => {
      // NULL-key skew side channel end-to-end: every 971st key nulled
      // on both sides, diffed with nullKeySideChannel — NULL-keyed
      // rows route around the main join's hot partitions through a
      // small separate diff, null-safe pairing + the reference's
      // poisoned _row_status preserved (oracled against the generated
      // null-safe SQL in DuckDB)
      def nullify(df: DataFrame): DataFrame = df.withColumn(
        "o_orderkey",
        when(col("o_orderkey") % 971 === 0, lit(null).cast("long"))
          .otherwise(col("o_orderkey")))
      TableDiff
        .diff(
          nullify(Tables.orders(s, dir)),
          nullify(Tables.ordersAfter(s, dir)),
          Seq("o_orderkey"),
          opts = graft.operators.DiffOptions(nullKeySideChannel = true))
        .orderBy("K_o_orderkey")
    }),
    "q_diff_dupkeys" -> ((s, dir) => {
      // duplicate-business-key fast path end-to-end: lineitem's
      // (l_orderkey, l_linenumber) is genuinely non-unique, so the
      // reference-semantics join fans those keys out b×a (the
      // SkewBench-measured skew killer); dedupDuplicateKeys collapses
      // each side to one MIN-representative row per key first and
      // carries the per-side multiplicity through (_dup_before /
      // _dup_after / _dup_status)
      TableDiff
        .diff(
          Tables.lineitem(s, dir),
          Tables.lineitemAfter(s, dir),
          Seq("l_orderkey", "l_linenumber"),
          opts = DiffOptions(dedupDuplicateKeys = true))
        .orderBy("K_l_orderkey", "K_l_linenumber")
    }),
    "q_diff_tolerance" -> ((s, dir) => {
      // toleranced numeric diff (DiffOptions.numericAbsTol): |b−a| ≤
      // 0.01 reads as equal — the feature-table ask, where re-derived
      // floats drift in trailing digits without being different. The
      // planted +0.005 rows must read 0 and the +5.0 rows 1; the
      // oracle is the generated SQL with the same double predicate
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      TableDiff
        .diff(
          s.sql(tolBeforeSql), s.sql(tolAfterSql), Seq("o_orderkey"),
          opts = DiffOptions(numericAbsTol = Some(0.01)))
        .orderBy("K_o_orderkey")
    }),
    "q_diff_typechange" -> ((s, dir) => {
      // type-evolution diff (r13): INT→BIGINT key, DECIMAL(15,2)→
      // (18,4), INT→STRING (textual pin: '0123' ≠ 123), DATE→
      // TIMESTAMP_NTZ — each compared under the EXPLICIT widened type
      // (SchemaUtils.widen); the oracle spells the identical casts,
      // so neither engine's implicit coercion decides a cell
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      TableDiff
        .diff(
          s.sql(typechangeBeforeSql),
          s.sql(typechangeAfterSql("TIMESTAMP_NTZ")),
          Seq("o_orderkey"))
        .orderBy("K_o_orderkey")
    }),
    "q_schema_drift" -> ((s, dir) => {
      // first-class schema-drift report (r13): columns added/dropped/
      // type-changed (+ the widened comparison type a diff would use,
      // NULL for the incompatible pair the diff fails fast on) — pure
      // schema computation, NO data scan: costs the same at 100 TB
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      val before = s.sql(
        """SELECT CAST(o_orderkey AS INTEGER) AS o_orderkey,
          |  CAST(o_totalprice AS DECIMAL(15,2)) AS price_dec,
          |  CAST(o_custkey AS INTEGER) AS cust_str,
          |  CAST(o_orderdate AS DATE) AS event_day,
          |  o_orderpriority AS legacy_col,
          |  array(CAST(1 AS INT)) AS blob
          |FROM orders""".stripMargin)
      val after = s.sql(
        """SELECT o_orderkey,
          |  CAST(o_totalprice AS DECIMAL(18,4)) AS price_dec,
          |  CAST(o_custkey AS STRING) AS cust_str,
          |  CAST(o_orderdate AS TIMESTAMP_NTZ) AS event_day,
          |  o_orderstatus AS new_col,
          |  CAST(NULL AS DOUBLE) AS blob
          |FROM orders""".stripMargin)
      graft.operators.DiffSummary.schemaDrift(before, after).orderBy("column")
    }),
    "q_diff_arrays" -> ((s, dir) => {
      // the one type family the diff engine had never touched: an
      // ARRAY<FLOAT> column, with null elements / empty arrays /
      // length mismatches / whole-array NULLs planted on the real
      // embeddings table. Spark's array `=` is structural; the
      // oracle's IS NOT DISTINCT FROM spelling pins the cross-engine
      // agreement (DiffSql.structuralEqCols).
      TableDiff
        .diff(
          Tables.embeddingsBefore(s, dir),
          Tables.embeddingsAfter(s, dir),
          Seq("vec_id"))
        .orderBy("K_vec_id")
    }),
    "q_diff_maps" -> ((s, dir) => {
      // MAP<STRING,DOUBLE> column through the diff: equality is the
      // canonicalized entry-sort (order-insensitive) — the planted
      // %19 rows build the SAME map in reversed entry order and must
      // read status 0; Spark has no native map '=' at all
      def mk(body: String): DataFrame = {
        // Spark dialect of the shared fixture bodies: map(...) literal
        // syntax differs from DuckDB's MAP([k],[v]) — the CASE/plant
        // structure is identical
        val o = Tables.orders(s, dir)
        o.createOrReplaceTempView("graft_maps_orders")
        s.sql(body.replace("FROM orders", "FROM graft_maps_orders"))
      }
      val before = mk(
        """SELECT o_orderkey,
          |  CASE WHEN o_orderkey % 23 = 0 THEN CAST(NULL AS MAP<STRING,DOUBLE>)
          |       ELSE map('price', o_totalprice, 'disc', CAST(o_orderkey % 7 AS DOUBLE))
          |  END AS attrs
          |FROM orders""".stripMargin)
      val after = mk(
        """SELECT o_orderkey,
          |  CASE WHEN o_orderkey % 17 = 0 THEN CAST(NULL AS MAP<STRING,DOUBLE>)
          |       WHEN o_orderkey % 11 = 0 THEN map('price', o_totalprice + 1.0, 'disc', CAST(o_orderkey % 7 AS DOUBLE))
          |       WHEN o_orderkey % 13 = 0 THEN map('price', o_totalprice, 'disc', CAST(o_orderkey % 7 AS DOUBLE), 'extra', 1.0)
          |       WHEN o_orderkey % 19 = 0 THEN map('disc', CAST(o_orderkey % 7 AS DOUBLE), 'price', o_totalprice)
          |       ELSE map('price', o_totalprice, 'disc', CAST(o_orderkey % 7 AS DOUBLE))
          |  END AS attrs
          |FROM orders WHERE o_orderkey % 29 <> 0
          |UNION ALL
          |SELECT -o_orderkey, map('price', o_totalprice, 'disc', CAST(o_orderkey % 7 AS DOUBLE))
          |FROM orders WHERE o_orderkey % 31 = 0""".stripMargin)
      TableDiff.diff(before, after, Seq("o_orderkey")).orderBy("K_o_orderkey")
    }),
    "q_diff_structs" -> ((s, dir) => {
      // STRUCT column through the diff: Spark's struct '=' is
      // structural (the %23 equal-null-FIELD pairs read 0); the
      // oracle's IS NOT DISTINCT FROM spelling (structuralEqCols)
      // pins the ANSI engine to the same semantics
      val o = Tables.orders(s, dir)
      o.createOrReplaceTempView("graft_structs_orders")
      def mk(body: String): DataFrame =
        s.sql(body.replace("FROM orders", "FROM graft_structs_orders"))
      val before = mk(
        """SELECT o_orderkey,
          |  CASE WHEN o_orderkey % 37 = 0 THEN NULL
          |       WHEN o_orderkey % 23 = 0 THEN named_struct('price', o_totalprice, 'prio', CAST(NULL AS STRING))
          |       ELSE named_struct('price', o_totalprice, 'prio', o_orderpriority)
          |  END AS info
          |FROM orders""".stripMargin)
      val after = mk(
        """SELECT o_orderkey,
          |  CASE WHEN o_orderkey % 17 = 0 THEN NULL
          |       WHEN o_orderkey % 23 = 0 THEN named_struct('price', o_totalprice, 'prio', CAST(NULL AS STRING))
          |       WHEN o_orderkey % 11 = 0 THEN named_struct('price', o_totalprice + 1.0, 'prio', o_orderpriority)
          |       WHEN o_orderkey % 13 = 0 THEN named_struct('price', o_totalprice, 'prio', CAST(NULL AS STRING))
          |       ELSE named_struct('price', o_totalprice, 'prio', o_orderpriority)
          |  END AS info
          |FROM orders WHERE o_orderkey % 29 <> 0
          |UNION ALL
          |SELECT -o_orderkey, named_struct('price', o_totalprice, 'prio', o_orderpriority)
          |FROM orders WHERE o_orderkey % 31 = 0""".stripMargin)
      TableDiff.diff(before, after, Seq("o_orderkey")).orderBy("K_o_orderkey")
    }),
    "q_diff_filtered" -> ((s, dir) => {
      // O2: per-side WHERE predicates — the reference's only
      // query-surface knob besides keys (full_compare.sql.j2:14-15,
      // 19-20; CLI diffgen.py:56-57). Opaque SQL strings parsed by
      // Catalyst; deliberately DIFFERENT per side so the asymmetric
      // filter shows up as missing-row statuses, the snapshot-diff
      // situation the knob exists for.
      TableDiff
        .diff(
          Tables.lineitem(s, dir),
          Tables.lineitemAfter(s, dir),
          Seq("l_orderkey", "l_linenumber"),
          beforeWhere = Some("l_shipdate < TIMESTAMP_NTZ '1997-01-01 00:00:00'"),
          afterWhere = Some(
            "l_shipdate < TIMESTAMP_NTZ '1997-01-01 00:00:00' AND l_discount <= 0.08"))
        .orderBy("K_l_orderkey", "K_l_linenumber")
    }),
    "q_diff_legacy" -> ((s, dir) => {
      // O7 legacy convention end-to-end: present-both rows carry
      // _row_status = 0 instead of NULL — the hash pins the 0s on
      // every matched row, not just aggregate counts
      TableDiff
        .diff(
          Tables.orders(s, dir),
          Tables.ordersAfter(s, dir),
          Seq("o_orderkey"),
          opts = DiffOptions(legacyRowStatusZero = true))
        .orderBy("K_o_orderkey")
    }),
    "q_diff_legacy_summary" -> ((s, dir) => {
      // V1 in legacy mode: the README.md:186-193 summary counts
      // matches with `= 0`, which only works against a legacy diff —
      // this is the pairing users of the docs actually run
      DiffSummary.summary(
        TableDiff.diff(
          Tables.orders(s, dir),
          Tables.ordersAfter(s, dir),
          Seq("o_orderkey"),
          opts = DiffOptions(legacyRowStatusZero = true)),
        legacy = true)
    }),
    "q_diff_uppercase" -> ((s, dir) => {
      // compat mode for the reference's Snowflake casing
      // (diffgen.py:73): every column name upper-cased before the
      // diff; key echo + status matrix come out upper-cased too
      TableDiff
        .diff(
          Tables.orders(s, dir),
          Tables.ordersAfter(s, dir),
          Seq("o_orderkey"),
          opts = DiffOptions(upperCase = true))
        .orderBy("K_O_ORDERKEY")
    }),
    "q_ddl_lifecycle" -> ((s, dir) => {
      // V7+V8+G1/G2 as ONE oracled round trip: CREATE a managed table,
      // INSERT two disjoint slices (second proves INSERT appends),
      // DESCRIBE the live table into the reference's schema-CSV
      // download format, re-load that text through the G1 CSV loader,
      // and answer from the loaded schema × the table's row count —
      // every value in the result passed through the full lifecycle.
      val tbl = "graft_lifecycle_orders"
      Dedup.dropState(s, tbl)
      s.sql(
        s"""CREATE TABLE $tbl
           |(o_orderkey BIGINT, o_custkey BIGINT, o_orderpriority STRING)
           |USING parquet""".stripMargin)
      def slice(m: Int) = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 10 === m)
        .select("o_orderkey", "o_custkey", "o_orderpriority")
      slice(0).write.insertInto(tbl)
      slice(1).write.insertInto(tbl)
      val csvPath = java.nio.file.Files.createTempFile("graft_describe_", ".csv")
      java.nio.file.Files.writeString(
        csvPath, graft.cli.DiffGen.describeCsv(s.table(tbl).schema))
      val loaded =
        try graft.cli.DiffGen.loadSchemaCsv(csvPath.toString)
        finally java.nio.file.Files.deleteIfExists(csvPath)
      import s.implicits._
      loaded
        .map { case (n, t) => (n, graft.cli.DiffGen.typeClass(t)) }
        .toDF("col_name", "type_class")
        .crossJoin(broadcast(s.table(tbl).agg(count(lit(1)).as("n_rows"))))
        .orderBy("col_name")
    }),
    "q_diff_statuses_map" -> ((s, dir) => {
      // wide-schema escape hatch: ONE MAP column instead of a status
      // column per union column; presented as parallel sorted arrays
      // because the driver's comparator stringifies via DuckDB, whose
      // MAP rendering differs from parquet's
      val d = TableDiff.diff(
        Tables.lineitem(s, dir),
        Tables.lineitemAfter(s, dir),
        Seq("l_orderkey", "l_linenumber"),
        opts = DiffOptions(statusesAsMap = true))
      // scalarized (array_join) so every output column is sortable by
      // the driver's pandas comparator — arrays hash fine but can't be
      // lexsorted (CORRECTNESS_r04: unhashable numpy.ndarray)
      d.select(
        col(TableDiff.RowStatus),
        col("K_l_orderkey"),
        col("K_l_linenumber"),
        array_join(map_keys(col("statuses")), ",").as("status_cols"),
        array_join(map_values(col("statuses")).cast("array<string>"), ",")
          .as("status_vals"))
        .orderBy("K_l_orderkey", "K_l_linenumber")
    }),

    // ---- relational building blocks (SURVEY §2.1/2.2) ----
    "q_scan_filter" -> ((s, dir) => {
      Tables
        .lineitem(s, dir)
        .filter(
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
            col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q_union_distinct" -> ((s, dir) => {
      Tables
        .customer(s, dir)
        .select(col("c_custkey").as("custkey"))
        .union(Tables.orders(s, dir).select(col("o_custkey").as("custkey")))
        .distinct()
        .orderBy("custkey")
    }),
    "q_nullsafe_join" -> ((s, dir) => {
      val t1 = Tables
        .orders(s, dir)
        .select(
          col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, lit(null).cast("long"))
            .otherwise(col("o_custkey"))
            .as("nck"))
      val t2 = t1.select(col("o_orderkey").as("k2"), col("nck").as("nck2"))
      t1.join(t2, col("o_orderkey") <=> col("k2") && col("nck") <=> col("nck2"))
        .select("o_orderkey", "nck")
        .orderBy("o_orderkey")
    }),
    "q_orderby_topn" -> ((s, dir) => {
      Tables
        .orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(100)
    }),
    "q_agg_pricing" -> ((s, dir) => {
      Tables
        .lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q_join_agg_nation" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      val n = Tables.nation(s, dir)
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("n_name")
    }),

    "q_salted_agg" -> ((s, dir) => {
      // two-stage salted aggregation (hot-key mitigation); result ≡
      // plain GROUP BY, which is exactly what the oracle runs
      graft.operators.SkewUtils
        .saltedSumCount(
          Tables.events(s, dir),
          Seq("user_id"),
          col("value").cast("decimal(18,4)"),
          salts = 16)
        .select(
          col("user_id"),
          col("sum_value").cast("double").as("sum_value"),
          col("n_rows"))
        .orderBy("user_id")
    }),
    "q_cube" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"))
        .orderBy(
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),
    "q_unpivot" -> ((s, dir) => {
      // melt the pricing summary's metric columns into rows
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("sum_base_price"),
          count(lit(1)).cast("double").as("count_order"))
        .selectExpr(
          "l_returnflag", "l_linestatus",
          """stack(3,
             |  'sum_qty', sum_qty,
             |  'sum_base_price', sum_base_price,
             |  'count_order', count_order) AS (metric, metric_value)""".stripMargin)
        .orderBy("l_returnflag", "l_linestatus", "metric")
    }),
    "q_percentiles" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("p50"),
          expr("percentile(l_extendedprice, 0.9)").as("p90"),
          expr("percentile(l_extendedprice, 0.99)").as("p99"))
        .orderBy("l_returnflag")
    }),
    "q_grouping_sets" -> ((s, dir) => {
      // non-hierarchical grouping sets — the case neither ROLLUP nor
      // CUBE can express: totals per returnflag AND per linestatus in
      // one scan (one shuffle of partial aggregates per set)
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"))
        .orderBy(
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),
    "q_pivot" -> ((s, dir) => {
      // wide pivot (inverse of q_unpivot's melt) with an explicit
      // value list: Spark plans it as ONE conditional aggregation
      // pass, no per-value scans; explicit values keep the output
      // schema static (the dynamic form needs a distinct-values job
      // first and is not what you run at 100 TB)
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
        .orderBy("o_orderpriority")
    }),
    "q_moving_window" -> ((s, dir) => {
      // per-customer order history: 3-order moving average + running
      // total (ROWS frames; DECIMAL internally so the sequential and
      // any tree-evaluated window implementation agree bit-for-bit)
      val w = Window
        .partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, dir)
        .select(
          col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          (sum(col("o_totalprice").cast("decimal(18,2)"))
            .over(w.rowsBetween(-2, Window.currentRow)).cast("double") /
            count(lit(1)).over(w.rowsBetween(-2, Window.currentRow)))
            .as("avg_last3"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    }),
    "q_gapfill_resample" -> ((s, dir) => {
      // time-series resample: hourly spine per event type (sequence +
      // explode — generated, never materialized wide), left join of
      // hourly aggregates, zero-fill counts and forward-fill the last
      // seen hourly average. The spine join broadcasts nothing big:
      // it is |types| × |hours| rows.
      val ev = Tables.events(s, dir)
      val hourly = ev
        .groupBy(
          date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          // mean as double(exact-decimal sum) / count: both engines
          // perform the identical single IEEE division — a native
          // decimal AVG rounds at engine-specific scales
          (sum(col("value").cast("decimal(18,4)")).cast("double") / count(lit(1)))
            .as("avg_value"))
      val bounds = ev.agg(
        date_trunc("hour", min(col("ts"))).as("h0"),
        date_trunc("hour", max(col("ts"))).as("h1"))
      val spine = bounds
        .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
        .crossJoin(ev.select("event_type").distinct())
      val ffill = Window
        .partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine
        .join(hourly, Seq("hour", "event_type"), "left")
        .select(
          col("hour"), col("event_type"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("avg_value"), ignoreNulls = true).over(ffill).as("avg_value_ffill"))
        .orderBy("hour", "event_type")
    }),
    "q_approx_quantile_check" -> ((s, dir) => {
      // approximate quantiles cross-checked in-engine against the
      // exact percentiles (same pattern as q_profile_sketch_drift:
      // the oracle pins the exact values plus a literal-TRUE flag)
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("p50"),
          expr("percentile(l_extendedprice, 0.99)").as("p99"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("a50"),
          expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("a99"))
        .select(
          col("l_returnflag"), col("p50"), col("p99"),
          (abs(col("a50") - col("p50")) / col("p50") <= 0.01 &&
            abs(col("a99") - col("p99")) / col("p99") <= 0.01).as("approx_ok"))
        .orderBy("l_returnflag")
    }),
    "q_sink_partitioned" -> ((s, dir) => {
      // partitioned data layout: write events partitioned by
      // event_type, answer from the materialization with a filter on
      // the partition column — the scan must touch ONE partition
      // directory (partition pruning; pinned in PlanSpec), which is
      // the layout story for recurring per-category scans at 100 TB
      val src = Tables.events(s, dir).select("event_id", "ts", "event_type", "value")
      src.write.mode("overwrite").partitionBy("event_type").parquet(partitionedPath)
      s.read.parquet(partitionedPath)
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .orderBy("hour")
    }),
    "q_sink_json_roundtrip" -> ((s, dir) => {
      // JSON sink/source round trip: write the documents table as
      // JSON lines, read it back with the ORIGINAL schema (schema-on-
      // read), hash against the untouched parquet — proves the
      // text-format path is lossless for this data, including the
      // multi-line/quoted text bodies
      val docs = Tables.documents(s, dir)
      docs.write.mode("overwrite").json(jsonPath)
      s.read.schema(docs.schema).json(jsonPath).orderBy("doc_id")
    }),
    "q_sink_orc_roundtrip" -> ((s, dir) => {
      // ORC sink/source round trip — the other built-in columnar
      // format (different vectorized reader + encoding stack than
      // parquet). Lineitem slice with a timestamp column pins type
      // fidelity through the ORC writer/reader pair.
      val slice = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 7 === 0)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_shipdate")
      slice.write.mode("overwrite").orc(orcPath)
      s.read.orc(orcPath).orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }),
    "q_sink_avro_roundtrip" -> ((s, dir) => {
      // Avro sink/source round trip on the row-oriented exchange
      // format (graft.sources.AvroIO — built on Avro core; Spark's
      // jars do not bundle the spark-avro datasource module). The
      // lineitem slice carries an NTZ timestamp, pinning the
      // local-timestamp-micros logical-type mapping both ways; the
      // disjoint % 5 slice keeps this query's data distinct from the
      // ORC twin's.
      val slice = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 5 === 0)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_shipdate")
      graft.sources.AvroIO.write(slice, avroPath)
      graft.sources.AvroIO.read(s, avroPath, slice.schema)
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }),
    "q_sink_csv_roundtrip" -> ((s, dir) => {
      // CSV sink/source round trip on the nastiest table for the
      // format: document text bodies with embedded commas, quotes,
      // and newlines force the writer's RFC-4180 quoting and the
      // reader's multiLine parser — plus a timestamp column from
      // orders to pin the timestamp text format both ways. Schema-on-
      // read with the ORIGINAL schema, hashed against untouched
      // parquet.
      val docs = Tables.documents(s, dir)
        .join(
          Tables.orders(s, dir).select(
            (col("o_orderkey") % 500).as("doc_id"), col("o_orderdate")),
          Seq("doc_id"), "left")
        .groupBy("doc_id", "text", "lang", "source", "n_chars")
        .agg(max("o_orderdate").as("latest_order"))
      docs.write.mode("overwrite")
        .option("header", "true")
        .csv(csvPath)
      s.read.schema(docs.schema)
        .option("header", "true")
        .option("multiLine", "true")
        .csv(csvPath)
        .orderBy("doc_id")
    }),
    "q_collect_sorted" -> ((s, dir) => {
      // nested-type aggregation: per-customer order-key array.
      // collect_list's arrival order is partial-agg-order-dependent —
      // array_sort makes the result deterministic and cross-engine
      // comparable (same rule as the DECIMAL casts for float sums).
      // The sorted array is emitted as a joined string because the
      // driver's pandas comparator can't lexsort array cells
      // (CORRECTNESS_r04: unhashable numpy.ndarray); sort happens on
      // the numeric array BEFORE the string cast, so "10" vs "2"
      // string ordering never leaks in
      Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(
          array_join(array_sort(collect_list("o_orderkey")).cast("array<string>"), ",")
            .as("order_keys"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_custkey")
    }),
    "q_string_funcs" -> ((s, dir) => {
      // portable string-function surface over the documents table
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("len"),
          upper(substring(col("text"), 1, 12)).as("head_u"),
          lower(substring(col("text"), 1, 12)).as("head_l"),
          reverse(substring(col("text"), 1, 12)).as("head_rev"),
          expr("replace(substr(text, 1, 30), ' ', '_')").as("head_repl"),
          instr(col("text"), "the").cast("long").as("pos_the"),
          concat(col("lang"), lit("/"), col("source")).as("tag"))
        .orderBy("doc_id")
    }),
    "q_math_funcs" -> ((s, dir) => {
      // deterministic math surface: only operations that are
      // IEEE-exact (abs/floor/ceil/sqrt — sqrt is correctly rounded
      // by the standard) or integral — round/ln/exp/pow round
      // differently across libm implementations and cannot hash-match
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 11 === 0)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_disc_delta"),
          floor(col("l_extendedprice")).cast("long").as("price_floor"),
          ceil(col("l_extendedprice")).cast("long").as("price_ceil"),
          sqrt(col("l_quantity")).as("qty_sqrt"),
          signum(col("l_tax") - 0.04).as("tax_sign"),
          (col("l_partkey") % 7).as("part_mod"),
          greatest(col("l_discount"), col("l_tax")).as("max_rate"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q_datetime_funcs" -> ((s, dir) => {
      // portable date/time function surface over the order dates
      Tables.orders(s, dir)
        .filter(col("o_orderkey") % 7 === 0)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          date_add(col("o_orderdate"), 30).as("due_date"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since_95"),
          last_day(col("o_orderdate")).as("month_end"))
        .orderBy("o_orderkey")
    }),
    "q_quantile_sketch_check" -> ((s, dir) => {
      // mergeable DDSketch quantiles (custom TypedImperativeAggregate,
      // graft.functions.QuantileSketch) cross-checked against exact
      // percentiles — same oracle pattern as q_profile_sketch_drift:
      // exact values pinned, dd_ok literal TRUE
      graft.functions.QuantileSketch.register(s)
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("p50"),
          expr("percentile(l_extendedprice, 0.99)").as("p99"),
          expr("dd_quantile(dd_sketch_agg(CAST(l_extendedprice AS DOUBLE)), 0.5)").as("d50"),
          expr("dd_quantile(dd_sketch_agg(CAST(l_extendedprice AS DOUBLE)), 0.99)").as("d99"))
        .select(
          col("l_returnflag"), col("p50"), col("p99"),
          (abs(col("d50") - col("p50")) / col("p50") <= 0.025 &&
            abs(col("d99") - col("p99")) / col("p99") <= 0.025).as("dd_ok"))
        .orderBy("l_returnflag")
    }),
    "q_upsert_apply" -> ((s, dir) => {
      // CDC apply / MERGE: after-side rows replace matching keys
      // ROW-WISE (an after row's genuine NULL must not resurrect the
      // before value — so CASE on key presence, never per-column
      // coalesce), unmatched after rows insert, before-only rows
      // survive. One full-outer join: the same single-shuffle shape
      // as the diff.
      val b = Tables.orders(s, dir)
      val a = Tables.ordersAfter(s, dir)
      val cond = b("o_orderkey") === a("o_orderkey")
      val fromAfter = a("o_orderkey").isNotNull
      val j = b.join(a, cond, "full_outer")
      j.select(
        when(fromAfter, when(b("o_orderkey").isNotNull, "UPDATE").otherwise("INSERT"))
          .otherwise("KEEP").as("op") +:
          ordersCols.map(c => when(fromAfter, a(c)).otherwise(b(c)).as(c)): _*)
        .orderBy("o_orderkey")
    }),
    "q_scd2_history" -> ((s, dir) => {
      // snapshot pair → SCD Type-2 dimension history: one full-outer
      // null-safe join + a narrow explode emits validity intervals
      // (closed rows for updated/deleted keys, open rows for current
      // versions) — the versioned-warehouse downstream of the diff
      graft.operators.Scd2.snapshotHistory(
        Tables.orders(s, dir), Tables.ordersAfter(s, dir),
        keys = Seq("o_orderkey"),
        validFrom = "2024-01-01", validTo = "2024-02-01")
        .orderBy("o_orderkey", "valid_from")
    }),
    "q_scd2_asof" -> ((s, dir) => {
      // time travel over the SCD2 history: reconstructing the
      // snapshot on each side of the transition must reproduce the
      // raw before/after tables EXACTLY — the oracle is the original
      // tables themselves, the strongest possible losslessness check
      // persist: each asOf branch otherwise replays the history's
      // full-outer join (in production the history IS a stored table
      // — PlanSpec pins that shape separately)
      val hist = graft.operators.Scd2.snapshotHistory(
        Tables.orders(s, dir), Tables.ordersAfter(s, dir),
        keys = Seq("o_orderkey"),
        validFrom = "2024-01-01", validTo = "2024-02-01").persist()
      graft.operators.Scd2.asOf(hist, "2024-01-15")
        .withColumn("as_of", lit("t0"))
        .unionByName(
          graft.operators.Scd2.asOf(hist, "2024-02-15")
            .withColumn("as_of", lit("t1")))
        .orderBy("as_of", "o_orderkey")
    }),
    "q_scd2_merge" -> ((s, dir) => {
      // incremental SCD2: fold a THIRD snapshot into the existing
      // history (the production ingest path — only current rows join
      // the snapshot, closed rows pass through), then prove the
      // merged history still reconstructs ALL THREE snapshots exactly
      val hist1 = graft.operators.Scd2.snapshotHistory(
        Tables.orders(s, dir), Tables.ordersAfter(s, dir),
        keys = Seq("o_orderkey"),
        validFrom = "2024-01-01", validTo = "2024-02-01")
      // persist: three asOf branches would replay BOTH joins each
      // (history is a stored table in production)
      val hist2 = graft.operators.Scd2.merge(
        hist1, Tables.ordersAfter2(s, dir),
        keys = Seq("o_orderkey"), asOfDate = "2024-03-01").persist()
      graft.operators.Scd2.asOf(hist2, "2024-01-15")
        .withColumn("as_of", lit("t0"))
        .unionByName(
          graft.operators.Scd2.asOf(hist2, "2024-02-15")
            .withColumn("as_of", lit("t1")))
        .unionByName(
          graft.operators.Scd2.asOf(hist2, "2024-03-15")
            .withColumn("as_of", lit("t2")))
        .orderBy("as_of", "o_orderkey")
    }),
    "q_schema_roundtrip" -> ((s, dir) => {
      // V8+G1+G2 end-to-end through the driver gate: introspect the
      // lineitem schema, emit it in the Snowflake-DESCRIBE CSV format
      // the reference consumes, load that CSV back, and class each
      // type TEXT/NUMBER — the oracle is an independent literal
      // expectation, so any drift in the emission, the CSV parse
      // (quoted NUMBER(38,0) cells), or the classing turns a row red
      import s.implicits._
      val sch = Tables.lineitem(s, dir).schema
      val csv = graft.cli.DiffGen.describeCsv(sch)
      val p = java.nio.file.Files.createTempFile("graft_describe_", ".csv")
      java.nio.file.Files.writeString(p, csv)
      val loaded =
        try graft.cli.DiffGen.loadSchemaCsv(p.toString)
        finally java.nio.file.Files.deleteIfExists(p)
      loaded.map { case (n, t) => (n, t, graft.cli.DiffGen.typeClass(t)) }
        .toDF("col_name", "sf_type", "type_class")
        .orderBy("col_name")
    }),
    "q_session_info" -> ((s, dir) => {
      // V9: the sf-whoami connectivity probe
      // (samples/sf-whoami.step.sh step 3). Volatile fields (user,
      // timestamp, engine patch version) are pinned as
      // literal-expectation flags, the stable session context
      // (catalog, database) as values — the sketch-oracle pattern.
      graft.operators.SessionInfo.whoami(s)
        .select(
          col("catalog"),
          col("database"),
          (length(col("user")) > 0).as("has_user"),
          col("ts").isNotNull.as("has_ts"),
          substring_index(col("engine_version"), ".", 1).as("engine_major"))
    }),
    "q_diffgen_cli" -> ((s, dir) => {
      // G4 (+G5/G6/G7 transport) as one driver-gated CLI flow: schema
      // CSVs named like the reference's DESCRIBE downloads, table
      // names INFERRED from the filename stems (diffgen.py:86-94,
      // `_` → `.`), the SQL written to --out, and the single-line form
      // appended to the --stack_input file — each step's observable
      // checked against a literal expectation.
      import s.implicits._
      val scratch = java.nio.file.Files.createTempDirectory("graft_diffgen_cli_")
      try {
        def write(name: String, text: String): java.nio.file.Path =
          java.nio.file.Files.writeString(scratch.resolve(name), text)
        val beforeCsv = write("main_orders.csv",
          graft.cli.DiffGen.describeCsv(Tables.orders(s, dir).schema))
        val afterCsv = write("main_orders2.csv",
          graft.cli.DiffGen.describeCsv(Tables.ordersAfter(s, dir).schema))
        val keysCsv = write("keys.csv", "name,type\nO_ORDERKEY,\"NUMBER(38,0)\"")
        val out = scratch.resolve("diff.sql")
        val stack = scratch.resolve("stack.sql")
        graft.cli.DiffGen.run(graft.cli.DiffGen.parseArgs(Seq(
          beforeCsv.toString, afterCsv.toString,
          "--keys", keysCsv.toString,
          "--out", out.toString, "--stack_input", stack.toString)))
        val sql = java.nio.file.Files.readString(out)
        val stacked = java.nio.file.Files.readString(stack)
        Seq(
          ("inferred_before", graft.cli.DiffGen.inferTableName(beforeCsv.toString)),
          ("inferred_after", graft.cli.DiffGen.inferTableName(afterCsv.toString)),
          ("sql_from_before", sql.contains("FROM main.orders\n").toString),
          ("sql_from_after", sql.contains("FROM main.orders2\n").toString),
          ("stack_single_line", (stacked.trim.linesIterator.size == 1).toString),
          ("stack_is_flattened_sql",
            (stacked.trim == graft.operators.DiffSql.flatten(sql)).toString))
          .toDF("item", "value")
          .orderBy("item")
      } finally TmpfsScratch.deleteRecursively(scratch)
    }),
    "q_hash_sample" -> ((s, dir) => {
      // deterministic hash sampling — the scale-safe sample: a pure
      // filter on a key hash (no shuffle, no RNG state, reproducible
      // across engines/runs, pushes down to the scan), vs .sample()
      // whose per-partition RNG is neither portable nor stable
      graft.functions.PolyHash.register(s)
      // the hash is re-mixed before the modulus: poly_hash's base 31
      // ≡ 1 (mod 10), so a bare `% 10` on short numeric keys collapses
      // to char-code-sum mod 10 and correlates with the key (see
      // Sampling.mixedHash)
      Tables.orders(s, dir)
        .filter(expr(
          s"(${graft.operators.Sampling.mixedHash(
            graft.functions.TextExprs.charHashSpark("CAST(o_orderkey AS STRING)"))}) % 10 = 0"))
        .agg(
          count(lit(1)).as("n_sampled"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("sum_price"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
    }),
    "q_setops" -> ((s, dir) => {
      // INTERSECT / EXCEPT surface (distinct set semantics)
      val c = Tables.customer(s, dir).select(col("c_custkey").as("custkey"))
      val o = Tables.orders(s, dir).select(col("o_custkey").as("custkey"))
      c.intersect(o).withColumn("op", lit("with_orders"))
        .unionByName(c.except(o).withColumn("op", lit("without_orders")))
        .select("op", "custkey")
        .orderBy("op", "custkey")
    }),
    "q_diff_sql_exec" -> ((s, dir) => {
      // the generated diff SQL TEXT, executed verbatim by Spark over
      // temp views — the reference's actual product is this text, and
      // the oracle runs the IDENTICAL string in DuckDB: one artifact,
      // two engines, same hash
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      s.sql(s"$ordersDiffSql\nORDER BY K_o_orderkey")
    }),
    "q_asof_join" -> ((s, dir) => {
      // attribution: each purchase joined to the user's most recent
      // prior (or simultaneous) click
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
      graft.operators.AsOfJoin.lastPrior(
        left = ev.filter(col("event_type") === "purchase"),
        right = ev.filter(col("event_type") === "click"),
        partitionCols = Seq("user_id"),
        timeCol = "ts",
        payloadCols = Seq("ts", "event_id"),
        tieCol = "event_id")
        .orderBy("event_id")
    }),
    "q_profile_drift" -> ((s, dir) => {
      // per-column distinct/NULL drift between before/after (exact
      // form for the oracle; the HLL form is profile(approx = true))
      DiffSummary.profileDrift(
        Tables.orders(s, dir),
        Tables.ordersAfter(s, dir))
    }),
    "q_profile_sketch_drift" -> ((s, dir) => {
      // mergeable-sketch drift with an in-engine exact cross-check:
      // the oracle pins the exact counts AND that every sketch
      // estimate lands within tolerance of its exact twin (sketch_ok
      // is literal TRUE on the DuckDB side — if the sketch path
      // breaks, the flag flips and the hash mismatches)
      import graft.operators.ProfileSketch
      val b = Tables.orders(s, dir)
      val a = Tables.ordersAfter(s, dir)
      val dr = ProfileSketch.drift(
        ProfileSketch.columnSketches(b),
        ProfileSketch.columnSketches(a))
      def exactLong(df: DataFrame, p: String): DataFrame = {
        val cols = df.columns.toSeq
        val aggs = cols.map(c => countDistinct(col(c)).as(s"${c}__nd"))
        val one = df.agg(aggs.head, aggs.tail: _*)
        val stackArgs = cols.map(c => s"'$c', `${c}__nd`").mkString(", ")
        one.selectExpr(s"stack(${cols.size}, $stackArgs) AS (col_name, ${p}n_distinct)")
      }
      dr.join(exactLong(b, "b_"), "col_name")
        .join(exactLong(a, "a_"), "col_name")
        .select(
          col("col_name"),
          col("b_n_distinct"), col("a_n_distinct"),
          col("b_n_nulls"), col("a_n_nulls"),
          (ProfileSketch.withinTolerance(col("b_est_distinct"), col("b_n_distinct"), 0.05) &&
            ProfileSketch.withinTolerance(col("a_est_distinct"), col("a_n_distinct"), 0.05))
            .as("sketch_ok"))
        .orderBy("col_name")
    }),
    "q_window_rank" -> ((s, dir) => {
      // top-3 customers by spend per market segment (windowed ranking)
      val bySegment = Window
        .partitionBy("c_mktsegment")
        .orderBy(col("total_spend").desc, col("c_custkey"))
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("total_spend"))
        .withColumn("rank", row_number().over(bySegment).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy("c_mktsegment", "rank")
    }),
    "q_window_rank_fast" -> ((s, dir) => {
      // SAME query as q_window_rank, but planned through the custom
      // top-k operator: TopKViaHeapRule rewrites the row_number
      // filter into TopKPerGroup, and TopKStrategy plans bounded
      // heaps on both sides of the shuffle instead of a full
      // per-group sort (no WindowExec, no Sort — pinned in
      // TopKPerGroupSpec). Same oracle as q_window_rank.
      graft.plans.TopKPerGroup.install(s)
      val bySegment = Window
        .partitionBy("c_mktsegment")
        .orderBy(col("total_spend").desc, col("c_custkey"))
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("total_spend"))
        .withColumn("rank", row_number().over(bySegment))
        .filter(col("rank") <= 3)
        .select(
          col("c_mktsegment"), col("c_custkey"), col("total_spend"),
          col("rank").cast("long").as("rank"))
        .orderBy("c_mktsegment", "rank")
    }),
    "q_rollup" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"))
        .orderBy(
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),
    "q_join_semi" -> ((s, dir) => {
      // lineitems of high-value orders (left semi = EXISTS)
      val bigOrders = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 400000.0)
        .select("o_orderkey")
      Tables.lineitem(s, dir)
        .join(bigOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),
    "q_join_anti" -> ((s, dir) => {
      // orders with no lineitems (left anti = NOT EXISTS)
      Tables.orders(s, dir)
        .join(
          Tables.lineitem(s, dir).select("l_orderkey"),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),
    "q_json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(
          col("event_id"),
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k_value"))
        .orderBy("event_id")
    }),
    "q_row_counts" -> ((s, dir) => {
      // V5: per-table counts with literal tags (README.md:136-138)
      DiffSummary.rowCounts(Seq(
        "customer" -> Tables.customer(s, dir),
        "lineitem" -> Tables.lineitem(s, dir),
        "orders" -> Tables.orders(s, dir)))
        .orderBy("table_name")
    }),

    // ---- event streams, batch shape (extensions; streaming twins in graft.streaming) ----
    "q_events_window" -> ((s, dir) => {
      Tables
        .events(s, dir)
        .groupBy(
          date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)"))
            .cast("double").as("sum_value"))
        .orderBy("hour", "event_type")
    }),
    "q_sessionize" -> ((s, dir) =>
      sessionsDf(s, dir).orderBy("user_id", "session_id")),
    // ---- streaming twins, driven end-to-end through the micro-batch
    // engine (file stream source → watermark → state store → memory
    // sink) and hashed against DuckDB like any batch query ----
    "q_stream_events_window" -> ((s, dir) => {
      val out = graft.streaming.StreamRunner.runToCompletion(
        graft.streaming.EventStreams.windowedCounts(
          graft.streaming.StreamRunner.eventsStream(s, dir)))
      out
        .withColumn("window_start", col("window_start").cast("timestamp_ntz"))
        .orderBy("window_start", "event_type")
    }),
    "q_stream_sessionize" -> ((s, dir) => {
      val out = graft.streaming.StreamRunner.runToCompletion(
        graft.streaming.EventStreams.sessionWindows(
          graft.streaming.StreamRunner.eventsStream(s, dir)))
      out
        .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
        .orderBy("user_id", "session_start")
    }),
    "q_stream_dedup" -> ((s, dir) => {
      // streaming exact dedup end-to-end: watermark-bounded state
      // dedup on a coarse key (event_ids are unique in the data, so
      // deduping by (user_id, event_type) exercises real drops). Only
      // the KEY columns are emitted: which row survives per key is
      // engine-internal arrival order; the surviving key set is exact.
      val out = graft.streaming.StreamRunner.runToCompletion(
        graft.streaming.EventStreams.dedupStream(
          graft.streaming.StreamRunner.eventsStream(s, dir),
          keyCols = Seq("user_id", "event_type"))
          .select("user_id", "event_type"),
        outputMode = "append")
      out.orderBy("user_id", "event_type")
    }),
    "q_stream_missing" -> ((s, dir) => {
      // stream-stream diff: the actual stream "loses" every 10th
      // event; the outer join emits an expected row once the watermark
      // proves no match can arrive. The outer state only flushes in a
      // LATER batch, so the source stages sentinel files that push the
      // watermark past all real rows (see StreamRunner.eventsStream);
      // sentinels carry negative ids and are filtered back out.
      val expected = graft.streaming.StreamRunner.eventsStream(s, dir, sentinels = 2)
      val actual = graft.streaming.StreamRunner.eventsStream(s, dir, sentinels = 2)
        .filter(col("event_id") % 10 =!= 0)
      // 4 state partitions (not the default 8): the join keeps BOTH
      // full inputs in state, so per-batch cost is dominated by state
      // store commit I/O, not compute — fewer stores = fewer commits.
      // Measured r8: 4 beat 8/16/32 at bench scale.
      val out = graft.streaming.StreamRunner.runToCompletion(
        graft.streaming.EventStreams.missingInActual(expected, actual),
        outputMode = "append", statePartitions = 4)
      out.filter(col("event_id") >= 0)
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .orderBy("event_id")
    }),
    "q_stream_running_counts" -> ((s, dir) => {
      import s.implicits._
      val ev = graft.streaming.StreamRunner.eventsStream(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[graft.streaming.EventStreams.Event]
      val updates = graft.streaming.StreamRunner.runToCompletion(
        graft.streaming.EventStreams.runningUserCounts(ev).toDF(),
        outputMode = "update")
      // update mode appends one row per (user, batch) to the memory
      // sink: reduce to the FINAL state per user (n_events is monotone
      // per user, and a timeout re-emission equals the last update),
      // then pin the float total with the tolerance-flag pattern — the
      // typed fold sums raw doubles in arrival order, which no
      // cross-engine hash can reproduce bit-exactly
      val fin = updates
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("total_value"))).as("st"))
        .select(
          col("user_id"),
          col("st.n_events").as("n_events"),
          col("st.total_value").as("tv"))
      val exact = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(sum(col("value")).as("v_exact"))
      fin.join(exact, "user_id")
        .select(
          col("user_id"),
          col("n_events"),
          (abs(col("tv") - col("v_exact")) <=
            greatest(abs(col("v_exact")) * lit(1e-9), lit(1e-6))).as("value_ok"))
        .orderBy("user_id")
    }),
    "q_stream_scd2" -> ((s, dir) => {
      // streaming SCD2: a 4-slice change stream folded into a
      // versioned history via foreachBatch + Scd2.merge in upsert
      // mode (a micro-batch is never a full snapshot — absent keys
      // mean "no news", not deletion). Each batch reduces to its last
      // event per user, merged at a per-batch date; the final history
      // is hashed directly against a window-function reconstruction.
      import org.apache.spark.sql.types._
      val histSchema = StructType(Seq(
        StructField("user_id", LongType),
        StructField("value", DoubleType),
        StructField("valid_from", DateType),
        StructField("valid_to", DateType),
        StructField("is_current", BooleanType),
        StructField("change_type", StringType)))
      val empty = s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), histSchema)
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val hist = graft.streaming.StreamRunner.foldBatches(
        graft.streaming.StreamRunner.slicedEventsStream(s, dir, slices = 4),
        empty) { (h, batch, id) =>
        val snap = batch
          .withColumn("rn", row_number().over(byUser))
          .filter(col("rn") === 1)
          .select("user_id", "value")
        graft.operators.Scd2.merge(
          h, snap, Seq("user_id"),
          asOfDate = f"2030-01-0${id + 1}%d",
          deleteAbsentKeys = false)
      }
      hist.orderBy("user_id", "valid_from")
    }),
    "q_range_join" -> ((s, dir) => {
      // events falling inside the 20 longest sessions ("incident
      // windows") — point-in-interval via bucketized equi-join
      graft.operators.RangeJoin
        .pointInInterval(
          Tables.events(s, dir).select("event_id", "ts"),
          "ts", windowsDf(s, dir), "session_start", "session_end",
          broadcastIntervals = true)
        .select("event_id", "window_id")
        .orderBy("window_id", "event_id")
    }),
    "q_range_join_auto" -> ((s, dir) => {
      // the SAME query written NAIVELY — a bare BETWEEN join Spark
      // would plan as a nested loop — shaped into the bucketized
      // equi-join by the RangeJoinRewrite optimizer rule
      // (SparkSessionExtensions / install). One oracle, two paths:
      // the explicit operator above and the rule-rewritten plan here.
      graft.plans.RangeJoinRewrite.install(s)
      Tables.events(s, dir)
        .select("event_id", "ts")
        .join(
          windowsDf(s, dir),
          col("ts") >= col("session_start") && col("ts") <= col("session_end"))
        .select("event_id", "window_id")
        .orderBy("window_id", "event_id")
    }),
  )

  /** Materialization targets for the sink queries: stable within one
    * JVM (bench iterations reuse them via overwrite), disjoint across
    * processes, and reclaimed at JVM exit — per-JVM uniqueness without
    * cleanup would leak a full-table copy into tmp per harness run.
    */
  private def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files
      .createTempDirectory(s"graft_${prefix}_")
      .toAbsolutePath
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try TmpfsScratch.deleteRecursively(p)
      catch { case _: Throwable => () }))
    p.toString
  }

  private lazy val ctasPath: String = scratchDir("ctas_orders_diff")
  private lazy val partitionedPath: String = scratchDir("events_by_type")
  private lazy val jsonPath: String = scratchDir("documents_json")
  private lazy val csvPath: String = scratchDir("documents_csv")
  private lazy val orcPath: String = scratchDir("lineitem_orc")
  private lazy val avroPath: String = scratchDir("lineitem_avro")

  /** Top-20 longest sessions as (window_id, start, end) incident
    * windows — shared by q_range_join and q_range_join_auto.
    */
  private def windowsDf(s: SparkSession, dir: String): DataFrame = {
    val sess = sessionsDf(s, dir)
      .withColumn(
        "dur",
        unix_micros(col("session_end").cast("timestamp")) -
          unix_micros(col("session_start").cast("timestamp")))
    val byDur = Window.orderBy(col("dur").desc, col("user_id"), col("session_id"))
    sess
      .orderBy(col("dur").desc, col("user_id"), col("session_id"))
      .limit(20)
      .withColumn("window_id", row_number().over(byDur).cast("long"))
      .select("window_id", "session_start", "session_end")
  }

  /** Gap-based sessionization of the events table (lag + cumulative
    * sum; 30-minute gap) — shared by q_sessionize and q_range_join.
    */
  private def sessionsDf(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables
      .events(s, dir)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn(
        "new_session",
        when(
          col("prev_ts").isNull ||
            unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("prev_ts").cast("timestamp")) > 1800000000L,
          1).otherwise(0))
      .withColumn(
        "session_id",
        sum("new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end"))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    coreOracleSql ++ ExtensionQueries.oracleSql

  private def coreOracleSql: Map[String, String] = Map(
    "q_diff_lineitem" ->
      s"$lineitemDiffSql\nORDER BY K_l_orderkey, K_l_linenumber",
    "q_diff_orders_literal" ->
      s"$ordersDiffSql\nORDER BY K_o_orderkey",
    "q_diff_summary" -> {
      val anyCol = (lineitemCols :+ "extra_col").map(c => s"$c > 0").mkString(" OR ")
      s"""WITH diff AS (
         |$lineitemDiffSql
         |)
         |SELECT COUNT(*) AS total_rows,
         |  CAST(SUM(CASE WHEN _row_status IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS rows_in_both,
         |  CAST(SUM(CASE WHEN _row_status = 4 THEN 1 ELSE 0 END) AS BIGINT) AS missing_in_before,
         |  CAST(SUM(CASE WHEN _row_status = 5 THEN 1 ELSE 0 END) AS BIGINT) AS missing_in_after,
         |  CAST(SUM(CASE WHEN _row_status IS NULL AND ($anyCol) THEN 1 ELSE 0 END) AS BIGINT) AS rows_with_cell_diffs
         |FROM diff""".stripMargin
    },
    "q_status_decode" ->
      s"""WITH diff AS (
         |$ordersDiffSql
         |)
         |SELECT K_o_orderkey,
         |  ${decodeSql("_row_status")} AS row_label,
         |  ${decodeSql("o_totalprice")} AS price_label,
         |  ${decodeSql("o_orderpriority")} AS priority_label
         |FROM diff ORDER BY K_o_orderkey""".stripMargin,
    "q_sidebyside_unionall" -> {
      val cols = lineitemCols.mkString(", ")
      s"""SELECT $cols, 'BEFORE' AS source, CAST(NULL AS DOUBLE) AS extra_col FROM lineitem
         |UNION ALL
         |SELECT $cols, 'AFTER' AS source, extra_col FROM (
         |${Tables.lineitemAfterSql}
         |)
         |ORDER BY source, l_orderkey, l_linenumber""".stripMargin
    },
    "q_diff_ctas" ->
      s"$ordersDiffSql\nORDER BY K_o_orderkey",
    "q_diff_bucketed" ->
      s"$ordersDiffSql\nORDER BY K_o_orderkey",
    "q_diff_tolerance" ->
      s"$toleranceDiffSql\nORDER BY K_o_orderkey",
    "q_diff_typechange" ->
      s"$typechangeDiffSql\nORDER BY K_o_orderkey",
    "q_schema_drift" ->
      // literal-expectation oracle: schemaDrift is a pure schema
      // computation (no data scan), so the oracle IS the pinned
      // expected report — Spark catalogString spellings on both sides
      """SELECT * FROM (VALUES
        |  ('blob', 'array<int>', 'double', 'type_changed_incompatible', CAST(NULL AS VARCHAR)),
        |  ('cust_str', 'int', 'string', 'type_changed', 'string'),
        |  ('event_day', 'date', 'timestamp_ntz', 'type_changed', 'timestamp_ntz'),
        |  ('legacy_col', 'string', CAST(NULL AS VARCHAR), 'dropped', CAST(NULL AS VARCHAR)),
        |  ('new_col', CAST(NULL AS VARCHAR), 'string', 'added', CAST(NULL AS VARCHAR)),
        |  ('o_orderkey', 'int', 'bigint', 'type_changed', 'bigint'),
        |  ('price_dec', 'decimal(15,2)', 'decimal(18,4)', 'type_changed', 'decimal(18,4)')
        |) AS t("column", before_type, after_type, change, common_type)
        |ORDER BY "column"""".stripMargin,
    "q_diff_arrays" ->
      s"$arraysDiffSql\nORDER BY K_vec_id",
    "q_diff_maps" ->
      s"$mapsDiffSql\nORDER BY K_o_orderkey",
    "q_diff_structs" ->
      s"$structsDiffSql\nORDER BY K_o_orderkey",
    "q_diff_filtered" ->
      s"$lineitemFilteredDiffSql\nORDER BY K_l_orderkey, K_l_linenumber",
    "q_diff_nullkeys" ->
      s"$nullKeyDiffSql\nORDER BY K_o_orderkey",
    "q_diff_dupkeys" ->
      s"$lineitemDupkeysDiffSql\nORDER BY K_l_orderkey, K_l_linenumber",
    "q_diff_legacy" ->
      s"$ordersLegacyDiffSql\nORDER BY K_o_orderkey",
    "q_diff_legacy_summary" -> {
      val anyCol = ordersCols.map(c => s"$c > 0").mkString(" OR ")
      // the README.md:189 / setup_all.sql:77-84 counting convention:
      // matches are _row_status = 0, valid only against a legacy diff
      s"""WITH diff AS (
         |$ordersLegacyDiffSql
         |)
         |SELECT COUNT(*) AS total_rows,
         |  CAST(SUM(CASE WHEN _row_status = 0 THEN 1 ELSE 0 END) AS BIGINT) AS rows_in_both,
         |  CAST(SUM(CASE WHEN _row_status = 4 THEN 1 ELSE 0 END) AS BIGINT) AS missing_in_before,
         |  CAST(SUM(CASE WHEN _row_status = 5 THEN 1 ELSE 0 END) AS BIGINT) AS missing_in_after,
         |  CAST(SUM(CASE WHEN _row_status = 0 AND ($anyCol) THEN 1 ELSE 0 END) AS BIGINT) AS rows_with_cell_diffs
         |FROM diff""".stripMargin
    },
    "q_diff_uppercase" ->
      s"$ordersUpperDiffSql\nORDER BY K_O_ORDERKEY",
    "q_ddl_lifecycle" ->
      """SELECT col_name, type_class, n_rows FROM
        |  (VALUES ('O_ORDERKEY', 'NUMBER'),
        |          ('O_CUSTKEY', 'NUMBER'),
        |          ('O_ORDERPRIORITY', 'TEXT')) t(col_name, type_class)
        |CROSS JOIN
        |  (SELECT COUNT(*) AS n_rows FROM orders WHERE o_orderkey % 10 IN (0, 1)) c
        |ORDER BY col_name""".stripMargin,
    "q_diff_statuses_map" -> {
      val cols = lineitemCols :+ "extra_col"
      val names = cols.mkString(",")
      val vals = cols.map(c => s"CAST($c AS VARCHAR)").mkString(", ")
      s"""WITH diff AS (
         |$lineitemDiffSql
         |)
         |SELECT _row_status, K_l_orderkey, K_l_linenumber,
         |  '$names' AS status_cols,
         |  concat_ws(',', $vals) AS status_vals
         |FROM diff ORDER BY K_l_orderkey, K_l_linenumber""".stripMargin
    },
    "q_scan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_union_distinct" ->
      """SELECT c_custkey AS custkey FROM customer
        |UNION
        |SELECT o_custkey FROM orders
        |ORDER BY custkey""".stripMargin,
    "q_nullsafe_join" ->
      """WITH t AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_custkey END AS nck
        |  FROM orders
        |)
        |SELECT t1.o_orderkey, t1.nck
        |FROM t t1 JOIN t t2
        |  ON t1.o_orderkey IS NOT DISTINCT FROM t2.o_orderkey
        | AND t1.nck IS NOT DISTINCT FROM t2.nck
        |ORDER BY t1.o_orderkey""".stripMargin,
    "q_orderby_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_agg_nation" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q_salted_agg" ->
      """SELECT user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  COUNT(*) AS n_rows
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_unpivot" ->
      """WITH agg AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |    CAST(COUNT(*) AS DOUBLE) AS count_order
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus
        |)
        |SELECT l_returnflag, l_linestatus, 'sum_qty' AS metric, sum_qty AS metric_value FROM agg
        |UNION ALL
        |SELECT l_returnflag, l_linestatus, 'sum_base_price', sum_base_price FROM agg
        |UNION ALL
        |SELECT l_returnflag, l_linestatus, 'count_order', count_order FROM agg
        |ORDER BY l_returnflag, l_linestatus, metric""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice::DOUBLE, 0.5) AS p50,
        |  quantile_cont(l_extendedprice::DOUBLE, 0.9) AS p90,
        |  quantile_cont(l_extendedprice::DOUBLE, 0.99) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "O",
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_moving_window" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w3 AS DOUBLE)
        |    / COUNT(*) OVER w3 AS avg_last3,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER wrun AS DOUBLE) AS running_total
        |FROM orders
        |WINDOW
        |  w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |  wrun AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "q_gapfill_resample" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type,
        |         COUNT(*) AS n_events,
        |         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_value
        |  FROM events GROUP BY 1, 2
        |), bounds AS (
        |  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
        |  FROM events
        |), spine AS (
        |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
        |), grid AS (
        |  SELECT s.hour, t.event_type
        |  FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM events) t
        |)
        |SELECT g.hour, g.event_type,
        |       COALESCE(h.n_events, 0) AS n_events,
        |       last_value(h.avg_value IGNORE NULLS) OVER (
        |         PARTITION BY g.event_type ORDER BY g.hour
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value_ffill
        |FROM grid g
        |LEFT JOIN hourly h ON h.hour = g.hour AND h.event_type = g.event_type
        |ORDER BY g.hour, g.event_type""".stripMargin,
    "q_approx_quantile_check" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice::DOUBLE, 0.5) AS p50,
        |  quantile_cont(l_extendedprice::DOUBLE, 0.99) AS p99,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_diff_sql_exec" ->
      s"$ordersDiffSql\nORDER BY K_o_orderkey",
    "q_sink_partitioned" ->
      """SELECT date_trunc('hour', ts) AS hour,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1 ORDER BY hour""".stripMargin,
    "q_sink_json_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_sink_orc_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  l_extendedprice, l_returnflag, l_shipdate
        |FROM lineitem WHERE l_orderkey % 7 = 0
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,
    "q_sink_avro_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  l_extendedprice, l_returnflag, l_shipdate
        |FROM lineitem WHERE l_orderkey % 5 = 0
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,
    "q_sink_csv_roundtrip" ->
      """SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
        |  max(o.o_orderdate) AS latest_order
        |FROM documents d
        |LEFT JOIN orders o ON o.o_orderkey % 500 = d.doc_id
        |GROUP BY d.doc_id, d.text, d.lang, d.source, d.n_chars
        |ORDER BY d.doc_id""".stripMargin,
    "q_collect_sorted" ->
      """SELECT o_custkey,
        |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_keys,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_string_funcs" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS len,
        |  upper(substr(text, 1, 12)) AS head_u,
        |  lower(substr(text, 1, 12)) AS head_l,
        |  reverse(substr(text, 1, 12)) AS head_rev,
        |  replace(substr(text, 1, 30), ' ', '_') AS head_repl,
        |  CAST(instr(text, 'the') AS BIGINT) AS pos_the,
        |  concat(lang, '/', source) AS tag
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS abs_disc_delta,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  sqrt(l_quantity) AS qty_sqrt,
        |  CAST(sign(l_tax - 0.04) AS DOUBLE) AS tax_sign,
        |  l_partkey % 7 AS part_mod,
        |  greatest(l_discount, l_tax) AS max_rate
        |FROM lineitem WHERE l_orderkey % 11 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_datetime_funcs" ->
      """SELECT o_orderkey,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
        |  CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS q,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
        |  CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS d,
        |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
        |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since_95,
        |  last_day(o_orderdate) AS month_end
        |FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey""".stripMargin,
    "q_quantile_sketch_check" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice::DOUBLE, 0.5) AS p50,
        |  quantile_cont(l_extendedprice::DOUBLE, 0.99) AS p99,
        |  TRUE AS dd_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_upsert_apply" -> {
      val merged = ordersCols
        .map(c => s"CASE WHEN a.o_orderkey IS NOT NULL THEN a.$c ELSE b.$c END AS $c")
        .mkString(",\n  ")
      s"""WITH aft AS (
         |${Tables.ordersAfterSql}
         |)
         |SELECT
         |  CASE WHEN a.o_orderkey IS NOT NULL THEN
         |         CASE WHEN b.o_orderkey IS NOT NULL THEN 'UPDATE' ELSE 'INSERT' END
         |       ELSE 'KEEP' END AS op,
         |  $merged
         |FROM orders b FULL OUTER JOIN aft a ON b.o_orderkey = a.o_orderkey
         |ORDER BY o_orderkey""".stripMargin
    },
    "q_scd2_history" -> {
      val vals = ordersCols.filterNot(_ == "o_orderkey")
      val changed = vals.map(c => s"b.$c IS DISTINCT FROM a.$c").mkString(" OR ")
      val bCols = ("o_orderkey" +: vals).map(c => s"b.$c").mkString(", ")
      val aCols = ("o_orderkey" +: vals).map(c => s"a.$c").mkString(", ")
      s"""WITH aft AS (
         |${Tables.ordersAfterSql}
         |), chg AS (
         |  SELECT b.o_orderkey FROM orders b JOIN aft a ON b.o_orderkey = a.o_orderkey
         |  WHERE $changed
         |)
         |SELECT $bCols,
         |  DATE '2024-01-01' AS valid_from,
         |  CASE WHEN a.o_orderkey IS NULL OR c.o_orderkey IS NOT NULL
         |       THEN DATE '2024-02-01' END AS valid_to,
         |  (a.o_orderkey IS NOT NULL AND c.o_orderkey IS NULL) AS is_current,
         |  CASE WHEN a.o_orderkey IS NULL THEN 'deleted'
         |       WHEN c.o_orderkey IS NOT NULL THEN 'updated'
         |       ELSE 'unchanged' END AS change_type
         |FROM orders b
         |LEFT JOIN aft a ON b.o_orderkey = a.o_orderkey
         |LEFT JOIN chg c ON b.o_orderkey = c.o_orderkey
         |UNION ALL
         |SELECT $aCols,
         |  DATE '2024-02-01' AS valid_from,
         |  CAST(NULL AS DATE) AS valid_to,
         |  TRUE AS is_current,
         |  CASE WHEN b.o_orderkey IS NULL THEN 'inserted' ELSE 'updated' END AS change_type
         |FROM aft a
         |LEFT JOIN orders b ON a.o_orderkey = b.o_orderkey
         |WHERE b.o_orderkey IS NULL OR a.o_orderkey IN (SELECT o_orderkey FROM chg)
         |ORDER BY o_orderkey, valid_from""".stripMargin
    },
    "q_scd2_asof" -> {
      val cols = ordersCols.mkString(", ")
      s"""WITH aft AS (
         |${Tables.ordersAfterSql}
         |)
         |SELECT $cols, 't0' AS as_of FROM orders
         |UNION ALL
         |SELECT $cols, 't1' AS as_of FROM aft
         |ORDER BY as_of, o_orderkey""".stripMargin
    },
    // lossless three-way reconstruction: the merged history must
    // reproduce each raw snapshot on its own interval
    "q_scd2_merge" -> {
      val cols = ordersCols.mkString(", ")
      s"""WITH aft AS (
         |${Tables.ordersAfterSql}
         |), aft2 AS (
         |${Tables.ordersAfter2Sql}
         |)
         |SELECT $cols, 't0' AS as_of FROM orders
         |UNION ALL
         |SELECT $cols, 't1' AS as_of FROM aft
         |UNION ALL
         |SELECT $cols, 't2' AS as_of FROM aft2
         |ORDER BY as_of, o_orderkey""".stripMargin
    },
    // independent literal expectation of the V8→G1→G2 chain on the
    // lineitem schema: parquet int32/int64 → NUMBER(38,0), double →
    // FLOAT (Snowflake's fractional type), string → VARCHAR, NTZ
    // timestamp → TIMESTAMP_NTZ(9) (classed TEXT, the reference's
    // fallback for non-numeric types)
    "q_schema_roundtrip" ->
      """SELECT * FROM (VALUES
        |  ('L_DISCOUNT', 'FLOAT', 'NUMBER'),
        |  ('L_EXTENDEDPRICE', 'FLOAT', 'NUMBER'),
        |  ('L_LINENUMBER', 'NUMBER(38,0)', 'NUMBER'),
        |  ('L_LINESTATUS', 'VARCHAR(16777216)', 'TEXT'),
        |  ('L_ORDERKEY', 'NUMBER(38,0)', 'NUMBER'),
        |  ('L_PARTKEY', 'NUMBER(38,0)', 'NUMBER'),
        |  ('L_QUANTITY', 'FLOAT', 'NUMBER'),
        |  ('L_RETURNFLAG', 'VARCHAR(16777216)', 'TEXT'),
        |  ('L_SHIPDATE', 'TIMESTAMP_NTZ(9)', 'TEXT'),
        |  ('L_SUPPKEY', 'NUMBER(38,0)', 'NUMBER'),
        |  ('L_TAX', 'FLOAT', 'NUMBER')
        |) AS t(col_name, sf_type, type_class)
        |ORDER BY col_name""".stripMargin,
    "q_session_info" ->
      """SELECT 'spark_catalog' AS catalog, 'default' AS database,
        |  TRUE AS has_user, TRUE AS has_ts, '4' AS engine_major""".stripMargin,
    "q_diffgen_cli" ->
      """SELECT * FROM (VALUES
        |  ('inferred_before', 'main.orders'),
        |  ('inferred_after', 'main.orders2'),
        |  ('sql_from_before', 'true'),
        |  ('sql_from_after', 'true'),
        |  ('stack_single_line', 'true'),
        |  ('stack_is_flattened_sql', 'true')
        |) AS t(item, value)
        |ORDER BY item""".stripMargin,
    "q_hash_sample" -> {
      val h = graft.operators.Sampling.mixedHash(
        graft.functions.TextExprs.charHashDuck("CAST(o_orderkey AS VARCHAR)"))
      s"""SELECT COUNT(*) AS n_sampled,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         |  MIN(o_orderkey) AS min_key,
         |  MAX(o_orderkey) AS max_key
         |FROM orders WHERE ($h) % 10 = 0""".stripMargin
    },
    "q_setops" ->
      """SELECT 'with_orders' AS op, custkey FROM (
        |  SELECT c_custkey AS custkey FROM customer
        |  INTERSECT
        |  SELECT o_custkey FROM orders
        |)
        |UNION ALL
        |SELECT 'without_orders' AS op, custkey FROM (
        |  SELECT c_custkey AS custkey FROM customer
        |  EXCEPT
        |  SELECT o_custkey FROM orders
        |)
        |ORDER BY op, custkey""".stripMargin,
    "q_asof_join" ->
      """WITH tagged AS (
        |  SELECT event_id, ts, user_id, event_type, value, props,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_left,
        |         CASE WHEN event_type = 'click' THEN ts END AS r_ts,
        |         CASE WHEN event_type = 'click' THEN event_id END AS r_id
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), w AS (
        |  SELECT event_id, ts, user_id, event_type, value, props, is_left,
        |         last_value(r_ts IGNORE NULLS) OVER win AS asof_ts,
        |         last_value(r_id IGNORE NULLS) OVER win AS asof_event_id
        |  FROM tagged
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, is_left, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_id, ts, user_id, event_type, value, props, asof_ts, asof_event_id
        |FROM w WHERE is_left = 1 ORDER BY event_id""".stripMargin,
    "q_profile_drift" -> {
      def aggList(prefix: String) = ordersCols.map { c =>
        s"COUNT(DISTINCT $c) AS $prefix${c}_n_distinct,\n" +
          s"  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS $prefix${c}_n_nulls"
      }.mkString(",\n  ")
      s"""WITH bprof AS (
         |  SELECT ${aggList("b_")} FROM orders
         |), aprof AS (
         |  SELECT ${aggList("a_")} FROM (
         |${Tables.ordersAfterSql}
         |  )
         |)
         |SELECT * FROM bprof CROSS JOIN aprof""".stripMargin
    },
    "q_profile_sketch_drift" -> {
      def prof(prefix: String, rel: String) = ordersCols.map { c =>
        s"SELECT '$c' AS col_name, COUNT(DISTINCT $c) AS ${prefix}n_distinct,\n" +
          s"  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${prefix}n_nulls FROM $rel"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH aft AS (
         |${Tables.ordersAfterSql}
         |), bprof AS (
         |  ${prof("b_", "orders")}
         |), aprof AS (
         |  ${prof("a_", "aft")}
         |)
         |SELECT col_name, b_n_distinct, a_n_distinct, b_n_nulls, a_n_nulls,
         |       TRUE AS sketch_ok
         |FROM bprof JOIN aprof USING (col_name) ORDER BY col_name""".stripMargin
    },
    "q_window_rank" ->
      """WITH spend AS (
        |  SELECT c_mktsegment, c_custkey,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_mktsegment, c_custkey
        |), r AS (
        |  SELECT c_mktsegment, c_custkey, total_spend,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |           ORDER BY total_spend DESC, c_custkey) AS BIGINT) AS "rank"
        |  FROM spend
        |)
        |SELECT c_mktsegment, c_custkey, total_spend, "rank" FROM r
        |WHERE "rank" <= 3 ORDER BY c_mktsegment, "rank"""".stripMargin,
    "q_window_rank_fast" ->
      """WITH spend AS (
        |  SELECT c_mktsegment, c_custkey,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_mktsegment, c_custkey
        |), r AS (
        |  SELECT c_mktsegment, c_custkey, total_spend,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |           ORDER BY total_spend DESC, c_custkey) AS BIGINT) AS "rank"
        |  FROM spend
        |)
        |SELECT c_mktsegment, c_custkey, total_spend, "rank" FROM r
        |WHERE "rank" <= 3 ORDER BY c_mktsegment, "rank"""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_join_semi" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey AND o_totalprice > 400000.0)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_join_anti" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, event_type,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_value
        |FROM events ORDER BY event_id""".stripMargin,
    "q_row_counts" ->
      """SELECT 'customer' AS table_name, COUNT(*) AS row_count FROM customer
        |UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
        |UNION ALL SELECT 'orders', COUNT(*) FROM orders
        |ORDER BY table_name""".stripMargin,
    "q_events_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,
    "q_sessionize" ->
      s"""$sessionizeCtes
         |SELECT user_id, session_id, n_events, session_start, session_end
         |FROM sess ORDER BY user_id, session_id""".stripMargin,
    "q_stream_events_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,
    // session_window semantics differ from the batch lag/cumsum
    // sessionize in two pinned ways: events merge while the gap is
    // STRICTLY under 30 min (the window [start, last+gap) is
    // end-exclusive), and session_end is last-event + gap, not
    // last-event — so the oracle is its own CTE chain, not sess
    "q_stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN prev_ts IS NULL
        |                OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM e
        |), t AS (
        |  SELECT user_id, ts, value,
        |         SUM(new_session) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM s
        |)
        |SELECT MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |       user_id,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM t GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "q_stream_missing" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |WHERE event_id % 10 = 0 ORDER BY event_id""".stripMargin,
    // value_ok is the literal-TRUE-flag pattern: the exact running
    // count is pinned; the float total (summed in stream arrival
    // order) is tolerance-checked in-engine
    "q_stream_running_counts" ->
      """SELECT user_id, COUNT(*) AS n_events, TRUE AS value_ok
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_stream_scd2" ->
      // window-function reconstruction of the folded history: a
      // version exists per (user, batch) whose last-event value
      // differs from the previous appearing batch's; upsert merge
      // closes a version only when the next one opens, so valid_to =
      // next version's date, change_type = 'updated' once closed,
      // birth label only on the open row
      """WITH ev AS (
        |  SELECT event_id, user_id, value, ts, event_id % 4 AS batch FROM events
        |), lastev AS (
        |  SELECT user_id, batch, value FROM (
        |    SELECT user_id, batch, value,
        |           ROW_NUMBER() OVER (PARTITION BY user_id, batch ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev) t WHERE rn = 1
        |), marked AS (
        |  SELECT user_id, batch, value,
        |         lag(value) OVER (PARTITION BY user_id ORDER BY batch) AS prev_val
        |  FROM lastev
        |), versions AS (
        |  SELECT user_id, batch, value, (prev_val IS NULL) AS is_first
        |  FROM marked WHERE prev_val IS NULL OR value <> prev_val
        |), hist AS (
        |  SELECT user_id, value,
        |         DATE '2030-01-01' + CAST(batch AS INT) AS valid_from,
        |         DATE '2030-01-01' + CAST(lead(batch) OVER (PARTITION BY user_id ORDER BY batch) AS INT) AS valid_to,
        |         lead(batch) OVER (PARTITION BY user_id ORDER BY batch) IS NULL AS is_current,
        |         CASE WHEN lead(batch) OVER (PARTITION BY user_id ORDER BY batch) IS NOT NULL THEN 'updated'
        |              WHEN is_first THEN 'inserted' ELSE 'updated' END AS change_type
        |  FROM versions
        |)
        |SELECT user_id, value, valid_from, valid_to, is_current, change_type
        |FROM hist ORDER BY user_id, valid_from""".stripMargin,
    "q_range_join" ->
      s"""$sessionizeCtes,
         |win AS (
         |  SELECT window_id, session_start, session_end FROM (
         |    SELECT CAST(ROW_NUMBER() OVER (
         |             ORDER BY epoch_us(session_end) - epoch_us(session_start) DESC,
         |                      user_id, session_id) AS BIGINT) AS window_id,
         |           session_start, session_end
         |    FROM sess) t2 WHERE window_id <= 20
         |)
         |SELECT e2.event_id, w.window_id
         |FROM events e2 JOIN win w
         |  ON e2.ts >= w.session_start AND e2.ts <= w.session_end
         |ORDER BY window_id, event_id""".stripMargin,
    "q_range_join_auto" ->
      s"""$sessionizeCtes,
         |win AS (
         |  SELECT window_id, session_start, session_end FROM (
         |    SELECT CAST(ROW_NUMBER() OVER (
         |             ORDER BY epoch_us(session_end) - epoch_us(session_start) DESC,
         |                      user_id, session_id) AS BIGINT) AS window_id,
         |           session_start, session_end
         |    FROM sess) t2 WHERE window_id <= 20
         |)
         |SELECT e2.event_id, w.window_id
         |FROM events e2 JOIN win w
         |  ON e2.ts >= w.session_start AND e2.ts <= w.session_end
         |ORDER BY window_id, event_id""".stripMargin,
  )

  /** Shared DuckDB CTE chain producing the `sess` relation
    * (sessionization twin of [[sessionsDf]]).
    */
  private val sessionizeCtes: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events
      |), s AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN prev_ts IS NULL
      |                OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM e
      |), t AS (
      |  SELECT user_id, event_id, ts,
      |         SUM(new_session) OVER (
      |           PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM s
      |), sess AS (
      |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |    COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
      |  FROM t GROUP BY user_id, session_id
      |)""".stripMargin
}
