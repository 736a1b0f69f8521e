package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded BEFORE/AFTER table pairs for the diff workload, plus the
  * truth the generator knows about them.
  *
  * Every cell is a pure function of (seed, row id, column index)
  * through one 64-bit mix, evaluated in plain Scala inside the tasks
  * that write the tables. The same functions, summed over the ids
  * without building either side, give the expected diff: which keys
  * were dropped or added, and which cells changed and how. No code of
  * the diff library is used to derive the truth.
  *
  * Per key id:
  *  - only in BEFORE (~1%), only in AFTER (~1%), otherwise in both;
  *  - per cell: NULL in BEFORE with probability `nullPct`%; changed in
  *    AFTER with probability `changeBp`/10000 — a NULL BEFORE cell
  *    becomes non-NULL (status 2), a non-NULL one becomes NULL one
  *    time in four (status 3), else takes a different value
  *    (status 1).
  */
final case class DiffShape(
    name: String,
    keySpace: Long,
    /** number of value columns */
    width: Int,
    /** column types, cycled: "int", "long", "double", "string", "date" */
    types: Seq[String],
    nullPct: Int,
    /** per-cell change probability in 1/10000 */
    changeBp: Int,
    /** columns whose per-status counts are checked against the truth */
    checked: Seq[Int])

/** Expected result of one diff, from the generator alone. */
final case class DiffTruth(
    total: Long, both: Long, missingInBefore: Long, missingInAfter: Long,
    rowsWithCellDiffs: Long,
    /** column name -> counts of status 1, 2, 3 over present-both rows */
    cellCounts: Map[String, (Long, Long, Long)])

object DiffGen {

  val Keys = Seq("k1", "k2")

  def colName(i: Int): String = f"c$i%03d"

  /** splitmix64's finalizer */
  private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def hash(seed: Long, id: Long, salt: Long): Long =
    mix(mix(seed * 0x9e3779b97f4a7c15L + salt) ^ id)

  /** 0 = only in BEFORE, 1 = only in AFTER, else in both */
  private def side(seed: Long, id: Long): Int =
    java.lang.Math.floorMod(hash(seed, id, -1L), 100L).toInt

  /** One cell's draws: BEFORE NULL, changed, changed-to-NULL. */
  private final class Cell(h: Long, s: DiffShape) {
    private def draw(shift: Int, m: Int) = ((h >>> shift) & 0xffffffL) % m
    val bNull: Boolean = draw(8, 100) < s.nullPct
    val ch: Boolean = draw(32, 10000) < s.changeBp
    val flip: Boolean = draw(56, 4) == 0
    val v: Long = (h >>> 1) % 1000000L
  }

  private def value(t: String, v: Long, changed: Boolean): Any = {
    val x = if (changed) v + 1 else v
    t match {
      case "int" => x.toInt
      case "long" => x * 1000003L
      case "double" => x / 100.0 + (if (changed) 0.005 else 0.0)
      case "string" => if (changed) s"s${v}x" else s"s$v"
      case "date" => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(10957L + x % 9000L))
    }
  }

  private def sparkType(t: String): DataType = t match {
    case "int" => IntegerType
    case "long" => LongType
    case "double" => DoubleType
    case "string" => StringType
    case "date" => DateType
  }

  private def typeOf(s: DiffShape, i: Int): String = s.types(i % s.types.size)

  /** BEFORE (`after = false`) or AFTER row of key `id`. */
  private def row(s: DiffShape, seed: Long, id: Long, after: Boolean): Row = {
    val keys = Seq[Any]((id * 2654435761L) & 0xffffffffL, (id % 3).toInt)
    val cells = (0 until s.width).map { i =>
      val c = new Cell(hash(seed, id, i), s)
      val t = typeOf(s, i)
      if (!after || !c.ch) (if (c.bNull) null else value(t, c.v, changed = false))
      else if (c.bNull) value(t, c.v, changed = false)
      else if (c.flip) null
      else value(t, c.v, changed = true)
    }
    Row.fromSeq(keys ++ cells)
  }

  private def schema(s: DiffShape): StructType = StructType(
    Seq(StructField("k1", LongType, nullable = false), StructField("k2", IntegerType, nullable = false)) ++
      (0 until s.width).map(i => StructField(colName(i), sparkType(typeOf(s, i)))))

  /** Write the BEFORE and AFTER tables of `s` under `seed`. */
  def write(spark: SparkSession, s: DiffShape, seed: Long,
      beforeTbl: String, afterTbl: String): Unit = {
    val parts = spark.sparkContext.defaultParallelism
    Seq((beforeTbl, false, 1), (afterTbl, true, 0)).foreach { case (tbl, after, absent) =>
      val rows = spark.sparkContext.range(0L, s.keySpace, numSlices = parts)
        .filter(id => side(seed, id) != absent)
        .map(id => row(s, seed, id, after))
      spark.createDataFrame(rows, schema(s))
        .write.format("parquet").saveAsTable(tbl)
    }
  }

  /** The expected diff of `write(s, seed)`, from the draws alone. */
  def truth(spark: SparkSession, s: DiffShape, seed: Long): DiffTruth = {
    val k = s.checked.size
    // [total, both, only AFTER, only BEFORE, rows with a cell diff,
    //  then status 1, 2, 3 per checked column]
    val sums = spark.sparkContext.range(0L, s.keySpace).map { id =>
      val a = new Array[Long](5 + 3 * k)
      val sd = side(seed, id)
      a(0) = 1
      if (sd == 1) a(2) = 1
      else if (sd == 0) a(3) = 1
      else {
        a(1) = 1
        val cells = (0 until s.width).map(i => new Cell(hash(seed, id, i), s))
        if (cells.exists(_.ch)) a(4) = 1
        s.checked.zipWithIndex.foreach { case (i, j) =>
          val c = cells(i)
          if (c.ch) a(5 + 3 * j + (if (c.bNull) 1 else if (c.flip) 2 else 0)) = 1
        }
      }
      a
    }.reduce((x, y) => x.zip(y).map { case (p, q) => p + q })
    val cellCounts = s.checked.zipWithIndex.map { case (i, j) =>
      colName(i) -> ((sums(5 + 3 * j), sums(6 + 3 * j), sums(7 + 3 * j)))
    }.toMap
    DiffTruth(sums(0), sums(1), sums(2), sums(3), sums(4), cellCounts)
  }

  /** What a written diff table actually holds, in the truth's shape:
    * one aggregate job over the table, outside any timed span.
    */
  def observed(diff: DataFrame, summary: Row, cols: Iterable[String]): DiffTruth = {
    val both = col("_row_status").isNull
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val cs = cols.toSeq
    val aggs = cs.flatMap(c => Seq(cnt(both && col(c) === 1), cnt(both && col(c) === 2),
      cnt(both && col(c) === 3)))
    val r = diff.agg(aggs.head, aggs.tail: _*).head()
    val cellCounts = cs.zipWithIndex.map { case (c, j) =>
      c -> ((r.getLong(3 * j), r.getLong(3 * j + 1), r.getLong(3 * j + 2)))
    }.toMap
    DiffTruth(
      summary.getAs[Long]("total_rows"), summary.getAs[Long]("rows_in_both"),
      summary.getAs[Long]("missing_in_before"), summary.getAs[Long]("missing_in_after"),
      summary.getAs[Long]("rows_with_cell_diffs"), cellCounts)
  }
}
