package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // iteration knob (driver leaves it unset → full run): restrict the
    // dump AND the emitted oracle json to a comma-separated subset so a
    // local correctness loop on one new query doesn't re-run the whole suite
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // same fail-fast as Bench: a typo'd name must error, not no-op
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(
        unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY names no known query: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // defaults in Spark 4, pinned explicitly: the scale design
      // relies on AQE re-planning + skew-join splitting (SCALE.md)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", ScratchWarehouse.dir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the engine's optimizer extensions are part of the product: keep
    // them ON for every query so (a) all oracles continuously gate the
    // custom operators and (b) plans don't depend on which query
    // happened to install them first
    graft.plans.RangeJoinRewrite.install(spark)
    graft.plans.TopKPerGroup.install(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      spark.catalog.clearCache() // operators persist hot intermediates
      graft.operators.Dedup.unpersistAll() // and register them in a JVM queue — drain it
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a STALE dump from a previous run over the same outDir must
        // not survive a failure: the oracle json is emitted for every
        // result present, so leaving it would let the comparator hash
        // last run's (matching) parquet and report this query green
        // while the current code cannot produce it
        try TmpfsScratch.deleteRecursively(Paths.get(s"$outDir/$name"))
        catch { case cleanup: Throwable =>
          // deletion failing would leave last run's parquet in place
          // AND presence-filter its oracle entry back in — the exact
          // stale-green hole the cleanup closes. Surface it loudly;
          // the selected()-based oracle emission below still forces a
          // MISSING_RESULT if the dir did get removed.
          System.err.println(
            s"[verify] $name: failed to remove stale dump: ${cleanup.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Emit oracle entries for every query SELECTED this run plus every
    // query whose RESULT exists in outDir after this run. Presence
    // keeps previously-verified dumps comparable across a later subset
    // run without flagging unselected queries MISSING_RESULT in a
    // fresh outDir; the selected() half makes a query that THREW this
    // run (dump deleted above) still surface as MISSING_RESULT in the
    // comparator instead of vanishing from the comparison entirely.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) =>
        selected(k) || Files.exists(Paths.get(s"$outDir/$k")) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
