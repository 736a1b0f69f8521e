package perfbench

import java.io.{File, PrintWriter}

/** Turns a traced run's spans into the per-layer metrics. */
object Layers {

  /** The library modules measured, one span name each: the benchmark
    * opens the spans of the calls it makes, and the tracer those of
    * `ByCallSite`.
    */
  val Names = Seq("TableDiff", "DiffSummary", "TrainingExport", "Dedup")

  /** Modules called inside `runIngest`, found by a frame of their class
    * in an execution's call stack.
    */
  val ByCallSite = Seq("Dedup" -> "graft.operators.Dedup")

  /** Counters whose per-iteration totals must repeat exactly. */
  val Deterministic = Seq("jobs", "sql_execs", "exchanges")

  val StateMetrics = Seq(
    "Dedup.state_files" -> "count", "Dedup.state_bytes" -> "bytes", "Dedup.compactions" -> "count")

  def unit(counter: String): String =
    if (counter.endsWith("_s")) "s" else if (counter.endsWith("_bytes")) "bytes" else "count"

  /** The names and units `metrics` reports, in order. */
  def declared: Seq[(String, String)] =
    Names.flatMap(l => (Seq("wall_s", "self_s") ++ Counters.Names).map(c => s"$l.$c" -> unit(c))) ++
      StateMetrics ++ Seq("trace.op_s" -> "s", "process.peak_rss_mb" -> "MB",
      "selfcheck.nondeterministic_counters" -> "count")

  private def wall(s: Span) = s.wall

  /** Wall time of `s` not covered by its child spans. */
  private def self(s: Span, spans: Seq[Span]): Double = {
    val kids = spans.filter(_.parent.contains(s.spanId)).flatMap(_.intervals).sortBy(_._1)
    var covered = 0L
    var cur = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, cur)
      if (b > from) { covered += b - from; cur = b }
    }
    wall(s) - covered / 1e9
  }

  /** Per layer: each counter's mean per call. Also writes every span,
    * with its self time, to `out` as JSON lines.
    */
  def metrics(t: Tracer, state: Map[String, Double], out: File): Seq[(String, Double, String)] = {
    val spans = t.spans.toSeq
    out.getParentFile.mkdirs()
    val w = new PrintWriter(out)
    try spans.foreach { s =>
      val cs = s.counters.c.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      w.println(s"""{"trace_id": ${s.traceId}, "span_id": ${s.spanId}, "parent": ${s.parent.getOrElse("null")}, """ +
        s""""name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
        s""""intervals_ns": [${s.intervals.map { case (a, b) => s"[$a, $b]" }.mkString(", ")}], """ +
        s""""wall_s": ${wall(s)}, "self_s": ${self(s, spans)}, $cs}""")
    } finally w.close()

    val perLayer = Names.flatMap { l =>
      val ls = spans.filter(_.name == l)
      def mean(f: Span => Double) = if (ls.isEmpty) 0.0 else ls.map(f).sum / ls.size
      Seq(s"$l.wall_s" -> mean(wall), s"$l.self_s" -> mean(self(_, spans))) ++
        Counters.Names.map(c => s"$l.$c" -> mean(_.counters.c(c)))
    }.toMap
    // determinism: every iteration's per-layer totals of the counts
    // (and the diff's shuffle bytes) must be identical
    val keys = Names.flatMap(l => Deterministic.map(l -> _)) :+ ("TableDiff" -> "shuffle_write_bytes")
    val perIter = spans.groupBy(_.traceId).toSeq.sortBy(_._1).map { case (_, ss) =>
      keys.map { case (l, c) => ss.filter(_.name == l).map(_.counters.c(c)).sum }
    }
    val unstable = keys.indices.count(i => perIter.map(_(i)).distinct.size > 1)
    if (unstable > 0)
      System.err.println("perfbench: counters differ across iterations: " +
        keys.indices.filter(i => perIter.map(_(i)).distinct.size > 1)
          .map(i => s"${keys(i)._1}.${keys(i)._2}=${perIter.map(_(i)).mkString("/")}").mkString(", "))
    val ops = spans.filter(_.name == "op").map(wall)
    val values = perLayer ++ state ++ Map(
      "trace.op_s" -> Bench.median(ops),
      "selfcheck.nondeterministic_counters" -> unstable.toDouble)
    declared.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
  }
}
