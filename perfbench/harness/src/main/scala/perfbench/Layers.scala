package perfbench

/** Per-layer metrics of a traced run, from its spans. Every value is
  * taken per traced pass and reported as the median over those passes,
  * so counts are whole numbers that repeat from run to run.
  */
object Layers {

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** A job fired by a DataFrame writer (`parquet at MigrationJob…`). */
  private def isWrite(caller: String): Boolean =
    Seq("parquet at ", "save at ", "insertInto at ").exists(caller.startsWith)

  def metrics(t: Tracer): Map[String, Double] = {
    val children = t.spans.groupBy(_.parent)
    def descendants(s: Span): Seq[Span] = {
      val kids = children.getOrElse(s.id, Nil).toSeq
      kids ++ kids.flatMap(descendants)
    }
    val passes = t.spans.filter(_.name.startsWith("pass:")).map(descendants).toSeq
    def perPass(f: Seq[Span] => Double): Double = median(passes.map(f))
    def sum(ss: Seq[Span])(f: Span => Double): Double = ss.map(f).sum

    val modules = Harness.Modules.map(_._1).flatMap { m =>
      def build(d: Seq[Span]) = d.filter(_.name == s"$m.build")
      def exec(d: Seq[Span]) = d.filter(_.name == s"$m.exec")
      def both(d: Seq[Span]) = build(d) ++ exec(d)
      def count(k: String)(d: Seq[Span]) = sum(both(d))(_.counts.c(k))
      def wall(d: Seq[Span]) = sum(both(d))(_.seconds)
      Seq(
        s"$m.build_s" -> perPass(d => sum(build(d))(_.seconds)),
        s"$m.exec_s" -> perPass(d => sum(exec(d))(_.seconds)),
        s"$m.parallelism" -> perPass(d =>
          if (wall(d) > 0) count("task_s")(d) / wall(d) else 0.0)) ++
        Seq("jobs", "tasks", "task_s", "shuffle_bytes", "spill_bytes",
          "single_task_stages", "unpartitioned_windows")
          .map(k => s"$m.$k" -> perPass(count(k)))
    }

    val mj = "operators.MigrationJob"
    def migrations(d: Seq[Span]) = d.filter(_.name == s"$mj.migrateSqliteFile")
    def callers(d: Seq[Span]) = migrations(d).flatMap(_.byCaller)
    def count(k: String)(d: Seq[Span]) = sum(migrations(d))(_.counts.c(k))
    val migration = Seq(
      s"$mj.jobs" -> perPass(count("jobs")),
      s"$mj.task_s" -> perPass(count("task_s")),
      s"$mj.parallelism" -> perPass { d =>
        val w = sum(migrations(d))(_.seconds)
        if (w > 0) count("task_s")(d) / w else 0.0
      },
      s"$mj.source_scans" -> perPass(count("source_scans")),
      s"$mj.write_actions" -> perPass(count("write_actions")),
      s"$mj.count_actions" -> perPass(count("count_actions")),
      s"$mj.head_actions" -> perPass(count("head_actions")),
      s"$mj.report_s" -> perPass(d => callers(d).collect {
        case (c, n) if c.contains("MigrationJob.scala") && !isWrite(c) => n.c("action_s")
      }.sum),
      "sinks.parquet_write_s" -> perPass(d => callers(d).collect {
        case (c, n) if isWrite(c) => n.c("action_s")
      }.sum),
      "sinks.parquet_write_bytes" -> perPass(count("output_bytes")))

    (modules ++ migration).toMap
  }

  /** The trace itself: every span with its parent, times relative to
    * the first span, self time, counters and per-caller job split.
    */
  def spansJson(t: Tracer): Seq[Map[String, Any]] = {
    val t0 = t.spans.headOption.map(_.startNs).getOrElse(0L)
    t.spans.toSeq.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> t.selfSeconds(s),
        "counts" -> s.counts.c.filter(_._2 != 0.0),
        "by_caller" -> s.byCaller.map { case (k, v) => k -> v.c.filter(_._2 != 0.0) })
    }
  }
}
