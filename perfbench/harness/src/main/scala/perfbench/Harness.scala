package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.MigrationJob
import graft.sources.{PrimaryKeyInference, SqliteFile}

/** One benchmark run in one JVM: set up, measure a closed loop for a
  * fixed time, then produce the outputs `run.py` checks. Everything is
  * driven through the library's public functions.
  *
  *   Harness <workload> <input> <warmInput> <workDir> <seconds> <seed> <trace 0|1>
  *
  * `input` is the SQLite file for `migrate_sqlite` and the parquet
  * directory otherwise; `warmInput` is a smaller input of the same kind
  * for the query workload's warm-up. Every operation writes its output
  * (staged tables, or each gate's result as parquet), so the outputs
  * left by the last timed pass are the ones checked. Raw samples go to
  * `<workDir>/result.json`.
  */
object Harness {

  /** The query workload's gates, one from every query module: headline
    * scan/aggregate (q1_pricing_summary) and merge (replacing_merge)
    * gates beside the serial-window gate (q_rfm), the many-job gates
    * (q_dq_audit, dedup_minhash), span scrubbing and the exact vector
    * scan every ANN index is measured against (ann_bruteforce).
    */
  val Gates: Seq[String] = Seq(
    "q1_pricing_summary", "replacing_merge", "q_rfm", "q_dq_audit",
    "dedup_minhash", "text_span_scrub", "ann_bruteforce")

  /** The query modules, by the gates each contributes to SparkEntry. */
  val Modules: Seq[(String, Set[String])] = Seq(
    "OlapQueries" -> graft.OlapQueries.queries.keySet,
    "EtlQueries" -> graft.EtlQueries.queries.keySet,
    "AnalyticsQueries" -> graft.AnalyticsQueries.queries.keySet,
    "RelationalQueries" -> graft.RelationalQueries.queries.keySet,
    "DedupQueries" -> graft.DedupQueries.queries.keySet,
    "TextQueries" -> graft.TextQueries.queries.keySet,
    "VectorQueries" -> graft.VectorQueries.queries.keySet)

  def moduleOf(gate: String): String =
    Modules.find(_._2.contains(gate)).map(_._1).getOrElse("other")

  val Migrate = "migrate_sqlite"
  val Setups = 3
  /** The timed loop runs at least this many operations, so a median has
    * three samples even where one operation outlasts `seconds`.
    */
  val MinOps = 3
  val Cores = 4

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Sample(pass: Int, op: String, seconds: Double, rows: Long,
                          error: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, input, warmInput, workDir, secondsArg, seedArg,
      traceArg) = args
    val work = Paths.get(workDir)
    val seconds = secondsArg.toDouble
    val seed = seedArg.toLong
    val traced = traceArg == "1"
    val ops = if (workload == Migrate) Seq("migrate") else Gates
    val out = work.resolve("out")
    var reports: Seq[MigrationJob.TableReport] = Nil

    def runOp(spark: SparkSession, op: String, in: String, out: Path,
              tr: Option[Tracer]): Long = {
      def span[T](name: String)(f: => T): T =
        tr.fold(f)(_.span(name)(f))
      if (workload == Migrate) {
        reports = span("operators.MigrationJob.migrateSqliteFile") {
          MigrationJob.migrateSqliteFile(spark, in, "bench", out.toString)
        }
        reports.map(_.rows).sum
      } else {
        val m = moduleOf(op)
        val df = span(s"$m.build")(SparkEntry.queries(op)(spark, in))
        span(s"$m.exec")(df.write.mode("overwrite").parquet(out.resolve(op).toString))
        0L
      }
    }

    def timed(pass: Int, spark: SparkSession, op: String, in: String,
              out: Path, tr: Option[Tracer]): Sample = {
      val t0 = System.nanoTime()
      val (rows, err) =
        try (runOp(spark, op, in, out, tr), "")
        catch { case NonFatal(e) => (0L, s"${e.getClass.getName}: ${e.getMessage}") }
      Sample(pass, op, (System.nanoTime() - t0) / 1e9, rows, err)
    }

    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally phases(name) = (System.nanoTime() - t0) / 1e9
    }

    // ---- set-up, several times: a fresh session plus one warm-up pass.
    // The migration warms up on its own input, the query workload on a
    // private copy of the small warm-up input, so no per-directory cache
    // carries over from one set-up to the next.
    var spark: SparkSession = null
    val setups = phase("setup") {
      (1 to Setups).map { k =>
        if (spark != null) spark.stop()
        val t0 = System.nanoTime()
        spark = session()
        val in =
          if (workload == Migrate) input
          else copyDir(Paths.get(warmInput), work.resolve(s"setup$k")).toString
        val warm = ops.map(op => timed(-k, spark, op, in, work.resolve(s"out$k"), None))
        ((System.nanoTime() - t0) / 1e9, warm)
      }
    }

    // ---- the timed closed loop: whole passes in a seeded shuffled order
    // until `seconds` have passed and MinOps operations have run. A traced
    // run alternates traced and untraced passes, so the tracing overhead
    // is measured alongside. It first runs one untraced pass over the timed
    // input and discards it, so first-touch costs on that input (footer
    // reads, JIT at the new size) fall in neither kind of pass.
    val tracer = if (traced) Some(new Tracer(spark, Paths.get(input).getFileName.toString)) else None
    if (traced) phase("first_touch")(ops.foreach(op => timed(0, spark, op, input, out, None)))
    val rnd = new scala.util.Random(seed)
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val passSeconds = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Double)]
    val loopStart = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    def loop(): Unit = while (elapsed < seconds || samples.size < MinOps ||
        (traced && pass < 2)) {
      val order = rnd.shuffle(ops)
      val tr = tracer.filter(_ => pass % 2 == 0)
      tr.foreach(_.attach())
      val p0 = System.nanoTime()
      def onePass(): Unit = order.foreach(op => samples += tr.fold(
        timed(pass, spark, op, input, out, None))(t =>
        t.span(s"op:$op")(timed(pass, spark, op, input, out, Some(t)))))
      tr.fold(onePass())(_.span(s"pass:$pass")(onePass()))
      tr.foreach(_.detach())
      passSeconds += ((tr.isDefined, (System.nanoTime() - p0) / 1e9))
      pass += 1
    }
    tracer.fold(loop())(_.span(s"workload:$workload")(loop()))
    val windowSeconds = elapsed
    phases("window") = windowSeconds
    val peakRssKb = vmHwmKb()

    // ---- per-layer calls the workload makes inside one migration,
    // timed one by one (traced runs only)
    val layerCalls: Map[String, Double] = phase("layers") {
      tracer.filter(_ => workload == Migrate)
        .map(t => migrationLayers(spark, input, t)).getOrElse(Map.empty)
    }

    // ---- oracles for the checks, outside the timed window
    if (workload != Migrate) {
      val oracles = phase("oracles")(SparkEntry.oracleSql)
      write(work.resolve("oracles.json"), ops.map { g =>
        g -> oracles.get(g).orNull }.toMap)
    }

    val layers = tracer.map(Layers.metrics(_) ++ layerCalls).getOrElse(Map.empty)
    spark.stop()

    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "phases" -> phases,
      "setup_s" -> setups.map(_._1),
      "warmup" -> setups.map(_._2.map(sampleJson)),
      "window_s" -> windowSeconds,
      "samples" -> samples.toSeq.map(sampleJson),
      "pass_s" -> passSeconds.map(p => Map("traced" -> p._1, "s" -> p._2)).toSeq,
      "peak_rss_kb" -> peakRssKb,
      "reports" -> reports.map(r => Map("table" -> r.table, "rows" -> r.rows,
        "ddl" -> r.ddl)),
      "layers" -> layers)
    write(work.resolve("result.json"), result)
    tracer.foreach(t => write(work.resolve("trace.json"), Layers.spansJson(t)))
  }

  /** Direct calls into the source, coercion and key-inference layers,
    * per table: list the catalog, read each table to a `noop` sink, read
    * and conform it, and infer a key where none is declared (as the
    * migration does). Conform's own time is the second minus the first.
    */
  private def migrationLayers(spark: SparkSession, db: String,
                              t: Tracer): Map[String, Double] = {
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    t.attach()
    val tables = t.span("sources.SqliteFile.listTables")(SqliteFile.listTables(db))
    def timedSpan(name: String)(f: => Unit): Double = {
      t.span(name)(f)
      t.spans.filter(_.name == name).last.seconds
    }
    // two rounds; each table's faster round counts
    val rounds = (1 to 2).map { _ =>
      tables.map { tdef =>
        t.span(s"table:${tdef.name}") {
          (timedSpan("sources.SqliteFile.read")(
            noop(SqliteFile.read(spark, db, tdef))),
           timedSpan("functions.Coercions.conform")(
            noop(MigrationJob.conform(SqliteFile.read(spark, db, tdef)))))
        }
      }
    }
    tables.filter(_.primaryKey.isEmpty).foreach { tdef =>
      t.span("sources.PrimaryKeyInference.infer")(PrimaryKeyInference.infer(
        SqliteFile.read(spark, db, tdef), tdef.name.toLowerCase))
    }
    t.detach()
    val best = rounds.transpose.map(rs => (rs.map(_._1).min, rs.map(_._2).min))
    def named(name: String) = t.spans.filter(_.name == name)
    def total(name: String) = named(name).map(_.seconds).sum
    Map(
      "sources.PrimaryKeyInference.infer_s" ->
        total("sources.PrimaryKeyInference.infer"),
      "sources.PrimaryKeyInference.jobs" ->
        named("sources.PrimaryKeyInference.infer").map(_.counts.c("jobs")).sum,
      "sources.SqliteFile.listTables_s" -> total("sources.SqliteFile.listTables"),
      "sources.SqliteFile.read_s" -> best.map(_._1).sum,
      "functions.Coercions.conform_s" -> best.map(b => b._2 - b._1).sum)
  }

  private def sampleJson(s: Sample): Map[String, Any] = Map(
    "pass" -> s.pass, "op" -> s.op, "s" -> s.seconds,
    "rows" -> s.rows, "error" -> s.error)

  private def vmHwmKb(): Long = {
    val it = scala.io.Source.fromFile("/proc/self/status")
    try it.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally it.close()
  }

  private def copyDir(from: Path, to: Path): Path = {
    Files.createDirectories(to)
    Files.list(from).forEach { f =>
      Files.copy(f, to.resolve(f.getFileName),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    to
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Writes the harness's own result maps as JSON. */
  private def write(p: Path, v: Any): Unit = mapper.writeValue(p.toFile, v)
}
