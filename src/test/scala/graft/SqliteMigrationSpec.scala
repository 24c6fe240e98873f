package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._

import graft.operators.MigrationJob
import graft.sources.SqliteFile

/** The SQLite-file migration as one observed pass over the committed
  * fixture (tools/make_sqlite_fixture.py): each table is scanned once
  * in core-sized tasks and written once, its report is observed in that
  * write, and the declared column types drive the conform.
  */
class SqliteMigrationSpec extends SparkFunSuite {

  private val db = "src/test/resources/sqlite/fixture.db"

  private def withOut[T](f: String => T): T = {
    val out = java.nio.file.Files.createTempDirectory("graft_sqlite_mig").toString
    try f(out)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("contiguousGroups: at most n groups, sizes within one, order kept") {
    val xs = 1 to 10
    val g = SqliteFile.contiguousGroups(xs, 4)
    assert(g.map(_.size) === Seq(3, 3, 2, 2))
    assert(g.flatten === xs)
    assert(SqliteFile.contiguousGroups(xs, 32).map(_.size) === Seq.fill(10)(1))
    assert(SqliteFile.contiguousGroups(xs, 1) === Seq(xs))
    assert(SqliteFile.contiguousGroups(Seq.empty[Int], 4).isEmpty)
  }

  test("a full or rowid-range scan plans min(maxPartitions, " +
      "leafNodeDefaultParallelism) tasks and loses no row") {
    // 400 rows under a root with 35 level-1 subtrees
    val cdc = "src/test/resources/sqlite/cdc_v1.db"
    val events = SqliteFile.listTables(cdc).find(_.name == "events").get
    assert(SqliteFile.subtreeRoots(cdc, events).size === 35)
    def load(maxParts: Int) = spark.read.format("sqlite")
      .option("path", cdc).option("table", "events")
      .option("maxPartitions", maxParts.toLong).load()
    // local[4]: the leaf parallelism defaults to the 4 cores
    assert(load(32).rdd.getNumPartitions === 4)
    assert(load(3).rdd.getNumPartitions === 3)
    assert(load(32).where(col("id") > 100L).rdd.getNumPartitions === 4)
    assert(load(32).where(col("id") > 100L).count() === 300L)
    val key = "spark.sql.leafNodeDefaultParallelism"
    spark.conf.set(key, "2")
    try {
      assert(load(32).rdd.getNumPartitions === 2)
      assert(load(32).count() === 400L)
    } finally spark.conf.unset(key)
  }

  test("typed: declared DATE/DATETIME parse to Date/DateTime, the BLOB " +
      "stays binary; DDL, values and observed counters pinned") {
    withOut { out =>
      val reports = MigrationJob.migrateSqliteFile(spark, db, "db", out)
      val typed = reports.find(_.table == "typed").get
      assert(typed.ddl === "CREATE TABLE IF NOT EXISTS db.typed (id Int64, " +
        "i1 Int64, i2 Int64, i3 Int64, i4 Int64, i6 Int64, i8 Int64, " +
        "r Float64, t String, v String, b String, flag String, " +
        "dt DateTime, d Date) ENGINE = ReplacingMergeTree ORDER BY id")
      val staged = spark.read.parquet(s"$out/typed")
      assert(staged.schema("dt").dataType === TimestampType)
      assert(staged.schema("d").dataType === DateType)
      assert(staged.schema("b").dataType === BinaryType)
      val rows = staged.orderBy("id").select(
        date_format(col("dt"), "yyyy-MM-dd HH:mm:ss"),
        col("d").cast(StringType), col("b"), col("flag"), col("v"),
        col("i3"), col("r"), col("t")).collect()
      assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq === Seq(
        ("2024-03-01 12:34:56", "2024-03-01"),
        ("1999-12-31 23:59:59", "1999-12-31"),
        (null, null))) // NULL temporals stay NULL, as in the reference
      assert(rows.map(_.getAs[Array[Byte]](2).toSeq).toSeq === Seq(
        Seq(0x00, 0x01, 0xfe, 0xff).map(_.toByte), Seq.empty, Seq.empty))
      assert(rows.map(_.getString(3)).toSeq === Seq("1", "0", ""))
      assert(rows(1).getString(4) === "") // NULL VARCHAR -> ''
      assert(rows(2).getLong(5) === 0L && rows(2).getDouble(6) === 0.0 &&
        rows(2).getString(7) === "")

      // counted in the write pass: row 3 holds the NULLs, row 2's v and
      // no temporal value is non-blank yet unparseable
      assert(typed.rows === 3L)
      assert(typed.nullsDefaulted === Map("id" -> 0L, "i1" -> 0L, "i2" -> 0L,
        "i3" -> 1L, "i4" -> 1L, "i6" -> 1L, "i8" -> 1L, "r" -> 1L, "t" -> 1L,
        "v" -> 1L, "b" -> 1L, "flag" -> 1L))
      assert(typed.temporalUnparsed === Map("dt" -> 0L, "d" -> 0L))
      assert(typed.uintsWrapped.isEmpty)
      assert(reports.map(r => r.table -> r.rows).toMap === Map("typed" -> 3L,
        "big" -> 6000L, "pair" -> 3L, "altered" -> 3L, "wr" -> 5001L,
        "wr_small" -> 3L))
    }
  }

  test("each table is scanned once, by its write; no count or re-scan") {
    withOut { out =>
      val (reports, actions) =
        ActionLog(spark)(MigrationJob.migrateSqliteFile(spark, db, "db", out))
      def scansSqlite(a: ActionLog.Action) = a.nodes.exists {
        case s: BatchScanExec => s.table.name().startsWith("sqlite:")
        case _ => false
      }
      val scans = actions.filter(scansSqlite)
      assert(scans.size === reports.size, actions.map(_.name))
      assert(scans.forall(a => Set("command", "save").contains(a.name)),
        scans.map(_.name))
      assert(!actions.exists(_.name == "count"), actions.map(_.name))
    }
  }
}
