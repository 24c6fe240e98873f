package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import graft.sources.{CatalogDiscovery, ChType, PrimaryKeyInference,
  SchemaMapper, SqliteFile}
import graft.functions.Coercions
import graft.sinks.ClickHouseDdl

/** Whole-catalog migration pipeline — the reference's main loop
  * (main.py:138-182) re-expressed as one declarative Spark job per
  * table:
  *
  *   discover tables -> map schema -> coerce columns -> chunked write
  *
  * Each table is read once and written once. Chunking (main.py:106-116,
  * chunk_size=10000 default) maps to `maxRecordsPerFile` on the write:
  * output files are bounded-size batches, produced in parallel by every
  * executor, instead of a single driver-side cursor loop. The report's
  * row count and per-column counters are gathered by an `Observation`
  * on that same write, so nothing re-scans the source afterwards; key
  * inference (when the source declares no key) is one aggregation over
  * the staged output. DDL for the target engine comes from
  * ClickHouseDdl; the data lands as parquet (or through any Spark
  * writer) already conforming to the mapped schema.
  */
object MigrationJob {

  /** One migrated table. `rows` and the per-column counters come from
    * the write pass itself: `nullsDefaulted` counts the NULLs
    * null-as-default replaced (every column whose target type has a
    * default), `temporalUnparsed` the non-blank Date/DateTime values the
    * lenient parse left NULL, `uintsWrapped` the UInt32/UInt64 values
    * the wraparound mask changed.
    */
  final case class TableReport(table: String, rows: Long, ddl: String,
                               nullsDefaulted: Map[String, Long] = Map.empty,
                               temporalUnparsed: Map[String, Long] = Map.empty,
                               uintsWrapped: Map[String, Long] = Map.empty)

  /** Coerce every column of `df` to its mapped target type with
    * null-as-default semantics (main.py:81-104).
    */
  def conform(df: DataFrame): DataFrame =
    conform(df, SchemaMapper.mapSchema(df.schema))

  /** Coerce every column of `df` to the given target type. */
  def conform(df: DataFrame, target: Seq[(String, ChType)]): DataFrame =
    df.select(Coercions.coerceRow(target): _*)

  /** How long a report waits for its write pass's observed metrics,
    * which arrive on the listener bus right after the write returns.
    */
  private val ObservedWait = 2.minutes

  /** The write pass's counters over the SOURCE columns, as named
    * aggregates for `Dataset.observe`.
    */
  private def counters(target: Seq[(String, ChType)]): Seq[Column] = {
    def n(name: String, cond: Column) = count(when(cond, true)).as(name)
    count(lit(1)).as("rows") +: target.flatMap { case (name, t) =>
      val c = col(name)
      val nulls = n(s"null:$name", c.isNull)
      val v = c.cast(LongType)
      t match {
        case ChType.Date | ChType.DateTime =>
          Seq(n(s"unparsed:$name", trim(c.cast(StringType)) =!= "" &&
            Coercions.nullAsDefault(c, t).isNull))
        case ChType.UInt32 =>
          Seq(nulls, n(s"wrapped:$name", v < 0L || v > 0xFFFFFFFFL))
        case ChType.UInt64 => Seq(nulls, n(s"wrapped:$name", v < 0L))
        case ChType.Arr(_) => Nil
        case _ => Seq(nulls)
      }
    }
  }

  /** `df` conformed to `target` with the write-pass counters attached:
    * the one action that writes the result also fills the Observation.
    */
  private def observedConform(df: DataFrame,
                              target: Seq[(String, ChType)])
      : (DataFrame, Observation) = {
    val obs = Observation()
    val cs = counters(target)
    (conform(df.observe(obs, cs.head, cs.tail: _*), target), obs)
  }

  /** The metrics of an Observation whose action has run; fails loudly
    * rather than wait forever if the writer never reported them.
    */
  private def observed(obs: Observation): Row =
    try Await.result(obs.future, ObservedWait)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"write pass reported no observed metrics in $ObservedWait", e)
    }

  private def report(table: String, ddl: String, m: Row): TableReport = {
    def counts(prefix: String): Map[String, Long] =
      m.schema.fieldNames.collect {
        case f if f.startsWith(prefix) =>
          f.stripPrefix(prefix) -> m.getAs[Long](f)
      }.toMap
    TableReport(table, m.getAs[Long]("rows"), ddl, counts("null:"),
      counts("unparsed:"), counts("wrapped:"))
  }

  private def keyText(cols: Seq[String]): String = cols match {
    case Seq(one) => one
    case many     => many.mkString("(", ", ", ")")
  }

  /** Migrate one table: conform + bounded-batch write (main.py:157-179).
    *
    * `target` gives each column's target type; empty (the default) maps
    * them from `df`'s Spark schema. The row count and counters come from
    * the write pass (see [[TableReport]]).
    *
    * ORDER BY resolution (main.py:124): an explicit `primaryKey` wins
    * (the declared-pk path — PRAGMA via JDBC); otherwise, when
    * `inferPk`, [[graft.sources.PrimaryKeyInference]] derives a
    * data-confirmed key from the schema naming convention, in one
    * aggregation over the staged output (read back with the conformed
    * schema, so no footer is read to infer it); otherwise the DDL falls
    * back to `tuple()` like the reference with a pk-less table.
    * Composite keys render as `(a, b)`.
    */
  def migrateTable(df: DataFrame, database: String, table: String,
                   outDir: String, chunkSize: Long = 10000L,
                   primaryKey: Option[String] = None,
                   inferPk: Boolean = true,
                   target: Seq[(String, ChType)] = Nil): TableReport = {
    val types =
      if (target.nonEmpty) target else SchemaMapper.mapSchema(df.schema)
    val (conformed, obs) = observedConform(df, types)
    val path = s"$outDir/$table"
    conformed.write
      .mode("overwrite")
      .option("maxRecordsPerFile", chunkSize)
      .parquet(path)
    val m = observed(obs)
    val orderBy = primaryKey.orElse {
      if (inferPk)
        PrimaryKeyInference.infer(
          df.sparkSession.read.schema(conformed.schema).parquet(path), table,
          rows = Some(m.getAs[Long]("rows"))).map(keyText)
      else None
    }
    report(table,
      ClickHouseDdl.createTableOf(database, table, types, orderBy), m)
  }

  /** Full catalog migration (main.py:157: for table in tables). Tables
    * are independent — at cluster scale each is its own job and they
    * can be submitted concurrently; rows stream through executors, the
    * driver only sees per-table counts.
    */
  def migrateAll(spark: SparkSession, srcDir: String, database: String,
                 outDir: String, chunkSize: Long = 10000L): Seq[TableReport] =
    CatalogDiscovery.listTables(spark, srcDir).map { t =>
      val df = spark.read.parquet(s"$srcDir/$t.parquet")
      migrateTable(df, database, t, outDir, chunkSize)
    }

  /** The reference's loop over a REAL SQLite FILE with no JDBC driver
    * at all: [[graft.sources.SqliteFile]] reads the database bytes
    * directly (main.py:140-145 without the sqlite3 module), through its
    * DataSource V2 `format("sqlite")`. Each table is one scan in at most
    * `min(maxPartitions, spark.sql.leafNodeDefaultParallelism)` tasks of
    * contiguous b-tree subtrees, written once; nothing reads the source
    * again.
    *
    * Types follow the DECLARED column types (main.py:118-136 through
    * `ColumnDef.chType`), so DATE/DATETIME text is parsed leniently
    * (main.py:18-37) into `Date`/`DateTime`. BLOB columns (declared
    * BLOB or undeclared, SQLite's BLOB affinity) keep their bytes as
    * binary, declared `String` — a ClickHouse String is a byte string —
    * rather than passing through the reference's `str()`. The declared
    * pk comes from the parsed CREATE TABLE (the PRAGMA-table_info
    * equivalent, main.py:124); tables without one go to key inference.
    */
  def migrateSqliteFile(spark: SparkSession, dbPath: String,
                        database: String, outDir: String,
                        chunkSize: Long = 10000L,
                        maxPartitions: Int = 32): Seq[TableReport] =
    SqliteFile.listTables(dbPath).map { t =>
      val df = spark.read.format("sqlite")
        .option("path", dbPath).option("table", t.name)
        .option("maxPartitions", maxPartitions.toLong)
        .load()
      val target = t.columns.map { c =>
        c.name -> (if (SqliteFile.isBlob(c)) ChType.Binary else c.chType)
      }
      val declared =
        if (t.primaryKey.isEmpty) None else Some(keyText(t.primaryKey))
      migrateTable(df, database, t.name.toLowerCase, outDir, chunkSize,
        declared, target = target)
    }

  /** The reference's ACTUAL loop, end-to-end over a live JDBC source
    * (main.py:138-182): discover tables, read each partitioned on its
    * declared key, conform, chunk-write, emit pk-driven DDL. The
    * declared pk (DatabaseMetaData) takes precedence; tables without
    * one fall through to [[graft.sources.PrimaryKeyInference]]'s
    * heuristic inside migrateTable. Proven in-sandbox against embedded
    * Derby (JdbcMigrationSpec); identical calls serve SQLite once its
    * driver is on the classpath.
    */
  def migrateJdbc(spark: SparkSession, url: String, database: String,
                  outDir: String, chunkSize: Long = 10000L,
                  numPartitions: Int = 8): Seq[TableReport] = {
    import graft.sources.JdbcCatalog
    JdbcCatalog.listTables(url).map { t =>
      val pk = JdbcCatalog.primaryKey(url, t)
      val df = JdbcCatalog.readTable(spark, url, t,
        JdbcCatalog.partitionKey(spark, url, t), numPartitions)
      val declared = if (pk.isEmpty) None else Some(keyText(pk))
      migrateTable(df, database, t.toLowerCase, outDir, chunkSize, declared)
    }
  }

  /** LIVE JDBC→JDBC migration (round 14 — the write half of the loop
    * with BOTH ends live, reference main.py:138-179): discover +
    * pk-partitioned read from the source catalog, conform each table
    * (null-as-default, wraparound, temporal parsing — exactly what the
    * staging path runs), then CHUNKED-batch write into the target over
    * JDBC (`batchsize` = the reference's chunk_size: every executor
    * flushes bounded INSERT batches in parallel — the distributed
    * fetchmany loop). The source is extracted once: the report's row
    * count and counters are observed in the JDBC write itself. Returns
    * the same TableReports as the staging path: the ClickHouse DDL
    * carried in each report is what the identical plan executes against
    * a real cluster; an offline JDBC engine stands in for ClickHouse
    * exactly as in the dry-run story, with Spark's target dialect
    * supplying the local CREATE TABLE.
    */
  def migrateJdbcLive(spark: SparkSession, srcUrl: String, dstUrl: String,
                      dstProps: java.util.Properties, database: String,
                      chunkSize: Long = 10000L,
                      numPartitions: Int = 8): Seq[TableReport] = {
    import graft.sources.JdbcCatalog
    JdbcCatalog.listTables(srcUrl).map { t =>
      val pk = JdbcCatalog.primaryKey(srcUrl, t)
      val df = JdbcCatalog.readTable(spark, srcUrl, t,
        JdbcCatalog.partitionKey(spark, srcUrl, t), numPartitions)
      val (conformed, obs) =
        observedConform(df, SchemaMapper.mapSchema(df.schema))
      conformed.write.mode("overwrite")
        .option("batchsize", chunkSize)
        .jdbc(dstUrl, t.toLowerCase, dstProps)
      val declared = if (pk.isEmpty) None else Some(keyText(pk))
      val ddl = ClickHouseDdl.createTable(database, t.toLowerCase,
        conformed.schema, declared)
      report(t.toLowerCase, ddl, observed(obs))
    }
  }
}
