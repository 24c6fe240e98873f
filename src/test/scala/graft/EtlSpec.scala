package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{ChType, SchemaMapper}
import graft.functions.Coercions
import graft.operators.ReplacingMerge
import graft.sinks.ClickHouseDdl

class SchemaMapperSpec extends SparkFunSuite {
  test("sqlite declared types map like the reference (main.py:125-134)") {
    assert(SchemaMapper.fromSqliteDecl("INTEGER") == ChType.Int64)
    assert(SchemaMapper.fromSqliteDecl("int") == ChType.Int64)
    assert(SchemaMapper.fromSqliteDecl("REAL") == ChType.Float64)
    assert(SchemaMapper.fromSqliteDecl("FLOAT") == ChType.Float64)
    assert(SchemaMapper.fromSqliteDecl("VARCHAR") == ChType.Str)
    assert(SchemaMapper.fromSqliteDecl("TEXT") == ChType.Str)
    assert(SchemaMapper.fromSqliteDecl("DATETIME") == ChType.DateTime)
    assert(SchemaMapper.fromSqliteDecl("DATE") == ChType.Date)
    assert(SchemaMapper.fromSqliteDecl("BLOB") == ChType.Str) // unknown -> String
  }

  test("value-based inference matches main.py:39-54") {
    assert(SchemaMapper.fromValue(true) == ChType.Bool)
    assert(SchemaMapper.fromValue(-1) == ChType.Int32)
    assert(SchemaMapper.fromValue(7) == ChType.UInt32)
    assert(SchemaMapper.fromValue(4294967295L) == ChType.UInt32)
    assert(SchemaMapper.fromValue(4294967296L) == ChType.UInt64)
    assert(SchemaMapper.fromValue(1.5) == ChType.Float64)
    assert(SchemaMapper.fromValue("x") == ChType.Str)
    assert(SchemaMapper.fromValue(Symbol("odd")) == ChType.Str)
  }

  test("spark schema mapping covers the test tables") {
    val li = Tables.lineitem(spark, sf)
    val m = SchemaMapper.mapSchema(li.schema).toMap
    assert(m("l_orderkey") == ChType.Int64)
    assert(m("l_linenumber") == ChType.Int32)
    assert(m("l_quantity") == ChType.Float64)
    assert(m("l_returnflag") == ChType.Str)
    assert(m("l_shipdate") == ChType.DateTime)
    val emb = Tables.embeddings(spark, sf)
    assert(SchemaMapper.mapSchema(emb.schema).toMap.apply("embedding") ==
      ChType.Arr(ChType.Float32))
  }
}

class CoercionsSpec extends SparkFunSuite {
  import spark.implicits._

  test("parseDateTime drops fractional seconds and nulls malformed") {
    val df = Seq(
      "2024-07-25 15:04:42.056",
      "2024-07-25 15:04:42",
      " 2024-01-01 00:00:00.999999 ",
      "not a date", "", "  ", "2024-13-01 00:00:00"
    ).toDF("s").select(Coercions.parseDateTime($"s").as("t"))
    val got = df.collect().map(r => Option(r.get(0)).map(_.toString))
    assert(got(0).contains("2024-07-25 15:04:42.0"))
    assert(got(1).contains("2024-07-25 15:04:42.0"))
    assert(got(2).contains("2024-01-01 00:00:00.0"))
    assert(got(3).isEmpty && got(4).isEmpty && got(5).isEmpty && got(6).isEmpty)
  }

  test("parseDate strict yyyy-MM-dd") {
    val df = Seq("2024-07-25", " 2024-07-25 ", "2024-13-45", "", "x")
      .toDF("s").select(Coercions.parseDate($"s").as("d"))
    val got = df.collect().map(r => Option(r.get(0)).map(_.toString))
    assert(got(0).contains("2024-07-25"))
    assert(got(1).contains("2024-07-25"))
    assert(got(2).isEmpty && got(3).isEmpty && got(4).isEmpty)
  }

  test("uint32 wraparound masks like main.py:89") {
    val df = Seq(-1L, 4294967296L, 5L).toDF("x")
      .select(Coercions.toUInt32($"x").as("u"))
    assert(df.as[Long].collect().toSeq == Seq(4294967295L, 0L, 5L))
  }

  test("nullAsDefault fills typed zeros") {
    val df = Seq((Option.empty[Long], Option.empty[Double], Option.empty[String]))
      .toDF("i", "f", "s")
      .select(
        Coercions.nullAsDefault($"i", ChType.Int64).as("i"),
        Coercions.nullAsDefault($"f", ChType.Float64).as("f"),
        Coercions.nullAsDefault($"s", ChType.Str).as("s"))
    val r = df.collect()(0)
    assert(r.getLong(0) == 0L && r.getDouble(1) == 0.0 && r.getString(2) == "")
  }
}

class ReplacingMergeSpec extends SparkFunSuite {
  import spark.implicits._

  test("latestByKey keeps max version per key; both strategies agree") {
    val df = Seq(
      (1L, "a", 1L, 10.0), (1L, "a", 3L, 30.0), (1L, "a", 2L, 20.0),
      (2L, "b", 5L, 50.0)
    ).toDF("k1", "k2", "ver", "v")
    val byAgg = ReplacingMerge.latestByKey(df, Seq("k1", "k2"), Seq($"ver"))
      .orderBy("k1").collect().toSeq
    val byWin = ReplacingMerge.latestByKeyWindow(df, Seq("k1", "k2"), Seq($"ver"))
      .orderBy("k1").collect().toSeq
    assert(byAgg == byWin)
    assert(byAgg.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))) ==
      Seq((1L, 3L, 30.0), (2L, 5L, 50.0)))
  }

  test("optimize dedups and repartitions by key") {
    val ev = Tables.events(spark, sf)
    val merged = ReplacingMerge.optimize(ev, Seq("user_id", "event_type"),
      Seq($"ts_us", $"event_id"), numPartitions = Some(4))
    val keys = merged.select("user_id", "event_type").distinct().count()
    assert(merged.count() == keys)
  }

  test("latestByKeyWithDeletes: tombstone winner removes the key") {
    val df = Seq(
      (1L, 1L, 10.0, 0), (1L, 2L, 20.0, 1),  // latest is deleted -> gone
      (2L, 1L, 30.0, 1), (2L, 2L, 40.0, 0),  // deletion superseded -> kept
      (3L, 1L, 50.0, 0)                       // plain key -> kept
    ).toDF("k", "ver", "v", "del")
    val got = ReplacingMerge.latestByKeyWithDeletes(
        df, Seq("k"), Seq($"ver"), $"del")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == Seq((2L, 40.0), (3L, 50.0)))
  }

  test("collapse: net-negative and balanced keys vanish; latest +1 represents") {
    val df = Seq(
      (1L, 1L, 10.0, 1), (1L, 2L, 11.0, -1),            // balanced -> gone
      (2L, 1L, 20.0, 1), (2L, 2L, 21.0, 1), (2L, 3L, 22.0, -1), // net +1
      (3L, 1L, 30.0, -1)                                 // net -1 -> gone
    ).toDF("k", "ver", "v", "sign")
    val got = ReplacingMerge.collapse(df, Seq("k"), $"sign", Seq($"ver"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // survivor is key 2's latest +1 row (ver 2), not the -1 at ver 3
    assert(got == Seq((2L, 2L, 21.0)))
  }

  test("summingMerge: numerics sum, the rest comes from the latest row") {
    val df = Seq(
      (1L, 1L, 10.0, "first"), (1L, 2L, 5.0, "last"),
      (2L, 7L, 1.5, "only")
    ).toDF("k", "ver", "v", "tag")
    val got = ReplacingMerge.summingMerge(df, Seq("k"), Seq("v"), Seq($"ver"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(3))).toSeq
    assert(got == Seq((1L, 15.0, "last"), (2L, 1.5, "only")))
  }

  test("summingMerge: every non-key column summed (no representative)") {
    val df = Seq((1L, 10.0, 1L), (1L, 5.0, 2L), (2L, 1.5, 1L))
      .toDF("k", "v", "n")
    val got = ReplacingMerge.summingMerge(df, Seq("k"), Seq("v", "n"), Seq($"v"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 15.0, 3L), (2L, 1.5, 1L)))
  }
}

class DdlSpec extends SparkFunSuite {
  test("createTable emits ReplacingMergeTree DDL (main.py:65-71)") {
    val schema = Tables.events(spark, sf).schema
    val ddl = ClickHouseDdl.createTable("db", "events", schema, Some("event_id"))
    assert(ddl.startsWith("CREATE TABLE IF NOT EXISTS db.events ("))
    assert(ddl.contains("event_id Int64"))
    assert(ddl.contains("ts_ns Int64"))
    assert(ddl.contains("value Float64"))
    // DateTime mapping exercised on a real timestamp column:
    val liDdl = ClickHouseDdl.createTable("db", "lineitem",
      Tables.lineitem(spark, sf).schema, Some("l_orderkey"))
    assert(liDdl.contains("l_shipdate DateTime"))
    assert(ddl.contains("ENGINE = ReplacingMergeTree ORDER BY event_id"))
    val noPk = ClickHouseDdl.createTable("db", "t", schema, None)
    assert(noPk.endsWith("ORDER BY tuple()"))
  }
}

class PrimaryKeyInferenceSpec extends SparkFunSuite {
  import graft.sources.PrimaryKeyInference

  test("single-column keys inferred and data-confirmed across the catalog") {
    for ((t, want) <- Seq("events" -> "event_id", "orders" -> "o_orderkey",
        "customer" -> "c_custkey", "documents" -> "doc_id",
        "embeddings" -> "vec_id", "nation" -> "n_nationkey",
        "region" -> "r_regionkey", "supplier" -> "s_suppkey",
        "part" -> "p_partkey")) {
      assert(PrimaryKeyInference.infer(Tables(spark, sf, t), t)
        .contains(Seq(want)), t)
    }
  }

  test("no unique candidate prefix -> None (synthetic lineitem even dups its TPC-H pk)") {
    assert(PrimaryKeyInference.infer(Tables.lineitem(spark, sf), "lineitem",
      maxCols = 3).isEmpty)
  }

  test("composite key found by greedy extension") {
    import spark.implicits._
    // single best candidate (ends in 'key') is not unique; extending
    // with the rank-3 'number' column is
    val df = Seq((1L, 1L), (1L, 2L), (2L, 1L)).toDF("o_orderkey", "l_linenumber")
    assert(PrimaryKeyInference.infer(df, "lineitem")
      .contains(Seq("o_orderkey", "l_linenumber")))
  }

  test("nothing key-ish named -> None without scanning") {
    import spark.implicits._
    val df = Seq(("a", "b")).toDF("name", "label")
    assert(PrimaryKeyInference.infer(df, "t").isEmpty)
  }

  test("unconfirmed mode trusts the top-ranked name") {
    import spark.implicits._
    val df = Seq((1L, 1L), (1L, 2L)).toDF("t_id", "n")
    assert(PrimaryKeyInference.infer(df, "t", confirm = false)
      .contains(Seq("t_id")))
  }

  test("one Spark action per infer call, with or without a known row count") {
    val li = Tables.lineitem(spark, sf)
    val n = li.count()
    val (none, a1) = ActionLog(spark)(
      PrimaryKeyInference.infer(li, "lineitem", maxCols = 3))
    assert(none.isEmpty && a1.map(_.name) === Seq("head"))
    val orders = Tables.orders(spark, sf)
    val nOrders = orders.count()
    val (key, a2) = ActionLog(spark)(
      PrimaryKeyInference.infer(orders, "orders", rows = Some(nOrders)))
    assert(key.contains(Seq("o_orderkey")) && a2.map(_.name) === Seq("head"))
    val (_, a3) = ActionLog(spark)(
      PrimaryKeyInference.infer(li, "lineitem", rows = Some(n)))
    assert(a3.size === 1)
  }

  test("a passed-in row count is trusted, not recounted") {
    import spark.implicits._
    val df = Seq((1L, 1L), (1L, 2L), (2L, 1L)).toDF("o_orderkey", "l_linenumber")
    assert(PrimaryKeyInference.infer(df, "lineitem", rows = Some(3L))
      .contains(Seq("o_orderkey", "l_linenumber")))
    // o_orderkey has 2 distinct values: a (wrong) count of 2 accepts it
    assert(PrimaryKeyInference.infer(df, "lineitem", rows = Some(2L))
      .contains(Seq("o_orderkey")))
  }

  test("migrateTable confirms keys on the STAGED values: composite found, " +
      "a NULL key defaulted onto an existing 0 is no key") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-pk-staged").toString
    try {
      val pairs = Seq((1L, 1L), (1L, 2L), (2L, 1L))
        .toDF("o_orderkey", "l_linenumber")
      assert(graft.operators.MigrationJob.migrateTable(pairs, "db", "lineitem",
        out).ddl.endsWith("ORDER BY (o_orderkey, l_linenumber)"))
      // unique in the source (NULL is its own value) ...
      val raw = Seq[(Option[Long], Double)]((Some(0L), 0.5), (None, 1.5),
        (Some(1L), 2.5)).toDF("t_id", "score")
      assert(PrimaryKeyInference.infer(raw, "t").contains(Seq("t_id")))
      // ... but null-as-default stages the NULL as 0, and a
      // ReplacingMergeTree sorting key on t_id would collapse the two
      // 0 rows: the migration declares no key
      val rep = graft.operators.MigrationJob.migrateTable(raw, "db", "t", out)
      assert(rep.ddl.endsWith("ORDER BY tuple()"), rep.ddl)
      assert(rep.nullsDefaulted("t_id") === 1L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("migrateTable threads the inferred key into the DDL") {
    val out = java.nio.file.Files.createTempDirectory("graft-pk").toString
    try {
      val rep = graft.operators.MigrationJob.migrateTable(
        Tables.orders(spark, sf), "db", "orders", out)
      assert(rep.ddl.contains("ORDER BY o_orderkey"), rep.ddl)
      // pk-less table falls back to tuple() exactly like the reference
      val repLi = graft.operators.MigrationJob.migrateTable(
        Tables.lineitem(spark, sf), "db", "lineitem", out)
      assert(repLi.ddl.endsWith("ORDER BY tuple()"), repLi.ddl)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }
}

class MigrationJobSpec extends SparkFunSuite {
  test("migrateAll conforms, chunks, and counts every table") {
    val out = java.nio.file.Files.createTempDirectory("graft-mig").toString
    val reports = graft.operators.MigrationJob
      .migrateAll(spark, sf, "db", out, chunkSize = 100L)
    assert(reports.map(_.table).sorted == Tables.all.sorted)
    val li = reports.find(_.table == "lineitem").get
    assert(li.rows == Tables.lineitem(spark, sf).count())
    assert(li.ddl.contains("ENGINE = ReplacingMergeTree"))
    // chunk bound respected: no output file has more than chunkSize rows
    val files = new java.io.File(s"$out/lineitem").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val back = spark.read.parquet(s"$out/lineitem")
    assert(back.count() == li.rows)
    files.foreach { f =>
      assert(spark.read.parquet(f.getAbsolutePath).count() <= 100L)
    }
  }
}

class MigrationReportSpec extends SparkFunSuite {
  import graft.operators.MigrationJob
  import graft.sources.ChType

  test("observed counters: hand-computed NULL defaults, unparsed " +
      "temporals and wrapped uints, from the write pass alone") {
    import spark.implicits._
    val df = Seq[(Option[Long], Option[String], Option[String],
        Option[Long], Option[String])](
      (Some(1L), Some("2024-01-02"), Some("2024-01-02 03:04:05.678"),
        Some(-1L), Some("x")),
      (None, Some("  "), Some("garbage"), Some(5000000000L), None),
      (Some(3L), Some("2024-13-40"), None, None, Some("y")),
      (None, None, Some(".5"), Some(7L), None)
    ).toDF("k", "d", "ts", "u", "s")
    val target = Seq("k" -> ChType.Int64, "d" -> ChType.Date,
      "ts" -> ChType.DateTime, "u" -> ChType.UInt32, "s" -> ChType.Str)
    val out = java.nio.file.Files.createTempDirectory("graft-obs").toString
    try {
      val (rep, actions) = ActionLog(spark)(MigrationJob.migrateTable(
        df, "db", "obs", out, inferPk = false, target = target))
      assert(actions.size === 1, actions.map(_.name)) // the write, nothing else
      assert(rep.rows === 4L)
      assert(rep.nullsDefaulted === Map("k" -> 2L, "u" -> 1L, "s" -> 2L))
      // "  " is blank and NULL is absent: neither counts as unparsed;
      // ".5" is non-blank and parses to nothing, like the reference
      assert(rep.temporalUnparsed === Map("d" -> 1L, "ts" -> 2L))
      assert(rep.uintsWrapped === Map("u" -> 2L)) // -1 and 5000000000
      assert(rep.ddl === "CREATE TABLE IF NOT EXISTS db.obs (k Int64, " +
        "d Date, ts DateTime, u UInt32, s String) " +
        "ENGINE = ReplacingMergeTree ORDER BY tuple()")
      assert(spark.read.parquet(s"$out/obs").select("u").as[Long].collect()
        .sorted.toSeq === Seq(0L, 7L, 705032704L, 4294967295L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("an empty table reports zero rows and zero counts") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-obs-empty").toString
    try {
      val rep = MigrationJob.migrateTable(
        Seq.empty[(Long, String)].toDF("t_id", "name"), "db", "t", out)
      assert(rep.rows === 0L)
      assert(rep.nullsDefaulted === Map("t_id" -> 0L, "name" -> 0L))
      // no row contradicts uniqueness: the top candidate stands
      assert(rep.ddl.endsWith("ORDER BY t_id"), rep.ddl)
      assert(spark.read.parquet(s"$out/t").count() === 0L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("TableReport(table, rows, ddl) still builds, with empty counters") {
    val r = MigrationJob.TableReport("t", 1L, "ddl")
    assert(r.nullsDefaulted.isEmpty && r.temporalUnparsed.isEmpty &&
      r.uintsWrapped.isEmpty)
  }
}

class EtlQueriesSpec extends SparkFunSuite {
  test("every A-group query runs and returns rows") {
    EtlQueries.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("replacing_merge has unique keys") {
    val df = EtlQueries.queries("replacing_merge")(spark, sf)
    assert(df.count() ==
      df.select("user_id", "event_type").distinct().count())
  }
}
