package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LogEtl, Skew}
import graft.sources.{LogTable, S3AccessLog}

class SkewAndLogTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("saltedJoin produces exactly the rows of a plain inner join") {
    // heavily skewed left side: 90% of rows share key 1
    val left = spark.range(2000)
      .select(when($"id" < 1800, 1L).otherwise($"id").as("k"), $"id".as("v"))
    val right = Seq((1L, "hot"), (1900L, "cold"), (3L, "unused"))
      .toDF("k", "name")
    val expected = left.join(right, "k")
      .select("k", "v", "name").collect().toSet
    val salted = Skew.saltedJoin(left, right, "k", factor = 8)
      .select("k", "v", "name").collect().toSet
    assert(salted == expected)
    assert(salted.count(_.getLong(0) == 1L) == 1800)
  }

  test("saltedJoin handles map columns, dotted names, and a _salt column") {
    // left carries: a MapType column (unhashable by xxhash64), a column
    // named with a dot (breaks bare col()), and a pre-existing "_salt"
    // column that the generated salt name must not collide with.
    val left = spark.range(100)
      .select(($"id" % 5).as("k"), $"id".as("v"),
        map(lit("a"), $"id").as("props"),
        ($"id" * 2).as("dotted.name"),
        lit(99).as("_salt"))
    val right = Seq((0L, "x"), (1L, "y"), (4L, "z")).toDF("k", "name")
      .withColumn("_salt", lit(-1))
    val expected = left.join(right, "k")
      .select($"k", $"v", $"name").collect().toSet
    val salted = Skew.saltedJoin(left, right, "k", factor = 4)
      .select($"k", $"v", $"name").collect().toSet
    assert(salted == expected)
    // the user's own _salt columns survive untouched
    val out = Skew.saltedJoin(left, right, "k", factor = 4)
    assert(out.columns.count(_ == "_salt") == 2)
  }

  test("keySkewProfile surfaces the hot key first") {
    val df = spark.range(1000)
      .select(when($"id" < 900, 7L).otherwise($"id").as("k"))
    val top = Skew.keySkewProfile(df, "k", 3).collect()
    assert(top.head.getLong(0) == 7L && top.head.getLong(1) == 900L)
  }

  test("LogTable.read prunes to exactly the requested date dirs") {
    val inRoot = Files.createTempDirectory("graft-lt-in").toString
    val outRoot = Files.createTempDirectory("graft-lt-out").toString
    // three days of logs, one bucket
    for (day <- Seq(1, 2, 3)) {
      val dir = s"$inRoot/b1/2024/07/0$day"
      Files.createDirectories(java.nio.file.Paths.get(dir))
      val lines = (0 until 50).map { i =>
        S3AccessLog.renderLine(RenderFixtures.baseFields
          .updated("time", f"[0$day/Jul/2024:${i % 24}%02d:00:00 +0000]")
          .updated("reqid", s"D$day-R$i"))
      }
      Files.write(java.nio.file.Paths.get(s"$dir/f.log"),
        lines.mkString("\n").getBytes)
    }
    LogEtl.runBackfill(spark, inRoot, outRoot, Seq("b1"),
      LocalDate.of(2024, 7, 1), LocalDate.of(2024, 7, 3), numOutputFiles = 1)
    // read only days 2-3 → day-1 rows must be absent
    val df = LogTable.read(spark, outRoot, "b1",
      LocalDate.of(2024, 7, 2), LocalDate.of(2024, 7, 3))
    assert(df.count() == 100)
    assert(df.filter(to_date($"request_time") === "2024-07-01").count() == 0)
    // range including a missing day (July 4) still works
    val df2 = LogTable.read(spark, outRoot, "b1",
      LocalDate.of(2024, 7, 3), LocalDate.of(2024, 7, 6))
    assert(df2.count() == 50)
    // fully absent range refuses loudly
    intercept[IllegalArgumentException] {
      LogTable.read(spark, outRoot, "b1",
        LocalDate.of(2025, 1, 1), LocalDate.of(2025, 1, 2))
    }
  }

  /** Three compacted days of bucket b1 in the given layout; returns the
    * table root.
    */
  def compactedDays(hiveLayout: Boolean): String = {
    val inRoot = Files.createTempDirectory("graft-lt-in").toString
    val outRoot = Files.createTempDirectory("graft-lt-out").toString
    for (day <- Seq(1, 2, 3)) {
      val dir = s"$inRoot/b1/2024/07/0$day"
      Files.createDirectories(java.nio.file.Paths.get(dir))
      val lines = (0 until 60).map { i =>
        S3AccessLog.renderLine(RenderFixtures.baseFields
          .updated("time", f"[0$day/Jul/2024:${i % 24}%02d:${i % 60}%02d:00 +0000]")
          .updated("reqid", s"D$day-R$i")
          .updated("bytes", (i * 37L + day).toString))
      } :+ "not an access log line"
      Files.write(java.nio.file.Paths.get(s"$dir/f.log"),
        lines.mkString("\n").getBytes)
    }
    LogEtl.runBackfill(spark, inRoot, outRoot, Seq("b1"),
      LocalDate.of(2024, 7, 1), LocalDate.of(2024, 7, 3), numOutputFiles = 2,
      hiveLayout = hiveLayout)
    outRoot
  }

  /** The read benchmark's four query shapes over one table frame: a
    * one-hour window aggregate, per-hour and per-day rollups, and a
    * request_id lookup.
    */
  def queryShapes(t: DataFrame): Seq[(String, DataFrame)] = {
    val rt = $"request_time"
    val aggs = Seq(count(lit(1)),
      sum(when($"http_status" >= 400, 1L).otherwise(0L)), sum($"bytes_sent"))
    val start = java.time.Instant.parse("2024-07-02T05:00:00Z").getEpochSecond
    Seq(
      "window" -> t.filter(rt >= timestamp_seconds(lit(start)) &&
          rt < timestamp_seconds(lit(start + 3600)))
        .agg(aggs.head, aggs.tail: _*),
      "per-hour" -> t.filter(rt.isNotNull).groupBy(hour(rt).as("h"))
        .agg(aggs.head, aggs.tail: _*).orderBy("h"),
      "per-day" -> t.filter(rt.isNotNull)
        .groupBy(date_format(rt, "yyyy-MM-dd").as("d"))
        .agg(aggs.head, aggs.tail: _*).orderBy("d"),
      "lookup" -> t.filter($"request_id" === "D2-R17")
        .select(unix_timestamp(rt), $"http_status", $"bytes_sent"))
  }

  test("LogTable.read returns the rows of a plain parquet read, raw and Hive layouts") {
    val (from, to) = (LocalDate.of(2024, 7, 1), LocalDate.of(2024, 7, 3))
    for (hive <- Seq(false, true)) {
      val root = compactedDays(hive)
      val table = LogTable.read(spark, root, "b1", from, to, hiveLayout = hive)
      val plain = spark.read.parquet(
        LogTable.dayPaths(spark, root, "b1", from, to, hive): _*)
      assert(table.count() == 183, s"hive=$hive")
      queryShapes(table).zip(queryShapes(plain)).foreach {
        case ((name, got), (_, want)) =>
          val expected = want.collect().toSeq
          assert(expected.nonEmpty, s"$name hive=$hive must select rows")
          assert(got.collect().toSeq == expected, s"$name hive=$hive")
      }
      assert(queryShapes(table).head._2.head().getLong(0) == 3L, s"hive=$hive")
    }
  }

  test("LogTable.read plans without launching a Spark job") {
    val (from, to) = (LocalDate.of(2024, 7, 1), LocalDate.of(2024, 7, 3))
    val sc = spark.sparkContext
    for (hive <- Seq(false, true)) {
      val root = compactedDays(hive)
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      ListenerBusDrain.drain(sc, 60000)
      sc.addSparkListener(listener)
      try {
        val queries = queryShapes(
          LogTable.read(spark, root, "b1", from, to, hiveLayout = hive))
        queries.foreach(_._2.queryExecution.executedPlan)
        ListenerBusDrain.drain(sc, 60000)
        assert(jobs.get == 0, s"hive=$hive: planning launched ${jobs.get} job(s)")
        // the listener does see jobs: executing launches them
        queries.head._2.collect()
        ListenerBusDrain.drain(sc, 60000)
        assert(jobs.get > 0, s"hive=$hive")
      } finally sc.removeSparkListener(listener)
    }
  }

  test("LogTable.ddl emits the published Athena contract from the schema") {
    val ddl = LogTable.ddl("logs-example",
      "s3://dest/processed/acct/us-east-1/logs-example/")
    // column block string-for-string: the AWS server-access-log field
    // list, types per the compacted parquet (reference contract
    // example_sql/athena_create_table.sql:2-29)
    val expectedCols = Seq(
      "bucket_owner" -> "string", "s3_bucket" -> "string",
      "request_time" -> "timestamp", "remote_ip" -> "string",
      "requester" -> "string", "request_id" -> "string",
      "operation" -> "string", "key" -> "string", "request" -> "string",
      "http_status" -> "int", "error_code" -> "string",
      "bytes_sent" -> "bigint", "object_size" -> "bigint",
      "total_time" -> "bigint", "turn_around_time" -> "bigint",
      "referrer" -> "string", "user_agent" -> "string",
      "version_id" -> "string", "host_id" -> "string",
      "signature_version" -> "string", "cipher_suite" -> "string",
      "authentication_type" -> "string", "host_header" -> "string",
      "tls_version" -> "string", "access_point_arn" -> "string",
      "acl_required" -> "string", "error_line" -> "string")
    expectedCols.foreach { case (name, tpe) =>
      assert(ddl.contains(s"`$name` $tpe COMMENT ''"), s"$name $tpe")
    }
    // column ORDER matches the parquet column order exactly
    val emitted = ddl.linesIterator
      .filter(_.trim.startsWith("`")).map(_.trim.split(" ")(0)).toSeq
    assert(emitted == expectedCols.map { case (n, _) => s"`$n`" })
    // partition projection block
    assert(ddl.contains("PARTITIONED BY (\n    date string\n)"))
    assert(ddl.contains("\"projection.enabled\" = \"true\""))
    assert(ddl.contains("\"projection.date.format\" = \"yyyy/MM/dd\""))
    assert(ddl.contains("\"projection.date.range\" = \"2020/01/01,NOW\""))
    // trailing slash normalized; template appends ${date}/
    assert(ddl.contains(
      "LOCATION\n  's3://dest/processed/acct/us-east-1/logs-example'"))
    assert(ddl.contains("\"storage.location.template\" = " +
      "\"s3://dest/processed/acct/us-east-1/logs-example/${date}/\""))
    assert(ddl.contains(
      "'org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe'"))
  }
}
