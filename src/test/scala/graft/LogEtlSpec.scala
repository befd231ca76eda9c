package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LogEtl
import graft.sources.{LogTable, S3AccessLog}

class LogEtlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def tmpDir(): String = Files.createTempDirectory("graft-etl").toString

  val lines: Seq[String] = {
    val fieldSets = (0 until 200).map { i =>
      RenderFixtures.baseFields
        .updated("reqid", f"REQ$i%05d")
        .updated("time", f"[${1 + i % 28}%02d/Jul/2024:${i % 24}%02d:08:44 +0000]")
        .updated("bytes", (i * 37L).toString)
    }
    fieldSets.map(S3AccessLog.renderLine) ++ Seq("garbage", "", "  ")
  }

  test("compact: text in → snappy parquet out, n files, 27-col schema") {
    val in = tmpDir(); val out = tmpDir()
    Files.write(java.nio.file.Paths.get(s"$in/part0.txt"),
      lines.mkString("\n").getBytes)
    LogEtl.compact(spark, in, out, numOutputFiles = 3)
    val parquets = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(parquets.length == 3)
    assert(parquets.forall(_.getName.contains("snappy")))
    val back = spark.read.parquet(out)
    assert(back.columns.toSeq == S3AccessLog.OutputColumns)
    assert(back.count() == 201)  // 200 parsed + 1 dead-letter; blanks skipped
    assert(back.filter($"error_line".isNotNull).count() == 1)
  }

  test("compact --format vpc/alb: family registry drives parse + sort column") {
    val vpcIn = tmpDir(); val vpcOut = tmpDir()
    Files.write(java.nio.file.Paths.get(s"$vpcIn/flows.txt"),
      (0 until 50).map(i =>
        s"2 123456789012 eni-$i 10.0.0.1 10.0.0.2 100$i 443 6 5 2048 " +
          s"${1418530000 + i} ${1418530060 + i} ACCEPT OK").mkString("\n").getBytes)
    LogEtl.compact(spark, vpcIn, vpcOut, numOutputFiles = 2, format = "vpc")
    val vpc = spark.read.parquet(vpcOut)
    assert(vpc.columns.toSeq ==
      graft.sources.VpcFlowLog.FieldNames :+ "error_line")
    assert(vpc.count() == 50 && vpc.filter($"bytes" === 2048L).count() == 50)

    val albIn = tmpDir(); val albOut = tmpDir()
    Files.write(java.nio.file.Paths.get(s"$albIn/reqs.txt"),
      (0 until 50).map(i =>
        f"http 2018-07-02T22:23:${i % 60}%02d.000000Z app/lb/1 10.0.0.9:5$i%d 10.0.0.1:80 " +
          "0.000 0.001 0.000 200 200 34 366 \"GET http://e/ HTTP/1.1\" \"ua\" - - " +
          "arn:tg \"Root=1-x\" \"-\" \"-\" 0 2018-07-02T22:22:48.364000Z " +
          "\"forward\" \"-\" \"-\"").mkString("\n").getBytes)
    LogEtl.compact(spark, albIn, albOut, numOutputFiles = 2, format = "alb")
    val alb = spark.read.parquet(albOut)
    assert(alb.count() == 50)
    assert(alb.filter($"elb" === "app/lb/1").count() == 50)
    assert(alb.filter($"error_line".isNotNull).count() == 0)

    val cfIn = tmpDir(); val cfOut = tmpDir()
    Files.write(java.nio.file.Paths.get(s"$cfIn/cf.txt"),
      ("#Version: 1.0" +: "#Fields: date time x-edge-location" +:
        (0 until 50).map(i =>
          Seq(f"2019-12-04\t21:02:${i % 60}%02d", "LAX1", s"${300 + i}",
            "192.0.2.1", "GET", "h", "/", "200", "-", "UA", "-", "-", "Hit",
            "R==", "h", "https", "23", "0.001", "-", "TLSv1.2", "C", "Hit",
            "HTTP/2.0", "-", "-").mkString("\t"))).mkString("\n").getBytes)
    LogEtl.compact(spark, cfIn, cfOut, numOutputFiles = 2, format = "cloudfront")
    val cf = spark.read.parquet(cfOut)
    assert(cf.count() == 50, "headers must drop, data rows survive compact")
    assert(cf.filter($"error_line".isNotNull).count() == 0)
    assert(cf.filter($"x_edge_location" === "LAX1").count() == 50)
  }

  test("output is sorted by request_time within each partition (s3.py:457-458)") {
    val in = tmpDir(); val out = tmpDir()
    Files.write(java.nio.file.Paths.get(s"$in/part0.txt"),
      scala.util.Random.shuffle(lines).mkString("\n").getBytes)
    LogEtl.compact(spark, in, out, numOutputFiles = 2)
    // each output file is one former partition — check per-file monotonicity
    val violations = spark.read.parquet(out)
      .select(input_file_name().as("f"), $"request_time")
      .filter($"request_time".isNotNull)
      .withColumn("prev", lag($"request_time", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"f")
          .orderBy(monotonically_increasing_id())))
      .filter($"prev" > $"request_time")
      .count()
    assert(violations == 0)
  }

  test("overwrite keeps re-runs idempotent (s3_server_access_logs.py:459)") {
    val in = tmpDir(); val out = tmpDir()
    Files.write(java.nio.file.Paths.get(s"$in/part0.txt"),
      lines.mkString("\n").getBytes)
    LogEtl.compact(spark, in, out)
    LogEtl.compact(spark, in, out)
    assert(spark.read.parquet(out).count() == 201)
    // the swap leaves no sibling of the day behind
    val day = new java.io.File(out)
    assert(day.getParentFile.listFiles
      .filter(_.getName.startsWith(day.getName + ".__")).isEmpty)
  }

  test("a compact that fails over an existing day keeps the previous day readable") {
    val in = tmpDir(); val root = tmpDir()
    val d = LocalDate.of(2024, 7, 1)
    val dest = LogEtl.destPath(root, "b1", d, hiveLayout = false)
    Files.write(java.nio.file.Paths.get(s"$in/part0.txt"),
      lines.mkString("\n").getBytes)
    LogEtl.compact(spark, in, dest)
    def dayIntact(): Unit = {
      assert(LogTable.read(spark, root, "b1", d, d).count() == 201)
      assert(!new java.io.File(s"$dest.__next").exists() &&
        !new java.io.File(s"$dest.__pre").exists())
    }
    // a re-run over a truncated gzip fails in its scan
    val bad = tmpDir()
    val gz = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.GZIPOutputStream(gz)
    try z.write(lines.mkString("\n").getBytes) finally z.close()
    Files.write(java.nio.file.Paths.get(s"$bad/part0.txt.gz"),
      gz.toByteArray.take(gz.size / 2))
    intercept[Exception](LogEtl.compact(spark, bad, dest))
    dayIntact()
    // a re-run whose write stage fails: every task commit loses its
    // rename (the window a bare overwrite has already deleted the day in)
    val conf = spark.sparkContext.hadoopConfiguration
    FaultyFs.register(conf)
    conf.set(FaultyFs.FailRename, "attempt_.*|part-.*")
    try intercept[Exception](LogEtl.compact(spark, in, s"faulty://$dest"))
    finally conf.unset(FaultyFs.FailRename)
    dayIntact()
  }

  test("a leftover <day>.__pre makes compact refuse, naming it") {
    val in = tmpDir(); val out = tmpDir()
    Files.write(java.nio.file.Paths.get(s"$in/part0.txt"),
      lines.mkString("\n").getBytes)
    LogEtl.compact(spark, in, out)
    Files.createDirectories(java.nio.file.Paths.get(s"$out.__pre"))
    val e = intercept[IllegalArgumentException](LogEtl.compact(spark, in, out))
    assert(e.getMessage.contains(s"$out.__pre"), e.getMessage)
    assert(spark.read.parquet(out).count() == 201)
    Files.delete(java.nio.file.Paths.get(s"$out.__pre"))
  }

  test("compact writes exactly LogTable.outputSchema into every footer, fused and unfused") {
    // LogTable.read plans from outputSchema without opening a footer, so
    // a parser whose output drifts from it must fail here rather than
    // read back as a silently null-filled column
    val conf = spark.sparkContext.hadoopConfiguration
    val converter =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter()
    for (fused <- Seq(true, false)) {
      val in = tmpDir(); val out = tmpDir()
      Files.write(java.nio.file.Paths.get(s"$in/part0.txt"),
        lines.mkString("\n").getBytes)
      LogEtl.compact(spark, in, out, numOutputFiles = 2, fused = fused)
      val parquets = new java.io.File(out).listFiles
        .filter(_.getName.endsWith(".parquet"))
      assert(parquets.length == 2)
      parquets.foreach { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toURI), conf))
        val footer = try converter.convert(reader.getFileMetaData.getSchema)
                     finally reader.close()
        assert(footer == LogTable.outputSchema,
          s"fused=$fused ${f.getName}")
      }
    }
  }

  test("LogTable.read: an existing day without data files reads as zero rows") {
    val in = tmpDir(); val root = tmpDir()
    val (d1, d2) = (LocalDate.of(2024, 7, 1), LocalDate.of(2024, 7, 2))
    Files.write(java.nio.file.Paths.get(s"$in/part0.txt"),
      lines.mkString("\n").getBytes)
    LogEtl.compact(spark, in, LogEtl.destPath(root, "b1", d1, hiveLayout = false))
    // day 2 exists but holds no data: one empty directory, one with only
    // a commit marker (the listing skips `_`-prefixed files)
    val day2 = LogEtl.destPath(root, "b1", d2, hiveLayout = false)
    Files.createDirectories(java.nio.file.Paths.get(day2))
    val day3 = LogEtl.destPath(root, "b1", d2.plusDays(1), hiveLayout = false)
    Files.createDirectories(java.nio.file.Paths.get(day3))
    Files.write(java.nio.file.Paths.get(s"$day3/_SUCCESS"), Array.emptyByteArray)
    val empty = LogTable.read(spark, root, "b1", d2, d2.plusDays(1))
    assert(empty.schema == LogTable.outputSchema)
    assert(empty.count() == 0)
    assert(LogTable.read(spark, root, "b1", d1, d2.plusDays(1)).count() == 201)
    // a range with no day directory at all still refuses loudly
    intercept[IllegalArgumentException] {
      LogTable.read(spark, root, "b1", d1.minusDays(9), d1.minusDays(8))
    }
  }

  test("destPath: raw vs hive layout (s3_server_access_logs.py:445-454)") {
    val d = java.time.LocalDate.of(2024, 7, 3)
    assert(LogEtl.destPath("/x", "b", d, hiveLayout = false) == "/x/b/2024/07/03")
    assert(LogEtl.destPath("/x", "b", d, hiveLayout = true) ==
      "/x/b/year=2024/month=07/day=03")
  }
}
