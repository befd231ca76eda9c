package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Tables
import graft.operators.{Dedup, LogEtl, LogEtlMain, Sampling, Similarity, TextAnalysis}
import graft.sources.LogTable

/** JVM side of the benchmark: runs one workload through the program's
  * public entry points and writes its timings, the outputs for the
  * checks, and (traced runs) its spans to a result JSON file.
  *
  * Usage: PerfBench <spec.json> — the spec is written by perfbench/run.py
  * and names the workload, its generated inputs, a work directory, the
  * measured seconds, whether to trace, the core count and the epoch
  * millisecond at which the process was launched.
  *
  * Every run has the same shape: a cold operation (the first one in this
  * fresh process, timed from launch), warm-up operations, then the
  * measured window. Untraced runs repeat the operation until the window
  * ends. Traced runs repeat it untraced for half the window, then run the
  * same operations again with a span around each layer call, so tracing
  * overhead is traced wall minus untraced wall of identical work.
  */
object PerfBench {
  private val mapper = new ObjectMapper()

  final case class Op(seconds: Double, items: Long, output: Any,
                      error: Option[String])

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(new File(args(0)))
    val res = mutable.LinkedHashMap[String, Any]()
    val workload = spec.get("workload").asText
    res("workload") = workload
    workload match {
      case "s3_day_smallfiles" | "s3_day_bulk" => compaction(spec, res)
      case "athena_reads" => reads(spec, res)
      case "curation_corpus" => curation(spec, res)
      case other => sys.error(s"unknown workload $other")
    }
    res("rss_hwm_mb") = vmHwmMb()
    Files.write(Paths.get(spec.get("result").asText),
      Json.render(res).getBytes(UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  // ---- shared run shape ------------------------------------------------

  private def now(): Double = System.nanoTime() / 1e9

  private def timed(items: Long)(body: => Any): Op = {
    val t0 = now()
    try {
      val out = body
      Op(now() - t0, items, out, None)
    } catch {
      case e: Throwable =>
        Op(now() - t0, items, null, Some(s"${e.getClass.getName}: ${e.getMessage}"))
    }
  }

  private def opJson(o: Op): Map[String, Any] =
    Map("s" -> o.seconds, "items" -> o.items, "output" -> o.output,
      "error" -> o.error.orNull)

  /** Cold op already done; runs warm-up and the measured window.
    * `op(i, tracer)` runs the i-th operation of the workload.
    */
  private def measure(spark: SparkSession, spec: JsonNode,
                      res: mutable.Map[String, Any], warmups: Int,
                      minOps: Int, allPlans: Boolean = false)
                     (op: (Int, Tracer) => Op): Unit = {
    val seconds = spec.get("seconds").asDouble
    val trace = spec.get("trace").asBoolean
    val off = new Tracer(spark, enabled = false)
    val warm = (0 until warmups).map(i => op(i, off))
    res("warm") = warm.map(opJson)
    res("calib_pre") = Calib.run(spec.get("cpus").asInt)
    val window = if (trace) seconds / 2 else seconds
    val ops = mutable.ArrayBuffer[Op]()
    val t0 = now()
    while (ops.size < minOps || now() - t0 < window)
      ops += op(warmups + ops.size, off)
    res("ops") = ops.map(opJson).toList
    if (trace) {
      val tracer = new Tracer(spark, enabled = true)
      // executed plans are kept for the first traced op only unless the
      // ops differ (queries): they are the bulk of the record
      val traced = ops.indices.map { k =>
        tracer.keepPlans = allPlans || k == 0
        tracer.span("op")(op(warmups + k, tracer))
      }
      res("traced_ops") = traced.map(opJson).toList
      res("spans") = tracer.spans.map(spanJson).toList
    }
    res("calib_post") = Calib.run(spec.get("cpus").asInt)
  }

  private def spanJson(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
    "job_union_s" -> s.jobUnionS,
    "counters" -> s.counters.fields.toMap,
    "plans" -> s.plans.map(p => Map("action" -> p.action,
      "ops" -> p.ops.map { case (n, ms) => Map("op" -> n, "metrics" -> ms.toMap) })))

  private def dropBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  // ---- sessions ----------------------------------------------------------

  /** The session LogEtlMain builds (UTC, TIMESTAMP_MILLIS, speculation
    * off, AQE), at `cpus` local cores.
    */
  private def etlSession(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("s3_server_side_log_compacter")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.speculation", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The session the curation gates run in (graft.Bench's settings). */
  private def curationSession(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def sinceLaunch(spec: JsonNode): Double =
    (System.currentTimeMillis() - spec.get("launch_ms").asLong) / 1e3

  // ---- s3_day_smallfiles / s3_day_bulk ----------------------------------

  private def compaction(spec: JsonNode, res: mutable.Map[String, Any]): Unit = {
    val work = spec.get("work").asText
    val inRoot = spec.get("input_root").asText
    val inDir = spec.get("input_dir").asText
    val bucket = spec.get("bucket").asText
    val day = spec.get("day").asText
    val n = spec.get("num_output_files").asInt
    val lines = spec.get("lines").asLong
    val cpus = spec.get("cpus").asInt

    // cold: the daily job as deployed, a fresh process running the CLI
    val coldDest = s"$work/cold"
    val cold = timed(lines) {
      LogEtlMain.main(Array("--input-root", inRoot, "--dest-root", coldDest,
        "--buckets", bucket, "--start-date", day, "--end-date", day,
        "--num-output-files", n.toString))
      LogEtl.destPath(coldDest, bucket, LocalDate.parse(day), hiveLayout = false)
    }
    res("cold") = opJson(cold) + ("s" -> sinceLaunch(spec))

    val t0 = now()
    val spark = etlSession(cpus)
    res("session_s") = now() - t0

    measure(spark, spec, res, warmups = spec.get("warmups").asInt,
        minOps = 3) { (i, tr) =>
      val dest = s"$work/${if (tr.enabled) "traced" else "op"}$i"
      if (!tr.enabled) timed(lines) { LogEtl.compact(spark, inDir, dest, n); dest }
      else timed(lines) {
        // each layer's output is materialized, so a span holds only its
        // own layer's work
        val text = tr.span("logetl.list")(spark.read.text(inDir))
        val scanned = tr.span("logetl.scan")(text.localCheckpoint())
        val parsed = tr.span("s3accesslog.parse")(
          LogEtl.parse(scanned).localCheckpoint())
        tr.span("logetl.write")(LogEtl.write(parsed, dest, n))
        tr.span("bench.verify") {
          val out = Map("dest" -> dest, "input_files" -> text.inputFiles.length,
            "scan_tasks" -> text.rdd.getNumPartitions, "lines" -> parsed.count(),
            "dead_letters" -> parsed.filter(col("error_line").isNotNull).count())
          dropBlocks(spark)
          out
        }
      }
    }
  }

  // ---- athena_reads --------------------------------------------------------

  private def query(spark: SparkSession, root: String, q: JsonNode,
                    tr: Tracer): Seq[Seq[Any]] = {
    val bucket = q.get("bucket").asText
    val from = LocalDate.parse(q.get("from").asText)
    val to = LocalDate.parse(q.get("to").asText)
    // LogTable.read resolves the day paths itself; traced runs time that
    // step on its own as well
    if (tr.enabled)
      tr.span("logtable.paths")(LogTable.dayPaths(spark, root, bucket, from, to))
    val df = tr.span("logtable.plan") {
      val t = LogTable.read(spark, root, bucket, from, to)
      val rt = col("request_time")
      val aggs = Seq(count(lit(1)),
        sum(when(col("http_status") >= 400, 1L).otherwise(0L)),
        sum(col("bytes_sent")))
      val out = q.get("kind").asText match {
        case "window" =>
          val s = q.get("start").asLong
          t.filter(rt >= timestamp_seconds(lit(s)) &&
              rt < timestamp_seconds(lit(s + 3600)))
            .agg(aggs.head, aggs.tail: _*)
        case "rollup_day" =>
          t.filter(rt.isNotNull).groupBy(hour(rt).as("h"))
            .agg(aggs.head, aggs.tail: _*).orderBy("h")
        case "rollup_week" =>
          t.filter(rt.isNotNull).groupBy(date_format(rt, "yyyy-MM-dd").as("d"))
            .agg(aggs.head, aggs.tail: _*).orderBy("d")
        case "needle" =>
          t.filter(col("request_id") === q.get("request_id").asText)
            .select(unix_timestamp(rt), col("http_status"), col("bytes_sent"))
      }
      out.queryExecution.executedPlan
      out
    }
    tr.span("logtable.exec")(df.collect().toSeq.map(rowValues))
  }

  private def reads(spec: JsonNode, res: mutable.Map[String, Any]): Unit = {
    val root = spec.get("table_root").asText
    val qs = spec.get("queries").elements().asScala.toVector
    // cold: the daily job's CLI backfilling the week the reads serve, in
    // this fresh process
    val cold = timed(spec.get("lines").asLong) {
      LogEtlMain.main(Array("--input-root", spec.get("input_root").asText,
        "--dest-root", root, "--buckets", spec.get("buckets").asText,
        "--start-date", spec.get("from").asText, "--end-date", spec.get("to").asText,
        "--num-output-files", spec.get("num_output_files").asText))
      root
    }
    res("cold") = opJson(cold) + ("s" -> sinceLaunch(spec))
    val t0 = now()
    val spark = etlSession(spec.get("cpus").asInt)
    res("session_s") = now() - t0
    measure(spark, spec, res, warmups = spec.get("warmups").asInt,
        minOps = 20, allPlans = true) { (i, tr) =>
      val q = qs(i % qs.size)
      timed(1) {
        val rows = tr.span("logtable.read")(query(spark, root, q, tr))
        Map("q" -> q.get("id").asInt, "rows" -> rows)
      }
    }
  }

  // ---- curation_corpus -----------------------------------------------------

  private def curationPass(spark: SparkSession, spec: JsonNode,
                           tr: Tracer): Map[String, Any] = {
    val dir = spec.get("corpus").asText
    // materialize a layer's output only in traced runs, where each span
    // must hold its own layer's work
    def mat(df: DataFrame): DataFrame =
      if (tr.enabled) df.localCheckpoint() else df
    val d = Tables.spread(spark.read.parquet(s"$dir/documents.parquet"), "doc_id")
    val kept = tr.span("textanalysis.curation_report") {
      mat(d.join(TextAnalysis.curationReport(d, "doc_id", "text")
          .filter(col("verdict") === "keep").select("doc_id"), Seq("doc_id"))
        .select("doc_id", "text"))
    }
    val edges = tr.span("dedup.jaccard_pairs") {
      mat(Dedup.jaccardPairs(kept, "doc_id", "text", 3, maxPosting = Int.MaxValue)
        .filter(col("jac") >= 0.5)
        .select(col("da").as("src"), col("db").as("dst")))
    }
    val cc = tr.span("dedup.cc")(mat(Dedup.connectedComponentsHybrid(edges)))
    val ccRows = cc.collect().toSeq.map(rowValues)
    val losers = cc.filter(col("id") =!= col("cluster")).select(col("id").as("doc_id"))
    val candidates = kept.join(losers, Seq("doc_id"), "left_anti")
      .filter(col("doc_id") % 50 =!= 0)
    val hits = tr.span("dedup.contamination") {
      mat(Dedup.contaminationHits(candidates, d.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 5))
    }
    val packed = tr.span("textanalysis.pack") {
      val train = candidates.join(hits.select("doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("split", Sampling.assignSplit(col("doc_id")))
        .filter(col("split") === "train")
        .select("doc_id", "text")
      TextAnalysis.packSequences(train, "doc_id", "text", seqLen = 512L)
        .orderBy("doc_id", "seq_id").collect().toSeq.map(rowValues)
    }
    val emb = Tables.spread(spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id")
    val base = emb.filter(col("vec_id") < 1000000L)
    val index = tr.span("similarity.ivf_build") {
      val idx = Similarity.ivfBuild(base)
      if (tr.enabled) idx.copy(cells = idx.cells.localCheckpoint()) else idx
    }
    val qids = spec.get("ann_queries").elements().asScala.map(_.asLong).toSeq
    val ann = tr.span("similarity.ivf_search") {
      Similarity.ivfSearch(base.filter(col("vec_id").isin(qids: _*)), index, 10)
        .select("qid", "cid", "rank").collect().toSeq.map(rowValues)
    }
    val sem = tr.span("dedup.semdedup") {
      Dedup.semanticDedup(emb.select(col("vec_id"),
          transform(col("embedding"), x => x.cast(DoubleType)).as("embedding")),
        16, 0.99).collect().toSeq.map(rowValues)
    }
    val extra = tr.span("bench.verify") {
      val counts =
        if (!tr.enabled) Map.empty[String, Any]
        else Map("kept" -> kept.count(), "pairs_found" -> edges.count())
      dropBlocks(spark)
      counts
    }
    Map("cc" -> ccRows, "pack" -> packed, "ann" -> ann, "sem" -> sem) ++ extra
  }

  private def curation(spec: JsonNode, res: mutable.Map[String, Any]): Unit = {
    val docs = spec.get("docs").asLong
    val spark = curationSession(spec.get("cpus").asInt)
    def op(tr: Tracer): Op = timed(docs)(curationPass(spark, spec, tr))
    val cold = op(new Tracer(spark, enabled = false))
    res("cold") = opJson(cold) + ("s" -> sinceLaunch(spec))
    res("session_s") = 0.0
    // a pass costs seconds, so the cold pass is the only warm-up that fits
    // the run's time budget; the measured pass is still about 10 % slower
    // than later ones would be
    measure(spark, spec, res, warmups = 0, minOps = 1)((_, tr) => op(tr))
  }

  // ---- helpers -------------------------------------------------------------

  private def rowValues(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.math.BigDecimal => d.doubleValue
    case v => v
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Host calibration: a fixed single-thread mixing loop and the same loop
  * on every core at once. The single figure inflates when the JVM runs
  * slow; the parallel one also inflates when other work shares the host.
  */
object Calib {
  private def spin(): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 20000000) {
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 29; i += 1
    }
    h
  }
  private def ms(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }
  def run(cpus: Int): Map[String, Double] = {
    var sink = spin() // compile the loop before timing it
    val single = ms { sink ^= spin() }
    val par = ms {
      val ts = (0 until cpus).map { _ =>
        val t = new Thread(() => { if (spin() == 42L) println("") }); t.start(); t
      }
      ts.foreach(_.join())
    }
    if (sink == 42L) println("")
    Map("calib_ms" -> single, "calib_par_ms" -> par)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }
  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: java.lang.Number => sb ++= n.toString
    case m: collection.Map[_, _] =>
      sb += '{'
      m.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        str(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case it: Iterable[_] =>
      sb += '['
      it.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; write(sb, x) }
      sb += ']'
    case other => str(sb, other.toString)
  }
}
