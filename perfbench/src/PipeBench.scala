package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.Enrichment
import graft.pipeline.{Coa, ExcelSink, Report, Statement}
import graft.sources.{Ingest, Pdf, Sqlite}
import graft.util.Caches
import org.apache.spark.perfbench.SparkBus

/** Statement PDFs -> report benchmark, driven through the engine's public
  * entry points only.
  *
  *   PipeBench --input DIR --work DIR --seconds N --trace 0|1
  *
  * `--input` holds what perfbench/gen.py wrote for one workload and seed;
  * reports are written under `--work` and removed once checked.
  *
  * One report is what the accountant's monthly run does: COA PDF ->
  * dropdown lists, statement batch -> words -> `Report.pipeline` (parse,
  * two-phase enrichment against the SQLite vendor table) -> xlsx and CSV.
  * A run is: set-up, one cold report, an untimed warm-up round, then warm
  * reports back to back for `--seconds` (a closed loop, one client).
  * Every report's outputs are checked against the generator's manifest
  * outside the timed region; a report that throws or fails its check
  * counts as failed.
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` prints the
  * per-layer metrics: half the warm reports are counted by a SparkListener
  * registered once at set-up (tracing overhead is the traced minus the
  * untraced median), then each layer's public call is timed on
  * input that was persisted and counted beforehand. The last stdout line
  * is `RESULT {json}`. */
object PipeBench {

  private val json = new ObjectMapper()
  private val WarmupReports = 4

  // ---- Spark work counters (traced run only) ---------------------------

  final class Counters extends SparkListener {
    @volatile var on = false
    private var jobs = 0L
    private var stages = 0L
    private var tasks = 0L
    private var busyNs = 0L
    private var shuffleWrite = 0L
    private var spill = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        busyNs += m.executorRunTime * 1000000L
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    def snapshot(): Array[Double] = synchronized {
      Array(jobs.toDouble, stages.toDouble, tasks.toDouble, busyNs / 1e9,
        shuffleWrite / 1048576.0, spill / 1048576.0)
    }
  }

  // ---- inputs ------------------------------------------------------------

  final case class Batch(name: String, dir: String, txns: Long, amountCents: Long,
                         exact: Long, fuzzy: Long, none: Long,
                         vendors: Map[String, (String, Seq[String])])

  final case class Inputs(spark: SparkSession, mappings: DataFrame, coaPdf: Array[Byte],
                          batches: Seq[Batch], warmup: Seq[Batch],
                          dropdownsExpected: Map[String, Seq[String]])

  private val dropdownColumn = Map("gl" -> "GL_Account", "location" -> "Location",
    "program" -> "Program", "funder" -> "Funder", "dept" -> "Department")
  private val payloadColumns = Seq("GL_Account", "Location", "Program", "Funder", "Department")

  private def readManifest(input: String): (Seq[Batch], Map[String, Seq[String]]) = {
    val m = json.readTree(Paths.get(input, "manifest.json").toFile)
    val batches = m.get("batches").elements().asScala.map { b =>
      val vendors = b.get("vendors").fields().asScala.map { e =>
        val arr = e.getValue.elements().asScala.map(_.asText()).toSeq
        e.getKey -> (arr.head, arr.tail)
      }.toMap
      Batch(b.get("name").asText(), Paths.get(input, b.get("name").asText()).toString,
        b.get("txns").asLong(), b.get("amount_cents").asLong(), b.get("exact").asLong(),
        b.get("fuzzy").asLong(), b.get("none").asLong(), vendors)
    }.toSeq
    val dd = m.get("dropdowns").fields().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
    }.toMap
    (batches, dd)
  }

  /** Process start -> session ready and inputs opened. */
  private def setup(input: String, listener: Option[Counters]): (Inputs, Double) = {
    val spark = GraftSession("local[4]", "4")
    spark.sparkContext.setLogLevel("ERROR")
    listener.foreach(spark.sparkContext.addSparkListener)
    val mappings = Sqlite.readTable(spark, Paths.get(input, "vendor_mappings.db").toString,
      "vendor_mappings")
    val coaPdf = Files.readAllBytes(Paths.get(input, "coa.pdf"))
    val (batches, dd) = readManifest(input)
    val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val s = (System.currentTimeMillis() - start) / 1000.0
    val (warmup, measured) = batches.partition(_.name.startsWith("warmup"))
    (Inputs(spark, mappings, coaPdf, measured, if (warmup.isEmpty) measured else warmup, dd), s)
  }

  // ---- the report --------------------------------------------------------

  /** COA PDF -> `code - name` dropdown lists keyed by report column. */
  def dropdowns(spark: SparkSession, coaPdf: Array[Byte]): Map[String, Seq[String]] = {
    import spark.implicits._
    val grids = Pdf.extractTables(coaPdf)
      .map(t => ("coa.pdf", t._1, t._2, t._3.map(_.toSeq)))
      .toDF("file", "page", "table_idx", "cells")
    Report.dropdownValues(Coa.parse(grids)).collect().toSeq
      .groupBy(_.getString(0))
      .map { case (t, rows) => dropdownColumn(t) -> rows.map(_.getString(1)) }
  }

  def words(spark: SparkSession, dir: String): DataFrame =
    Ingest.extractWords(Ingest.binaryScan(spark, dir))

  final case class Timing(total: Double, constructJobs: Double)

  /** One full report: scan -> xlsx and CSV written. */
  def report(in: Inputs, b: Batch, out: Path, counters: Option[Counters]): Timing = {
    val t0 = System.nanoTime()
    val dd = dropdowns(in.spark, in.coaPdf)
    val w = words(in.spark, b.dir)
    val jobs0 = counters.map { c => SparkBus.drain(in.spark.sparkContext); c.snapshot()(0) }
    val rep = Report.pipeline(w, in.mappings)
    val jobs1 = counters.map { c => SparkBus.drain(in.spark.sparkContext); c.snapshot()(0) }
    ExcelSink.write(rep, out.resolve("report.xlsx").toString, dropdowns = dd,
      currencyCols = Set("Amount"), centeredCols = Set("Date"))
    Report.writeCsv(rep, out.resolve("csv").toString)
    val t1 = System.nanoTime()
    Timing((t1 - t0) / 1e9,
      jobs1.zip(jobs0).map { case (a, z) => a - z }.getOrElse(0.0))
  }

  // ---- output checks -----------------------------------------------------

  private def csvFields(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var q = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (q) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { sb += '"'; i += 1 }
        else if (c == '"') q = false
        else sb += c
      } else if (c == '"') q = true
      else if (c == ',') { out += sb.toString; sb.clear() }
      else sb += c
      i += 1
    }
    out += sb.toString
    out.result()
  }

  /** Empty when the report in `out` matches the batch manifest, else the
    * reasons it does not. */
  def check(in: Inputs, b: Batch, out: Path): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val part = Files.list(out.resolve("csv")).iterator().asScala
      .find(_.getFileName.toString.matches("part-.*\\.csv"))
    val lines = part.map(p => Files.readAllLines(p).asScala.toSeq).getOrElse(Nil)
    if (lines.isEmpty) errs += "csv: no part file"
    else {
      val header = csvFields(lines.head)
      val rows = lines.tail.filter(_.nonEmpty).map(l => header.zip(csvFields(l)).toMap)
      if (rows.size != b.txns) errs += s"csv: ${rows.size} rows, expected ${b.txns}"
      val cents = rows.map(r => math.round(r("Amount").toDouble * 100)).sum
      if (cents != b.amountCents) errs += s"csv: amount sum $cents cents, expected ${b.amountCents}"
      val kinds = rows.map { r =>
        b.vendors.get(r("Vendor")) match {
          case Some((kind, payload)) if payloadColumns.map(r) == payload => kind
          case Some(_) => "wrong-payload"
          case None => "unknown-vendor"
        }
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val want = Map("exact" -> b.exact, "fuzzy" -> b.fuzzy, "none" -> b.none).filter(_._2 > 0)
      if (kinds != want) errs += s"csv: match types $kinds, expected $want"
      if (rows.exists(_("Receipt_Received") != "false")) errs += "csv: Receipt_Received not false"
    }
    val zip = new java.util.zip.ZipFile(out.resolve("report.xlsx").toFile)
    try {
      def part(name: String): String =
        new String(zip.getInputStream(zip.getEntry(name)).readAllBytes(), "UTF-8")
      val sheetRows = "<row ".r.findAllMatchIn(part("xl/worksheets/sheet1.xml")).size
      if (sheetRows != b.txns + 1) errs += s"xlsx: $sheetRows sheet rows, expected ${b.txns + 1}"
      val cell = """<c r="([A-Z]+)\d+"[^>]*><is><t>([^<]*)</t></is></c>""".r
      val lists = cell.findAllMatchIn(part("xl/worksheets/sheet2.xml")).toSeq
        .groupBy(_.group(1)).map { case (c, ms) => c -> ms.map(_.group(2)) }
      // ExcelSink lays the lists out one column each, in report column order
      val got = payloadColumns.filter(in.dropdownsExpected.contains).zipWithIndex.map {
        case (name, i) => name -> lists.getOrElse(('A' + i).toChar.toString, Nil)
      }.toMap
      if (got != in.dropdownsExpected) errs += "xlsx: dropdown lists differ from the COA codes"
    } finally zip.close()
    errs.result()
  }

  // ---- stage-isolated layer timings (traced run) -------------------------

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Each layer's public call, timed on input persisted and counted first. */
  def layers(in: Inputs, b: Batch, out: Path, input: String): Map[String, Double] = {
    val spark = in.spark
    val dbPath = Paths.get(input, "vendor_mappings.db").toString
    val (_, sqliteS) = timed(Sqlite.readTable(spark, dbPath, "vendor_mappings").count())
    val mappings = in.mappings.persist()
    mappings.count()

    val files = Ingest.binaryScan(spark, b.dir).persist()
    val nFiles = files.count()
    val w = Ingest.extractWords(files).persist()
    val (nWords, decodeS) = timed(w.count())
    val filesWithWords = w.select("file").distinct().count()

    // the transaction id Report.pipeline attaches before enrichment
    val txns = Statement.parse(w)
      .withColumn("txn_id", xxhash64(col("file"), col("page"), col("row_id"))).persist()
    val (nTxns, parseS) = timed(txns.count())

    val (_, coaS) = timed(dropdowns(spark, in.coaPdf))

    val (enriched, enrichConstructS) = timed(Enrichment.twoPhase(txns, mappings,
      factId = "txn_id", factKey = "vendor", dimId = "id", dimKey = "vendor",
      payload = Seq("gl_account", "location", "program", "funder", "department")))
    val (_, enrichActionS) = timed(enriched.count())
    val byType = enriched.groupBy("match_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    Caches.releaseAll()

    val (rep, constructS) = timed(Report.pipeline(w, mappings))
    val cached = rep.persist()
    cached.count()
    val dd = dropdowns(spark, in.coaPdf)
    val (_, xlsxS) = timed(ExcelSink.write(cached, out.resolve("report.xlsx").toString,
      dropdowns = dd, currencyCols = Set("Amount"), centeredCols = Set("Date")))
    val (_, csvS) = timed(Report.writeCsv(cached, out.resolve("csv").toString))
    Caches.releaseAll()
    Seq(cached, txns, w, files, mappings).foreach(_.unpersist(blocking = true))

    Map(
      "sources.sqlite_read_s" -> sqliteS,
      "sources.pdf_decode_s" -> decodeS,
      "sources.words" -> nWords.toDouble,
      "sources.pdf_refused" -> (nFiles - filesWithWords).toDouble / nFiles,
      "pipeline.statement_parse_s" -> parseS,
      "pipeline.txns" -> nTxns.toDouble,
      "pipeline.coa_s" -> coaS,
      "pipeline.report_construct_s" -> constructS,
      "pipeline.xlsx_sink_s" -> xlsxS,
      "pipeline.csv_sink_s" -> csvS,
      "operators.enrich_construct_s" -> enrichConstructS,
      "operators.enrich_action_s" -> enrichActionS,
      "operators.enrich_exact" -> byType.getOrElse("exact", 0.0),
      "operators.enrich_fuzzy" -> byType.getOrElse("fuzzy", 0.0),
      "operators.enrich_none" -> byType.getOrElse("none", 0.0))
  }

  // ---- driver ------------------------------------------------------------

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def emit(kind: String, fields: Seq[(String, Any)]): Unit = {
    val node = json.createObjectNode()
    fields.foreach {
      case (k, v: Double) => node.put(k, v)
      case (k, v: Long) => node.put(k, v)
      case (k, v: Int) => node.put(k, v)
      case (k, v: Boolean) => node.put(k, v)
      case (k, v: Map[_, _]) =>
        val m = node.putObject(k)
        v.asInstanceOf[Map[String, Double]].toSeq.sortBy(_._1).foreach { case (a, x) => m.put(a, x) }
      case (k, v) => node.put(k, v.toString)
    }
    println(s"$kind ${json.writeValueAsString(node)}")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val input = opts("input")
    val work = Paths.get(opts("work"))
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"

    // registered once, at setup; it counts only while `on`
    val counters = if (traced) Some(new Counters) else None
    val (in, setupS) = setup(input, counters)
    val attempted = new java.util.concurrent.atomic.AtomicLong
    val failed = new java.util.concurrent.atomic.AtomicLong
    val reportN = new java.util.concurrent.atomic.AtomicInteger
    def run(b: Batch, c: Option[Counters], release: Boolean = true): Option[Timing] = {
      val out = work.resolve(f"out_${reportN.incrementAndGet()}%04d")
      Files.createDirectories(out)
      attempted.incrementAndGet()
      val t = try Some(report(in, b, out, c)) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] report ${b.name} threw: $e")
          None
      }
      if (release) Caches.releaseAll()
      val errs =
        if (t.isEmpty) Seq("threw")
        else try check(in, b, out) catch { case e: Exception => Seq(s"unreadable output: $e") }
      if (errs.nonEmpty) {
        failed.incrementAndGet()
        System.err.println(s"[perfbench] report ${b.name} failed: ${errs.mkString("; ")}")
      }
      deleteTree(out.toFile)
      t
    }

    // cold: the first report after setup pays codegen and JIT warm-up
    val first = run(in.batches.head, None)

    // Untimed warm-up: one round of concurrent reports drives the JIT
    // towards its steady state in fewer seconds than back-to-back reports
    // would. The engine's cached frames are released after the round.
    val warmT0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmupReports)
    try (0 until WarmupReports).map { i =>
      val b = in.warmup(i % in.warmup.size)
      pool.submit(new java.util.concurrent.Callable[Option[Timing]] {
        def call(): Option[Timing] = run(b, None, release = false)
      })
    }.foreach(_.get())
    finally pool.shutdown()
    Caches.releaseAll()
    val warmupS = (System.nanoTime() - warmT0) / 1e9

    // Warm closed loop over the batches for `seconds` (at least two
    // reports). The traced run traces reports in an untraced, traced,
    // traced, untraced order, whole groups of four, so a drift in report
    // time along the run cancels out of the traced-minus-untraced overhead.
    final case class Warm(t: Timing, txns: Long, traced: Boolean, spark: Array[Double])
    val warm = Seq.newBuilder[Warm]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n < 2 || (traced && n % 4 != 0) || System.nanoTime() < end) {
      val b = in.batches((n + 1) % in.batches.size)
      val c = counters.filter(_ => n % 4 == 1 || n % 4 == 2)
      c.foreach { x => SparkBus.drain(in.spark.sparkContext); x.on = true }
      val before = c.map(_.snapshot())
      val t = run(b, c)
      c.foreach { x => SparkBus.drain(in.spark.sparkContext); x.on = false }
      val delta = c.map(_.snapshot()).zip(before)
        .map { case (y, x) => y.zip(x).map { case (a, z) => a - z } }.getOrElse(Array.empty[Double])
      t.foreach(tt => warm += Warm(tt, b.txns, c.isDefined, delta))
      n += 1
    }
    val reports = warm.result()

    val metrics = if (!traced) {
      Map(
        "setup_s" -> setupS,
        "first_report_s" -> first.map(_.total).getOrElse(Double.NaN),
        "report_p50_s" -> median(reports.map(_.t.total)),
        "txns_per_s" -> median(reports.map(r => r.txns / r.t.total)),
        "peak_rss_mb" -> peakRssMb())
    } else {
      val (on, off) = reports.partition(_.traced)
      def spark(i: Int) = median(on.map(_.spark(i)))
      val tracedP50 = median(on.map(_.t.total))
      val untracedP50 = median(off.map(_.t.total))
      val layerOut = work.resolve("layers")
      Files.createDirectories(layerOut)
      layers(in, in.batches.last, layerOut, input) ++ Map(
        "spark.jobs" -> spark(0),
        "spark.construct_jobs" -> median(on.map(_.t.constructJobs)),
        "spark.stages" -> spark(1),
        "spark.tasks" -> spark(2),
        "spark.task_busy_s" -> spark(3),
        "spark.shuffle_write_mb" -> spark(4),
        "spark.spill_mb" -> spark(5),
        "trace.untraced_report_p50_s" -> untracedP50,
        "trace.traced_report_p50_s" -> tracedP50,
        "trace.overhead_report_p50_s" -> (tracedP50 - untracedP50))
    }
    emit("RESULT", Seq("attempted" -> attempted.get, "failed" -> failed.get,
      "cores" -> in.spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> in.spark.conf.get("spark.sql.shuffle.partitions"),
      "warmup_s" -> warmupS,
      "report_times_s" -> (first.map(_.total).toSeq ++ reports.map(_.t.total))
        .map(x => f"$x%.3f").mkString(" "),
      "metrics" -> metrics))
    in.spark.stop()
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }
}
