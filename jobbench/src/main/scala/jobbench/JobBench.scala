package jobbench

import graft.gen.PagesGen
import graft.pipeline.{ExtractJob, ExtractPipeline, Ledger}
import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The extraction-job benchmark. Drives the production job the way
  * `graft.Main` does (`ExtractJob.run` with `repartition = 3 × defaultParallelism`,
  * AQE and skew join on, UTC) at `local[nproc]` in this one JVM, checks the
  * output against the generator's golden, and prints the result as the last
  * line of standard output.
  *
  * Untraced runs (`--trace 0`) report the end-to-end metrics; traced runs
  * (`--trace 1`) report the per-layer metrics, read from Spark's public
  * listener events and from timed calls into the layers' public functions,
  * and write their spans to `work/traces/`.
  */
object JobBench {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, injectWrong: Boolean, commit: String, sourceSha: String)

  /** Input rows: large enough that per-row work is about half of a fresh
    * pass, whose 360-file write costs about the same at any size.
    */
  val Rows = 40000
  /** Set-ups per untraced run; `setup_s` is their median. */
  val Setups = 3
  /** Warm-up passes per set-up. The JIT state carries over from one set-up
    * to the next, so timed passes start after `Setups × WarmPasses` passes:
    * pass time falls by about a third over the first six.
    */
  val WarmPasses = 2
  /** Timed passes per run, at least, so that a run on a slowed host still
    * reports a median of several passes.
    */
  val MinPasses = 4

  private def parse(argv: Array[String]): Args = {
    val flags = Set("--inject-wrong-row")
    def go(xs: List[String], m: Map[String, String]): Map[String, String] = xs match {
      case f :: rest if flags(f) => go(rest, m + (f -> "true"))
      case k :: v :: rest if k.startsWith("--") => go(rest, m + (k -> v))
      case Nil => m
      case other => sys.error(s"unexpected arguments: ${other.mkString(" ")}")
    }
    val m = go(argv.toList, Map.empty)
    def req(k: String) = m.getOrElse(k, sys.error(s"$k is required"))
    val w = req("--workload")
    require(Workloads.Names.contains(w), s"unknown workload $w")
    Args(w, req("--seed").toLong, req("--seconds").toInt, req("--trace") == "1",
      new File(req("--work")).getAbsolutePath, m.contains("--inject-wrong-row"), m.getOrElse("--commit", "none"),
      m.getOrElse("--source-sha", "none"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = new JobBench(a).run()
    sys.exit(code)
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
}

final class JobBench(a: JobBench.Args) {
  import JobBench._

  private val master = s"local[${Runtime.getRuntime.availableProcessors()}]"
  private val runDir = new File(s"${a.work}/run/${a.workload}")
  private val outDir = s"$runDir/out"
  private val ledgerDir = s"$runDir/ledger"
  private val trace = new Trace(a.trace)
  private val problems = scala.collection.mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  private var spark: SparkSession = _
  private var probe: Probe = _
  private var conf: ExtractPipeline.Conf = _

  private def startSession(): Double = {
    val t0 = System.nanoTime()
    spark = SparkSession.builder()
      .appName("graft-extract")
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/tmp/spark")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    probe = new Probe(spark)
    conf = ExtractPipeline.Conf(repartition = spark.sparkContext.defaultParallelism * 3)
    (System.nanoTime() - t0) / 1e9
  }

  private def stopSession(): Unit = {
    probe.close()
    spark.stop()
  }

  // ------------------------------------------------------------------ passes

  /** One pass of the job and what Spark reported about it. `probeNs` is the
    * time the probe spent on tracing-only work during a traced pass.
    */
  final case class Pass(traced: Boolean, startNs: Long, endNs: Long, dropNs: (Long, Long),
      res: Option[ExtractJob.Result], error: Option[String], evs: Seq[Ev], gcMs: Long,
      probeNs: Long) {
    def wallNs: Long = endNs - startNs
  }

  private var in: Input = _
  private var lastDay: String = _

  private def expectedDays: Set[String] =
    if (a.workload == "resume_tail") Set(lastDay) else in.days.keySet

  private def passRows: Long = expectedDays.toSeq.map(in.days(_)._1).sum

  private def fresh(): Unit = {
    Fs.delete(new File(outDir)); Fs.delete(new File(ledgerDir))
  }

  /** Main's job: read the pages table, run ExtractJob. Resume passes first
    * drop the last day from the ledger (a kill before its commit); fresh
    * passes start from an empty output and ledger. A traced pass runs with
    * the probe's tracing on.
    */
  private def pass(traced: Boolean = false): Pass = {
    var drop = (0L, 0L)
    if (a.workload == "resume_tail") {
      val d0 = System.nanoTime()
      Ledger.drop(ledgerDir, s"p_day=$lastDay")
      drop = (d0, System.nanoTime())
    } else fresh()
    probe.tracing = traced
    val i0 = probe.fence()
    val n0 = probe.tracingNs
    val g0 = gcMs()
    val t0 = System.nanoTime()
    val (res, err) =
      try {
        val pages = spark.read.parquet(in.pagesDir)
        (Some(ExtractJob.run(spark, pages, outDir, ledgerDir, conf)), None)
      } catch { case e: Throwable => (None, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
    val t1 = System.nanoTime()
    val g1 = gcMs()
    val i1 = probe.fence()
    val n1 = probe.tracingNs
    probe.tracing = false
    Pass(traced, t0, t1, drop, res, err, probe.slice(i0, i1), g1 - g0, n1 - n0)
  }

  /** Per-pass correctness: the job's per-day stats and the ledger. */
  private def check(p: Pass): Unit = {
    val rows = passRows
    attempted += rows
    p.res match {
      case None =>
        failed += rows
        problems += s"pass threw: ${p.error.getOrElse("")}"
      case Some(res) =>
        val bad = Gate.pass(in, res, expectedDays)
        if (bad > 0) { failed += bad; problems += s"per-day stats disagree with the golden ($bad rows)" }
        Gate.ledger(in, ledgerDir).foreach { msg => failed += rows; problems += msg }
        if (a.workload == "resume_tail") {
          // the dropped commit held the highest id; the rerun's commit must
          // rise above every id still committed
          val (day, others) = Ledger.committed(ledgerDir).partition(_._1 == s"p_day=$lastDay")
          val snap = day.values.map(_.snapshot).headOption.getOrElse(-1L)
          val before = others.values.map(_.snapshot).max
          if (snap <= before) problems += s"snapshot id did not rise ($before -> $snap)"
        }
    }
    scanCheck(p)
  }

  // ------------------------------------------------------------ pass figures

  private def writeQuery(p: Pass): Option[QueryEv] =
    p.evs.collectFirst { case q: QueryEv if q.write.isDefined && !q.failed => q }

  private def statsQuery(p: Pass): Option[QueryEv] =
    p.evs.collectFirst { case q: QueryEv if q.write.isEmpty && q.aggregates && !q.failed => q }

  private def inputScan(p: Pass): Option[ScanInfo] = {
    val root = new File(in.pagesDir).toURI.getPath.stripSuffix("/")
    writeQuery(p).flatMap(_.scans.find(s => s.root.stripSuffix("/").endsWith(root)))
  }

  /** The FileScan's own size metric must equal the sizes of the files it
    * lists, and its row count must lie between the rows written and the rows
    * of the table. Only traced passes record scans, and only they report the
    * scan figures.
    */
  private def scanCheck(p: Pass): Unit = if (p.traced && p.res.isDefined) inputScan(p) match {
    case None => problems += "no FileScan of the pages table in the write's plan"
    case Some(s) =>
      val written = writeQuery(p).flatMap(_.write).map(_.rows).getOrElse(-1L)
      if (s.bytes != s.listedBytes)
        problems += s"scan.bytes ${s.bytes} != ${s.listedBytes} bytes in the ${s.listedFiles} files it lists"
      if (s.rows > in.rows || s.rows < written)
        problems += s"scan.rows ${s.rows} outside [$written rows written, ${in.rows} table rows]"
  }

  private def tasks(p: Pass): Seq[TaskEv] = p.evs.collect { case t: TaskEv => t }

  private def e2e(p: Pass): Map[String, Double] = {
    val ts = tasks(p)
    val rows = in.rows.toDouble
    Map(
      "docs_per_s" -> rows / (p.wallNs / 1e9),
      "cpu_ns_per_doc" -> ts.map(_.cpuNs).sum / rows,
      "peak_task_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / 1048576.0),
      // per row written: a resume pass writes one day, whose size varies by seed
      "out_bytes_per_doc" -> writeQuery(p).flatMap(_.write).filter(_.rows > 0)
        .map(w => w.bytes.toDouble / w.rows).getOrElse(0.0))
  }

  private def execs(p: Pass): Seq[(Long, Long, Long, Long, String)] = {
    val ends = p.evs.collect { case e: ExecEndEv => e.execId -> e.ms }.toMap
    p.evs.collect { case s: ExecStartEv if ends.contains(s.execId) =>
      (s.execId, s.rootId, s.ms, ends(s.execId), s.desc)
    }
  }

  private def layers(p: Pass): Map[String, Double] = {
    val rows = in.rows.toDouble
    val ts = tasks(p)
    val stages = p.evs.collect { case s: StageEv => s }
    val wq = writeQuery(p)
    val writeStages = stages.filter(s => wq.exists(_.execId == s.execId)).map(_.stageId).toSet
    val byStage = ts.groupBy(_.stageId)
    // the kernel runs in the map stage of the url-hash exchange
    val kernelStage = byStage.filter { case (st, xs) =>
      writeStages(st) && xs.exists(_.shuffleBytes > 0) }.values.flatten.toSeq
    val scan = inputScan(p)
    val w = wq.flatMap(_.write)
    val sqlMs = execs(p).filter(e => e._1 == e._2).map(e => e._4 - e._3).sum
    val runs = kernelStage.map(_.runMs.toDouble)
    Map(
      "pipeline.kernel_stage_cpu_ns_per_doc" -> kernelStage.map(_.cpuNs).sum / rows,
      "pipeline.task_skew" -> (if (runs.isEmpty) 0.0 else runs.max / math.max(1.0, Stats.median(runs))),
      "pipeline.gc_ms" -> p.gcMs.toDouble,
      "exchange.bytes_per_doc" -> kernelStage.map(_.shuffleBytes).sum / rows,
      "exchange.write_ms" -> kernelStage.map(_.shuffleWriteNs).sum / 1e6,
      "exchange.fetch_wait_ms" -> ts.filter(t => writeStages(t.stageId)).map(_.fetchWaitMs).sum.toDouble,
      "write.ms" -> wq.map(_.durNs / 1e6).getOrElse(0.0),
      "write.files" -> w.map(_.files.toDouble).getOrElse(0.0),
      "write.spill_bytes" -> ts.filter(t => writeStages(t.stageId)).map(_.spillBytes).sum.toDouble,
      "stats.ms" -> statsQuery(p).map(_.durNs / 1e6).getOrElse(0.0),
      "scan.rows" -> scan.map(_.rows.toDouble).getOrElse(0.0),
      "scan.bytes" -> scan.map(_.bytes.toDouble).getOrElse(0.0),
      "scan.ms" -> scan.map(_.scanMs.toDouble).getOrElse(0.0),
      "job.driver_self_ms" -> (p.wallNs / 1e6 - sqlMs))
  }

  /** Spans of one pass: the pass, its job run and ledger drop, the SQL
    * executions it triggered and their stages. Returns the time it took.
    */
  private def traceSpans(id: Int, p: Pass): Long = {
    val t0 = System.nanoTime()
    val start = if (p.dropNs._1 > 0) p.dropNs._1 else p.startNs
    val root = trace.add(id, 0, "pass", trace.us(start), trace.us(p.endNs))
    if (p.dropNs._1 > 0) trace.add(id, root, "ledger.drop", trace.us(p.dropNs._1), trace.us(p.dropNs._2))
    val job = trace.add(id, root, "job.run", trace.us(p.startNs), trace.us(p.endNs))
    val ex = execs(p)
    val spanOf = scala.collection.mutable.Map.empty[Long, Int]
    ex.sortBy(e => (e._1 != e._2, e._1)).foreach { case (eid, rid, s, e, desc) =>
      val parent = if (eid == rid) job else spanOf.getOrElse(rid, job)
      spanOf(eid) = trace.add(id, parent, s"sql:${desc.take(60)}", s * 1000, e * 1000)
    }
    p.evs.foreach {
      case s: StageEv =>
        trace.add(id, spanOf.getOrElse(s.execId, job), s"stage:${s.name.take(60)}",
          s.startMs * 1000, s.endMs * 1000)
      case _ => ()
    }
    System.nanoTime() - t0
  }

  // ----------------------------------------------------------------- layers

  private def kernelLayers(): Map[String, Double] = {
    // the rows a pass hands the kernel: all of crawl_mix, resume_tail's re-read day
    var df = spark.read.parquet(in.pagesDir).filter(length(col("html")) > 0)
    if (a.workload == "resume_tail")
      df = df.filter(date_format(col("warc_ts"), "yyyy-MM-dd") === lastDay)
    val raw = df.orderBy("url").limit(1500).select("html").collect().map(_.getAs[Array[Byte]](0)).toSeq
    val s = KernelTimer.sample(raw)
    val tid = 1000000
    KernelTimer.run(s, warmRounds = 3, rounds = 9,
      (name, t0, t1) => { trace.add(tid, 0, name, trace.us(t0), trace.us(t1)); () })
  }

  /** CPU of the typed path minus the expression path, per input row, over
    * the rows a pass extracts, taken in their WET form: `html` emptied and the
    * golden text in `text`. Both paths then take the passthrough branch, so
    * the kernel, which they share and whose run-to-run noise is several times
    * the encoder's cost, does not run. Both write every column to the no-op
    * sink so neither plan can prune the extraction away.
    */
  private def encoderLayer(): Double = {
    val wetDir = new File(runDir, "wet").getPath
    var df = spark.read.parquet(in.pagesDir)
    if (a.workload == "resume_tail")
      df = df.filter(date_format(col("warc_ts"), "yyyy-MM-dd") === lastDay)
    df.join(spark.read.parquet(in.goldenDir), "url")
      .select(col("url"), col("warc_ts"), lit(Array.emptyByteArray).as("html"),
        col("expected").as("text"), col("lang"))
      .write.mode("overwrite").parquet(wetDir)
    def cpu(run: => Unit): Double = {
      val i0 = probe.fence(); run; val i1 = probe.fence()
      probe.slice(i0, i1).collect { case t: TaskEv => t.cpuNs }.sum.toDouble
    }
    val diffs = (1 to 5).map { _ =>
      val wet = spark.read.parquet(wetDir)
      val typed = cpu(ExtractPipeline.extract(spark, wet, conf).toDF()
        .write.format("noop").mode("overwrite").save())
      val text = cpu(ExtractPipeline.extractText(spark, wet, conf)
        .write.format("noop").mode("overwrite").save())
      (typed - text) / in.rows
    }
    Fs.delete(new File(wetDir))
    Stats.median(diffs)
  }

  private def ledgerLayers(): Map[String, Double] = {
    val tid = 2000000
    val committedMs = (1 to 9).map { _ =>
      val t0 = System.nanoTime(); Ledger.committed(ledgerDir); val t1 = System.nanoTime()
      trace.add(tid, 0, "ledger.committed", trace.us(t0), trace.us(t1))
      (t1 - t0) / 1e6
    }
    val scratch = new File(runDir, "ledger_bench").getPath
    val entries = Ledger.committed(ledgerDir).values.toSeq.sortBy(_.partition)
    val commitMs = (1 to 3).map { _ =>
      Fs.delete(new File(scratch))
      val t0 = System.nanoTime()
      entries.foreach { e =>
        val c0 = System.nanoTime(); Ledger.commit(scratch, e)
        trace.add(tid, 0, "ledger.commit", trace.us(c0), trace.us(System.nanoTime()))
      }
      (System.nanoTime() - t0) / 1e6 / math.max(1, entries.length)
    }
    Fs.delete(new File(scratch))
    Map("ledger.committed_ms" -> Stats.median(committedMs), "ledger.commit_ms" -> Stats.median(commitMs))
  }

  // -------------------------------------------------------------------- run

  private def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
    if (ms.isEmpty) Map.empty
    else ms.head.keys.map(k => k -> Stats.median(ms.map(_(k)))).toMap

  def run(): Int = {
    val tStart = System.nanoTime()
    runDir.mkdirs()
    var sessionS = startSession()
    in = Workloads.prepare(spark, a.work, a.seed, Rows)
    var backfillS = 0.0
    var kept: Map[String, (Long, Long)] = Map.empty
    if (a.workload == "resume_tail") {
      val t0 = System.nanoTime()
      fresh()
      ExtractJob.run(spark, spark.read.parquet(in.pagesDir), outDir, ledgerDir, conf)
      backfillS = (System.nanoTime() - t0) / 1e9
      Gate.ledger(in, ledgerDir).foreach(m => sys.error(s"backfill: $m"))
      lastDay = Ledger.committed(ledgerDir).keys.map(_.stripPrefix("p_day=")).max
      kept = Fs.listing(new File(outDir)).filter(!_._1.startsWith(s"p_day=$lastDay/"))
    }

    // set-up: session start plus warm-up passes, repeated; setup_s is the median
    // (a traced run reports no setup_s: one set-up with as many warm-up
    // passes as an untraced run makes before its timed passes)
    val setups = (1 to (if (a.trace) 1 else Setups)).map { k =>
      if (k > 1) { stopSession(); sessionS = startSession() }
      val t0 = System.nanoTime()
      (1 to (if (a.trace) Setups * WarmPasses else WarmPasses)).foreach(_ => pass())
      sessionS + (System.nanoTime() - t0) / 1e9
    }

    // timed passes; a traced run alternates untraced and traced passes, and
    // charges each traced pass with the time its spans took to record
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val spanNs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val tTimed = System.nanoTime()
    def elapsed = (System.nanoTime() - tTimed) / 1e9
    var n = 0
    while ((elapsed < a.seconds || untraced.length < MinPasses ||
        (a.trace && traced.length < MinPasses)) && elapsed < 4.0 * a.seconds + 20) {
      val p = pass(traced = a.trace && n % 2 == 1)
      check(p)
      if (p.traced) { spanNs += traceSpans(n, p); traced += p } else untraced += p
      n += 1
    }

    val tGate = System.nanoTime()
    val gate = try Gate.output(spark, in, outDir, a.injectWrong)
      catch { case e: Throwable =>
        problems += s"gate threw: ${e.getMessage}"
        Gate.Result(in.rows, 0L, in.rows, Map("gate_error" -> in.rows))
      }
    val gateS = (System.nanoTime() - tGate) / 1e9
    attempted += gate.rows
    failed += gate.wrong
    if (gate.wrong > 0) problems += s"${gate.wrong} output rows wrong: ${gate.reasons}"
    if (gate.outRows != in.rows) problems += s"output has ${gate.outRows} rows, input ${in.rows}"
    if (a.workload == "resume_tail") {
      val now = Fs.listing(new File(outDir)).filter(!_._1.startsWith(s"p_day=$lastDay/"))
      if (now != kept) problems += "files of the 29 committed days changed"
    }

    val ok = untraced.filter(_.res.isDefined).toSeq
    val e2e = medians(ok.map(this.e2e)) ++ Map("setup_s" -> Stats.median(setups))
    val layerFigures =
      if (!a.trace) Map.empty[String, Double]
      else {
        val t = traced.filter(_.res.isDefined).toSeq
        val cost = traced.indices.map(i => traced(i).wallNs + spanNs(i))
        medians(t.map(layers)) ++ kernelLayers() ++ ledgerLayers() ++ Map(
          "pipeline.encoder_cpu_ns_per_doc" -> encoderLayer(),
          // each traced pass against the untraced pass just before it: wall
          // time, so it reads within the passes' noise of 0 and can be negative
          "trace.overhead_ms" -> Stats.median(traced.indices.map(i =>
            (cost(i) - untraced(i).wallNs) / 1e6)),
          // the tracing work itself: the probe's tracing-only listener work
          // (on the listener-bus thread) plus recording the spans
          "trace.self_ms" -> Stats.median(traced.indices.map(i =>
            (traced(i).probeNs + spanNs(i)) / 1e6)))
      }
    val metrics = if (a.trace) layerFigures else e2e
    val correct = problems.isEmpty && failed == 0 && metrics.nonEmpty

    val wrongShare = if (attempted == 0) 1.0 else failed.toDouble / attempted
    val units = Units.of
    val record = ListMap(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "wrong_share" -> wrongShare, "problems" -> problems.toSeq,
      "metrics" -> ListMap(metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> ListMap("value" -> v, "unit" -> units(k)) }: _*),
      "passes" -> ListMap(
        "untraced_wall_s" -> untraced.map(_.wallNs / 1e9),
        "traced_wall_s" -> traced.map(_.wallNs / 1e9),
        "setup_s" -> setups, "rows_per_pass" -> passRows,
        "gate_s" -> gateS,
        "figures" -> (untraced ++ traced).sortBy(_.startNs).filter(_.res.isDefined).map(p =>
          ListMap(("traced" -> p.traced) +: (this.e2e(p) ++ (if (p.traced) layers(p) else Map.empty))
            .toSeq.sortBy(_._1): _*))),
      "gate" -> ListMap("rows" -> gate.rows, "output_rows" -> gate.outRows,
        "wrong" -> gate.wrong, "reasons" -> gate.reasons),
      "provenance" -> Provenance(spark, a, in, master, conf.repartition, backfillS),
      "run_s" -> (System.nanoTime() - tStart) / 1e9)
    val stamp = System.currentTimeMillis()
    val name = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-$stamp"
    trace.write(new File(s"${a.work}/traces/$name.jsonl"))
    val recFile = new File(s"${a.work}/results/$name.json")
    recFile.getParentFile.mkdirs()
    java.nio.file.Files.write(recFile.toPath, Json(record).getBytes("UTF-8"))
    stopSession()

    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"$k%-40s $v%.6g ${units(k)}") }
    println(f"${"wrong_share"}%-40s $wrongShare%.6g share")
    problems.foreach(p => println(s"PROBLEM: $p"))
    println(s"record: ${recFile.getPath}")
    val line = metrics.filter(kv => !Units.recordOnly(kv._1))
    println(Json(ListMap("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(line.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> ListMap("value" -> v, "unit" -> units(k)) }: _*))))
    if (correct) 0 else 1
  }
}

/** Units of every metric the harness reports. */
object Units {
  /** In the record but not in the result line: a single-JVM shuffle reads
    * its blocks locally, so fetch wait is 0 on every run.
    */
  val recordOnly: Set[String] = Set("exchange.fetch_wait_ms")

  val of: Map[String, String] = Map(
    "docs_per_s" -> "docs/s", "cpu_ns_per_doc" -> "ns", "peak_task_mem_mb" -> "MB",
    "out_bytes_per_doc" -> "B", "setup_s" -> "s",
    "transport.us_per_doc" -> "us", "charset.us_per_doc" -> "us", "tokenize.us_per_doc" -> "us",
    "dom.self_us_per_doc" -> "us", "score.self_us_per_doc" -> "us", "extract.us_per_doc" -> "us",
    "pdf.us_per_doc" -> "us",
    "pipeline.kernel_stage_cpu_ns_per_doc" -> "ns", "pipeline.task_skew" -> "ratio",
    "pipeline.gc_ms" -> "ms", "pipeline.encoder_cpu_ns_per_doc" -> "ns",
    "exchange.bytes_per_doc" -> "B", "exchange.write_ms" -> "ms", "exchange.fetch_wait_ms" -> "ms",
    "write.ms" -> "ms", "write.files" -> "count", "write.spill_bytes" -> "B", "stats.ms" -> "ms",
    "scan.rows" -> "count", "scan.bytes" -> "B", "scan.ms" -> "ms",
    "ledger.committed_ms" -> "ms", "ledger.commit_ms" -> "ms", "job.driver_self_ms" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.self_ms" -> "ms")
}

/** Host and provenance of a result: results from different hosts are never compared. */
object Provenance {
  private def procField(file: String, key: String): String = try {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().find(_.startsWith(key)).map(_.split(":", 2)(1).trim).getOrElse("unknown")
    finally src.close()
  } catch { case _: Throwable => "unknown" }

  def apply(spark: SparkSession, a: JobBench.Args, in: Input, master: String,
      partitions: Int, backfillS: Double): Map[String, Any] = {
    val volatileKeys = Set("spark.app.id", "spark.app.startTime", "spark.driver.port",
      "spark.app.submitTime", "spark.executor.id", "spark.driver.host")
    ListMap(
      "host" -> ListMap(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "mem_total" -> procField("/proc/meminfo", "MemTotal"),
        "cpu_model" -> procField("/proc/cpuinfo", "model name"),
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576L,
        "java" -> System.getProperty("java.version")),
      "spark" -> ListMap(
        "version" -> spark.version, "master" -> master, "repartition" -> partitions,
        "conf" -> ListMap(spark.sparkContext.getConf.getAll.toSeq
          .filterNot(kv => volatileKeys(kv._1)).sortBy(_._1): _*)),
      // what this job does differently from graft.Main on the same host
      "differences_from_main" -> Seq(
        s"file: is served by ${classOf[NioLocalFileSystem].getName}, which sets permissions " +
          "through java.nio instead of forking chmod per file"),
      "commit" -> a.commit, "source_sha256" -> a.sourceSha,
      "seed" -> a.seed, "rows" -> in.rows, "input_bytes" -> in.bytes, "input_files" -> in.files,
      "corpus_version" -> PagesGen.CorpusVersion, "gen_version" -> Workloads.GenVersion,
      "input_gen_s" -> in.genSeconds, "backfill_s" -> backfillS)
  }
}
