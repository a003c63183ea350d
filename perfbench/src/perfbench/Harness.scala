package perfbench

import graft.pipeline.{Checkpoint, Main}
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark JVM: generates a workload from a seed, stages it as a page
  * table, runs the real `graft.pipeline.Main.main(table, outDir)` in-process
  * for a fixed time, checks every committed output, and prints
  *
  *   PERFBENCH_DETAIL {...}   sample lists, sizes, cpus, seed
  *   PERFBENCH_RESULT {...}   correct, attempted, failed and metric values
  *
  * `perfbench/run.py` builds and launches it; see perfbench/README.md. */
object Harness {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, traces: String, cores: Int)

  /** One `Main.main` call. */
  final case class MainRun(jobS: Double, record: RunRecord, callMs: Long, returnMs: Long)

  /** Timed Main runs, traced and untraced together: at least MinRuns, at
    * most MaxRuns. */
  val MinRuns = 5
  val MaxRuns = 20
  /** No timed run starts once the JVM has been up this long (after the
    * first), so that a much slower program still reports within the 180 s
    * a benchmark run may take. A traced run stops 30 s sooner: the layer
    * passes follow. */
  val LoopBudgetS = 120.0
  /** Discarded Main runs after the cold pass. The JIT keeps compiling
    * Spark's code paths over the first dozen or so Main runs in a JVM, on
    * the cores the job runs on, so job_s falls from run to run; the warm-up
    * takes the steepest part of that fall out of the timed runs. */
  val WarmupRuns = 3
  /** Single-threaded passes of the direct layer calls in a traced run. */
  val LayerPasses = 2

  private implicit val formats: Formats = DefaultFormats
  def json(v: AnyRef): String = Serialization.write(v)

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv("traces"), kv.get("cores").map(_.toInt).getOrElse(cores))
    val code =
      try { if (o.workload == "selftest") selfTest(o) else bench(o) }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  // ---------------------------------------------------------------- running

  private var runCounter = 0

  def runMain(table: String, out: String, traced: Boolean): MainRun = {
    runCounter += 1
    val rec = new RunRecord(s"run-$runCounter")
    Recorder.current = rec
    System.setProperty("spark.extraListeners",
      (if (traced) classOf[TraceListener] else classOf[CacheListener]).getName)
    val callMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try Main.main(Array(table, out))
    finally {
      System.clearProperty("spark.extraListeners")
      Recorder.current = null
    }
    val jobS = (System.nanoTime() - t0) / 1e9
    MainRun(jobS, rec, callMs, System.currentTimeMillis())
  }

  def session(app: String): SparkSession = {
    val s = SparkSession.builder().appName(app).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Stage docs as a parquet page table, `files` files. */
  def stage(spark: SparkSession, docs: Seq[Doc], dir: String, files: Int): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(docs.map(_.row), files).toDS()
      .write.mode("overwrite").parquet(dir)
  }

  private def digest(docs: Seq[Doc]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach { d => md.update(d.url.getBytes); md.update(d.payload) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
    }

  private def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally w.close()
  }

  private def batchDirs(out: String): Set[Path] =
    Seq(Checkpoint.dataPath(out), Checkpoint.manifestPath(out)).flatMap { d =>
      val f = new File(d)
      Option(f.listFiles()).getOrElse(Array.empty[File]).filter(_.getName.startsWith("batch_"))
        .map(_.toPath)
    }.toSet

  /** Bytes of the data and manifest files in batches committed since `before`. */
  private def committedBytes(out: String, before: Set[Path]): Long =
    (batchDirs(out) -- before).toSeq.flatMap(b => Option(b.toFile.listFiles()).getOrElse(Array.empty[File]))
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.length).sum

  // ---------------------------------------------------------------- bench

  def bench(o: Opts): Int = {
    val work = Paths.get(o.work)
    deleteTree(work)
    Files.createDirectories(work)
    val table = work.resolve("pages").toString
    val files = 2 * o.cores

    // ---- set-up: session start, generation + staging, prep, cold pass,
    // warm-up
    val setup0 = System.nanoTime()
    val stageSpark = session("perfbench-stage")
    val sessionS = (System.nanoTime() - setup0) / 1e9
    val g0 = System.nanoTime()
    val docs = Workloads.generate(o.workload, o.seed, o.cores)
    val genS = (System.nanoTime() - g0) / 1e9
    // several slices: one Hive-style partition directory each
    val slices = docs.groupBy(_.slice)
    if (slices.size == 1) stage(stageSpark, docs, table, files)
    else slices.foreach { case (s, ds) => stage(stageSpark, ds, s"$table/slice=$s", files) }
    stageSpark.stop()
    val genStageS = (System.nanoTime() - g0) / 1e9

    // earlier slices are committed, one Main run each, into an output that
    // every timed run starts from a copy of; the last slice is the new work
    val lastSlice = docs.map(_.slice).max
    val todo = docs.filter(_.slice == lastSlice)
    val resume = lastSlice > 0
    val prepared = work.resolve("prepared")
    val p0 = System.nanoTime()
    (0 until lastSlice).foreach(s => runMain(s"$table/slice=$s", prepared.toString, traced = false))
    val prepS = (System.nanoTime() - p0) / 1e9

    var outCount = 0
    def freshOut(): Path = {
      outCount += 1
      val out = work.resolve(s"out-$outCount")
      if (resume) copyTree(prepared, out)
      out
    }
    val coldOut = freshOut()
    val cold = runMain(table, coldOut.toString, traced = false)
    (1 to WarmupRuns).foreach { _ =>
      val out = freshOut()
      runMain(table, out.toString, traced = false)
      deleteTree(out)
    }
    val setupS = (System.nanoTime() - setup0) / 1e9

    // ---- output check after every run, the cold pass included: each output
    // is checked right after its run, outside the timed region, and deleted
    val checks = mutable.ArrayBuffer.empty[CheckResult]
    var checkS = 0.0
    def checkAndDrop(out: Path): Unit = {
      val c0 = System.nanoTime()
      val s = session("perfbench-check")
      try checks += Check(s, out.toString, docs) finally s.stop()
      deleteTree(out)
      checkS += (System.nanoTime() - c0) / 1e9
    }
    checkAndDrop(coldOut)

    // ---- timed runs
    val untraced = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    val cachePeak = mutable.ArrayBuffer.empty[Double]
    val outBytes = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[TracedRun]
    val spans = mutable.ArrayBuffer.empty[Span]
    def one(withTrace: Boolean): Unit = {
      val out = freshOut()
      val before = batchDirs(out.toString)
      System.gc() // each timed run starts from a collected heap
      val r = runMain(table, out.toString, withTrace)
      outBytes += committedBytes(out.toString, before).toDouble
      if (withTrace) {
        tracedS += r.jobS
        val t = Phases.analyse(r.record, r.callMs, r.returnMs, o.cores)
        traced += t
        spans ++= t.spans
      } else {
        untraced += r.jobS
        cachePeak += r.record.allPeak.toDouble
      }
      checkAndDrop(out)
    }
    def uptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val loopBudgetS = if (o.trace) LoopBudgetS - 30 else LoopBudgetS
    def runs = untraced.length + tracedS.length
    var i = 0
    // --seconds of Main time in timed runs, checks not counted
    while (runs < MaxRuns && (runs < MinRuns || untraced.sum + tracedS.sum < o.seconds) &&
        (i == 0 || uptimeS < loopBudgetS)) {
      // traced runs pair with untraced ones, alternating which goes first
      if (o.trace && i % 2 == 0) { one(true); one(false) }
      else if (o.trace) { one(false); one(true) }
      else one(false)
      i += 1
    }

    val layers = if (o.trace) Layers.measure(docs, LayerPasses, o.cores) else Map.empty[String, Double]
    deleteTree(work)
    val attempted = checks.map(_.attempted).sum
    val failed = checks.map(_.failed).sum
    val correct = failed == 0 && checks.forall(_.manifestUrls == docs.length)

    val jobS = Stats.median(untraced.toSeq)
    val payloadMb = todo.map(_.payload.length.toLong).sum / 1e6
    val values: Map[String, Double] =
      if (!o.trace) Map(
        "job_s" -> jobS,
        "docs_per_s" -> todo.length / jobS,
        "mb_per_s" -> payloadMb / jobS,
        "out_bytes_per_doc" -> Stats.median(outBytes.toSeq) / todo.length,
        "cache_peak_mb" -> Stats.median(cachePeak.toSeq) / 1e6,
        "setup_s" -> setupS)
      else {
        val phases = Phases.Names.map(p => s"pipeline.${p}_s" -> Stats.median(traced.map(_.phases(p)).toSeq))
        val coverage = Stats.median(traced.zip(tracedS).map { case (t, s) =>
          Phases.Names.map(t.phases).sum / s }.toSeq)
        val spark = traced.head.spark.keys.map(k => s"spark.$k" -> Stats.median(traced.map(_.spark(k)).toSeq))
        layers ++ phases ++ spark ++ Map(
          "pipeline.phase_coverage" -> coverage,
          "setup.gen_s" -> genS,
          "setup.cold_job_s" -> cold.jobS,
          "trace_overhead_ratio" -> Stats.median(tracedS.toSeq) / jobS,
          "cpus" -> o.cores.toDouble)
      }

    if (o.trace) writeSpans(o, spans.toSeq)
    val sizes = todo.map(_.payload.length / 1024.0)
    val detail = Map(
      "workload" -> o.workload, "seed" -> o.seed, "cpus" -> o.cores, "trace" -> o.trace,
      "docs" -> docs.length, "todo_docs" -> todo.length, "payload_mb" -> payloadMb,
      "table_payload_mb" -> docs.map(_.payload.length.toLong).sum / 1e6,
      "payload_kb" -> Map("p50" -> Stats.percentile(sizes, 50), "p99" -> Stats.percentile(sizes, 99),
        "max" -> sizes.max),
      "job_s" -> Map("p50" -> jobS, "max" -> untraced.max, "samples" -> untraced.length,
        "values" -> untraced.toSeq),
      "traced_job_s" -> tracedS.toSeq,
      "setup" -> Map("session_s" -> sessionS, "gen_s" -> genS, "gen_stage_s" -> genStageS,
        "prep_s" -> prepS, "cold_job_s" -> cold.jobS),
      "checks" -> checks.length, "check_s" -> checkS,
      "check_notes" -> checks.flatMap(_.notes).take(10).toSeq,
      "jvm_s" -> uptimeS)
    println("PERFBENCH_DETAIL " + json(detail))
    println("PERFBENCH_RESULT " + json(Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "values" -> values)))
    0
  }

  /** Spans go to one JSON-lines file per run, written once at the end. */
  private def writeSpans(o: Opts, spans: Seq[Span]): Unit = {
    Files.createDirectories(Paths.get(o.traces))
    val lines = spans.map(s => json(Map("run" -> s.run, "id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "ms" -> s.ms,
      "self_ms" -> Phases.selfMs(s, spans.filter(_.run == s.run)))))
    Files.write(Paths.get(o.traces, s"${o.workload}-seed${o.seed}.jsonl"), lines.asJava)
  }

  // ---------------------------------------------------------------- self-test

  /** Generation must give the same docs for one seed whatever the thread
    * count, and the check must pass on a clean run and count exactly one
    * failure after one committed row is corrupted. */
  def selfTest(o: Opts): Int = {
    val deterministic = Seq("pdf_mix", "html_web", "selftest").forall { w =>
      digest(Workloads.generate(w, o.seed, 1)) == digest(Workloads.generate(w, o.seed, o.cores))
    }
    val work = Paths.get(o.work)
    deleteTree(work)
    val table = work.resolve("pages").toString
    val out = work.resolve("out").toString
    val docs = Workloads.generate("selftest", o.seed, o.cores)
    val s = session("perfbench-selftest")
    stage(s, docs, table, 2)
    s.stop()
    runMain(table, out, traced = false)
    val check = session("perfbench-selftest-check")
    val clean = Check(check, out, docs)
    val victim = docs.find(_.kind == "pdf").get.url
    Check.corruptRow(check, out, victim)
    val dirty = Check(check, out, docs)
    check.stop()
    deleteTree(work)
    val ok = deterministic && clean.failed == 0 && clean.manifestUrls == docs.length && dirty.failed == 1
    println(s"PERFBENCH_SELFTEST ${json(Map("ok" -> ok, "deterministic" -> deterministic,
      "clean_failed" -> clean.failed, "injected_failed" -> dirty.failed,
      "attempted" -> clean.attempted, "notes" -> dirty.notes))}")
    if (ok) 0 else 1
  }
}
