package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.SparkEntry
import graft.hotdog.{config, Configs, Corpus, Pipeline, Router, Stats, Streaming,
  SyslogParseTokens}
import graft.hotdog.config.HotdogConfig

/** One benchmark run in its own JVM: one workload, one seed.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --data DIR [--cores 4]
  *                  [--scale full|tiny] [--corrupt-expected 0|1]
  *                  [--mode gen|run|local1]
  *
  * `--mode gen` writes the inputs and the oracle counts to the data
  * directory and marks it READY; it runs in its own JVM, so the measuring
  * JVM starts cold whether or not the inputs were cached. A measuring run:
  * session start, setup (config compile and the cold first job), then
  * complete jobs until `--seconds` of job wall time have been measured. Every job's outputs are checked outside its timed
  * interval. With `--trace 1` the run also measures each layer as the
  * difference of the wall times of consecutive pipeline prefixes, with a
  * listener attached only for that part. The result is written to
  * DIR/result.json; the trace spans to DIR/trace.json.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, cores: Int,
      tiny: Boolean, corruptExpected: Boolean, mode: String)

  def parseArgs(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("work"), need("data"),
      m.getOrElse("cores", "4").toInt, m.getOrElse("scale", "full") == "tiny",
      m.getOrElse("corrupt-expected", "0") == "1", m.getOrElse("mode", "run"))
  }

  /** Named metrics of one run: value and unit, in insertion order. */
  final class Metrics {
    val values: ArrayBuffer[(String, Double, String)] = ArrayBuffer.empty
    def put(name: String, value: Double, unit: String): Unit = {
      values += ((name, value, unit)); ()
    }
    def json: String = Json.obj(values.toSeq.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
  }

  /** Job outcomes: every violated check is recorded with its job. */
  final class Gate {
    var attempted = 0L
    val failures: ArrayBuffer[String] = ArrayBuffer.empty
    private val failedJobs = scala.collection.mutable.Set.empty[Long]
    def job(): Long = { attempted += 1; attempted }
    def check(job: Long, ok: Boolean, what: => String): Unit =
      if (!ok) {
        failures += s"job $job: $what"
        failedJobs += job
        System.err.println(s"[perfbench] CHECK FAILED job $job: $what")
      }
    def failed: Long = failedJobs.size.toLong
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val t0 = System.nanoTime()
    val work = Paths.get(args.work).toAbsolutePath.toString
    Files.createDirectories(Paths.get(work, "spark-local"))
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val metrics = new Metrics
    val gate = new Gate
    val errCount = new FallbackCounter
    System.setErr(errCount)
    try {
      val w: Workload = args.workload match {
        case "flagship_batch" => new FlagshipBatch(spark, args)
        case "stream_small_batches" => new HotdogStream(spark, args)
        case "ops_hot" => new OpsHot(spark, args)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val ready = Paths.get(w.data, "READY")
      if (args.mode == "gen") {
        val (genS, _) = timed(w.generate())
        Files.writeString(ready, "")
        phase(f"inputs and oracle counts $genS%.2f s")
      } else {
        require(Files.exists(ready), s"inputs not generated: $ready missing")
        w.load()
        phase(f"session $sessionS%.2f s")
      }
      if (args.mode == "local1") {
        // single-thread baseline: one cold job, then the timed one
        w.setup(gate)
        val (wall, _) = timed(w.job(gate))
        w.verify(gate)
        metrics.put("spark.local1_job_s", wall, "s")
      } else if (args.mode == "run") {
        val (compileS, coldS) = w.setup(gate)
        phase(f"config compile $compileS%.2f s, cold job $coldS%.2f s")
        if (!args.trace) {
          (1 to w.warmupJobs).foreach { _ =>
            val (wall, _) = timed(w.job(gate))
            w.verify(gate)
            phase(f"warm-up job $wall%.2f s")
          }
          val walls = ArrayBuffer.empty[Double]
          w.measuring = true
          while (walls.size < w.minJobs || walls.sum < args.seconds) {
            val (wall, _) = timed(w.job(gate))
            val (checkS, _) = timed(w.verify(gate))
            phase(f"job $wall%.2f s, checks $checkS%.2f s")
            walls += wall
          }
          val jobS = Stat.median(walls.toSeq)
          val lat = w.latenciesMs(walls.toSeq)
          metrics.put("routed_rows_per_s", w.rowsPerJob / jobS, "rows/s")
          metrics.put("job_s", jobS, "s")
          metrics.put("microbatch_ms_p50", Stat.percentile(lat, 50), "ms")
          metrics.put("microbatch_ms_p90", Stat.percentile(lat, 90), "ms")
          metrics.put("setup_s", sessionS + compileS + coldS, "s")
          metrics.put("peak_rss_mb", peakRssMb(), "MB")
          phase(s"${walls.size} jobs, ${lat.size} latency samples")
        } else {
          val t = new Tracer(spark, s"${args.workload}-${args.seed}")
          metrics.put("config.load_s", compileS, "s")
          w.traced(t, gate, metrics, errCount)
          t.detach()
          t.writeJson(s"$work/trace.json")
        }
        val (finalS, _) = timed(w.finalCheck(gate))
        phase(f"final check $finalS%.2f s")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        gate.job()
        gate.check(gate.attempted, ok = false, s"run aborted: $e")
    } finally {
      System.setErr(errCount.underlying)
      val result = Json.obj(Seq(
        "attempted" -> gate.attempted.toString,
        "failed" -> gate.failed.toString,
        "failures" -> gate.failures.map(Json.str).mkString("[", ",", "]"),
        "metrics" -> metrics.json))
      Data.writeAtomically(Paths.get(work, "result.json"), result)
      spark.stop()
    }
  }

  def phase(msg: String): Unit = Console.err.println(s"[perfbench] $msg")

  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** VmHWM: the peak resident set of this JVM. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    catch { case _: java.io.IOException => Double.NaN }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
  }

  def countFiles(path: String, suffix: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(x => x.getFileName.toString.endsWith(suffix)).count()
      finally s.close()
    }
  }

  /** Counts the audit path's observed-metric fallback warnings, which the
    * pipeline reports only on stderr. */
  final class FallbackCounter extends java.io.PrintStream(System.err, true) {
    val underlying: java.io.PrintStream = System.err
    private val n = new java.util.concurrent.atomic.AtomicLong
    override def println(x: String): Unit = {
      if (x != null && x.contains("falling back to a full audit recompute"))
        n.incrementAndGet()
      super.println(x)
    }
    def count: Long = n.get
  }
}

/** One workload: its inputs, its complete job, and its checks. */
abstract class Workload(val spark: SparkSession, val args: Main.Args) {
  val data: String = args.data
  val runDir: String = s"${args.work}/run"
  def minJobs: Int = 3
  /** Untimed jobs after setup: the first warm jobs still run partly
    * JIT-compiled code, which shows on jobs of a few seconds. */
  def warmupJobs: Int = 0
  /** Set while the measured jobs run: only they contribute latencies. */
  var measuring = false
  /** Writes the inputs and what a correct run must output (gen mode). */
  def generate(): Unit
  /** Reads what generate() wrote, before anything is timed. */
  def load(): Unit
  /** @return (config compile seconds, cold first job seconds) */
  def setup(gate: Main.Gate): (Double, Double)
  /** One complete job; the only part that is timed. */
  def job(gate: Main.Gate): Unit
  /** Checks the outputs of the job that just ended. */
  def verify(gate: Main.Gate): Unit
  def finalCheck(gate: Main.Gate): Unit = ()
  def rowsPerJob: Double
  /** Delivery latencies: one per micro-batch on the stream; one per job
    * on the batch workloads (a batch job delivers one batch). */
  def latenciesMs(jobWalls: Seq[Double]): Seq[Double] = jobWalls.map(_ * 1000)
  def traced(t: Tracer, gate: Main.Gate, m: Main.Metrics,
      fallbacks: Main.FallbackCounter): Unit

  protected var jobNo = 0
  protected def nextOut(): String = {
    jobNo += 1
    Main.deleteTree(s"$runDir/job-${jobNo - 1}")
    s"$runDir/job-$jobNo"
  }

  /** Complete jobs alternately without and with the listener attached.
    * Puts trace.overhead_s (median traced minus median untraced wall) and
    * returns the traced jobs' spans. */
  protected def overheadPairs(t: Tracer, gate: Main.Gate, m: Main.Metrics,
      pairs: Int = 2): Seq[Span] = {
    val untraced = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Span]
    def untracedJob(): Unit = {
      t.detach()
      untraced += Main.timed(job(gate))._1
      verify(gate)
    }
    def tracedJob(): Unit = {
      t.attach()
      traced += t.span("job", "")(job(gate))._2
      verify(gate)
    }
    // alternate which side goes first: later jobs run warmer code
    (1 to pairs).foreach { i =>
      if (i % 2 == 1) { untracedJob(); tracedJob() } else { tracedJob(); untracedJob() }
    }
    t.attach()
    m.put("trace.overhead_s",
      Stat.median(traced.map(_.seconds).toSeq) - Stat.median(untraced.toSeq), "s")
    traced.toSeq
  }

  /** Job-wide Spark counters of one traced complete job. */
  protected def putSpark(m: Main.Metrics, s: Span): Unit = {
    val c = s.counts
    m.put("spark.jobs", c.jobs.toDouble, "count")
    m.put("spark.input_scans", c.inputScans.toDouble, "count")
    m.put("spark.shuffle_write_bytes", c.shuffleWriteBytes.toDouble, "bytes")
    m.put("spark.spill_bytes", c.spillBytes.toDouble, "bytes")
    m.put("spark.gc_s", c.gcMs / 1000.0, "s")
    m.put("spark.cpu_util", c.cpuNs / 1e9 / (s.seconds * args.cores), "ratio")
  }

  /** Metrics of layers this workload does not run, reported as 0. */
  protected def putZero(m: Main.Metrics, names: Seq[(String, String)]): Unit =
    names.foreach { case (n, u) => m.put(n, 0.0, u) }
}

object Layers {
  val Hotdog: Seq[(String, String)] = Seq(
    "Pipeline.scan_s" -> "s",
    "SyslogParse.decode_s" -> "s", "SyslogParse.parse_s" -> "s",
    "SyslogParse.parse_ok_ratio" -> "ratio",
    "Router.match_s" -> "s", "Router.render_s" -> "s", "Router.emit_ratio" -> "ratio",
    "Pipeline.enrich_s" -> "s")
  val Sink: Seq[(String, String)] = Seq(
    "Pipeline.sink_s" -> "s", "Pipeline.sink_shuffle_bytes" -> "bytes",
    "Pipeline.sink_files" -> "count",
    "Pipeline.audit_s" -> "s", "Pipeline.audit_fallbacks" -> "count")
  val StatsL: Seq[(String, String)] = Seq(
    "Stats.stats_s" -> "s", "Stats.rows_rescanned" -> "count")
  val StreamL: Seq[(String, String)] = Seq(
    "Streaming.trigger_ms_p50" -> "ms", "Streaming.addBatch_ms_p50" -> "ms",
    "Streaming.overhead_ms_p50" -> "ms", "Streaming.jobs_per_batch" -> "count")
  val OpsQueries: Seq[String] =
    Seq("dd_wordset_jaccard", "tok_bpe", "tok_bpe_apply", "pipe_clean")
  val Ops: Seq[(String, String)] = OpsQueries.flatMap(q => Seq(
    s"ops.${q}_s" -> "s", s"ops.${q}_jobs" -> "count",
    s"ops.${q}_shuffle_bytes" -> "bytes"))
}

/** Shared hotdog pieces: config, oracle counts and the output checks. */
trait HotdogChecks { self: Workload =>
  var expected: Data.Expected = _
  /** One corpus per seed serves both hotdog workloads: the batch job reads
    * all its files, the stream ingests them two per trigger. */
  val files: Int = if (args.tiny) 8 else 12
  val rowsPerFile: Long = if (args.tiny) 250L else 6000L

  def generate(): Unit = {
    Data.hotdogCorpus(spark, data, files, rowsPerFile, args.seed)
    Data.expected(spark, s"$data/sequences", Configs.hotdogYml, s"$data/expected.txt")
    ()
  }

  /** `--corrupt-expected 1` adds one to every expected per-topic count:
    * the gate must then fail every job. */
  def loadExpected(): Unit = {
    val e = Data.Expected.decode(Files.readString(Paths.get(data, "expected.txt")))
    expected = if (args.corruptExpected)
      e.copy(perTopic = e.perTopic.map { case (t, n) => t -> (n + 1) }) else e
  }

  /** Sink per-topic rows, the routed doc_id set, and audit rows. */
  def checkSink(gate: Main.Gate, job: Long, sinkDir: String, auditDir: String,
      stats: Option[Map[String, Long]]): Unit = {
    val e = expected
    val perTopic = spark.read.parquet(sinkDir)
      .groupBy(col("topic").cast("string"))
      .agg(count(lit(1)), bit_xor(Data.idsFp))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val sinkCounts = perTopic.map { case (t, (n, _)) => t -> n }
    gate.check(job, sinkCounts == e.perTopic,
      s"sink rows per topic $sinkCounts != oracle ${e.perTopic}")
    stats.foreach { s =>
      val submitted = s.collect { case (k, v) if k.startsWith("kafka.submitted.") =>
        k.stripPrefix("kafka.submitted.") -> v }
      gate.check(job, submitted == sinkCounts,
        s"kafka.submitted.* $submitted != sink rows $sinkCounts")
    }
    val ids = perTopic.values.map(_._2).foldLeft(0L)(_ ^ _)
    gate.check(job, ids == e.emittedIdsFp, "sink doc_id set differs from the oracle's")
    val auditRows = spark.read.parquet(auditDir).agg(sum(col("rows")))
      .collect()(0)
    val ar = if (auditRows.isNullAt(0)) -1L else auditRows.getLong(0)
    gate.check(job, ar == e.rows, s"audit rows $ar != input rows ${e.rows}")
  }
}

final class FlagshipBatch(spark0: SparkSession, args0: Main.Args)
    extends Workload(spark0, args0) with HotdogChecks {
  private val yaml = Configs.hotdogYml
  private var cfg: HotdogConfig = _
  override def rowsPerJob: Double = expected.emitted.toDouble
  override def warmupJobs: Int = 1

  private def seqs: DataFrame = spark.read.parquet(s"$data/sequences")
  // built in-plan as hotdog.Main does: writeBatch's input_file_name() lineage
  // rejects a plan that joins a second file source
  private def dim: Option[DataFrame] = Some(Corpus.sourceDim(spark, args.seed))

  def load(): Unit = loadExpected()

  def setup(gate: Main.Gate): (Double, Double) = {
    val (compileS, _) = Main.timed {
      cfg = config.fromYamlString(yaml)
      Router.route(seqs, cfg).queryExecution.executedPlan
    }
    val (coldS, _) = Main.timed(job(gate))
    verify(gate)
    (compileS, coldS)
  }

  /** hotdog.Main's sequence: route (+ enrich) → fan-out sink and audit →
    * the /stats snapshot. @return the stats JSON */
  private def runJob(out: String): String = {
    val result = Pipeline.run(seqs, cfg, dim = dim)
    val sent = Pipeline.writeBatch(result.routed, s"$out/routed", s"$out/audit", 0L)
    Stats.formatJson(Stats.withSentTimer(result.stats, sent))
  }

  private var pending: Option[(Long, String, String)] = None

  def job(gate: Main.Gate): Unit = {
    val no = gate.job()
    val out = nextOut()
    pending = Some((no, out, runJob(out)))
  }

  def verify(gate: Main.Gate): Unit = pending.foreach { case (no, out, json) =>
    pending = None
    val stats = parseStats(json)
    val want = expected.stats
    val got = stats - "kafka.producer.sent"
    gate.check(no, got == want, s"/stats $got != oracle $want")
    checkSink(gate, no, s"$out/routed", s"$out/audit", Some(stats))
  }

  override def finalCheck(gate: Main.Gate): Unit = {
    // routed rows keep their input token arrays: the emitted (doc_id,
    // tokens) fingerprint equals the oracle's over the input rows it routes
    val r = Pipeline.emittedOnly(Pipeline.run(seqs, cfg, dim = dim).routed)
      .agg(count(lit(1)), bit_xor(Data.tokensFp)).collect()(0)
    gate.check(jobNo, r.getLong(0) == expected.emitted &&
      (r.isNullAt(1) && expected.emitted == 0 || r.getLong(1) == expected.emittedTokensFp),
      "routed (doc_id, tokens) differ from the input rows the oracle routes")
  }

  private def parseStats(json: String): Map[String, Long] = {
    val body = json.substring(json.indexOf("\"stats\":{") + 9, json.lastIndexOf("}}"))
    "\"([^\"]+)\":(-?\\d+)".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  def traced(t: Tracer, gate: Main.Gate, m: Main.Metrics,
      fallbacks: Main.FallbackCounter): Unit = {
    // round-robin rounds over the prefixes; the first round only warms up
    // the plan shapes, self times use the fastest of the later rounds
    val rounds = 3
    val parseObs = ArrayBuffer.empty[(Long, Long)]
    val emitObs = ArrayBuffer.empty[(Long, Long)]
    def observed(df: DataFrame, name: String, a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column, into: ArrayBuffer[(Long, Long)]): Unit = {
      val obs = Observation(s"$name-${System.nanoTime()}")
      Main.noop(df.observe(obs, a.as("a"), b.as("b")))
      val r = obs.get
      into += ((r("a").asInstanceOf[Long], r("b").asInstanceOf[Long]))
      ()
    }
    val fb0 = fallbacks.count
    // pipeline prefixes, each ending one layer further; forced in full
    type Prefix = (String, String => Unit)
    val prefixes: Seq[Prefix] = Seq[Prefix](
      "scan" -> (_ => Main.noop(seqs)),
      "decode" -> (_ => Main.noop(Router.decoded(seqs))),
      "parse" -> (_ => observed(Router.decoded(seqs).withColumn("p",
        graft.hotdog.exprs.col(SyslogParseTokens(graft.hotdog.exprs.expr(col("tokens"))))),
        "parse", count(lit(1)), count(col("p")), parseObs)),
      "match" -> (_ => observed(Router.route(seqs, cfg).select("doc_id", "tokens",
        "n_tok", "source", "line", "parse_ok", "topic", "err_merge_invalid_json",
        "err_merge_target_not_json", "err_topic_parse_failed"),
        "match", count_if(col("parse_ok")), count(col("topic")), emitObs)),
      "render" -> (_ => Main.noop(Router.route(seqs, cfg))),
      "enrich" -> (_ => Main.noop(Pipeline.run(seqs, cfg, dim = dim).routed)),
      "sink" -> (out => { Pipeline.writeFanOut(Pipeline.run(seqs, cfg, dim = dim).routed,
        s"$out/routed", 0L); () }),
      "audit" -> (out => { Pipeline.writeBatch(Pipeline.run(seqs, cfg, dim = dim).routed,
        s"$out/routed", s"$out/audit", 0L); () }))
    val all = prefixes :+ ("job" -> ((out: String) => { runJob(out); () }))
    val byRound = (1 to rounds).map { _ =>
      all.map { case (name, f) => name -> t.span(name, "job")(f(nextOut()))._2 }.toMap
    }
    val spans = all.map { case (name, _) => name -> byRound.drop(1).map(_(name)) }.toMap
    val sec = spans.map { case (n, ss) => n -> ss.map(_.seconds).min }
    val jobs = overheadPairs(t, gate, m)
    def self(a: String, b: String) = sec(a) - sec(b)
    m.put("Pipeline.scan_s", sec("scan"), "s")
    m.put("SyslogParse.decode_s", self("decode", "scan"), "s")
    m.put("SyslogParse.parse_s", self("parse", "decode"), "s")
    m.put("SyslogParse.parse_ok_ratio", parseObs.head._2.toDouble / parseObs.head._1, "ratio")
    m.put("Router.match_s", self("match", "parse"), "s")
    m.put("Router.render_s", self("render", "match"), "s")
    m.put("Router.emit_ratio", emitObs.head._2.toDouble / emitObs.head._1, "ratio")
    m.put("Pipeline.enrich_s", self("enrich", "render"), "s")
    m.put("Pipeline.sink_s", self("sink", "enrich"), "s")
    m.put("Pipeline.sink_shuffle_bytes", (spans("sink").head.counts.shuffleWriteBytes -
      spans("enrich").head.counts.shuffleWriteBytes).toDouble, "bytes")
    m.put("Pipeline.sink_files",
      Main.countFiles(s"$runDir/job-$jobNo/routed", ".parquet").toDouble, "count")
    m.put("Pipeline.audit_s", self("audit", "sink"), "s")
    m.put("Pipeline.audit_fallbacks", (fallbacks.count - fb0).toDouble, "count")
    m.put("Stats.stats_s", self("job", "audit"), "s")
    m.put("Stats.rows_rescanned", (spans("job").head.counts.inputRecords -
      spans("audit").head.counts.inputRecords).toDouble, "count")
    putZero(m, Layers.StreamL)
    putSpark(m, jobs.head)
    m.put("spark.local1_job_s", 0.0, "s") // the runner's local[1] run fills it
    putZero(m, Layers.Ops)
  }
}

final class HotdogStream(spark0: SparkSession, args0: Main.Args)
    extends Workload(spark0, args0) with HotdogChecks {
  private val filesPerTrigger = 2
  private val batches = (files + filesPerTrigger - 1) / filesPerTrigger
  private val yaml = Configs.hotdogYml
  private var cfg: HotdogConfig = _
  private val triggerMs = ArrayBuffer.empty[Double]
  // three drains: the slow first micro-batch of each drain sets p90, which
  // then falls between two of them instead of on the faster one of two. No
  // untimed drain: after the cold one a drain is within host noise of the
  // next, and the medians leave out the slowest of the three.
  override def minJobs: Int = 3
  override def rowsPerJob: Double = expected.emitted.toDouble
  override def latenciesMs(jobWalls: Seq[Double]): Seq[Double] = triggerMs.toSeq

  def load(): Unit = loadExpected()

  def setup(gate: Main.Gate): (Double, Double) = {
    val (compileS, _) = Main.timed { cfg = config.fromYamlString(yaml) }
    val (coldS, _) = Main.timed(job(gate))
    verify(gate)
    (compileS, coldS)
  }

  private var pending: Option[(Long, String, Seq[Double])] = None

  /** Drains the whole backlog with hotdog's routeStream, closed loop: each
    * trigger starts when the previous one has committed. */
  def job(gate: Main.Gate): Unit = {
    val no = gate.job()
    val out = nextOut()
    val q = Streaming.routeStream(spark, s"$data/sequences", cfg, s"$out/routed",
      s"$out/checkpoint", maxFilesPerTrigger = filesPerTrigger)
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    pending = Some((no, out, progress.map(_.durationMs.get("triggerExecution").toDouble).toSeq))
  }

  def verify(gate: Main.Gate): Unit = pending.foreach { case (no, out, trig) =>
    pending = None
    gate.check(no, trig.size == batches, s"${trig.size} micro-batches, expected $batches")
    Main.phase(s"micro-batches ms: ${trig.map(_.toLong).mkString(" ")}")
    if (measuring) triggerMs ++= trig
    checkSink(gate, no, s"$out/routed", s"$out/routed-audit", None)
  }

  def traced(t: Tracer, gate: Main.Gate, m: Main.Metrics,
      fallbacks: Main.FallbackCounter): Unit = {
    final class ProgressListener extends StreamingQueryListener {
      val progress = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.streaming.StreamingQueryProgress]
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress); ()
      }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    def drain(out: String)(body: (Dataset[Row], Long) => Unit): Unit = {
      val q = spark.readStream.schema(graft.hotdog.model.sequencesSchema)
        .option("maxFilesPerTrigger", filesPerTrigger).parquet(s"$data/sequences")
        .writeStream.option("checkpointLocation", s"$out/checkpoint")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(body).start()
      q.awaitTermination()
    }
    val fb0 = fallbacks.count
    // prefixes of routeStream's per-batch body: route only, route + sink
    val (_, route) = t.span("route", "job")(drain(nextOut()) { (b, _) =>
      Main.noop(Router.route(b, cfg)) })
    val sinkOut = nextOut()
    val (_, sink) = t.span("sink", "job")(drain(sinkOut) { (b, id) =>
      Pipeline.writeFanOut(Router.route(b, cfg), s"$sinkOut/routed", id); () })
    val pl = new ProgressListener
    t.streaming = Some(pl)
    val jobs = overheadPairs(t, gate, m)
    t.detach()
    val full = jobs.head
    val fullS = Stat.median(jobs.map(_.seconds))
    val prog = pl.progress.asScala.toSeq.filter(_.numInputRows > 0)
    def dur(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val trig = dur("triggerExecution")
    val add = dur("addBatch")
    putZero(m, Layers.Hotdog)
    m.put("Pipeline.sink_s", sink.seconds - route.seconds, "s")
    m.put("Pipeline.sink_shuffle_bytes",
      (sink.counts.shuffleWriteBytes - route.counts.shuffleWriteBytes).toDouble, "bytes")
    m.put("Pipeline.sink_files",
      Main.countFiles(s"$runDir/job-$jobNo/routed", ".parquet").toDouble, "count")
    m.put("Pipeline.audit_s", fullS - sink.seconds, "s")
    m.put("Pipeline.audit_fallbacks", (fallbacks.count - fb0).toDouble, "count")
    putZero(m, Layers.StatsL)
    m.put("Streaming.trigger_ms_p50", Stat.median(trig), "ms")
    m.put("Streaming.addBatch_ms_p50", Stat.median(add), "ms")
    m.put("Streaming.overhead_ms_p50",
      Stat.median(trig.zip(add).map { case (a, b) => a - b }), "ms")
    m.put("Streaming.jobs_per_batch",
      jobs.map(_.counts.jobs).sum.toDouble / (jobs.size * batches), "count")
    putSpark(m, full)
    m.put("spark.local1_job_s", 0.0, "s")
    putZero(m, Layers.Ops)
  }
}

/** The costliest suite queries in r6, forced with count() as
  * graft.Bench does. The cold first job writes each result instead, so
  * the runner can compare it with the query's DuckDB oracle. */
final class OpsHot(spark0: SparkSession, args0: Main.Args)
    extends Workload(spark0, args0) {
  // the shape of the sf0.01 testdata tables: its DuckDB oracles (pipe_clean's
  // grows faster than quadratically in documents) stay within a run's limit
  private val docs = if (args.tiny) 200L else 500L
  private val events = if (args.tiny) 2000L else 10000L
  private var verifiedRows = Map.empty[String, Long]
  // five passes: each percentile then rests on several samples of one query
  // (p90 on the median of pipe_clean's five), not on a single slow pass; the
  // first pass after the cold job, still JIT-compiling, is no warm-up but the
  // slowest of the five, so the medians leave it out
  override def minJobs: Int = 5
  override def rowsPerJob: Double = 2.0 * docs + 2.0 * events
  private val queryMs = ArrayBuffer.empty[Double]
  override def latenciesMs(jobWalls: Seq[Double]): Seq[Double] = queryMs.toSeq

  // inputs fixed like the read-only sf testdata; the runner keeps
  // them (and its DuckDB oracle results) for every later run
  def generate(): Unit = Data.opsTables(spark, data, docs, events, seed = 42L)
  def load(): Unit = ()

  def setup(gate: Main.Gate): (Double, Double) = {
    gate.job()
    val out = s"${args.work}/ops-out"
    Main.deleteTree(out)
    val (coldS, _) = Main.timed {
      Layers.OpsQueries.foreach { q =>
        SparkEntry.queries(q)(spark, data).coalesce(1).write.parquet(s"$out/$q")
      }
    }
    verifiedRows = Layers.OpsQueries.map(q => q -> spark.read.parquet(s"$out/$q").count()).toMap
    val sql = SparkEntry.oracleSql
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json.obj(Layers.OpsQueries.map(q => q -> Json.str(sql(q)))))
    (0.0, coldS)
  }

  private var pending: Option[(Long, Seq[(String, Long, Double)])] = None

  def job(gate: Main.Gate): Unit = {
    val no = gate.job()
    pending = Some(no -> Layers.OpsQueries.map { q =>
      val (s, n) = Main.timed(SparkEntry.queries(q)(spark, data).count())
      (q, n, s * 1000)
    })
  }

  def verify(gate: Main.Gate): Unit = pending.foreach { case (no, rows) =>
    pending = None
    Main.phase(s"queries ms: ${rows.map { case (q, _, ms) => s"$q ${ms.toLong}" }.mkString(" ")}")
    if (measuring) queryMs ++= rows.map(_._3)
    rows.foreach { case (q, n, _) =>
      gate.check(no, n == verifiedRows(q), s"$q returned $n rows, verified ${verifiedRows(q)}")
    }
  }

  def traced(t: Tracer, gate: Main.Gate, m: Main.Metrics,
      fallbacks: Main.FallbackCounter): Unit = {
    val perQuery = Layers.OpsQueries.map { q =>
      q -> t.span(q, "queries")(SparkEntry.queries(q)(spark, data).count())._2
    }
    perQuery.foreach { case (q, s) =>
      m.put(s"ops.${q}_s", s.seconds, "s")
      m.put(s"ops.${q}_jobs", s.counts.jobs.toDouble, "count")
      m.put(s"ops.${q}_shuffle_bytes", s.counts.shuffleWriteBytes.toDouble, "bytes")
    }
    val jobs = overheadPairs(t, gate, m)
    putZero(m, Layers.Hotdog ++ Layers.Sink ++ Layers.StatsL ++ Layers.StreamL)
    putSpark(m, jobs.head)
    m.put("spark.local1_job_s", 0.0, "s")
  }
}
