package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat, lit}
import graft.SparkEntry
import graft.pipeline.{ExtractJob, GenRow, Golden, ParquetTableIO, SynthGen, Turn}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --pins <dir>`. Prints a human-readable report and, as its
  * last line, `PERFBENCH_RESULT {json}` with the run's metrics.
  */
object Main {
  type Metric = (String, Double, String)

  /** Workload sizes, chosen so that a run sets up, measures and checks in
    * well under a minute on 4 cores (README.md has the measured timings).
    * `extract` is the union of the `extract_mixed` and `extract_pdf` corpora.
    */
  val MixedConvs = 4500
  val MixedLongConvs = 6
  val PdfConvs = 1500
  val QuerySf = 0.002
  /** The query tables come in this many seeded variants (seed mod Variants),
    * each with pinned result fingerprints.
    */
  val Variants = 4
  val Shards = 8
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, pins: String)

  final class Run(val o: Opts, val spark: SparkSession, val listener: BenchListener,
      val tracer: Tracer, val cores: Int, val sessionS: Double) {
    private val t0 = System.nanoTime() - (sessionS * 1e9).toLong
    /** Prints a report line stamped with the seconds since the JVM started. */
    def say(s: String): Unit = println(f"[${(System.nanoTime() - t0) / 1e9}%6.1f] $s")
  }

  final case class Outcome(attempted: Long, failed: Long, endToEnd: Seq[Metric],
      perLayer: Seq[Metric])

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0 else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1", m("work"), m("pins"))
  }

  /** The benchmark's own session settings, fixed here so that a change to a
    * program entry point cannot change what the benchmark measures.
    */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Set("extract", "extract_mixed", "extract_pdf", "query_suite")(o.workload),
      s"unknown workload ${o.workload}")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = new Tracer(s"${o.workload}-${o.seed}-${ProcessHandle.current.pid}", o.trace)
    val (outcome, _) = tracer.timed("run", o.workload) {
      val (spark, _) = tracer.timed("setup", "session")(session(cores, o.work))
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val listener = new BenchListener
      spark.sparkContext.addSparkListener(listener)
      val run = new Run(o, spark, listener, tracer, cores, sessionS)
      run.say(s"workload ${o.workload} seed ${o.seed} cores $cores trace ${o.trace}")
      try o.workload match {
        case "query_suite" => QuerySuite.run(run)
        case w             => Extraction.run(run, mixed = w != "extract_pdf", pdf = w != "extract_mixed")
      } finally spark.stop()
    }
    if (o.trace) {
      val out = Paths.get(o.work, "spans.jsonl")
      Files.write(out, tracer.toJsonLines.toSeq.asJava)
      println(s"spans: ${tracer.all.size} written to $out")
    }
    val rssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    val metrics =
      if (o.trace) {
        val got = outcome.perLayer.map(m => m._1 -> m).toMap
        require(got.keySet.subsetOf(unitOf.keySet), s"unlisted: ${got.keySet -- unitOf.keySet}")
        PerLayer.map { case (n, u) => got.getOrElse(n, (n, 0.0, u)) }
      } else outcome.endToEnd :+ (("peak_rss_mb", rssMb, "MB"))
    val json = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }
      .mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":${outcome.failed == 0},"attempted":${outcome.attempted},""" +
      s""""failed":${outcome.failed},"metrics":$json}""")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Bytes and number of the parquet files under `dir`. */
  def parquetFiles(dir: String): (Long, Int) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val fs = s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq
      (fs.map(Files.size).sum, fs.size)
    } finally s.close()
  }

  /** Query families for the per-layer `queries.<family>` metrics. */
  val Families = Seq("pdf", "dedup", "similarity", "quality", "temporal", "streaming",
    "multimodal", "relational")

  /** Every per-layer metric with its unit. A traced run prints all of them;
    * a layer its workload does not run reads 0.
    */
  val PerLayer: Seq[(String, String)] =
    Seq("session_s", "corpus_s", "warm_s").map(m => (s"setup.$m", "s")) ++
    Seq("jobs" -> "count", "stages" -> "count", "scan_task_s" -> "s", "shuffle_write_mb" -> "MB",
      "shuffle_write_s" -> "s", "shuffle_read_mb" -> "MB", "extract_task_s" -> "s",
      "extract_cpu_s" -> "s", "write_mb" -> "MB", "write_files" -> "count", "manifest_s" -> "s",
      "gc_s" -> "s", "task_skew" -> "ratio", "core_busy" -> "ratio", "executor_task_s" -> "s",
      "driver_self_s" -> "s").map { case (m, u) => (s"pipeline.$m", u) } ++
    Seq("plain", "html", "pdf", "pdf-lenient", "error").flatMap(k =>
      Seq((s"turn.$k.n", "count"), (s"turn.$k.p50_us", "us"), (s"turn.$k.p99_us", "us"))) ++
    Seq("strict", "lenient").flatMap(r => Seq("b64_ns", "open_ns", "extract_ns", "flate_ns",
      "content_lex_ns", "text_ns", "other_ns").map(m => (s"core.$r.$m", "ns"))) ++
    Seq(("core.flate_in_mb", "MB"), ("core.flate_out_mb", "MB"), ("core.error_ns", "ns"),
      ("html.ns_per_turn", "ns"), ("html.in_mb_per_s", "MB/s")) ++
    Families.flatMap(f => Seq("wall_s" -> "s", "cpu_s" -> "s", "jobs" -> "count",
      "shuffle_mb" -> "MB", "spill_mb" -> "MB", "gc_s" -> "s").map { case (m, u) => (s"queries.$f.$m", u) }) ++
    Seq("core", "html", "plain", "pipeline").map(m => (s"share.$m", "ratio")) ++
    Seq(("trace.turns_per_s_untraced", "1/s"), ("trace.turns_per_s_traced", "1/s"),
      ("trace.overhead_share", "ratio"))
  val unitOf: Map[String, String] = PerLayer.toMap

  def family(q: String): String = {
    val n = q.stripPrefix("q_")
    def any(ps: String*) = ps.exists(n.startsWith)
    if (any("stream_")) "streaming"
    else if (any("pdf_", "html_", "plain_", "sniff_", "extract_")) "pdf"
    else if (any("multimodal_", "mp4_")) "multimodal"
    else if (any("ann_", "kmeans_", "semdedup", "cosine_", "vector_", "quantize_")) "similarity"
    else if (any("dedup_", "minhash_", "simhash_", "ngram_", "winnow_", "fingerprint",
      "duplicate_", "decontaminate")) "dedup"
    else if (any("events_", "asof_", "range_join", "rolling_")) "temporal"
    else if (any("join_", "window_", "pivot", "topk_", "sort_", "rollup_")) "relational"
    else "quality"
  }
}

/** `extract_mixed` and `extract_pdf`: timed `ExtractJob.runWithManifests`
  * calls, each into a fresh output directory.
  */
object Extraction {
  import Main._

  private def kindOf(tool: String, gate: String): String =
    if (gate == "error") "error"
    else tool match {
      case "pdf-b64"         => "pdf"
      case "pdf-b64-lenient" => "pdf-lenient"
      case other             => other
    }
  val Kinds = Seq("plain", "html", "pdf", "pdf-lenient", "error")

  final case class Rep(traced: Boolean, wall: Double, d: Totals, stored: Long, files: Int,
      startMs: Long, endMs: Long, spanName: String)

  def run(r: Run, mixed: Boolean, pdf: Boolean): Outcome = {
    val spark = r.spark
    import spark.implicits._
    val dir = r.o.work
    // Set-up is timed as SetupReps equal chunks, each an independently seeded
    // third of the corpus appended to one table, and reported as SetupReps
    // times the median chunk: several set-ups per run at the cost of one.
    // The golden columns ride in the input table; the timed scan prunes them.
    val corpus = s"$dir/corpus"
    val corpusS = (0 until SetupReps).map { k =>
      r.tracer.timed("setup", s"corpus $k") {
        val seed = r.o.seed * SetupReps + k
        Seq(
          if (mixed) Some(SynthGen.generate(spark, nConvs = MixedConvs / SetupReps,
            turnsPerConv = 6, longConvs = MixedLongConvs / SetupReps, longTurns = 2000,
            seed = seed, includeFixturePdfs = false)) else None,
          if (pdf) Some(PdfCorpus.generate(spark, PdfConvs / SetupReps, seed)) else None
        ).flatten.reduce(_ union _)
          .withColumn("conv_id", concat(lit(s"s$k-"), col("conv_id")))
          .coalesce(r.cores)
          .write.mode(if (k == 0) "overwrite" else "append").parquet(corpus)
      }._2
    }
    val turns = ParquetTableIO.readTurns(spark, corpus)
    val golden = spark.read.parquet(corpus)
      .select("conv_id", "turn_idx", "expected_text", "gate").as[Golden]
    val nTurns = golden.count()
    r.say(s"turns: $nTurns fixture_docs: 0 (generated with includeFixturePdfs = false)")
    // two untimed calls; calls keep getting faster for several more (up to
    // 25% from the first timed call to the fifth), which the median absorbs
    val (_, warmS) = r.tracer.timed("setup", "warm") {
      (0 until 2).foreach { k =>
        ExtractJob.runWithManifests(spark, turns, s"$dir/warm$k", Shards, r.cores)
        deleteTree(Paths.get(dir, s"warm$k"))
      }
    }
    val setupS = r.sessionS + SetupReps * median(corpusS) + warmS
    r.say(f"setup: session ${r.sessionS}%.2f s, corpus ${corpusS.map(s => f"$s%.2f").mkString("/")} s, warm $warmS%.2f s")

    val reps = ArrayBuffer[Rep]()
    val deadline = System.nanoTime() + r.o.seconds * 1000000000L
    while (reps.size < (if (r.o.trace) 4 else 3) || System.nanoTime() < deadline) {
      val i = reps.size
      val out = s"$dir/out$i"
      // ABBA order (untraced, traced, traced, untraced, ...) cancels a drift
      val traced = r.o.trace && (i % 4 == 1 || i % 4 == 2)
      System.gc()
      r.listener.detail = traced
      val before = r.listener.totals
      val startMs = System.currentTimeMillis()
      val name = s"runWithManifests rep $i"
      val (_, wall) = r.tracer.timed("pipeline", name)(
        ExtractJob.runWithManifests(spark, turns, out, Shards, r.cores))
      val endMs = System.currentTimeMillis()
      BenchBus.drain(spark.sparkContext)
      r.listener.detail = false
      val (stored, files) = parquetFiles(s"$out/data")
      reps += Rep(traced, wall, r.listener.totals - before, stored, files, startMs, endMs, name)
      r.say(f"rep $i${if (traced) " (traced)" else ""}: $wall%.3f s, ${nTurns / wall}%.0f turns/s, executor cpu ${(r.listener.totals - before).cpuNs / 1e9}%.2f s")
      if (i > 0) deleteTree(Paths.get(dir, s"out${i - 1}"))
    }

    val last = s"$dir/out${reps.size - 1}"
    val manifestRows = ExtractJob.manifests(spark, last).collect().map(_.rows).sum
    val failed = Checks.extractionFailures(ExtractJob.readOutput(spark, last), golden) +
      math.abs(manifestRows - nTurns)
    r.say(s"check: $failed of $nTurns turns failed (manifest rows $manifestRows)")

    val plain = reps.filterNot(_.traced)
    val turnsPerS = nTurns / median(plain.map(_.wall))
    val cpuS = median(plain.map(_.d.cpuNs / 1e9))
    val storedPerTurn = median(plain.map(_.stored.toDouble)) / nTurns
    r.say(f"turns_per_s $turnsPerS%.0f cpu_s_per_mturn ${cpuS / nTurns * 1e6}%.1f stored_bytes_per_turn $storedPerTurn%.1f")
    val endToEnd = Seq(("setup_s", setupS, "s"), ("ops_per_s", turnsPerS, "1/s"),
      ("cpu_ms_per_op", cpuS / nTurns * 1e3, "ms"), ("output_bytes_per_op", storedPerTurn, "B"))
    val perLayer =
      if (!r.o.trace) Seq.empty
      else layers(r, reps.toSeq, nTurns, corpus, corpusS, warmS)
    Outcome(nTurns, failed, endToEnd, perLayer)
  }

  private def layers(r: Run, reps: Seq[Rep], nTurns: Long, corpus: String,
      corpusS: Seq[Double], warmS: Double): Seq[Metric] = {
    val spark = r.spark
    import spark.implicits._
    val kinds = spark.read.parquet(corpus).as[GenRow].map(g => (kindOf(g.tool, g.gate), g))
    val kindCounts = kinds.groupByKey(_._1).count().collect().toMap
    // seeded sample: the first turns of each kind in (conv_id, turn_idx) hash order
    val samples = Kinds.map { kind =>
      kind -> kinds.filter(_._1 == kind).map(_._2)
        .orderBy(org.apache.spark.sql.functions.hash($"conv_id", $"turn_idx"))
        .limit(Replay.MinReplays).collect()
        .map(g => Turn(g.conv_id, g.turn_idx, g.role, g.text, g.tool, g.ts))
    }.toMap
    val traced = reps.filter(_.traced)
    val jobs = r.listener.jobsSince(reps.head.startMs)
    r.tracer.attach(jobs, r.listener.stagesOf(jobs.map(_.jobId).toSet))
    val pipeline = traced.map { rep =>
      val js = jobs.filter(j => j.startMs >= rep.startMs && j.startMs <= rep.endMs)
      val st = r.listener.stagesOf(js.map(_.jobId).toSet)
      // extract stage: reads the salted exchange and writes the table; scan
      // stage: reads the input and feeds the exchange (the manifest pass's
      // aggregation also reads and shuffles, but after the write)
      val ext = st.filter(s => s.shuffleReadBytes > 0 && s.outputBytes > 0)
      val extStart = ext.map(_.submittedMs).minOption.getOrElse(Long.MaxValue)
      val scan = st.filter(s => s.inputBytes > 0 && s.shuffleWriteBytes > 0 && s.completedMs <= extStart)
      val extTasks = ext.flatMap(_.taskMs).sorted
      val writeEnd = js.filter(j => ext.exists(_.jobId == j.jobId)).map(_.endMs)
        .reduceOption(_ max _).getOrElse(rep.endMs)
      val self = r.tracer.all.find(_.name == rep.spanName).map(r.tracer.selfNs).getOrElse(0L)
      Map(
        "jobs" -> js.size.toDouble, "stages" -> st.size.toDouble,
        "scan_task_s" -> scan.map(_.runMs).sum / 1e3,
        "shuffle_write_mb" -> scan.map(_.shuffleWriteBytes).sum / 1e6,
        "shuffle_write_s" -> scan.map(_.shuffleWriteNs).sum / 1e9,
        "shuffle_read_mb" -> ext.map(_.shuffleReadBytes).sum / 1e6,
        "extract_task_s" -> ext.map(_.runMs).sum / 1e3,
        "extract_cpu_s" -> ext.map(_.cpuNs).sum / 1e9,
        "write_mb" -> ext.map(_.outputBytes).sum / 1e6, "write_files" -> rep.files.toDouble,
        "manifest_s" -> math.max(0L, rep.endMs - writeEnd) / 1e3,
        "gc_s" -> rep.d.gcMs / 1e3,
        "task_skew" -> (if (extTasks.isEmpty) 0.0
          else extTasks.last.toDouble / math.max(1L, extTasks(extTasks.size / 2))),
        "core_busy" -> st.flatMap(_.taskMs).sum / 1e3 / (rep.wall * r.cores),
        "executor_task_s" -> st.flatMap(_.taskMs).sum / 1e3,
        "driver_self_s" -> self / 1e9)
    }
    val pipelineMetrics = pipeline.head.keys.toSeq.sorted.map { k =>
      (s"pipeline.$k", median(pipeline.map(_(k))), unitOf(s"pipeline.$k"))
    }
    val turnStats = Kinds.map(k => k -> Replay.turns(k, samples.getOrElse(k, Array.empty))).toMap
    val (strict, sIn, sOut) = Replay.core("strict", samples("pdf"), lenient = false)
    val (lenient, lIn, lOut) = Replay.core("lenient", samples("pdf-lenient"), lenient = true)
    // executor time the per-turn layers account for: replayed mean cost per
    // turn times the corpus count of that kind, against the traced reps'
    // summed task time
    def est(ks: String*) = ks.map(k => kindCounts.getOrElse(k, 0L) * turnStats(k)._2).sum / 1e9
    val executorS = median(pipeline.map(_("executor_task_s")))
    val coreS = est("pdf", "pdf-lenient", "error")
    val htmlS = est("html")
    val plainS = est("plain")
    val untracedRate = nTurns / median(reps.filterNot(_.traced).map(_.wall))
    val tracedRate = nTurns / median(traced.map(_.wall))
    Seq(("setup.session_s", r.sessionS, "s"), ("setup.corpus_s", SetupReps * median(corpusS), "s"),
      ("setup.warm_s", warmS, "s")) ++
      pipelineMetrics ++ Kinds.flatMap(k => turnStats(k)._1) ++ strict ++ lenient ++
      Seq(("core.flate_in_mb", (sIn + lIn) / 1e6, "MB"), ("core.flate_out_mb", (sOut + lOut) / 1e6, "MB"),
        ("core.error_ns", turnStats("error")._2, "ns")) ++
      Replay.html(samples("html")) ++
      Seq(("share.core", coreS / executorS, "ratio"), ("share.html", htmlS / executorS, "ratio"),
        ("share.plain", plainS / executorS, "ratio"),
        ("share.pipeline", 1 - (coreS + htmlS + plainS) / executorS, "ratio"),
        ("trace.turns_per_s_untraced", untracedRate, "1/s"),
        ("trace.turns_per_s_traced", tracedRate, "1/s"),
        ("trace.overhead_share", (untracedRate - tracedRate) / untracedRate, "ratio"))
  }
}

/** `query_suite`: the `SparkEntry.queries` entries but `Excluded`, collected
  * to the driver, with one query in flight per core. Run one at a time, a
  * pass costs about a minute at any table size (per-query planning and
  * scheduling dominate, the cores sit mostly idle), which the benchmark's
  * time budget cannot afford twice per run; so a run has no separate warm
  * pass, the timed pass runs cold, and each result's fingerprint is taken
  * from the rows it collected, outside the query's timer.
  */
object QuerySuite {
  import Main._

  final case class Q(name: String, wall: Double, d: Totals, error: Option[String],
      fingerprint: Option[(String, Long)])

  /** Queries that touch paths outside the benchmark's directory, which the
    * benchmark must not: q_multimodal_meta and q_mp4_frames always write
    * their payloads under `SparkEntry.oracleRoot`, and q_extract_pipeline
    * generates with `includeFixturePdfs = true`, which reads the reference
    * fixture directory when it exists.
    */
  val Excluded = Set("q_multimodal_meta", "q_mp4_frames", "q_extract_pipeline")

  def loadPins(dir: String, variant: Long): Map[String, String] = {
    val p = Paths.get(dir, s"queries-v$variant.tsv")
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty)
      .map(_.split('\t')).map(a => a(0) -> a(1)).toMap
  }

  def run(r: Run): Outcome = {
    val spark = r.spark
    val sf = s"${r.o.work}/sf"
    val variant = java.lang.Math.floorMod(r.o.seed, Variants.toLong)
    val tablesS = (0 until SetupReps).map { k =>
      r.tracer.timed("setup", s"tables $k")(
        QueryTables.write(spark, sf, QuerySf, variant, r.cores))._2
    }
    val queries = SparkEntry.queries.toSeq.filterNot(q => Excluded(q._1)).sortBy(_._1)
    r.say(s"query tables: variant $variant of $Variants, sf $QuerySf, ${queries.size} queries, " +
      s"${r.cores} in flight, fixture_docs: 0")
    val setupS = r.sessionS + median(tablesS)
    r.say(f"setup: session ${r.sessionS}%.2f s, tables ${tablesS.map(s => f"$s%.2f").mkString("/")} s")

    // one session per worker: a query that sets a session conf cannot race another
    val sessions = ThreadLocal.withInitial[SparkSession] { () =>
      val s = spark.newSession()
      require(s.conf.get("spark.sql.shuffle.partitions") == r.cores.toString)
      s
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(r.cores)
    def pass(p: Int): (Seq[Q], Double) = {
      r.listener.detail = r.o.trace
      val (done, passS) = r.tracer.timed("queries", s"pass $p") {
        val parent = r.tracer.current
        queries.map { case (name, fn) =>
          val key = s"$name pass $p"
          pool.submit(new java.util.concurrent.Callable[Q] {
            def call(): Q = {
              val s = sessions.get()
              s.sparkContext.setLocalProperty(BenchListener.Key, key)
              val q0 = System.nanoTime()
              val res =
                try { val df = fn(s, sf); Right((df.columns, df.collect())) }
                catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
              val q1 = System.nanoTime()
              r.tracer.record("query", key, q0, q1, parent)
              Q(key, (q1 - q0) / 1e9, null, res.left.toOption,
                res.toOption.map { case (cols, rows) => Checks.fingerprint(cols, rows) })
            }
          })
        }.map(_.get())
      }
      BenchBus.drain(spark.sparkContext)
      r.listener.detail = false
      (done.zip(queries).map { case (q, (name, _)) =>
        q.copy(name = name, d = r.listener.totals(q.name)) }, passS)
    }
    val passes = ArrayBuffer[(Seq[Q], Double)]()
    val deadline = System.nanoTime() + r.o.seconds * 1000000000L
    try while (passes.isEmpty || System.nanoTime() < deadline) {
      passes += pass(passes.size)
      r.say(f"pass ${passes.size - 1}: ${passes.last._2}%.3f s wall, ${passes.last._1.map(_.d.cpuNs).sum / 1e9}%.3f s executor cpu")
    } finally pool.shutdown()

    val first = passes.head._1
    first.indices.foreach { i =>
      val q = first(i)
      r.say(f"query ${q.name}%-32s ${family(q.name)}%-10s wall ${median(passes.map(_._1(i).wall))}%.3f s cpu ${median(passes.map(_._1(i).d.cpuNs / 1e9))}%.3f s fp ${q.fingerprint.map(_._1).getOrElse("-")}")
    }
    val threw = passes.flatMap(_._1).filter(_.error.isDefined)
    threw.foreach(q => r.say(s"query ${q.name} threw: ${q.error.get}"))
    val fps = first.flatMap(q => q.fingerprint.map(q.name -> _._1)).toMap
    val pins = loadPins(r.o.pins, variant)
    val names = queries.map(_._1)
    val mismatched = Checks.queryFailures(fps, pins, names)
    mismatched.foreach(n => r.say(s"query $n: fingerprint ${fps.getOrElse(n, "-")} != pin ${pins.getOrElse(n, "-")}"))
    val failed = (threw.map(_.name) ++ mismatched).distinct.size
    r.say(s"check: $failed of ${names.size} queries failed")

    val suiteS = median(passes.map(_._2))
    val suiteCpuS = median(passes.map(_._1.map(_.d.cpuNs / 1e9).sum))
    val resultChars = first.flatMap(_.fingerprint.map(_._2)).sum.toDouble
    r.say(f"suite_s $suiteS%.3f suite_cpu_s $suiteCpuS%.3f result_chars ${resultChars}%.0f")
    val endToEnd = Seq(("setup_s", setupS, "s"), ("ops_per_s", names.size / suiteS, "1/s"),
      ("cpu_ms_per_op", suiteCpuS / names.size * 1e3, "ms"),
      ("output_bytes_per_op", resultChars / names.size, "B"))
    val perLayer =
      if (!r.o.trace) Seq.empty
      else {
        val jobs = r.listener.jobsSince(0L)
        r.tracer.attach(jobs, r.listener.stagesOf(jobs.map(_.jobId).toSet))
        val byFamily = first.groupBy(q => family(q.name))
        Seq(("setup.session_s", r.sessionS, "s"), ("setup.corpus_s", median(tablesS), "s")) ++
          Families.flatMap { f =>
            val qs = byFamily.getOrElse(f, Seq.empty)
            Seq((s"queries.$f.wall_s", qs.map(_.wall).sum, "s"),
              (s"queries.$f.cpu_s", qs.map(_.d.cpuNs).sum / 1e9, "s"),
              (s"queries.$f.jobs", qs.map(_.d.jobs).sum.toDouble, "count"),
              (s"queries.$f.shuffle_mb", qs.map(_.d.shuffleWriteBytes).sum / 1e6, "MB"),
              (s"queries.$f.spill_mb", qs.map(_.d.spillBytes).sum / 1e6, "MB"),
              (s"queries.$f.gc_s", qs.map(_.d.gcMs).sum / 1e3, "s"))
          }
      }
    Outcome(names.size, failed, endToEnd, perLayer)
  }
}
