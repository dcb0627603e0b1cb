package graft.bench.perf

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The repository benchmark: one process, one closed-loop client (the next
  * op starts when the previous one returns), one workload per run.
  *
  *   - `inventory-sf0.01`: a fixed sample of the headline inventory cells
  *     over the RgFixture relayout of the sf0.01 corpus. Fixed cost per
  *     cell (query construction, planning, scheduling, driver-side eager
  *     jobs) sets the time here.
  *   - `scale-heavy`: the ScaleProbe heavy cells over a 10x replica corpus
  *     of sf0.01 built by `ScaleProbe.buildDir`. Task execution sets the
  *     time here.
  *   - `sort-kernel`: the paper's experiment in-process, no Spark: both
  *     `ColumnSort` strategies over presorted and seed-shuffled batches of
  *     the four generator cases, plus the 8-run `MergeStreams` merge.
  *
  * The layers are timed only from outside: around calls into their entry
  * points, and (traced runs) through Spark's own listener interfaces.
  * Prints nothing on stdout; the result goes to the `--out` JSON file,
  * which `perfbench/run.py` turns into the benchmark's result line.
  */
object PerfBench {

  // ---- fixed benchmark configuration -------------------------------------

  /** Input set-ups per run; `setup_s` is their median. */
  val SetupRounds = 3

  /** Inventory sample: the first headline cell of each family (q, qc, d, s,
    * t, e, p, m; the family's base operator), plus the four lake-writing
    * cells the sources layer is judged by (compaction, CDC upsert, JSONL
    * ingest, position delete).
    */
  val Families: Seq[String] = Seq("q", "qc", "d", "s", "t", "e", "p", "m")
  val LakeWriteCells: Seq[String] =
    Seq("q39_compaction", "q41_cdc_upsert", "q40_jsonl_ingest", "q48_position_delete")

  /** Scale tier: replica factor and the ScaleProbe cells it times. */
  val ScaleFactor = 10
  val ScaleCells: Seq[String] = Seq(
    "d8_span_dedup", "q65_kmv_ndv", "q26_approx_distinct", "q43_time_travel",
    "e22_session_window", "e26_stream_trending")

  /** Sort kernel: rows per batch and runs per merge. */
  val SortRows = 100000
  val SortRuns = 8

  // ---- options ------------------------------------------------------------

  final case class Opts(
      workload: String, seed: Long, seconds: Int, trace: Boolean, out: String,
      work: String, testdata: String, expected: String, spans: String,
      record: Boolean, smoke: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("out"), req("work"), req("testdata"), m.getOrElse("expected", ""),
      m.getOrElse("spans", ""), m.get("record").contains("1"), m.get("smoke").contains("1"))
  }

  // ---- result ------------------------------------------------------------

  /** Everything one run measured; `metrics` holds both end-to-end and
    * per-layer values, `run.py` picks the set the trace flag asks for.
    */
  final class Result {
    var attempted = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    def fail(msg: String): Unit = { errors += msg; System.err.println(s"[perfbench] FAIL $msg") }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val res = new Result
    scratchSnapshot(s"${o.work}/scratch.before")
    res.metrics("host.noise_cal_start_ms") = noiseCal()
    o.workload match {
      case "inventory-sf0.01" | "scale-heavy" => new SparkWorkload(o, res).run()
      case "sort-kernel" => new SortWorkload(o, res).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    res.metrics("host.noise_cal_end_ms") = noiseCal()
    System.err.println(f"[perfbench] noise_cal ${res.metrics("host.noise_cal_start_ms")}%.1f / " +
      f"${res.metrics("host.noise_cal_end_ms")}%.1f ms")
    jvmMetrics(res)
    writeResult(o.out, res)
  }

  // ---- shared measurements ----------------------------------------------

  /** Lists every path under the program's scratch root (`graft.Scratch.dir`)
    * before the run touches it, the root itself on the first line:
    * `run.py` removes what the run added once the JVM has exited and
    * reports its size as `sources.scratch_left_mb`.
    */
  def scratchSnapshot(path: String): Unit = {
    val root = graft.Scratch.dir
    val walk = Files.walk(Paths.get(root))
    val paths = try walk.iterator().asScala.map(_.toString).toList finally walk.close()
    Files.writeString(Paths.get(path), (root +: paths).mkString("", "\n", "\n"))
  }

  /** Fixed single-thread CPU kernel (xorshift stream, no allocation): the
    * same 100M-step loop as graft.Bench's noise cell, min of 3. A slow
    * host window shows here, not as a code effect.
    */
  def noiseCal(): Double = {
    def once(): Double = {
      var x = 0x9E3779B97F4A7C15L; var s = 0L; var i = 0
      val t0 = System.nanoTime()
      while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x; i += 1 }
      if (s == 42) System.err.println("")
      (System.nanoTime() - t0) / 1e6
    }
    Seq.fill(3)(once()).min
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.length)

  /** Op latency metrics over all timed samples, keyed by op name. The
    * end-to-end latency is the geomean of each op's median: a median pooled
    * over a dozen unlike cells jumps between whichever cells straddle it.
    */
  def opMetrics(res: Result, samples: Seq[(String, Double)], windowS: Double): Unit = {
    res.metrics("op_geomean_ms") =
      geomean(samples.groupBy(_._1).values.map(v => median(v.map(_._2 * 1e3))).toSeq)
    res.metrics("ops_per_s") = if (windowS > 0) samples.length / windowS else 0.0
    res.metrics("trace.op_geomean_ms") = res.metrics("op_geomean_ms")
    res.metrics("bench.op_p50_ms") = median(samples.map(_._2 * 1e3))
    res.metrics("bench.ops") = samples.length.toDouble
    res.metrics("bench.window_s") = windowS
    samples.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (op, v) =>
      System.err.println(f"[perfbench] $op%-40s " + v.map(x => f"${x._2 * 1e3}%.1f").mkString(" "))
    }
  }

  def jvmMetrics(res: Result): Unit = {
    res.metrics("jvm.gc_ms") =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum.toDouble
    System.gc()
    res.metrics("jvm.heap_after_gc_mb") =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    res.metrics("peak_rss_mb") = {
      val st = scala.io.Source.fromFile("/proc/self/status")
      try st.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
      finally st.close()
    }
    res.metrics("check.failed_ratio") =
      if (res.attempted > 0) res.errors.size.toDouble / res.attempted else 0.0
  }

  def writeResult(path: String, res: Result): Unit = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
    val ms = res.metrics.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
    val errs = res.errors.map(str).mkString(", ")
    Files.writeString(Paths.get(path),
      s"""{"attempted": ${res.attempted}, "failed": ${res.errors.size}, "errors": [$errs], "metrics": {$ms}}""" + "\n")
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---- canonical output hash ---------------------------------------------

  /** tools/check_oracle.py's canonical form: columns sorted by name, rows
    * sorted, floats to 9 significant digits, NULL / NaN tokens.
    */
  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double =>
      if (d.isNaN) "NaN"
      else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
        .stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: Boolean => if (b) "1" else "0"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def tableHash(df: DataFrame): (Long, String) = {
    val cols = df.columns
    val order = cols.indices.sortBy(cols(_))
    val rows = df.collect()
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u001f")).sorted
    val h = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => h.update(l.getBytes("UTF-8")); h.update('\n'.toByte) }
    (rows.length.toLong, h.digest().map("%02x".format(_)).mkString)
  }

  /** `cell -> (rows, hash)` from an expected-output file. */
  def readExpected(path: String): Map[String, (Long, String)] =
    if (path.isEmpty || !new File(path).isFile) Map.empty
    else scala.io.Source.fromFile(path).getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap
}

/** Spark workloads: inventory sample or scale tier. */
final class SparkWorkload(o: PerfBench.Opts, res: PerfBench.Result) {
  import PerfBench._

  /** One timed cell run: wall-clock interval (epoch ms) and its two parts. */
  private final case class Op(id: String, cell: String, startMs: Long, endMs: Long,
      constructS: Double, executeS: Double) {
    def seconds: Double = constructS + executeS
  }

  private val inventory = o.workload == "inventory-sf0.01"
  private val headline = graft.SparkEntry.inventory.filter(_.benchHeadline)
  private val byName = headline.map(q => q.name -> q).toMap

  private def family(cell: String): String =
    if (cell.startsWith("qc")) "qc" else cell.take(1)

  private val cells: Seq[String] = {
    val all =
      if (inventory)
        (Families.map(f => headline.map(_.name).find(family(_) == f).get) ++
          LakeWriteCells).distinct
      else ScaleCells
    if (o.smoke) all.filter(c => !LakeWriteCells.contains(c)).take(3) else all
  }
  cells.foreach(c => require(byName.contains(c), s"unknown headline cell $c"))

  private val sf = if (o.smoke) "sf0.001" else "sf0.01"
  private val setupRounds = if (o.smoke) 1 else SetupRounds
  private val cores = Runtime.getRuntime.availableProcessors

  def run(): Unit = {
    val sessionStart = System.nanoTime()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.files.maxPartitionBytes", "4m")
    if (o.trace) b
      .config("spark.sql.queryExecutionListeners", classOf[PhaseTraceListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTraceListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (o.trace) spark.sparkContext.addSparkListener(new SparkTraceListener)
    res.metrics("jvm.session_s") = (System.nanoTime() - sessionStart) / 1e9

    // ---- set-up: SetupRounds fresh input builds, the last one is timed
    val rounds = (1 to setupRounds).map(r => setupRound(spark, r))
    val dir = rounds.last._1
    val parts = rounds.map(_._2)
    def med(k: String) = median(parts.map(_.getOrElse(k, 0.0)))
    res.metrics("setup_s") = median(parts.map(_.values.sum))
    Seq("datagen.gen_ms", "sources.fixture_s", "sources.replica_build_s", "sources.register_s",
      "pipeline.dedup_prewarm_s", "pipeline.text_prewarm_s", "pipeline.multimodal_prewarm_s")
      .foreach(k => res.metrics(k) = med(k) * (if (k.endsWith("_ms")) 1e3 else 1.0))

    // ---- warm-up, outside the window: the output check runs every cell
    // once in seeded order and hashes its collected result, then one
    // untimed pass of the timed spelling (JIT and codegen)
    val rnd = new scala.util.Random(o.seed)
    val (_, warmS) = timed {
      checkOutputs(spark, dir, rnd)
      rnd.shuffle(cells).foreach(c => noop(byName(c).benched(spark, dir)))
    }
    res.metrics("bench.warm_s") = warmS

    // ---- timed window: whole seeded-shuffled passes until --seconds
    val ops = mutable.ArrayBuffer.empty[Op]
    val sc = spark.sparkContext
    val w0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || System.nanoTime() - w0 < o.seconds * 1000000000L) {
      rnd.shuffle(cells).foreach { c =>
        res.attempted += 1
        val id = s"op-${res.attempted}"
        sc.setJobGroup(id, c)
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        try {
          val df = byName(c).benched(spark, dir)
          val t1 = System.nanoTime()
          noop(df)
          val t2 = System.nanoTime()
          ops += Op(id, c, startMs, System.currentTimeMillis(), (t1 - t0) / 1e9, (t2 - t1) / 1e9)
        } catch { case e: Throwable => res.fail(s"$c: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        finally sc.clearJobGroup()
      }
      pass += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    opMetrics(res, ops.map(op => op.cell -> op.seconds).toSeq, windowS)
    res.metrics("bench.passes") = pass
    res.metrics("queries.write_cell_p50_s") =
      median(ops.filter(op => LakeWriteCells.contains(op.cell)).map(_.seconds).toSeq)
    res.metrics("queries.construct_s") = ops.map(_.constructS).sum
    res.metrics("queries.execute_s") = ops.map(_.executeS).sum
    Families.foreach { f =>
      res.metrics(s"family.${f}_s") =
        ops.filter(op => family(op.cell) == f).map(_.seconds).sum
    }

    if (o.trace) {
      Trace.drain(sc)
      traceMetrics(ops.toSeq, windowS)
    }
    spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One input set-up: stage a fresh copy of the corpus (a new path, so no
    * path-keyed memo or on-disk fixture of an earlier round is reused),
    * build the relayout or replica corpus, register it and prewarm the
    * shared indexes. Returns the corpus dir and the time of each part.
    */
  private def setupRound(spark: SparkSession, round: Int): (String, Map[String, Double]) = {
    val t = mutable.LinkedHashMap.empty[String, Double]
    val staged = s"${o.work}/round$round/$sf"
    t("datagen.gen_ms") = timed {
      new File(staged).mkdirs()
      graft.Tables.names.foreach { n =>
        Files.copy(Paths.get(s"${o.testdata}/$sf/$n.parquet"), Paths.get(s"$staged/$n.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
    }._2
    val dir =
      if (inventory) {
        val (d, s) = timed(graft.bench.RgFixture.prepare(spark, staged))
        t("sources.fixture_s") = s; d
      } else {
        val (d, s) = timed(graft.bench.ScaleProbe.buildDir(spark, staged,
          s"${o.work}/round$round/scale", if (o.smoke) 2 else ScaleFactor))
        t("sources.replica_build_s") = s; d
      }
    t("sources.register_s") = timed(graft.Graft.register(spark, dir))._2
    // The similarity prewarm is left out: it builds every ANN artifact of
    // the s-family (17-29 s per round at sf0.01, more than a run's budget);
    // the sampled s-cell builds what it reads during the warm-up instead.
    val deps: Set[String] =
      if (inventory) Set("dedup", "text", "multimodal")
      else cells.flatMap(graft.bench.ScaleProbe.PrewarmDeps).toSet
    if (deps("dedup")) t("pipeline.dedup_prewarm_s") = timed(graft.pipeline.Dedup.prewarmIndexes(spark, dir))._2
    if (deps("text")) t("pipeline.text_prewarm_s") = timed(graft.pipeline.Text.prewarmIndexes(spark, dir))._2
    if (deps("multimodal"))
      t("pipeline.multimodal_prewarm_s") = timed(graft.multimodal.Multimodal.prewarmIndexes(spark, dir))._2
    if (round < setupRounds) { // free this round's caches before the next build
      graft.pipeline.Materialized.releaseMatching(_.endsWith(s"|$dir"))
      graft.pipeline.Dedup.releaseIndex(spark, dir)
      graft.pipeline.Similarity.releaseBlockStats(spark)
    }
    System.err.println(f"[perfbench] set-up round $round: ${t.values.sum}%.2f s " +
      t.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    (dir, t.toMap)
  }

  /** Row count and canonical hash of every cell against the recorded
    * expectation; `--record 1` writes the expectation file instead.
    */
  private def checkOutputs(spark: SparkSession, dir: String, rnd: scala.util.Random): Unit = {
    val expected = readExpected(o.expected)
    val got = mutable.LinkedHashMap.empty[String, (Long, String)]
    rnd.shuffle(cells).foreach { c =>
      res.attempted += 1
      val t0 = System.nanoTime()
      try {
        val (n, h) = tableHash(byName(c).benched(spark, dir))
        System.err.println(f"[perfbench] check $c ${(System.nanoTime() - t0) / 1e9}%.2f s")
        got(c) = (n, h)
        if (!o.record) expected.get(c) match {
          case None => res.fail(s"$c: no expected output recorded")
          case Some((en, eh)) =>
            if (en != n) res.fail(s"$c: $n rows, expected $en")
            else if (eh != h) res.fail(s"$c: content hash $h, expected $eh")
        }
      } catch { case e: Throwable => res.fail(s"$c check: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    if (o.record && o.expected.nonEmpty) {
      val lines = cells.flatMap(c => got.get(c).map { case (n, h) => s"$c\t$n\t$h" })
      Files.writeString(Paths.get(o.expected),
        s"# cell\trows\tsha256 (${o.workload}, canonical form of tools/check_oracle.py)\n" +
          lines.mkString("", "\n", "\n"))
    }
  }

  /** Per-layer metrics and spans of the timed ops from the traced events. */
  private def traceMetrics(ops: Seq[Op], windowS: Double): Unit = {
    def opOf(t: Long) = ops.find(op => t >= op.startMs && t <= op.endMs).map(_.id)
    def within(t: Long) = opOf(t).nonEmpty
    val ids = ops.map(_.id).toSet
    val jobs = Trace.jobs.values.asScala.filter(j => ids.contains(j.group)).toSeq
    val stageIds = jobs.flatMap(_.stages).toSet
    val tasks = Trace.tasks.asScala.filter(t => stageIds.contains(t.stage)).toSeq
    val sqls = Trace.sqlExecs.values.asScala.filter(x => within(x.start)).toSeq
    val phases = Trace.phases.asScala.filter(p => within(p.start)).toSeq
    val batches = Trace.batches.asScala.filter(b => within(b.start)).toSeq
    val m = res.metrics
    m("spark.jobs") = jobs.size
    m("spark.stages") = stageIds.size
    m("spark.tasks") = tasks.size
    m("spark.task_run_s") = tasks.map(_.runMs).sum / 1e3
    m("spark.task_cpu_s") = tasks.map(_.cpuNs).sum / 1e9
    m("spark.sched_wait_s") = tasks.map(t => (t.durMs - t.runMs).max(0L)).sum / 1e3
    m("spark.busy_ratio") = if (windowS > 0) m("spark.task_run_s") / (cores * windowS) else 0.0
    m("spark.shuffle_write_mb") = tasks.map(_.shuffleWrite).sum / 1048576.0
    m("spark.shuffle_read_mb") = tasks.map(_.shuffleRead).sum / 1048576.0
    m("spark.spill_mb") = tasks.map(_.spill).sum / 1048576.0
    m("spark.gc_s") = tasks.map(_.gcMs).sum / 1e3
    m("sources.read_mb") = tasks.map(_.readBytes).sum / 1048576.0
    m("sources.records_read") = tasks.map(_.records).sum.toDouble
    m("sources.output_mb") = tasks.map(_.written).sum / 1048576.0
    m("queries.analysis_s") = phases.map(_.analysis).sum / 1e3
    m("queries.optimization_s") = phases.map(_.optimization).sum / 1e3
    m("queries.planning_s") = phases.map(_.planning).sum / 1e3
    m("queries.sql_execs") = sqls.size

    /** Length of the union of `spans` clipped to [s, e]. */
    def covered(spans: Seq[(Long, Long)], s: Long, e: Long): Long = {
      val c = spans.map { case (a, b) => (a.max(s), (if (b <= 0) e else b).min(e)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curS = -1L; var curE = -1L
      c.foreach { case (a, b) =>
        if (a > curE) { total += (curE - curS).max(0L); curS = a; curE = b }
        else curE = curE.max(b)
      }
      total + (curE - curS).max(0L)
    }
    val sqlSpans = sqls.map(x => (x.start, x.end))
    val jobSpans = jobs.map(j => (j.start, j.end))
    def outside(spans: Seq[(Long, Long)]) =
      ops.map(op => op.endMs - op.startMs - covered(spans, op.startMs, op.endMs)).sum / 1e3
    m("queries.outside_sql_s") = outside(sqlSpans)
    m("queries.self_s") = outside(jobSpans)
    m("spark.job_wall_s") = ops.map(op => covered(jobSpans, op.startMs, op.endMs)).sum / 1e3
    m("streaming.batches") = batches.size
    m("streaming.batch_p50_ms") = median(batches.map(_.durMs.toDouble))
    m("streaming.trigger_s") = batches.map(_.durMs).sum / 1e3

    // spans: one per op, children for construct, execute, jobs, SQL
    // executions and streaming batches, all carrying the op's id
    val spans = new Spans
    ops.foreach { op =>
      val mid = op.startMs + (op.constructS * 1e3).toLong
      spans.add(op.id, op.cell, "op", op.startMs * 1000, op.endMs * 1000)
      spans.add(op.id, "construct", "construct", op.startMs * 1000, mid * 1000)
      spans.add(op.id, "execute", "execute", mid * 1000, op.endMs * 1000)
    }
    jobs.foreach(j => spans.add(j.group, s"job ${j.id}", "job", j.start * 1000, j.end * 1000))
    sqls.foreach(x => opOf(x.start).foreach(id =>
      spans.add(id, s"sql ${x.id}", "sql", x.start * 1000, x.end * 1000)))
    batches.foreach(b => opOf(b.start).foreach(id =>
      spans.add(id, "batch", "batch", b.start * 1000, (b.start + b.durMs) * 1000)))
    spans.write(o.spans)
    m("trace.spans") = spans.count
  }
}

/** The paper's sort experiment, in-process: no SparkSession is created. */
final class SortWorkload(o: PerfBench.Opts, res: PerfBench.Result) {
  import PerfBench._
  import graft.sort.{BatchSort, ColumnBatch, ColumnSort, MergeStreams}

  private val rows = if (o.smoke) 2000 else SortRows

  private final case class Input(caseName: String, order: String, batch: ColumnBatch)
  private final case class MergeInput(caseName: String, batch: ColumnBatch, offsets: Array[Int])

  /** One set-up: generate every case, materialize it columnar, and derive
    * the seed-shuffled copy and the seeded 8-run scatter.
    */
  private def setupRound(): (Seq[Input], Seq[MergeInput], Double, Double) = {
    var genS = 0.0; var matS = 0.0
    val ins = mutable.ArrayBuffer.empty[Input]
    val merges = mutable.ArrayBuffer.empty[MergeInput]
    val rnd = new scala.util.Random(o.seed)
    graft.datagen.Case.all.foreach { c =>
      val (rs, g) = timed(c.rows(rows)); genS += g
      val (sorted, mt) = timed {
        val b = ColumnBatch.fromRows(rs, c.schema)
        if (c.dictCols.nonEmpty) b.dictEncoded(c.dictCols) else b
      }
      matS += mt
      val perm = rnd.shuffle((0 until rows).toVector).toArray
      ins += Input(c.name, "presorted", sorted)
      ins += Input(c.name, "shuffled", ColumnSort.take(sorted, perm))
      val (scattered, offsets) = MergeStreams.scatter(sorted, SortRuns, o.seed)
      merges += MergeInput(c.name, scattered, offsets)
    }
    (ins.toSeq, merges.toSeq, genS, matS)
  }

  private val threadMx =
    java.lang.management.ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated(): Long = threadMx.getThreadAllocatedBytes(Thread.currentThread.getId)

  def run(): Unit = {
    val rounds = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      val r = setupRound()
      (r, (System.nanoTime() - t0) / 1e9)
    }
    res.metrics("setup_s") = median(rounds.map(_._2))
    res.metrics("datagen.gen_ms") = median(rounds.map(_._1._3)) * 1e3
    res.metrics("sort.materialize_ms") = median(rounds.map(_._1._4)) * 1e3
    val (inputs, merges, _, _) = rounds.last._1

    // ops: (name, body); the traced body times each kernel call separately
    val parts = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    def part(k: String, s: Double): Unit = parts.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += s
    // traced: each kernel call is a child span of the op being timed
    var spans = new Spans
    var opId = ""
    def call[T](name: String)(f: => T): (T, Double) = {
      val s0 = spans.nowUs()
      val r = timed(f)
      spans.add(opId, name, "kernel", s0, spans.nowUs())
      r
    }
    var allocBytes = 0L; var allocCalls = 0L
    val ops: Seq[(String, () => Unit)] =
      inputs.flatMap { in =>
        Seq(false, true).map { rowFormat =>
          val strategy = if (rowFormat) "rows" else "dyn"
          val key = s"sort.${in.caseName}.${in.order}"
          s"$key.$strategy" -> { () =>
            if (!o.trace) ColumnSort.sortBatch(in.batch, rowFormat)
            else {
              val a0 = allocated()
              val (idx, si) =
                if (rowFormat) call("rowFormatIndices")(ColumnSort.rowFormatIndices(in.batch))
                else call("lexsortIndices")(ColumnSort.lexsortIndices(in.batch))
              val (_, st) = call("take")(ColumnSort.take(in.batch, idx))
              allocBytes += allocated() - a0; allocCalls += 1
              part(s"$key.${strategy}_idx_us", si); part(s"$key.take_us", st)
            }
            ()
          }
        }
      } ++ merges.map { mi =>
        s"sort.${mi.caseName}.merge" -> { () =>
          if (!o.trace) ColumnSort.take(mi.batch, MergeStreams.mergeRuns(mi.batch, mi.offsets))
          else {
            val (idx, si) = call("mergeRuns")(MergeStreams.mergeRuns(mi.batch, mi.offsets))
            call("take")(ColumnSort.take(mi.batch, idx))
            part(s"sort.${mi.caseName}.merge_idx_us", si)
          }
          ()
        }
      }

    // warm pass: three calls of every op heat the comparator and encoder
    // classes of all cases before any sample is taken
    val (_, warmS) = timed((1 to 3).foreach(_ => ops.foreach(_._2())))
    res.metrics("bench.warm_s") = warmS
    parts.clear(); allocBytes = 0L; allocCalls = 0L
    spans = new Spans // the warm-up's kernel spans are dropped

    val rnd = new scala.util.Random(o.seed)
    val samples = mutable.ArrayBuffer.empty[(String, Double)]
    val w0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || System.nanoTime() - w0 < o.seconds * 1000000000L) {
      rnd.shuffle(ops).foreach { case (name, body) =>
        res.attempted += 1
        opId = s"op-${res.attempted}"
        val s0 = spans.nowUs()
        try samples += (name -> timed(body())._2)
        catch { case e: Throwable => res.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        if (o.trace) spans.add(opId, name, "op", s0, spans.nowUs())
      }
      pass += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    opMetrics(res, samples.toSeq, windowS)
    res.metrics("bench.passes") = pass

    def medUs(name: String) = median(samples.filter(_._1 == name).map(_._2).toSeq) * 1e6
    val cases = graft.datagen.Case.all.map(_.name)
    res.metrics("sort.dyn_sort_us") = geomean(inputs.map(i => medUs(s"sort.${i.caseName}.${i.order}.dyn")))
    res.metrics("sort.rows_sort_us") = geomean(inputs.map(i => medUs(s"sort.${i.caseName}.${i.order}.rows")))
    res.metrics("sort.merge_us") = geomean(cases.map(c => medUs(s"sort.$c.merge")))
    for (c <- cases; order <- Seq("presorted", "shuffled"); k <- Seq("dyn_idx_us", "rows_idx_us", "take_us")) {
      val key = s"sort.$c.$order.$k"
      res.metrics(key) = median(parts.getOrElse(key, mutable.ArrayBuffer.empty[Double]).toSeq) * 1e6
    }
    cases.foreach { c =>
      res.metrics(s"sort.$c.merge_idx_us") =
        median(parts.getOrElse(s"sort.$c.merge_idx_us", mutable.ArrayBuffer.empty[Double]).toSeq) * 1e6
    }
    if (o.trace) {
      spans.write(o.spans)
      res.metrics("trace.spans") = spans.count
    }
    res.metrics("sort.alloc_mb_per_batch") =
      if (allocCalls > 0) allocBytes.toDouble / allocCalls / 1048576.0 else 0.0
    // no SparkContext exists in this workload, so it launches no job
    if (SparkSession.getDefaultSession.nonEmpty) res.fail("sort-kernel started a Spark session")
    res.metrics("spark.jobs") = 0.0

    check(inputs, merges)
  }

  /** Outside the window: both strategies agree, the output is ordered
    * under `BatchSort.rowOrdering`, and the merge equals a full re-sort.
    */
  private def check(inputs: Seq[Input], merges: Seq[MergeInput]): Unit = {
    inputs.foreach { in =>
      res.attempted += 1
      val name = s"${in.caseName}.${in.order}"
      try {
        val dyn = ColumnSort.sortBatch(in.batch, rowFormat = false).toRows
        val rf = ColumnSort.sortBatch(in.batch, rowFormat = true).toRows
        val ord = BatchSort.rowOrdering(in.batch.schema)
        if (dyn != rf) res.fail(s"sort $name: comparator and row-format outputs differ")
        else if (dyn.length != rows) res.fail(s"sort $name: ${dyn.length} rows out of $rows")
        else if ((1 until dyn.length).exists(i => ord.compare(dyn(i - 1), dyn(i)) > 0))
          res.fail(s"sort $name: output not ordered")
      } catch { case e: Throwable => res.fail(s"sort $name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    merges.foreach { mi =>
      res.attempted += 1
      try {
        val merged = ColumnSort.take(mi.batch, MergeStreams.mergeRuns(mi.batch, mi.offsets)).toRows
        val resorted = ColumnSort.sortBatch(mi.batch, rowFormat = false).toRows
        if (merged != resorted) res.fail(s"merge ${mi.caseName}: merge differs from a full re-sort")
      } catch { case e: Throwable => res.fail(s"merge ${mi.caseName}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
  }
}
