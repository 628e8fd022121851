package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._

/** One benchmark run of one workload: set up, warm up, time passes for the
  * given seconds, check every output outside the timed intervals, and write
  * a JSON report. `perfbench/run.py` builds and launches this and prints the
  * result line.
  *
  * Load model: closed loop, one client, one pass in flight, on one
  * `local[nproc]` session, so no more task threads than cores.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *             --report FILE [--spans FILE] [--smoke] [--corrupt]
  *        Main --dump-oracle FILE
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
                        report: String, spans: String, smoke: Boolean, corrupt: Boolean)

  private def parse(args: Array[String]): Opts = {
    val kv = mutable.HashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a == "--smoke" || a == "--corrupt") { kv(a) = "1"; i += 1 }
      else { require(i + 1 < args.length, s"missing value for $a"); kv(a) = args(i + 1); i += 2 }
    }
    val w = kv("--workload")
    require(Workloads.All.contains(w), s"unknown workload $w")
    Opts(w, kv("--seed").toLong, kv("--seconds").toDouble, kv.getOrElse("--trace", "0") == "1",
      kv("--work"), kv("--report"), kv.getOrElse("--spans", ""), kv.contains("--smoke"), kv.contains("--corrupt"))
  }

  /** The confs of the program's own benchmark session (graft.Bench.newSession). */
  def sparkConfs(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def session(cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
    val s = sparkConfs(cores).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 2 && args(0) == "--dump-oracle") {
      // the query workload's oracle SQL, so the launcher can compute the
      // oracle answers once per build instead of once per run
      Files.writeString(Paths.get(args(1)), Json.obj(Seq(
        "sf_dir" -> Json.str(Corpus.QueryDir),
        "sql" -> Json.obj(Workloads.QueryNames.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))))))
      return
    }
    val o = parse(args)
    val code =
      try { new Run(o).run(); 0 }
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }
}

/** One timed pass of a corpus workload. */
final case class Pass(wall: Double, steal: Double, traced: Boolean, engine: Option[EngineWindow],
                      records: Seq[TaskRecord], outBytes: Long)

/** State of one run; see [[Main]]. */
final class Run(o: Main.Opts) {
  import Main._

  private val cores = Host.nproc
  private var spark: SparkSession = _
  private val e2e = mutable.LinkedHashMap.empty[String, Metric]
  private val layer = mutable.LinkedHashMap.empty[String, Metric]
  private val errors = mutable.ArrayBuffer.empty[String]
  private val extra = mutable.LinkedHashMap.empty[String, String]
  private var attempted = 0L
  private var failed = 0L
  private var corrupted = false
  private val spanLog = mutable.ArrayBuffer.empty[String]

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private val started = System.nanoTime()
  private def log(msg: String): Unit = System.err.println(f"[perfbench] ${secs(started)}%7.2f s  $msg")
  private def med(xs: Seq[Double]): Double = Stats.median(xs)

  def run(): Unit = {
    new File(o.work).mkdirs()
    val corpus = setup()
    if (o.workload == "query_iterative") runQueries(corpus) else runCorpus(corpus)
    e2e("peak_rss_mb") = Metric(Host.vmHwmMb, "MB", 1)
    spark.stop()
    writeReport()
    log("report written")
  }

  // ---- set-up: session start plus corpus generation ----------------------

  /** The run's one set-up, timed cold as every run pays it: class loading,
    * SparkContext start and the generator's first, interpreted calls. */
  private def setup(): String = {
    val extraHash = if (o.workload == "query_iterative")
      Corpus.queryOrder(Workloads.QueryNames, o.seed).mkString(",") else ""
    val t0 = System.nanoTime()
    spark = session(cores)
    val g0 = System.nanoTime()
    val corpus = s"${o.work}/corpus0"
    val rows = Corpus.write(spark, o.workload, o.seed, o.smoke, corpus)
    e2e("setup_s") = Metric(secs(t0), "s", 1)
    layer("data.gen_s") = Metric(secs(g0), "s", 1)
    log(f"set-up done: ${e2e("setup_s").value}%.3f s")
    layer("data.rows") = Metric(rows.toDouble, "count", 1)
    val bytes = Files2.dataBytes(corpus)
    layer("data.mb") = Metric(bytes / 1048576.0, "MB", 1)
    extra("corpus") = Json.obj(Seq(
      "sha256" -> Json.str(Corpus.hash(corpus, extraHash)),
      "rows" -> rows.toString,
      "parquet_mb" -> Json.num(bytes / 1048576.0),
      "mem_total_mb" -> Json.num(Host.memTotalMb)) ++
      (if (o.workload == "query_iterative") Seq("query_order" -> Json.str(extraHash)) else Nil))
    corpus
  }

  // ---- corpus workloads ----------------------------------------------------

  private def runCorpus(corpus: String): Unit = {
    val wl = Workloads.corpus(o.workload)
    val docs = layer("data.rows").value
    val inBytes = Files2.dataBytes(corpus)
    val listener = new EngineListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    var n = 0

    // The first output is checked row by row against the oracle; every later
    // one must have that verified output's fingerprint, or is checked row by
    // row too.
    var verified: Option[(Long, java.math.BigDecimal)] = None
    def check(out: String): Unit = {
      var got: DataFrame = spark.read.parquet(out)
      if (o.corrupt && !corrupted) { got = wl.corrupt(got); corrupted = true }
      val fp = Workloads.fingerprint(got)
      if (verified.contains(fp)) attempted += fp._1
      else {
        val (checked, wrong) = wl.check(spark, corpus, got)
        attempted += checked
        failed += wrong
        if (wrong > 0) errors += s"pass $n: $wrong of $checked outputs wrong"
        else verified = Some(fp)
      }
    }

    def pass(traced: Boolean, checked: Boolean = true): Option[Pass] = {
      val out = s"${o.work}/out/p$n"
      n += 1
      val acc = spark.sparkContext.collectionAccumulator[TaskRecord]("spans")
      if (o.trace) PerfbenchBus.drain(spark.sparkContext)
      val mark = listener.mark()
      val c0 = Host.cpuTimes()
      val t0 = System.nanoTime()
      val ok =
        try { if (traced) wl.traced(spark, corpus, out, n, acc) else wl.run(spark, corpus, out); true }
        catch { case e: Exception => errors += s"pass $n: $e"; false }
      val wall = secs(t0)
      val steal = Host.stealPct(c0, Host.cpuTimes())
      log(f"pass $n${if (traced) " traced" else ""} $wall%.3f s")
      // not timed from here on
      if (!ok) { attempted += docs.toLong; failed += docs.toLong; Files2.delete(out); return None }
      val engine = if (o.trace) { PerfbenchBus.drain(spark.sparkContext); Some(listener.since(mark)) } else None
      if (checked) check(out)
      val outBytes = Files2.dataBytes(out)
      Files2.delete(out)
      import scala.jdk.CollectionConverters._
      Some(Pass(wall, steal, traced, engine, acc.value.asScala.toSeq, outBytes))
    }

    // Checked outputs: the first warm-up pass (row by row), every traced
    // pass, and the last pass of each timed series; the others are the same
    // program on the same input, and checking each costs a run more wall time
    // than it tells.
    (0 until WarmUpPasses).foreach(k => pass(traced = false, checked = k == 0))
    val scanS = if (o.trace) scanRung(corpus) else 0.0
    val timed = mutable.ArrayBuffer.empty[Pass]
    def total = timed.map(_.wall).sum
    def more = total < o.seconds || timed.count(!_.traced) < 3 || (o.trace && timed.count(_.traced) < 3)
    while (more) {
      val traced = o.trace && timed.size % 2 == 1
      timed ++= pass(traced, checked = traced)
    }
    pass(traced = false).foreach(timed += _)
    val plain = timed.filter(!_.traced).toSeq
    require(plain.nonEmpty, "no pass succeeded")
    val passS = med(plain.map(_.wall))
    e2e("docs_per_s") = Metric(docs / passS, "docs/s", plain.size)
    e2e("pass_s") = Metric(passS, "s", plain.size)
    layer("host.steal_pct") = Metric(med(plain.map(_.steal)), "%", plain.size)
    extra("passes_s") = Json.nums(plain.map(_.wall))
    extra("steal_pct") = Json.nums(plain.map(_.steal))
    if (o.trace) {
      val traced = timed.filter(_.traced).toSeq
      traceLayers(traced, plain, docs, inBytes)
      layer("scan.s") = Metric(scanS, "s", 3)
      layer("scan.mb_per_s") = Metric(inBytes / 1048576.0 / scanS, "MB/s", 3)
      layer("trace.overhead_frac") = Metric(1 - med(plain.map(_.wall)) / med(traced.map(_.wall)), "ratio",
        traced.size)
      // same corpus at local[1]
      spark.stop()
      spark = session(1)
      pass(traced = false, checked = false)
      val one = Seq(pass(traced = false, checked = false), pass(traced = false)).flatten
      if (one.nonEmpty)
        layer("scaling_eff") = Metric(med(one.map(_.wall)) / (cores * passS), "ratio", one.size)
      extra("passes_local1_s") = Json.nums(one.map(_.wall))
    }
  }

  /** JIT warm-up: a fixed number of passes. On 4 cores the pass times keep
    * falling for about 15 passes while C2 compiles (repair's geometry code
    * longest). A count, not a time, puts every run at the same point of that
    * curve: a time budget gives a slowed host fewer warm-up passes, and so
    * slower timed passes on top of its own slowness. */
  private val WarmUpPasses = 16

  /** Scan-only rung: read (url, html) and sum the lengths. */
  private def scanRung(corpus: String): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(corpus).agg(sum(length(col("url")).cast("long") + length(col("html")))).collect()
      secs(t0)
    }
    once()
    med(Seq(once(), once(), once()))
  }

  private def traceLayers(traced: Seq[Pass], plain: Seq[Pass], docs: Double, inBytes: Long): Unit = {
    def perPass(f: Seq[TaskRecord] => Double): Double = med(traced.map(p => f(p.records)))
    def busy(name: String): Double = perPass(_.map(_.spanNs(name)).sum / 1e9)
    def cnt(name: String): Double = perPass(_.map(_.counts.getOrElse(name, 0L)).sum.toDouble)
    val k = traced.size
    val parse = if (o.workload == "repair_pagexml") "xml.parse_geom" else "xml.parse_text"
    if (o.workload != "html_main") {
      layer(s"$parse.busy_s") = Metric(busy(parse), "s", k)
      layer("xml.parse.calls") = Metric(perPass(_.map(_.spans.get(parse).map(_._1).getOrElse(0L)).sum.toDouble),
        "count", k)
      layer("xml.parse.mb_per_s") = Metric(cnt("xml.parse.bytes") / 1048576.0 / busy(parse), "MB/s", k)
      layer("xml.parse.fail") = Metric(cnt("xml.parse.fail"), "count", k)
    }
    o.workload match {
      case "extract_pagexml" =>
        layer("text.extract.busy_s") = Metric(busy("text.extract"), "s", k)
        layer("text.chars_out") = Metric(cnt("text.chars_out"), "count", k)
      case "repair_pagexml" =>
        for (s <- Seq("validate", "repair", "extend")) layer(s"ops.$s.busy_s") = Metric(busy(s"ops.$s"), "s", k)
        layer("ops.validate.reports") = Metric(cnt("ops.validate.reports"), "count", k)
        layer("ops.repair.reports") = Metric(cnt("ops.repair.reports"), "count", k)
        layer("ops.repair.fix_ratio") = Metric(cnt("ops.repair.lines_changed") / cnt("ops.repair.lines"), "ratio", k)
        layer("xml.write.busy_s") = Metric(busy("xml.write"), "s", k)
        layer("xml.write.mb_out") = Metric(cnt("xml.write.bytes") / 1048576.0, "MB", k)
      case "html_main" =>
        layer("webtext.dom.busy_s") = Metric(busy("webtext.dom"), "s", k)
        layer("webtext.score.busy_s") = Metric(busy("webtext.score"), "s", k)
        layer("webtext.chars_out") = Metric(cnt("webtext.chars_out"), "count", k)
    }
    layer("sink.s") = Metric(busy("sink"), "s", k)
    val sinkBytes = med(plain.map(_.outBytes.toDouble))
    layer("sink.mb") = Metric(sinkBytes / 1048576.0, "MB", plain.size)
    layer("sink.write_amp") = Metric(sinkBytes / inBytes, "ratio", plain.size)
    engineLayers(plain.map(p => (p.wall, p.engine.get)))
    traced.foreach(p => spanLog += spansJson(p.records, p.wall))
  }

  private def engineLayers(ws: Seq[(Double, EngineWindow)]): Unit = {
    val k = ws.size
    def m(name: String, unit: String)(f: EngineWindow => Double): Unit =
      layer(s"spark.$name") = Metric(med(ws.map(w => f(w._2))), unit, k)
    m("jobs", "count")(_.jobs); m("stages", "count")(_.stages); m("tasks", "count")(_.tasks)
    m("task_run_s", "s")(_.taskRunS); m("task_cpu_s", "s")(_.taskCpuS); m("gc_s", "s")(_.gcS)
    m("sched_delay_s", "s")(_.schedDelayS)
    layer("spark.slot_idle_frac") = Metric(med(ws.map { case (wall, w) => 1 - w.taskRunS / (wall * cores) }),
      "ratio", k)
    m("task_skew", "ratio")(_.taskSkew)
    m("shuffle_write_mb", "MB")(_.shuffleWriteMb); m("shuffle_read_mb", "MB")(_.shuffleReadMb)
    m("shuffle_wait_s", "s")(_.shuffleWaitS); m("spill_mb", "MB")(_.spillMb)
    m("tasks_failed", "count")(_.tasksFailed)
  }

  /** Spans of one traced pass: the pass span, its task spans, and each
    * task's layer spans, with self times. */
  private def spansJson(rs: Seq[TaskRecord], wall: Double): String = {
    val t0 = if (rs.isEmpty) 0L else rs.map(_.startNs).min
    // the pass span's children are its tasks; they overlap, so the time they
    // cover is the union of their intervals
    val covered = rs.map(r => (r.startNs, r.endNs)).sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((sum, end), (s, e)) => if (s >= end) (sum + e - s, e) else if (e > end) (sum + e - end, e) else (sum, end)
    }._1
    Json.obj(Seq(
      "pass" -> rs.headOption.map(_.pass.toString).getOrElse("0"),
      "wall_s" -> Json.num(wall),
      "self_s" -> Json.num(wall - covered / 1e9),
      "tasks" -> Json.arr(rs.sortBy(r => (r.stage, r.partition)).map { r =>
        Json.obj(Seq(
          "stage" -> r.stage.toString, "partition" -> r.partition.toString,
          "start_s" -> Json.num((r.startNs - t0) / 1e9), "end_s" -> Json.num((r.endNs - t0) / 1e9),
          "self_s" -> Json.num(r.selfNs / 1e9),
          "spans" -> Json.obj(r.spans.toSeq.sortBy(_._1).map { case (k, (c, ns)) =>
            k -> Json.obj(Seq("parent" -> Json.str("task"), "calls" -> c.toString, "self_s" -> Json.num(ns / 1e9)))
          }),
          "counts" -> Json.obj(r.counts.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })))
      })))
  }

  // ---- query workload ------------------------------------------------------

  /** One pass in a fresh session: every query in the seeded order, each
    * drained through its executed plan. The pass is timed cold, planning,
    * code generation and JIT included, as one call in a new session pays
    * them: a warm-up pass would double a run's length. The drained rows are
    * few (at most a thousand a query) and are kept, then written outside
    * the timed interval for the DuckDB oracle check the launcher makes after
    * this JVM exits. With tracing, the engine listener is on for the pass
    * and the listener bus is drained around each query. */
  private def runQueries(sfDir: String): Unit = {
    val order = Corpus.queryOrder(Workloads.QueryNames, o.seed)
    val docs = layer("data.rows").value
    val listener = new EngineListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val rows = mutable.LinkedHashMap.empty[String, (Array[InternalRow], StructType)]
    val per = mutable.LinkedHashMap.empty[String, (Double, Double, EngineWindow)]
    if (o.trace) PerfbenchBus.drain(spark.sparkContext)
    val passMark = listener.mark()
    val c0 = Host.cpuTimes()
    val t0 = System.nanoTime()
    order.foreach { q =>
      if (o.trace) PerfbenchBus.drain(spark.sparkContext)
      val mark = listener.mark()
      val q0 = System.nanoTime()
      attempted += 1
      try {
        val qe = graft.SparkEntry.queries(q)(spark, sfDir).queryExecution
        rows(q) = (qe.toRdd.mapPartitions(_.map(_.copy())).collect(), qe.analyzed.schema)
        val wall = secs(q0)
        if (o.trace) {
          PerfbenchBus.drain(spark.sparkContext)
          val plan = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
          per(q) = (plan, wall - plan, listener.since(mark))
        }
      } catch { case e: Exception => errors += s"$q: $e"; failed += 1 }
    }
    val wall = secs(t0)
    val steal = Host.stealPct(c0, Host.cpuTimes())
    log(f"query pass $wall%.3f s")
    if (o.trace) { PerfbenchBus.drain(spark.sparkContext); engineLayers(Seq((wall, listener.since(passMark)))) }

    // not timed from here on
    val qout = s"${o.work}/qout"
    for ((q, (rs, schema)) <- rows) {
      val toRow = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
      spark.createDataFrame(java.util.Arrays.asList(rs.map(r => toRow(r)): _*), schema).write.parquet(s"$qout/$q")
    }
    new File(qout).mkdirs()
    Files.writeString(Paths.get(s"$qout/oracle_sql.json"),
      Json.obj(rows.keys.toSeq.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))))

    e2e("docs_per_s") = Metric(docs / wall, "docs/s", 1)
    e2e("pass_s") = Metric(wall, "s", 1)
    layer("host.steal_pct") = Metric(steal, "%", 1)
    extra("passes_s") = Json.nums(Seq(wall))
    extra("steal_pct") = Json.nums(Seq(steal))
    for ((q, (plan, exec, w)) <- per) {
      layer(s"q.$q.plan_s") = Metric(plan, "s", 1)
      layer(s"q.$q.exec_s") = Metric(exec, "s", 1)
      layer(s"q.$q.jobs") = Metric(w.jobs, "count", 1)
      layer(s"q.$q.shuffle_mb") = Metric(w.shuffleWriteMb, "MB", 1)
      layer(s"q.$q.aqe_updates") = Metric(w.aqeUpdates, "count", 1)
    }
    if (o.trace) layer("trace.overhead_frac") = Metric(0, "ratio", 0,
      "one pass per run, traced in the traced run: compare pass_s of a traced and an untraced run")
  }

  // ---- report --------------------------------------------------------------

  private def writeReport(): Unit = {
    def block(ms: collection.Map[String, Metric]) = Json.obj(ms.toSeq.map { case (k, m) => k -> Json.metric(m) })
    val json = Json.obj(Seq(
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "seconds" -> Json.num(o.seconds),
      "trace" -> o.trace.toString,
      "smoke" -> o.smoke.toString,
      "load" -> Json.str(s"closed loop, 1 client, 1 pass in flight, local[$cores]"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> Json.arr(errors.toSeq.map(Json.str)),
      "host" -> Host.block(sparkConfs(cores), Runtime.getRuntime.maxMemory / 1048576.0),
      "end_to_end" -> block(e2e),
      "per_layer" -> block(layer)) ++ extra.toSeq)
    Files.writeString(Paths.get(o.report), json)
    if (o.spans.nonEmpty) Files.writeString(Paths.get(o.spans), Json.arr(spanLog.toSeq))
  }
}
