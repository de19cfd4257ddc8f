package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{CacheScope, GraftExtensions, GraftSession, SparkEntry}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** The engine side of the benchmark: one closed-loop client thread that
  * builds each query with `SparkEntry.queries(name)(spark, dir)` and
  * evaluates it with `CacheScope.fullEval`, in a session from
  * `GraftSession.build` with `local[<cores>]` and no settings of its own.
  *
  * Arguments are `--key value` pairs. `--mode oracle-sql --out F` writes
  * every query's DuckDB oracle SQL as JSON. Otherwise a run sets up
  * (session, extension registration, `--warmup` passes), measures whole
  * passes over `--queries` until `--seconds` have elapsed, checking every
  * call's row count against `--expect`, and finally writes each query's
  * full result as parquet under `--checkdir` for the value check. With
  * `--trace 1` a [[Tracer]] records spans and per-layer counters, and the
  * bus is drained after every call.
  *
  * `--launch-ns` is the epoch time at which the process was started; the
  * set-up time runs from there to the end of the warm-up passes.
  * `--launch-jiffies busy,steal` are the machine's jiffies at that moment,
  * so that the share of the set-up's CPU time stolen by the hypervisor can
  * be reported beside it, as it is for every pass and call.
  */
object Harness {

  final case class Call(pass: Int, query: String, buildS: Double, evalS: Double,
      steal: Double, ok: Boolean, wrong: Boolean, stats: Option[CallStats])

  /** (busy, steal) jiffies of the whole machine, from /proc/stat. Busy is
    * user, nice, system, irq and softirq time; steal is the time the
    * hypervisor kept a runnable vCPU from running.
    */
  def jiffies: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (v(0) + v(1) + v(2) + v(5) + v(6), v(7))
    } finally src.close()
  }

  /** The share of the CPU time the machine asked for between two readings
    * that the hypervisor stole.
    */
  def stolen(from: (Long, Long), to: (Long, Long)): Double = {
    val (busy, steal) = (to._1 - from._1, to._2 - from._2)
    if (busy + steal > 0) steal.toDouble / (busy + steal) else 0.0
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    if (a.get("mode").contains("oracle-sql"))
      write(a("out"), Json.obj(SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) }))
    else run(a)
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  private def run(a: Map[String, String]): Unit = {
    val launchNs = a("launch-ns").toLong
    val dir = a("inputs")
    val names = a("queries").split(",").toSeq
    val traced = a.get("trace").contains("1")
    val expected: Map[String, Long] = Files.readAllLines(Paths.get(a("expect"))).asScala
      .map(_.split("\t")).map(p => p(0) -> p(1).toLong).toMap
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.build(master = s"local[$cores]", appName = "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() * 1000000L - launchNs) / 1e9
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val root = tracer.map(t => t.span(-1, "workload", a("workload"), t.nowUs)).getOrElse(-1)

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcSeconds: Double = gcBeans.map(_.getCollectionTime.max(0L)).sum / 1000.0
    var callIndex = 0

    def call(pass: Int, passSpan: Int, q: String): Call = {
      callIndex += 1
      val idx = callIndex
      val (j0, t0) = (jiffies, System.nanoTime())
      val qSpan = tracer.map(t => t.span(passSpan, "query", q, t.nowUs)).getOrElse(-1)
      val stats = tracer.map(_.begin())
      def phase(name: String, eager: Boolean): Int = {
        val group = s"pb-$idx-$name"
        sc.setJobGroup(group, s"$q $name", interruptOnCancel = false)
        tracer.map { t =>
          val id = t.span(qSpan, name, q, t.nowUs)
          t.phase(stats.get, eager, group, id)
          id
        }.getOrElse(-1)
      }
      var t1 = t0
      var rows = -1L
      var error: Option[Throwable] = None
      val buildSpan = phase("build", eager = true)
      var evalSpan = -1
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        t1 = System.nanoTime()
        tracer.foreach(_.close(buildSpan, tracer.get.nowUs))
        evalSpan = phase("eval", eager = false)
        rows = CacheScope.fullEval(df)
      } catch { case e: Throwable => error = Some(e) }
      finally sc.clearJobGroup()
      val (j2, t2) = (jiffies, System.nanoTime())
      tracer.foreach { t =>
        val endUs = t.nowUs
        if (evalSpan < 0) t.close(buildSpan, endUs) else t.close(evalSpan, endUs)
        t.close(qSpan, endUs)
        t.finish(stats.get, endUs - (t2 - t0) / 1000L, endUs)
      }
      error.foreach(e => System.err.println(s"[perfbench] $q failed: $e"))
      val wrong = error.isEmpty && !expected.get(q).contains(rows)
      if (wrong)
        System.err.println(s"[perfbench] $q returned $rows rows, oracle ${expected.get(q)}")
      Call(pass, q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, stolen(j0, j2), error.isEmpty && !wrong,
        wrong, stats)
    }

    def pass(p: Int): (Seq[Call], Map[String, Double]) = {
      val passSpan = tracer.map(t => t.span(root, "pass", s"pass $p", t.nowUs)).getOrElse(-1)
      val (j0, w0, c0, g0) = (jiffies, System.nanoTime(), os.getProcessCpuTime, gcSeconds)
      val calls = names.map(q => call(p, passSpan, q))
      val (j1, w1, c1, g1) = (jiffies, System.nanoTime(), os.getProcessCpuTime, gcSeconds)
      tracer.foreach(t => t.close(passSpan, t.nowUs))
      (calls, Map("wall_s" -> (w1 - w0) / 1e9, "cpu_s" -> (c1 - c0) / 1e9,
        "jvm.gc_s" -> (g1 - g0), "steal" -> stolen(j0, j1)))
    }

    // Warm-up: the first pass pays class loading and code generation, and
    // the JIT compiler threads keep burning CPU and shortening passes after
    // it. The caller picks the pass count per workload.
    val warm = (1 to a("warmup").toInt).flatMap(p => pass(-p)._1)
    val setupS = (System.currentTimeMillis() * 1000000L - launchNs) / 1e9
    val launchJiffies = a("launch-jiffies").split(",").map(_.toLong)
    val setupSteal = stolen((launchJiffies(0), launchJiffies(1)), jiffies)
    val out = mutable.LinkedHashMap[String, String](
      "setup_s" -> Json.num(setupS),
      "setup_steal" -> Json.num(setupSteal),
      "session_s" -> Json.num(sessionS),
      "warmup_s" -> Json.arr(warm.map(c => Json.num(c.buildS + c.evalS))),
      "cores" -> cores.toString,
      "warmup_failed" -> warm.count(!_.ok).toString)

    val seconds = a("seconds").toDouble
    val start = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[(Seq[Call], Map[String, Double])]
    while ((System.nanoTime() - start) / 1e9 < seconds) passes += pass(passes.size + 1)
    val calls = passes.flatMap(_._1)
    out("calls") = Json.arr(calls.map { c =>
      Json.obj(Seq("pass" -> c.pass.toString, "query" -> Json.str(c.query),
        "build_s" -> Json.num(c.buildS), "eval_s" -> Json.num(c.evalS),
        "steal" -> Json.num(c.steal),
        "ok" -> c.ok.toString, "wrong" -> c.wrong.toString))
    })
    out("passes") = Json.arr(passes.map { case (cs, m) =>
      val layers = tracer.map(_ => layerMetrics(cs, m)).getOrElse(Map.empty)
      Json.obj((m ++ layers).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) } :+
        ("ok" -> cs.forall(_.ok).toString))
    })
    // The value check runs after the measured passes, outside every metric.
    val checkDir = a("checkdir")
    val checkFailed = names.filterNot { q =>
      try {
        SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$q")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $q failed in the value check: $e"); false }
    }
    out("check_failed") = Json.arr(checkFailed.map(Json.str))
    tracer.foreach { t =>
      t.close(root, t.nowUs)
      t.writeSpans(a("spans"))
    }
    write(a("out"), Json.obj(out))
    spark.stop()
  }

  /** Per-pass layer metrics: sums over the pass's calls, except the
    * storage peak (max), the persisted RDDs left after the pass's last
    * call, and the skew ratio (sum of per-stage max task time over sum of
    * per-stage mean task time).
    */
  private def layerMetrics(calls: Seq[Call], pass: Map[String, Double]): Map[String, Double] = {
    val stats = calls.flatMap(_.stats)
    def sum(k: String): Double = stats.map(_.m(k)).sum
    val summed = Seq("entry.eager_jobs", "entry.eager_job_s", "plans.sql_executions",
      "plans.analysis_s", "plans.optimization_s", "plans.planning_s", "plans.exchanges",
      "plans.reused_exchanges", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
      "exec.task_cpu_s", "exec.task_fixed_s", "exec.gc_s", "exec.single_task_stage_s",
      "exec.driver_gap_s", "scan.input_mb", "scan.input_rows", "scan.tasks",
      "shuffle.write_mb", "shuffle.read_mb", "shuffle.records_read", "shuffle.write_s",
      "shuffle.fetch_wait_s", "spill.mb", "op.codegen_s", "stream.batches",
      "stream.trigger_s", "stream.add_batch_s", "stream.commit_s", "stream.state_rows")
      .map(k => k -> sum(k)).toMap
    val meanTask = sum("skew.mean_s")
    summed ++ Map(
      "entry.build_s" -> calls.map(_.buildS).sum,
      "cachescope.eval_s" -> calls.map(_.evalS).sum,
      "cachescope.rdds_left" -> stats.lastOption.map(_.m("cachescope.rdds_left")).getOrElse(0.0),
      "storage.cached_mb_peak" -> stats.map(_.m("storage.cached_mb_peak")).foldLeft(0.0)(math.max),
      "exec.stage_skew" -> (if (meanTask > 0) sum("skew.max_s") / meanTask else 1.0),
      "jvm.gc_s" -> pass("jvm.gc_s"))
  }
}
