package graft.perfbench

import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The benchmark's JVM: one Spark session, one client, one workload.
  *
  * {{{
  * Bench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --work <dir> --out <file> [--trace-dir <dir>] [--tiny 1] [--plant-wrong 1]
  * }}}
  *
  * Set-up runs several times and its median is `setup_s`; the first pass
  * also warms the JIT, and a fixed number of untimed cycles warms the
  * loop's calls. The closed loop then runs whole cycles until `--seconds`
  * have passed. Every cycle starts on a collected heap, so garbage one
  * cycle leaves does not bill the next. The result goes to `--out` as
  * JSON; `perfbench/run.py` prints it.
  */
object Bench {
  val SetupPasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val work = need("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the status store need not keep every call of a run on the heap
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result = try {
      val env = Env(spark, seed, work, cores, opt.get("tiny").contains("1"),
        opt.get("plant-wrong").contains("1"), trace)
      run(Workload(workload, env), seconds, opt.get("trace-dir"))
    } finally spark.stop()
    Files.write(Paths.get(need("out")), result.getBytes(UTF_8))
  }

  private def now: Double = System.nanoTime() / 1e9

  private def run(w: Workload, seconds: Int, traceDir: Option[String]): String = {
    val startedAt = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val env = w.env
    val tracer = if (env.trace) Some(new Tracer(env.spark, s"${w.name}-${env.seed}")) else None
    val ledger = new Ledger(tracer)

    // the first pass also warms the JIT and Spark's generated code
    val setupSecs = (1 to SetupPasses).map { p =>
      val t0 = now
      w.setup(p)
      val s = now - t0
      w.cleanup(p - 1)
      s
    }
    val checks0 = now
    w.prepareChecks()
    val warm0 = now
    val warm = if (env.tiny) 1 else w.warmupCycles
    for (i <- 0 until warm) { System.gc(); w.cycle(i, ledger) } // checked but not timed
    System.err.println(f"perfbench: JVM up ${startedAt}%.2f s at start, set-up passes " +
      f"${setupSecs.map(s => f"$s%.2f").mkString(" ")} s, checks ${warm0 - checks0}%.2f s, " +
      f"$warm warm-up cycles ${now - warm0}%.2f s")

    ledger.recording = true
    val cycles = scala.collection.mutable.ArrayBuffer[(Boolean, Double)]()
    val deadline = now + seconds
    var i = warm
    while (cycles.isEmpty || now < deadline || (env.trace && cycles.size < 2)) {
      ledger.tracing = env.trace && (i - warm) % 2 == 0
      System.gc()
      val t0 = now
      if (ledger.tracing) tracer.get.cycle(s"cycle-$i")(w.cycle(i, ledger)) else w.cycle(i, ledger)
      cycles += ((ledger.tracing, now - t0))
      i += 1
    }

    System.err.println(s"perfbench: ${cycles.size} cycles: ${cycles.map(c => f"${c._2}%.2f").mkString(" ")} s; " +
      ledger.kinds.map(k => s"$k ${ledger.secs(k).map(x => f"$x%.3f").mkString(" ")}").mkString("; "))
    val named = Named("setup_s", Stats.median(setupSecs), "s", "lower", setupSecs.size) +:
      w.named(ledger) :+
      Named("failed_op_frac", ledger.failed.toDouble / ledger.attempted, "1", "lower", ledger.attempted)
    // units and directions live in BENCHMARK.json
    val metrics: Seq[(String, Double)] =
      if (!env.trace) Seq(
        "setup_s" -> Stats.median(setupSecs),
        "bulk_per_s" -> Stats.median(ledger.rates(w.bulkKind)),
        "point_p50_ms" -> Stats.median(ledger.secs(w.pointKind)) * 1e3,
        "cycle_s" -> Stats.median(cycles.map(_._2).toSeq),
        "bytes_per_item" -> w.bytesPerItem)
      else {
        ledger.tracing = true
        w.probe(ledger)
        val t = tracer.get
        val traces = t.finish()
        val layers = perLayer(w, t, traces, cycles.toSeq)
        traceDir.foreach(d => writeTrace(d, w, t, traces, layers))
        layers.toSeq.sorted
      }
    resultJson(ledger, metrics, named, cycles.size)
  }

  private def perLayer(w: Workload, t: Tracer, traces: Seq[CallTrace],
                       cycles: Seq[(Boolean, Double)]): Map[String, Double] = {
    val env = w.env
    def mean(f: CallTrace => Double) = if (traces.isEmpty) 0.0 else traces.map(f).sum / traces.size
    val wallMs = traces.map(_.wallMs).sum
    val withTasks = traces.filter(_.counters.tasks > 0)
    val planned = traces.filter(_.planningMs > 0)
    val traced = cycles.filter(_._1).map(_._2)
    val untraced = cycles.filterNot(_._1).map(_._2)
    val common = Map(
      "query.jobs" -> mean(_.counters.jobs),
      "query.stages" -> mean(_.counters.stages),
      "query.tasks" -> mean(_.counters.tasks),
      "query.task_ms" -> mean(_.counters.taskMs.toDouble),
      "query.gc_ms" -> mean(_.counters.gcMs.toDouble),
      "query.busy_frac" -> (if (wallMs == 0) 0.0
        else traces.map(_.counters.taskMs).sum / (wallMs * env.cores)),
      "query.shuffle_write_bytes" -> mean(_.counters.shuffleWriteBytes.toDouble),
      "query.spill_bytes" -> mean(_.counters.spillBytes.toDouble),
      "query.task_skew" -> (if (withTasks.isEmpty) 0.0 else Stats.median(withTasks.map(_.counters.skew))),
      "query.input_bytes" -> mean(_.counters.inputBytes.toDouble),
      "plans.planning_ms" -> (if (planned.isEmpty) 0.0 else planned.map(_.planningMs).sum / planned.size),
      "trace.overhead_frac" -> (if (traced.isEmpty || untraced.isEmpty) 0.0
        else Stats.median(traced) / Stats.median(untraced) - 1),
      "trace.spans" -> t.allSpans.size.toDouble)
    common ++ Kernels.measure(Inputs.rowOffset(env.seed), env.tiny) ++ w.layers(traces)
  }

  /** Spans as JSON lines, and the layer table: one row per call kind. */
  private def writeTrace(dir: String, w: Workload, t: Tracer, traces: Seq[CallTrace],
                         layers: Map[String, Double]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val spans = t.allSpans.map { s =>
      f"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${s.name}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    Files.write(Paths.get(dir, s"${w.name}-spans.jsonl"), spans.mkString("", "\n", "\n").getBytes(UTF_8))
    def med(xs: Seq[Double]) = Stats.median(xs)
    val rows = traces.groupBy(_.span.name).toSeq.sortBy(-_._2.map(_.wallMs).sum).map { case (kind, ts) =>
      val c = ts.map(_.counters)
      val wall = ts.map(_.wallMs).sum
      f"| `$kind` | ${ts.size} | ${med(ts.map(_.wallMs))}%.1f | ${med(ts.map(x => t.selfMs(x.span)))}%.1f | " +
        f"${c.map(_.jobs).sum.toDouble / ts.size}%.1f | ${c.map(_.tasks).sum.toDouble / ts.size}%.1f | " +
        f"${c.map(_.shuffleWriteBytes).sum / ts.size} | ${c.map(_.inputBytes).sum / ts.size} | " +
        f"${c.map(_.taskMs).sum / (wall * w.env.cores)}%.2f |"
    }
    val table =
      s"""Layer table, workload `${w.name}`, seed ${w.env.seed}, ${w.env.cores} cores.
         |Per call kind: median wall and self time (wall minus the time its Spark jobs cover),
         |and per-call means of jobs, tasks, shuffle-write and input bytes; busy_frac is task
         |time over wall time times cores.
         |
         || call | n | wall ms | self ms | jobs | tasks | shuffle write B | input B | busy_frac |
         ||---|---|---|---|---|---|---|---|---|
         |""".stripMargin + rows.mkString("", "\n", "\n\nPer-layer metrics:\n\n") +
        layers.toSeq.sorted.map { case (k, v) => f"- `$k` = $v%.4g" }.mkString("", "\n", "\n")
    Files.write(Paths.get(dir, s"${w.name}-layers.md"), table.getBytes(UTF_8))
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  private def resultJson(l: Ledger, metrics: Seq[(String, Double)], named: Seq[Named],
                         cycles: Int): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val m = metrics.map { case (k, v) => s"${q(k)}:${num(v)}" }
    val d = named.map { n =>
      val tail = n.tail.map { case (p, v) => s""","tail_pct":$p,"tail":${num(v)}""" }.getOrElse("")
      s"""${q(n.name)}:{"value":${num(n.value)},"unit":${q(n.unit)},"better":${q(n.better)},"n":${n.n}$tail}"""
    }
    s"""{"correct":${l.failed == 0},"attempted":${l.attempted},"failed":${l.failed},""" +
      s""""metrics":{${m.mkString(",")}},"detail":{${d.mkString(",")}},"cycles":$cycles,""" +
      s""""failures":[${l.failureNotes.map(q).mkString(",")}]}"""
  }
}
