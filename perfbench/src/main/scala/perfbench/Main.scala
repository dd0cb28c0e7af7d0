package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run in one JVM; `perfbench/run.py` builds the program,
  * starts this main and prints its result.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --bench <benchmark dir> --work <scratch dir> --result <file>
  *   Main --pin <workload> --bench <dir> --work <dir> --result <file>
  *
  * Untraced: the set-up (session start plus the first, untimed pass, in
  * a fresh JVM) is timed once, the workload's warm-up passes run untimed,
  * then timed passes run in a closed loop until `--seconds` have passed,
  * then the final output checks run. Traced: the same set-up and warm-up,
  * then untraced and traced passes alternate; the traced ones give the
  * per-layer figures and the spans.
  */
object Main {

  /** The end-to-end metrics, with their units, in print order. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s",
    "heap_after_gc_mb" -> "MiB")

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, bench: String, work: String,
                        result: String, pin: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val pin = kv.contains("pin")
    Args(
      workload = if (pin) kv("pin") else need("workload"),
      seed = kv.get("seed").map(_.toLong).getOrElse(0L),
      seconds = kv.get("seconds").map(_.toDouble).getOrElse(0.0),
      trace = kv.get("trace").contains("1"),
      bench = need("bench"), work = need("work"), result = need("result"), pin = pin)
  }

  def startSession(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A check that throws counts as one failed check. */
  private def guarded(checks: Checks, what: String)(body: => Unit): Unit =
    try body
    catch { case e: Exception =>
      System.err.println(s"[perfbench] $what threw: $e")
      checks(what, ok = false, e.toString.take(300))
    }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Driver heap in use after a full collection, MiB. Spark's context
    * cleaner frees broadcast and shuffle blocks only after a collection
    * has released their owners, so it gets time to run in between.
    */
  def heapAfterGcMb(): Double = {
    for (_ <- 1 to 3) {
      System.gc()
      Thread.sleep(300)
    }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      Workloads.MiB
  }

  def main(argv: Array[String]): Unit = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(a.work))
    val json =
      if (a.pin) pinRun(a, cores)
      else if (a.trace) tracedRun(a, cores)
      else untracedRun(a, cores)
    Files.write(Paths.get(a.result), json.getBytes(StandardCharsets.UTF_8))
  }

  private def pinRun(a: Args, cores: Int): String = {
    val sweep = new Sweep(a.workload, 0L, a.bench, pin = true)
    val spark = startSession(cores, a.work)
    try {
      val fps = sweep.fingerprints(spark, new Checks, "pinned")
      fps.toSeq.sorted.map { case (q, fp) => s"$q\t$fp" }.mkString("", "\n", "\n")
    } finally spark.stop()
  }

  /** Counts of all operations, checks included. */
  private final class Tally {
    var attempted = 0
    var failed = 0
    def add(p: Pass): Unit = { attempted += p.attempted; failed += p.failed }
  }

  private def untracedRun(a: Args, cores: Int): String = {
    val tInputs = System.nanoTime()
    val wl = Workloads.make(a.workload, a.seed, a.work, a.bench)
    val inputsS = secondsSince(tInputs)
    val checks = new Checks
    val t0Setup = System.nanoTime()
    val spark = startSession(cores, a.work)
    val sessionS = secondsSince(t0Setup)
    guarded(checks, "setup pass")(wl.setup(spark, checks))
    val setupS = secondsSince(t0Setup)
    val tally = new Tally
    for (_ <- 1 to wl.warmupPasses) tally.add(wl.pass(spark, None, checks))
    val passes = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    val t0 = System.nanoTime()
    while (passes.isEmpty || secondsSince(t0) < a.seconds) {
      val p = wl.pass(spark, None, checks)
      tally.add(p)
      passes += p.wallS
      ops ++= p.ops
    }
    val window = secondsSince(t0)
    guarded(checks, "final checks")(wl.finalChecks(spark, checks))
    val heap = heapAfterGcMb()
    spark.stop()
    // a pipeline that failed before its first stage ended reports no
    // operation; its failure is already counted
    if (ops.isEmpty) ops ++= passes.map("pass" -> _)
    val latencies = ops.toSeq.map(_._2)
    val tail = Stats.tail(latencies)
    val values = Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(passes.toSeq),
      "heap_after_gc_mb" -> heap)
    val metrics = EndToEnd.map { case (n, u) => (n, values(n), u) }
    val info = Map(
      "inputs_s" -> Json.num(inputsS),
      "session_start_s" -> Json.num(sessionS),
      "passes_s" -> Json.arr(passes.toSeq.map(Json.num)),
      "window_s" -> Json.num(window),
      "op_samples" -> Json.num(ops.size.toDouble),
      "op_p50_s" -> Json.num(Stats.medianOfKinds(ops.toSeq)),
      "op_tail_s" -> Json.num(tail.map(_.value).getOrElse(latencies.max)),
      "op_tail_percentile" -> Json.num(tail.map(_.percentile).getOrElse(100.0)))
    result(a, cores, tally, checks, metrics, info)
  }

  private def tracedRun(a: Args, cores: Int): String = {
    val wl = Workloads.make(a.workload, a.seed, a.work, a.bench)
    val checks = new Checks
    val spark = startSession(cores, a.work)
    guarded(checks, "setup pass")(wl.setup(spark, checks))
    val trace = new Trace(spark)
    val tally = new Tally
    for (_ <- 1 to wl.warmupPasses) tally.add(wl.pass(spark, None, checks))
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val treeJson = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    def plainPass(): Unit = {
      val p = wl.pass(spark, None, checks)
      tally.add(p)
      plain += p.wallS
    }
    def tracedPass(): Unit = {
      trace.attach()
      trace.drain()
      val before = trace.snapshot()
      trace.resetPeak()
      val p = wl.pass(spark, Some(trace), checks)
      trace.detach()
      tally.add(p)
      tracedWalls += p.wallS
      val after = trace.snapshot()
      val delta = (after.keySet ++ before.keySet).map { k =>
        k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)) }.toMap +
        ("storage.peak_bytes" -> after.getOrElse("storage.peak_bytes", 0.0))
      val tree = trace.tree(p.spanId)
      traced += Layers.of(tree, p.spanId, delta, cores) ++ p.layer
      treeJson += Layers.treeJson(tree, traced.size)
    }
    // rounds alternate which pass goes first, so leftover warm-up drift
    // does not bias the overhead ratio one way
    var round = 0
    while (round < 1 || secondsSince(t0) < a.seconds) {
      if (round % 2 == 0) { plainPass(); tracedPass() }
      else { tracedPass(); plainPass() }
      round += 1
    }
    guarded(checks, "final checks")(wl.finalChecks(spark, checks))
    spark.stop()
    val spansDir = Paths.get(a.work, "trace")
    Files.createDirectories(spansDir)
    val spansFile = spansDir.resolve(s"${a.workload}_seed${a.seed}.spans.json")
    Files.write(spansFile, treeJson.mkString("[", ",\n", "]\n").getBytes(StandardCharsets.UTF_8))
    val overhead = Stats.median(tracedWalls.toSeq) / Stats.median(plain.toSeq)
    traced.map(_("trace.self_sum_ratio")).filter(r => math.abs(r - 1) > Layers.SelfSumTolerance)
      .foreach(r => checks.notes += f"trace: layer self times add up to $r%.4f of a traced " +
        f"pass, outside the stated tolerance ${Layers.SelfSumTolerance}%.2f")
    val metrics = Layers.Names.map { case (n, u) =>
      val v =
        if (n == "trace.overhead") overhead
        else Stats.median(traced.toSeq.map(_.getOrElse(n, 0.0)))
      (n, v, u)
    }
    val info = Map(
      "spans_file" -> Json.str(spansFile.toString),
      "traced_passes_s" -> Json.arr(tracedWalls.toSeq.map(Json.num)),
      "untraced_passes_s" -> Json.arr(plain.toSeq.map(Json.num)),
      "self_sum_tolerance" -> Json.num(Layers.SelfSumTolerance))
    result(a, cores, tally, checks, metrics, info)
  }

  private def result(a: Args, cores: Int, tally: Tally, checks: Checks,
                     metrics: Seq[(String, Double, String)],
                     info: Map[String, String]): String = {
    val attempted = tally.attempted + checks.attempted
    val failed = tally.failed + checks.failures.size
    val ms = metrics.map { case (n, v, u) =>
      Json.str(n) + ":" + Json.obj(Map("value" -> Json.num(v), "unit" -> Json.str(u)))
    }.mkString("{", ",", "}")
    Json.obj(Map(
      "workload" -> Json.str(a.workload),
      "seed" -> Json.num(a.seed.toDouble),
      "trace" -> (if (a.trace) "true" else "false"),
      "cores" -> Json.num(cores.toDouble),
      "attempted" -> Json.num(attempted.toDouble),
      "failed" -> Json.num(failed.toDouble),
      "failures" -> Json.arr(checks.failures.toSeq.map(Json.str)),
      "notes" -> Json.arr(checks.notes.toSeq.map(Json.str)),
      "metrics" -> ms,
      "info" -> Json.obj(info)))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
