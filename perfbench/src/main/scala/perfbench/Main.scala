package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <genesis_refresh|query_keys> --seed <n>
  *      --seconds <s> --trace <0|1> [--plant throw|corrupt]
  * Main --record-golden 1        # golden digests of the query keys
  * }}}
  *
  * Prints one `name value unit` line per metric, then the result as one
  * JSON line. Writes a run record (environment, every op, failures) to
  * `.bench_build/records/` and, for traced runs, the spans to
  * `.bench_build/traces/`.
  */
object Main {
  val work = new File(".bench_build/work")
  val goldenFile = new File("perfbench/golden.tsv")

  /** Input sizes, chosen so a run takes about a minute on 4 cores; see
    * the README for how cube count and cells were traded off.
    */
  val cubes = 8
  val cells = 20000
  /** Lookups per refresh cycle: 60 over the two measured cycles. */
  val lookups = 30
  val tableScale = 1.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val loadBefore = loadavg()
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors())
    try {
      if (opts.contains("record-golden")) recordGolden(spark)
      else run(spark, opts, loadBefore)
    } finally spark.stop()
  }

  def run(spark: SparkSession, opts: Map[String, String], loadBefore: Double): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val plant = opts.get("plant")
    val sessionReady = System.currentTimeMillis()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val golden = readGolden()

    val w: Workload = workload match {
      case "genesis_refresh" => new GenesisRefresh(spark, new File(work, workload),
        seed, cubes, cells, lookups, plant.contains("corrupt"))
      case "query_keys" => new KeyWorkload(spark, new File(work, s"$workload/tables"),
        seed, Keys.query, golden, plant.contains("throw"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up: session start, input generation, then the warm-up.
    val tg = System.nanoTime()
    w.generate()
    val r = new Runner(spark)
    val tw = System.nanoTime()
    w.warmUp(r)
    val setup = Map("session_s" -> (sessionReady - jvmStart) / 1000.0,
      "generate_s" -> (tw - tg) / 1e9, "warmup_s" -> (System.nanoTime() - tw) / 1e9)
    val setupS = setup.values.sum

    def window(minCycles: Int): Seq[Int] = {
      val t0 = System.nanoTime()
      val first = r.cycle + 1
      while ((System.nanoTime() - t0) / 1e9 < seconds || r.cycle - first + 1 < minCycles) {
        r.cycle += 1; w.cycle(r)
      }
      first to r.cycle
    }
    def cycleWall(c: Int) = r.ops.filter(_.cycle == c).map(_.wallS).sum
    val gaugeBefore = cpuGauge()
    // A traced run brackets its traced window with two untraced ones of
    // one cycle each, so the overhead estimate is not skewed by the JVM
    // still warming up.
    val plain = window(if (traced) 1 else w.minCycles)
    var trace: Option[Trace] = None
    val gc0 = gcSeconds()
    val timed = if (!traced) plain else {
      val t = new Trace(spark); t.start(); trace = Some(t)
      val cs = window(w.minCycles)
      t.stop()
      cs
    }
    val gcS = gcSeconds() - gc0
    val plainAfter = if (traced) window(1) else Nil
    w.finish(r)
    val gaugeAfter = cpuGauge()
    val heapMb = retainedHeapMb()
    val loadAfter = loadavg()

    val measured = r.ops.filter(o => timed.contains(o.cycle)).toSeq
    // Latency covers the ops that succeeded; failures count in `failed`.
    val requests = measured.filter(o => o.kind == w.requestKind && o.error.isEmpty)
      .map(_.wallS)
    val throughputs = timed.map(c => w.throughput(measured.filter(_.cycle == c)))
    val tailP = w.tailPercentile
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", Stats.median(requests), "s"),
      ("op_tail_s", Stats.pct(requests, tailP), "s"),
      ("op_mean_s", requests.sum / requests.size, "s"),
      ("throughput_per_s", Stats.median(throughputs), "1/s"),
      ("retained_heap_mb", heapMb, "MB"))

    val (metrics, spans, outside) = trace match {
      case None => (endToEnd, Nil, Nil)
      case Some(t) =>
        val overhead = Stats.median(timed.map(cycleWall)) /
          Stats.median((plain ++ plainAfter).map(cycleWall)) - 1
        val lm = LayerMetrics(t, w, measured, timed.size, gcS, overhead)
        (lm.metrics, t.spans(workload, lm.layers), lm.outside)
    }

    val failures = r.ops.filter(_.error.nonEmpty)
    val env = Map[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
      "cpu_gauge_before_s" -> gaugeBefore, "cpu_gauge_after_s" -> gaugeAfter,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "source_rev" -> System.getProperty("perfbench.source_rev", "unknown"))
    val record = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "env" -> env, "setup" -> setup, "cycles" -> timed.size, "requests" -> requests.size,
      "tail_percentile" -> tailP,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "failures" -> failures.map(o => Map("op" -> o.name, "cycle" -> o.cycle,
        "cause" -> o.error.get)),
      "layer_sum_outside" -> outside,
      "ops" -> r.ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
        "module" -> o.module, "cycle" -> o.cycle, "wall_s" -> o.wallS,
        "build_s" -> o.buildS, "error" -> o.error.getOrElse(""))))
    val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    write(new File(s".bench_build/records/$tag.json"), Json(record))
    if (traced) write(new File(s".bench_build/traces/$tag.json"), Json(spans))

    failures.foreach(o => println(s"FAILED ${o.name} (cycle ${o.cycle}): ${o.error.get}"))
    println(s"env ${Json(env)}")
    println(s"setup ${Json(setup)}")
    println(s"${measured.size} ops in ${timed.size} cycles, ${requests.size} ${w.requestKind} ops")
    metrics.foreach { case (n, v, u) => println(f"$n%-40s $v%.6g $u") }
    println(Json(Map(
      "correct" -> failures.isEmpty,
      "attempted" -> r.ops.size,
      "failed" -> failures.size,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)))
  }

  def readGolden(): Map[String, String] =
    if (!goldenFile.exists()) Map.empty
    else Files.readAllLines(goldenFile.toPath).asScala.map(_.split("\t"))
      .collect { case Array(k, d) => k -> d }.toMap

  /** Records the digest of every query key on fresh tables. */
  def recordGolden(spark: SparkSession): Unit = {
    val dir = new File(work, "golden/tables")
    deleteTree(dir); dir.mkdirs()
    Tables.write(spark, dir.getAbsolutePath, Keys.dataSeed, tableScale)
    val lines = Keys.query.sorted.map { k =>
      val d = Keys.runWithDigest(graft.SparkEntry.queries(k)(spark, dir.getAbsolutePath))
      graft.Pins.clearAll()
      s"$k\t$d"
    }
    write(goldenFile, lines.mkString("", "\n", "\n"))
    println(s"recorded ${lines.size} digests in $goldenFile")
  }

  def loadavg(): Double =
    new String(Files.readAllBytes(new File("/proc/loadavg").toPath))
      .split(" ").head.toDouble

  /** Seconds one thread takes to hash 64 MB with SHA-256, the best of
    * three: how much CPU the machine gives the run, whatever the load
    * average inside it says.
    */
  private def cpuGauge(): Double = {
    val buf = new Array[Byte](1 << 26)
    (1 to 3).map { _ =>
      val t = System.nanoTime()
      java.security.MessageDigest.getInstance("SHA-256").digest(buf)
      (System.nanoTime() - t) / 1e9
    }.min
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0

  /** Smallest used heap over three forced collections: Spark's context
    * cleaner frees shuffle and broadcast state only after a GC finds
    * their handles unreachable, so one collection can read high.
    */
  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(300)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }

  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** Percentile by linear interpolation between the closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val x = p * (s.size - 1); val i = x.toInt
      s(i) + (s(math.min(i + 1, s.size - 1)) - s(i)) * (x - i)
    }
  }
}

/** Minimal JSON rendering of maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case null => "null"
    case other => str(other.toString)
  }
  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }.mkString("\"", "", "\"")
}
