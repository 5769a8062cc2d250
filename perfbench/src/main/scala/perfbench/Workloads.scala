package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.plans.CubePipeline
import graft.sources.Sinks

/** Runs timed ops and keeps their records. An op is a build step that
  * returns what the action consumes, then the action; both are timed.
  * A throwing op is recorded with its exception class and first message
  * line, never swallowed.
  */
final class Runner(spark: SparkSession) {
  val ops = mutable.ArrayBuffer.empty[Op]
  var cycle = 0

  def op[A, T](kind: String, name: String, module: String)(build: => A)(
      act: A => T): Option[T] = {
    val storage = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0
    val t0 = System.nanoTime(); val s0 = System.currentTimeMillis()
    var b0 = s0; var bNs = t0
    val res =
      try {
        val a = build
        b0 = System.currentTimeMillis(); bNs = System.nanoTime()
        Right(act(a))
      } catch { case e: Throwable => Left(Runner.cause(e)) }
    val t1 = System.nanoTime(); val s1 = System.currentTimeMillis()
    if (res.isLeft && bNs == t0) { b0 = s1; bNs = t1 }
    ops += Op(kind, name, module, cycle, s0, b0, s1, (t1 - t0) / 1e9,
      (bNs - t0) / 1e9, res.left.toOption, storage)
    res.toOption
  }

  /** Marks the most recent op named `name` failed by a check. */
  def fail(name: String, cause: String): Unit = {
    val i = ops.lastIndexWhere(_.name == name)
    if (i >= 0 && ops(i).error.isEmpty) ops(i) = ops(i).copy(error = Some(s"check: $cause"))
  }
}

object Runner {
  def cause(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator
      .find(_.nonEmpty).getOrElse("").take(300)}"
}

/** A workload: inputs made from the seed, a warm-up, and a cycle of ops
  * that the measured windows repeat. Cycle 0 is the warm-up.
  */
trait Workload {
  /** Kind of the ops the latency metrics summarize. */
  def requestKind: String
  /** Fewest measured cycles per window. */
  def minCycles: Int
  /** Percentile `op_tail_s` reports, fixed so that a window with more
    * cycles or fewer successful ops reports the same percentile.
    */
  def tailPercentile: Double
  def generate(): Unit
  def warmUp(r: Runner): Unit
  def cycle(r: Runner): Unit
  /** Checks what the last cycle left behind; runs once, after the last
    * window, so that it is neither timed nor repeated.
    */
  def finish(r: Runner): Unit
  /** Items per second over one cycle's ops (see README). */
  def throughput(cycleOps: Seq[Op]): Double
}

/** The GENESIS refresh: parse both catalog revisions, merge the latest
  * revision, build fact documents and write them by cube, write the
  * cells partitioned by cube, ingest revision 1 through the
  * `genesis-cube` source, then run point lookups on the written store.
  */
final class GenesisRefresh(spark: SparkSession, work: File, seed: Long,
    cubes: Int, cells: Int, lookups: Int, dropRecord: Boolean)
    extends Workload {
  val requestKind = "lookup"
  /** Two refresh samples per window for `throughput_per_s`. */
  val minCycles = 2
  val tailPercentile = 0.9
  var gen: Catalog.Generated = _
  private def out(s: String) = new File(work, s).getAbsolutePath
  var bytesWritten = 0L
  var filesWritten = 0L

  def generate(): Unit = {
    val dir = new File(work, "catalog")
    Main.deleteTree(dir)
    gen = Catalog.generate(dir, seed, cubes, cells, lookups, dropRecord)
  }

  /** One cycle with 10 lookups (every lookup shares one plan shape).
    * After 5 lookups, the first measured cycle's lookups still ran about
    * 25% slower than the second's.
    */
  def warmUp(r: Runner): Unit = cycle(r, gen.lookups.take(10))

  private def totalsByCube(df: DataFrame): Map[String, Catalog.Totals] =
    df.groupBy("cube")
      .agg(count(lit(1)), count(col("value")),
        coalesce(sum(col("value").cast("decimal(38,6)")), lit(0).cast("decimal(38,6)")))
      .collect().map(row => row.getString(0) ->
        Catalog.Totals(row.getLong(1), row.getLong(2), BigDecimal(row.getDecimal(3))))
      .toMap

  private def docsPath = out("store/docs")
  private def cellsPath = out("store/cells")

  def cycle(r: Runner): Unit = cycle(r, gen.lookups)

  /** Every cycle overwrites the store; its lookups are checked as they
    * run, and the store the last cycle wrote is checked by `finish`.
    */
  private def cycle(r: Runner, lookups: Seq[Catalog.Lookup]): Unit = {
    var merged: DataFrame = null
    r.op("stage", "refresh_docs", "plans") {
      merged = CubePipeline.latestRevision(Seq(
        CubePipeline.parseAll(spark, gen.rev1) -> 1,
        CubePipeline.parseAll(spark, gen.rev2) -> 2))
      CubePipeline.facts(merged)
    }(facts => Sinks.writeJsonDocs(facts, docsPath, Seq("cube")))
    if (merged != null)
      r.op("stage", "refresh_cells", "sources")(merged)(m =>
        Sinks.writePartitioned(m, cellsPath, Seq("cube")))
    r.op("stage", "cube_scan", "sources")(
      spark.read.format("genesis-cube").load(gen.rev1.map(_._1): _*))(
      _.write.format("noop").mode("overwrite").save())
    val store = r.op("stage", "open_store", "sources")(
      spark.read.parquet(cellsPath))(identity)
    lookups.zipWithIndex.foreach { case (lk, i) =>
      val lname = s"lookup_$i"
      store.foreach { st =>
        r.op("lookup", lname, "plans")(CubePipeline.query(st, region = Some(lk.region),
            timeFrom = Some(lk.from), timeTo = Some(lk.to)))(_.collect()).foreach { rows =>
          val sum = rows.flatMap(row => Option(row.getAs[java.math.BigDecimal]("value")))
            .map(BigDecimal(_)).sum
          if (rows.length != lk.rows || (sum - lk.sum).abs > lk.sum.abs * 1e-9)
            r.fail(lname, s"lookup ${lk.region} ${lk.from}-${lk.to}: " +
              s"${rows.length} rows sum $sum, expected ${lk.rows} rows sum ${lk.sum}")
        }
      }
    }
  }

  /** Checks the documents and cells of the store, and a fresh
    * `genesis-cube` ingest, against the generator's totals.
    */
  def finish(r: Runner): Unit = {
    def guarded(op: String)(body: => Seq[String]): Unit =
      try body.headOption.foreach(r.fail(op, _))
      catch { case e: Throwable => r.fail(op, Runner.cause(e)) }
    guarded("refresh_docs") {
      val n = spark.read.text(docsPath).count()
      if (n != gen.docs) Seq(s"$n docs written, expected ${gen.docs}") else Nil
    }
    guarded("refresh_cells")(Catalog.diff("stored cells",
      totalsByCube(spark.read.parquet(cellsPath)), gen.mergedTotals))
    guarded("cube_scan")(Catalog.diff("genesis-cube rev1",
      totalsByCube(spark.read.format("genesis-cube").load(gen.rev1.map(_._1): _*)),
      gen.rev1Totals))
    val files = Seq(docsPath, cellsPath).flatMap(p => Main.files(new File(p)))
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    bytesWritten = files.map(_.length()).sum
    filesWritten = files.size
  }

  def throughput(cycleOps: Seq[Op]): Double =
    gen.cells / cycleOps.filter(_.kind == "stage").map(_.wallS).sum
}

/** Query keys of the engine through the noop sink, in a seeded order.
  * The two warm-up cycles check each key's output against its golden
  * digest; the measured cycles time the plain noop write.
  */
final class KeyWorkload(spark: SparkSession, dataDir: File, seed: Long,
    keys: Seq[String], golden: Map[String, String], plantThrow: Boolean)
    extends Workload {
  val requestKind = "query"
  /** Two samples of every key per window. */
  val minCycles = 2
  /** p60 leaves ten of the 26 samples of a window above it; a p90 of 26
    * samples rests on the two or three slowest and varied twice as much.
    */
  val tailPercentile = 0.6
  private val queries = SparkEntry.queries
  private val plantedKey = "planted_throw"
  private val all = if (plantThrow) keys :+ plantedKey else keys

  def generate(): Unit = {
    Main.deleteTree(dataDir)
    dataDir.mkdirs()
    Tables.write(spark, dataDir.getAbsolutePath, Keys.dataSeed, Main.tableScale)
  }

  private def build(key: String): DataFrame =
    if (key == plantedKey) throw new IllegalStateException("planted failure")
    else queries(key)(spark, dataDir.getAbsolutePath)

  /** Two cycles: after one, the JIT is still compiling the keys' hot
    * paths and the next cycle's wall varies about twice as much.
    */
  def warmUp(r: Runner): Unit = { cycle(r, checks = true); cycle(r, checks = true) }

  def cycle(r: Runner): Unit = cycle(r, checks = false)

  def finish(r: Runner): Unit = ()

  /** Runs every key through the noop sink. With `checks`, the output
    * digest is collected on the same execution and compared with the
    * golden one; that work is left out of the measured cycles.
    */
  private def cycle(r: Runner, checks: Boolean): Unit = {
    new scala.util.Random(seed * 7919 + r.cycle).shuffle(all).foreach { key =>
      val module = Keys.moduleOf(key)
      if (!checks) r.op(requestKind, key, module)(build(key))(Keys.runNoop)
      else r.op(requestKind, key, module)(build(key))(Keys.runWithDigest).foreach { d =>
        if (!golden.get(key).contains(d))
          r.fail(key, s"digest $d, golden ${golden.getOrElse(key, "missing")}")
      }
      graft.Pins.clearAll()
    }
  }

  def throughput(cycleOps: Seq[Op]): Double = {
    val ops = cycleOps.filter(_.kind == requestKind)
    ops.size / ops.map(_.wallS).sum
  }
}
