package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Benchmark main: times every `SparkEntry.queries` key, or only the keys
  * named on the command line, at `SPARK_GRAFT_SF_DIR` (default sf0.1).
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.Bench [keys…]"
  *
  * Protocol ([[sweep]]): one untimed warm-up pass, so JVM, codegen and
  * session start-up do not land on whichever key runs first; then
  * [[passes]] round-robin timed passes over all keys, so a burst of
  * ambient load spreads over many keys instead of all runs of one key.
  * Each run writes the key's frame to the noop sink, which evaluates
  * every output column and keeps the terminal sort (`count()` lets the
  * optimizer prune both). A key reports the median of its runs with min
  * and max as the spread; a key that throws in any timed run reports -1
  * and its exception class and first message line, never time-to-throw.
  *
  * Output: the run record `BENCH_FRESH_<utc>.json` in the working
  * directory (per-key stats, errors, environment), then two stdout
  * lines: the per-key medians, and the summary last, so a log tail that
  * keeps only the end still holds it intact.
  */
object Bench {
  type Q = (SparkSession, String) => DataFrame

  val passes = 3

  /** Record file names; the UTC stamp makes name order run order. */
  val recordPattern = "BENCH_FRESH_\\d{8}T\\d{6}Z\\.json"

  private[graft] val json = new ObjectMapper()

  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").head.toDouble
    catch { case NonFatal(_) => -1.0 }

  private def ms(sec: Double): Double = math.rint(sec * 1000) / 1000

  /** Exception class and first message line; the message alone is null
    * for e.g. a NullPointerException. */
  def describe(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .fold(e.getClass.getName)(m => s"${e.getClass.getName}: $m")

  /** One key through the noop sink. Pins are cleared after every run so
    * no key pays for a pin an earlier key left live (see [[Pins.clearAll]]).
    */
  private def run(spark: SparkSession, sfDir: String, fn: Q): Either[String, Double] = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case NonFatal(e) => Left(describe(e)) }
    finally Pins.clearAll()
  }

  /** Runs the protocol over `keys` in the given order and returns the
    * run record: `env` (nproc, local cores, max heap, sf dir, loadavg
    * before and after), `queries` (key → median/min/max seconds, or
    * median -1 plus `error`) and `errors` (the failed keys).
    */
  def sweep(spark: SparkSession, sfDir: String, keys: Seq[(String, Q)]): ObjectNode = {
    val rec = json.createObjectNode()
    val env = rec.putObject("env")
      .put("nproc", Runtime.getRuntime.availableProcessors)
      .put("cores", spark.sparkContext.defaultParallelism)
      .put("max_heap_mb", Runtime.getRuntime.maxMemory >> 20)
      .put("sf", sfDir)
      .put("loadavg_before", loadavg())
    keys.foreach { case (_, fn) => run(spark, sfDir, fn) }
    val timed = Seq.fill(passes)(keys.map { case (_, fn) => run(spark, sfDir, fn) })
    env.put("loadavg_after", loadavg())
    val queries = rec.putObject("queries")
    val errors = rec.putArray("errors")
    keys.map(_._1).zip(timed.transpose).foreach { case (key, runs) =>
      val q = queries.putObject(key)
      runs.collectFirst { case Left(err) => err } match {
        case Some(err) =>
          q.put("median", -1.0).put("error", err)
          errors.add(key)
        case None =>
          val ts = runs.collect { case Right(t) => t }.sorted
          q.put("median", ms(ts(ts.size / 2))).put("min", ms(ts.head))
            .put("max", ms(ts.last))
      }
    }
    rec
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")
    val keys = SparkEntry.queries.toSeq
      .filter { case (k, _) => args.isEmpty || args.contains(k) }.sortBy(_._1)
    val spark = GraftSession.local()
    val rec = try sweep(spark, sfDir, keys) finally spark.stop()
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
      .format(java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC))
    json.writeValue(new java.io.File(s"BENCH_FRESH_$stamp.json"), rec)
    val medians = json.createObjectNode()
    rec.get("queries").properties.asScala
      .foreach(e => medians.set[JsonNode](e.getKey, e.getValue.get("median")))
    val line = json.createObjectNode().put("metric", "queries")
    line.set[JsonNode]("queries", medians)
    println(json.writeValueAsString(line.put("sf", sfDir)))
    val timed = medians.elements.asScala.map(_.asDouble).filter(_ >= 0).toSeq
    val env = rec.get("env")
    val summary = json.createObjectNode().put("metric", "total")
      .put("value", ms(timed.sum)).put("unit", "sec")
      .put("nqueries", keys.size).put("timed", timed.size)
    summary.set[JsonNode]("errors", rec.get("errors"))
    summary.set[JsonNode]("loadavg_before", env.get("loadavg_before"))
    summary.set[JsonNode]("loadavg_after", env.get("loadavg_after"))
    println(json.writeValueAsString(summary.put("sf", sfDir)))
  }
}
