package graft

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

/** Gate over the [[Bench]] run records in the working directory:
  *
  *   - coverage: the newest record's keys equal `SparkEntry.queries`
  *     (no missing, stale or errored key);
  *   - budget: no median in the newest record over [[budgetSec]];
  *   - drift: no key whose two newest medians both sit more than
  *     [[driftSlackSec]] above its minimum over the older records. One
  *     high reading is ambient load, two in a row is a regression. Only
  *     records from the newest record's environment (nproc, local cores,
  *     max heap, sf dir) count, so a sweep on another box neither sets
  *     nor trips the baseline.
  *
  * Run it after the closing `runMain graft.Bench`; it starts no Spark
  * session.
  */
object LintBench {

  val budgetSec = 2.0

  val driftSlackSec = 0.3

  private val envFields = Seq("nproc", "cores", "max_heap_mb", "sf")

  def records(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten
      .filter(_.getName.matches(Bench.recordPattern)).sortBy(_.getName)

  /** Key → median seconds (-1 for an errored key). */
  private def medians(rec: JsonNode): Map[String, Double] =
    rec.path("queries").properties.asScala
      .map(e => e.getKey -> e.getValue.path("median").asDouble(-1)).toMap

  /** All failure messages for `files` (records, any order) against the
    * `declared` key set; empty = clean.
    */
  def lint(files: Seq[java.io.File], declared: Set[String]): Seq[String] = {
    if (files.isEmpty) return Seq("no BENCH_FRESH_<utc>.json record found")
    val recs = files.sortBy(_.getName).map(f => f.getName -> Bench.json.readTree(f))
    val (newestName, newest) = recs.last
    def env(r: JsonNode) = envFields.map(r.path("env").path(_).asText)
    val history = recs.filter(r => env(r._2) == env(newest))
      .map { case (n, r) => n -> medians(r) }
    val swept = medians(newest)
    val missing = (declared -- swept.keySet).toSeq.sorted
    val errored = declared.toSeq.filter(k => swept.get(k).exists(_ < 0)).sorted
    val stale = (swept.keySet -- declared).toSeq.sorted
    val over = declared.toSeq.filter(k => swept.get(k).exists(_ > budgetSec)).sorted
    val drift = declared.toSeq.sorted.flatMap { k =>
      val hist = history.flatMap { case (n, m) => m.get(k).filter(_ >= 0).map(n -> _) }
      val base = hist.dropRight(2).map(_._2).minOption
      val last2 = hist.takeRight(2)
      base.filter(b => last2.forall(_._2 > b + driftSlackSec)).map(b =>
        f"$k: ${last2.map(t => f"${t._1}=${t._2}%.2f").mkString(",")} " +
          f"both > min $b%.2f + $driftSlackSec")
    }
    Seq(
      if (missing.nonEmpty) Seq(s"missing=${missing.mkString(",")}") else Nil,
      if (errored.nonEmpty) Seq(s"errored=${errored.mkString(",")}") else Nil,
      if (stale.nonEmpty) Seq(s"stale=${stale.mkString(",")}") else Nil,
      if (over.nonEmpty) Seq(s"over-budget(>${budgetSec}s)=" +
        over.map(k => f"$k=${swept(k)}%.2f").mkString(",")) else Nil,
      if (drift.nonEmpty) Seq(s"drift: ${drift.mkString("; ")}") else Nil
    ).flatten.map(m => s"[$newestName] $m")
  }

  def main(args: Array[String]): Unit = {
    val failures = lint(records(new java.io.File(".")), SparkEntry.queries.keySet)
    if (failures.nonEmpty) {
      failures.foreach(m => System.err.println(s"LINT_BENCH FAIL: $m"))
      sys.exit(1)
    }
    println(s"LINT_BENCH OK: newest record covers all " +
      s"${SparkEntry.queries.size} registered keys, none errored, " +
      s"none over ${budgetSec}s, no two-record drift")
  }
}
