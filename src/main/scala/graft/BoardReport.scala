package graft

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

/** Round board: joins the newest `CORRECTNESS_r*.json` with the newest
  * [[Bench]] run record over the declared key set, one markdown row per
  * key — `| key | correctness | median s | min–max s | flags |` — and a
  * summary line. Flags mark what needs a look: `over-budget` (median
  * over [[LintBench.budgetSec]]), `unswept` / `errored` (bench),
  * `unchecked` / `fail` (correctness). Plain file reads, no Spark session.
  */
object BoardReport {

  /** `CORRECTNESS_r*.json` (one object per key: hash/rows/schema match
    * booleans, null when no oracle, plus an `err` string) → key → status.
    */
  private def parseCorrectness(root: JsonNode): Map[String, String] =
    root.properties.asScala.map { e =>
      val v = e.getValue
      val err = v.path("err")
      val status =
        if (err.asText == "no_oracle") "no-oracle (spec-tested)"
        else if (!err.isMissingNode && !err.isNull) s"ERROR ${err.asText}"
        else if (Seq("rows_match", "schema_match", "hash_match")
            .forall(v.path(_).asBoolean(false))) "pass"
        else "FAIL"
      e.getKey -> status
    }.toMap

  def report(dir: java.io.File): String = {
    val declared = SparkEntry.queries.keySet
    val corrFile = Option(dir.listFiles).toSeq.flatten
      .filter(_.getName.matches("CORRECTNESS_r\\d+\\.json"))
      .sortBy(_.getName.filter(_.isDigit).toInt).lastOption
    val benchFile = LintBench.records(dir).lastOption
    val corr = corrFile.map(f => parseCorrectness(Bench.json.readTree(f))).getOrElse(Map.empty)
    val bench = benchFile.map(f => Bench.json.readTree(f).path("queries"))
    val sb = new StringBuilder
    sb ++= s"# Board — ${corrFile.map(_.getName).getOrElse("(no correctness)")}"
    sb ++= s" × ${benchFile.map(_.getName).getOrElse("(no bench record)")}\n\n"
    sb ++= "| key | correctness | median s | min–max s | flags |\n"
    sb ++= "| --- | --- | --- | --- | --- |\n"
    val rows = declared.toSeq.sorted.map { k =>
      val c = corr.getOrElse(k, "unchecked")
      val q = bench.map(_.path(k)).filterNot(_.isMissingNode)
      val t = q.map(_.path("median").asDouble(-1))
      val tStr = t.map(v => if (v < 0) "errored" else f"$v%.2f").getOrElse("unswept")
      val spread = q.filter(_.has("min"))
        .map(n => f"${n.get("min").asDouble}%.2f–${n.get("max").asDouble}%.2f").getOrElse("")
      val failed = c.startsWith("FAIL") || c.startsWith("ERROR")
      val flags = Seq(
        t.exists(_ > LintBench.budgetSec) -> "over-budget",
        t.isEmpty -> "unswept",
        t.exists(_ < 0) -> "errored",
        failed -> "fail",
        (c == "unchecked") -> "unchecked"
      ).collect { case (true, f) => f }.mkString(", ")
      sb ++= s"| $k | $c | $tStr | $spread | $flags |\n"
      (c, t, failed)
    }
    val pass = rows.count(_._1 == "pass")
    val noOracle = rows.count(_._1.startsWith("no-oracle"))
    val bad = rows.count(_._3)
    val timed = rows.flatMap(_._2).filter(_ >= 0)
    val stale = bench.toSeq.flatMap(_.fieldNames.asScala).filterNot(declared).sorted
    sb ++= f"\n**${declared.size} keys: $pass pass, $noOracle no-oracle, " +
      f"$bad fail/error, ${declared.size - pass - noOracle - bad} other; " +
      f"bench ${timed.size} timed, total of medians ${timed.sum}%.1f s" +
      (if (stale.nonEmpty) s"; STALE bench keys: ${stale.mkString(",")}" else "") + "**\n"
    sb.toString
  }

  def main(args: Array[String]): Unit = print(report(new java.io.File(".")))
}
