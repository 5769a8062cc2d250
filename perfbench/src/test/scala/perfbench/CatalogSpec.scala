package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.CubePipeline

class CatalogSpec extends AnyFunSuite {
  private def dir(name: String): File = {
    val d = new File(s"target/catalog-spec/$name")
    Main.deleteTree(d)
    d
  }

  private def bytes(g: Catalog.Generated): Seq[(String, Seq[Byte])] =
    (g.rev1 ++ g.rev2).map { case (p, _) =>
      new File(p).getParentFile.getName + "/" + new File(p).getName ->
        Files.readAllBytes(new File(p).toPath).toSeq
    }

  /** Totals read straight from the files, independently of the engine. */
  private def fileTotals(g: Catalog.Generated): Map[String, Catalog.Totals] =
    g.rev1.map { case (p, cube) =>
      val lines = scala.io.Source.fromFile(p, "UTF-8").getLines().toSeq
      val qei = lines.find(_.startsWith("D;QEI;")).get.split(";").drop(2)
      val dec = lines.filter(_.startsWith("D;DQI;")).map(_.split(";", -1))
        .map(t => t(2) -> t(6).toInt).toMap
      val measures = qei.filter(dec.contains)
      val first = qei.length - measures.length + 1
      val data = lines.filter(l => l.startsWith("D;") &&
        !Set("DQA", "DQZ", "DQI", "QEI")(l.split(";")(1)))
      val cells = data.flatMap { l =>
        val t = l.split(";", -1)
        measures.indices.map(i => t(first + 2 * i))
      }
      val values = cells.filterNot(Set("-", "...", "/", "x", ".")).map(BigDecimal(_))
      cube -> Catalog.Totals(cells.size, values.size, values.sum)
    }.toMap

  test("the same seed gives the same bytes, another seed does not") {
    val a = Catalog.generate(dir("a"), 7, 12, 1500, 20)
    val b = Catalog.generate(dir("b"), 7, 12, 1500, 20)
    val c = Catalog.generate(dir("c"), 8, 12, 1500, 20)
    assert(bytes(a) == bytes(b))
    assert(bytes(a) != bytes(c))
    assert(a.rev2.size == 4 && a.lookups.size == 20)
    // Every seed gives about the same volume.
    Seq(a, c).foreach(g => assert(math.abs(g.rev1Cells - 1500) < 30, g.rev1Cells))
  }

  test("expectations match the files, and a dropped record fails the check") {
    val ok = Catalog.generate(dir("ok"), 3, 12, 1500, 20)
    assert(Catalog.diff("files", fileTotals(ok), ok.rev1Totals).isEmpty)
    val bad = Catalog.generate(dir("bad"), 3, 12, 1500, 20, dropRecord = true)
    assert(bad.rev1Totals == ok.rev1Totals)
    val d = Catalog.diff("files", fileTotals(bad), bad.rev1Totals)
    assert(d.size == 1 && d.head.contains(bad.rev1.head._2))
  }

  test("the engine's parse and merge agree with the expectations") {
    val spark = graft.GraftSession.local(2)
    try {
      def totals(df: org.apache.spark.sql.DataFrame) = df.groupBy("cube")
        .agg(count(lit(1)), count(col("value")), sum(col("value").cast("decimal(38,6)")))
        .collect().map(r => r.getString(0) -> Catalog.Totals(r.getLong(1), r.getLong(2),
          Option(r.getDecimal(3)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))).toMap
      val g = Catalog.generate(dir("engine"), 5, 10, 1500, 20)
      val merged = CubePipeline.latestRevision(Seq(
        CubePipeline.parseAll(spark, g.rev1) -> 1, CubePipeline.parseAll(spark, g.rev2) -> 2))
      assert(Catalog.diff("merged", totals(merged), g.mergedTotals).isEmpty)
      assert(CubePipeline.facts(merged).count() == g.docs)
      val bad = Catalog.generate(dir("engine-bad"), 5, 10, 1500, 20, dropRecord = true)
      val scanned = spark.read.format("genesis-cube").load(bad.rev1.map(_._1): _*)
      assert(Catalog.diff("genesis-cube", totals(scanned), bad.rev1Totals).size == 1)
    } finally spark.stop()
  }
}
