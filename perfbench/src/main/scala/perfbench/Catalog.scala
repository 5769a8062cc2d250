package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of a GENESIS cube catalog in the flat-file format
  * `graft.plans.CubeParser` reads, with exact expectations for every
  * check the refresh makes.
  *
  * Each cube has an 8-digit AGS region axis plus 0-2 further axes, a
  * `JAHR` time axis, 1-3 measures with 0-2 declared decimals, a
  * log-normal record count, null tokens and e/p/r quality flags. Cell
  * keys are unique within a revision. A fraction of the cubes gets a
  * revision-2 download that rewrites some records and adds a year.
  */
object Catalog {

  /** Exact per-cube totals over a set of cells. */
  final case class Totals(cells: Long, nonNull: Long, sum: BigDecimal) {
    def +(o: Totals) = Totals(cells + o.cells, nonNull + o.nonNull, sum + o.sum)
  }
  object Totals { val zero = Totals(0, 0, BigDecimal(0)) }

  /** One point lookup with its expected answer over the merged cells. */
  final case class Lookup(region: String, from: Int, to: Int, rows: Long,
      sum: BigDecimal)

  final case class Generated(
      rev1: Seq[(String, String)],          // (path, cube) of every cube
      rev2: Seq[(String, String)],          // (path, cube) of the delta cubes
      rev1Totals: Map[String, Totals],
      mergedTotals: Map[String, Totals],
      docs: Long,                           // distinct records after merge
      inputBytes: Long,
      lookups: Seq[Lookup]) {
    def cells: Long = mergedTotals.values.map(_.cells).sum
    def rev1Cells: Long = rev1Totals.values.map(_.cells).sum
  }

  private val nullTokens = Seq("-", "...", "/", "x", ".")
  private val otherAxes = Seq(
    "GES" -> Seq("GESM", "GESW"),
    "NAT" -> Seq("NATA", "NATD"),
    "ALTX20" -> Seq("ALT000B18", "ALT018B25", "ALT025B50", "ALT050B65", "ALT065UM"),
    "FAMST" -> Seq("LEDIG", "VERH", "VERW", "GESCH"),
    "WZ08" -> Seq("WZ08-A", "WZ08-C", "WZ08-F", "WZ08-G", "WZ08-K", "WZ08-O"))

  /** Writes `cubes` cube files under `dir/rev1` (and the deltas under
    * `dir/rev2`) and returns them with their expectations. Revision 1
    * holds about `cells` cells, split over the cubes in log-normal
    * shares, so every seed gives the same volume; 3 cubes in 10 get a
    * delta. `dropRecord` deletes one data record from the first cube's
    * file AFTER the expectations are taken, so the checks must catch it.
    */
  def generate(dir: File, seed: Long, cubes: Int, cells: Int,
      lookups: Int, dropRecord: Boolean = false): Generated = {
    val r = new SplittableRandom(seed)
    val weights = Seq.fill(cubes)(math.exp(0.8 * gaussian(r)))
    val deltaCubes = (0 until cubes).map(c => r.nextInt() -> c).sortBy(_._1)
      .map(_._2).take((cubes * 3 + 9) / 10).toSet
    val regions = (0 until 120).map { i =>
      f"${1 + i % 16}%02d${1 + r.nextInt(400)}%03d${r.nextInt(1000)}%03d"
    }.distinct
    val rev1Dir = new File(dir, "rev1"); val rev2Dir = new File(dir, "rev2")
    Seq(rev1Dir, rev2Dir).foreach(_.mkdirs())
    val rev1 = mutable.ArrayBuffer.empty[(String, String)]
    val rev2 = mutable.ArrayBuffer.empty[(String, String)]
    val rev1Totals = mutable.LinkedHashMap.empty[String, Totals]
    val merged = mutable.LinkedHashMap.empty[String, Totals]
    // region -> (year, value) of every merged cell, for the lookups
    val byRegion =
      mutable.HashMap.empty[String, mutable.ArrayBuffer[(Int, Option[BigDecimal])]]
    var docs = 0L
    var inputBytes = 0L

    for (c <- 0 until cubes) {
      val cube = f"${11000 + 37 * c}%05dB${c % 10}"
      val axes = r.nextInt(3) match {
        case 0 => Nil
        case k => otherAxes.map(a => r.nextInt() -> a).sortBy(_._1).map(_._2).take(k)
      }
      val measures = (1 to 1 + r.nextInt(3)).map(m => f"M${c}%03d$m")
      val decimals = measures.map(_ => r.nextInt(3))
      val n = math.max(3L,
        math.round(cells * weights(c) / weights.sum / measures.size)).toInt
      val cubeRegions = regions.filter(_ => r.nextInt(3) > 0)
      val perYear = cubeRegions.size.toLong * axes.map(_._2.size.toLong).product
      // Enough years that the key space holds twice the records.
      val year0 = 1995 + r.nextInt(15)
      val years = year0 until year0 +
        math.max(5 + r.nextInt(8), ((2L * n + perYear - 1) / perYear).toInt)
      val combos = perYear * years.size

      // Unique record keys: distinct indices into the key space.
      val keys = mutable.LinkedHashSet.empty[Long]
      while (keys.size < n) keys += (r.nextLong() & Long.MaxValue) % combos
      def decode(k: Long): (String, Seq[String], Int) = {
        var rest = k
        val year = years((rest % years.size).toInt); rest /= years.size
        val codes = axes.map { case (_, vs) =>
          val v = vs((rest % vs.size).toInt); rest /= vs.size; v
        }
        (cubeRegions(rest.toInt), codes, year)
      }
      def cell(): (Option[BigDecimal], String) = {
        val flag = r.nextInt(10) match {
          case 0 => "e"; case 1 => "p"; case 2 => "r"; case _ => ""
        }
        (if (r.nextInt(30) == 0) None
         else Some(BigDecimal(r.nextLong(10000000L))), flag)
      }
      def render(v: Option[BigDecimal], d: Int): String = v match {
        case Some(x) => (x / BigDecimal(10).pow(d)).setScale(d).toString
        case None => nullTokens(r.nextInt(nullTokens.size))
      }
      type Rec = (String, Seq[String], Int, Seq[(Option[BigDecimal], String)])
      def scaled(v: Option[BigDecimal], d: Int) = v.map(_ / BigDecimal(10).pow(d))

      val recs1: Seq[Rec] = keys.toSeq.map(decode).map { case (reg, codes, y) =>
        (reg, codes, y, measures.map(_ => cell()))
      }
      val delta: Seq[Rec] =
        if (deltaCubes(c)) {
          val rewritten = recs1.filter(_ => r.nextInt(5) == 0).map {
            case (reg, codes, y, _) => (reg, codes, y, measures.map(_ => cell()))
          }
          val added = recs1.filter(_._3 == years.last).take(5).map {
            case (reg, codes, y, _) => (reg, codes, y + 1, measures.map(_ => cell()))
          }
          rewritten ++ added
        } else Nil

      def totals(recs: Seq[Rec]): Totals = recs.foldLeft(Totals.zero) {
        case (t, (_, _, _, vs)) =>
          val vals = vs.zip(decimals).flatMap { case ((v, _), d) => scaled(v, d) }
          t + Totals(vs.size, vals.size, vals.sum)
      }
      def file(recDir: File, recs: Seq[Rec]): File = {
        val sb = new StringBuilder
        sb ++= s"""K;DQ;FACH-SCHL;GHH-ART;TS;"Cube $cube"\n"""
        sb ++= "K;DQA;NAME;RHF-BSR;RHF-ACHSE\n"
        sb ++= "D;DQA;GEMEINDE;1;1\n"
        axes.zipWithIndex.foreach { case ((a, _), i) => sb ++= s"D;DQA;$a;${i + 2};${i + 2}\n" }
        sb ++= "K;DQZ;NAME;ZI-RHF-BSR\n"
        sb ++= s"D;DQZ;JAHR;${axes.size + 2}\n"
        sb ++= "K;DQI;NAME;ME-NAME;DST;TYP;NKM-STELLEN\n"
        measures.zip(decimals).foreach { case (m, d) => sb ++= s"D;DQI;$m;ANZ;FEST;GANZ;$d\n" }
        sb ++= ("D;QEI;GEMEINDE" +: axes.map(_._1) :+ "JAHR").mkString(";")
        sb ++= measures.map(";" + _).mkString ++= "\n"
        recs.foreach { case (reg, codes, y, vs) =>
          sb ++= (Seq("D", reg) ++ codes :+ y.toString).mkString(";")
          vs.zip(decimals).foreach { case ((v, q), d) => sb ++= s";${render(v, d)};$q" }
          sb ++= "\n"
        }
        val f = new File(recDir, s"$cube.csv")
        Files.write(f.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
        inputBytes += f.length()
        f
      }

      rev1 += file(rev1Dir, recs1).getAbsolutePath -> cube
      if (delta.nonEmpty) rev2 += file(rev2Dir, delta).getAbsolutePath -> cube
      val latest = (recs1 ++ delta).map(x => (x._1, x._2, x._3) -> x).toMap
      rev1Totals(cube) = totals(recs1)
      merged(cube) = totals(latest.values.toSeq)
      docs += latest.size
      latest.values.foreach { case (reg, _, y, vs) =>
        vs.zip(decimals).foreach { case ((v, _), d) =>
          byRegion.getOrElseUpdate(reg, mutable.ArrayBuffer.empty) += y -> scaled(v, d)
        }
      }
    }

    if (dropRecord) {
      val f = new File(rev1.head._1)
      val lines = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        .split("\n").toSeq
      val victim = lines.lastIndexWhere(_.count(_ == ';') > 2)
      Files.write(f.toPath, lines.patch(victim, Nil, 1).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    }

    val regionList = byRegion.keys.toSeq.sorted
    val lks = (0 until lookups).map { _ =>
      val reg = regionList(r.nextInt(regionList.size))
      val from = 1995 + r.nextInt(20)
      val to = from + r.nextInt(6)
      val hits = byRegion(reg).filter { case (y, _) => y >= from && y <= to }
      Lookup(reg, from, to, hits.size, hits.flatMap(_._2).sum)
    }
    Generated(rev1.toSeq, rev2.toSeq, rev1Totals.toMap, merged.toMap, docs,
      inputBytes, lks)
  }

  /** Standard normal draw (Box-Muller) from the seeded stream. */
  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  /** Differences between observed and expected per-cube totals. */
  def diff(what: String, observed: Map[String, Totals],
      expected: Map[String, Totals]): Seq[String] =
    (observed.keySet ++ expected.keySet).toSeq.sorted.flatMap { c =>
      val o = observed.getOrElse(c, Totals.zero)
      val e = expected.getOrElse(c, Totals.zero)
      if (o.cells == e.cells && o.nonNull == e.nonNull &&
          (o.sum - e.sum).abs <= e.sum.abs * 1e-9)
        None
      else Some(s"$what $c: observed $o, expected $e")
    }
}
