package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-record drive of [[LintBench.lint]]: each failure mode is
  * demonstrated on records built to trip exactly it, plus a clean set
  * that must pass — the drift trigger in particular is pinned to "BOTH
  * of the two newest records above older-min + 0.3 s", with negative
  * controls for a single spike, for a key too new to have a baseline
  * and for history from another environment.
  */
class LintBenchSpec extends AnyFunSuite {

  private val here = """{"nproc":4,"cores":4,"max_heap_mb":7168,"sf":"x","""

  /** A record in [[Bench.sweep]]'s format; `seq` orders it in time. */
  private def plant(dir: java.nio.file.Path, seq: Int, entries: (String, Double)*)
      : java.io.File = plantIn(dir, seq, here, entries: _*)

  private def plantIn(dir: java.nio.file.Path, seq: Int, env: String,
      entries: (String, Double)*): java.io.File = {
    val qs = entries.map { case (k, v) =>
      if (v < 0) s""""$k":{"median":-1.0,"error":"java.lang.IllegalStateException: x"}"""
      else s""""$k":{"median":$v,"min":$v,"max":$v}"""
    }.mkString("{", ",", "}")
    val errors = entries.filter(_._2 < 0).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val f = dir.resolve(f"BENCH_FRESH_202601$seq%02dT000000Z.json").toFile
    val w = new java.io.PrintWriter(f)
    try w.println(s"""{"env":$env"loadavg_before":0.5,"loadavg_after":0.6},""" +
      s""""queries":$qs,"errors":$errors}""")
    finally w.close()
    f
  }

  private def fresh() = java.nio.file.Files.createTempDirectory("lintbench")

  test("clean history passes; embedded summary numerics are not stale keys") {
    val d = fresh()
    val files = Seq(
      plant(d, 1, "a" -> 0.5, "b" -> 0.5),
      plant(d, 2, "a" -> 0.55, "b" -> 0.62),
      plant(d, 3, "a" -> 0.6, "b" -> 0.5))
    assert(LintBench.lint(files, Set("a", "b")).isEmpty)
    assert(LintBench.records(d.toFile).map(_.getName) == files.map(_.getName))
  }

  test("missing / errored / stale keys fail against the newest detail") {
    val d = fresh()
    val files = Seq(plant(d, 1, "a" -> 0.5, "b" -> -1.0, "zombie" -> 0.3))
    val msgs = LintBench.lint(files, Set("a", "b", "c")).mkString("\n")
    assert(msgs.contains("missing=c"), msgs)
    assert(msgs.contains("errored=b"), msgs)
    assert(msgs.contains("stale=zombie"), msgs)
  }

  test("a reading over the 2 s budget fails even with no history") {
    val d = fresh()
    val files = Seq(plant(d, 1, "a" -> 2.5, "b" -> 0.5))
    val msgs = LintBench.lint(files, Set("a", "b")).mkString("\n")
    assert(msgs.contains("over-budget") && msgs.contains("a=2.50"), msgs)
  }

  test("newest record gates coverage and budget; a slow newest run fails") {
    val d = fresh()
    val bad = plant(d, 2, "a" -> 0.5, "b" -> -1.0, "zombie" -> 0.3)
    val clean = plant(d, 3, "a" -> 0.6, "b" -> 0.5)
    assert(LintBench.lint(Seq(clean, bad), Set("a", "b")).isEmpty)
    val slow = plant(d, 4, "a" -> 2.5, "b" -> 0.5)
    val msgs = LintBench.lint(Seq(bad, clean, slow), Set("a", "b"))
    assert(msgs.size == 1 && msgs.head.contains("over-budget(>2.0s)=a=2.50"),
      msgs.mkString("\n"))
  }

  test("drift: two consecutive rounds above older-min + 0.3 fail; " +
    "a single spike or a two-round-old key do not") {
    val d = fresh()
    // a regresses 1.0 → 1.4 → 1.45 (both newest over 1.3) = drift;
    // b spikes once then recovers = clean; n has only 2 records = clean.
    val files = Seq(
      plant(d, 1, "a" -> 1.0, "b" -> 1.0),
      plant(d, 2, "a" -> 1.4, "b" -> 1.9, "n" -> 1.0),
      plant(d, 3, "a" -> 1.45, "b" -> 1.05, "n" -> 1.9))
    val msgs = LintBench.lint(files, Set("a", "b", "n"))
    assert(msgs.size == 1 && msgs.head.contains("drift") &&
      msgs.head.contains("a:"), msgs.mkString("\n"))
    assert(!msgs.head.contains("b:") && !msgs.head.contains("n:"),
      msgs.mkString("\n"))
  }

  test("a record from another environment does not count toward drift history") {
    val d = fresh()
    // a's only older 1.0 came from a 32-core box; on this box a has two
    // records and no baseline yet, so 1.4 → 1.45 is not drift.
    val other = """{"nproc":32,"cores":32,"max_heap_mb":7168,"sf":"x","""
    val files = Seq(
      plantIn(d, 1, other, "a" -> 1.0),
      plant(d, 2, "a" -> 1.4),
      plant(d, 3, "a" -> 1.45))
    assert(LintBench.lint(files, Set("a")).isEmpty)
    // Control: the same 1.0 recorded here is a baseline and trips drift.
    val same = plant(d, 0, "a" -> 1.0)
    assert(LintBench.lint(same +: files.tail, Set("a")).exists(_.contains("drift")))
  }

  test("no detail file at all fails") {
    assert(LintBench.lint(Seq.empty, Set("a")).nonEmpty)
  }
}
