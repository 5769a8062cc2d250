package graft

/** [[Bench.sweep]] on real keys at sf0.001 plus a planted key that
  * throws: the failure is recorded with its cause and does not stop the
  * other keys from being timed.
  */
class BenchSpec extends SparkSpec {

  test("sweep records a throwing key as -1 with its cause; real keys are still timed") {
    val boom: Bench.Q = (_, _) =>
      throw new IllegalStateException("planted failure\nsecond line")
    val keys = Seq("filter_null", "agg_group").map(k => k -> SparkEntry.queries(k)) :+
      ("planted_boom" -> boom)
    val rec = Bench.sweep(spark, sf, keys)
    val q = rec.get("queries")
    val err = q.get("planted_boom")
    assert(err.get("median").asDouble == -1.0)
    assert(err.get("error").asText ==
      "java.lang.IllegalStateException: planted failure")
    assert(rec.get("errors").size == 1 &&
      rec.get("errors").get(0).asText == "planted_boom")
    for (k <- Seq("filter_null", "agg_group")) {
      val s = q.get(k)
      assert(!s.has("error"), s.toString)
      val (min, median, max) =
        (s.get("min").asDouble, s.get("median").asDouble, s.get("max").asDouble)
      assert(0 < min && min <= median && median <= max, s.toString)
    }
    val env = rec.get("env")
    assert(env.get("nproc").asInt == Runtime.getRuntime.availableProcessors)
    assert(env.get("cores").asInt == 4 && env.get("sf").asText == sf)
    assert(env.has("max_heap_mb") && env.has("loadavg_before") &&
      env.has("loadavg_after"))
  }
}
