package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The keys `query_keys` times, the owning module of each key, and the
  * order-insensitive output digest.
  */
object Keys {
  /** Seed of the query tables; the golden digests are recorded on it. */
  val dataSeed = 42L

  val sqlModules: Seq[(String, Set[String])] = Seq(
    "ScanOps" -> graft.operators.ScanOps.queries.keySet,
    "FilterOps" -> graft.operators.FilterOps.queries.keySet,
    "AggOps" -> graft.operators.AggOps.queries.keySet,
    "SortOps" -> graft.operators.SortOps.queries.keySet,
    "SubqueryOps" -> graft.operators.SubqueryOps.queries.keySet,
    "JoinOps" -> graft.operators.JoinOps.queries.keySet,
    "BloomJoin" -> graft.operators.BloomJoin.queries.keySet,
    "RangeBin" -> graft.operators.RangeBin.queries.keySet,
    "TimeSeries" -> graft.operators.TimeSeries.queries.keySet,
    "ZOrder" -> graft.operators.ZOrder.queries.keySet,
    "WindowOps" -> graft.operators.WindowOps.queries.keySet,
    "SetOps" -> graft.operators.SetOps.queries.keySet,
    "FnOps" -> graft.functions.FnOps.queries.keySet,
    "UdfOps" -> graft.functions.UdfOps.queries.keySet,
    "DomainOps" -> graft.operators.DomainOps.queries.keySet,
    "StreamOps" -> graft.streaming.StreamOps.queries.keySet)

  val llmModules: Seq[(String, Set[String])] = Seq(
    "LlmDedup" -> graft.llm.LlmDedup.queries.keySet,
    "CorpusPipeline" -> graft.llm.CorpusPipeline.queries.keySet,
    "LlmText" -> graft.llm.LlmText.queries.keySet,
    "LlmVector" -> graft.llm.LlmVector.queries.keySet,
    "LlmGraph" -> graft.llm.LlmGraph.queries.keySet,
    "Multimodal" -> graft.llm.Multimodal.queries.keySet)

  def moduleOf(key: String): String =
    (sqlModules ++ llmModules).collectFirst { case (m, ks) if ks(key) => m }
      .getOrElse("none")

  /** Short SQL-operator keys from nine modules and LLM-corpus keys from
    * four, among them the composed dedup_cluster pipeline. Keys that
    * stage fixture files outside the run's own directory (scan_csv,
    * scan_orc, scd1_upsert, the graph keys but graph_degree_dist, ...)
    * are left out.
    */
  val query: Seq[String] = Seq("scan_parquet", "filter_conj", "agg_group",
    "join_inner", "sub_in", "win_lag", "ts_holt", "fn_url", "stream_dedup",
    "dedup_cluster", "sample_stratified", "text_langid", "knn_cosine")

  def isLlm(key: String): Boolean = llmModules.exists(_._2(key))

  /** Runs `df` through the noop sink, as `graft.Bench` times a key. */
  def runNoop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs `df` through the noop sink and returns its row count and the
    * sum of a 64-bit hash of each row's JSON form, collected by an
    * observation on the same execution: equal for equal multisets of
    * rows, whatever their order.
    */
  def runWithDigest(df: DataFrame): String = {
    val obs = Observation()
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
    df.observe(obs, count(lit(1)).as("n"),
        coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    s"${m("n")}:${m("h")}"
  }
}
