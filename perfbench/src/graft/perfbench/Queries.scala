package graft.perfbench

import scala.io.Source

import org.apache.spark.sql.SparkSession

import graft.{QueryModule, SparkEntry}

/** The query workloads. Each op is one `SparkEntry.queries` entry: build
  * the frame (construct), then collect the checksum `graft.Bench` takes
  * (execute), then compare it with the golden value. */
object Queries {

  val modules: Seq[(String, QueryModule)] = Seq(
    "Relational" -> graft.ops.Relational, "Checks" -> graft.ops.Checks,
    "StreamingOps" -> graft.streaming.StreamingOps, "Dedup" -> graft.ext.Dedup,
    "Similarity" -> graft.ext.Similarity, "LmScore" -> graft.ext.LmScore)

  /** Each workload is a subset of its three modules' queries whose module
    * shares of a warm pass match the shares in a warm pass over all of the
    * modules' queries (`--record-golden` logs every query's warm time on
    * the generated data; `BENCH_PASSES.json` gives the same shares at sf0.1
    * on the reference fixtures), so that a warm pass stays a few seconds
    * long and a run holds several.
    *
    * `sql` (Relational : Checks : StreamingOps, about 90 : 4 : 6):
    * aggregation, joins, a rollup, windows, an as-of join, JSON, approximate
    * and exact statistics, a bucketed join that writes its buckets at
    * construct time (q29), the Z-ordered store (q227), a column profile and
    * sliding windows.
    *
    * `curation` (Dedup : Similarity : LmScore, about 38 : 32 : 30):
    * connected-component dedup with survivor quality (q129, a fixpoint of
    * many small jobs) beside exact dedup, IVF search with partial probing,
    * IVF-PQ re-ranking and LSH search, bigram surprise and trigram scoring.
    * Every query of it takes under two seconds warm, so that a run holds
    * several rounds and each query several samples. */
  val sql: Seq[String] = Seq(
    "q01_pricing_summary", "q03_region_revenue", "q11_rollup_sales",
    "q14_running_supplier_qty", "q16_topk_orders", "q18_shipdate_range_join",
    "q21_event_props_json", "q24_asof_last_order", "q227_events_zorder_served",
    "q28_approx_percentile", "q29_bucketed_join", "q39_exact_stats",
    "q69_column_profile", "q64_sliding_windows")

  val curation: Seq[String] = Seq(
    "q129_dedup_survivor_quality", "q40_dedup_exact", "q98_ann_ivf_partial_probe",
    "q91_ivf_pq_rerank", "q51_ann_lsh", "q121_lm_surprise_score", "q157_lm_trigram_score")

  def moduleOf(name: String): String =
    modules.collectFirst { case (m, q) if q.queries.contains(name) => m }
      .getOrElse(throw new IllegalArgumentException(s"$name is in none of the benchmarked modules"))

  /** Every query of the benchmarked modules, for recording golden values. */
  def all: Seq[String] = modules.flatMap(_._2.defs.map(_.name))

  /** `name<TAB>checksum` lines; `#` starts a comment. */
  def loadGolden(path: String): Map[String, String] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
    finally src.close()
  }

  def checksum(spark: SparkSession, name: String, dataDir: String, ops: Ops): String = {
    val df = ops.phase("construct")(SparkEntry.queries(name)(spark, dataDir))
    ops.phase("execute")(String.valueOf(
      df.selectExpr("bit_xor(xxhash64(struct(*)))").collect()(0).get(0)))
  }

  def run(spark: SparkSession, name: String, dataDir: String, golden: Map[String, String],
      ops: Ops): OpResult = {
    val r = ops.time(name, moduleOf(name), "query") {
      val got = checksum(spark, name, dataDir, ops)
      val want = golden.get(name)
      if (!want.contains(got)) Log.err(s"$name: checksum $got, golden ${want.getOrElse("missing")}")
      want.contains(got)
    }
    release(spark)
    r
  }

  /** Drop what a query left cached, as `graft.Bench` does between queries. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
