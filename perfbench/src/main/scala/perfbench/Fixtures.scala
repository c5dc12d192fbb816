package perfbench

import graft.pipelines.{ClusteringJob, EtlJob}

/** Lands the fixtures `serve` reads, once per
  * program build: the warehouse (EtlJob + ClusteringJob) and the index
  * store (Prebuild.all at the target scale).
  */
object Fixtures {

  /** One benched query per operator module, from the cheap end of each
    * module: with Python's `r = random.Random(1)`, for each module in
    * `SparkEntry.declared` order, `r.choice(sorted(fast))`, where `fast`
    * is the module's `max(2, ceil(n / 4))` fastest queries in the sf0.1
    * bench record `bench_canonical_r18.json`. The 13 take 5.1 s of that
    * record's 201.7 s, so the heavy operator paths are not timed: a draw
    * from the whole lists took 12.2 s there and made a serve run about
    * 30 s longer, more than the run budget holds. Pinned by name so the
    * sample cannot drift when queries are added; a removed query fails
    * the run loudly.
    */
  val Sample: Seq[String] = Seq(
    "q03_semi_join", "q18_pagination", "q69_salted_agg", "q175_mix_drift", "q45_exact_dedup",
    "q64_native_topk", "q55_zscore_features", "q61_binary_meta", "q72_stream_static_join",
    "q65_csv_roundtrip", "q109_source_quota", "q168_sampled_triangles", "q197_sql_snowflake")

  def run(h: Harness): Unit = {
    h.spark = h.startSession()
    val wh = h.fixtures.resolve("warehouse").toString
    EtlJob.run(h.spark, h.data, wh)
    ClusteringJob.run(h.spark, h.data, wh)
    System.setProperty("graft.index.dir", h.fixtures.resolve("store").toString)
    graft.Prebuild.all.foreach { case (a, b) =>
      graft.Prebuild.force(a, b, h.spark, h.data)
      h.spark.catalog.clearCache()
    }
    // run.py composes the serve script from this list
    java.nio.file.Files.writeString(h.fixtures.resolve("sample.txt"), Sample.mkString("", "\n", "\n"))
  }
}
