package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // Optional comma-separated query filter for targeted adjudication runs
    // (quiet re-measures of flagged queries without paying the full surface)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    // JVM/codegen/session warmup so the first timed query doesn't absorb
    // several seconds of one-time initialization
    spark.range(1000).selectExpr("sum(id)").collect()
    // Untimed warmup pass over the heavy pipelines on the SAME data:
    // each timed query runs exactly once, and for the complex plans
    // (LSH join, label propagation, inverted-index join) janino
    // compilation + C2 warmup were measured at 2-3x steady-state —
    // timing cold one-shots benchmarks the JIT, not the engine.
    // Warming must use the target sfDir: at tiny scale AQE picks
    // different physical operators (broadcast vs shuffle joins), so a
    // small-fixture warmup compiles the wrong code. Standard
    // warm-run methodology; warmup time is excluded from the metric.
    Seq("q_ann_join", "q_ann_ivf", "q_ann_ivfpq", "q_dedup_clusters",
      "q_dedup_ngram_jaccard",
      "q_dedup_minhash", "q_dedup_simhash", "q_heavy_hitters",
      "q_pipeline_e2e", "q_dedup_survivors", "q_pipeline_neardup",
      "q_triangles", "q_pagerank",
      // r9 driver artifacts showed 35 s cold-janino first reps on these
      // two (steady-state 2.4/4.6 s) — warm them like the other heavies
      "q_adamic_adar", "q_knn_eval")
      .filter(selected)
      .foreach { name =>
        // warmup must never fail the bench, but a silently-skipped name
        // (rename drift) would quietly time that pipeline cold — say so
        try SparkEntry.queries(name)(spark, sfDir).count()
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] warmup $name skipped: ${e.getMessage}")
        }
      }
    Hygiene.dropLeakedBlocks(spark)
    // Queries over 1 s get median-of-3: a single rep on a shared box can
    // catch a GC pause or scheduling spike (r4 recorded q_anomaly at
    // 7.19 s vs a 1.60 s warm re-measure) — the RECORDED number must be
    // the defensible one, not a narrative footnote. Sub-second queries
    // stay single-rep: their absolute noise is bounded by their size.
    val reps = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val results = SparkEntry.queries.filter(kv => selected(kv._1)).map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      // a failed query reports -1 (NOT its time-until-failure summed into
      // the total as if it had succeeded)
      val secs =
        try {
          val r1 = once()
          if (r1 > 1.0) {
            Hygiene.dropLeakedBlocks(spark)
            val r2 = once()
            Hygiene.dropLeakedBlocks(spark)
            val r3 = once()
            reps(name) = Seq(r1, r2, r3)
            Seq(r1, r2, r3).sorted.apply(1)
          } else r1
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
        }
      Hygiene.dropLeakedBlocks(spark)
      // per-query progress on stderr: at new SFs a single wedged query is
      // otherwise unattributable from outside the JVM (the JSON contract
      // on stdout is unchanged)
      System.err.println(f"[bench] $name ${secs}%.2f s")
      name -> secs
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-rep spread for every median'd query, so the artifact itself
    // shows whether a number is noisy (max/min) without a re-measure
    val rp = reps.map { case (k, v) => s"\"" + k + "\":[" + v.mkString(",") + "]" }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // failures are first-class: the headline total EXCLUDES failed queries
    // (it would otherwise improve when queries break), so name them and
    // count them at top level (VERDICT r6 item 3)
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","n_failed":${failed.size},"failed":$failedJson,"queries":$qs,"reps":$rp,"sf":"$sfDir"}"""
    println(line)
    // the driver artifact keeps only the tail of stdout, which clips the
    // per-query map once the surface is large — ALSO write the line to a
    // file so the full map always survives (best-effort: an unwritable
    // path must not fail the bench)
    try java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/graft_bench.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] file dump skipped: ${e.getMessage}") }
    // The driver keeps only the LAST 2000 chars of the log, so the full
    // line above is always head-clipped once the surface is large
    // (BENCH_r08-r10 all recorded parsed:null). Emit a compact headline
    // line LAST — totals + the slowest queries only — small enough to
    // survive whole inside the tail and be mechanically parseable.
    val slow = results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(12)
      .map { case (k, v) => s"\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f"$total%.1f"},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"slowest":$slow,"full":"/tmp/graft_bench.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
