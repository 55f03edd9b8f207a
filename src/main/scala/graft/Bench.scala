package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val selected = SparkEntry.selected
    val spark = GraftSession("graft-bench", conf = conf)
    warmup(spark, sfDir)
    // run-2 failures kept lenient for TIMING (run 1 proved the query runs;
    // see below) but recorded here so the committed artifact still surfaces
    // rerun-REPRODUCIBLE failures (leaked cache/session state — the exact
    // class min-of-N re-runs exist to catch) instead of reporting ok=true
    // with an empty failures array (ADVICE r9).
    val rerunFailures = scala.collection.mutable.ListBuffer.empty[String]
    val results = selected.map { case (name, fn) =>
      // stderr marker (never the tail-captured stdout): lets warnings in
      // the session log be attributed to the query that emitted them
      System.err.println(s"[bench] start $name")
      def once(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case e: Throwable =>
                   System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      // Shared-session load noise inflates query times 20-400%
      // nondeterministically (r7: q97 0.39->1.95s with identical code),
      // poisoning round-over-round comparison. Time every query TWICE and
      // report the min — the repeatable cost, not the scheduler's mood.
      // The second pass also rides warmed code/caches, so it bounds the
      // steady-state cost a resident deployment would see; wall cost is
      // ~2x a single sweep, which the round budget absorbs.
      val (t1, ok1) = once()
      if (ok1) {
        val (t2, ok2) = once()
        val best2 = math.min(t1, t2)
        // sub-3s queries carry the worst RELATIVE jitter and a third
        // timing is cheap in absolute terms — heavy queries stay at two.
        // A transient run-3 failure must not mark a twice-successful,
        // twice-timed query as FAILED (nor report the aborted run's
        // time): fold t3 in only when run 3 succeeded.
        if (ok2 && best2 < 3.0) {
          val (t3, ok3) = once()
          (name, if (ok3) math.min(best2, t3) else best2, true)
        } else if (ok2) (name, best2, true)
        else {
          // symmetric leniency for run 2's TIMING only: keep run 1's valid
          // time (run 1 failures still report FAILED), but record the name
          // in rerun_failures so the artifact surfaces it.
          System.err.println(s"[bench] $name run-2 failure (run 1 ok) — recorded in rerun_failures")
          rerunFailures += s"\"$name\""
          (name, t1, true)
        }
      } else (name, t1, ok1)
    }
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val failed = results.collect { case (k, _, false) => s"\"$k\"" }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Full per-query timings go to a FILE: the driver's stdout tail capture
    // is byte-limited and a 200+-entry JSON line gets cut mid-object
    // (ADVICE r5) — the artifact must stay machine-readable regardless.
    val fullQs = results.map { case (k, v, _) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val fullJson = s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""queries":$fullQs,"failures":[${failed.mkString(",")}],""" +
      s""""rerun_failures":[${rerunFailures.mkString(",")}],"sf":"$sfDir"}"""
    val fullPath = java.nio.file.Paths.get("BENCH_FULL.json")
    java.nio.file.Files.write(fullPath, (fullJson + "\n").getBytes("UTF-8"))
    // The PRINTED line is kept compact enough to survive the tail capture:
    // a fixed headline subset (round-over-round comparable) + the total.
    // The driver's tail window is ~2000 bytes and sbt appends a ~70-byte
    // "[success] Total time" footer AFTER this line — r6's 24-entry
    // headline (~1950 bytes) got its opening brace clipped and parsed as
    // null, so the subset stays ≤12 entries (~600 bytes, 3× headroom).
    // a failed query must not masquerade as a fast success: failures are
    // listed explicitly in the report
    val headline = Set(
      "q01_pricing_summary", "q03_join_agg", "q06_window_topk",
      "q32_dedup_exact", "q34_dedup_minhash", "q37_cosine_topk",
      "q49_tfidf", "q56_ivf_ann", "q106_kmeans", "q133_curriculum",
      "q142_prefix_join", "q169_volume_shipping")
    val qs = results.collect { case (k, v, _) if headline(k) =>
      s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""n_queries":${results.size},"queries":$qs,""" +
      s""""failures":[${failed.mkString(",")}],""" +
      s""""rerun_failures":[${rerunFailures.mkString(",")}],"sf":"$sfDir",""" +
      s""""full":"${fullPath.toAbsolutePath}"}""")
    spark.stop()
  }

  // Size scan splits below the corpus file size (sf0.1 files ~25 MB vs
  // the 128 MB default). NOTE: the driver-generated files hold a SINGLE
  // row group, so scans stay one-task here regardless — but this is the
  // right setting wherever files carry multiple row groups, which a
  // 100 TB deployment has by construction.
  val conf = Map("spark.sql.files.maxPartitionBytes" -> String.valueOf(4L << 20))

  /** Absorbs session/codegen warm-up outside any timed region. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // warm the RDD<->DataFrame bridge (RowEncoder + RDD-scan codegen) that
    // GlobalOrder-based queries hit — first use costs ~1s of Janino work
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))),
      new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType, nullable = false))
      .selectExpr("sum(id)").collect()
    graft.operators.GlobalOrder.withRowNumber(
      spark.range(100).toDF(), Seq(org.apache.spark.sql.functions.col("id")), "rn")
      .count()
  }
}
