package graft

/** Dev profiling harness: for each named query, print a
  * `=== <name> ===` separator, its formatted physical plan, and its
  * SECOND-rep row — wall time (warm codegen, cold OpCache: the same
  * state Bench's min() converges to) with the Spark job/stage/task
  * counts and shuffle KB of that rep. The counts are what the wall
  * time at sf0.1 is mostly MADE OF (17 MB corpus: scheduling + codegen
  * dominate data movement). A wrapper can split the output on the
  * separators into per-query plan files (the `plans/` artifacts).
  *
  * Usage: runMain graft.Profile q_a,q_b[,...]   (or `top` = a fixed
  * set of slow queries)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus, extensions = true)
    Tables.all.foreach { t =>
      try Tables.t(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    val meter = new org.apache.spark.graft.QueryMeter(spark.sparkContext)
    val names: Seq[String] =
      if (args.isEmpty || args(0) == "top") Seq(
        "q_sim_hnsw_sweep", "q_sim_hnsw_topk", "q_sql_recursive",
        "q_sim_ivfpq_topk", "q_dedup_clusters", "q_graph_triangles",
        "q_dedup_survivors_near", "q_ml_recommend", "q_graph_sparsify",
        "q_ml_cv_select", "q_emb_pq_learned", "q_sim_ivf_sweep",
        "q_ml_calibration", "q_c360_scored", "q_sql_script",
        "q_stream_join_outer", "q_stream_join", "q_sim_hnsw_delta",
        "q_dedup_near_jaccard", "q_graph_kcore", "q_dedup_containment",
        "q_sim_hnsw_saved", "q_scan_table_delete", "q_ml_confusion",
        "q_scan_table_history", "q_stream_tws_sessionize")
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    println(f"${"query"}%-26s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"shW_KB"}%8s ${"shR_KB"}%8s")
    val secs = names.flatMap { name =>
      val fn = SparkEntry.queries(name)
      println(s"=== $name ===")
      spark.sparkContext.setJobDescription(s"$name rep1")
      try fn(spark, sfDir).count()
      catch { case e: Throwable => println(s"$name rep1 failed: $e") }
      graft.ops.OpCache.clear(spark)
      val pre = meter.snap()
      spark.sparkContext.setJobDescription(s"$name rep2")
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        val d = meter.snap() - pre
        df.explain("formatted")
        println(f"$name%-26s $dt%7.2f ${d.jobs}%5d ${d.stages}%6d " +
          f"${d.tasks}%6d ${d.shuffleWrite / 1024}%8d " +
          f"${d.shuffleRead / 1024}%8d")
        Some(dt)
      } catch { case e: Throwable =>
        println(s"$name rep2 failed: $e")
        None
      } finally graft.ops.OpCache.clear(spark)
    }
    println(f"TOTAL ${secs.sum}%.2f s over ${secs.length} of " +
      s"${names.length} queries")
    spark.stop()
  }
}
