package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Warm the JVM, codegen and parquet footers once so per-query numbers
    // measure the plan, not first-touch session costs.
    graft.engine.Tables.all.foreach(t =>
      try graft.engine.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () })
    // Fixture-build phases run their INDEPENDENT items on a small
    // thread pool (guide §2.6 "overlap independent jobs"): each item is
    // a chain of small sequential jobs (protocol writes, checkpoints,
    // fits) that alone leaves most executor threads idle, and Spark's
    // FIFO scheduler back-fills one item's stragglers with the next
    // item's tasks. Families never share output tables; shared inputs
    // (staged tokens, the media grid, memoized fits) are guarded by the
    // blocking once-per-key Staging.once/memoFit contracts, which were
    // built for concurrent consumers. Pool size scales with the session
    // core count so the driver's low-core bench run keeps per-job
    // parallelism (32 cores → 6 builders, 8 → 2).
    val buildThreads =
      math.max(1, math.min(6, spark.sparkContext.defaultParallelism / 4))
    def runPhase(phase: String, items: Seq[(String, () => Unit)]): Double = {
      val t0 = System.nanoTime()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(buildThreads)
      try {
        val futures = items.map { case (n, f) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              spark.sparkContext.setJobDescription(s"$phase: $n")
              val t = System.nanoTime()
              f()
              System.err.println(f"[bench] $phase $n ${(System.nanoTime() - t) / 1e9}%.2f s")
            }
          })
        }
        // await EVERY future (collecting failures) so no already-submitted
        // build keeps running into the timed per-query loop, and a failure
        // in a later item is reported instead of silently swallowed
        val errs = futures.flatMap(fu =>
          try { fu.get(); None } catch { case e: Throwable => Some(e) })
        if (errs.nonEmpty) {
          errs.foreach(e => System.err.println(s"BENCH FAIL $phase: ${e.getMessage}"))
          -1.0
        } else (System.nanoTime() - t0) / 1e9
      } finally {
        pool.shutdown()
        if (!pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES))
          System.err.println(s"BENCH WARN $phase: builds still running after 10 min")
      }
    }
    // The session-shared stagings — the LSH near-dup pair table (q41/
    // q43/q77/q90/q117) and the set-sim tokenization slices (q190/q196/
    // q198/q199/q201) — are timed as their OWN phase so no query's line
    // absorbs them — the bench runs alphabetically, which otherwise
    // billed the pair table to q117 and the set-sim canonicalize+shingle
    // pass to q190, the first queries of their families (PERF.md
    // "staged vs cold").
    val stagingSec = runPhase("staging", Seq(
      "neardup-pairs" -> (() =>
        { graft.operators.DedupOps.verifiedNearDupPairs(spark, sfDir).count(); () }),
      "setsim-tokens" -> (() =>
        Seq("all", "corpus", "batch").foreach(sl =>
          graft.operators.DedupOps.stagedSetSimTokens(spark, sfDir, sl)._1.count())),
      // the rendered media grid (q211/q214/q215 read stored pixels —
      // decode-once is a staging cost, not a probe cost)
      "media-grid" -> (() =>
        { spark.table(graft.operators.MultimodalOps.mediaGridTable(spark, sfDir))
            .count(); () })))
    // The at-rest index FIXTURES (q139/q148/q158/q181-185/q194/q199/
    // q201/q208/q209/q213/q214/q215) are once-per-session builds that
    // otherwise run inside the FIRST query that touches each index —
    // best-of-2 min correctly reports the steady-state line, but the
    // one-time create then lands in no reported phase (at sf3 the
    // cluster-index create alone is minutes). Build them all here as
    // their own billed phase so the bench phases sum to wall-clock:
    // total = staging + index_build + per-query steady-state lines.
    // longest families first (LPT packing): the pool drains the big
    // protocol chains while short builds back-fill the remaining slots
    val indexBuildSec = runPhase("index-build", Seq(
      "cluster-maintained" -> (() => { graft.operators.DedupOps.clusterMaintainedTables(spark, sfDir); () }),
      "ann-maintained" -> (() => { graft.operators.IvfPqOps.maintainedAnnIndex(spark, sfDir); () }),
      "ivfpq-codes" -> (() => { graft.operators.IvfPqOps.codesTables(spark, sfDir); () }),
      "ssim-maintained" -> (() => { graft.operators.DedupOps.ssimMaintainedTables(spark, sfDir); () }),
      "codebook" -> (() => { graft.operators.SimilarityOps.codebookTable(spark, sfDir); () }),
      "postings-maintained" -> (() => { graft.operators.SimilarityOps.maintainedPostingsTable(spark, sfDir); () }),
      "postings" -> (() => { graft.operators.SimilarityOps.postingsTable(spark, sfDir); () }),
      "ssim-index" -> (() => { graft.operators.DedupOps.ssimIndexTables(spark, sfDir); () }),
      "mh-maintained" -> (() => { graft.operators.DedupOps.mhMaintainedTables(spark, sfDir); () }),
      "mh-index" -> (() => { graft.operators.DedupOps.mhIndexTables(spark, sfDir); () }),
      "phash-maintained" -> (() => { graft.operators.MultimodalOps.phashMaintainedTables(spark, sfDir); () }),
      "phash-index" -> (() => { graft.operators.MultimodalOps.phashIndexTables(spark, sfDir); () })))
    // a failed query records -1, never a normal-looking timing — a broken
    // query must read as broken in the bench JSON, not as a fast one.
    // Each query runs TWICE and reports the min: a single-shot timing on a
    // shared machine drifts with ambient load (the round-5 driver artifact
    // ran uniformly 1.74x round 4 on identical plans), and best-of-2 is
    // robust to one-sided noise while still penalizing real plan
    // regressions. The per-query max/min spread is emitted alongside so a
    // noisy run is VISIBLE in the artifact instead of silently inflating it.
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // transient-checkpoint scope: per-call stage checkpoints (q117's
      // five stages) free as soon as the consuming count returns, so one
      // query's residue never prices the NEXT line's eviction (measured
      // at sf3: q118/q136/q141 inflated 2-6x by q117's resident blocks)
      graft.engine.Staging.beginTransient()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"BENCH FAIL $name: ${e.getMessage}"); -1.0 }
      finally graft.engine.Staging.releaseTransient()
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val a = once(name, fn)
      val b = if (a < 0) -1.0 else once(name, fn)
      val best = if (a < 0 || b < 0) -1.0 else math.min(a, b)
      val spread = if (best > 0) math.max(a, b) / best else -1.0
      (name, best, spread)
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val sp = results.map { case (k, _, s) => s"\"" + k + "\":" + f"$s%.2f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum +
      math.max(stagingSec, 0) + math.max(indexBuildSec, 0)
    val nFailed = results.count(_._2 < 0) + (if (stagingSec < 0) 1 else 0) +
      (if (indexBuildSec < 0) 1 else 0)
    // Manifest-table scan parity: the same lineitem projection written
    // once as a manifest table and once as native parquet (same rows,
    // same file count), then scanned with an identical full-decode
    // aggregate. The manifest read path (vectorized columnar reader via
    // DSv2) should price within ~1.5x of the native scan — this line is
    // the standing evidence. Best-of-2 each, setup not timed.
    val (maniSec, nativeSec) = try {
      import org.apache.spark.sql.functions._
      val base = java.nio.file.Files.createTempDirectory("graft-bench-mani")
      base.toFile.deleteOnExit()
      val li = graft.engine.Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
      li.repartition(8).write.format("graft.sources.ManifestSink")
        .option("path", s"$base/mani").mode("overwrite").save()
      li.repartition(8).write.mode("overwrite").parquet(s"$base/native")
      def scanTime(df: => org.apache.spark.sql.DataFrame): Double = {
        def once: Double = {
          val t0 = System.nanoTime()
          df.agg(sum(col("l_orderkey") + col("l_partkey")),
            sum(col("l_quantity")), sum(length(col("l_returnflag")))).collect()
          (System.nanoTime() - t0) / 1e9
        }
        math.min(once, once)
      }
      (scanTime(spark.read.format("graft.sources.ManifestSink")
          .option("path", s"$base/mani").load()),
        scanTime(spark.read.parquet(s"$base/native")))
    } catch { case e: Throwable =>
      System.err.println(s"BENCH FAIL manifest-parity: ${e.getMessage}"); (-1.0, -1.0)
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$nFailed,"staging_sec":$stagingSec,"index_build_sec":$indexBuildSec,"repeats":2,"manifest_scan_sec":$maniSec,"native_scan_sec":$nativeSec,"spread":$sp,"queries":$qs,"sf":"$sfDir"}""")
    // The full per-query line above grows with the suite and the driver
    // captures only a bounded tail of sbt output — past ~120 queries the
    // line's HEAD (metric/value/total) is truncated away and the driver
    // records "parsed": null. These final lines are self-contained and
    // small (no per-query map), so the totals always survive tail
    // truncation: once under the BENCH_TOTAL_JSON marker, and once as
    // bare JSON LAST so a `^{"metric"` scan that keeps the latest intact
    // match also lands on a complete line.
    val totalLine = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"failed":$nFailed,"staging_sec":$stagingSec%.3f,"index_build_sec":$indexBuildSec%.3f,"manifest_scan_sec":$maniSec%.3f,"native_scan_sec":$nativeSec%.3f,"sf":"$sfDir"}"""
    println(s"BENCH_TOTAL_JSON $totalLine")
    println(totalLine)
    spark.stop()
  }
}
