package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.engine.{Staging, Tables}
import graft.operators._
import graft.sources._

/** The benchmark's JVM side. One process, one SparkSession built with
  * graft.Bench's settings, one client thread running a closed loop over
  * one workload. It writes raw records (per-operation timings, set-up
  * phases, listener sums, output-check results) as JSON to `--out`;
  * perfbench/run.py turns them into metrics and runs the DuckDB checks.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *             --inputs DIR --work DIR --out FILE */
object Main {
  type Q = (SparkSession, String) => DataFrame

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, inputs: String, work: String, out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("inputs"), m("work"), m("out"))
  }

  /** graft.Bench's session: local[cores], shuffle partitions = cores, AQE
    * initial partitions = 8 x cores, GraftExtensions, UTC. Scratch space
    * (block manager, warehouse) stays under the benchmark's work dir. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (a.cores * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a)
    val h = new Harness(spark, a.trace)
    h.phases("session_s") = (System.nanoTime() - t0) / 1e9
    selfChecks(h, a)
    val extra: Map[String, Any] = a.workload match {
      case "interactive" => Interactive.run(h, a)
      case "corpus-pipeline" => CorpusPipeline.run(h, a)
      case "index-refresh" => IndexRefresh.run(h, a)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    val listenerJson = h.listener.fold(Map.empty[String, Any]) { l =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val attributed = new SpanListener.Acc
      l.spans.values.foreach(attributed += _)
      val sumTasks = attributed.tasks + l.unattributed.tasks
      val sumMs = attributed.taskMs + l.unattributed.taskMs
      h.check("listener-total-attribution",
        sumTasks == l.total.tasks && sumMs == l.total.taskMs,
        s"spans+unattributed tasks=$sumTasks task_ms=$sumMs; " +
          s"total tasks=${l.total.tasks} task_ms=${l.total.taskMs}")
      Map("total" -> l.total.toJson, "unattributed" -> l.unattributed.toJson,
        "attributed" -> attributed.toJson)
    }
    val doc = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "cores" -> a.cores,
      "first_op_ms" -> h.firstOpMs, "end_ms" -> System.currentTimeMillis(),
      "loop_s" -> h.loopS, "heap_live_mb" -> h.heapLiveMb, "phases" -> h.phases.toMap,
      "ops" -> h.ops.map(h.opJson).toSeq, "checks" -> h.checks.toSeq,
      "listener" -> listenerJson) ++ extra
    Files.writeString(Paths.get(a.out), Json(doc))
    spark.stop()
  }

  /** The harness's own invariants, checked on every run: a throwing
    * operation records a failure and no timing, and the query order is a
    * function of the seed. */
  def selfChecks(h: Harness, a: Args): Unit = {
    val (err, secs) = Harness.timed(throw new IllegalStateException("planted"))
    h.check("throw-records-failure", err.exists(_.contains("planted")) && secs == 0.0,
      s"error=$err seconds=$secs")
    val names = (1 to 50).map(i => s"q$i")
    h.check("seeded-order",
      Interactive.order(names, a.seed, 0) == Interactive.order(names, a.seed, 0) &&
        Interactive.order(names, a.seed, 0) != Interactive.order(names, a.seed + 1, 0))
  }

  /** Shuffle exchanges in the initial executed plan, subqueries included. */
  def exchanges(p: SparkPlan): Int = {
    val root = p match { case ad: AdaptiveSparkPlanExec => ad.initialPlan; case o => o }
    root.collectWithSubqueries {
      case ad: AdaptiveSparkPlanExec => exchanges(ad)
      case mem: InMemoryTableScanExec => exchanges(mem.relation.cachedPlan)
      case _: ShuffleExchangeLike => 1
    }.sum
  }

  /** Rows as a multiset (row -> occurrences). */
  def multiset(rows: Seq[Row]): Map[Row, Int] = rows.groupBy(identity).view.mapValues(_.size).toMap

  def writeRows(spark: SparkSession, rows: Array[Row], df: DataFrame, path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  def dirBytes(root: File): (Long, Long) =
    if (!root.exists()) (0L, 0L)
    else {
      val files = Files.walk(root.toPath).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.size.toLong, files.map(Files.size(_)).sum)
    }
}

/** interactive: every query of the ingest module, with warm memos, in a
  * seeded order per pass. */
object Interactive {
  def queries: Map[String, Main.Q] = IngestOps.queries
  def oracle: Map[String, String] = IngestOps.oracle

  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names.sorted)

  def run(h: Harness, a: Main.Args): Map[String, Any] = {
    val spark = h.spark
    val dir = a.inputs
    val qs = queries
    h.phase("warm_s") {
      h.parallel(a.cores)(Tables.all.map(t => () => Tables.load(spark, dir, t).count()))
    }
    // untimed warm-up pass: fills every session memo and dumps each result
    // for the DuckDB oracle compare. It runs on one thread per core, as
    // graft.Verify's sweep does; the timed loop below has one client.
    val warm = h.phase("warmup_s") {
      h.parallel(a.cores)(order(qs.keys.toSeq, a.seed, -1).map { q => () =>
        val (err, secs) = Harness.timed {
          Staging.beginTransient()
          try qs(q)(spark, dir).coalesce(1).write.mode("overwrite")
            .parquet(s"${a.work}/results/$q")
          finally Staging.releaseTransient()
        }
        Map("name" -> q, "ok" -> err.isEmpty, "error" -> err.getOrElse(""), "secs" -> secs)
      })
    }
    // a second untimed pass, so the timed passes are not each query's first
    // warm executions: those still wait on the JIT
    h.phase("warmup_s") {
      h.parallel(a.cores)(order(qs.keys.toSeq, a.seed, -2).map { q => () =>
        Harness.timed {
          Staging.beginTransient()
          try qs(q)(spark, dir).count() finally Staging.releaseTransient()
        }
      })
    }
    if (a.trace) h.span("check")(splitCheck(h, a, order(qs.keys.toSeq, a.seed, -1).take(5)))
    // a round is two whole passes, each in its own seeded order, so every
    // query has two samples; run.py takes each query's better one
    h.loop(a.seconds) { round => (2 * round to 2 * round + 1).flatMap(order(qs.keys.toSeq, a.seed, _)).foreach { q =>
      h.op(q) { o =>
        Staging.beginTransient()
        if (!a.trace) qs(q)(spark, dir).count()
        else {
          val df = h.step(o, "construct")(qs(q)(spark, dir))
          val counted = df.groupBy().count()
          val plan = h.step(o, "plan")(counted.queryExecution.executedPlan)
          o.info("exchanges") = Main.exchanges(plan)
          h.step(o, "action")(counted.collect())
        }
      } { o =>
        h.step(o, "release")(Staging.releaseTransient())
        o.info("resident_mb") = h.residentMb
      }
    }; true }
    Map("warmup" -> warm, "oracle_sql" -> oracle)
  }

  /** The plan/action split must launch exactly the jobs a plain count()
    * launches. */
  def splitCheck(h: Harness, a: Main.Args, names: Seq[String]): Unit = {
    val spark = h.spark
    names.foreach { q =>
      val fn = queries(q)
      Staging.beginTransient()
      try {
        val d1 = fn(spark, a.inputs)
        h.span(s"check/count/$q")(d1.count())
        val d2 = fn(spark, a.inputs).groupBy().count()
        h.span(s"check/split/$q") { d2.queryExecution.executedPlan; d2.collect() }
      } finally Staging.releaseTransient()
    }
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val l = h.listener.get
    names.foreach { q =>
      def c(kind: String) = l.spans.get(s"check/$kind/$q")
        .map(x => (x.jobs, x.stages, x.tasks)).getOrElse((0L, 0L, 0L))
      h.check(s"plan-action-split/$q", c("count") == c("split"),
        s"count (jobs,stages,tasks)=${c("count")} split=${c("split")}")
    }
  }
}

/** corpus-pipeline: q117 then q221 on a freshly generated input directory
  * per iteration, each result collected, published through ManifestSink
  * and read back (the RunPipeline.run sequence). */
object CorpusPipeline {
  val reports: Seq[(String, Main.Q)] = Seq(
    "q117_corpus_pipeline" -> PipelineOps.queries("q117_corpus_pipeline"),
    "q221_script_pipeline" -> ScriptDedupOps.queries("q221_script_pipeline"))

  def iteration(h: Harness, o: Op, a: Main.Args, dir: String, tag: String)
      : Seq[(String, DataFrame, Array[Row], Array[Row])] = {
    val spark = h.spark
    reports.map { case (q, fn) =>
      val df = h.step(o, "construct")(fn(spark, dir))
      val plan = h.step(o, "plan") { df.persist(); df.queryExecution.executedPlan }
      if (a.trace) o.info(s"exchanges.$q") = Main.exchanges(plan)
      val rows = h.step(o, "action")(df.collect())
      val path = s"${a.work}/published/$tag/$q"
      h.step(o, "publish")(df.write.format("graft.sources.ManifestSink")
        .option("path", path).mode("overwrite").save())
      df.unpersist()
      val back = h.step(o, "readback")(spark.read.format("graft.sources.ManifestSink")
        .option("path", path).load().collect())
      (q, df, rows, back)
    }
  }

  def run(h: Harness, a: Main.Args): Map[String, Any] = {
    val spark = h.spark
    h.phase("warm_s") {
      h.parallel(a.cores)(Seq("documents", "embeddings").map(t =>
        () => Tables.load(spark, a.inputs, t).count()))
    }
    // untimed iterations, each on its own input directory, warm the JIT and
    // codegen; they share no Staging memo with the timed iterations
    h.phase("warmup_s") {
      new File(a.inputs).list().filter(_.startsWith("warm_")).sorted.foreach { d =>
        Staging.beginTransient()
        try iteration(h, new Op(d, d), a, s"${a.inputs}/$d", d)
        finally Staging.releaseTransient()
      }
    }
    val iters = new File(a.inputs).list().count(_.matches("iter_\\d+"))
    val done = scala.collection.mutable.ArrayBuffer[(Int, Seq[(String, DataFrame, Array[Row], Array[Row])])]()
    h.loop(a.seconds) { k =>
      if (k >= iters) false
      else {
        h.op(s"iter_$k") { o =>
          Staging.beginTransient()
          done += k -> iteration(h, o, a, s"${a.inputs}/iter_$k", s"iter_$k")
        } { o =>
          h.step(o, "release")(Staging.releaseTransient())
          o.info("resident_mb") = h.residentMb
        }
        true
      }
    }
    // output checks, outside the timed loop: the read-back equals the
    // collected result, which is dumped for the DuckDB oracle compare
    h.span("check")(done.foreach { case (k, res) =>
      res.foreach { case (q, df, rows, back) =>
        h.check(s"readback/iter_$k/$q",
          Main.multiset(rows.toSeq) == Main.multiset(back.toSeq),
          s"collected=${rows.length} read back=${back.length}")
        Main.writeRows(spark, rows, df, s"${a.work}/results/iter_$k/$q")
      }
    })
    Map("oracle_sql" -> Map(
        "q117_corpus_pipeline" -> PipelineOps.oracle("q117_corpus_pipeline"),
        "q221_script_pipeline" -> ScriptDedupOps.oracle("q221_script_pipeline")))
  }
}

/** index-refresh: four maintained index families over a growing source
  * table; each window appends arriving documents, deletes two earlier
  * ones, refreshes every family through CDC and probes every index. */
object IndexRefresh {
  val Window = 20
  val Deletes = 2

  final case class Family(name: String, src: String, tables: Seq[String],
      create: (String, Seq[String]) => Unit, refresh: (String, Seq[String]) => Unit)

  def families(spark: SparkSession): Seq[Family] = Seq(
    Family("mh", "pb.docs", Seq("mh_dig", "mh_band"),
      (s, t) => MinHashIndexMaintenance.createIndex(spark, "graft", s, t(0), t(1)),
      (s, t) => MinHashIndexMaintenance.refreshCdc(spark, "graft", s, t(0), t(1))),
    Family("ssim", "pb.docs", Seq("ss_df", "ss_pre"),
      (s, t) => SsimIndexMaintenance.createIndex(spark, "graft", s, t(0), t(1)),
      (s, t) => SsimIndexMaintenance.refreshCdc(spark, "graft", s, t(0), t(1))),
    Family("cluster", "pb.docs", Seq("cl_lab", "cl_edg", "cl_bnd"),
      (s, t) => ClusterIndexMaintenance.createIndex(spark, "graft", s, t(0), t(1), t(2)),
      (s, t) => ClusterIndexMaintenance.refreshCdc(spark, "graft", s, t(0), t(1), t(2))),
    Family("phash", "pb.media", Seq("ph_hash", "ph_band"),
      (s, t) => { PhashIndexMaintenance.createIndex(spark, "graft", s, t(0), t(1)); () },
      (s, t) => { PhashIndexMaintenance.refreshCdc(spark, "graft", s, t(0), t(1)); () }))

  def run(h: Harness, a: Main.Args): Map[String, Any] = {
    val spark = h.spark
    // the catalog and warehouse a graft query would configure
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_${spark.sparkContext.applicationId}"
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val fams = families(spark)
    val arrival = Files.readAllLines(Paths.get(s"${a.inputs}/arrival.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).map(_.toLong).toIndexedSeq
    val initial = arrival.size / 2
    val (docs, media) = h.phase("warm_s") {
      val d = Tables.load(spark, a.inputs, "documents").select("doc_id", "text").localCheckpoint()
      val m = MultimodalOps.phashPixelsOf(d.select("doc_id")).localCheckpoint()
      (d, m)
    }
    def rowsOf(df: DataFrame, ids: Seq[Long]) = df.filter(col("doc_id").isin(ids: _*))
    h.phase("index_create_s") {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pb")
      Seq("docs" -> "text STRING", "media" -> "px ARRAY<BIGINT>").foreach { case (t, c) =>
        spark.sql(s"CREATE TABLE graft.pb.$t (doc_id BIGINT, $c) " +
          "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
      }
      val first = arrival.take(initial)
      rowsOf(docs, first).writeTo("graft.pb.docs").append()
      rowsOf(media, first).writeTo("graft.pb.media").append()
      fams.foreach(f => f.create(f.src, f.tables.map(t => s"pb.$t")))
    }
    // every maintained table a window's doc_ids can be looked up in
    val probeCols = fams.flatMap(_.tables).flatMap { t =>
      val cols = spark.table(s"graft.pb.$t").columns
      Seq("doc_id", "doc_a").find(cols.contains).map(t -> _)
    }
    val rng = new scala.util.Random(a.seed)
    var live = arrival.take(initial).toVector
    val (files0, bytes0) = Main.dirBytes(new File(wh))
    var before = (files0, bytes0)
    var arrived = 0
    h.loop(a.seconds) { w =>
      val ids = arrival.slice(initial + w * Window, initial + (w + 1) * Window)
      if (ids.size < Window) false
      else {
        val victims = (0 until Deletes).map { _ =>
          val v = live(rng.nextInt(live.size)); live = live.filterNot(_ == v); v
        }
        h.op(s"window_$w") { o =>
          val t0 = System.nanoTime()
          h.step(o, "append") {
            rowsOf(docs, ids).writeTo("graft.pb.docs").append()
            rowsOf(media, ids).writeTo("graft.pb.media").append()
          }
          h.step(o, "delete") {
            Seq("docs", "media").foreach(t =>
              spark.sql(s"DELETE FROM graft.pb.$t WHERE doc_id IN (${victims.mkString(",")})"))
          }
          fams.foreach(f => h.step(o, s"refresh.${f.name}")(f.refresh(f.src, f.tables.map(t => s"pb.$t"))))
          o.info("refresh_window_s") = (System.nanoTime() - t0) / 1e9
          val probes = probeCols.map { case (t, c) =>
            val p0 = System.nanoTime()
            h.step(o, s"probe.$t")(spark.table(s"graft.pb.$t").filter(col(c).isin(ids: _*)).collect())
            (System.nanoTime() - p0) / 1e9
          }
          o.info("probe_s") = probes
        } { o =>
          h.step(o, "release")(Staging.releaseTransient())
          o.info("resident_mb") = h.residentMb
          val now = Main.dirBytes(new File(wh))
          o.info("files_added") = now._1 - before._1
          o.info("bytes_added") = now._2 - before._2
          before = now
        }
        live = live ++ ids
        arrived += ids.size
        true
      }
    }
    // output check: each maintained index equals a cold create over the
    // final source tables. mh, cluster and phash must match row for row.
    // ssim keeps the document-frequency order frozen at create time by
    // design (SsimIndexMaintenance), so its tables legitimately differ
    // from a cold create; it must give the same probe verdicts instead,
    // probing every live document against both indexes.
    h.span("check")(fams.foreach { f =>
      val cold = f.tables.map(t => s"pb.${t}_cold")
      val created = Harness.timed(f.create(f.src, cold))._1
      val pairs: Seq[(String, Option[String], String)] = created match {
        case Some(err) => Seq((f.name, Some(s"cold create failed: $err"), ""))
        case None if f.name == "ssim" =>
          val live = spark.table(s"graft.${f.src}").localCheckpoint()
          val btk = SsimIndexMaintenance.docTokens(live).localCheckpoint()
          def verdicts(t: Seq[String]) = DedupOps.ssimProbeTk(spark, btk, live,
              s"graft.${t(0)}", s"graft.${t(1)}")
            .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val (m, k) = (verdicts(f.tables.map(t => s"pb.$t")), verdicts(cold))
          Seq(("probe", if (m == k) None else Some("verdicts differ"),
            s"maintained pairs=${m.size} cold pairs=${k.size} shared=${m.intersect(k).size}"))
        case None => f.tables.zip(cold).map { case (t, c) =>
          val m = spark.table(s"graft.pb.$t")
          val k = spark.table(s"graft.$c").select(m.columns.map(col): _*)
          val extra = m.exceptAll(k).count()
          val missing = k.exceptAll(m).count()
          (t, if (extra == 0 && missing == 0) None else Some("rows differ"),
            s"maintained-only rows=$extra cold-only rows=$missing")
        }
      }
      pairs.foreach { case (what, err, detail) =>
        h.check(s"index-equals-cold/${f.name}/$what", err.isEmpty, (err.toSeq :+ detail).mkString("; "))
      }
    })
    Map("docs_arrived" -> arrived,
      "warehouse_bytes_added" -> (before._2 - bytes0),
      "warehouse_files_added" -> (before._1 - files0),
      "probe_tables" -> probeCols.map(_._1))
  }
}

/** Minimal JSON writer for the harness's records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
