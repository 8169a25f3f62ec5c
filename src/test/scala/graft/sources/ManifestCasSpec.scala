package graft.sources

import java.nio.file.{Files, Path}
import java.util.ConcurrentModificationException

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Commit-protocol hardening: versioned-manifest CAS (a losing concurrent
  * publish fails loudly instead of dropping the winner's files), schema
  * nullability preservation on append, and column-name validation. Lives
  * in graft.sources for access to the private[sources] protocol
  * internals. */
class ManifestCasSpec extends AnyFunSuite {
  import graft.TestSpark.spark
  import spark.implicits._

  private val fmt = "graft.sources.ManifestSink"

  /** Files the scan actually plans, unpacked from read bins. */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.inputPartitions.flatMap {
      case bin: ManifestBinPartition => bin.members
      case p => Seq(p)
    }.size

  private def tmp(): Path = {
    val p = Files.createTempDirectory("manifest-cas")
    p.toFile.deleteOnExit()
    p
  }

  test("publish is compare-and-swap: second writer at the same version loses loudly") {
    val root = tmp()
    ManifestSink.publish(root, 0L, "{}\nwinner\t1\t\t")
    // a second job that also read version 0 must NOT silently replace v1
    val e = intercept[ConcurrentModificationException] {
      ManifestSink.publish(root, 0L, "{}\nloser\t1\t\t")
    }
    assert(e.getMessage.contains("concurrent publish"))
    assert(ManifestSink.currentVersion(root) == 1L)
    assert(Files.readString(ManifestSink.manifestAt(root, 1L)).contains("winner"),
      "the winning manifest content must be untouched by the losing publish")
    // no stray tmp files leak from the losing attempt
    val s = Files.list(root)
    val names = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toSeq
    } finally s.close()
    assert(!names.exists(_.startsWith("manifest.tmp-")), s"leaked tmp files: $names")
  }

  test("sequential publishes advance the version chain") {
    val root = tmp()
    // first line of a versioned manifest is the schema header
    ManifestSink.publish(root, 0L, "{}\na\t1\t\t")
    ManifestSink.publish(root, 1L, "{}\na\t1\t\t\nb\t1\t\t")
    assert(ManifestSink.currentVersion(root) == 2L)
    assert(ManifestSink.committedEntries(root).map(_.name) == Seq("a", "b"))
  }

  test("concurrent appends never lose committed rows: each append either lands or throws") {
    val dir = tmp().toString
    Seq((0L, Some("base"), 0.0)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence((1 to 4).map { i =>
      Future {
        try {
          Seq((i.toLong, Some(s"w$i"), i.toDouble)).toDF("id", "s", "x")
            .write.format(fmt).option("path", dir).mode("append").save()
          Right(i)
        } catch { case e: Throwable => Left(i) }
      }
    }), 120.seconds).toList
    val landed = results.collect { case Right(i) => i.toLong }
    val got = spark.read.format(fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (0L +: landed).sorted,
      s"table must contain exactly the base row plus every append that reported success; " +
        s"landed=$landed got=$got")
    assert(landed.nonEmpty, "at least one concurrent append must win")
  }

  test("append keeps stored nullability: a non-nullable writer cannot re-label the table") {
    val root = tmp()
    val dir = root.toString
    // base write: s is nullable and actually contains a null
    Seq((1L, None: Option[String], 1.0)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    assert(ManifestSink.readSchema(root)("s").nullable)
    // append with a provably non-null s column (lit => nullable=false)
    spark.range(2, 3).select(col("id"), lit("v").as("s"), lit(0.0).as("x"))
      .write.format(fmt).option("path", dir).mode("append").save()
    assert(ManifestSink.readSchema(root)("s").nullable,
      "append must not narrow stored nullability over files that contain nulls")
    // and the null value still round-trips through a read
    val rows = spark.read.format(fmt).option("path", dir).load().collect()
    assert(rows.length == 2 && rows.exists(_.isNullAt(1)))
  }

  test("column names containing manifest delimiters are rejected at write time") {
    val dir = tmp().toString
    val bad = Seq((1L, 2L)).toDF("id", "a:b")
    val e = intercept[Exception] {
      bad.write.format(fmt).option("path", dir).mode("overwrite").save()
    }
    assert(e.getMessage.contains("manifest delimiter") ||
      Option(e.getCause).exists(_.getMessage.contains("manifest delimiter")))
    assert(!Files.exists(ManifestSink.manifestAt(java.nio.file.Paths.get(dir), 1L)),
      "a rejected write must not publish a manifest")
  }

  test("schema travels inside the versioned manifest: readers don't depend on schema.json") {
    val root = tmp()
    Seq((1L, Some("a"), 0.5)).toDF("id", "s", "x")
      .write.format(fmt).option("path", root.toString).mode("overwrite").save()
    // no schema side-car is written: versioned readers never need one
    assert(!Files.exists(root.resolve("schema.json")))
    val read = spark.read.format(fmt).option("path", root.toString).load()
    assert(read.schema.fieldNames.toSeq == Seq("id", "s", "x"))
    assert(read.count() == 1)
  }

  test("truncate with a different schema publishes schema + file list as one atomic unit") {
    val root = tmp()
    Seq((1L, Some("a"), 0.5)).toDF("id", "s", "x")
      .write.format(fmt).option("path", root.toString).mode("overwrite").save()
    Seq(("k1", 10L)).toDF("key", "n")
      .write.format(fmt).option("path", root.toString).mode("overwrite").save()
    // the CURRENT manifest's header is the new schema; entries follow it
    val v = ManifestSink.currentVersion(root)
    val header = Files.readString(ManifestSink.manifestAt(root, v)).linesIterator.next()
    assert(ManifestSink.readSchema(root).fieldNames.toSeq == Seq("key", "n"))
    assert(header.contains("\"key\"") && !header.contains("\"id\""))
    val rows = spark.read.format(fmt).option("path", root.toString).load().collect()
    assert(rows.length == 1 && rows.head.getString(0) == "k1" && rows.head.getLong(1) == 10L)
    // the superseded version still carries ITS schema with ITS files —
    // a reader pinned to v-1 would see a consistent (old) table
    val prevHeader = Files.readString(ManifestSink.manifestAt(root, v - 1)).linesIterator.next()
    assert(prevHeader.contains("\"id\""))
  }

  test("versionAsOf pins a consistent historical snapshot, across schema changes") {
    val root = tmp()
    val dir = root.toString
    Seq((1L, Some("a"), 0.5)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir).mode("overwrite").save()   // v1
    Seq((2L, Some("b"), 1.5)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir).mode("append").save()      // v2
    Seq(("k1", 10L)).toDF("key", "n")
      .write.format(fmt).option("path", dir).mode("overwrite").save()   // v3, new schema
    def at(v: Long) = spark.read.format(fmt)
      .option("path", dir).option("versionAsOf", v.toString).load()
    assert(at(1).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(at(2).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // v1/v2 read with THEIR schema even though the live table changed
    assert(at(2).schema.fieldNames.toSeq == Seq("id", "s", "x"))
    assert(at(3).schema.fieldNames.toSeq == Seq("key", "n"))
    // default read = latest
    val live = spark.read.format(fmt).option("path", dir).load()
    assert(live.schema.fieldNames.toSeq == Seq("key", "n") && live.count() == 1)
    // metadata-only count respects the pin
    assert(at(2).count() == 2)
    // a missing version fails loudly at planning time
    val e = intercept[Exception] {
      spark.read.format(fmt).option("path", dir).option("versionAsOf", "9").load()
    }
    assert(e.getMessage.contains("versionAsOf 9 does not exist"))
  }

  test("retainVersions GC expires old manifests and orphaned data files, keeping the live window") {
    val root = tmp()
    val dir = root.toString
    def dataFiles(): Set[String] = {
      val s = Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("data-")).toSet
      } finally s.close()
    }
    Seq((1L, Some("a"), 0.5)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir).mode("overwrite").save()     // v1
    (2 to 4).foreach { i =>
      Seq((i.toLong, Some("x"), 0.0)).toDF("id", "s", "x")
        .write.format(fmt).option("path", dir)
        .option("retainVersions", "2").option("gcGraceMs", "0")
        .mode("append").save()                                            // v2..v4
    }
    // current = 4, retained {3, 4}; 1 and 2 expired
    assert(!Files.exists(ManifestSink.manifestAt(root, 1L)))
    assert(!Files.exists(ManifestSink.manifestAt(root, 2L)))
    assert(Files.exists(ManifestSink.manifestAt(root, 3L)))
    // live read unaffected: appends reference every older data file
    assert(spark.read.format(fmt).option("path", dir).load().count() == 4)
    // time travel to an expired version now fails loudly
    val e = intercept[Exception] {
      spark.read.format(fmt).option("path", dir).option("versionAsOf", "1").load()
    }
    assert(e.getMessage.contains("does not exist"))
    // a stray uncommitted file past the grace age is swept by the next GC
    Files.writeString(root.resolve("data-stray.tsv"), "9\tYQ==\t0.0\n")
    val before = dataFiles()
    // truncate orphans ALL previous data files; with retain=1 + zero
    // grace they are collected immediately
    Seq((99L, Some("z"), 9.9)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir)
      .option("retainVersions", "1").option("gcGraceMs", "0")
      .mode("overwrite").save()                                           // v5
    val after = dataFiles()
    assert(!after.contains("data-stray.tsv"), "stray uncommitted file must be swept")
    assert(after.size == 1, s"only v5's single file may remain, got $after (before: $before)")
    assert(spark.read.format(fmt).option("path", dir).load().count() == 1)
  }

  test("vacuum dry run lists the sweep without deleting; a real pass removes exactly it") {
    val root = tmp()
    val dir = root.toString
    Seq((1L, Some("a"), 0.5)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir).mode("overwrite").save()     // v1
    Seq((2L, Some("b"), 1.5)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir).mode("append").save()        // v2
    Seq((3L, Some("c"), 2.5)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir).mode("overwrite").save()     // v3: orphans v1+v2 data
    val preview = ManifestSink.vacuum(root, retain = 1, orphanGraceMs = 0L) // dryRun default
    assert(preview.dryRun)
    val kinds = preview.candidates.groupBy(_.kind).view.mapValues(_.size).toMap
    assert(kinds.getOrElse("manifest", 0) == 2, s"v1+v2 manifests expirable: $kinds")
    assert(kinds.getOrElse("data", 0) == 2, s"v1+v2 data files orphaned: $kinds")
    assert(preview.reclaimableBytes > 0)
    // the dry run touched NOTHING: full history still present and readable
    assert(Files.exists(ManifestSink.manifestAt(root, 1L)))
    preview.candidates.foreach(c => assert(Files.exists(root.resolve(c.name)), c.name))
    assert(spark.read.format(fmt).option("path", dir)
      .option("versionAsOf", "2").load().count() == 2)
    // the real pass deletes exactly the previewed set, nothing else
    val swept = ManifestSink.vacuum(root, retain = 1, orphanGraceMs = 0L, dryRun = false)
    assert(!swept.dryRun)
    assert(swept.candidates.map(_.name).toSet == preview.candidates.map(_.name).toSet)
    swept.candidates.foreach(c => assert(!Files.exists(root.resolve(c.name)), c.name))
    assert(spark.read.format(fmt).option("path", dir).load().count() == 1)
    intercept[Exception] {
      spark.read.format(fmt).option("path", dir).option("versionAsOf", "2").load()
    }
    // idempotent: nothing left to sweep
    assert(ManifestSink.vacuum(root, retain = 1, orphanGraceMs = 0L).candidates.isEmpty)
  }

  test("change feed reads only the files added inside the version window") {
    val root = tmp()
    val dir = root.toString
    (1 to 3).foreach { i =>
      Seq((i.toLong, Some(s"batch$i"), i * 1.0)).toDF("id", "s", "x")
        .write.format(fmt).option("path", dir).mode("append").save() // v1..v3
    }
    def changes(from: Long, to: Option[Long] = None) = {
      val r = spark.read.format(fmt).option("path", dir)
        .option("changesFromVersion", from.toString)
      to.fold(r)(t => r.option("changesToVersion", t.toString))
        .load().select("id").as[Long].collect().sorted.toSeq
    }
    assert(changes(0) == Seq(1L, 2L, 3L), "from the empty table = full snapshot")
    assert(changes(1) == Seq(2L, 3L))
    assert(changes(2) == Seq(3L))
    assert(changes(3) == Seq.empty)
    assert(changes(1, Some(2L)) == Seq(2L), "bounded window")
    // count(*) over the delta resolves from manifest metadata of the
    // ADDED files only
    val n = spark.read.format(fmt).option("path", dir)
      .option("changesFromVersion", "1").load().count()
    assert(n == 2)
  }

  test("change-feed-driven incremental aggregate maintenance equals full recompute") {
    // the CDF consumption loop: a downstream aggregate is maintained by
    // folding in each publish's delta (partial-aggregate algebra), never
    // rescanning the base table — at 100 TB this is the difference
    // between O(delta) and O(table) per refresh
    val root = tmp()
    val dir = root.toString
    import org.apache.spark.sql.functions._
    (1 to 3).foreach { i =>
      Seq.tabulate(4)(j => ((i * 4 + j).toLong, Some(s"k${j % 2}"), i * 1.0))
        .toDF("id", "s", "x")
        .write.format(fmt).option("path", dir).mode("append").save() // v1..v3
    }
    var view = spark.emptyDataFrame
    (1 to 3).foreach { v =>
      val delta = spark.read.format(fmt).option("path", dir)
        .option("changesFromVersion", (v - 1).toString)
        .option("changesToVersion", v.toString).load()
        .groupBy("s").agg(count(lit(1)).as("n"))
      view = if (v == 1) delta
        else view.unionByName(delta).groupBy("s").agg(sum("n").as("n"))
    }
    val full = spark.read.format(fmt).option("path", dir).load()
      .groupBy("s").agg(count(lit(1)).as("n"))
    assert(view.collect().map(_.toString).sorted.toSeq ==
      full.collect().map(_.toString).sorted.toSeq)
  }

  test("change feed across a truncate fails loudly instead of lying") {
    val root = tmp()
    val dir = root.toString
    Seq((1L, Some("a"), 0.0)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir).mode("append").save()    // v1
    Seq((2L, Some("b"), 0.0)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir).mode("overwrite").save() // v2 truncates
    val e = intercept[Exception] {
      spark.read.format(fmt).option("path", dir)
        .option("changesFromVersion", "1").load().collect()
    }
    assert(e.getMessage.contains("not pure-append"))
    // an expired `from` version (retention GC) also fails loudly
    val e2 = intercept[Exception] {
      spark.read.format(fmt).option("path", dir)
        .option("changesFromVersion", "99").load().collect()
    }
    assert(e2.getMessage.contains("past") || e2.getMessage.contains("does not exist"))
    // an explicit to-bound of 0 must be rejected, not silently resolve
    // to the current snapshot
    val e3 = intercept[Exception] {
      spark.read.format(fmt).option("path", dir)
        .option("changesFromVersion", "0").option("changesToVersion", "0")
        .load().collect()
    }
    assert(e3.getMessage.contains("changesToVersion must be >= 1"))
  }

  test("manifest stats reach Catalyst: a small manifest table wins a broadcast join") {
    val root = tmp()
    val dir = root.toString
    Seq.tabulate(20)(i => (i.toLong, Some(s"dim$i"), i * 1.0)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val dim = spark.read.format(fmt).option("path", dir).load()
    val fact = spark.range(100000).select(col("id") % 20 as "id",
      col("id").as("v"))
    val joined = fact.join(dim, "id")
    val plan = joined.queryExecution.executedPlan.toString
    // without SupportsReportStatistics the DSv2 relation sizes as
    // defaultSizeInBytes and this join can never broadcast
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the tiny manifest dim side to broadcast:\n$plan")
    assert(joined.count() == 100000)
  }

  test("runtime IN filters prune files by min/max before partition planning") {
    val root = tmp()
    val dir = root.toString
    // three files with disjoint id ranges (one task per append)
    Seq(0 until 10, 10 until 20, 20 until 30).foreach { r =>
      r.map(i => (i.toLong, Some(s"v$i"), 0.0)).toDF("id", "s", "x")
        .coalesce(1)
        .write.format(fmt).option("path", dir).mode("append").save()
    }
    val scan = new ManifestScanBuilder(root).build().asInstanceOf[ManifestScan]
    // binned read partitions still PLAN all three files
    def files(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      ps.flatMap {
        case b: ManifestBinPartition => b.members
        case p: ManifestFilePartition => Seq(p)
      }
    assert(files(scan.planInputPartitions()).length == 3)
    def planned() = files(scan.planInputPartitions()).length
    // integer columns prune by min/max stats; STRING columns are also
    // advertised (blooms + truncated bounds — DppSpec proves that
    // path); the stat-less double stays out
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("id", "s"))
    // a join's runtime key set arrives as an IN filter: only the file
    // whose [min,max] covers a key survives
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array(5L, 7L))))
    assert(planned() == 1)
    // reported statistics narrow with the pruned set
    assert(scan.estimateStatistics().numRows().getAsLong == 10L)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array(999L))))
    assert(planned() == 0)
  }

  test("compact bin-packs small files into a rewrite version: same data, fewer files, history intact") {
    val root = tmp()
    val dir = root.toString
    (1 to 6).foreach { i =>
      Seq((i.toLong, Some(s"r$i"), i * 1.0)).toDF("id", "s", "x")
        .write.format(fmt).option("path", dir).mode("append").save() // v1..v6
    }
    assert(ManifestSink.committedEntries(root).size == 6)
    val res = ManifestSink.compact(dir, targetRows = 3L)
    assert(res.version == 7L && res.rewrittenFiles == 6 && res.rewrittenRows == 6L)
    assert(res.filesAfter == 2, s"6 one-row files must pack into 2 three-row bins: $res")
    assert(ManifestSink.isRewriteVersion(root, 7L))
    // data byte-identical through the rewrite
    val got = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, Option[String], Double)].collect().sortBy(_._1).toSeq
    assert(got == (1 to 6).map(i => (i.toLong, Some(s"r$i"), i * 1.0)))
    // merged stats compose: min/max survive for file skipping
    val entries = ManifestSink.committedEntries(root)
    assert(entries.map(_.rows).sum == 6L)
    assert(entries.flatMap(_.mins.get("id")).min == 1L)
    assert(entries.flatMap(_.maxs.get("id")).max == 6L)
    // time travel still sees the pre-compaction layout
    val pinned = spark.read.format(fmt).option("path", dir)
      .option("versionAsOf", "6").load()
    assert(pinned.count() == 6)
    assert(plannedFiles(pinned) == 6, "v6 snapshot keeps all six original files")
    // idempotent: nothing left under targetRows worth packing
    val again = ManifestSink.compact(dir, targetRows = 3L)
    assert(again.rewrittenFiles == 0 && again.version == 7L,
      s"re-compaction must be a no-op, got $again")
  }

  test("change feed skips a rewrite version: no row is ever re-delivered") {
    val root = tmp()
    val dir = root.toString
    (1 to 3).foreach { i =>
      Seq((i.toLong, Some(s"a$i"), 0.0)).toDF("id", "s", "x")
        .write.format(fmt).option("path", dir).mode("append").save() // v1..v3
    }
    ManifestSink.compact(dir, targetRows = 10L)                      // v4 (rewrite)
    Seq((4L, Some("post"), 0.0)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir).mode("append").save()   // v5
    def changes(from: Long) = spark.read.format(fmt).option("path", dir)
      .option("changesFromVersion", from.toString)
      .load().select("id").as[Long].collect().sorted.toSeq
    assert(changes(0) == Seq(1L, 2L, 3L, 4L), "full history, nothing doubled by the rewrite")
    assert(changes(2) == Seq(3L, 4L), "window spanning the rewrite sees only real appends")
    assert(changes(4) == Seq(4L), "from the rewrite version itself: only the later append")
    // the snapshot read, by contrast, uses the compacted layout
    val snap = spark.read.format(fmt).option("path", dir).load()
    assert(snap.count() == 4 && plannedFiles(snap) == 2,
      "post-compaction snapshot: one merged file + one appended file")
  }

  test("GC after compaction reclaims the small files once their versions expire") {
    val root = tmp()
    val dir = root.toString
    (1 to 4).foreach { i =>
      Seq((i.toLong, Some(s"g$i"), 0.0)).toDF("id", "s", "x")
        .write.format(fmt).option("path", dir).mode("append").save() // v1..v4
    }
    val smallFiles = ManifestSink.committedEntries(root).map(_.name)
    ManifestSink.compact(dir, targetRows = 10L)                      // v5 (rewrite)
    // originals survive while pre-compaction versions are retained
    assert(smallFiles.forall(f => Files.exists(root.resolve(f))))
    ManifestSink.expireVersions(root, retain = 1, orphanGraceMs = 0L)
    assert(smallFiles.forall(f => !Files.exists(root.resolve(f))),
      "expired versions were the last references to the rewritten small files")
    val got = spark.read.format(fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L), "table intact after GC of the rewritten files")
  }

  test("min/max push down to manifest stats: answered with zero data-file reads") {
    val root = tmp()
    val dir = root.toString
    (1 to 3).foreach { i =>
      Seq((i * 10L, Some(s"m$i"), i * 1.0)).toDF("id", "s", "x")
        .write.format(fmt).option("path", dir).mode("append").save()
    }
    ManifestSink.compact(dir, targetRows = 2L) // merged stats must serve too
    // deleting every data file proves no scan happens
    ManifestSink.committedEntries(root).foreach(e =>
      Files.delete(root.resolve(e.name)))
    val row = spark.read.format(fmt).option("path", dir).load()
      .agg(min("id"), max("id"), count(lit(1))).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((10L, 30L, 3L)))
  }

  test("aggregate pushdown bails to a real scan for filters or stat-less columns") {
    val root = tmp()
    val dir = root.toString
    Seq((1L, Some("p"), 2.5), (5L, Some("q"), 7.5)).toDF("id", "s", "x")
      .write.format(fmt).option("path", dir).mode("append").save()
    val t = spark.read.format(fmt).option("path", dir).load()
    // a WHERE clause disables metadata answers (stats are file-granular)
    assert(t.filter(col("id") > 1L).agg(count(lit(1))).collect().head.getLong(0) == 1L)
    // min over a double column has no manifest stats: real scan, right answer
    assert(t.agg(min("x")).collect().head.getDouble(0) == 2.5)
    // mixed pushable + unpushable aggregates must not half-push
    val r = t.agg(min("id"), min("x")).collect().head
    assert((r.getLong(0), r.getDouble(1)) == ((1L, 2.5)))
  }

  test("append commits rebase and retry on a lost CAS: N concurrent appenders ALL land") {
    val root = tmp()
    Seq((0L, Some("seed"), 0.0)).toDF("id", "s", "x")
      .write.format(fmt).option("path", root.toString).mode("overwrite").save()
    val schema = ManifestSink.readSchema(root)
    // protocol-level appenders racing on the same base version: without
    // retry-with-rebase exactly one would win per round and the rest
    // would throw; with it (append file sets are disjoint by
    // construction, so a rebase is always semantics-preserving) every
    // appender must land. A truncate keeps losing loudly — it decided
    // what to destroy from a state that no longer exists.
    val n = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val futures = (1 to n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            start.await()
            ManifestSink.publishCommit(root, schema, truncateFirst = false,
              Seq(ManifestSink.FileEntry(s"data-conc-$i.tsv", 1L, Map.empty, Map.empty)),
              markerUpdate = None, GcPolicy(None, 3600000L))
          }
        })
      }
      start.countDown()
      futures.foreach(_.get()) // every appender must succeed — no losers
    } finally pool.shutdown()
    assert(ManifestSink.currentVersion(root) == 1L + n,
      "each rebased append publishes exactly one version")
    val names = ManifestSink.committedEntries(root).map(_.name)
    assert((1 to n).forall(i => names.contains(s"data-conc-$i.tsv")),
      s"every concurrent append must be visible, got $names")
  }

  test("GC sweeps orphaned manifest.tmp/schema.json.tmp staging files past the grace window") {
    val root = tmp()
    def append(v: Long): Unit =
      Seq((v, Some("r"), 0.0)).toDF("id", "s", "x")
        .write.format(fmt).option("path", root.toString).mode("append").save()
    append(1); append(2)
    // leftovers of writers that died between writeString and link/move
    Files.writeString(root.resolve("manifest.tmp-dead"), "{}")
    Files.writeString(root.resolve("schema.json.tmp-dead"), "{}")
    ManifestSink.expireVersions(root, retain = 1, orphanGraceMs = 0L)
    assert(!Files.exists(root.resolve("manifest.tmp-dead")),
      "orphaned manifest staging file must be swept")
    assert(!Files.exists(root.resolve("schema.json.tmp-dead")),
      "orphaned schema staging file must be swept")
    // the live table is untouched
    assert(spark.read.format(fmt).option("path", root.toString).load().count() == 2)
  }
}
