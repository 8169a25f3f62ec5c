package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Staging, Tables}
import graft.functions.GraftFunctions._

/** The reference's ingest/extract operator set (rws_data_ingester
  * src/rotterdam_swimming_advice.py) re-expressed as reusable, scalable
  * Spark operators over the fixture tables:
  *
  *   - q30 first-match-with-default  — P2 (:59-62) / E2 (:170-185)
  *   - q31 kv-pairs → map            — P3 (:65-76)
  *   - q32 concat-aggregate          — P4 (:79-80) / A1 (:111-115)
  *   - q33 error-tolerant parse      — P6 (:94-95) / S2 (:138-141)
  *   - q34 template/report format    — E5 (:192-227) / K1-K2 (:248-296)
  *   - q35 keyed fan-out scan        — S4 (:98-109)
  *   - q36 multi-source union        — S3 (:144-155) / S5 (:32-34)
  *
  * All composed from codegen'd built-ins (array HOFs, map_from_entries,
  * format/concat) — the reference's row-at-a-time Python loops become
  * single narrow whole-stage-codegen projections, so the same plans hold
  * at 100 TB (no driver-side iteration anywhere).
  */
object IngestOps {
  type Q = (SparkSession, String) => DataFrame

  /** [[Staging.once]] owner of this module's (applicationId, key) stagings. */
  private val orcWritten = new Object

  /** Shared staging for the row-lineage queries (q178/q180): the
    * deterministically-numbered orders_rl table — v1 CREATE, v2
    * range-sorted append (ids = global o_orderkey rank), v3 CoW DELETE,
    * v4 UPDATE (ids preserved, versions stamped). Returns the
    * namespace. */
  private def stageLineageTable(s: SparkSession, dir: String): String = {
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
      s.sparkContext.applicationId
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val ns = s"db${Integer.toHexString(dir.hashCode)}"
    Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"rl:$dir")) {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
      s.sql(s"CREATE TABLE graft.$ns.orders_rl " +
        "(o_orderkey BIGINT, o_custkey BIGINT, o_orderpriority STRING)") // v1
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .writeTo(s"graft.$ns.orders_rl").append() // v2: ids 0..N-1 by key rank
      s.sql(s"DELETE FROM graft.$ns.orders_rl WHERE o_custkey % 5 = 2") // v3: CoW
      s.sql(s"UPDATE graft.$ns.orders_rl SET o_orderpriority = 'L-TOUCHED' " +
        "WHERE o_orderkey % 3 = 0") // v4: ids kept, last-updated bumps
    }
    ns
  }

  /** Exact 2-decimal rendering of integer cents — portable to DuckDB
    * without printf rounding-mode drift. Handles negatives. */
  private def centsToString(c: org.apache.spark.sql.Column) = {
    val sign = when(c < 0, "-").otherwise("")
    val a = abs(c)
    concat(sign, floor(a / lit(100L)).cast("long").cast("string"), lit("."),
      lpad((a % lit(100L)).cast("string"), 2, "0"))
  }
  private val centsToStringSql = (c: String) =>
    s"(CASE WHEN $c < 0 THEN '-' ELSE '' END || CAST(abs($c)//100 AS VARCHAR) || '.' || lpad(CAST(abs($c)%100 AS VARCHAR), 2, '0'))"

  /** q197's raw-markup kernels, factored over an arbitrary markup
    * column so specs can drive ADVERSARIAL markup through the exact
    * expressions the query runs. `tagContents` captures inner text of
    * every well-formed `<tag …>…</tag>` pair (lazy match, `.` stops at
    * nothing — (?s) not set so content is same-line… the fixture
    * builder emits single-line markup and the oracle mirrors the
    * dialect); `strippedText` is the get_text() twin. */
  private[graft] def tagContents(markup: org.apache.spark.sql.Column,
      tag: String): org.apache.spark.sql.Column =
    regexp_extract_all(markup, lit(s"<$tag[^>]*>(.*?)</$tag>"), lit(1))

  private[graft] def strippedText(
      markup: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(markup, "<[^>]+>", " "), " +", " "))

  /** The regex kernels' WELL-FORMEDNESS boundary, made explicit: they
    * assume balanced open/close pairs, no same-tag nesting, and no `>`
    * inside attribute values (SURVEY §7.3's no-JVM-parser constraint —
    * the reference's BeautifulSoup+lxml silently REPAIRS such markup,
    * rotterdam_swimming_advice.py:52-95). This guard detects each
    * violation and returns its message — NULL only for markup the
    * kernels parse faithfully — so a pipeline routes broken pages into
    * the q33-style error channel instead of shipping silently
    * mis-extracted text. One scan, pure codegen'd string expressions;
    * spec-only contract (q197's fixture markup is well-formed by
    * construction, so its oracle is untouched). */
  private[graft] def markupError(markup: org.apache.spark.sql.Column,
      tags: Seq[String]): org.apache.spark.sql.Column = {
    val perTag = tags.flatMap { t =>
      val opens = size(regexp_extract_all(markup, lit(s"<$t(\\s[^>]*)?>"), lit(0)))
      val closes = size(regexp_extract_all(markup, lit(s"</$t>"), lit(0)))
      val nested = markup.rlike(s"(?s)<$t(\\s[^>]*)?>((?!</$t>).)*?<$t[\\s>]")
      Seq(
        when(opens =!= closes, lit(s"unbalanced <$t> (unclosed or stray close)")),
        when(nested, lit(s"nested <$t> inside <$t>")))
    }
    // a tag-open whose quote count is odd means a quoted attribute value
    // contained '>' and the `[^>]*` boundary cut it mid-value
    val oddQuote = exists(
      regexp_extract_all(markup, lit("<[^>]+>"), lit(0)),
      t => (length(t) - length(regexp_replace(t, "\"", ""))) % 2 === 1)
    coalesce(perTag :+
      when(oddQuote, lit("attribute value contains '>' (tag boundary cut mid-quote)")): _*)
  }

  val queries: Map[String, Q] = Map(
    // P2/E2: first element of an ordered collection matching a contains-
    // predicate, with a default when nothing matches — the reference's
    // `next(item for item in related if "Wind" in item["label"])`.
    "q30_first_match_default" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val firstMatch = element_at(
        filter(col("evs"), x => x.getField("event_type").contains("purch")), 1)
      e.groupBy("user_id")
        .agg(sort_array(collect_list(
          struct(col("ts_us"), col("event_type"), col("value")))).as("evs"))
        .select(col("user_id"),
          coalesce(firstMatch.getField("value"), lit(-1.0)).as("first_purchase_value"),
          coalesce(firstMatch.getField("ts_us"), lit(-1L)).as("first_purchase_ts"))
        .orderBy("user_id")
    }),

    // P3: "key: value" strings split, trimmed, and gathered into a MapType,
    // then projected by key — the reference's spot-info dict build.
    "q31_kv_to_map" -> ((s, dir) => {
      val kvs = array(
        concat(lit("brand: "), col("p_brand")),
        concat(lit("type: "), col("p_type")),
        concat(lit("size: "), col("p_size").cast("string")))
      Tables.part(s, dir)
        .select(col("p_partkey"), map_from_entries(transform(kvs,
          kv => struct(trim(element_at(split(kv, ":"), 1)),
            trim(element_at(split(kv, ":"), 2))))).as("m"))
        .select(col("p_partkey"),
          element_at(col("m"), "brand").as("brand"),
          element_at(col("m"), "type").as("ptype"),
          element_at(col("m"), "size").as("size_str"),
          mapToSortedString(col("m")).as("kv"))
        .orderBy("p_partkey")
    }),

    // P4/A1: gather-all + "\n".join — fingerprinted with md5 so the oracle
    // compares a bounded value instead of a megabyte blob.
    "q32_concat_agg" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(md5(array_join(sort_array(collect_list(col("text"))), "\n")).as("blob_md5"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }),

    // P6/S2: try-parse-else-error-record. Every 10th payload is corrupted;
    // the parse failure becomes a typed {error, raw} channel instead of a
    // job failure, downstream filterable — the reference's :94-95.
    "q33_error_tolerant_parse" -> ((s, dir) => {
      val raw = when(col("event_id") % 10 === 0, concat(lit("oops"), col("props")))
        .otherwise(col("props"))
      val parsed = from_json(raw, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType))))
      Tables.events(s, dir)
        .withColumn("raw", raw)
        .withColumn("k", parsed.getField("k"))
        .select(col("event_id"),
          coalesce(col("k"), lit(-1)).as("k"),
          when(col("k").isNull, 1).otherwise(0).as("is_err"),
          when(col("k").isNull, substring(col("raw"), 1, 4)).otherwise(lit("")).as("raw_head"))
        .orderBy("event_id")
    }),

    // E5/K1/K2: multi-line template assembly + the "\n" -> "<br>" sink
    // rewrite. Money is rendered from exact cents (no printf drift).
    "q34_template_report" -> ((s, dir) => {
      val joined = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      val agg = joined.groupBy("n_name")
        .agg(countDistinct(col("c_custkey")).as("n_customers"),
          sum(cents(col("o_totalprice"))).as("total_cents"),
          max(col("o_orderdate")).as("last_order"))
      agg.select(col("n_name"),
        concat(
          lit("Report for "), col("n_name"), lit("\n"),
          lit("- customers: "), col("n_customers").cast("string"), lit("\n"),
          lit("- order total: "), centsToString(col("total_cents")), lit("\n"),
          lit("- last order: "), date_format(col("last_order"), "yyyy-MM-dd")).as("report"))
        .withColumn("report_html", regexp_replace(col("report"), "\n", "<br>"))
        .orderBy("n_name")
    }),

    // S4: a tiny id dimension drives the scan (the reference's
    // ZWEMWATER_IDS fan-out) — broadcast-joined, never collected.
    "q35_fanout_scan" -> ((s, dir) => {
      import s.implicits._
      val ids = Seq(2L, 5L, 7L, 11L).toDF("user_id")
      // Broadcast-semi-filter the big fact table BEFORE aggregating (an
      // outer join can never broadcast its preserved side: build-left on
      // a left-outer is rejected and the hint silently degrades to a full
      // shuffle of `e`). The semi join prunes the scan to the 4 requested
      // ids, the aggregate is then tiny, and the final left-outer
      // broadcasts that tiny aggregate against the id dimension.
      val e = Tables.events(s, dir)
        .join(broadcast(ids), Seq("user_id"), "left_semi")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("sum_cents"))
      ids.join(broadcast(e), Seq("user_id"), "left")
        .select(col("user_id"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          (coalesce(col("sum_cents"), lit(0L)).cast("double") / lit(100.0)).as("sum_value"))
        .orderBy("user_id")
    }),

    // S1: the JSON document source — payloads parsed against a declared
    // schema (the reference's response.json() with explicit structure).
    // The JSON lines are derived in-memory from the fixture so the oracle
    // can check the round-trip exactly.
    // P1 CLOSED OUT: raw-MARKUP text extraction with no HTML
    // dependency (reference src/rotterdam_swimming_advice.py:52-95 —
    // BeautifulSoup get_text/select over page markup; SURVEY §7.3
    // records the no-JVM-parser constraint this regexp form answers).
    // The markup column is built deterministically from `documents`
    // (title/h1/two paragraphs/a list item; every 7th doc omits the h1
    // so the P2 first-match DEFAULT path runs), then parsed back with
    // pure codegen'd string expressions: tag-content extraction via
    // regexp_extract_all with a capture group, tag STRIPPING via
    // `<[^>]+>` → space + whitespace normalization — the get_text()
    // twin. Both regex dialects (Java here, RE2 in the oracle) treat
    // `.` as not-newline and `*?` lazily, so the semantics replay
    // bit-for-bit. Scale shape: one scan, zero joins/shuffles before
    // the final orderBy; at 100 TB this is the mapper every HTML
    // ingest pipeline runs.
    "q197_html_extract" -> ((s, dir) => {
      val head = concat(lit("<html><head><title>d"), col("doc_id"),
        lit("</title></head><body>"))
      val h1 = concat(lit("<h1 class=\"src\">"), col("source"), lit("</h1>"))
      val body = concat(
        lit("<p id=\"a\">"),
        expr("substring(text, 1, n_chars div 2)"), lit("</p>"),
        lit("<p id=\"b\">"),
        expr("substring(text, n_chars div 2 + 1, n_chars)"), lit("</p>"),
        lit("<ul><li>lang="), col("lang"), lit("</li></ul></body></html>"))
      Tables.documents(s, dir)
        .withColumn("markup",
          when(col("doc_id") % 7 === 0, concat(head, body))
            .otherwise(concat(head, h1, body)))
        .select(col("doc_id"),
          coalesce(try_element_at(tagContents(col("markup"), "h1"), lit(1)),
            lit("untitled")).as("title"),
          size(tagContents(col("markup"), "p")).cast("long").as("n_paras"),
          element_at(tagContents(col("markup"), "p"), 1).as("first_para"),
          strippedText(col("markup")).as("clean_text"))
        .orderBy("doc_id")
    }),

    "q38_json_source" -> ((s, dir) => {
      import s.implicits._
      val lines = Tables.events(s, dir)
        .select(to_json(struct(col("event_id"), col("event_type"), col("value"))).as("j"))
        .as[String]
      s.read
        .schema("event_id LONG, event_type STRING, value DOUBLE")
        .json(lines)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
        .orderBy("event_type")
    }),

    // S2: the CSV/text source path with an explicit schema + header-less
    // lines (the reference's raw-text fallback channel).
    "q39_csv_source" -> ((s, dir) => {
      import s.implicits._
      val lines = Tables.events(s, dir)
        .select(concat_ws(",", col("event_id"), col("event_type"), col("value")).as("c"))
        .as[String]
      s.read
        .schema("event_id LONG, event_type STRING, value DOUBLE")
        .csv(lines)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
        .orderBy("event_type")
    }),

    // S4 at scale: the custom DataSource V2 fan-out source — one
    // InputPartition per id (see graft.sources.FanoutSource), column
    // pruning pushed into the reader. Payloads are deterministic, so the
    // oracle reproduces the whole scan with generate_series.
    "q76_dsv2_fanout" -> ((s, dir) => {
      s.read.format("graft.sources.FanoutSource")
        .option("ids", "2,5,7,11")
        .option("rowsPerId", "1000")
        .load()
        .groupBy("source_id")
        .agg(count(lit(1)).as("n"), sum(col("seq")).as("sum_seq"),
          max(length(col("payload"))).as("max_payload_len"))
        .orderBy("source_id")
    }),

    // ORC sink + source round-trip: the same events aggregate after a
    // pass through Spark's second columnar format. The read-side filter
    // pushes into the ORC scan (predicate pushdown is format-generic in
    // the DSv1 file source), and the oracle checks the aggregate against
    // the ORIGINAL parquet — so a lossy round-trip would hash-mismatch.
    "q85_orc_roundtrip" -> ((s, dir) => {
      // NOTE: constructing this DataFrame runs the ORC write once per
      // (application, dir) — the path carries the applicationId so
      // concurrent sessions never race on the same directory, and the
      // memo keeps plan-only inspection (PlanAudit) from re-running the
      // write job on every construction.
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_orc_" +
        s"${s.sparkContext.applicationId}_${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, dir)) {
        Tables.events(s, dir)
          .select("event_id", "user_id", "event_type", "value", "ts_us")
          .write.mode("overwrite").orc(out)
      }
      s.read.orc(out)
        .filter(col("value") > 50)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
        .orderBy("event_type")
    }),

    // Manifest-table OPTIMIZE end to end: orders land in the DSv2
    // manifest table across four small appends (the streaming
    // steady-state that proliferates small files), compact() bin-packs
    // them as a dataChange=false rewrite under the same CAS as any
    // commit, and the aggregate reads the compacted layout. Checked
    // against the ORIGINAL parquet — a compaction that lost, duplicated
    // or reordered one byte of a row would hash-mismatch. At 100 TB this
    // is the nightly table-maintenance loop: scan parallelism follows
    // data-sized files again instead of one task per streaming epoch.
    "q124_manifest_optimize" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_opt_" +
        s"${s.sparkContext.applicationId}_${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"opt:$dir")) {
        val o = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        (0 to 3).foreach { b =>
          o.filter(col("o_orderkey") % 4 === b).repartition(3)
            .write.format("graft.sources.ManifestSink").option("path", out)
            .mode(if (b == 0) "overwrite" else "append").save()
        }
        // targetRows derives from the TABLE's row count (a metadata-only
        // count off the manifest — no data I/O) so the rewrite actually
        // runs at every scale factor: a fixed constant is a no-op the
        // moment per-file rows outgrow it, silently un-exercising the
        // OPTIMIZE path this query exists to check. 12 files of ~n/12
        // rows against a n/4 bin target pack 3-to-a-bin at any SF.
        val n = s.read.format("graft.sources.ManifestSink").option("path", out)
          .load().count()
        val res = graft.sources.ManifestSink.compact(out, targetRows = math.max(1L, n / 4))
        require(res.rewrittenFiles > 0,
          s"q124 compaction rewrote nothing (files=${res.filesBefore}) — " +
            "the OPTIMIZE path must actually run")
      }
      s.read.format("graft.sources.ManifestSink").option("path", out).load()
        .groupBy((col("o_orderkey") % 4).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("bucket")
    }),

    // Quantile statistics served from manifest metadata: orders land in
    // a manifest table that opted a column into per-file value-sample
    // sketches (TBLPROPERTIES 'quantile.columns'), across four appends
    // (four files, four independent sketches), then OPTIMIZE bin-merges
    // the files — and the sketches with them. The stats view answers
    // quartiles from the MERGED table-level sample without touching a
    // data file, and the oracle replays the identical bottom-k (same
    // md5 priorities) from the raw rows: a dropped value, a biased
    // merge, or a quantile convention drift all hash-fail. At 100 TB
    // this is how an operator reads a join key's distribution (skew,
    // spread, salting decisions) in milliseconds from kilobytes of
    // metadata instead of a full-column scan.
    "q189_quantile_stats" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"qs:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_qs " +
          "(o_orderkey BIGINT, o_custkey BIGINT) " +
          "TBLPROPERTIES ('quantile.columns' = 'o_custkey')")
        val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
        (0 to 3).foreach(b =>
          o.filter(col("o_orderkey") % 4 === b)
            .writeTo(s"graft.$ns.orders_qs").append())
        val n = s.table(s"graft.$ns.orders_qs").count()
        val res = s.sql(s"CALL graft.system.optimize(table => '$ns.orders_qs', " +
          s"target_rows => ${math.max(1L, n / 2)})").collect().head
        require(res.getAs[Int]("rewritten_files") > 0,
          "q189 compaction rewrote nothing — the sketch-merge path must run")
      }
      s.sql(s"SELECT column, q25, q50, q75 FROM graft.$ns.orders_qs.stats " +
        "WHERE column = 'o_custkey'")
    }),

    // SQL VIEW on the lakehouse catalog end to end (GraftCatalog as a
    // DSv2 ViewCatalog + the GraftViews analyzer wiring): CREATE VIEW
    // stores the SQL text beside the table directories, a SELECT
    // through the view re-resolves it against the table's CURRENT
    // manifest snapshot, and the outer predicate pushes through the
    // expanded body into the scan. Checked against the raw parquet:
    // the view's aggregate must be lossless. At 100 TB views are the
    // governed query surface — consumers address curated SQL by name,
    // never a physical layout.
    "q193_catalog_view" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"view:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_v " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .writeTo(s"graft.$ns.orders_v").append()
        s.sql(s"CREATE OR REPLACE VIEW graft.$ns.even_orders AS " +
          "SELECT o_custkey, count(*) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents " +
          s"FROM graft.$ns.orders_v WHERE o_orderkey % 2 = 0 GROUP BY o_custkey")
      }
      s.sql(s"SELECT o_custkey, n, cents FROM graft.$ns.even_orders " +
        "WHERE o_custkey % 10 = 1 ORDER BY o_custkey")
    }),

    // Catalog SQL end to end: the manifest table reachable BY NAME —
    // CREATE NAMESPACE/TABLE through graft.sources.GraftCatalog, a DSv2
    // append via writeTo, then plain spark.sql against the three-part
    // name. Checked against the original parquet: the DDL+DML round trip
    // must be lossless. At 100 TB the catalog is how anything beyond one
    // notebook addresses the table (names, not paths).
    "q125_catalog_sql" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"cat:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.customer_t " +
          "(c_custkey BIGINT, c_nationkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)")
        Tables.customer(s, dir)
          .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
          .writeTo(s"graft.$ns.customer_t").append()
      }
      s.sql(
        s"""SELECT c_mktsegment, count(*) AS n,
           |  sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS cents_sum,
           |  min(c_custkey) AS min_key
           |FROM graft.$ns.customer_t
           |WHERE c_custkey % 3 = 0
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }),

    // Copy-on-write DELETE through SQL: rows leave the table by manifest
    // version (affected files rewritten, untouched files carried by
    // reference) and the survivors must equal the oracle's NOT(pred)
    // relation exactly. The pre-delete snapshot stays time-travelable —
    // the spec pins that; this query pins the data path.
    "q126_cow_delete" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"del:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
          .repartition(4)
          .writeTo(s"graft.$ns.orders_t").append()
        s.sql(s"DELETE FROM graft.$ns.orders_t " +
          "WHERE o_orderpriority = '1-URGENT' OR o_custkey % 10 = 3")
      }
      s.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents_sum,
           |  max(o_orderkey) AS max_key
           |FROM graft.$ns.orders_t
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // Copy-on-write UPDATE through SQL: Spark's group-based row-level
    // rewrite (RewriteUpdateTable → ReplaceData) — only files whose
    // stats may hold matching rows are rewritten (runtime group filter
    // + manifest min/max pruning), untouched files carried by
    // reference, one CAS publish swaps them. Checked against the
    // oracle's CASE-expression relation over the original parquet: a
    // rewrite that modified a non-matching row, dropped one, or missed
    // a matching one hash-mismatches. No float arithmetic in the SET —
    // updated prices are carried verbatim so cents-hashing is exact.
    "q127_sql_update" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"upd:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_u " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
          .repartition(4)
          .writeTo(s"graft.$ns.orders_u").append()
        s.sql(s"UPDATE graft.$ns.orders_u " +
          "SET o_orderpriority = concat('U-', o_orderpriority), " +
          "    o_custkey = o_custkey + 1000000 " +
          "WHERE o_custkey % 7 = 0")
      }
      s.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents_sum,
           |  min(o_custkey) AS min_ck, max(o_orderkey) AS max_key
           |FROM graft.$ns.orders_u
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // MERGE INTO through SQL (RewriteMergeIntoTable → ReplaceData):
    // matched-and-delete, matched-update and not-matched-insert clauses
    // in one statement — the warehouse upsert shape (the reference's
    // cron loop IS an upsert-shaped publish, generate.sh:13-17). The
    // source shifts order keys by one so matches hit REAL key gaps in
    // the data, and the oracle rebuilds the merged relation with a
    // LEFT JOIN + NOT EXISTS over the original parquet.
    "q128_sql_merge" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"mrg:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_m " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)")
        val src = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        src.repartition(4).writeTo(s"graft.$ns.orders_m").append()
        src.createOrReplaceTempView("orders_merge_src")
        s.sql(
          s"""MERGE INTO graft.$ns.orders_m t
             |USING (SELECT o_orderkey + 1 AS o_orderkey, o_custkey,
             |              o_totalprice, o_orderpriority
             |       FROM orders_merge_src WHERE o_orderkey % 4 = 0) s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED AND t.o_custkey % 10 = 1 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET o_orderpriority = 'M-MERGED'
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      s.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents_sum,
           |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           |FROM graft.$ns.orders_m
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // Partitioned manifest table end to end: CREATE ... PARTITIONED BY,
    // clustered per-partition data files, then a partition-pruned read —
    // the filter on the partition column drops non-matching files from
    // the scan EXACTLY (manifest partition tuples, checked before
    // min/max stats), and a dynamic INSERT OVERWRITE replaces one
    // partition while the rest are carried by reference. Checked against
    // the oracle's reconstruction over the original parquet. At 100 TB
    // partition pruning is the first and cheapest 1000× : a day-filtered
    // query over a day-partitioned table opens 1/365th of the files
    // before any stats or data I/O.
    "q129_partitioned_table" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"part:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_p " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING) " +
          "PARTITIONED BY (o_orderpriority)")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
          .writeTo(s"graft.$ns.orders_p").append()
        // dynamic overwrite: rebuild ONLY the 1-URGENT partition with its
        // keys shifted — proves partition replacement composes with the
        // pruned read below
        val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try s.sql(
          s"""INSERT OVERWRITE graft.$ns.orders_p
             |SELECT o_orderkey + 10000000, o_custkey, o_totalprice, o_orderpriority
             |FROM graft.$ns.orders_p WHERE o_orderpriority = '1-URGENT'""".stripMargin)
        finally prev.fold(s.conf.unset("spark.sql.sources.partitionOverwriteMode"))(
          v => s.conf.set("spark.sql.sources.partitionOverwriteMode", v))
      }
      s.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents_sum,
           |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           |FROM graft.$ns.orders_p
           |WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // ALTER TABLE schema evolution through the catalog: gen-1 files are
    // written as (o_orderkey, o_totalprice); then ADD COLUMN
    // o_orderpriority and RENAME o_totalprice → price, metadata-only
    // (no file rewritten); gen-2 files carry all three. The read
    // reconciles per file — old files null-fill the added column and
    // resolve the renamed one through the column mapping — and coalesce
    // supplies the default, the same `.get(key, default)` tolerance the
    // reference's schemaless dicts give it (rws_data_ingester
    // src/rotterdam_swimming_advice.py:169,173). q101 proves the same
    // semantics for raw-parquet mergeSchema reads; this one proves it
    // for the TABLE FORMAT, where history additionally pins each
    // version's schema.
    "q130_alter_table" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"alt:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_a (o_orderkey BIGINT, o_totalprice DOUBLE)")
        val src = Tables.orders(s, dir)
        src.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice")
          .writeTo(s"graft.$ns.orders_a").append()
        s.sql(s"ALTER TABLE graft.$ns.orders_a ADD COLUMN o_orderpriority STRING")
        s.sql(s"ALTER TABLE graft.$ns.orders_a RENAME COLUMN o_totalprice TO price")
        src.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice").as("price"),
            col("o_orderpriority"))
          .writeTo(s"graft.$ns.orders_a").append()
      }
      s.sql(
        s"""SELECT coalesce(o_orderpriority, '-') AS prio, count(*) AS n,
           |  sum(CAST(round(price * 100) AS BIGINT)) AS cents_sum,
           |  max(o_orderkey) AS max_key
           |FROM graft.$ns.orders_a
           |GROUP BY 1 ORDER BY prio""".stripMargin)
    }),

    // Merge-on-read DELETE via positional deletion vectors: the table is
    // created with TBLPROPERTIES delete.mode = merge-on-read, so the
    // same SQL DELETE that q126 runs copy-on-write instead writes
    // dv-*.txt sidecars recording deleted row positions — no data file
    // is rewritten (a point delete against a 1 GB file costs a kilobyte
    // sidecar, not a 1 GB rewrite at 100 TB). Readers merge the vector
    // at scan; OPTIMIZE later purges it. Identical oracle relation to
    // the CoW delete: the two strategies must be observationally
    // equivalent on reads.
    "q132_mor_delete" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"mor:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_mor " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING) " +
          "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
          .repartition(4)
          .writeTo(s"graft.$ns.orders_mor").append()
        s.sql(s"DELETE FROM graft.$ns.orders_mor " +
          "WHERE o_orderpriority = '1-URGENT' OR o_custkey % 10 = 3")
      }
      s.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents_sum,
           |  max(o_orderkey) AS max_key
           |FROM graft.$ns.orders_mor
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // Table history as a queryable metadata view (`db.t.history` —
    // Iceberg-style suffix identifier, planned as a LOCAL relation:
    // manifest-derived kilobytes never touch executors). The table runs
    // a deterministic commit sequence — create, a 4-file append, a CoW
    // delete — and the view must report each version's operation kind
    // and exact row counts; the oracle reconstructs the same ledger
    // relationally from the source data.
    "q133_table_history" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"hist:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_h " +
          "(o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
          .repartition(4)
          .writeTo(s"graft.$ns.orders_h").append()
        s.sql(s"DELETE FROM graft.$ns.orders_h WHERE o_orderpriority = '1-URGENT'")
      }
      s.sql(
        s"""SELECT version, operation, files,
           |  rows AS n_rows, live_rows AS n_live
           |FROM graft.$ns.orders_h.history ORDER BY version""".stripMargin)
    }),

    // ROW LINEAGE end to end (_row_id/_last_updated_version — the
    // Iceberg v3 shape): a range-partitioned SORTED append makes id
    // assignment deterministic (the publisher numbers files in commit
    // order, so ids = global o_orderkey rank no matter where the range
    // boundaries fall), a copy-on-write DELETE must carry survivor ids
    // through the physical rewrite, and an UPDATE must keep every
    // row's id while bumping ONLY the updated rows' last-updated
    // (PRESERVE_ON_UPDATE=false on that column). The oracle replays
    // the numbering with row_number() and both predicates — any
    // renumbering, id loss, or version mis-stamp hash-mismatches. At
    // 100 TB lineage is what makes incremental consumers exact:
    // a stable key that survives compaction, deletes and updates,
    // costing ~20 manifest bytes per file instead of a stored column.
    // (Staging shared with q180: v1 CREATE, v2 sorted append, v3 CoW
    // DELETE o_custkey%5=2, v4 UPDATE o_orderkey%3=0 → 'L-TOUCHED'.)
    "q178_row_lineage" -> ((s, dir) => {
      val ns = stageLineageTable(s, dir)
      s.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  sum(_row_id) AS rid_sum, min(_row_id) AS rid_min,
           |  max(_row_id) AS rid_max, sum(_last_updated_version) AS lu_sum
           |FROM graft.$ns.orders_rl
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // INCREMENTAL CONSUMPTION by lineage version ("rows changed since
    // V" — the Iceberg v3 incremental-compute path, no CDC mode
    // required): a filter on _last_updated_version prunes files whose
    // segments all predate V from the scan METADATA-ONLY
    // (RowLineageSpec proves the no-read physically by deleting the
    // old files), and _row_id gives consumers the stable upsert key.
    // Here: everything the v4 UPDATE touched — the oracle re-derives
    // the same set from the update predicate over the survivor
    // relation, keyed by the replayed row ids.
    "q180_changed_since" -> ((s, dir) => {
      val ns = stageLineageTable(s, dir)
      s.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  sum(_row_id) AS rid_sum, min(o_orderkey) AS min_key,
           |  max(o_orderkey) AS max_key
           |FROM graft.$ns.orders_rl
           |WHERE _last_updated_version > 3
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // HIDDEN PARTITIONING end to end (days(ts) — the production time
    // layout): events land in a day-partitioned manifest table while the
    // query filters the RAW epoch-microsecond column; partition tuples
    // prune whole days exactly (boundary-aligned decisions are proven,
    // interior ones fall to stats), and the derived day never leaks into
    // results. Oracle reconstructs the same day arithmetic over the
    // original parquet. At 100 TB this is THE layout for the event/fact
    // shape: a week-filtered query opens 7/365ths of the files before
    // any stats or data I/O, with zero user-managed day columns.
    "q155_hidden_partition" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"hp:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.events_d " +
          "(event_id BIGINT, user_id BIGINT, ts_us BIGINT, value DOUBLE) " +
          "PARTITIONED BY (days(ts_us))")
        Tables.events(s, dir)
          .select("event_id", "user_id", "ts_us", "value")
          .writeTo(s"graft.$ns.events_d").append()
      }
      // window: from the corpus's 3rd day start for 4 days — aligned
      // bounds so the prune decisions are exact whole-partition drops
      s.sql(
        s"""SELECT ts_us DIV 86400000000 AS day, count(*) AS n,
           |  sum(CAST(round(value * 100) AS BIGINT)) AS cents,
           |  min(event_id) AS min_ev, max(event_id) AS max_ev
           |FROM graft.$ns.events_d
           |WHERE ts_us >= (SELECT (min(ts_us) DIV 86400000000 + 2) * 86400000000
           |                FROM graft.$ns.events_d)
           |  AND ts_us < (SELECT (min(ts_us) DIV 86400000000 + 6) * 86400000000
           |               FROM graft.$ns.events_d)
           |GROUP BY day ORDER BY day""".stripMargin)
    }),

    // EQUALITY DELETES (Iceberg v2 shape) end to end: a keys-only
    // delete commit (zero base-file reads — the CDC tombstone path),
    // sequencing proven inside the query: a deleted key RE-INSERTED
    // after the delete survives, while every pre-delete row of that key
    // is gone. The oracle reconstructs both effects relationally.
    "q156_equality_delete" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"eqd:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_e " +
          "(o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)")
        Tables.orders(s, dir)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
          .writeTo(s"graft.$ns.orders_e").append()
        // tombstones: every key divisible by 1000 (bounded list)
        val keys = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 1000 === 0)
          .select("o_orderkey").collect().map(_.getLong(0)).sorted
        graft.sources.ManifestSink.deleteWhereEq(
          s"$wh/$ns/orders_e", "o_orderkey", keys.map(_.toString).toSeq)
        // sequencing: re-insert the smallest tombstoned key AFTER the
        // delete — it must survive the records
        keys.headOption.foreach(k =>
          s.sql(s"INSERT INTO graft.$ns.orders_e VALUES ($k, 1.0, 'REBORN')"))
      }
      s.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents_sum,
           |  min(o_orderkey) AS min_key
           |FROM graft.$ns.orders_e
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // TYPE WIDENING end to end: gen-1 files store qty as INT32; ALTER
    // COLUMN TYPE widens to BIGINT metadata-only; gen-2 appends values
    // past the int range. Old files decode through the widening reader,
    // new ones natively — one BIGINT answer. The oracle reconstructs
    // both generations' arithmetic from the original parquet.
    "q157_type_widening" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"wid:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_tw (o_orderkey BIGINT, qty INT)")
        s.sql(s"CREATE TEMPORARY VIEW orders_tw_src AS " +
          s"SELECT * FROM parquet.`$dir/orders.parquet`")
        s.sql(
          s"""INSERT INTO graft.$ns.orders_tw
             |SELECT o_orderkey, CAST(o_custkey AS INT) FROM orders_tw_src
             |WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql(s"ALTER TABLE graft.$ns.orders_tw ALTER COLUMN qty TYPE BIGINT")
        s.sql(
          s"""INSERT INTO graft.$ns.orders_tw
             |SELECT o_orderkey, o_custkey + 3000000000 FROM orders_tw_src
             |WHERE o_orderkey % 2 = 1""".stripMargin)
      }
      s.sql(
        s"""SELECT o_orderkey % 5 AS bucket, count(*) AS n,
           |  sum(qty) AS qty_sum, min(qty) AS qty_min, max(qty) AS qty_max
           |FROM graft.$ns.orders_tw
           |GROUP BY bucket ORDER BY bucket""".stripMargin)
    }),

    // BUCKET PARTITIONING (the Iceberg v2 hash transform), PRUNE-ONLY:
    // customers lay out as murmur3(c_custkey) % 16 hash buckets, and a
    // point-lookup IN-list opens only the literals' buckets — at 100 TB
    // the key-value read pattern (dim enrichment, GDPR lookups) touches
    // ≤|IN| buckets instead of the whole table, with NO sort order
    // required at write. Ranges and metadata-delete proofs deliberately
    // fall back (a hash bucket never proves TRUE) — BucketPartitionSpec
    // pins both directions physically.
    "q159_bucket_partition" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"bkt:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.customer_b " +
          "(c_custkey BIGINT, c_nationkey BIGINT, c_mktsegment STRING, " +
          "c_acctbal DOUBLE) PARTITIONED BY (bucket(16, c_custkey))")
        Tables.customer(s, dir)
          .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
          .writeTo(s"graft.$ns.customer_b").append()
      }
      s.sql(
        s"""SELECT c_mktsegment, count(*) AS n,
           |  sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS bal_cents,
           |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
           |FROM graft.$ns.customer_b
           |WHERE c_custkey IN (3, 7, 77, 101, 149)
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }),

    // PARTITION-SPEC EVOLUTION (the Iceberg shape) end to end: gen-1
    // events land UNPARTITIONED; `evolve_spec` installs days(ts_us)
    // metadata-only; gen-2 lands day-partitioned. Old files keep their
    // (tuple-less) spec id and prune by stats; new files prune by day;
    // one raw-column range query answers across both generations — the
    // 100 TB reality where layouts change mid-life and history never
    // rewrites. SpecEvolutionSpec proves the physical side (old tuples
    // never re-interpreted, loud dynamic-overwrite guard, migration).
    "q160_spec_evolution" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"evs:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.events_ev " +
          "(event_id BIGINT, user_id BIGINT, ts_us BIGINT, value DOUBLE)")
        val ev = Tables.events(s, dir)
          .select("event_id", "user_id", "ts_us", "value")
        ev.filter(col("event_id") % 2 === 0)
          .writeTo(s"graft.$ns.events_ev").append()
        s.sql(s"CALL graft.system.evolve_spec(table => '$ns.events_ev', " +
          "spec => 'days(ts_us)')")
        ev.filter(col("event_id") % 2 === 1)
          .writeTo(s"graft.$ns.events_ev").append()
      }
      s.sql(
        s"""SELECT ts_us DIV 86400000000 AS day, count(*) AS n,
           |  sum(CAST(round(value * 100) AS BIGINT)) AS cents,
           |  min(event_id) AS min_ev, max(event_id) AS max_ev
           |FROM graft.$ns.events_ev
           |WHERE ts_us >= (SELECT (min(ts_us) DIV 86400000000 + 1) * 86400000000
           |                FROM graft.$ns.events_ev)
           |  AND ts_us < (SELECT (min(ts_us) DIV 86400000000 + 4) * 86400000000
           |               FROM graft.$ns.events_ev)
           |GROUP BY day ORDER BY day""".stripMargin)
    }),

    // COLUMN DEFAULTS end to end (Spark's CURRENT_DEFAULT /
    // EXISTS_DEFAULT encoding, persisted in the schema JSON): gen-1
    // orders predate the `tier` column; ADD COLUMN ... DEFAULT is
    // metadata-only — gen-1 rows serve the FROZEN existence default at
    // scan, gen-2 INSERTs omitting the column resolve the current
    // default at analysis, and explicitly-valued rows keep their
    // values. The oracle reconstructs all three populations.
    "q162_column_defaults" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"dft:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_df " +
          "(o_orderkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"CREATE TEMPORARY VIEW orders_df_src AS " +
          s"SELECT * FROM parquet.`$dir/orders.parquet`")
        s.sql(
          s"""INSERT INTO graft.$ns.orders_df
             |SELECT o_orderkey, o_totalprice FROM orders_df_src
             |WHERE o_orderkey % 3 = 0""".stripMargin)
        s.sql(s"ALTER TABLE graft.$ns.orders_df " +
          "ADD COLUMN tier STRING DEFAULT 'LEGACY'")
        s.sql(
          s"""INSERT INTO graft.$ns.orders_df (o_orderkey, o_totalprice)
             |SELECT o_orderkey, o_totalprice FROM orders_df_src
             |WHERE o_orderkey % 3 = 1""".stripMargin)
        s.sql(
          s"""INSERT INTO graft.$ns.orders_df
             |SELECT o_orderkey, o_totalprice, o_orderpriority
             |FROM orders_df_src WHERE o_orderkey % 3 = 2""".stripMargin)
      }
      s.sql(
        s"""SELECT tier, count(*) AS n,
           |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
           |  min(o_orderkey) AS min_key
           |FROM graft.$ns.orders_df
           |GROUP BY tier ORDER BY tier""".stripMargin)
    }),

    // Schema evolution across writer generations: gen-1 files carry
    // (o_orderkey, o_totalprice); gen-2 files ADD a column
    // (o_orderpriority) and RENAME o_totalprice -> total_price. A
    // mergeSchema read unions the field sets (absent fields read as
    // null per file), and coalesce defaults heal both drifts — the
    // engine twin of the reference's schemaless `.get(key, default)`
    // tolerance (rws_data_ingester src/rotterdam_swimming_advice.py:169,
    // 173). At 100 TB this is the everyday case: readers must span
    // years of writer versions without rewriting old files.
    "q101_schema_evolution" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_evo_" +
        s"${s.sparkContext.applicationId}_${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"evo:$dir")) {
        val o = Tables.orders(s, dir)
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$out/gen1")
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice").as("total_price"),
            col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$out/gen2")
      }
      s.read.option("mergeSchema", "true").parquet(s"$out/gen1", s"$out/gen2")
        .select(
          coalesce(col("total_price"), col("o_totalprice")).as("price"),
          coalesce(col("o_orderpriority"), lit("UNKNOWN")).as("pri"))
        .groupBy("pri")
        .agg(count(lit(1)).as("n"), sum(cents(col("price"))).as("sum_cents"))
        .orderBy("pri")
    }),

    // Semi-structured columns as Spark 4 Variant: payloads parsed once
    // into the binary variant encoding, fields extracted with typed paths
    // (the modern engine answer to the reference's schemaless dict.get
    // navigation — no per-query JSON re-parse at 100 TB).
    "q67_variant_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("v", try_parse_json(col("props")))
        .select(col("event_id"),
          coalesce(variant_get(col("v"), "$.k", "int"), lit(-1)).as("k"))
        .groupBy()
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    }),

    // Storage-partitioned join: customer and supplier staged as manifest
    // tables PARTITIONED BY their nation key, then joined ON that key
    // with `spark.sql.sources.v2.bucketing.enabled` — both ManifestScans
    // report KeyGroupedPartitioning (SpjSpec proves the physical plan
    // carries ZERO shuffle exchanges under the join), so the join aligns
    // per-nation file groups directly. The MERGE hint keeps the plan on
    // the sort-merge path the SPJ machinery serves (a broadcast would
    // also avoid the shuffle here, but only because supplier is small —
    // the co-partitioned layout is the shape that still works when BOTH
    // sides are 100 TB facts, which is the point).
    "q143_spj_join" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      // the honest at-scale default, not a per-query toggle: grouped
      // (per-key) tasks + storage-partitioned join planning for every
      // manifest-table scan in the session
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"spj:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.customer_sp " +
          "(c_custkey BIGINT, c_acctbal DOUBLE, c_nationkey BIGINT) " +
          "PARTITIONED BY (c_nationkey)")
        Tables.customer(s, dir).select("c_custkey", "c_acctbal", "c_nationkey")
          .writeTo(s"graft.$ns.customer_sp").append()
        s.sql(s"CREATE TABLE graft.$ns.supplier_sp " +
          "(s_suppkey BIGINT, s_acctbal DOUBLE, s_nationkey BIGINT) " +
          "PARTITIONED BY (s_nationkey)")
        Tables.supplier(s, dir).select("s_suppkey", "s_acctbal", "s_nationkey")
          .writeTo(s"graft.$ns.supplier_sp").append()
      }
      s.sql(
        s"""SELECT /*+ MERGE(c) */ c.c_nationkey AS nationkey,
           |  count(*) AS pairs,
           |  sum(CASE WHEN s.s_acctbal > c.c_acctbal THEN 1 ELSE 0 END) AS supp_richer,
           |  min(c.c_custkey + s.s_suppkey) AS min_keysum
           |FROM graft.$ns.customer_sp c
           |JOIN graft.$ns.supplier_sp s ON c.c_nationkey = s.s_nationkey
           |GROUP BY c.c_nationkey ORDER BY nationkey""".stripMargin)
    }),

    // Write-audit-publish through branches (WapSpec proves the isolation
    // physically): half the corpus lands on main, the other half stages
    // on an audit branch — invisible to main readers — passes an audit
    // gate (row-count check, the minimal real-world WAP contract), and
    // fast-forwards into main as ONE atomic commit. The final aggregate
    // over the published table must reconstruct the plain-parquet
    // oracle exactly: staging + publish are lossless or the hash breaks.
    // At 100 TB this is how daily ingest ships: stage, run quality
    // checks against real table state, publish atomically or drop.
    "q146_wap_publish" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"wap:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_w " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)")
        val src = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        src.filter(col("o_orderkey") % 2 === 0).writeTo(s"graft.$ns.orders_w").append()
        s.sql(s"CALL graft.system.create_branch(table => '$ns.orders_w', branch => 'ingest')")
        src.filter(col("o_orderkey") % 2 === 1)
          .writeTo(s"graft.$ns.orders_w.branch_ingest").append()
        // the audit gate: staged state must carry the full corpus while
        // main still holds only its half — else do NOT publish
        val staged = s.table(s"graft.$ns.orders_w.branch_ingest").count()
        val main = s.table(s"graft.$ns.orders_w").count()
        require(staged == src.count() && main < staged,
          s"WAP audit failed: staged=$staged main=$main — not publishing")
        s.sql(s"CALL graft.system.fast_forward(table => '$ns.orders_w', branch => 'ingest')")
      }
      s.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents_sum,
           |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           |FROM graft.$ns.orders_w
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // Incrementally-maintained materialized view (IncrementalMvSpec
    // proves the delta-only I/O physically): the source manifest table
    // receives orders in two appends, and after EACH the MV refreshes by
    // reading only the change-feed window and MERGE-folding the delta
    // aggregate — never recomputing history. The final view must equal
    // the oracle's one-shot aggregate over the original parquet: two
    // incremental folds ≡ one full recompute, the algebraic-aggregate
    // invariant. At 100 TB this is the nightly-rollup pattern: refresh
    // cost follows the day's appends, not the table.
    "q147_incremental_mv" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"mv:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_mvsrc (prio STRING, cents BIGINT)")
        s.sql(s"CREATE TABLE graft.$ns.orders_mv " +
          "(prio STRING, n BIGINT, sum_cents BIGINT)")
        val src = Tables.orders(s, dir).select(
          col("o_orderkey"),
          col("o_orderpriority").as("prio"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        src.filter(col("o_orderkey") % 2 === 0).select("prio", "cents")
          .writeTo(s"graft.$ns.orders_mvsrc").append()
        graft.sources.IncrementalMv.refresh(s, "graft",
          s"$ns.orders_mvsrc", s"$ns.orders_mv", Seq("prio"), Seq("cents"))
        src.filter(col("o_orderkey") % 2 === 1).select("prio", "cents")
          .writeTo(s"graft.$ns.orders_mvsrc").append()
        graft.sources.IncrementalMv.refresh(s, "graft",
          s"$ns.orders_mvsrc", s"$ns.orders_mv", Seq("prio"), Seq("cents"))
      }
      s.sql(s"SELECT prio, n, sum_cents FROM graft.$ns.orders_mv ORDER BY prio")
    }),

    // Dynamic partition pruning end to end (DppSpec proves the file
    // skipping physically): the star-join shape — a selective dim
    // filter's surviving keys arrive at the partitioned fact scan as a
    // runtime IN-set and whole partitions' files never open. Reuses
    // q129's priority-partitioned orders table; the dim is a manifest
    // table so its Filter node survives to Spark's DPP selectivity
    // check. At 100 TB this is the canonical warehouse join: the dim
    // WHERE clause, not the fact's size, decides the I/O.
    "q151_dpp_star_join" -> ((s, dir) => {
      queries("q129_partitioned_table")(s, dir) // stage orders_p (memoized)
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"pdim:$dir")) {
        s.sql(s"CREATE TABLE graft.$ns.prio_dim (o_orderpriority STRING, urgency BIGINT)")
        Tables.orders(s, dir).select(col("o_orderpriority")).distinct()
          .withColumn("urgency", substring(col("o_orderpriority"), 1, 1).cast("long"))
          .writeTo(s"graft.$ns.prio_dim").append()
      }
      s.sql(
        s"""SELECT f.o_orderpriority AS prio, count(*) AS n,
           |  sum(CAST(round(f.o_totalprice * 100) AS BIGINT)) AS cents_sum,
           |  min(f.o_orderkey) AS min_key, max(f.o_orderkey) AS max_key
           |FROM graft.$ns.orders_p f
           |JOIN graft.$ns.prio_dim d ON f.o_orderpriority = d.o_orderpriority
           |WHERE d.urgency <= 2
           |GROUP BY f.o_orderpriority ORDER BY prio""".stripMargin)
    }),

    // Row-level change data capture (CdcFeedSpec proves the delete
    // images are physical): orders land in a merge-on-read table, a
    // delete retracts a slice, and the CHANGE FEED between versions
    // yields insert and delete row images with `_change_type` — folded
    // here into per-priority signed totals, which must equal the
    // oracle's direct aggregate over the SURVIVING rows: feed algebra
    // (inserts − deletes = state) checked end to end. At 100 TB the
    // feed is how downstream consumers stay current without ever
    // re-reading the table: I/O follows the change volume.
    "q152_cdc_feed" -> ((s, dir) => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        s.sparkContext.applicationId
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      val root = s"$wh/$ns/orders_cdc"
      Staging.once[Unit](orcWritten, (s.sparkContext.applicationId, s"cdc:$dir")) {
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
        s.sql(s"CREATE TABLE graft.$ns.orders_cdc " +
          "(o_orderkey BIGINT, o_custkey BIGINT, cents BIGINT, o_orderpriority STRING) " +
          "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
        Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderpriority"))
          .writeTo(s"graft.$ns.orders_cdc").append()
        s.sql(s"DELETE FROM graft.$ns.orders_cdc WHERE o_custkey % 5 = 0")
      }
      s.read.format("graft.sources.ManifestSink")
        .option("path", root)
        .option("changesFromVersion", "0")
        .option("changeFeedMode", "cdc")
        .load()
        .withColumn("sign",
          when(col("_change_type") === "delete", lit(-1L)).otherwise(lit(1L)))
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(sum(col("sign")).as("n_live"),
          sum(col("sign") * col("cents")).as("cents_live"),
          sum(when(col("_change_type") === "delete", 1L).otherwise(0L))
            .as("n_deleted"))
        .orderBy("prio")
    }),

    // Partition statistics served from MANIFEST METADATA alone
    // (GroupedAggPushdownSpec proves zero data I/O by deleting the
    // files first): GROUP BY the partition column + COUNT/MIN/MAX
    // completely push down — one metadata row per partition tuple. At
    // 100 TB this is the catalog-health query (row counts and key
    // ranges per partition) answered in milliseconds; the bench line
    // shows the cost: planning, not scanning. Reuses q129's staged
    // priority-partitioned table (hence the same key-shift in the
    // oracle).
    "q154_partition_stats" -> ((s, dir) => {
      queries("q129_partitioned_table")(s, dir) // stage orders_p (memoized)
      val ns = s"db${Integer.toHexString(dir.hashCode)}"
      s.sql(
        s"""SELECT o_orderpriority AS prio, count(*) AS n,
           |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           |FROM graft.$ns.orders_p
           |GROUP BY o_orderpriority ORDER BY prio""".stripMargin)
    }),

    // S3/S5: two heterogeneous sources normalized to one schema and
    // unioned — the reference's dual-endpoint gather + identifier merge.
    "q36_multi_source_union" -> ((s, dir) => {
      val evt = Tables.events(s, dir)
        .select(lit("evt").as("src"), col("event_id").as("id"), col("event_type").as("payload"))
      val doc = Tables.documents(s, dir)
        .select(lit("doc").as("src"), col("doc_id").as("id"), col("lang").as("payload"))
      evt.unionByName(doc)
        .groupBy("src", "payload")
        .agg(count(lit(1)).as("n"))
        .orderBy("src", "payload")
    }))

  val oracle: Map[String, String] = Map(
    "q101_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
        |            ELSE 'UNKNOWN' END AS pri,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY pri ORDER BY pri""".stripMargin,

    "q30_first_match_default" ->
      """SELECT user_id,
        |  coalesce(arg_min(value, epoch_us(ts)) FILTER (WHERE event_type LIKE '%purch%'), -1.0) AS first_purchase_value,
        |  coalesce(min(epoch_us(ts)) FILTER (WHERE event_type LIKE '%purch%'), -1) AS first_purchase_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q31_kv_to_map" ->
      """SELECT p_partkey, p_brand AS brand, p_type AS ptype,
        |  CAST(p_size AS VARCHAR) AS size_str,
        |  'brand=' || p_brand || ',size=' || CAST(p_size AS VARCHAR) || ',type=' || p_type AS kv
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q32_concat_agg" ->
      """SELECT lang, md5(string_agg(text, chr(10) ORDER BY text)) AS blob_md5,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q33_error_tolerant_parse" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 10 = 0 THEN -1
        |       ELSE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) END AS k,
        |  CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS is_err,
        |  CASE WHEN event_id % 10 = 0 THEN substring('oops' || props, 1, 4) ELSE '' END AS raw_head
        |FROM events ORDER BY event_id""".stripMargin,

    "q34_template_report" -> {
      val total = centsToStringSql("sum(CAST(round(o_totalprice*100) AS BIGINT))")
      s"""SELECT n_name,
         |  'Report for ' || n_name || chr(10) ||
         |  '- customers: ' || CAST(count(DISTINCT c_custkey) AS VARCHAR) || chr(10) ||
         |  '- order total: ' || $total || chr(10) ||
         |  '- last order: ' || strftime(max(o_orderdate), '%Y-%m-%d') AS report,
         |  'Report for ' || n_name || '<br>' ||
         |  '- customers: ' || CAST(count(DISTINCT c_custkey) AS VARCHAR) || '<br>' ||
         |  '- order total: ' || $total || '<br>' ||
         |  '- last order: ' || strftime(max(o_orderdate), '%Y-%m-%d') AS report_html
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin
    },

    "q35_fanout_scan" ->
      """SELECT ids.user_id AS user_id,
        |  CAST(count(e.event_id) AS BIGINT) AS n_events,
        |  coalesce(sum(CAST(round(e.value*100) AS BIGINT)), 0)/100.0 AS sum_value
        |FROM (VALUES (2),(5),(7),(11)) AS ids(user_id)
        |LEFT JOIN events e ON e.user_id = ids.user_id
        |GROUP BY ids.user_id ORDER BY user_id""".stripMargin,

    "q197_html_extract" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    '<html><head><title>d' || CAST(doc_id AS VARCHAR) ||
        |    '</title></head><body>' ||
        |    CASE WHEN doc_id % 7 = 0 THEN ''
        |         ELSE '<h1 class="src">' || source || '</h1>' END ||
        |    '<p id="a">' || substring(text, 1, n_chars // 2) || '</p>' ||
        |    '<p id="b">' || substring(text, n_chars // 2 + 1, n_chars) || '</p>' ||
        |    '<ul><li>lang=' || lang || '</li></ul></body></html>' AS markup
        |  FROM documents)
        |SELECT doc_id,
        |  coalesce(regexp_extract_all(markup, '<h1[^>]*>(.*?)</h1>', 1)[1],
        |           'untitled') AS title,
        |  CAST(len(regexp_extract_all(markup, '<p[^>]*>(.*?)</p>', 1)) AS BIGINT)
        |    AS n_paras,
        |  regexp_extract_all(markup, '<p[^>]*>(.*?)</p>', 1)[1] AS first_para,
        |  trim(regexp_replace(regexp_replace(markup, '<[^>]+>', ' ', 'g'),
        |       ' +', ' ', 'g')) AS clean_text
        |FROM m ORDER BY doc_id""".stripMargin,

    "q38_json_source" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q39_csv_source" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // checked against the ORIGINAL parquet — the catalog DDL + DSv2
    // append + SQL-by-name read must be lossless for the hash to match
    "q125_catalog_sql" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
        |  min(c_custkey) AS min_key
        |FROM customer WHERE c_custkey % 3 = 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the survivors of the copy-on-write DELETE must equal the oracle's
    // NOT(pred) relation over the original parquet, row for row
    "q126_cow_delete" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
        |  max(o_orderkey) AS max_key
        |FROM orders
        |WHERE NOT (o_orderpriority = '1-URGENT' OR o_custkey % 10 = 3)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the commit ledger reconstructed relationally: v1 empty create,
    // v2 appends all orders as 4 files, v3 CoW-deletes the urgent rows
    // (all 4 files contain some, so all 4 rewrite)
    "q133_table_history" ->
      """SELECT CAST(1 AS BIGINT) AS version, 'create' AS operation,
        |  CAST(0 AS INTEGER) AS files, CAST(0 AS BIGINT) AS n_rows,
        |  CAST(0 AS BIGINT) AS n_live
        |UNION ALL
        |SELECT 2, 'append', 4, (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders)
        |UNION ALL
        |SELECT 3, 'replace', 4,
        |  (SELECT count(*) FROM orders WHERE o_orderpriority <> '1-URGENT'),
        |  (SELECT count(*) FROM orders WHERE o_orderpriority <> '1-URGENT')
        |ORDER BY version""".stripMargin,

    // the merge-on-read deleted table answers the same relation as the
    // copy-on-write one (q126): deletes must be observationally
    // equivalent regardless of strategy
    "q132_mor_delete" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
        |  max(o_orderkey) AS max_key
        |FROM orders
        |WHERE NOT (o_orderpriority = '1-URGENT' OR o_custkey % 10 = 3)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the evolved table rebuilt over the original parquet: even keys
    // are gen-1 (no priority → '-'), odd keys gen-2 (real priority)
    "q130_alter_table" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '-'
        |            ELSE o_orderpriority END AS prio,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
        |  max(o_orderkey) AS max_key
        |FROM orders
        |GROUP BY 1 ORDER BY prio""".stripMargin,

    // partition-pruned read + dynamic overwrite of the 1-URGENT
    // partition, reconstructed over the original parquet
    // the hidden-partitioning query re-derived over the raw parquet with
    // the same floor-div day arithmetic (epoch_us: see the ns-timestamp
    // gotcha — DuckDB truncates ns->us exactly like ts_us was derived)
    "q155_hidden_partition" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events),
        |b AS (
        |  SELECT (min(ts_us) // 86400000000 + 2) * 86400000000 AS lo,
        |         (min(ts_us) // 86400000000 + 6) * 86400000000 AS hi FROM e)
        |SELECT ts_us // 86400000000 AS day, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  min(event_id) AS min_ev, max(event_id) AS max_ev
        |FROM e, b WHERE ts_us >= lo AND ts_us < hi
        |GROUP BY day ORDER BY day""".stripMargin,

    // equality-delete semantics re-derived relationally: every ORIGINAL
    // row of a tombstoned key is gone; the one key re-inserted AFTER the
    // records survives (sequencing)
    "q156_equality_delete" ->
      """WITH survivors AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderkey % 1000 != 0
        |  UNION ALL
        |  SELECT min(o_orderkey), CAST(1.0 AS DOUBLE), 'REBORN' FROM orders
        |  WHERE o_orderkey % 1000 = 0 HAVING count(*) > 0)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
        |  min(o_orderkey) AS min_key
        |FROM survivors GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // both type-widening generations' arithmetic over the raw parquet
    "q157_type_widening" ->
      """WITH w AS (
        |  SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS qty FROM orders
        |  WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey + 3000000000 FROM orders
        |  WHERE o_orderkey % 2 = 1)
        |SELECT o_orderkey % 5 AS bucket, count(*) AS n,
        |  CAST(sum(qty) AS BIGINT) AS qty_sum,
        |  CAST(min(qty) AS BIGINT) AS qty_min, CAST(max(qty) AS BIGINT) AS qty_max
        |FROM w GROUP BY bucket ORDER BY bucket""".stripMargin,

    // hash-bucket layout changes WHERE rows live, never WHAT they are
    "q159_bucket_partition" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents,
        |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
        |FROM customer
        |WHERE c_custkey IN (3, 7, 77, 101, 149)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // spec evolution changes the LAYOUT mid-life, never the rows: the
    // oracle is the plain union of both generations (ts is parquet-ns
    // in DuckDB — epoch_us matches the engine's BIGINT micros)
    "q160_spec_evolution" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS ts_us, value FROM events)
        |SELECT ts_us // 86400000000 AS day, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  min(event_id) AS min_ev, max(event_id) AS max_ev
        |FROM ev
        |WHERE ts_us >= (SELECT (min(ts_us) // 86400000000 + 1) * 86400000000 FROM ev)
        |  AND ts_us < (SELECT (min(ts_us) // 86400000000 + 4) * 86400000000 FROM ev)
        |GROUP BY day ORDER BY day""".stripMargin,

    // the three populations a DEFAULT creates: pre-ADD rows frozen to
    // 'LEGACY', omitting INSERTs resolved to 'LEGACY', explicit rows
    "q162_column_defaults" ->
      """WITH w AS (
        |  SELECT o_orderkey, o_totalprice, 'LEGACY' AS tier FROM orders
        |  WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, 'LEGACY' FROM orders
        |  WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderkey % 3 = 2)
        |SELECT tier, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  min(o_orderkey) AS min_key
        |FROM w GROUP BY tier ORDER BY tier""".stripMargin,

    "q129_partitioned_table" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM (
        |  SELECT CASE WHEN o_orderpriority = '1-URGENT'
        |              THEN o_orderkey + 10000000 ELSE o_orderkey END AS o_orderkey,
        |         o_totalprice, o_orderpriority
        |  FROM orders)
        |WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the UPDATE's effect re-derived as a CASE projection over the
    // original parquet — per-row equivalence, not just aggregate shape
    "q127_sql_update" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
        |  min(o_custkey) AS min_ck, max(o_orderkey) AS max_key
        |FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_custkey % 7 = 0 THEN 'U-' || o_orderpriority
        |         ELSE o_orderpriority END AS o_orderpriority,
        |    CASE WHEN o_custkey % 7 = 0 THEN o_custkey + 1000000
        |         ELSE o_custkey END AS o_custkey
        |  FROM orders)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the row-lineage numbering replayed relationally: ids are the
    // global key rank at append (v2), deletes remove ids without
    // renumbering, updates keep ids and stamp version 4
    "q178_row_lineage" ->
      """WITH base AS MATERIALIZED (
        |  SELECT o_orderkey, o_custkey, o_orderpriority,
        |    row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
        |  FROM orders),
        |kept AS (
        |  SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'L-TOUCHED'
        |              ELSE o_orderpriority END AS o_orderpriority,
        |    rid,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 4 ELSE 2 END AS lu
        |  FROM base WHERE o_custkey % 5 <> 2)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(rid) AS BIGINT) AS rid_sum,
        |  CAST(min(rid) AS BIGINT) AS rid_min,
        |  CAST(max(rid) AS BIGINT) AS rid_max,
        |  CAST(sum(lu) AS BIGINT) AS lu_sum
        |FROM kept GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the changed-since read re-derived: exactly the survivor rows the
    // v4 UPDATE touched, keyed by the replayed row ids
    "q180_changed_since" ->
      """WITH base AS MATERIALIZED (
        |  SELECT o_orderkey, o_custkey,
        |    row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
        |  FROM orders)
        |SELECT 'L-TOUCHED' AS o_orderpriority, count(*) AS n,
        |  CAST(sum(rid) AS BIGINT) AS rid_sum,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM base
        |WHERE o_custkey % 5 <> 2 AND o_orderkey % 3 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the MERGE's effect rebuilt relationally: LEFT JOIN decides
    // matched-update vs matched-delete, NOT EXISTS isolates inserts
    "q128_sql_merge" ->
      """WITH src AS (
        |  SELECT o_orderkey + 1 AS o_orderkey, o_custkey, o_totalprice,
        |         o_orderpriority
        |  FROM orders WHERE o_orderkey % 4 = 0),
        |kept AS (
        |  SELECT t.o_orderkey, t.o_custkey, t.o_totalprice,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN 'M-MERGED'
        |         ELSE t.o_orderpriority END AS o_orderpriority
        |  FROM orders t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
        |  WHERE NOT (s.o_orderkey IS NOT NULL AND t.o_custkey % 10 = 1)),
        |ins AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM src s
        |  WHERE NOT EXISTS (SELECT 1 FROM orders t
        |                    WHERE t.o_orderkey = s.o_orderkey))
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the view's aggregate replayed over the raw parquet — creation
    // context, body expansion and predicate-through-view must all be
    // value-lossless
    "q193_catalog_view" ->
      """SELECT o_custkey, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders WHERE o_orderkey % 2 = 0 AND o_custkey % 10 = 1
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // the manifest-served quartiles replayed from the raw rows: same
    // md5 priorities, same bottom-64 distinct-value sample, same
    // floor(q·n) index convention (QuantileSketch.quantile)
    "q189_quantile_stats" -> {
      val pri = graft.functions.HashFunctions
        .md5Code60Sql("'qk:' || CAST(v AS VARCHAR)")
      s"""WITH vals AS (SELECT DISTINCT o_custkey AS v FROM orders),
         |bot AS (SELECT v FROM (SELECT v, ($pri) AS p FROM vals)
         |        ORDER BY p, v LIMIT 64),
         |ord AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS i,
         |        count(*) OVER () AS n FROM bot)
         |SELECT 'o_custkey' AS "column",
         |  max(CASE WHEN i = least(n - 1, n * 1 // 4) THEN v END) AS q25,
         |  max(CASE WHEN i = least(n - 1, n * 2 // 4) THEN v END) AS q50,
         |  max(CASE WHEN i = least(n - 1, n * 3 // 4) THEN v END) AS q75
         |FROM ord""".stripMargin
    },

    // checked against the ORIGINAL parquet — append + compact through
    // the manifest table must be lossless for the hash to match
    "q124_manifest_optimize" ->
      """SELECT o_orderkey % 4 AS bucket, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // checked against the ORIGINAL parquet — the ORC round-trip must be
    // lossless for the hash to match
    "q85_orc_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE value > 50 GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q76_dsv2_fanout" ->
      """SELECT source_id, count(*) AS n,
        |  CAST(sum(seq) AS BIGINT) AS sum_seq,
        |  CAST(max(length(CAST(source_id AS VARCHAR) || '-' || CAST(seq AS VARCHAR))) AS INTEGER) AS max_payload_len
        |FROM (SELECT ids.source_id, s.seq
        |      FROM (VALUES (2),(5),(7),(11)) AS ids(source_id),
        |           (SELECT unnest(generate_series(0, 999)) AS seq) s)
        |GROUP BY source_id ORDER BY source_id""".stripMargin,

    "q67_variant_extract" ->
      """SELECT count(*) AS n,
        |  CAST(sum(coalesce(CAST(json_extract(props, '$.k') AS INTEGER), -1)) AS BIGINT) AS sum_k,
        |  CAST(min(coalesce(CAST(json_extract(props, '$.k') AS INTEGER), -1)) AS INTEGER) AS min_k,
        |  CAST(max(coalesce(CAST(json_extract(props, '$.k') AS INTEGER), -1)) AS INTEGER) AS max_k
        |FROM events""".stripMargin,

    // the metadata-served partition stats rebuilt over the original
    // parquet (q129's key shift included)
    "q154_partition_stats" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM (
        |  SELECT CASE WHEN o_orderpriority = '1-URGENT'
        |              THEN o_orderkey + 10000000 ELSE o_orderkey END AS o_orderkey,
        |         o_orderpriority
        |  FROM orders)
        |GROUP BY o_orderpriority ORDER BY prio""".stripMargin,

    // feed algebra over the original parquet: live = all − deleted,
    // deleted = the custkey%5 slice
    "q152_cdc_feed" ->
      """SELECT o_orderpriority AS prio,
        |  CAST(sum(CASE WHEN o_custkey % 5 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_live,
        |  CAST(sum(CASE WHEN o_custkey % 5 = 0 THEN 0
        |           ELSE CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
        |    AS cents_live,
        |  CAST(sum(CASE WHEN o_custkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_deleted
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin,

    // the DPP star join reconstructed over the original parquet,
    // including q129's dynamic-overwrite key shift on 1-URGENT
    "q151_dpp_star_join" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM (
        |  SELECT CASE WHEN o_orderpriority = '1-URGENT'
        |              THEN o_orderkey + 10000000 ELSE o_orderkey END AS o_orderkey,
        |         o_totalprice, o_orderpriority
        |  FROM orders)
        |WHERE CAST(substring(o_orderpriority, 1, 1) AS BIGINT) <= 2
        |GROUP BY o_orderpriority ORDER BY prio""".stripMargin,

    // two incremental MERGE-folds must equal the one-shot aggregate
    // over the ORIGINAL parquet
    "q147_incremental_mv" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin,

    // stage-half + publish must be lossless: the oracle is the plain
    // aggregate over the ORIGINAL parquet
    "q146_wap_publish" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the storage-partitioned join's result rebuilt as the plain join
    // over the original parquet — co-partitioned execution must be
    // value-identical to the shuffling plan
    "q143_spj_join" ->
      """SELECT c.c_nationkey AS nationkey,
        |  count(*) AS pairs,
        |  CAST(sum(CASE WHEN s.s_acctbal > c.c_acctbal THEN 1 ELSE 0 END) AS BIGINT)
        |    AS supp_richer,
        |  min(c.c_custkey + s.s_suppkey) AS min_keysum
        |FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
        |GROUP BY c.c_nationkey ORDER BY nationkey""".stripMargin,

    "q36_multi_source_union" ->
      """SELECT src, payload, count(*) AS n FROM (
        |  SELECT 'evt' AS src, event_id AS id, event_type AS payload FROM events
        |  UNION ALL
        |  SELECT 'doc' AS src, doc_id AS id, lang AS payload FROM documents)
        |GROUP BY src, payload ORDER BY src, payload""".stripMargin)
}
