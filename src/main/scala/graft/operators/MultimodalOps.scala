package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Staging, Tables}

/** Multimodal columns: media as opaque `binary` with typed metadata
  * (SURVEY.md §2.2). The fixture corpus has no real image/audio bytes, so
  * the *decode* step is a clearly-marked deterministic stub; the
  * Spark-side plumbing — binary columns, typed Dataset, partitioned
  * `mapPartitions` batch decode, schema of the decoded output — is real
  * and oracle-checked.
  *
  *   - q55 media metadata — binary length / digest / base64 head, pure
  *     column ops (codegen'd)
  *   - q56 batch decode — `Dataset[MediaRecord].mapPartitions`: the shape
  *     a real codec UDF takes (per-partition batching so a decoder
  *     library would be initialized once per partition, not per row)
  */
object MultimodalOps {
  type Q = (SparkSession, String) => DataFrame

  /** An opaque media blob + metadata; `media` would be image/audio bytes. */
  case class MediaRecord(doc_id: Long, media: Array[Byte], kind: String)

  /** Decoded features. In production `n_frames`/`feat` come from the
    * codec; here they are a deterministic function of the byte length. */
  case class DecodedMedia(doc_id: Long, kind: String, n_bytes: Int, n_frames: Int, feat: Long)

  /** STUB DECODE — a real deployment plugs an image/audio codec in here
    * (no such library ships in this offline container). Deterministic
    * fake so tests and the DuckDB oracle can check the plumbing. */
  def decodeStub(r: MediaRecord): DecodedMedia = {
    val n = r.media.length
    DecodedMedia(r.doc_id, r.kind, n, (n + 1023) / 1024, (n.toLong * 2654435761L) % 1000003L)
  }

  /** documents.text re-typed as an opaque binary media column. */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"), lit("text").as("kind"))
      .as[MediaRecord]
  }

  /** Partition-batched decode: one iterator pass per partition — where a
    * real codec would amortize model/codec init across the batch. */
  def decodeAll(s: SparkSession, dir: String): Dataset[DecodedMedia] = {
    import s.implicits._
    mediaTable(s, dir).mapPartitions(_.map(decodeStub))
  }

  val queries: Map[String, Q] = Map(
    "q55_multimodal_meta" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"))
        .select(col("doc_id"),
          length(col("media")).as("n_bytes"),
          md5(col("media")).as("md5hex"),
          substring(base64(col("media")), 1, 8).as("b64_head"))
        .orderBy("doc_id")
    }),

    "q56_media_decode" -> ((s, dir) => {
      decodeAll(s, dir).toDF()
        .select("doc_id", "kind", "n_bytes", "n_frames", "feat")
        .orderBy("doc_id")
    }),

    // Resize: downscale each media payload to a target budget — the
    // Spark-side shape of image resize (STUB: "resizing" truncates bytes
    // and recomputes metadata; a real codec would rescale pixels). The
    // typed mapPartitions boundary is identical to the real thing.
    "q68_media_resize" -> ((s, dir) => {
      import s.implicits._
      val target = 128
      mediaTable(s, dir)
        .mapPartitions(_.map { r =>
          val resized = r.media.take(target)
          DecodedMedia(r.doc_id, r.kind, resized.length,
            (resized.length + 1023) / 1024,
            (resized.length.toLong * 2654435761L) % 1000003L)
        })
        .toDF()
        .select(col("doc_id"), col("n_bytes").as("resized_bytes"),
          col("n_frames"), col("feat"))
        .orderBy("doc_id")
    }),

    // Media exact dedup: group binary payloads by content digest — the
    // first pass of any image/audio dedup pipeline (byte-identical
    // copies collapse before perceptual matching even runs).
    "q93_media_dedup" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"))
        .groupBy(md5(col("media")).as("media_md5"))
        .agg(min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_copies"),
          min(length(col("media"))).as("n_bytes"))
        .select("keeper_id", "media_md5", "n_copies", "n_bytes")
        .orderBy("keeper_id")
    }),

    // Media chunk-hash near-dup: docs sharing >= 3 identical 64-byte
    // frames are near-duplicate payloads — the media analog of LSH
    // banding (candidate generation is an equi-join on the chunk
    // digest, bounded by hash-colliding chunks, never all-pairs).
    "q94_media_chunk_neardup" -> ((s, dir) => {
      val frameLen = 64
      // length > 0 guard: DuckDB's generate_series(0, -1) is empty but
      // Spark's sequence(0, -1) steps DOWN — an empty payload must emit
      // zero frames in both engines (for n >= 1 the truncating cast
      // equals floor, so the frame counts agree)
      val frames = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), length(col("text")).as("n_chars2"))
        .filter(col("n_chars2") > 0)
        .withColumn("frame_idx",
          explode(sequence(lit(0), ((col("n_chars2") - 1) / frameLen).cast("int"))))
        .select(col("doc_id"),
          md5(substring_index_col(col("text"), col("frame_idx"), frameLen)).as("frame_md5"))
        .distinct()
      frames.as("a").join(frames.as("b"),
          col("a.frame_md5") === col("b.frame_md5") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_frames"))
        .filter(col("shared_frames") >= 3)
        .orderBy("doc_a", "doc_b")
    }),

    // Frame sampling: split each media payload into fixed 64-byte frames
    // and fingerprint each — the Spark-side shape of video frame-sample /
    // audio chunking (STUB: frames are substrings of the text payload, a
    // real codec would emit decoded frame tensors). explode keeps it
    // columnar and distributed; no driver-side loop.
    "q57_frame_sample" -> ((s, dir) => {
      val frameLen = 64
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), length(col("text")).as("n_chars2"))
        .filter(col("n_chars2") > 0) // zero-length payload -> zero frames (see q94)
        .withColumn("frame_idx",
          explode(sequence(lit(0), ((col("n_chars2") - 1) / frameLen).cast("int"))))
        .select(col("doc_id"), col("frame_idx"),
          md5(substring_index_col(col("text"), col("frame_idx"), frameLen)).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    }),

    // PERCEPTUAL-HASH media near-dup: 64-bit average hash (aHash — the
    // classic pHash-family baseline: grayscale 8×8, threshold at the
    // mean) + Hamming-distance LSH (bands of 16 bits; pairs sharing a
    // band verify by exact Hamming ≤ PhashMaxHam). Round 13 REJECTED
    // this operator on the byte-stream media stub — positional hashes
    // need GRID-structured pixels — so the media here is an honest
    // synthetic image: each doc renders a deterministic scene
    // (md5-textured cells + gradient + checker + a high-frequency
    // sawtooth) and every scene ships two genuine twins — a NOISED copy
    // (per-pixel ±1) and a RESIZED copy (the scene rendered at 16×16,
    // then 2×2 mean-pooled: real downsampling with real resampling
    // error from the sawtooth — NOT a baked-equal roundtrip). Both
    // engines derive pixels from doc_id alone, so the oracle replays
    // the whole pipeline bit-for-bit. Banding recall is the published
    // LSH trade: pigeonhole makes recovery GUARANTEED for distance
    // < bands (≤ 3); the farther tail (measured ≤ 10 across 15k
    // scenes) is recovered iff a band survives — stated, not hidden
    // (MediaPhashSpec pins both regimes). Scale shape: band equi-join
    // candidates only, Hamming on 4 longs — never all-pairs.
    "q211_phash_neardup" -> ((s, dir) => {
      val t = phashTable(s, dir).localCheckpoint()
      val b = t.select(col("doc_id"),
        posexplode(col("bands")).as(Seq("j", "band")))
      val cand = b.as("a").join(b.as("b"),
          col("a.j") === col("b.j") && col("a.band") === col("b.band") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(t.select(col("doc_id").as("doc_a"), col("bands").as("ba")), "doc_a")
        .join(t.select(col("doc_id").as("doc_b"), col("bands").as("bb")), "doc_b")
        .withColumn("hamming",
          graft.plans.PhashBandsExpr.hammingNative(col("ba"), col("bb")))
        .filter(col("hamming") <= PhashMaxHam)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    }),

    // q214: q211's verdict served from the phash index AT REST — hash +
    // band-key tables built once over the staged media table (the q208
    // protocol for media), candidates from the bloomed band table's
    // self-join, Hamming verification from the hash table; no pixel is
    // read at query time. Same oracle as q211: the hash match proves
    // the at-rest path loses nothing vs the inline computation.
    "q214_phash_index" -> ((s, dir) => {
      val (hashT, bandT) = phashIndexTables(s, dir)
      phashVerdictFrom(s, hashT, bandT)
    }),

    // q215: the verdict against a MAINTAINED phash index — created on
    // arrival 1 of the media source, refreshed for arrival 2 through
    // the change feed, then a merge-on-read DELETE of doc 10 (the base
    // member of planted triple {10,11,12} — visible at EVERY sf)
    // propagated as zero-read equality deletes on both arms. Oracle is
    // q211's SQL over the SURVIVING media: pairs (10,11)/(10,12) gone,
    // (11,12) kept — a stale or over-deleted index cannot match.
    "q215_phash_maintained" -> ((s, dir) => {
      val (hashT, bandT) = phashMaintainedTables(s, dir)
      phashVerdictFrom(s, hashT, bandT)
    }))

  /** q211 Hamming verification threshold (measured planted max across
    * 15k scenes is 10; cross-scene minimum is 11+) and the band count
    * (4 × 16 bits — pigeonhole guarantees recovery below 4). */
  val PhashMaxHam = 10L
  val PhashBands = 4

  /** The synthetic scene: `sc` is the scene id, `vr` the variant
    * (0 base, 1 noised, 2 resized, 3–9 unique scenes). Pixel at
    * 1/32-resolution coordinates (u, v): md5-textured 4×4 cells
    * (amplitude 96·{0..3}) + a scene gradient + a 16-wide checker/
    * stripe mask + a (3u+5v) mod 16 sawtooth — the sawtooth is the
    * honest resampling-error source (everything else 2×2-pools
    * EXACTLY, because cell and mask boundaries sit on even coordinates
    * and samples are odd). Spark SQL dialect; [[phashPixDuck]] is the
    * DuckDB twin. */
  private def phashPixSpark(u: String, v: String): String =
    s"(CAST(conv(substring(md5(concat('px:', CAST(sc AS STRING), ':', " +
      s"CAST((($u) div 4) * 8 + (($v) div 4) AS STRING))), 1, 15), 16, 10) AS BIGINT) % 4) * 96" +
      s" + ((sc % 5 + 1) * ($u) + ((sc * 7) % 5 + 1) * ($v)) div 4" +
      s" + (((($u) div 16) + (($v) div 16) * ((sc div 2) % 2) + sc % 2) % 2) * 32" +
      s" + (($u) * 3 + ($v) * 5) % 16"

  private[graft] def phashGridSpark: String = {
    def p(u: String, v: String) = s"(${phashPixSpark(u, v)})"
    val (r, c) = ("(i div 8)", "(i % 8)")
    s"""transform(sequence(0, 63), i -> CASE
       | WHEN vr = 2 THEN (${p(s"$r*4+1", s"$c*4+1")} + ${p(s"$r*4+1", s"$c*4+3")}
       |   + ${p(s"$r*4+3", s"$c*4+1")} + ${p(s"$r*4+3", s"$c*4+3")}) div 4
       | WHEN vr = 1 THEN ${p(s"$r*4+2", s"$c*4+2")} + ($r*31 + $c*17 + sc*13) % 3 - 1
       | ELSE ${p(s"$r*4+2", s"$c*4+2")} END)""".stripMargin.replace("\n", " ")
  }

  /** doc_id → rendered 64-cell pixel grid — the DECODE stage of the
    * media pipeline, factored so the grid can be staged AT REST: a real
    * pipeline renders pixels once and every downstream hash probe reads
    * the stored media table, it does not re-decode per query (r14's
    * q211 line was dominated by exactly this re-derivation). The render
    * itself is the native PhashGridExpr kernel (one tight loop, one md5
    * per texture cell); [[phashGridSpark]] stays as the documented SQL
    * algebra and PhashBandsSpec pins the two equal — the interpreted
    * transform/CASE form was 11-12 s of the sf0.1 staging phase. */
  private[graft] def phashPixelsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        // Scene keyspaces are PARITY-disjoint at every scale: planted
        // triples (vr 0–2) share the even scene 2·(doc_id div 10);
        // negative controls (vr 3–9) get the odd scene 2·doc_id + 1 — a
        // planted scene can never equal a control scene, at any doc_id
        // (an additive offset like 100000 + doc_id collides once ids
        // reach ~1M). Non-negative by construction: Spark's div/% and
        // DuckDB's ///% disagree on NEGATIVE operands (truncate vs
        // floor), so a signed keyspace would silently split the oracle.
        expr("CASE WHEN doc_id % 10 <= 2 THEN (doc_id div 10) * 2 " +
          "ELSE doc_id * 2 + 1 END").as("sc"),
        expr("doc_id % 10").as("vr"))
      .withColumn("px",
        graft.plans.PhashGridExpr.gridNative(col("sc"), col("vr")))
      .select("doc_id", "px")

  /** (doc_id, px) → the 4 × 16-bit aHash bands (bit = pixel·64 >
    * Σpixels, integer-exact — no mean division). Native codegen kernel
    * (plans/PhashBands.scala): the HOF form (aggregate → transform →
    * nested transform+aggregate) was interpreted per element and
    * CollapseProject re-inlined each derived column into the next
    * lambda, re-evaluating the pixel total per bit — measured 4.1 s
    * (hash) / 8.6 s (bands) of pure compute per index build at sf0.1,
    * paid TWICE by the band table's sort-by range-sample pass.
    * PhashBandsSpec pins native == HOF twin. */
  private[graft] def bandsFromPx(px: DataFrame): DataFrame =
    px.select(col("doc_id"),
      graft.plans.PhashBandsExpr.bandsNative(col("px")).as("bands"))

  private val mediaGridBuilt = new Object

  /** Once-per-(application, sf-dir) MEDIA TABLE at rest: the rendered
    * pixel grid as a doc_id-sorted manifest table — the storage shape a
    * real pipeline reads (decode once, hash many). q211/q214 read this
    * table, so their lines price the hash + LSH algebra, not fixture
    * rendering. */
  private[graft] def mediaGridTable(s: SparkSession, dir: String): String = {
    val ns = DedupOps.graftNs(s, dir)
    Staging.once[Unit](mediaGridBuilt, (s.sparkContext.applicationId, dir)) {
      s.sql(s"CREATE TABLE graft.$ns.media_px (doc_id BIGINT, px ARRAY<BIGINT>) " +
        "TBLPROPERTIES ('write.sort-by' = 'doc_id')")
      phashPixelsOf(Tables.documents(s, dir))
        .writeTo(s"graft.$ns.media_px").append()
    }
    s"graft.$ns.media_px"
  }

  /** doc_id → aHash bands, served from the staged media table. */
  private[graft] def phashTable(s: SparkSession, dir: String): DataFrame =
    bandsFromPx(s.table(mediaGridTable(s, dir)))

  /** [[phashTable]] over an arbitrary frame with a `doc_id` column
    * (pixels derive from doc_id alone), so specs drive planted id sets
    * through the exact algebra. */
  private[graft] def phashBandsOf(docs: DataFrame): DataFrame =
    bandsFromPx(phashPixelsOf(docs))

  /** The q211 verdict served from (hash, band) index tables: band-key
    * equi-self-join for candidates, exact Hamming ≤ PhashMaxHam via the
    * hash table — the index family's probe shape (q208), no pixel ever
    * read. */
  private def phashVerdictFrom(s: SparkSession, hashT: String,
      bandT: String): DataFrame = {
    val b = s.table(bandT)
    val h = s.table(hashT)
    val cand = b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(h.select(col("doc_id").as("doc_a"), col("bands").as("ba")), "doc_a")
      .join(h.select(col("doc_id").as("doc_b"), col("bands").as("bb")), "doc_b")
      .withColumn("hamming",
        graft.plans.PhashBandsExpr.hammingNative(col("ba"), col("bb")))
      .filter(col("hamming") <= PhashMaxHam)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  private val phIndexBuilt = new Object

  /** Once-per-(application, sf-dir) phash index AT REST over the staged
    * media table's snapshot (q214). */
  private[graft] def phashIndexTables(s: SparkSession, dir: String): (String, String) = {
    val ns = DedupOps.graftNs(s, dir)
    Staging.once[Unit](phIndexBuilt, (s.sparkContext.applicationId, dir)) {
      graft.sources.PhashIndexMaintenance.createIndex(s, "graft",
        mediaGridTable(s, dir).stripPrefix("graft."),
        s"$ns.ph_hash", s"$ns.ph_bands")
    }
    (s"graft.$ns.ph_hash", s"graft.$ns.ph_bands")
  }

  private val phMaintBuilt = new Object

  /** Once-per-(application, sf-dir) MAINTAINED phash index (q215): the
    * media grid arrives in TWO appends to a merge-on-read source; CREATE
    * consumes arrival 1; REFRESH-CDC folds arrival 2; a merge-on-read
    * DELETE retires doc 10 — the BASE member of planted triple
    * {10, 11, 12}, so the delete is ORACLE-VISIBLE at EVERY scale factor
    * (the triple is doc_id-derived): pairs (10,11) and (10,12) must
    * vanish while (11,12) survives — then the final REFRESH-CDC
    * propagates it as equality deletes on both arms, zero base-file
    * reads. Doc 10 and both its twins (11, 12 — all doc_id % 10 <= 4)
    * land in arrival 1, so the delete provably reaches CREATE-time
    * index rows, not just refresh-folded ones. */
  private[graft] def phashMaintainedTables(s: SparkSession,
      dir: String): (String, String) = {
    val ns = DedupOps.graftNs(s, dir)
    val (src, hashT, bandT) = (s"$ns.phm_src", s"$ns.phm_hash", s"$ns.phm_bands")
    Staging.once[Unit](phMaintBuilt, (s.sparkContext.applicationId, dir)) {
      s.sql(s"CREATE TABLE graft.$src (doc_id BIGINT, px ARRAY<BIGINT>) " +
        "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
      val media = s.table(mediaGridTable(s, dir))
      media.filter(col("doc_id") % 10 <= 4).writeTo(s"graft.$src").append()
      graft.sources.PhashIndexMaintenance.createIndex(s, "graft", src, hashT, bandT)
      media.filter(col("doc_id") % 10 >= 5).writeTo(s"graft.$src").append()
      graft.sources.PhashIndexMaintenance.refreshCdc(s, "graft", src, hashT, bandT)
      s.sql(s"DELETE FROM graft.$src WHERE doc_id = 10")
      graft.sources.PhashIndexMaintenance.refreshCdc(s, "graft", src, hashT, bandT)
    }
    (s"graft.$hashT", s"graft.$bandT")
  }

  /** substring(text, idx*len+1, len) with a column start — helper because
    * functions.substring takes Int literals only. */
  private def substring_index_col(text: Column, idx: Column, len: Int): Column =
    text.substr(idx * lit(len) + lit(1), lit(len))

  /** DuckDB twin of [[phashPixSpark]] (// for div, md5Code60Sql for the
    * cell texture — same first-15-hex-chars code as the engine's conv). */
  private def phashPixDuck(u: String, v: String): String =
    s"(${graft.functions.HashFunctions.md5Code60Sql(
        s"'px:' || CAST(sc AS VARCHAR) || ':' || CAST((($u) // 4) * 8 + (($v) // 4) AS VARCHAR)")} % 4) * 96" +
      s" + ((sc % 5 + 1) * ($u) + ((sc * 7) % 5 + 1) * ($v)) // 4" +
      s" + (((($u) // 16) + (($v) // 16) * ((sc // 2) % 2) + sc % 2) % 2) * 32" +
      s" + (($u) * 3 + ($v) * 5) % 16"

  private def phashSql: String = phashSqlFrom("documents")

  /** q211's oracle over an arbitrary doc source — q215 scopes it to the
    * survivors of the maintained fixture's CDC delete. */
  private def phashSqlFrom(src: String, pre: String = ""): String = {
    def p(u: String, v: String) = s"(${phashPixDuck(u, v)})"
    val (r, c) = ("(i // 8)", "(i % 8)")
    s"""WITH ${pre}d AS (SELECT doc_id,
       |    CASE WHEN doc_id % 10 <= 2 THEN (doc_id // 10) * 2
       |      ELSE doc_id * 2 + 1 END AS sc,
       |    doc_id % 10 AS vr FROM $src),
       |g AS MATERIALIZED (SELECT doc_id, list_transform(generate_series(0, 63), i -> CASE
       |    WHEN vr = 2 THEN (${p(s"$r*4+1", s"$c*4+1")} + ${p(s"$r*4+1", s"$c*4+3")}
       |      + ${p(s"$r*4+3", s"$c*4+1")} + ${p(s"$r*4+3", s"$c*4+3")}) // 4
       |    WHEN vr = 1 THEN ${p(s"$r*4+2", s"$c*4+2")} + ($r*31 + $c*17 + sc*13) % 3 - 1
       |    ELSE ${p(s"$r*4+2", s"$c*4+2")} END) AS px
       |  FROM d),
       |h AS MATERIALIZED (SELECT doc_id, list_transform(generate_series(0, 3), j ->
       |    list_reduce(bits[j*16+1 : j*16+16], (a, b) -> a*2 + b)) AS bands
       |  FROM (SELECT doc_id, list_transform(px,
       |      x -> CASE WHEN x * 64 > tot THEN 1 ELSE 0 END) AS bits
       |    FROM (SELECT doc_id, px, list_sum(px) AS tot FROM g))),
       |bt AS (SELECT doc_id, j, bands[j+1] AS band
       |  FROM h, unnest(generate_series(0, 3)) t(j)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bt a JOIN bt b
       |  ON a.j = b.j AND a.band = b.band AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT doc_a, doc_b, CAST(list_reduce(
       |      list_transform(generate_series(1, 4), k ->
       |        bit_count(xor(ha.bands[k], hb.bands[k]))),
       |      (x, y) -> x + y) AS INTEGER) AS hamming
       |  FROM cand JOIN h ha ON ha.doc_id = doc_a JOIN h hb ON hb.doc_id = doc_b)
       |WHERE hamming <= $PhashMaxHam ORDER BY doc_a, doc_b""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q211_phash_neardup" -> phashSql,
    "q214_phash_index" -> phashSql,
    "q215_phash_maintained" -> phashSqlFrom("dsurv",
      "dsurv AS (SELECT * FROM documents WHERE doc_id <> 10), "),

    "q55_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  md5(text) AS md5hex,
        |  substring(base64(encode(text)), 1, 8) AS b64_head
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q68_media_resize" ->
      """SELECT doc_id,
        |  CAST(least(octet_length(encode(text)), 128) AS INTEGER) AS resized_bytes,
        |  CAST((least(octet_length(encode(text)), 128) + 1023) // 1024 AS INTEGER) AS n_frames,
        |  (CAST(least(octet_length(encode(text)), 128) AS BIGINT) * 2654435761) % 1000003 AS feat
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q57_frame_sample" ->
      """WITH f AS (SELECT doc_id, text,
        |    unnest(generate_series(0, CAST((length(text)-1)//64 AS BIGINT))) AS frame_idx
        |  FROM documents)
        |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  md5(substring(text, CAST(frame_idx*64+1 AS INTEGER), 64)) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "q93_media_dedup" ->
      """SELECT min(doc_id) AS keeper_id, md5(text) AS media_md5,
        |  count(*) AS n_copies,
        |  CAST(min(octet_length(encode(text))) AS INTEGER) AS n_bytes
        |FROM documents GROUP BY md5(text) ORDER BY keeper_id""".stripMargin,

    "q94_media_chunk_neardup" ->
      """WITH f AS (SELECT DISTINCT doc_id,
        |    md5(substring(text, CAST(frame_idx*64+1 AS INTEGER), 64)) AS frame_md5
        |  FROM (SELECT doc_id, text,
        |      unnest(generate_series(0, CAST((length(text)-1)//64 AS BIGINT))) AS frame_idx
        |    FROM documents))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_frames
        |FROM f a JOIN f b ON a.frame_md5 = b.frame_md5 AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q56_media_decode" ->
      """SELECT doc_id, 'text' AS kind,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  CAST((octet_length(encode(text)) + 1023) // 1024 AS INTEGER) AS n_frames,
        |  (CAST(octet_length(encode(text)) AS BIGINT) * 2654435761) % 1000003 AS feat
        |FROM documents ORDER BY doc_id""".stripMargin)
}
