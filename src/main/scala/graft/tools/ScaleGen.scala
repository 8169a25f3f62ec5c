package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver fixtures: tiles a source scale
  * factor N× by unioning key-shifted copies, applying a per-copy
  * ISOMORPHISM to the content tables so the data's *structure* scales
  * faithfully instead of degenerating into exact duplicates:
  *
  *   - `documents.text`: each copy applies a vocabulary rotation (the 31
  *     corpus words are a closed set; copy c maps word i -> word
  *     (i + 3c) mod 31). A word-level bijection maps shingle sets
  *     bijectively, so every within-copy Jaccard/MinHash/SimHash
  *     relationship of the source corpus is preserved EXACTLY, while
  *     cross-copy similarity collapses to coincidence level (no planted
  *     10-cliques of identical texts, which a naive tile would create
  *     and which would blow candidate-pair counts up quadratically).
  *   - `embeddings.embedding`: each copy applies an orthogonal transform
  *     (coordinate permutation i -> (2c+1)·i + 17c mod 64, composed with
  *     a deterministic ±1 diagonal). Orthogonality preserves every
  *     within-copy norm/dot/cosine exactly (float values are negated or
  *     moved, never rounded), so cluster geometry and near-dup structure
  *     scale linearly; cross-copy cosine drops to ~0.
  *   - fact/dim keys shift by copy · (max_key + 1) consistently across
  *     tables, preserving referential integrity (region/nation stay
  *     fixed, as TPC-H dims do).
  *
  * `events` tiles along the USER axis (same wall-clock window, N×
  * density — how real traffic scales); `ts` is written as a raw long
  * (`nanosAsLong` reads it back identically). scripts/gen_sf_events.py
  * is the pyarrow twin that preserves the INT64 TIMESTAMP(NANOS)
  * physical annotation byte-exactly — use it when footer-level type
  * fidelity matters; for the bench curve this Spark path suffices.
  *
  * Usage: runMain graft.tools.ScaleGen <srcSfDir> <dstSfDir> [copies=10]
  */
object ScaleGen {
  val VocabShift = 3
  val Dim = 64

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local()
    run(spark, src, dst, copies)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    // file counts are sized so a local[32] scan parallelizes: a coalesced
    // single-row-group file caps scan parallelism at 1 task per file (a
    // real large corpus always has enough splits; the fixture must too)
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, files: Int): Unit =
      df.repartition(files).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // dims stay fixed
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    def tiled(t: String) = read(t).crossJoin(
      spark.range(copies).select(col("id").cast("int").as("copy")))
    def shift(name: String, stride: Long) = (col(name) + col("copy") * stride).as(name)

    write(tiled("customer").select(shift("c_custkey", 15000),
      col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer", 8)
    write(tiled("supplier").select(shift("s_suppkey", 1000),
      col("s_name"), col("s_nationkey"), col("s_acctbal")), "supplier", 4)
    write(tiled("part").select(shift("p_partkey", 20000),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")), "part", 8)
    write(tiled("orders").select(shift("o_orderkey", 150000),
      shift("o_custkey", 15000), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority")), "orders", 16)
    write(tiled("lineitem").select(shift("l_orderkey", 150000),
      shift("l_partkey", 20000), shift("l_suppkey", 1000),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate")), "lineitem", 32)

    // ---- events: tile USERS, keep the time axis ---------------------------
    // traffic scales as more concurrent users over the same window —
    // which is how sessionization and windowed aggregates actually grow —
    // so event/user ids shift per copy and timestamps stay put
    val ev = read("events")
    val nEvents = ev.agg(max("event_id")).head.getLong(0) + 1
    val nUsers = ev.agg(max("user_id")).head.getLong(0) + 1
    write(tiled("events").select(
      (col("event_id") + col("copy") * nEvents).as("event_id"),
      col("ts"),
      (col("user_id") + col("copy") * nUsers).as("user_id"),
      col("event_type"), col("value"), col("props")), "events", 16)

    // ---- documents: per-copy vocabulary rotation --------------------------
    val docs = read("documents")
    val nDocs = docs.agg(max("doc_id")).head.getLong(0) + 1
    val vocab = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .orderBy("w").collect().map(_.getString(0))
    val v = vocab.length
    // copy c -> map(word_i -> word_{(i + 3c) mod v}); copy 0 is identity.
    // The rotation group CYCLES with period v/gcd(shift, v) (31 here):
    // at 100 copies, copies 31+ would be EXACT text clones of copies
    // 0-30, every line would turn corpus-frequent, and line dedup would
    // (correctly!) empty the whole corpus — measured at the first sf10
    // tiling: q117 output 0 rows. Past one full cycle each cycle GROUP
    // suffixes its target vocabulary ('~1', '~2', ...): still a word
    // bijection per copy (within-copy Jaccard/MinHash structure exactly
    // preserved), cross-group word sets fully disjoint, within-group
    // cross-copy similarity the same coincidence level as group 0.
    // Copies < cycle are byte-identical to the unsuffixed form, so
    // existing sf1/sf3 fixtures are unchanged.
    val cycle = (1 to v).find(k => (VocabShift * k) % v == 0).getOrElse(v)
    val rotMaps: IndexedSeq[Column] = (0 until copies).map { c =>
      val suffix = if (c / cycle == 0) "" else s"~${c / cycle}"
      val rotated = vocab.indices.map(i => vocab((i + VocabShift * c) % v) + suffix)
      map_from_arrays(
        array(vocab.map(lit(_)): _*), array(rotated.map(lit(_)): _*))
    }
    val rotMap = rotMaps.zipWithIndex.foldLeft(lit(null).cast("map<string,string>")) {
      case (acc, (m, c)) => when(col("copy") === c, m).otherwise(acc)
    }
    val rotText = array_join(
      transform(split(col("text"), " "),
        w => coalesce(element_at(col("rot"), w), w)), " ")
    write(docs.crossJoin(spark.range(copies).select(col("id").cast("int").as("copy")))
      .withColumn("rot", rotMap)
      .select((col("doc_id") + col("copy") * nDocs).as("doc_id"),
        rotText.as("text"), col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents", 16)

    // ---- embeddings: per-copy orthogonal transform ------------------------
    val emb = read("embeddings")
    val nVecs = emb.agg(max("vec_id")).head.getLong(0) + 1
    // new[i] = old[perm_c(i)] * sign_c(i); perm_c(i) = (2c+1)i + 17c mod 64
    // (2c+1 odd => bijection mod 64); sign_c(i) = ±1 from xxhash(c, i) so
    // the diagonal decorrelates copies (a parity formula would cancel
    // between copies); all +1 for copy 0 so the source tile is identical.
    val transformed = transform(sequence(lit(0), lit(Dim - 1)), i => {
      val permIdx = pmod((lit(2) * col("copy") + 1) * i + lit(17) * col("copy"), lit(Dim))
      val sign = when(col("copy") === 0, lit(1.0f))
        .otherwise(when(pmod(hash(col("copy"), i), lit(2)) === 0, lit(1.0f))
          .otherwise(lit(-1.0f)))
      (element_at(col("embedding"), permIdx + 1) * sign).cast("float")
    })
    write(emb.crossJoin(spark.range(copies).select(col("id").cast("int").as("copy")))
      .select((col("vec_id") + col("copy") * nVecs).as("vec_id"),
        transformed.as("embedding"), col("label")),
      "embeddings", 8)

    println(s"""{"scalegen":"done","src":"$src","dst":"$dst","copies":$copies}""")
  }
}
