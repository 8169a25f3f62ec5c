package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, EnrichOps}

class OperatorSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  test("t1 smoke: flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and is deterministic at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val a = fn(spark, sfDir).collect().map(_.toString).toSeq
        val b = fn(spark, sfDir).collect().map(_.toString).toSeq
        if (a != b) Some(s"$name: nondeterministic across runs") else None
      } catch {
        case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every query has an oracle entry") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"unexpected rows-only: $noOracle")
    val danglingOracle = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(danglingOracle.isEmpty, s"oracle without query: $danglingOracle")
  }

  test("every query's output schema is driver-hashable (the q101 bug class, Spark side)") {
    // The driver hashes (column name, serialized value) pairs from Spark
    // parquet and from DuckDB; types outside this set either can't be
    // written comparably (float32, decimal, binary) or have engine-
    // divergent serializations. The DuckDB half of this guard lives in
    // scripts/check_oracle.py (hash_class drift check on every verify).
    import org.apache.spark.sql.types._
    def safe(dt: DataType): Boolean = dt match {
      case LongType | IntegerType | DoubleType | StringType |
           BooleanType | DateType | TimestampType | TimestampNTZType => true
      case ArrayType(e, _) => safe(e)
      case _ => false
    }
    val nameRe = "[A-Za-z_][A-Za-z0-9_]*".r
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val schema = fn(spark, sfDir).schema
      val badTypes = schema.fields.filterNot(f => safe(f.dataType))
        .map(f => s"$name.${f.name}: unhashable type ${f.dataType.simpleString}")
      val badNames = schema.fieldNames.filterNot(nameRe.matches)
        .map(n => s"$name.`$n`: name won't survive the oracle round-trip")
      val dupes = schema.fieldNames.groupBy(identity).collect {
        case (n, hits) if hits.length > 1 => s"$name.$n: duplicate output column"
      }
      badTypes ++ badNames ++ dupes
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("exact dedup is idempotent") {
    val once = DedupOps.queries("q40_exact_dedup")(spark, sfDir)
    // dedup of the dedup keys changes nothing
    assert(once.count() == once.dropDuplicates("text_md5").count())
  }

  test("incremental dedup: exact verdicts have identical text, near verdicts share a real near-dup, and no corpus doc leaks") {
    val out = DedupOps.queries("q119_incremental_dedup")(spark, sfDir)
    val docs = graft.engine.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    // output covers exactly the batch stratum
    assert(out.select("doc_id").collect().map(_.getLong(0)).forall(_ % 10 == 7))
    assert(out.count() == docs.filter(col("doc_id") % 10 === 7).count())
    // match_id always points OUTSIDE the batch (or is -1 for 'new')
    val leaks = out.filter(col("match_id") =!= -1L && col("match_id") % 10 === 7)
    assert(leaks.count() == 0, "a match may only reference the existing corpus")
    // every 'exact' match is byte-identical text
    val exactBad = out.filter(col("verdict") === "exact")
      .join(docs.withColumnRenamed("text", "t_batch"), "doc_id")
      .join(docs.select(col("doc_id").as("match_id"), col("text").as("t_corpus")), "match_id")
      .filter(col("t_batch") =!= col("t_corpus"))
    assert(exactBad.count() == 0)
    // 'new' rows carry the -1 sentinel and nothing else does
    assert(out.filter(col("verdict") === "new" && col("match_id") =!= -1L).count() == 0)
    assert(out.filter(col("verdict") =!= "new" && col("match_id") === -1L).count() == 0)
  }

  test("minhash calibration: one row per verified pair, estimates in range, perfect agreement for exact dups") {
    val cal = DedupOps.queries("q120_minhash_calibration")(spark, sfDir)
    val pairs = DedupOps.queries("q41_minhash_lsh")(spark, sfDir)
    // audits exactly the verified near-dup pair set
    assert(cal.count() == pairs.count())
    val rows = cal.collect()
    assert(rows.forall { r =>
      val est = r.getAs[Long]("est_bp")
      est >= 0 && est <= 10000 && r.getAs[Long]("err_bp") >= 0
    })
    // byte-identical docs have identical signatures -> est_bp == 10000
    val exact = cal.join(
      pairs.filter(col("jac_bp") === 10000L).select("doc_a", "doc_b"),
      Seq("doc_a", "doc_b"))
    assert(exact.filter(col("est_bp") =!= 10000L).count() == 0)
  }

  test("staged pair-member shingles are the shingle sets of exactly the verified pairs' members") {
    val pairs = DedupOps.verifiedNearDupPairs(spark, sfDir)
    val members = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // the HOF twin of the native shingle kernel, as a sorted set
    val expected = graft.engine.Tables.documents(spark, sfDir)
      .join(members, "doc_id")
      .select(col("doc_id"),
        sort_array(graft.functions.GraftFunctions.shingleSet(col("text"), DedupOps.ShingleN)))
      .as[(Long, Seq[String])].collect().toMap
    val staged = DedupOps.pairMemberShingles(spark, sfDir)
      .select(col("doc_id"), sort_array(col("shingles")))
      .as[(Long, Seq[String])].collect()
    assert(expected.nonEmpty, "the fixture has no verified near-dup pair — nothing was checked")
    assert(staged.length == expected.size, "one staged row per member")
    assert(staged.toMap == expected)
  }

  test("candidate-doc semi-join is size-gated: shuffle plan past the id threshold, identical rows") {
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val ids = docs.select("doc_id").filter(col("doc_id") % 7 === 0)
      .distinct().localCheckpoint()
    val viaBroadcast = DedupOps.joinIds(docs, ids, "doc_id", maxIds = Long.MaxValue)
    val viaShuffle = DedupOps.joinIds(docs, ids, "doc_id", maxIds = 0L)
    assert(viaBroadcast.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val sPlan = viaShuffle.queryExecution.executedPlan.toString
    assert(!sPlan.contains("BroadcastExchange") && sPlan.contains("ShuffledHashJoin"),
      s"gated path must not broadcast the id list:\n$sPlan")
    assert(viaBroadcast.count() == viaShuffle.count())
    assert(viaBroadcast.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(viaShuffle.select("doc_id").collect().map(_.getLong(0)).sorted))
  }

  test("jaccard pairs are within [0, 10000] basis points and symmetric-free") {
    val rows = DedupOps.queries("q43_jaccard_pairs")(spark, sfDir)
      .select("doc_a", "doc_b", "jac_bp").collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "each pair emitted once, a < b")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 10000)
    }
  }

  test("minhash candidates contain every exact near-duplicate pair (recall on identical docs)") {
    // identical texts share all shingles -> identical signatures -> same
    // bucket in every band, so LSH must surface them
    val dups = graft.engine.Tables.documents(spark, sfDir)
      .groupBy("text").agg(collect_list("doc_id").as("ids"), count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      // anchor on the group MIN id (Spark [] is 0-based; ids[1] was the
      // second element — a group whose max landed there contributed no
      // expected pairs, making the recall assertion vacuous for it)
      .select(explode(expr("filter(transform(ids, x -> struct(array_min(ids) as a, x as b)), p -> p.a < p.b)")))
      .select(col("col.a").as("doc_a"), col("col.b").as("doc_b"))
      .as[(Long, Long)].collect().toSet
    val found = DedupOps.queries("q41_minhash_lsh")(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val missed = dups -- found
    assert(missed.isEmpty, s"LSH missed identical-doc pairs: $missed")
  }

  test("enrichment stub is deterministic and distributed") {
    val r1 = EnrichOps.queries("q37_llm_enrich")(spark, sfDir).collect().map(_.toString)
    val r2 = EnrichOps.queries("q37_llm_enrich")(spark, sfDir).collect().map(_.toString)
    assert(r1.sameElements(r2))
    assert(r1.forall(_.contains("ADVICE[")))
  }

  test("leak-safe split: every verified near-dup pair lands in the SAME split, all docs covered") {
    import spark.implicits._
    val split = DedupOps.queries("q161_leak_safe_split")(spark, sfDir)
      .select("doc_id", "split").as[(Long, Long)].collect().toMap
    // total coverage, sane split ids
    val docs = graft.engine.Tables.documents(spark, sfDir)
      .select("doc_id").as[Long].collect()
    assert(docs.forall(split.contains))
    assert(split.values.forall(v => v >= 0L && v < 10L))
    // the invariant the operator exists for: near-dup twins never
    // straddle a split boundary (no eval leakage through textual twins)
    val pairs = DedupOps.queries("q41_minhash_lsh")(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val leaked = pairs.filter { case (a, b) => split(a) != split(b) }
    assert(leaked.isEmpty, s"near-dup pairs split across train/eval: ${leaked.take(5).toSeq}")
    // and the split is a real partition, not a constant
    assert(split.values.toSet.size > 1)
  }

  test("q197 markup round-trip: extraction inverts the tag assembly exactly") {
    val docs = graft.engine.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source").collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3))).toMap
    val rows = graft.operators.IngestOps.queries("q197_html_extract")(spark, sfDir)
      .collect()
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (text, lang, source) = docs(id)
      // the h1 is omitted for every 7th doc — the P2 default must fire
      assert(r.getAs[String]("title") ==
        (if (id % 7 == 0) "untitled" else source))
      assert(r.getAs[Long]("n_paras") == 2L)
      // paragraph split halves the text at n_chars div 2
      assert(r.getAs[String]("first_para") == text.substring(0, text.length / 2))
      // tag stripping + whitespace normalization = get_text(): the
      // clean text is precisely the visible content in document order
      val expected = (s"d$id " +
        (if (id % 7 == 0) "" else s"$source ") +
        s"${text.substring(0, text.length / 2)} " +
        s"${text.substring(text.length / 2)} lang=$lang").trim
          .replaceAll(" +", " ")
      assert(r.getAs[String]("clean_text") == expected,
        s"doc $id clean_text diverged")
    }
  }

  test("q197 adversarial markup lands in the error channel, never as silent mis-extraction") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, when, element_at}
    import graft.operators.IngestOps.{markupError, tagContents}
    // the three markup shapes the regex kernels CANNOT parse faithfully
    // (the reference's lxml parser silently repairs them,
    // rotterdam_swimming_advice.py:52-95); each must be DETECTED — the
    // guarded pipeline routes it to the q33-style error channel —
    // rather than extracting plausible-but-wrong text
    val docs = Seq(
      (1L, "<p>alpha</p><p>beta</p>"), // clean: parses faithfully
      (2L, "<p>alpha <p>beta</p>"), // unclosed first <p>
      (3L, "<p title=\"x>y\">text</p>"), // '>' inside an attribute value
      (4L, "<p>outer <p>inner</p> tail</p>") // nested same-tag
    ).toDF("doc_id", "markup")
    val got = docs.select(col("doc_id"),
        markupError(col("markup"), Seq("p")).as("error"),
        when(markupError(col("markup"), Seq("p")).isNull,
          element_at(tagContents(col("markup"), "p"), 1)).as("first_para"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[String]("error")), Option(r.getAs[String]("first_para"))))
      .toMap
    assert(got(1L) == (None, Some("alpha")), s"clean markup must parse: ${got(1L)}")
    assert(got(2L)._1.exists(_.contains("unbalanced <p>")), s"unclosed: ${got(2L)}")
    assert(got(3L)._1.exists(_.contains("contains '>'")), s"attr '>': ${got(3L)}")
    assert(got(4L)._1.exists(_.contains("nested <p>")), s"nested: ${got(4L)}")
    // and none of the broken shapes produced text — the silent-mis-parse
    // failure mode is structurally closed
    Seq(2L, 3L, 4L).foreach(id => assert(got(id)._2.isEmpty, s"doc $id leaked text"))
  }
}
