package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps

/** Incrementally maintained dedup clusters (q210): folding a batch into
  * standing labels equals the from-scratch clustering, component
  * merging runs on the CONTRACTED rep graph only, and components no
  * new edge touches never enter the propagation loop — structurally
  * (the merge map's row set is the touched reps), not by luck. */
class IncrementalClusterSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def words(p: String, n: Int) =
    (1 to n).map(i => f"$p$i%02d").mkString(" ")

  // corpus: component {1, 2} (near-dups), component {5, 6} (near-dups,
  // in a disjoint token universe), singleton 9
  private val corpus = Seq(
    1L -> words("a", 20),
    2L -> (words("a", 19) + " az99"),
    5L -> words("k", 20),
    6L -> (words("k", 19) + " kz99"),
    9L -> words("q", 12)
  ).toDF("doc_id", "text")

  // batch: doc 30 near-dups doc 2 (touches component rep 1), doc 31 and
  // 32 near-dup EACH OTHER (a new batch-internal component), doc 33 is
  // novel — component {5, 6} is untouched by every new edge
  private val batch = Seq(
    30L -> (words("a", 19) + " ay88"),
    31L -> words("m", 20),
    32L -> (words("m", 19) + " mz99"),
    33L -> words("z", 12)
  ).toDF("doc_id", "text")

  test("two-arrival fold == from-scratch; merge map holds ONLY touched reps") {
    val (labels, mergeMap, newEdges) =
      DedupOps.incrementalClusterLabels(corpus, batch)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // from-scratch over the union corpus via the same label algebra
    val all = corpus.unionAll(batch)
    val fromScratch = DedupOps.labelsFor(all.select("doc_id"),
        DedupOps.nearDupPairsOf(all).select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == fromScratch,
      s"incremental fold diverged from from-scratch labels: $got vs $fromScratch")
    // the planted expectation, spelled out
    assert(got == Map(1L -> 1L, 2L -> 1L, 30L -> 1L,
      5L -> 5L, 6L -> 5L, 9L -> 9L,
      31L -> 31L, 32L -> 31L, 33L -> 33L))

    // STRUCTURAL no-recompute proof: the merge map — the propagation
    // loop's entire working set — holds exactly the touched reps. The
    // untouched component's rep (5), the untouched singleton (9) and
    // the novel batch docs (33) never entered the loop.
    val touched = mergeMap.collect().map(_.getLong(0)).toSet
    assert(touched == Set(1L, 30L, 31L, 32L),
      s"merge map must hold exactly the reps new edges touch: $touched")

    // new-edge generation never produced a corpus-internal pair (those
    // live in the standing labels): every edge touches a batch doc
    val batchIds = Set(30L, 31L, 32L, 33L)
    val edges = newEdges.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty && edges.forall(e =>
      batchIds.contains(e._1) || batchIds.contains(e._2)),
      s"incremental candidates must all touch the batch: ${edges.toSeq}")
  }

  test("no-op batch: empty merge map, standing labels pass through") {
    val lonely = Seq(40L -> words("x", 12)).toDF("doc_id", "text")
    val (labels, mergeMap, newEdges) =
      DedupOps.incrementalClusterLabels(corpus, lonely)
    assert(mergeMap.isEmpty && newEdges.isEmpty,
      "a batch with no near-dups must merge nothing")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
      9L -> 9L, 40L -> 40L))
  }
}
