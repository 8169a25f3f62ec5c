package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityOps

/** [[SimilarityOps.memoFit]]'s claim-future memo treats a null result as
  * "no result yet"; a build returning null must fail the caller instead
  * of rebuilding forever, and must not poison the key. */
class MemoFitSpec extends AnyFunSuite {
  import TestSpark.spark

  test("a null-returning fit fails fast and leaves the key retryable") {
    val builds = new AtomicInteger()
    val call = Future(SimilarityOps.memoFit[AnyRef](spark, "memofit-spec", "null-fit") {
      builds.incrementAndGet(); null
    })
    intercept[IllegalArgumentException](Await.result(call, 60.seconds))
    assert(builds.get == 1, "the null build must not be retried")
    assert(SimilarityOps.memoFit[AnyRef](spark, "memofit-spec", "null-fit")("fit") == "fit")
  }
}
