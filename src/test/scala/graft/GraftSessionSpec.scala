package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CPUS: unset defaults to 4, a positive integer is taken as is") {
    assert(GraftSession.parseCpus(None) == 4)
    assert(GraftSession.parseCpus(Some("8")) == 8)
  }

  test("SPARK_GRAFT_CPUS: zero, negative and non-numeric values are rejected by name") {
    Seq("0", "-2", "abc").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(v))
    }
  }

  test("the test session carries the product settings") {
    val spark = TestSpark.spark
    // graft_dot is registered by GraftExtensions
    assert(spark.sql("SELECT graft_dot(CAST(array(1, 2) AS ARRAY<FLOAT>), " +
      "CAST(array(3, 4) AS ARRAY<FLOAT>))").head().getDouble(0) == 11.0)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      .toInt == 8 * shuffle)
  }

  test("TimeQ rejects an unknown name before running any query") {
    val out = new java.io.ByteArrayOutputStream
    val e = intercept[IllegalArgumentException] {
      Console.withOut(out) {
        graft.tools.TimeQ.run(TestSpark.spark, TestSpark.sfDir,
          Seq("q01_pricing_summary", "q117_corpus_pipeline", "q999_typo"), explain = false)
      }
    }
    assert(e.getMessage.contains("q999_typo"))
    assert(!out.toString.contains("TIMEQ"), "a query ran before the bad name was caught")
  }
}
