package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Session extension wiring for the engine's native expressions: makes
  * `graft_dot(a, b)` / `graft_cosine(a, b)` first-class SQL functions.
  *
  * Install with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * (or `builder.withExtensions(new GraftExtensions)`); the Column-API
  * helpers on [[FloatVectorDot]] work without any registration.
  *
  * It also sizes Spark's JVM-wide generated-class cache
  * ([[GraftExtensions.CodegenCacheEntries]]) and keeps codegen stage ids
  * out of generated class names, so a plan that repeats over new input
  * compiles its classes once per process. A user's explicit setting of
  * either conf wins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftBridge.defaultConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      GraftExtensions.CodegenCacheEntries.toString)
    // a whole-stage class named after its codegen stage id misses the
    // cache whenever adaptive execution numbers the same stage differently
    GraftBridge.defaultConf(SQLConf.WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME.key, "false")
    // optimizer tier: portable HOF dot-product pattern -> native codegen
    ext.injectOptimizerRule(_ => NativeVectorDotRule)
    // SQL views on the DSv2 catalog (GraftViews): commands rewrite and
    // reads expand in the HINT batch, which runs before
    // ResolveSessionCatalog can throw MISSING_CATALOG_ABILITY
    ext.injectHintResolutionRule(GraftViewCommandRewrite)
    ext.injectHintResolutionRule(GraftViewResolution)
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[FloatVectorDot].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(arrayA, arrayB) takes 2 arguments")
        FloatVectorDot(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_lsh_bucket"),
      new ExpressionInfo(classOf[LshBucketExpr].getName, "graft_lsh_bucket"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_lsh_bucket(vec, planes, dim) takes 3 arguments")
        import org.apache.spark.sql.catalyst.expressions.Literal
        (args(1), args(2)) match {
          case (Literal(p: Int, _), Literal(d: Int, _)) =>
            LshBucketExpr(args(0), p, d)
          case _ => throw new IllegalArgumentException(
            "graft_lsh_bucket: planes and dim must be integer literals")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "graft_minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_minhash_sig(shingles, numHashes) takes 2 arguments")
        import org.apache.spark.sql.catalyst.expressions.Literal
        args(1) match {
          case Literal(n: Int, _) => MinHashSigExpr(args(0), n)
          case _ => throw new IllegalArgumentException(
            "graft_minhash_sig: numHashes must be an integer literal")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_text"),
      new ExpressionInfo(classOf[MinHashFromTextExpr].getName, "graft_minhash_text"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_minhash_text(text, n, numHashes) takes 3 arguments")
        import org.apache.spark.sql.catalyst.expressions.Literal
        (args(1), args(2)) match {
          case (Literal(n: Int, _), Literal(h: Int, _)) => MinHashFromTextExpr(args(0), n, h)
          case _ => throw new IllegalArgumentException(
            "graft_minhash_text: n and numHashes must be integer literals")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_shingles(text, n) takes 2 arguments")
        import org.apache.spark.sql.catalyst.expressions.Literal
        args(1) match {
          case Literal(n: Int, _) => ShinglesExpr(args(0), n)
          case _ => throw new IllegalArgumentException(
            "graft_shingles: n must be an integer literal")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[FloatVectorDot].getName, "graft_cosine"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_cosine(arrayA, arrayB) takes 2 arguments")
        val (a, b) = (args(0), args(1))
        import org.apache.spark.sql.catalyst.expressions.{Divide, Multiply, Sqrt}
        Divide(FloatVectorDot(a, b),
          Multiply(Sqrt(FloatVectorDot(a, a)), Sqrt(FloatVectorDot(b, b))))
      }))
  }
}

object GraftExtensions {
  /** Entries in Spark's generated-class cache,
    * `spark.sql.codegen.cache.maxEntries` (Spark's default is 100).
    * `CodeGenerator` reads the size once, at the JVM's first code
    * generation, and every session shares the cache. One q117+q221
    * pipeline pass generates about 262 distinct classes, so at 100 a
    * cron-style loop recompiled all of them on every pass; 300 holds one
    * pass with headroom. The 39 ingest queries generate about 433, but
    * each cached class keeps about 30 KB of heap, and a cache that held
    * all of them raised the interactive benchmark's live heap by 10 %.
    * PERF.md "Generated-class cache" has the measurements. */
  val CodegenCacheEntries = 300
}
