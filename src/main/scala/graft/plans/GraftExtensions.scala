package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.VectorExpressions.{FloatVectorDot, FloatVectorNorm, IntVectorDot}

/** SQL registration of the engine's custom Catalyst expressions, both as a
  * `SparkSessionExtensions` class (for cluster deployment via
  * `spark.sql.extensions=graft.plans.GraftExtensions`) and as a direct
  * session-level registrar (for local/test sessions created before the conf
  * is set). After registration, `spark.sql("SELECT fvec_dot(a, b) …")`
  * plans the codegen'd expressions like any built-in.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {
  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, usage: String)(build: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[VectorExpressions.type].getName, null, name, usage,
        "", "", "", "", "", "", "built-in"),
      build)

  /** Sizing args must be literals (they shape the aggregation buffer). */
  private def litInt(e: Expression, what: String): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(s"$what must be a literal int, got ${e.sql}")
    e.eval(null) match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(s"$what must be a literal int, got $other")
    }
  }

  /** Every SQL function, for both registration paths. */
  val functions: Seq[Descriptor] = Seq(
    fn("fvec_dot", "fvec_dot(a, b) - dot product of two float/double vectors as double")(
      e => FloatVectorDot(e(0), e(1))),
    fn("fvec_norm", "fvec_norm(a) - L2 norm of a float/double vector as double")(
      e => FloatVectorNorm(e(0))),
    fn("ivec_dot", "ivec_dot(a, b) - integer dot product of two int/long vectors as long")(
      e => IntVectorDot(e(0), e(1))),
    fn("bloom_build", "bloom_build(keyHash, numBits, numHashes) - bloom filter of a long-hash key set as binary")(
      e => BloomBuildAggregate(e(0), litInt(e(1), "numBits"), litInt(e(2), "numHashes"))),
    fn("bloom_might_contain", "bloom_might_contain(bloom, keyHash) - membership probe, no false negatives")(
      e => BloomMightContain(e(0), e(1))),
    fn("mg_frequent", "mg_frequent(key, capacity) - Misra-Gries candidate heavy keys as array<long>")(
      e => FrequentItemsAggregate(e(0), litInt(e(1), "capacity"))))

  /** Register on an already-built session (temp-function registry +
    * experimental strategies). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) => reg.registerFunction(id, info, build) }
    org.apache.spark.sql.graft.bridge.addStrategy(spark, AsOfJoinStrategy)
  }
}
