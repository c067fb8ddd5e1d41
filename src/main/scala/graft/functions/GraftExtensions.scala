package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions registration for the native expressions, so SQL
  * users get them too:
  *
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)
  *     ...
  *   spark.sql("SELECT cosine_similarity(a.embedding, b.embedding) ...")
  * }}}
  *
  * (The Column-API entry points in [[NativeExpressions]] work without any
  * registration.)
  */
object GraftExtensions {

  private def intArg(children: Seq[Expression], i: Int, default: Int): Int =
    children.lift(i) match {
      case Some(Literal(v, _)) if v != null => v.toString.toInt
      case None => default
      // Falling back silently on a column/computed argument would compute
      // fingerprints/signatures with the WRONG parameters and no error.
      case Some(other) => throw new IllegalArgumentException(
        s"argument ${i + 1} must be a non-null integer literal, got: ${other.sql}")
    }

  /** (name, builder) for every registered native function — one list
    * shared by runtime registration and the session-extension injector.
    */
  private[functions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" ->
      ((c: Seq[Expression]) => CosineSimilarity(c(0), c(1))),
    "minhash_signature" ->
      ((c: Seq[Expression]) => MinHashSignature(c.head, intArg(c, 1, 64))),
    "simhash64" ->
      ((c: Seq[Expression]) => SimHash64(c.head)),
    "rolling_hash_min" ->
      ((c: Seq[Expression]) => RollingHashMin(c.head, intArg(c, 1, 32))),
    "portable_token_hashes" ->
      ((c: Seq[Expression]) => PortableTokenHashes(c.head)),
    "portable_shingle_min" ->
      ((c: Seq[Expression]) => PortableShingleMin(c.head, intArg(c, 1, 3))),
    "portable_rolling_min" ->
      ((c: Seq[Expression]) => PortableRollingMin(c.head, intArg(c, 1, 32))),
    "hyperplane_sigs" ->
      ((c: Seq[Expression]) => HyperplaneSigs(c.head,
        intArg(c, 1, 64), intArg(c, 2, 12), intArg(c, 3, 1))),
    "graft_text_stats" ->
      ((c: Seq[Expression]) => TextStats(c.head,
        graft.scale.TextOps.Stopwords, graft.scale.TextOps.Langs)),
    "kmv_distinct" ->
      ((c: Seq[Expression]) => KMinValues(c.head, intArg(c, 1, 256),
        2147483647.0).toAggregateExpression()))

  /** Runtime registration into an EXISTING session (withExtensions only
    * applies at session build; getOrCreate on a live session ignores it).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, b) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[NativeExpressions.type].getName, name),
        b))
    }
    // equi-keyless BETWEEN joins -> bin-bucketed equi joins
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
  }
}
