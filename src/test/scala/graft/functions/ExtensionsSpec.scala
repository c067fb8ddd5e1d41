package graft.functions

import graft.SparkSpec

/** SQL-surface registration of the native expressions. */
class ExtensionsSpec extends SparkSpec {

  test("native functions callable from SQL after registration") {
    GraftExtensions.register(spark)

    val sim = spark.sql(
      """SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS s,
                cosine_similarity(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS o""")
      .collect().head
    assert(math.abs(sim.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(sim.getDouble(1)) < 1e-12)

    val sig = spark.sql(
      "SELECT minhash_signature(array(5L, 17L, 99999L), 8) AS sig")
      .collect().head.getSeq[Long](0)
    assert(sig.length == 8)
    // matches the expression evaluated directly
    val expected = MinHashSignature(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array(5L, 17L, 99999L)),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)), 8)
      .eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
      .toLongArray()
    assert(sig == expected.toSeq)

    // round-3 registrations: simhash, rolling hash, hyperplane sigs, text stats
    val r3 = spark.sql(
      """SELECT simhash64(array(5L, -7L)) AS sh,
                rolling_hash_min('hello rolling world', 8) AS rh,
                size(hyperplane_sigs(array(1.0D, -1.0D), 2, 6, 4)) AS nsigs,
                graft_text_stats(array('the', 'de', 'xyz'))[1] AS anyhits""")
      .collect().head
    assert(r3.getLong(0) == SimHash64(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(5L, -7L)),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))).eval(null))
    assert(r3.getLong(1) == NativeExpressions.rollingHashMin(
      "hello rolling world".getBytes("UTF-8"), 8))
    assert(r3.getInt(2) == 4)
    assert(r3.getLong(3) == 2L) // 'the' (en) + 'de' (es/fr/zh)

    // round-4 registrations: the engine-portable hash family
    val r4 = spark.sql(
      """SELECT portable_token_hashes(array('the'))[0] AS h,
                portable_shingle_min(array(10L, 20L, 30L, 40L), 3) AS sm,
                portable_rolling_min('hello world', 5) AS rm""")
      .collect().head
    assert(r4.getLong(0) == 4571912497455089051L) // DuckDB golden ('the')
    assert(r4.getLong(1) == NativeExpressions.portableShingleMin(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array(10L, 20L, 30L, 40L)), 3))
    assert(r4.getLong(2) == 348128775L)           // DuckDB golden
  }
}
