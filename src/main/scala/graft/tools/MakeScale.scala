package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: synthesize an sf×N corpus from an existing sf directory so
  * the heavy operator family can be probed one decade up (the driver
  * ships sf0.001/0.01/0.1; the scaling table in SCALING.md wants an
  * empirical sf0.1 → sf1 point). Replication is NOT naive duplication —
  * identical replicas would be exact near-duplicates of each other and
  * the dedup workload would explode quadratically in N instead of
  * modeling a 10× larger corpus of the same character:
  *
  *  - documents: replica k ≥ 1 applies a per-replica SUBSTITUTION CIPHER
  *    (alphabet rotated by 7k via `translate`) — every length, token
  *    boundary and equality relation WITHIN a replica is preserved
  *    bit-for-bit (so per-replica pair/dup structure is exactly the
  *    source's; an earlier token-suffixing scheme lengthened tokens and
  *    pushed sub-threshold common runs over q71's 23-char cut, inflating
  *    within-replica pairs 28×), while cross-replica substrings decorrelate;
  *    doc_id offsets by k·idSpace;
  *  - embeddings: replica k ≥ 1 applies a deterministic per-(k, dim)
  *    sign flip — an orthogonal transform, so within-replica cosines
  *    (and therefore each replica's pair/cluster structure) are EXACTLY
  *    sf0.1's, while cross-replica cosines behave like fresh draws
  *    (≈ N(0, 1/√dim)). NOTE at q39's deliberately loose 0.4 threshold
  *    and dim 64 that still yields a quadratic cross-replica pair tail
  *    (P(cos>0.4) ≈ 7e-4 over an O(n²) pair universe) — which is exactly
  *    what a REAL 10× corpus drawn from one distribution does at a fixed
  *    loose threshold; output cardinality, not candidate generation, is
  *    the quadratic term. Documented in SCALING.md's probe table.
  *
  * The TPC-H-ish relational tables replicate with consistent key-space
  * offsets: fact tables (customer/supplier/part/orders/lineitem/events)
  * offset every PK and FK by k·idSpace(table) — FK joins land entirely
  * within a replica, exactly like a 10× corpus of new entities — and
  * key-derived name columns (`Customer#%09d`, `Supplier#%09d`) are
  * REGENERATED from the offset key so the regexp-FK-extract queries stay
  * consistent. Dimensions (region/nation) copy unchanged: a bigger fact
  * corpus does not grow the country list, and keeping them fixed
  * preserves the broadcast-dim plan shape being probed. events.ts stays
  * in its source range (10× the rows = 10× the event density, which is
  * what a busier system produces).
  *
  * Replica 0 is the source data unchanged. Usage:
  *   runMain graft.tools.MakeScale <srcSfDir> <outDir> [factor=10]
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    // NOT under the graft_* namespace: Bench.cleanScratch deletes
    // /tmp/graft_* at startup, and a probe corpus there would be wiped by
    // any bench run pointed at a DIFFERENT sf dir
    val out = args.lift(1).getOrElse("/tmp/scale_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.Session.local()
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docIdSpace = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val reps = spark.range(factor).select(col("id").as("rep"))
    val alphabet =
      "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    def rot(k: Int): String = {
      val s = (k * 7) % alphabet.length
      alphabet.substring(s) + alphabet.substring(0, s)
    }
    val ciphered = (1 until factor)
      .foldLeft(when(col("rep") === 0, col("text"))) { (acc, k) =>
        acc.when(col("rep") === k, translate(col("text"), alphabet, rot(k)))
      }.otherwise(col("text"))
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("rep") * docIdSpace).as("doc_id"),
        ciphered.as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vecIdSpace = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    emb.crossJoin(reps)
      .select(
        (col("vec_id") + col("rep") * vecIdSpace).as("vec_id"),
        when(col("rep") === 0, col("embedding"))
          .otherwise(zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, i) => when(pmod(hash(col("rep"), i), lit(2)) === 0, x).otherwise(-x)))
          .as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // --- relational tables: offset-keyed replication ---------------------
    def idSpace(table: String, key: String): Long = {
      val m = spark.read.parquet(s"$src/$table.parquet")
        .agg(max(col(key))).head()
      m.getLong(0) + 1
    }
    def offset(c: String, space: Long) = (col(c) + col("rep") * space).as(c)

    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    val cSpace = idSpace("customer", "c_custkey")
    spark.read.parquet(s"$src/customer.parquet").crossJoin(reps)
      .select(offset("c_custkey", cSpace),
        format_string("Customer#%09d", col("c_custkey") + col("rep") * cSpace)
          .as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/customer.parquet")

    val sSpace = idSpace("supplier", "s_suppkey")
    spark.read.parquet(s"$src/supplier.parquet").crossJoin(reps)
      .select(offset("s_suppkey", sSpace),
        format_string("Supplier#%09d", col("s_suppkey") + col("rep") * sSpace)
          .as("s_name"),
        col("s_nationkey"), col("s_acctbal"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/supplier.parquet")

    val pSpace = idSpace("part", "p_partkey")
    spark.read.parquet(s"$src/part.parquet").crossJoin(reps)
      .select(offset("p_partkey", pSpace), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/part.parquet")

    val oSpace = idSpace("orders", "o_orderkey")
    spark.read.parquet(s"$src/orders.parquet").crossJoin(reps)
      .select(offset("o_orderkey", oSpace), offset("o_custkey", cSpace),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")

    spark.read.parquet(s"$src/lineitem.parquet").crossJoin(reps)
      .select(offset("l_orderkey", oSpace), offset("l_partkey", pSpace),
        offset("l_suppkey", sSpace), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // events.ts passes through in its on-disk form: TIMESTAMP(NANOS)
    // sources read as raw int64 under the legacy conf and write back as
    // int64; native-timestamp sources read/write as timestamps. Either
    // round-trips through Tables.events' type-adaptive normalization.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val eSpace = idSpace("events", "event_id")
    val uSpace = spark.read.parquet(s"$src/events.parquet")
      .agg(max(col("user_id"))).head().getLong(0) + 1
    spark.read.parquet(s"$src/events.parquet").crossJoin(reps)
      .select(offset("event_id", eSpace), col("ts"),
        offset("user_id", uSpace), col("event_type"), col("value"),
        col("props"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .map(t => s"$t=${spark.read.parquet(s"$out/$t.parquet").count()}")
    println(s"[makescale] $out: ${counts.mkString(" ")} (×$factor from $src)")
    spark.stop()
  }
}
