package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.tools.ScaleData

/** Invariants of the scale-rehearsal generator: the sf1 ratio table in
  * PLANS.md is only meaningful if replication preserves join fanout and
  * does NOT manufacture cross-replica (near-)duplicates. Locked here at
  * K=2 over sf0.001 so a ScaleData change cannot silently bend future
  * rehearsals. */
class ScaleDataSpec extends SparkSpec {
  import spark.implicits._

  private lazy val out = {
    val dir = SparkSpec.tempDir("scale2").toString
    ScaleData.scaleAll(spark, "/root/testdata/sf0.001", dir, 2)
    dir
  }

  private def cnt(dir: String, t: String): Long =
    spark.read.parquet(s"$dir/$t.parquet").count()

  test("fact tables scale exactly K-fold; fixed dims copied once") {
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"))
      assert(cnt(out, t) == 2 * cnt("/root/testdata/sf0.001", t), t)
    for (t <- Seq("region", "nation"))
      assert(cnt(out, t) == cnt("/root/testdata/sf0.001", t), t)
  }

  test("referential integrity: every lineitem key resolves after shifting") {
    val li = spark.read.parquet(s"$out/lineitem.parquet")
    val orders = spark.read.parquet(s"$out/orders.parquet")
    val part = spark.read.parquet(s"$out/part.parquet")
    assert(li.join(orders, li("l_orderkey") === orders("o_orderkey"),
      "left_anti").count() == 0)
    assert(li.join(part, li("l_partkey") === part("p_partkey"),
      "left_anti").count() == 0)
    // keys stay unique after the shift
    val o = orders.select("o_orderkey").distinct().count()
    assert(o == orders.count())
  }

  test("cross-replica documents share no 3-shingles; within-replica structure survives") {
    val docs = Tables.load(spark, out, "documents")
    val base = cnt("/root/testdata/sf0.001", "documents")
    val sh = Dedup.explodedShingles(Dedup.shingleSets(docs))
      .withColumn("replica", when(col("doc_id") < base, 0).otherwise(1))
    // no shingle value appears in both replicas
    assert(sh.groupBy("shingle")
      .agg(countDistinct(col("replica")).as("r")).filter(col("r") > 1)
      .count() == 0)
    // replica 1 preserves replica 0's exact-dup group structure
    val g0 = Dedup.exactGroups(docs.filter(col("doc_id") < base))
      .agg(count(lit(1)), sum("copies")).head()
    val g1 = Dedup.exactGroups(docs.filter(col("doc_id") >= base))
      .agg(count(lit(1)), sum("copies")).head()
    assert(g0 == g1)
  }

  test("cross-replica embeddings decorrelate below the dup threshold") {
    val e = Tables.load(spark, out, "embeddings")
    val base = cnt("/root/testdata/sf0.001", "embeddings")
    val u = e.select(col("vec_id"), col("embedding"))
    // replica pairs (v, v + stride): cosine must sit far below 0.9
    val pairs = u.as("a").join(u.as("b"),
        col("b.vec_id") === col("a.vec_id") + lit(base))
      .select(zip_with(col("a.embedding"), col("b.embedding"),
          (x, y) => x * y).as("xy"),
        aggregate(transform(col("a.embedding"), x => x * x),
          lit(0.0), (s, v) => s + v).as("na"),
        aggregate(transform(col("b.embedding"), x => x * x),
          lit(0.0), (s, v) => s + v).as("nb"))
      .select((aggregate(col("xy"), lit(0.0), (s, v) => s + v) /
               sqrt(col("na") * col("nb"))).as("cos"))
    assert(pairs.count() == base)
    assert(pairs.agg(max(abs(col("cos")))).head().getDouble(0) < 0.7)
  }

  test("events: replica time ranges do not overlap (windows scale, not densify)") {
    val ev = Tables.load(spark, out, "events")
    val base = cnt("/root/testdata/sf0.001", "events")
    val r = ev.withColumn("replica",
        when(col("event_id") < base, 0).otherwise(1))
      .groupBy("replica").agg(min("ts").as("lo"), max("ts").as("hi"))
      .orderBy("replica").collect()
    assert(r(0).getTimestamp(2).before(r(1).getTimestamp(1)))
  }
}
