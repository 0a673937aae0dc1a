package graft

import org.apache.spark.sql.functions._
import graft.operators.Bloom
import graft.queries.Curation

class BloomSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("no false negatives, regardless of build partitioning") {
    val keys = (1L to 5000L).map(i => i * 7919L)
    val df = keys.toDF("k").select(xxhash64($"k").as("key"))
    val bits = Bloom.build(df.repartition(7), "key", numBits = 1 << 16, k = 4)
    val misses = df
      .filter(!Bloom.mightContain(bits, $"key", numBits = 1 << 16, k = 4))
      .count()
    assert(misses == 0L)
  }

  test("false-positive rate stays near the geometry's design point") {
    val member = (1L to 5000L).map(i => i * 7919L).toDF("k")
      .select(xxhash64($"k").as("key"))
    val bits = Bloom.build(member, "key", numBits = 1 << 16, k = 4)
    // disjoint probe population (different generator stride)
    val probe = (1L to 20000L).map(i => i * 104729L + 3L).toDF("k")
      .select(xxhash64($"k").as("key"))
    val fp = probe.filter(Bloom.mightContain(bits, $"key", numBits = 1 << 16, k = 4))
      .count()
    // 5k keys in 64k bits, k=4 → theoretical fp ≈ 2.4%; allow 3x slack
    assert(fp.toDouble / 20000 < 0.075, s"fp rate ${fp.toDouble / 20000}")
  }

  test("q67 bloom decontamination == q54 exact decontamination") {
    val exact = Curation.queries("q54_decontaminate")(spark, dir).collect().toSet
    val bloom = Curation.queries("q67_bloom_decontaminate")(spark, dir).collect().toSet
    assert(bloom == exact)
  }

  test("Bloom.mightContainOffPlan == literal mightContain, no false negatives") {
    import graft.operators.Bloom
    val keys = spark.range(0, 3000).select((col("id") * 37 + 11).as("k"))
    val bits = Bloom.build(keys, "k")
    // truth-table equality on a superset (members + non-members)
    val probe = spark.range(0, 120000).select(col("id").as("k"))
    val viaLit = probe.filter(Bloom.mightContain(bits, col("k")))
      .collect().map(_.getLong(0)).toSet
    val viaOff = probe.filter(Bloom.mightContainOffPlan(bits, col("k")))
      .collect().map(_.getLong(0)).toSet
    assert(viaLit == viaOff)
    // the load-bearing contract: every inserted key tests positive
    val members = keys.collect().map(_.getLong(0)).toSet
    assert(members.subsetOf(viaOff))
  }
}
