package graft

import org.apache.spark.sql.functions._

import graft.operators.Spread

/** Spread's parallelism floor: it repartitions exactly the plans whose
  * estimated scan splits fall below `defaultParallelism`, is the
  * identity (object-equal) everywhere else, and never changes values. */
class SpreadSpec extends SparkSpec {

  test("Spread.ensureParallel: floors low-partition scans, identity otherwise, values unchanged") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val want = spark.sparkContext.defaultParallelism
    assume(want > 1)
    val spreadable = Spread.ensureParallel(docs)
    assert(spreadable.rdd.getNumPartitions >= math.min(want, docs.count().toInt max 1))
    // identity on an already-parallel relation (object-equal: no new node)
    val wide = docs.repartition(want + 3)
    assert(Spread.ensureParallel(wide) eq wide)
    // values bit-identical through the floor (order-normalized compare)
    assert(spreadable.orderBy("doc_id").collect().toSeq ==
           docs.orderBy("doc_id").collect().toSeq)
  }

  test("Spread.ensureParallel: a range counts its own slices") {
    val want = spark.sparkContext.defaultParallelism
    assume(want > 1)
    // spark.range without a slice count already plans defaultParallelism
    // slices — no redundant repartition on top
    val wide = spark.range(0, 1000).toDF()
    assert(Spread.ensureParallel(wide) eq wide)
    // an explicit single slice is still floored, values unchanged
    val narrow = spark.range(0, 1000, 1, 1).toDF()
    val floored = Spread.ensureParallel(narrow)
    assert(!(floored eq narrow))
    assert(floored.rdd.getNumPartitions >= want)
    assert(floored.orderBy("id").collect().toSeq == narrow.collect().toSeq)
  }

  test("Spread.ensureParallel: a local relation counts the slices its scan plans") {
    val want = spark.sparkContext.defaultParallelism
    assume(want > 1)
    // a local relation with at least defaultParallelism rows scans as
    // defaultParallelism slices already — an exchange on top could not
    // spread its rows any further
    import spark.implicits._
    val local = (1 to 4 * want).map(i => (i, s"v$i")).toDF("i", "v")
    val same = Spread.ensureParallel(local)
    assert(same eq local)
    assert(same.orderBy("i").collect().toSeq ==
           (1 to 4 * want).map(i => org.apache.spark.sql.Row(i, s"v$i")))
  }

  test("Spread.ensureParallel: streaming frames pass through unchanged") {
    // ADVICE r21: the r21 form called df.rdd, which THROWS on a streaming
    // DataFrame — the module contract says the entry points run in batch
    // and streaming alike
    val stream = spark.readStream.format("rate").load()
    assert(stream.isStreaming)
    assert(Spread.ensureParallel(stream) eq stream)
  }

  test("Spread.ensureParallel: floors a broadcast-anti-join delta, values unchanged") {
    // the tick shape `delta ANTI JOIN removals`: the join output keeps
    // the scan's (single) split under a broadcast build, so the floor
    // must see through the join to the left scan
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val rem = spark.range(3).select(col("id").as("doc_id"))
    val live = docs.join(rem, Seq("doc_id"), "left_anti")
    val floored = Spread.ensureParallel(live)
    val want = spark.sparkContext.defaultParallelism
    assume(want > 1)
    assert(floored.rdd.getNumPartitions >= math.min(want.toLong, live.count()).toInt)
    assert(floored.orderBy("doc_id").collect().toSeq ==
           live.orderBy("doc_id").collect().toSeq)
  }

  test("Spread.ensureParallel: identity on exchange-producing plans") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // aggregate / window / repartition plans carry shuffle partitioning
    // already — the floor must not stack another exchange on top
    val agg = docs.groupBy("lang").count()
    assert(Spread.ensureParallel(agg) eq agg)
    val rep = docs.repartition(spark.sparkContext.defaultParallelism + 3)
    assert(Spread.ensureParallel(rep) eq rep)
  }
}
