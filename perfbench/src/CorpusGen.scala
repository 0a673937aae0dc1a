package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded document/embedding corpus drawn from the distributions measured
  * on the sf0.1 `documents` and `embeddings` tables (figures in
  * perfbench/METRICS.md): texts of 10-99 tokens, uniform over a 30-word
  * vocabulary; 5% of documents are a copy of another document with the
  * token `dup` appended; `lang` 41% en and the rest split evenly over
  * de/es/fr/zh, `source` = src(doc_id mod 20), `n_chars` = text length;
  * 64-dim unit vectors with isotropic Gaussian directions and a uniform
  * label out of 10 that the geometry does not reflect. The corpus is dealt
  * out in a seeded order as per-tick landing directories in the layout
  * `graft.Main` reads (`documents.parquet`, `embeddings.parquet`,
  * `removals.parquet`, `vec_removals.parquet`). It stays in driver memory,
  * so the output checks can restate the surviving corpus without reading
  * the landings back. */
final class CorpusGen(spark: () => SparkSession, seed: Long, root: Path,
                      numDocs: Int, numVecs: Int) {
  import CorpusGen._

  private val r0 = new SplittableRandom(seed)
  private val texts: IndexedSeq[String] = {
    val dup = shuffle(numDocs, r0).take(numDocs * DupPercent / 100).map(_.toInt).toSet
    val originals = (0 until numDocs).filterNot(dup)
    val base = Array.tabulate(numDocs) { i =>
      if (dup(i)) null
      else Seq.fill(MinTokens + r0.nextInt(MaxTokens - MinTokens + 1))(
        Vocab(r0.nextInt(Vocab.length))).mkString(" ")
    }
    (0 until numDocs).map(i =>
      if (dup(i)) base(originals(r0.nextInt(originals.size))) + " dup" else base(i))
  }
  private val langs: IndexedSeq[String] =
    (0 until numDocs).map(_ => if (r0.nextInt(100) < EnPercent) "en" else OtherLangs(r0.nextInt(4)))
  private val (embeddings, labels): (IndexedSeq[Array[Float]], IndexedSeq[Int]) =
    (0 until numVecs).map { _ =>
      val v = Array.fill(Dim)(r0.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (v.map(x => (x / norm).toFloat), r0.nextInt(Labels))
    }.unzip
  private val docOrder = shuffle(numDocs, new SplittableRandom(seed ^ 0x5EEDL))
  private val vecOrder = shuffle(numVecs, new SplittableRandom(seed ^ 0x5EEEL))
  private var docNext = 0
  private var vecNext = 0

  /** Ids landed and not removed, in landing order. */
  val liveDocs = mutable.LinkedHashSet.empty[Long]
  val liveVecs = mutable.LinkedHashSet.empty[Long]
  /** Query vectors (vec_id → embedding) drawn from the day-zero vectors. */
  var queries: IndexedSeq[(Long, Array[Float])] = IndexedSeq.empty

  def docsLeft: Int = numDocs - docNext
  def vecsLeft: Int = numVecs - vecNext

  def docFrame(ids: Iterable[Long]): DataFrame =
    frame(DocSchema, ids.toSeq.sorted.map { i =>
      val t = texts(i.toInt)
      Row(i, t, langs(i.toInt), s"src${i % 20}", t.length.toLong)
    })

  def vecFrame(ids: Iterable[Long]): DataFrame =
    frame(VecSchema, ids.toSeq.sorted.map(i => Row(i, embeddings(i.toInt).toSeq, labels(i.toInt))))

  /** Land the next `nDocs` docs and `nVecs` labelled vectors, removing
    * `removeDocs` / `removeVecs` earlier-landed ids, as tick `tick`'s
    * landing directory. */
  def writeTick(tick: Int, nDocs: Int, nVecs: Int, removeDocs: Int = 0,
                removeVecs: Int = 0): Path = {
    val dir = root.resolve(f"tick-$tick%04d")
    Files.createDirectories(dir)
    val r = new SplittableRandom(seed * 31 + tick)
    def pickLive(live: mutable.LinkedHashSet[Long], n: Int): Seq[Long] = {
      val arr = live.toIndexedSeq
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < math.min(n, arr.size)) picked += arr(r.nextInt(arr.size))
      picked.toSeq.sorted
    }
    val remD = pickLive(liveDocs, removeDocs)
    val remV = pickLive(liveVecs, removeVecs)
    liveDocs --= remD; liveVecs --= remV
    val newD = docOrder.slice(docNext, docNext + nDocs); docNext += newD.size
    val newV = vecOrder.slice(vecNext, vecNext + nVecs); vecNext += newV.size
    liveDocs ++= newD; liveVecs ++= newV
    def write(df: DataFrame, name: String) = df.write.parquet(dir.resolve(name).toString)
    if (newD.nonEmpty) write(docFrame(newD), "documents.parquet")
    if (newV.nonEmpty) write(vecFrame(newV), "embeddings.parquet")
    if (remD.nonEmpty) write(frame(idSchema("doc_id"), remD.map(Row(_))), "removals.parquet")
    if (remV.nonEmpty) write(frame(idSchema("vec_id"), remV.map(Row(_))), "vec_removals.parquet")
    if (tick == 0) {
      val qr = new SplittableRandom(seed ^ 0x0A11L)
      queries = (0 until QueryPool).map(_ => newV(qr.nextInt(newV.size))).distinct.sorted
        .map(i => (i, embeddings(i.toInt)))
    }
    dir
  }

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark().createDataFrame(rows.asJava, schema).coalesce(1)

  private def shuffle(n: Int, r: SplittableRandom): IndexedSeq[Long] = {
    val a = Array.tabulate(n)(_.toLong)
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq
  }
}

object CorpusGen {
  val Dim = 64
  val Labels = 10
  val MinTokens = 10
  val MaxTokens = 99
  val DupPercent = 5
  val EnPercent = 41
  val QueryPool = 64
  private val OtherLangs = Array("de", "es", "fr", "zh")
  private val Vocab = Array("a", "the", "batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "customer", "join", "vector")
  private val DocSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  private val VecSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
  private def idSchema(c: String) = StructType(Seq(StructField(c, LongType, nullable = false)))
}
