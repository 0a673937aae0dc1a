package graft

import org.apache.spark.sql.functions._
import graft.operators.TrainingExport

class TrainingExportSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("deterministic sharded JSONL export with verifiable manifest") {
    val docs = Tables.load(spark, dir, "documents")
    val n = docs.count()
    val work = SparkSpec.tempDir("texport").toString

    val m1 = TrainingExport.exportJsonl(docs, s"$work/a", numShards = 4)
    val m2 = TrainingExport.exportJsonl(docs, s"$work/b", numShards = 4)
    // reproducible shuffle: same input → identical manifests
    assert(m1 == m2)
    // every doc exported exactly once, all shards populated
    assert(m1.map(_._2).sum == n)
    assert(m1.size == 4 && m1.forall(_._2 > 0))

    // downstream verification re-derives the same manifest from the files
    assert(TrainingExport.verify(spark, s"$work/a") == m1)

    // exactly one data file per shard (co-located by the repartition)
    (0 until 4).foreach { s =>
      val files = new java.io.File(s"$work/a/shard=$s")
        .listFiles().filter(_.getName.endsWith(".txt"))
      assert(files.length == 1, s"shard $s has ${files.length} files")
    }

    // the shards are valid JSONL: re-read and compare content
    val back = spark.read.json(s"$work/a/shard=*")
    assert(back.count() == n)
    assert(back.select("doc_id").as[Long].collect().toSet ==
           docs.select("doc_id").as[Long].collect().toSet)

    // byte-identical re-export (same order within shards)
    val bytesOf = (p: String) => {
      val f = new java.io.File(p).listFiles().filter(_.getName.endsWith(".txt")).head
      java.nio.file.Files.readAllBytes(f.toPath).toSeq
    }
    (0 until 4).foreach { s =>
      assert(bytesOf(s"$work/a/shard=$s") == bytesOf(s"$work/b/shard=$s"),
             s"shard $s bytes differ")
    }
  }

  test("q93 portable manifest twin: partition of the corpus, hash-pluggable") {
    // The catalog entry swaps xxhash64 for the SQL-mirrorable PolyHash;
    // the manifest shape must be invariant to that choice: shards
    // partition the corpus (counts sum to n, every shard within range)
    // and the frame agrees with the collected-manifest path on the
    // DEFAULT hash.
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val n = docs.count()

    val portable = graft.queries.Curation.queries("q93_export_manifest")(
      spark, dir).collect()
    assert(portable.map(_.getLong(1)).sum == n)
    assert(portable.forall(r => r.getLong(0) >= 0 &&
      r.getLong(0) < graft.queries.Curation.ExportShards))

    // Default-hash path: manifestOf over assignShards == what exportJsonl
    // would record for the same (single-column) payload.
    val assigned = TrainingExport.assignShards(docs, 4)
    val frame = TrainingExport.manifestOf(assigned, xxhash64(to_json(struct($"doc_id", $"text"))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val work = SparkSpec.tempDir("texport93").toString
    val collected = TrainingExport.exportJsonl(docs, s"$work/c", numShards = 4)
    assert(frame == collected)
  }
}
