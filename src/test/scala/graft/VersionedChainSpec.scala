package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, BandIndex, Dedup}

/** The versioned-chain publish protocol (operators.VersionedChain) as seen
  * through both of its stores: each behaviour DedupSpec or PqSpec pins for
  * one store is pinned here for the other, and every sidecar text is
  * pinned literally so the on-disk format cannot drift. */
class VersionedChainSpec extends SparkSpec {

  private def sidecar(path: String, v: Int, file: String): String =
    new String(Files.readAllBytes(Paths.get(path, f"v-$v%05d", file)),
      StandardCharsets.UTF_8)

  private def docShingles(p: org.apache.spark.sql.Column) =
    Dedup.explodedShingles(Dedup.shingleSets(
      Tables.load(spark, "/root/testdata/sf0.001", "documents").filter(p).limit(20)))

  test("ann store: a crashed build's junk version is swept, the committed predecessor survives") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val path = SparkSpec.tempDir("graft_anncrash_").resolve("pq").toString
    assert(AnnIndex.buildPq(e, path) == 1)
    // a build that claimed v2 and wrote data but DIED before its commit
    val root = new java.io.File(path)
    new java.io.File(root, "v-00002/codes").mkdirs()
    new java.io.File(root, "v-00002/codes/part-junk.parquet").createNewFile()
    new java.io.File(root, ".claim-v-00002").createNewFile()
    // readers still resolve the committed v1, not the junk
    assert(AnnIndex.pqChain(spark, path) == Seq(1))
    // the next build skips the claimed number, keeps v1 (the version an
    // in-flight probe could have pinned) and sweeps the junk v2 + claim
    assert(AnnIndex.buildPq(e, path) == 3)
    assert(AnnIndex.pqChain(spark, path) == Seq(3))
    val names = root.listFiles.map(_.getName).toSet
    assert(names.contains("v-00001") && names.contains("v-00003"), names)
    assert(!names.contains("v-00002") && !names.contains(".claim-v-00002"), names)
    // a publish whose WRITER throws after its claim — here a posting
    // build whose corpus fails inside the posting write, after the
    // centroids landed — leaves the committed head untouched, and the
    // next publish sweeps the dead version's directory and claim
    val poisoned = e.withColumn("embedding",
      raise_error(lit("injected writer failure")).cast("array<float>"))
    intercept[Exception] {
      AnnIndex.buildIvfPostings(poisoned, path, trainOn = Some(e))
    }
    val dead = root.listFiles.map(_.getName).toSet
    assert(dead.contains("v-00004") && dead.contains(".claim-v-00004"), dead)
    assert(AnnIndex.isBuilt(spark, path) && AnnIndex.pqChain(spark, path) == Seq(3))
    assert(AnnIndex.buildPq(e, path) == 5)
    val swept = root.listFiles.map(_.getName).toSet
    assert(swept.contains("v-00003") && swept.contains("v-00005"), swept)
    assert(!swept.contains("v-00004") && !swept.contains(".claim-v-00004"), swept)
  }

  test("band index: a cyclic parent pointer in a tampered sidecar fails loudly, never loops") {
    val idx = SparkSpec.tempDir("graft_bandcycle_").resolve("idx").toString
    BandIndex.write(docShingles(col("doc_id") % 2 === 0), idx) // v1
    BandIndex.append(docShingles(col("doc_id") % 2 === 1), idx) // v2 → v1
    assert(BandIndex.chainLength(spark, idx) == 2)
    // tamper: the layer now names ITSELF as parent
    val meta = Paths.get(idx, "v-00002", "_graft_band_index")
    Files.write(meta, "64 64 16 2".getBytes(StandardCharsets.UTF_8))
    // drop the local-FS checksum sidecar the out-of-band write broke
    Files.deleteIfExists(meta.resolveSibling("._graft_band_index.crc"))
    val err = intercept[IllegalArgumentException] {
      BandIndex.chainLength(spark, idx)
    }
    assert(err.getMessage.contains("strictly older"), err.getMessage)
  }

  test("sidecar texts of every version kind are byte-stable") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 === 1)
    val work = SparkSpec.tempDir("graft_sidecars_")

    val pq = work.resolve("pq").toString
    AnnIndex.buildPq(evens, pq, batchId = Some(1L))
    AnnIndex.appendPq(odds, pq, batchId = Some(2L))
    assert(sidecar(pq, 1, "_graft_ann") == "pq 4 16 16 ti=2 batch=1")
    assert(sidecar(pq, 2, "_graft_ann") == "pq-delta 1 4 16 16 ti=2 batch=2")

    val ivfp = work.resolve("ivfp").toString
    AnnIndex.buildIvfPostings(evens, ivfp, refineIters = 1, batchId = Some(1L))
    AnnIndex.appendIvfPostings(odds, ivfp, batchId = Some(2L))
    assert(sidecar(ivfp, 1, "_graft_ann") == "ivfp 1 batch=1")
    assert(sidecar(ivfp, 2, "_graft_ann") == "ivfp-delta 1 batch=2")

    val idx = work.resolve("idx").toString
    BandIndex.write(docShingles(col("doc_id") % 2 === 0), idx, buckets = 8)
    BandIndex.append(docShingles(col("doc_id") % 2 === 1), idx)
    assert(sidecar(idx, 1, "_graft_band_index") == "8 64 16")
    assert(sidecar(idx, 2, "_graft_band_index") == "8 64 16 1")
  }
}
