package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, KeySetStore}

/** Probing a freshly initialised dedup store (no fragments yet) gives
  * the empty-store answer — every doc admitted with `hit_bands = 0`, no
  * duplicate spans — the same answer the streaming curation sink gives
  * before its first admission, instead of refusing the probe. Pinned
  * reads of a generation with no fragments still refuse.
  */
class EmptyStoreProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs = Tables.load(spark, TestSpark.sf0001, "documents")
    .select(col("doc_id"), col("text")).limit(30)

  private def freshStore(): String = {
    val root = Files.createTempDirectory("graft-empty-probe").toString
    KeySetStore.init(root)
    root
  }

  private def decisions(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("hit_bands"),
      r.getAs[Boolean]("admit"))).toSeq

  test("MinHash probes of an empty store admit every doc with hit_bands = 0") {
    val root = freshStore()
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val allAdmitted = ids.map(i => (i, 0L, true))
    val fromText = Dedup.admitAgainstMinHashStoreGen(docs, "doc_id", "text",
      n = 3, numHashes = 32, bands = 8, root = root)
    assert(decisions(fromText) == allAdmitted)
    val keys = Dedup.minHashBandKeys(docs, "doc_id", "text", n = 3,
      numHashes = 32, bands = 8)
    val fromKeys = Dedup.admitKeysAgainstMinHashStoreGen(
      docs.select(col("doc_id").as("id")), keys, root)
    assert(decisions(fromKeys) == allAdmitted)
    // same frame shape as the answer against a populated store
    val populated = freshStore()
    Dedup.admitMinHashKeysBatch(keys, 0L, populated)
    val against = Dedup.admitKeysAgainstMinHashStoreGen(
      docs.select(col("doc_id").as("id")), keys, populated)
    assert(fromKeys.schema == against.schema)
    assert(fromText.schema == against.schema)
    assert(decisions(against).forall(_._3 == false),
      "every doc collides with itself once admitted")
  }

  test("span probes of an empty store find no duplicate spans") {
    val root = freshStore()
    val spans = Dedup.spansAgainstStoreGen(docs, "doc_id", "text", 5, root)
    assert(spans.isEmpty)
    assert(spans.columns.toSeq ==
      Seq("doc_id", "span_start", "span_tokens", "span_text"))
  }

  test("pinned reads of a generation with no fragments still refuse") {
    val root = freshStore()
    val e = intercept[IllegalArgumentException] {
      KeySetStore.keysAt(spark, root, 1L)
    }
    assert(e.getMessage.contains("no fragments"))
  }
}
