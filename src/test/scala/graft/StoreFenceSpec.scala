package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GenStore, HeavyHitters, InvertedIndex, KeySetStore, QuantileStore, SketchStore, VectorStore}

/** The admission fence ([[GenStore.fenced]]) on EVERY admit/delete
  * front of the store family, table-driven: a replay of a sealed id (or
  * a delete id under the merge-renumbered mark) and an admission to a
  * quiesced root are refused BEFORE any write, each with its exact
  * message — catalog queries and callers match these substrings, so the
  * wording is pinned byte for byte. The post-write pointer-race refusal
  * is driven once through the admission hook.
  */
class StoreFenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-fence-$tag").toString

  // any frame will do: every refusal fires before the write runs
  private def rows: DataFrame = Seq(("a", 1L)).toDF("k", "v")
  private def toks: DataFrame = Seq((1L, Seq("a", "b"))).toDF("doc_id", "tk")

  private val replayed = "replays of compacted batches are refused"
  private val subtractTwice =
    "a replayed retraction would subtract twice and is refused"

  /** (front, refusal tail for a data front or None for a delete front,
    * the admission under `batchId` at `root`).
    */
  private val fronts: Seq[(String, Option[String], (String, Long) => Unit)] = Seq(
    ("KeySetStore.admitBatch", Some(s"$replayed (a per-batch overwrite " +
      "would drop the other merged batches' keys)"),
      (r, id) => KeySetStore.admitBatch(rows, id, r)),
    ("KeySetStore.admitDeleteBatch", None,
      (r, id) => KeySetStore.admitDeleteBatch(rows, id, r)),
    ("SketchStore.admitBatch", Some(replayed),
      (r, id) => SketchStore.admitBatch(spark, rows, Seq("k"), "v", id, r)),
    ("HeavyHitters.admitBatch", Some(replayed),
      (r, id) => HeavyHitters.admitBatch(spark, rows, "k", 4, id, r)),
    ("QuantileStore.admitBatch", Some(replayed),
      (r, id) => QuantileStore.admitBatch(spark, rows, Seq("k"), "v",
        0.0, 1.0, 8, id, r)),
    ("QuantileStore.admitBatchHdr", Some(replayed),
      (r, id) => QuantileStore.admitBatchHdr(spark, rows, Seq("k"), "v",
        4, 128, id, r)),
    ("QuantileStore.retractBatch", Some(subtractTwice),
      (r, id) => QuantileStore.retractBatch(spark, rows, Seq("k"), "v",
        0.0, 1.0, 8, id, r)),
    ("QuantileStore.retractBatchHdr", Some(subtractTwice),
      (r, id) => QuantileStore.retractBatchHdr(spark, rows, Seq("k"), "v",
        4, 128, id, r)),
    ("InvertedIndex.admitBatch", Some(replayed),
      (r, id) => InvertedIndex.admitBatch(spark, toks, "doc_id", "tk", 4L,
        id, r)),
    ("InvertedIndex.admitDeleteBatch", None,
      (r, id) => InvertedIndex.admitDeleteBatch(spark, toks, "doc_id", id, r)),
    ("VectorStore.admit", Some(s"$replayed (a per-batch overwrite would " +
      "replace the MERGED fragment)"),
      (r, id) => VectorStore.admit(spark, r, rows, "v", "k", id)),
    ("VectorStore.admitDeletes", None,
      (r, id) => VectorStore.admitDeletes(spark, r, rows, "v", id))
  )

  /** A fresh generation-1 root with its generation directory on disk. */
  private def freshRoot(tag: String): String = {
    val root = tmp(tag)
    GenStore.init(root)
    Files.createDirectories(Paths.get(GenStore.genDir(root, 1L)))
    root
  }

  fronts.foreach { case (front, refusal, admit) =>
    test(s"$front refuses a replay of a sealed id, with the exact message") {
      val root = freshRoot("sealed")
      val expected = refusal match {
        case Some(tail) =>
          GenStore.seal(root, 1L, 5L)
          "requirement failed: batch_id=5 is at or below gen=1's compacted " +
            s"high-water mark 5: compaction sealed it; $tail"
        case None =>
          GenStore.sealDeletes(root, 1L, 5L)
          "requirement failed: delete batch_id=5 is at or below gen=1's " +
            "delete-id high-water mark 5: a federation merge renumbered " +
            "carried delete fragments into that id space — admitting under " +
            "one of those ids would clobber a pending takedown; use a fresh " +
            "id above the mark"
      }
      val e = intercept[IllegalArgumentException](admit(root, 5L))
      assert(e.getMessage == expected)
      assert(GenStore.listBatchIds(spark, GenStore.genDir(root, 1L)).isEmpty &&
        GenStore.listBatchIds(spark,
          GenStore.genDir(root, 1L) + "/deletes").isEmpty,
        "a refused admission must not write")
    }

    test(s"$front refuses a quiesced root, with the exact message") {
      val root = freshRoot("quiesced")
      val succ = tmp("successor")
      GenStore.quiesce(root, succ)
      val e = intercept[IllegalStateException](admit(root, 0L))
      assert(e.getMessage == s"store $root is quiesced for a federation " +
        s"merge — admissions re-point to '$succ'")
    }
  }

  test("an admission whose write races a pointer move is refused after the write") {
    val root = tmp("race")
    KeySetStore.init(root)
    // the hook runs between the write and the post-write checks: a
    // roll publishing there leaves the fragment in a superseded
    // generation, so the admission must throw for its caller to re-admit
    val e = intercept[IllegalStateException] {
      KeySetStore.admitBatchHooked(rows.select("k"), 1L, root,
        () => GenStore.writePointer(root, 2L))
    }
    assert(e.getMessage == "admit of batch_id=1 raced a compaction: wrote " +
      "under gen=1 but _CURRENT is now gen=2 — re-admit under the current " +
      "generation")
    assert(GenStore.listBatchIds(spark, GenStore.genDir(root, 1L)) == Seq(1L),
      "the fence runs after the write lands")
  }
}
