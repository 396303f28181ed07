package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, GenStore, InvertedIndex, KeySetStore, Similarity, VectorStore}

/** curation: a seeded crawl stream, one batch per op, each handled in order
  * the way the catalog's lifecycle queries do it: MinHash band keys once
  * (local-checkpointed), the admission decision against the generational
  * key store, the survivors' keys, postings and embeddings admitted, each
  * store's compaction policy, and then the batch served back: a vector
  * top-10 search of survivors' embeddings and a BM25 top-10 search, both
  * over the stores the stream just wrote. Write-heavy; no ColeQuery in its
  * ops.
  */
final class Curation(run: Run) extends Workload {
  import Curation._
  private val spark = run.spark
  private val path = s"${run.workDir}/crawl"
  private val queryPath = s"${run.workDir}/queries"
  private var keyRoot = ""
  private var indexRoot = ""
  private var vectorRoot = ""
  /** Per loop batch: (id, kind, text length) of each doc. */
  private var docsOf: Map[Long, Array[(Long, String, Int)]] = Map.empty
  private var batch = 0
  private var admittedDocs = 0L
  private var admittedTextBytes = 0L
  private var probed = 0L
  private var rejected = 0L
  /** (store bytes, admitted input bytes) after `StoreBytesAfter` batches. */
  private var storeBytesAt: Option[(Long, Long)] = None
  private val plantedKinds = collection.mutable.Map[String, Long]().withDefaultValue(0L)
  private val rejectedKinds = collection.mutable.Map[String, Long]().withDefaultValue(0L)

  private def batchDocs(b: Long): DataFrame = spark.read.parquet(s"$path/batch=$b")

  def generate(): Long = {
    Gen.crawl(spark, path, run.seed, History, HistoryBatches, Batches, BatchDocs,
      Tokens, Vocab, CloneShare, NearShare, Dim, Clusters, Noise)
    spark.range(QueryBase, QueryBase + RecallProbes)
      .select(col("id"), Gen.vector(run.seed, col("id") * 7919L, Dim, Clusters, Noise).as("vec"))
      .write.parquet(queryPath)
    val all = spark.read.parquet(path)
    // the per-doc planted kinds the checks need, fetched outside the timing
    docsOf = all.filter(col("batch") >= 0)
      .select(col("batch").cast("long"), col("id"), col("kind"), length(col("text")))
      .collect().groupBy(_.getLong(0)).map { case (b, rs) =>
        b -> rs.map(r => (r.getLong(1), r.getString(2), r.getInt(3))).sortBy(_._1)
      }
    Gen.contentHash(all) * 31 + Gen.contentHash(spark.read.parquet(queryPath))
  }

  private def keysOf(docs: DataFrame): DataFrame =
    Dedup.minHashBandKeys(docs.select("id", "text"), "id", "text", Shingle, NumHashes, Bands)
      .localCheckpoint()

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("id"), TextFunctions.tokens(col("text")).as("tk"))

  /** The three stores seeded with the history, one fragment each (a fresh
    * key store cannot be probed: keysCurrent needs a fragment), and the
    * vector index fitted on the history's embeddings.
    */
  def setup(): Map[String, Double] = {
    keyRoot = s"${run.workDir}/keys"
    indexRoot = s"${run.workDir}/index"
    vectorRoot = s"${run.workDir}/vectors"
    val history = (0 until HistoryBatches).map(hb => batchDocs(-(hb + 1L))).reduce(_ union _)
    val t0 = System.nanoTime()
    val (cents, books) = run.tracer.span("setup.fit") {
      Similarity.fitIvfPq(history.select("id", "vec"), "id", "vec", Nlist, KmeansIters,
        PqM, PqK, PqIters)
    }
    val t1 = System.nanoTime()
    run.tracer.span("setup.store_build") {
      KeySetStore.init(keyRoot)
      InvertedIndex.initStore(indexRoot)
      VectorStore.init(spark, vectorRoot, cents, books)
      (0 until HistoryBatches).foreach { hb =>
        val docs = batchDocs(-(hb + 1L))
        Dedup.admitMinHashKeysBatch(keysOf(docs), hb.toLong, keyRoot)
        InvertedIndex.admitBatch(spark, tokens(docs), "id", "tk", IndexBucket,
          hb.toLong, indexRoot)
        VectorStore.admit(spark, vectorRoot, docs.select("id", "vec"), "id", "vec", hb.toLong)
      }
    }
    val t2 = System.nanoTime()
    admittedDocs = History
    admittedTextBytes = history.agg(sum(length(col("text")))).head().getLong(0)
    Map("fit" -> (t1 - t0) / 1e9, "store_build" -> (t2 - t1) / 1e9)
  }

  /** One probe against the seeded stores, nothing admitted. */
  def warmup(): Unit = {
    val docs = batchDocs(0L)
    Dedup.admitKeysAgainstMinHashStoreGen(docs.select("id"), keysOf(docs), keyRoot)
      .collect()
    VectorStore.search(spark, vectorRoot, spark.read.parquet(queryPath).limit(SearchQueries),
      "id", "vec", K).collect()
    InvertedIndex.bm25SearchCurrent(spark, indexRoot, Seq("w1", "w2"), K).collect()
  }

  def round(): Boolean =
    if (batch >= Batches) false
    else {
      val b = batch.toLong
      val meta = docsOf(b)
      run.op("batch", meta.length.toLong) {
        val docs = batchDocs(b)
        val keys = run.tracer.span("dedup.keys")(keysOf(docs))
        val decisions = run.tracer.span("dedup.decide") {
          Dedup.admitKeysAgainstMinHashStoreGen(docs.select("id"), keys, keyRoot)
            .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
        }
        val survivors = meta.filter(m => decisions(m._1)._2)
        val ids = survivors.map(_._1).toSeq
        val kept = docs.filter(col("id").isInCollection(ids))
        val batchId = HistoryBatches + b
        run.tracer.span("keyset.admit") {
          Dedup.admitMinHashKeysBatch(keys.filter(col("id").isInCollection(ids)),
            batchId, keyRoot)
        }
        run.tracer.span("index.admit") {
          InvertedIndex.admitBatch(spark, tokens(kept), "id", "tk", IndexBucket, batchId,
            indexRoot)
        }
        run.tracer.span("vector.admit") {
          VectorStore.admit(spark, vectorRoot, kept.select("id", "vec"), "id", "vec", batchId)
        }
        run.tracer.span("keyset.compact")(
          KeySetStore.compactIfNeeded(spark, keyRoot, MaxFragments))
        run.tracer.span("index.compact")(
          InvertedIndex.compactIfNeeded(spark, indexRoot, MaxFragments))
        run.tracer.span("vector.compact")(
          VectorStore.compactIfNeeded(spark, vectorRoot, MaxFragments))
        val served = serve(kept, ids)
        // every exact clone collides in every band; every fresh doc, whose
        // word 3-grams were never admitted, is admitted
        val decided = meta.forall { case (id, kind, _) =>
          val (hits, admit) = decisions(id)
          kind match {
            case "clone" => !admit && hits == Bands
            case "fresh" => admit
            case _ => true
          }
        }
        meta.foreach { case (id, kind, _) =>
          plantedKinds(kind) += 1
          if (!decisions(id)._2) rejectedKinds(kind) += 1
        }
        probed += meta.length
        rejected += meta.length - survivors.length
        admittedDocs += survivors.length
        admittedTextBytes += survivors.map(_._3.toLong).sum
        (decided && served, survivors.length.toLong)
      }
      batch += 1
      // store size at a fixed point of the stream, so it does not depend on
      // how many batches a run fits in
      if (batch == StoreBytesAfter)
        storeBytesAt = Some((storeBytes(), admittedTextBytes + admittedDocs * Dim * 8L))
      true
    }

  /** Serve the batch back from the stores it was just admitted to: the
    * embeddings of `SearchQueries` survivors, searched under fresh query ids,
    * must each find an identical vector at rank 1; a BM25 query of 4 words
    * of one survivor must rank it first.
    */
  private def serve(kept: DataFrame, ids: Seq[Long]): Boolean = {
    val picks = ids.take(SearchQueries)
    val queries = kept.filter(col("id").isInCollection(picks))
      .select((col("id") + QueryBase).as("id"), col("vec"))
    run.tracer.span("vector.index_load") {
      VectorStore.loadGenIndex(spark, vectorRoot, VectorStore.currentGen(vectorRoot))
    }
    val hits = run.tracer.span("vector.search") {
      VectorStore.search(spark, vectorRoot, queries, "id", "vec", K).collect()
    }
    val top = hits.filter(_.getAs[Long]("rank") == 1L)
    val vectorOk = hits.length == picks.size * K && top.length == picks.size &&
      top.forall(_.getAs[Double]("cos") > 1.0 - 1e-9)
    val (doc, text) = kept.filter(col("id") === picks.head).select("id", "text")
      .head() match { case Row(i: Long, t: String) => (i, t) }
    val terms = text.split(" ").distinct.take(4).toSeq
    val ranked = run.tracer.span("index.search") {
      InvertedIndex.bm25SearchCurrent(spark, indexRoot, terms, K).collect()
    }
    vectorOk && ranked.nonEmpty && ranked(0).getLong(0) == doc
  }

  private def storeBytes(): Long =
    Disk.bytes(keyRoot) + Disk.bytes(indexRoot) + Disk.bytes(vectorRoot)

  def finish(): Unit = {
    val indexed = InvertedIndex.maintenanceStatus(spark, indexRoot)
      .select("data_rows").head().getLong(0)
    run.check(s"index holds $admittedDocs admitted docs (found $indexed)",
      indexed == admittedDocs)
    // recall at 10 of the vector store against exact search over the
    // vectors it holds, on a fixed probe set of queries
    val probe = spark.read.parquet(queryPath)
    val stored = VectorStore.vectors(spark, vectorRoot, "id", "vec")
    def pairs(df: DataFrame) = df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(probe, stored, "id", "vec", K))
    val got = pairs(VectorStore.search(spark, vectorRoot, probe, "id", "vec", K))
    val recall = if (truth.isEmpty) 0.0 else (got intersect truth).size.toDouble / truth.size
    run.check(s"vector recall at 10 $recall >= $RecallFloor", recall >= RecallFloor)
    val (bytes, inputBytes) = storeBytesAt.getOrElse(
      (storeBytes(), admittedTextBytes + admittedDocs * Dim * 8L))
    run.facts("batches") = batch
    run.facts("batch_docs") = BatchDocs
    run.facts("history_docs") = History
    run.facts("planted_share") = Map("clone" -> CloneShare, "near" -> NearShare)
    run.facts("planted_docs") = plantedKinds.toMap
    run.facts("rejected_docs") = rejectedKinds.toMap
    run.facts("docs_probed") = probed
    run.facts("docs_rejected") = rejected
    run.facts("admitted_docs") = admittedDocs
    run.facts("op_mix") = Map("ingest_batch" -> 1, "vector_search" -> 1, "bm25_search" -> 1)
    run.facts("search_queries_per_op") = 2
    run.facts("store_bytes_batch") = math.min(batch, StoreBytesAfter)
    run.facts("store_bytes") = bytes
    run.facts("store_input_bytes") = inputBytes
    run.facts("recall_at_10") = recall
    run.facts("recall_probes") = RecallProbes
    run.facts("generations") = Map("keys" -> GenStore.currentGen(keyRoot),
      "index" -> InvertedIndex.currentGen(indexRoot),
      "vectors" -> VectorStore.currentGen(vectorRoot))
    Shapes.probe(run, spark.read.parquet(path), History.toLong + Batches.toLong * BatchDocs,
      ShapeRounds)
  }
}

object Curation {
  val History = 1000
  val HistoryBatches = 1
  val Batches = 40
  val BatchDocs = 300
  val Tokens = 60
  val Vocab = 50000
  val CloneShare = 0.10
  val NearShare = 0.10
  val Shingle = 3
  val NumHashes = 128
  val Bands = 32
  val IndexBucket = 64L
  val Dim = 32
  val Clusters = 16
  val Noise = 0.35
  val Nlist = 16
  val KmeansIters = 3
  val PqM = 16
  val PqK = 32
  val PqIters = 2
  val K = 10
  /** Survivors searched back per batch. */
  val SearchQueries = 16
  val QueryBase = 1000000000L
  val RecallProbes = 32
  /** Floor below which the store's answers count as wrong, not just coarse. */
  val RecallFloor = 0.5
  val ShapeRounds = 9
  /** Compaction threshold: every batch's admission is compacted into its
    * store at once, so every op carries its three compactions and each store
    * compacts in every batch (the stores' default is 16 fragments).
    */
  val MaxFragments = 2
  /** The batch count at which store size is taken. */
  val StoreBytesAfter = 2
}
