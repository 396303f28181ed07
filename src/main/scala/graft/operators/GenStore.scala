package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The store lifecycle of the admission-store family, owned once. Each
  * store keeps only its payload — what a fragment holds, how fragments
  * fold, its read surface — and calls into this object for:
  *
  *  - the on-disk primitives: the atomic `_CURRENT` generation pointer,
  *    per-generation directories, batch-fragment listing, the
  *    `_COMPACTED` seal and the `_DELETES_HWM` delete-id mark;
  *  - the ADMISSION FENCE ([[fenced]]) every admit/delete front of
  *    [[KeySetStore]], [[SketchStore]], [[HeavyHitters]],
  *    [[QuantileStore]], [[InvertedIndex]] and [[VectorStore]] runs
  *    around its write: quiesce check, sealed-id (or delete-id) check,
  *    post-write quiesce re-check, pointer re-read;
  *  - the GENERATION ROLL ([[roll]]) the flat-fragment stores compact
  *    and rebuild through ([[KeySetStore]], [[SketchStore]],
  *    [[HeavyHitters]], [[QuantileStore]]): CAS on the expected
  *    generation, listing, build of `gen=G+1`, straggler sweep, seal,
  *    publish, sweep. [[InvertedIndex]] (three tables per fragment)
  *    and [[VectorStore]] (generations also hold an index artifact)
  *    keep their own compaction bodies on the same primitives;
  *  - the FRAGMENT-COUNT POLICY ([[compactIfFragmented]],
  *    [[needsCompaction]], [[fragmentStatus]]) of the flat stores;
  *  - federation merge of flat stores ([[mergeFlatStores]]), live-merge
  *    quiesce, retirement and generation vacuum.
  *
  * Layout under one root:
  * {{{
  *   root/_CURRENT            # current generation number (text)
  *   root/gen=G/...           # one generation's store (layout is the
  *                            #   owner's; fragments are batch_id=N)
  *   root/gen=G/_COMPACTED    # max batch id sealed by the compaction
  *                            #   that produced this generation
  * }}}
  *
  * Pointer discipline: tmp-write + ATOMIC_MOVE — readers see the old
  * generation or the new one, never a torn pointer. A generation
  * directory above the pointer is unpublished work (crashed or
  * in-flight compaction) that no reader may observe.
  */
object GenStore {

  private def pointerPath(root: String) =
    java.nio.file.Paths.get(root, "_CURRENT")

  def writePointer(root: String, gen: Long): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val tmp = java.nio.file.Paths.get(root, "_CURRENT.tmp")
    java.nio.file.Files.write(tmp, gen.toString.getBytes)
    java.nio.file.Files.move(tmp, pointerPath(root),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Create the store (generation 1, empty). Idempotent. */
  def init(root: String): Unit = writePointer(root, 1L)

  /** Cold-start init: create generation 1 only if no pointer exists —
    * the restart-safe form (a plain [[init]] would resurrect a
    * compacted-away generation for readers).
    */
  def initIfAbsent(root: String): Unit =
    if (!java.nio.file.Files.exists(pointerPath(root))) init(root)

  /** The generation readers currently see. */
  def currentGen(root: String): Long =
    new String(java.nio.file.Files.readAllBytes(pointerPath(root))).trim.toLong

  /** One generation's directory. */
  def genDir(root: String, gen: Long): String = s"$root/gen=$gen"

  /** Fragments of the current generation (under `table`, for stores
    * whose fragments span several tables).
    */
  private[graft] def fragmentCount(spark: SparkSession, root: String,
      table: String = ""): Long =
    listBatchIds(spark, genDir(root, currentGen(root)) + table).size.toLong

  /** Batch ids of the fragments under `dir`, ascending. */
  def listBatchIds(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).sorted
  }

  /** The compacted high-water mark of a generation: the max source
    * batch id its producing compaction sealed, or -1 for a
    * never-compacted generation (every admitted id is above it).
    * Batch ids at or below the seal are INSIDE the compacted fragment
    * — replaying them must be refused (the LSM rule: merged segments
    * seal their WAL).
    */
  def compactedHwm(root: String, gen: Long): Long = {
    val m = java.nio.file.Paths.get(genDir(root, gen), "_COMPACTED")
    if (!java.nio.file.Files.exists(m)) -1L
    else new String(java.nio.file.Files.readAllBytes(m)).trim.toLong
  }

  /** Seal a generation's compaction barrier. Written BEFORE the
    * pointer moves, so a reader that sees the generation also sees its
    * retry fence.
    */
  def seal(root: String, gen: Long, hwm: Long): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(genDir(root, gen), "_COMPACTED"),
      hwm.toString.getBytes)

  /** The DELETE-id high-water mark of a generation (`_DELETES_HWM`), or
    * -1 when none was ever sealed. Delete batch ids normally belong to
    * the CALLER (replaying one is a semantic no-op, so [[seal]] never
    * covers them) — but a federation merge RENUMBERS carried delete
    * fragments into ids the caller never chose, and an innocent
    * post-merge takedown admitted under one of those ids (0 is the
    * natural first choice on a gen-1 merged store) would
    * mode-overwrite a carried builder takedown: a pending compliance
    * delete silently lost before compaction. The merge therefore seals
    * the renumbered delete-id space, and every `admitDelete*` refuses
    * ids at or below it. The seal is per-generation by construction:
    * the next compaction CONSUMES the renumbered fragments (applies
    * them physically; stragglers it carries were admitted post-merge,
    * so their caller-chosen ids are above this mark), leaving no
    * fragment in the new generation that a reused low id could
    * clobber — so the new generation correctly starts unfenced.
    */
  def deletesHwm(root: String, gen: Long): Long = {
    val m = java.nio.file.Paths.get(genDir(root, gen), "_DELETES_HWM")
    if (!java.nio.file.Files.exists(m)) -1L
    else new String(java.nio.file.Files.readAllBytes(m)).trim.toLong
  }

  /** Seal the delete-id space at `hwm` (see [[deletesHwm]]). No-op for
    * hwm < 0 so merge sites can call it unconditionally.
    */
  def sealDeletes(root: String, gen: Long, hwm: Long): Unit =
    if (hwm >= 0L) java.nio.file.Files.write(
      java.nio.file.Paths.get(genDir(root, gen), "_DELETES_HWM"),
      hwm.toString.getBytes)

  // -------------------------------------------------------------------------
  // LIVE-MERGE QUIESCE — the contract for merging stores whose sources
  // have CONTINUOUS admission sinks. A merge lists the source fragments
  // once; an admission landing after that listing would silently miss
  // the merged store. The protocol: (1) QUIESCE each live source — CAS
  // a `_MERGING` mark at its root naming the successor store; (2) every
  // admission front refuses a quiesced store loudly, naming the
  // successor, and the cooperating sink re-points there at its next
  // micro-batch boundary (foreachBatch is serial per query, so the
  // in-flight batch completed before the sink's next pre-check);
  // (3) the merge re-lists the sources after copying and REFUSES to
  // seal if anything moved — an in-flight admission that landed inside
  // the window makes the merge fail loudly instead of publishing a
  // store that silently misses (or tore) a fragment; the merge is
  // wipe-and-redo retryable, so the retry — issued once the writer has
  // observed the mark — converges and includes the straggler;
  // (4) after the merge, retire the sources (tombstone) or leave them
  // quiesced forever (the mark is permanent — a retired id space).
  // -------------------------------------------------------------------------

  private def quiescePath(root: String) =
    java.nio.file.Paths.get(root, "_MERGING")

  /** QUIESCE a store for federation merge: atomically mark it closed
    * for admission, naming the successor store admissions should go
    * to. CAS — a second quiesce fails loudly instead of silently
    * re-pointing the fleet somewhere else.
    */
  def quiesce(root: String, successorRoot: String): Unit = {
    require(successorRoot.nonEmpty, "quiesce needs a successor root")
    // per-attempt tmp name: a SHARED tmp would let a concurrent quiesce
    // rewrite the content between this writer's write and link — the
    // winner would atomically publish the LOSER's successor (and the
    // loser's cleanup could race the winner's link)
    val tmp = java.nio.file.Paths.get(root,
      s"_MERGING.${java.util.UUID.randomUUID}.tmp")
    java.nio.file.Files.write(tmp, successorRoot.getBytes)
    // CAS publish: hard-link the fully-written tmp into place —
    // atomically fails if the mark exists (a rename would silently
    // REPLACE it on POSIX, re-pointing the fleet), and readers never
    // see partial content (the link target is complete before it links)
    try java.nio.file.Files.createLink(quiescePath(root), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new IllegalStateException(
        s"store $root is already quiesced into " +
          s"'${quiescedSuccessor(root).getOrElse("?")}' — a second " +
          "quiesce would re-point the fleet; retire the store or use " +
          "the existing successor")
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** The successor a quiesced store forwards admissions to, or None
    * for a live store. The cooperative sink's per-micro-batch
    * pre-check (one file existence test).
    */
  def quiescedSuccessor(root: String): Option[String] = {
    val p = quiescePath(root)
    if (!java.nio.file.Files.exists(p)) None
    else Some(new String(java.nio.file.Files.readAllBytes(p)).trim)
  }

  /** The admission-front fence every store's `admit*` runs first:
    * refuse a quiesced store loudly, naming the successor.
    */
  def requireNotQuiesced(root: String): Unit =
    quiescedSuccessor(root).foreach { succ =>
      throw new IllegalStateException(
        s"store $root is quiesced for a federation merge — admissions " +
          s"re-point to '$succ'")
    }

  /** The POST-WRITE half of the quiesce fence, run by every admission
    * front AFTER its multi-second Spark write: the pre-check
    * ([[requireNotQuiesced]]) races the mark by construction — an
    * admission that passed it can complete its write inside the merge's
    * copy-to-seal gap, where even the movement fence
    * ([[requireSourcesUnmoved]]) no longer re-lists. Re-checking the
    * mark here closes that window: the write happened-before this
    * check, and the mark happened-before the merge's first listing, so
    * an admission the merge could have missed ALWAYS sees the mark and
    * throws — the caller re-admits at the successor (for the key-set
    * family a double admission is a semantic no-op; for count state the
    * orphan fragment sits in a retired generation no reader serves).
    */
  def requireStillNotQuiesced(root: String, what: String): Unit =
    quiescedSuccessor(root).foreach { succ =>
      throw new IllegalStateException(
        s"$what completed after store $root was quiesced into '$succ': " +
          "the fragment may be invisible to the in-flight merge — " +
          "re-admit at the successor (the quiesced source is never " +
          "served once retired)")
    }

  /** What an admission front writes, for [[fenced]]: a DATA fragment
    * (its id must clear the generation's compaction seal — `refusal`
    * ends that error, `noun` names the write in the post-write errors)
    * or a DELETE fragment (its id must clear the merge-renumbered
    * delete-id mark, [[deletesHwm]]; no seal — delete replays are
    * semantic no-ops).
    */
  private[graft] sealed abstract class Front(val noun: String)
  private[graft] final case class Data(
      refusal: String = "replays of compacted batches are refused",
      override val noun: String = "admit of") extends Front(noun)
  private[graft] case object Deletes extends Front("delete")

  /** THE ADMISSION FENCE every store's admit/delete front runs around
    * its `write` (handed the generation to write under):
    *  - before: refuse a quiesced store ([[requireNotQuiesced]]), read
    *    the current generation (or take `at`, the pointer the caller
    *    already read — the race-test seam), refuse a sealed batch id
    *    (a per-batch overwrite would replace the MERGED fragment) or a
    *    delete id at or below [[deletesHwm]];
    *  - after: [[requireStillNotQuiesced]], then re-read the pointer —
    *    if a compaction/refit (`raced`) published meanwhile, the write
    *    landed in a superseded generation it may not have seen, so the
    *    front throws and its caller re-admits under the current one.
    *  Together with the roll's straggler sweep, an admission racing a
    *  compaction either lands in both generations or throws — never
    *  silently vanishes.
    */
  private[graft] def fenced(root: String, batchId: Long, front: Front = Data(),
      at: Option[Long] = None, raced: String = "compaction")(
      write: Long => Unit): Unit = {
    requireNotQuiesced(root)
    val g = at.getOrElse(currentGen(root))
    front match {
      case Data(refusal, _) =>
        val hwm = compactedHwm(root, g)
        require(batchId > hwm,
          s"batch_id=$batchId is at or below gen=$g's compacted high-water " +
            s"mark $hwm: compaction sealed it; $refusal")
      case Deletes =>
        val dhwm = deletesHwm(root, g)
        require(batchId > dhwm,
          s"delete batch_id=$batchId is at or below gen=$g's delete-id " +
            s"high-water mark $dhwm: a federation merge renumbered carried " +
            "delete fragments into that id space — admitting under one of " +
            "those ids would clobber a pending takedown; use a fresh id above " +
            "the mark")
    }
    write(g)
    val what = s"${front.noun} batch_id=$batchId"
    requireStillNotQuiesced(root, what)
    val now = currentGen(root)
    if (now != g) throw new IllegalStateException(
      s"$what raced a $raced: wrote under gen=$g but _CURRENT is now " +
        s"gen=$now — re-admit under the current generation")
  }

  /** ABORT a quiesce — the guarded escape hatch for a quiesce issued in
    * error (wrong successor path, merge plans cancelled). Allowed ONLY
    * while no COMPLETED merge exists at the successor: once a merge
    * sealed there, the fleet's sinks may already have re-pointed and
    * admitted — un-quiescing the source would split the id space across
    * two live stores. "No completed merge" means the successor root (as
    * named by the mark) is absent, has no `_CURRENT` pointer, or its
    * current generation is still `_MERGE_PENDING`-marked / unsealed.
    * NOT safe against a merge IN FLIGHT at the instant of the abort:
    * cancel the merge job first — an abort only removes the mark, and a
    * racing merge that seals after it wins the guard's race.
    */
  def abortQuiesce(root: String): Unit = {
    val succ = quiescedSuccessor(root).getOrElse(
      throw new IllegalStateException(s"store $root is not quiesced"))
    val sealedMerge =
      java.nio.file.Files.exists(pointerPath(succ)) && {
        val gen = currentGen(succ)
        val dir = java.nio.file.Paths.get(genDir(succ, gen))
        if (java.nio.file.Files.isDirectory(dir))
          !java.nio.file.Files.exists(dir.resolve("_MERGE_PENDING")) &&
            compactedHwm(succ, gen) >= 0
        else
          // no generation dir: a CDC successor's pointer is written
          // LAST (mergeCdcStores), so pointer + v<cur> snapshot = a
          // sealed CDC merge; a bare pointer is only mergeFlatStores'
          // initIfAbsent — no fragment copied yet, safe to abort
          java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(succ, s"v$gen"))
      }
    if (sealedMerge) throw new IllegalStateException(
      s"cannot abort the quiesce of $root: successor '$succ' holds a " +
        "COMPLETED merge — sinks may already have re-pointed and " +
        "admitted there; retire this source instead")
    java.nio.file.Files.delete(quiescePath(root))
  }

  /** RETIRE a merged-away source store: tombstone-rename then delete
    * the whole root ([[graft.streaming.EventStreams.tombstoneDelete]]'s
    * crash discipline — a racing reader never observes a partial root
    * that still resolves).
    */
  def retire(root: String): Unit =
    graft.streaming.EventStreams.tombstoneDelete(
      java.nio.file.Paths.get(root))

  /** FILE-LEVEL manifest of a directory tree: every file's (relative
    * path, length, modification time), sorted — the movement fence's
    * observation unit. A batch-id SET compare would miss an in-flight
    * IDEMPOTENT re-admission (mode-overwrite of an existing `batch_id=`
    * directory) landing mid-copy: the id set is unchanged while the
    * byte-level copy may have captured a torn mix of old and new part
    * files. File names (writer UUIDs — never reused), lengths and
    * mtimes change under any rewrite, so the manifest catches it.
    */
  private[graft] def listManifest(spark: SparkSession,
      dir: String): Seq[(String, Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Seq.empty
    else {
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] =
        fs.listStatus(p).toSeq.flatMap { s =>
          if (s.isDirectory) walk(s.getPath)
          else Seq((s.getPath.toString.stripPrefix(root.toString),
            s.getLen, s.getModificationTime))
        }
      walk(root).sortBy(_._1)
    }
  }

  /** The post-copy movement check: a merge took a file-level manifest
    * ([[listManifest]]) of each source before copying; if any source's
    * manifest changed since, a write landed inside the window (quiesce
    * violated, or an in-flight write completed after the listing) — the
    * copy may have missed it or torn it, so REFUSE to seal. Compares
    * whole manifests, not just fragment-id sets: an idempotent
    * re-admission that overwrites an EXISTING batch directory leaves
    * the id set unchanged but not the file names/lengths/mtimes. The
    * merge target is wipe-and-redo retryable ([[mergeOpen]]): retry
    * once the source is quiet and the straggler merges cleanly.
    */
  private[graft] def requireSourcesUnmoved(spark: SparkSession,
      observed: Seq[(String, Seq[(String, Long, Long)])]): Unit =
    observed.foreach { case (dir, manifest) =>
      val now = listManifest(spark, dir)
      if (now != manifest) throw new IllegalStateException(
        s"source $dir changed during the merge (" +
          s"${manifest.size} files -> ${now.size}, or contents rewritten " +
          "in place): a write landed inside the copy window — quiesce " +
          "the source (GenStore.quiesce) and retry the merge; the " +
          "unsealed target is wiped and redone on retry")
    }

  /** BYTE-LEVEL parallel fragment copy — the federation-merge data
    * mover. Sealed fragments are immutable parquet, so a merge needs
    * no decode: each (srcDir → dstDir) pair is a raw recursive file
    * copy, and all pairs run concurrently on the driver's thread pool
    * (the [[footerRowCount]] pattern — zero Spark jobs, zero executor
    * dispatch, no re-encode). Cost model at fleet scale: a K-builder
    * merge is O(index bytes / copy bandwidth) with file-count-bounded
    * dispatch, not K×fragments×tables serial Spark jobs each paying a
    * parquet decode+re-encode. Each pair is idempotent (a partial
    * prior copy at `dstDir` is replaced whole), which is what makes
    * merge retry after a crash safe: the seal is written last, so an
    * unsealed target is always a redo-able prefix.
    */
  private[graft] def copyFragments(spark: SparkSession,
      pairs: Seq[(String, String)]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val conf = spark.sessionState.newHadoopConf()
    Await.result(Future.sequence(pairs.map { case (s, d) => Future {
      val sp = new org.apache.hadoop.fs.Path(s)
      val dp = new org.apache.hadoop.fs.Path(d)
      val sfs = sp.getFileSystem(conf)
      val dfs = dp.getFileSystem(conf)
      if (dfs.exists(dp)) dfs.delete(dp, true)
      dfs.mkdirs(dp.getParent)
      if (!org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp,
          /* deleteSource = */ false, conf))
        throw new java.io.IOException(s"fragment copy failed: $s -> $d")
    }}), Duration.Inf)
  }

  /** Open a merge target generation for writing — the crash-retry
    * guard shared by every `mergeStores`. A merge writes fragments
    * first and the `_COMPACTED` seal LAST, so a target generation
    * holding fragments without a seal is either (a) a crashed previous
    * attempt at this merge — identified by the `_MERGE_PENDING` mark
    * this guard writes before any fragment lands, safe to wipe and
    * redo whole — or (b) a LIVE never-compacted store someone passed
    * by mistake, which has fragments but no mark and must be refused,
    * never overwritten. Call [[mergeSeal]] to finish.
    */
  private[graft] def mergeOpen(spark: SparkSession, root: String,
      gen: Long, occupied: Boolean): Unit = {
    val dir = genDir(root, gen)
    val mark = java.nio.file.Paths.get(dir, "_MERGE_PENDING")
    require(!occupied || java.nio.file.Files.exists(mark),
      s"merge target $root holds fragments but no _MERGE_PENDING mark — " +
        "it is a live store, not a crashed merge; refusing to overwrite")
    if (occupied) {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(p, true)
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(mark, Array.emptyByteArray)
  }

  /** Finish a merge: seal the delete-id space and the data ids (in
    * that order — the data seal is the completion marker), then drop
    * the `_MERGE_PENDING` mark. A crash after the data seal leaves a
    * COMPLETE store with a stale mark; the next merge attempt at this
    * root fails its "already sealed" require, which is the caller's
    * signal that the merge in fact succeeded.
    */
  private[graft] def mergeSeal(root: String, gen: Long, dataHwm: Long,
      delHwm: Long): Unit = {
    sealDeletes(root, gen, delHwm)
    seal(root, gen, dataHwm)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(genDir(root, gen), "_MERGE_PENDING"))
  }

  /** FEDERATION MERGE for FLAT-fragment stores (fragments directly
    * under the generation directory; an optional `deletes/` table
    * beside them) — the shared machinery behind [[KeySetStore
    * .mergeStores]] and the mergeable-family wrappers (sketch /
    * frequency / quantile, whose reads union fragments by algebra, so
    * a merge IS just the fragments side by side): copy each source's
    * current-generation fragments under fresh sequential ids — a
    * BYTE-LEVEL parallel copy ([[copyFragments]]): the fragments are
    * immutable sealed parquet, so no decode, no Spark job, no shuffle
    * — carry delete fragments, seal the occupied data ids AND the
    * renumbered delete-id space ([[deletesHwm]]). Caller contract:
    * compatible fragment schemas (same key columns / sketch parameters
    * — the algebra's own merge precondition) and a `dstRoot` that is
    * fresh or holds only a crashed previous attempt at this merge (the
    * seal is written last, so an unsealed target is wiped and redone —
    * merge is crash-retryable).
    */
  private[graft] def mergeFlatStores(spark: SparkSession,
      srcRoots: Seq[String], dstRoot: String): Long =
    mergeFlatStoresHooked(spark, srcRoots, dstRoot, () => ())

  /** [[mergeFlatStores]] with a hook run between the fragment listing
    * and the copy — the race-test seam for the live-merge window (the
    * [[InvertedIndex.compactStoreHooked]] pattern): a fragment landing
    * inside the hook must make the merge REFUSE to seal
    * ([[requireSourcesUnmoved]]), never publish a store missing it.
    */
  private[graft] def mergeFlatStoresHooked(spark: SparkSession,
      srcRoots: Seq[String], dstRoot: String,
      midHook: () => Unit): Long = {
    require(srcRoots.size >= 2, "mergeStores needs at least two sources")
    initIfAbsent(dstRoot)
    require(currentGen(dstRoot) == 1L && compactedHwm(dstRoot, 1L) == -1L,
      s"merge target $dstRoot must be a fresh store root (or an unsealed " +
        "partial merge); it already holds a sealed generation")
    val dst = genDir(dstRoot, 1L)
    mergeOpen(spark, dstRoot, 1L,
      occupied = java.nio.file.Files.exists(java.nio.file.Paths.get(dst)))
    var next = 0L
    var delNext = 0L
    val observed = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[(String, Long, Long)])]
    val pairs = srcRoots.flatMap { src =>
      val sdir = genDir(src, currentGen(src))
      val ids = listBatchIds(spark, sdir)
      val delIds = listBatchIds(spark, s"$sdir/deletes")
      observed += ((sdir, listManifest(spark, sdir)))
      ids.map { i =>
        val p = (s"$sdir/batch_id=$i", s"$dst/batch_id=$next")
        next += 1; p
      } ++ delIds.map { i =>
        val p = (s"$sdir/deletes/batch_id=$i",
          s"$dst/deletes/batch_id=$delNext")
        delNext += 1; p
      }
    }
    require(next > 0, "no data fragments found under any source's " +
      "current generation — refusing to seal an empty merged store " +
      "(were the right roots passed?)")
    midHook()
    copyFragments(spark, pairs)
    // the live-merge fence: anything moved since the listing -> refuse
    // to seal (retry is a wipe-and-redo once the source is quiet)
    requireSourcesUnmoved(spark, observed.toSeq)
    mergeSeal(dstRoot, 1L, next - 1, delNext - 1)
    1L
  }

  /** Published generations still on disk, ascending (tombstoned
    * `.deleted` directories and unpublished generations excluded).
    */
  def listGenerations(root: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val cur = currentGen(root)
    scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(root))) { st =>
      st.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.matches("gen=\\d+") => s.drop(4).toLong }
        .filter(_ <= cur).toSeq.sorted
    }
  }

  /** Retention for superseded generations: tombstone-renamed before
    * deletion ([[graft.streaming.EventStreams.tombstoneDelete]]), so a
    * crash mid-vacuum or a racing reader can never observe a partial
    * generation that still resolves. Returns the dropped generations.
    */
  def vacuum(root: String, keepLast: Int): Seq[Long] =
    vacuumExcept(root, keepLast, Set.empty)

  /** [[vacuum]] with an exclusion set: generations in `keep` survive
    * even when older than the retention window — the enforcement hook
    * for cross-store pins ([[Manifest.vacuumStore]] passes the
    * generations that retained manifest versions still pin, turning
    * [[Manifest.retainedPins]] from an advisory audit into an invariant
    * the vacuum cannot violate).
    */
  def vacuumExcept(root: String, keepLast: Int,
      keep: Set[Long]): Seq[Long] = {
    require(keepLast >= 1, "keepLast must retain at least the current generation")
    graft.streaming.EventStreams.sweepTombstones(java.nio.file.Paths.get(root))
    val drop = listGenerations(root).dropRight(keepLast).filterNot(keep)
    drop.foreach(g => graft.streaming.EventStreams.tombstoneDelete(
      java.nio.file.Paths.get(genDir(root, g))))
    drop
  }

  /** Assemble one maintenance-status row — the shared shape of the
    * family's `maintenanceStatus` dashboards (store-specific only in
    * how data/pending cardinalities are counted).
    */
  private[graft] def statusRow(spark: SparkSession, gen: Long,
      fragments: Long, dataRows: Long, pendingRows: Long,
      needs: Boolean): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Seq((gen, fragments, dataRows, pendingRows,
      if (dataRows == 0) (if (pendingRows > 0) 1.0 else 0.0)
      else pendingRows.toDouble / dataRows,
      needs))
      .toDF("generation", "fragments", "data_rows", "pending_rows",
        "pending_fraction", "needs_compaction")
  }

  // -------------------------------------------------------------------------
  // GENERATION ROLL + FRAGMENT-COUNT POLICY of the flat-fragment stores
  // (fragments directly under the generation directory, an optional
  // `deletes/` table beside them).
  // -------------------------------------------------------------------------

  /** The source side of one generation roll, as its build step sees
    * it: the source generation `gen` and its directory, the directory
    * of `gen=G+1`, the FULL fragment listing, the retained subset the
    * build folds, and the listed delete fragments (empty unless the
    * roll carries deletes).
    */
  private[graft] final case class Roll(spark: SparkSession, gen: Long,
      src: String, dst: String, allIds: Seq[Long], ids: Seq[Long],
      delIds: Seq[Long]) {
    /** The LISTED fragments `is` (of `table`), read by explicit path:
      * parquet listing is lazy, so a directory-wide read could fold a
      * straggler admitted after the listing into the build AND the
      * sweep — double-counting it in every additive store.
      */
    def read(is: Seq[Long], table: String = ""): DataFrame =
      spark.read.parquet(is.map(i => s"$src$table/batch_id=$i"): _*)
  }

  /** ROLL the current generation into `gen=G+1` — the skeleton every
    * flat-store compaction and scoped rebuild shares:
    *  1. compare-and-swap on `expectedGen`: a retry after success (or a
    *     racing second roll) returns the current generation untouched;
    *  2. list the fragments (`retain` picks the ones the build folds;
    *     the seal still covers the full listing) and, with `deletes`,
    *     the delete fragments; then `midHook` — the race-test seam;
    *  3. `build` writes `gen=G+1` from the listing and returns the
    *     seal's high-water mark;
    *  4. STRAGGLER SWEEP: fragments admitted to `gen=G` since the listing
    *     are re-listed and copied through unmerged (`carry` transforms
    *     each data straggler; delete stragglers ride through pending) —
    *     once before the seal and once after the pointer moves, so an
    *     admit racing the roll either lands in the new generation or
    *     throws at its own pointer re-read ([[fenced]]);
    *  5. seal, then publish behind the atomic pointer.
    *  Readers are generation-isolated throughout; a crash before the
    *  publish leaves an unpublished `gen=G+1` the retry overwrites.
    */
  private[graft] def roll(spark: SparkSession, root: String,
      expectedGen: Long, midHook: () => Unit = () => (),
      verb: String = "compact", retain: Long => Boolean = _ => true,
      deletes: Boolean = false,
      carry: Roll => DataFrame => DataFrame = _ => identity)(
      build: Roll => Long): Long = {
    val cur = currentGen(root)
    if (cur != expectedGen) return cur
    val src = genDir(root, cur)
    val allIds = listBatchIds(spark, src)
    require(allIds.nonEmpty, s"nothing to $verb under $src")
    val ids = allIds.filter(retain)
    require(ids.nonEmpty,
      "retention would empty the store — at least one fragment must " +
        "survive; to drop everything, initialize a fresh root instead")
    val delIds = if (deletes) listBatchIds(spark, s"$src/deletes") else Nil
    midHook()
    val r = Roll(spark, cur, src, genDir(root, cur + 1), allIds, ids, delIds)
    val hwm = build(r)
    val carried = carry(r)
    def copy(from: String, to: String, f: DataFrame => DataFrame): Unit =
      f(spark.read.parquet(from)).write.mode("overwrite").parquet(to)
    def sweep(): Unit = {
      // subtract the FULL listing (an expired fragment is not a
      // straggler — copying it back would undo the retention)
      (listBatchIds(spark, src).toSet -- allIds).filter(retain).toSeq.sorted
        .foreach(i => copy(s"$src/batch_id=$i", s"${r.dst}/batch_id=$i", carried))
      if (deletes)
        (listBatchIds(spark, s"$src/deletes").toSet -- delIds).toSeq.sorted
          .foreach(i => copy(s"$src/deletes/batch_id=$i",
            s"${r.dst}/deletes/batch_id=$i", identity))
    }
    sweep()
    seal(root, cur + 1, hwm)
    writePointer(root, cur + 1)
    sweep()
    cur + 1
  }

  /** The continuous-compaction policy: run `compact` on the current
    * generation once `maxFragments` fragments (of `table`) accumulate.
    * Returns the new generation when it fired.
    */
  private[graft] def compactIfFragmented(spark: SparkSession, root: String,
      maxFragments: Int, table: String = "")(
      compact: Long => Long): Option[Long] =
    if (!needsCompaction(spark, root, maxFragments, table)()) None
    else Some(compact(currentGen(root)))

  /** The COMPACTION-POLICY predicate: true once the current
    * generation's fragments (of `table`) reach `maxFragments` (read
    * amplification) or — for a store with a delete surface, where
    * `maxPendingFraction` is given — once the pending delete rows grow
    * past that fraction of `dataRows(genDir, fragment ids)`: every read
    * pays that anti-join until a compaction folds it away, so this
    * bounds the takedown serving window by CONTRACT. The pending side
    * is parquet footers only ([[footerRowCount]]) and `dataRows` runs
    * only when deletes are pending, so a maintenance tick can afford it
    * every batch. A store with no fragments needs nothing (deletes
    * alone can wait).
    */
  private[graft] def needsCompaction(spark: SparkSession, root: String,
      maxFragments: Int, table: String = "",
      maxPendingFraction: Option[Double] = None)(
      dataRows: (String, Seq[Long]) => Long = (_, _) => 0L): Boolean = {
    require(maxFragments >= 2, "maxFragments < 2 would compact every batch")
    maxPendingFraction.foreach(f =>
      require(f > 0, "maxPendingFraction must be positive"))
    val dir = genDir(root, currentGen(root))
    val ids = listBatchIds(spark, dir + table)
    if (ids.isEmpty) false
    else if (ids.size >= maxFragments) true
    else maxPendingFraction.exists { f =>
      val pending = footerRowCount(spark, Seq(s"$dir/deletes"))
      pending > 0 && pending.toDouble >= f * dataRows(dir, ids)
    }
  }

  /** The maintenance dashboard row the family's `maintenanceStatus`
    * returns — (generation, fragments, data_rows, pending_rows,
    * pending_fraction, needs_compaction) for the current generation,
    * the inputs of the store's compaction predicate `needs`, so a
    * scheduler (or a human) can see WHY a tick will or won't fire.
    * Fragments are those of `table`; data rows the footer counts of
    * `dataTable`'s fragments; pending rows the `deletes/` footer count,
    * structurally zero for a store without a delete surface
    * (`deletes = false`), which the row states rather than hides.
    */
  private[graft] def fragmentStatus(spark: SparkSession, root: String,
      needs: => Boolean, table: String = "", dataTable: String = "",
      deletes: Boolean = false): DataFrame = {
    val gen = currentGen(root)
    val dir = genDir(root, gen)
    val ids = listBatchIds(spark, dir + table)
    val dataIds =
      if (dataTable == table) ids else listBatchIds(spark, dir + dataTable)
    val data = footerRowCount(spark,
      dataIds.map(i => s"$dir$dataTable/batch_id=$i"))
    val pending =
      if (deletes) footerRowCount(spark, Seq(s"$dir/deletes")) else 0L
    statusRow(spark, gen, ids.size.toLong, data, pending, needs)
  }

  /** Total row count under `dirs`, read from parquet FOOTERS only —
    * no Spark job, no data pages, just one footer read per file. This
    * is the cost model the `needsCompaction` policy predicates are
    * held to: deciding WHETHER to compact must stay a metadata read a
    * maintenance loop can afford every batch, or nobody runs it and
    * pending-delete windows grow unbounded. Missing directories count
    * zero (the common no-deletes case costs one existence check).
    */
  def footerRowCount(spark: SparkSession, dirs: Seq[String]): Long = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val conf = spark.sessionState.newHadoopConf()
    val all = dirs.flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil
      else {
        def files(path: org.apache.hadoop.fs.Path):
            Seq[org.apache.hadoop.fs.FileStatus] = {
          val ls = fs.listStatus(path).toSeq
          ls.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")) ++
            ls.filter(_.isDirectory).flatMap(s => files(s.getPath))
        }
        files(p)
      }
    }
    // footer reads are independent metadata fetches — run them on the
    // driver's thread pool (no Spark job, no executor involvement, no
    // scheduler latency): a store's file count is bounded by the
    // compaction policy itself, so this is dozens of footers, not
    // thousands
    Await.result(Future.sequence(all.map(s => Future {
      scala.util.Using.resource(
          org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(s, conf))) { r =>
        r.getRecordCount
      }
    })), Duration.Inf).sum
  }
}
