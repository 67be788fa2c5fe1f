package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.BloomFilter
import graft.operators.{Par, SimilaritySearch}

/** Continuously maintained kNN-graph artifact — the streaming arm of
  * [[SimilaritySearch.knnGraphIncrement]]: an always-on ingest stream
  * folds every micro-batch of vectors into the serving graph, exactly
  * (the merge==rebuild invariant holds per fold because the coarse
  * quantizer stays PINNED to the refresh-time corpus; it re-fits only at
  * the next compaction — [[GraphMaintainer.rebuildEpoch]] — per the
  * centroid-staleness contract in SCALE.md).
  *
  * State model: the graph is DERIVED state — an index artifact, not
  * stream state — and it lives on RELIABLE storage, not in the streaming
  * checkpoint and not in `localCheckpoint` lineage: `workDir` holds
  *   - `quantizers/<qtok>/` immutable frozen coarse quantizers (one per
  *     epoch; the live one is named by the manifest's `#q` line),
  *   - `data/routing/fold=<token>/cell=<c>/`  (vec_id, embedding) cell slices,
  *   - `data/graph/fold=<token>/cell=<c>/`    (vec_id, neighbor_id, rank, cos),
  *   - `_commits/`    the MANIFEST LOG (see below) — the only thing readers trust.
  * Restart semantics are therefore the artifact's: [[GraphMaintainer.recover]]
  * reopens `workDir` and continues folding — an executor or driver loss
  * never costs the epoch (the failure mode `localCheckpoint`, documented
  * non-fault-tolerant, could not survive).
  *
  * ATOMIC VERSIONED COMMIT, DELTA LOG: every fold/retire lands its
  * touched cells' rows as IMMUTABLE files under a fresh `fold=<token>/`
  * directory (never overwriting a live file), then publishes ONE commit
  * file — `_commits/m<ownerEpoch>-<seq>.txt` — by
  * rename-without-overwrite. The rename is the commit point: a crash
  * anywhere before it publishes NOTHING (the landed token dirs are
  * invisible orphans [[vacuum]] sweeps). A commit is either a
  * CHECKPOINT (the full live (artifact, cell) → token map) or a DELTA
  * (only the touched cells' upserts and removals, plus a `#base` line
  * naming the exact commit it was computed against), with a checkpoint
  * forced every [[GraphMaintainer.CheckpointEvery]] commits — the same
  * bounded delta-log + checkpoint-anchor shape as the lake's commit log,
  * so per-commit manifest bytes track the TOUCHED cells, never the total
  * cell count (at a 100 TB epoch with ~10⁵ cells, a full-map rewrite per
  * micro-batch would serialize a few MB of text on the driver forever;
  * a delta is a few lines). Readers resolve the lexicographically newest
  * commit by walking its pinned `#base` chain back to a checkpoint —
  * NEVER "the nearest checkpoint below": a fenced zombie's late
  * checkpoint can land below the head, and an unpinned backward scan
  * would silently adopt it as the base of the new owner's deltas.
  *
  * The owner epoch LEADS the commit name, so a fenced zombie's late
  * commit (acquired a lower [[OwnerFence]] epoch, stalled past its fence
  * check) sorts below everything the new owner publishes and is never
  * served once the new owner commits — the fencing-token construction:
  * writes are stamped with the token and only the max-token writer's are
  * honored. Both artifacts and the replay high-water (`#hw`, see below)
  * move in the SAME commit, so the routing-clean/graph-stale and
  * committed-but-unmarked half-states of earlier designs cannot exist.
  * This is the same backstop contract as the lake's versioned rename and
  * Bm25's marker rename; the design cites Delta's commit-protocol ideas
  * (public knowledge), the implementation is a bespoke tab-separated
  * format.
  *
  * Per-fold cost is genuinely incremental: the batch alone is assigned to
  * cells (O(|batch| · nCentroids) kernel work); the stored corpus
  * contributes ONLY its touched-cell slice — the manifest maps every
  * cell to its live files, so reads open exactly the touched cells'
  * directories (manifest-level pruning: untouched cells are never even
  * LISTED, which beats catalog partition pruning at 100 TB scale) — and
  * the commit is a delta over only the touched cells' entries.
  * Untouched cells are never read, re-ranked, or rewritten, so
  * steady-state work tracks the ingest rate × mean cell size, never the
  * accumulated corpus.
  *
  * Idempotence / at-least-once: folds are replay-safe three ways —
  * (1) an applied batchId short-circuits on the `#hw` high-water the
  * manifest itself carries (marker-advance and data-commit are ONE
  * atomic rename — the crash-between-commit-and-marker window of the
  * separate `folded/` marker protocol is impossible by construction;
  * the embedding-equality probe below remains as a pure backstop);
  * (2) a batch vector whose vec_id is already stored WITH THE SAME
  * embedding is a replayed row and is dropped; a same-id
  * DIFFERENT-embedding row is a true update/re-embed and throws — the
  * fail-loud append-only contract [[SimilaritySearch.knnGraphIncrement]]
  * pins ([[GraphMaintainer.rebuildEpoch]] is the executable path for
  * those); (3) the re-rank dedups (vec_id, neighbor_id) before the
  * window, so re-merging edges an earlier commit already published
  * cannot double-count a neighbor. The id-overlap probe is
  * Bloom-prescreened (driver-held filter over all stored ids, fed per
  * fold), so the common no-collision fold never scans stored ids at all.
  */
final class GraphMaintainer private (
    spark: SparkSession, workDir: String, k0: Int,
    centroids0: Broadcast[Array[(Long, Array[Double], Double)]],
    idFilter0: BloomFilter, epoch: Int,
    state0: GraphMaintainer.GraphState, lastSeen0: Option[String]) {
  import GraphMaintainer._

  // the epoch's in-memory state: quantizer broadcast, k, the id
  // prescreen, and the commit the caches were resolved at — all move
  // only under the synchronized mutators (fold/retire/rebuildEpoch/
  // vacuum). centroidsB/kVar are additionally @volatile: the public
  // k/centroidIds getters are advisory pre-checks other threads may
  // call without the lock, and a plain var would let them see the
  // pre-rebuild quantizer indefinitely after rebuildEpoch (no
  // happens-before edge; retire's own synchronized re-check is the
  // correctness backstop either way)
  @volatile private var centroidsB: Broadcast[Array[(Long, Array[Double], Double)]] = centroids0
  @volatile private var kVar: Int = k0
  private var legacyFoldedMaybe: Boolean = true
  private var idFilter: BloomFilter = idFilter0
  private var lastSeen: Option[String] = lastSeen0
  private var lastState: Map[(String, Long), String] = state0.entries
  private var deltasSinceCkpt: Int = state0.deltasSinceCkpt
  @volatile private var hwVar: Option[Long] = state0.hw
  private var qVar: Option[String] = state0.quantizer

  // serve-path cache: ONE volatile ref pairing the head commit name with
  // its resolved entries, so the graph/corpus getters (hot serving loops,
  // possibly off the maintainer thread) read a tear-free snapshot without
  // the lock; only the synchronized mutators write it, alongside
  // lastSeen/lastState
  @volatile private var serveCache: (Option[String], Map[(String, Long), String]) =
    (lastSeen0, state0.entries)

  /** Serve-path fall-throughs to a full chain resolution (foreign head —
    * someone else committed). Stays ~0 for a single-owner serving loop;
    * the StreamBench concurrent-reader arm prints it.
    */
  private[graft] val serveResolves = new java.util.concurrent.atomic.AtomicLong

  /** The epoch's k (re-rank fan-out); moves only at [[rebuildEpoch]]. */
  def k: Int = kVar

  /** The frozen quantizer's vec_ids — the ids whose RAW embeddings live
    * in the quantizer artifact and therefore cannot be retired without
    * [[rebuildEpoch]] (the forget-cascade caller's pre-check).
    */
  def centroidIds: Seq[Long] = centroidsB.value.map(_._1).toSeq

  /** Cross-JVM single-ownership ([[OwnerFence]]): recover() takes over by
    * landing the next owner epoch and a superseded maintainer fails loud
    * at its next mutation entry; the manifest rename (epoch-prefixed,
    * never-overwriting) backstops the residual check→commit window.
    */
  private def assertOwner(): Unit =
    OwnerFence.assertOwner(fs, s"$workDir/owner", epoch, "GraphMaintainer")

  private val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The replay high-water this maintainer knows: the manifest-carried
    * value once any commit has embedded one, else the legacy `folded/`
    * marker directory of a pre-`#hw` deployment. The disk probe runs
    * ONLY while no high-water is known at all (the pre-first-fold cold
    * path) — once hwVar is set every call is in-memory, so an
    * object-store deployment pays no per-micro-batch LIST for a
    * directory that was swept long ago.
    */
  private def currentHw: Option[Long] =
    if (hwVar.isDefined) hwVar else legacyFoldedHw(fs, workDir)

  /** Resolve the state every read and the commit base work from — ONCE
    * per mutation. If someone ELSE committed since this maintainer last
    * looked (the only legal case: a fenced zombie's late rename becoming
    * visible before our next commit buries it), the Bloom prescreen is
    * rebuilt from the new state: a construction-time Bloom would MISS the
    * zombie-committed ids, let a redelivered batch slip past the replay
    * probe, and duplicate its rows into routing. The foreign commit's
    * `#hw` is honored too — a visible commit DID apply its batch. Our own
    * commits record themselves in [[commitSelf]], so the common path
    * touches no manifest files at all.
    */
  private def resolveBase(): Map[(String, Long), String] = {
    val cur = manifestNames(fs, workDir).lastOption
    // the listing can only ever move FORWARD for a live maintainer (our
    // own vacuum keeps the newest; commits append): an empty or
    // regressed listing would make the next commit publish a batch-only
    // manifest and silently orphan the whole stored corpus for vacuum to
    // delete (the same vacuous-pass hole OwnerFence.assertOwner refuses
    // for the owner dir)
    requireForwardListing("GraphMaintainer", workDir,
      anchor = lastSeen, head = cur,
      anchorVerb = "maintainer last saw", refusal = "commit over")
    if (cur == lastSeen) lastState
    else {
      val st = cur.map(resolveState(fs, workDir, _)).getOrElse(GraphState.empty)
      // a foreign commit can carry an epoch CUTOVER too (#q/#k — a fenced
      // zombie's late rebuildEpoch landing in the check→rename window):
      // adopting its entries/#hw/Bloom but keeping OUR quantizer would
      // cell-assign the next batch under the OLD geometry into NEW-epoch
      // cell partitions and re-stamp the stale #q in our next commit —
      // silent corruption of the served graph, the one zombie path that
      // would neither fail loud nor lose cleanly. Adopt the foreign
      // epoch's quantizer and k with the rest of its state. (A chain
      // with NO #q anywhere is a legacy log; the construction-time
      // quantizer is already the right one there.)
      if (st.quantizer.isDefined && st.quantizer != qVar) {
        val superseded = centroidsB
        centroidsB = spark.sparkContext.broadcast(
          loadQuantizer(spark, workDir, st.quantizer))
        qVar = st.quantizer
        // reclaim the superseded broadcast's executor blocks NOW (async):
        // a long-horizon maintainer surviving many cutovers/rebuilds must
        // not accumulate one dead broadcast per epoch until driver GC
        // happens to notice the handle. unpersist, NOT destroy: the
        // public k/centroidIds getters are documented lock-free advisory
        // reads — a thread that captured the old reference just before
        // this swap may still call .value, which destroy() would turn
        // from a stale-but-valid read into a crash
        superseded.unpersist()
      }
      st.kOpt.filter(_ != kVar).foreach(kVar = _)
      idFilter = bloomOf(spark, workDir, st.entries)
      lastSeen = cur
      lastState = st.entries
      deltasSinceCkpt = st.deltasSinceCkpt
      hwVar = (hwVar.toSeq ++ st.hw.toSeq).maxOption
      serveCache = (lastSeen, lastState)
      st.entries
    }
  }

  /** The maintained artifact — what [[SimilaritySearch.graphSearchTopK]]
    * walks and the recall audit measures at the next refresh. Always the
    * latest MANIFEST's state, so a recovered maintainer serves the same
    * frame and a torn or orphaned write is never visible.
    */
  def graph: DataFrame =
    readArtifact(spark, workDir, GraphArt, serveEntries(), None)
      .select(col("vec_id"), col("neighbor_id"), col("rank"), col("cos"))

  /** Vectors folded so far (refresh corpus + every batch). */
  def corpus: DataFrame =
    readArtifact(spark, workDir, RoutingArt, serveEntries(), None)
      .select(col("vec_id"), col("embedding"))

  /** The replay high-water the maintainer has applied — what a same-JVM
    * serving loop compares its poll against (the bench reader's lag
    * metric); moves atomically with the commit that carries it.
    */
  def highWater: Option[Long] = hwVar

  /** The latest commit's entry map for the serve getters: ONE `_commits`
    * listing, then short-circuit to the cached resolution when the head
    * is the commit this maintainer last wrote or resolved — the common
    * case for a single-owner serving loop, which therefore pays ZERO
    * manifest reads per serve (an object-store hot loop previously paid
    * up to CheckpointEvery small reads per call). A foreign head (a
    * fenced zombie's late rename) falls through to the pinned chain walk
    * WITHOUT touching the maintainer caches — this path is unsynchronized
    * by design, and the next mutation's resolveBase adopts the foreign
    * state (Bloom, #hw, #q/#k) under the lock.
    */
  private def serveEntries(): Map[(String, Long), String] = {
    // snapshot the cache BEFORE listing: a concurrent fold can commit and
    // advance serveCache between the two reads, and against a LATER cache
    // snapshot the (stale) listing would look regressed — a spurious
    // refusal on a healthy single-owner serving loop. Relative to an
    // EARLIER snapshot the listing can only move forward, so the
    // regression check below stays sound under concurrency
    val cached = serveCache
    val head = manifestNames(fs, workDir).lastOption
    // the same fail-loud contract resolveBase enforces for mutations —
    // silently serving an empty or rolled-back index is the one thing a
    // recall service must never do
    requireForwardListing("GraphMaintainer", workDir,
      anchor = cached._1, head = head,
      anchorVerb = "maintainer last served", refusal = "serve")
    if (head == cached._1) cached._2
    else if (head.isEmpty) Map.empty
    else {
      serveResolves.incrementAndGet()
      resolveState(fs, workDir, head.get).entries
    }
  }

  /** Fold one batch of vectors in — exact per the merge==rebuild
    * invariant (SimilaritySpec pins it); chained folds stay exact because
    * the quantizer never drifts mid-epoch. `batchId` (from foreachBatch)
    * makes the fold skip already-applied streaming batches on replay —
    * the applied mark is the `#hw` line of the SAME commit that publishes
    * the data, so a batch is marked applied exactly when its commit is
    * the visible one.
    *
    * Returns the fold's INFLUENCE SET — every vertex whose edge list may
    * have changed (the batch plus its cells' stored members): the
    * `touched` input [[SimilaritySearch.labelPropagateIncrement]] re-votes
    * after a fold. Empty for skipped/replayed batches.
    */
  def fold(batch: DataFrame, batchId: Option[Long] = None): DataFrame = synchronized {
    import spark.implicits._
    assertOwner()
    def noneTouched = spark.emptyDataset[Long].toDF("vec_id")
    // checkpointed batchIds are monotone: id <= the high-water IS
    // "already folded"
    if (batchId.exists(id => currentHw.exists(_ >= id)))
      return noneTouched
    val b0 = narrow(batch).localCheckpoint()
    // the ids collect below doubles as the empty probe — no separate
    // isEmpty job over the checkpointed blocks
    val ids0 = b0.select(col("vec_id")).as[Long].collect()
    if (ids0.isEmpty) return noneTouched
    // ONE manifest snapshot serves the replay probe, the touched-cell
    // reads, and the commit base (and refreshes the Bloom + hw if a
    // foreign commit became visible)
    val base = resolveBase()

    // an at-least-once source can duplicate a record WITHIN one
    // micro-batch too: same-id same-embedding rows collapse here, and a
    // same-id DIFFERENT-embedding pair fails loud NOW — landing both
    // would corrupt routing silently, and only the NEXT fold touching
    // that id would throw, one fold too late to save the artifact
    val (bIn, ids) =
      if (ids0.distinct.length == ids0.length) (b0, ids0)
      else {
        val conflicted = b0.groupBy(col("vec_id"))
          .agg(countDistinct(col("embedding")).as("ne"))
          .filter(col("ne") > 1)
          .select(col("vec_id")).as[Long].take(5)
        require(conflicted.isEmpty,
          s"GraphMaintainer.fold: vec_ids ${conflicted.mkString(", ")} appear " +
            "more than once IN THE BATCH with different embeddings — an " +
            "update/re-embed breaks the merge==rebuild invariant; rebuild " +
            "the epoch instead (GraphMaintainer.rebuildEpoch over the " +
            "corrected corpus)")
        (b0.dropDuplicates("vec_id"), ids0.distinct)
      }

    // id-overlap gate: Bloom prescreen, exact confirm only on a hit
    val suspects = ids.filter(idFilter.mightContainLong)
    val replayIds: Set[Long] = if (suspects.isEmpty) Set.empty else {
      val stored =
        readArtifact(spark, workDir, RoutingArt, base, None)
          .join(broadcast(suspects.toSeq.toDF("vec_id")), Seq("vec_id"), "left_semi")
          .select(col("vec_id"), col("embedding").as("stored_emb"))
      val overlap = bIn.join(broadcast(stored), Seq("vec_id"))
        .select(col("vec_id"),
          (col("embedding") === col("stored_emb")).as("same"))
        .as[(Long, Boolean)].collect()
      val updates = overlap.collect { case (id, false) => id }
      require(updates.isEmpty,
        s"GraphMaintainer.fold: vec_ids ${updates.take(5).mkString(", ")} are " +
          "already stored with DIFFERENT embeddings — updates/re-embeds " +
          "break the merge==rebuild invariant; rebuild the epoch instead " +
          "(GraphMaintainer.rebuildEpoch over the corrected corpus)")
      overlap.collect { case (id, true) => id }.toSet
    }
    val b = if (replayIds.isEmpty) bIn
      else bIn.join(broadcast(replayIds.toSeq.toDF("vec_id")), Seq("vec_id"), "left_anti")
    val touched =
      if (replayIds.size < ids.length) applyFold(b, base, batchId)
      else {
        // every row was a replay of an already-visible commit (the
        // redelivery after a pre-`#hw` crash, or a zombie's visible
        // commit): no data moves, but the batch IS applied — one empty
        // delta advances the high-water so the next redelivery
        // short-circuits without the probe
        batchId.filterNot(id => currentHw.exists(_ >= id)).foreach { id =>
          assertOwner()
          commitSelf(Map.empty, Set.empty, base, Some(id))
        }
        noneTouched
      }
    ids.foreach(idFilter.putLong)
    touched
  }

  private def applyFold(
      b: DataFrame, base: Map[(String, Long), String],
      batchId: Option[Long]): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    val batchCells = SimilaritySearch.cellAssign(b, centroidsB).localCheckpoint()
    val touched = batchCells.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq
    // manifest-pruned reads: only the batch's cells' directories open
    val oldTouched =
      readArtifact(spark, workDir, RoutingArt, base, Some(touched.toSet))
        .select(col("vec_id"), col("embedding"), col("cell"))
        .localCheckpoint()
    val fresh = SimilaritySearch
      .cellEdgesWithCell(oldTouched.unionByName(batchCells), broadcast(batchCells))
      .unionByName(SimilaritySearch.cellEdgesWithCell(broadcast(batchCells), oldTouched))
    val oldEdges =
      readArtifact(spark, workDir, GraphArt, base, Some(touched.toSet))
        .select(col("vec_id"), col("neighbor_id"), col("cell"), col("cos"))
    // ONE exchange serves dedup, re-rank AND the landed layout: hash on
    // cell up front, then key the dedup and the window by (cell, vec_id)
    // — vec_id determines cell under the frozen quantizer, so both are
    // row-identical to the (vec_id)-keyed forms while HashPartitioning
    // on cell already satisfies their required distribution (no further
    // exchange), and landCells writes preClustered (one file per cell)
    val w = Window.partitionBy(col("cell"), col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val reranked = oldEdges.unionByName(fresh)
      .repartition(col("cell"))
      // replay safety: a visible racing commit's edges re-merge as duplicates
      .dropDuplicates("cell", "vec_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kVar)
      .select(col("vec_id"), col("neighbor_id"), col("rank"), col("cos"), col("cell"))
    publish(base, touched, reranked, oldTouched.unionByName(batchCells), batchId)
    oldTouched.select(col("vec_id"))
      .unionByName(batchCells.select(col("vec_id"))).localCheckpoint()
  }

  /** Land both artifacts' touched-cell rows as immutable token dirs, then
    * publish ONE delta commit replacing the touched cells' entries —
    * cells the new frames left empty become explicit removals (their old
    * files become vacuum garbage). The fence re-check sits immediately
    * before the rename, narrowing the zombie window to the rename itself,
    * which the epoch-prefixed name then loses silently (never served once
    * the new owner commits) instead of corrupting. `newHw` rides the same
    * commit — data and applied-mark are one atomic rename.
    */
  private def publish(
      base: Map[(String, Long), String], touched: Seq[Long],
      graphDf: DataFrame, routingDf: DataFrame, newHw: Option[Long]): Unit = {
    // the two artifact writes are independent jobs — overlap them so the
    // second write's tasks back-fill the executor slots the first one's
    // tail leaves idle. The SHARED upstream (the batch/touched cell
    // frames) is localCheckpoint-materialized, so neither thread
    // re-derives it; applyFold's reranked graph frame itself is lazy and
    // evaluates once, on the graph-land thread alone
    val ((rTok, rCells), (gTok, gCells)) = Par.both(
      landCells(fs, workDir, routingDf, RoutingArt),
      landCells(fs, workDir, graphDf, GraphArt, preClustered = true))
    val upserts = (gCells.map(c => (GraphArt, c) -> gTok) ++
      rCells.map(c => (RoutingArt, c) -> rTok)).toMap
    val removes = touched
      .flatMap(c => Seq((GraphArt, c), (RoutingArt, c))).toSet
      .diff(upserts.keySet).filter(base.contains)
    assertOwner()
    commitSelf(upserts, removes, base -- removes ++ upserts, newHw)
  }

  /** Write our next commit — a delta against `lastSeen`, or a checkpoint
    * when the cadence (or `forceCkpt`, or an empty log) demands one — and
    * advance every cache so resolveBase never mistakes our own commit for
    * a foreign one (which would trigger a pointless Bloom rebuild). The
    * quantizer/k lines always ride along (one line each), so the latest
    * commit alone names the live epoch artifacts. On success the legacy
    * `folded/` marker directory (whose high-water is now embedded) is
    * swept — the one-directory-fewer migration the `#hw` design buys.
    */
  private def commitSelf(
      upserts: Map[(String, Long), String], removes: Set[(String, Long)],
      next: Map[(String, Long), String], newHw: Option[Long],
      forceCkpt: Boolean = false,
      q: Option[String] = qVar, kk: Int = kVar): Unit = {
    val hw2 = (currentHw.toSeq ++ newHw.toSeq).maxOption
    val ckpt = forceCkpt || lastSeen.isEmpty ||
      deltasSinceCkpt + 1 >= CheckpointEvery
    val name =
      if (ckpt) commitManifest(fs, workDir, epoch, next,
        hw = hw2, quantizer = q, k = Some(kk))
      else commitManifest(fs, workDir, epoch, upserts, removes,
        checkpoint = false, base = lastSeen,
        hw = hw2, quantizer = q, k = Some(kk))
    lastSeen = Some(name)
    lastState = next
    deltasSinceCkpt = if (ckpt) 0 else deltasSinceCkpt + 1
    hwVar = hw2
    qVar = q
    kVar = kk
    serveCache = (lastSeen, lastState)
    // one existence probe EVER, not one per commit: after the first
    // sweep (or first confirmed absence) the flag short-circuits
    if (legacyFoldedMaybe) {
      val legacy = new Path(s"$workDir/folded")
      if (fs.exists(legacy)) { fs.delete(legacy, true); () }
      legacyFoldedMaybe = false
    }
  }

  /** RETIRE stored vectors from the landed artifact —
    * [[SimilaritySearch.knnGraphRetire]] at the maintainer: the frozen
    * quantizer makes every edge same-cell, so only the doomed ids' cells
    * are read (manifest-pruned), their survivors re-score, and ONLY
    * those cells' entries move — in the same single atomic commit as a
    * fold, so no crash can strand stale edges behind an already-clean
    * routing (both artifacts publish together or not at all). Returns
    * the influence set (the touched cells' surviving vertices — the
    * re-vote input, like [[fold]]'s).
    *
    * Idempotent by re-run: touched cells are found via the doomed ids in
    * routing OR as a vertex/neighbor in the graph (both column-pruned
    * id scans), so re-running a completed retire is a no-op. Cells left
    * without survivors (or without edges — one survivor makes no pair)
    * drop out of the manifest. Retired ids stay in the Bloom prescreen
    * (additive-only) — harmless: the exact confirm consults routing, so
    * a later re-insert of a retired id folds as a NEW vector.
    */
  def retire(tombstones: DataFrame): DataFrame = synchronized {
    assertOwner()
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val doomed = tombstones.select(col("vec_id")).localCheckpoint()
    // resolve FIRST: a foreign epoch cutover (zombie rebuildEpoch) swaps
    // the quantizer here, so the centroid guard below checks the LIVE
    // epoch's centroids, not a superseded draw
    val base = resolveBase()
    // the quantizer stores VERBATIM corpus vectors (ivfCentroids is a
    // draw, not a mean): a doomed centroid's raw embedding would survive
    // in the quantizer artifact and keep routing folds — that is a false
    // forget attestation only an epoch rebuild can honor, so fail loud
    val doomedCentroids = doomed.as[Long].collect().toSet
      .intersect(centroidsB.value.map(_._1).toSet)
    require(doomedCentroids.isEmpty,
      s"GraphMaintainer.retire: vec_ids ${doomedCentroids.take(5).mkString(", ")} " +
        "are quantizer centroids — their raw embeddings live in the " +
        "quantizer artifact and route every fold; forgetting them requires " +
        "rebuilding the epoch (GraphMaintainer.rebuildEpoch over the " +
        "surviving corpus)")
    val routingCells = readArtifact(spark, workDir, RoutingArt, base, None)
      .join(broadcast(doomed), Seq("vec_id"), "left_semi")
      .select(col("cell"))
    val g = readArtifact(spark, workDir, GraphArt, base, None)
    val graphCells = g
      .join(broadcast(doomed), Seq("vec_id"), "left_semi")
      .select(col("cell"))
      .unionByName(g
        .join(broadcast(doomed), g("neighbor_id") === doomed("vec_id"), "left_semi")
        .select(col("cell")))
    val touched = routingCells.unionByName(graphCells)
      .distinct().as[Long].collect().toSeq
    if (touched.isEmpty) return spark.emptyDataset[Long].toDF("vec_id")
    val survivors =
      readArtifact(spark, workDir, RoutingArt, base, Some(touched.toSet))
        .select(col("vec_id"), col("embedding"), col("cell"))
        .join(broadcast(doomed), Seq("vec_id"), "left_anti")
        .localCheckpoint()
    // same one-exchange shape as applyFold: cell-hash once, window keyed
    // (cell, vec_id) — row-identical (vec_id determines cell), and the
    // checkpoint preserves the layout for the preClustered land
    val w = Window.partitionBy(col("cell"), col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val repaired = SimilaritySearch.cellEdgesWithCell(survivors, survivors)
      .repartition(col("cell"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kVar)
      .select(col("vec_id"), col("neighbor_id"), col("rank"), col("cos"), col("cell"))
      .localCheckpoint()
    publish(base, touched, repaired, survivors, None)
    survivors.select(col("vec_id"))
  }

  /** REBUILD THE EPOCH IN PLACE — the executable form of the runbook the
    * re-embed and centroid-forget refusals point at: re-fit the coarse
    * quantizer over `survivors` (the corrected / surviving corpus), land
    * the new quantizer, routing, and graph as fresh immutable artifacts,
    * and cut over in ONE checkpoint commit — the `#q`/`#k` lines flip
    * with the data in the same rename, so serving never observes a torn
    * state: a crash anywhere before the rename leaves the old epoch
    * serving in full (the landed files are vacuum-swept orphans), and a
    * crash after it leaves the new epoch complete, quantizer included
    * (the separate `centroids/` overwrite of the legacy layout had a
    * mid-overwrite crash window this design deletes).
    *
    * Forget semantics (the cascade's centroid arm): the doomed ids'
    * embeddings leave the LIVE state at the cutover; their bytes in
    * superseded tokens/quantizers/manifests are reclaimed by [[vacuum]]
    * once retention ages those commits out (one further commit pushes
    * the pre-rebuild state past the keep-2 in-flight-reader clamp) —
    * the same commit-then-vacuum forget SLA as the lake's.
    *
    * The replay high-water carries across (`#hw` rides the checkpoint):
    * the attached stream's checkpoint keeps its batchIds, so dropping it
    * would re-probe every already-applied batch as a suspected replay.
    */
  def rebuildEpoch(survivors: DataFrame, newK: Option[Int] = None,
      nCentroids: Option[Int] = None): Unit = synchronized {
    assertOwner()
    graft.plans.GraftFunctions.register(spark)
    resolveBase() // regression guard; refreshes lastSeen for the cutover
    // k2 reads kVar AFTER resolveBase: a foreign epoch cutover (a fenced
    // zombie's late rebuildEpoch) carries #k too, and an unsized-k rebuild
    // must rebuild under the ADOPTED k, not re-stamp the stale one —
    // mirroring how nc below reads centroidsB after the refresh
    val k2 = newK.getOrElse(kVar)
    val corpus = narrow(survivors).localCheckpoint()
    // unsized rebuilds INHERIT the live epoch's geometry (resolveBase
    // just refreshed it, so a foreign cutover's count is honored too):
    // a 64-cell index must not silently re-fit to a fixture-scale
    // constant. Explicit callers win — resizing is a deliberate act.
    val nc = nCentroids.getOrElse(centroidsB.value.length)
    val cs = SimilaritySearch.ivfCentroids(corpus, nc)
    // the quantizer land (a tiny coalesce(1) write) is independent of the
    // cell-assign materialization — overlap them (§2.6); the token is not
    // needed until the commit below
    val bcast = spark.sparkContext.broadcast(cs)
    val (qTok, cells) = Par.both(
      landQuantizer(spark, workDir, cs),
      SimilaritySearch.cellAssign(corpus, bcast).localCheckpoint())
    // same one-exchange edge path + overlapped artifact writes as build
    val w = Window.partitionBy(col("cell"), col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val edges = SimilaritySearch.cellEdgesWithCell(cells, cells)
      .repartition(col("cell"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k2)
      .select(col("vec_id"), col("neighbor_id"), col("rank"), col("cos"), col("cell"))
    val ((rTok, rCells), (gTok, gCells)) = Par.both(
      landCells(fs, workDir, cells, RoutingArt),
      landCells(fs, workDir, edges, GraphArt, preClustered = true))
    val entries = (rCells.map(c => (RoutingArt, c) -> rTok) ++
      gCells.map(c => (GraphArt, c) -> gTok)).toMap
    assertOwner()
    // forced checkpoint: the new epoch shares nothing with the old state
    commitSelf(entries, Set.empty, entries, None,
      forceCkpt = true, q = Some(qTok), kk = k2)
    val superseded = centroidsB
    centroidsB = bcast
    // per-cell audit + Bloom sizing in ONE aggregate (replaces the bare
    // count()): flags quantizer skew — guide §2.5 — without an extra job
    val (nRows, hot) = GraphMaintainer.cellStats(cells, cs.length)
    GraphMaintainer.warnHotCells(s"rebuildEpoch($workDir)", nRows, hot)
    idFilter = GraphMaintainer.bloomOf(
      cells.select(col("vec_id")), nRows)
    // the old epoch's quantizer broadcast is unreferenced once centroidsB
    // moves (every frame that used it is localCheckpoint-materialized) —
    // reclaim its executor blocks instead of leaking one per rebuild.
    // unpersist, not destroy: the lock-free advisory getters may hold
    // the old reference mid-swap (see resolveBase's adoption site)
    superseded.unpersist()
  }

  /** Sweep commit garbage: manifests beyond the newest `keepManifests`
    * (clamped to ≥ 2 — a reader that resolved "latest" a moment before
    * the sweep must still be able to open it, the same in-flight-reader
    * clamp as ScdMaintenance's marker retention) PLUS each retained
    * commit's `#base` chain (a retained delta must stay RESOLVABLE, so
    * the log never drops below O(keep + CheckpointEvery) files while a
    * delta heads it), token cell-directories no retained commit
    * references (crashed commits' orphans, replaced cell slices),
    * quantizer tokens no retained commit names (superseded epochs'),
    * `.tmp-` debris, and superseded owner epochs. `graceMs` shields a
    * concurrent commit's just-landed-but-not-yet-published files from
    * the sweep — on a deployment where a fenced zombie could be
    * mid-commit, set it longer than the longest conceivable land→rename
    * gap (the same convention as the lake's data-file vacuum; [[attach]]
    * defaults its in-loop sweep to 10 minutes for exactly this reason).
    * Returns the number of paths dropped, counting swept-empty token
    * directories.
    */
  def vacuum(keepManifests: Int = 2, graceMs: Long = 0L): Int = synchronized {
    assertOwner()
    require(keepManifests >= 1, "GraphMaintainer.vacuum: keepManifests >= 1")
    val keepN = math.max(keepManifests, 2)
    val names = manifestNames(fs, workDir)
    val cache = scala.collection.mutable.Map.empty[String, GraphCommit]
    def commitOf(n: String): GraphCommit =
      cache.getOrElseUpdate(n, readCommit(fs, workDir, n))
    def chainOf(n: String): Seq[String] = {
      val buf = scala.collection.mutable.ArrayBuffer(n)
      var c = commitOf(n)
      while (!c.checkpoint) {
        val b = c.base.get // readCommit fails loud on a base-less delta
        buf += b
        c = commitOf(b)
      }
      buf.toSeq
    }
    val keep: Set[String] = names.takeRight(keepN).flatMap(chainOf).toSet
    val kept = keep.toSeq.map(commitOf)
    // a checkpoint's full map plus every retained delta's upserts covers
    // the live state AT EVERY retained commit — anything else is garbage
    val referenced: Set[String] = kept.flatMap { c =>
      c.entries.map { case ((a, cc), t) => s"data/$a/fold=$t/cell=$cc" }
    }.toSet
    val refQ: Set[String] = kept.flatMap(_.quantizer).toSet
    val now = System.currentTimeMillis()
    var dropped = 0
    Seq(GraphArt, RoutingArt).foreach { a =>
      val root = new Path(s"$workDir/data/$a")
      if (fs.exists(root)) {
        fs.listStatus(root).filter(_.getPath.getName.startsWith("fold=")).foreach { fd =>
          fs.listStatus(fd.getPath)
            .filter(_.getPath.getName.startsWith("cell=")).foreach { cd =>
              val rel = s"data/$a/${fd.getPath.getName}/${cd.getPath.getName}"
              if (!referenced(rel) && now - cd.getModificationTime >= graceMs) {
                fs.delete(cd.getPath, true)
                dropped += 1
              }
            }
          // an emptied token dir sweeps too — but only once its whole
          // SUBTREE has been quiet past the grace: a token with no
          // cell= children yet may be a concurrent commit's mid-write
          // directory (only _temporary inside), and the dir's own mtime
          // is fixed at creation while Spark keeps writing underneath —
          // anchoring on the dir mtime alone would delete a write merely
          // LONGER than the grace, crashing the in-flight job instead of
          // letting it lose cleanly at the manifest rename. The clock is
          // re-read here because THIS pass's cell sweeps above just
          // touched the dir's mtime — against the loop-entry timestamp
          // a freshly-emptied token would read as "modified in the
          // future" and never sweep
          val nowEmpty = System.currentTimeMillis()
          if (!fs.listStatus(fd.getPath)
                .exists(_.getPath.getName.startsWith("cell=")) &&
              nowEmpty - newestMtime(fs, fd.getPath) >= graceMs) {
            fs.delete(fd.getPath, true)
            dropped += 1
          }
        }
      }
    }
    // superseded epochs' quantizers: rebuildEpoch strands the old token
    // the moment no retained commit names it (the legacy `centroids/`
    // dir is never swept — pre-`#q` logs reference it implicitly)
    val qRoot = new Path(s"$workDir/quantizers")
    if (fs.exists(qRoot))
      fs.listStatus(qRoot).foreach { qd =>
        val nowQ = System.currentTimeMillis()
        if (!refQ(qd.getPath.getName) &&
            nowQ - newestMtime(fs, qd.getPath) >= graceMs) {
          fs.delete(qd.getPath, true)
          dropped += 1
        }
      }
    (names.toSet -- keep).foreach { n =>
      fs.delete(new Path(s"$workDir/_commits/$n"), false)
      dropped += 1
    }
    val cDir = new Path(s"$workDir/_commits")
    if (fs.exists(cDir))
      fs.listStatus(cDir).map(_.getPath)
        .filter(p => p.getName.startsWith(".tmp-") &&
          now - fs.getFileStatus(p).getModificationTime >= graceMs)
        .foreach { p => fs.delete(p, false); dropped += 1 }
    dropped + OwnerFence.gcSuperseded(fs, s"$workDir/owner")
  }

  /** The newest modification time anywhere under `p` — the quiet-period
    * anchor for sweeping a cell-less token dir (activity happens deep in
    * `_temporary`, never on the token dir itself).
    */
  private def newestMtime(fs: FileSystem, p: Path): Long = {
    val st = fs.getFileStatus(p)
    val kids =
      if (st.isDirectory) fs.listStatus(p).toSeq.map(_.getPath) else Nil
    (st.getModificationTime +: kids.map(newestMtime(fs, _))).max
  }

  /** Attach to a vector stream: every micro-batch folds into the graph
    * via foreachBatch (the artifact-maintenance loop; empty batches are
    * skipped so idle triggers don't churn checkpoints, and the `#hw`
    * high-water makes redelivered batches no-ops). With `keepManifests`
    * set, [[vacuum]] rides the loop so an always-on maintainer holds the
    * manifest log at O(keep + CheckpointEvery) files and replaced cell
    * slices sweep as they age out, instead of one manifest + dead tokens
    * per micro-batch forever — the same in-loop retention the lake arms
    * expose. `vacuumGraceMs` defaults to 10 minutes: an in-loop sweep at
    * grace 0 would delete a fenced zombie's landed-but-not-yet-published
    * token dirs mid-commit, crashing its write job instead of letting it
    * lose cleanly at the manifest rename — shrink it only on a
    * deployment where no second writer can exist.
    */
  def attach(
      stream: DataFrame,
      keepManifests: Option[Int] = None,
      vacuumGraceMs: Long = 600000L): StreamingQuery =
    stream.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        if (!b.isEmpty) {
          fold(b.toDF(), Some(id))
          keepManifests.foreach(vacuum(_, vacuumGraceMs))
          ()
        }
      }
      .start()
}

/** Reader-side handle on a graph ANOTHER process maintains — the library
  * form of the cross-JVM subscriber protocol (the reference's consumer
  * role, consumers/consumer.py:70-99; SCALE.md's reader contract), which
  * previously every real subscriber had to reimplement from prose. Each
  * [[snapshot]] resolves the lexicographically newest commit's pinned
  * `#base` chain, hands `f` the artifact frames pinned AT that commit,
  * and — when the read loses the race to the maintainer's in-loop
  * [[GraphMaintainer.vacuum]] (the commit it resolved aged past the
  * keep clamp mid-scan) — re-resolves and retries the WHOLE attempt
  * within an elapsed-time window ([[ReadRetry]]; never a fixed retry
  * count). Getting the retry/grace interplay wrong silently reintroduces
  * the reader/sweep race the bench proves closed — use this, not a
  * hand-rolled loop.
  *
  * The reader carries the owner's serve-path fail-loud contract: once a
  * commit has been served, an emptied or REGRESSED `_commits` listing
  * refuses to serve (out-of-band deletion or an inconsistent listing)
  * instead of answering with an empty or rolled-back index. The refusal
  * itself rides the retry window first — an eventually-consistent LIST
  * can transiently regress and self-heal — and fails loud only when the
  * regression outlives the window.
  *
  * No ownership is taken and no fence epoch is acquired — any number of
  * readers run against one live maintainer; a reader never writes.
  */
final class GraphReader private[streaming] (
    spark: SparkSession, workDir: String,
    retryWindowMs: Long, onRetry: () => Unit) {
  import GraphMaintainer._

  private val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  // the newest commit this reader has successfully served — the anchor of
  // the monotonicity refusal; advances only AFTER f returns, so a retried
  // attempt re-anchors against the last COMPLETE read
  @volatile private var lastServed: Option[String] = None
  private val retriesCtr = new java.util.concurrent.atomic.AtomicLong

  /** Retries paid so far across every [[snapshot]] — the bench's
    * lost-race telemetry (0 on a quiet log; small and bounded while
    * racing an in-loop sweep).
    */
  def retries: Long = retriesCtr.get

  /** Resolve the newest commit and run `f` against a snapshot pinned at
    * it. `f` runs the actions (counts, scans, joins) — the frames are
    * lazy, so the retry must wrap the caller's work, not just the
    * resolution; `f` therefore must be idempotent (a pure read). Returns
    * `f`'s result.
    */
  def snapshot[T](f: GraphReader.Snapshot => T): T =
    ReadRetry.retryFor(retryWindowMs,
        () => { retriesCtr.incrementAndGet(); onRetry() }) {
      val served = lastServed
      val head = manifestNames(fs, workDir).lastOption
      GraphMaintainer.requireForwardListing("GraphReader", workDir,
        anchor = served, head = head,
        anchorVerb = "reader last served", refusal = "serve")
      val st = head.map(resolveState(fs, workDir, _)).getOrElse(GraphState.empty)
      val snap = new GraphReader.Snapshot(head, st.hw,
        () => readArtifact(spark, workDir, GraphArt, st.entries, None)
          .select(col("vec_id"), col("neighbor_id"), col("rank"), col("cos")),
        () => readArtifact(spark, workDir, RoutingArt, st.entries, None)
          .select(col("vec_id"), col("embedding")))
      val out = try f(snap) finally snap.open = false
      // advance only FORWARD: concurrent snapshots on one shared handle
      // may complete out of order, and a backward write would weaken the
      // monotonicity refusal's anchor to an already-superseded commit
      synchronized {
        if (head.isDefined && lastServed.forall(_ <= head.get))
          lastServed = head
      }
      out
    }

  /** The replay high-water at the newest commit — one chain resolution,
    * no data scan and (the Snapshot frames being lazy) no artifact
    * listing either: the bench reader's cheap lag probe.
    */
  def highWater: Option[Long] = snapshot(_.highWater)
}

object GraphReader {

  /** One resolved read: the commit it is pinned at (None = empty log),
    * the replay high-water that commit carries, and the two artifact
    * frames AT it — same shapes as the owner's serve getters
    * ([[GraphMaintainer.graph]] / [[GraphMaintainer.corpus]]). The
    * frames are LAZY: a probe that only reads `commit`/`highWater` pays
    * the manifest chain walk alone, never the per-artifact file listing
    * and footer reads `spark.read.parquet` would fire eagerly.
    */
  final class Snapshot private[streaming] (
      val commit: Option[String], val highWater: Option[Long],
      graphF: () => DataFrame, corpusF: () => DataFrame) {
    // frames must be FORCED inside snapshot{}: the retry window and the
    // forward-listing refusal protect only work done there — a thunk
    // escaping f would run its file listing unretried against the
    // owner's in-loop vacuum, so late first-access fails loud instead
    // (a frame already forced inside f stays usable, same as the eager
    // design: the listing it needed happened under the window)
    @volatile private[streaming] var open = true
    private def force(what: String, mk: () => DataFrame): DataFrame = {
      require(open,
        s"GraphReader.Snapshot: $what first accessed after snapshot{} " +
          "returned — resolve the frames INSIDE f, where the retry " +
          "window and the forward-listing refusal protect the read")
      mk()
    }
    lazy val graph: DataFrame = force("graph", graphF)
    lazy val corpus: DataFrame = force("corpus", corpusF)
  }
}

object GraphMaintainer {

  private[graft] val GraphArt = "graph"
  private[graft] val RoutingArt = "routing"
  private val GraphDdl =
    "vec_id BIGINT, neighbor_id BIGINT, rank INT, cos DOUBLE, cell BIGINT"
  private val RoutingDdl = "vec_id BIGINT, embedding ARRAY<FLOAT>, cell BIGINT"
  private val ManifestRe = """m(\d{6})-(\d{9})\.txt""".r

  /** Checkpoint cadence: a full-map checkpoint every this-many commits;
    * in between, each commit is a delta of the touched cells only.
    * Bounds both the per-commit write (O(touched cells) for 9 of every
    * 10 commits) and the resolution walk / retained-log length
    * (O(CheckpointEvery) commits).
    */
  private[graft] val CheckpointEvery = 10

  /** Corpus-derived coarse-quantizer sizing for an unsized [[build]] on
    * a FRESH workDir: √n clamped to [16, 131072] — mean cell size √n
    * keeps both the per-query probe (nCentroids kernel dots) and the
    * per-cell re-rank balanced as n grows, and lands at SCALE.md's
    * ~10⁵-cell guidance near 10¹⁰ vectors. 16 survives only as the
    * small-fixture floor; explicit callers always win, and every
    * unsized path over an EXISTING epoch — recover, rebuildEpoch, and
    * build's in-place-rebuild case — inherits the LIVE geometry instead
    * (the quantizer artifact's own length, so no `#nc` manifest line is
    * needed and a sized index can never silently re-fit).
    */
  private[graft] val MaxDerivedCentroids = 131072

  private[graft] def derivedNCentroids(n: Long): Int =
    math.max(16L, math.min(MaxDerivedCentroids.toLong,
      math.round(math.sqrt(n.toDouble)))).toInt

  /** One parsed commit file. `entries` is the full live map for a
    * checkpoint, the upserts for a delta; `base` names the exact commit
    * a delta was computed against (readers walk it — never "the nearest
    * checkpoint below", which a fenced zombie's late checkpoint could
    * poison).
    */
  private[graft] final case class GraphCommit(
      name: String, checkpoint: Boolean, base: Option[String],
      entries: Map[(String, Long), String], removes: Set[(String, Long)],
      hw: Option[Long], quantizer: Option[String], kOpt: Option[Int])

  /** A commit's RESOLVED view: the folded entry map, the newest-defined
    * `#hw`/`#q`/`#k` along its chain, and how many deltas sit above the
    * chain's checkpoint (the checkpoint-cadence counter a maintainer
    * resumes from; vacuum re-walks chains itself when retaining).
    */
  private[graft] final case class GraphState(
      entries: Map[(String, Long), String], hw: Option[Long],
      quantizer: Option[String], kOpt: Option[Int], deltasSinceCkpt: Int)

  private[graft] object GraphState {
    val empty: GraphState = GraphState(Map.empty, None, None, None, 0)
  }

  private def narrow(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"))

  /** The forward-only listing contract, ONE implementation for every
    * anchor that reads it — resolveBase (mutations), the serve getters,
    * and [[GraphReader]]: relative to a commit this process has already
    * seen or served, `_commits` can only move FORWARD (our own vacuum
    * keeps the newest; commits append), so an empty or REGRESSED listing
    * means the log was deleted out-of-band or the store returned an
    * inconsistent view — and silently accepting it would orphan the
    * stored corpus (commit path) or answer with an empty/rolled-back
    * index (serve path). Shared so the owner and reader refusals cannot
    * drift apart.
    */
  private[streaming] def requireForwardListing(
      who: String, workDir: String, anchor: Option[String],
      head: Option[String], anchorVerb: String, refusal: String): Unit = {
    require(head.isDefined || anchor.isEmpty,
      s"$who: _commits at $workDir lists no manifests but this " +
        s"$anchorVerb ${anchor.getOrElse("")} — deleted out-of-band or an " +
        s"inconsistent listing; refusing to $refusal an empty corpus")
    require(anchor.isEmpty || head.exists(_ >= anchor.get),
      s"$who: the latest manifest regressed from $anchor to $head at " +
        s"$workDir — out-of-band deletion or inconsistent listing; " +
        s"refusing to $refusal a rolled-back view of the corpus")
  }

  /** Committed manifests, ascending — the epoch field leads the name, so
    * lexicographic order IS fencing order: everything a newer owner
    * publishes sorts above everything any superseded owner ever can.
    */
  private[graft] def manifestNames(fs: FileSystem, workDir: String): Seq[String] = {
    val p = new Path(s"$workDir/_commits")
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(ManifestRe.matches(_)).sorted
  }

  /** Parse one commit file. A body with no `#graft-manifest` header is a
    * pre-delta-log manifest: a full map (checkpoint) of bare entry
    * lines. Every malformed line fails loud NAMING the file and the
    * line — a truncated manifest must never surface as a bare
    * MatchError with no indication of which commit is damaged.
    */
  private[graft] def readCommit(
      fs: FileSystem, workDir: String, name: String): GraphCommit = {
    val path = new Path(s"$workDir/_commits/$name")
    val in = try fs.open(path) catch {
      case e: java.io.FileNotFoundException => throw new IllegalStateException(
        s"GraphMaintainer: manifest $name missing at $workDir/_commits — " +
          "vacuumed or deleted out-of-band while still referenced", e)
    }
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    def bad(l: String, why: String): Nothing = throw new IllegalStateException(
      s"GraphMaintainer: corrupt manifest $path — $why in line: '$l'")
    var checkpoint = true
    var base: Option[String] = None
    var hw: Option[Long] = None
    var q: Option[String] = None
    var kOpt: Option[Int] = None
    val entries = Map.newBuilder[(String, Long), String]
    val removes = Set.newBuilder[(String, Long)]
    lines.filter(_.nonEmpty).foreach {
      case l if l.startsWith("#") => l.split(' ') match {
        case Array("#graft-manifest", "v2", "ckpt") => checkpoint = true
        case Array("#graft-manifest", "v2", "delta") => checkpoint = false
        case Array("#base", b) =>
          // a base must sort strictly below its own commit — structural
          // cycle-freedom for the resolution walk; anything else is a
          // forged or corrupt commit
          if (b >= name) bad(l, "#base must sort strictly below the commit")
          base = Some(b)
        case Array("#hw", v) if v.forall(_.isDigit) => hw = Some(v.toLong)
        case Array("#q", t) => q = Some(t)
        case Array("#k", v) if v.forall(_.isDigit) => kOpt = Some(v.toInt)
        case _ => bad(l, "unrecognized header")
      }
      case l if l.startsWith("!") => l.drop(1).split('\t') match {
        case Array(a, c) if c.nonEmpty && c.forall(_.isDigit) =>
          removes += ((a, c.toLong))
        case _ => bad(l, "a removal line must be !<artifact>\\t<cell>")
      }
      case l => l.split('\t') match {
        case Array(a, c, t) if c.nonEmpty && c.forall(_.isDigit) =>
          entries += ((a, c.toLong) -> t)
        case _ => bad(l, "an entry line must be <artifact>\\t<cell>\\t<token>")
      }
    }
    if (!checkpoint && base.isEmpty)
      bad("#graft-manifest v2 delta", "a delta commit names no #base")
    GraphCommit(name, checkpoint, base, entries.result(), removes.result(),
      hw, q, kOpt)
  }

  /** One commit's raw entry lines — a checkpoint's full map or a delta's
    * upserts. Kept as the union-friendly view: across a retained chain,
    * the union of `readManifest` maps is exactly the checkpoint's
    * entries plus every later upsert, which covers the live state at
    * every retained commit (what the in-loop-gc spec audits tokens
    * against).
    */
  private[graft] def readManifest(
      fs: FileSystem, workDir: String, name: String): Map[(String, Long), String] =
    readCommit(fs, workDir, name).entries

  /** Resolve the full state AT a commit: walk its pinned `#base` chain
    * back to a checkpoint, then fold the deltas forward. `#hw`/`#q`/`#k`
    * take the newest defined value along the chain (every
    * maintainer-written commit embeds them, so the walk is depth-0 in
    * practice; hand-forged or legacy commits fall through).
    */
  private[graft] def resolveState(
      fs: FileSystem, workDir: String, name: String): GraphState = {
    val chain = scala.collection.mutable.ArrayBuffer.empty[GraphCommit]
    var cur = name
    var done = false
    while (!done) {
      val c = readCommit(fs, workDir, cur)
      chain += c
      if (c.checkpoint) done = true
      else cur = c.base.get // readCommit guarantees it for deltas
    }
    val ordered = chain.reverse // checkpoint first
    val entries = ordered.foldLeft(Map.empty[(String, Long), String]) {
      (st, c) => if (c.checkpoint) c.entries else st -- c.removes ++ c.entries
    }
    def newestDef[A](f: GraphCommit => Option[A]): Option[A] =
      chain.iterator.flatMap(f(_)).nextOption() // chain is newest-first
    GraphState(entries, newestDef(_.hw), newestDef(_.quantizer),
      newestDef(_.kOpt), ordered.size - 1)
  }

  /** The latest committed state's entry map (empty before the first
    * commit).
    */
  private[graft] def latestEntries(
      fs: FileSystem, workDir: String): Map[(String, Long), String] =
    latestState(fs, workDir).entries

  /** The latest committed state, fully resolved. */
  private[graft] def latestState(fs: FileSystem, workDir: String): GraphState =
    manifestNames(fs, workDir).lastOption
      .map(resolveState(fs, workDir, _)).getOrElse(GraphState.empty)

  /** Publish a commit by rename-without-overwrite — THE commit point.
    * The sequence number is monotone across epochs (max over every
    * committed name + 1), the epoch prefix puts every commit of a
    * superseded owner below the new owner's first, and a lost rename
    * (same name landed twice — impossible under distinct acquired
    * epochs) fails loud rather than retrying blind. A `checkpoint`
    * carries the FULL entry map; a delta carries upserts + `removes`
    * and must pin `base`. Field-width overflow fails loud HERE — a
    * renamed commit whose name no longer matches [[ManifestRe]] would be
    * invisible to every reader, silently losing the commit until
    * resolveBase's regression check tripped much later.
    */
  private[graft] def commitManifest(
      fs: FileSystem, workDir: String, epoch: Int,
      entries: Map[(String, Long), String],
      removes: Set[(String, Long)] = Set.empty,
      checkpoint: Boolean = true,
      base: Option[String] = None,
      hw: Option[Long] = None,
      quantizer: Option[String] = None,
      k: Option[Int] = None): String = {
    require(epoch >= 0 && epoch <= 999999,
      s"GraphMaintainer.commitManifest: owner epoch $epoch overflows the " +
        "fixed-width name field (m%06d) — the renamed commit would match " +
        "no reader's listing and be silently lost; rotate the workDir")
    require(checkpoint || base.isDefined,
      "GraphMaintainer.commitManifest: a delta commit must pin its #base")
    require(checkpoint || removes.nonEmpty || entries.nonEmpty || hw.isDefined,
      "GraphMaintainer.commitManifest: refusing an empty no-op delta")
    require(!checkpoint || (removes.isEmpty && base.isEmpty),
      "GraphMaintainer.commitManifest: a checkpoint carries the full map " +
        "— removes/base are delta-only fields")
    val dir = new Path(s"$workDir/_commits")
    fs.mkdirs(dir)
    val seq = manifestNames(fs, workDir)
      .collect { case ManifestRe(_, s) => s.toLong }.maxOption.getOrElse(0L) + 1
    require(seq <= 999999999L,
      s"GraphMaintainer.commitManifest: sequence $seq overflows the " +
        "fixed-width name field (%09d) — the renamed commit would match " +
        "no reader's listing and be silently lost; rotate the workDir")
    val name = f"m$epoch%06d-$seq%09d.txt"
    val header =
      Seq(s"#graft-manifest v2 ${if (checkpoint) "ckpt" else "delta"}") ++
        base.map(b => s"#base $b") ++
        hw.map(h => s"#hw $h") ++
        quantizer.map(t => s"#q $t") ++
        k.map(v => s"#k $v")
    val body = (header ++
      entries.toSeq.sortBy { case ((a, c), _) => (a, c) }
        .map { case ((a, c), t) => s"$a\t$c\t$t" } ++
      removes.toSeq.sorted.map { case (a, c) => s"!$a\t$c" }).mkString("\n")
    val tmp = new Path(dir, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, new Path(dir, name))) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"GraphMaintainer: manifest $name already exists — a concurrent " +
          "commit under the same owner epoch violates the single-owner " +
          "contract (OwnerFence.acquire hands out distinct epochs)")
    }
    name
  }

  /** Land one artifact's rows as an immutable `fold=<token>/cell=<c>/`
    * tree (the pre-write repartition on cell puts each cell's rows in ONE
    * task, so every cell directory holds one file — without it, every
    * shuffle task that owns a few rows of a cell commits its own small
    * file and per-commit file counts scale with tasks × cells). Returns
    * the token and the cells that actually received rows — nothing is
    * visible until a manifest references them.
    */
  private def landCells(
      fs: FileSystem, workDir: String, df: DataFrame,
      artifact: String, preClustered: Boolean = false): (String, Seq[Long]) = {
    val token = "t" + java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val dir = s"$workDir/data/$artifact/fold=$token"
    // preClustered: the caller's pipeline already ends hash-partitioned
    // on cell (the edge pipelines repartition(cell) BEFORE their window
    // so one exchange serves both) — repartitioning again here would pay
    // a second full shuffle of the same rows for the same layout. This is
    // a PERF-ONLY hint with a correct-but-degraded fallback: Spark does
    // not guarantee the upstream partitioning survives the plan (an AQE
    // or version change inserting an exchange is legal), in which case
    // the write is still row-identical but a cell's rows may span tasks
    // and the cell directory holds several small files instead of one —
    // compaction-shaped slack, never wrong data
    val clustered = if (preClustered) df else df.repartition(col("cell"))
    clustered.write.partitionBy("cell").parquet(dir)
    val cells = fs.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("cell=") => n.stripPrefix("cell=").toLong }
    (token, cells)
  }

  /** Land one epoch's frozen quantizer as an immutable
    * `quantizers/<qtok>/` artifact — referenced by the manifest's `#q`
    * line, so the quantizer cuts over in the SAME atomic rename as the
    * data it routes (the separate mutable `centroids/` dir of the legacy
    * layout is read only as a fallback for pre-`#q` logs).
    */
  private def landQuantizer(
      spark: SparkSession, workDir: String,
      cs: Array[(Long, Array[Double], Double)]): String = {
    import spark.implicits._
    val tok = "q" + java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    cs.toSeq.toDF("cid", "emb", "norm")
      .coalesce(1).write.parquet(s"$workDir/quantizers/$tok")
    tok
  }

  /** Load the quantizer a resolved state names — `quantizers/<qtok>/`,
    * or the legacy `centroids/` dir when the log predates `#q`.
    */
  private def loadQuantizer(
      spark: SparkSession, workDir: String,
      q: Option[String]): Array[(Long, Array[Double], Double)] = {
    import spark.implicits._
    val p = q.map(t => s"$workDir/quantizers/$t").getOrElse(s"$workDir/centroids")
    spark.read.parquet(p)
      .as[(Long, Array[Double], Double)].collect().sortBy(_._1)
  }

  /** The legacy replay high-water: the max over a pre-`#hw` deployment's
    * `folded/` markers (swept `hw-` names and one-file-per-batchId
    * names). Empty once the first `#hw`-carrying commit sweeps the dir.
    */
  private[graft] def legacyFoldedHw(fs: FileSystem, workDir: String): Option[Long] = {
    val dir = new Path(s"$workDir/folded")
    if (!fs.exists(dir)) return None
    fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case n if n.startsWith("hw-") &&
          n.stripPrefix("hw-").forall(_.isDigit) =>
        n.stripPrefix("hw-").toLong
      case n if n.nonEmpty && n.forall(_.isDigit) => n.toLong
    }.maxOption
  }

  /** Read one artifact at a manifest's state, optionally pruned to a cell
    * set: exactly the chosen cells' directories are passed to the scan
    * (with `basePath` so the fold/cell partition values resolve), so
    * pruning happens at the MANIFEST — untouched cells are never listed.
    */
  private[graft] def readArtifact(
      spark: SparkSession, workDir: String, artifact: String,
      entries: Map[(String, Long), String],
      cells: Option[Set[Long]]): DataFrame = {
    val chosen = entries.collect {
      case ((a, c), t) if a == artifact && cells.forall(_.contains(c)) => (c, t)
    }.toSeq
    if (chosen.isEmpty) {
      val ddl = if (artifact == GraphArt) GraphDdl else RoutingDdl
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType.fromDDL(ddl))
    }
    val paths = chosen.map { case (c, t) =>
      s"$workDir/data/$artifact/fold=$t/cell=$c"
    }
    spark.read.option("basePath", s"$workDir/data/$artifact")
      .parquet(paths: _*)
      .withColumn("cell", col("cell").cast("long"))
      .drop("fold")
  }

  /** Build the epoch's artifacts in `workDir` (quantizer, routing, graph,
    * first manifest — a checkpoint naming all three) from the
    * refresh-time corpus, then maintain from there. Over an EXISTING
    * workDir this is an in-place epoch rebuild: the replay high-water
    * carries across (the attached stream's checkpoint keeps its
    * batchIds), the old state stays readable until vacuum ages it out,
    * and any pre-manifest legacy `routing/`/`graph/` dirs at the root —
    * superseded by this fresh epoch, but outside `data/` where vacuum
    * sweeps — are reclaimed NOW rather than lingering unreferenced
    * forever.
    */
  def build(initialCorpus: DataFrame, workDir: String,
      k: Int = 5, nCentroids: Option[Int] = None): GraphMaintainer = {
    val spark = initialCorpus.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epoch = OwnerFence.acquire(fs, s"$workDir/owner")
    val prior = manifestNames(fs, workDir).lastOption
      .map(resolveState(fs, workDir, _))
    val priorHw = (prior.flatMap(_.hw).toSeq ++
      legacyFoldedHw(fs, workDir).toSeq).maxOption
    val corpus = narrow(initialCorpus)
    // unsized sizing, same contract as rebuildEpoch: over an EXISTING
    // epoch (this build is the in-place rebuild path) INHERIT the live
    // quantizer's geometry — an explicitly-sized 64-cell index must not
    // silently re-fit to a corpus-derived count through the sibling
    // entry point; on a fresh workDir (or a pre-#q legacy log) derive
    // from the corpus (√n clamped) — the 100 TB entry point must not
    // default to a fixture-scale constant. Explicit callers always win.
    val sized = nCentroids.orElse(
      prior.flatMap(_.quantizer)
        .map(q => loadQuantizer(spark, workDir, Some(q)).length))
    val cs = sized match {
      case Some(nc) => SimilaritySearch.ivfCentroids(corpus, nc)
      case None =>
        // fresh-workDir unsized path: the candidate-id draw and the
        // sizing count share ONE ids-only scan (no full-width pass paid
        // purely for sizing), then the √n prefix's embeddings fetch by
        // broadcast semi-join — the (md5, vec_id) prefix property makes
        // the result bit-equal to the separately-counted sized draw
        val (ids, n) =
          SimilaritySearch.ivfCandidateIdsWithCount(corpus, MaxDerivedCentroids)
        SimilaritySearch.fetchCentroids(corpus, ids.take(derivedNCentroids(n)))
    }
    // quantizer land ∥ cell-assign materialization, as in rebuildEpoch
    val bcast = spark.sparkContext.broadcast(cs)
    val (qTok, cells) = Par.both(
      landQuantizer(spark, workDir, cs),
      SimilaritySearch.cellAssign(corpus, bcast).localCheckpoint())
    // one exchange for the whole edge path: hash on cell, window keyed
    // (cell, vec_id) — row-identical to the (vec_id) window since a
    // vector routes to exactly one cell — then land WITHOUT the second
    // repartition (preClustered). The routing land overlaps the edge
    // compute+land on a second thread (independent jobs, §2.6).
    val w = Window.partitionBy(col("cell"), col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val edges = SimilaritySearch.cellEdgesWithCell(cells, cells)
      .repartition(col("cell"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("neighbor_id"), col("rank"), col("cos"), col("cell"))
    val ((rTok, rCells), (gTok, gCells)) = Par.both(
      landCells(fs, workDir, cells, RoutingArt),
      landCells(fs, workDir, edges, GraphArt, preClustered = true))
    val entries = (rCells.map(c => (RoutingArt, c) -> rTok) ++
      gCells.map(c => (GraphArt, c) -> gTok)).toMap
    val name = commitManifest(fs, workDir, epoch, entries,
      hw = priorHw, quantizer = Some(qTok), k = Some(k))
    // reclamation strictly AFTER the commit point (a build that crashes
    // mid-land must leave the prior serving state intact — deleting the
    // legacy dirs before the rename would let a crash lose the old
    // corpus with nothing published to replace it): the legacy root
    // routing/ + graph/ dirs this epoch supersedes (vacuum never reaches
    // them — they sit outside data/), and the folded/ marker dir whose
    // high-water now rides the manifest. A crash between the rename and
    // these deletes leaves never-served bytes only — safe direction.
    Seq(RoutingArt, GraphArt).foreach { a =>
      fs.delete(new Path(s"$workDir/$a"), true); ()
    }
    fs.delete(new Path(s"$workDir/folded"), true)
    // per-cell audit + Bloom sizing in ONE aggregate (replaces the bare
    // count()): flags quantizer skew — guide §2.5 — without an extra job
    val (nRows, hot) = cellStats(cells, cs.length)
    warnHotCells(s"build($workDir)", nRows, hot)
    new GraphMaintainer(spark, workDir, k, bcast,
      bloomOf(cells.select(col("vec_id")), nRows), epoch,
      GraphState(entries, priorHw, Some(qTok), Some(k), 0),
      Some(name))
  }

  /** Open a READER on `workDir` — the cross-JVM subscriber role: no
    * ownership taken, no fence epoch acquired, safe by construction to
    * run (many at once) against a live maintainer's folds and in-loop
    * vacuum. See [[GraphReader]] for the resolve-retry-refuse contract;
    * `retryWindowMs` bounds how long one read keeps retrying a lost race
    * before failing loud, `onRetry` is per-retry telemetry.
    */
  def openReader(spark: SparkSession, workDir: String,
      retryWindowMs: Long = 30000L, onRetry: () => Unit = () => ()): GraphReader =
    new GraphReader(spark, workDir, retryWindowMs, onRetry)

  /** Reopen `workDir` after a restart: the manifest-named quantizer and
    * the latest commit's routing/graph are the landed artifacts, so the
    * recovered maintainer's next fold equals the uninterrupted one's
    * (GraphMaintenanceSpec pins it). A pre-manifest workDir (the
    * partition-overwrite layout this format replaced) migrates in place:
    * its cell directories rename under a `legacy` token and the first
    * manifest pins them. Pre-`#q`/`#k` logs fall back to the legacy
    * `centroids/` dir and `meta.json`.
    */
  def recover(spark: SparkSession, workDir: String): GraphMaintainer = {
    val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epoch = OwnerFence.acquire(fs, s"$workDir/owner")
    if (manifestNames(fs, workDir).isEmpty) migrateLegacy(fs, workDir, epoch)
    // pin the commit the caches are built at BEFORE building them, so a
    // racing commit between the two is detected (not masked) at the
    // first fold's resolveBase
    val name0 = manifestNames(fs, workDir).lastOption
    val st = name0.map(resolveState(fs, workDir, _)).getOrElse(GraphState.empty)
    val k = st.kOpt.getOrElse {
      val in = fs.open(new Path(s"$workDir/meta.json"))
      val meta = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      """"k":(\d+)""".r.findFirstMatchIn(meta)
        .map(_.group(1).toInt)
        .getOrElse(throw new IllegalStateException(s"$workDir/meta.json: no k"))
    }
    val cs = loadQuantizer(spark, workDir, st.quantizer)
    val hw0 = (st.hw.toSeq ++ legacyFoldedHw(fs, workDir).toSeq).maxOption
    new GraphMaintainer(spark, workDir, k,
      spark.sparkContext.broadcast(cs),
      bloomOf(spark, workDir, st.entries), epoch,
      st.copy(hw = hw0), name0)
  }

  /** One-time in-place migration from the pre-manifest layout
    * (`<workDir>/{routing,graph}/cell=<c>/` rewritten by dynamic
    * partition overwrite): each cell directory RENAMES under
    * `data/<artifact>/fold=legacy/` — a metadata move, no data copied —
    * and the first manifest pins them (embedding the `folded/` dir's
    * high-water, whose directory then sweeps), after which every commit
    * is atomic. Runs under the just-acquired epoch, so a still-live old
    * maintainer is already fenced before the move.
    */
  private def migrateLegacy(fs: FileSystem, workDir: String, epoch: Int): Unit = {
    val entries = Seq(RoutingArt, GraphArt).flatMap { a =>
      val old = new Path(s"$workDir/$a")
      val dest = new Path(s"$workDir/data/$a/fold=legacy")
      if (fs.exists(old)) {
        fs.mkdirs(dest)
        fs.listStatus(old).toSeq.map(_.getPath)
          .filter(_.getName.startsWith("cell="))
          .foreach { c =>
            require(fs.rename(c, new Path(dest, c.getName)),
              s"GraphMaintainer: legacy migration could not move $c")
          }
        fs.delete(old, true) // _SUCCESS / crc debris
      }
      // the manifest pins what is under the DESTINATION, not what this
      // run happened to move: a migration that crashed mid-rename on a
      // prior recover() already moved some cells there, and pinning only
      // the freshly-moved remainder would silently drop them from the
      // first manifest — permanent loss once vacuum sweeps the
      // unreferenced slices (crash-idempotence over the rename loop)
      if (!fs.exists(dest)) Nil
      else fs.listStatus(dest).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("cell=") =>
          (a, n.stripPrefix("cell=").toLong) -> "legacy"
        }
    }.toMap
    commitManifest(fs, workDir, epoch, entries,
      hw = legacyFoldedHw(fs, workDir))
    fs.delete(new Path(s"$workDir/folded"), true)
    ()
  }

  /** Driver-held Bloom over every id stored at `entries` — the O(1)
    * prescreen that keeps the common no-collision fold from scanning
    * stored ids. Built AT a named manifest so the maintainer can detect
    * when the snapshot it screens for has moved under it.
    */
  private def bloomOf(
      spark: SparkSession, workDir: String,
      entries: Map[(String, Long), String]): BloomFilter = {
    val ids = readArtifact(spark, workDir, RoutingArt, entries, None)
      .select(col("vec_id"))
    bloomOf(ids, ids.count())
  }

  /** Bloom prescreen over an id frame already in hand — [[build]] and
    * [[GraphMaintainer.rebuildEpoch]] pass their localCheckpoint'd cell
    * frame so the filter builds from cached blocks instead of re-scanning
    * the parquet files they just landed (two full artifact reads saved
    * per epoch build).
    */
  private[streaming] def bloomOf(ids: DataFrame, n: Long): BloomFilter =
    ids.stat.bloomFilter("vec_id", math.max(1000000L, 8 * n), 0.001)

  private val log = org.slf4j.LoggerFactory.getLogger("graft.GraphMaintainer")

  /** Hot-cell exposure bound for the (cell, vec_id)-keyed edge pipeline:
    * the one repartition(cell) puts a whole cell in ONE task, and the √n
    * quantizer sizing bounds only the MEAN cell population — a skewed
    * centroid (guide §2.5) serializes its cell into a straggler at 100 TB.
    * A cell more than this factor over the mean is flagged.
    */
  private[graft] val HotCellFactor = 8.0

  /** Per-cell population audit over a materialized cell-assign frame:
    * (total rows, cells whose population exceeds [[HotCellFactor]] × the
    * mean the quantizer was SIZED for — total / nCentroids, the √n
    * contract's own denominator; empty cells must count against the mean
    * or a skew that empties half the cells would mask itself). One
    * aggregate over the checkpointed blocks with nCells rows to the
    * driver — callers use the total for the Bloom sizing, so the audit
    * REPLACES the count() job they already paid (no extra pass).
    */
  private[graft] def cellStats(
      cells: DataFrame, nCentroids: Int): (Long, Seq[(Long, Long)]) = {
    val counts = cells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = counts.map(_._2).sum
    val mean = total.toDouble / math.max(1, nCentroids)
    (total, counts.filter(_._2 > HotCellFactor * mean).toSeq.sortBy(-_._2))
  }

  /** Log the hot-cell warning for an epoch build/rebuild — the documented
    * response is operational, not automatic: re-fit with more centroids
    * (splitting dense regions), or pre-split the hot cells / salt the
    * window key with a rank prefix if the density is irreducible. The
    * build itself stays correct either way (a hot cell is a straggler,
    * never wrong data), so this warns rather than fails.
    */
  private[graft] def warnHotCells(
      where: String, total: Long, hot: Seq[(Long, Long)]): Unit =
    if (hot.nonEmpty) log.warn(
      s"$where: ${hot.size} hot cell(s) exceed ${HotCellFactor}x the mean " +
        s"population (worst: cell=${hot.head._1} n=${hot.head._2} of " +
        s"$total rows) — each cell is one task in the edge re-rank, so " +
        "these serialize into stragglers; re-fit with more centroids or " +
        "pre-split/salt the hot cells")
}
