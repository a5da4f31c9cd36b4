package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.merge.LogTable
import graft.operators.Dedup

/** Streaming duplicate-cluster maintenance — the foreachBatch analog of s04
  * for the dedup ladder: documents arrive as a stream, and the pipeline keeps
  * a `labels` table (doc_id → cluster_id = min reachable doc id) continuously
  * equal to what a from-scratch [[Dedup.dupClusters]] over the whole corpus
  * would produce — without ever recomputing closed components.
  *
  * Per micro-batch work is proportional to the BATCH, never the corpus:
  *   1. shingle only the new docs ([[Dedup.docShingles]], native codegen);
  *   2. candidate pairs = new-shingles ⋈ persistent shingle index (new↔old)
  *      plus a new↔new self-join — the accumulated corpus is only ever
  *      touched through the shingle-keyed index join, exactly how a 100 TB
  *      near-dup index is queried;
  *   3. exact Jaccard over candidates via the global per-doc set sizes;
  *   4. [[Dedup.dupClustersIncremental]] extends the prior labels (touched
  *      clusters only) and the result replaces the labels table.
  *
  * Every table is a [[LogTable]]: the index/sizes tables are append-only
  * commits; labels is a full overwrite commit. Batch-replay equivalence with the from-scratch
  * operator is pinned by IncrementalClusterSpec.
  *
  * ==Df-capping (`maxDf < Int.MaxValue`) — delta-maintained state==
  * [[graft.operators.Dedup.capShingles]] needs GLOBAL document frequencies,
  * so the cap is applied at INDEX-QUERY time — but every capped relation is
  * maintained BY DELTA so the per-batch work stays batch-proportional (the
  * r9 verdict's ask — the first version re-folded the full df log and
  * re-scanned the full index every batch):
  *
  *   - `shingle_df` accumulates per-batch (shingle, delta) counts
  *     (append-only). It is never re-aggregated in full: each batch folds
  *     ONLY the rows matching its own shingles (a broadcast semi-join
  *     pushed below the aggregation — the scan is columnar, the shuffle is
  *     batch-sized; at 100 TB the log is additionally hash-partitioned by
  *     shingle for partition-pruned lookups and periodically compacted).
  *   - `hot_shingles` is the cumulative hot set. Document frequency is
  *     monotone, so a shingle crosses `maxDf` exactly once; each batch
  *     appends only the shingles CROSSING in it (prior df ≤ maxDf <
  *     prior + delta). The per-batch hot set — prior ∪ newly-crossed — is
  *     therefore a tiny-table read, not a corpus-wide fold, and equals the
  *     full fold's `sum(delta) > maxDf` set by induction.
  *   - `doc_hot_counts` holds per-doc hot-shingle counts as append-only
  *     deltas: (a) each batch's own docs count against the current hot set
  *     (batch-sized join); (b) when a shingle crosses the cap, the docs
  *     indexed BEFORE the crossing get their retro counts from one
  *     index ⋈ broadcast(newly-hot) pass — paid only in crossing batches
  *     (rare by the "few shingles exceed any sane cap" construction), so
  *     amortized batch-proportional.
  *
  * Capped set_size = stored (uncapped) size − per-doc hot count, computed
  * only for docs touched by a candidate pair (semi-joins below the folds,
  * so the narrow state tables are scanned but never re-shuffled in full).
  * The candidate join anti-joins the broadcast hot set out of BOTH sides.
  * This reproduces `Dedup.ngramJaccard(maxDf)` exactly while the hot set is
  * STABLE across the stream (boilerplate present from its first batch — the
  * r6b skew scenario). A shingle that crosses the cap mid-stream stops
  * generating candidates from that batch on, but pairs it already merged
  * are never retracted (labels stay a superset of the final-df from-scratch
  * closure — conservative in the more-dedup direction). The uncapped
  * default keeps strict replay ≡ uncapped from-scratch, the original spec
  * proof, and skips the capped state tables entirely.
  *
  * The capped `pairs` relation is eagerly checkpointed before the iterative
  * clustering: the propagation loop's own materializations (touched set,
  * affected clusters, edge checkpoint) would otherwise re-analyze the whole
  * capped join lineage per action — the same checkpoint-your-inputs lesson
  * the loop already applies to its edges.
  */
final class IncrementalClustering(spark: SparkSession, root: String,
                                  n: Int = 3, minJaccard: Double = 0.5,
                                  maxDf: Int = Int.MaxValue) {

  // every append-only table carries the writing batch's id, so a crash
  // between appends is RECOVERABLE: the scrub (below) deletes rows from
  // batches past the marker before reprocessing — without the stamp, a
  // replayed batch would double-count its df deltas and, worse, find its
  // own crossings already in hot_shingles and silently skip the retro
  // hot-counts (capped state drifting with no error)
  private val indexSchema = new StructType()
    .add("doc_id", LongType).add("shingle", StringType).add("batch_id", LongType)
  private val sizesSchema = new StructType()
    .add("doc_id", LongType).add("set_size", LongType).add("batch_id", LongType)
  private val labelsSchema = new StructType()
    .add("doc_id", LongType).add("cluster_id", LongType)

  private val dfSchema = new StructType()
    .add("shingle", StringType).add("delta", LongType).add("batch_id", LongType)
  private val hotSchema = new StructType()
    .add("shingle", StringType).add("batch_id", LongType)
  private val hotCountsSchema = new StructType()
    .add("doc_id", LongType).add("hot_n", LongType).add("batch_id", LongType)

  val indexTable = new LogTable(spark, s"$root/shingle_index", indexSchema)
  val sizesTable = new LogTable(spark, s"$root/doc_sizes", sizesSchema)
  val labelsTable = new LogTable(spark, s"$root/labels", labelsSchema)
  /** Per-batch document-frequency deltas; only maintained when capped. */
  val dfTable = new LogTable(spark, s"$root/shingle_df", dfSchema)
  /** Cumulative set of shingles that crossed `maxDf` (capped mode only). */
  val hotTable = new LogTable(spark, s"$root/hot_shingles", hotSchema)
  /** Per-doc hot-shingle count deltas (capped mode only). */
  val hotCountsTable = new LogTable(spark, s"$root/doc_hot_counts", hotCountsSchema)

  /** Exact Jaccard for candidate pairs (doc_a, doc_b, n_inter) given global
    * per-doc set sizes. */
  private def jaccardOf(inter: DataFrame, sizes: DataFrame): DataFrame =
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("set_size").as("size_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("set_size").as("size_b")), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("size_a") + col("size_b") - col("n_inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  // ==Restart / exactly-once contract (CrashRecoverySpec)==
  // The checkpoint makes the SOURCE exactly-once (files are never re-read
  // after their batch commits), but Structured Streaming re-delivers the
  // last batch when a stop lands between the offset-log and commit-log
  // writes. The `_last_batch` marker — written LAST, after every table
  // write, via atomic rename — makes a fully-applied re-delivery a no-op.
  // A crash BETWEEN the appends (some tables written, marker not) is
  // recovered by the batch-id SCRUB: every appended row is stamped with
  // its batch id, and the first processBatch of an instance deletes rows
  // from batches past the marker (one merge-on-read DELETE per table,
  // once per restart) before reprocessing — so a replayed partial batch
  // starts from exactly the marker's state. Labels need no stamp: the
  // overwrite is one atomic commit of a pure function of (scrubbed tables,
  // batch), so re-running it converges.
  private def markerPath = java.nio.file.Paths.get(root, "_last_batch")

  @volatile private var scrubbed = false
  /** Delete rows stamped by batches past the marker — the crash-recovery
    * truncation. Runs once per instance, before the first batch. */
  private def scrubPartialWrites(): Unit = {
    val cut = lastAppliedBatch
    Seq(indexTable, sizesTable, dfTable, hotTable, hotCountsTable).foreach { t =>
      val n = t.deleteWhere(col("batch_id") > cut)
      if (n > 0) System.err.println(
        s"[incremental-clustering] scrubbed $n partial rows (batch > $cut)")
    }
    scrubbed = true
  }

  /** Highest batchId whose table writes all completed; -1 before any. */
  def lastAppliedBatch: Long =
    if (java.nio.file.Files.exists(markerPath))
      new String(java.nio.file.Files.readAllBytes(markerPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    else -1L

  private def writeMarker(batchId: Long): Unit = {
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(root), ".marker-", ".tmp")
    java.nio.file.Files.write(tmp, batchId.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, markerPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Ingest one batch of new documents (doc_id, text); updates all tables.
    * Public so a replay (or a spec) can drive it deterministically;
    * [[attach]] wires it as the foreachBatch sink. Re-delivery of an
    * already-applied batchId is a no-op (see restart contract above). */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (batchId <= lastAppliedBatch) return
    if (!scrubbed) scrubPartialWrites()
    val newShingles = Dedup.docShingles(batch, "doc_id", "text", n).persist()
    val newSizes = newShingles.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("set_size"))
    val oldIndex = indexTable.read().select(col("doc_id"), col("shingle"))
    val capped = maxDf != Int.MaxValue

    // ==Capped state, by delta (see class scaladoc)==
    val newDelta = if (!capped) null
    else newShingles.groupBy(col("shingle"))
      .agg(count(lit(1)).as("delta")).persist()
    // shingles crossing the cap IN THIS BATCH: prior cumulative df (folded
    // over only the log rows matching this batch's shingles — broadcast
    // semi-join below the aggregation) + this batch's delta crosses maxDf,
    // and the shingle is not already hot
    val newlyHot = if (!capped) null
    else {
      val priorDf = dfTable.read()
        .join(broadcast(newDelta.select(col("shingle"))), Seq("shingle"), "left_semi")
        .groupBy(col("shingle")).agg(sum(col("delta")).as("prior_df"))
      newDelta.join(priorDf, Seq("shingle"), "left")
        .join(broadcast(hotTable.read().select(col("shingle"))),
          Seq("shingle"), "left_anti")
        .filter(coalesce(col("prior_df"), lit(0L)) + col("delta") > maxDf)
        .select(col("shingle"))
        .localCheckpoint(true) // tiny by construction; consumed up to 3×
    }
    val anyNewHot = capped && newlyHot.limit(1).count() > 0
    // per-batch hot set = cumulative crossings (tiny-table read, ≡ the full
    // df fold's `sum(delta) > maxDf` set because df is monotone)
    val hot = if (!capped) null
    else hotTable.read().select(col("shingle")).unionByName(newlyHot)
      .localCheckpoint(true)
    def capSide(ds: DataFrame): DataFrame =
      if (!capped) ds else ds.join(broadcast(hot), Seq("shingle"), "left_anti")
    val cNew = capSide(newShingles)
    val cOld = capSide(oldIndex)

    // new↔old: one shingle-keyed join against the index (direction is fixed,
    // so each unordered pair appears once; normalize with least/greatest)
    val newOld = cNew.select(col("doc_id").as("new_id"), col("shingle"))
      .join(cOld.select(col("doc_id").as("old_id"), col("shingle")), "shingle")
      .select(least(col("new_id"), col("old_id")).as("doc_a"),
        greatest(col("new_id"), col("old_id")).as("doc_b"))
    // new↔new: self-join with doc_a < doc_b (each pair once)
    val newNew = cNew.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(cNew.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val inter0 = newOld.unionByName(newNew)
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    val inter = if (capped) inter0.persist() else inter0 // consumed 2x below

    // this batch's doc_hot_counts deltas: (a) own docs vs the current hot
    // set; (b) retro counts for pre-crossing docs, only when something
    // crossed (see class scaladoc)
    val newDocHot = if (!capped) null
    else newShingles.join(broadcast(hot), Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hot_n"))
    val retroHot = if (!anyNewHot) null
    else oldIndex.join(broadcast(newlyHot), Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hot_n"))
    val hotDeltas = if (!capped) null
    else if (anyNewHot) newDocHot.unionByName(retroHot) else newDocHot

    val sizesStored = sizesTable.read().select(col("doc_id"), col("set_size"))
      .unionByName(newSizes)
    val sizes = if (!capped) sizesStored
    else {
      // capped set_size = stored (uncapped) size − per-doc hot count,
      // computed only for docs TOUCHED by a candidate pair: the narrow
      // state tables are scanned with the touched set broadcast below the
      // fold, so the shuffle carries only touched docs
      val touched = inter.select(col("doc_a").as("doc_id"))
        .unionByName(inter.select(col("doc_b").as("doc_id"))).distinct()
        .localCheckpoint(true)
      val hotN = hotCountsTable.read().select(col("doc_id"), col("hot_n"))
        .unionByName(hotDeltas)
        .join(broadcast(touched), Seq("doc_id"), "left_semi")
        .groupBy(col("doc_id")).agg(sum(col("hot_n")).as("hot_n"))
      sizesStored.join(broadcast(touched), Seq("doc_id"), "left_semi")
        .join(hotN, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("set_size") - coalesce(col("hot_n"), lit(0L))).as("set_size"))
    }
    // eager checkpoint (capped only): truncate the capped join lineage so
    // the clustering loop's materializations analyze a leaf, not the whole
    // per-batch plan; the uncapped pairs plan is already shallow
    val pairs0 = jaccardOf(inter, sizes)
    val pairs = if (capped) pairs0.localCheckpoint(true) else pairs0

    val labels = Dedup.dupClustersIncremental(
      labelsTable.read(), pairs, batch.select(col("doc_id")), "doc_id")
    val stamp = (df: DataFrame) => df.withColumn("batch_id", lit(batchId))
    // The per-batch table writes target DISJOINT tables over inputs that
    // are already materialized (persisted/checkpointed above, or scans
    // whose file listing was pinned at read() time), so run them as one
    // thread wave instead of six sequential job+commit floors per batch
    // (guide §2.6, [[graft.ops.JobWave]]). The crash contract is
    // ORDER-FREE by design — any partially-written subset is truncated by
    // the batch-id scrub, and the marker still lands strictly last
    // (CrashRecoverySpec pins the replay).
    graft.ops.JobWave.run(Seq[Option[() => Unit]](
      Some(() => labelsTable.overwrite(labels)),
      Some(() => indexTable.append(stamp(newShingles))),
      Some(() => sizesTable.append(stamp(newSizes))),
      if (capped) Some(() => dfTable.append(stamp(newDelta))) else None,
      if (capped && anyNewHot) Some(() => hotTable.append(stamp(newlyHot))) else None,
      if (capped) Some(() => hotCountsTable.append(stamp(hotDeltas))) else None
    ).flatten)
    if (capped) { newDelta.unpersist(); inter.unpersist() }
    writeMarker(batchId)
    labels.unpersist()
    newShingles.unpersist()
  }

  /** Wire a streaming documents source (doc_id, text) into the pipeline. */
  def attach(docsStream: DataFrame, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docsStream
      .writeStream
      .queryName("incremental_clustering")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
      .start()
}
