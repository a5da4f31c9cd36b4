package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** PERSISTED IVF-PQ vector index — the deployed form of the v12 composition
  * ([[Similarity.ivfPqTopK]]): build once, query many, and let the STORAGE
  * LAYOUT do the probing. [[build]] assigns every vector to its IVF cell,
  * PQ-encodes it, and writes `(vec_id, code)` hive-partitioned by `cell`
  * (`index/cell=K/`), with centroids + codebook in a sidecar table. A
  * [[query]] then computes the union of probed cells (driver-side, bounded
  * by nlist ints) and filters the index scan on the PARTITION column — the
  * executor never opens the other cells' files at all. That is the property
  * the in-plan v12 cannot have: its scan reads the whole corpus and drops
  * rows at the join; the index scan reads `|probed|/nlist` of the data
  * (PlanAuditSpec pins `PartitionFilters` on the scan). ADC scoring and the
  * exact re-rank are unchanged from v12 — codes-only until the shortlist,
  * embeddings fetched by id at width `queries × shortlist` from the vector
  * store (`vectors`, the corpus relation).
  *
  * At 100 TB: the index is ~3 TB of codes (the PQ 128× lever) laid out in
  * nlist partitions; a query batch opens nprobe·|queries| partitions'
  * worth of files, streams codes through codegen'd ADC, and fetches only
  * shortlisted vectors. Rebuild/[[retrain]] cut a fresh GENERATION
  * directory and atomically flip the `_gen` pointer — in-flight readers
  * finish on the generation they opened (snapshot isolation,
  * ServeDuringRetrainSpec); incremental maintenance appends new codes to
  * the live generation's cell partitions (parquet append per partition,
  * hive-partitioned by cell). [[vacuum]] is
  * the one IN-PLACE verb (per-cell swap inside the live generation) —
  * schedule it like any maintenance window, or retrain instead.
  *
  * Determinism: centroids and codebook follow the v04/v09 stride rules, so
  * query results are bit-identical to [[Similarity.ivfPqTopK]] on the same
  * corpus — v13's oracle IS v12's composed CTE chain.
  */
final class VectorIndex(spark: SparkSession, root: String,
                        nlist: Int = 16, m: Int = 8, ksub: Int = 16,
                        dims: Int = 64) {
  require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
  private val dsub = dims / m

  // ── GENERATIONS (serve-while-retraining) ────────────────────────────────
  // Every generation is a directory `.v-<N>` that is never mutated once a
  // later generation goes live; the pointer file `_gen` names the LIVE one
  // (atomic temp-write + move — the LogTable manifest principle applied to
  // the index layout). Readers resolve the pointer once per call and then
  // touch only that generation's immutable files, so a [[retrain]] (which
  // writes `.v-<N+1>` COMPLETELY and only then flips the pointer) never
  // disturbs an in-flight query: the reader finishes on the snapshot it
  // opened — exactly one committed version, never a mix
  // (ServeDuringRetrainSpec forces the interleaving). A root without a
  // pointer file is read as the legacy/retired single-generation layout
  // (meta/index/tombstones directly under it) — which is precisely how
  // [[version]] handles keep working on retired dirs.
  private def genPointer = java.nio.file.Paths.get(root, "_gen")
  private[graft] def currentGen: Long =
    if (!java.nio.file.Files.exists(genPointer)) 0L
    else new String(java.nio.file.Files.readAllBytes(genPointer)).trim.toLong
  private def genDir(g: Long): java.nio.file.Path =
    java.nio.file.Paths.get(root, s".v-$g")
  /** The live generation's directory (spec hook; legacy roots serve
    * themselves). */
  private[graft] def liveRoot: java.nio.file.Path =
    if (java.nio.file.Files.exists(genPointer)) genDir(currentGen)
    else java.nio.file.Paths.get(root)
  private def setGen(g: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    Files.createDirectories(Paths.get(root))
    val tmp = Files.createTempFile(Paths.get(root), "._gen-", ".tmp")
    Files.write(tmp, g.toString.getBytes)
    Files.move(tmp, genPointer, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
  private def indexDir = liveRoot.resolve("index").toString
  private def metaDir = liveRoot.resolve("meta").toString
  private def tombDir = liveRoot.resolve("tombstones").toString

  // STAGED generation ([[buildMeta]]): meta written, index not yet — the
  // pointer must NOT flip until codes exist, or a concurrent reader of the
  // previously-live generation is switched onto a generation with no index
  // directory (ADVICE r11). The staged marker names the pending generation;
  // the first [[append]] fills its index and performs the flip.
  private def stagedPointer = java.nio.file.Paths.get(root, "_gen_staged")
  private def stagedGen: Option[Long] =
    if (!java.nio.file.Files.exists(stagedPointer)) None
    else Some(new String(
      java.nio.file.Files.readAllBytes(stagedPointer)).trim.toLong)
  private def setStaged(g: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    Files.createDirectories(Paths.get(root))
    val tmp = Files.createTempFile(Paths.get(root), "._gen-", ".tmp")
    Files.write(tmp, g.toString.getBytes)
    Files.move(tmp, stagedPointer, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
  private def clearStaged(): Unit =
    java.nio.file.Files.deleteIfExists(stagedPointer)

  /** Next generation number: one past the max of the live pointer AND every
    * `.v-<N>` directory on disk. On a legacy root (no `_gen` pointer but
    * old-layout retired generations present) `currentGen` alone reads 0 and
    * a build would clobber `.v-1` — inheriting its stale tombstones as the
    * new live generation's (ADVICE r11). Any pre-existing target dir (a
    * crashed prior attempt) is deleted before the caller writes into it. */
  private def nextGen(): Long = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root)
    val VDir = """\.v-(\d+)""".r
    val onDisk =
      if (!java.nio.file.Files.exists(p)) Seq.empty[Long]
      else java.nio.file.Files.list(p).iterator().asScala
        .map(_.getFileName.toString).collect { case VDir(n) => n.toLong }.toSeq
    val g = (currentGen +: onDisk).max + 1
    deleteRec(genDir(g))
    g
  }

  /** Build the index from `corpus` (vec_id, embedding): stride-sampled
    * centroids + codebook (v04/v09 rules), cell assignment via the native
    * [[graft.functions.NearestCellsExpr]], PQ codes via
    * [[graft.functions.PqEncodeExpr]], layout partitioned by cell. */
  def build(corpus: DataFrame): Unit = {
    // a (re)build cuts a FRESH generation and flips the pointer only once
    // the codes are fully written — a concurrent reader never sees a
    // half-built index
    val g = nextGen()
    writeMetaTo(corpus, genDir(g).resolve("meta").toString)
    writeCodesTo(corpus, loadMetaFrom(genDir(g).resolve("meta").toString),
      genDir(g).resolve("index").toString, mode = "overwrite")
    setGen(g)
    clearStaged() // any pending meta-only generation is abandoned
  }

  private def writeCodesTo(corpus: DataFrame,
                           meta: (Array[(Int, Seq[Double])], Seq[Double]),
                           dest: String, mode: String): Unit = {
    VectorFunctions.register(spark)
    val (cents, cb) = meta
    val topCells = Similarity.topCellsOf(cents, VectorFunctions.cosineSim) _
    corpus.select(col("vec_id"),
        element_at(topCells(col("embedding"), 1), 1).getField("cell").as("cell"),
        VectorFunctions.pqEncode(col("embedding"), cb, m, ksub, dsub).as("code"))
      .repartition(col("cell")) // ~one file per cell partition
      .write.mode(mode).partitionBy("cell").parquet(dest)
  }

  /** Train and persist ONLY the meta (centroids + codebook, v04/v09 stride
    * rules) — the "index training" step. Data then arrives via [[append]]:
    * the streaming-maintenance mode (s15) trains on a corpus sample and
    * streams the corpus itself through foreachBatch appends; because codes
    * are a pure function of (vector, frozen meta), the resulting index is
    * bit-identical to a one-shot [[build]] regardless of batch split. */
  def buildMeta(corpus: DataFrame): Unit = {
    val g = nextGen()
    writeMetaTo(corpus, genDir(g).resolve("meta").toString)
    // STAGE, don't flip: a concurrent reader of the live generation must
    // keep serving it until the new generation has an index — the first
    // [[append]] fills the staged index and performs the pointer flip
    // (ADVICE r11: an immediate flip broke serve-while-retraining for the
    // streaming-build path with a path-not-found until the first batch).
    setStaged(g)
  }

  private def writeMetaTo(corpus: DataFrame, dest: String): Unit = {
    VectorFunctions.register(spark)
    val cents = Similarity.strideCentroids(corpus, nlist)
    val samples = Similarity.strideCentroids(corpus, ksub)
    val cb: Seq[Double] = (0 until m).flatMap { sub =>
      (0 until ksub).flatMap { c =>
        val row = samples(c)._2
        (0 until dsub).map(d => row(sub * dsub + d))
      }
    }
    import spark.implicits._
    val metaRows =
      cents.toSeq.map { case (i, v) => ("centroid", i, v) } :+
        (("codebook", 0, cb))
    metaRows.toDF("kind", "idx", "vals")
      .coalesce(1).write.mode("overwrite").parquet(dest)
  }

  /** Incrementally add vectors using the FROZEN centroids/codebook — the
    * deployed maintenance mode (codebook drift is handled by periodic
    * rebuild, exactly like FAISS index training). New codes land ONLY in
    * their own cell partitions; untouched cell directories are not
    * rewritten (VectorIndexSpec pins byte-identity). */
  def append(newVectors: DataFrame): Unit = stagedGen match {
    case Some(g) =>
      // first append into a staged ([[buildMeta]]) generation: write its
      // first codes, THEN flip — readers switch only once an index exists
      writeCodesTo(newVectors,
        loadMetaFrom(genDir(g).resolve("meta").toString),
        genDir(g).resolve("index").toString, mode = "append")
      setGen(g)
      clearStaged()
    case None =>
      writeCodesTo(newVectors, loadMeta(), indexDir, mode = "append")
  }

  /** Logical delete — the Delta deletion-vector / FAISS `IDSelector`
    * analog: ids are appended to a tombstone side-table and [[query]] masks
    * candidates against it (broadcast anti-join — the set is assumed small
    * relative to the corpus; when it grows, [[vacuum]] folds it in).
    * O(|ids|) write; no index file is touched. */
  def delete(ids: DataFrame): Unit =
    ids.select(col("vec_id")).write.mode("append").parquet(tombDir)

  private def tombstones: Option[DataFrame] =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(tombDir)))
      Some(spark.read.parquet(tombDir))
    else None

  /** Physically remove tombstoned codes: rewrite ONLY the cell partitions
    * that contain deleted ids (staging write + per-partition directory
    * swap; untouched cells keep their files byte-identical), then drop the
    * tombstone set. A cell whose
    * codes are all deleted simply loses its partition directory. Queries
    * before and after vacuum return identical results — vacuum changes the
    * COST of masking (anti-join per query → nothing), not the answer. */
  private def deleteRec(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }

  def vacuum(): Unit = tombstones.foreach { ts =>
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tsB = broadcast(ts)
    val idx = spark.read.parquet(indexDir)
    val touched = idx.join(tsB, Seq("vec_id"))
      .select(col("cell")).distinct().collect().map(_.getInt(0)).sorted
    if (touched.nonEmpty) {
      val staging = Paths.get(root, ".vacuum-staging")
      deleteRec(staging)
      idx.filter(col("cell").isin(touched.map(Integer.valueOf).toSeq: _*))
        .join(tsB, Seq("vec_id"), "left_anti")
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(staging.toString)
      touched.foreach { c =>
        val live = Paths.get(indexDir, s"cell=$c")
        val next = staging.resolve(s"cell=$c")
        deleteRec(live)
        if (Files.exists(next))
          Files.move(next, live, StandardCopyOption.ATOMIC_MOVE)
      }
      deleteRec(staging)
    }
    deleteRec(Paths.get(tombDir))
  }

  /** Re-train + re-encode from the CURRENT corpus and cut a new index
    * generation — the periodic rebuild the frozen-codebook [[append]] mode
    * assumes (FAISS re-trains the same way once the cell histogram drifts).
    *
    * The new meta (centroids + codebook, same stride rules as [[build]])
    * and the full re-encoded code set are staged beside the live index,
    * then cut over by directory rename: the previous generation's
    * meta/index/tombstones are RETIRED INTO `root/.v-<gen>` (rename only,
    * no data copied), so the old version stays fully queryable via [[version]]
    * during and after the cutover, with its own tombstone set. Existing
    * tombstones are folded into the rebuild input (a retrain is also a
    * vacuum), so the new generation starts with an empty tombstone set.
    *
    * Because meta is a pure function of the corpus (stride rules) and codes
    * are a pure function of (vector, meta), a retrain is bit-identical to a
    * fresh [[build]] on the same corpus — RetrainSpec pins it. Each
    * directory move is atomic; the cutover is per-directory (meta, then
    * index), matching the single-writer discipline every mutating verb here
    * assumes — concurrent queries during a cutover should read a pinned
    * [[version]]. */
  def retrain(corpus: DataFrame): Unit = {
    val live = tombstones.fold(corpus)(ts =>
      corpus.join(broadcast(ts), Seq("vec_id"), "left_anti"))
    // write the ENTIRE next generation beside the live one, then flip the
    // pointer: the previous generation's directory is never touched, so a
    // reader mid-query keeps its snapshot and [[version]] serves the
    // retired generation (with its own tombstone set) forever after
    val g = nextGen()
    writeMetaTo(live, genDir(g).resolve("meta").toString)
    writeCodesTo(live, loadMetaFrom(genDir(g).resolve("meta").toString),
      genDir(g).resolve("index").toString, mode = "overwrite")
    setGen(g) // tombstones folded in: the new generation starts clean
    clearStaged() // any pending meta-only generation is abandoned
  }

  /** SEGMENT MERGE (v39) — the Lucene/FAISS index-merge verb: fold
    * `other`'s cell files into a fresh generation of THIS index by FILE
    * COPY alone — no re-encode, no corpus scan, O(files) metadata work.
    * Sound ONLY because codes are a pure function of (vector, frozen
    * meta): under the [[buildMeta]] calibration discipline (train once,
    * encode shards independently) the merged index is bit-identical to a
    * one-shot [[build]] over the union corpus. Meta inequality is
    * REJECTED — merging codes across codebooks would silently corrupt
    * every distance. Tombstones union along. Crash-safe the generational
    * way: the union is staged into `.v-<next>` and the pointer flips
    * last, so pinned readers of either input keep serving their
    * snapshots (the q86/ServeDuringRetrain discipline). 100 TB: shard
    * builds run where the data lives; the merge moves bytes once,
    * shuffle-free. */
  def merge(other: VectorIndex): Unit = {
    val (myC, myCb) = loadMeta()
    val (otC, otCb) = other.loadMeta()
    require(myC.toSeq == otC.toSeq && myCb == otCb,
      "meta mismatch: indexes were not calibrated together — merging " +
        "codes across codebooks corrupts distances; retrain instead")
    val g = nextGen()
    copyTree(liveRoot.resolve("meta"), genDir(g).resolve("meta"))
    copyTree(liveRoot.resolve("index"), genDir(g).resolve("index"))
    copyTree(other.liveRoot.resolve("index"), genDir(g).resolve("index"))
    copyTree(liveRoot.resolve("tombstones"), genDir(g).resolve("tombstones"))
    copyTree(other.liveRoot.resolve("tombstones"),
      genDir(g).resolve("tombstones"))
    setGen(g)
    clearStaged()
  }

  /** Adopt `from`'s LIVE meta as this (fresh) index's calibration — ships
    * the centroids + codebook to a shard builder without retraining (the
    * v39/s46 distributed-build discipline: train once, encode shards where
    * the data lives, [[merge]] the segments). Staged like [[buildMeta]]:
    * the pointer flips on the first [[append]], and [[merge]]'s
    * meta-equality check passes by construction (file copy). */
  def adoptMeta(from: VectorIndex): Unit = {
    val g = nextGen()
    copyTree(from.liveRoot.resolve("meta"), genDir(g).resolve("meta"))
    setStaged(g)
  }

  /** Copy every data file under `src` into the same relative place under
    * `dst` (cell partition dirs preserved). Spark part-file names are
    * UUID-unique so two trees never collide; underscore/dot marker files
    * (_SUCCESS, .crc) are skipped. Missing `src` is a no-op. */
  private def copyTree(src: java.nio.file.Path,
                       dst: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(src)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(src).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .filter { p =>
          val n = p.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        }
        .foreach { p =>
          val to = dst.resolve(src.relativize(p))
          java.nio.file.Files.createDirectories(to.getParent)
          java.nio.file.Files.copy(p, to,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
    }

  /** v26's occupancy signal read off the PERSISTED layout: the maximum
    * cell's share of the index, relative to uniform (1.0 = perfectly
    * balanced, nlist = everything in one cell). This is the retrain
    * trigger input the streaming maintenance loop (s32) polls per batch —
    * probe cost is occupancy-weighted, so this ratio predicts the p99 a
    * query probing the hot cell pays. Cost: one codes scan collapsed
    * map-side to ≤ nlist counter rows. */
  def occupancySkew(): Double = {
    val counts = spark.read.parquet(indexDir)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    val total = counts.sum.toDouble
    if (total == 0) 0.0 else counts.max * nlist / total
  }

  /** Retired generations, ascending (every generation below the live one —
    * empty before the first [[retrain]]/rebuild). */
  def versions: Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root)
    val VDir = """\.v-(\d+)""".r
    val cur = currentGen
    val staged = stagedGen // meta-only, not yet live: neither retired nor live
    if (!java.nio.file.Files.exists(p)) Seq.empty
    else java.nio.file.Files.list(p).iterator().asScala
      .map(_.getFileName.toString).collect { case VDir(n) => n.toLong }
      .filter(g => g != cur && !staged.contains(g)).toSeq.sorted
  }

  /** RETENTION: physically drop retired generations, keeping the newest
    * `keep` of them (the live one is never touched) — the VACUUM of the
    * generational layout, with LogTable-vacuum's contract: a reader still
    * pinned to a dropped generation breaks, so the retention window is an
    * operational promise, not a correctness lever. Returns the dropped
    * generation numbers. */
  def vacuumVersions(keep: Int = 1): Seq[Long] = {
    require(keep >= 0, "keep must be >= 0")
    val drop = versions.dropRight(keep)
    drop.foreach(g => deleteRec(genDir(g)))
    drop
  }

  /** A read handle on retired generation `v` — same query surface, its own
    * meta/index/tombstones, untouched by later retrains (the gen dir has
    * no pointer file, so the handle serves it as a legacy root). */
  def version(v: Long): VectorIndex = {
    require(versions.contains(v),
      s"index generation $v not retained; available: ${versions.mkString(", ")}")
    new VectorIndex(spark, genDir(v).toString, nlist, m, ksub, dims)
  }

  private def loadMeta(): (Array[(Int, Seq[Double])], Seq[Double]) =
    loadMetaFrom(metaDir)

  private def loadMetaFrom(dir: String): (Array[(Int, Seq[Double])], Seq[Double]) = {
    val rows = spark.read.parquet(dir).collect()
    val cents = rows.filter(_.getString(0) == "centroid")
      .map(r => (r.getInt(1), r.getSeq[Double](2))).sortBy(_._1)
    val cb = rows.find(_.getString(0) == "codebook").get.getSeq[Double](2)
    (cents, cb)
  }

  /** Top-k for `queries` (vec_id, embedding) against the persisted index;
    * `vectors` is the vector store the re-rank fetches from by id. Output
    * shape `(query_id, vec_id, cos, rank)` — identical to
    * [[Similarity.ivfPqTopK]] by construction. */
  def query(queries: DataFrame, vectors: DataFrame,
            cos: (Column, Column) => Column, k: Int,
            nprobe: Int = 4, shortlist: Int = 50): DataFrame = {
    VectorFunctions.register(spark)
    val (cents, cb) = loadMeta()
    val topCells = Similarity.topCellsOf(cents, cos) _
    val q = queries.select(col("vec_id").as("query_id"),
        VectorFunctions.pqDistTable(col("embedding"), cb, m, ksub, dsub).as("dtab"),
        explode(topCells(col("embedding"), nprobe)).as("probe"))
      .select(col("query_id"), col("dtab"), col("probe.cell").as("cell"))
    // union of probed cells: bounded driver state (≤ nlist ints) — this is
    // what turns the index scan into a partition-pruned read
    val probed = q.select(col("cell")).distinct().collect().map(_.getInt(0))
    val scan = spark.read.parquet(indexDir)
      .filter(col("cell").isin(probed.map(Integer.valueOf).toSeq: _*))
    // tombstone mask (see [[delete]]): broadcast anti-join on the pruned
    // scan — cost proportional to the probed cells, not the index
    val idx = tombstones.fold(scan)(ts =>
      scan.join(broadcast(ts), Seq("vec_id"), "left_anti"))
    val cand = q.join(idx, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adist",
        round(VectorFunctions.pqAdc(col("dtab"), col("code"), m, ksub), 6))
    val ws = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("vec_id"))
    val short = cand.withColumn("srank", row_number().over(ws))
      .filter(col("srank") <= shortlist)
      .select(col("query_id"), col("vec_id"))
    val scored = short
      .join(queries.select(col("vec_id").as("query_id"), col("embedding").as("q_vec")),
        Seq("query_id"))
      .join(vectors.select(col("vec_id"), col("embedding").as("c_vec")), Seq("vec_id"))
      .withColumn("cos", round(cos(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank"))
  }

  /** ADAPTIVE-NPROBE query over the persisted layout — the production form
    * of [[Similarity.adaptiveIvfTopK]]: per-query probe width set by the
    * centroid-affinity margin (`maxProbe` cap, cells within `delta` of the
    * best affinity), so a CONFIDENT query opens exactly ONE cell directory
    * while only the ambiguous tail fans out. The probed-cell union is still
    * bounded driver state (≤ nlist ints) and lands as `PartitionFilters` on
    * the index scan (PlanAuditSpec pins it under the adaptive widths), so
    * the storage-level skipping composes with the routing decision — at
    * 100 TB the easy majority of queries reads 1/nlist of the index, not
    * nprobe/nlist. ADC shortlist + exact re-rank are [[query]]'s unchanged;
    * output carries `n_probed` so the routing decision itself is
    * hash-verifiable (v32's contract). */
  def queryAdaptive(queries: DataFrame, vectors: DataFrame,
                    cos: (Column, Column) => Column, k: Int,
                    maxProbe: Int = 6, delta: Double = 0.10,
                    shortlist: Int = 50): DataFrame = {
    VectorFunctions.register(spark)
    val (cents, cb) = loadMeta()
    val topCells = Similarity.topCellsOf(cents, cos) _
    val aff = queries.select(col("vec_id").as("query_id"),
        VectorFunctions.pqDistTable(col("embedding"), cb, m, ksub, dsub).as("dtab"),
        explode(topCells(col("embedding"), nlist)).as("probe"))
      .select(col("query_id"), col("dtab"),
        col("probe.cell").as("cell"), col("probe.a").as("aff"))
    val wq = Window.partitionBy(col("query_id"))
    // eager checkpoint, not persist: consumed twice (probed-cell union +
    // the cell join) and tiny (≤ queries × maxProbe rows) — no cache left
    // behind to flatter later timings
    val probes = aff
      .withColumn("rn", row_number().over(
        wq.orderBy(col("aff").desc, col("cell").desc)))
      .withColumn("a1", max(col("aff")).over(wq))
      .filter(col("rn") <= maxProbe &&
        (col("rn") === 1 || col("aff") >= col("a1") - lit(delta)))
      .withColumn("n_probed", count(lit(1)).over(wq).cast("int"))
      .select(col("query_id"), col("dtab"), col("cell"), col("n_probed"))
      .localCheckpoint(true)
    val probed = probes.select(col("cell")).distinct().collect().map(_.getInt(0))
    val scan = spark.read.parquet(indexDir)
      .filter(col("cell").isin(probed.map(Integer.valueOf).toSeq: _*))
    val idx = tombstones.fold(scan)(ts =>
      scan.join(broadcast(ts), Seq("vec_id"), "left_anti"))
    val cand = probes.join(idx, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adist",
        round(VectorFunctions.pqAdc(col("dtab"), col("code"), m, ksub), 6))
    val ws = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("vec_id"))
    val short = cand.withColumn("srank", row_number().over(ws))
      .filter(col("srank") <= shortlist)
      .select(col("query_id"), col("vec_id"), col("n_probed"))
    val scored = short
      .join(queries.select(col("vec_id").as("query_id"), col("embedding").as("q_vec")),
        Seq("query_id"))
      .join(vectors.select(col("vec_id"), col("embedding").as("c_vec")), Seq("vec_id"))
      .withColumn("cos", round(cos(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank"),
        col("n_probed"))
  }
}
