package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths, same output shape `(query_id, vec_id, cos, rank)`:
  *   - [[bruteForceTopK]] — exact baseline: queries × corpus, windowed top-k.
  *     Right when the query set is small (the common retrieval shape); the
  *     corpus side streams through codegen'd cosine with no shuffle of the
  *     corpus itself beyond the final per-query top-k.
  *   - [[lshTopK]] — the 100 TB path: sign-LSH buckets prune the corpus to
  *     candidates whose bucket is within `maxHamming` bits of the query's,
  *     then exact cosine ranks the survivors. Bucket column is precomputable
  *     and cheap to maintain incrementally.
  */
object Similarity {

  /** Exact top-k: every query against every corpus row. Cosine is rounded to
    * 6 decimals before ranking, ties broken by corpus id — fully
    * deterministic and oracle-comparable. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     cos: (Column, Column) => Column, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    val c = corpus.select(col("vec_id"), col("embedding").as("c_vec"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", round(cos(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank"))
  }

  /** Multi-table sign-LSH top-k — the scale path. `tables` independent hash
    * tables of `planesPerTable` hyperplanes each; a corpus row is a candidate
    * when it lands in the query's bucket in ANY table (match prob.
    * 1-(1-(1-θ/π)^p)^L — tune p down / L up for recall, up for precision).
    * The join key is (table_idx, bucket): equi-shuffle, no all-pairs scan;
    * exact cosine re-ranks the candidate set. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              cos: (Column, Column) => Column, k: Int,
              tables: Int = 8, planesPerTable: Int = 4,
              dims: Int = 64): DataFrame = {
    def buckets(v: Column): Column = {
      // one long bucket per table, from disjoint plane blocks; `dims` MUST
      // cover the embedding width — SignLsh hashes only the first `dims`
      // components, so an undersized value silently degrades recall
      val all = VectorFunctions.signLshBucket(v, tables * planesPerTable, dims)
      val mask = (1L << planesPerTable) - 1
      array((0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          shiftright(all, t * planesPerTable).bitwiseAND(mask).as("bkt"))
      }: _*)
    }
    val c = corpus.select(col("vec_id"), col("embedding").as("c_vec"),
        explode(buckets(col("embedding"))).as("tb"))
      .select(col("vec_id"), col("c_vec"), col("tb.tbl"), col("tb.bkt"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_vec"),
        explode(buckets(col("embedding"))).as("tb"))
      .select(col("query_id"), col("q_vec"), col("tb.tbl"), col("tb.bkt"))
    val cand = q.join(c, Seq("tbl", "bkt"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("q_vec"), col("vec_id"), col("c_vec"))
      .distinct()
    val scored = cand.withColumn("cos", round(cos(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank"))
  }

  /** IVF (inverted-file) top-k — the other classic scale path: partition the
    * corpus into `nlist` centroid cells, search only the `nprobe` cells
    * closest to each query. Centroids here are deterministic stride samples
    * of the corpus (vec_id order) — swap in k-means iterations for tighter
    * cells; the operator shape (assign → probe → exact re-rank on an
    * equi-join by cell) is unchanged. Centroid collect is O(nlist·dims) —
    * bounded and broadcast, like any small dimension table.
    */
  /** Top-`take` centroid cells for a vector as an array of (cos, cell)
    * structs sorted by (cos desc, cell desc). Shared with
    * [[Dedup.semanticDedup]].
    *
    * Runs on the native [[graft.functions.NearestCellsExpr]] — the previous
    * literal-centroid `array_sort(array(struct(cos...)))` composition
    * evaluated INTERPRETED per row with an nlist-struct sort; at the sf1new
    * scaling point (nlist=160, 50k vectors) that made assignment the
    * super-linear stage (27x at 10x data). The native loop restored ~linear.
    * Assignment cosine is pinned to the [[CosineSimilarity]] sequential fold
    * (bit-identical to the `cos` the repo's callers pass); centroids expected
    * as (0..n-1, row) pairs in cell order. */
  private[graft] def topCellsOf(centroids: Array[(Int, Seq[Double])],
                                cos: (Column, Column) => Column)
                               (v: Column, take: Int): Column = {
    require(centroids.zipWithIndex.forall { case ((i, _), j) => i == j },
      "centroids must be (0..n-1, row) in cell order")
    val dims = centroids.head._2.length
    require(centroids.forall(_._2.length == dims),
      "centroid rows must share one dimensionality")
    VectorFunctions.nearestCells(
      v.cast("array<double>"),
      centroids.flatMap(_._2).toIndexedSeq, dims, take)
  }

  /** Group `centroids` into `nSupers` coherent groups with driver-side
    * spherical k-means (pure Scala — O(nlist·nSupers·iters·dims) on bounded
    * nlist, deterministic: stride init over cell index, fixed iteration
    * count, sequential float ops). Coherent groups are what make the
    * two-level probe accurate: stage-1 supers must summarize their members.
    * Returns (superCents, memberCents-by-group, memberCellIds, groupOffsets)
    * in [[graft.functions.HierarchicalCellsExpr]]'s layout. */
  private[graft] def groupCentroids(cents: Array[(Int, Seq[Double])],
                                    nSupers: Int, iters: Int = 5)
      : (Array[Double], Array[Double], Array[Int], Array[Int]) = {
    val dims = cents.head._2.length
    val rows = cents.map(_._2.toArray)
    val n = rows.length
    val k = math.min(nSupers, n)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < dims) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    var supers = Array.tabulate(k)(g => rows(g * n / k).clone())
    var assign = new Array[Int](n)
    for (_ <- 0 until iters) {
      var i = 0
      while (i < n) {
        var best = 0; var bestC = cos(rows(i), supers(0))
        var g = 1
        while (g < k) {
          val c = cos(rows(i), supers(g))
          if (c > bestC) { best = g; bestC = c }
          g += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Int](k)
      i = 0
      while (i < n) {
        val g = assign(i); counts(g) += 1
        var d = 0
        while (d < dims) { sums(g)(d) += rows(i)(d); d += 1 }
        i += 1
      }
      supers = Array.tabulate(k)(g =>
        if (counts(g) == 0) supers(g)
        else sums(g).map(_ / counts(g)))
    }
    val byGroup = Array.range(0, n).sortBy(i => (assign(i), cents(i)._1))
    val offsets = new Array[Int](k + 1)
    byGroup.foreach(i => offsets(assign(i) + 1) += 1)
    for (g <- 1 to k) offsets(g) += offsets(g - 1)
    (supers.flatten, byGroup.flatMap(rows(_)), byGroup.map(cents(_)._1), offsets)
  }

  /** Two-level variant of [[topCellsOf]] — O(√nlist) per row instead of
    * O(nlist), approximate (see [[graft.functions.HierarchicalCellsExpr]];
    * OperatorsSpec pins ≥90% agreement with flat assignment). */
  private[graft] def topCellsHierarchical(centroids: Array[(Int, Seq[Double])],
                                          probeSupers: Int)
                                         (v: Column, take: Int): Column = {
    val dims = centroids.head._2.length
    val nSupers = math.max(1, math.round(math.sqrt(centroids.length)).toInt)
    val (sup, mem, ids, off) = groupCentroids(centroids, nSupers)
    VectorFunctions.hierarchicalCells(v.cast("array<double>"),
      sup.toIndexedSeq, mem.toIndexedSeq, ids.toIndexedSeq, off.toIndexedSeq,
      dims, probeSupers, take)
  }

  /** Lloyd iterations over the corpus: assign each vector to its nearest
    * (max-cosine) centroid, recompute centroids as the element-wise mean of
    * their cells. Each round is one keyed aggregation; the driver touches
    * only nlist·dims scalars (the same bounded class as the centroid
    * broadcast). Empty cells keep their previous centroid. Means are float
    * sums (shuffle-order dependent at ulp level), so refined centroids are
    * for the spec'd quality path — the oracle-verified query uses the
    * deterministic stride sample (`kmeansIters = 0`). */
  def kmeansRefine(corpus: DataFrame, init: Array[(Int, Seq[Double])],
                   iters: Int, cos: (Column, Column) => Column): Array[(Int, Seq[Double])] = {
    var cents = init
    for (_ <- 0 until iters) {
      val topCells = topCellsOf(cents, cos) _
      val means = corpus
        .withColumn("cell", element_at(topCells(col("embedding"), 1), 1).getField("cell"))
        .select(col("cell"), posexplode(col("embedding").cast("array<double>")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .collect()
      val byCell: Map[Int, Seq[Double]] = means
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.map { case (i, old) => (i, byCell.getOrElse(i, old)) }
    }
    cents
  }

  /** Deterministic stride-sampled centroids: count → `vec_id % stride == 0`
    * (engine-portable, unlike a Murmur3 hash, so DuckDB oracles can mirror
    * cell assignment exactly) → TakeOrdered(limit) on the tiny survivor set.
    * No single-partition window, no full-corpus shuffle; the collect is
    * O(nlist·dims) — the same bounded class as a broadcast dimension.
    *
    * The count comes from parquet footer metadata when the corpus is a bare
    * scan ([[graft.sources.ParquetMeta.rowCount]]) — seeding then costs ONE
    * executor pass (the stride collect) instead of three (count + filter +
    * assignment); at 100 TB the removed count alone is a petabyte scan. */
  private[graft] def strideCentroids(corpus: DataFrame,
                                     nlist: Int): Array[(Int, Seq[Double])] = {
    val n = graft.sources.ParquetMeta.rowCount(corpus)
    val stride = math.max(1L, n / nlist)
    val seed: Array[(Int, Seq[Double])] = corpus
      .filter(col("vec_id") % stride === 0)
      .orderBy(col("vec_id")).limit(nlist)
      .select(col("embedding").cast("array<double>"))
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0)) }
    require(seed.nonEmpty, "strideCentroids: empty corpus")
    seed
  }

  /** Product-quantized top-k (ADC) — the MEMORY lever for 100 TB ANN
    * (Jégou et al. 2011; the FAISS IVF-PQ building block). The corpus is
    * encoded ONCE into nibble-packed PQ codes (`m`=8 subspaces × `ksub`=16
    * codes → 32 bits per vector: 128× smaller than the float64 embedding,
    * 64× vs float32 — at 100 TB the whole coded corpus fits in cluster
    * memory, the raw embeddings don't); each query builds one exact
    * `m×ksub` distance table and every corpus code scores with `m` table
    * lookups, never touching corpus vectors at query time. The codebook is
    * a deterministic stride sample of the corpus sliced into sub-vectors
    * (the [[strideCentroids]]/v04 design: engine-portable so a DuckDB
    * oracle mirrors training, encoding, and scoring bit-identically; swap
    * in per-subspace k-means for tighter cells — the operator shape is
    * unchanged). Scale shape: the query side broadcasts (tables are
    * `m·ksub` doubles each); the coded corpus streams through the scan →
    * score → per-query top-k, no shuffle of anything vector-sized.
    * Output `(query_id, vec_id, adist, rank)` — ascending approximate L2²;
    * ProductQuantizationSpec pins recall floors; COVERAGE.md "Recall
    * evidence (r6b)" records the curve. */
  /** The stride-sampled PQ codebook, flattened per PqEncodeExpr's layout:
    * entry (sub, c) = the c-th sample's sub-vector (the v04/v09 design —
    * engine-portable so a DuckDB oracle mirrors training exactly). */
  private[graft] def pqCodebook(corpus: DataFrame, m: Int, ksub: Int,
                                dims: Int): Seq[Double] = {
    val dsub = dims / m
    val samples = strideCentroids(corpus, ksub)
    (0 until m).flatMap { sub =>
      (0 until ksub).flatMap { c =>
        val row = samples(c)._2
        (0 until dsub).map(d => row(sub * dsub + d))
      }
    }
  }

  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16, dims: Int = 64): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val dsub = dims / m
    VectorFunctions.register(corpus.sparkSession)
    val cb = pqCodebook(corpus, m, ksub, dims)
    val codes = corpus.select(col("vec_id"),
      VectorFunctions.pqEncode(col("embedding"), cb, m, ksub, dsub).as("code"))
    val q = queries.select(col("vec_id").as("query_id"),
      VectorFunctions.pqDistTable(col("embedding"), cb, m, ksub, dsub).as("dtab"))
    val scored = q.crossJoin(codes)
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adist",
        round(VectorFunctions.pqAdc(col("dtab"), col("code"), m, ksub), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("adist"), col("rank"))
  }

  /** PQ shortlist + exact re-rank — the deployed PQ shape: ADC over the
    * coded corpus prunes to `shortlist` candidates per query (never touching
    * corpus vectors), then ONLY those candidates' embeddings are fetched for
    * exact cosine top-k. At 100 TB the second stage reads
    * `queries × shortlist` vectors instead of the corpus — the equi-join on
    * `vec_id` is the "fetch from the vector store" step. Recall =
    * shortlist's capture rate of the true top-k (ProductQuantizationSpec
    * pins the floor; COVERAGE.md "Recall evidence (r6b)" records the
    * curve). */
  def pqTopKRerank(queries: DataFrame, corpus: DataFrame,
                   cos: (Column, Column) => Column, k: Int,
                   shortlist: Int = 100, m: Int = 8, ksub: Int = 16,
                   dims: Int = 64): DataFrame = {
    val cand = pqTopK(queries, corpus, shortlist, m, ksub, dims)
      .select(col("query_id"), col("vec_id"))
    val scored = cand
      .join(queries.select(col("vec_id").as("query_id"), col("embedding").as("q_vec")),
        Seq("query_id"))
      .join(corpus.select(col("vec_id"), col("embedding").as("c_vec")), Seq("vec_id"))
      .withColumn("cos", round(cos(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank"))
  }

  /** IVF × PQ-ADC × exact re-rank in ONE plan — the deployed 100 TB ANN
    * composition (the FAISS IVFPQ shape): the corpus is reduced to
    * `(vec_id, cell, code)` — one int + one nibble-packed long per vector —
    * BEFORE any join; queries probe their `nprobe` nearest IVF cells, ADC
    * scores ONLY the probed cells' codes (an equi-join on `cell`, never a
    * corpus scan per query), the best `shortlist` per query survive, and
    * exact cosine reads just `queries × shortlist` embeddings at the end.
    * All three stages are the already-verified v04/v09/v10 pieces on the
    * same `(query_id, vec_id)` shape; v12 pins the composition against the
    * equivalent CTE chain, PlanAuditSpec pins that no embedding column
    * crosses the cell join. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                cos: (Column, Column) => Column, k: Int,
                nlist: Int = 16, nprobe: Int = 4, shortlist: Int = 50,
                m: Int = 8, ksub: Int = 16, dims: Int = 64): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val dsub = dims / m
    VectorFunctions.register(corpus.sparkSession)
    val cents = strideCentroids(corpus, nlist)
    val topCells = topCellsOf(cents, cos) _
    val samples = strideCentroids(corpus, ksub)
    val cb: Seq[Double] = (0 until m).flatMap { sub =>
      (0 until ksub).flatMap { c =>
        val row = samples(c)._2
        (0 until dsub).map(d => row(sub * dsub + d))
      }
    }
    // corpus side: cell + code only — embeddings are dropped at the scan
    val codes = corpus.select(col("vec_id"),
      element_at(topCells(col("embedding"), 1), 1).getField("cell").as("cell"),
      VectorFunctions.pqEncode(col("embedding"), cb, m, ksub, dsub).as("code"))
    // query side: nprobe probes, each carrying the per-query ADC table
    val q = queries.select(col("vec_id").as("query_id"),
        VectorFunctions.pqDistTable(col("embedding"), cb, m, ksub, dsub).as("dtab"),
        explode(topCells(col("embedding"), nprobe)).as("probe"))
      .select(col("query_id"), col("dtab"), col("probe.cell").as("cell"))
    // a corpus vector lives in exactly one cell and probes are distinct, so
    // each (query, vec) candidate appears at most once — no dedup needed
    val cand = q.join(codes, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adist",
        round(VectorFunctions.pqAdc(col("dtab"), col("code"), m, ksub), 6))
    val ws = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("vec_id"))
    val short = cand.withColumn("srank", row_number().over(ws))
      .filter(col("srank") <= shortlist)
      .select(col("query_id"), col("vec_id"))
    // exact re-rank: the only stage that touches embeddings, at width
    // queries × shortlist
    val scored = short
      .join(queries.select(col("vec_id").as("query_id"), col("embedding").as("q_vec")),
        Seq("query_id"))
      .join(corpus.select(col("vec_id"), col("embedding").as("c_vec")), Seq("vec_id"))
      .withColumn("cos", round(cos(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank"))
  }

  /** RESIDUAL IVF-PQ — the true FAISS IVFPQ encoding ([[ivfPqTopK]] PQ-codes
    * raw vectors; Jégou et al. 2011 §IV quantize the residual `v − c(v)`
    * against the assigned centroid): residuals from every cell cluster
    * around the origin, so ONE small codebook covers all cells and the
    * same code budget buys tighter quantization once cells are real
    * clusters. Structure cost: the query-side ADC table becomes
    * PER-(query, probed cell) — `nprobe` tables of `m·ksub` doubles per
    * query instead of one, still broadcast-sized. The codebook trains on
    * an OFFSET stride sample (`vec_id % stride == 1` — disjoint from the
    * centroid sample, whose residuals are all-zero) with residuals under
    * the SAME assignment rule. Corpus side: assign → native
    * [[graft.functions.ResidualExpr]] → PQ code, all in the scan stage —
    * raw embeddings never shuffle; the exact re-rank fetches only the
    * `shortlist·|queries|` survivors. Every arithmetic step is the
    * engine-portable kind (exact subtracts, sequential L2 folds,
    * m-ascending ADC sums), so a DuckDB oracle mirrors training, encoding,
    * probing, and scoring bit-identically. */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame,
                        cos: (Column, Column) => Column, k: Int,
                        nlist: Int = 16, nprobe: Int = 4, shortlist: Int = 50,
                        m: Int = 8, ksub: Int = 16, dims: Int = 64): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val dsub = dims / m
    VectorFunctions.register(corpus.sparkSession)
    val cents = strideCentroids(corpus, nlist)
    val topCells = topCellsOf(cents, cos) _
    val flatCents: IndexedSeq[Double] = {
      val arr = new Array[Double](cents.length * dims)
      cents.foreach { case (cell, v) =>
        var i = 0
        while (i < dims) {
          arr(cell * dims + i) = if (i < v.length) v(i) else 0.0; i += 1
        }
      }
      arr.toIndexedSeq
    }
    val n = graft.sources.ParquetMeta.rowCount(corpus)
    val stride = math.max(1L, n / ksub)
    // `1 % stride` keeps the offset-stride sample (disjoint from the `% == 0`
    // centroid sample) when stride > 1, and degrades to "first ksub ids" when
    // ksub <= n < 2*ksub makes stride == 1 — a plain `% 1 === 1` would match
    // nothing and fail the ksub require with a misleading message.
    val samp = corpus.filter(col("vec_id") % stride === lit(1L % stride))
      .orderBy(col("vec_id")).limit(ksub)
      .withColumn("cell",
        element_at(topCells(col("embedding"), 1), 1).getField("cell"))
      .select(col("embedding").cast("array<double>").as("emb"), col("cell"))
      .collect()
    require(samp.length == ksub,
      s"residual codebook sample ${samp.length} != $ksub (corpus too small)")
    val rcb: Seq[Double] = {
      val arr = new Array[Double](m * ksub * dsub)
      samp.zipWithIndex.foreach { case (r, c) =>
        val v = r.getSeq[Double](0)
        val cell = r.getAs[Int]("cell")
        var sub = 0
        while (sub < m) {
          var d = 0
          while (d < dsub) {
            val i = sub * dsub + d
            val x = if (i < v.length) v(i) else 0.0
            arr((sub * ksub + c) * dsub + d) = x - flatCents(cell * dims + i)
            d += 1
          }
          sub += 1
        }
      }
      arr.toSeq
    }
    // corpus side: assign → residual → code, one map-only pass
    val codes = corpus
      .withColumn("cell",
        element_at(topCells(col("embedding"), 1), 1).getField("cell"))
      .select(col("vec_id"), col("cell"),
        VectorFunctions.pqEncode(
          VectorFunctions.residualVec(col("embedding"), col("cell"),
            flatCents, dims), rcb, m, ksub, dsub).as("code"))
    // query side: one residual ADC table per probed cell
    val q = queries
      .withColumn("probe", explode(topCells(col("embedding"), nprobe)))
      .select(col("vec_id").as("query_id"), col("probe.cell").as("cell"),
        VectorFunctions.pqDistTable(
          VectorFunctions.residualVec(col("embedding"), col("probe.cell"),
            flatCents, dims), rcb, m, ksub, dsub).as("dtab"))
    val cand = q.join(codes, Seq("cell"))
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
      .join(corpus.select(col("vec_id"), col("embedding").as("c_vec")), Seq("vec_id"))
      .withColumn("cos", round(cos(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank"))
  }

  /** `keep`: optional metadata predicate for FILTERED vector search — the
    * production "ANN + WHERE clause" pattern. The index (centroids +
    * assignment rule) is built on the FULL corpus, so one index serves
    * every filter; the predicate restricts only the candidate side.
    * Applied BEFORE cell assignment, which is equivalent (assignment is a
    * pure per-row function) and lets Catalyst push the predicate through
    * the assignment projection into the corpus scan — non-matching vectors
    * never materialize (PlanAuditSpec pins `PushedFilters`). This is
    * pre-filtering: exact k among matching candidates in probed cells, no
    * recall cliff when the filter is selective (post-filtering top-k
    * first would return < k). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              cos: (Column, Column) => Column, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              kmeansIters: Int = 0, keep: Option[Column] = None): DataFrame = {
    // `kmeansIters > 0` refines the stride sample with Lloyd iterations
    // ([[kmeansRefine]]) for tighter cells.
    VectorFunctions.register(corpus.sparkSession) // nearest_cells (assignment)
    val seed = strideCentroids(corpus, nlist)
    val centroids =
      if (kmeansIters <= 0) seed else kmeansRefine(corpus, seed, kmeansIters, cos)

    val topCells = topCellsOf(centroids, cos) _

    val c = keep.fold(corpus)(corpus.filter)
      .withColumn("cell", element_at(topCells(col("embedding"), 1), 1).getField("cell"))
      .select(col("vec_id"), col("embedding").as("c_vec"), col("cell"))
    val q = queries
      .withColumn("probe", explode(topCells(col("embedding"), nprobe)))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"),
        col("probe.cell").as("cell"))
    val cand = q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
    val scored = cand.withColumn("cos", round(cos(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank"))
  }

  /** ADAPTIVE-NPROBE IVF — per-query probe width set by the centroid
    * affinity margin instead of one global `nprobe` (FAISS's
    * AutoTune/`nprobe` sweep made per-query, the "adaptive routing" idea in
    * Auncel/SPANN-style serving): a query whose best cell wins by a wide
    * margin is CONFIDENT — its neighbors almost surely live in that cell —
    * while a query sitting between centroids must probe every cell within
    * `delta` of its best affinity (capped at `maxProbe`). At 100 TB this is
    * the latency/recall lever: the easy majority of queries touch 1–2
    * cells, only the ambiguous tail pays the wide fan-out, and the probe
    * decision is a per-row window over the query panel (queries × nlist
    * rows) — the corpus appears only in the cell-keyed equi-join, exactly
    * v04's shape.
    *
    * Determinism: affinities are the bit-identical sequential cosine the
    * v04 oracle mirrors; `a >= a1 - delta` compares doubles both engines
    * compute from the same literals, so the probe set itself is
    * hash-verifiable. Output carries `n_probed` so the row pins the
    * adaptive decision, not just the final ranking. */
  def adaptiveIvfTopK(queries: DataFrame, corpus: DataFrame,
                      cos: (Column, Column) => Column, k: Int,
                      nlist: Int = 16, maxProbe: Int = 6,
                      delta: Double = 0.10, probeSupers: Int = 0): DataFrame = {
    // the bounded margin filter's "rank 1 always passes" invariant (which
    // replaced the explicit `rn === 1 ||` escape hatch) holds only for
    // delta >= 0: a negative (or NaN) delta could empty a query's probe
    // array and silently drop it from the output (r14 ADVICE)
    require(delta >= 0, s"adaptiveIvfTopK needs delta >= 0, got $delta")
    VectorFunctions.register(corpus.sparkSession)
    val centroids = strideCentroids(corpus, nlist)
    // probeSupers > 0 routes assignment through the two-level O(√nlist)
    // path ([[topCellsHierarchical]], the Dedup.simClusters pattern): at
    // scaled nlist (∝ n) the flat per-row O(nlist·dims) scan is itself a
    // quadratic build term — measured at the 100× clusterable point
    // (COVERAGE r14); two-level returns the build to ~linear. Default 0
    // keeps the oracle-verified flat assignment (v32/v32b).
    // RECALL BOUNDARY (r15): the two-level router's accuracy depends on
    // the centroids forming coherent super-groups — at LOW dimensionality
    // with many near-orthogonal centroids the trade steepens (D=64
    // fixture: edge recall 85%→72% at nlist=400 — AdaptiveClusterSpec
    // pins the 65% floor there — degrading to 50–61% at nlist=4,000,
    // COVERAGE r14). Production encoders (D≥768, real manifolds) are the
    // intended regime; below D≈128 with nlist in the thousands prefer
    // flat assignment or measure recall before enabling the dial.
    val topCells =
      if (probeSupers <= 0) topCellsOf(centroids, cos) _
      else topCellsHierarchical(centroids, probeSupers) _

    val c = corpus
      .withColumn("cell", element_at(topCells(col("embedding"), 1), 1).getField("cell"))
      .select(col("vec_id"), col("embedding").as("c_vec"), col("cell"))
    // BOUNDED probe decision (r14): the margin rule only ever admits cells
    // within `delta` of the rank-1 affinity, capped at `maxProbe` — so the
    // top-maxProbe array from the native NearestCellsExpr (sorted a DESC,
    // cell DESC, the same total order the previous explode+window used)
    // already contains every admissible cell. Filtering that ≤maxProbe-
    // element array per row replaces the old queries×nlist explode + two
    // window passes — an O(n·nlist) SHUFFLE that at scaled nlist (∝ n) was
    // itself a quadratic stage — with per-row work only; results are
    // bit-identical (rank 1 always passes the margin test since delta ≥ 0).
    val probes = queries
      .withColumn("arr", topCells(col("embedding"), maxProbe))
      .withColumn("parr", filter(col("arr"), x =>
        x.getField("a") >= element_at(col("arr"), 1).getField("a") - lit(delta)))
      .withColumn("n_probed", size(col("parr")))
      .withColumn("probe", explode(col("parr")))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"),
        col("probe.cell").as("cell"), col("n_probed"))
    val cand = probes.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
    val scored = cand.withColumn("cos", round(cos(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank"),
        col("n_probed"))
  }

  /** HARD-NEGATIVE MINING — for each query, the top-k most similar corpus
    * vectors whose `labelCol` DIFFERS from the query's: the contrastive-
    * training data op (high-similarity different-class pairs are the
    * gradient-rich negatives; same-class neighbors are excluded as likely
    * positives). Unlike [[ivfTopK]]'s static `keep` (a fixed WHERE on the
    * candidate side), the predicate here is PER-PAIR (candidate label ≠
    * query label), so it applies at the cell join — still only
    * (id, vec, label, cell) tuples shuffle, never all-pairs, and the
    * label inequality rides the same codegen'd filter as the self-pair
    * exclusion. Approximate like every IVF retrieval (unprobed-cell
    * misses; the v04 recall evidence applies). */
  def ivfHardNegatives(queries: DataFrame, corpus: DataFrame,
                       cos: (Column, Column) => Column, k: Int,
                       labelCol: String, nlist: Int = 16,
                       nprobe: Int = 4): DataFrame = {
    VectorFunctions.register(corpus.sparkSession)
    val topCells = topCellsOf(strideCentroids(corpus, nlist), cos) _
    val c = corpus
      .withColumn("cell", element_at(topCells(col("embedding"), 1), 1).getField("cell"))
      .select(col("vec_id"), col("embedding").as("c_vec"), col("cell"),
        col(labelCol).as("c_lab"))
    val q = queries
      .withColumn("probe", explode(topCells(col("embedding"), nprobe)))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"),
        col("probe.cell").as("cell"), col(labelCol).as("q_lab"))
    val cand = q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id") && col("q_lab") =!= col("c_lab"))
    val scored = cand.withColumn("cos", round(cos(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank"))
  }

  /** CLUSTER-STRATIFIED DIVERSITY SAMPLE — `perCell` vectors per IVF cell,
    * drawn by the deterministic md5 rule: the eval-panel / seed-selection
    * op that guarantees GEOMETRIC coverage (every occupied region of
    * embedding space is represented) where a uniform draw oversamples
    * dense clusters — the selection counterpart of SemDeDup's dedup
    * blocking, same cells (v04), same engine-portable draw (d10).
    * Scale shape: map-only cell assignment (the codegen'd
    * [[graft.functions.NearestCellsExpr]] against broadcast centroids),
    * then ONE keyed shuffle of (vec_id, cell) pairs — embeddings never
    * shuffle — and a per-cell top-`perCell` window; output is
    * nlist·perCell rows regardless of corpus size. */
  def ivfStratifiedSample(corpus: DataFrame, cos: (Column, Column) => Column,
                          perCell: Int, nlist: Int = 16): DataFrame = {
    VectorFunctions.register(corpus.sparkSession)
    val topCells = topCellsOf(strideCentroids(corpus, nlist), cos) _
    val assigned = corpus
      .withColumn("cell", element_at(topCells(col("embedding"), 1), 1).getField("cell"))
      .select(col("vec_id"), col("cell"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    assigned.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perCell)
      .select(col("vec_id"), col("cell"), col("rn"))
  }

  /** MAXIMAL MARGINAL RELEVANCE re-rank (Carbonell & Goldstein 1998) — the
    * retrieval-diversity op RAG serving layers run after ANN: from a
    * `candidates`-sized shortlist per query, greedily select `k` results
    * maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`, so near-duplicate
    * passages don't crowd the context window. Determinism: every cosine is
    * rounded to 6 decimals BEFORE the greedy loop (the v02 rule), λ is an
    * exact dyadic 0.5, and each step's score is two IEEE multiplies and a
    * subtract on identical doubles — the argmax (ties to the lower vec_id)
    * is therefore engine-portable and the whole greedy trajectory is
    * oracle-replayable as unrolled per-step CTEs (the d44 technique).
    * Scale shape: the shortlist bounds everything — pair sims are
    * |queries|·c² rows, each greedy step is a window over |queries|·c rows;
    * the corpus is touched only by the ANN shortlist (here brute force as
    * ground-truth; compose with [[ivfTopK]] in production). The shortlist +
    * pair relation are eagerly checkpointed: each of the k steps re-reads
    * both, and an unchecked plan would re-run the corpus crossJoin per step
    * (the dupClusters lesson). */
  def mmrRerank(queries: DataFrame, corpus: DataFrame,
                cos: (Column, Column) => Column, candidates: Int, k: Int)
      : DataFrame =
    mmrSelect(
      bruteForceTopK(queries, corpus, cos, candidates)
        .select(col("query_id"), col("vec_id"), col("cos").as("rel")),
      corpus, cos, k)

  /** The greedy MMR loop over an ARBITRARY per-query candidate relation
    * `(query_id, vec_id, rel)` — factored so any retrieval stage (brute
    * force, IVF, a persisted index) can feed it (v31 composes it after
    * [[ivfTopK]]). See [[mmrRerank]] for the determinism contract. */
  def mmrSelect(candidates: DataFrame, corpus: DataFrame,
                cos: (Column, Column) => Column, k: Int): DataFrame = {
    val lam = lit(0.5)
    val cand = candidates.localCheckpoint(true)
    val vecs = corpus.select(col("vec_id"), col("embedding"))
    val withVec = cand.join(vecs, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("rel"), col("embedding"))
    val pairs = withVec.as("a")
      .join(withVec.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.query_id").as("query_id"), col("a.vec_id").as("a"),
        col("b.vec_id").as("b"),
        round(cos(col("a.embedding"), col("b.embedding")), 6).as("sim"))
      .localCheckpoint(true)

    // Step 1: max relevance (empty selected set ⇒ max_sim = 0).
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    var selected = cand
      .withColumn("max_sim", lit(0.0))
      .withColumn("score", lam * col("rel") - lam * col("max_sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id"), col("rel"), col("max_sim"),
        col("score"), lit(1).as("sel_rank"))
    var out = selected
    for (step <- 2 to k) {
      val sel = out.select(col("query_id"), col("vec_id"))
      val remaining = cand.join(sel, Seq("query_id", "vec_id"), "left_anti")
      val next = remaining
        .join(pairs.select(col("query_id"), col("a").as("vec_id"), col("b"),
          col("sim")), Seq("query_id", "vec_id"))
        .join(sel.select(col("query_id"), col("vec_id").as("b")),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("vec_id"), col("rel"))
        .agg(max(col("sim")).as("max_sim"))
        .withColumn("score", lam * col("rel") - lam * col("max_sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_id"), col("vec_id"), col("rel"), col("max_sim"),
          col("score"), lit(step).as("sel_rank"))
      out = out.unionByName(next).localCheckpoint(true)
    }
    out.select(col("query_id"), col("sel_rank"), col("vec_id"), col("rel"),
      col("max_sim"), col("score"))
  }

  /** TRUNCATED-DIMENSION two-stage search (the Matryoshka-representation
    * serving pattern, Kusupati et al. 2022): shortlist by cosine over the
    * first `prefixDims` components, exact full-dimension re-rank of the
    * survivors. With MRL-trained embeddings the prefix is itself a valid
    * embedding, so the shortlist stage reads `prefixDims/dims` of the
    * vector bytes — at 100 TB the prefix lives in its OWN column (or
    * index), the scan prunes to it, and full vectors are fetched for only
    * `shortlist·|queries|` rows. Both stages round to 6 decimals before
    * ranking (ties to lower vec_id) — deterministic and oracle-mirrorable
    * via `list_slice`. */
  def truncatedRerank(queries: DataFrame, corpus: DataFrame,
                      cos: (Column, Column) => Column, prefixDims: Int,
                      shortlist: Int, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec"))
    val c = corpus.select(col("vec_id"), col("embedding").as("c_vec"))
    val pre = q.crossJoin(c)
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("pre_cos", round(cos(slice(col("q_vec"), 1, prefixDims),
        slice(col("c_vec"), 1, prefixDims)), 6))
    val wPre = Window.partitionBy(col("query_id"))
      .orderBy(col("pre_cos").desc, col("vec_id"))
    val short = pre.withColumn("prn", row_number().over(wPre))
      .filter(col("prn") <= shortlist)
    val scored = short.withColumn("cos", round(cos(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("pre_cos"), col("cos"),
        col("rank"))
  }

  /** BINARY (sign) quantization + Hamming search — the 1-bit/dim memory
    * lever (64-dim float64 → two int32-words: 32× smaller than int8, 256×
    * smaller than the raw vector; the "binary embedding" serving pattern):
    * fingerprint = sign bit per component packed into (lo, hi) 32-bit
    * words (split so every partial sum stays positive — no int64
    * sign-bit edge), candidates ranked by exact integer Hamming distance,
    * exact cosine re-ranks the `shortlist` survivors. Packing follows the
    * v22 dim-explode discipline: partial sums collapse map-side, the
    * shuffle carries (vec_id, lo, hi) — never embeddings (plan-audited).
    * At 100 TB the Hamming stage runs over the two-long fingerprint
    * column only; when the task is radius-bounded (near-dup, dedup), use
    * [[binaryHammingRadius]] — the pigeonhole-banded form that replaces
    * the panel×corpus scan with an equi-join. All
    * arithmetic is exact integers + one rounded cosine — fully
    * oracle-mirrorable. */
  /** Sign-bit fingerprint shared by the binary-Hamming family: one bit per
    * component, packed into two longs holding bits 0..31 (`lo`) and 32..95
    * (`hi`) — split so every partial sum stays positive (no int64 sign-bit
    * edge). Packing follows the v22 dim-explode discipline: partial sums
    * collapse map-side, the shuffle carries (vec_id, lo, hi), never the
    * embeddings. */
  private[graft] def signBits(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
      .groupBy(col("vec_id")).agg(
        sum(when(col("dim") < 32 && col("v") > 0,
          expr("shiftleft(1L, CAST(dim AS INT))")).otherwise(lit(0L))).as("lo"),
        sum(when(col("dim") >= 32 && col("v") > 0,
          expr("shiftleft(1L, CAST(dim AS INT) - 32)")).otherwise(lit(0L))).as("hi"))

  /** PIGEONHOLE-BANDED bounded-radius Hamming search — the scale form of
    * the binary-fingerprint family (the upgrade [[binaryHammingTopK]]'s
    * scaladoc promises): all corpus pairs within Hamming distance
    * `maxHamming`, found WITHOUT any panel×corpus or all-pairs scan.
    * The 64-bit fingerprint splits into `bands` equal chunks; a pair at
    * distance ≤ maxHamming < bands must agree EXACTLY on at least one
    * chunk (pigeonhole), so candidate generation is an equi-join on
    * (band_idx, band_value) — [[Dedup.simhashNearDup]]'s scheme lifted to
    * the two-word embedding fingerprint — followed by an exact integer
    * Hamming verify. Recall within the radius is EXACT, not probabilistic.
    *
    * This is deliberately the NEAR-DUP regime: random 64-bit codes sit at
    * distance ~27 (measured: organic pairs ≥ 14 at both SFs), where a
    * radius bound prunes almost everything; a top-k shortlist at distance
    * ~27 is the regime where banding cannot prune (28 bands of 2 bits
    * match almost every pair) and [[binaryHammingTopK]]'s scan-and-rank is
    * the honest plan. At 100 TB: fingerprints are 16 bytes/row; each row
    * emits `bands` index entries; the join shuffles on the band key (never
    * all-pairs), and skewed band values (all-zero codes) salt like any
    * hot key. */
  def binaryHammingRadius(corpus: DataFrame, maxHamming: Int,
                          bands: Int = 8): DataFrame = {
    require(maxHamming < bands,
      s"maxHamming ($maxHamming) must be < bands ($bands) for pigeonhole recall")
    require(64 % bands == 0 && (64 / bands) <= 32 && 32 % (64 / bands) == 0,
      s"bands ($bands) must split the 64-bit fingerprint into lo/hi-aligned chunks")
    val bandBits = 64 / bands
    val mask = (1L << bandBits) - 1
    val fp = signBits(corpus)
    val banded = fp.select(col("vec_id"), col("lo"), col("hi"),
        explode(array((0 until bands).map { b =>
          val word = if (b * bandBits < 32) col("lo") else col("hi")
          val off = (b * bandBits) % 32
          struct(lit(b).as("band_idx"),
            shiftright(word, off).bitwiseAND(mask).as("band"))
        }: _*)).as("bv"))
      .select(col("vec_id"), col("lo"), col("hi"),
        col("bv.band_idx"), col("bv.band"))
    val pairs = banded.select(col("vec_id").as("doc_a"), col("lo").as("lo_a"),
        col("hi").as("hi_a"), col("band_idx"), col("band"))
      .join(banded.select(col("vec_id").as("doc_b"), col("lo").as("lo_b"),
        col("hi").as("hi_b"), col("band_idx"), col("band")),
        Seq("band_idx", "band"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("lo_a"), col("hi_a"),
        col("lo_b"), col("hi_b")).distinct()
    pairs
      .withColumn("hamming",
        (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
          bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Greedy best-first graph search (the HNSW/NSG search primitive, shared
    * by v35/v35b/v36): per round, take the top-B UNEXPANDED visited
    * candidates per query (re-expanding the beam stalls after one wave),
    * mark them expanded, score their out-neighbors into the visited set.
    * `corpus` holds the scorable nodes (vec_id, embedding); `edges` is the
    * directed graph (src, dst); `seed` the initial (query_id, vec_id)
    * frontier. Returns visited (query_id, vec_id, cos) — cos rounded to
    * 6 dp, so the whole search is a deterministic function of (graph,
    * seeds) and replays exactly in SQL. Edges are broadcast (bounded graphs
    * here); at 100 TB the per-round expansion becomes a shuffle equi-join
    * on src — the loop shape is unchanged. */
  private[graft] def beamSearchVisited(corpus: DataFrame, edges: DataFrame,
                                       queries: DataFrame, seed: DataFrame,
                                       b: Int, r: Int): DataFrame =
    beamLoop(edges, seed, b, r) { cand => cand // (query_id, vec_id)
      .join(corpus, "vec_id").join(queries.hint("broadcast"), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(VectorFunctions.cosineSim(col("q_vec"), col("embedding")), 6)
          .as("cos"))
    }

  /** DiskANN-style PQ-compressed beam search: the traversal scores by
    * NEGATED PQ-ADC — `m` table lookups against the query's broadcast
    * distance table over the node's 32-bit code — so the search NEVER
    * touches a corpus vector (the memory lever that serves billion-scale
    * graphs from codes in RAM with full vectors on cold storage; the
    * caller reranks the visited set exactly, fetching only |visited|
    * vectors). Score = round(−adist, 6) keeps the shared best-first
    * (desc, vec_id) ordering discipline — round is half-away-from-zero in
    * both engines, so negate-then-round mirrors exactly. */
  private[graft] def beamSearchPq(codes: DataFrame, edges: DataFrame,
                                  qtabs: DataFrame, seed: DataFrame,
                                  b: Int, r: Int, m: Int, ksub: Int): DataFrame =
    beamLoop(edges, seed, b, r) { cand => cand
      .join(codes, "vec_id").join(qtabs.hint("broadcast"), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(-VectorFunctions.pqAdc(col("dtab"), col("code"), m, ksub), 6)
          .as("cos"))
    }

  /** The shared best-first expansion loop: top-`b` unexpanded visited per
    * query → expand out-neighbors → score → fold into visited. `score`
    * maps a (query_id, vec_id) candidate set to (query_id, vec_id, cos). */
  private def beamLoop(edges: DataFrame, seed: DataFrame, b: Int, r: Int)
                      (score: DataFrame => DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    var visited = score(seed).localCheckpoint(true)
    // `expanded` is kept as a LAZY union of the per-round checkpointed
    // frontiers: each branch is already a materialized leaf, so the union's
    // lineage stays r-way shallow and needs no checkpoint (job) of its own —
    // one fewer materialization per round than checkpointing it separately.
    var expanded = visited.select(col("query_id"), col("vec_id")).limit(0)
    (1 to r).foreach { _ =>
      val frontier = visited
        .join(expanded, Seq("query_id", "vec_id"), "left_anti")
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= b)
        .drop("rn").localCheckpoint(true)
      expanded = expanded
        .unionByName(frontier.select(col("query_id"), col("vec_id")))
      val ex = frontier.join(edges.hint("broadcast"),
          frontier("vec_id") === edges("src"))
        .select(col("query_id"), col("dst").as("vec_id")).distinct()
      visited = visited.unionByName(score(ex))
        .dropDuplicates("query_id", "vec_id").localCheckpoint(true)
    }
    visited
  }

  /** INCREMENTAL GRAPH-ANN INSERT — the HNSW insert step as a batch
    * operator: each batch vector beam-searches the EXISTING graph from
    * `entries` (the routing points), connects to its top-`m` visited
    * nodes (forward edges), and registers the reciprocal back-edges with
    * the touched nodes' out-degree re-pruned to `outDegree` by (priority,
    * cos desc, dst) — the HNSW neighbor-shrink heuristic made deterministic,
    * with the insert's NEAREST connection's back-edge holding a priority
    * seat so the insert stays reachable through the shrink. Batch
    * vectors whose id is already a graph node are DROPPED first, so a
    * re-delivered batch is a set-exact no-op (insert idempotency — the M1
    * discipline applied to the index; GraphInsertSpec pins it). Batch
    * semantics: inserts see only the pre-batch graph (no intra-batch
    * edges) — deterministic, order-free, and the right shape for a
    * streaming ingest where each micro-batch is small against the corpus.
    *
    * Cost: one beam search per batch vector (bounded rounds × beam ×
    * out-degree — never a corpus scan), one bounded re-prune of the
    * touched srcs. Composes with the persisted-index lifecycle
    * (v13/v15/v19): append frozen between retrains, rebuild from scratch
    * on drift. Returns the grown edge set (src, dst, cos). */
  def graphInsert(corpus: DataFrame, edges: DataFrame, batch: DataFrame,
                  entries: DataFrame, beam: Int = 8, rounds: Int = 3,
                  m: Int = 5, outDegree: Int = 5): DataFrame =
    graphInsertSeeded(corpus, edges, batch,
      q => q.select(col("query_id")).crossJoin(entries), beam, rounds, m,
      outDegree)

  /** [[graphInsert]] with CALLER-ROUTED seeds: `seedsFor` maps the fresh
    * batch queries `(query_id, q_vec)` to the `(query_id, vec_id)` seed
    * relation each insert's beam starts from. The default insert seeds
    * every insert from EVERY entry (crossJoin) — correct on any graph, but
    * |batch|×|entries| seed scores is itself a super-linear build term when
    * both scale with the corpus (measured at the 100× clusterable point,
    * COVERAGE r14). IVF margin-rule routing (seed only the entries of the
    * insert's probed cells — the SPANN-style IVF+graph hybrid, composed in
    * the r14 clusterable-corpus build probe) makes seeds O(n_probed) per
    * insert and returns the insert stage to ~linear with the recall band
    * held. */
  def graphInsertSeeded(corpus: DataFrame, edges: DataFrame, batch: DataFrame,
                        seedsFor: DataFrame => DataFrame, beam: Int = 8,
                        rounds: Int = 3, m: Int = 5,
                        outDegree: Int = 5): DataFrame = {
    val (fwd, rev) = insertEdges(corpus, edges, batch, seedsFor, beam, rounds, m)
    val ws = Window.partitionBy(col("src"))
      .orderBy(col("pri"), col("cos").desc, col("dst"))
    edges.withColumn("pri", lit(1)).unionByName(rev)
      .withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= outDegree).drop("rn", "pri")
      .unionByName(fwd)
  }

  /** IVF MARGIN-ROUTED insert seeds — the SPANN-style IVF+graph hybrid's
    * routing stage as a reusable [[graphInsertSeeded]] seeder (extracted
    * from the r14 clusterable-corpus build measurement, COVERAGE.md
    * "Scaling evidence (r14)", where it returned the insert stage to
    * ~linear at BETTER recall than all-entries seeding: 191–429→104 s at
    * 200k, 70/123 vs 66/123). Base nodes are assigned to
    * stride-centroid cells; one entry node per cell (min vec_id —
    * deterministic); each insert's beam seeds from only the entries of its
    * margin-rule probe cells, so seeds are O(n_probed) per insert instead
    * of |entries|. Cell assignment + entry election are INDEX METADATA
    * (computed eagerly here, amortized across insert batches by a persisted
    * deployment — [[VectorIndex]] stores the assignment). `probeSupers > 0`
    * routes assignment through the two-level path (same dial as
    * [[adaptiveIvfTopK]]). GraphInsertSpec runs the insert contracts
    * (idempotency, reachability, recall floor) under this seeder. */
  def marginRoutedSeeder(base: DataFrame, cos: (Column, Column) => Column,
                         nlist: Int, maxProbe: Int = 6, delta: Double = 0.10,
                         probeSupers: Int = 0): DataFrame => DataFrame = {
    require(delta >= 0, s"marginRoutedSeeder needs delta >= 0, got $delta")
    VectorFunctions.register(base.sparkSession)
    val cents = strideCentroids(base, nlist)
    val tc =
      if (probeSupers <= 0) topCellsOf(cents, cos) _
      else topCellsHierarchical(cents, probeSupers) _
    val entryPerCell = base
      .withColumn("cell", element_at(tc(col("embedding"), 1), 1).getField("cell"))
      .groupBy(col("cell")).agg(min(col("vec_id")).as("vec_id"))
      .localCheckpoint(true)
    q => q
      .withColumn("arr", tc(col("q_vec"), maxProbe))
      .withColumn("parr", filter(col("arr"), x =>
        x.getField("a") >= element_at(col("arr"), 1).getField("a") - lit(delta)))
      .withColumn("probe", explode(col("parr")))
      .select(col("query_id"), col("probe.cell").as("cell"))
      .join(entryPerCell, Seq("cell"))
      .select(col("query_id"), col("vec_id"))
  }

  /** [[graphInsert]]'s shared core: `fwd` = each insert's forward edges
    * (src = new node), `rev` = the reciprocal back-edge CANDIDATES with
    * the rank-1 connection's priority seat (pri 0) — the deterministic
    * HNSW neighbor-shrink input. */
  private def insertEdges(corpus: DataFrame, edges: DataFrame,
                          batch: DataFrame, seedsFor: DataFrame => DataFrame,
                          beam: Int, rounds: Int,
                          m: Int): (DataFrame, DataFrame) = {
    val fresh = batch
      .join(corpus.select(col("vec_id")), Seq("vec_id"), "left_anti")
    val newQ = fresh.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec"))
    val visited = beamSearchVisited(corpus, edges.select(col("src"), col("dst")),
      newQ, seedsFor(newQ), beam, rounds)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val conn = visited.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= m).localCheckpoint(true)
    val fwd = conn.select(col("query_id").as("src"), col("vec_id").as("dst"),
      col("cos"))
    // the NEAREST connection's back-edge takes a PRIORITY SEAT through the
    // shrink (pri 0): without it, an insert whose cos sits below all its
    // neighbors' existing edges loses every back-edge and becomes
    // unreachable (measured: 4 of 56 orphaned on the sf0.001 fixture).
    // Reachability now fails only if > outDegree inserts elect the same
    // nearest neighbor.
    val rev = conn.select(col("vec_id").as("src"), col("query_id").as("dst"),
      col("cos"), when(col("rn") === 1, lit(0)).otherwise(lit(1)).as("pri"))
    (fwd, rev)
  }

  /** [[graphInsert]] in DELTA form — the maintained-state shape a
    * partition-scoped sink needs (the s44 flag): returns ONLY the edge
    * rows for TOUCHED srcs (each insert's forward edges + the re-pruned
    * out-edge sets of back-edge targets), so the state commit rewrites
    * O(touched srcs), never O(graph). The consumer replaces touched srcs'
    * rows wholesale: `state \ {src ∈ delta.src} ∪ delta` — with a
    * src-bucketed [[graft.merge.LogTable]] and [[graft.merge.LogTable.occMerge]]
    * that is a touched-buckets-only rewrite.
    *
    * Equivalence to [[graphInsert]]: under the lifecycle's out-degree
    * invariant (build k = m, insert/delete re-prune every src they touch
    * to `outDegree`), the full form's global re-prune is the identity on
    * untouched srcs, so `untouched ∪ delta` equals the full output row
    * for row (GraphInsertSpec pins it). */
  def graphInsertDelta(corpus: DataFrame, edges: DataFrame, batch: DataFrame,
                       entries: DataFrame, beam: Int = 8, rounds: Int = 3,
                       m: Int = 5, outDegree: Int = 5): DataFrame = {
    val (fwd, rev) = insertEdges(corpus, edges, batch,
      q => q.select(col("query_id")).crossJoin(entries), beam, rounds, m)
    val touched = rev.select(col("src")).distinct()
    // existing out-edges of touched srcs only — a keyed semi-join against
    // the edge relation (src-pruned under a bucketed layout), not a scan
    val existing = edges.join(touched.hint("broadcast"), Seq("src"))
    val ws = Window.partitionBy(col("src"))
      .orderBy(col("pri"), col("cos").desc, col("dst"))
    existing.withColumn("pri", lit(1)).unionByName(rev)
      .withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= outDegree).drop("rn", "pri")
      .unionByName(fwd)
  }

  /** GRAPH-ANN DELETE with CONSOLIDATION (the Vamana/DiskANN delete —
    * completes the lifecycle: v17b build → [[graphInsert]] → delete):
    * tombstoned nodes are removed from the graph ENTIRELY (no edges in or
    * out — they can neither be returned nor routed through), and every
    * live node that pointed AT a deleted node inherits that node's live
    * out-neighbors as reconnect candidates (the "donate your neighbors"
    * repair), scored by real cosine and re-pruned with the survivors to
    * `outDegree` by (cos desc, dst) — without the repair, deleting a hub
    * node shatters the paths that ran through it and recall collapses.
    * Deterministic (6dp cos + id tie-breaks) and fully SQL-mirrorable —
    * no beam search needed for the delete itself.
    *
    * Cost: O(|deleted| × degree²) candidate rows + a bounded re-prune of
    * the touched srcs — never a corpus scan; embeddings are fetched only
    * for the candidate pairs. Returns the repaired edge set
    * (src, dst, cos). */
  def graphDelete(corpus: DataFrame, edges: DataFrame, tombstones: DataFrame,
                  cos: (Column, Column) => Column,
                  outDegree: Int = 5): DataFrame = {
    val dead = tombstones.select(col("vec_id")).distinct().localCheckpoint(true)
    val deadSrc = dead.withColumnRenamed("vec_id", "src")
    val deadDst = dead.withColumnRenamed("vec_id", "dst")
    // out-edges of deleted nodes: the donor lists
    val donorOut = edges.join(deadSrc.hint("broadcast"), Seq("src"))
      .select(col("src").as("d"), col("dst").as("x"))
    val liveSrc = edges.join(deadSrc.hint("broadcast"), Seq("src"), "left_anti")
    // u -> d (live node pointing at a deleted one) inherits out(d)
    val intoDead = liveSrc.join(deadDst.hint("broadcast"), Seq("dst"))
      .select(col("src").as("u"), col("dst").as("d"))
    val donated = intoDead.join(donorOut, Seq("d"))
      .filter(col("x") =!= col("u"))
      .join(dead.withColumnRenamed("vec_id", "x").hint("broadcast"),
        Seq("x"), "left_anti") // donor target must itself be live
      .select(col("u").as("src"), col("x").as("dst")).distinct()
    val scored = donated
      .join(corpus.select(col("vec_id").as("src"),
        col("embedding").as("u_vec")), Seq("src"))
      .join(corpus.select(col("vec_id").as("dst"),
        col("embedding").as("x_vec")), Seq("dst"))
      .select(col("src"), col("dst"),
        round(cos(col("u_vec"), col("x_vec")), 6).as("cos"))
    val kept = liveSrc.join(deadDst.hint("broadcast"), Seq("dst"), "left_anti")
      .select(col("src"), col("dst"), col("cos"))
    val ws = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    kept.unionByName(scored)
      .select(col("src"), col("dst"), col("cos")).distinct()
      .withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= outDegree).drop("rn")
  }

  def binaryHammingTopK(queries: DataFrame, corpus: DataFrame,
                        cos: (Column, Column) => Column, k: Int,
                        shortlist: Int): DataFrame = {
    // The two-word packing holds bits 0..31 (lo) and 32..95 (hi). Beyond
    // dim 95 `shiftleft(1L, dim-32)` wraps modulo 64 and silently aliases
    // bits — corrupt fingerprints, no error. Probe the real width up front.
    val dims = corpus.select(size(col("embedding"))).head().getInt(0)
    require(dims <= 96,
      s"binaryHammingTopK packs sign bits into two 64-bit words (dims <= 96); " +
        s"got dims=$dims — widen the packing before using wider embeddings")
    val cb = signBits(corpus)
    val qb = signBits(queries).select(col("vec_id").as("query_id"),
      col("lo").as("qlo"), col("hi").as("qhi"))
    val ham = qb.crossJoin(cb)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (bit_count(col("qlo").bitwiseXOR(col("lo"))) +
          bit_count(col("qhi").bitwiseXOR(col("hi")))).cast("int").as("hamming"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("vec_id"))
    val short = ham.withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= shortlist)
      .select(col("query_id"), col("vec_id"), col("hamming"))
    val scored = short
      .join(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_vec")), Seq("query_id"))
      .join(corpus.select(col("vec_id"), col("embedding").as("c_vec")),
        Seq("vec_id"))
      .withColumn("cos", round(cos(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("hamming"), col("cos"),
        col("rank"))
  }

  /** RANGE (radius) search — every corpus vector with cosine ≥ `tau` of each
    * query, the retrieval mode dedup thresholds and contamination sweeps use
    * (a top-k cannot express "all matches above a similarity bar"). Same
    * IVF-cell blocking as [[ivfTopK]]: candidates shuffle on cell, never
    * all-pairs; each corpus vector is assigned to exactly ONE cell, so no
    * candidate appears twice and no distinct is needed. Output size is
    * data-dependent (pairs above `tau`), not k·|queries| — the caller owns
    * the threshold. Approximate like every IVF retrieval: a match assigned
    * to an unprobed cell is missed (the v04 recall-curve evidence applies
    * verbatim; raise nprobe to trade cost for recall). */
  def ivfRange(queries: DataFrame, corpus: DataFrame,
               cos: (Column, Column) => Column, tau: Double,
               nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    VectorFunctions.register(corpus.sparkSession)
    val topCells = topCellsOf(strideCentroids(corpus, nlist), cos) _
    val c = corpus
      .withColumn("cell", element_at(topCells(col("embedding"), 1), 1).getField("cell"))
      .select(col("vec_id"), col("embedding").as("c_vec"), col("cell"))
    val q = queries
      .withColumn("probe", explode(topCells(col("embedding"), nprobe)))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"),
        col("probe.cell").as("cell"))
    q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", round(cos(col("q_vec"), col("c_vec")), 6))
      .filter(col("cos") >= lit(tau))
      .select(col("query_id"), col("vec_id"), col("cos"))
  }

  /** SEMANTIC (embedding-space) DECONTAMINATION — the leakage detector the
    * shingle family cannot be: [[graft.operators.Dedup.decontaminate]] /
    * `fuzzyDecontaminate` catch verbatim and near-verbatim n-gram overlap,
    * but a PARAPHRASED eval item shares almost no shingles with its source
    * while sitting next to it in embedding space. For every eval item,
    * report its top-`k` nearest training vectors with `flagged` =
    * cosine ≥ `minCos` — the per-item audit trail (which training doc
    * leaks which eval item) plus the gate bit.
    *
    * Scale shape: eval sets are tiny, so `bench` BROADCASTS and the corpus
    * makes ONE map-side pass through the codegen'd cosine — never
    * self-joined, never shuffled with vectors (only (bench_id, vec_id,
    * cos) rows move); the per-item top-k runs through the skew-safe
    * two-phase [[graft.ops.Relational.topKPerGroupSalted]] (partial top-k
    * per salt bounds any reducer at rows/saltFactor). For an eval set too
    * large to broadcast, compose with the [[lshTopK]] bucketing exactly as
    * `decontaminateBloom` scales `decontaminate`.
    *
    * Threshold discipline (the d49 lesson): `minCos` must be picked from
    * the measured score distribution — v33 plants its leakage and pins
    * `flagged == |bench|`, so a vacuous gate turns the row red. */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
                            cos: (Column, Column) => Column,
                            k: Int, minCos: Double): DataFrame = {
    val pairs = corpus.select(col("vec_id"), col("embedding").as("c_vec"))
      .crossJoin(broadcast(bench.select(col("vec_id").as("bench_id"),
        col("embedding").as("b_vec"))))
      .select(col("bench_id"), col("vec_id"),
        round(cos(col("b_vec"), col("c_vec")), 6).as("cos"))
    val top = graft.ops.Relational.topKPerGroupSalted(pairs, Seq("bench_id"),
      Seq(col("cos").desc, col("vec_id").asc), k)
    // ≤ k·|bench| rows reach this window — re-ranking is driver-scale cheap
    val w = Window.partitionBy(col("bench_id")).orderBy(col("cos").desc, col("vec_id"))
    top.withColumn("rank", row_number().over(w))
      .withColumn("flagged", col("cos") >= lit(minCos))
      .select(col("bench_id"), col("vec_id"), col("cos"), col("rank"),
        col("flagged"))
  }
}
