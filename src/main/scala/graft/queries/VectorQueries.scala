package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** Embedding similarity operators over the `embeddings` table. Cosine is
  * computed by the native codegen'd [[graft.functions.CosineSimilarity]]
  * expression (sequential fold — bit-compatible with the DuckDB oracle's
  * sequential list_sum), rounded to 6 decimals before any threshold/rank so
  * both engines see the same ordering.
  */
object VectorQueries {

  /** DuckDB cosine over double lists, same sequential fold. */
  private[queries] val cosSql = (a: String, b: String) =>
    s"""(CASE WHEN list_sum(list_transform($a, x -> x*x)) = 0
       |      OR list_sum(list_transform($b, x -> x*x)) = 0 THEN 0.0
       | ELSE list_sum([$a[i] * $b[i] for i in generate_series(1, length($a))])
       |      / (sqrt(list_sum(list_transform($a, x -> x*x)))
       |         * sqrt(list_sum(list_transform($b, x -> x*x)))) END)""".stripMargin
      .replace("\n", " ")

  /** Embedding near-dup: same-label blocking + exact cosine ≥ 0.4. The
    * threshold is DATA-derived, not aspirational: the synthetic embeddings'
    * within-label cosine tops out ≈ 0.51 (sf0.1) / 0.47 (sf0.01), so the
    * conventional 0.8 gate selects NOTHING at any SF — the d49
    * green-and-vacuous failure, caught by the r10 vacuity sweep. 0.4 keeps
    * the gate live at both SFs (5 / 86 pairs) and the require makes a dead
    * gate fail the row instead of passing it. */
  val v01 = QueryDef(
    "v01_embedding_neardup",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val out = Dedup.embeddingNearDup(Tables.embeddings(spark, dir), "vec_id",
          "embedding", "label", VectorFunctions.cosineSim, minCos = 0.4)
        .localCheckpoint(true) // tiny (flagged pairs only); one pass feeds both uses
      require(!out.isEmpty,
        "v01 near-dup gate selected nothing — threshold dead (d49 lesson)")
      out.orderBy(col("id_a"), col("id_b"))
    },
    Some {
      val cos = cosSql("a.emb", "b.emb")
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($cos, 6) AS cos
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE round($cos, 6) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin
    },
    "embedding cosine near-dup with label blocking (LLM-pipeline op)")

  /** Brute-force cosine top-5 for the first 10 vectors as queries. */
  val v02 = QueryDef(
    "v02_ann_bruteforce",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val cos = cosSql("q.emb", "c.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id, round($cos, 6) AS cos
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
         |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "ANN baseline: brute-force cosine top-k (LLM-pipeline op)")

  /** Sign-LSH bucketed ANN — the scale path. The oracle embeds the exact
    * plane matrix as double literals (shortest-repr strings round-trip to the
    * identical doubles in DuckDB), so bucket assignment — sign of a
    * sequential dot product against each plane — is bit-identical on both
    * engines; the ScalaTest spec additionally asserts recall ≥ 0.6 against
    * brute force. */
  val v03 = QueryDef(
    "v03_ann_lsh",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      Similarity.lshTopK(
          emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val tables = 8; val ppt = 4; val nPlanes = tables * ppt; val dims = 64
      val m = graft.functions.SignLsh.matrix(nPlanes, dims, 42L)
      val planeRows = (0 until nPlanes).map { p =>
        val lst = (0 until dims).map(d => m(p * dims + d).toString)
          .mkString("[", ", ", "]")
        s"($p, $lst)"
      }.mkString(",\n  ")
      val cos = cosSql("q.emb", "t.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |pl AS (SELECT p, CAST(w AS DOUBLE[]) AS w FROM (VALUES
         |  $planeRows) AS t(p, w)),
         |signs AS (SELECT e.vec_id, pl.p,
         |    CASE WHEN list_sum([e.emb[i] * pl.w[i] for i in generate_series(1, least($dims, length(e.emb)))]) > 0
         |         THEN 1 ELSE 0 END AS s
         |  FROM e, pl),
         |bk AS (SELECT vec_id, p // $ppt AS tbl, sum(s * (1 << (p % $ppt))) AS bkt
         |  FROM signs GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS vec_id
         |  FROM bk qb JOIN bk cb ON qb.tbl = cb.tbl AND qb.bkt = cb.bkt
         |  WHERE qb.vec_id < 10 AND qb.vec_id <> cb.vec_id),
         |scored AS (SELECT c.query_id, c.vec_id, round($cos, 6) AS cos
         |  FROM cand c JOIN e q ON q.vec_id = c.query_id JOIN e t ON t.vec_id = c.vec_id)
         |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "ANN scale path: sign-LSH bucket pruning + exact re-rank (LLM-pipeline op)")

  /** IVF-partitioned ANN — centroid cells + nprobe search + exact re-rank.
    * Centroids are a deterministic `vec_id % stride` sample, so the oracle
    * mirrors cell assignment (argmax of bit-identical sequential cosine, ties
    * to the higher cell — matching `reverse(array_sort(...))` on (cos, cell)
    * structs); the spec additionally asserts recall ≥ 0.5 vs brute force. */
  val v04 = QueryDef(
    "v04_ann_ivf",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      Similarity.ivfTopK(
          emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5, nlist = 16, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val nlist = 16; val nprobe = 4
      val affCos = cosSql("e.emb", "cent.cemb")
      val cos = cosSql("q.emb", "t.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
         |  ORDER BY vec_id LIMIT $nlist),
         |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff WHERE vec_id < 10) WHERE rn <= $nprobe),
         |scored AS (SELECT p.query_id, s.vec_id, round($cos, 6) AS cos
         |  FROM probes p JOIN assign s ON s.cell = p.cell
         |  JOIN e q ON q.vec_id = p.query_id JOIN e t ON t.vec_id = s.vec_id
         |  WHERE s.vec_id <> p.query_id)
         |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "ANN scale path 2: IVF centroid cells + nprobe + exact re-rank (LLM-pipeline op)")

  /** Int8 embedding quantization — the storage-scale op for 100 TB
    * embedding corpora (4x smaller than float32, SIMD-friendly dot
    * products). Symmetric max-abs scaling; rounding is `floor(x/scale+0.5)`
    * spelled identically on both engines (library `round` half-way rules
    * differ, and quantization hits exact .5 boundaries). The quantized
    * vector is emitted as a CSV string (driver checker can't hash arrays);
    * `scale` is unrounded — same doubles, same ops, bit-identical. Runs on
    * the native codegen'd [[graft.functions.QuantizeInt8]] (the HOF
    * composition it replaced evaluates interpreted per row; kept as
    * `VectorFunctions.quantizeInt8Fold`, equality spec'd). */
  val v05 = QueryDef(
    "v05_quantize_int8",
    (spark, dir) => {
      VectorFunctions.register(spark)
      Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          VectorFunctions.quantizeInt8(col("embedding")).as("q"))
        .select(col("vec_id"), col("q.scale").as("scale"), col("q.q_csv").as("q_csv"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |m AS (SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x))) AS maxabs FROM e)
           |SELECT vec_id,
           |  CASE WHEN maxabs = 0 THEN 0.0 ELSE maxabs / 127 END AS scale,
           |  CASE WHEN maxabs = 0 THEN array_to_string(list_transform(emb, x -> '0'), ',')
           |       ELSE array_to_string(list_transform(emb,
           |              x -> CAST(CAST(floor(x / (maxabs / 127) + 0.5) AS BIGINT) AS VARCHAR)), ',') END AS q_csv
           |FROM m ORDER BY vec_id""".stripMargin),
    "int8 symmetric quantization of embeddings (LLM-pipeline op)")

  /** SemDeDup semantic dedup — IVF-cell blocking + within-cell lower-id
    * cosine drop ([[Dedup.semanticDedup]]). τ=0.3 is tuned to the testdata's
    * near-random vectors (max pairwise cos ≈ 0.51; a real embedding corpus
    * would run ≈0.9): 146 of 500 drop at sf0.01, so the anti-join path is
    * exercised non-trivially. The oracle mirrors the v04 cell-assignment CTE
    * plus the drop rule, so the hash match pins blocking, threshold
    * rounding, and keep-min-id semantics end-to-end. */
  /** Shared oracle for v06/v07: cell assignment + lower-id cosine drop. The
    * two queries must agree because probing EVERY super-cell reproduces flat
    * assignment exactly (OperatorsSpec pins the identity) — so one SQL text
    * verifies both the O(nlist) and the O(√nlist) assignment paths. */
  private val semanticDedupOracle: String = {
    val nlist = 16; val tau = 0.3
    val affCos = cosSql("e.emb", "cent.cemb")
    val cos = cosSql("ea.emb", "eb.emb")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
       |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
       |  ORDER BY vec_id LIMIT $nlist),
       |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
       |assign AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
       |    FROM aff) WHERE rn = 1),
       |drops AS (SELECT DISTINCT b.vec_id
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
       |  WHERE round($cos, 6) >= $tau)
       |SELECT s.vec_id, s.cell FROM assign s
       |WHERE s.vec_id NOT IN (SELECT vec_id FROM drops)
       |ORDER BY s.vec_id""".stripMargin
  }

  val v06 = QueryDef(
    "v06_semantic_dedup",
    (spark, dir) => {
      VectorFunctions.register(spark)
      // repartition: parallelize the per-row assignment over the
      // single-file scan (r15 lesson; the 16-cell pair join caps at 16
      // tasks either way — the frozen-nlist class, documented)
      val kept = Dedup.semanticDedup(
          Tables.embeddingsWide(spark, dir), "vec_id",
          VectorFunctions.cosineSim, nlist = 16, minCos = 0.3)
        .orderBy(col("vec_id"))
      kept
    },
    Some(semanticDedupOracle),
    "SemDeDup semantic dedup: IVF cells + within-cell cosine drop (LLM-pipeline op)")

  /** Same SemDeDup result through the hierarchical O(√nlist) assignment —
    * the 100 TB path, where nlist grows ∝ corpus and flat O(n·nlist)
    * assignment becomes the super-linear stage. `probeSupers = √nlist` (all
    * supers) is provably identical to flat assignment (every centroid is
    * probed; OperatorsSpec's agreement curve ends at exactly 1.0), so the
    * v06 oracle applies verbatim — the row pins the grouped two-level
    * machinery (driver-side spherical k-means grouping,
    * [[graft.functions.HierarchicalCellsExpr]] fused probe loop)
    * end-to-end against DuckDB. Production would run probeSupers < √nlist
    * for the asymptotic win; the agreement spec pins that trade (≥0.9 at
    * width 5 of 8). */
  val v07 = QueryDef(
    "v07_semantic_dedup_hier",
    (spark, dir) => {
      VectorFunctions.register(spark)
      // nlist=16 → nSupers=√16=4; probing all 4 ⇒ exhaustive ≡ flat
      val kept = Dedup.semanticDedup(
          Tables.embeddingsWide(spark, dir), "vec_id",
          VectorFunctions.cosineSim, nlist = 16, minCos = 0.3, probeSupers = 4)
        .orderBy(col("vec_id"))
      kept
    },
    Some(semanticDedupOracle),
    "SemDeDup via hierarchical two-level centroid assignment (scale path)")

  // ---- v08: the APPROXIMATE hierarchical probe, oracle-verified ----
  // v07 pins the two-level machinery on the path where it is provably exact
  // (probing every super ≡ flat). v08 pins the path that makes it a 100 TB
  // lever: probeSupers = 2 of 4 — genuinely approximate assignment. The
  // centroid codebook is data-INDEPENDENT (seeded pseudorandom,
  // [[graft.functions.SignLsh.matrix]]), so the whole centroid tree —
  // super centroids from the driver-side spherical k-means grouping, member
  // matrices in group order, flat cell ids — is computable at oracle-build
  // time and embedded as double literals (the proven v03 technique; CLAUDE.md
  // rule 6: shortest-repr strings round-trip). The oracle mirrors the exact
  // two-level composition of [[graft.functions.HierarchicalCellsExpr]]:
  // rank supers by (cos desc, group desc), probe the top 2 groups' members,
  // argmax member by (cos desc, cell desc) — then the v06 drop rule.
  private val V08Dims = 64
  private val V08Nlist = 16
  private val V08Probe = 2

  private def v08Centroids: Array[(Int, Seq[Double])] = {
    val m = graft.functions.SignLsh.matrix(V08Nlist, V08Dims, 7L)
    Array.tabulate(V08Nlist)(i => (i, m.slice(i * V08Dims, (i + 1) * V08Dims).toSeq))
  }

  private val v08Oracle: String = {
    val dims = V08Dims; val tau = 0.3
    val nSupers = math.max(1, math.round(math.sqrt(V08Nlist)).toInt)
    val (sup, mem, ids, off) = Similarity.groupCentroids(v08Centroids, nSupers)
    val supRows = (0 until nSupers).map { g =>
      val lst = (0 until dims).map(d => sup(g * dims + d).toString)
        .mkString("[", ", ", "]")
      s"($g, $lst)"
    }.mkString(",\n  ")
    val memRows = ids.indices.map { r =>
      val g = off.indexWhere(_ > r) - 1
      val lst = (0 until dims).map(d => mem(r * dims + d).toString)
        .mkString("[", ", ", "]")
      s"($g, ${ids(r)}, $lst)"
    }.mkString(",\n  ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |sup AS (SELECT g, CAST(w AS DOUBLE[]) AS w FROM (VALUES
       |  $supRows) AS t(g, w)),
       |mem AS (SELECT g, cell, CAST(w AS DOUBLE[]) AS w FROM (VALUES
       |  $memRows) AS t(g, cell, w)),
       |saff AS (SELECT e.vec_id, sup.g, ${cosSql("e.emb", "sup.w")} AS a FROM e, sup),
       |probes AS (SELECT vec_id, g FROM (
       |    SELECT vec_id, g, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, g DESC) AS rn
       |    FROM saff) WHERE rn <= $V08Probe),
       |maff AS (SELECT p.vec_id, m.cell, ${cosSql("e.emb", "m.w")} AS a
       |  FROM probes p JOIN mem m ON m.g = p.g JOIN e ON e.vec_id = p.vec_id),
       |assign AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
       |    FROM maff) WHERE rn = 1),
       |drops AS (SELECT DISTINCT b.vec_id
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
       |  WHERE round(${cosSql("ea.emb", "eb.emb")}, 6) >= $tau)
       |SELECT s.vec_id, s.cell FROM assign s
       |WHERE s.vec_id NOT IN (SELECT vec_id FROM drops)
       |ORDER BY s.vec_id""".stripMargin
  }

  val v08 = QueryDef(
    "v08_semantic_dedup_probe",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val kept = Dedup.semanticDedup(
          Tables.embeddingsWide(spark, dir), "vec_id",
          VectorFunctions.cosineSim, nlist = V08Nlist, minCos = 0.3,
          probeSupers = V08Probe, centroids = Some(v08Centroids))
        .orderBy(col("vec_id"))
      kept
    },
    Some(v08Oracle),
    "SemDeDup via APPROXIMATE hierarchical probe (2 of 4 supers), literal centroid-tree oracle")

  /** Product-quantized ANN (ADC) — [[Similarity.pqTopK]]: corpus encoded as
    * nibble-packed PQ codes (m=8 × ksub=16 → 32 bits/vector, 128× smaller
    * than the float64 embeddings), queries score codes through one exact
    * m×ksub distance table each. The codebook is the deterministic stride
    * sample sliced into sub-vectors, so the oracle mirrors TRAINING,
    * ENCODING (per-subspace argmin, ties to the lower code), and SCORING
    * (sub-partial sums added m-ascending — `list_sum(list(d ORDER BY
    * sub))`) from the data itself, no literals; a hash match pins the whole
    * PQ pipeline end-to-end. ProductQuantizationSpec covers recall floors
    * vs brute force; COVERAGE.md "Recall evidence (r6b)" records the
    * curve. */
  val v09 = QueryDef(
    "v09_ann_pq",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val ksub = 16; val m = 8; val dsub = 8
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |samp AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c, emb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $ksub) = 0
         |  ORDER BY vec_id LIMIT $ksub),
         |cb AS (SELECT sub, c, list_slice(emb, sub*$dsub + 1, sub*$dsub + $dsub) AS w
         |  FROM samp, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS sub)),
         |dist AS (SELECT e.vec_id, cb.sub, cb.c,
         |    list_sum([(e.emb[cb.sub*$dsub + i] - cb.w[i]) * (e.emb[cb.sub*$dsub + i] - cb.w[i])
         |              for i in generate_series(1, $dsub)]) AS d
         |  FROM e, cb),
         |enc AS (SELECT vec_id, sub, c FROM (
         |    SELECT vec_id, sub, c, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, c ASC) AS rn
         |    FROM dist) WHERE rn = 1),
         |parts AS (SELECT q.vec_id AS query_id, t.vec_id AS vec_id, qd.sub, qd.d
         |  FROM (SELECT vec_id FROM e WHERE vec_id < 10) q
         |  JOIN enc t ON t.vec_id <> q.vec_id
         |  JOIN dist qd ON qd.vec_id = q.vec_id AND qd.sub = t.sub AND qd.c = t.c),
         |scored AS (SELECT query_id, vec_id, round(list_sum(list(d ORDER BY sub)), 6) AS adist
         |  FROM parts GROUP BY query_id, vec_id)
         |SELECT query_id, vec_id, adist, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "ANN memory lever: product quantization (32-bit codes) + ADC table scoring (LLM-pipeline op)")

  /** PQ shortlist + exact cosine re-rank ([[Similarity.pqTopKRerank]]) —
    * the deployed PQ shape: ADC prunes 500 → 100 candidates per query
    * without touching corpus vectors, exact cosine re-ranks only the
    * fetched candidates. The oracle extends v09's mirrored PQ pipeline
    * with the shortlist cut and the v02 cosine ranking — a hash match pins
    * that the re-rank reads exactly the ADC survivors. Recall vs brute
    * force (0.72 here on the near-random worst case at R=100 of 500) is
    * pinned by AnnRecallSpec and recorded in COVERAGE.md's curve. */
  val v10 = QueryDef(
    "v10_ann_pq_rerank",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      Similarity.pqTopKRerank(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5, shortlist = 100)
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val ksub = 16; val dsub = 8; val shortlist = 100
      val cos = cosSql("q.emb", "t.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |samp AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c, emb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $ksub) = 0
         |  ORDER BY vec_id LIMIT $ksub),
         |cb AS (SELECT sub, c, list_slice(emb, sub*$dsub + 1, sub*$dsub + $dsub) AS w
         |  FROM samp, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS sub)),
         |dist AS (SELECT e.vec_id, cb.sub, cb.c,
         |    list_sum([(e.emb[cb.sub*$dsub + i] - cb.w[i]) * (e.emb[cb.sub*$dsub + i] - cb.w[i])
         |              for i in generate_series(1, $dsub)]) AS d
         |  FROM e, cb),
         |enc AS (SELECT vec_id, sub, c FROM (
         |    SELECT vec_id, sub, c, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, c ASC) AS rn
         |    FROM dist) WHERE rn = 1),
         |parts AS (SELECT q.vec_id AS query_id, t.vec_id AS vec_id, qd.sub, qd.d
         |  FROM (SELECT vec_id FROM e WHERE vec_id < 10) q
         |  JOIN enc t ON t.vec_id <> q.vec_id
         |  JOIN dist qd ON qd.vec_id = q.vec_id AND qd.sub = t.sub AND qd.c = t.c),
         |adc AS (SELECT query_id, vec_id, round(list_sum(list(d ORDER BY sub)), 6) AS adist
         |  FROM parts GROUP BY query_id, vec_id),
         |short AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rn
         |    FROM adc) WHERE rn <= $shortlist),
         |scored AS (SELECT s.query_id, s.vec_id, round($cos, 6) AS cos
         |  FROM short s JOIN e q ON q.vec_id = s.query_id JOIN e t ON t.vec_id = s.vec_id)
         |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "PQ shortlist + exact cosine re-rank: the deployed ANN-PQ shape (LLM-pipeline op)")

  /** ORACLE-VERIFIED iterative k-means — on the int8-QUANTIZED domain,
    * where the obstruction that keeps [[Similarity.kmeansRefine]] spec-only
    * (float means are shuffle-order-dependent at ulp) vanishes: quantized
    * components are exact integers, per-cell sums are exact, and the
    * centroid update `floor(sum/n)` is one exact double division (< 2^53).
    * One full Lloyd round — stride-sampled init (v04's rule) → integer-L2
    * argmin assignment (ties to the lower cell) → exact floor-mean update
    * (empty cells keep their previous centroid) → reassignment under the
    * updated centroids — is therefore bit-identical across engines, and
    * the oracle replays it in CTEs (per-cell `list(v ORDER BY vec_id)`
    * then nested-comprehension column sums). Pins the TRAINING LOOP
    * itself, not just one assignment pass; the float-domain refinement
    * keeps its quality spec (OperatorsSpec) for production use. */
  val v11 = QueryDef(
    "v11_kmeans_quantized",
    (spark, dir) => {
      val k = 8; val dims = 64
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val maxabs = aggregate(col("emb"), lit(0.0), (a, x) => greatest(a, abs(x)))
      val qv = emb.select(col("vec_id"),
          when(maxabs === 0.0, transform(col("emb"), _ => lit(0L)))
            .otherwise(transform(col("emb"),
              x => floor(x / (maxabs / 127) + lit(0.5)).cast("long"))).as("v"))
        .persist()
      val n = qv.count()
      val stride = math.max(1L, n / k)
      var cents: Array[(Int, Seq[Long])] = qv
        .filter(col("vec_id") % stride === 0).orderBy(col("vec_id")).limit(k)
        .collect().zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Long](1)) }
      // Map-only native argmin (NearestCellL2Expr): replaces the former
      // crossJoin × nlist + row_number window — each assignment pass was a
      // corpus-wide shuffle; now it's a narrow projection. Exact integer
      // arithmetic keeps it bit-identical to the composition AND the oracle.
      graft.functions.VectorFunctions.register(spark)
      def assign(c: Array[(Int, Seq[Long])]): org.apache.spark.sql.DataFrame = {
        val flat = c.sortBy(_._1).flatMap(_._2).toIndexedSeq
        qv.select(col("vec_id"),
          graft.functions.VectorFunctions.nearestCellL2(col("v"), flat, dims)
            .as("cell"))
      }
      val a1 = assign(cents)
      val means = a1.join(qv, Seq("vec_id"))
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg(floor(sum(col("col")).cast("double") / count(lit(1))).cast("long").as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0)).map { case (c, rows) =>
        c -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
      cents = cents.map { case (c, old) => (c, byCell.getOrElse(c, old)) }
      // eager-materialize the (n rows × 2 ints) result, then drop the qv
      // cache — persisted blocks must not outlive the query (d27 pattern)
      val out = assign(cents).orderBy(col("vec_id")).localCheckpoint(true)
      qv.unpersist()
      out
    },
    Some {
      val k = 8; val dims = 64
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |m AS (SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x))) AS maxabs FROM e),
         |qv AS (SELECT vec_id, CASE WHEN maxabs = 0
         |    THEN list_transform(emb, x -> 0::BIGINT)
         |    ELSE list_transform(emb, x -> CAST(floor(x / (maxabs / 127) + 0.5) AS BIGINT)) END AS v
         |  FROM m),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, v
         |  FROM qv WHERE vec_id % greatest(1, (SELECT count(*) FROM qv) // $k) = 0
         |  ORDER BY vec_id LIMIT $k),
         |d1 AS (SELECT qv.vec_id, c0.cell,
         |    CAST(list_sum([(qv.v[i] - c0.v[i]) * (qv.v[i] - c0.v[i])
         |      for i in generate_series(1, $dims)]) AS BIGINT) AS d
         |  FROM qv, c0),
         |a1 AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
         |    FROM d1) WHERE rn = 1),
         |grp AS (SELECT cell, list(v ORDER BY vec_id) AS ls
         |  FROM a1 JOIN qv USING (vec_id) GROUP BY cell),
         |c1 AS (SELECT cell,
         |    [CAST(floor(CAST(list_sum([ls[r+1][i+1] for r in range(0, length(ls))]) AS DOUBLE)
         |       / length(ls)) AS BIGINT) for i in range(0, $dims)] AS v
         |  FROM grp),
         |cf AS (SELECT c0.cell, COALESCE(c1.v, c0.v) AS v FROM c0 LEFT JOIN c1 USING (cell)),
         |d2 AS (SELECT qv.vec_id, cf.cell,
         |    CAST(list_sum([(qv.v[i] - cf.v[i]) * (qv.v[i] - cf.v[i])
         |      for i in generate_series(1, $dims)]) AS BIGINT) AS d
         |  FROM qv, cf)
         |SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
         |    FROM d2) WHERE rn = 1
         |ORDER BY vec_id""".stripMargin
    },
    "oracle-verified Lloyd round: int8-quantized k-means, exact integer means (LLM-pipeline op)")

  /** The deployed ANN composition in ONE plan ([[Similarity.ivfPqTopK]]):
    * IVF cell probing (v04's assignment/probe rule) × PQ-ADC scoring of
    * only the probed cells' codes (v09's codebook/encode/ADC rule) × exact
    * cosine re-rank of the shortlist (v10's rule). The oracle is the same
    * composition as CTEs — every stage is individually hash-verified by
    * v04/v09/v10, this row pins that they COMPOSE (the d27 pattern for the
    * vector family); PlanAuditSpec pins that no embedding column crosses
    * the cell join before the re-rank. */
  /** Shared oracle for v12/v13: the composed IVF × PQ-ADC × re-rank CTE
    * chain. The persisted-index path (v13) is bit-identical to the in-plan
    * composition (v12) by construction — same stride centroids, codebook,
    * assignment, ADC, and re-rank rules — so one SQL text verifies both;
    * what differs (and what v13 adds) is the STORAGE layout: the index
    * scan is partition-pruned to the probed cells (PlanAuditSpec). */
  /** Default corpus CTE body for [[ivfPqOracle]] — the raw embeddings
    * table; s32 substitutes a skew-injected transform of it. */
  private[queries] val embESql: String =
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings"

  private[queries] def ivfPqOracle(candFilter: String = "",
                                   eSql: String = embESql,
                                   adaptive: Boolean = false): String = {
      val nlist = 16; val nprobe = 4; val shortlist = 50
      val ksub = 16; val dsub = 8
      val maxProbe = 6 // adaptive mode only (v32's margin rule)
      val affCos = cosSql("e.emb", "cent.cemb")
      val cos = cosSql("q.emb", "t.emb")
      // probe CTE: fixed top-nprobe, or the v32 margin rule carrying
      // n_probed (so the adaptive routing decision itself is hashed)
      val probesSql =
        if (!adaptive)
          s"""probes AS (SELECT vec_id AS query_id, cell FROM (
             |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
             |    FROM aff WHERE vec_id < 10) WHERE rn <= $nprobe),""".stripMargin
        else
          s"""qaff AS (SELECT vec_id AS query_id, cell, a,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn,
             |    max(a) OVER (PARTITION BY vec_id) AS a1
             |  FROM aff WHERE vec_id < 10),
             |probes AS (SELECT query_id, cell,
             |    CAST(count(*) OVER (PARTITION BY query_id) AS INTEGER) AS n_probed
             |  FROM qaff
             |  WHERE rn <= $maxProbe AND (rn = 1 OR a >= a1 - CAST(0.10 AS DOUBLE))),""".stripMargin
      val finalSql =
        if (!adaptive)
          s"""SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
             |  FROM scored) WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin
        else
          s"""SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank, n_probed FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
             |  FROM scored) r JOIN (SELECT DISTINCT query_id, n_probed FROM probes) pw USING (query_id)
             |WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin
      s"""WITH e AS ($eSql),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
         |  ORDER BY vec_id LIMIT $nlist),
         |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1),
         |$probesSql
         |samp AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c, emb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $ksub) = 0
         |  ORDER BY vec_id LIMIT $ksub),
         |cb AS (SELECT sub, c, list_slice(emb, sub*$dsub + 1, sub*$dsub + $dsub) AS w
         |  FROM samp, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS sub)),
         |dist AS (SELECT e.vec_id, cb.sub, cb.c,
         |    list_sum([(e.emb[cb.sub*$dsub + i] - cb.w[i]) * (e.emb[cb.sub*$dsub + i] - cb.w[i])
         |              for i in generate_series(1, $dsub)]) AS d
         |  FROM e, cb),
         |enc AS (SELECT vec_id, sub, c FROM (
         |    SELECT vec_id, sub, c, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, c ASC) AS rn
         |    FROM dist) WHERE rn = 1),
         |parts AS (SELECT p.query_id, s.vec_id, qd.sub, qd.d
         |  FROM probes p JOIN assign s ON s.cell = p.cell
         |  JOIN enc t ON t.vec_id = s.vec_id
         |  JOIN dist qd ON qd.vec_id = p.query_id AND qd.sub = t.sub AND qd.c = t.c
         |  WHERE s.vec_id <> p.query_id$candFilter),
         |adc AS (SELECT query_id, vec_id, round(list_sum(list(d ORDER BY sub)), 6) AS adist
         |  FROM parts GROUP BY query_id, vec_id),
         |short AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rn
         |    FROM adc) WHERE rn <= $shortlist),
         |scored AS (SELECT s.query_id, s.vec_id, round($cos, 6) AS cos
         |  FROM short s JOIN e q ON q.vec_id = s.query_id JOIN e t ON t.vec_id = s.vec_id)
         |$finalSql""".stripMargin
  }

  val v12 = QueryDef(
    "v12_ann_ivf_pq_rerank",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5,
          nlist = 16, nprobe = 4, shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(ivfPqOracle()),
    "deployed ANN composition: IVF probe x PQ-ADC x exact re-rank, one plan (LLM-pipeline op)")

  /** The PERSISTED deployment of the same composition
    * ([[graft.operators.VectorIndex]]): build writes (vec_id, code)
    * hive-partitioned by IVF cell + a centroids/codebook sidecar; query
    * computes the probed-cell union (bounded driver state) and filters the
    * index scan on the PARTITION column, so unprobed cells' files are never
    * opened — the storage-level skipping v12's in-plan scan cannot do.
    * Results are bit-identical to v12 (same stride/codebook/tie rules), so
    * the shared oracle text verifies the whole build→layout→prune→query
    * path end-to-end; PlanAuditSpec pins `PartitionFilters` on the scan. */
  val v13 = QueryDef(
    "v13_ann_indexed",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      val index = new graft.operators.VectorIndex(spark,
        FixtureDirs.create("v13-index-").toString, nlist = 16)
      index.build(emb)
      index.query(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5, nprobe = 4, shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(ivfPqOracle()),
    "persisted IVF-PQ index: partition-pruned probe, build once query many (LLM-pipeline op)")

  /** SQ8 similarity search — the OTHER quantized scoring domain (FAISS
    * `SQ8`, 4× memory vs float32, 8× vs float64; the middle ground between
    * exact float (v02) and PQ's 128× (v09)): rank by cosine over the
    * int8-quantized components. Per-vector max-abs scales cancel in
    * cosine, so no dequantization is needed at query time; quantized
    * components are exact integers carried in doubles, every fold stays
    * exact integer arithmetic far below 2^53 (the v11 insight applied to
    * SCORING), and the whole path — quantize, dot, norms, ranking — is
    * bit-identical across engines with NO approximation in the oracle
    * contract. Runs on the native [[graft.functions.QuantizeInt8Vec]] +
    * [[graft.functions.CosineSimilarity]] expressions; OperatorsSpec pins
    * recall vs the float baseline. */
  val v14 = QueryDef(
    "v14_ann_sq8",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"),
        VectorFunctions.quantizeInt8Vec(col("embedding")).as("embedding"))
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val cos = cosSql("q.emb", "c.emb")
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |mx AS (SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x))) AS maxabs FROM e0),
         |e AS (SELECT vec_id, CASE WHEN maxabs = 0 THEN list_transform(emb, x -> 0.0)
         |    ELSE list_transform(emb, x -> floor(x / (maxabs / 127) + 0.5)) END AS emb
         |  FROM mx),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id, round($cos, 6) AS cos
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
         |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "SQ8 similarity: int8-quantized cosine ranking, scales cancel, exact integer folds (LLM-pipeline op)")

  /** Deletion support for the persisted index — the maintenance operation
    * s15's append story leaves open. [[graft.operators.VectorIndex.delete]]
    * appends ids to a tombstone side-table (the Delta deletion-vector /
    * FAISS IDSelector analog; O(|ids|), no index file touched) and the
    * query masks candidates with a broadcast anti-join on the
    * partition-pruned scan; `vacuum()` later folds the set in by rewriting
    * only the touched cell partitions (VectorIndexSpec pins tombstone ≡
    * vacuumed results and untouched-partition byte-identity). Oracle =
    * the composed v12/v13 CTE chain with deleted ids excluded from the
    * CANDIDATE side only — deleted vectors still issue queries, exactly
    * the index semantics. */
  val v15 = QueryDef(
    "v15_ann_index_delete",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      val index = new graft.operators.VectorIndex(spark,
        FixtureDirs.create("v15-index-").toString, nlist = 16)
      index.build(emb)
      index.delete(emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")))
      index.query(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5, nprobe = 4, shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(ivfPqOracle(" AND s.vec_id % 7 <> 0")),
    "persisted-index deletes: tombstone mask at query, vacuum folds in (LLM-pipeline op)")

  /** FILTERED vector search — ANN with a metadata WHERE clause, the
    * production retrieval pattern (vector DBs call it pre-filtering). The
    * IVF index (centroids + assignment) is built on the FULL corpus so one
    * index serves every filter; the `label % 3 = 0` predicate restricts
    * only the candidate side, applied before assignment (equivalent — the
    * assignment is a pure per-row function) so Catalyst pushes it into the
    * corpus scan: non-matching vectors never materialize (PlanAuditSpec
    * pins `PushedFilters`). Pre-filter returns an exact k among matching
    * candidates in probed cells — no post-filter recall cliff under a
    * selective predicate. Oracle = v04's CTE chain with the same predicate
    * on the candidate join. */
  val v16 = QueryDef(
    "v16_ann_filtered",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      Similarity.ivfTopK(
          emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5, nlist = 16, nprobe = 4,
          keep = Some(col("label") % 3 === 0))
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val nlist = 16; val nprobe = 4
      val affCos = cosSql("e.emb", "cent.cemb")
      val cos = cosSql("q.emb", "t.emb")
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
         |  ORDER BY vec_id LIMIT $nlist),
         |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff WHERE vec_id < 10) WHERE rn <= $nprobe),
         |scored AS (SELECT p.query_id, s.vec_id, round($cos, 6) AS cos
         |  FROM probes p JOIN assign s ON s.cell = p.cell
         |  JOIN e q ON q.vec_id = p.query_id JOIN e t ON t.vec_id = s.vec_id
         |  WHERE s.vec_id <> p.query_id AND t.label % 3 = 0)
         |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "filtered vector search: metadata predicate pushed to the corpus scan, full-corpus index (LLM-pipeline op)")

  /** Mutual k-NN graph construction — the standard substrate for
    * graph-based corpus curation (density-based dedup, HNSW seeding,
    * diversity clustering): an undirected edge (a, b) exists iff a is in
    * b's top-k AND b is in a's top-k. Candidate generation is the same
    * IVF-cell blocking as v04 (every vector is a query; probes shuffle on
    * cell, never all-pairs), then the directed top-k relation is
    * self-joined on the reversed key pair to keep mutual edges only. The
    * directed k-NN relation is eagerly localCheckpoint'ed — it is consumed
    * twice by the mutuality join, and a lazy persist would re-ANALYZE the
    * whole IVF lineage per branch (CLAUDE.md perf note). Cosine is
    * symmetric bit-for-bit (the sequential fold multiplies the same pairs
    * in the same order), so keeping the left side's `cos` is exact. At
    * 100 TB: probe fan-out is nprobe per vector, the mutual join shuffles
    * only (id, id, cos) triples. */
  /** Directed IVF-kNN edge CTEs — v17's frozen small-SF geometry (k=5,
    * nlist=16, nprobe=4), shared by v17's mutuality join and v35's beam
    * search so the two rows cannot drift. Yields `e(vec_id, emb)` and
    * `knn(query_id, vec_id, cos)`. */
  private val knnEdgeCtes: String = {
    val nlist = 16; val nprobe = 4
    val affCos = cosSql("e.emb", "cent.cemb")
    val cos = cosSql("q.emb", "t.emb")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
       |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
       |  ORDER BY vec_id LIMIT $nlist),
       |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
       |assign AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
       |    FROM aff) WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
       |    FROM aff) WHERE rn <= $nprobe),
       |scored AS (SELECT p.query_id, s.vec_id, round($cos, 6) AS cos
       |  FROM probes p JOIN assign s ON s.cell = p.cell
       |  JOIN e q ON q.vec_id = p.query_id JOIN e t ON t.vec_id = s.vec_id
       |  WHERE s.vec_id <> p.query_id),
       |knn AS (SELECT query_id, vec_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= 5)""".stripMargin
  }

  /** Data-derived IVF probe width: nprobe grows with the cell count so the
    * probed fraction of the corpus stays ~constant as nlist scales
    * (`max(16, n/50)`). Frozen nprobe=4 probes 11% of cells at sf0.1 but
    * 1.1% at 10× the corpus — measured at sf1 (r12 graphdiag): truth
    * coverage of the kNN edges fell 31/114 → 11/114 frozen, recovered to
    * 49/114 scaled. Identity (4) at every driver-tested SF (nl ≤ 40). */
  private[queries] def scaledNprobe(nlist: Int): Int = math.max(4, nlist / 9)
  private[queries] val scaledNprobeSql = "greatest(4, (SELECT nl FROM nlv) // 9)"

  /** Data-derived beam width for graph-ANN search: the frontier must keep
    * pace with the entry fan-in (one entry per IVF cell), or at 10× the
    * corpus the fixed-width frontier fills with plausible-but-wrong
    * directions before the true neighborhood is reached (r12 graphdiag at
    * sf1, scaled-nprobe edges: eval recall 17/114 at B=8, 27 at B=16,
    * 41 at B=32 vs the sf0.1 band floor 38; with the INSERT beam scaled
    * too the grown graph reads 42). Identity (8) at every driver-tested
    * SF; both engines derive it from the same `nlv` scalar. */
  private[queries] def scaledBeam(nlist: Int): Int = math.max(8, nlist / 11)
  private[queries] val scaledBeamSql = "greatest(8, (SELECT nl FROM nlv) // 11)"

  /** [[knnEdgeCtes]] at the SCALED-nlist configuration (`max(16, n/50)`
    * via scalar subqueries — the v17b/v12b lesson: parameters derived from
    * the data keep one oracle text honest at every SF). Shared by v17b's
    * mutuality join and v35's beam search. nprobe is data-derived too
    * ([[scaledNprobeSql]]). */
  private val knnEdgeCtesScaled: String = {
    val nprobe = scaledNprobeSql
    val affCos = cosSql("e.emb", "cent.cemb")
    val cos = cosSql("q.emb", "t.emb")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |nlv AS (SELECT greatest(16, count(*) // 50) AS nl FROM e),
       |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
       |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // (SELECT nl FROM nlv)) = 0
       |  QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT nl FROM nlv)),
       |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
       |assign AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
       |    FROM aff) WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
       |    FROM aff) WHERE rn <= $nprobe),
       |scored AS (SELECT p.query_id, s.vec_id, round($cos, 6) AS cos
       |  FROM probes p JOIN assign s ON s.cell = p.cell
       |  JOIN e q ON q.vec_id = p.query_id JOIN e t ON t.vec_id = s.vec_id
       |  WHERE s.vec_id <> p.query_id),
       |knn AS (SELECT query_id, vec_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= 5)""".stripMargin
  }

  /** [[knnEdgeCtesScaled]]'s build stages over an ARBITRARY node relation
    * `$rel(vec_id, emb)` (which the caller defines) — the scaled-nlist IVF
    * edge build exactly as [[Similarity.ivfTopK]] computes it, yielding
    * `nlv(nl)` and `knn(query_id, vec_id, cos)`. v36 uses it to build the
    * BASE graph over a filtered corpus. nprobe is data-derived
    * ([[scaledNprobeSql]]). */
  private[queries] def knnEdgeStagesFor(rel: String): String = {
    val nprobe = scaledNprobeSql
    val affCos = cosSql("b.emb", "cent.cemb")
    val cos = cosSql("q.emb", "t.emb")
    s"""nlv AS (SELECT greatest(16, count(*) // 50) AS nl FROM $rel),
       |cent AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
       |  FROM $rel WHERE vec_id % greatest(1, (SELECT count(*) FROM $rel) // (SELECT nl FROM nlv)) = 0
       |  QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT nl FROM nlv)),
       |aff AS MATERIALIZED (SELECT b.vec_id, cent.cell, $affCos AS a FROM $rel b, cent),
       |assign AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
       |    FROM aff) WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
       |    FROM aff) WHERE rn <= $nprobe),
       |scored AS (SELECT p.query_id, s.vec_id, round($cos, 6) AS cos
       |  FROM probes p JOIN assign s ON s.cell = p.cell
       |  JOIN $rel q ON q.vec_id = p.query_id JOIN $rel t ON t.vec_id = s.vec_id
       |  WHERE s.vec_id <> p.query_id),
       |knn AS MATERIALIZED (SELECT query_id, vec_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= 5)""".stripMargin
  }

  val v17 = QueryDef(
    "v17_knn_graph",
    (spark, dir) => {
      VectorFunctions.register(spark)
      // repartition+checkpoint: parallelize the per-row assignment over the
      // single-file scan (the r14 lesson; hash-neutral)
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
      val knn = Similarity.ivfTopK(emb, emb, VectorFunctions.cosineSim,
        k = 5, nlist = 16, nprobe = 4).localCheckpoint(true)
      val fwd = knn.select(col("query_id").as("id_a"), col("vec_id").as("id_b"),
        col("cos"))
      val rev = knn.select(col("query_id").as("id_b"), col("vec_id").as("id_a"))
      fwd.join(rev, Seq("id_a", "id_b"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("cos"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some {
      s"""WITH $knnEdgeCtes
         |SELECT f.query_id AS id_a, f.vec_id AS id_b, f.cos
         |FROM knn f JOIN knn r ON r.query_id = f.vec_id AND r.vec_id = f.query_id
         |WHERE f.query_id < f.vec_id
         |ORDER BY id_a, id_b""".stripMargin
    },
    "mutual k-NN graph: IVF-blocked directed top-k + reversed-pair mutuality join (LLM-pipeline op)")

  /** v17 at the HONEST production configuration — nlist scales WITH the
    * corpus (`max(16, n/50)`: 16 at sf0.01, 40 at sf0.1, 400 at sf1) so
    * per-cell membership stays ~50 and the candidate set per query stays
    * ~constant, the property that makes the whole IVF family linear at
    * 100 TB. v17 freezes nlist=16 for a stable small-SF oracle, which makes
    * its within-cell pair count grow n²/16 — the "frozen parameter" caveat
    * the r7 verdict flags. This row converts the measured scaled-nlist
    * evidence (COVERAGE r6 `sf1new`) into a GREEN correctness row at every
    * SF the driver runs: both engines derive nlist from their own
    * `count(*)` (Spark via the parquet-footer rowCount, DuckDB via a scalar
    * subquery), so the oracle needs no per-SF literals and stays exact. */
  val v17b = QueryDef(
    "v17b_knn_graph_scaled",
    (spark, dir) => {
      VectorFunctions.register(spark)
      // rowCount reads the bare scan (footer shortcut); the build input is
      // repartitioned+checkpointed — the r14 single-file-scan lesson
      val scan = Tables.embeddings(spark, dir)
      val nlist = math.max(16L, graft.sources.ParquetMeta.rowCount(scan) / 50).toInt
      val emb = scan.select(col("vec_id"), col("embedding"))
        .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
      val knn = Similarity.ivfTopK(emb, emb, VectorFunctions.cosineSim,
        k = 5, nlist = nlist, nprobe = scaledNprobe(nlist)).localCheckpoint(true)
      val fwd = knn.select(col("query_id").as("id_a"), col("vec_id").as("id_b"),
        col("cos"))
      val rev = knn.select(col("query_id").as("id_b"), col("vec_id").as("id_a"))
      fwd.join(rev, Seq("id_a", "id_b"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("cos"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some {
      s"""WITH $knnEdgeCtesScaled
         |SELECT f.query_id AS id_a, f.vec_id AS id_b, f.cos
         |FROM knn f JOIN knn r ON r.query_id = f.vec_id AND r.vec_id = f.query_id
         |WHERE f.query_id < f.vec_id
         |ORDER BY id_a, id_b""".stripMargin
    },
    "mutual k-NN graph at scaled nlist (~corpus/50): the honest linear IVF configuration as a verified row (LLM-pipeline op)")

  /** RANGE (radius) search — all corpus vectors with cosine ≥ τ per query,
    * via the same IVF-cell blocking as v04 ([[Similarity.ivfRange]]). The
    * retrieval mode threshold-driven curation needs (semantic dedup sweeps,
    * contamination radius checks) where top-k is the wrong contract: the
    * answer set size is data-dependent. τ = 0.25 is exactly representable
    * in binary (2⁻²), so the `round(cos, 6) >= τ` comparison cannot
    * straddle an ulp between engines; on this near-random corpus it keeps
    * the result non-trivial (the max pairwise cos ≈ 0.51). Oracle = v04's
    * assignment/probe CTE chain with the threshold in place of the rank
    * window. */
  val v18 = QueryDef(
    "v18_range_search",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      Similarity.ivfRange(
          emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, tau = 0.25, nlist = 16, nprobe = 4)
        .orderBy(col("query_id"), col("vec_id"))
    },
    Some {
      val nlist = 16; val nprobe = 4
      val affCos = cosSql("e.emb", "cent.cemb")
      val cos = cosSql("q.emb", "t.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
         |  ORDER BY vec_id LIMIT $nlist),
         |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff WHERE vec_id < 10) WHERE rn <= $nprobe)
         |SELECT p.query_id, s.vec_id, round($cos, 6) AS cos
         |FROM probes p JOIN assign s ON s.cell = p.cell
         |JOIN e q ON q.vec_id = p.query_id JOIN e t ON t.vec_id = s.vec_id
         |WHERE s.vec_id <> p.query_id AND round($cos, 6) >= CAST(0.25 AS DOUBLE)
         |ORDER BY p.query_id, s.vec_id""".stripMargin
    },
    "range (radius) search: IVF-blocked cosine >= tau retrieval (LLM-pipeline op)")

  /** Index RE-TRAIN ([[graft.operators.VectorIndex.retrain]], v19): the
    * lifecycle verb the frozen-codebook append mode (s15) assumes — once
    * the cell histogram drifts, re-train centroids/codebook from the
    * CURRENT corpus, re-encode, and cut a new generation with the old one
    * still queryable. The row constructs a deliberately DRIFTED index
    * (meta trained on the even-id half, odd half appended under that
    * frozen meta), retrains on the full corpus, and queries. Because meta
    * is a pure function of the corpus (stride rules) and codes of
    * (vector, meta), the retrained index must land EXACTLY on the fresh-
    * build geometry — the oracle is v13's fresh-build CTE chain verbatim,
    * so a hash match proves the retrain discarded every trace of the
    * drifted geometry. Cutover atomicity + old-version readback are
    * RetrainSpec's.
    *
    * Scale: retrain is one training pass + one map-side re-encode of the
    * corpus into nlist partitions (the build cost, amortized over the
    * append era it resets); the cutover itself is O(1) renames. */
  val v19 = QueryDef(
    "v19_index_retrain",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      val index = new graft.operators.VectorIndex(spark,
        FixtureDirs.create("v19-index-").toString, nlist = 16)
      index.build(emb.filter(col("vec_id") % 2 === 0))
      index.append(emb.filter(col("vec_id") % 2 === 1))
      index.retrain(emb)
      index.query(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5, nprobe = 4, shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(ivfPqOracle()),
    "index retrain: drifted build+append, re-train + re-encode + generation cutover lands on fresh-build geometry (LLM-pipeline op)")

  /** HARD-NEGATIVE MINING ([[graft.operators.Similarity.ivfHardNegatives]],
    * v20): per query, the top-k most-similar corpus vectors of a DIFFERENT
    * label — the contrastive-training pair miner (high-similarity
    * cross-class neighbors are the gradient-rich negatives; same-class
    * neighbors are excluded as likely positives). The label inequality is a
    * PER-PAIR predicate, which v16's static pre-filter cannot express: it
    * applies at the IVF cell join, so only (id, vec, label, cell) tuples
    * shuffle and the filter rides the same codegen'd stage as the
    * self-pair exclusion. Oracle = v04's assignment/probe CTE chain with
    * the label joined through and `q.label <> c.label` on the candidate
    * join. */
  val v20 = QueryDef(
    "v20_hard_negatives",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), col("label"))
      Similarity.ivfHardNegatives(
          emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5, labelCol = "label",
          nlist = 16, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val nlist = 16; val nprobe = 4
      val affCos = cosSql("e.emb", "cent.cemb")
      val cos = cosSql("q.emb", "t.emb")
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
         |  ORDER BY vec_id LIMIT $nlist),
         |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff WHERE vec_id < 10) WHERE rn <= $nprobe),
         |scored AS (SELECT p.query_id, s.vec_id, round($cos, 6) AS cos
         |  FROM probes p JOIN assign s ON s.cell = p.cell
         |  JOIN e q ON q.vec_id = p.query_id JOIN e t ON t.vec_id = s.vec_id
         |  WHERE s.vec_id <> p.query_id AND q.label <> t.label)
         |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "hard-negative mining: top-k cross-label neighbors via IVF blocking, per-pair label predicate (LLM-pipeline op)")

  /** RAG RETRIEVAL JOIN (v21) — the serving-side composition every
    * retrieval-augmented pipeline runs: ANN top-k over the embedding store,
    * then a KEYED join back to the document store to attach the payload
    * (source + snippet) the generator consumes. The embedding table is the
    * index, the documents table is the store, `vec_id = doc_id` is the
    * linkage; only (query_id, vec_id, cos, rank) rows reach the document
    * join — k·|queries| rows, a broadcast-or-shuffle equi-join on the id,
    * never the corpus. Oracle = the IVF CTE chain at k=3 joined to
    * `documents` for the snippet. */
  val v21 = QueryDef(
    "v21_rag_retrieve",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 3, nlist = 16, nprobe = 4)
        .join(Tables.documents(spark, dir)
          .select(col("doc_id").as("vec_id"), col("source"),
            substring(col("text"), 1, 64).as("snippet")), Seq("vec_id"))
        .select(col("query_id"), col("rank"), col("vec_id"), col("cos"),
          col("source"), col("snippet"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val nlist = 16; val nprobe = 4
      val affCos = cosSql("e.emb", "cent.cemb")
      val cos = cosSql("q.emb", "t.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
         |  ORDER BY vec_id LIMIT $nlist),
         |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff WHERE vec_id < 10) WHERE rn <= $nprobe),
         |scored AS (SELECT p.query_id, s.vec_id, round($cos, 6) AS cos
         |  FROM probes p JOIN assign s ON s.cell = p.cell
         |  JOIN e q ON q.vec_id = p.query_id JOIN e t ON t.vec_id = s.vec_id
         |  WHERE s.vec_id <> p.query_id),
         |knn AS (SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) WHERE rank <= 3)
         |SELECT k.query_id, k.rank, k.vec_id, k.cos, d.source,
         |  substr(d.text, 1, 64) AS snippet
         |FROM knn k JOIN documents d ON d.doc_id = k.vec_id
         |ORDER BY k.query_id, k.rank""".stripMargin
    },
    "RAG retrieval join: ANN top-k + keyed document-store attachment (LLM-pipeline op)")

  /** EMBEDDING SNAPSHOT DRIFT — the corpus-health monitor for a maintained
    * embedding store (v13/v15/v19's lifecycle assumes one): per label,
    * compare the centroid direction of two corpus snapshots (here the
    * deterministic halves vec_id%2; in production, index generations) via
    * the cosine of their component-sum vectors — identical to the cosine of
    * the mean vectors since per-snapshot scaling cancels. Runs on the
    * STORED int8 domain (v05's quantization — the v11/v14 insight): summed
    * components are exact integers, so every fold is order-independent
    * exact int64 arithmetic and the only float ops are two sqrt's, one
    * multiply and one divide — each a single correctly-rounded IEEE op,
    * bit-identical across engines. Scale shape: the dim-exploded relation
    * partial-aggregates map-side to (labels × dims) rows per partition
    * before the one keyed shuffle — shuffle volume is bounded by
    * partitions × labels × dims, never by the corpus; a drift score per
    * generation is O(labels) output. Int64 headroom: |sum| ≤ 127·n so
    * dot-terms stay below 2^53 up to n ≈ 7·10^8 vectors per (label,
    * snapshot); shard the sum hierarchically past that. */
  /** v22's ASSOCIATIVE state: per-(label, dim) int64 component sums for the
    * two snapshots, plus per-label row counts riding `dim = -1` rows. Each
    * vector is quantized independently (per-vector maxabs), so partials
    * over ANY split of the corpus fold to the same integers — the property
    * s27 streams on. */
  private[graft] def driftPartialSums(batch: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val d = batch.select(
        col("label"), (col("vec_id") % 2).cast("int").as("snap"),
        VectorFunctions.quantizeInt8Vec(col("embedding")).as("qv"))
      .select(col("label"), col("snap"),
        posexplode(col("qv")).as(Seq("dim", "v")))
    val dims = d.groupBy(col("label"), col("dim")).agg(
      sum(when(col("snap") === 0, col("v")).otherwise(lit(0.0)).cast("long")).as("sa"),
      sum(when(col("snap") === 1, col("v")).otherwise(lit(0.0)).cast("long")).as("sb"))
    val counts = batch.groupBy(col("label")).agg(
        sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("sa"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("sb"))
      .select(col("label"), lit(-1).as("dim"), col("sa"), col("sb"))
    dims.select(col("label"), col("dim"), col("sa"), col("sb"))
      .unionByName(counts)
  }

  /** Fold partials (one or many generations of them) and finish v22's
    * drift projection — exact int64 folds, two sqrt's and one divide. */
  private[graft] def driftFromPartials(parts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sums = parts.filter(col("dim") >= 0).groupBy(col("label"), col("dim"))
      .agg(sum(col("sa")).as("sa"), sum(col("sb")).as("sb"))
    val g = sums.groupBy(col("label")).agg(
      sum(col("sa") * col("sb")).as("dot"),
      sum(col("sa") * col("sa")).as("na"),
      sum(col("sb") * col("sb")).as("nb"))
    val counts = parts.filter(col("dim") === -1).groupBy(col("label"))
      .agg(sum(col("sa")).as("n_a"), sum(col("sb")).as("n_b"))
    g.join(counts, Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        col("dot"), col("na"), col("nb"),
        when(col("na") === 0 || col("nb") === 0, lit(0.0))
          .otherwise(col("dot").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("centroid_cos"))
      .orderBy(col("label"))
  }

  /** v22 core over any (vec_id, label, embedding) frame — factored out so
    * the spec can drive synthetic snapshots (identical halves → cos ≈ 1,
    * orthogonal halves → cos = 0). Composed from the associative partials
    * so batch and streaming (s27) share one implementation. */
  private[graft] def embeddingDrift(base: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    driftFromPartials(driftPartialSums(base))

  val v22 = QueryDef(
    "v22_embedding_drift",
    (spark, dir) => {
      VectorFunctions.register(spark)
      embeddingDrift(Tables.embeddings(spark, dir))
    },
    Some("""WITH e AS (SELECT vec_id, label, CAST(vec_id % 2 AS INTEGER) AS snap,
           |    CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |m AS (SELECT vec_id, label, snap, emb,
           |    list_max(list_transform(emb, x -> abs(x))) AS maxabs FROM e),
           |q AS (SELECT vec_id, label, snap,
           |    CASE WHEN maxabs = 0 THEN list_transform(emb, x -> CAST(0 AS BIGINT))
           |         ELSE list_transform(emb, x -> CAST(floor(x / (maxabs / 127) + 0.5) AS BIGINT)) END AS qv
           |  FROM m),
           |d AS (SELECT label, snap, i AS dim, qv[i + 1] AS v
           |  FROM q, unnest(range(length(qv))) AS t(i)),
           |s AS (SELECT label, dim,
           |    CAST(sum(CASE WHEN snap = 0 THEN v ELSE 0 END) AS BIGINT) AS sa,
           |    CAST(sum(CASE WHEN snap = 1 THEN v ELSE 0 END) AS BIGINT) AS sb
           |  FROM d GROUP BY 1, 2),
           |g AS (SELECT label, CAST(sum(sa * sb) AS BIGINT) AS dot,
           |    CAST(sum(sa * sa) AS BIGINT) AS na,
           |    CAST(sum(sb * sb) AS BIGINT) AS nb
           |  FROM s GROUP BY label),
           |c AS (SELECT label,
           |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
           |  FROM embeddings GROUP BY label)
           |SELECT g.label, c.n_a, c.n_b, g.dot, g.na, g.nb,
           |  CASE WHEN g.na = 0 OR g.nb = 0 THEN 0.0
           |       ELSE CAST(g.dot AS DOUBLE) / (sqrt(CAST(g.na AS DOUBLE)) * sqrt(CAST(g.nb AS DOUBLE))) END AS centroid_cos
           |FROM g JOIN c USING (label) ORDER BY label""".stripMargin),
    "embedding snapshot drift: per-label centroid cosine on the int8 domain (LLM-pipeline op)")

  /** ANN RECALL EVALUATION — the index-quality gate as a first-class
    * relational row, not an offline notebook: per query, |IVF top-k ∩
    * exact top-k| / k, computed in ONE plan joining the two deterministic
    * rankings (v04's probe path, v02's ground truth). In production this is
    * the continuous-eval job that decides nprobe/nlist retuning (v19's
    * retrain trigger): ground truth runs on a SAMPLED query set (here the
    * vec_id<10 panel), so the brute-force side costs |sample|·|corpus| —
    * bounded by the panel, never all-pairs — and the comparison join
    * carries only (query_id, vec_id) top-k pairs. Recall is a single
    * int/int IEEE division, bit-exact. */
  val v23 = QueryDef(
    "v23_ann_recall_eval",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val ivf = Similarity.ivfTopK(queries, emb, VectorFunctions.cosineSim,
          k = 5, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("vec_id"))
      val exact = Similarity.bruteForceTopK(queries, emb,
          VectorFunctions.cosineSim, k = 5)
        .select(col("query_id"), col("vec_id"))
      val hits = exact.join(ivf, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / 5).as("recall_at_5"))
        .orderBy(col("query_id"))
    },
    Some {
      val nlist = 16; val nprobe = 4
      val affCos = cosSql("e.emb", "cent.cemb")
      val icos = cosSql("q.emb", "t.emb")
      val bcos = cosSql("q.emb", "c.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |bscored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id, round($bcos, 6) AS cos
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |bf AS (SELECT query_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM bscored) WHERE rank <= 5),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
         |  ORDER BY vec_id LIMIT $nlist),
         |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff WHERE vec_id < 10) WHERE rn <= $nprobe),
         |iscored AS (SELECT p.query_id, s.vec_id, round($icos, 6) AS cos
         |  FROM probes p JOIN assign s ON s.cell = p.cell
         |  JOIN e q ON q.vec_id = p.query_id JOIN e t ON t.vec_id = s.vec_id
         |  WHERE s.vec_id <> p.query_id),
         |ivf AS (SELECT query_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM iscored) WHERE rank <= 5),
         |hits AS (SELECT b.query_id, count(*) AS n_hit
         |  FROM bf b JOIN ivf i ON i.query_id = b.query_id AND i.vec_id = b.vec_id
         |  GROUP BY b.query_id)
         |SELECT q.query_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5 AS recall_at_5
         |FROM (SELECT vec_id AS query_id FROM e WHERE vec_id < 10) q
         |LEFT JOIN hits h USING (query_id) ORDER BY query_id""".stripMargin
    },
    "ANN recall@k evaluation: IVF vs exact ground truth in one plan (LLM-pipeline op)")

  /** Cluster-stratified diversity sampling — see
    * [[Similarity.ivfStratifiedSample]]. Oracle mirrors v04/v06's cell
    * assignment plus the d10 md5 draw windowed per cell. */
  val v24 = QueryDef(
    "v24_diverse_sample",
    (spark, dir) => {
      VectorFunctions.register(spark)
      Similarity.ivfStratifiedSample(Tables.embeddings(spark, dir),
          VectorFunctions.cosineSim, perCell = 3, nlist = 16)
        .orderBy(col("vec_id"))
    },
    Some {
      val nlist = 16
      val affCos = cosSql("e.emb", "cent.cemb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
         |  ORDER BY vec_id LIMIT $nlist),
         |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1)
         |SELECT vec_id, cell, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |  FROM assign) WHERE rn <= 3
         |ORDER BY vec_id""".stripMargin
    },
    "cluster-stratified diversity sample: k per IVF cell by deterministic draw (LLM-pipeline op)")

  /** ANN MRR EVALUATION — v23's companion metric: where recall@k asks "how
    * much of the true top-k did the index surface", reciprocal rank asks
    * "WHERE did the single true nearest neighbor land" — the
    * position-sensitive retrieval metric (serving quality degrades with
    * rank even when recall holds). Per query: the brute-force top-1 joined
    * LEFT into the IVF top-k list; rank_in_ivf = 0 and rr = 0 when the
    * probe path missed it entirely. rr is one int-reciprocal IEEE division
    * (rule-7: the literal 1 is CAST to DOUBLE in the oracle — DuckDB bare
    * numerics are DECIMAL). Same panel-bounded cost shape as v23. */
  val v25 = QueryDef(
    "v25_ann_mrr",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val ivf = Similarity.ivfTopK(queries, emb, VectorFunctions.cosineSim,
          k = 5, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("vec_id"), col("rank"))
      val truth = Similarity.bruteForceTopK(queries, emb,
          VectorFunctions.cosineSim, k = 1)
        .select(col("query_id"), col("vec_id").as("true_nn"))
      truth.join(ivf.withColumnRenamed("vec_id", "true_nn"),
          Seq("query_id", "true_nn"), "left")
        .select(col("query_id"), col("true_nn"),
          coalesce(col("rank"), lit(0)).as("rank_in_ivf"),
          when(col("rank").isNull, lit(0.0))
            .otherwise(lit(1.0) / col("rank")).as("rr"))
        .orderBy(col("query_id"))
    },
    Some {
      val nlist = 16; val nprobe = 4
      val affCos = cosSql("e.emb", "cent.cemb")
      val icos = cosSql("q.emb", "t.emb")
      val bcos = cosSql("q.emb", "c.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |bscored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id, round($bcos, 6) AS cos
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |truth AS (SELECT query_id, vec_id AS true_nn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM bscored) WHERE rank = 1),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
         |  ORDER BY vec_id LIMIT $nlist),
         |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff WHERE vec_id < 10) WHERE rn <= $nprobe),
         |iscored AS (SELECT p.query_id, s.vec_id, round($icos, 6) AS cos
         |  FROM probes p JOIN assign s ON s.cell = p.cell
         |  JOIN e q ON q.vec_id = p.query_id JOIN e t ON t.vec_id = s.vec_id
         |  WHERE s.vec_id <> p.query_id),
         |ivf AS (SELECT query_id, vec_id, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM iscored) WHERE rank <= 5)
         |SELECT t.query_id, t.true_nn,
         |  CAST(coalesce(i.rank, 0) AS INTEGER) AS rank_in_ivf,
         |  CASE WHEN i.rank IS NULL THEN 0.0 ELSE CAST(1 AS DOUBLE) / i.rank END AS rr
         |FROM truth t LEFT JOIN ivf i
         |  ON i.query_id = t.query_id AND i.vec_id = t.true_nn
         |ORDER BY t.query_id""".stripMargin
    },
    "ANN MRR evaluation: reciprocal rank of the true nearest neighbor in the IVF list (LLM-pipeline op)")

  /** IVF CELL-BALANCE DIAGNOSTIC — the third index-health signal beside
    * v22 (centroid drift) and v23/v25 (retrieval quality): per-cell
    * occupancy of the current assignment plus each cell's share of the
    * corpus. A skewed histogram is the direct retrain trigger for v19 —
    * probe cost is occupancy-weighted, so one bloated cell makes every
    * query probing it pay its size (the histogram predicts the p99, recall
    * metrics only see the average). Exact integers + one int/int IEEE
    * division per cell; map-only assignment then one keyed shuffle of
    * (cell) — partial counts collapse per partition, output is nlist
    * rows. */
  val v26 = QueryDef(
    "v26_index_balance",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      val topCells = Similarity.topCellsOf(
        Similarity.strideCentroids(emb, 16), VectorFunctions.cosineSim) _
      val assigned = emb
        .withColumn("cell",
          element_at(topCells(col("embedding"), 1), 1).getField("cell"))
        .select(col("vec_id"), col("cell"))
      val total = assigned.groupBy().agg(count(lit(1)).as("n_total"))
      assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
        .crossJoin(total)
        .select(col("cell"), col("n_vectors"),
          (col("n_vectors").cast("double") / col("n_total")).as("share"))
        .orderBy(col("cell"))
    },
    Some {
      val nlist = 16
      val affCos = cosSql("e.emb", "cent.cemb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
         |  ORDER BY vec_id LIMIT $nlist),
         |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM assign) AS share
         |FROM assign GROUP BY cell ORDER BY cell""".stripMargin
    },
    "IVF cell-balance diagnostic: per-cell occupancy + corpus share, the v19 retrain trigger (LLM-pipeline op)")

  /** MMR DIVERSE RE-RANK — [[Similarity.mmrRerank]]: greedy maximal-
    * marginal-relevance selection from a per-query shortlist, the
    * context-window diversity op RAG serving runs after retrieval. The
    * oracle replays the ENTIRE greedy trajectory as unrolled per-step CTEs
    * (the d44 technique): per step, the anti-joined remaining candidates
    * get `max(sim to selected)`, score `0.5·rel − 0.5·max_sim` (exact
    * dyadic λ — two IEEE ops on rounded-6 inputs), and a QUALIFY argmax
    * with ties to the lower vec_id. A hash match pins every selection of
    * every step. */
  /** Shared MMR oracle fragments: the per-step greedy CTEs (assumes `cand`
    * (query_id, vec_id, rel) and `pairs` (query_id, a, b, sim) are in
    * scope) and the sel1..selk UNION — the d44 unrolled-replay technique,
    * used by v27 (brute-force candidates) and v31 (IVF candidates). */
  private def mmrStepsSql(k: Int): String = {
    val steps = (2 to k).map { r =>
      val selU = (1 until r)
        .map(i => s"SELECT query_id, vec_id FROM sel$i")
        .mkString(" UNION ALL ")
      s"""su$r AS ($selU),
         |sc$r AS (SELECT c.query_id, c.vec_id, c.rel, max(p.sim) AS max_sim
         |  FROM cand c JOIN pairs p ON p.query_id = c.query_id AND p.a = c.vec_id
         |  JOIN su$r s ON s.query_id = p.query_id AND s.vec_id = p.b
         |  WHERE NOT EXISTS (SELECT 1 FROM su$r x
         |    WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
         |  GROUP BY c.query_id, c.vec_id, c.rel),
         |sel$r AS (SELECT query_id, vec_id, rel, max_sim,
         |    CAST(0.5 AS DOUBLE)*rel - CAST(0.5 AS DOUBLE)*max_sim AS score
         |  FROM sc$r QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY CAST(0.5 AS DOUBLE)*rel - CAST(0.5 AS DOUBLE)*max_sim DESC, vec_id) = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""sel1 AS (SELECT query_id, vec_id, rel, CAST(0 AS DOUBLE) AS max_sim,
       |    CAST(0.5 AS DOUBLE)*rel - CAST(0.5 AS DOUBLE)*CAST(0 AS DOUBLE) AS score
       |  FROM cand QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY CAST(0.5 AS DOUBLE)*rel - CAST(0.5 AS DOUBLE)*CAST(0 AS DOUBLE) DESC, vec_id) = 1),
       |$steps""".stripMargin
  }

  private def mmrSelUnionSql(k: Int): String = (1 to k).map(r =>
    s"SELECT query_id, CAST($r AS INTEGER) AS sel_rank, vec_id, rel, max_sim, score FROM sel$r")
    .mkString("\nUNION ALL ")

  val v27 = QueryDef(
    "v27_mmr_rerank",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      Similarity.mmrRerank(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, candidates = 8, k = 4)
        .orderBy(col("query_id"), col("sel_rank"))
    },
    Some {
      val cands = 8; val k = 4
      val bcos = cosSql("q.emb", "c.emb")
      val pcos = cosSql("ea.emb", "eb.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |bscored AS (SELECT q.vec_id AS query_id, c.vec_id, round($bcos, 6) AS cos
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |cand AS (SELECT query_id, vec_id, cos AS rel FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM bscored) WHERE rank <= $cands),
         |pairs AS (SELECT a.query_id, a.vec_id AS a, b.vec_id AS b, round($pcos, 6) AS sim
         |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id),
         |${mmrStepsSql(k)}
         |${mmrSelUnionSql(k)}
         |ORDER BY query_id, sel_rank""".stripMargin
    },
    "MMR diverse re-rank: greedy λ·rel − (1−λ)·max-sim selection, trajectory oracle-replayed (LLM-pipeline op)")

  /** TRUNCATED-DIM two-stage search — [[Similarity.truncatedRerank]]: the
    * Matryoshka serving pattern (prefix-dim shortlist, full-dim exact
    * re-rank). Both stages are deterministic rounded-6 rankings, so the
    * oracle mirrors them with `list_slice`; the hash match pins that the
    * re-rank reads exactly the prefix-stage survivors. Recall vs full
    * brute force is pinned by AnnRecallSpec (prefix dims are the
    * cost/recall lever). */
  val v28 = QueryDef(
    "v28_matryoshka_rerank",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      Similarity.truncatedRerank(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, prefixDims = 16, shortlist = 50, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val pre = 16; val shortlist = 50
      val pcos = cosSql(s"list_slice(q.emb, 1, $pre)", s"list_slice(c.emb, 1, $pre)")
      val fcos = cosSql("q.emb", "t.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |pre AS (SELECT q.vec_id AS query_id, c.vec_id, round($pcos, 6) AS pre_cos
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |short AS (SELECT query_id, vec_id, pre_cos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY pre_cos DESC, vec_id) AS prn
         |    FROM pre) WHERE prn <= $shortlist),
         |scored AS (SELECT s.query_id, s.vec_id, s.pre_cos, round($fcos, 6) AS cos
         |  FROM short s JOIN e q ON q.vec_id = s.query_id JOIN e t ON t.vec_id = s.vec_id)
         |SELECT query_id, vec_id, pre_cos, cos, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "matryoshka two-stage ANN: truncated-dim shortlist + full-dim exact re-rank (LLM-pipeline op)")

  /** RESIDUAL IVF-PQ — [[Similarity.ivfPqResidualTopK]], the true FAISS
    * IVFPQ encoding (residual against the assigned centroid, not the raw
    * vector — v12's upgrade). The oracle mirrors the ENTIRE pipeline from
    * the data: cell assignment, per-vector residuals, the offset-stride
    * residual codebook, per-subspace argmin encoding, per-(query, probe)
    * residual ADC tables, m-ascending ADC sums, shortlist, and exact
    * re-rank — a hash match pins every stage. */
  val v29 = QueryDef(
    "v29_ann_ivfpq_residual",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      Similarity.ivfPqResidualTopK(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val nlist = 16; val nprobe = 4; val ksub = 16; val dsub = 8
      val shortlist = 50
      val affCos = cosSql("e.emb", "cent.cemb")
      val cos = cosSql("q.emb", "t.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
         |  ORDER BY vec_id LIMIT $nlist),
         |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1),
         |res AS (SELECT e.vec_id, a.cell,
         |    [e.emb[i] - c.cemb[i] for i in generate_series(1, 64)] AS r
         |  FROM e JOIN assign a ON a.vec_id = e.vec_id JOIN cent c ON c.cell = a.cell),
         |samp AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c, vec_id
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $ksub)
         |    = 1 % greatest(1, (SELECT count(*) FROM e) // $ksub)
         |  ORDER BY vec_id LIMIT $ksub),
         |cb AS (SELECT sub, samp.c, list_slice(res.r, sub*$dsub + 1, sub*$dsub + $dsub) AS w
         |  FROM samp JOIN res ON res.vec_id = samp.vec_id,
         |  (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS sub)),
         |dist AS (SELECT res.vec_id, cb.sub, cb.c,
         |    list_sum([(res.r[cb.sub*$dsub + i] - cb.w[i]) * (res.r[cb.sub*$dsub + i] - cb.w[i])
         |              for i in generate_series(1, $dsub)]) AS d
         |  FROM res, cb),
         |enc AS (SELECT vec_id, sub, c FROM (
         |    SELECT vec_id, sub, c, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, c ASC) AS rn
         |    FROM dist) WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff WHERE vec_id < 10) WHERE rn <= $nprobe),
         |qres AS (SELECT p.query_id, p.cell,
         |    [q.emb[i] - c.cemb[i] for i in generate_series(1, 64)] AS r
         |  FROM probes p JOIN e q ON q.vec_id = p.query_id JOIN cent c ON c.cell = p.cell),
         |qdist AS (SELECT qr.query_id, qr.cell, cb.sub, cb.c,
         |    list_sum([(qr.r[cb.sub*$dsub + i] - cb.w[i]) * (qr.r[cb.sub*$dsub + i] - cb.w[i])
         |              for i in generate_series(1, $dsub)]) AS d
         |  FROM qres qr, cb),
         |parts AS (SELECT qd.query_id, t.vec_id, qd.sub, qd.d
         |  FROM enc t JOIN assign a ON a.vec_id = t.vec_id
         |  JOIN qdist qd ON qd.cell = a.cell AND qd.sub = t.sub AND qd.c = t.c
         |  WHERE t.vec_id <> qd.query_id),
         |adc AS (SELECT query_id, vec_id, round(list_sum(list(d ORDER BY sub)), 6) AS adist
         |  FROM parts GROUP BY 1, 2),
         |short AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rn
         |    FROM adc) WHERE rn <= $shortlist),
         |scored AS (SELECT s.query_id, s.vec_id, round($cos, 6) AS cos
         |  FROM short s JOIN e q ON q.vec_id = s.query_id JOIN e t ON t.vec_id = s.vec_id)
         |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "residual IVF-PQ ANN: FAISS-style residual codes, per-probe ADC tables, exact re-rank (LLM-pipeline op)")

  /** Shared sign-fingerprint CTE (v30/v30b): packs each 64-dim double
    * vector's sign bits into two BIGINT words over a relation named `e` —
    * the SQL mirror of [[Similarity.signBits]]. */
  private val signBitsCte =
    s"""bits AS (SELECT vec_id,
       |    CAST(list_sum([CASE WHEN emb[i+1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END
       |      for i in range(0, 32)]) AS BIGINT) AS lo,
       |    CAST(list_sum([CASE WHEN emb[i+33] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END
       |      for i in range(0, 32)]) AS BIGINT) AS hi
       |  FROM e)""".stripMargin

  /** BINARY SIGN QUANTIZATION + HAMMING SEARCH —
    * [[Similarity.binaryHammingTopK]]: 1 bit/dim fingerprints, integer
    * Hamming shortlist, exact re-rank. The oracle packs the same sign
    * bits via list-comprehension sums and mirrors xor+bit_count — every
    * stage exact. */
  val v30 = QueryDef(
    "v30_ann_binary_hamming",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      Similarity.binaryHammingTopK(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5, shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val shortlist = 50
      val cos = cosSql("q.emb", "t.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |$signBitsCte,
         |ham AS (SELECT q.vec_id AS query_id, c.vec_id,
         |    CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS INTEGER) AS hamming
         |  FROM bits q JOIN bits c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |short AS (SELECT query_id, vec_id, hamming FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS srn
         |    FROM ham) WHERE srn <= $shortlist),
         |scored AS (SELECT s.query_id, s.vec_id, s.hamming, round($cos, 6) AS cos
         |  FROM short s JOIN e q ON q.vec_id = s.query_id JOIN e t ON t.vec_id = s.vec_id)
         |SELECT query_id, vec_id, hamming, cos, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "binary sign quantization + Hamming shortlist + exact re-rank: the 1-bit/dim ANN memory lever (LLM-pipeline op)")

  /** PIGEONHOLE-BANDED HAMMING NEAR-DUP (v30b) —
    * [[Similarity.binaryHammingRadius]], the scale upgrade v30's scaladoc
    * promised: radius-bounded fingerprint pairs via an equi-join on
    * 8-bit bands (no panel×corpus or all-pairs scan anywhere in the plan —
    * PlanAuditSpec pins it). Near-dups are PLANTED (the v33 fixture
    * discipline): every 10th vector gets a rendition `x·1.02 + 0.005`
    * (in double), measured at Hamming 0–4 from its source at both SFs,
    * while the closest ORGANIC pair sits at 14 — so radius 7 with 8 bands
    * separates perfectly and the row `require`s exactly the planted pairs
    * found (a dead band join or a missed plant turns the row red).
    * The oracle shares v30's bits CTE and mirrors the banding with
    * integer shifts — all-integer, hash-exact. */
  val v30b = QueryDef(
    "v30b_hamming_pigeonhole",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val base = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      // rendition ids sit just past the corpus's own id range — DATA-
      // derived (max+1 scaled by the plant stride), not a frozen literal:
      // a fixed 1e6 offset collided with the sf1 replica id shift and
      // made every "plant" a sign-flipped replica vector (rule 12)
      val off = base.agg(max(col("vec_id"))).head().getLong(0) + 1L
      val rend = base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(off)).as("vec_id"),
          transform(col("embedding"),
            x => x * lit(1.02) + lit(0.005)).as("embedding"))
      val out = Similarity.binaryHammingRadius(base.unionByName(rend),
          maxHamming = 7, bands = 8)
        .localCheckpoint(true) // consumed twice: the teeth count + result
      val nPlants = base.filter(col("vec_id") % 10 === 0).count()
      val found = out.count()
      val planted =
        out.filter(col("doc_b") === col("doc_a") + lit(off)).count()
      require(found == nPlants && planted == nPlants,
        s"pigeonhole near-dup off: $found found / $planted planted-pairs " +
          s"vs $nPlants plants (band join dead or a plant missed)")
      out.orderBy(col("doc_a"), col("doc_b"))
    },
    Some {
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |rend AS (SELECT vec_id + (SELECT max(vec_id) + 1 FROM e0) AS vec_id,
         |    [x * CAST(1.02 AS DOUBLE) + CAST(0.005 AS DOUBLE) for x in emb] AS emb
         |  FROM e0 WHERE vec_id % 10 = 0),
         |e AS (SELECT * FROM e0 UNION ALL SELECT * FROM rend),
         |$signBitsCte,
         |banded AS (SELECT vec_id, lo, hi, b AS band_idx,
         |    CASE WHEN b < 4 THEN (lo >> (b * 8)) & 255
         |         ELSE (hi >> ((b - 4) * 8)) & 255 END AS band
         |  FROM bits, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS b)),
         |cand AS (SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b,
         |    a.lo AS lo_a, a.hi AS hi_a, b.lo AS lo_b, b.hi AS hi_b
         |  FROM banded a JOIN banded b
         |    ON a.band_idx = b.band_idx AND a.band = b.band
         |    AND a.vec_id < b.vec_id)
         |SELECT doc_a, doc_b,
         |  CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS INTEGER) AS hamming
         |FROM cand
         |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 7
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "pigeonhole-banded binary-Hamming near-dup: radius-bounded fingerprint pairs via 8-bit band equi-join, planted renditions required caught — no all-pairs scan (LLM-pipeline op)")

  /** RAG SERVING STACK (v31) — the full retrieval path a serving layer
    * runs per query, composed as ONE plan: IVF retrieval (v04's cell
    * blocking, top-8 candidates) → greedy MMR diversity selection (v27's
    * loop via [[Similarity.mmrSelect]], k=4) → keyed document-store
    * payload attachment (v21's join). Every stage is individually
    * verified; this row pins that they COMPOSE (the d35/d49 discipline
    * applied to the vector side). Cost shape: corpus touched only by the
    * cell join; MMR and the payload join run on k·|queries| rows. */
  val v31 = QueryDef(
    "v31_rag_serving_stack",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      val cand = Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 8, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("vec_id"), col("cos").as("rel"))
      Similarity.mmrSelect(cand, emb, VectorFunctions.cosineSim, k = 4)
        .join(Tables.documents(spark, dir)
          .select(col("doc_id").as("vec_id"), col("source"),
            substring(col("text"), 1, 64).as("snippet")), Seq("vec_id"))
        .select(col("query_id"), col("sel_rank"), col("vec_id"), col("rel"),
          col("max_sim"), col("score"), col("source"), col("snippet"))
        .orderBy(col("query_id"), col("sel_rank"))
    },
    Some {
      val cands = 8; val k = 4; val nlist = 16; val nprobe = 4
      val affCos = cosSql("e.emb", "cent.cemb")
      val icos = cosSql("q.emb", "t.emb")
      val pcos = cosSql("ea.emb", "eb.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
         |  ORDER BY vec_id LIMIT $nlist),
         |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff WHERE vec_id < 10) WHERE rn <= $nprobe),
         |iscored AS (SELECT p.query_id, s.vec_id, round($icos, 6) AS cos
         |  FROM probes p JOIN assign s ON s.cell = p.cell
         |  JOIN e q ON q.vec_id = p.query_id JOIN e t ON t.vec_id = s.vec_id
         |  WHERE s.vec_id <> p.query_id),
         |cand AS (SELECT query_id, vec_id, cos AS rel FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM iscored) WHERE rank <= $cands),
         |pairs AS (SELECT a.query_id, a.vec_id AS a, b.vec_id AS b, round($pcos, 6) AS sim
         |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id),
         |${mmrStepsSql(k)},
         |sel AS (${mmrSelUnionSql(k)})
         |SELECT s.query_id, s.sel_rank, s.vec_id, s.rel, s.max_sim, s.score,
         |  d.source, substr(d.text, 1, 64) AS snippet
         |FROM sel s JOIN documents d ON d.doc_id = s.vec_id
         |ORDER BY s.query_id, s.sel_rank""".stripMargin
    },
    "RAG serving stack: IVF retrieve -> MMR diversify -> payload attach, one composed plan (LLM-pipeline op)")

  /** ADAPTIVE-NPROBE IVF ([[Similarity.adaptiveIvfTopK]]): per-query probe
    * width from the centroid-affinity margin — probe every cell within
    * δ=0.10 of the query's best affinity, capped at 6. On this panel the
    * widths genuinely vary (1–6; the cap binds for one query, the margin
    * rule for the rest — checked against the affinity distribution before
    * freezing δ, the d49/d50 lesson). `n_probed` is emitted so the hash
    * pins the adaptive routing decision itself. Oracle mirrors v04's
    * stride-centroid affinity CTE plus the same margin filter; the δ
    * literal is CAST to DOUBLE (CLAUDE.md rule 7). */
  val v32 = QueryDef(
    "v32_ann_adaptive_nprobe",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      Similarity.adaptiveIvfTopK(
          emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5, nlist = 16, maxProbe = 6,
          delta = 0.10)
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val nlist = 16; val maxProbe = 6
      val affCos = cosSql("e.emb", "cent.cemb")
      val cos = cosSql("q.emb", "t.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $nlist) = 0
         |  ORDER BY vec_id LIMIT $nlist),
         |aff AS (SELECT e.vec_id, cent.cell, $affCos AS a FROM e, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1),
         |qaff AS (SELECT vec_id AS query_id, cell, a,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn,
         |    max(a) OVER (PARTITION BY vec_id) AS a1
         |  FROM aff WHERE vec_id < 10),
         |probes AS (SELECT query_id, cell,
         |    CAST(count(*) OVER (PARTITION BY query_id) AS INTEGER) AS n_probed
         |  FROM qaff
         |  WHERE rn <= $maxProbe AND (rn = 1 OR a >= a1 - CAST(0.10 AS DOUBLE))),
         |scored AS (SELECT p.query_id, s.vec_id, round($cos, 6) AS cos, p.n_probed
         |  FROM probes p JOIN assign s ON s.cell = p.cell
         |  JOIN e q ON q.vec_id = p.query_id JOIN e t ON t.vec_id = s.vec_id
         |  WHERE s.vec_id <> p.query_id)
         |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank, n_probed FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "adaptive-nprobe IVF: per-query probe width from the centroid-affinity margin, easy queries touch 1 cell (LLM-pipeline op)")

  /** Adaptive nprobe over the PERSISTED index (the r9 verdict's production
    * ask): v32 routes over the in-memory IVF; here the same margin rule
    * drives [[graft.operators.VectorIndex.queryAdaptive]] against the
    * hive-partitioned layout, so a confident query's probe set — often ONE
    * cell — lands as `PartitionFilters` on the index scan and unprobed
    * cell directories are never opened (PlanAuditSpec pins the pruning
    * under the adaptive widths). Composes the v32 routing with v13's
    * storage skipping and v12's PQ-ADC shortlist + exact re-rank; the
    * oracle is the shared ivfPqOracle chain with the adaptive probe CTE,
    * emitting `n_probed` so the routing decision itself is hashed. */
  val v32b = QueryDef(
    "v32b_ann_adaptive_indexed",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      val index = new graft.operators.VectorIndex(spark,
        FixtureDirs.create("v32b-index-").toString, nlist = 16)
      index.build(emb)
      index.queryAdaptive(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5, maxProbe = 6, delta = 0.10,
          shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(ivfPqOracle(adaptive = true)),
    "adaptive nprobe over the persisted index: confident queries open one cell directory, probe set lands as PartitionFilters (LLM-pipeline op)")

  /** SEMANTIC DECONTAMINATION (v33) — [[Similarity.semanticDecontaminate]]
    * with PLANTED leakage: the eval set is a perturbed rendition of every
    * 97th corpus vector (`x·1.1 + 0.05` per component, computed in double —
    * the paraphrase analog: cosine with its source ≥ 0.93 at both SFs while
    * the best unrelated pair sits ≤ 0.54, measured before freezing the 0.9
    * gate — the d49 distribution discipline). The row `require`s exactly
    * |bench| flagged pairs, so a dead threshold OR a missed plant turns it
    * red; output is the per-item audit (top-5 training neighbors + flag).
    * The perturbation's interpreted HOF runs only over the tiny broadcast
    * side. */
  val v33 = QueryDef(
    "v33_semantic_decontamination",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      val bench = emb.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => x * lit(1.1) + lit(0.05)).as("embedding"))
      val out = Similarity.semanticDecontaminate(emb, bench,
        VectorFunctions.cosineSim, k = 5, minCos = 0.9)
        .localCheckpoint(true) // consumed twice: the teeth count + result
      val flagged = out.filter(col("flagged")).count()
      val nBench = bench.count()
      require(flagged == nBench,
        s"planted-leak detection off: $flagged flagged vs $nBench planted " +
          "(threshold dead or a plant missed)")
      out.orderBy(col("bench_id"), col("rank"))
    },
    Some {
      val cos = cosSql("b.bemb", "e.emb")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |b AS (SELECT vec_id AS bench_id,
         |    [x * CAST(1.1 AS DOUBLE) + CAST(0.05 AS DOUBLE) for x in emb] AS bemb
         |  FROM e WHERE vec_id % 97 = 0),
         |scored AS (SELECT b.bench_id, e.vec_id, round($cos, 6) AS cos FROM b, e)
         |SELECT bench_id, vec_id, cos, CAST(rank AS INTEGER) AS rank,
         |  cos >= CAST(0.9 AS DOUBLE) AS flagged FROM (
         |  SELECT *, row_number() OVER (PARTITION BY bench_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY bench_id, rank""".stripMargin
    },
    "semantic decontamination: per-eval-item top-k training neighbors + cosine gate, planted paraphrase leakage required caught (LLM-pipeline op)")

  /** HYBRID RETRIEVAL with RECIPROCAL-RANK FUSION (v34) — the serving
    * pattern every RAG stack runs in production: a LEXICAL ranker (d20's
    * log-free rational-idf BM25, query = the query doc's own term set) and
    * a VECTOR ranker (v02's brute cosine) each produce a top-20 list per
    * query, fused by RRF `1/(60+rank)` — rank-based fusion needs no score
    * normalization across the two incomparable scales, which is exactly why
    * RRF is the standard. Float discipline: per-(query, doc) BM25 terms are
    * summed by an ORDERED fold (sort_array + aggregate ≡ DuckDB
    * `list_sum(list(… ORDER BY term))` — CLAUDE.md float rule 9), ranks
    * break ties on doc_id, and the fused score is a two-term sum of exact
    * divisions — every float op bit-identical across engines, no rounding
    * of order-dependent sums anywhere.
    *
    * 100 TB shape: the corpus is touched twice, each time map-friendly —
    * (doc, term) tf rows join a BROADCAST of the queries' terms (one
    * keyed aggregation per (query, doc)), and the cosine pass broadcasts
    * the query vectors (v02's scan; the scale path swaps in v04/v32's IVF
    * probe without changing the fusion). Fusion itself runs on
    * O(queries × 2k) rank rows — driver-free, shuffle on (query, doc). */
  val v34 = QueryDef(
    "v34_hybrid_rrf",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      VectorFunctions.register(spark)
      val k1 = 1.2; val b = 0.75; val kList = 20; val kOut = 10
      val docs = Tables.documents(spark, dir)
      val emb = Tables.embeddings(spark, dir)
      val toks = docs.select(col("doc_id"),
        filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "").as("toks"))
      val dl = toks.select(col("doc_id"), size(col("toks")).as("dl"))
      val stats = dl.agg(sum(col("dl")).as("sum_dl"), count(lit(1)).as("n_docs"))
      val tf = toks.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val bm = tf.join(broadcast(dfc), "term").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("bm25",
          ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
            (col("tf") * lit(k1 + 1)) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") /
              (col("sum_dl") / col("n_docs")))))
        .select(col("doc_id"), col("term"), col("bm25"))
      val qterms = toks.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), explode(col("toks")).as("term"))
        .distinct()
      val lex = bm.join(broadcast(qterms), Seq("term"))
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("doc_id"))
        // INTERPRETED HOF, deliberately: the ordered fold is the float
        // contract (term-ascending sum ≡ DuckDB list_sum ORDER BY), and
        // the array is bounded by |query terms| per group AFTER the
        // broadcast join — O(few) elements. DO NOT copy this shape into a
        // per-row hot path or a single-partition micro-batch (the d33/s21
        // trap): there, replace it with a native codegen'd expression
        // (TopBigramFracExpr / CosineSimilarity pattern).
        .agg(aggregate(
          sort_array(collect_list(struct(col("term"), col("bm25")))),
          lit(0.0), (acc, x) => acc + x.getField("bm25")).as("lex"))
      val lexr = lex
        .withColumn("lex_rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("lex").desc, col("doc_id"))))
        .filter(col("lex_rank") <= kList)
        .select(col("query_id"), col("doc_id"), col("lex_rank"))
      val vecr = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = kList)
        .select(col("query_id"), col("vec_id").as("doc_id"),
          col("rank").as("vec_rank"))
      val fused = lexr.join(vecr, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("rrf").desc, col("doc_id"))))
        .filter(col("rank") <= kOut)
        // consumed twice (vacuity guard + result): eager checkpoint so the
        // BM25+cosine pipeline executes once, not once per consumer
        .localCheckpoint(true)
      // vacuity guard (d49 lesson): BOTH rankers must contribute to every
      // query's fused list. (List OVERLAP is data-dependent — the synthetic
      // embeddings are uncorrelated with the text, so at sf0.1 the two
      // top-20s are disjoint and fusion interleaves; at sf0.01 they
      // intersect. Either way both modalities must be live.)
      val alive = fused.groupBy(col("query_id")).agg(
        count(col("lex_rank")).as("nl"), count(col("vec_rank")).as("nv"))
      require(alive.filter(col("nl") === 0 || col("nv") === 0).isEmpty,
        "v34 fusion is vacuous — a ranker contributed nothing for some query")
      fused.select(col("query_id"), col("rank"), col("doc_id"), col("rrf"),
          col("lex_rank"), col("vec_rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val cos = cosSql("q.emb", "c.emb")
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
         |  FROM documents),
         |dl AS (SELECT doc_id, CAST(length(toks) AS INTEGER) AS dl FROM toks),
         |stats AS (SELECT sum(dl) AS sum_dl, count(*) AS n_docs FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM toks) GROUP BY 1, 2),
         |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |bm AS (SELECT tf.doc_id, tf.term,
         |    ((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
         |      * (tf * CAST(2.2 AS DOUBLE))
         |      / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
         |         + CAST(0.75 AS DOUBLE) * dl / (sum_dl / n_docs))) AS bm25
         |  FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
         |qt AS (SELECT DISTINCT doc_id AS query_id, unnest(toks) AS term
         |  FROM toks WHERE doc_id < 10),
         |lex AS (SELECT q.query_id, b.doc_id,
         |    list_sum(list(b.bm25 ORDER BY b.term)) AS lex
         |  FROM bm b JOIN qt q USING (term) WHERE b.doc_id <> q.query_id
         |  GROUP BY 1, 2),
         |lexr AS (SELECT query_id, doc_id, CAST(rn AS INTEGER) AS lex_rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY lex DESC, doc_id) AS rn FROM lex) WHERE rn <= 20),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |vs AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id, round($cos, 6) AS cos
         |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |vecr AS (SELECT query_id, doc_id, CAST(rn AS INTEGER) AS vec_rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, doc_id) AS rn FROM vs) WHERE rn <= 20),
         |fused AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |    coalesce(l.doc_id, v.doc_id) AS doc_id, l.lex_rank, v.vec_rank,
         |    coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), CAST(0 AS DOUBLE))
         |      + coalesce(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank), CAST(0 AS DOUBLE)) AS rrf
         |  FROM lexr l FULL OUTER JOIN vecr v
         |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, doc_id, rrf, lex_rank, vec_rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id) AS rn FROM fused) WHERE rn <= 10
         |ORDER BY query_id, rank""".stripMargin
    },
    "hybrid retrieval: BM25 + vector top-k fused by reciprocal-rank fusion, ordered-fold float discipline (LLM-pipeline op)")

  /** HYBRID RRF AT THE SCALE CONFIGURATION (v34b) — the swap v34's
    * scaladoc names, made a verified row: the vector leg is the IVF PROBE
    * (v04's cell blocking at the scaled nlist ≈ n/50) instead of the brute
    * panel×corpus cosine, and the FUSION IS UNCHANGED — candidates per
    * query stay ~nprobe·(n/nlist) ≈ 200 at every corpus size, which is
    * what makes the hybrid stack linear at 100 TB. Approximate like every
    * IVF retrieval (a neighbor assigned to an unprobed cell is missed),
    * but the RRF contract — rank-based, no score normalization — absorbs
    * that: the lexical leg is identical to v34's. Same vacuity guard. */
  val v34b = QueryDef(
    "v34b_hybrid_rrf_ivf",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      VectorFunctions.register(spark)
      val k1 = 1.2; val b = 0.75; val kList = 20; val kOut = 10
      val docs = Tables.documents(spark, dir)
      val emb = Tables.embeddings(spark, dir)
      val toks = docs.select(col("doc_id"),
        filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "").as("toks"))
      val dl = toks.select(col("doc_id"), size(col("toks")).as("dl"))
      val stats = dl.agg(sum(col("dl")).as("sum_dl"), count(lit(1)).as("n_docs"))
      val tf = toks.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val bm = tf.join(broadcast(dfc), "term").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("bm25",
          ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
            (col("tf") * lit(k1 + 1)) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") /
              (col("sum_dl") / col("n_docs")))))
        .select(col("doc_id"), col("term"), col("bm25"))
      val qterms = toks.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), explode(col("toks")).as("term"))
        .distinct()
      val lex = bm.join(broadcast(qterms), Seq("term"))
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(aggregate(
          sort_array(collect_list(struct(col("term"), col("bm25")))),
          lit(0.0), (acc, x) => acc + x.getField("bm25")).as("lex"))
      val lexr = lex
        .withColumn("lex_rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("lex").desc, col("doc_id"))))
        .filter(col("lex_rank") <= kList)
        .select(col("query_id"), col("doc_id"), col("lex_rank"))
      // THE SWAP: IVF probe at the scaled geometry, fusion untouched
      val nlist = math.max(16L, graft.sources.ParquetMeta.rowCount(emb) / 50).toInt
      val vecr = Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = kList, nlist = nlist, nprobe = 4)
        .select(col("query_id"), col("vec_id").as("doc_id"),
          col("rank").as("vec_rank"))
      val fused = lexr.join(vecr, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("rrf").desc, col("doc_id"))))
        .filter(col("rank") <= kOut)
        // consumed twice (vacuity guard + result): eager checkpoint so the
        // BM25+IVF pipeline executes once, not once per consumer
        .localCheckpoint(true)
      val alive = fused.groupBy(col("query_id")).agg(
        count(col("lex_rank")).as("nl"), count(col("vec_rank")).as("nv"))
      require(alive.filter(col("nl") === 0 || col("nv") === 0).isEmpty,
        "v34b fusion is vacuous — a ranker contributed nothing for some query")
      fused.select(col("query_id"), col("rank"), col("doc_id"), col("rrf"),
          col("lex_rank"), col("vec_rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val affCos = cosSql("b.emb", "cent.cemb")
      val icos = cosSql("q.emb", "t.emb")
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
         |  FROM documents),
         |dl AS (SELECT doc_id, CAST(length(toks) AS INTEGER) AS dl FROM toks),
         |stats AS (SELECT sum(dl) AS sum_dl, count(*) AS n_docs FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM toks) GROUP BY 1, 2),
         |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |bm AS (SELECT tf.doc_id, tf.term,
         |    ((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
         |      * (tf * CAST(2.2 AS DOUBLE))
         |      / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
         |         + CAST(0.75 AS DOUBLE) * dl / (sum_dl / n_docs))) AS bm25
         |  FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
         |qt AS (SELECT DISTINCT doc_id AS query_id, unnest(toks) AS term
         |  FROM toks WHERE doc_id < 10),
         |lex AS (SELECT q.query_id, b.doc_id,
         |    list_sum(list(b.bm25 ORDER BY b.term)) AS lex
         |  FROM bm b JOIN qt q USING (term) WHERE b.doc_id <> q.query_id
         |  GROUP BY 1, 2),
         |lexr AS (SELECT query_id, doc_id, CAST(rn AS INTEGER) AS lex_rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY lex DESC, doc_id) AS rn FROM lex) WHERE rn <= 20),
         |e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |nlv AS (SELECT greatest(16, count(*) // 50) AS nl FROM e),
         |cent AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // (SELECT nl FROM nlv)) = 0
         |  QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT nl FROM nlv)),
         |aff AS MATERIALIZED (SELECT b.vec_id, cent.cell, $affCos AS a FROM e b, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff WHERE vec_id < 10) WHERE rn <= 4),
         |iscored AS (SELECT p.query_id, s.vec_id AS doc_id, round($icos, 6) AS cos
         |  FROM probes p JOIN assign s ON s.cell = p.cell
         |  JOIN e q ON q.vec_id = p.query_id JOIN e t ON t.vec_id = s.vec_id
         |  WHERE s.vec_id <> p.query_id),
         |vecr AS (SELECT query_id, doc_id, CAST(rn AS INTEGER) AS vec_rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, doc_id) AS rn FROM iscored) WHERE rn <= 20),
         |fused AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |    coalesce(l.doc_id, v.doc_id) AS doc_id, l.lex_rank, v.vec_rank,
         |    coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), CAST(0 AS DOUBLE))
         |      + coalesce(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank), CAST(0 AS DOUBLE)) AS rrf
         |  FROM lexr l FULL OUTER JOIN vecr v
         |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, doc_id, rrf, lex_rank, vec_rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id) AS rn FROM fused) WHERE rn <= 10
         |ORDER BY query_id, rank""".stripMargin
    },
    "hybrid RRF at the scale configuration: the vector leg served by the scaled-nlist IVF probe (candidates/query ~constant at any corpus size), fusion unchanged — the swap v34's scaladoc names (LLM-pipeline op)")

  /** Greedy best-first graph search shared by v35/v35b/v36 — moved to
    * [[Similarity.beamSearchVisited]] so [[Similarity.graphInsert]] can
    * reuse it; kept as a local alias for the QueryDefs below. */
  private def beamSearchVisited(emb: org.apache.spark.sql.DataFrame,
                                edges: org.apache.spark.sql.DataFrame,
                                queries: org.apache.spark.sql.DataFrame,
                                seed: org.apache.spark.sql.DataFrame,
                                b: Int, r: Int): org.apache.spark.sql.DataFrame =
    Similarity.beamSearchVisited(emb, edges, queries, seed, b, r)

  /** DuckDB replay of [[Similarity.beamSearchVisited]]'s rounds, assuming
    * CTEs `${p}v0(query_id, vec_id, cos)`, `$edges(src, dst)`,
    * `$qs(query_id, q_vec)`, `$corpus(vec_id, emb)` are in scope; yields
    * `${p}v$rounds` as the final visited set. Frontier = top-B
    * not-yet-expanded (ANTI JOIN vs the expanded accumulator), exactly the
    * Spark loop. The `p` prefix keeps two searches in one WITH clause
    * collision-free (v36 runs the insert search and the eval search in one
    * oracle). */
  private[queries] def beamRoundsSql(rounds: Int, b: String, p: String = "",
                            edges: String = "edges", corpus: String = "e",
                            qs: String = "qs",
                            sxOverride: Option[String => String] = None): String = {
    val cosQ = cosSql("q.q_vec", "t.emb")
    (1 to rounds).map { r =>
      val frontierSrc =
        if (r == 1) s"${p}v0"
        else s"(SELECT v.* FROM ${p}v${r - 1} v ANTI JOIN ${p}e${r - 1} USING (query_id, vec_id))"
      // scoring body for this round's expansion set: exact cosine against
      // the corpus by default; v40 overrides with the PQ-ADC join (the
      // traversal must score from codes alone — the DiskANN discipline)
      val sxBody = sxOverride.map(f => f(s"${p}x$r")).getOrElse(
        s"""SELECT x.query_id, x.vec_id, round($cosQ, 6) AS cos
           |  FROM ${p}x$r x JOIN $corpus t ON t.vec_id = x.vec_id
           |  JOIN $qs q ON q.query_id = x.query_id""".stripMargin)
      s"""${p}f$r AS MATERIALIZED (SELECT query_id, vec_id, cos FROM $frontierSrc
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= $b),
         |${p}e$r AS MATERIALIZED (${if (r == 1) "" else s"SELECT query_id, vec_id FROM ${p}e${r - 1} UNION "}SELECT query_id, vec_id FROM ${p}f$r),
         |${p}x$r AS (SELECT DISTINCT f.query_id, ed.dst AS vec_id
         |  FROM ${p}f$r f JOIN $edges ed ON ed.src = f.vec_id),
         |${p}sx$r AS ($sxBody),
         |${p}v$r AS MATERIALIZED (SELECT * FROM ${p}v${r - 1} UNION SELECT * FROM ${p}sx$r)""".stripMargin
    }.mkString(",\n")
  }

  /** GRAPH-ANN BEAM SEARCH (v35) — the navigable-graph search primitive of
    * the HNSW/NSG family, over the directed IVF-kNN graph at the SCALED
    * nlist geometry (v17b's `max(16, n/50)` — the frozen-16 edge build
    * measured 48x at 10x data; scaled it is 6x, and the shared CTE keeps
    * graph and search drift-free; k=5 out-edges per node): from one
    * global entry point (min vec_id), R=3 rounds of best-first expansion —
    * expand the beam's out-neighbors, score cos(query, node) rounded to
    * 6 dp (the family's ordering discipline), keep the top-B=4 of
    * EVERYTHING visited — then emit the top-K=3 visited per query with a
    * `hit` flag against the exact brute-force top-K. Every step is a pure
    * deterministic function of (graph, entry, rounded cos, vec_id
    * tie-break), so the whole search REPLAYS in SQL as R unrolled
    * CTE rounds — no recursion, plain UNION dedups because both engines
    * compute bit-identical doubles. The hash therefore pins the search
    * PATH (what was visited and kept), not just the result.
    *
    * Scale: per round one join of |beam|·Q rows against the edge table
    * (equi-keyed on the node id) + one bounded top-B — never a corpus
    * scan; the graph itself is v17's banded construction. Visited stays
    * ≤ 1 + R·B·k rows per query. The recall flag needs the brute-force
    * truth only for the Q bench queries (Q·n, not n²). */
  val v35 = QueryDef(
    "v35_graph_ann_beam",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      VectorFunctions.register(spark)
      val B = 4; val R = 3; val K = 3
      // repartition BEFORE the checkpoint: the driver tables are single
      // parquet files, so the scan is ONE partition and localCheckpoint
      // preserves it — every per-row assignment/encode stage downstream
      // would run serially (the r14 single-file-scan lesson; hash-neutral,
      // all downstream ops are per-row or fully tie-broken windows)
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
      // scaled nlist (v17b): per-cell membership stays ~50, so the edge
      // build is linear at every SF — the frozen-16 geometry reads 48x at
      // 10x the data (measured), exactly the r7 frozen-parameter caveat
      val nlist = math.max(16L, graft.sources.ParquetMeta.rowCount(
        Tables.embeddings(spark, dir)) / 50).toInt
      val edges = Similarity.ivfTopK(emb, emb, VectorFunctions.cosineSim,
          k = 5, nlist = nlist, nprobe = scaledNprobe(nlist))
        .select(col("query_id").as("src"), col("vec_id").as("dst"))
        .localCheckpoint(true)
      // bench queries CAPPED at <= 41 ids at every SF: the truth column
      // (recall ground truth) costs Q x n — a Q that grows with n would
      // make the EVAL quadratic even though the search itself is bounded
      val qPred = pmod(col("vec_id"), lit(53)) === 0 &&
        col("vec_id") <= lit(53L * 40)
      val queries = emb.filter(qPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
        .localCheckpoint(true)
      val entry = emb.agg(min(col("vec_id"))).head().getLong(0)
      val visited = beamSearchVisited(emb, edges, queries,
        queries.select(col("query_id"), lit(entry).as("vec_id")), B, R)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val truth = Similarity.bruteForceTopK(
          emb.filter(qPred), emb,
          VectorFunctions.cosineSim, k = K)
        .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
      val found = visited.filter(col("vec_id") =!= col("query_id"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      val out = found.join(truth, Seq("query_id", "vec_id"), "left")
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("vec_id"), col("cos"), coalesce(col("hit"), lit(0)).as("hit"))
        .orderBy(col("query_id"), col("rank"))
        .localCheckpoint(true)
      val q = queries.count()
      require(out.count() == q * K, "every query must emit exactly K rows")
      val hits = out.agg(sum(col("hit"))).head().getLong(0)
      require(hits > 0 && hits < q * K,
        "hit flag vacuous: need found AND missed true neighbors live " +
          "(measured 5/30 at sf0.01, 6/114 at sf0.1 — a flat kNN graph " +
          "without HNSW's long-range layers is weakly navigable from one " +
          "entry, which is the honest physics this row pins)")
      out
    },
    Some {
      val cosQ = cosSql("q.q_vec", "t.emb")
      s"""WITH $knnEdgeCtesScaled,
         |edges AS (SELECT query_id AS src, vec_id AS dst FROM knn),
         |qs AS (SELECT vec_id AS query_id, emb AS q_vec FROM e
         |       WHERE vec_id % 53 = 0 AND vec_id <= 53 * 40),
         |entry AS (SELECT min(vec_id) AS ev FROM e),
         |v0 AS (SELECT q.query_id, t.vec_id, round($cosQ, 6) AS cos
         |  FROM qs q, e t, entry WHERE t.vec_id = entry.ev),
         |${beamRoundsSql(3, "4")},
         |found AS (SELECT query_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
         |  FROM v3 WHERE vec_id <> query_id
         |  QUALIFY rank <= 3),
         |truth AS (SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, t.vec_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round($cosQ, 6) DESC, t.vec_id) AS rn
         |    FROM qs q JOIN e t ON t.vec_id <> q.query_id) WHERE rn <= 3)
         |SELECT f.query_id, f.rank, f.vec_id, f.cos,
         |       CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |FROM found f LEFT JOIN truth t USING (query_id, vec_id)
         |ORDER BY query_id, rank""".stripMargin
    },
    "graph-ANN beam search (HNSW-family primitive): best-first expansion over the shared IVF-kNN graph from a global entry point, deterministic 6dp ordering — the hash pins the search path; hit flag vs exact top-K")

  /** MULTI-ENTRY graph-ANN beam search (v35b) — the engineering answer to
    * the navigability physics v35 pins: instead of one global entry, seed
    * the search with ONE ENTRY PER IVF CELL (the same `vec_id % step`
    * seeding rule the shared CTE uses for centroids — the DiskANN/IVF-graph
    * hybrid idea: routing points double as graph entries) and a B=8 / R=4
    * frontier budget. Measured recall 16/30 at sf0.01 and 51/114 at
    * sf0.1 — far above single-entry v35 (5/30, 6/114); the require pins the
    * probed band from BOTH sides (the d49 lesson). Same deterministic
    * replay discipline; entry scoring costs Q·nlist rows (nlist ~ n/50,
    * Q capped — linear, not quadratic). */
  val v35b = QueryDef(
    "v35b_graph_ann_multientry",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      VectorFunctions.register(spark)
      val R = 4; val K = 3
      // repartition BEFORE the checkpoint: the driver tables are single
      // parquet files, so the scan is ONE partition and localCheckpoint
      // preserves it — every per-row assignment/encode stage downstream
      // would run serially (the r14 single-file-scan lesson; hash-neutral,
      // all downstream ops are per-row or fully tie-broken windows)
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
      val n = graft.sources.ParquetMeta.rowCount(Tables.embeddings(spark, dir))
      val nlist = math.max(16L, n / 50).toInt
      // beam scales with the graph like its siblings (rule 12; identity
      // B=8 at sf<=0.1) — the frozen B=8 drowned in the 10x entry fan-in
      // at sf1 (22/114 vs the >=1/3 band; the r12 v36-v38 fix, applied
      // here too after the r13 full-suite sf1 run caught it)
      val B = scaledBeam(nlist)
      val step = math.max(1L, n / nlist)
      val edges = Similarity.ivfTopK(emb, emb, VectorFunctions.cosineSim,
          k = 5, nlist = nlist, nprobe = scaledNprobe(nlist))
        .select(col("query_id").as("src"), col("vec_id").as("dst"))
        .localCheckpoint(true)
      val qPred = pmod(col("vec_id"), lit(53)) === 0 &&
        col("vec_id") <= lit(53L * 40)
      val queries = emb.filter(qPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
        .localCheckpoint(true)
      // one entry per cell: the centroid seed rows themselves
      val entries = emb.filter(pmod(col("vec_id"), lit(step)) === 0)
        .orderBy(col("vec_id")).limit(nlist).select(col("vec_id"))
      val visited = beamSearchVisited(emb, edges, queries,
        queries.select(col("query_id")).crossJoin(entries), B, R)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val truth = Similarity.bruteForceTopK(
          emb.filter(qPred), emb,
          VectorFunctions.cosineSim, k = K)
        .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
      val found = visited.filter(col("vec_id") =!= col("query_id"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      val out = found.join(truth, Seq("query_id", "vec_id"), "left")
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("vec_id"), col("cos"), coalesce(col("hit"), lit(0)).as("hit"))
        .orderBy(col("query_id"), col("rank"))
        .localCheckpoint(true)
      val q = queries.count()
      require(out.count() == q * K, "every query must emit exactly K rows")
      val hits = out.agg(sum(col("hit"))).head().getLong(0)
      require(hits * 3 > q * K && hits < q * K,
        s"multi-entry recall out of the pinned band (got $hits of ${q * K}) — " +
          "measured 16/30 at sf0.01, 51/114 at sf0.1: per-cell entries + " +
          "frontier expansion clear 1/3 where single-entry v35 sits near " +
          "chance; misses must stay live too (flat-graph physics)")
      out
    },
    Some {
      val cosQ = cosSql("q.q_vec", "t.emb")
      s"""WITH $knnEdgeCtesScaled,
         |edges AS (SELECT query_id AS src, vec_id AS dst FROM knn),
         |qs AS (SELECT vec_id AS query_id, emb AS q_vec FROM e
         |       WHERE vec_id % 53 = 0 AND vec_id <= 53 * 40),
         |ent AS (SELECT vec_id FROM e
         |  WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // (SELECT nl FROM nlv)) = 0
         |  QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT nl FROM nlv)),
         |v0 AS (SELECT q.query_id, t.vec_id, round($cosQ, 6) AS cos
         |  FROM qs q CROSS JOIN ent JOIN e t ON t.vec_id = ent.vec_id),
         |${beamRoundsSql(4, scaledBeamSql)},
         |found AS (SELECT query_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
         |  FROM v4 WHERE vec_id <> query_id
         |  QUALIFY rank <= 3),
         |truth AS (SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, t.vec_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round($cosQ, 6) DESC, t.vec_id) AS rn
         |    FROM qs q JOIN e t ON t.vec_id <> q.query_id) WHERE rn <= 3)
         |SELECT f.query_id, f.rank, f.vec_id, f.cos,
         |       CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |FROM found f LEFT JOIN truth t USING (query_id, vec_id)
         |ORDER BY query_id, rank""".stripMargin
    },
    "multi-entry graph-ANN beam search: one entry per IVF cell (routing points double as graph entries — the DiskANN hybrid idea), recall required above 1/3 where single-entry v35 sits near 1/8")

  /** INCREMENTAL GRAPH-ANN INSERT (v36) — [[Similarity.graphInsert]], the
    * lifecycle verb v35/v35b lack: the corpus splits into a BASE
    * (vec_id % 9 ≠ 4, the pre-existing index) and a BATCH (vec_id % 9 = 4,
    * ~11% arriving later); the base graph is the v17b scaled-nlist IVF
    * build over the base alone, and each batch vector is inserted by
    * beam-searching the base graph from its routing points, connecting to
    * its top-M=5 visited nodes, and re-pruning the touched base nodes'
    * out-degree to 5 with the nearest connection's back-edge holding a
    * priority seat (the HNSW insert + neighbor-shrink, batch form —
    * without the seat 4 of 56 inserts orphaned on the spec fixture). The
    * row then runs the v35b eval over the GROWN graph against the UNION
    * corpus: top-K=3 per panel query, hit flag vs exact brute truth.
    * Requires pin (a) exactly K rows per query, (b) the recall band
    * measured at both SFs (grown-graph recall within the from-scratch
    * band — GraphInsertSpec additionally compares against the actual
    * from-scratch build), and (c) at least one INSERTED node retrieved
    * (the inserts are genuinely reachable — back-edges work; a
    * forward-only insert fails this).
    *
    * Every stage is deterministic (rounded cos + id tie-breaks), so base
    * build, batch insert, and eval search all REPLAY in one DuckDB WITH
    * clause — two beam searches distinguished by CTE prefix. Scale: the
    * insert is per-batch-vector bounded work (rounds × beam × out-degree,
    * never a corpus scan); at 100 TB batches stream in while the base
    * graph stays frozen between retrains (the v13/v15/v19 discipline). */
  val v36 = QueryDef(
    "v36_graph_ann_insert",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      VectorFunctions.register(spark)
      val R = 4; val K = 3 // eval rounds (v35b's)
      // repartition BEFORE the checkpoint: the driver tables are single
      // parquet files, so the scan is ONE partition and localCheckpoint
      // preserves it — every per-row assignment/encode stage downstream
      // would run serially (the r14 single-file-scan lesson; hash-neutral,
      // all downstream ops are per-row or fully tie-broken windows)
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
      val isNew = pmod(col("vec_id"), lit(9)) === 4
      val base = emb.filter(!isNew).localCheckpoint(true)
      val nbase = base.count()
      val nlist = math.max(16L, nbase / 50).toInt
      val B = scaledBeam(nlist) // data-derived width (see scaledBeam)
      val stride = math.max(1L, nbase / nlist)
      val baseEdges = Similarity.ivfTopK(base, base,
          VectorFunctions.cosineSim, k = 5, nlist = nlist, nprobe = scaledNprobe(nlist))
        .select(col("query_id").as("src"), col("vec_id").as("dst"),
          col("cos"))
        .localCheckpoint(true)
      val entries = base.filter(pmod(col("vec_id"), lit(stride)) === 0)
        .orderBy(col("vec_id")).limit(nlist).select(col("vec_id"))
        .localCheckpoint(true)
      val grown = Similarity.graphInsert(base, baseEdges, emb.filter(isNew),
          entries, beam = B, rounds = 3, m = 5, outDegree = 5)
        .select(col("src"), col("dst")).localCheckpoint(true)
      val qPred = pmod(col("vec_id"), lit(53)) === 0 &&
        col("vec_id") <= lit(53L * 40)
      val queries = emb.filter(qPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
        .localCheckpoint(true)
      val visited = beamSearchVisited(emb, grown, queries,
        queries.select(col("query_id")).crossJoin(entries), B, R)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val truth = Similarity.bruteForceTopK(emb.filter(qPred), emb,
          VectorFunctions.cosineSim, k = K)
        .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
      val found = visited.filter(col("vec_id") =!= col("query_id"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      val out = found.join(truth, Seq("query_id", "vec_id"), "left")
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("vec_id"), col("cos"), coalesce(col("hit"), lit(0)).as("hit"))
        .orderBy(col("query_id"), col("rank"))
        .localCheckpoint(true)
      val q = queries.count()
      require(out.count() == q * K, "every query must emit exactly K rows")
      val hits = out.agg(sum(col("hit"))).head().getLong(0)
      require(hits * 3 > q * K && hits < q * K,
        s"grown-graph recall out of the pinned band (got $hits of ${q * K})")
      val newFound = out.filter(pmod(col("vec_id"), lit(9)) === 4).count()
      require(newFound > 0,
        "no inserted node was ever retrieved — inserts unreachable " +
          "(back-edges missing or insert search dead)")
      out
    },
    Some {
      val cosQ = cosSql("q.q_vec", "t.emb")
      val cosI = cosSql("q.q_vec", "t.emb")
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |base AS MATERIALIZED (SELECT * FROM e WHERE vec_id % 9 <> 4),
         |${knnEdgeStagesFor("base")},
         |bedges AS MATERIALIZED (SELECT query_id AS src, vec_id AS dst, cos FROM knn),
         |iedges AS MATERIALIZED (SELECT src, dst FROM bedges),
         |ent AS MATERIALIZED (SELECT vec_id FROM base
         |  WHERE vec_id % greatest(1, (SELECT count(*) FROM base) // (SELECT nl FROM nlv)) = 0
         |  QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT nl FROM nlv)),
         |nq AS (SELECT vec_id AS query_id, emb AS q_vec FROM e WHERE vec_id % 9 = 4),
         |iv0 AS (SELECT q.query_id, t.vec_id, round($cosI, 6) AS cos
         |  FROM nq q CROSS JOIN ent JOIN base t ON t.vec_id = ent.vec_id),
         |${beamRoundsSql(3, scaledBeamSql, p = "i", edges = "iedges", corpus = "base", qs = "nq")},
         |conn AS MATERIALIZED (SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM iv3 QUALIFY rn <= 5),
         |rev AS (SELECT vec_id AS src, query_id AS dst, cos,
         |    CASE WHEN rn = 1 THEN 0 ELSE 1 END AS pri FROM conn),
         |grownb AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT src, dst, cos, 1 AS pri FROM bedges
         |    UNION ALL SELECT src, dst, cos, pri FROM rev)
         |  QUALIFY row_number() OVER (PARTITION BY src ORDER BY pri, cos DESC, dst) <= 5),
         |edges AS MATERIALIZED (SELECT src, dst FROM grownb
         |  UNION ALL SELECT query_id AS src, vec_id AS dst FROM conn),
         |qs AS (SELECT vec_id AS query_id, emb AS q_vec FROM e
         |       WHERE vec_id % 53 = 0 AND vec_id <= 53 * 40),
         |v0 AS (SELECT q.query_id, t.vec_id, round($cosQ, 6) AS cos
         |  FROM qs q CROSS JOIN ent JOIN e t ON t.vec_id = ent.vec_id),
         |${beamRoundsSql(4, scaledBeamSql)},
         |found AS (SELECT query_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
         |  FROM v4 WHERE vec_id <> query_id
         |  QUALIFY rank <= 3),
         |truth AS (SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, t.vec_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round($cosQ, 6) DESC, t.vec_id) AS rn
         |    FROM qs q JOIN e t ON t.vec_id <> q.query_id) WHERE rn <= 3)
         |SELECT f.query_id, f.rank, f.vec_id, f.cos,
         |       CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |FROM found f LEFT JOIN truth t USING (query_id, vec_id)
         |ORDER BY query_id, rank""".stripMargin
    },
    "incremental graph-ANN insert (HNSW insert, batch form): beam-search the base graph, connect top-M reciprocal edges with neighbor-shrink, eval over the union corpus — inserted nodes required reachable")

  /** GRAPH-ANN DELETE + CONSOLIDATION (v37) — [[Similarity.graphDelete]],
    * the lifecycle verb completing build (v17b) → insert (v36) → delete:
    * every 11th node tombstones out of the scaled kNN graph, nodes that
    * pointed at a deleted one inherit its live out-neighbors (the
    * Vamana/DiskANN "donate your neighbors" repair — without it a deleted
    * hub shatters the paths through it), candidates score by real cosine
    * and re-prune with survivors to out-degree 5. The row then runs the
    * v35b-style eval over the repaired graph (live entries, live truth)
    * and `require`s: zero edges touch a deleted node, the repair actually
    * donated edges (teeth), K rows per live query, and the recall band.
    * The delete is pure relational algebra — the oracle mirrors it
    * directly, no insert-search unroll needed. */
  val v37 = QueryDef(
    "v37_graph_ann_delete",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      VectorFunctions.register(spark)
      val R = 4; val K = 3
      // repartition BEFORE the checkpoint: the driver tables are single
      // parquet files, so the scan is ONE partition and localCheckpoint
      // preserves it — every per-row assignment/encode stage downstream
      // would run serially (the r14 single-file-scan lesson; hash-neutral,
      // all downstream ops are per-row or fully tie-broken windows)
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
      val n = graft.sources.ParquetMeta.rowCount(Tables.embeddings(spark, dir))
      val nlist = math.max(16L, n / 50).toInt
      val B = scaledBeam(nlist) // data-derived width (see scaledBeam)
      val step = math.max(1L, n / nlist)
      val edges = Similarity.ivfTopK(emb, emb, VectorFunctions.cosineSim,
          k = 5, nlist = nlist, nprobe = scaledNprobe(nlist))
        .select(col("query_id").as("src"), col("vec_id").as("dst"),
          col("cos"))
        .localCheckpoint(true)
      val isDead = pmod(col("vec_id"), lit(11)) === 3
      val dead = emb.filter(isDead).select(col("vec_id"))
      val repaired = Similarity.graphDelete(emb, edges, dead,
          VectorFunctions.cosineSim).localCheckpoint(true)
      // teeth: nothing touches a deleted node; the repair donated edges
      require(repaired.join(dead.withColumnRenamed("vec_id", "src")
          .hint("broadcast"), Seq("src")).count() == 0 &&
        repaired.join(dead.withColumnRenamed("vec_id", "dst")
          .hint("broadcast"), Seq("dst")).count() == 0,
        "an edge still touches a deleted node")
      val preKept = edges
        .join(dead.withColumnRenamed("vec_id", "src"), Seq("src"), "left_anti")
        .join(dead.withColumnRenamed("vec_id", "dst"), Seq("dst"), "left_anti")
      require(repaired.count() > preKept.count(),
        "consolidation donated nothing — the repair path is dead")
      // eval over the repaired graph: live entries, live panel, live truth
      val live = emb.filter(!isDead).localCheckpoint(true)
      val qPred = pmod(col("vec_id"), lit(53)) === 0 &&
        col("vec_id") <= lit(53L * 40) && !isDead
      val queries = live.filter(qPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
        .localCheckpoint(true)
      val entries = emb.filter(pmod(col("vec_id"), lit(step)) === 0)
        .orderBy(col("vec_id")).limit(nlist)
        .filter(!isDead).select(col("vec_id"))
      val visited = beamSearchVisited(live,
        repaired.select(col("src"), col("dst")), queries,
        queries.select(col("query_id")).crossJoin(entries), B, R)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val truth = Similarity.bruteForceTopK(live.filter(qPred), live,
          VectorFunctions.cosineSim, k = K)
        .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
      val found = visited.filter(col("vec_id") =!= col("query_id"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      val out = found.join(truth, Seq("query_id", "vec_id"), "left")
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("vec_id"), col("cos"), coalesce(col("hit"), lit(0)).as("hit"))
        .orderBy(col("query_id"), col("rank"))
        .localCheckpoint(true)
      val q = queries.count()
      require(out.count() == q * K, "every live query must emit exactly K rows")
      val hits = out.agg(sum(col("hit"))).head().getLong(0)
      require(hits * 3 > q * K && hits < q * K,
        s"post-delete recall out of the pinned band (got $hits of ${q * K})")
      out
    },
    Some {
      val cosQ = cosSql("q.q_vec", "t.emb")
      val cosP = cosSql("u.emb", "x.emb")
      s"""WITH $knnEdgeCtesScaled,
         |edges AS MATERIALIZED (SELECT query_id AS src, vec_id AS dst, cos FROM knn),
         |dead AS (SELECT vec_id FROM e WHERE vec_id % 11 = 3),
         |donor AS (SELECT src AS d, dst AS x FROM edges
         |  WHERE src IN (SELECT vec_id FROM dead)),
         |livesrc AS (SELECT * FROM edges
         |  WHERE src NOT IN (SELECT vec_id FROM dead)),
         |intodead AS (SELECT src AS u, dst AS d FROM livesrc
         |  WHERE dst IN (SELECT vec_id FROM dead)),
         |donated AS (SELECT DISTINCT i.u AS src, dn.x AS dst
         |  FROM intodead i JOIN donor dn ON dn.d = i.d
         |  WHERE dn.x <> i.u AND dn.x NOT IN (SELECT vec_id FROM dead)),
         |dscored AS (SELECT dn.src, dn.dst, round($cosP, 6) AS cos
         |  FROM donated dn JOIN e u ON u.vec_id = dn.src
         |  JOIN e x ON x.vec_id = dn.dst),
         |kept AS (SELECT src, dst, cos FROM livesrc
         |  WHERE dst NOT IN (SELECT vec_id FROM dead)),
         |g AS MATERIALIZED (SELECT src, dst, cos FROM (
         |    SELECT DISTINCT * FROM (
         |      SELECT * FROM kept UNION ALL SELECT * FROM dscored))
         |  QUALIFY row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) <= 5),
         |lv AS MATERIALIZED (SELECT * FROM e WHERE vec_id % 11 <> 3),
         |qs AS (SELECT vec_id AS query_id, emb AS q_vec FROM lv
         |       WHERE vec_id % 53 = 0 AND vec_id <= 53 * 40),
         |ent AS (SELECT vec_id FROM (SELECT vec_id FROM e
         |    WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // (SELECT nl FROM nlv)) = 0
         |    QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT nl FROM nlv))
         |  WHERE vec_id % 11 <> 3),
         |gedges AS (SELECT src, dst FROM g),
         |v0 AS (SELECT q.query_id, t.vec_id, round($cosQ, 6) AS cos
         |  FROM qs q CROSS JOIN ent JOIN lv t ON t.vec_id = ent.vec_id),
         |${beamRoundsSql(4, scaledBeamSql, edges = "gedges", corpus = "lv")},
         |found AS (SELECT query_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
         |  FROM v4 WHERE vec_id <> query_id
         |  QUALIFY rank <= 3),
         |truth AS (SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, t.vec_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round($cosQ, 6) DESC, t.vec_id) AS rn
         |    FROM qs q JOIN lv t ON t.vec_id <> q.query_id) WHERE rn <= 3)
         |SELECT f.query_id, f.rank, f.vec_id, f.cos,
         |       CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |FROM found f LEFT JOIN truth t USING (query_id, vec_id)
         |ORDER BY query_id, rank""".stripMargin
    },
    "graph-ANN delete with Vamana-style consolidation: tombstoned nodes fully unlinked, their live out-neighbors donated to pointing nodes and re-pruned — repair required to donate, recall band pinned over the repaired graph")

  /** FILTERED GRAPH-ANN SEARCH (v38) — the filtered-serving pattern every
    * production vector store names (tenant/metadata predicates on HNSW):
    * top-K SAME-LABEL neighbors per panel query, served by the v35b-style
    * beam over the scaled kNN graph with the traversal UNFILTERED (the
    * graph routes through non-matching nodes — hard-filtering the
    * traversal disconnects it under selective predicates) and the
    * predicate applied to the VISITED set before the top-K, with the
    * BUDGET EXPANDED to B=1.5×[[scaledBeam]] / R=5 where the unfiltered
    * rows run [[scaledBeam]]/4 (12/5 vs 8/4 at driver-tested SFs, 48/5 at
    * the 10× replica where +4 was measured insufficient) — the ef-boost
    * every filtered-HNSW implementation applies, because the
    * ~10%-selective predicate discards ~90% of the visited set (at 8/4
    * the band failed at sf0.1: 28/114). The row `require`s every query
    * emits exactly K matching rows and pins the recall band vs the exact
    * same-label truth. Under far more selective predicates the honest
    * move is a label-partitioned index (v16's filtered IVF). */
  val v38 = QueryDef(
    "v38_graph_ann_filtered",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      VectorFunctions.register(spark)
      val R = 5; val K = 3
      // repartition before the checkpoint — the r14 single-file-scan lesson
      // (see v35); hash-neutral
      val embL = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), col("label"))
        .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
      val emb = embL.select(col("vec_id"), col("embedding"))
      val n = graft.sources.ParquetMeta.rowCount(Tables.embeddings(spark, dir))
      val nlist = math.max(16L, n / 50).toInt
      val B = math.max(scaledBeam(nlist) * 3 / 2, nlist / 4) // ef-boost: see scaladoc
      val step = math.max(1L, n / nlist)
      val edges = Similarity.ivfTopK(emb, emb, VectorFunctions.cosineSim,
          k = 5, nlist = nlist, nprobe = scaledNprobe(nlist))
        .select(col("query_id").as("src"), col("vec_id").as("dst"))
        .localCheckpoint(true)
      val qPred = pmod(col("vec_id"), lit(53)) === 0 &&
        col("vec_id") <= lit(53L * 40)
      val queries = embL.filter(qPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
        .localCheckpoint(true)
      val entries = emb.filter(pmod(col("vec_id"), lit(step)) === 0)
        .orderBy(col("vec_id")).limit(nlist).select(col("vec_id"))
      val visited = beamSearchVisited(emb, edges,
        queries.select(col("query_id"), col("q_vec")),
        queries.select(col("query_id")).crossJoin(entries), B, R)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      // predicate on the RESULTS, not the traversal
      val matching = visited
        .join(broadcast(queries.select(col("query_id"), col("q_label"))),
          Seq("query_id"))
        .join(embL.select(col("vec_id"), col("label")), Seq("vec_id"))
        .filter(col("label") === col("q_label") &&
          col("vec_id") =!= col("query_id"))
      val found = matching
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      // exact same-label truth (label-blocked — Q x |label|, never n^2)
      val truth = queries.select(col("query_id"), col("q_vec"), col("q_label"))
        .join(embL.select(col("vec_id"), col("embedding").as("c_vec"),
          col("label").as("q_label")), Seq("q_label"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(VectorFunctions.cosineSim(col("q_vec"), col("c_vec")), 6)
            .as("tcos"))
        .withColumn("trn", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("tcos").desc, col("vec_id"))))
        .filter(col("trn") <= K)
        .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
      val out = found.join(truth, Seq("query_id", "vec_id"), "left")
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("vec_id"), col("label"), col("cos"),
          coalesce(col("hit"), lit(0)).as("hit"))
        .orderBy(col("query_id"), col("rank"))
        .localCheckpoint(true)
      val q = queries.count()
      require(out.count() == q * K,
        "every query must emit exactly K same-label rows " +
          "(budget too small for the filter selectivity)")
      val hits = out.agg(sum(col("hit"))).head().getLong(0)
      require(hits * 3 > q * K && hits < q * K,
        s"filtered recall out of the pinned band (got $hits of ${q * K})")
      out
    },
    Some {
      val cosQ = cosSql("q.q_vec", "t.emb")
      val cosT = cosSql("q.q_vec", "c.emb")
      s"""WITH $knnEdgeCtesScaled,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |edges AS MATERIALIZED (SELECT query_id AS src, vec_id AS dst FROM knn),
         |qs AS (SELECT e.vec_id AS query_id, e.emb AS q_vec, lab.label AS q_label
         |       FROM e JOIN lab ON lab.vec_id = e.vec_id
         |       WHERE e.vec_id % 53 = 0 AND e.vec_id <= 53 * 40),
         |ent AS (SELECT vec_id FROM e
         |  WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // (SELECT nl FROM nlv)) = 0
         |  QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT nl FROM nlv)),
         |v0 AS (SELECT q.query_id, t.vec_id, round($cosQ, 6) AS cos
         |  FROM qs q CROSS JOIN ent JOIN e t ON t.vec_id = ent.vec_id),
         |${beamRoundsSql(5, s"greatest((3 * $scaledBeamSql) // 2, (SELECT nl FROM nlv) // 4)")},
         |found AS (SELECT v.query_id, v.vec_id, l.label, v.cos,
         |    CAST(row_number() OVER (PARTITION BY v.query_id
         |      ORDER BY v.cos DESC, v.vec_id) AS INTEGER) AS rank
         |  FROM v5 v JOIN qs q ON q.query_id = v.query_id
         |  JOIN lab l ON l.vec_id = v.vec_id
         |  WHERE l.label = q.q_label AND v.vec_id <> v.query_id
         |  QUALIFY rank <= 3),
         |truth AS (SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, c.vec_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round($cosT, 6) DESC, c.vec_id) AS rn
         |    FROM qs q
         |    JOIN lab cl ON cl.label = q.q_label
         |    JOIN e c ON c.vec_id = cl.vec_id AND c.vec_id <> q.query_id)
         |  WHERE rn <= 3)
         |SELECT f.query_id, f.rank, f.vec_id, f.label, f.cos,
         |       CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |FROM found f LEFT JOIN truth t USING (query_id, vec_id)
         |ORDER BY query_id, rank""".stripMargin
    },
    "filtered graph-ANN search: same-label top-K served by the unfiltered beam traversal + predicate on the visited set — exactly-K matching rows and recall band required at ~10% selectivity (LLM-pipeline op)")

  /** INDEX SEGMENT MERGE (v39) — [[graft.operators.VectorIndex.merge]],
    * the distributed-build verb the persisted-index lifecycle was missing:
    * calibrate meta ONCE over the corpus sample ([[graft.operators.VectorIndex.buildMeta]]),
    * encode two disjoint shards into two independent indexes (where the
    * data lives — no cross-shard traffic), then MERGE by cell-partition
    * file copy — no re-encode, no corpus scan (Lucene segment merge /
    * FAISS `merge_from`). Because codes are a pure function of (vector,
    * frozen meta), the merged index is bit-identical to v13's one-shot
    * build over the union, so the oracle is v13's verbatim. `require`s
    * pin the no-re-encode contract at the FILE level: every shard part
    * file survives into the merged generation under the same name. */
  val v39 = QueryDef(
    "v39_index_merge",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val emb = Tables.embeddings(spark, dir)
      val a = new graft.operators.VectorIndex(spark,
        FixtureDirs.create("v39-a-").toString, nlist = 16)
      val b = new graft.operators.VectorIndex(spark,
        FixtureDirs.create("v39-b-").toString, nlist = 16)
      // one calibration (deterministic stride sample of the SAME corpus),
      // two shard encodes — the codes-are-pure-function discipline
      a.buildMeta(emb); b.buildMeta(emb)
      a.append(emb.filter(pmod(col("vec_id"), lit(2)) === 0))
      b.append(emb.filter(pmod(col("vec_id"), lit(2)) === 1))
      def partFiles(ix: graft.operators.VectorIndex): Set[String] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ix.liveRoot.resolve("index"))
          .iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
      }
      val shardFiles = partFiles(a) ++ partFiles(b)
      a.merge(b)
      val mergedFiles = partFiles(a)
      require(shardFiles.subsetOf(mergedFiles),
        "merge re-encoded or dropped shard files — it must be a file union")
      a.query(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5, nprobe = 4, shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(ivfPqOracle()),
    "IVF-PQ index segment merge: shard indexes calibrated on one meta fold by cell-file copy (no re-encode, no corpus scan) — merged index bit-identical to the one-shot build, proven by v13's oracle verbatim (LLM-pipeline op)")

  /** PQ-COMPRESSED GRAPH TRAVERSAL (v40) — the DiskANN serving shape, the
    * missing composition between the graph family (v35–v38: exact-cosine
    * traversal) and the PQ family (v09–v12: flat-scan ADC): beam search
    * over the kNN graph where the TRAVERSAL scores by negated PQ-ADC —
    * `m` lookups against the query's broadcast distance table over each
    * node's 32-bit code — so the walk never touches a corpus vector; the
    * visited set (≤ 1 + R·B·k per query) is then reranked by EXACT cosine,
    * fetching only those vectors. At billion scale this is why the graph
    * fits: codes in RAM (32 bits/vector — 128× smaller than the float64
    * embedding), full vectors on cold storage, touched `|visited|` times
    * per query instead of per hop. Same deterministic replay discipline
    * as v35/v35b (round(−adist, 6) ordering, negate-then-round mirrors —
    * round is half-away-from-zero in both engines); the hash pins the
    * ADC-guided search path, and the `hit` flags measure what PQ
    * quantization costs the walk vs v35b's exact-cosine traversal on the
    * same graph, entries, and budget.
    *
    * Scale: per round |beam|·Q rows join the edge table and the code
    * table (both equi-keyed); dist tables are m·ksub doubles per query,
    * broadcast. The exact stage reads Q·|visited| vectors, not the
    * corpus. */
  val v40 = QueryDef(
    "v40_graph_ann_pq",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      VectorFunctions.register(spark)
      val K = 3; val R = 4; val M = 8; val KSUB = 16; val DIMS = 64
      val dsub = DIMS / M
      // repartition BEFORE the checkpoint: the driver tables are single
      // parquet files, so the scan is ONE partition and localCheckpoint
      // preserves it — every per-row assignment/encode stage downstream
      // would run serially (the r14 single-file-scan lesson; hash-neutral,
      // all downstream ops are per-row or fully tie-broken windows)
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
      val n = graft.sources.ParquetMeta.rowCount(Tables.embeddings(spark, dir))
      val nlist = math.max(16L, n / 50).toInt
      val step = math.max(1L, n / nlist)
      val B = scaledBeam(nlist)
      val edges = Similarity.ivfTopK(emb, emb, VectorFunctions.cosineSim,
          k = 5, nlist = nlist, nprobe = scaledNprobe(nlist))
        .select(col("query_id").as("src"), col("vec_id").as("dst"))
        .localCheckpoint(true)
      val qPred = pmod(col("vec_id"), lit(53)) === 0 &&
        col("vec_id") <= lit(53L * 40)
      val cb = Similarity.pqCodebook(emb, M, KSUB, DIMS)
      val codes = emb.select(col("vec_id"),
          VectorFunctions.pqEncode(col("embedding"), cb, M, KSUB, dsub).as("code"))
        .localCheckpoint(true)
      val qtabs = emb.filter(qPred)
        .select(col("vec_id").as("query_id"),
          VectorFunctions.pqDistTable(col("embedding"), cb, M, KSUB, dsub).as("dtab"))
        .localCheckpoint(true)
      // one entry per IVF cell (v35b's finding: single-entry is weakly
      // navigable on a flat graph), seeded for every query — bounded Q·nlist
      val entries = emb.filter(pmod(col("vec_id"), lit(step)) === 0)
        .orderBy(col("vec_id")).limit(nlist).select(col("vec_id"))
      val seed = qtabs.select(col("query_id")).crossJoin(entries)
      val visited = Similarity.beamSearchPq(codes, edges, qtabs, seed,
        b = B, r = R, m = M, ksub = KSUB)
      // exact second stage: fetch full vectors for the visited set only
      val queries = emb.filter(qPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val found = visited.filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"))
        .join(emb, "vec_id").join(queries.hint("broadcast"), "query_id")
        .withColumn("cos",
          round(VectorFunctions.cosineSim(col("q_vec"), col("embedding")), 6))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      val truth = Similarity.bruteForceTopK(emb.filter(qPred), emb,
          VectorFunctions.cosineSim, k = K)
        .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
      val out = found.join(truth, Seq("query_id", "vec_id"), "left")
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("vec_id"), col("cos"), coalesce(col("hit"), lit(0)).as("hit"))
        .orderBy(col("query_id"), col("rank"))
        .localCheckpoint(true)
      val q = qtabs.count()
      require(out.count() == q * K, "every query must emit exactly K rows")
      val hits = out.agg(sum(col("hit"))).head().getLong(0)
      require(hits > 0 && hits < q * K,
        "hit flag vacuous: the PQ-guided walk must find AND miss true " +
          "neighbors (quantization costs the traversal some recall vs " +
          "v35b's exact-cosine walk — the honest price this row measures)")
      out
    },
    Some {
      val cosQ = cosSql("q.q_vec", "t.emb")
      val ksub = 16; val dsub = 8
      // traversal scoring from codes alone: enc(node) ⋈ qdist(query) on
      // (sub, c), summed in sub order (rule 9) and negated before the
      // 6dp round (round is half-away-from-zero in both engines)
      val adcSx = (x: String) =>
        s"""SELECT x.query_id, x.vec_id,
           |    round(-list_sum(list(qd.d ORDER BY qd.sub)), 6) AS cos
           |  FROM $x x JOIN enc t ON t.vec_id = x.vec_id
           |  JOIN qdist qd ON qd.query_id = x.query_id
           |    AND qd.sub = t.sub AND qd.c = t.c
           |  GROUP BY x.query_id, x.vec_id""".stripMargin
      s"""WITH $knnEdgeCtesScaled,
         |edges AS (SELECT query_id AS src, vec_id AS dst FROM knn),
         |qs AS (SELECT vec_id AS query_id, emb AS q_vec FROM e
         |       WHERE vec_id % 53 = 0 AND vec_id <= 53 * 40),
         |samp AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c, emb
         |  FROM e WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // $ksub) = 0
         |  ORDER BY vec_id LIMIT $ksub),
         |cbq AS (SELECT sub, c, list_slice(emb, sub*$dsub + 1, sub*$dsub + $dsub) AS w
         |  FROM samp, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS sub)),
         |pdist AS MATERIALIZED (SELECT e.vec_id, cbq.sub, cbq.c,
         |    list_sum([(e.emb[cbq.sub*$dsub + i] - cbq.w[i]) * (e.emb[cbq.sub*$dsub + i] - cbq.w[i])
         |              for i in generate_series(1, $dsub)]) AS d
         |  FROM e, cbq),
         |enc AS MATERIALIZED (SELECT vec_id, sub, c FROM (
         |    SELECT vec_id, sub, c, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, c ASC) AS rn
         |    FROM pdist) WHERE rn = 1),
         |qdist AS MATERIALIZED (SELECT q.query_id, d.sub, d.c, d.d
         |  FROM pdist d JOIN qs q ON d.vec_id = q.query_id),
         |ent AS (SELECT vec_id FROM e
         |  WHERE vec_id % greatest(1, (SELECT count(*) FROM e) // (SELECT nl FROM nlv)) = 0
         |  QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT nl FROM nlv)),
         |seed0 AS (SELECT q.query_id, ent.vec_id FROM qs q CROSS JOIN ent),
         |v0 AS (${adcSx("seed0")}),
         |${beamRoundsSql(4, scaledBeamSql, sxOverride = Some(adcSx))},
         |found AS (SELECT query_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
         |  FROM (SELECT v.query_id, v.vec_id, round($cosQ, 6) AS cos
         |        FROM v4 v JOIN e t ON t.vec_id = v.vec_id
         |        JOIN qs q ON q.query_id = v.query_id
         |        WHERE v.vec_id <> v.query_id)
         |  QUALIFY rank <= 3),
         |truth AS (SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, t.vec_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round($cosQ, 6) DESC, t.vec_id) AS rn
         |    FROM qs q JOIN e t ON t.vec_id <> q.query_id) WHERE rn <= 3)
         |SELECT f.query_id, f.rank, f.vec_id, f.cos,
         |       CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |FROM found f LEFT JOIN truth t USING (query_id, vec_id)
         |ORDER BY query_id, rank""".stripMargin
    },
    "PQ-compressed graph traversal (DiskANN shape): beam search scoring by negated ADC over 32-bit codes + broadcast distance tables — the walk never touches a corpus vector — then exact rerank of the visited set only; hash pins the quantization-guided path (LLM-pipeline op)")

  /** CLUSTERABLE-CORPUS kNN BUILD (v41) — the r14 scaling headline as a
    * CORRECTNESS row: [[Similarity.adaptiveIvfTopK]]'s margin rule holds the
    * probe width ~constant on data with REAL cluster structure (COVERAGE
    * "Scaling evidence (r14)": linear build across two decades, mean
    * n_probed 2.65→2.99 over 100× of corpus), where the driver's
    * deliberately structureless embeddings force nprobe ∝ nlist. The r14
    * evidence lived in `AdaptiveClusterSpec` + one-off probe runs only;
    * this row hash-verifies the whole path — corpus geometry, stride
    * centroids, margin-rule routing, candidate ranking — in BOTH engines at
    * every SF, and puts the adaptive build plan in the driver bench.
    *
    * The corpus is planted OUTSIDE the engines' RNGs so DuckDB can mirror
    * it bit-for-bit ([[graft.sources.SyntheticEmbeddings]] uses MurmurHash3
    * — deterministic but not portable): g = max(16, n/50) clusters over the
    * embeddings table's ids, cluster(v) = md5 4-nibble prefix mod g (Spark
    * `conv(...,16,10)`, DuckDB strpos-nibble arithmetic — the q30 pattern;
    * NEVER the string-hex cast, CLAUDE.md rule 4), center and noise
    * components = 2·(md5 8-nibble dyadic fraction)−1 per (cluster, dim) /
    * (vec_id, dim), vector = normalize(center + 0.75·noise) — every term
    * dyadic-exact, the normalization a sequential i-ascending fold both
    * engines compute identically (the cosSql contract). σ = 0.75 (exactly
    * dyadic) against the UNnormalized center (|c|² ≈ 64/3) lands the
    * probe-verified separation regime of real encoder output:
    * within-cluster cos med ≈ 0.64, cross-cluster p99 ≈ 0.27.
    *
    * Self-kNN over that corpus (the v17b build shape) with nlist = g and
    * the v32 margin rule: the in-row require pins mean n_probed ≤ 3.5 —
    * AdaptiveClusterSpec's regression band made oracle-enforced (measured
    * 1.73 at sf0.01, 2.34 at sf0.1) — so a margin-rule or generator
    * regression turns the row RED, not just a spec. `n_probed` rides the
    * output, so the hash pins the routing decision per query. */
  val v41 = QueryDef(
    "v41_clusterable_knn_build",
    (spark, dir) => {
      VectorFunctions.register(spark)
      val ids = Tables.embeddings(spark, dir).select(col("vec_id"))
      val n = graft.sources.ParquetMeta.rowCount(ids)
      val g = math.max(16L, n / 50).toInt
      val corpus = ids
        .select(col("vec_id"), explode(sequence(lit(0), lit(63))).as("i"))
        .withColumn("cl", expr(
          s"CAST(conv(substr(md5(concat('cl|', CAST(vec_id AS STRING))), 1, 4), 16, 10) AS BIGINT) % $g"))
        .withColumn("raw",
          expr("2.0D * (CAST(conv(substr(md5(concat('ct|', CAST(cl AS STRING), " +
            "'|', CAST(i AS STRING))), 1, 8), 16, 10) AS DOUBLE) / 4294967296.0D) - 1.0D") +
          lit(0.75) * expr("2.0D * (CAST(conv(substr(md5(concat('nz|', " +
            "CAST(vec_id AS STRING), '|', CAST(i AS STRING))), 1, 8), 16, 10) " +
            "AS DOUBLE) / 4294967296.0D) - 1.0D"))
        .groupBy(col("vec_id"))
        .agg(expr("transform(array_sort(collect_list(struct(i, raw))), s -> s.raw)")
          .as("rawArr"))
        .select(col("vec_id"), expr(
          "transform(rawArr, x -> x / sqrt(aggregate(rawArr, CAST(0.0 AS DOUBLE), (acc, y) -> acc + y * y)))")
          .as("embedding"))
        // the generated corpus is consumed by centroid seeding, assignment,
        // probing, and scoring: checkpoint ONCE, pre-spread across cores
        // (the r14 single-file-scan lesson — hash-neutral, pre-aggregation)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      val out = Similarity.adaptiveIvfTopK(corpus, corpus,
          VectorFunctions.cosineSim, k = 5, nlist = g, maxProbe = 6,
          delta = 0.10)
        .localCheckpoint(true) // consumed twice: the probe-band teeth + result
      val meanProbed = out.select(col("query_id"), col("n_probed")).distinct()
        .agg(avg(col("n_probed"))).head().getDouble(0)
      require(meanProbed <= 3.5,
        f"clusterable-regime margin rule regressed: mean n_probed " +
          f"$meanProbed%.2f > 3.5 (the r14 constant-probe band)")
      out.orderBy(col("query_id"), col("rank"))
    },
    Some {
      val maxProbe = 6
      val nibC = (h: String, j: Int) =>
        s"(strpos('0123456789abcdef', substr($h, $j, 1)) - 1)"
      val frac8 = (h: String) => "(" + (1 to 8).map(j =>
        s"${nibC(h, j)} / ${math.pow(16.0, j)}").mkString(" + ") + ")"
      val int4 = (h: String) => "(" + (1 to 4).map(j =>
        s"${nibC(h, j)} * ${math.pow(16.0, 4 - j).toLong}").mkString(" + ") + ")"
      val clh = "md5('cl|' || CAST(vec_id AS VARCHAR))"
      val cth = "md5('ct|' || CAST(cl AS VARCHAR) || '|' || CAST(i AS VARCHAR))"
      val nzh = "md5('nz|' || CAST(vec_id AS VARCHAR) || '|' || CAST(i AS VARCHAR))"
      val affCos = cosSql("c.emb", "cent.cemb")
      val cos = cosSql("q.emb", "t.emb")
      s"""WITH ids AS (SELECT vec_id FROM embeddings),
         |gv AS (SELECT greatest(16, count(*) // 50) AS g FROM ids),
         |dimrows AS (SELECT vec_id, ${int4(clh)} % (SELECT g FROM gv) AS cl, i
         |  FROM ids, (SELECT unnest(range(0, 64)) AS i)),
         |rawr AS (SELECT vec_id, i,
         |    2.0 * ${frac8(cth)} - 1.0
         |    + CAST(0.75 AS DOUBLE) * (2.0 * ${frac8(nzh)} - 1.0) AS raw
         |  FROM dimrows),
         |arrs AS (SELECT vec_id, list(raw ORDER BY i) AS rawArr FROM rawr GROUP BY vec_id),
         |c AS MATERIALIZED (SELECT vec_id,
         |    [x / sqrt(list_sum(list_transform(rawArr, y -> y * y))) for x in rawArr] AS emb
         |  FROM arrs),
         |cent AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, emb AS cemb
         |  FROM c WHERE vec_id % greatest(1, (SELECT count(*) FROM c) // (SELECT g FROM gv)) = 0
         |  QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT g FROM gv)),
         |aff AS MATERIALIZED (SELECT c.vec_id, cent.cell, $affCos AS a FROM c, cent),
         |assign AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn
         |    FROM aff) WHERE rn = 1),
         |qaff AS (SELECT vec_id AS query_id, cell, a,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell DESC) AS rn,
         |    max(a) OVER (PARTITION BY vec_id) AS a1
         |  FROM aff),
         |probes AS (SELECT query_id, cell,
         |    CAST(count(*) OVER (PARTITION BY query_id) AS INTEGER) AS n_probed
         |  FROM qaff
         |  WHERE rn <= $maxProbe AND (rn = 1 OR a >= a1 - CAST(0.10 AS DOUBLE))),
         |scored AS (SELECT p.query_id, s.vec_id, round($cos, 6) AS cos, p.n_probed
         |  FROM probes p JOIN assign s ON s.cell = p.cell
         |  JOIN c q ON q.vec_id = p.query_id JOIN c t ON t.vec_id = s.vec_id
         |  WHERE s.vec_id <> p.query_id)
         |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank, n_probed FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "clusterable-corpus kNN build: adaptive margin-rule IVF on planted-cluster data holds probe width ~constant, the r14 linear-build mechanism as a hash-verified row (LLM-pipeline op)")

  def defs: Seq[QueryDef] = Seq(v01, v02, v03, v04, v05, v06, v07, v08, v09,
    v10, v11, v12, v13, v14, v15, v16, v17, v17b, v18, v19, v20, v21, v22, v23,
    v24, v25, v26, v27, v28, v29, v30, v30b, v31, v32, v32b, v33, v34, v34b,
    v35, v35b, v36, v37, v38, v39, v40, v41)
}
