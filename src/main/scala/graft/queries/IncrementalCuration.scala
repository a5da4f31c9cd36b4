package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.merge.LogTable
import graft.operators.Dedup
import graft.functions.TextFunctions

/** INCREMENTAL CURATION — the reference's two-set replay idea
  * (`Test Scripts/` re-deliver overlapping data, pin layer counts — SURVEY
  * §5) applied to the d49 curation pipeline: ingest document sets as they
  * arrive (overlaps and re-deliveries allowed), persist per-set PARTIALS,
  * and refresh the final selection so it is bit-identical to running d49
  * from scratch over everything ingested.
  *
  * What is stored (all [[graft.merge.LogTable]]s under one root —
  * d18's persisted-substrate discipline, applied to exact curation):
  *   - `meta (doc_id, source)` — the ingested-id set; re-deliveries
  *     anti-join against it and NO-OP (the M1 insert-only-merge property,
  *     which is what makes at-least-once delivery safe).
  *   - `bg (doc_id, pos, w1, w2)` — each doc's bigram relation, computed
  *     ONCE at ingest; re-scoring never re-tokenizes.
  *   - `cbp/cpp` — per-set bigram/prefix COUNT PARTIALS. Counts are
  *     associative integer sums, so the merged LM equals the from-scratch
  *     LM exactly; the partial tables are vocabulary-bounded.
  *   - `fp (doc_id, fp)` — the exact-dedup fingerprint, computed once.
  *   - `contam (doc_id, contamination)` — contamination is a pure function
  *     of (doc, frozen bench shingle set), so it is per-set work, stored.
  *
  * [[select]] is the refresh: merge count partials (vocab-bounded), re-score
  * every stored bigram row against the merged LM (fluency is a GLOBAL
  * function of corpus counts — any new set shifts every doc's score, so an
  * exact refresh must re-score; it does so from the stored relation, one
  * join + one keyed fold, no text touched), then d49's gates → exact dedup
  * among survivors → top-k. Float parity with from-scratch d49 holds
  * because both paths run [[TextQueries.lmScoreFromBigrams]] verbatim over
  * identical rows (same pos-ordered per-doc fold — CLAUDE.md rule 9).
  *
  * 100 TB shape: per-ingest cost is SET-proportional (tokenize/shingle/
  * fingerprint only the fresh docs; bench side broadcasts). The refresh's
  * corpus-wide stage is the stored-bg re-score — keyed joins against the
  * vocab-bounded LM, no re-tokenization; a deployment that cannot afford
  * an exact per-ingest refresh scores against the frozen previous LM
  * between refreshes (the s28 gate mode) and runs this exact path on the
  * retrain cadence, exactly like the v19/s32 index lifecycle.
  */
final class IncrementalCuration(spark: SparkSession, root: String) {

  private def table(name: String, ddl: String) =
    new LogTable(spark, s"$root/$name", StructType.fromDDL(ddl))

  private val meta = table("meta", "doc_id bigint, source string")
  private val bg = table("bg", "doc_id bigint, pos int, w1 string, w2 string")
  private val cbp = table("cbp", "w1 string, w2 string, cb bigint")
  private val cpp = table("cpp", "w1 string, cp bigint")
  private val fp = table("fp", "doc_id bigint, fp string")
  private val contam = table("contam", "doc_id bigint, contamination double")
  private val benchSh = table("bench_shingles", "shingle string")

  /** Freeze the benchmark/eval reference set (distinct 4-gram shingles) —
    * the side every ingested set's contamination is measured against.
    * Must be called once before the first [[ingest]]. */
  def freezeBench(bench: DataFrame): Unit =
    benchSh.overwrite(
      Dedup.docShingles(bench, "doc_id", "text", n = 4)
        .select(col("shingle")).distinct())

  /** Ingest one delivery of `(doc_id, source, text)` rows. Already-seen
    * doc_ids (overlap with a prior delivery, or a full re-delivery) are
    * dropped up front, so ingest is idempotent and overlapping sets never
    * double-count the LM. Returns the number of NEW documents ingested. */
  def ingest(set: DataFrame): Long = {
    TextFunctions.registerNative(spark)
    val fresh = set.select(col("doc_id"), col("source"), col("text"))
      .join(meta.read().select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // consumed 5x below; lineage would rescan
    val n = fresh.count()
    if (n > 0) {
      val bgF = TextQueries.lmBigrams(fresh).localCheckpoint(true)
      val cs = Dedup.docShingles(fresh, "doc_id", "text", n = 4)
        .localCheckpoint(true)
      val sizes = cs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      val shared = cs.join(broadcast(benchSh.read()), Seq("shingle"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      // The six appends target DISJOINT tables and read only checkpointed
      // relations (fresh, bgF, cs) or the frozen bench side — independent
      // write jobs, so overlap them instead of paying six sequential
      // job+commit floors (guide §2.6 "overlap independent jobs").
      graft.ops.JobWave.run(Seq(
        () => meta.append(fresh.select(col("doc_id"), col("source"))),
        () => bg.append(bgF),
        () => cbp.append(bgF.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))),
        () => cpp.append(bgF.groupBy(col("w1")).agg(count(lit(1)).as("cp"))),
        () => fp.append(fresh.select(col("doc_id"),
          TextFunctions.fingerprintNative(col("text")).as("fp"))),
        () => contam.append(fresh.select(col("doc_id"))
          .join(sizes, Seq("doc_id"), "left")
          .join(shared, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(coalesce(col("n_shingles"), lit(0L)) === 0, lit(0.0))
              .otherwise(coalesce(col("n_shared"), lit(0L)).cast("double") /
                col("n_shingles")).as("contamination")))))
    }
    n
  }

  /** The refreshed d49 selection over everything ingested so far:
    * `(rank, doc_id, source, fluency, contamination)`, top `k` by
    * (fluency DESC, doc_id) after the fluency/contamination gates and
    * exact dedup among survivors — d49's output contract verbatim. */
  def select(k: Int): DataFrame = {
    val cb = cbp.read().groupBy(col("w1"), col("w2")).agg(sum(col("cb")).as("cb"))
    val cp = cpp.read().groupBy(col("w1")).agg(sum(col("cp")).as("cp"))
    val flu = TextQueries.lmScoreFromBigrams(
        meta.read().select(col("doc_id")), bg.read(), cb, cp)
      .select(col("doc_id"), col("fluency"))
    val surv = meta.read()
      .join(flu, Seq("doc_id"))
      .join(contam.read(), Seq("doc_id"))
      .filter(col("fluency") >= 0.035 && col("contamination") < 0.2)
      .localCheckpoint(true) // consumed by the dedup group AND the join
    val keep = surv.select(col("doc_id")).join(fp.read(), Seq("doc_id"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val top = surv.join(keep, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("fluency"), col("contamination"))
      .orderBy(col("fluency").desc, col("doc_id")).limit(k)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("fluency").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("source"), col("fluency"),
        col("contamination"))
      .orderBy(col("rank"))
  }
}
