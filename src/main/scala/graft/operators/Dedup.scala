package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Document deduplication operators for LLM training-data pipelines — the
  * standard ladder from exact to fuzzy, each shaped for cluster scale:
  * every stage is a shuffle on a *hash key* (fingerprint, shingle, band,
  * simhash block), never an all-pairs comparison over the corpus.
  *
  * All hashing is md5-based (identical in every engine) so each operator is
  * verifiable against a SQL oracle; swap in xxhash64 for raw speed when
  * oracle parity is not needed.
  */
object Dedup {

  /** Exact dedup on normalized content: group by md5 fingerprint, keep the
    * smallest id. One shuffle on the fingerprint — trivially 100 TB-safe.
    * Fingerprinting runs through the native single-pass
    * [[graft.functions.FingerprintExpr]] (identical semantics to the
    * two-regex composition). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    TextFunctions.registerNative(docs.sparkSession)
    docs.withColumn("fp", TextFunctions.fingerprintNative(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** (doc, shingle) pairs — distinct word n-gram shingles per doc.
    * The exploded relation is the scale-friendly representation: shingle
    * vocabulary shards naturally across the cluster. Shingling runs through
    * the native codegen'd [[graft.functions.WordShinglesExpr]] (the HOF
    * composition evaluates interpreted per row — 2-3x slower end-to-end). */
  def docShingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    TextFunctions.registerNative(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.wordShinglesNative(col(textCol), n)).as("shingle"))
  }

  /** Drop "boilerplate" shingles present in more than `maxDf` documents —
    * standard near-dup practice: a shingle shared by 1M docs carries no
    * signal but fans the inverted-index join out quadratically (the
    * single-reducer bomb at 100 TB). The hot list is tiny by construction
    * (few shingles exceed any sane cap), so the filter is a broadcast
    * anti-join — no extra shuffle of the big relation. */
  def capShingles(ds: DataFrame, maxDf: Int): DataFrame =
    if (maxDf == Int.MaxValue) ds
    else {
      val hot = ds.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
        .select(col("shingle"))
      ds.join(broadcast(hot), Seq("shingle"), "left_anti")
    }

  /** Cross-document novelty: the fraction of a document's distinct n-gram
    * shingles whose FIRST corpus occurrence (min doc_id over the corpus) is
    * this document — the inter-document counterpart of the intra-doc
    * repetition ratios: a near-zero score marks a document whose content
    * already exists elsewhere even when no single pair crosses a near-dup
    * threshold (e.g. a mosaic of fragments), the standard marginal-value
    * signal when ranking documents for inclusion.
    *
    * Scale shape: TWO independent partial-aggregated passes over the
    * exploded shingle relation — per-doc counts (count combiner on doc_id)
    * and first-occurrence (min combiner on shingle, then count on doc_id) —
    * followed by a join of two doc-cardinality relations. The corpus-sized
    * shingle relation is never joined, so boilerplate shingles (huge df)
    * cost only their map-side min-combiner: skew-immune WITHOUT a df cap,
    * unlike the pairwise ladder. */
  def crossDocNovelty(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    val sh = docShingles(docs, idCol, textCol, n)
    val perDoc = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val novel = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_shingles"))
          .as("novelty"))
  }

  /** Per-pair exact Jaccard from intersection counts + per-doc set sizes,
    * thresholded. `inter` must have (doc_a, doc_b, n_inter). */
  private def jaccardOf(inter: DataFrame, sizes: DataFrame,
                        minJaccard: Double): DataFrame =
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("set_size", "size_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("set_size", "size_b"), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("size_a") + col("size_b") - col("n_inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Exact pairwise n-gram Jaccard for candidate pairs that share ≥1 shingle.
    *
    * Inverted-index join: (doc,shingle) ⋈ (doc,shingle) on shingle with
    * doc_a < doc_b → per-pair intersection count → Jaccard via per-doc set
    * sizes. Scales with the shingle-frequency distribution (hot shingles are
    * the skew risk — cap or salt them in production; the math is unchanged).
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, minJaccard: Double = 0.5,
                   maxDf: Int = Int.MaxValue): DataFrame = {
    // persist the CAPPED relation (consumed 3x: sizes + both join sides).
    // The raw pre-cap relation is deliberately NOT cached: with native
    // shingling the two extra scans (df aggregation + anti-join left side)
    // cost less than materializing a second cache of the full index.
    val raw = docShingles(docs, idCol, textCol, n)
    val ds = (if (maxDf == Int.MaxValue) raw else capShingles(raw, maxDf)).persist()
    val sizes = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("set_size"))
    val a = ds.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = ds.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    jaccardOf(inter, sizes, minJaccard)
  }

  /** LSH banding over minhash signatures → candidate pairs → exact Jaccard
    * verification. Bands of `r` rows each; docs sharing any band bucket are
    * candidates. The shuffle key is (band_idx, band_hash) — constant-size
    * state per bucket, the classic near-dup shape that survives 100 TB.
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 n: Int = 3, k: Int = 8, r: Int = 2,
                 minJaccard: Double = 0.5, maxDf: Int = Int.MaxValue): DataFrame = {
    // persist the CAPPED relation (consumed by signatures, sizes, and twice
    // in verification); the raw pre-cap scan is cheap native shingling and
    // is not worth a second cache. `maxDf` caps boilerplate shingles BEFORE
    // signatures: a hot shingle with a small md5 would otherwise dominate
    // the minhash of every doc containing it, collapsing band buckets into
    // one giant candidate set.
    val raw = docShingles(docs, idCol, textCol, n)
    val ds = (if (maxDf == Int.MaxValue) raw else capShingles(raw, maxDf)).persist()
    val bands = minhashBands(ds, k, r)
    val cand = bands.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_hash"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // exact verification of candidates only
    val sizes = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("set_size"))
    val inter = cand
      .join(ds.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(ds.select(col("doc_id").as("doc_b"), col("shingle").as("shingle_b")), Seq("doc_b"))
      .filter(col("shingle") === col("shingle_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    jaccardOf(inter, sizes, minJaccard)
  }

  /** MinHash signatures → LSH band rows `(doc_id, band_idx, band_hash)`
    * over a `(doc_id, shingle)` relation — factored so symmetric dedup
    * (minhashLsh) and asymmetric containment checks (fuzzyDecontaminate)
    * share one banding definition. */
  private[graft] def minhashBands(ds: DataFrame, k: Int, r: Int): DataFrame = {
    val sig = ds.groupBy(col("doc_id")).agg(
      min(md5(concat(lit("0|"), col("shingle")))).as("mh0"),
      (1 until k).map(i => min(md5(concat(lit(s"$i|"), col("shingle")))).as(s"mh$i")): _*)
    val nBands = k / r
    sig.select(col("doc_id"),
        explode(array((0 until nBands).map { b =>
          struct(lit(b).as("band_idx"),
            md5(concat_ws("|", (0 until r).map(j => col(s"mh${b * r + j}")): _*)).as("band_hash"))
        }: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_hash"))
  }

  /** FUZZY (near-dup) decontamination — [[decontaminate]] catches verbatim
    * n-gram overlap; paraphrased benchmark leakage (reworded questions,
    * suffixed/prefixed copies) shares few exact n-grams in sequence but a
    * high shingle-set SIMILARITY. Asymmetric LSH: band signatures of the
    * (small) eval set BROADCAST against the corpus's band rows — the
    * corpus is never self-joined — and candidates verify with exact
    * Jaccard ≥ `minJaccard`. Output `(doc_id, bench_id, jaccard)`: which
    * corpus doc leaks which benchmark item, the audit row exact
    * decontamination can't produce. */
  def fuzzyDecontaminate(corpus: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String, n: Int = 3,
                         k: Int = 8, r: Int = 2,
                         minJaccard: Double = 0.5,
                         maxDf: Int = Int.MaxValue): DataFrame = {
    // eager checkpoints (not persist): each is consumed 2–3× below, and a
    // cache would be deduped across bench repeats by the CacheManager —
    // the d27/v11 flattered-median trap.
    // `maxDf` is the same boilerplate guard as minhashLsh's: a hot shingle
    // with a small md5 dominates minhash signatures on BOTH sides and
    // collapses band buckets into huge candidate sets. The hot list is
    // computed over the CORPUS df (the side where boilerplate lives) and
    // removed from both relations so exact-Jaccard verification stays
    // consistent with the banding input.
    val rawCs = docShingles(corpus, idCol, textCol, n)
    val hotless: DataFrame => DataFrame =
      if (maxDf == Int.MaxValue) identity
      else {
        val hot = rawCs.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
          .select(col("shingle")).localCheckpoint(true)
        ds => ds.join(broadcast(hot), Seq("shingle"), "left_anti")
      }
    val cs = hotless(rawCs).localCheckpoint(true)
    val bs = hotless(docShingles(bench, idCol, textCol, n)).localCheckpoint(true)
    val cand = minhashBands(cs, k, r)
      .join(broadcast(minhashBands(bs, k, r)
          .withColumnRenamed("doc_id", "bench_id")),
        Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("bench_id")).distinct()
    val cSizes = cs.groupBy(col("doc_id")).agg(count(lit(1)).as("sa"))
    val bSizes = bs.groupBy(col("doc_id")).agg(count(lit(1)).as("sb"))
    val inter = cand
      .join(cs, Seq("doc_id"))
      .join(bs.select(col("doc_id").as("bench_id"), col("shingle")),
        Seq("bench_id", "shingle"))
      .groupBy(col("doc_id"), col("bench_id")).agg(count(lit(1)).as("n_inter"))
    val jac = col("n_inter").cast("double") /
      (col("sa") + col("sb") - col("n_inter"))
    inter
      .join(cSizes, Seq("doc_id"))
      .join(bSizes.withColumnRenamed("doc_id", "bench_id"), Seq("bench_id"))
      .select(col("doc_id"), col("bench_id"), jac.as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** SimHash fingerprint per doc over an arbitrary feature relation
    * `(doc_id, featureCol)`: bit b of the fingerprint is set when the
    * per-doc sum of ±1 votes (top bit of md5 nibble b of each feature) is
    * positive. Near-dup = small Hamming distance; block-partitioned Hamming
    * join is the scale path ([[simhashNearDup]]).
    *
    * Feature choice decides discriminating power: distinct TOKENS collapse
    * when the corpus shares a vocabulary (every doc ≈ the same token set →
    * one fingerprint); SHINGLES stay doc-specific. `bits` ≤ 32 (md5 has 32
    * nibbles). */
  def simhashFeatures(features: DataFrame, featureCol: String,
                      bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 32, "bits must be in [1, 32] (md5 nibbles)")
    val withHash = features.withColumn("h", md5(col(featureCol)))
    val voteCols = (0 until bits).map { b =>
      sum(when(substring(col("h"), b + 1, 1)
          .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1)).as(s"v$b")
    }
    val votes = withHash.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
    votes.select(col("doc_id"),
      (0 until bits).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** Token-feature SimHash (distinct lowercased whitespace tokens). */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = 16): DataFrame =
    simhashFeatures(
      docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(TextFunctions.tokens(lower(col(textCol))))).as("tok")),
      "tok", bits)

  /** SimHash near-dup via block permutation: split the fingerprint into
    * `blocks` chunks; pairs within Hamming distance `maxHamming < blocks`
    * must share at least one exact chunk (pigeonhole) — so the join key is
    * (block_idx, chunk), never all-pairs. */
  def simhashNearDup(sh: DataFrame, bits: Int = 16, blocks: Int = 4,
                     maxHamming: Int = 3): DataFrame = {
    // pigeonhole soundness: distance ≤ maxHamming guarantees a shared exact
    // chunk only when maxHamming < blocks — otherwise pairs are silently lost
    require(maxHamming < blocks,
      s"maxHamming ($maxHamming) must be < blocks ($blocks) for pigeonhole blocking")
    val chunkBits = bits / blocks
    val mask = (1L << chunkBits) - 1
    val chunks = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until blocks).map { c =>
        struct(lit(c).as("chunk_idx"),
          (shiftright(col("simhash"), c * chunkBits).bitwiseAND(mask)).as("chunk"))
      }: _*)).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.chunk_idx"), col("ch.chunk"))
    val pairs = chunks.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"),
        col("chunk_idx"), col("chunk"))
      .join(chunks.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"),
        col("chunk_idx"), col("chunk")), Seq("chunk_idx", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b")).distinct()
    pairs.withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Image near-dup over a binary media column: perceptual 56-bit dHash per
    * image ([[graft.functions.DHashExpr]] — BMP decode + luminance-gradient
    * bits, all integer math), then the same pigeonhole block-partitioned
    * Hamming join as [[simhashNearDup]]. Brightness-shifted or
    * single-pixel-perturbed renditions hash within 1 bit of the original,
    * so they pair at `maxHamming = 3`; the join key is (block_idx, 14-bit
    * chunk), never all-pairs — media bytes stay in the scan stage, only
    * (id, fingerprint) rows shuffle. */
  def imageNearDup(media: DataFrame, idCol: String, mediaCol: String,
                   blocks: Int = 4, maxHamming: Int = 3): DataFrame = {
    graft.functions.ImageHash.registerNative(media.sparkSession)
    val fp = media.select(col(idCol).as("doc_id"),
      graft.functions.ImageHash.dHash(col(mediaCol)).as("simhash"))
    simhashNearDup(fp, bits = 56, blocks = blocks, maxHamming = maxHamming)
  }

  /** Exact duplicated-passage detection via content-defined chunking
    * ([[graft.functions.CdcChunksExpr]]) — the scalable half of
    * exact-substring training-data dedup (Lee et al. 2021): chunk
    * boundaries are functions of content, so a substring shared between
    * documents yields identical (hash, text) chunks in each, and one
    * equi-shuffle on the chunk hash finds every repeated passage — no
    * suffix array, no all-pairs. Returns the spans to cut: (doc_id, start,
    * chunk_len, n_docs, n_occ) for every chunk of ≥ `minLen` normalized
    * chars occurring ≥ 2 times in the corpus (within-doc repeats count —
    * boilerplate repeated inside one document is still duplication).
    * Offsets are 0-based into the normalized text (lower, ws-collapsed).
    *
    * Scale shape: chunking runs in the scan stage (native expression);
    * only (doc_id, start, len, hash) rows shuffle — two hash-keyed
    * aggregating joins, both on the chunk hash. A chunk shared by k docs
    * costs k rows, not k² pairs. */
  def exactSubstringSpans(docs: DataFrame, idCol: String, textCol: String,
                          w: Int = 8, minLen: Int = 16): DataFrame = {
    graft.functions.CdcChunks.registerNative(docs.sparkSession, w)
    val chunks = docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.CdcChunks.chunks(col(textCol))).as("c"))
      .select(col("doc_id"), col("c.start").cast("long").as("start"),
        col("c.len").cast("long").as("chunk_len"), col("c.hash").as("h"))
      .filter(col("chunk_len") >= minLen)
    val dup = chunks.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occ") >= 2)
    chunks.join(dup, Seq("h"))
      .select(col("doc_id"), col("start"), col("chunk_len"),
        col("n_docs"), col("n_occ"))
  }

  /** The rewrite half of exact-substring dedup (Lee et al. 2021 §4.2): cut
    * every duplicated passage found by the CDC chunking, keeping exactly
    * one occurrence corpus-wide (the first by (doc_id, start)). Because
    * chunks TILE the normalized text ([[graft.functions.CdcChunksExpr]]
    * contract), the cleaned document is simply the concatenation of its
    * kept chunks in start order — no span arithmetic, no overlap handling.
    * Returns every input doc: (doc_id, clean_md5, clean_chars, n_cut,
    * cut_chars) — the md5 stands in for the rewritten text so the row stays
    * narrow; callers wanting the text itself concatenate the same kept
    * chunks.
    *
    * Scale shape: one equi-shuffle on the chunk hash decides winners
    * (min-struct aggregate, map-side partial), one shuffle on doc_id
    * reassembles — the corpus text crosses the wire once, the unavoidable
    * cost of any rewrite pass. Only chunks ≥ `minLen` are ever removed. */
  def removeDuplicatedPassages(docs: DataFrame, idCol: String, textCol: String,
                               w: Int = 8, minLen: Int = 16): DataFrame = {
    graft.functions.CdcChunks.registerNative(docs.sparkSession, w)
    val norm = trim(regexp_replace(lower(col(textCol)), "[ \\t\\n\\f\\r]+", " "))
    val chunks = docs.select(col(idCol).as("doc_id"), norm.as("t"),
        explode(graft.functions.CdcChunks.chunks(col(textCol))).as("c"))
      .select(col("doc_id"), col("c.start").as("start"), col("c.len").as("len"),
        col("c.hash").as("h"),
        substring(col("t"), col("c.start") + 1, col("c.len")).as("txt"))
    // winners: first (doc_id, start) occurrence of each duplicated >=minLen chunk
    val dup = chunks.filter(col("len") >= minLen)
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("start"))).as("win"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("h"), col("win.doc_id").as("w_doc"), col("win.start").as("w_start"))
    val marked = chunks.join(dup, Seq("h"), "left")
      .withColumn("cut", col("w_doc").isNotNull &&
        !(col("doc_id") === col("w_doc") && col("start") === col("w_start")))
    val rebuilt = marked.groupBy(col("doc_id"))
      .agg(
        concat_ws("", transform(array_sort(collect_list(
            when(!col("cut"), struct(col("start"), col("txt"))))),
          x => x.getField("txt"))).as("cleaned"),
        sum(when(col("cut"), 1L).otherwise(0L)).as("n_cut"),
        sum(when(col("cut"), col("len")).otherwise(0L)).as("cut_chars"))
    docs.select(col(idCol).as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left") // empty docs have no chunks
      .select(col("doc_id"),
        md5(coalesce(col("cleaned"), lit(""))).as("clean_md5"),
        length(coalesce(col("cleaned"), lit(""))).cast("long").as("clean_chars"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        coalesce(col("cut_chars"), lit(0L)).as("cut_chars"))
  }

  /** Audio near-dup over a binary media column: 56-bit energy-difference
    * fingerprint per clip ([[graft.functions.AudioHashExpr]] — 16-bit PCM
    * WAV decode + frame-energy gradient bits, all integer math), then the
    * same pigeonhole block-partitioned Hamming join as [[simhashNearDup]].
    * Gain-rescaled or single-frame-perturbed renditions hash within 2 bits
    * of the original, so they pair at `maxHamming = 3`; the join key is
    * (block_idx, 14-bit chunk), never all-pairs — media bytes stay in the
    * scan stage, only (id, fingerprint) rows shuffle. */
  def audioNearDup(media: DataFrame, idCol: String, mediaCol: String,
                   blocks: Int = 4, maxHamming: Int = 3): DataFrame = {
    graft.functions.AudioHash.registerNative(media.sparkSession)
    val fp = media.select(col(idCol).as("doc_id"),
      graft.functions.AudioHash.eHash(col(mediaCol)).as("simhash"))
    simhashNearDup(fp, bits = 56, blocks = blocks, maxHamming = maxHamming)
  }

  /** Video near-dup over a binary media column: 56-bit keyframe-sequence
    * fingerprint per video ([[graft.functions.VideoHashExpr]] —
    * uncompressed-AVI decode + 8 sampled keyframes, per-keyframe dHash,
    * order-sensitive rotate-XOR fold, all integer math), then the same
    * pigeonhole block-partitioned Hamming join as [[simhashNearDup]].
    * Brightness-shifted or single-keyframe-perturbed renditions hash
    * within 1 bit of the original, so they pair at `maxHamming = 3`; the
    * join key is (block_idx, 14-bit chunk), never all-pairs — media bytes
    * (the heaviest modality by far) stay in the scan stage, only
    * (id, fingerprint) rows shuffle. */
  def videoNearDup(media: DataFrame, idCol: String, mediaCol: String,
                   blocks: Int = 4, maxHamming: Int = 3): DataFrame = {
    graft.functions.VideoHash.registerNative(media.sparkSession)
    val fp = media.select(col(idCol).as("doc_id"),
      graft.functions.VideoHash.kHash(col(mediaCol)).as("simhash"))
    simhashNearDup(fp, bits = 56, blocks = blocks, maxHamming = maxHamming)
  }

  /** Edit-distance fuzzy join on a fixed-width normalized key — entity
    * resolution for near-identical titles/URLs/names, the PassJoin family
    * (Li et al., PVLDB 2011) re-expressed relationally. The key is the
    * `width`-codepoint prefix of the pinned-envelope normalization (lower →
    * whitespace-collapse → trim); rows whose key is shorter than `width`
    * are excluded (the fixed-width contract keeps the pigeonhole exact).
    *
    * Candidate generation is the pigeonhole SEGMENT join: the key is split
    * into `maxDist + 1` disjoint segments; `k` edits can touch at most `k`
    * segments, so for any pair within `maxDist` at least one of the left
    * key's segments survives VERBATIM in the right key — and because each
    * edit shifts alignment by at most one position, that surviving
    * occurrence starts within `maxDist` of the segment's own position
    * (PassJoin's position rule). The join is therefore on (gram content,
    * |Δposition| ≤ maxDist), and recall is EXACT (no LSH-style miss
    * probability). Survivors verify with one THRESHOLDED `levenshtein`
    * (banded O(width·maxDist) with early abort, not full O(width²)) per
    * distinct candidate pair.
    *
    * Scale shape: segments/grams are a per-row codegen'd literal array (no
    * interpreted HOF), the join is an equi-shuffle on gram content, and
    * only (id, 24-char key) rows move — never document text. On a
    * boilerplate-heavy corpus the gram join inherits d05's skew exposure.
    * Two measured levers on the shared-vocab testdata at sf0.1 (6.86 M raw
    * join rows without them): the position rule alone cuts 2.4×, and
    * maxDist 5→2 (longer, rarer segments) cuts 22×; together 83×
    * (82 k rows). For hostile corpora beyond that, the same
    * [[capShingles]]-style df-cap applies — at the cost of the exact-recall
    * guarantee for pairs whose every shared segment is ubiquitous.
    */
  def fuzzyPrefixJoin(docs: DataFrame, idCol: String, textCol: String,
                      width: Int = 24, maxDist: Int = 5): DataFrame = {
    require(width % (maxDist + 1) == 0,
      s"width $width must split evenly into ${maxDist + 1} segments")
    val segLen = width / (maxDist + 1)
    val norm = trim(regexp_replace(lower(col(textCol)), "[ \\t\\n\\f\\r]+", " "))
    val keyed = docs.select(col(idCol).as("doc_id"),
        substring(norm, 1, width).as("p"))
      .filter(length(col("p")) === width)
    val segs = keyed.select(col("doc_id"), col("p"),
      posexplode(array((0 until maxDist + 1).map(i =>
        substring(col("p"), i * segLen + 1, segLen)): _*)))
      .select(col("doc_id"), col("p"), (col("pos") * segLen).as("pos"), col("col").as("g"))
    val grams = keyed.select(col("doc_id"), col("p"),
      posexplode(array((0 to width - segLen).map(i =>
        substring(col("p"), i + 1, segLen)): _*)))
      .select(col("doc_id"), col("p"), col("pos"), col("col").as("g"))
    segs.as("a").join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.pos") - col("b.pos")) <= maxDist)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.p").as("pa"), col("b.p").as("pb"))
      .distinct()
      .withColumn("dist", levenshtein(col("pa"), col("pb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Connected components over a near-dup pair relation → duplicate
    * clusters: every doc gets `cluster_id` = the smallest doc id reachable
    * through pairs (isolated docs are their own cluster). The final step of
    * every dedup pipeline — "keep one representative per cluster".
    *
    * Iterative min-label propagation with pointer jumping: each round (a)
    * pulls the min label across edges, then (b) replaces every label by its
    * label's label — so label chains halve each round and convergence takes
    * O(log diameter) rounds, not O(diameter) (a 25-hop chain converges in ~5
    * rounds). Each round is a constant number of shuffles on doc_id; the
    * driver only reads a scalar convergence flag. Throws if `maxIters` is
    * exhausted before convergence — silently returning inconsistent labels
    * would make downstream keep-one-per-cluster wrong.
    *
    * The returned DataFrame is persisted (it is the product of an iterative
    * computation); ownership transfers to the caller — unpersist when done.
    */
  def dupClusters(pairs: DataFrame, allDocs: DataFrame, idCol: String,
                  maxIters: Int = 20,
                  reliableCheckpoint: Boolean = false): DataFrame =
    propagate(pairs,
      allDocs.select(col(idCol).as("doc_id"), col(idCol).as("cluster_id")),
      maxIters, reliableCheckpoint)

  /** Min-label propagation core shared by [[dupClusters]] (seed = identity
    * labels) and [[dupClustersIncremental]] (seed = prior labels + identity
    * for new docs). `seedLabels` must have (doc_id, cluster_id) with
    * cluster_id ≤ doc_id per row and every cluster_id itself present as a
    * doc_id (prior labelings produced by this function satisfy both). */
  private def propagate(pairs: DataFrame, seedLabels: DataFrame,
                        maxIters: Int, reliableCheckpoint: Boolean): DataFrame = {
    // Iterative rounds multiply per-shuffle fixed cost (task scheduling +
    // checkpoint of every partition), so run the loop at a shuffle width
    // sized for the LABEL relation, not the session default tuned for the
    // corpus scans — same discipline as the streaming drains (CLAUDE.md).
    // Size ∝ rows/64k keeps partitions meaningful at any scale: 8 locally,
    // thousands at 100 TB. Restored before returning.
    val spark = pairs.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val width = math.max(8L, seedLabels.count() / 65536L)
    val narrower = if (width < spark.conf.get(key).toLong) Seq(key -> width.toString) else Nil
    graft.ops.SessionConf.scoped(spark, narrower: _*) {
      propagateLoop(pairs, seedLabels, maxIters, reliableCheckpoint)
    }
  }

  private def propagateLoop(pairs: DataFrame, seedLabels: DataFrame,
                            maxIters: Int, reliableCheckpoint: Boolean): DataFrame = {
    // Checkpoint (not just persist) each round: persist caches the DATA but
    // the logical plan still nests round-over-round, so after ~7 rounds the
    // plan tree is exponential and the driver OOMs just *printing* it (AQE
    // onUpdatePlan). localCheckpoint truncates lineage to the cached blocks;
    // `reliableCheckpoint` uses the SparkContext checkpoint dir instead so a
    // long iteration survives executor loss on a real cluster.
    // EAGER checkpoints: lazy (eager=false) was measured 2x slower here —
    // only the eager call swaps the materialized LogicalRDD into the plan,
    // so with lazy checkpoints every next round re-analyzes the full nested
    // lineage even though the data was already cached by the metric action.
    def checkpointed(df: DataFrame): DataFrame =
      if (reliableCheckpoint) {
        require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
          "reliableCheckpoint requires sparkContext.setCheckpointDir(...)")
        df.checkpoint(true)
      } else df.localCheckpoint(true)
    // Checkpoint EDGES too (not just per-round labels): the pair lineage —
    // persisted caches, broadcast joins, unions — would otherwise be
    // re-ANALYZED by every round's plan; measured 5 s/round vs 1 s/round on
    // the incremental path whose edges carry broadcast-join lineage. The
    // persist around the union keeps the (possibly expensive) pair plan from
    // evaluating once per symmetric branch during the one materialization.
    val p = pairs.persist()
    val edges = checkpointed(
      p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(p.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    p.unpersist()
    var labels = checkpointed(seedLabels.select(col("doc_id"), col("cluster_id")))
    // Convergence metric: labels are monotonically non-increasing per doc, so
    // the label sum strictly decreases iff any label changed. Comparing sums
    // (exact decimal — no Long overflow at any scale) folds the convergence
    // check into a cheap scan of the just-checkpointed blocks, replacing the
    // old-vs-new join+count that used to double each round's shuffle work.
    // The sum trick needs a NUMERIC id (a string id casts to null and the
    // metric degenerates); non-numeric ids fall back to the changed-row count,
    // which works for any orderable type at the cost of one extra join/round.
    val numericIds = seedLabels.schema("doc_id").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("cluster_id").cast("decimal(38,0)"))).first().getDecimal(0)
    def changedCount(prev: DataFrame, next: DataFrame): Long =
      prev.select(col("doc_id"), col("cluster_id").as("prev_cluster"))
        .join(next, Seq("doc_id"))
        .filter(col("cluster_id") =!= col("prev_cluster")).count()
    var prevSum = if (numericIds) labelSum(labels) else null
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // (a) edge step: min label over self + neighbors
      val viaEdges = edges
        .join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(col("dst").as("doc_id"), col("cluster_id"))
      val combined = labels.unionByName(viaEdges)
        .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
      // (b) pointer jump: follow cluster_id -> label(cluster_id) (labels are
      // monotonically non-increasing, so the parent's label is always <=)
      val parents = combined.select(col("doc_id").as("cluster_id"),
        col("cluster_id").as("parent"))
      val next = checkpointed(
        combined.join(parents, Seq("cluster_id"))
          .select(col("doc_id"), col("parent").as("cluster_id")))
      if (numericIds) {
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
      } else {
        converged = changedCount(labels, next) == 0L
      }
      labels.unpersist()
      labels = next
      i += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge after $maxIters rounds — component " +
          "diameter exceeds 2^maxIters; raise it (labels would be inconsistent)")
    labels
  }

  /** Incremental connected components — the streaming-corpus form of
    * [[dupClusters]]: extend a prior labeling with a batch of new documents
    * and the near-dup pairs involving them, WITHOUT recomputing closed
    * components from scratch.
    *
    * Correctness hinges on one subtlety: prior labels alone cannot carry a
    * NEW, smaller min back through an old component, because the old
    * intra-component edges are gone (only doc→oldMin pointers survive, and
    * nothing points back at the member that touched the new edge). So each
    * old cluster touched by a new pair contributes its pointer star
    * (doc, priorMin) as real edges — the spanning star is exactly enough
    * connectivity to re-merge, and its diameter is 2, so total rounds stay
    * O(log diameter-of-new-edges + 2).
    *
    * Scale shape: only AFFECTED old clusters (those with a member in a new
    * pair) enter the propagation — per-batch work is proportional to the new
    * data plus the touched clusters, never the corpus. Labels of untouched
    * clusters pass through verbatim (no shuffle re-write).
    *
    * Contracts: `existingLabels` is a prior output of [[dupClusters]] /
    * this function — (doc_id, cluster_id), cluster_id = min reachable id,
    * min-id docs labeled by themselves. `newDocs` are disjoint from
    * `existingLabels`. `newPairs` (doc_a, doc_b) touch only new docs or
    * members of existing clusters. Result ≡ from-scratch [[dupClusters]] on
    * the unioned corpus and pair set (IncrementalClusterSpec proves it on a
    * two-batch replay). Returned frame is persisted; caller unpersists.
    */
  def dupClustersIncremental(existingLabels: DataFrame, newPairs: DataFrame,
                             newDocs: DataFrame, idCol: String,
                             maxIters: Int = 20,
                             reliableCheckpoint: Boolean = false): DataFrame = {
    val prior = existingLabels.select(col("doc_id"), col("cluster_id"))
    val p = newPairs.persist()
    val endpoints = p.select(col("doc_a").as("doc_id"))
      .unionByName(p.select(col("doc_b").as("doc_id"))).distinct()
    // old clusters with at least one member on a new edge; components can
    // only merge THROUGH a new edge, so this closed set is exactly the
    // affected region — broadcast-sized in any realistic batch
    val touched = prior.join(endpoints, Seq("doc_id"))
      .select(col("cluster_id")).distinct().persist()
    touched.count()
    val affected = prior.join(broadcast(touched), Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id")).persist()
    affected.count()
    val starEdges = affected.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    val seed = affected
      .unionByName(newDocs.select(col(idCol).as("doc_id"), col(idCol).as("cluster_id")))
    val active = propagate(
      p.select(col("doc_a"), col("doc_b")).unionByName(starEdges),
      seed, maxIters, reliableCheckpoint)
    val untouchedPrior = prior.join(broadcast(touched), Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
    val out = untouchedPrior.unionByName(active).persist()
    out.count() // before releasing intermediates
    active.unpersist(); affected.unpersist(); touched.unpersist(); p.unpersist()
    out
  }

  /** Embedding near-dup: exact cosine over candidate pairs from a blocking
    * column (label, LSH bucket, ...). `cos` must be the cosine column
    * expression over (emb_a, emb_b). */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
                       blockCol: String, cos: (Column, Column) => Column,
                       minCos: Double): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"), col(blockCol).as("blk"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"), col(blockCol).as("blk"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(cos(col("vec_a"), col("vec_b")), 6))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Benchmark decontamination (GPT-3 App. C / Dolma style): flag corpus
    * documents that share any word n-gram with a benchmark/eval set, so
    * training data can be scrubbed of test-set leakage. Returns
    * `(doc_id, n_shared)` for flagged docs only.
    *
    * Scale shape: an eval set is always tiny relative to the corpus, so its
    * distinct shingle universe is broadcast; the corpus makes ONE streaming
    * pass through the codegen'd shingler and a broadcast join — the 100 TB
    * corpus is never shuffled. Real pipelines use 8–13-grams; pick `n` at
    * the discrimination point of the corpus' vocabulary (the testdata's
    * 31-word synthetic vocab discriminates at 4).
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int): DataFrame = {
    val cs = docShingles(corpus, idCol, textCol, n)
    val bs = docShingles(benchmark, idCol, textCol, n)
      .select(col("shingle")).distinct()
    cs.join(broadcast(bs), Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
  }

  /** Two-stage benchmark decontamination for eval sets too large to
    * broadcast as ROWS — the 100 TB regime [[decontaminate]]'s broadcast
    * set can't reach (a web-scale held-out set has billions of distinct
    * shingles; its bloom is megabytes): a bloom filter of the benchmark
    * shingles' 64-bit hashes ships to every task, the corpus stream is
    * pre-filtered MAP-SIDE by the codegen'd [[graft.functions
    * .BloomMightContain]] probe, and only the bloom-passing survivors (true
    * matches + an fpp-bounded trickle) verify exactly against the benchmark
    * shingles in an equi-join. Bloom filters have no false negatives and
    * the verify join removes false positives (including any xxhash64
    * collisions), so the result is EXACTLY [[decontaminate]]'s — which is
    * why d28 shares d21's oracle. Scale shape: the corpus is never
    * shuffled; the verify shuffle carries only the passing fraction. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    graft.ops.BloomPrune.register(spark)
    val cs = docShingles(corpus, idCol, textCol, n)
    val bs = docShingles(benchmark, idCol, textCol, n)
      .select(col("shingle")).distinct().persist()
    val nKeys = math.max(1L, bs.count())
    // distributed build (treeAggregate) over the 64-bit shingle hashes —
    // the driver only ever holds the final bitset
    val bloom = bs.select(xxhash64(col("shingle")).as("h"))
      .stat.bloomFilter("h", nKeys, fpp)
    val survivors = cs.filter(call_function("bloom_might_contain",
      xxhash64(col("shingle")), lit(graft.ops.BloomPrune.serialize(bloom))))
    // eager-materialize the (small: flagged docs × 2 cols) result so the
    // benchmark-shingle cache can be dropped before returning (d27 pattern)
    val out = survivors.join(bs, Seq("shingle")) // exact verify
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .localCheckpoint(true)
    bs.unpersist()
    out
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * partition the embedding space into `nlist` centroid cells, then within
    * each cell drop every vector that has a LOWER-id cell-mate with cosine
    * ≥ `minCos`. Keeps one deterministic representative per near-dup
    * neighborhood; returns the kept `(idCol, cell)` rows.
    *
    * The cells are the whole scale story: pairwise cosine is quadratic, and
    * cells bound it at O(Σ cell²) — pick `nlist` ∝ corpus size so cell
    * population stays roughly constant and the per-cell work O(1). The
    * within-cell pair join shuffles on `cell` (equi key); the centroid table
    * is a bounded collect ([[Similarity.strideCentroids]]), the same class
    * as a broadcast dimension. Assignment cosines are evaluated inside
    * codegen against literal centroids — mirrorable by an oracle, unlike a
    * trained k-means whose float means are shuffle-order dependent.
    */
  def semanticDedup(corpus: DataFrame, idCol: String,
                    cos: (Column, Column) => Column,
                    nlist: Int, minCos: Double,
                    probeSupers: Int = 0,
                    centroids: Option[Array[(Int, Seq[Double])]] = None): DataFrame = {
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    // explicit centroids override the stride sample (and make `nlist` moot):
    // a caller with a data-independent or precomputed codebook — v08 uses a
    // seeded pseudorandom one so its oracle can embed the whole centroid
    // tree as literals — skips the corpus-dependent seeding pass entirely
    val cents = centroids.getOrElse(Similarity.strideCentroids(corpus, nlist))
    // probeSupers > 0 switches assignment to the two-level O(√nlist) path
    // (approximate; the oracle-verified query keeps the flat default — see
    // HierarchicalCellsExpr for the trade)
    val topCells =
      if (probeSupers <= 0) Similarity.topCellsOf(cents, cos) _
      else Similarity.topCellsHierarchical(cents, probeSupers) _
    val assigned = corpus
      .withColumn("cell", element_at(topCells(col("embedding"), 1), 1).getField("cell"))
      .select(col(idCol), col("embedding"), col("cell"))
      .persist() // consumed three times below (a, b, keep side)
    val a = assigned.select(col("cell"), col(idCol).as("id_a"), col("embedding").as("vec_a"))
    val b = assigned.select(col("cell"), col(idCol).as("id_b"), col("embedding").as("vec_b"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cos(col("vec_a"), col("vec_b")), 6) >= minCos)
      .select(col("id_b").as(idCol)).distinct()
    // materialize before releasing the assignment cache (repo convention:
    // returned frame is persisted; caller unpersists)
    val kept = assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell")).persist()
    kept.count()
    assigned.unpersist()
    kept
  }
}
