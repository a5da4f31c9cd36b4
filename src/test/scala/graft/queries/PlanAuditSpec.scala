package graft.queries

import graft.SparkSpec

/** Physical-plan audits — pins the scale-relevant plan properties the query
  * docs claim, so a regression (lost pushdown, a broadcast that became a
  * shuffle, an accidental cartesian) fails a spec instead of only showing up
  * as a 100× slowdown on a cluster. Plans are inspected pre-execution
  * (`executedPlan` under AQE still exposes scans, joins and exchanges).
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String =
    Registry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  /** Every Exchange in the (possibly adaptive) plan tree — STRUCTURAL
    * access to what each shuffle actually carries (explain prints Exchange
    * lines without their output attributes, so text matching can't see
    * carried columns). */
  private def exchangesOf(name: String)
      : (org.apache.spark.sql.execution.SparkPlan,
         Seq[org.apache.spark.sql.execution.exchange.Exchange]) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    def walk(p: SparkPlan): Seq[Exchange] = {
      val here = p match { case e: Exchange => Seq(e); case _ => Nil }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      here ++ kids.flatMap(walk)
    }
    val plan = Registry.queries(name)(spark, sf001)
      .queryExecution.executedPlan
    (plan, walk(plan))
  }

  /** Assert no exchange in `name`'s plan carries a column named (exactly,
    * case-insensitively) any of `banned` — exact match, not substring:
    * `media_id` must not trip a `media` ban. */
  private def assertExchangesFreeOf(name: String, banned: Seq[String]): Unit = {
    val (plan, exchanges) = exchangesOf(name)
    assert(exchanges.nonEmpty, s"unexpected plan shape:\n$plan")
    // ROUND-ROBIN exchanges are exempt: they carry no key, so they are
    // never an ALGORITHMIC shuffle — the only one in the suite is the
    // explicit input respread over the single-file fixture scan
    // (Tables.documentsWide, the r15 lesson), which deliberately moves the
    // raw table once to parallelize per-row compute. The payload
    // discipline this helper audits is about keyed (hash/range) exchanges
    // the OPERATORS introduce.
    val keyed = exchanges.filterNot {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        s.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning]
      case _ => false
    }
    keyed.foreach { e =>
      val carried = e.child.output.map(_.name)
      banned.foreach { b =>
        assert(!carried.exists(_.toLowerCase == b),
          s"$b column crosses a shuffle (carries: ${carried.mkString(", ")}):\n$plan")
      }
    }
  }

  test("q01: shipdate filter is pushed to the parquet scan, columns pruned") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    // projection prunes the 16-column lineitem to the 7 used columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan reads pruned columns:\n$readSchema")
  }

  test("q02: small dimension is broadcast, not shuffled") {
    val p = planOf("q02_broadcast_enrich")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("q13: topic demux filter reaches the events scan") {
    val p = planOf("q13_decode_validity")
    assert(p.contains("PushedFilters") && p.contains("event_type"),
      s"topic/event filter not at the scan:\n$p")
  }

  test("v30b operator: the pigeonhole band join replaces v30's panel×corpus " +
      "scan — no cartesian/nested-loop join anywhere in the plan") {
    import org.apache.spark.sql.functions.col
    // audit the OPERATOR plan directly: the registered query checkpoints
    // its result for the teeth counts, which would hide the join shape
    val emb = graft.sources.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val p = graft.operators.Similarity.binaryHammingRadius(emb, maxHamming = 7)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"v30b has a cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"v30b has a nested-loop join:\n$p")
    assert(p.contains("Join"), s"unexpected plan shape (no join at all):\n$p")
  }

  test("dedup ladder plans contain no cartesian/nested-loop joins") {
    for (q <- Seq("d01_dedup_exact", "d05_ngram_jaccard", "d06_minhash_lsh",
        "d07_simhash", "d12_simhash_neardup", "v01_embedding_neardup",
        "v03_ann_lsh")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join:\n$p")
    }
  }

  test("d31: novelty joins only doc-cardinality aggregates — the corpus-sized " +
      "shingle relation never reaches a join") {
    val p = planOf("d31_cross_doc_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d31 has a non-equi join:\n$p")
    // the one join in the plan sits ABOVE both aggregates: every join line
    // must appear before (higher than) the first partial_count over the
    // exploded shingles. If the shingle relation itself were joined (the
    // skew bomb the scaladoc rules out), a join would appear below an agg.
    val lines = p.linesIterator.toVector
    val joinIdx = lines.zipWithIndex.filter(_._1.contains("Join")).map(_._2)
    val aggIdx = lines.zipWithIndex
      .filter { case (l, _) => l.contains("HashAggregate") }.map(_._2)
    assert(joinIdx.nonEmpty && aggIdx.nonEmpty, s"unexpected plan shape:\n$p")
    assert(joinIdx.max < aggIdx.min,
      s"a join consumes a pre-aggregate (corpus-sized) relation:\n$p")
  }

  test("v09/v10: PQ corpus side carries codes, not vectors, past the join") {
    val p = planOf("v09_ann_pq")
    // encode in the scan-side projection, table build on the broadcast
    // query side, ADC above the join
    assert(p.contains("pq_encode") && p.contains("pq_dist_table") &&
      p.contains("pq_adc"), s"PQ expressions missing:\n$p")
    // the windowed top-k ranks (query_id, vec_id, adist) — if an embedding
    // column survived past the join, the 128x compression claim is void
    val windowLine = p.linesIterator.find(_.contains("Window")).get
    assert(!windowLine.contains("embedding") && !windowLine.contains("_vec"),
      s"vector column survives to the top-k:\n$windowLine")
    // re-rank (v10): candidate fetch joins are hash equi-joins on ids, and
    // the ADC shortlist stage still carries no vectors
    val p2 = planOf("v10_ann_pq_rerank")
    assert(!p2.contains("CartesianProduct"), s"v10 cartesian:\n$p2")
    assert(p2.contains("pq_adc"), s"v10 lost the ADC stage:\n$p2")
  }

  test("v12: composed IVF x PQ path carries no vectors past the cell join") {
    val p = planOf("v12_ann_ivf_pq_rerank")
    // all three stages present in one plan
    assert(p.contains("nearest_cells") && p.contains("pq_encode") &&
      p.contains("pq_dist_table") && p.contains("pq_adc"),
      s"a composition stage is missing:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join in v12:\n$p")
    // the ADC shortlist window ranks (query_id, vec_id, adist) — if an
    // embedding or *_vec column reaches it, the corpus vectors crossed the
    // cell join and the memory story is void (re-rank reads them later, at
    // width queries x shortlist, via the id equi-join)
    val shortWindow = p.linesIterator.find(l =>
      l.contains("Window") && l.contains("adist")).get
    assert(!shortWindow.contains("embedding") && !shortWindow.contains("_vec"),
      s"vector column reaches the ADC shortlist:\n$shortWindow")
  }

  test("v13: persisted index scan is partition-pruned to probed cells") {
    val p = planOf("v13_ann_indexed")
    // the index relation is read through the hive partition column: the
    // probed-cell filter must land as PartitionFilters (files of unprobed
    // cells never open), not as a post-scan Filter over a full read
    val scanLine = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("cell")).getOrElse(
      fail(s"no partition-filtered scan in v13:\n$p"))
    assert(scanLine.contains("cell"), s"cell not in partition filters:\n$scanLine")
    // the index scan carries codes, not vectors
    val idxRead = p.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("code")).getOrElse(
      fail(s"no code-carrying index scan in v13:\n$p"))
    assert(!idxRead.contains("embedding"),
      s"index scan reads embeddings:\n$idxRead")
  }

  test("v32b: adaptive probe widths still land as PartitionFilters on the " +
      "persisted index scan") {
    val p = planOf("v32b_ann_adaptive_indexed")
    // the per-query margin rule decides the probe set at runtime, but its
    // UNION is still bounded driver state — it must reach the index read
    // as PartitionFilters (unprobed cell directories never open), exactly
    // v13's storage-skipping property under adaptive widths
    p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("cell")).getOrElse(
      fail(s"no partition-filtered scan in v32b:\n$p"))
    // and the index scan stays codes-only (vectors enter at the re-rank)
    val idxRead = p.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("code")).getOrElse(
      fail(s"no code-carrying index scan in v32b:\n$p"))
    assert(!idxRead.contains("embedding"),
      s"index scan reads embeddings:\n$idxRead")
  }

  test("v16: metadata predicate is pushed into the corpus scan") {
    val p = planOf("v16_ann_filtered")
    // the label filter must reach the parquet scan as a pushed filter —
    // a post-assignment Filter would decode+assign every non-matching
    // vector first
    val pushed = p.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("label")).getOrElse(
      fail(s"label predicate not pushed to scan in v16:\n$p"))
    assert(pushed.contains("label"), s"label missing from pushed filters:\n$pushed")
  }

  test("v15: tombstone mask is a broadcast anti-join on the pruned scan") {
    val p = planOf("v15_ann_index_delete")
    // deletion must not cost the index its storage-level pruning…
    p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("cell")).getOrElse(
      fail(s"no partition-filtered scan in v15:\n$p"))
    // …and the mask itself must be a BROADCAST LeftAnti — a shuffled anti
    // join would move the probed cells' codes for a tombstone set that is
    // small by design (vacuum exists for when it is not)
    val anti = p.linesIterator.find(_.contains("LeftAnti")).getOrElse(
      fail(s"no anti-join mask in v15:\n$p"))
    assert(anti.contains("Broadcast"), s"tombstone mask shuffled:\n$anti")
  }

  test("v33: eval side broadcasts; the corpus never shuffles with vectors") {
    // audit the OPERATOR plan directly — the registered row checkpoints
    // its result (teeth-count double consumption), which truncates the
    // query's visible plan to an ExistingRDD
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.register(spark)
    val emb = graft.sources.Tables.embeddings(spark, sf001)
    val bench = emb.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => x * lit(1.1) + lit(0.05)).as("embedding"))
    val p = graft.operators.Similarity.semanticDecontaminate(emb, bench,
        graft.functions.VectorFunctions.cosineSim, k = 5, minCos = 0.9)
      .queryExecution.executedPlan.toString
    // the bench×corpus pairing must be a broadcast nested-loop (the eval
    // set is tiny by design) — a shuffled cross product would move the
    // corpus
    val bnlj = p.linesIterator.find(_.contains("BroadcastNestedLoopJoin"))
      .getOrElse(fail(s"no broadcast cross pairing in v33:\n$p"))
    assert(bnlj.contains("Cross") || bnlj.contains("Inner"),
      s"unexpected join type:\n$bnlj")
    // every shuffle carries (bench_id, vec_id, cos) rows only — no
    // embedding/vector column crosses an exchange (the top-k phases run
    // on scored pairs, vectors stay in the scan stage)
    p.linesIterator.filter(l => l.contains("Exchange hashpartitioning"))
      .foreach { l =>
        assert(!l.contains("embedding") && !l.contains("_vec"),
          s"vector column crosses a shuffle in v33:\n$l")
      }
  }

  test("d25/d26: bounded-side joins are broadcasts, not shuffles") {
    // d25's trigram-DF join-back (vocabulary charset-bounded) and d26's
    // quota join (#sources-bounded) must both plan as broadcast hash
    // joins — shuffling the corpus-sized side against them would be the
    // 100 TB regression the scaladoc claims impossible
    for (q <- Seq("d25_ngram_coherence", "d26_temperature_mix")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: no broadcast join:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q: bounded side shuffled:\n$p")
    }
  }

  test("q44: rollup merges sketch buffers without re-expanding raw keys") {
    val p = planOf("q44_sketch_rollup")
    val lines = p.linesIterator.toIndexedSeq
    val iMerge = lines.indexWhere(_.toLowerCase.contains("kmvmerge"))
    val iSketch = lines.indexWhere(_.toLowerCase.contains("kmvsketch"))
    assert(iMerge >= 0 && iSketch > iMerge,
      s"expected KmvMerge above KmvSketch (two-level agg):\n$p")
    // the merge stage consumes buffers: no md5/raw-key expansion between the
    // two aggregates — the only md5 sits below the per-group sketch build
    assert(!lines.slice(iMerge + 1, iSketch).exists(_.contains("md5")),
      s"raw keys re-expanded above the sketch stage:\n$p")
    // both levels run with map-side partial aggregation
    assert(p.contains("partial_kmvsketch") || p.contains("partial_KmvSketch"),
      s"sketch build lost its partial (map-side) phase:\n$p")
  }

  test("q45: HLL rollup merges register arrays without re-expanding raw keys") {
    val p = planOf("q45_hll_rollup")
    val lines = p.linesIterator.toIndexedSeq
    val iMerge = lines.indexWhere(_.toLowerCase.contains("hllmerge"))
    val iSketch = lines.indexWhere(_.toLowerCase.contains("hllsketch"))
    assert(iMerge >= 0 && iSketch > iMerge,
      s"expected HllMerge above HllSketch (two-level agg):\n$p")
    assert(!lines.slice(iMerge + 1, iSketch).exists(_.contains("md5")),
      s"raw keys re-expanded above the sketch stage:\n$p")
    assert(p.toLowerCase.contains("partial_hllsketch"),
      s"sketch build lost its partial (map-side) phase:\n$p")
  }

  test("q46: CMS rollup sums counter matrices without re-hashing raw keys") {
    val p = planOf("q46_cms_rollup")
    val lines = p.linesIterator.toIndexedSeq
    val iMerge = lines.indexWhere(_.toLowerCase.contains("cmsmerge"))
    val iSketch = lines.indexWhere(l =>
      l.toLowerCase.contains("cms(") && !l.toLowerCase.contains("cmsmerge"))
    assert(iMerge >= 0 && iSketch > iMerge,
      s"expected CmsMerge above Cms (two-level agg):\n$p")
    // the only md5 above the per-group build is the PROBE's bucket function
    // over the 10 exact heavy hitters, which lives in the project after the
    // final cross join — not between the two aggregates
    val between = lines.slice(iMerge + 1, iSketch)
    assert(!between.exists(l => l.contains("md5") && l.contains("Aggregate")),
      s"raw keys re-hashed between the sketch aggregates:\n$p")
    assert(p.toLowerCase.contains("partial_cms"),
      s"sketch build lost its partial (map-side) phase:\n$p")
  }

  test("q47: quantile rollup consumes samples only — no md5 above the per-group build") {
    val p = planOf("q47_quantile_sample_rollup")
    val lines = p.linesIterator.toIndexedSeq
    // the rollup side's second level is explode → window top-k → collect:
    // every md5 in the plan must sit in a projection feeding a MinKValues
    // aggregate (the sample builds), never above the per-group aggregate
    val iWindow = lines.indexWhere(_.contains("row_number"))
    assert(iWindow >= 0, s"rollup window stage missing:\n$p")
    val iAgg = lines.indexWhere(_.toLowerCase.contains("minkvalues"), iWindow + 1)
    assert(iAgg > iWindow, s"rollup per-group sample build missing below the window:\n$p")
    assert(!lines.slice(iWindow + 1, iAgg).exists(_.contains("md5")),
      s"raw keys re-hashed between the window top-k and the sample build:\n$p")
    // both sample builds keep map-side partial aggregation
    assert(p.toLowerCase.contains("partial_minkvalues"),
      s"sample build lost its partial (map-side) phase:\n$p")
  }

  test("q26: salted join still plans as an equi-join on (key, salt)") {
    val p = planOf("q26_salted_join")
    assert(p.contains("HashJoin"), s"salted join lost its equi-join shape:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("bucketed tables co-locate the join: no shuffle on either side") {
    import org.apache.spark.sql.functions.col
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val ord = spark.read.parquet(s"$sf001/orders.parquet")
      .select("o_orderkey", "o_orderstatus")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("ord_bucketed")
    // disable broadcast so the assertion can't pass vacuously — the point is
    // that the SORT-MERGE join runs on pre-hashed bucket files, shuffle-free
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed table writes key-sorted row groups that prune at scan time") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    // tiny row groups so one file holds many — at production block sizes the
    // same mechanics skip 128 MB chunks
    hc.setInt("parquet.block.size", 16 * 1024)
    def scannedRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }
        .map(_.metrics("numOutputRows").value).sum
    }
    try {
      val schema = new org.apache.spark.sql.types.StructType()
        .add("k", "long").add("payload", "string")
      // hash-permuted keys: without the explicit within-bucket sort the file
      // order is genuinely random in k, so every row group spans ~the full
      // key range and nothing can be skipped
      val data = spark.range(50000).select(
        xxhash64(col("id")).as("k"), md5(col("id").cast("string")).as("payload"))
      val root = java.nio.file.Files.createTempDirectory("rg-skip-").toString
      val tbl = new graft.merge.LogTable(spark, root, schema, Some((Seq("k"), 2)))
      tbl.overwrite(data)
      val probe = data.orderBy("id").limit(1).collect()(0).getLong(0)
      val sortedScan = scannedRows(tbl.read().filter(col("k") === probe))

      // negative control — the same data written WITHOUT the sort: proves the
      // assertion bites (stats exist, pruning is on) and pins the sort itself
      val rawDir = java.nio.file.Files.createTempDirectory("rg-noskip-").toString
      data.repartition(2).write.mode("overwrite").parquet(rawDir)
      val unsortedScan = scannedRows(
        spark.read.parquet(rawDir).filter(col("k") === probe))

      assert(sortedScan <= 5000,
        s"row-group skipping lost: key-sorted scan read $sortedScan of 50000 rows")
      assert(unsortedScan > 10 * math.max(sortedScan, 1),
        s"control failed: unsorted=$unsortedScan sorted=$sortedScan — " +
          "pruning assertion would be vacuous")
    } finally {
      if (prevBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prevBlock)
    }
  }

  test("q36 as-of join: one keyed window, no range/nested-loop join") {
    val p = planOf("q36_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of join degenerated to a non-equi join:\n$p")
    assert(p.contains("Window"), s"expected the union+window shape:\n$p")
  }

  test("q37 binned range join plans as an equi hash join, not a cartesian") {
    val p = planOf("q37_range_bin")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"bin rewrite lost its equi-join shape:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to all-pairs:\n$p")
  }

  test("q38: bloom probe filters the fact side BELOW the join") {
    val df = Registry.queries("q38_bloom_prune")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    val filterLine = p.linesIterator.indexWhere(_.contains("bloom_might_contain"))
    val joinLine = p.linesIterator.indexWhere(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(filterLine >= 0, s"bloom probe missing from the plan:\n$p")
    assert(joinLine >= 0 && filterLine > joinLine,
      s"bloom probe not below the join (join@$joinLine, probe@$filterLine):\n$p")
  }

  test("centroid seeding costs one corpus pass: count comes from parquet footers") {
    val emb = graft.sources.Tables.embeddings(spark, sf001)
    val sc = spark.sparkContext
    sc.setJobGroup("seed-audit", "strideCentroids")
    val seed =
      try graft.operators.Similarity.strideCentroids(emb, 16)
      finally sc.clearJobGroup()
    assert(seed.length == 16)
    // status store ingests listener events asynchronously — wait for the
    // first job, then settle, then assert no second one arrived
    def jobs = sc.statusTracker.getJobIdsForGroup("seed-audit").length
    var tries = 0
    while (jobs == 0 && tries < 100) { Thread.sleep(50); tries += 1 }
    Thread.sleep(500)
    assert(jobs == 1,
      s"expected exactly 1 job (the seed collect; count must be footer-only), got $jobs")
    // and the footer count itself is exact
    assert(graft.sources.ParquetMeta.rowCount(emb) == emb.count())
  }

  test("d33 Gopher gate is map-only: no join, no aggregation shuffle before " +
      "the final sort") {
    val p = planOf("d33_gopher_rules")
    assert(!p.contains("Join"), s"d33 grew a join:\n$p")
    // allowed exchanges: the final ORDER BY's range partitioner and the
    // explicit round-robin input respread (documentsWide, r15) — the rule
    // stats must compute map-side with no KEYED shuffle of their own
    val badExchange = p.linesIterator.filter(_.contains("Exchange"))
      .exists(l => !l.contains("rangepartitioning") &&
        !l.contains("RoundRobinPartitioning"))
    assert(!badExchange, s"d33 shuffles before the sort:\n$p")
  }

  test("q58 cohort-size enrichment joins by broadcast, not shuffle") {
    val p = planOf("q58_cohort_retention")
    assert(p.contains("BroadcastHashJoin"), s"cohort sizes not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q58 has a non-equi join:\n$p")
  }

  test("v17 mutual k-NN graph: every edge is reciprocal in the directed " +
      "top-k, no all-pairs join") {
    import spark.implicits._
    val p = planOf("v17_knn_graph")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"v17 fell back to all-pairs:\n$p")
    graft.functions.VectorFunctions.register(spark)
    val emb = graft.sources.Tables.embeddings(spark, sf001)
    val directed = graft.operators.Similarity.ivfTopK(emb, emb,
        graft.functions.VectorFunctions.cosineSim, k = 5, nlist = 16, nprobe = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val edges = Registry.queries("v17_knn_graph")(spark, sf001)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(edges.nonEmpty, "mutual graph is empty at sf0.001")
    edges.foreach { case (a, b) =>
      assert(a < b, s"edge ($a,$b) not canonicalized")
      assert(directed((a, b)) && directed((b, a)),
        s"edge ($a,$b) is not mutual in the directed top-k")
    }
  }

  test("q59 recursive hierarchy executes as a UnionLoop, not a static unroll") {
    val p = planOf("q59_recursive_hierarchy")
    assert(p.contains("UnionLoop"), s"q59 lost the recursive plan:\n$p")
  }

  test("d34 DSIR: bucket statistics join back broadcast — the corpus-sized " +
      "bigram relation is never the build side of a shuffle join") {
    val p = planOf("d34_dsir_importance")
    assert(p.contains("BroadcastHashJoin"), s"bucket stats not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"d34 has a cartesian (beyond the " +
      s"1-row totals crossJoin, which plans as broadcast):\n$p")
  }

  test("q63 bucketed join: the SMJ rides bucket co-location — no Exchange " +
      "carries the join key or the pre-agg payload, and the join subtree " +
      "is exchange-free over bucketed scans") {
    // builds the bucketed tables (and verifies the query end-to-end shape)
    val (plan, exchanges) = exchangesOf("q63_bucketed_join")
    exchanges.foreach { e =>
      val carried = e.child.output.map(_.name.toLowerCase)
      Seq("o_custkey", "c_custkey", "o_totalprice").foreach { b =>
        assert(!carried.contains(b),
          s"$b crosses a shuffle (carries ${carried.mkString(",")}):\n$plan")
      }
    }
    // the factored join alone: zero exchanges, zero sorts — bucket layout
    // satisfies both the partitioning and the ordering requirement
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan) // post-collect AQE stages
        case _ => p.children
      }
      p +: kids.flatMap(nodes)
    }
    val join = RelationalQueries.q63Join(spark)
    join.collect() // finalize the adaptive plan
    val ns = nodes(join.queryExecution.executedPlan)
    assert(ns.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      s"expected a sort-merge join:\n${join.queryExecution.executedPlan}")
    assert(!ns.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.Exchange]),
      s"bucketed join still shuffles:\n${join.queryExecution.executedPlan}")
    // both scans actually ride the bucket layout (a SortExec remains: since
    // Spark 3.0 bucket sortBy metadata doesn't feed outputOrdering — the
    // re-sort of each already-sorted one-file bucket is a linear pass)
    val scans = ns.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 2 && scans.forall(_.bucketedScan),
      s"scan is not bucketed:\n${join.queryExecution.executedPlan}")
  }

  test("v29 residual IVF-PQ keeps the cell equi-join shape — no cartesian, " +
      "and no raw embedding crosses a shuffle (codes + tables only)") {
    val p = planOf("v29_ann_ivfpq_residual")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"v29 fell back to all-pairs:\n$p")
    // the candidate join carries (cell, code, dtab); corpus embeddings are
    // consumed in the scan stage and re-fetched only for the shortlist
    val (plan, exchanges) = exchangesOf("v29_ann_ivfpq_residual")
    val joinExchanges = exchanges.filter(_.child.output.exists(_.name == "code"))
    assert(joinExchanges.forall(!_.child.output.exists(_.name == "embedding")),
      s"raw embedding rides the code shuffle:\n$plan")
  }

  test("m13 image quality gate: media bytes never reach an exchange") {
    assertExchangesFreeOf("m13_image_quality_gate", Seq("media"))
  }

  test("d45 LM fluency: raw text never crosses a shuffle — only (w1,w2) " +
      "count rows and per-doc stats move") {
    assertExchangesFreeOf("d45_lm_fluency", Seq("text"))
  }

  test("d52 fuzzy decontamination: the band join broadcasts the bench side " +
      "— no corpus self-join, no cartesian") {
    val p = planOf("d52_fuzzy_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d52 fell back to all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bench band rows are not broadcast:\n$p")
  }

  test("v18 range search keeps the IVF equi-join shape — no all-pairs scan") {
    val p = planOf("v18_range_search")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"v18 fell back to all-pairs:\n$p")
  }

  test("m10 scene detect: media bytes never reach an exchange — only the " +
      "per-frame energy profile shuffles") {
    assertExchangesFreeOf("m10_video_scene_detect", Seq("media"))
  }

  test("m11 audio segments: media bytes never reach an exchange — only " +
      "(media_id, frame, energy) rows shuffle") {
    assertExchangesFreeOf("m11_audio_segments", Seq("media"))
  }

  test("v22 embedding drift: no embedding or quantized vector crosses a " +
      "shuffle — partial sums reduce the dim-explode map-side") {
    assertExchangesFreeOf("v22_embedding_drift", Seq("embedding", "qv"))
  }

  test("v24 diverse sample: assignment is map-only against broadcast " +
      "centroids — embeddings never shuffle, no all-pairs join") {
    val p = planOf("v24_diverse_sample")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"v24 has an all-pairs join:\n$p")
    assertExchangesFreeOf("v24_diverse_sample", Seq("embedding"))
  }

  test("v20 hard negatives keeps the IVF equi-join shape — the per-pair " +
      "label predicate adds no cartesian/nested-loop") {
    val p = planOf("v20_hard_negatives")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"v20 fell back to all-pairs:\n$p")
  }

  test("d36 BPE and d38 PII are map-only: no join, no shuffle except the " +
      "output sort's range exchange") {
    for (q <- Seq("d36_bpe_tokenize", "d38_pii_redact")) {
      val p = planOf(q)
      assert(!p.contains("Join"), s"$q unexpectedly joins:\n$p")
      // the round-robin input respread (documentsWide, r15) is layout-only;
      // the audit is that the OPERATOR adds no keyed shuffle of its own
      val exchanges = p.linesIterator.filter(_.contains("Exchange")).toVector
      assert(exchanges.forall(l => l.contains("rangepartitioning") ||
        l.contains("RoundRobinPartitioning")),
        s"$q shuffles beyond the output sort:\n${exchanges.mkString("\n")}")
    }
  }

  test("d55 trust propagation: similarity edges come from the shingle " +
      "equi-join — no cartesian/nested-loop anywhere in the loop output") {
    val p = planOf("d55_trust_propagation")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d55 fell back to all-pairs:\n$p")
  }

  test("d56 cross-source overlap: raw shingles/hashes never cross a shuffle — " +
      "only sketch buffers and pair rows do") {
    // the pair theta-join over #sources rows is an intentional BNL; the
    // audit is that nothing corpus-sized is shuffled: the per-source agg
    // combines KMV buffers map-side, so no exchange carries a shingle or
    // raw hash column
    assertExchangesFreeOf("d56_cross_source_overlap", Seq("shingle", "h"))
  }

  test("deletion-vector read: the sidecar applies as a BROADCAST anti-join — " +
      "the data scan is never shuffled to subtract positions") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val root = java.nio.file.Files.createTempDirectory("dv-plan-").toString
    val t = new graft.merge.LogTable(spark, root,
      org.apache.spark.sql.types.StructType.fromDDL("k bigint, v string"))
    t.overwrite((1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.deleteWhere(col("k") % 100 === 0)
    val df = t.read()
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"DV read lost the anti-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"DV sidecar is not broadcast — the table side would shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"DV application shuffles the data side:\n$p")
  }

  test("kAnonRollup (q73's operator): group-size tags ride a broadcast; " +
      "the corpus never joins shuffle-to-shuffle for the mask") {
    // audit the operator plan directly — the query's result is
    // localCheckpointed (its requires force one pass), which flattens the
    // registered plan to an RDD scan
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.eventsUs(spark, sf001)
      .select(col("user_id"), col("event_type"))
    val out = graft.ops.Relational.kAnonRollup(ev, Seq("event_type"),
      "user_id", 5, Seq(count(lit(1)).as("n")))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"size-tag join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"k-anon mask shuffled the corpus into a join:\n$p")
  }

  test("d60: probes are broadcast into the interval join; no cartesian") {
    val p = planOf("d60_token_provenance")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe join is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"probe join went cartesian:\n$p")
    // the span index is ONE window pass: exactly one exchange hashes on
    // source below the window, and no second corpus-wide exchange exists
    // (the probe side's group-by reuses the same partitioning)
    assert(!p.contains("SortMergeJoin"),
      s"the corpus re-shuffled for the probe lookup:\n$p")
  }

  test("hot paths stay inside whole-stage codegen") {
    // codegen wrappers only appear in the FINAL adaptive plan → execute first
    for (q <- Seq("q01_pricing_summary", "d02_token_count", "d11_quality_score")) {
      val df = Registry.queries(q)(spark, sf001)
      df.collect() // count() would finalize a DIFFERENT (derived) adaptive plan
      val p = df.queryExecution.executedPlan.toString
      // codegen'd stages print as "*(<id>) Operator" in the final plan
      assert(p.contains("*("), s"$q fell out of codegen:\n$p")
    }
  }
}
