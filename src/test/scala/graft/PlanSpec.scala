package graft

import graft.operators._
import org.apache.spark.sql.functions.{col, explode, expr, length, lower, split, trim}

/** Physical-plan assertions — the 100 TB contract: filters reach the
  * scan, small dims broadcast, LSH candidate generation never degenerates
  * to a cartesian product, projections prune the read schema.
  */
class PlanSpec extends SparkSpec {

  // Plan-string assertions must see the FULL lineage: a persisted subtree
  // left behind by another suite (operators persist internally) makes
  // CacheManager substitute InMemoryTableScan into the plan text and
  // hides the nodes asserted on — suite-order-dependent flakes otherwise.
  override def planString(df: org.apache.spark.sql.DataFrame): String = {
    spark.sharedState.cacheManager.clearCache()
    super.planString(df)
  }

  test("q01 pushes the shipdate filter into the parquet scan") {
    val p = planString(Relational.q01ScanAgg(spark, Sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q02 prunes the read schema to selected columns") {
    val p = planString(Relational.q02FilterProject(spark, Sf))
    assert(p.contains("o_orderkey"))
    assert(!p.contains("o_custkey"), "unprojected column read from parquet")
  }

  test("q03 broadcasts the nation dim") {
    val p = planString(Relational.q03JoinBroadcast(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q04 multi-join contains no shuffle on the broadcast dims") {
    val p = planString(Relational.q04MultiJoin(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("LSH dedup/ANN paths never plan a cartesian product") {
    Seq(
      "q21" -> Dedup.q21DedupMinhash(spark, Sf),
      "q22" -> Dedup.q22DedupSimhash(spark, Sf),
      "q23" -> Dedup.q23NgramJaccard(spark, Sf),
      "q24" -> Ann.q24DedupEmbedding(spark, Sf),
      "q26" -> Ann.q26AnnLsh(spark, Sf),
      "q83" -> Dedup.q83IncrementalMinhash(spark, Sf)
    ).foreach { case (name, df) =>
      val p = planString(df)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a nested-loop join")
    }
  }

  test("q23 builds its inverted index through the bounded collect_set_capped aggregate") {
    // the viral-shingle memory bound (VERDICT r6 #1) is structural only if
    // the bounded aggregate is actually in the plan — guard the rework
    // against a silent revert to collect_set + post-filter
    val p = planString(Dedup.q23NgramJaccard(spark, Sf))
    assert(p.contains("collect_set_capped"), "posting lists must use the bounded aggregate")
  }

  test("windows are partitioned by entity keys (no global window on events)") {
    Seq(Windows.q08WindowLagLead(spark, Sf), Windows.q09WindowRolling(spark, Sf))
      .foreach { df =>
        val p = planString(df)
        assert(p.contains("partitionspec") || p.contains("PartitionSpec") ||
          p.contains("windowspecdefinition(user_id"), p.take(500))
      }
  }

  test("q39 pairs days with a per-user window, not a rollup self-join") {
    val p = planString(Predictive.q39NextDayPrediction(spark, Sf))
    assert(p.contains("windowspecdefinition(user_id"), p.take(500))
    // exactly zero joins: the day+1 pairing must come from LEAD
    assert(!p.contains("Join"), "q39 should not plan any join")
  }

  test("q38/q44 join only broadcast model tables against the grid/users") {
    Seq("q38" -> Predictive.q38WhatIf(spark, Sf),
        "q44" -> Predictive.q44MultidayPlan(spark, Sf)).foreach { case (n, df) =>
      val p = planString(df)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$n should never shuffle-join — model tables are broadcast aggregates")
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian product")
    }
  }

  test("q38 aggregates its pairs exactly once, with nothing cached") {
    import org.apache.spark.sql.catalyst.expressions.Lead
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window}
    spark.sharedState.cacheManager.clearCache()
    val plan = Predictive.q38WhatIf(spark, Sf).queryExecution.optimizedPlan
    assert(!plan.toString.contains("InMemoryRelation"), plan.toString.take(500))
    // `pairs` is the output of the per-user LEAD window: every model
    // statistic must come from one aggregate over it, not one per table
    def overPairs(p: LogicalPlan): Boolean = p.exists {
      case w: Window => w.windowExpressions.exists(_.exists(_.isInstanceOf[Lead]))
      case _ => false
    }
    val aggs = plan.collect { case a: Aggregate if overPairs(a.child) => a }
    assert(aggs.size == 1, plan.toString.take(2000))
  }

  test("q41 plans no global window over the fact table") {
    val p = planString(Predictive.q41TrendAnalyzer(spark, Sf))
    assert(p.contains("windowspecdefinition(user_id"), p.take(500))
  }

  test("q46 component rounds contain no cartesian product") {
    val p = planString(Clusters.q46DedupClusters(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(500))
  }

  test("q84 keep-best plans no cartesian product and one cluster-partitioned window") {
    val p = planString(Clusters.q84KeepBest(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(500))
    assert(p.contains("windowspecdefinition(cluster_id"), p.take(500))
  }

  test("q85 surprisal: frequency table broadcasts — the token stream never re-shuffles") {
    val p = planString(TextOps.q85TokenSurprisal(spark, Sf))
    // total-token count + corpus mean/σ — single-row build sides, the one
    // case where BNLJ is the right plan (q75's discipline). The plan TEXT
    // shows the total broadcast once per perDoc lineage copy (the runtime
    // cache dedups it), so the bound is ≤ 3, not == 2.
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 3, p.take(500))
    // the vocab join-back must ride a broadcast: the only corpus-wide
    // exchanges are the LM groupBy and the per-doc aggregate
    assert(p.contains("BroadcastHashJoin"), "frequency join-back must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin"), p.take(500))
  }

  test("q118 bigram LM: both model tables broadcast back — the bigram stream never re-shuffles") {
    // q118's per-doc frame is ONE eager checkpoint since round 17 (the
    // corpus-stats broadcast raced the final projection), so the model
    // join-back shape is pinned on the SAME un-checkpointed kernel the
    // query consumes (the q112Lazy/q150-on-q146 convention)
    val perDoc = graft.operators.TextOps.bigramAvgNll(
      Tables.load(spark, Sf, "documents")
        .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("w")),
      Seq("doc_id"), 2)
    val p = planString(perDoc)
    // total rides a single-row BNLJ (q85's bound shape)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 3, p.take(500))
    assert(p.contains("BroadcastHashJoin"), "model join-backs must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin"), p.take(500))
    // the checkpointed query tail: no shuffle-join may appear around the
    // pin either — only the stats broadcast
    val pq = planString(graft.operators.TextOps.q118BigramLm(spark, Sf))
    assert(!pq.contains("CartesianProduct") && !pq.contains("SortMergeJoin") &&
      !pq.contains("ShuffledHashJoin"), pq.take(500))
  }

  test("q86 embedding decontamination broadcasts the benchmark side — the corpus never shuffles") {
    val p = planString(Ann.q86EmbedDecontaminate(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), "benchmark bucket table must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(500))
  }

  test("q47 split prunes the text column from the scan") {
    val p = planString(Sampling.q47SplitAssign(spark, Sf))
    assert(!p.contains("text"), "q47 reads the corpus payload it never uses")
  }

  test("q54 trajectories share one per-user window and plan no join") {
    val p = planString(Predictive.q54RecoveryWindows(spark, Sf))
    assert(p.contains("windowspecdefinition(user_id"), p.take(500))
    assert(!p.contains("Join"), "q54 should derive leads/baseline from windows, not self-joins")
  }

  test("q57 as-of join plans no join operator at all (union-and-carry)") {
    val p = planString(Temporal.q57AsofJoin(spark, Sf))
    assert(!p.contains("Join"), "as-of must be the union-and-carry window, not a join")
    assert(p.contains("windowspecdefinition(user_id"), p.take(500))
  }

  test("q62 fuzzy match pairs only through the blocking equi-join") {
    val p = planString(Dedup.q62FuzzyMatch(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "entity resolution must block, never cross-join")
  }

  test("q58 fixed-list pivot is a single conditional aggregate (no distinct-discovery pass)") {
    val p = planString(Reshape.q58Pivot(spark, Sf))
    assert(!p.contains("Join"), p.take(500))
    // one scan of events: a values-discovery pivot plans a second one
    assert("FileScan parquet".r.findAllIn(p).size == 1 ||
      "Scan parquet".r.findAllIn(p).size == 1, "pivot re-scans to discover values")
  }

  test("q71 broadcasts the rules frame; baselines are entity-partitioned windows") {
    val p = planString(Alerts.q71AlertRules(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), "rules-of-config must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "no shuffle join anywhere in rule evaluation")
    assert(p.contains("windowspecdefinition(user_id"), p.take(500))
  }

  test("q75 briefing: one fact pipeline + a 1-row freshness broadcast, no shuffle join") {
    val p = planString(Briefing.q75MorningBriefing(spark, Sf))
    // the only nested-loop join is the broadcast of the single-row
    // corpus-max-day aggregate — a 1-row build side is the one case where
    // BNLJ is the right plan; anything more means the compose degenerated
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p.take(400))
    assert(!p.contains("SortMergeJoin"), "briefing must not shuffle-join")
    assert("Scan parquet".r.findAllIn(p).size <= 2, "fact scanned more than twice")
    assert(p.contains("windowspecdefinition(user_id"), p.take(300))
  }

  test("q72/q73/q74 analyzers plan only entity-partitioned windows, no global sort-shuffle") {
    Seq(
      "q72" -> Predictive.q72TimingQuintiles(spark, Sf),
      "q73" -> Architecture.q73ArchitectureDeltas(spark, Sf),
      "q74" -> Predictive.q74NutritionAdequacy(spark, Sf)
    ).foreach { case (name, df) =>
      val p = planString(df)
      assert(p.contains("windowspecdefinition(user_id"), s"$name: ${p.take(300)}")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name plans an unbounded join")
    }
  }

  test("q76/q77 experiments: config joins broadcast, anchor is the only nested loop") {
    Seq(
      "q76" -> Experiments.q76BayesianEffect(spark, Sf),
      "q77" -> Experiments.q77DidCounterfactual(spark, Sf)
    ).foreach { case (name, df) =>
      val p = planString(df)
      assert(p.contains("BroadcastHashJoin"), s"$name: interventions must broadcast")
      // the 1-row corpus-max-day anchor is the one permitted nested loop
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, s"$name: ${p.take(400)}")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$name must not shuffle-join config-sized frames")
    }
  }

  test("q78 panel is one scan: windows and the groupBy share the user partitioning") {
    val p = planString(Experiments.q78CorrelationPanel(spark, Sf))
    assert("Scan parquet".r.findAllIn(p).size == 1, "panel must scan the fact once")
    assert(p.contains("windowspecdefinition(user_id"), p.take(300))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      "the rolling stat must ride the panel pass, not join back")
  }

  test("q79 weekly report: one fact aggregation pass + the 1-row anchor broadcast") {
    val p = planString(Reports.q79WeeklyReport(spark, Sf))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p.take(400))
    assert(!p.contains("SortMergeJoin"), "weekly report must not shuffle-join")
    assert("Scan parquet".r.findAllIn(p).size <= 2, "fact scanned more than twice")
  }

  test("q81 deterministic IVF: centroids broadcast, candidates only via the cell equi-join") {
    val p = planString(Ann.q81AnnIvf(spark, Sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "IVF must never shuffle-join or cross the corpus")
    assert(p.contains("BroadcastHashJoin"), "probe-cell join must broadcast")
  }

  test("q95/q96 semdedup: no cartesian; the only nested loop is the tiny centroid broadcast") {
    Seq("q95" -> Ann.q95SemDedup(spark, Sf),
        "q96" -> Ann.q96SemDedupReport(spark, Sf),
        "q97" -> Ann.q97SemProbe(spark, Sf)).foreach { case (name, df) =>
      val p = planString(df)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      // cell assignment is argmax over the broadcast nlist-row centroid
      // table — the only permitted nested loop. PlanSpec plans with the
      // cache cleared, so the persisted `members`/`annotated` frames
      // re-inline that one broadcast once per consumer (decision table /
      // report lookups + guardedPairs' two small-pair sides and hot-star
      // side): every occurrence is the same nlist-row build. A corpus-
      // sized nested loop would also plan SortMergeJoin-free pair paths
      // differently; the bound catches a degenerate rewrite without
      // pinning the exact inline count.
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 6,
        s"$name: a nested loop beyond the centroid broadcast: ${p.take(400)}")
    }
  }

  test("bm25 panel-term pruning: OFF below the corpus floor, semi-join shape above it, same numbers") {
    // round 17 negative result #4 staged for scale (VERDICT r17 #8): the
    // tf/df aggregations prune to the panel vocabulary only above
    // PanelPruneFloorBytes — forced here via floorBytes so the pruned
    // shape is asserted without a 256 MB fixture
    val docs = Tables.load(spark, Sf, "documents")
    val qt = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"),
        explode(split(lower(trim(col("text"))), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val off = TextRank.bm25FramesFor(docs, qt) // default floor: never at test SFs
    val on = TextRank.bm25FramesFor(docs, qt, floorBytes = 0L)
    assert(!planString(off.tf).contains("LeftSemi"),
      "below the floor the tf aggregate must stay vocabulary-wide")
    assert(planString(on.tf).contains("LeftSemi") &&
      planString(on.df).contains("LeftSemi"),
      "above the floor tf/df must aggregate only the panel-term slice")
    // dl stays corpus-wide in both modes (document length is panel-free)
    assert(!planString(on.dl).contains("LeftSemi"))
    // bit-identical numbers on the panel vocabulary — pruning is a
    // candidate restriction, never a value change
    val terms = qt.select("term").distinct()
    assert(on.df.select("term", "df").orderBy("term").collect().toSeq ==
      off.df.join(terms, Seq("term"), "left_semi")
        .select("term", "df").orderBy("term").collect().toSeq)
    assert(on.tf.select("doc_id", "term", "tf").orderBy("doc_id", "term").collect().toSeq ==
      off.tf.join(terms, Seq("term"), "left_semi")
        .select("doc_id", "term", "tf").orderBy("doc_id", "term").collect().toSeq)
  }

  test("ANN pinned kernels: centroid table and PQ codebook build as one partial-aggregated pass each") {
    // ADVICE r17: the eager pins inside q81/q109/q110/q137/q26 plan as
    // opaque RDD scans, so the suite-level assertions no longer see the
    // centroid/codebook builders — pin the kernel shapes here on the
    // un-checkpointed builders themselves (the q118 convention)
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select(col("vec_id"), col("emb"), col("label"))
    val cents = Ann.centroidTable(e, 1)
    val pc = planString(cents)
    assert(!pc.contains("SortMergeJoin") && !pc.contains("CartesianProduct") &&
      !pc.contains("ShuffledHashJoin"), pc.take(500))
    assert(pc.contains("HashAggregate"), "centroid build must partial-aggregate")
    val codebook = Ann.pqCodebook(Ann.pqComps(Ann.pqCoded(
      e.select(col("vec_id"), col("emb")))))
    val pb = planString(codebook)
    assert(!pb.contains("SortMergeJoin") && !pb.contains("CartesianProduct") &&
      !pb.contains("ShuffledHashJoin") && !pb.contains("Join"), pb.take(500))
    assert(pb.contains("HashAggregate"), "codebook build must partial-aggregate")
  }

  test("q102 BPE pairs: bounded top-k selection, no join anywhere") {
    val p = planString(CorpusOps.q102BpePairs(spark, Sf))
    // the unpartitioned rank + filter compiles to a global top-k
    // (TakeOrderedAndProject — per-partition heaps of k, no full sort)
    // or, depending on the rewrite, a WindowGroupLimit; either keeps
    // per-partition state bounded at k before any exchange
    assert(p.contains("TakeOrderedAndProject") || p.contains("WindowGroupLimit"),
      "top-k must keep per-partition state bounded before the rank exchange")
    assert(!p.contains("Join"), "pair counting needs no join")
  }

  test("q103 mixture draw broadcasts the languages-frame allocation") {
    val p = planString(Sampling.q103MixtureDraw(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), "allocation join must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must never shuffle for the languages-frame join")
  }

  test("q104 manifest position window is shard-partitioned") {
    val p = planString(Sampling.q104TrainOrder(spark, Sf))
    // the position row_number must partition by shard — a degenerate
    // global permutation would hash the window input to one partition.
    // (The UniMax waterfall's languages-frame windows upstream ARE
    // deliberate single-partition windows over ≤ hundreds of rows —
    // they are allowed; the corpus-sized manifest window is not.)
    assert(p.contains("hashpartitioning(shard"),
      "manifest position window must repartition on shard")
  }

  test("q108 chunking is scan-speed: no exchange before the harness sort, no join") {
    val p = planString(TextOps.q108ChunkWindows(spark, Sf))
    // tokenize → arithmetic chunk count → explode → slice is row-local;
    // the ONLY exchange allowed is the final presentation ORDER BY's
    // range partitioning — a shuffle or join before it means the
    // operator stopped being a single pass at read bandwidth
    assert(!p.contains("Join"), "chunking needs no join")
    assert(!p.contains("hashpartitioning"),
      "chunking must not hash-shuffle — row-local explode only")
    assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1, p.take(500))
  }

  test("q109 PQ ADC: LUT and codebook ride broadcasts; no sort-merge join, no cartesian") {
    val p = planString(Ann.q109AnnPq(spark, Sf))
    // the scan side (corpus codes) joins the per-query LUT and the
    // codeword-norm table as broadcasts — the corpus never shuffles for
    // a join; the only corpus-keyed exchanges are the codebook build's
    // partial-aggregated groupBy and the (query, vector) ADC aggregate
    assert(p.contains("BroadcastHashJoin"), "LUT join must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(500))
  }

  test("q110 IVF-PQ rerank: centroid/LUT/shortlist sides all broadcast; no corpus-sized join shuffle") {
    val p = planString(Ann.q110IvfPq(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), "stack joins must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(500))
  }

  test("q112 PQ probe: probes/LUT/shortlist ride broadcasts; no sort-merge join, no cartesian") {
    // the lazy body: the registered query pins its result eagerly (the
    // r11 in-query free), which plans as a bare RDD scan — the shape
    // under test is the UNPINNED q110-read-path plan
    val (lazyPlan, pins) = Ann.q112Lazy(spark, Sf)
    val p = planString(lazyPlan)
    pins.foreach(_.unpersist(false))
    // the q110 read-path shape against inline state: the member side is
    // only ever the stream side of broadcast joins (probes by cell, LUT
    // by (q_id, sub, code), shortlist+queries for the rerank)
    assert(p.contains("BroadcastHashJoin"), "probe-stack joins must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(500))
  }

  test("q111 dup passages: the posting join shuffles on the chunk key, nothing broadcasts the df table") {
    val p = planString(TextOps.q111DupPassages(spark, Sf))
    // the duplicated-passage set grows with the corpus, so the df
    // join-back must NOT rely on a broadcast (q85 broadcasts because its
    // head vocab is floored; here the posting-list co-partitioning is
    // the contract) — both sides hash on chunk_md5 and nothing plans a
    // cartesian
    assert(p.contains("hashpartitioning(chunk_md5"), p.take(500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(500))
  }

  test("q113 batched BPE round: the word-frame fold plans no join at all") {
    val p = planString(Bpe.q113BpeSegment(spark, Sf))
    // the merges are a driver-side literal map inside the fold — the
    // segmentation pass is scan + one word groupBy, never a join
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("hashpartitioning(word"), p.take(500))
  }

  test("q115 heaps growth: gram first-occurrence is the only corpus-sized exchange; bounds and fit broadcast") {
    val p = planString(CorpusOps.q115HeapsGrowth(spark, Sf))
    // the (min, max) bounds and the 1-row fit ride broadcasts; the gram
    // min-bucket groupBy is the corpus shuffle
    assert(p.contains("hashpartitioning(gram"), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      p.take(800))
  }

  test("q116/q117 spans: the benchmark gram set broadcasts — the corpus gram stream never sort-merges") {
    val p116 = planString(Curation.q116ContaminationSpan(spark, Sf))
    assert(p116.contains("BroadcastHashJoin"), p116.take(500))
    assert(!p116.contains("CartesianProduct") && !p116.contains("SortMergeJoin"),
      p116.take(800))
    // q117 adds sliver-sized assembly joins AFTER the corpus-sized gram
    // probe; those may legitimately hash- or sort-merge (both sides are
    // the contaminated sliver) — the contract here is only that nothing
    // corpus-sized plans a cartesian and the benchmark probe broadcasts
    val p117 = planString(Curation.q117SpanExcise(spark, Sf))
    assert(p117.contains("BroadcastHashJoin"), p117.take(500))
    assert(!p117.contains("CartesianProduct"), p117.take(800))
  }

  test("q126 priority sample: WindowGroupLimit rank, side frames broadcast back") {
    val p = planString(Sampling.q126PrioritySample(spark, Sf))
    // top-(k+1) per stratum must group-limit BEFORE the exchange, and
    // the tau/totals frames (≤ one row per language) must never drag
    // the sampled rows into a sort-merge join
    assert(p.contains("WindowGroupLimit"), "rank filter must group-limit")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(800))
  }

  test("q128 epoch order: position window partitions by (epoch, shard)") {
    val p = planString(Sampling.q128EpochOrder(spark, Sf))
    // the manifest-sized window must spread over epoch × shard — a
    // degenerate global window would single-thread docs × epochs rows
    assert(p.contains("hashpartitioning(epoch"), p.take(800))
    assert(!p.contains("Join"), "epoch fan-out is an explode, not a join")
  }

  test("q132/q135 rollup queries scan the corpus exactly once") {
    // q132's rollups must reuse the persisted (source, bin) cell frame
    // instead of re-running the corpus-sized scoring scan per branch.
    // NOTE: the suite's planString clears the cache (needed by the
    // lineage assertions above) — this test reads the RAW plan because
    // the in-query pin IS what it asserts.
    val p132 = Profile.q132SourcePsi(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("InMemoryTableScan".r.findAllIn(p132).size >= 3,
      "q132 rollups must read the persisted cell frame")
    // q135's row/column totals are windows over its one (lang, predicted)
    // cell frame: one scan, no pin, and no exchange past the groupBy's
    val p135 = graft.operators.TextOps.q135LangIdConfusion(spark, Sf)
      .queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(p135).size == 1, p135)
    assert(!p135.contains("InMemoryTableScan"), p135)
    assert("Exchange".r.findAllIn(p135).size == 1, p135)
  }

  test("q133 retention: cohort sizes broadcast; the user join never goes cartesian") {
    val p = planString(Temporal.q133Retention(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q134 budget sweep: both rollups read the persisted windowed frame") {
    val p = Sampling.q134BudgetSweep(spark, Sf)
      .queryExecution.executedPlan.toString // raw plan: the pin is the assertion
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "docAgg and packAgg must reuse the pinned window pass")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      p.take(800))
  }

  test("q127 curriculum: no corpus-sized window — every Window consumes an aggregated frame") {
    // the r11 shape was ntile over Window.partitionBy("lang") — a
    // per-language single-reducer sort of the CORPUS (lang is a
    // ~4-value key). The rebuilt operator may only window over the
    // quantized histogram / the langs × stages rollup, so every Window
    // in the optimized plan must sit ABOVE an Aggregate; one windowing
    // the raw scan fails here no matter how it is spelled
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = Sampling.q127Curriculum(spark, Sf).queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected the bounded histogram windows")
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"a Window consumes un-aggregated (corpus-sized) input:\n$w")
    }
  }

  test("q130 hard negatives: queries broadcast; the corpus side never shuffles for the join") {
    val p = planString(Ann.q130HardNegatives(spark, Sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(500))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(800))
    assert(p.contains("WindowGroupLimit"), "rank filter must group-limit")
  }

  test("q137 contrastive pairs: anchors broadcast, one scored pass, rank filters group-limit") {
    val p = planString(Ann.q137ContrastivePairs(spark, Sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(800))
    assert(p.contains("WindowGroupLimit"), "rank filters must group-limit")
    // the positive table joins back as a broadcast (anchor-sized)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(500))
  }

  test("q139 length buckets: one corpus scan, no join — the baseline derives from the bucket frame") {
    val p = planString(Sampling.q139LengthBuckets(spark, Sf))
    // row-local CASE ladder into one bucket groupBy; the global baseline
    // is a window over the ≤10-row bucket frame, never a second scan or
    // a join (review r12 — the first cut re-scanned for a 3-value agg)
    assert(!p.contains("Join"), p.take(500))
    assert("Scan parquet".r.findAllIn(p).size == 1, "corpus scanned more than once")
  }

  test("q149 pagerank plans hash joins over the edge sliver — no cartesian, no nested loop") {
    // since round 16 the walk returns ONE eager checkpoint (the
    // caller-frees-one-checkpoint contract, ADVICE r15), so the pin
    // moves to the plan the walk actually consumes: the edge pipeline —
    // NOTHING in it may degenerate to an all-pairs shape
    val p = planString(graft.operators.Dedup
      .minhashPairs(graft.operators.Dedup.corpus(spark, Sf))
      .filter(col("n_shared_bands") >= 4))
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("q150 hybrid fidelity: broadcast arms, group-limited ranks, no cartesian") {
    // q150's own output is ONE eager checkpoint since round 16 (the
    // truth pin is freed — ADVICE r15), so the arm/fusion shape is
    // pinned on q146: the SAME sparse ranking, dense exact arm, and
    // RRF fusion, un-checkpointed
    val p = planString(graft.operators.TextRank.q146HybridRetrieval(spark, Sf))
    // the dense EXACT arm is the intended broadcast nested-loop (the
    // oracle-baseline shape — panel broadcast against the corpus); an
    // unbroadcast CartesianProduct anywhere is a defect
    assert(!p.contains("CartesianProduct"), p.take(600))
    // corpus constants and query-term df resolve as broadcasts
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    // every top-k rank filter group-limits instead of full-sorting
    assert(p.contains("WindowGroupLimit"), p.take(600))
  }

  test("q152 punctuation-robust probe: banded equi-joins only — no cartesian, no nested loop") {
    // two band passes + two hash joins, all equi-keyed: the adversarial
    // grid must never degenerate to an all-pairs shape under either
    // tokenizer mode
    val p = planString(Dedup.q152PunctRobustProbe(spark, Sf))
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }
}
