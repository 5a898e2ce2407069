package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite
import graft.queries._

/** Physical-plan regression tests — the properties that keep these
  * operators viable at 100 TB: scans must receive pushed filters and
  * pruned schemas, dimension joins must broadcast, aggregates must be
  * partial+final, and hot paths must stay inside whole-stage codegen.
  * A code change that silently loses one of these fails here, not in a
  * cluster bill. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: Q): String =
    q.run(spark, sf).queryExecution.explainString(FormattedMode)

  test("p4: date-range predicate reaches the parquet scan") {
    val p = plan(Relational.p4DateRange)
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("LessThan(l_shipdate"))
  }

  test("p4/q1: column pruning — scan reads only referenced columns") {
    val p = plan(Relational.p4DateRange)
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string,l_shipdate:timestamp"))
    assert(!p.contains("l_extendedprice"), "scan must not read unused columns")
  }

  test("q1: aggregation is partial (map-side) + final") {
    val p = plan(Relational.q1Agg)
    assert(p.contains("partial_sum"), "map-side combine missing")
    assert(p.split("HashAggregate").length >= 3, "expected two HashAggregate stages")
  }

  test("j3: dimension join is broadcast, not shuffle") {
    val p = plan(Joins.j3JoinFilterProject)
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("EqualTo(p_type,ECONOMY)"), "dim filter must be pushed to scan")
    assert(p.contains("GreaterThan(l_quantity,45.0)"), "fact filter must be pushed to scan")
  }

  test("j4: self-join shuffles both sides on the join key once") {
    val p = plan(Relational.j4SharedEdges)
    assert(p.contains("hashpartitioning(l_orderkey"))
    assert(!p.contains("CartesianProduct"), "edge build must never be a cross product")
  }

  test("j5: neighborhood filters to hot orders before any pair logic") {
    val p = plan(Joins.j5Neighborhood)
    // r1 shape joined the FULL edge set to the anchor on an OR condition
    // (=> BroadcastNestedLoopJoin over the whole co-occurrence graph).
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // No pair-expansion self-join survives: lineitem appears in only two
    // scans (anchor count + distinct pairs), not three.
    assert(!p.contains("part_a"), "edge expansion must be gone")
  }

  test("a12/o3: global windows rank only a bounded top-k, not the table") {
    // The limit must sit BELOW the Window: plan shows a top-k operator
    // (TakeOrderedAndProject) feeding the window, so the partition-less
    // WindowExec only ever sees <= 2000 (a12) / 20 (o3) rows.
    val pa = plan(Aggregates.a12Trend)
    assert(pa.contains("TakeOrderedAndProject"), pa)
    val po = plan(Filters.o3Pagination)
    assert(po.contains("TakeOrderedAndProject"), po)
  }

  test("p7: narrow projection stays in whole-stage codegen") {
    val p = plan(Filters.p7Project)
    assert(p.contains("codegen id"))
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string,p_type:string>"))
  }

  test("o1: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan(Filters.o1OrderLimit)
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q17: decorrelated subquery scans lineitem once, shuffles it once") {
    val p = plan(Relational.q17SmallQty)
    // the window form: one fact scan feeds both the per-part average and
    // the threshold comparison — the groupBy-join-back form pays two
    assert(p.split("lineitem\\.parquet").length - 1 == 1,
      s"expected exactly one lineitem scan\n$p")
    val factExchanges = p.split("hashpartitioning\\(l_partkey").length - 1
    assert(factExchanges == 1,
      s"expected exactly one partkey exchange, got $factExchanges\n$p")
    assert(p.contains("EqualTo(p_brand,Brand#4)"),
      "brand filter must push to the part scan")
  }

  test("q18: lineitem aggregates before any join; top-100 is TakeOrdered") {
    val p = plan(Relational.q18LargeOrders)
    assert(p.contains("TakeOrderedAndProject"), "top-100 must not global-sort")
    assert(p.contains("partial_sum"), "HAVING side must combine map-side")
    // the qualifying-orders filter must sit on the aggregate, upstream of
    // the orders/customer joins (joins see only qualifying keys)
    val aggIdx = p.indexOf("(total_qty")
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(aggIdx >= 0, s"threshold filter missing\n$p")
    assert(joinIdx < 0 || aggIdx < joinIdx || p.indexOf("BroadcastHashJoin") > aggIdx,
      "lineitem must aggregate+filter before joining")
  }

  test("t18: EWMA is one user_id exchange + a partitioned window, no join") {
    val p = plan(Analytics.t18Ewma)
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly one exchange\n$p")
    assert(p.contains("Window"), "frame must plan as a window")
    assert(!p.contains("Join"), s"EWMA must not plan a join\n$p")
    assert(p.contains("EqualTo(event_type,purchase)"),
      "type filter must push to the scan")
  }

  test("dd_components_inc: the stored-label remap is broadcast, corpus never reshuffles") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val stored = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("id", "component")
    val delta = Seq((2L, 5L), (9L, 1L)).toDF("id_a", "id_b")
    val p = graft.operators.Dedup.applyComponentDelta(stored, delta)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"), s"remap must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"stored labels must not shuffle for the remap\n$p")
  }

  test("dd_minhash: candidate generation is a bucket equi-join, never a product") {
    val p = plan(Pipeline.ddMinhash)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dd_jaccard_prefix: exact set-similarity join is prefix-blocked, no product") {
    val p = plan(Pipeline.ddJaccardPrefix)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("j6: fuzzy join blocks on tokens — no cartesian scoring") {
    val p = plan(Fuzzy.j6FuzzyJoin)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bucketed tables co-locate the join — no shuffle exchange") {
    val df = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    df.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("bt_orders_a")
    df.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("bt_orders_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bt_orders_a")
        .join(spark.table("bt_orders_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == df.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("w6: TopK aggregator combines map-side — partial before the exchange") {
    // the whole point of the Aggregator over the window: shuffle carries
    // at most k rows per group per map partition, which requires a
    // partial ObjectHashAggregate below the exchange
    val p = Windows.w6TopkAgg.run(spark, sf).queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final object hash aggregate:\n$p")
    assert(p.contains("partial_topkagg"), p)
  }

  test("j13: bucketed fact-to-fact join shuffles only at the aggregate") {
    // Bucketing.bucketedOrderJoin writes both sides bucketed on the join
    // key; the SortMergeJoin must read them co-located, so the ONLY
    // Exchange in the whole query is the final groupBy's.
    val df = Coverage.j13Bucketed.run(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"only the aggregate may shuffle:\n$p")
  }

  test("bucketed sharedKeyEdges: the group collect reads buckets exchange-free") {
    // The edge rebuild runs on every pipeline pass (M8 wholesale
    // overwrite); bucketing appointments by the group key pays its
    // shuffle once at write time, so the rebuild's only Exchange left
    // is the pair-count aggregate (pair-sized input, different key).
    val l = graft.Tables.load(spark, sf, "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_orderkey") < 2000)
    val bucketed = graft.operators.Graph.sharedKeyEdgesBucketed(
      spark, l, "l_orderkey", "l_partkey", tag = "planspec",
      minShared = 2, maxGroupSize = Int.MaxValue)
    val p = bucketed.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"only the pair-count aggregate may shuffle:\n$p")
    assert(p.contains("Bucketed: true"), s"scan must read the bucket layout:\n$p")
    // the bucketed rebuild is the same relation as the plain one
    val plain = graft.operators.Graph.sharedKeyEdges(
      l, "l_orderkey", "l_partkey", minShared = 2,
      maxGroupSize = Int.MaxValue)
    assert(bucketed.exceptAll(plain).isEmpty && plain.exceptAll(bucketed).isEmpty)
  }

  test("a28: CMS cells combine map-side; probes join the cell table broadcast") {
    val p = plan(Coverage.a28CmsHeavy)
    assert(p.contains("partial_count"),
      "cell build must map-side combine — the shuffle is d*w rows per partition")
    assert(p.contains("BroadcastHashJoin"),
      "the d*w cell table must broadcast to the probes")
  }

  test("txt_bigram_score: bigrams emit in-row — no window over the token stream") {
    val p = plan(Corpus.txtBigramScore)
    assert(!p.contains("Window"),
      "a lead()-style window would shuffle the whole token stream by doc")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t9/j11: temporal joins never plan a nested-loop product") {
    val pa = plan(TemporalQueries.t9Asof)
    assert(!pa.contains("BroadcastNestedLoopJoin") && !pa.contains("CartesianProduct"), pa)
    // the as-of rewrite is windowed, not joined: no join operator at all
    assert(!pa.contains("Join"), pa)
    val pr = plan(TemporalQueries.j11Range)
    assert(!pr.contains("BroadcastNestedLoopJoin") && !pr.contains("CartesianProduct"), pr)
  }

  test("merge against a bucketed base shuffles only the updates side") {
    // the Merge scaladoc's scale claim, pinned: upsert = updates ∪
    // (base ⟕anti updates); with the base bucketed on the business key,
    // the anti-join reuses the bucket layout and only the (small) updates
    // side exchanges.
    val df = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    df.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("bt_merge_base")
    val updates = df.limit(100)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val merged = graft.operators.Merge.upsert(
        spark.table("bt_merge_base"), updates, Seq("o_orderkey"))
      val plan = merged.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected only the updates-side shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sim_topk: query side is broadcast against the candidate stream") {
    val p = plan(Pipeline.simTopk)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("sim_kmeans: assignment is a pure projection — no join, one shuffle") {
    // centroids travel as a collected literal, so the final assignment
    // plan must contain no join of any kind and shuffle only once, for
    // the per-cluster stats aggregate
    val p = plan(Pipeline.simKmeans)
    assert(!p.contains("Join"), p)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1, p)
  }

  test("sim_pq_adc: LUT join is broadcast hash, codes never cross-product") {
    // candidates are scored from exploded codes × broadcast per-query
    // lookup table — an equi-join on (subspace, code); a cartesian or
    // sort-merge here would defeat the whole ADC design
    val p = plan(Pipeline.simPqAdc)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("txt_decontam: benchmark membership is a broadcast join on the corpus") {
    // the benchmark shingle set is the small side by construction; the
    // corpus must stream past it un-shuffled (no SortMergeJoin before
    // the per-doc aggregate)
    val p = plan(Corpus.txtDecontam)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"corpus side must not shuffle to join:\n$p")
  }

  test("selective fact-to-fact join gets a runtime bloom filter on the big side") {
    // Catalyst injects might_contain(bloom) into the lineitem scan when
    // the other side carries a selective filter — runtime semi-join
    // reduction. The size thresholds are lowered only because the test
    // tables are tiny; at warehouse scale the defaults (10GB application
    // side) fire on their own.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val l = Tables.load(spark, sf, "lineitem")
      val o = Tables.load(spark, sf, "orders")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum(col("l_quantity")).as("q"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"expected a runtime bloom filter on the probe side:\n$p")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("j16: explicit bloom bitmap prunes the fact side map-side, below any exchange") {
    // the bitmap membership test (shiftright over the literal word array)
    // must evaluate BELOW every shuffle: rows are dropped before the
    // groupBy exchange, which is the operator's entire point at scale
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val exec = Joins.j16BloomJoin.run(spark, sf).queryExecution.sparkPlan
    def hasBloomFilterBelowScanSide(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.exists {
        case f: FilterExec => f.condition.toString.contains("shiftright") &&
          !f.exists(_.isInstanceOf[Exchange])
        case _ => false
      }
    assert(hasBloomFilterBelowScanSide(exec),
      s"bloom bit test must filter below the exchange:\n$exec")
  }

  test("j14: partitioned scan gets a dynamic partition pruning filter") {
    // the events scan must carry a runtime dynamicpruningexpression on
    // its partition column — at scale it lists only the day directories
    // the dim query selects, never the whole lake
    val p = plan(Coverage.j14DppJoin)
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter on the fact scan:\n$p")
    // the table lives under this JVM's pid-scoped root: a second JVM on
    // the same data dir writes its own copy instead of overwriting ours
    val path = graft.sources.Partitioned.ensureEventsByDay(spark, sf,
      sf.replaceAll("[^A-Za-z0-9]", "_"))
    assert(path.startsWith(graft.sources.Bucketing.processRoot + "/"),
      s"partitioned table must sit under the process root: $path")
  }

  test("dd_semantic: centroid assignment is expression-only — no window, no product") {
    val p = plan(Pipeline.ddSemantic)
    // the argmax runs as greatest(struct(cos, -cid)) per row: a window or
    // cross-join form would shuffle rows × k by vector id
    assert(!p.contains("Window"), "assignment must not window-shuffle the corpus")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("txt_bpe: the trained vocab joins broadcast, never shuffles the corpus") {
    val p = plan(Corpus.txtBpe)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "vocab-sized side must broadcast — an SMJ here shuffles the token stream")
  }

  test("dd_substring_cut: span merge + splice are in-row — no window function anywhere") {
    val p = plan(Pipeline.ddSubstringCut)
    // islands come from the covered-position array (predecessor-absent
    // count) and the splice is a per-row token filter; a window
    // formulation would sort every doc's cut rows through WindowExec
    assert(!p.contains("Window"),
      s"cut pass must stay windowless — islands are array ops:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dd_paragraph: the cross-document predicate prunes candidates inside the bucket join") {
    val p = plan(Pipeline.ddParagraph)
    // Catalyst must push doc(id_a) != doc(id_b) into the LSH bucket
    // self-join condition — as a post-filter it would verify same-doc
    // pairs first and discard them after the expensive Jaccard
    val joinCond = p.linesIterator.filter(_.contains("Join condition:")).mkString
    assert(joinCond.contains("div 1048576"),
      s"cross-doc filter must live in the join condition:\n$joinCond")
  }

  test("m13: snapshot diff joins once on the business key — no product, no window") {
    val p = plan(SetMerge.m13SnapshotDiff)
    assert(p.contains("FullOuter") || p.contains("full_outer"),
      s"diff must be one full-outer key join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t15: journey build is one user-keyed aggregate; patterns add no shuffle") {
    val p = plan(Analytics.t15SequenceMatch)
    // the per-pattern flags are row-local regexes over the aggregated
    // journey; a per-pattern scan or join would multiply the shuffle
    assert(!p.contains("Window"), s"no window belongs in the journey build:\n$p")
    // user-key shuffle + 1-row final agg + 4-row ORDER BY range exchange
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 4,
      s"journey build should shuffle once (+tiny agg/sort), saw $exchanges:\n$p")
  }

  test("j17: sketch cells partially aggregate before any exchange") {
    val p = plan(Joins.j17JoinGuard)
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"cmsCells must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_hybrid_rrf: fusion is a keyed full-outer + partial top-k — no fused window") {
    val p = plan(Pipeline.simHybridRrf)
    // the two ranker legs may window internally over per-query
    // partitions; the FUSION itself must stay a (query, id) equi-join
    // into the TopK aggregator, never a re-sort of the fused set
    assert(p.contains("FullOuter") || p.contains("full_outer"),
      s"rank fusion joins the two lists full-outer on (query, id):\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("txt_bm25: broadcast query terms, partial top-k, no window over matches") {
    val p = plan(Corpus.txtBm25)
    // query terms and per-term df are tiny frames: they must broadcast
    // into the postings, never shuffle them
    assert(p.contains("BroadcastHashJoin"), p)
    // the final ranking is the partial TopK aggregator — a window form
    // would move every matched posting of a query to one task
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"top-k per query must be the partial aggregator, not a window:\n$p")
    // postings build partially aggregates map-side before its shuffle
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"postings must combine map-side:\n$p")
  }

  test("q21: stacked exists/not-exists decorrelates to TWO lineitem passes, no BNLJ") {
    val p = plan(Relational.q21WaitingSupplier)
    // the correlated form re-scans lineitem per row; a semi+anti chain
    // scans it three times — the per-order conditional-distinct
    // aggregate joined back needs exactly two (FormattedMode prints
    // each scan twice: tree line + detail block)
    // each scan's detail block prints its Location (the parquet path)
    // exactly once, so path occurrences == scans of that table
    val lineitemScans = p.split("lineitem.parquet").length - 1
    assert(lineitemScans <= 2, s"expected ≤2 lineitem passes, got $lineitemScans:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the nation dim broadcasts; the order-key joins are hash joins
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"), s"per-order counts must combine map-side:\n$p")
  }

  test("q2: min-cost decorrelation — one semi-pruned lineitem pass, dims broadcast, no BNLJ") {
    val p = plan(Relational.q2MinCostSupplier)
    // the correlated scalar subquery re-scans the pair relation per
    // part; the decorrelated form derives pairs from ONE lineitem scan
    // and feeds both the pair min and the per-part min off it
    val lineitemScans = p.split("lineitem.parquet").length - 1
    assert(lineitemScans == 1, s"expected one lineitem scan, got $lineitemScans:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the part filter prunes the fact BEFORE the aggregates (semi join
    // on the broadcast part list, not a post-aggregate filter)
    assert(p.contains("EqualTo(p_type,ECONOMY)"),
      s"part filter must push to the part scan:\n$p")
    assert(p.contains("partial_min"), s"pair min must combine map-side:\n$p")
  }

  test("q20: nested semi-joins — one lineitem pass, both IN-lists as semi joins, no BNLJ") {
    val p = plan(Relational.q20PotentialPromotion)
    val lineitemScans = p.split("lineitem.parquet").length - 1
    assert(lineitemScans == 1, s"expected one lineitem scan, got $lineitemScans:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), s"the IN-lists must plan as semi joins:\n$p")
    // the 1997 window is a conditional sum inside the one grouped pass,
    // not a second scan; quantity sums combine map-side
    assert(p.contains("partial_sum"), s"pair sums must combine map-side:\n$p")
  }

  test("q8: share is a conditional sum over ONE lineitem pass; dims broadcast") {
    val p = plan(Relational.q8MarketShare)
    // numerator and denominator come from the same aggregate — a
    // second fact scan for the nation-only sum is the classic mistake
    assert(p.split("lineitem.parquet").length - 1 == 1,
      s"expected exactly one lineitem scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("EqualTo(p_type,ECONOMY)"),
      s"part filter must push to the scan:\n$p")
  }

  test("q22: scalar threshold broadcasts; no-orders check is a single anti-join") {
    val p = plan(Relational.q22ProspectCustomers)
    // customer feeds the threshold aggregate and the main pass — two
    // scans, no more; orders appears once, as the anti-join's build side
    assert(p.split("customer.parquet").length - 1 <= 2, p)
    assert(p.split("orders.parquet").length - 1 == 1, p)
    assert(p.contains("LeftAnti"), s"no-orders must be an anti-join:\n$p")
  }

  test("dq: row-local rules fold into ONE scan — explode of one aggregate, not N subtree copies") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Expectations._
    val orders = Tables.load(spark, sf, "orders")
    val audit = checkRowRules(orders, Seq(
      notNull("a", col("o_custkey")),
      inRange("b", col("o_totalprice"), 0.0, 1e7),
      accepted("c", col("o_orderstatus"), Seq("F", "O", "P")),
      matches("d", col("o_orderpriority"), "^[1-5]-")))
    val p = audit.queryExecution.explainString(FormattedMode)
    // one physical scan of the fact table, however many rules — the
    // unionAll-of-selects form held N copies of the aggregate subtree
    // and relied on ReuseExchange to dedup them (ADVICE round 9).
    // FormattedMode prints each scan twice (tree line + detail block),
    // so one scan == exactly two occurrences of the node name.
    assert(p.split("Scan parquet").length - 1 == 2,
      s"expected exactly one scan for 4 row rules:\n$p")
    assert(!p.contains("Union"), s"no per-rule aggregate copies:\n$p")
    assert(p.contains("partial_sum"), s"rule sums must combine map-side:\n$p")
  }

  test("t16: OHLC bars are one partial+final aggregate — no window, no distinct pass") {
    val p = plan(Analytics.t16OhlcBars)
    // min_by/max_by over the ordering key replace the old
    // first/last-over-window + distinct formulation: each task ships at
    // most one candidate row per (instrument, bar) into the shuffle
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"OHLC must be an aggregate, not a window:\n$p")
    assert(p.contains("partial_min_by") || p.contains("partial_"),
      s"bar aggregate must combine map-side:\n$p")
    // exactly one shuffle: the grouping exchange (plus AQE reads)
    assert(p.split("Exchange").length <= 3, s"expected a single exchange:\n$p")
  }

  test("g_kcore: peel rounds are partitioned windows, never joins") {
    val p = plan(Analytics.gKcore)
    // each round = two per-endpoint window counts + a filter: the edge
    // frame is referenced ONCE per round (the degree-agg + 2-semi-join
    // form nested two copies of round r-1 in round r — measured 3.8 s
    // vs 1.35 s at sf0.1)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"k-core rounds must not join:\n$p")
    assert(p.split("Window").length >= 6, s"expected 2 windows per round:\n$p")
  }

  test("t23: sliding distinct joins the day spine semi, never days x users") {
    val p = plan(TemporalQueries.t23SlidingDistinct)
    assert(p.contains("LeftSemi"), s"observed-day clip must be a semi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no product against the spine:\n$p")
  }

  test("a44: RFM quintiles carry NO window at all — zip ranks + formula") {
    val p = plan(Aggregates.a44Rfm)
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"global ntile windows are the one-task scale killer:\n$p")
  }

  test("the round-13 grouped-rank rewrites carry NO window at all") {
    // stronger than PlanAuditSpec's constant-domain sweep: these five
    // went through Align.grouped* precisely to delete their rank
    // windows (r12 verdict #1) — ANY WindowExec reappearing here is a
    // regression, including one partitioned by a high-cardinality key
    for (q <- Seq(Coverage.a53Gini, Coverage.a54Spearman,
        Coverage.a55MannWhitney, Coverage.a56Ks, Coverage.a57Kruskal,
        Windows.w7Ntile)) {
      val p = plan(q)
      assert(!p.contains("WindowExec") && !p.contains("Window "),
        s"${q.name} regressed onto a window:\n$p")
    }
  }

  test("a59/a60: moment-fold stats never sort, window, or join data") {
    // Welch's t and CUPED are one-scan conditional-moment aggregates:
    // everything past the map-side partial is constant-size. A window,
    // a sort, or a data-proportional join appearing here means someone
    // rewrote them onto the per-row shape they were designed to avoid.
    val p59 = plan(Coverage.a59WelchTtest)
    assert(!p59.contains("WindowExec") && !p59.contains("Join"),
      s"welch must stay a pure aggregate fold:\n$p59")
    val p60 = plan(Coverage.a60Cuped)
    assert(!p60.contains("WindowExec"),
      s"cuped must not window per-user rows:\n$p60")
    assert(p60.contains("BroadcastNestedLoopJoin"),
      s"cuped's pooled moments must ride a 1-row broadcast:\n$p60")
  }
}
