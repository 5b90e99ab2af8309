package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the analog of the reference's optimizer plan
  * tests (`miso-optimizations/src/tests.rs`), except the "rules" under test
  * are Catalyst's: these guard that our query shapes keep getting the plans
  * that scale (pushdown into the scan, broadcast for dims, partial/final
  * aggregation, TakeOrderedAndProject), so a refactor that silently breaks
  * one shows up as a test failure rather than a 100× regression at 100 TB.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("filters and column pruning reach the parquet scan") {
    val p = plan("q_filter")
    assert(p.contains("DataFilters: [isnotnull(l_quantity"),
      "filter must be pushed to the scan")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_returnflag:string>"),
      "scan must read only referenced columns")
  }

  // the reference's connectors answer `count` without materializing rows
  // (QueryResponse::Count, miso-connectors/src/lib.rs:109-113); the Spark
  // analog is parquet aggregate pushdown on the v2 scan
  test("bare count is answered by the scan, not by reading rows") {
    val p = plan("q_count")
    assert(p.contains("PushedAggregation: [COUNT(*)]"),
      s"count must push to the parquet scan:\n$p")
  }

  test("KQL-compiled filter also pushes down") {
    val p = plan("kql_where_project_sort")
    // the quantity predicate must appear among the scan's data filters
    // (order within the list is optimizer-dependent)
    val scanLine = p.split("\n").find(_.contains("DataFilters:")).getOrElse("")
    assert(scanLine.contains("l_quantity") && scanLine.contains(">= 45"),
      s"filter not pushed: $scanLine")
  }

  test("star join broadcasts dimension tables") {
    val p = plan("q_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "dimension joins must be broadcast, not shuffled")
    assert(!p.contains("SortMergeJoin"))
  }

  test("sort+limit fuses to TakeOrderedAndProject") {
    assert(plan("q_topn").contains("TakeOrderedAndProject"))
    assert(plan("kql_topn").contains("TakeOrderedAndProject"))
  }

  test("aggregation is partial/final (map-side combine)") {
    val p = plan("q_summarize")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "aggregate must split into partial + final")
  }

  test("KQL count compiles to a 1-row aggregate, not a collect") {
    val p = plan("kql_filter_count")
    assert(p.contains("HashAggregate"))
  }

  test("distinct lowers to aggregation") {
    assert(plan("q_distinct").contains("HashAggregate"))
  }

  // short_circuit_where_false (tests.rs): a provably-false filter must
  // collapse the whole plan (PropagateEmptyRelation), not run a scan
  test("where false collapses to an empty relation — no scan executes") {
    val cat = graft.kql.Catalog.forTestData(spark, sf)
    val p = graft.kql.Kql.run(spark, cat, "lineitem | where false")
      .queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan") || p.contains("EmptyRelation"),
      s"expected empty-relation plan, got:\n$p")
    assert(!p.contains("FileScan"), "the parquet scan must be optimized away")
  }

  // bare datetime literals (new lexer tokens) must stay pushdown-friendly.
  // (The shared `events` table can't show this: its nanos→micros load makes
  // ts a computed column, so only IsNotNull pushes there.)
  test("bare datetime comparison pushes to the parquet scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_tsplan").toString
    Seq(("2024-01-01 10:00:00", 1L), ("2024-01-03 10:00:00", 2L))
      .toDF("raw", "id").select(col("raw").cast("timestamp").as("ts"), col("id"))
      .write.mode("overwrite").parquet(dir)
    val cat = new graft.kql.Catalog(spark)
    cat.register("tsdata", spark.read.parquet(dir))
    val p = graft.kql.Kql.run(spark, cat,
      "tsdata | where ts >= 2024-01-02 | project id")
      .queryExecution.executedPlan.toString
    val scanLine = p.split("\n").find(_.contains("PushedFilters:")).getOrElse("")
    assert(scanLine.contains("GreaterThanOrEqual(ts"),
      s"datetime filter not pushed: $scanLine")
  }

  test("sessionization plans as a single merging session aggregation") {
    val p = plan("pl_sessionize")
    assert(p.contains("session_window") || p.contains("SessionWindow"),
      "must use the native session_window aggregation")
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"sessionization should shuffle once (plus output ordering), got:\n$p")
  }

  // the as-of join's whole point is avoiding the quadratic lowering: an
  // inequality join would plan as BroadcastNestedLoopJoin (per-left-row
  // scan of the right side)
  test("as-of join plans as union + running window, not a nested-loop join") {
    val p = plan("pl_asof_join")
    assert(!p.contains("NestedLoopJoin"),
      s"as-of must not fall back to a nested-loop join:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      "expected the carry-forward window")
  }

  test("interval join is an equi-join on (key, bin), not a pure theta join") {
    val p = plan("pl_interval_join")
    assert(!p.contains("NestedLoopJoin"),
      s"bucketed range join must not plan as nested-loop:\n$p")
  }

  // contamination: the benchmark shingle set must broadcast — a shuffled
  // join here would reshuffle the full corpus's shingles by value
  test("contamination probes a broadcast benchmark set") {
    val p = plan("pl_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark set must broadcast:\n$p")
  }

  // outlier scoring joins the labels×dims centroid table back to the
  // corpus — that side must broadcast so the corpus is probed map-side
  // (its own computation may shuffle; the corpus-wide join must not)
  test("embedding outlier scoring broadcasts the centroid table") {
    val p = plan("pl_embed_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"centroid join must broadcast:\n$p")
  }

  // sequence packing: the global prefix sum must NOT collapse the corpus
  // into one task — only the per-partition totals (rows = #partitions)
  // may pass through a single-partition exchange
  test("packing avoids a corpus-wide single-partition window") {
    val df = graft.functions.Packing.withGlobalOffset(
      Tables.load(spark, sf, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.lit(1L).as("n")),
      "doc_id", "n", "off")
    val p = df.queryExecution.executedPlan.toString
    // since the r10 fix the ranged + pid-tagged pass materializes behind
    // a checkpoint (the correctness barrier: spark_partition_id() is
    // nondeterministic, and evaluating that subtree independently for the
    // totals and the join let AQE coalesce the two runs differently —
    // observed dropping half the rows at sf0.1). The returned plan
    // therefore reads the pinned RDD; the range exchange lives inside the
    // checkpoint's own job.
    assert(p.contains("Scan ExistingRDD"),
      s"the pid-tagged pass must be checkpoint-pinned:\n$p")
    assert("SinglePartition".r.findAllIn(p).length <= 1,
      s"at most the totals prefix-sum may be single-partition:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"per-partition bases must broadcast back:\n$p")
  }

  // quantile-binned Z-order (round 11, the scale default for skewed
  // clustering columns): the keying is pure map-side projection over
  // broadcast boundary literals — NO checkpoint (unlike the exact-rank
  // twin, whose per-column prefix sums each materialize the corpus) and
  // exactly ONE exchange in the whole layout job: the write's range
  // partition
  test("quantile-binned z-order: no checkpoint, one exchange (the write's)") {
    import org.apache.spark.sql.functions.col
    val (keyed, bounds) = graft.functions.Layout.zOrderKeyQuantileBinned(
      Tables.load(spark, sf, "events")
        .select("event_id", "user_id", "value"),
      Seq("user_id", "value"), bits = 6)
    assert(bounds("user_id").nonEmpty && bounds("value").nonEmpty)
    val p = keyed
      .repartitionByRange(16, col("zkey"))
      .sortWithinPartitions(col("zkey"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Scan ExistingRDD"),
      s"the quantile-binned keying must not checkpoint:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"only the write's range exchange may shuffle:\n$p")
    assert(p.contains("Exchange rangepartitioning"),
      s"the one exchange is the range partition:\n$p")
  }

  test("top-nested joins level 2 to the level-1 survivors by broadcast") {
    val p = plan("kql_topnested")
    assert(p.contains("BroadcastHashJoin"),
      s"survivor join must broadcast (bounded by n1):\n$p")
    assert(!p.contains("SortMergeJoin"), "no shuffle join for a top-k set")
    // both levels aggregate partial/final (map-side combine before shuffle)
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "levels must aggregate with partial/final HashAggregate")
  }

  test("conditional aggregates fuse into one single-pass aggregation") {
    val p = plan("kql_aggif")
    // all five *if aggregates compute in ONE scan + one partial/final agg
    // pair — no self-joins, no repeated scans
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"one scan only:\n$p")
    assert(!p.contains("Join"), "no join: predicates become when() inputs")
  }

  test("corpus shuffle avoids a corpus-wide single-partition window") {
    val df = graft.functions.Sampling.shuffleOrder(
      Tables.load(spark, sf, "documents").select("doc_id"), "doc_id", 1L)
    val p = df.queryExecution.executedPlan.toString
    // see the packing pin above: the ranged pass is checkpoint-pinned
    // since r10, so the visible plan reads the pinned RDD
    assert(p.toLowerCase.contains("scan existingrdd"),
      s"the pid-tagged pass must be checkpoint-pinned:\n$p")
    assert("SinglePartition".r.findAllIn(p).length <= 1,
      s"at most the totals prefix-sum may be single-partition:\n$p")
  }

  // top-hitters must be a partial/final aggregate followed by a bounded
  // top-N (TakeOrderedAndProject), never a global sort of the full
  // aggregated frame
  test("top-hitters plans as partial/final agg + TakeOrderedAndProject") {
    val p = plan("kql_tophitters")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"top-hitters agg must split into partial + final:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-hitters limit must fuse into TakeOrderedAndProject:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"top-hitters must not globally sort the aggregated frame:\n$p")
  }

  // sample-distinct = distinct (partial/final agg) + hash-rank top-N;
  // the N-row pick must be a bounded heap, not a global sort
  test("sample-distinct plans as distinct agg + TakeOrderedAndProject") {
    val p = plan("kql_sample_distinct")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"distinct must split into partial + final aggregation:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"hash-rank pick must fuse into TakeOrderedAndProject:\n$p")
  }

  test("find pushes its predicate through the union into every scan") {
    // at 100 TB a find over N tables must stay N narrow filtered scans —
    // the post-union filter has to split and reach each parquet reader
    val p = plan("kql_find")
    assert("PushedFilters: \\[.*(IsNotNull|GreaterThan)".r
      .findAllIn(p).length >= 2,
      s"find's predicate must push into both table scans:\n$p")
    // narrow reads: neither scan should drag unreferenced wide columns
    assert(!p.contains("o_orderpriority") && !p.contains("event_type"),
      s"find must prune to the referenced columns:\n$p")
  }

  // round-6 session-2 pins

  test("sample plans as a bounded heap, not a global sort") {
    val p = plan("kql_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"sample's hash-rank pick must fuse into TakeOrderedAndProject:\n$p")
  }

  test("reduce by is one partial/final aggregation") {
    val p = plan("kql_reduce")
    // min(string) carries a string buffer, so Spark picks SortAggregate —
    // what matters is the partial/final split (map-side combine)
    assert("(Hash|Sort)Aggregate".r.findAllIn(p).length >= 2,
      s"reduce by must split into partial + final aggregation:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"reduce by must shuffle exactly once (the pattern key):\n$p")
  }

  test("tdigest aggregates split into partial + final (mergeable sketches)") {
    val p = plan("kql_tdigest")
    // TypedImperativeAggregate plans as ObjectHashAggregate; partial on
    // the scan side + final after the key exchange = map-side combine,
    // the property that makes per-rollup sketches work at 100 TB
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"tdigest must plan as partial+final ObjectHashAggregate:\n$p")
  }

  test("parse-kv stays a projection — no shuffle, no UDF") {
    val p = plan("kql_parsekv")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"parse-kv must lower to native expressions:\n$p")
    // only the final presentation sort may exchange; the extraction
    // itself adds no aggregation
    assert(!p.contains("HashAggregate"),
      s"parse-kv must not aggregate:\n$p")
  }

  test("row_window_session distributes as one per-key window pass") {
    val p = plan("kql_rowsession")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"row_window_session must plan inside the window exec:\n$p")
    assert(!p.contains("SinglePartition") ||
      !p.split("\n").exists(l => l.contains("Window") && l.contains("SinglePartition")),
      s"under partition by the window must be per-key, not single-partition:\n$p")
  }

  // ───── round-6 session-3 scale pins ─────

  test("basket counts segments in hash aggregations, never a cross join") {
    val p = plan("kql_basket")
    assert(p.contains("HashAggregate"),
      s"basket must count via hash aggregation:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"basket's only cross join is the broadcast 1-row total:\n$p")
    // the candidate count happens on a hash-partitioned exchange, not by
    // funneling the expansion into one task
    val aggExchanges = p.split("\n").filter(l =>
      l.contains("Exchange hashpartitioning"))
    assert(aggExchanges.nonEmpty,
      s"segment counting must hash-partition:\n$p")
  }

  test("sequence_detect plans as-of passes, never a nested-loop join") {
    val p = plan("kql_seqdetect")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the as-of chain must never plan a quadratic join:\n$p")
  }

  test("lm_quality joins the model tables without a cartesian product") {
    val p = plan("pl_lm_quality")
    assert(!p.contains("CartesianProduct"),
      s"bigram/model joins must be keyed:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"model counts must partial/final aggregate:\n$p")
  }

  test("semdedup prunes within cells via a keyed join") {
    val p = plan("pl_semdedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the pairwise prune must stay cell-keyed:\n$p")
  }

  test("edit-distance dedup verifies candidates, never all pairs") {
    val p = plan("pl_edit_dups")
    assert(!p.contains("CartesianProduct"),
      s"Levenshtein must run on LSH candidates only:\n$p")
    assert(p.contains("levenshtein"),
      s"the verify must be the codegen'd levenshtein:\n$p")
  }

  test("chunking is map-side: no exchange before the chunk explode") {
    val p = plan("pl_chunk")
    val generateAt = p.linesIterator.indexWhere(_.contains("Generate"))
    val exchangeAt = p.linesIterator.indexWhere(_.contains("Exchange"))
    // plan prints top-down: any exchange must be ABOVE the explode (the
    // final orderBy), never below it feeding the chunker
    assert(generateAt >= 0, s"chunk must explode windows:\n$p")
    assert(exchangeAt == -1 || exchangeAt < generateAt,
      s"chunking itself must not shuffle:\n$p")
  }

  test("graph-match hops are equi-joins, never cartesian") {
    for (q <- Seq("kql_graph_match", "kql_graph_varlen")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q: every hop must join on node ids:\n$p")
    }
  }

  test("ipv4_lookup broadcasts the network dim; no shuffle for the range") {
    val p = plan("kql_ipv4_lookup")
    // the containment predicate is a range → BroadcastNestedLoop over the
    // broadcast network table is the intended plan (tiny build side)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // longest-prefix is a map-side expression over the 1-row aggregated
    // ranges array — the r7 monotonically_increasing_id window shuffled
    // the FULL joined output on a per-row key; pin its absence
    assert(!p.contains("monotonically_increasing_id"), p)
    assert(!p.toLowerCase.contains("window"),
      s"longest-prefix pick must not window over the joined output:\n$p")
  }

  test("activity plugins: bounded explode + keyed agg, 1-row broadcast max") {
    val p = plan("kql_activity_eng")
    assert(p.contains("Generate explode"), s"bin fan-out must be explode:\n$p")
    // the only nested-loop is the broadcast 1-row bounds probe
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val q = plan("kql_sliding_counts")
    assert(q.contains("Generate explode") && !q.contains("CartesianProduct"), q)
  }

  test("bloom incremental dedup: might_contain prefilter feeds the anti-join") {
    val p = plan("pl_incr_bloom")
    assert(p.contains("might_contain"),
      s"the bloom probe must appear in the plan:\n$p")
    // the exact anti-join still runs (on the maybe branch only)
    assert(p.toLowerCase.contains("leftanti"), p)
  }

  test("IVF-PQ: cell-pruned broadcast probe, no cartesian, no window scan") {
    val p = plan("pl_ann_ivfpq")
    assert(!p.contains("CartesianProduct"),
      s"IVF-PQ candidates must come from the cell join:\n$p")
    // the query side is broadcast (5 rows of cells + ADC tables); the
    // corpus side streams codes
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("ANN top-k is two-stage: partial WindowGroupLimit before the shuffle") {
    // r9 flaw: the final top-k was row_number over partitionBy(query_id)
    // alone — EVERY candidate of a query shuffled into one task (for plain
    // PQ that is the whole corpus's codes per query; SCALE.md measured the
    // 2.10× super-linear stress ratio). Filtering on the RAW int rank lets
    // InferWindowGroupLimit plan a Partial WindowGroupLimit below the
    // exchange: each corpus partition forwards only its local top-k per
    // query, and the per-query task sorts |partitions|·k rows.
    for (q <- Seq("pl_ann_brute", "pl_ann_lsh", "pl_ann_ivf", "pl_ann_pq",
        "pl_ann_ivfpq")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q: rank<=k must plan a WindowGroupLimit:\n$p")
      assert(p.contains("Partial"),
        s"$q: the group limit must have a partial (pre-shuffle) stage:\n$p")
    }
  }

  test("image near-dup: banded bucket equi-join, never all pairs") {
    val p = plan("pl_image_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"Hamming LSH must bucket-join, never compare all pairs:\n$p")
    // candidate generation is the (band, bucket) self-equi-join
    assert(p.toLowerCase.contains("band"), p)
  }

  test("video near-dup: clip fingerprints pair through the banded LSH too") {
    val p = plan("pl_video_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"video Hamming LSH must bucket-join, never compare all pairs:\n$p")
    assert(p.toLowerCase.contains("band"), p)
  }

  test("incremental minhash: batch probes the corpus index, never all pairs") {
    val p = plan("pl_incr_minhash")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"batch-vs-corpus candidates must come from the band equi-join:\n$p")
    // the final keep is the anti-join against verified drops
    assert(p.toLowerCase.contains("leftanti"), p)
  }

  test("temperature upsample: map-side explode fan-out, no window") {
    val p = plan("pl_temp_upsample")
    assert(p.contains("Generate explode"),
      s"replication must be an explode over a rate literal:\n$p")
    assert(!p.contains("Window"),
      s"no per-row window may appear in the replication pass:\n$p")
  }

  test("substring dedup: winner is a partial-combine agg, never a window") {
    val p = plan("pl_substring_dedup")
    // boilerplate shingles are THE skew key of web text: the winner must
    // be a partial/final min-struct aggregate (map-side combine) joined
    // back — a Window.partitionBy(shingle) would co-locate every copy in
    // one partition with neither combine nor AQE skew-split
    assert(p.contains("partial_min"),
      s"shingle winner must partial-combine before its exchange:\n$p")
    assert(!p.contains("Window"),
      s"no window pass may remain on the shingle key:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("incremental dedup: within-batch winner partial-combines too") {
    val p = plan("pl_incr_dedup")
    assert(p.contains("partial_min") && !p.contains("Window"),
      s"within-batch first-wins must be agg+join-back, not a window:\n$p")
  }

  test("line dedup: partial min-struct agg keyed by the line, no all-pairs") {
    val p = plan("pl_line_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"line dedup must never compare all pairs:\n$p")
    // winner pick = partial/final aggregation (map-side combine absorbs
    // popular boilerplate lines BEFORE the exchange — the skew defense)
    assert(p.contains("partial_min"), s"winner pick must partial-combine:\n$p")
  }

  test("federated gate query executes inside the foreign store") {
    // the whole where+summarize of kql_v2_pushdown must leave the Spark
    // plan: pushed filter, pushed aggregate, NO HashAggregate residual
    // (the per-connector expected-plan contract of the reference's
    // tests/common/test_cases.rs:30-50)
    val p = plan("kql_v2_pushdown")
    assert(p.contains("PushedFilters: [") && p.contains("c_acctbal"),
      s"filter must push into Derby:\n$p")
    assert(p.contains("CAST(COUNT(*) AS BIGINT)"),
      s"aggregate must push into Derby:\n$p")
    assert(!p.contains("HashAggregate"),
      s"complete pushdown must leave no Spark aggregate:\n$p")

    // top-n: ORDER BY + FETCH FIRST inside the store, so Spark plans no
    // global sort — only the pushed-scan + project remains
    val t = plan("kql_v2_topn")
    assert(t.contains("PushedTopN: [") && t.contains("c_acctbal"),
      s"top-n must push into Derby:\n$t")
  }

  test("bm25 probe pushes the term filter into the postings scan") {
    // the 100 TB claim of the persisted inverted index: a probe's cost is
    // proportional to the query terms' postings, never the corpus — which
    // holds only if the token IN (...) predicate reaches the parquet scan
    // (dictionary/min-max pruning) instead of filtering post-read, and the
    // ≤|terms|-row df table joins as a broadcast, not a shuffle
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-plan").toString
    graft.functions.Retrieval.saveBm25Index(
      Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
        .toDF("doc_id", "text"), "doc_id", "text", dir)
    val p = graft.functions.Retrieval.bm25Probe(
      graft.functions.Retrieval.loadBm25Index(spark, dir),
      Seq("beta", "delta"), 5)
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[In\\(token".r.findFirstIn(p).isDefined,
      s"term filter must push into the postings scan:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the df side must broadcast:\n$p")

    // the BATCHED probe's top-k must prune BEFORE the per-query shuffle:
    // the raw row_number filter directly over the window lets
    // InferWindowGroupLimit plan Partial+Final WindowGroupLimit, so each
    // partition forwards at most k rows per query instead of every
    // scored (query, doc) pair
    val qdf = Seq((1L, Seq("beta", "delta")), (2L, Seq("alpha")))
      .toDF("query_id", "terms")
    val mp = graft.functions.Retrieval.bm25ProbeMany(
      graft.functions.Retrieval.loadBm25Index(spark, dir),
      qdf, "query_id", "terms", 5)
      .queryExecution.executedPlan.toString
    assert(mp.split("\n").count(_.contains("WindowGroupLimit")) == 2,
      s"batched top-k needs Partial+Final WindowGroupLimit:\n$mp")
  }

  test("ANN hard negatives: broadcast pool refine + partial group limit, " +
      "never an anchors × corpus float scan") {
    val p = plan("pl_hard_negatives_ann")
    // the refine read joins the (anchors × rerank)-row pool against the
    // primary store by id — broadcast, so the store never shuffles
    assert(p.contains("BroadcastHashJoin"),
      s"the pool/anchor joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no all-pairs scan anywhere in the mining plan:\n$p")
    // final exact-cosine top-k prunes before the per-anchor exchange
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"rank<=k must plan a partial WindowGroupLimit:\n$p")
  }

  test("near-dup contamination: benchmark tables broadcast, the corpus " +
      "side never shuffles before the verified hits") {
    val p = plan("pl_contam_neardup")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"bench buckets AND bench sets must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join means the corpus side shuffled pre-verify:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("louvain refine: bounded aggregates broadcast, gain argmax is " +
      "partial/final, no cartesian candidates") {
    import org.apache.spark.sql.functions._
    // The GATE's plan is a scan of its materialized level-1 checkpoint
    // (pinned in the next test), so the ALGORITHM's shape is asserted on
    // an unmaterialized construction — range-backed like the kmeans
    // frozen-model test (a local Seq would constant-fold the plan).
    val seed = spark.range(64).select(
      col("id"), (col("id") % 7).as("community"))
    val edges = spark.range(200).select(
      (col("id") % 61).as("src"), ((col("id") * 13 + 1) % 64).as("dst"))
    val p = graft.functions.Graph.louvainRefine(seed, edges)
      .queryExecution.executedPlan.toString
    // D_c / D_a / m are community- and graph-bounded → broadcast sides;
    // the only nested-loop is the one-row m frame riding a broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"per-community degree sums must broadcast-join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the candidate set is the neighbor-community join, never a " +
        s"cartesian:\n$p")
    // the per-vertex best-move argmax combines map-side
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"the gain argmax must have a partial (map-side) stage:\n$p")
  }

  test("louvain refine GATE reads its materialized level-1 pass: a " +
      "checkpoint scan, not a recomputation") {
    // building the gate checkpoints the level-1 pass eagerly
    // (localCheckpoint), so the plan above the checkpoint is a scan
    val p = plan("pl_louvain_refine")
    assert(p.contains("Scan ExistingRDD"),
      s"the gate must read the level-1 checkpoint:\n$p")
    assert(!p.contains("HashAggregate"),
      s"reading the materialized pass must not recompute the refine:\n$p")
  }

  test("kmeans frozen-model assignment is one narrow pass: no exchange, " +
      "no join — centroids ride the codegen'd kernel as literals") {
    import org.apache.spark.sql.functions._
    // range-backed (a local Seq would constant-fold the whole plan to a
    // LocalTableScan, hiding the shape under test)
    val emb = spark.range(64).toDF("vec_id")
      .withColumn("embedding",
        transform(sequence(lit(1), lit(8)), j =>
          ((col("vec_id") * 7 + j).cast("double") / 10.0).cast("float")))
    val cents = graft.functions.Similarity.kmeansTrain(
      emb, "vec_id", "embedding", k = 4, sweeps = 1)
    val p = graft.functions.Similarity.kmeansAssignWith(
      emb, "vec_id", "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"frozen-model assignment must not shuffle:\n$p")
    assert(!p.contains("Join"),
      s"the k×dim model is a literal in the kernel, never a join side:\n$p")
    // "*(1)" is executedPlan.toString's WholeStageCodegen stage marker
    assert(p.contains("*("),
      s"the assignment kernel must stay inside codegen:\n$p")
  }

  test("kmeans objective: broadcast centroid join, one exchange (the " +
      "k-bounded aggregate), partial map-side sums") {
    import org.apache.spark.sql.functions._
    val emb = spark.range(64).toDF("vec_id")
      .withColumn("embedding",
        transform(sequence(lit(1), lit(8)), j =>
          ((col("vec_id") * 7 + j).cast("double") / 10.0).cast("float")))
    val cents = graft.functions.Similarity.kmeansTrain(
      emb, "vec_id", "embedding", k = 4, sweeps = 1)
    val p = graft.functions.Similarity.kmeansObjective(
      emb, "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the k-row centroid table must broadcast:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"only the final k-bounded aggregate may shuffle:\n$p")
    assert(p.contains("partial"),
      s"the objective sum must combine map-side:\n$p")
  }

  test("centroid classify is one narrow pass: no exchange, no join — " +
      "the class-mean model rides the rows as literals") {
    import org.apache.spark.sql.functions._
    val emb = spark.range(64).toDF("vec_id")
      .withColumn("embedding",
        transform(sequence(lit(1), lit(8)), j =>
          ((col("vec_id") * 7 + j).cast("double") / 10.0).cast("float")))
      .withColumn("lab", (col("vec_id") % 3).cast("string"))
    val model = graft.functions.Similarity.centroidTrain(
      emb, "embedding", "lab")
    val p = graft.functions.Similarity.centroidClassifyScored(
      emb, "vec_id", "embedding", model)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"frozen-model classification must not shuffle:\n$p")
    assert(!p.contains("Join"),
      s"the class means are literals, never a join side:\n$p")
    assert(p.contains("*("),
      s"the scoring pass must stay inside codegen:\n$p")
  }

  test("nb classify: no doc-by-class row expansion — the model map " +
      "broadcasts, per-class sums ride one doc-keyed partial aggregate") {
    val p = plan("pl_nb_classifier")
    // round 15: the doc × class expansion is GONE (it was the measured
    // superlinearity at 2M docs — a |docs|·|classes|-group partial agg
    // plus a (doc, class)-keyed SMJ, both spilling); the per-token
    // label → adj map joins broadcast, and no nested-loop/cartesian
    // shape may appear anywhere
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the vocab-bounded model map must broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the doc × class expansion must not come back:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian anywhere in classification:\n$p")
    // the per-(doc, token) tf and per-doc class-sum aggregates must
    // combine map-side
    assert(p.contains("partial_count") || p.contains("partial count") ||
      p.contains("Partial"),
      s"classification aggregates must have partial stages:\n$p")
    // no per-document window: the argmax is a scalar sort_array
    assert(!p.contains("Window"),
      s"the argmax must not sort a window:\n$p")
  }

  test("selection histogram pass: one partial/final aggregate, no sort, " +
      "no window, no join — the sort-free-quantile contract") {
    import org.apache.spark.sql.functions._
    val vals = spark.range(100000).toDF("id")
      .select((col("id") * 37 % 9999).as("__v"))
    val p = graft.functions.Sampling
      .selectionHistogram(vals, 0L, 9998L, 16L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Sort"),
      s"kthLargest/exactQuantiles must never sort:\n$p")
    assert(!p.contains("Window"), s"no window rank:\n$p")
    assert(!p.contains("Join"), s"no join:\n$p")
    assert(p.contains("HashAggregate") &&
      (p.contains("partial") || p.contains("Partial")),
      s"the bucket counts must combine map-side:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"one bounded-cardinality shuffle at most:\n$p")
  }
}
