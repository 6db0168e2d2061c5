package graft.queries

import graft.{PlanDump, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}

/** Physical-plan assertions for the headline relational queries — the
  * properties that decide 100 TB behavior: filters reach the parquet scans,
  * constant dims broadcast instead of shuffling the fact table, and scans
  * read only the columns the query needs.
  */
class PlanQualitySpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Every SQL execution the registered entry runs, its result consumed. */
  private def executions(entry: String): Seq[QueryExecution] =
    PlanDump.executions(spark)(graft.SparkEntry.queries(entry)(spark, sf))

  /** An execution's physical plan as planned and as AQE finally ran it: a
    * join over an empty side leaves no trace in the final plan, but its
    * planned shape is still the contract.
    */
  private def shape(qe: QueryExecution): String =
    qe.sparkPlan.treeString + "\n" + PlanDump.plan(qe)

  test("q1: date filter pushes into the lineitem scan; scan is pruned") {
    val p = plan(RelationalQueries.q1PricingSummary(spark, sf))
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      "shipdate predicate did not reach the scan")
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchemas.contains("l_comment"), // 16-col table, query needs 7
      "lineitem scan reads unneeded columns:\n" + readSchemas)
  }

  test("q5: every join hashes on a key; lineitem is never a broadcast build side") {
    // At bench scale all dims fit the broadcast threshold and lineitem
    // streams through five BroadcastHashJoins — the optimal plan (at 100 TB
    // the dims-over-threshold joins become sort-merge, same declarative
    // plan). What must NEVER appear: a nested-loop/cartesian fallback, or
    // the fact table on a build side.
    val p = plan(RelationalQueries.q5RegionRevenue(spark, "/root/testdata/sf0.1"))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "join degenerated to a product:\n" + p.take(1500))
    // the aggregation still shuffles by group key
    assert(p.contains("Exchange"))
  }

  test("p1: IN-list predicate reaches the scan") {
    val p = plan(RelationalQueries.p1Isin(spark, sf))
    assert(p.contains("PushedFilters:") && p.contains("In("),
      "isin predicate did not push down:\n" +
        p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("scale twins (d5b/d4b/g2b/d6b) keep their keyed-join shape, never a product") {
    // These entries exist to pin the branch a 100 TB run executes, so their
    // PLAN is the contract: d5b's candidate generation must be an equi-join
    // on the IVF cell, d4b's on the prefix gram, g2b's wedge closure on the
    // oriented edge key, d6b's per-round propagation on the edge list — a
    // cartesian fallback in any of them silently reintroduces exactly the
    // O(n²) the twin was registered to disprove.
    // d4b/d4c checkpoint their result while they are built (cache-release
    // discipline), so their returned frames start at a checkpoint scan:
    // their join structure is pinned on the executions the registered
    // entries run, the result checkpoint among them
    Seq("d5b" -> PipelineQueries.d5bEmbeddingNnScaled(spark, sf),
        "g2b" -> PipelineQueries.g2bTrianglesKeyed(spark, sf),
        "d6b" -> PipelineQueries.d6bDupClustersDist(spark, sf)).foreach { case (name, df) =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name degenerated to a product join")
    }
    Seq("d4b" -> "d4b_jaccard_prefix_path", "d4c" -> "d4c_jaccard_banded").foreach {
      case (name, entry) =>
        val qes = executions(entry)
        qes.map(shape).foreach { p =>
          assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
            s"$name degenerated to a product join:\n" + p.take(3000))
        }
        // the verify streams both gram arrays through two equi-joins;
        // regrouping them per candidate pair would buffer every pair's
        // arrays in aggregation state
        val pairCollects = qes.flatMap(_.optimizedPlan.collect {
          case a: Aggregate if a.groupingExpressions.collect { case e: NamedExpression => e.name }
              .toSet == Set("doc_a", "doc_b") &&
            a.aggregateExpressions.exists(_.find(_.isInstanceOf[CollectList]).nonEmpty) => a
        })
        assert(pairCollects.isEmpty, s"$name collects gram arrays per candidate pair:\n" +
          pairCollects.mkString("\n"))
        assert(qes.exists(_.optimizedPlan.find(_.isInstanceOf[Join]).nonEmpty),
          s"$name: no captured execution holds the verify join")
    }
  }

  test("bucketed ANN paths (sim2/sim3/sim7) join on their bucket key, never a product") {
    // The whole point of the LSH/IVF scale paths is that candidate
    // generation is an equi-join on a compact key; a cartesian fallback
    // would silently reintroduce the O(n²) scan they exist to avoid.
    Seq("sim2" -> PipelineQueries.sim2LshAnn(spark, sf),
        "sim3" -> PipelineQueries.sim3IvfAnn(spark, sf),
        "sim7" -> PipelineQueries.sim7IncrementalAnn(spark, sf)).foreach { case (name, df) =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name candidate join degenerated to a product")
    }
  }

  test("sim1 brute-force scan broadcasts the tiny query side; corpus never shuffles for the join") {
    val p = plan(PipelineQueries.sim1CosineTopk(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "expected the 10-row query side broadcast against the streamed corpus")
  }

  test("sim9 hit join is an equi-join; the IVF side never degenerates to a product") {
    // The recall report must not cost more than the searches it measures:
    // the exact side broadcasts the query panel (sim1's shape), the approx
    // side keeps sim3's cell equi-join, and hits match on (query, neighbor)
    // — panel-sized keys, never a cartesian.
    val p = plan(PipelineQueries.sim9RecallEval(spark, sf))
    assert(!p.contains("CartesianProduct"),
      "a sim9 join degenerated to a cartesian product")
  }

  test("x33 answers the phrase from the index: adjacency is an equi-join, corpus not re-read") {
    // The answer path must join positions on (doc_id, pos+1) — unique keys,
    // no product — and read the checkpointed index, not the parquet corpus:
    // the only corpus scan in the final plan is the phrase-selection count,
    // which the composed registration keeps; the index side contributes none.
    val p = plan(PipelineQueries.x33PhraseSearch(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "phrase adjacency join degenerated to a product")
    assert(!p.contains("documents.parquet"),
      "the answer path re-read the corpus instead of the positional index")
  }

  test("x34 hot terms ride a broadcast; the cold tail keeps an equi-join") {
    // x12's skew cure transplanted to term space: the Zipf head must appear
    // as BroadcastHashJoins (hot + anti), never shuffle the hot keys.
    val p = plan(PipelineQueries.x34Keywords(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "hot-head df rows are not broadcast — the skew defense is gone")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a keyword join degenerated to a product")
  }

  test("pipe6 pays pipe3's shape: broadcast weight join, no product anywhere") {
    // exportManifest checkpoints the encoded table, so the weight join
    // runs in that checkpoint's execution and the export's own plan (the
    // last execution) starts at the checkpoint scan.
    val plans = executions("pipe6_mixture_export").map(shape)
    assert(plans.exists(_.contains("BroadcastHashJoin")),
      "the slice-count weight table should broadcast onto the corpus")
    // x13's weight math crossJoins ONE totals row via broadcast (a
    // deliberate BroadcastNestedLoopJoin) — only an unkeyed shuffle
    // product would be a defect there.
    plans.foreach(p => assert(!p.contains("CartesianProduct"),
      "a pipe6 resample join degenerated to a shuffled product"))
    assert(!plans.last.contains("CartesianProduct") && !plans.last.contains("BroadcastNestedLoopJoin"),
      "a pipe6 export join degenerated to a product")
  }

  test("d2 LSH band join is an equi-join on the band key") {
    val p = plan(PipelineQueries.d2MinhashLsh(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "band-key candidate join degenerated to a product")
  }

  test("m6 image near-dup pairing is an equi-join on the aHash block key") {
    // the perceptual-hash pair stage must keep d3b's banded shape: pixels
    // stay in narrow map work, only 16-byte signatures reach the join, and
    // candidates come from a (block, key) equi-join — never a product
    val p = plan(PipelineQueries.m6ImageDedup(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "perceptual-hash candidate join degenerated to a product")
  }

  test("m7 image index probe joins on the band key, never a product") {
    val p = plan(PipelineQueries.m7IncrementalImageDedup(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "index probe degenerated to a product")
  }

  test("m8 video pairing is an inverted-index equi-join on the frame hash") {
    val p = plan(PipelineQueries.m8VideoDedup(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "frame-hash candidate join degenerated to a product")
  }

  test("pipe7 composes both dedup funnels without any product join") {
    val p = plan(PipelineQueries.pipe7MultimodalCurate(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "multimodal curation degenerated to a product")
  }

  test("x7 BM25 computes corpus stats in one aggregate and broadcasts the single stats row") {
    val p = plan(PipelineQueries.x7Bm25(spark, sf))
    // one HashAggregate pair (partial + final) for N/L/df — not one pass per
    // statistic — and the 1-row result joins back via broadcast, never by
    // shuffling the corpus
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "stats row is not broadcast back to the corpus")
    assert(!p.contains("SortMergeJoin"), "corpus shuffled to meet a 1-row stats frame")
  }

  test("m2 frame sampling is a narrow generate — no shuffle except the output sort") {
    val p = plan(PipelineQueries.m2FrameSample(spark, sf))
    assert(p.contains("Generate"), "posexplode missing from the plan")
    // the only exchange allowed is the final orderBy's range partitioning;
    // a second one would mean the explode shuffled its input
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"expected <=1 exchange (output sort), got $exchanges:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("x8 stratified sample pays exactly one shuffle: the stratum window") {
    val p = plan(PipelineQueries.x8StratifiedSample(spark, sf))
    assert(p.contains("Window"), "expected the per-lang ranking window")
    // hashpartitioning(lang) for the window + the final global sort's range
    // exchange; anything more means a redundant pass over the corpus
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"expected <=2 exchanges (window + output sort), got $exchanges:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("j8: the bloom probe filters the lineitem scan side before any join") {
    val p = plan(RelationalQueries.j8BloomSemi(spark, sf))
    assert(p.contains("might_contain"), "bloom probe missing from the plan")
    // the probe must sit under the semi-join (scan-side Filter), and the
    // join itself must stay a hash equi-join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      "semi-join missing")
  }

  test("j9 as-of join is join-free: one user window, no pair explosion") {
    val p = plan(RelationalQueries.j9AsofJoin(spark, sf))
    assert(p.contains("Window"), "expected the merged-timeline window")
    assert(!p.contains("Join"), "as-of should be window-composed, not a join:\n" +
      p.take(1000))
    // hashpartitioning(user_id) for the window + the output sort's range
    // exchange — anything more means the merge shuffled twice
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges")
  }

  test("j10 range join runs as a hash equi-join on (user, bucket)") {
    val p = plan(RelationalQueries.j10RangeJoin(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "band join degenerated to a product — bucketing failed:\n" + p.take(1500))
    assert(p.contains("Generate"), "bucket explode missing")
  }

  test("a11 rollup is one Expand + one aggregation pass") {
    val p = plan(RelationalQueries.a11Rollup(spark, sf))
    assert(p.contains("Expand"), "grouping-sets expand missing")
    // partial/final HashAggregate pair around a single group-key exchange +
    // the output sort: never one pass per rollup level
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges")
  }

  test("a10s probes the CMS inside the plan, not via a driver loop") {
    val p = plan(PipelineQueries.a10sCmsFreq(spark, sf))
    assert(p.contains("graft_cms_estimate"), "native CMS probe missing:\n" + p.take(800))
  }

  test("d7 screens the corpus with a broadcast join; the train side never shuffles for it") {
    val p = plan(PipelineQueries.d7Contamination(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "eval gram set did not broadcast:\n" + p.take(1200))
    assert(!p.contains("SortMergeJoin"),
      "contamination screen shuffled the corpus side:\n" + p.take(1200))
  }

  test("x10 repetition is narrow per-row work — no shuffle except the output sort") {
    val p = plan(PipelineQueries.x10Repetition(spark, sf))
    // sort + neighbor-compare happen inside row-local higher-order exprs;
    // a HashAggregate/extra Exchange would mean the bigrams got exploded
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"expected <=1 exchange (output sort), got $exchanges:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("HashAggregate"), "repetition score should not aggregate")
  }

  test("sim4 assignment is narrow: no join, no shuffle except the output sort") {
    val p = plan(PipelineQueries.sim4KmeansCodebook(spark, sf))
    assert(!p.contains("Join"), "assignment should probe broadcast centroids, not join:\n" + p.take(1000))
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"expected <=1 exchange (output sort), got $exchanges")
  }

  test("w4 funnel: the event-type filter reaches the scan; one shuffle plus output sort") {
    val p = plan(PipelineQueries.w4Funnel(spark, sf))
    assert(p.contains("PushedFilters:") && p.contains("In(event_type"),
      "funnel event-type filter did not push into the events scan:\n" +
        p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    assert(!p.contains("Join"), "funnel should be one grouped scan, not a join cascade")
    // hashpartitioning(user_id) for the groupBy + the output sort's range
    // exchange — the 3-join oracle shape would show three more
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("d8 span dedup: distinct runs before the explode; two content shuffles plus sort") {
    val p = plan(PipelineQueries.d8SpanDedup(spark, sf))
    assert(p.contains("Generate"), "span explode missing")
    assert(p.contains("Window"), "doc-frequency window missing")
    // digest window + per-doc aggregate + output sort; a fourth exchange
    // would mean the span rows took a redundant pass
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("k8 snapshot diff stays a hash/merge equi-join on the key") {
    val p = plan(RelationalQueries.k8SnapshotDiff(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "snapshot diff degenerated to a product:\n" + p.take(1200))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      "full-outer key join missing")
  }

  test("k6 delete anti-join broadcasts the doomed key set; orders never shuffles for it") {
    // The orders side must stream through a BroadcastHashJoin LeftAnti with
    // the (filter-pushed) doomed customer keys as the build side, then
    // partial-aggregate before the only data exchange. A SortMergeJoin here
    // would shuffle the full fact table to delete against a dim-sized set.
    val p = plan(RelationalQueries.k6AntiJoinDelete(spark, sf))
    assert(p.contains("BroadcastHashJoin LeftAnti BuildRight"),
      "anti-join did not broadcast the doomed side:\n" + p.take(1200))
    assert(p.contains("LessThan(c_acctbal,0.0)"), "acctbal filter not pushed to the scan")
    // exchanges: one for the group-by, one single-partition exchange for the
    // final total order, plus the broadcast exchange — no shuffle of the
    // orders rows before the join
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"expected <=2 data exchanges, got $exchanges:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    // the final order must NOT plan a RangePartitioning exchange: its bounds
    // come from a driver-side sampling job that re-pays the broadcast-join
    // stage (measured 2× on k6). The 3-row result sorts on one partition.
    assert(!p.contains("rangepartitioning"),
      "tiny-result sort planned a sampling range exchange:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("x13 mixing weights broadcasts the 1-row totals back; slices never re-shuffle to meet it") {
    val p = plan(PipelineQueries.x13MixWeights(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "totals row is not broadcast:\n" + p.take(1200))
    assert(!p.contains("SortMergeJoin"), "slice table shuffled to meet a 1-row frame")
  }

  test("pipe1 curation: contamination screen broadcasts; no join degenerates") {
    val p = plan(PipelineQueries.pipe1Curate(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a curation join degenerated to a product:\n" + p.take(1500))
    assert(p.contains("BroadcastHashJoin"),
      "eval gram set / flag joins did not broadcast:\n" + p.take(1500))
  }

  test("d9 semantic dedup pairs join on the cell key, never a product") {
    val p = plan(PipelineQueries.d9SemDedup(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "within-cell pair join degenerated to a product:\n" + p.take(1500))
  }

  test("w5 retention: no COUNT(DISTINCT) expansion, joins stay keyed") {
    val p = plan(PipelineQueries.w5Retention(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // count(distinct) would show an Expand node here; the distinct-first
    // formulation must not
    assert(!p.contains("Expand"), "retention re-expanded into COUNT(DISTINCT):\n" + p.take(1200))
  }

  test("sim5 PQ scoring is narrow: no join anywhere, one window shuffle plus sort") {
    val p = plan(PipelineQueries.sim5PqAnn(spark, sf))
    assert(!p.contains("Join"), "PQ scoring should probe broadcast tables, not join:\n" + p.take(1200))
    assert(p.contains("Window"), "final exact top-k window missing")
  }

  test("x14 tokenization is a zero-join narrow pass over the corpus") {
    val p = plan(PipelineQueries.x14Tokenize(spark, sf))
    assert(!p.contains("Join"), "encoding joined instead of probing the map literal:\n" + p.take(1200))
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"expected <=1 exchange (output sort), got $exchanges")
  }

  test("a13 grouping sets is one Expand + one aggregation pass") {
    val p = plan(RelationalQueries.a13GroupingSets(spark, sf))
    assert(p.contains("Expand"), "grouping-sets expand missing")
    // partial/final HashAggregate around one group-key exchange + the output
    // sort: never one scan per declared slice
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges")
  }

  test("w7 trending: the rank window partitions by bucket over pre-aggregated rows") {
    val p = plan(RelationalQueries.w7HourlyTopk(spark, sf))
    assert(p.contains("Window"), "per-bucket rank window missing")
    assert(p.contains("HashAggregate"), "counts must pre-aggregate before the window")
    // count exchange + window repartition (AQE may merge them) + output sort
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("k10 merge apply: changed keys anti-join without a product, log side broadcastable") {
    val p = plan(RelationalQueries.k10ChangelogApply(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "merge apply degenerated to a product:\n" + p.take(1500))
    assert(p.contains("LeftAnti"), "changed-key anti-join missing")
  }

  test("x17 novelty digest shuffles 8-byte gram keys, never raw shingle strings") {
    val p = plan(PipelineQueries.x17Novelty(spark, sf))
    // the distinct exchange must hash on the bigint digest column; a raw
    // string gram key would appear as a string-typed partition expression
    assert(p.contains("HashAggregate"), "distinct digest aggregation missing")
    assert(!p.contains("Join") || !p.contains("CartesianProduct"))
    val gramCast = p.contains("conv(substring(md5")
    assert(gramCast, "md5-digest gram key missing from the plan:\n" + p.take(1200))
  }

  test("g1 pagerank reuses the checkpointed edge list; every round joins on a key") {
    val p = plan(PipelineQueries.g1Pagerank(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a PageRank round degenerated to a product:\n" + p.take(1500))
    // the edge list is localCheckpoint'd: rounds must scan the checkpoint RDD,
    // not re-derive the distinct-pairs join four times
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      "edge checkpoint missing — rounds would rebuild the pair join each time")
  }

  test("d10 incremental dedup joins on band/hash keys, never a product") {
    val p = plan(PipelineQueries.d10IncrementalDedup(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "increment-vs-index join degenerated to a product:\n" + p.take(1500))
  }

  test("d10 production layout: bucketed index band table joins with no index-side shuffle") {
    // The nightly-ingest claim in SCALING.md: with the corpus's (band key →
    // doc) table PRECOMPUTED and bucketed by bk, the increment's candidate
    // probe shuffles only the increment — the 100 TB index is read in place.
    import org.apache.spark.sql.functions._
    val idx = spark.range(0, 4000)
      .select(concat(lit("b"), col("id") % 512).as("bk"), col("id").as("m"))
    val inc = spark.range(0, 40)
      .select(concat(lit("b"), col("id") % 512).as("bk"), col("id").as("doc_id"))
    spark.sql("DROP TABLE IF EXISTS bands_idx_bkt")
    idx.write.bucketBy(8, "bk").sortBy("bk").saveAsTable("bands_idx_bkt")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = inc.join(spark.table("bands_idx_bkt"), Seq("bk"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // exactly ONE exchange: the increment re-buckets to meet the index's
      // layout; a second exchange would mean the index side shuffled too
      val exchanges = "(?<!Reused)Exchange".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected 1 exchange (increment only), got $exchanges:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bands_idx_bkt")
    }
  }

  test("m7 production layout: bucketed image band table probes with no index-side shuffle") {
    // m7's nightly-ingest claim (SCALING.md): with the ImageIndex's band
    // table persisted bucketed by bk, probing an increment of arriving
    // image signatures shuffles ONLY the increment — the corpus-sized
    // index is read in place, exactly d10's layout applied to aHash bands.
    import org.apache.spark.sql.functions._
    val idx = spark.range(0, 4000)
      .select((col("id") % 1024).as("bk"), col("id").as("m"), (col("id") * 31).as("ah_m"))
    val inc = spark.range(0, 40)
      .select((col("id") % 1024).as("bk"), col("id").as("doc_id"), (col("id") * 7).as("ahash"))
    spark.sql("DROP TABLE IF EXISTS img_bands_bkt")
    idx.write.bucketBy(8, "bk").sortBy("bk").saveAsTable("img_bands_bkt")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = inc.join(spark.table("img_bands_bkt"), Seq("bk"))
        .filter(expr("bit_count(ahash ^ ah_m) <= 3"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      val exchanges = "(?<!Reused)Exchange".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected 1 exchange (increment only), got $exchanges:\n$plan")
      joined.count() // the plan executes
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS img_bands_bkt")
    }
  }

  test("x16 shard shuffle: window sort stays per-shard at any shard count") {
    // The shard count is the sort-parallelism knob; whatever it is set to,
    // the row_number window must sort AFTER a hash exchange on `shard` (each
    // task sorts corpus/nShards rows) — a plan that sorts before a single-
    // partition exchange would serialize the whole corpus through one task.
    Seq(8, 64).foreach { n =>
      val p = plan(PipelineQueries.x16ShardShuffle(spark, sf, n))
      assert(p.contains("hashpartitioning(shard"),
        s"nShards=$n: window exchange must hash on shard:\n" + p.take(1500))
      assert(!p.contains("SinglePartition") || p.contains("rangepartitioning"),
        s"nShards=$n: corpus collapsed to one partition before the window sort")
    }
  }

  test("d3 simhash reads only the columns it needs from documents") {
    val p = plan(PipelineQueries.d3Simhash(spark, sf))
    val rs = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(rs.contains("doc_id") && rs.contains("text"), rs)
    assert(!rs.contains("lang") && !rs.contains("source"),
      "simhash scan reads unneeded columns:\n" + rs)
  }

  test("x18 BPE round: pair counts partial-aggregate before the exchange; no product") {
    // The per-round shuffle must carry one row per distinct PAIR (map-side
    // combine over the word table), never one row per pair occurrence —
    // that partial/final split is what keeps a training round's exchange
    // alphabet²-sized at any corpus size.
    // x18's registered result is the driver artifact (a LocalRelation); the
    // per-round plan under test is the pair-count aggregation itself.
    val p = plan(PipelineQueries.bpePairCounts(PipelineQueries.bpeWordTable(spark, sf)))
    assert(p.contains("partial_sum"),
      "pair-count aggregation lost its map-side combine:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("x18's word-table build reads only text from documents") {
    // the ONE corpus-sized pass of BPE training; at 100 TB reading any
    // other column multiplies the only term that grows with the corpus
    val p = plan(PipelineQueries.bpeWordTable(spark, sf))
    val rs = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(rs.contains("text"), rs)
    assert(!rs.contains("doc_id") && !rs.contains("lang") && !rs.contains("source"),
      "word-table scan reads unneeded columns:\n" + rs)
  }

  test("x19 BPE encode is shuffle-free up to the output sort") {
    // Encoding compiles the 10-merge artifact into a per-row replace chain:
    // the only exchange the plan may contain is the deterministic output
    // ORDER BY's range partitioning — no join, no aggregation shuffle.
    val p = plan(PipelineQueries.x19BpeEncode(spark, sf))
    val exchanges = p.linesIterator.filter(_.trim.startsWith("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      "encode pass shuffles before the output sort:\n" + exchanges.mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "encode pass should not join at all")
  }

  test("x19b encode-only: the pinned artifact compiles to literals; no training job, shuffle-free") {
    // the artifact is plan LITERALS — encode is the same zero-shuffle narrow
    // pass as x19's encode stage, with no training rounds in front of it
    val p = plan(PipelineQueries.x19bEncodeOnly(spark, sf))
    val exchanges = p.linesIterator.filter(_.trim.startsWith("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      "encode-only pass shuffles before the output sort:\n" + exchanges.mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "encode-only pass should not join at all")
    assert(p.contains("(mer)"), "pinned merge literals missing from the plan")
  }

  test("x12 LM score shuffles 8-byte digest keys; hot bigrams ride a broadcast path") {
    val p = plan(PipelineQueries.x12LmScore(spark, sf))
    // the corpus-wide tokenize+digest pass materializes ONCE (localCheckpoint,
    // the d8/x21 discipline): model build, hot probe, and cold probe all scan
    // the checkpoint, so the md5 lambda must NOT reappear downstream — its
    // re-evaluation per consumer is exactly the 3× explode the checkpoint kills
    assert(!p.contains("conv(substring(md5"),
      "digest lambda recomputed downstream of the occ checkpoint:\n" + p.take(1200))
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      "checkpointed occurrence table missing from the plan:\n" + p.take(1200))
    // the Zipf head joins map-side: top-hotK model rows broadcast, and the
    // cold residual is carved out by an anti-join against the same set, so
    // no shuffled join ever sees a heavy-hitter key
    assert(p.contains("BroadcastHashJoin"), "hot-key broadcast join missing")
    assert(p.contains("LeftAnti"), "cold-side anti-join against the hot set missing")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "x12 degenerated to a product")
    val stringKeyed = p.linesIterator.filter(_.contains("hashpartitioning(bg"))
    assert(stringKeyed.isEmpty,
      "an exchange still hashes the raw bigram string:\n" + stringKeyed.mkString("\n"))
  }

  test("x20 classifier inference is a zero-join narrow pass; the model rides as literals") {
    // the 64-weight artifact is an array literal in the plan, so inference
    // must stream: the only exchange is the output sort's range partitioning
    val p = plan(PipelineQueries.x20QualityClassifier(spark, sf))
    val exchanges = p.linesIterator.filter(_.trim.startsWith("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      "classifier pass shuffles before the output sort:\n" + exchanges.mkString("\n"))
    assert(!p.contains("Join"), "classifier inference should not join at all")
  }

  test("x21 importance model broadcasts back to the corpus; no shuffled join anywhere") {
    // the bucket-count model (256 rows) and its 1-row totals must come back
    // via broadcast — the corpus side shuffles only for its own partial-
    // aggregable groupBys, never to meet the model
    val p = plan(PipelineQueries.x21ImportanceWeights(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "importance-ratio table is not broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus shuffled to meet the 256-row model:\n" + p.take(1500))
  }

  test("x22 source cap ranks in two phases; the exact window never sees the raw corpus") {
    val p = plan(PipelineQueries.x22SourceCap(spark, sf))
    // phase 1's pre-cut window partitions on (source, pid) — the salt that
    // splits a mega-domain — and phase 2's exact window on source alone;
    // both must survive optimization as separate Window operators
    assert("""Window \(\d+\)""".r.findAllIn(p).length >= 2,
      "two-phase ranking collapsed — the hot-domain pre-cut is gone:\n" + p.take(1500))
    // Spark's rank-limit pushdown must engage for both phases: the partial
    // WindowGroupLimit cuts to `cap` rows BEFORE each exchange, so not even
    // phase 1 shuffles the raw corpus
    assert("""WindowGroupLimit \(\d+\)""".r.findAllIn(p).length >= 4,
      "rank-limit pushdown (partial+final per phase) missing:\n" + p.take(1500))
    assert(p.contains("pid"), "partition-id salt column missing from the pre-cut")
    // source totals come back via broadcast, never a shuffled join
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      "per-source totals did not broadcast")
  }

  test("pipe2 index build: gates fuse ahead of the explode; no join, rank-limit engages") {
    val p = plan(PipelineQueries.pipe2IndexBuild(spark, sf))
    // the composed pipeline is windows + aggregations over one corpus scan:
    // nothing in it may join, and nothing may degenerate to a product
    assert(!p.contains("Join"), "pipe2 should not join at all:\n" + p.take(1200))
    // the quota's rank filter must engage Spark's rank-limit pushdown so
    // over-cap rows die at the window, before the (term, doc) explode
    assert(p.contains("WindowGroupLimit"), "quota rank-limit pushdown missing")
    // one scan of documents feeds the whole composition
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1,
      "pipe2 should read the corpus exactly once")
  }

  test("k11 compaction planner aggregates the inventory before any window") {
    val p = plan(RelationalQueries.k11CompactionPlan(spark, sf))
    assert(!p.contains("Join"), "the planner should not join")
    // the files-inventory aggregation reduces data BEFORE the windows: a
    // partial HashAggregate must sit under the first exchange, so the
    // planner's windows only ever see inventory-sized rows
    assert(p.contains("HashAggregate"), "inventory aggregation missing")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1,
      "planner should read the table exactly once (metadata-sized pass)")
  }

  test("x25 chunking is a pure narrow pass: no exchange before the output sort, no join") {
    val p = plan(PipelineQueries.x25ChunkOverlap(spark, sf))
    val exchanges = p.linesIterator.filter(_.trim.startsWith("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      "chunking shuffles before the output sort:\n" + exchanges.mkString("\n"))
    assert(!p.contains("Join"), "chunking should not join at all")
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchemas.contains("lang") && !readSchemas.contains("source"),
      "chunk scan reads unneeded columns:\n" + readSchemas)
  }

  test("d11 span removal exchanges digest and doc_id keys only — never block text") {
    val p = plan(PipelineQueries.d11SpanRemoval(spark, sf))
    // two content exchanges: the first-occurrence window on the 16-hex md5
    // digest, and the per-document reassembly on doc_id; a raw block-text
    // partition key would make the shuffle width content-dependent
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.nonEmpty && keyed.forall(l => l.contains("hk") || l.contains("doc_id")),
      "an exchange hashes something other than the digest/doc key:\n" + keyed.mkString("\n"))
    assert(keyed.exists(_.contains("blk")) == false,
      "an exchange partitions on raw block text:\n" + keyed.mkString("\n"))
  }

  test("x26 normalization exchanges hash constant-width digests, never raw text") {
    val p = plan(PipelineQueries.x26Normalize(spark, sf))
    // the window key is projected to a _w alias whose definition is the md5
    // digest; what must NEVER appear is a raw text column as a partition key
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.nonEmpty && keyed.forall(l => l.contains("md5") || l.contains("_w")),
      "a window exchange partitions on something other than the digest alias:\n" +
        keyed.mkString("\n"))
    assert(!keyed.exists(l => l.contains("v_text") || l.contains("norm#")),
      "a window exchange partitions on raw text:\n" + keyed.mkString("\n"))
    assert(p.contains("md5("), "digest projection missing from the plan")
  }

  test("k13 vacuum plan reads the table once; the returned plan is metadata-only") {
    val p = plan(RelationalQueries.k13VacuumPlan(spark, sf))
    // the inventory localCheckpoints after ONE aggregation scan (consumed by
    // the watermark action); the returned classification plan must scan the
    // checkpoint, never the parquet table again
    assert(!p.contains("Scan parquet"),
      "vacuum classification re-scans the data:\n" + p.take(1200))
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      "checkpointed inventory missing from the plan:\n" + p.take(1200))
  }

  test("m4: audio synth→decode→frame is one narrow stage; only the output sort exchanges") {
    val p = plan(PipelineQueries.m4AudioFeatures(spark, sf))
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"expected exactly the orderBy rangepartitioning, found $exchanges exchanges:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("rangepartitioning"), "the single exchange is not the sort")
  }

  test("pipe3: the whole export rides ONE shard hash exchange (plus the output sort)") {
    val p = plan(PipelineQueries.pipe3Export(spark, sf))
    val hashEx = "hashpartitioning\\(shard".r.findAllIn(p).size
    assert(hashEx >= 1, "shard window lost its hash partitioning:\n" + p.take(1200))
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 2,
      s"expected shard hash + sort range only, found $exchanges exchanges:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    // the manifest aggregation must reuse the shard partitioning: no
    // exchange keyed on (shard, seq_id) anywhere
    assert(!p.contains("hashpartitioning(shard#") ||
      !"hashpartitioning\\(shard[^,]*, seq_id".r.findFirstIn(p).isDefined,
      "manifest aggregation re-shuffled on (shard, seq_id)")
  }

  test("g2 triangles: adjacency broadcasts and intersects row-locally — no wedge join") {
    val p = plan(PipelineQueries.g2Triangles(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "adjacency/degree tables should broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a triangle join degenerated to a product")
    // the closure must be the row-local array intersection, not a shuffled
    // self-join materializing the Σ outdeg² wedge set (measured 8× slower)
    assert(p.contains("array_intersect"), "adjacency-intersection closure missing")
    assert(!p.contains("SortMergeJoin"), "wedge/closure join reappeared as a shuffle join")
  }
}
