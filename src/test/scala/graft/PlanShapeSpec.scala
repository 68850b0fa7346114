package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the properties the 100 TB story
  * depends on (pushdown, pruning, broadcasts, shuffle counts, native
  * kernels in join conditions) asserted on the REAL gate queries, so a
  * refactor that silently de-optimizes a plan fails here instead of in
  * a benchmark diff.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("pricing summary: filter pushed into the parquet scan, columns pruned") {
    val p = physical(SparkEntry.queries("q_agg_pricing_summary")(spark, dir))
    assert(p.contains("PushedFilters: [") && p.contains("l_quantity"),
      s"quantity bound not pushed:\n$p")
    // 16-column table, 5-column read
    assert(!p.contains("l_comment"), s"unprojected column read:\n$p")
  }

  test("dim join broadcasts the small side") {
    val p = physical(SparkEntry.queries("q_join_broadcast_dim")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("winnowing is a pure narrow map: zero exchanges") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val p = physical(graft.operators.TextAnalysis.winnowing(docs, 3, 4))
    assert(!p.contains("Exchange"), s"winnowing grew a shuffle:\n$p")
  }

  test("content-defined chunking is a pure narrow map: zero exchanges") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val p = physical(graft.operators.TextAnalysis.cdcChunks(docs, 4, 16))
    assert(!p.contains("Exchange"), s"cdcChunks grew a shuffle:\n$p")
  }

  test("model quality scoring is a pure narrow map: zero exchanges, " +
    "weights compiled into the plan") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox")).toDF("doc_id", "text")
    val p = physical(graft.operators.TextAnalysis.modelQuality(docs))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"model scoring grew a shuffle or join:\n$p")
  }

  test("minhash signatures are narrow: zero exchanges from docs to signature") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val p = physical(graft.operators.TextDedup.minhashSignature(
      graft.operators.TextDedup.shingleArrays(docs, 3), 8))
    assert(!p.contains("Exchange"), s"signature stage grew a shuffle:\n$p")
  }

  test("book replay has exactly ONE exchange (the assetId repartition)") {
    import spark.implicits._
    val msgs = Seq(
      graft.model.FeedMsg("h", 0L, 0, "last_trade_price", "m", "a", "1", "BUY",
        "0.5", "1", null, null, null)).toDS()
    val p = physical(graft.operators.BookReplay.ticks(msgs).toDF())
    assert(countOccurrences(p, "Exchange") == 1,
      s"replay should shuffle exactly once:\n$p")
  }

  test("replay over an assetId-bucketed message lake is shuffle-free " +
    "and equals the shuffled replay") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_bucket_replay").toString
    try {
      val msgs = (0 until 200).map { i =>
        graft.model.FeedMsg("h", i.toLong, 0, "last_trade_price",
          s"M${i % 3}", s"A${i % 7}", (1000 + i).toString, "BUY",
          s"0.${10 + i % 80}", s"${1 + i % 9}", null, null, null)
      }
      graft.sources.Sinks.writeBucketedLake(
        msgs.toDS(), "graft_feed_bucketed", s"$wh/feed", nBuckets = 4)
      val bucketed = graft.sources.Sinks.readBucketedLake(spark, "graft_feed_bucketed")
      val df = graft.operators.BookReplay.orderedTicks(bucketed).toDF()
      val p = physical(df)
      assert(!p.contains("Exchange"), s"bucketed replay grew a shuffle:\n$p")
      val expect = graft.operators.BookReplay.ticks(msgs.toDS())
        .collect().map(_.toString).sorted.toSeq
      assert(df.as[graft.model.Tick].collect().map(_.toString).sorted.toSeq == expect)
    } finally spark.sql("DROP TABLE IF EXISTS graft_feed_bucketed")
  }

  test("gated bucketed replay (q_replay_bucketed): the fixture-lake fold " +
    "itself is shuffle-free — zero Exchange before the gate's output sort") {
    val p = physical(graft.queries.Replay.bucketedFixtureTicks(spark).toDF())
    assert(!p.contains("Exchange"), s"gated bucketed replay grew a shuffle:\n$p")
  }

  test("embedding cosine evaluates the native dot kernel inside the join " +
    "condition (no all-pairs row materialization before the threshold)") {
    val p = physical(SparkEntry.queries("q_dedup_embedding_cosine")(spark, dir))
    val joinIdx = p.indexOf("BroadcastNestedLoopJoin")
    assert(joinIdx >= 0, s"expected nested-loop join:\n$p")
    val joinLine = p.substring(joinIdx, p.indexOf('\n', joinIdx).max(joinIdx))
    assert(joinLine.contains("array_dot_long"),
      s"cosine threshold not in the join condition:\n$joinLine")
  }

  test("blocked embedding cosine: pair generation is a cent_id EQUI-join, " +
    "no nested-loop join spans the corpus") {
    val p = physical(
      SparkEntry.queries("q_dedup_embedding_cosine_blocked")(spark, dir))
    // the within-cluster self-join must hash/sort-merge on cent_id with
    // the cosine threshold evaluated inside the join condition
    val equi = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(equi.exists(l => l.contains("cent_id") && l.contains("array_dot_long")),
      s"expected cent_id equi-join with the kernel in its condition:\n$p")
    // the only nested-loop join allowed is centroid assignment (tiny
    // broadcast side, no condition); a BNLJ carrying the pair predicate
    // means the blocking degraded back to corpus x corpus
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
    assert(!bnlj.exists(l => l.contains("vec_a") || l.contains("array_dot_long")),
      s"pair generation fell back to a corpus-wide nested-loop join:\n$p")
  }

  test("bm25: query-term IN-set filters tokens BELOW the first shuffle " +
    "(only query-term postings move, never the vocabulary)") {
    val p = physical(SparkEntry.queries("q_text_bm25")(spark, dir))
    val exchangeIdx = p.indexOf("Exchange")
    val filterIdx = p.indexOf("IN (window")
    assert(exchangeIdx >= 0 && filterIdx > exchangeIdx,
      s"term filter not below the shuffle:\n$p")
  }

  test("decontamination: the eval-gram side is broadcast; no join " +
    "materializes corpus x benchmark") {
    val p = physical(SparkEntry.queries("q_text_decontaminate")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"bench grams not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"decontamination grew an all-pairs join:\n$p")
  }

  test("rare bigrams: gram-count lookup is an equi-join, never nested-loop") {
    val p = physical(SparkEntry.queries("q_text_rare_bigrams")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"corpus-frequency join degraded to all-pairs:\n$p")
  }

  test("funnel: every exchange is keyed on the user column, no all-pairs") {
    val p = physical(SparkEntry.queries("q_events_funnel")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"funnel grew an all-pairs join:\n$p")
    val keyed = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .forall(_.contains("user_id"))
    assert(keyed, s"funnel shuffles on a non-user key:\n$p")
  }

  test("mixture sampling: rates re-attach via broadcast, corpus stays narrow") {
    val p = physical(SparkEntry.queries("q_sample_mixture")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"rates not broadcast back:\n$p")
    assert(!p.contains("CartesianProduct"), s"mixture grew a cartesian:\n$p")
  }

  test("boilerplate removal: common-line membership is a broadcast join " +
    "on the digest, never line x line") {
    val p = physical(SparkEntry.queries("q_text_boilerplate")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"common set not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"boilerplate grew a cartesian:\n$p")
  }

  test("shard assignment: narrow map + one aggregation, no join anywhere") {
    val p = physical(SparkEntry.queries("q_shard_assign")(spark, dir))
    assert(!p.contains("Join"), s"shard assignment grew a join:\n$p")
    // one hash exchange for the groupBy, one range for the final sort
    assert(countOccurrences(p, "Exchange") <= 2,
      s"shard assignment shuffles more than agg+sort:\n$p")
  }

  test("knn classify: candidates come from a posting-list equi-join; the " +
    "only nested-loop is the tiny centroid-probe broadcast") {
    val p = physical(SparkEntry.queries("q_embed_knn_classify")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"knn grew a cartesian:\n$p")
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
    assert(!bnlj.exists(_.contains("cand_id")),
      s"candidate generation fell back to all-pairs:\n$p")
  }

  test("ahash dedup: candidate generation is a band equi-join over the " +
    "persisted hash table, never image x image") {
    val p = physical(SparkEntry.queries("q_media_ahash_dedup")(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"ahash pair generation is a cartesian product:\n$p")
  }

  test("grouped top-k: the rank filter becomes WindowGroupLimit, so map " +
    "tasks keep k rows per group before the shuffle") {
    val p = physical(SparkEntry.queries("q_window_topk_per_group")(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k filter did not push down as a group limit:\n$p")
  }

  test("domain cap: the rank<=cap filter plans as a WindowGroupLimit " +
    "(map-side group truncation before the exchange)") {
    val p = physical(SparkEntry.queries("q_sample_domain_cap")(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"domain cap did not push down as a group limit:\n$p")
  }

  test("tfidf keywords: top-k-per-doc plans as a WindowGroupLimit and " +
    "the stopword filter sits below the first exchange") {
    val p = physical(SparkEntry.queries("q_text_tfidf_keywords")(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k did not push down as a group limit:\n$p")
    assert(!p.contains("CartesianProduct"), s"tfidf grew a cartesian:\n$p")
  }

  test("hard negatives: candidates come from a posting-list equi-join, " +
    "never anchor x corpus") {
    val p = physical(SparkEntry.queries("q_embed_hard_negatives")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"hard negatives grew a cartesian:\n$p")
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
    assert(!bnlj.exists(_.contains("neg_id")),
      s"candidate generation fell back to all-pairs:\n$p")
  }

  test("in-doc line dedup is a pure narrow map: zero exchanges before " +
    "the gate's output sort") {
    import spark.implicits._
    val docs = Seq((1L, "a\nb\na\nc")).toDF("doc_id", "text")
    val p = physical(graft.operators.TextAnalysis.dedupLinesInDoc(docs))
    assert(!p.contains("Exchange"), s"line dedup grew a shuffle:\n$p")
  }

  test("capped band pairing: saturated-bucket exclusion is a BROADCAST " +
    "anti-join, never a shuffled one") {
    import spark.implicits._
    val bands = Seq((1L, 0, "x"), (2L, 0, "x"), (3L, 0, "y"))
      .toDF("doc_id", "band", "band_hash")
    val p = physical(graft.operators.TextDedup.bandPairs(bands, 1))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"hot-bucket exclusion is not a broadcast anti-join:\n$p")
  }

  test("substring dedup: dup-gram marking is a semi join, never an " +
    "index-replicating inner join") {
    val p = physical(SparkEntry.queries("q_dedup_substring")(spark, dir))
    assert(p.contains("LeftSemi"), s"marking join is not a semi join:\n$p")
    assert(!p.contains("CartesianProduct"), s"substring dedup grew a cartesian:\n$p")
  }

  test("z-order zone maps: narrow cell map + one aggregation, no join, " +
    "no global sort before the agg") {
    val p = physical(SparkEntry.queries("q_layout_zorder")(spark, dir))
    assert(!p.contains("Join"), s"zorder stats grew a join:\n$p")
    // one hash exchange for the groupBy, one range for the final sort
    assert(countOccurrences(p, "Exchange") <= 2,
      s"zorder stats shuffle more than agg+sort:\n$p")
  }

  test("pagerank: per-iteration contributions shuffle on the edge key; " +
    "no cartesian anywhere in the unrolled plan") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val p = physical(graft.operators.PageRank.pagerank(edges, "src", "dst", 1))
    assert(!p.contains("CartesianProduct"), s"pagerank grew a cartesian:\n$p")
  }

  test("filtered ANN: the label predicate sits BELOW the posting-list join " +
    "(pre-filtering), and candidates never form a corpus-wide cross join") {
    val p = physical(SparkEntry.queries("q_embed_topk_ivf_filtered")(spark, dir))
    // the label IN-set must survive into the physical plan (Catalyst
    // pushes it below the cent_id join since it touches one side only).
    // Tolerant match: In renders as "IN (0,1,2)" but spacing varies and
    // larger sets convert to INSET across Spark versions/thresholds.
    assert("(?i)\\bin\\b ?\\(0, ?1, ?2\\)|INSET".r.findFirstIn(p).isDefined,
      s"label predicate missing from the physical plan:\n$p")
    // the only nested-loop joins allowed are the bounded
    // centroid-broadcast cross joins (assignment/probing); the
    // candidate side must be an equi-join on cent_id
    val cross = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(cross.forall(_.contains("Cross")),
      s"unexpected non-centroid nested-loop join:\n$p")
    assert(!p.contains("CartesianProduct"), s"filtered ANN grew a cartesian:\n$p")
  }

  test("HLL profiler plans ONE aggregation with NO Expand (the exact " +
    "profiler's count_distinct replicates the scan x columns; the " +
    "sketch must not)") {
    val p = physical(SparkEntry.queries("q_profile_columns_hll")(spark, dir))
    assert(!p.contains("Expand"), s"HLL profiler grew an Expand:\n$p")
    // the exact profiler DOES expand — that contrast is the point
    val exact = physical(SparkEntry.queries("q_profile_columns")(spark, dir))
    assert(exact.contains("Expand"),
      "baseline drifted: exact profiler no longer expands (update this test)")
  }

  test("incremental dedup: exact and band screens are equi-joins; no " +
    "cartesian, no history-side self-join") {
    val p = physical(SparkEntry.queries("q_dedup_incremental")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incremental dedup grew an all-pairs join:\n$p")
  }

  test("retention cohorts: the (user, week) dedup rides on the user_id " +
    "partitioning (subset rule) — no event-sized shuffle on the wide key") {
    val p = physical(SparkEntry.queries("q_events_retention")(spark, dir))
    // the failure mode: distinct() planning its own
    // hashpartitioning(user_id, w) exchange over the event grain
    assert(!p.contains("hashpartitioning(user_id#") ||
      p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
        .forall(l => !(l.contains("user_id#") && l.contains(", w#"))),
      s"dedup grew its own (user_id, w) shuffle:\n$p")
    assert(countOccurrences(p, "hashpartitioning(user_id") >= 1,
      s"expected the explicit user_id exchange:\n$p")
    // AQE reuses the two identical user_id exchanges at runtime; the
    // static bound is: user_id repartitions + the cells-sized final
    // agg — never more than 3 hash exchanges
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 3, s"retention grew extra hash shuffles ($hashEx):\n$p")
  }

  test("weighted sample: priority top-k is TakeOrderedAndProject, " +
    "integer div (not float /) computes the priority") {
    val p = physical(SparkEntry.queries("q_sample_weighted")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample lost the top-k operator:\n$p")
    // a float Divide would silently lose bits past 2^53 — the plan
    // must carry integral division over the hash
    assert(p.contains(" div n_chars"), s"priority is not integer division:\n$p")
  }

  test("weighted mix: the per-source cap is pushed below the sort as " +
    "WindowGroupLimit; caps re-attach by broadcast") {
    val p = physical(SparkEntry.queries("q_pipeline_weighted_mix")(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"per-source cap not pushed below the sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"caps did not re-attach via broadcast:\n$p")
  }

  test("bloom join prefilter: the bitmap screen filters the fact side " +
    "BELOW its exchange (shuffle moves only plausible matches)") {
    val p = physical(SparkEntry.queries("q_join_bloom_prefilter")(spark, dir))
    val lines = p.linesIterator.toSeq
    val exchangeIdx = lines.indexWhere(l =>
      l.contains("Exchange hashpartitioning") && l.contains("l_partkey"))
    val filterIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("forall"))
    assert(exchangeIdx >= 0, s"no fact-side exchange (hint lost?):\n$p")
    assert(filterIdx > exchangeIdx,
      s"bloom screen not below the fact exchange:\n$p")
  }

  test("hive-partitioned lake read: the date range lands in " +
    "PartitionFilters (directory pruning at planning time), not just " +
    "row-group filters") {
    val p = physical(SparkEntry.queries("q_layout_hive_partitioned")(spark, dir))
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(scanLine.isDefined, s"no PartitionFilters in scan:\n$p")
    assert(scanLine.get.contains("event_date"),
      s"date bounds not pruning partitions:\n${scanLine.get}")
    assert(!scanLine.get.contains("PartitionFilters: []"),
      s"partition filter list is empty:\n${scanLine.get}")
  }

  test("bottom-k sample: orderBy+limit plans as TakeOrderedAndProject " +
    "(per-task k rows merged on the driver), never a global Sort") {
    val p = physical(SparkEntry.queries("q_sample_bottomk")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k lost the top-k operator:\n$p")
    // a Sort node would mean a full global sort of the corpus by hash —
    // the exact thing bottom-k sampling exists to avoid (the final
    // 100-row presentation sort is also TakeOrderedAndProject)
    assert(!p.linesIterator.exists(l => l.contains("Sort ") && !l.contains("TakeOrdered")),
      s"bottom-k grew a full sort:\n$p")
  }

  test("char entropy is a pure narrow map: zero exchanges") {
    import spark.implicits._
    val docs = Seq((1L, "ab ba")).toDF("doc_id", "text")
    val p = physical(graft.operators.TextAnalysis.charEntropy(
      docs, ('a' to 'z').map(_.toString) :+ " "))
    assert(!p.contains("Exchange"), s"charEntropy grew a shuffle:\n$p")
  }

  test("triangle counting: every join is an equi-join — no cartesian " +
    "product, no nested-loop join anywhere in the plan") {
    val p = physical(SparkEntry.queries("q_graph_triangles")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"triangle plan degenerated to an all-pairs join:\n$p")
  }

  test("source vocab overlap: the bigram intersection is an equi-join " +
    "on the bigram key, not a source×source cross") {
    val p = physical(SparkEntry.queries("q_text_vocab_overlap")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"vocab overlap degenerated to a cross join:\n$p")
  }

  test("bucketed lake join: both fact scans consume the bucket layout — " +
    "a SortMergeJoin with NO exchange on either join input (the only " +
    "Exchange in the plan is the final 5-group aggregation)") {
    val p = physical(SparkEntry.queries("q_lake_bucketed_join")(spark, dir))
    assert(p.contains("SortMergeJoin"), s"expected a merge join:\n$p")
    // the agg exchange + the output-order rangepartitioning — and NONE
    // between the bucketed scans and the join
    assert(countOccurrences(p, "Exchange") <= 2,
      s"join input shuffled despite bucketing:\n$p")
    assert(countOccurrences(p, "Bucketed: true") == 2,
      s"bucketed layout not consumed on both sides:\n$p")
  }

  test("unpivot melt is narrow: the wide→long fan-out is Expand/Generate " +
    "in-task — the only Exchange is the per-measure aggregation") {
    val p = physical(SparkEntry.queries("q_agg_unpivot")(spark, dir))
    assert(countOccurrences(p, "Exchange") <= 2, // measure agg + 4-row sort
      s"melt itself grew a shuffle:\n$p")
  }

  test("record linkage: candidate pairs come from a block-key equi-join " +
    "(never record×record), and the levenshtein verify runs on the " +
    "joined pairs only") {
    val p = physical(SparkEntry.queries("q_link_records")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"linkage degenerated to an all-pairs comparison:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join on the block key:\n$p")
  }

  test("RRF fusion: every literal rank bound collapses to " +
    "TakeOrderedAndProject (per-task top-k merged on the driver — the " +
    "corpus never hits a global sort), and the one-row query vector is " +
    "broadcast, never shuffled against the corpus") {
    val p = physical(SparkEntry.queries("q_rank_rrf_fusion")(spark, dir))
    // lexical top-50, semantic top-50, fused top-20: all three rank
    // cuts must prune BELOW their (single-partition) window
    assert(countOccurrences(p, "TakeOrderedAndProject") == 3,
      s"a rank<=k filter did not become a top-k prune:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query vector side not broadcast:\n$p")
  }

  test("OHLC bars: window and aggregation share (hour, type) keys — ONE " +
    "hash partitioning builds the whole bar; only the output order adds " +
    "a range exchange") {
    val p = physical(SparkEntry.queries("q_agg_ohlc_bars")(spark, dir))
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1,
      s"bar construction paid more than one hash exchange:\n$p")
  }

  test("link prediction: wedge candidates come from the shared-neighbor " +
    "equi-join (never node×node) and the top-20 cut is a " +
    "TakeOrderedAndProject, not a global sort") {
    val p = physical(SparkEntry.queries("q_graph_jaccard_linkpred")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"wedge generation degenerated to all-pairs:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"limit 20 did not prune below a global sort:\n$p")
  }

  test("interval-overlap join: candidates meet on the bin equi-join " +
    "(never interval×interval nested loop)") {
    val p = physical(SparkEntry.queries("q_join_interval_overlap")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"overlap join degenerated to a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join on __bin:\n$p")
  }

  test("containment dedup: the over-cap stop list is broadcast " +
    "anti-joined — the full shingle table never shuffles to apply the " +
    "df cap") {
    val p = physical(SparkEntry.queries("q_dedup_containment")(spark, dir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"stop-list application is not a broadcast anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"containment degenerated to all-pairs:\n$p")
  }

  test("SQ8 scalar quantization: the learned model rides as array " +
    "literals (encode is narrow — no join to a stats table), and the " +
    "bounded query side is the broadcast side of the ranking join") {
    val p = physical(SparkEntry.queries("q_embed_scalar_quantize")(spark, dir))
    // one BNLJ for the <> self-pairing with the tiny query side
    // broadcast; encode stage contributes no extra join
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"ranking join shape changed:\n$p")
    assert(countOccurrences(p, "Join") <= 2,
      s"encode stage grew a model join:\n$p")
  }

  test("repeated-ngram spans: gram df-count and position join are " +
    "digest equi-joins; no stage is quadratic in corpus size") {
    val p = physical(SparkEntry.queries("q_text_repeated_ngrams")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"span detection degenerated:\n$p")
  }

  test("RFM segmentation: raw events feed ONE per-user rollup (persisted " +
    "— every downstream consumer is an InMemoryTableScan), the global " +
    "max and quintile boundaries ride as broadcast scalar rows, and no " +
    "row-level shuffle join exists anywhere") {
    val p = physical(SparkEntry.queries("q_events_rfm")(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      s"per-user rollup not persisted — events would scan 3x:\n$p")
    // gmax broadcasts under each scored consumer + the boundary row
    assert(countOccurrences(p, "BroadcastExchange IdentityBroadcastMode") >= 2,
      s"gmax/boundaries not broadcast as scalar rows:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a scalar comparison became a shuffled join:\n$p")
  }

  test("user journeys: per-user collect and path rollup are the only " +
    "two exchanges, and the top-25 cut is a TakeOrderedAndProject, " +
    "never a global sort") {
    val p = physical(SparkEntry.queries("q_events_paths")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"limit 25 did not prune below a global sort:\n$p")
    assert(countOccurrences(p, "Exchange hashpartitioning") == 2,
      s"path extraction paid extra shuffles:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"a global sort appeared:\n$p")
  }

  test("nearest as-of: both direction primitives stay union+window " +
    "rewrites (one asset exchange each), the merge is an equi-join on " +
    "the trade key, and nothing degenerates to a per-row scan") {
    val p = physical(SparkEntry.queries("q_join_asof_nearest")(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"as-of degenerated to an unbounded comparison:\n$p")
    assert(countOccurrences(p, "Window ") == 2,
      s"expected exactly the two direction windows:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"no equi-join merging the two directions:\n$p")
  }

  test("LPA modularity: every iteration is an edge⋈label equi-join — " +
    "no stage in the whole program is node×node") {
    val p = physical(SparkEntry.queries("q_graph_modularity")(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"modularity degenerated to all-pairs:\n$p")
  }

  test("point-in-time join: SCD2 build and the as-of lookup share ONE " +
    "key partitioning each (the dedup window and valid_to lead ride the " +
    "SCD exchange); no per-row interval scan anywhere") {
    val p = physical(SparkEntry.queries("q_join_point_in_time")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"PIT lookup degenerated to an interval scan:\n$p")
    assert(countOccurrences(p, "Exchange hashpartitioning") == 2,
      s"SCD build or as-of paid extra shuffles:\n$p")
  }

  test("rolling distinct: the day replication is a bounded Generate " +
    "(never an Expand or a join to a spine), the range clip is a " +
    "broadcast scalar row, and the distinct count is the standard " +
    "two-phase rewrite — three hash exchanges total") {
    val p = physical(SparkEntry.queries("q_window_rolling_distinct")(spark, dir))
    assert(p.contains("Generate explode(sequence"),
      s"day replication is not a bounded generator:\n$p")
    assert(!p.contains("Expand"), s"distinct-count grew an Expand:\n$p")
    assert(countOccurrences(p, "Exchange hashpartitioning") == 3,
      s"expected dedup + partial-distinct + final exchanges only:\n$p")
  }

  test("rolling distinct via HLL: the dedup shuffle is GONE — one hash " +
    "exchange total, carrying fixed 4 KiB sketch states per (type, day)") {
    val p = physical(SparkEntry.queries("q_window_rolling_distinct_hll")(spark, dir))
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1,
      s"sketch rollup paid more than the single aggregation exchange:\n$p")
    assert(p.contains("partial_hll_distinct"),
      s"no map-side partial sketch before the exchange:\n$p")
    assert(!p.contains("Expand"), s"an Expand appeared:\n$p")
  }

  test("personalized PageRank: every iteration is an edge equi-join " +
    "(never node×node) and the top-20 cut is a TakeOrderedAndProject") {
    val p = physical(SparkEntry.queries("q_graph_ppr")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"an iteration degenerated to all-pairs:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"limit 20 did not prune below a global sort:\n$p")
  }

  test("embedding OOD: the bottom-30 cut is a TakeOrderedAndProject " +
    "over the centroid assignment — the corpus never hits a global sort") {
    val p = physical(SparkEntry.queries("q_embed_ood")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"limit 30 did not prune below a global sort:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"assignment degenerated past the broadcast-centroids pass:\n$p")
  }

  test("stupid backoff: the trigram model is a persisted table with " +
    "combinable marginal rollups — scoring never leaves key equi-joins") {
    val p = physical(SparkEntry.queries("q_text_lm_backoff")(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      s"c123 not persisted — ref would re-tokenize per marginal:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop") ||
      countOccurrences(p, "BroadcastNestedLoopJoin") == 1, // the 1-row N
      s"a model join degenerated:\n$p")
  }

  test("as-of with tolerance: still the single union+window rewrite — " +
    "the staleness bound adds a projection, not a join") {
    val p = physical(SparkEntry.queries("q_join_asof_tolerance")(spark, dir))
    assert(countOccurrences(p, "Window ") == 1 && !p.contains("Join"),
      s"tolerance grew a join or second window:\n$p")
  }

  test("matryoshka rerank: the coarse stage's only unbounded pairing is " +
    "the broadcast query side, and both rank cuts prune per query " +
    "partition (row_number windows), never a global sort") {
    val p = physical(SparkEntry.queries("q_embed_matryoshka_rerank")(spark, dir))
    assert(countOccurrences(p, "BroadcastNestedLoopJoin") == 1,
      s"full-dim stage regrew an all-pairs comparison:\n$p")
    assert(countOccurrences(p, "Window ") == 2,
      s"expected coarse + rerank rank windows:\n$p")
  }

  test("HLL register merge aggregates partially map-side: two " +
    "ObjectHashAggregate stages around ONE exchange, so any number of " +
    "input sketches collapses to <= |groups| x 4 KiB before the shuffle " +
    "(the ANF-round / sketch-lake-rollup scale shape)") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i % 5, s"v$i")).toDF("g", "v")
      .select($"g", call_function(graft.functions.Hll.InitName, $"v").as("regs"))
      .groupBy($"g")
      .agg(call_function(graft.functions.Hll.MergeName, $"regs").as("regs"))
    val p = physical(df)
    assert(countOccurrences(p, "ObjectHashAggregate") == 2,
      s"expected partial + final ObjectHashAggregate:\n$p")
    assert(countOccurrences(p, "Exchange") == 1,
      s"expected exactly one exchange between the two stages:\n$p")
  }

  test("skip-gram pairs: context expansion is an EQUI-join on (doc_id, " +
    "position) with a partial aggregate before the count shuffle — " +
    "never a nested-loop band join (the long-document L2 guard)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "b c d")).toDF("doc_id", "text")
    val p = physical(graft.operators.TextAnalysis.skipGramPairs(docs, 2))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"skip-gram degenerated to a non-equi join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected an equi-join:\n$p")
    assert(p.contains("partial_count") || countOccurrences(p, "HashAggregate") >= 2,
      s"expected map-side partial count before the pair shuffle:\n$p")
  }

  test("phrase candidates: bigram derivation and both unigram-count " +
    "lookups are equi-joins; the scalar N is broadcast") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "a b")).toDF("doc_id", "text")
    val p = physical(graft.operators.TextAnalysis.phraseCandidates(docs, 1L))
    assert(!p.contains("CartesianProduct"),
      s"phrase scoring grew a cartesian product:\n$p")
    // the only nested-loop allowed is the 1-row broadcast of N
    assert(countOccurrences(p, "BroadcastNestedLoopJoin") <= 1,
      s"unexpected nested-loop beyond the 1-row N broadcast:\n$p")
  }

  test("FrameSink write path: ONE hash exchange on fileHour and a " +
    "partition-local (non-global) sort — each hour file is written by " +
    "exactly one task, no global ordering barrier") {
    import spark.implicits._
    val rows = Seq(("2025-07-01-10", 1L, "x"), ("2025-07-01-11", 2L, "y"))
      .toDF("fileHour", "lineNo", "value")
    val p = physical(graft.streaming.FrameSink.shaped(rows))
    assert(countOccurrences(p, "Exchange") == 1,
      s"expected exactly one exchange (hour repartition):\n$p")
    assert(p.contains("hashpartitioning(fileHour"),
      s"expected hash partitioning on fileHour:\n$p")
    assert(p.contains("Sort [") && !p.contains("rangepartitioning"),
      s"expected a partition-local sort, no global sort barrier:\n$p")
  }
}
