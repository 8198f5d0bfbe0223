package graft

/** Golden-plan assertions (SURVEY.md §5: golden explain checks) — the
  * physical plans the engine is designed around must actually appear:
  * scan pushdown, broadcast star joins, window-group-limit for TopN,
  * partial aggregation. A regression here is a scale regression even
  * when results stay correct.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    Registry.byName(name).run(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q_image_resize: one scan, no KEY shuffle (round-robin fan-out allowed)") {
    // r14: the query carries Q.fanOut — a round-robin redistribution
    // that fires only when scan parallelism is below the core count
    // (the bench's single-small-file shape) and is a no-op on any real
    // multi-file table. The scale contract stays: payload rows are
    // never KEY-shuffled (no hashpartitioning/rangepartitioning), the
    // decode remains a pure projection, and the corpus is scanned once.
    val p = plan("q_image_resize")
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"decode payloads must never key-shuffle:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1, "one documents scan")
  }

  test("decode/meta queries are single-scan zero-shuffle projections") {
    Seq("q_image_decode", "q_audio_decode",
      "q_video_meta", "q_image_meta", "q_media_quality",
      // round-11 decode family: JPEG, PNG-advanced, EXIF, wide PCM,
      // GIF/MJPEG frame sampling, audio/image metadata, TIFF
      "q_jpeg_decode", "q_png_advanced", "q_exif_orientation",
      "q_exif_webp",
      "q_audio_decode_wide", "q_gif_frames", "q_video_frames",
      "q_audio_meta", "q_image_meta_ext", "q_tiff_decode",
      "q_audio_g711", "q_audio_ima", "q_audio_ms", "q_audio_containers",
      "q_audio_flac", "q_audio_ogg_meta", "q_tiff_predictor",
      "q_bmp_palette", "q_pnm_decode", "q_tga_decode",
      "q_webp_decode", "q_webp_lossy", "q_webp_alpha", "q_webp_anim",
      "q_video_frames_webm",
      "q_video_frames_mp4",
      "q_video_frames_mkv", "q_decompress_text",
      "q_warc_records", "q_http_response",
      "q_robots_check", "q_crawl_ingest_e2e",
      "q_crawl_chunked_gzip",
      "q_video_meta_mkv", "q_video_meta_webp").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"),
        s"$q must be a pure map-side projection, got:\n$p")
      assert("Scan parquet".r.findAllIn(p).size == 1, s"$q: one documents scan")
    }
  }

  test("q_crawl_robots_join broadcasts the robots side; pages never shuffle") {
    val p = plan("q_crawl_robots_join")
    assert(p.contains("BroadcastHashJoin"), s"robots join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the page corpus must not shuffle for a per-site rules join")
  }

  test("q_scan_pushdown pushes filters and prunes columns at the scan") {
    val p = plan("q_scan_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(p_size), IsNotNull(p_brand)")
      || p.contains("GreaterThanOrEqual(p_size,40)"))
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string"))
  }

  test("q1_agg pushes the date filter and plans partial aggregation") {
    val p = plan("q1_agg")
    assert(p.contains("LessThanOrEqual(l_shipdate"))
    assert(p.contains("HashAggregate"))
    // partial + final pair
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q_join_multi is a broadcast star join (no fact-side shuffle joins)") {
    val p = plan("q_join_multi")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 5)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_rank_topn gets a partial top-k (WindowGroupLimit) before the shuffle") {
    val p = plan("q_rank_topn")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q_sort_limit plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_sort_limit")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_join_nonequi plans BroadcastNestedLoopJoin") {
    assert(plan("q_join_nonequi").contains("BroadcastNestedLoopJoin"))
  }

  test("q_bm25 scores without a broadcast join: corpus stats are driver scalars") {
    val p = plan("q_bm25")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("BroadcastExchange"),
      s"corpus stats must not be joined back into the scoring plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k:\n$p")
  }

  test("q_join_semi and q_join_anti plan semi/anti joins") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("split_index participates in whole-stage codegen") {
    graft.functions.register(spark)
    val df = spark.range(10).selectExpr("split_index(cast(id as string), '1', 0) s")
    // "*(n)" marks operators inside a WholeStageCodegen stage
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project [split_index"))
  }

  test("q_ann_ivf has no exchange keyed on the embedding vector") {
    val lines = plan("q_ann_ivf").linesIterator.toSeq
    val shuffleLines = lines.filter(_.contains("Exchange hashpartitioning"))
    assert(shuffleLines.forall(l => !l.contains("embedding")),
      s"shuffle keyed on the vector column:\n${shuffleLines.mkString("\n")}")
  }

  test("q_embed_neardup_lsh dedup exchange carries no vector payloads") {
    val lines = plan("q_embed_neardup_lsh").linesIterator.toSeq
    val shuffleLines = lines.filter(_.contains("Exchange hashpartitioning"))
    assert(shuffleLines.nonEmpty)
    assert(shuffleLines.forall(l =>
      !l.contains("embedding") && !l.contains("__va") && !l.contains("__vb")),
      s"vector column crosses an exchange:\n${shuffleLines.mkString("\n")}")
  }

  test("q_cdc_agg plans partial aggregation at both levels") {
    val p = plan("q_cdc_agg")
    // two groupBys, each with partial+final HashAggregate
    assert("HashAggregate".r.findAllIn(p).size >= 4)
  }

  test("q_format_avro decode stays scan-side (single aggregation exchange)") {
    val p = plan("q_format_avro")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 1, s"avro roundtrip added shuffles: $n")
  }

  test("q_chunk is one scan pass with zero exchanges") {
    val p = plan("q_chunk")
    assert(!p.contains("Exchange"), s"chunker shuffled:\n$p")
    assert(p.contains("Generate explode"), "chunking must be a generator")
  }

  test("q_clean_text has zero exchanges and nfc stays in codegen") {
    val p = plan("q_clean_text")
    assert(!p.contains("Exchange"))
    // nfc_normalize has real codegen — the projection around it must be
    // inside a WholeStageCodegen span ("*(n)" prefix)
    assert(p.linesIterator.exists(l =>
      l.contains("Project") && l.trim.startsWith("*")))
  }

  test("q_ann_pq: corpus never shuffles with vectors or codes as the key") {
    val lines = plan("q_ann_pq").linesIterator.toSeq
    val shuffleLines = lines.filter(_.contains("Exchange hashpartitioning"))
    // the only hash exchanges are the per-query top-k windows (keyed on
    // qid) and the tiny re-rank joins — never on embedding or __codes
    assert(shuffleLines.forall(l =>
      !l.contains("embedding") && !l.contains("__codes")),
      s"PQ shuffled payloads:\n${shuffleLines.mkString("\n")}")
  }

  test("q_ann_ivfpq: index side joins broadcast probes, no corpus shuffle") {
    val lines = plan("q_ann_ivfpq").linesIterator.toSeq
    val shuffleLines = lines.filter(_.contains("Exchange hashpartitioning"))
    assert(shuffleLines.forall(l =>
      !l.contains("embedding") && !l.contains("__codes")),
      s"IVF-PQ shuffled payloads:\n${shuffleLines.mkString("\n")}")
    assert(plan("q_ann_ivfpq").contains("BroadcastHashJoin"),
      "probe join must broadcast the query side")
  }

  test("q_tfidf_retrieval: idf join broadcasts, top-k gets WindowGroupLimit") {
    val p = plan("q_tfidf_retrieval")
    // the dim-row idf table and the per-query norms must broadcast;
    // the rank filter must plan the map-side partial top-k
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_contamination_matrix: the per-source size joins broadcast") {
    val p = plan("q_contamination_matrix")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // the gram self-join key is the 60-bit hash, never the gram string
    val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.forall(l => !l.contains("g#")),
      s"gram strings shuffled:\n${shuffles.mkString("\n")}")
  }

  test("q_cluster_cap: the per-cluster cap plans WindowGroupLimit") {
    assert(plan("q_cluster_cap").contains("WindowGroupLimit"))
  }

  test("q_tpcds_s1: per-nation average joins as a broadcast, not a shuffle") {
    assert(plan("q_tpcds_s1").contains("BroadcastHashJoin"))
  }

  test("q_tpcds_s18: dims broadcast under the rollup (no dim-side SMJ)") {
    val p = plan("q_tpcds_s18")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Expand"), "rollup must plan Expand")
  }

  test("q_tpcds_s88: band counts are ONE scan, not eight") {
    val p = plan("q_tpcds_s88")
    // decorrelated form: a single aggregate over a single lineitem scan
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }

  private def windowExecs(name: String) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val root = Registry.byName(name).run(spark, sfDir)
      .queryExecution.executedPlan
    flatten(root).collect { case w: WindowExec => w }
  }

  test("q_corpus_datasheet: exact deciles plan no single-partition window") {
    val wins = windowExecs("q_corpus_datasheet")
    assert(wins.nonEmpty, "expected the per-partition rank window")
    // every window is partitioned (by __pid) — a partition-less spec is
    // the single-task global window this query must never plan again
    assert(wins.forall(_.partitionSpec.nonEmpty),
      wins.map(_.toString).mkString("\n"))
  }

  test("q_tpcds_s67: rank-within-rollup gets WindowGroupLimit over Expand, all windows partitioned") {
    val p = plan("q_tpcds_s67")
    assert(p.contains("Expand"), "rollup must plan Expand")
    assert(p.contains("WindowGroupLimit"),
      "rk <= 10 must push a partial top-k below the rank window")
    val wins = windowExecs("q_tpcds_s67")
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "the hierarchy rank must partition by p_type, never a global sort")
  }

  test("q_tpcds_s47/s57: moving-average windows are all partitioned by the hierarchy") {
    Seq("q_tpcds_s47", "q_tpcds_s57").foreach { q =>
      val wins = windowExecs(q)
      assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
        s"$q: lag/lead and yearly-average windows must partition by brand")
    }
  }

  test("q_tpcds_s49: dual rank windows partition by channel") {
    val wins = windowExecs("q_tpcds_s49")
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty))
  }

  test("q_tpcds_s70: only the 5-row region pre-filter rank is unpartitioned") {
    val wins = windowExecs("q_tpcds_s70")
    // the rollup hierarchy rank MUST be partitioned; the one permitted
    // unpartitioned window is the constant-cardinality (|region| = 5)
    // top-regions pre-filter, which never grows with SF
    assert(wins.count(_.partitionSpec.isEmpty) <= 1,
      wins.map(_.toString).mkString("\n"))
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "the rank-within-parent window must partition on the hierarchy")
  }

  test("q_tpcds_s9: the 15-subquery report is ONE scan + one aggregate") {
    val p = plan("q_tpcds_s9")
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert("Exchange".r.findAllIn(p).size == 1,
      "a single partial/final aggregate pair, no per-band scans")
  }

  test("q_tpcds_s28: six bucket subqueries fold into ONE scan") {
    val p = plan("q_tpcds_s28")
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }

  test("q_tpcds_s5: sales/returns report is ONE fact scan with conditional measures") {
    val p = plan("q_tpcds_s5")
    // lineitem + orders + customer + nation, each scanned exactly once —
    // the former sales/returns unionByName duplicated the whole 3-way
    // join subtree (2× the join work at any scale)
    assert("Scan parquet".r.findAllIn(p).size == 4, p)
    assert(!p.contains("Union"), "s5 must not union two fact passes")
  }

  test("q_tpcds_s77: P&L outer-join shape is one fact scan, Expand over partials") {
    val p = plan("q_tpcds_s77")
    // one lineitem scan + the two broadcast dims — never a second
    // fact pass for the returns side
    assert("Scan parquet".r.findAllIn(p).size == 3, p)
    // the rollup Expand must sit above the (chan, nation) partial
    // aggregate, not the fact join
    val expandIdx = p.indexOf("Expand")
    val firstAggIdx = p.indexOf("HashAggregate")
    assert(expandIdx >= 0 && firstAggIdx >= 0 && firstAggIdx < expandIdx,
      "Expand must consume aggregated partials")
  }

  test("q_tpcds_s21/s58/s64/s75: consecutive-period compare is lag/conditional-agg, one fact scan") {
    Seq("q_tpcds_s21", "q_tpcds_s58", "q_tpcds_s64", "q_tpcds_s75")
      .foreach { q =>
        val facts = "Scan parquet".r.findAllIn(plan(q)).size
        // s21/s58/s64 read lineitem once (+joined dims for s58/s75);
        // none may instantiate the fact twice for a self-join
        assert(facts <= 3, s"$q plans $facts scans")
        val wins = windowExecs(q)
        assert(wins.forall(_.partitionSpec.nonEmpty),
          s"$q: every lag window must be partitioned")
      }
  }

  test("q_tpcds_s45: OR'd IN-subquery decorrelates to a broadcast left join") {
    val p = plan("q_tpcds_s45")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"), p)
  }

  test("q_pref_pairs: argmax/argmin pairing is one aggregation, zero rank windows") {
    val p = plan("q_pref_pairs")
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(windowExecs("q_pref_pairs").isEmpty,
      "chosen/rejected must come from max/min(struct), not rank windows")
  }

  test("tpcds twins: q80/q27 roll up over partials from one fact scan") {
    // q80 (s5/s77 twin): lineitem + orders + part each scanned once,
    // sales/returns/tax from conditional measures, never a union of
    // three channel passes
    val p80 = plan("q_tpcds_q80")
    assert("Scan parquet".r.findAllIn(p80).size == 3, p80)
    assert(!p80.contains("Union"), "q80 must not union channel passes")
    // q27 (s7+s22 twin): the four-average rollup's Expand must consume
    // the (nation, brand) partial aggregate, not raw fact rows — a
    // HashAggregate must sit BELOW the Expand in the plan
    val p27 = plan("q_tpcds_q27")
    assert("Scan parquet".r.findAllIn(p27).size == 5, p27)
    val expandIdx = p27.indexOf("Expand")
    assert(expandIdx >= 0 &&
      p27.indexOf("HashAggregate", expandIdx) > expandIdx,
      "q27: Expand must sit above the fine-grain aggregate")
  }

  test("tpcds twins: every share/deviation/rank window is partitioned") {
    // q12/q20 (s98 twins): class-share windows partition by p_type;
    // q53/q63 (s89 twins): deviation windows partition by the report
    // grain; q86 (s70 twin): rank-within-parent partitions by the
    // hierarchy — none may plan a data-sized global window
    Seq("q_tpcds_q12", "q_tpcds_q20", "q_tpcds_q53", "q_tpcds_q63",
      "q_tpcds_q86").foreach { q =>
      val wins = windowExecs(q)
      assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
        s"$q: unpartitioned window\n" + wins.mkString("\n"))
    }
  }

  test("tpcds twins: q68/q79 aggregate the ticket BEFORE the dimension joins") {
    // the per-order aggregate must sit below the orders/customer joins
    // (partial-agg shrinks the shuffle; the count band prunes pre-join)
    Seq("q_tpcds_q68", "q_tpcds_q79").foreach { q =>
      val p = plan(q)
      val joinIdx = p.indexOf("Join")
      assert(joinIdx >= 0 && p.indexOf("HashAggregate", joinIdx) > joinIdx,
        s"$q: ticket aggregate must run below the dimension joins")
    }
  }

  test("q_tpcds_s2: day pivot is ONE orders scan; week self-join broadcasts") {
    val p = plan("q_tpcds_s2")
    // the weekly pivot must come from one conditional-aggregation scan
    // per join side (2 total), not one scan per day-of-week column
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_tpcds_s6: anchor + class-average subqueries broadcast, no extra shuffle joins") {
    val p = plan("q_tpcds_s6")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_tpcds_s62: the latency bucket matrix is ONE pass (single aggregate over the join)") {
    val p = plan("q_tpcds_s62")
    assert("Scan parquet".r.findAllIn(p).size == 2, p) // lineitem + orders once each
  }

  test("q_tpcds_s73: item counts aggregate BEFORE the dimension joins") {
    val p = plan("q_tpcds_s73")
    // partial+final pair on l_orderkey, and the count-band filter sits
    // under the joins (the grouped fact shrinks before joining)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("n_items"), p)
  }

  test("q_tpcds_s3: partial top-k and partial aggregation, no global sort") {
    val p = plan("q_tpcds_s3")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_tpcds_s4: the six (channel, year) totals come from ONE fact scan") {
    val p = plan("q_tpcds_s4")
    assert("Scan parquet \\[l_".r.findAllIn(p).size == 1,
      "the pivot must be conditional aggregates, not per-cell self-joins\n" + p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_tpcds_s7: four averages in one partial/final aggregate pair") {
    val p = plan("q_tpcds_s7")
    assert("Scan parquet \\[l_".r.findAllIn(p).size == 1, p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_tpcds_s15: the cross-table OR is NOT pushed into any scan") {
    val p = plan("q_tpcds_s15")
    // the price branch of the disjunction must not reach the lineitem
    // scan as a pushed filter (it would wrongly drop rows the other
    // branches admit); the quarter gate, conjunctive, MUST push
    assert(!p.contains("GreaterThan(l_extendedprice"), p)
    assert(p.contains("substring"), p) // residual disjunction above the joins
  }

  test("q_tpcds_s71: the three-channel union is ONE events scan with a pushed IN") {
    val p = plan("q_tpcds_s71")
    assert("Scan parquet \\[event_id".r.findAllIn(p).size == 1,
      "the literal UNION ALL must collapse to a single filtered scan\n" + p)
    assert(p.contains("In(event_type"), p)
    assert(p.contains("BroadcastHashJoin"), p) // capped 200-key part dim
  }

  test("q_tpcds_s84: dimension-chain lookup has zero data shuffles") {
    val p = plan("q_tpcds_s84")
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_asof_join and q_asof_join_planned shuffle the clicks once") {
    // the clicks are clustered by user_id before their pre-aggregation,
    // so that exchange also serves the as-of join: one exchange per side
    Seq("q_asof_join", "q_asof_join_planned").foreach { q =>
      val p = plan(q)
      assert("Exchange".r.findAllIn(p).size == 2, s"$q:\n$p")
      assert(p.contains("AsOfJoin"), s"$q:\n$p")
    }
  }
}
