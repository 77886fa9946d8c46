package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-5 pipeline operators: LM surprisal scoring (q118), hard-negative
  * mining (q119), cluster-aware split (q120), ORC roundtrip (q121),
  * sliding-window streaming (q122). Each test pins the semantic invariant
  * the DuckDB oracle cannot see from hash equality alone.
  */
class PipelineOpsSpec extends SparkSpec {

  test("q118: surprisal bounds — 0 < mean <= ln(T) nanounits, token totals conserved") {
    val rows = TextAnalysis.queries("q118_lm_surprisal")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val corpusTokens = graft.Tables.t(spark, sf0001, "documents")
      .select(sum(size(split(col("text"), " ")).cast("long")))
      .head.getLong(0)
    // the per-doc token counts must partition the corpus token stream
    assert(rows.map(_.getLong(1)).sum == corpusTokens)
    // a singleton token's surprisal is ln(T/1) — the per-token max — so
    // every doc mean sits in (0, ln(T)]; and the reported mean must BE the
    // integer division of the reported sum (the column is derived, never
    // independently computed)
    val maxNano = math.round(math.log(corpusTokens.toDouble) * 1e9)
    rows.foreach { r =>
      val (n, sumN, meanN) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(meanN > 0 && meanN <= maxNano, s"doc ${r.getLong(0)} mean $meanN")
      assert(meanN == sumN / n)
    }
  }

  test("q119: hard negatives never share the anchor's label and rank by cosine") {
    val rows = Similarity.queries("q119_hard_negatives")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, anchor) =>
      assert(anchor.length <= 5)
      // one anchor label, all negatives differ from it
      assert(anchor.map(_.getLong(1)).distinct.length == 1)
      anchor.foreach(r => assert(r.getLong(3) != r.getLong(1)))
      // cos6 non-increasing in rank
      val byRank = anchor.sortBy(_.getLong(5)).map(_.getDouble(4))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q120: the split never separates a near-dup pair (zero leakage)") {
    val split = Dedup.queries("q120_cluster_split")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val pairs = Dedup.queries("q63_minhash_lsh")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus must contain near-dup pairs for the test to bind")
    pairs.foreach { case (i, j) =>
      assert(split(i) == split(j), s"near-dup pair ($i,$j) crosses the split")
    }
    // both sides populated at the 25% cutoff on this corpus
    assert(split.values.toSet == Set("train", "eval"))
  }

  test("q121: ORC roundtrip preserves every row and the scan pushes filters") {
    val dir = graft.sources.OrcStage.stage(spark, sf0001)
    val orc = graft.sources.OrcStage.readOrc(spark, dir)
    val n = graft.Tables.t(spark, sf0001, "documents").count()
    assert(orc.count() == n)
    // predicate pushdown reaches the ORC scan exactly as it does parquet
    val plan = orc.filter(col("n_chars") > 500).select(col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_chars"),
      s"ORC scan did not push the filter:\n$plan")
  }

  test("q123: quartile bins partition the corpus and certify the approx cutoffs") {
    val rows = TextAnalysis.queries("q123_curriculum_bins")(spark, sf0001).collect()
    val n = graft.Tables.t(spark, sf0001, "documents").count()
    assert(rows.map(_.getLong(1)).sum == n)
    assert(rows.map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L))
    // qn ranges are disjoint and ordered across bins
    val ordered = rows.sortBy(_.getLong(0))
    ordered.zip(ordered.tail).foreach { case (lo, hi) =>
      assert(lo.getLong(3) <= hi.getLong(2), "bin qn ranges out of order")
    }
    assert(rows.forall(_.getBoolean(5)), "approx cutoffs outside 1% of exact")
  }

  test("q124: the shuffle_hash hint actually executes a ShuffledHashJoin") {
    val df = Relational.queries("q124_join_shufflehash")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"expected SHJ in plan:\n$plan")
    assert(df.collect().nonEmpty)
  }

  test("q139: sharded HLL union is within tolerance AND agrees with the unsharded sketch") {
    val rows = Relational.queries("q139_hll_sketch_shards")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(2)), "sharded union estimate outside 5% of exact")
    // merge correctness: unioning per-shard sketches must reproduce the
    // single global sketch's estimate (HLL union = per-register max, so
    // disjoint-shard union converges to the same register state)
    val ev = graft.Tables.events(spark, sf0001)
    val global = ev.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("g"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sharded = ev
      .groupBy(col("event_type"), pmod(col("user_id"), lit(8)).as("shard"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sharded == global,
      s"shard-union diverged from global sketch: $sharded vs $global")
  }

  test("q140: integer-moment slope/intercept agree with Spark's float regr_*") {
    val got = Relational.queries("q140_regr_stats")(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(2) / 1e9, r.getLong(3) / 1e9))).toMap
    val ref = graft.Tables.t(spark, sf0001, "lineitem")
      .selectExpr("l_returnflag", "CAST(l_quantity AS DOUBLE) AS x",
        "round(l_extendedprice*100) AS y")
      .groupBy(col("l_returnflag"))
      .agg(expr("regr_slope(y, x)").as("m"), expr("regr_intercept(y, x)").as("b"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (k, (m, b)) =>
      val (rm, rb) = ref(k)
      assert(math.abs(m - rm) <= 1e-3 * math.max(1.0, math.abs(rm)),
        s"$k slope $m vs regr_slope $rm")
      assert(math.abs(b - rb) <= 1e-3 * math.max(1.0, math.abs(rb)),
        s"$k intercept $b vs regr_intercept $rb")
    }
  }

  test("q122: sliding 1h/30min windows cover each event exactly twice") {
    val slid = Streaming_q122Helper.run(spark, sf0001)
    val events = graft.Tables.events(spark, sf0001).count()
    assert(slid.agg(sum(col("n"))).head.getLong(0) == 2 * events)
    // window starts land on 30-minute boundaries
    val starts = slid.select(col("window_start")).collect()
      .map(_.getTimestamp(0).getTime)
    assert(starts.forall(_ % (30L * 60 * 1000) == 0))
  }

  test("q153: BM25 candidates come from postings; idf orders rare above common") {
    val rows = TextAnalysis.queries("q153_bm25")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // ≤10 per query, ranks contiguous from 1, scores positive and
    // non-increasing within a query
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getLong(3))
      assert(sorted.length <= 10)
      assert(sorted.map(_.getLong(3)).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.forall(_.getLong(2) > 0), s"query $q non-positive score")
      assert(sorted.map(_.getLong(2)).toSeq ==
        sorted.map(_.getLong(2)).sortBy(-_).toSeq)
    }
    // every returned doc CONTAINS at least one term of its query (the
    // posting-join guarantee: a doc with no query term can never surface)
    val terms = Map(
      0L -> Seq("spark", "join", "fast"),
      1L -> Seq("customer", "order", "line"),
      2L -> Seq("vector", "window"))
    val texts = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val toks = texts(r.getLong(1)).split(" ").toSet
      assert(terms(r.getLong(0)).exists(toks.contains),
        s"doc ${r.getLong(1)} has no term of query ${r.getLong(0)}")
    }
  }

  test("q154: bigram totals partition transitions; mean is the integer division") {
    val rows = TextAnalysis.queries("q154_bigram_lm")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // Σ n_bigrams over docs == Σ (len-1) over docs with ≥2 tokens
    val expected = graft.Tables.t(spark, sf0001, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .filter(col("n") >= 2).agg(sum(col("n") - 1)).head.getLong(0)
    assert(rows.map(_.getLong(1)).sum == expected)
    rows.foreach { r =>
      val (n, s, m) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n > 0 && s > 0 && m == s / n)
    }
    // order sensitivity — the whole point vs q118: a doc of common words
    // in rare order must outscore the same bag in corpus-typical order.
    // Proxy check: per-doc means are not all equal (the corpus is random
    // word soup, so transition surprisals genuinely vary)
    assert(rows.map(_.getLong(3)).distinct.length > 1)
  }

  test("q163: planted violations are counted rule-exactly; one scan feeds all rules") {
    import spark.implicits._
    // engineered corpus: 4 clean rows + one violation per rule (the dup
    // id row is itself clean on every other rule)
    val ts0 = java.sql.Timestamp.valueOf("2024-01-10 12:00:00")
    val bad = java.sql.Timestamp.valueOf("2025-06-01 00:00:00")
    val rows = Seq(
      (0L, ts0, 5L, "click", 10.0, """{"k": 1}"""),
      (1L, ts0, 6L, "view", 20.0, """{"k": 2}"""),
      (2L, ts0, 7L, "purchase", 30.0, """{"k": 3}"""),
      (3L, ts0, 8L, "signup", 40.0, """{"k": 4}"""),
      (3L, ts0, 9L, "error", 50.0, """{"k": 5}"""), // dup event_id
      (4L, bad, 10L, "click", 60.0, """{"k": 6}"""), // ts out of range
      (5L, ts0, -2L, "click", 70.0, """{"k": 7}"""), // negative user
      (6L, ts0, 11L, "hover", 80.0, """{"k": 8}"""), // type out of domain
      (7L, ts0, 12L, "click", -1.0, """{"k": 9}"""), // value out of range
      (8L, ts0, 13L, "click", 90.0, """{"nope": 1}""")) // props missing k
    val dir = tempDir("q163dq").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.queries("q163_data_quality")(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val n = rows.length.toLong
    val expect = Map(
      "event_id_not_null" -> ((n, 0L, true)),
      "event_id_unique" -> ((n, 1L, false)),
      "event_type_in_domain" -> ((n, 1L, false)),
      "props_k_present" -> ((n, 1L, false)),
      "ts_in_range" -> ((n, 1L, false)),
      "user_id_nonnegative" -> ((n, 1L, false)),
      "value_in_range" -> ((n, 1L, false)))
    assert(got == expect, s"got $got")
    // all rules ride one aggregate over one scan
    val p = Relational.queries("q163_data_quality")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"rules must share one scan:\n$p")
  }

  test("q162: per-day peaks match an independent in-memory sweep") {
    val got = Relational.queries("q162_peak_concurrency")(spark, sf0001)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // independent model: sessionize sequentially per user, sweep globally
    val evs = graft.Tables.events(spark, sf0001)
      .select(col("user_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000))
    val gap = 30L * 60 * 1000 * 1000
    val deltas = evs.groupBy(_._1).values.flatMap { u =>
      val ts = u.map(_._2).sorted
      val bounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var st = ts.head; var prev = ts.head
      for (t <- ts) {
        if (t - prev > gap) { bounds += ((st, prev + gap)); st = t }
        prev = t
      }
      bounds += ((st, prev + gap))
      bounds.flatMap { case (s0, e0) => Seq((s0, 1L), (e0, -1L)) }
    }.toSeq.sortBy(x => (x._1, x._2))
    var c = 0L
    val peaks = scala.collection.mutable.Map.empty[String, Long]
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    deltas.foreach { case (t, d) =>
      c += d
      val day = fmt.format(new java.util.Date(t / 1000))
      peaks(day) = math.max(peaks.getOrElse(day, Long.MinValue), c)
    }
    assert(got == peaks.toMap, s"peaks diverge:\n got=$got\n exp=$peaks")
  }

  test("q157: bounded-state top-k ≡ q85's window rank, with no WindowExec") {
    val a = TextAnalysis.queries("q85_tfidf")(spark, sf0001).collect().toSeq
    val q = TextAnalysis.queries("q157_topk_agg")(spark, sf0001)
    assert(q.collect().toSeq == a,
      "topk_rows must reproduce the window form bit-exactly")
    // physical strategy: an O(k)-state ObjectHashAggregate, never a window
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"q157 planned a window:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"topk_rows should execute as ObjectHashAggregate:\n$plan")
  }

  test("q155: staged rollup == flat recompute; stage written once per corpus") {
    import graft.Staging
    val dir = Staging.dirFor("rollup", sf0001)
    Staging.forgetKey(dir)
    val got = Relational.queries("q155_incremental_rollup")(spark, sf0001)
    val flat = graft.Tables.events(spark, sf0001)
      .select(to_date(col("ts")).as("day"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      .orderBy("day", "event_type")
    assert(got.collect().toSeq == flat.collect().toSeq,
      "incremental merge must reproduce the flat aggregate bit-exactly")
    assert(Staging.isStaged(dir), "history rollup must be staged")
    // a second build reuses the stage (single-flight memo) and still
    // agrees; invalidation forces a rebuild path
    val again = Relational.queries("q155_incremental_rollup")(spark, sf0001)
    assert(again.collect().toSeq == flat.collect().toSeq)
    Staging.forgetKey(dir)
    assert(!Staging.isStaged(dir))
  }

  test("q265: replaying the logging policy itself matches every round " +
    "and reproduces the factual rate exactly") {
    // the replay method's defining identity: with π ≡ the logging
    // policy (same salt), every round matches, each arm's matched
    // count equals its logged count, and the counterfactual estimate
    // IS the factual one — any mismatch would mean the estimator
    // reweights or drops rounds it shouldn't
    val rows = Relational
      .banditReplayOn(graft.Tables.events(spark, sf0001), "log")
      .collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(1),
        s"arm ${r.getString(0)}: matched ${r.getLong(2)} != " +
          s"logged ${r.getLong(1)}")
      assert(r.getLong(4) == 10000L)
      assert(r.getLong(5) == r.getLong(6),
        "replay_bp must equal naive_bp when π is the logging policy")
    }
  }
}

/** Indirection keeps the spec free of streaming imports. */
private object Streaming_q122Helper {
  def run(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.streaming.Streaming.queries("q122_stream_sliding")(s, d)
}
