package graft.relational

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.functions.col

/** Physical-plan audits for the scale-critical queries added after r1:
  * the claims in the module Scaladoc ("no inequality-only join", "pushed
  * to the ORC scan") are asserted here against the actual executed
  * plans, not just stated. */
class PlanAuditSuite extends SparkSessionSuite {

  private val dir = "/root/testdata/sf0.001"

  private def physicalPlan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  /** Banded/bucketed candidate generation must never degenerate into a
    * cartesian (inequality-only) join. */
  test("banded and bucketed pair queries contain no cartesian join") {
    // sim_topk_lsh joined the list in r5: the OR-amplified multi-table
    // candidates are still pure (table, bucket) equi-joins.
    // r13: the star-edge consumers (cc/rep-select/leakage) route
    // through the collapsed MinHash flow — its window + member
    // expansion joins must stay equi-joins too.
    Seq("dedup_simhash_banded", "dedup_minhash_lsh", "sim_range_search_lsh",
      "adv_range_join_bucketed", "dedup_embedding_cos_banded", "sim_topk_lsh",
      "sim_bm25", "adv_pagerank", "dedup_incremental_lsh",
      "dedup_cc_clusters", "dedup_rep_select", "pipe_leakage_split")
      .foreach { q =>
        val plan = physicalPlan(q)
        withClue(s"$q plan:\n$plan\n") {
          assert(!plan.contains("CartesianProduct"))
          assert(!plan.contains("BroadcastNestedLoopJoin"))
        }
      }
    // IVF's centroid stages are bounded broadcast crossJoins against
    // the tiny centroid table (inherent to IVF assignment) — but never
    // a corpus-by-corpus cartesian.
    val ivf = physicalPlan("sim_topk_ivf")
    withClue(s"sim_topk_ivf plan:\n$ivf\n") {
      assert(!ivf.contains("CartesianProduct"))
      assert("BroadcastNestedLoopJoin".r.findAllIn(ivf).size <= 2)
    }
  }

  /** The IVF assignment's broadcast side must be the FIXED-BUDGET
    * centroid table — the filter deriving it uses the count-derived
    * stride (ceil(n/IvfNlist)), not a constant step whose centroid
    * count would grow with the corpus (the r5 scale-killer). */
  test("IVF assignment broadcasts the fixed-budget centroid table") {
    val n = graft.Tables.embeddings(spark, dir).count()
    val stride = graft.ops.Similarity.ivfStride(n)
    // r17: the ranked-cell assignment is pinned (eager localCheckpoint)
    // inside ivfTopKDet, so the QUERY plan shows its output as an RDD
    // leaf — audit the assignment STAGE's own plan, which is what
    // executes inside the pin
    val prep = graft.ops.Similarity.prepared(graft.Tables.embeddings(spark, dir))
    val plan = graft.ops.Similarity.rankedCells(prep,
        graft.ops.Similarity.IvfNlist, graft.ops.Similarity.IvfNprobe)
      .queryExecution.executedPlan.toString
    withClue(plan) {
      assert(plan.contains("BroadcastExchange"))
      // the centroid-selection filter with the derived stride sits on
      // the broadcast (build) side of the assignment crossJoin
      assert(plan.contains(s"% $stride)"))
    }
  }

  /** Semantic dedup's pair stage must be an equi-join on the cell id
    * (quadratic only within a cell), with the centroid assignment the
    * only broadcast-nested-loop (the bounded fixed-budget crossJoin)
    * and no corpus-level cartesian anywhere. */
  test("semantic dedup pairs via cell equi-join, bounded centroid broadcast") {
    // r17: the assignment stage is pinned (eager localCheckpoint) inside
    // semanticDedup, so the QUERY plan consumes it as an RDD leaf — the
    // pair stage is audited on the query plan, the assignment's bounded
    // centroid broadcast on its own stage plan (what executes in the pin)
    val plan = physicalPlan("dedup_semantic")
    withClue(plan) {
      assert(!plan.contains("CartesianProduct"))
      // post-pin, no corpus-level nested-loop join may remain anywhere
      assert(!plan.contains("BroadcastNestedLoopJoin"))
      // the pair stage joins on the cell column (hash or sort-merge)
      assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*cell".r
        .findFirstIn(plan).isDefined)
    }
    val prep = graft.ops.Similarity.prepared(graft.Tables.embeddings(spark, dir))
    val assignPlan = graft.ops.Dedup.semanticAssign(prep,
        graft.ops.Similarity.IvfNlist)
      .queryExecution.executedPlan.toString
    withClue(assignPlan) {
      assert(!assignPlan.contains("CartesianProduct"))
      // exactly the one bounded fixed-budget centroid crossJoin
      assert("BroadcastNestedLoopJoin".r.findAllIn(assignPlan).size <= 1)
      assert(assignPlan.contains("BroadcastExchange"))
    }
  }

  /** The native as-of query must plan one of the two custom operators
    * (stats pick broadcast or shuffle-merge) and never a cartesian. */
  test("as-of query plans a custom as-of operator, no cartesian") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val plan = physicalPlan("adv_asof_native")
    withClue(plan) {
      assert(plan.contains("AsOfJoin")) // either physical form
      assert(!plan.contains("CartesianProduct"))
      assert(!plan.contains("BroadcastNestedLoopJoin"))
    }
  }

  /** r11: the default skew dispatch in AsOf.join must be PLAN-NEUTRAL
    * on a corpus with no straggler-sized key — the battery as-of
    * queries (fixture max key ≈ 25 rows, far under minHotRows) must
    * plan without slice columns, exactly as before the dispatch
    * existed. Only adv_asof_skew* (which force aggressive knobs) may
    * split. */
  test("default skew dispatch leaves cold-corpus as-of plans unchanged") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("adv_asof_native", "adv_asof_tolerance", "adv_asof_fwd_native")
      .foreach { q =>
        val plan = physicalPlan(q)
        withClue(s"$q plan:\n$plan\n") {
          assert(!plan.contains("__asof_skew"),
            "dispatch must not split a cold corpus")
        }
      }
    // and the aggressive-knob query really does split on the same data
    val skew = physicalPlan("adv_asof_skew")
    withClue(s"adv_asof_skew plan:\n$skew\n") {
      assert(skew.contains("__asof_skew"))
    }
  }

  /** The ORC roundtrip's filter must reach the ORC reader as a pushed
    * predicate, exactly like parquet. */
  test("ORC scan receives the pushed filter") {
    val df = graft.SparkEntry.queries("src_orc_roundtrip")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) {
      assert(plan.contains("PushedFilters: [IsNotNull(c_nationkey), " +
        "LessThan(c_nationkey,10)]"))
    }
  }

  /** Spark 4's WindowGroupLimit must kick in for rank-filter top-k
    * queries: the `row_number() <= k` filter is pushed below the window
    * as a per-partition partial top-k, so no task ever fully sorts its
    * whole group — the difference between "sort 100 TB per key" and
    * "keep k rows per key" at scale. Pinned so a future query rewrite
    * that breaks the pushdown (e.g. a non-rank predicate shape) is
    * caught here and not in a 100× slower production run. */
  test("top-k rank filters are pushed down as WindowGroupLimit") {
    Seq("sim_topk_brute", "sim_topk_lsh", "adv_group_topk").foreach { q =>
      val plan = physicalPlan(q)
      withClue(s"$q plan:\n$plan\n") {
        assert(plan.contains("WindowGroupLimit"))
      }
    }
    // and the GLOBAL top-k never materializes a window at all — it
    // compiles straight to the per-partition-heap TakeOrderedAndProject
    val plan = physicalPlan("q8_topk_orders")
    withClue(plan) { assert(plan.contains("TakeOrderedAndProject")) }
  }

  /** The hybrid retrieval's channels must be their scale shapes (r3's
    * brute-force vector channel was a full corpus×corpus inequality
    * join): no CartesianProduct anywhere, and the only nested-loop
    * joins are broadcast cross-joins against the tiny centroid table
    * (inherent to IVF assignment — every vector scores ncent centroids
    * from a broadcast, never corpus×corpus). */
  test("hybrid RRF channels are inverted-index + IVF, not brute force") {
    val plan = physicalPlan("sim_hybrid_rrf")
    withClue(plan) {
      assert(!plan.contains("CartesianProduct"))
      // centroid assignment + query probing — bounded, small-side crossJoins
      assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 2)
    }
  }

  /** The exact range search must run the distributed grid-block kernel:
    * no driver-side collect limit, no nested-loop join — the block-pair
    * relation joins as a broadcast hash join on the block id. */
  test("exact range search plan is the grid-block equi-join") {
    val plan = physicalPlan("sim_range_search")
    withClue(plan) {
      assert(!plan.contains("CartesianProduct"))
      assert(plan.contains("BroadcastHashJoin"))
    }
  }

  /** Shuffle-count ceilings for headline plans — a regression here means
    * a rewrite introduced an extra full-data exchange (the unit of cost
    * at 100 TB). Bounds are ceilings, not exact counts, so AQE/planner
    * improvements can only lower them. */
  test("headline queries stay within their shuffle budgets") {
    def hashExchanges(q: String): Int =
      "Exchange hashpartitioning".r.findAllIn(physicalPlan(q)).size
    // scan → partial agg → ONE exchange → final agg (+ sort exchange)
    assert(hashExchanges("q1_pricing_summary") <= 1)
    // star join: every dim broadcast, never sort-merge
    val star = physicalPlan("q17_star_join")
    withClue(star) { assert(!star.contains("SortMergeJoin")) }
    // chunked range join: one exchange per side of the equi-join + agg
    assert(hashExchanges("adv_range_join_bucketed") <= 4)
  }

  /** The bloom decontamination's corpus side must carry the
    * might_contain pre-filter BELOW the exact verify join — the whole
    * point is that non-contaminated shingles die in a map-side bitset
    * test before any join sees them. */
  test("bloom decontamination pre-filters with might_contain below the join") {
    val plan = physicalPlan("pipe_decontaminate_bloom")
    withClue(plan) {
      assert(plan.contains("might_contain"))
      // the filter sits in the scan-side stage, not above the join:
      // everything after the join groups/aggregates only
      val joinIdx = plan.indexOf("Join")
      val filterIdx = plan.indexOf("might_contain")
      assert(joinIdx >= 0 && filterIdx > joinIdx,
        "might_contain must appear below (after, in toString order) the join")
    }
  }

  /** The salted join must actually join on the salt column (the skew
    * split is real, not optimized away) and stay equi-join shaped. */
  test("salted join keeps the salt in the join key, no cartesian") {
    val plan = physicalPlan("adv_salted_join")
    withClue(plan) {
      assert(plan.contains("fsalt"))
      assert(plan.contains("dsalt"))
      assert(!plan.contains("CartesianProduct"))
    }
  }

  /** PQ assignment: codebook is a bounded broadcast; the only wide
    * operation after assignment is the per-vector regroup. */
  test("pq encode broadcasts the codebook, one regroup exchange") {
    val plan = physicalPlan("sim_pq_encode")
    withClue(plan) {
      assert(plan.contains("BroadcastExchange"))
      assert(!plan.contains("CartesianProduct"))
    }
  }

  /** The hashed linear classifier must be ONE map-side projection: no
    * join, no aggregation, and no exchange other than the final
    * presentation sort — the whole feature → bucket → weight-sum path
    * lives in array expressions inside whole-stage codegen. */
  test("domain classifier is map-side: only the presentation-sort exchange") {
    val df = graft.SparkEntry.queries("ta_domain_classify")(spark, dir)
    df.collect() // AQE marks codegen stages (*N) only in the final plan
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    withClue(plan) {
      assert(!plan.contains("Join"))
      assert(!plan.contains("HashAggregate"))
      assert("Exchange".r.findAllIn(plan).size <= 1) // the ORDER BY only
      assert(plan.contains("*(")) // codegen'd stages survive
    }
  }

  /** r7 additions: every candidate/duplicate stage stays a keyed
    * equi-join — substring span dedup, the perceptual-hash bands, and
    * the SQ8 scan must never plan a cartesian. */
  test("r7 ops: substring/phash/sq8/token-budget plans stay equi-join") {
    Seq("dedup_substring", "pipe_token_budget")
      .foreach { q =>
        val plan = physicalPlan(q)
        withClue(s"$q plan:\n$plan\n") {
          assert(!plan.contains("CartesianProduct"))
          assert(!plan.contains("BroadcastNestedLoopJoin"))
        }
        graft.InternalCaches.releaseAll()
      }
    // mm_phash_dedup routes through the r12 Hamming dispatch: at the
    // audit fixture its unique-signature count is tiny, so the auto
    // route legitimately picks the brute kernel (a bounded
    // BroadcastNestedLoopJoin over UNIQUES — never a corpus cartesian).
    // The PRODUCTION (banded) shape is pinned through the route
    // argument; both shapes must stay cartesian-free.
    Seq("mm_phash_dedup" -> graft.ops.Multimodal.phashDedupPairs _,
        "mm_fuzzy_dedup" -> graft.ops.Multimodal.fuzzyDedupPairs _)
      .foreach { case (q, pairs) =>
        val banded = pairs(spark, dir, Some(false))
          .queryExecution.executedPlan.toString
        withClue(s"$q banded plan:\n$banded\n") {
          assert(!banded.contains("CartesianProduct"))
          assert(!banded.contains("BroadcastNestedLoopJoin"))
        }
        graft.InternalCaches.releaseAll()
      }
    val bruteP = physicalPlan("mm_phash_dedup")
    withClue(s"mm_phash_dedup brute plan:\n$bruteP\n") {
      assert(!bruteP.contains("CartesianProduct"))
    }
    graft.InternalCaches.releaseAll()
    // SQ8: the range-stats and query tables ride broadcasts (two
    // BroadcastExchanges); the corpus side never shuffles for the scan.
    val sq8 = physicalPlan("sim_sq8_topk")
    withClue(s"sim_sq8_topk plan:\n$sq8\n") {
      assert(!sq8.contains("CartesianProduct"))
      assert("BroadcastExchange".r.findAllIn(sq8).size >= 2)
    }
    graft.InternalCaches.releaseAll()
  }

  /** The perceptual-hash signature computes map-side: up to the bands
    * posexplode there is no exchange at all — the only shuffles in the
    * whole plan are the candidate-join and Hamming-verify stages. */
  test("phash signatures are map-side; bounded shuffle count") {
    // audit the PRODUCTION (banded) route; the r12 collapse adds the
    // signature-group window + expansion joins, so the bound moved from
    // 8 (pre-collapse) to 12 — still a fixed constant, never O(corpus)
    val plan = graft.ops.Multimodal.phashDedupPairs(spark, dir, Some(false))
      .queryExecution.executedPlan.toString
    withClue(plan) {
      // media scan → signature is join-free until the collapse
      // window. Count DISTINCT exchanges: the persisted signature-
      // group map renders its cached subtree (and its one exchange)
      // once per reference in the plan STRING, but executes once.
      val distinctExchanges =
        "Exchange [a-z]+\\w*(\\([^,)]*|)".r.findAllIn(plan).toSet
      assert(distinctExchanges.size <= 6, s"exchanges: $distinctExchanges")
      assert(!plan.contains("CartesianProduct"))
    }
    graft.InternalCaches.releaseAll()
  }

  /** r9: the forward/nearest as-of family keeps the backward form's
    * scale shape — the native forward runs on the custom operator (no
    * cartesian, no window state), and the window compositions do their
    * work in ONE hash exchange on the key (the extra exchanges are the
    * presentation sort and AQE reads, never a second data shuffle). */
  test("forward/nearest as-of plans: custom exec for native, one data shuffle for compositions") {
    val fwdNative = physicalPlan("adv_asof_fwd_native")
    withClue(s"adv_asof_fwd_native plan:\n$fwdNative\n") {
      assert(fwdNative.contains("AsOfJoin"))
      assert(!fwdNative.contains("CartesianProduct"))
      assert(!fwdNative.contains("BroadcastNestedLoopJoin"))
    }
    Seq("adv_asof_forward", "adv_asof_nearest").foreach { q =>
      val plan = physicalPlan(q)
      withClue(s"$q plan:\n$plan\n") {
        assert(!plan.contains("CartesianProduct"))
        // one hashpartitioning exchange (the user_id window shuffle);
        // rangepartitioning (ORDER BY) and AQE shuffle reads ride on top
        assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
          "composition should shuffle the data exactly once")
      }
    }
  }

  /** r9: the scan-level event-time normalization (a `withColumn` over
    * `ts`) must stay transparent to Catalyst — a query that never
    * touches `ts` still prunes it out of the parquet ReadSchema, and
    * filters on other columns still push down past the projection. */
  test("event-time normalization does not defeat pruning or pushdown on events") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val df = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toSeq
    withClue(s"plan:\n$plan\n") {
      readSchemas should not be empty
      // ts pruned from the scan despite the normalization projection
      readSchemas.foreach(rs => assert(!rs.contains("ts:"), rs))
      assert(plan.contains("PushedFilters: [IsNotNull(event_type), " +
        "EqualTo(event_type,click)]"))
    }
  }

  /** The bucketed as-of layout must make the join subtree literally
    * movement-free: the bucketed+sorted scans satisfy the exec's
    * distribution AND ordering requirements, so EnsureRequirements
    * inserts NO exchange and NO sort anywhere below the join — the
    * scan partitioning/ordering flows straight into the merge. */
  test("bucketed as-of join subtree has zero exchanges and zero sorts") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = AdvancedQueries.asOfBucketedJoined(spark, dir)
    val plan = df.queryExecution.executedPlan
    val rendered = plan.toString
    withClue(s"plan:\n$rendered\n") {
      assert(rendered.contains("AsOfJoin"))
      assert(plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.isEmpty, "expected no Exchange in the bucketed as-of subtree")
      assert(plan.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }.isEmpty, "expected no Sort in the bucketed as-of subtree")
      assert(rendered.contains("SelectedBucketsCount"),
        "expected bucketed scans")
    }
    // and the layout changes the plan, never the answer: bit-identical
    // to the shuffle-form native as-of on the same fixture
    val base = graft.SparkEntry.queries("adv_asof_native")(spark, dir)
      .collect().map(_.toString).sorted
    val bucketed = df.orderBy(col("error_id"))
      .collect().map(_.toString).sorted
    assert(bucketed.sameElements(base))
  }

  /** The r11 training-data operators keep their scale claims in the
    * physical plan: packing's only single-partition window runs over
    * the BUCKET TOTALS (one SinglePartition exchange, corpus windows
    * partitioned by bucket), k-means' centroid side is a broadcast
    * (never a shuffled or cartesian corpus×centroid join), and the
    * leakage split's candidate generation stays equi-join. */
  test("r11 ops: packing window scoping, k-means broadcast, no cartesian") {
    val pack = physicalPlan("pipe_pack_sequences")
    withClue(s"pipe_pack_sequences plan:\n$pack\n") {
      assert(!pack.contains("CartesianProduct"))
      // offsets relation reaches the corpus via broadcast, not shuffle
      assert(pack.contains("BroadcastHashJoin") ||
        pack.contains("BroadcastExchange"))
      // exactly one single-partition exchange — the bucket-total
      // cumulative window, metadata-sized at any corpus
      assert("Exchange SinglePartition".r.findAllIn(pack).size <= 1)
    }
    Seq("sim_kmeans", "sim_topk_ivf_km").foreach { q =>
      val plan = physicalPlan(q)
      withClue(s"$q plan:\n$plan\n") {
        assert(!plan.contains("CartesianProduct"))
        // fixed-budget centroid tables ride a broadcast side
        assert(plan.contains("BroadcastNestedLoopJoin") ||
          plan.contains("BroadcastExchange"))
      }
    }
    val split = physicalPlan("pipe_leakage_split")
    withClue(s"pipe_leakage_split plan:\n$split\n") {
      assert(!split.contains("CartesianProduct"))
    }
  }
}
