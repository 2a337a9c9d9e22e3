package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** The PLANS.md audit rows as ENFORCED invariants: pushdown reaches the
  * scan, dimensions broadcast, top-k avoids global sorts, candidate
  * generation never degrades to a nested loop. A regression that
  * silently changes a headline plan's shape now fails the suite instead
  * of waiting for a bench diff.
  */
class PlanShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // Plans are audited in the CLEAN cache state: whatever relations
  // earlier suites (or earlier tests here) left registered can swap
  // InMemoryTableScan leaves into the tree and hide exchanges behind
  // them, making counts depend on suite ORDER (the r17 q188 flake:
  // ≤12 exchanges with a warm registry, 14 clean). Clearing first
  // makes every pin a pure function of the builder; a query's OWN
  // persist calls still register during build, so self-cache shapes
  // (q208's per-round InMemoryTableScan) are unaffected.
  private def clean(name: String) = {
    Caches.clear(spark)
    SparkEntry.queries(name)(spark, dir)
  }

  private def plan(name: String): String =
    clean(name).queryExecution.executedPlan.toString

  private def scans(name: String): Seq[FileSourceScanExec] =
    collectWithSubqueries(clean(name)
      .queryExecution.executedPlan) { case s: FileSourceScanExec => s }

  test("q01: range predicates push into the parquet scan, projection " +
      "prunes columns") {
    val s = scans("q01_scan_filter")
      .find(_.metadata.get("Location").exists(_.contains("lineitem")))
      .get
    val pushed = s.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual") ||
      pushed.contains("GreaterThan"), pushed)
    assert(s.requiredSchema.length <= 6,
      s"projection not pruned: ${s.requiredSchema.fieldNames.toSeq}")
  }

  test("q04: both dimension joins broadcast (zero fact-side shuffles)") {
    val p = plan("q04_join3")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
    assert(!p.contains("SortMergeJoin"), "dimension join fell to SMJ")
  }

  test("q07: partial+final aggregate pair around one keyed exchange") {
    val p = plan("q07_group_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("q12: top-k is TakeOrderedAndProject, never a global sort") {
    assert(plan("q12_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("q59: TPC-H Q3 top-10 is also TakeOrderedAndProject") {
    assert(plan("q59_ship_priority").contains("TakeOrderedAndProject"))
  }

  test("q17: star dimensions broadcast around the pre-aggregation") {
    val p = plan("q17_join_agg")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("q40: existence is a semi join, not a row-multiplying inner") {
    assert(plan("q40_exists_agg").contains("LeftSemi"))
  }

  test("q20: keyed dedup is a partial+final aggregate (shuffle carries " +
      "one candidate per group per task), not a window shuffle of " +
      "every event row") {
    val p = plan("q20_dedup_keyed")
    assert(!p.contains("Window"), "q20 regressed to a window")
    assert("partial_min_by".r.findAllIn(p).size >= 1 &&
      "Aggregate".r.findAllIn(p).size >= 2, p.take(800))
    // r21: the (ts, event_id) ordering rides as ONE packed
    // Decimal(38,0) scalar so the min_by buffer stays mutable — a
    // struct ordering demotes BOTH aggregate halves to SortAggregate
    // (a full sort of every event row per side, the 100 TB spill
    // machine this spelling exists to avoid)
    assert(!p.contains("SortAggregate"),
      "q20's min_by buffer went immutable again — the aggregate " +
        "pair fell back to SortAggregate (full corpus sorts)")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("self-join candidate generation hash-distributes the relation " +
      "on its join key before the pair join " +
      "(q22/q61/q63 shingles, q23 buckets, q58 codes)") {
    // the explicit repartition makes the probe side parallel regardless
    // of the scan's split count, and at real scale (estimates past the
    // broadcast threshold) both sides co-partition and reuse the ONE
    // exchange; at toy SF the planner may legally broadcast the build
    // side on top of it
    Seq("q22_dedup_jaccard", "q61_curation", "q63_dedup_jaccard_capped",
      "q23_dedup_minhash", "q58_embed_neardup_lsh",
      "q91_dedup_jaccard_prefix").foreach { q =>
      val p = plan(q)
      assert(p.contains("REPARTITION_BY_COL"),
        s"$q lost the keyed pre-join repartition")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("candidate generation never degrades to an all-pairs nested " +
      "loop (q23 minhash, q24 simhash, q27/q58 LSH)") {
    // q23/q24 must have NO nested-loop joins at all
    Seq("q23_dedup_minhash", "q24_dedup_simhash").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$q fell to a nested-loop/cartesian join")
    }
    // q27/q58's only nested loops are cross joins against the 32-row
    // broadcast hyperplane fixture (constant-size at any corpus scale;
    // the codes subtree appears on both sides of the candidate join, so
    // the plan can hold one per side). Candidate generation itself must
    // stay an equi-join: every nested loop must be matched by a
    // plane-fixture scan, and none may be a full cartesian.
    Seq("q27_ann_lsh", "q58_embed_neardup_lsh").foreach { q =>
      val p = plan(q)
      val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      val planeScans = "lsh_planes".r.findAllIn(p).size
      assert(nlj <= planeScans,
        s"$q has $nlj nested-loop joins but only $planeScans " +
          "plane-fixture scans — a corpus-sized nested loop crept in")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("q68: corpus total N joins as a broadcast, never a sort-merge " +
      "or cartesian over the term relation") {
    val p = plan("q68_tfidf")
    assert(p.contains("BroadcastExchange") || p.contains("Broadcast"),
      "1-row N total lost its broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q70: repetition ratio has no aggregate and no join — pure " +
      "per-row map before the output sort") {
    val p = plan("q70_repetition")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      "q70 grew an aggregation — distinct counts must come from the " +
        "in-row ShingleSet")
    assert(!p.contains("Join"), "q70 grew a join")
  }

  test("q74: incremental near-dup candidates come from a one-sided " +
      "broadcast hash join (delta side), never a self-join or " +
      "cartesian") {
    val p = plan("q74_incremental_neardup")
    assert(p.contains("BroadcastHashJoin"),
      "delta bucket side lost its broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q78: the banded range join is an EQUI-join — the whole point " +
      "of the rewrite is that no nested loop / cartesian survives") {
    val p = plan("q78_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "banded range join fell back to a nested loop")
  }

  test("q80: span-df is the two-level agg + co-partitioned join-back — " +
      "ONE corpus explode, hot spans spread by (span, doc_id), df side " +
      "map-side-partial'd, join never broadcast or windowed") {
    val p = plan("q80_span_dedup")
    assert(p.contains("ShuffledHashJoin"),
      "join-back lost its shuffle_hash pin")
    assert(!p.contains("BroadcastHashJoin"),
      "corpus-sized span-df relation got broadcast — OOM at scale")
    // perDocSpan is persisted; its two consumers each PRINT the cached
    // plan (explode included) but the explode EXECUTES once — assert
    // both consumers read the cache rather than re-deriving it
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "perDocSpan consumers re-derive the scan + explode instead of " +
        "reading the persisted relation")
    assert(!"Window".r.findAllIn(p).nonEmpty,
      "q80 regressed to the window formulation (collect_set has no " +
        "map-side partial agg — a boilerplate span concentrates state)")
  }

  test("q79: PMI unigram joins broadcast (vocabulary-sized build side); " +
      "top-50 is TakeOrderedAndProject, never a global sort") {
    val p = plan("q79_bigram_pmi")
    assert(p.contains("BroadcastHashJoin"),
      "unigram join lost its broadcast")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q72: IVF-PQ nested loops are all against broadcast fixture " +
      "relations (centroids/codebook), never a corpus cartesian") {
    val p = plan("q72_ann_ivfpq")
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    val fixtureScans = ("ivf_centroids".r.findAllIn(p).size
      + "pq_codebook".r.findAllIn(p).size)
    assert(nlj <= fixtureScans,
      s"q72 has $nlj nested-loop joins but only $fixtureScans " +
        "fixture scans")
    assert(!p.contains("CartesianProduct"))
  }

  test("q83: the 3-step funnel is ONE fact shuffle — chained window " +
      "minima share the user_id exchange; no per-step self-joins") {
    val p = plan("q83_funnel")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "funnel degraded to per-step joins")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, // user_id hash + final single-partition agg
      s"funnel has $exchanges exchanges:\n${p.take(1200)}")
  }

  test("q85: burst RANGE window shares the same single-exchange shape") {
    val p = plan("q85_burst_window")
    assert(!p.contains("Join"), "burst window should not join")
    assert("Window".r.findAllIn(p).nonEmpty)
  }

  test("multi-consumer relations stay materialized: the persisted " +
      "corpus relations appear as InMemoryTableScan, not as repeated " +
      "corpus re-evaluation (q91 sets, q68 tf, q79 vocab, q72 normed)") {
    Seq("q91_dedup_jaccard_prefix", "q68_tfidf", "q79_bigram_pmi",
      "q72_ann_ivfpq").foreach { q =>
      assert(plan(q).contains("InMemoryTableScan"),
        s"$q lost its persist — every consumer re-runs the corpus scan")
    }
  }

  test("q94: skew profile is TakeOrderedAndProject over a broadcast " +
      "1-row total — no global sort, no cartesian blowup") {
    val p = plan("q94_skew_profile")
    assert(p.contains("TakeOrderedAndProject"))
    // two independent assertions — the old disjunction was vacuously
    // true whenever the expected BNLJ was present, so the cartesian
    // guard could never fire
    assert(!p.contains("CartesianProduct"),
      "1-row total join degenerated to a cartesian product")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "total join must be broadcast")
  }

  test("candidate self-joins stay on the reused shuffle exchange — " +
      "never a broadcast of the corpus-sized index/bucket relation") {
    // 8-byte hashed keys shrank the exploded relations' size ESTIMATES
    // under the broadcast threshold and the planner silently started
    // broadcasting them (q61 regression, round 7); the shuffle_hash
    // hints pin the join, and this asserts the pin holds
    Seq("q22_dedup_jaccard", "q23_dedup_minhash", "q24_dedup_simhash",
      "q61_curation", "q91_dedup_jaccard_prefix").foreach { q =>
      assert(plan(q).contains("ShuffledHashJoin"),
        s"$q: candidate self-join left the pinned shuffle exchange " +
          "(broadcast of a corpus-sized relation?)")
    }
  }

  test("candidate self-joins read their index from ONE cached build — " +
      "each side scans the InMemoryRelation, never a rebuilt chain") {
    // round 8 finding: ReusedExchange never fires for these self-joins
    // (per-consumer column pruning leaves the sides canonically
    // different), so without the Caches.persist each side re-ran the
    // ENTIRE index build (q91: the whole df-agg → window → repartition
    // chain twice — 13 AQE stages; with the cache, 5). This pins the
    // cache: both self-join sides must scan the cached relation.
    Seq("q22_dedup_jaccard" -> 2, "q23_dedup_minhash" -> 2,
      "q24_dedup_simhash" -> 2, "q63_dedup_jaccard_capped" -> 2,
      "q91_dedup_jaccard_prefix" -> 2).foreach { case (q, atLeast) =>
      val n = "InMemoryTableScan".r.findAllIn(plan(q)).length
      assert(n >= atLeast,
        s"$q: expected >= $atLeast InMemoryTableScans (cached index " +
          s"read by both self-join sides), found $n — persist dropped?")
    }
  }

  test("q111: global tiering is broadcast cutpoints + stateless CASE " +
      "— no window, no global sort of the corpus") {
    val p = plan("q111_global_tiers")
    assert(!p.contains("Window"),
      "global tiering fell back to a partition-less window")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "1-row cutpoint relation must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q87: entropy is per-row codegen — no Generate (explode), no " +
      "join, one keyed aggregation") {
    val p = plan("q87_char_entropy")
    assert(!p.contains("Generate"),
      "entropy fell back to per-character explode")
    assert(!p.contains("Join"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final aggregate pair")
  }

  test("q128: wide-band candidates come from the persisted " +
      "co-partitioned code relation — shuffle_hash self-join, no " +
      "corpus broadcast, no cartesian") {
    val p = plan("q128_wideband_neardup")
    assert(p.contains("ShuffledHashJoin"),
      "banded self-join lost its shuffle_hash pin")
    assert(!p.contains("CartesianProduct"))
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "both self-join sides must read the persisted code relation")
  }

  test("q129: boilerplate fingerprints leave via a BROADCAST anti-join " +
      "before the inverted-index self-join; the capped index is " +
      "persisted and shuffle_hash-joined, never broadcast") {
    val p = plan("q129_winnow_provenance")
    assert(p.contains("BroadcastHashJoin LeftAnti") ||
      (p.contains("LeftAnti") && p.contains("BroadcastHashJoin")),
      "df-cap anti-join lost its broadcast (a sort-merge anti of the " +
        "corpus-sized index defeats the cap's purpose)")
    assert(p.contains("ShuffledHashJoin"),
      "pair self-join lost its shuffle_hash pin")
    assert(!p.contains("CartesianProduct"))
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "both self-join sides must read the persisted capped index")
  }

  test("q138: the Bloom probe filters the train grams BELOW the " +
      "semi join — map-side pruning, not post-join") {
    val p = plan("q138_decontam_bloom")
    assert(p.toLowerCase.contains("bloomcontains"),
      "bloom probe expression missing from the executed plan")
    assert(p.contains("LeftSemi"), "exact semi verify missing")
    // the probe must sit in a Filter, never after the join: the
    // pruned side's subtree contains it before any join node
    val semiIdx = p.indexOf("LeftSemi")
    assert(p.toLowerCase.indexOf("bloomcontains") > semiIdx,
      "bloom filter not inside the semi join's build subtree")
  }

  test("q143: phrase adjacency is a keyed equi-join on (doc, pos) — " +
      "no nested loop, no cartesian") {
    val p = plan("q143_phrase_search")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "posting join degraded to a nested loop")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "expected a keyed join on (doc_id, pos)")
  }

  test("q147: the capstone composes with NO cartesian/nested-loop " +
      "and reads each persisted stage relation from cache") {
    val p = plan("q147_training_pipeline")
    assert(!p.contains("CartesianProduct"))
    // the only nested loops allowed are copies of the 1-row
    // broadcast-consts join (the q115 Σ√n/total idiom — `takes` has
    // two consumers and each re-derives the 5-row × 1-row subtree);
    // anything more means a REAL join lost its keys
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "a pipeline stage degraded to a nested loop")
    // the deduped set and the survivor set each serve 3 consumers —
    // at least 4 cached reads must appear or a stage chain is being
    // rebuilt per consumer
    assert("InMemoryTableScan".r.findAllIn(p).size >= 4,
      "persisted stage relations not reused across consumers")
    // r21: the exact-dedup stage is content-keyed with a fully
    // primitive (min doc_id, packed-lang min_by) buffer — the old
    // full-row-struct min_by planned BOTH aggregate halves as
    // SortAggregate (two corpus sorts on the capstone's hot path; 16
    // SortAggregate nodes across the consumers' printed subtrees)
    assert(!p.contains("SortAggregate"),
      "q147's exact dedup fell back to SortAggregate — the min_by " +
        "buffer went immutable (struct/string) again")
  }

  test("q153: the BPE capstone shares q147's hash-aggregable dedup — " +
      "no SortAggregate anywhere in the composed plan") {
    val p = plan("q153_pipeline_bpe")
    assert(!p.contains("SortAggregate"), p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("q118/q207: sign-LSH codes come from the in-row kernel — no " +
      "corpus × planes crossJoin, no code-assembly aggregation " +
      "(the r20 kernel pin)") {
    Seq("q118_embed_neardup_banded", "q207_oneshot_neardup").foreach {
      q =>
        val p = plan(q).toLowerCase
        assert(p.contains("signbandcodes"),
          s"$q lost the in-row SignBandCodes kernel")
        assert(!p.contains("cartesianproduct"), q)
        // the only aggregations left are the verify path's (the code
        // assembly's corpus-sized groupBy is gone); clean-state count
        // is ≤ 4 HashAggregate mentions (partial+final pairs)
        assert("hashaggregate".r.findAllIn(p).size <= 4,
          s"$q grew an aggregation — the crossJoin+agg code assembly " +
            "is back?")
    }
  }

  test("q225/q228: the IVFPQ serve reads its resident relations — " +
      "code relation AND per-batch LUTs — from cache (r20 persist + " +
      "r21 LUT pin), and the ADC join builds on a broadcast") {
    Seq("q225_ivfpq_train_serve", "q228_ivfpq_delta_append")
      .foreach { q =>
        val p = plan(q)
        assert(p.contains("BroadcastHashJoin"),
          s"$q: ADC candidate join lost its LUT broadcast")
        // the LUT relation is identified by its lutv column: its scan
        // must be an InMemoryTableScan (the r21 persist), never the
        // re-derived probe-explode chain
        assert("InMemoryTableScan \\[[^\\]]*lutv".r.findFirstIn(p)
          .isDefined,
          s"$q: the serve's LUT input is not read from cache — the " +
            "per-batch LUT persist dropped?")
        // and the resident code relation stays cached (the r20 pin)
        assert("InMemoryTableScan".r.findAllIn(p).size >= 8,
          s"$q: resident index relations not cached")
      }
  }

  test("q142: the fact table feeds the sketch/exact arms through " +
      "exactly two scans; the range join runs on the day dimension") {
    val s = scans("q142_sketch_reuse")
      .filter(_.metadata.get("Location").exists(_.contains("events")))
    assert(s.size <= 2,
      s"events scanned ${s.size} times — the one-pass-per-arm " +
        "contract broke")
  }

  test("q140: lang predicate resolves against partition VALUES — " +
      "PartitionFilters at the scan, no data filter, lang absent " +
      "from the parquet read schema, non-matching partitions unread") {
    val df = SparkEntry.queries("q140_partition_prune")(spark, dir)
    df.collect()
    val s = collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }.head
    assert(s.partitionFilters.exists(_.toString.contains("lang")),
      s"lang filter not in PartitionFilters: ${s.partitionFilters}")
    assert(s.dataFilters.isEmpty,
      s"partition predicate leaked into data filters: ${s.dataFilters}")
    assert(!s.requiredSchema.fieldNames.contains("lang"),
      "lang must come from the directory name, not the parquet columns")
    // pruning actually happened: the executed scan touched strictly
    // fewer files than the 5-language layout holds
    val totalFiles = s.relation.location.inputFiles.length
    val readFiles = s.metrics("numFiles").value
    assert(readFiles < totalFiles,
      s"no pruning: read $readFiles of $totalFiles files")
  }

  test("q149: the PII scrub is map-only scalar work into one keyed " +
      "agg — no joins, no window, no explode") {
    val p = plan("q149_pii_redact")
    assert(!p.contains("Join"), "the cleaning pass must not join")
    assert(!p.contains("Window"), "no window in a map-only scrub")
    assert(!p.contains("Generate"), "no explode in a map-only scrub")
    // exactly the agg exchange + the output sort
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(600))
  }

  test("q151: extraction is in-row block-array work — no explode, no " +
      "join; exactly the gate-agg-free map + output sort") {
    val p = plan("q151_html_extract")
    assert(!p.contains("Generate"),
      "block processing must stay in-row (higher-order functions), " +
        "not explode")
    assert(!p.contains("Join"), "the extractor must not join")
    // no aggregation at all: per-page rows map straight to the sort
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(600))
  }

  test("q152: substring dedup keeps the q80 discipline — keyed " +
      "equi-joins only (no cartesian/nested-loop), gram df consumed " +
      "from the persisted gram relation") {
    val p = plan("q152_substring_dedup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "a gram join lost its keys")
    // grams feed the df agg AND the join-back probe from ONE cache
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "the gram relation is being rebuilt per consumer")
  }

  test("q150: hybrid eval's corpus-sized relations never broadcast — " +
      "eval-query relations do; the embeddings pass is read from one " +
      "cached build") {
    val p = plan("q150_hybrid_eval")
    assert(!p.contains("CartesianProduct"))
    // the normed embeddings relation serves the query and corpus
    // sides from the persist
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "embeddings re-scanned per consumer")
  }

  test("q165: the modern-selection capstone composes with NO " +
      "cartesian/nested-loop joins, and the combined gate+DSIR " +
      "metric relation is cached (both metrics from one token pass)") {
    val p = plan("q165_modern_pipeline")
    // the q147 discipline: cartesian absence is the scale-killer
    // guard (BroadcastNestedLoopJoin appears, but only as the 1-row
    // const/cutpoint broadcasts — the plan STRING repeats cached
    // subtrees, so a text count can't distinguish them)
    assert(!p.contains("CartesianProduct"),
      "q165 planned a cartesian join")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3,
      "stage relations not persisted — metrics recompute per consumer")
  }

  test("q157: ONE data exchange (on shard) serves both the order " +
      "window and the manifest aggregate — the agg reuses the " +
      "window's partitioning; the only other exchange sorts the " +
      "8 manifest rows") {
    val p = plan("q157_train_shards")
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(1200))
    assert(!p.contains("Window Window"), "unexpected second window")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "manifest agg lost its map-side partial")
  }

  test("q193/q198: the FIM and span-corruption rewrites are map-only — " +
      "the ONLY exchange is the output sort, no join of any kind") {
    Seq("q193_doc_fim", "q198_span_corruption").foreach { q =>
      val p = plan(q)
      assert("Exchange".r.findAllIn(p).size <= 1, s"$q: ${p.take(900)}")
      assert(!p.contains("Join"), s"$q grew a join: ${p.take(900)}")
    }
  }

  test("q190: chat parse/validate is in-row — no explode, no join; " +
      "the only exchange is the output sort") {
    val p = plan("q190_chat_stats")
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(900))
    assert(!p.contains("Generate"), s"turns leaked across rows: " +
      p.take(900))
    assert(!p.contains("Join"), p.take(900))
  }

  test("q195: calibration's inner side is the bounded block table — " +
      "the nested-loop join builds on the BROADCAST artifact, never " +
      "the corpus") {
    val p = plan("q195_score_calibration")
    assert(!p.contains("CartesianProduct"), p.take(900))
    // the <=-join against the step table is broadcast-NLJ by design;
    // what must never happen is the corpus side becoming the build
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(900))
    val builds = "BroadcastExchange".r.findAllIn(p).size
    assert(builds >= 1, p.take(900))
  }

  test("q188: every post-pair stage is a keyed exchange (sx/ty " +
      "windows + joins), bounded count") {
    val p = plan("q188_bitext_margin")
    assert(!p.contains("CartesianProduct"), p.take(900))
    // the all-pairs arm broadcasts the target pool once; everything
    // downstream exchanges on sx or ty (14 = clean-state count: pair
    // build + 2 top-k sums + 2 margin windows + joins)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 14,
      p.take(1200))
  }

  test("q208: the fact join builds the edge relation ONCE — all 5 " +
      "rounds read the persisted copy; nn cross joins are 1-row " +
      "broadcasts, never a cartesian") {
    val p = plan("q208_supplier_pagerank")
    assert(!p.contains("CartesianProduct"), p.take(900))
    Seq("lineitem", "orders").foreach { t =>
      val n = scans("q208_supplier_pagerank")
        .count(_.metadata.get("Location").exists(_.contains(t)))
      assert(n <= 1,
        s"$t scanned $n times — an iteration rebuilds the edge chain")
    }
    // every round reads the persisted edges
    assert("InMemoryTableScan".r.findAllIn(p).size >=
      operators.Graph.Iterations,
      "rounds are not reading the persisted edge relation")
  }

  test("q210b/q211: candidate generation and propagation stay " +
      "equi-joins — no corpus-sized nested loop, no cartesian") {
    // q210b: pure equi candidate join — zero nested loops
    val pb = plan("q210b_knn_graph_probed")
    assert(!pb.contains("CartesianProduct"), pb.take(600))
    assert(!pb.contains("BroadcastNestedLoopJoin"),
      s"q210b grew a nested-loop join: ${pb.take(600)}")
    // q211 consumes the EXACT kNN arm, whose one all-pairs broadcast
    // NLJ is the small-corpus arm by design — it EXECUTES once inside
    // the persisted adjacency build, though every cache consumer
    // PRINTS the cached child plan (the q80 print-vs-execute note),
    // so an NLJ text count is meaningless here. Pin instead that the
    // adjacency is read from cache by every propagation round
    val pl = plan("q211_label_propagation")
    assert(!pl.contains("CartesianProduct"), pl.take(600))
    assert("InMemoryTableScan".r.findAllIn(pl).size >=
      operators.Graph.PropRounds,
      "propagation rounds are not reading the persisted adjacency")
  }

  test("q209: the only unpartitioned window runs over the SHARD SUMS " +
      "(N/W rows), never the corpus — the two-pass prefix sum in the " +
      "physical plan") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // sf0.001's 500 docs exceed ShardWidth=256, so the dispatcher
    // hands out the sharded arm here
    val p = SparkEntry.queries("q209_pps_sample")(spark, dir)
      .queryExecution.executedPlan
    val wins = collectWithSubqueries(p) { case w: WindowExec => w }
    val global = wins.filter(_.partitionSpec.isEmpty)
    assert(global.size == 1,
      s"expected exactly one unpartitioned window, got ${global.size}")
    val aggBelow = global.head.collect { case a: BaseAggregateExec => a }
    assert(aggBelow.nonEmpty,
      "the unpartitioned window consumes the raw corpus — the serial " +
        "prefix sum is back")
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "missing the shard-local (partitioned) window")
  }

  test("q213: NN-descent candidate generation stays equi-joins — no " +
      "corpus-sized nested loop, no cartesian") {
    val p = plan("q213_nn_descent")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q213 grew a nested-loop join: ${p.take(600)}")
  }

  test("q236: the query side BROADCASTS against one corpus pass and " +
      "the only data shuffles are the per-query TopK agg pair + the " +
      "output sort — the corpus never exchanges before aggregation") {
    val p = plan("q236_packed_f32_topk")
    // brute-force serve = intentional broadcast NLJ with the ≤20-row
    // query side as the BUILD side (q26's accepted class)
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft, Inner"),
      p.take(900))
    assert(!p.contains("CartesianProduct"), p.take(600))
    // shuffles: partial→final TopK agg exchange + the final orderBy
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"corpus-side exchange crept in: ${p.take(1200)}")
  }

  test("frozen tables stay out of the plan: no catalog entry that " +
      "builds a table kernel holds an array literal over 256 elements") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // a persisted subtree is an InMemoryRelation leaf in the optimized
    // plan: look inside it too
    def exprs(p: LogicalPlan): Seq[Expression] = p.collectWithSubqueries {
      case m: InMemoryRelation => exprs(m.cacheBuilder.logicalPlan)
      case n => n.expressions
    }.flatten
    val kernels = Set("CentroidTopK", "PqCodes", "PqLut", "BloomContains",
      "HashedLogit", "BpeTokenCount", "BpeEncodeIds")
    Seq("q45_ann_ivf", "q64_ann_pq", "q72_ann_ivfpq",
      "q138_decontam_bloom", "q139_semantic_dedup",
      "q147_training_pipeline", "q148_bpe_pack",
      "q166_quality_classifier", "q174_ann_served", "q175_token_shards",
      "q192_chat_render", "q195_score_calibration").foreach { q =>
      val es = exprs(clean(q).queryExecution.optimizedPlan)
      assert(es.exists(_.exists(e => kernels(e.getClass.getSimpleName))),
        s"$q builds no table kernel")
      val big = es.flatMap(_.collect {
        case Literal(a: ArrayData, _) if a.numElements() > 256 =>
          a.numElements()
      })
      assert(big.isEmpty, s"$q carries array literals of sizes $big")
    }
  }
}
