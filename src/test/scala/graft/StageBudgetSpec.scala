package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executed stage/job budgets for the most expensive headline queries —
  * the CI face of Bench's attribution: each query is one unprepared
  * [[Measure]] run, whose build and execution stages and jobs count
  * together.
  *
  * The r8 q91 regression was exactly a silent stage-count double: a
  * dropped persist made both self-join sides rebuild the whole index
  * chain, correctness stayed green, and only the bench wall moved.
  * These pins fail the build instead. Budgets are the counts the
  * current plans execute (measured under the bench profile,
  * `Sessions.setProfile`: AQE off + 8 shuffle partitions for lowLatency
  * queries, the session's adaptive base otherwise) —
  * if a change legitimately restructures a plan, re-measure and move
  * the pin in the same commit.
  */
class StageBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"

  // (query, max executed stages, max jobs) — the most expensive
  // headline queries by warm wall
  private val budgets: Seq[(String, Int, Int)] = Seq(
    // r11: q61 joined the interactive tier — 8 stages fuse under 2
    // jobs (cache build + final) with AQE barriers off
    ("q61_curation", 8, 2),
    // r16: headline swap — the oneShotNeardup dispatcher entry
    // replaced q58's direct spelling (same codes-build + self-join +
    // verify plan family, plus the manifest row-count job)
    ("q207_oneshot_neardup", 15, 15),
    // r11: the adaptive-geometry default near-dup — same plan family
    // as q58 (codes build + self-join + verify), so the same budget
    // class; a regression to per-consumer code rebuilds fails here
    ("q135_adaptive_neardup", 12, 12),
    ("q118_embed_neardup_banded", 13, 13),
    // r16: interactive tier — 12 stages / 10 jobs (was 18/18 under
    // AQE; the flip took the wall 0.28 s → 0.11 s at sf0.1)
    ("q72_ann_ivfpq", 13, 11),
    ("q78_range_join", 5, 5),
    ("q17_join_agg", 11, 7),
    ("q59_ship_priority", 5, 2),
    ("q91_dedup_jaccard_prefix", 13, 13),
    ("q40_exists_agg", 5, 1),
    // r10: interactive profile (AQE off) — 3 jobs (2 cache builds +
    // the final), a regression to per-stage jobs fails here
    ("q23_dedup_minhash", 9, 3),
    // round-9 retrieval tier (q125's seven stages are two constant-depth
    // rank chains + the fuse — the budget pins that the corpus never
    // enters a rank window)
    ("q124_bm25_topk", 4, 2),
    ("q125_hybrid_rrf", 7, 4),
    // round-10 interactive-tier additions: q80's rewrite must keep its
    // single-job profile (the two-level agg + join-back fuses under
    // one job with AQE off); q07 is the one-exchange agg
    ("q80_span_dedup", 6, 2),
    ("q07_group_agg", 3, 1),
    // r11: SemDeDup joins the headline set — the budget pins that the
    // persisted assignment relation serves all three consumers (a
    // regression to per-consumer rebuilds of the scan + K-cosine
    // assignment triples the stage count)
    ("q139_semantic_dedup", 7, 7),
    // r11 capstone — cold-path budget (the spec clears caches first,
    // so this includes the bloom-statics build and BOTH persisted
    // stage materializations; measured 31): pins that the deduped and
    // survivor relations serve all their consumers from one build
    // each — re-running the gate/dedup or decontam chain per consumer
    // adds ~10 stages per extra consumer and blows straight past this
    ("q147_training_pipeline", 34, 34),
    // r15: the served-index read path (0.82× DuckDB) — the budget
    // pins that serving never rebuilds or re-scans the corpus (an
    // artifact-cache regression shows up as the build's write stages
    // re-entering every serve)
    ("q174_ann_served", 7, 5),
    // r15 late additions: q188's budget pins that the persisted pair
    // relation serves all four margin consumers (top-k sums ×2 +
    // margin windows ×2) from one build; q193 must stay a single
    // map-only job; q200's budget pins the one-build funnel (dressed
    // base persisted, dedup agg + window + manifest agg)
    ("q188_bitext_margin", 17, 17),
    ("q193_doc_fim", 2, 2),
    // r16: interactive tier — 8 stages / 5 jobs (was 10/10 adaptive)
    ("q200_sft_pipeline", 9, 6),
    // r16: PageRank — the budget pins that the persisted edge
    // relation is built ONCE and each of the 5 rounds adds one join +
    // one agg stage, never a rebuild of the orders⋈lineitem chain
    // (interactive tier: AQE's per-query-stage job barriers cost
    // 46 stages/46 jobs and a 1.66 s wall on the 5-round chain; with
    // them off the same plan runs 18 stages under 6 jobs at 0.36 s)
    ("q208_supplier_pagerank", 20, 7))

  test("the pinned expensive headline queries keep their executed " +
      "stage/job budgets under the bench profile") {
    // q174's budget pins the SERVE path — ensure the on-disk index
    // artifact exists before measuring, or suite ordering decides
    // whether the build's write stages land in this spec's count
    // (ArtifactCache publishes once per content stamp; any suite that
    // runs q45/q174 first would otherwise absorb them instead)
    operators.Similarity.annIndexLayout(spark, dir)
    val measure = new Measure(spark, dir)
    try {
      val report = budgets.map { case (name, maxS, maxJ) =>
        val d = SparkEntry.benchDefs.find(_.name == name)
          .getOrElse(fail(s"$name is not a bench query"))
        Caches.clear(spark) // budgets include the cache-build stages
        val r = measure.run(d)
        val stages = r.build.stages + r.exec.stages
        val jobs = r.build.jobs + r.exec.jobs
        assert(stages <= maxS,
          s"$name executed $stages stages, budget $maxS — a shared " +
            "relation is probably being rebuilt per consumer")
        assert(jobs <= maxJ,
          s"$name ran $jobs jobs, budget $maxJ")
        f"$name%-28s stages=$stages/$maxS jobs=$jobs/$maxJ"
      }
      info(report.mkString("\n"))
    } finally {
      measure.close()
      Caches.clear(spark)
    }
  }
}
