package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over `documents` — language-ID heuristic,
  * quality scoring, token accounting, content fingerprinting
  * (SURVEY.md §2.11 #15 + the training-data-pipeline tier).
  *
  * Everything is built from codegen'd column expressions whose semantics
  * are bit-identical in DuckDB (length/replace/split/md5), so every query
  * here is oracle-checked. All are embarrassingly partition-parallel:
  * per-document scalar work then a keyed aggregation.
  */
object TextAnalysis {

  /** # occurrences of `w` in `t` (non-overlapping), via length deltas —
    * avoids engine-specific regex count functions.
    */
  private def occ(t: Column, w: String): Column =
    (length(t) - length(expr(s"replace($tName, '$w', '')"))) / w.length
  private val tName = "text"

  private def occSql(w: String): String =
    s"(length(text) - length(replace(text, '$w', ''))) / ${w.length}"

  // Language-ID n-gram/stopword heuristic: deterministic CASE over
  // marker-token occurrence counts, reported as a confusion matrix
  // against the labeled lang column.
  val q28LangId: QueryDef = QueryDef(
    "q28_lang_id",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val pred = when(occ(col("text"), " the ") >= 2, "en")
        .when(occ(col("text"), " a ") >= 3, "es")
        .when(occ(col("text"), "window") >= 2, "de")
        .when(occ(col("text"), "stream") >= 2, "fr")
        .otherwise("zh")
      d.select(col("lang"), pred.as("pred"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    },
    Some(s"""SELECT lang,
            |  CASE WHEN ${occSql(" the ")} >= 2 THEN 'en'
            |       WHEN ${occSql(" a ")} >= 3 THEN 'es'
            |       WHEN ${occSql("window")} >= 2 THEN 'de'
            |       WHEN ${occSql("stream")} >= 2 THEN 'fr'
            |       ELSE 'zh' END AS pred,
            |  COUNT(*) AS n
            |FROM documents GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin))

  // TRAINED language-ID — the Cavnar–Trenkle n-gram-profile classifier
  // (the shape fastText LID industrialized), upgrade over q28's
  // hardcoded markers: per-language profiles are the top-40 char
  // bigrams LEARNED from a deterministic train split (doc_id%10 < 8)
  // of the corpus itself, and a held-out doc's prediction is the
  // language whose profile shares the most of the doc's distinct
  // bigrams (integer overlap — no floats anywhere, so the confusion
  // matrix is trivially hash-stable). Plan: train pass = one bigram
  // explode → (lang, bigram) counts → per-lang top-40 rank window →
  // broadcast profile (40·|langs| rows); score pass = one bigram
  // explode over held-out docs → broadcast join → per-(doc, lang)
  // overlap agg → per-doc argmax via max_by struct (value-
  // deterministic tie-break: higher overlap, then lexicographically
  // smaller lang) → confusion matrix. Two corpus passes, every
  // exchange keyed, profile broadcast bounded by 40·|langs|.
  val q116LangIdProfile: QueryDef = QueryDef(
    "q116_langid_profile",
    (s, dir) => {
      val ProfileK = 40
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          substring(lower(col("text")), 1, 200).as("t"))
      def bigrams(d: org.apache.spark.sql.DataFrame) = d
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, length(t) - 1)," +
            " i -> substring(t, i, 2))")).as("g"))
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("c").desc, col("g"))
      val profile = bigrams(docs.filter(col("doc_id") % 10 < 8))
        .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(wRank))
        .filter(col("rk") <= ProfileK)
        .select(col("lang").as("plang"), col("g"))
      val held = bigrams(docs.filter(col("doc_id") % 10 >= 8))
        .select(col("doc_id"), col("lang"), col("g")).distinct()
      held.join(broadcast(profile), Seq("g"))
        .groupBy(col("doc_id"), col("lang"), col("plang"))
        .agg(count(lit(1)).as("overlap"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(max_by(col("plang"),
          struct(col("overlap"),
            // lexicographically SMALLER lang wins ties: max_by takes
            // the max struct, so invert the lang ordering via a
            // negated-codepoint surrogate — langs here are 2-char
            // ASCII codes, so two chars suffice
            (-ascii(col("plang"))).as("a1"),
            (-ascii(substring(col("plang"), 2, 1))).as("a2")))
          .as("pred"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    },
    Some("""WITH d AS (
           |  SELECT doc_id, lang, substr(lower(text), 1, 200) AS t
           |  FROM documents),
           |bg AS (
           |  SELECT doc_id, lang, substr(t, CAST(i AS INTEGER), 2) AS g
           |  FROM (SELECT doc_id, lang, t,
           |          unnest(range(1, length(t))) AS i FROM d) u),
           |prof AS (
           |  SELECT lang AS plang, g FROM (
           |    SELECT lang, g, COUNT(*) AS c,
           |      ROW_NUMBER() OVER (PARTITION BY lang
           |                         ORDER BY COUNT(*) DESC, g) AS rk
           |    FROM bg WHERE doc_id % 10 < 8 GROUP BY lang, g) r
           |  WHERE rk <= 40),
           |held AS (
           |  SELECT DISTINCT doc_id, lang, g FROM bg
           |  WHERE doc_id % 10 >= 8),
           |ov AS (
           |  SELECT doc_id, lang, plang, COUNT(*) AS overlap
           |  FROM held JOIN prof USING (g)
           |  GROUP BY doc_id, lang, plang),
           |pred AS (
           |  SELECT doc_id, lang, plang AS pred FROM (
           |    SELECT doc_id, lang, plang,
           |      ROW_NUMBER() OVER (PARTITION BY doc_id, lang
           |                         ORDER BY overlap DESC, plang) AS rk
           |    FROM ov) r
           |  WHERE rk = 1)
           |SELECT lang, pred, COUNT(*) AS n FROM pred
           |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin))

  // Quality scoring: token counts, average token length, stopword ratio,
  // quality bucket. Ratios are single double divisions of exact integers.
  val q29Quality: QueryDef = QueryDef(
    "q29_quality",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .withColumn("w", split(lower(col("text")), " "))
        .withColumn("n_tokens", size(col("w")))
        .withColumn("n_stop", expr(
          "size(filter(w, t -> t = 'the' OR t = 'a' OR t = 'of'))"))
      d.select(
        col("doc_id"),
        col("n_tokens"),
        graft.Round4(col("n_chars").cast(DoubleType) / col("n_tokens"))
          .as("avg_tok_len"),
        graft.Round4(col("n_stop").cast(DoubleType) / col("n_tokens"))
          .as("stop_ratio"),
        when(col("n_tokens") < 20, "short")
          .when(col("n_tokens") > 80, "long")
          .otherwise("good").as("bucket"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           |  len(string_split(lower(text), ' ')) AS n_tokens,
           |  floor((CAST(n_chars AS DOUBLE) /
           |        len(string_split(lower(text), ' '))) * 10000 + 0.5)
           |    / 10000 AS avg_tok_len,
           |  floor((CAST(len(list_filter(string_split(lower(text), ' '),
           |          t -> t = 'the' OR t = 'a' OR t = 'of')) AS DOUBLE) /
           |        len(string_split(lower(text), ' '))) * 10000 + 0.5)
           |    / 10000 AS stop_ratio,
           |  CASE WHEN len(string_split(lower(text), ' ')) < 20 THEN 'short'
           |       WHEN len(string_split(lower(text), ' ')) > 80 THEN 'long'
           |       ELSE 'good' END AS bucket
           |FROM documents ORDER BY doc_id""".stripMargin))

  // Token accounting per (lang, source) — corpus-statistics aggregation.
  val q30TokenStats: QueryDef = QueryDef(
    "q30_token_stats",
    (s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("docs"),
          sum(size(split(col("text"), " "))).as("tokens"),
          sum(col("n_chars")).as("chars"))
        .orderBy("lang", "source"),
    // CAST sums to BIGINT: DuckDB SUM(int) yields HUGEINT, which arrives
    // as decimal128 through Arrow and hash-mismatches Spark's int64.
    Some("""SELECT lang, source, COUNT(*) AS docs,
           |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM documents GROUP BY lang, source
           |ORDER BY lang, source""".stripMargin),
    bench = true, lowLatency = true)

  // Content fingerprinting: md5 of normalized text (the reference
  // fingerprints config/schema state the same way, SHA-256 at
  // checkpoint_compat.go:48-87).
  val q31Fingerprint: QueryDef = QueryDef(
    "q31_fingerprint",
    (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          md5(lower(col("text")).cast(BinaryType)).as("fp"))
        .orderBy("doc_id"),
    Some("SELECT doc_id, md5(lower(text)) AS fp FROM documents " +
      "ORDER BY doc_id"))

  // F2-analog: binary → canonical 8-4-4-4-12 UUID formatting, built from
  // the md5 hex digest (reference binary16→uuid is the same reshaping,
  // source_mysql.go:652-668).
  val q32UuidFormat: QueryDef = QueryDef(
    "q32_uuid_format",
    (s, dir) => {
      val hex = md5(col("text").cast(BinaryType))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), concat_ws("-",
          substring(hex, 1, 8), substring(hex, 9, 4), substring(hex, 13, 4),
          substring(hex, 17, 4), substring(hex, 21, 12)).as("uuid"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           |  concat_ws('-', substring(md5(text), 1, 8),
           |    substring(md5(text), 9, 4), substring(md5(text), 13, 4),
           |    substring(md5(text), 17, 4), substring(md5(text), 21, 12))
           |    AS uuid
           |FROM documents ORDER BY doc_id""".stripMargin))

  // BPE-ish subword-style token accounting: a GPT-2-shaped regex
  // (letter runs / digit runs / punctuation runs, each with optional
  // leading space) rather than whitespace splitting. The pattern stays
  // within the regex subset Java and RE2 interpret identically.
  val q47BpeTokens: QueryDef = QueryDef(
    "q47_bpe_tokens",
    (s, dir) => {
      val pat = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
            .as("bpe_tokens"),
          size(split(col("text"), " ")).as("ws_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("bpe_tokens")).as("bpe_total"),
          sum(col("ws_tokens")).as("ws_total"))
        .orderBy("lang")
    },
    Some("""SELECT lang, COUNT(*) AS docs,
           |  CAST(SUM(len(regexp_extract_all(text,
           |    ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))) AS BIGINT)
           |    AS bpe_total,
           |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_total
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  // Rolling-hash document fingerprint: polynomial hash over codepoints,
  // h := (h*31 + cp) mod 1e9+7 — the incremental-hash shape a
  // Rabin-Karp chunker builds on. Runs as the native codegen'd
  // graft_rolling_hash expression (plans.RollingHash), not an
  // interpreted aggregate() lambda; mod keeps every intermediate
  // < 2^63 so both engines evaluate identical arithmetic.
  val q48RollingHash: QueryDef = QueryDef(
    "q48_rolling_hash",
    (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.VectorOps.rollingHash(col("text")).as("rh"))
        .orderBy("doc_id")
    },
    // list_filter drops the '' element DuckDB yields for an empty
    // string (unicode('') = -1 would poison the fold; Spark returns 0)
    Some("""SELECT doc_id,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(
           |      list_filter(regexp_split_to_array(text, ''),
           |        c -> c <> ''),
           |      c -> CAST(unicode(c) AS BIGINT))),
           |    (h, c) -> (h * 31 + c) % 1000000007) AS rh
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Character-entropy quality signal per source — the
    * compression-ratio proxy curation pipelines threshold on
    * (template spam scores low, binary junk high). Per-document
    * entropy is the native [[graft.plans.ByteEntropy]] expression: one
    * codegen pass over the text bytes, one row per document into the
    * 20-key aggregate. The oracle computes the same quantity
    * relationally (per-character unnest + two aggregations) — the
    * formulation this operator exists to avoid, since it multiplies
    * the corpus by n_chars before the first exchange.
    */
  val q87CharEntropy: QueryDef = QueryDef(
    "q87_char_entropy",
    (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("source"),
          graft.functions.VectorOps.byteEntropy(col("text")).as("ent"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          graft.Round4(avg("ent")).as("avg_entropy"),
          graft.Round4(max("ent")).as("max_entropy"))
        .orderBy("source")
    },
    // BYTE-level oracle (hex pairs of the UTF-8 encoding), matching
    // ByteEntropy's definition exactly — a character-level oracle
    // agrees only on all-ASCII fixtures; COALESCE matches the
    // expression's empty-text → 0.0 (the LATERAL yields NULL there)
    Some(s"""WITH ent AS (
            |  SELECT d.source, COALESCE(e.ent, 0.0) AS ent
            |  FROM documents d, LATERAL (
            |    SELECT -SUM(p * LOG2(p)) AS ent FROM (
            |      SELECT CAST(COUNT(*) AS DOUBLE)
            |          / OCTET_LENGTH(ENCODE(d.text)) AS p
            |      FROM UNNEST(range(1, OCTET_LENGTH(ENCODE(d.text)) + 1))
            |        AS t(i)
            |      GROUP BY substring(hex(ENCODE(d.text)),
            |                         CAST(2*i - 1 AS INT), 2))) e)
            |SELECT source, COUNT(*) AS docs,
            |  ${graft.Round4.sql("AVG(ent)")} AS avg_entropy,
            |  ${graft.Round4.sql("MAX(ent)")} AS max_entropy
            |FROM ent GROUP BY source ORDER BY source""".stripMargin),
    // interactive tier (r20-opt): the plan is scan → in-row entropy →
    // partial agg; BOTH exchanges carry ≤ |sources| group rows at ANY
    // corpus scale, so AQE's runtime re-planning has nothing to
    // coalesce or re-join here — its stage-materialization barriers
    // were pure scheduling floor (the q225/q17/q26 r19 move, applied
    // where the scale argument is airtight because the exchanges are
    // output-bounded, not corpus-bounded)
    bench = true, lowLatency = true)

  /** Per-language length quartiles via ntile — grouped exact tiering
    * (each language's docs split into 4 equal-count tiers by token
    * count). The window partitions by lang, so parallelism is
    * per-group and state is one group's rows — the legitimate grouped
    * use of ntile, NOT a partition-less global window (at corpus
    * scale, GLOBAL tiering instead goes through broadcast approximate
    * quantile cutpoints — the q67 family — precisely because a global
    * ntile would serialize the corpus through one partition).
    * Tie-break on doc_id makes tier assignment a total order, so both
    * engines tier identically.
    */
  val q92QualityTiers: QueryDef = QueryDef(
    "q92_quality_tiers",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.load(s, dir, "documents")
        .withColumn("n_tokens", size(split(lower(col("text")), " ")))
      val w = Window.partitionBy("lang")
        .orderBy(col("n_tokens"), col("doc_id"))
      d.withColumn("tier", ntile(4).over(w))
        .groupBy("lang", "tier")
        .agg(count(lit(1)).as("docs"),
          min("n_tokens").as("min_tokens"),
          max("n_tokens").as("max_tokens"),
          graft.Round4(avg("n_tokens")).as("avg_tokens"))
        .orderBy("lang", "tier")
    },
    Some(s"""WITH t AS (
            |  SELECT lang, doc_id,
            |    len(string_split(lower(text), ' ')) AS n_tokens
            |  FROM documents),
            |w AS (
            |  SELECT lang, n_tokens, NTILE(4) OVER (
            |    PARTITION BY lang ORDER BY n_tokens, doc_id) AS tier
            |  FROM t)
            |SELECT lang, tier, COUNT(*) AS docs,
            |  MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
            |  ${graft.Round4.sql("AVG(n_tokens)")} AS avg_tokens
            |FROM w GROUP BY lang, tier ORDER BY lang, tier""".stripMargin))

  /** GLOBAL quality tiering — the corpus-wide twin of [[q92QualityTiers]]
    * built the way 100 TB actually allows: q92's `ntile` window is
    * per-LANGUAGE (parallel by group), but a corpus-wide ntile would
    * serialize everything through one partition. Instead the global
    * quartile CUTPOINTS are computed once as a 1-row aggregate,
    * broadcast back (a 1-row BNLJ, not an exchange of the corpus), and
    * tier assignment becomes a stateless per-row CASE — one narrow
    * corpus pass, no global sort, no window anywhere in the plan
    * (`PlanShapeSpec` asserts both). The cutpoint aggregate runs
    * through [[Cutpoints.cutpointOf]]: exact `percentile` at this
    * scale, the sketch-banded EXACT arm (mergeable GK sketch + exact
    * boundary-band fix-up, bit-equal results) at 100 TB; the
    * broadcast-CASE stage is unchanged either way.
    *
    * Semantics note: quartile EDGES differ from q92's ntile on
    * purpose — ntile balances COUNTS (ties split across tiers),
    * cutpoint tiering is value-deterministic (equal scores always
    * land in the same tier), which is the property a reproducible
    * data-curation run needs.
    */
  val q111GlobalTiers: QueryDef = QueryDef(
    "q111_global_tiers",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .withColumn("nt",
          size(split(lower(col("text")), " ")).cast(DoubleType))
      val cuts = Cutpoints.cutpointOf(
        d, Nil, "nt", Seq(0.25, 0.5, 0.75))
      d.crossJoin(broadcast(cuts))
        .withColumn("tier",
          when(col("nt") <= col("cut0"), 1)
            .when(col("nt") <= col("cut1"), 2)
            .when(col("nt") <= col("cut2"), 3)
            .otherwise(4))
        .groupBy(col("tier"), col("lang"))
        .agg(count(lit(1)).as("docs"),
          min(col("nt")).cast("long").as("min_tokens"),
          max(col("nt")).cast("long").as("max_tokens"),
          graft.Round4(avg(col("nt"))).as("avg_tokens"))
        .orderBy("tier", "lang")
    },
    Some(s"""WITH t AS (
            |  SELECT doc_id, lang,
            |    CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
            |      AS nt
            |  FROM documents),
            |c AS (
            |  SELECT quantile_cont(nt, 0.25) AS q1,
            |         quantile_cont(nt, 0.50) AS q2,
            |         quantile_cont(nt, 0.75) AS q3 FROM t),
            |w AS (
            |  SELECT lang, nt,
            |    CASE WHEN nt <= c.q1 THEN 1
            |         WHEN nt <= c.q2 THEN 2
            |         WHEN nt <= c.q3 THEN 3
            |         ELSE 4 END AS tier
            |  FROM t, c)
            |SELECT tier, lang, COUNT(*) AS docs,
            |  CAST(MIN(nt) AS BIGINT) AS min_tokens,
            |  CAST(MAX(nt) AS BIGINT) AS max_tokens,
            |  ${graft.Round4.sql("AVG(nt)")} AS avg_tokens
            |FROM w GROUP BY tier, lang ORDER BY tier, lang""".stripMargin))

  /** The 100 TB quantile path made real: q67 documents that exact
    * `percentile` (per-group sort) swaps to `percentile_approx`
    * (mergeable GK sketch, no sort) at scale — this query RUNS that
    * swap and gates it the q44 way: the hash-matched columns are the
    * exact interpolated quantiles, plus booleans asserting the sketch
    * output brackets inside the surrounding exact quartiles (a bound
    * the GK rank guarantee implies at any corpus size; the sketch
    * values themselves are algorithm-specific and can never
    * hash-match a different engine).
    */
  val q93TokenQuantilesApprox: QueryDef = QueryDef(
    "q93_token_quantiles_approx",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .withColumn("nt",
          size(split(lower(col("text")), " ")).cast(DoubleType))
      d.groupBy(col("lang"))
        .agg(
          expr("percentile(nt, array(0.25D, 0.5D, 0.75D, 0.9D))")
            .as("ex"),
          expr("percentile_approx(nt, array(0.5D, 0.9D), 1000)")
            .as("ap"),
          count(lit(1)).as("docs"))
        .select(col("lang"), col("docs"),
          graft.Round4(col("ex")(1)).as("p50"),
          graft.Round4(col("ex")(3)).as("p90"),
          (col("ap")(0) >= col("ex")(0) && col("ap")(0) <= col("ex")(2))
            .as("approx_p50_ok"),
          (col("ap")(1) >= col("ex")(2)).as("approx_p90_ok"))
        .orderBy("lang")
    },
    Some(s"""SELECT lang, COUNT(*) AS docs,
            |  ${graft.Round4.sql(
              "quantile_cont(CAST(len(string_split(lower(text), ' ')) " +
                "AS DOUBLE), 0.5)")} AS p50,
            |  ${graft.Round4.sql(
              "quantile_cont(CAST(len(string_split(lower(text), ' ')) " +
                "AS DOUBLE), 0.9)")} AS p90,
            |  true AS approx_p50_ok, true AS approx_p90_ok
            |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** The `approx_count_distinct` swap q77's column profiler documents
    * for 100 TB (exact multi-distinct needs an Expand of the corpus;
    * HLL++ is one pass, mergeable, fixed-size state), actually RUN and
    * gated q93-style: the exact per-lang distinct counts hash-match
    * the oracle, and a boolean asserts the sketch landed within 10% of
    * exact (at fixture cardinalities HLL++'s sparse mode is typically
    * EXACT; the gate's job is to fail loudly if the swap ever drifts).
    */
  val q132DistinctApproxGate: QueryDef = QueryDef(
    "q132_distinct_approx_gate",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("lang"), md5(col("text").cast(BinaryType)).as("fp"))
      d.groupBy(col("lang"))
        .agg(countDistinct(col("fp")).as("exact_distinct"),
          approx_count_distinct(col("fp"), 0.02).as("ap"),
          count(lit(1)).as("docs"))
        .select(col("lang"), col("docs"), col("exact_distinct"),
          (abs(col("ap") - col("exact_distinct")).cast(DoubleType) <=
            col("exact_distinct").cast(DoubleType) * 0.1)
            .as("approx_ok"))
        .orderBy("lang")
    },
    Some("""SELECT lang, COUNT(*) AS docs,
           |  COUNT(DISTINCT md5(text)) AS exact_distinct,
           |  true AS approx_ok
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** Corpus token relation (doc_id, lang, source, t) every
    * unigram-model consumer (q99/q161/q162/q163) starts from; Catalyst
    * prunes the key columns a consumer doesn't use.
    */
  private def unigramToks(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        explode(split(lower(col("text")), " ")).as("t"))
      .filter(col("t") =!= "")

  /** Broadcast unigram model (t, c, n): the count relation PERSISTS
    * (vocab-sized — the q99 discipline: cache the small relation,
    * re-scan the corpus) and the corpus total pre-joins inside the
    * same broadcast build, so deriving the model costs ONE corpus
    * tokenize pass, not one per self-aggregation.
    */
  private def unigramModel(toks: DataFrame): DataFrame = {
    val uni = graft.Caches.persist(
      toks.groupBy(col("t")).agg(count(lit(1)).as("c")))
    broadcast(uni.crossJoin(uni.agg(sum(col("c")).as("n"))))
  }

  /** The oracle twin of [[unigramToks]]+[[unigramModel]]: ONE shared
    * toks/uni/n CTE text for every unigram-model oracle, so the
    * tokenization contract cannot drift between its consumers.
    */
  private[operators] val unigramOracleCtes: String =
    """toks AS (
      |  SELECT doc_id, lang, source, t FROM (
      |    SELECT doc_id, lang, source,
      |      unnest(string_split(lower(text), ' ')) AS t
      |    FROM documents) u WHERE t <> ''),
      |uni AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY 1),
      |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni)""".stripMargin

  /** α = 0.5 temperature-budget takes — ONE shared spelling for every
    * budget site (q115/q147/q153/q165; see q115's flake note): √mass
    * floors to integer µunits once per key (sqrt is correctly rounded
    * per IEEE in both engines, so wu is genuinely engine-identical),
    * and the take is exact integer arithmetic after — the budget
    * product runs in DECIMAL(38,0) with an integral `div`, never a
    * rounded division, so it is exact at any corpus size (a pure
    * BIGINT product overflows near 10⁹ tokens of per-key mass).
    * Returns `counts` with `budgetCol` appended.
    */
  private def alphaBudget(counts: DataFrame, massCol: String,
      budgetCol: String): DataFrame = {
    val c = counts.withColumn("wu__",
      floor(sqrt(col(massCol).cast(DoubleType)) * 1e6 + 0.5d)
        .cast(LongType))
    val k = c.agg(sum(col("wu__")).as("swu__"),
      sum(col(massCol)).as("total__"))
    c.crossJoin(broadcast(k))
      .withColumn(budgetCol,
        least(col(massCol), expr(
          "(CAST(total__ div 2 AS DECIMAL(38, 0)) * wu__) div swu__")))
      .drop("wu__", "swu__", "total__")
  }

  /** The oracle twin of [[alphaBudget]], as text fragments each budget
    * oracle interpolates (one definition of the µunit + HUGEINT
    * spelling): `wu` column expression for the c CTE, the k CTE, and
    * the take expression (LEAST applies before the BIGINT cast so an
    * out-of-BIGINT intermediate can never be the final value).
    */
  private def alphaWuSql(mass: String): String =
    s"CAST(floor(sqrt(CAST($mass AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
  private def alphaKCte(mass: String): String =
    "k AS (SELECT CAST(SUM(wu) AS BIGINT) AS swu, " +
      s"CAST(SUM($mass) AS BIGINT) AS total FROM c)"
  private def alphaTakeSql(mass: String): String =
    s"CAST(least(CAST($mass AS HUGEINT), " +
      "((CAST(total AS HUGEINT) // 2) * wu) // swu) AS BIGINT)"

  /** Exact keep-first dedup as ONE hash-aggregable partial/final pair
    * — the shared q147/q153 spelling (r21-opt), defined once so the
    * two capstones cannot drift. The pre-r21 spelling keyed on
    * hh = md5(text) and aggregated min_by(struct(<every gated
    * column>), doc_id): a struct-typed (string-bearing) aggregation
    * buffer is immutable in UnsafeRow, so BOTH halves of the
    * partial/final pair planned as SortAggregateExec — two full sorts
    * of the gated corpus on the capstone's hot path, just to ferry the
    * survivor row. Keyed on the content (text, nt — nt a pure function
    * of text) instead, the groups are identical to PARTITION BY
    * md5(text) whenever md5 is injective on the corpus (any
    * non-adversarial corpus; the driver oracle hash-matches at every
    * SF), and the buffer is (min doc_id, min_by packed-lang) — all
    * primitive, so the pair plans as HashAggregateExec: partial min
    * per map task, one keyed exchange of ≤ |groups| candidate rows per
    * task, no sort anywhere. lang ferries through the ≤8-byte codec
    * ([[graft.plans.PackStr8]] — this schema's primary-subtag lang
    * column, checked loudly); hh is md5'd once per GROUP after the agg
    * instead of once per corpus row; and gated columns nothing
    * downstream reads (source, n_chars — and text itself when
    * `keepText` is false) do not ride the exchange or the persisted
    * relation (guide §2.3: project before the exchange).
    * PlanShapeSpec pins SortAggregate's absence in both plans.
    */
  private def contentKeyedDedup(gated: DataFrame,
      keepText: Boolean): DataFrame = {
    val agged = gated.groupBy(col("text"), col("nt"))
      .agg(min(col("doc_id")).as("doc_id"),
        graft.functions.VectorOps.unpackStr8(min_by(
          graft.functions.VectorOps.packStr8(col("lang")),
          col("doc_id"))).as("lang"))
      .withColumn("hh", md5(col("text").cast(BinaryType)))
    val cols = if (keepText)
      Seq(col("doc_id"), col("lang"), col("text"), col("nt"), col("hh"))
    else Seq(col("doc_id"), col("lang"), col("nt"), col("hh"))
    agged.select(cols: _*)
  }

  /** Broadcast DSIR model (t, cr, ct, nr, v, ntt) shared by
    * q163/q165: raw unigram counts, Laplace-smoothed target-slice
    * counts, and the normalizing constants, in ONE relation so the
    * smoothing contract (ct+1)/(ntt+v) has a single definition.
    */
  private def dsirModel(toks: DataFrame, targetSrc: String): DataFrame = {
    val raw = toks.groupBy(col("t")).agg(count(lit(1)).as("cr"))
    val tgt = toks.filter(col("source") === targetSrc)
      .groupBy(col("t")).agg(count(lit(1)).as("ct"))
    val consts = raw.agg(sum(col("cr")).as("nr"),
      count(lit(1)).as("v"))
      .crossJoin(tgt.agg(sum(col("ct")).as("ntt")))
    broadcast(raw.join(tgt, Seq("t"), "left_outer")
      .select(col("t"), col("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"))
      .crossJoin(consts))
  }

  /** Frozen [[graft.plans.DsirModelTable]] for the corpus at `dir` —
    * the SAME model relation [[dsirModel]] broadcasts, collected once
    * into the in-row scorer's lookup handle (vocab-sized by the same
    * argument that makes the relational broadcast legal; at 100 TB
    * this is the trained top-K-vocab artifact a streaming deployment
    * ships, the CCNet-KenLM contract). Consumed by the streaming gate
    * (q176), whose micro-batches cannot run the explode →
    * groupBy(doc_id) spelling without unbounded per-doc state.
    */
  private[graft] def dsirModelTable(s: SparkSession,
      dir: String): graft.plans.FrozenTable[graft.plans.DsirModelTable] = {
    val toks = unigramToks(s, dir)
    val rows = dsirModel(toks, "src0").collect()
    val (nr, v, ntt) = (rows.head.getAs[Long]("nr"),
      rows.head.getAs[Long]("v"), rows.head.getAs[Long]("ntt"))
    graft.plans.DsirModelTable.frozen(s, graft.plans.DsirModelTable.build(
      rows.map(r => (r.getAs[String]("t"), r.getAs[Long]("cr"),
        r.getAs[Long]("ct"))).toSeq, nr, v, ntt))
  }

  /** (lang, bu, iwu, nt) per document via the IN-ROW scorer — the
    * stateless twin of q162/q163's per-doc relations. Documents with
    * zero in-vocabulary tokens drop, mirroring the inner model join.
    */
  private[graft] def dsirScored(df: DataFrame,
      model: graft.plans.FrozenTable[graft.plans.DsirModelTable])
      : DataFrame =
    df.withColumn("sc__",
        graft.functions.VectorOps.unigramDsirScore(col("text"), model))
      .select(col("lang"), col("sc__.bu").as("bu"),
        col("sc__.iwu").as("iwu"), col("sc__.nt").as("nt"))
      .filter(col("nt") > 0L)

  /** The oracle twin of [[dsirModel]] (tgt/co/model CTE text on top of
    * [[unigramOracleCtes]]) — one definition, interpolated by both
    * consumers.
    */
  private[operators] val dsirModelOracleCtes: String =
    """tgt AS (SELECT t, COUNT(*) AS ct FROM toks
      |        WHERE source = 'src0' GROUP BY 1),
      |co AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS v,
      |    (SELECT CAST(SUM(ct) AS BIGINT) FROM tgt) AS ntt
      |  FROM uni),
      |model AS (
      |  SELECT uni.t, uni.c AS cr, COALESCE(tgt.ct, 0) AS ct,
      |    n.n AS nr, co.v, co.ntt
      |  FROM uni LEFT JOIN tgt ON uni.t = tgt.t
      |  CROSS JOIN n CROSS JOIN co)""".stripMargin

  /** Unigram cross-entropy scoring — the CCNet-style "perplexity
    * bucket" quality signal with the corpus itself as the language
    * model: each document scores the average self-information
    * (bits/token) of its tokens under the corpus unigram
    * distribution. Template spam (high-probability tokens) scores
    * LOW, lexically rich text high, gibberish highest — the thresholds
    * head/middle/tail bucketing runs on. Two corpus passes (the
    * information-theoretic minimum: one to build the LM, one to
    * score) + a broadcast of the vocabulary-sized count relation; at
    * web scale the broadcast becomes the trained top-K vocab with an
    * OOV floor, same shape.
    */
  val q99UnigramXent: QueryDef = QueryDef(
    "q99_unigram_xent",
    (s, dir) => {
      val toks = unigramToks(s, dir)
      // corpus total pre-joined INTO the vocab broadcast (one extra
      // long per row): the 1-row agg + crossJoin run inside the single
      // broadcast-build job — r11: one broadcast build instead of two,
      // a bare-job floor off both bench columns
      val uniN = unigramModel(toks)
      val perDoc = toks.join(uniN, Seq("t"))
        .groupBy(col("doc_id"), col("lang"), col("source"))
        .agg(avg(-log2(col("c").cast(DoubleType) / col("n")))
          .as("bits_per_token"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          graft.Round4(avg(col("bits_per_token"))).as("avg_bits"),
          graft.Round4(min(col("bits_per_token"))).as("min_bits"),
          graft.Round4(max(col("bits_per_token"))).as("max_bits"))
        .orderBy("source")
    },
    Some(s"""WITH $unigramOracleCtes,
            |pd AS (
            |  SELECT toks.doc_id, toks.source,
            |    AVG(-LOG2(CAST(uni.c AS DOUBLE) / n.n)) AS bits
            |  FROM toks JOIN uni USING (t) CROSS JOIN n
            |  GROUP BY 1, 2)
            |SELECT source, COUNT(*) AS docs,
            |  ${graft.Round4.sql("AVG(bits)")} AS avg_bits,
            |  ${graft.Round4.sql("MIN(bits)")} AS min_bits,
            |  ${graft.Round4.sql("MAX(bits)")} AS max_bits
            |FROM pd GROUP BY source ORDER BY source""".stripMargin),
    bench = true, lowLatency = true)

  private val MixAlpha = 0.5   // temperature exponent (T = 1/α = 2)
  private val MixBudget = 1e6  // global token budget to allocate

  /** Temperature-based mixture weights — the α-sampling allocation
    * multilingual/multi-source training mixes actually use: raw token
    * share `p_i` flattened to `p_i^α / Σ p_j^α` (α < 1 up-weights
    * low-resource slices), a global token budget allocated by the
    * flattened weight, and the implied epoch count (allocation ÷
    * available tokens) that tells you which slice will over-repeat.
    * One corpus aggregate to per-lang token counts, a broadcast 1-row
    * normalizer, then pure arithmetic — the corpus is touched once
    * regardless of slice count.
    */
  val q108MixTemperature: QueryDef = QueryDef(
    "q108_mix_temperature",
    (s, dir) => {
      val counts = Tables.load(s, dir, "documents")
        .select(col("lang"),
          size(split(lower(col("text")), " ")).cast("long").as("nt"))
        .groupBy("lang").agg(sum("nt").as("tokens"))
      val norm = counts
        .agg(sum(pow(col("tokens").cast(DoubleType), MixAlpha)).as("z"),
          sum(col("tokens")).as("total"))
      counts.join(broadcast(norm))
        .withColumn("w",
          pow(col("tokens").cast(DoubleType), MixAlpha) / col("z"))
        .select(col("lang"), col("tokens"),
          graft.Round4(col("tokens").cast(DoubleType) / col("total"))
            .as("raw_share"),
          graft.Round4(col("w")).as("mix_weight"),
          graft.Round4(col("w") * MixBudget / col("tokens"))
            .as("epochs"))
        .orderBy("lang")
    },
    Some(s"""WITH c AS (
            |  SELECT lang,
            |    CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT)
            |      AS tokens
            |  FROM documents GROUP BY 1),
            |z AS (SELECT SUM(POW(CAST(tokens AS DOUBLE), $MixAlpha)) AS z,
            |             CAST(SUM(tokens) AS BIGINT) AS total FROM c)
            |SELECT lang, tokens,
            |  ${graft.Round4.sql("CAST(tokens AS DOUBLE) / total")}
            |    AS raw_share,
            |  ${graft.Round4.sql(
              s"POW(CAST(tokens AS DOUBLE), $MixAlpha) / z")} AS mix_weight,
            |  ${graft.Round4.sql(
              s"POW(CAST(tokens AS DOUBLE), $MixAlpha) / z * $MixBudget" +
                " / tokens")} AS epochs
            |FROM c, z ORDER BY lang""".stripMargin))

  private val ChunkLen = 32   // tokens per chunk
  private val ChunkStride = 24 // 8-token overlap between neighbors

  /** Overlapping token-window chunking — the RAG/embedding-ingest
    * preprocessing step: each document becomes fixed-size chunks with
    * an 8-token overlap so no sentence is split without context on
    * either side. Start positions stop at `max(len − 8, 1)`, so the
    * tail chunk keeps at least 9 tokens instead of emitting confetti. Pure in-row array
    * arithmetic fused with the scan (one explode of start offsets,
    * ~len/stride rows per doc); at corpus scale this is the map-only
    * stage feeding the embedding model, and the (doc_id, chunk_id) key
    * it emits is exactly what joins embeddings back to spans.
    */
  val q109Chunking: QueryDef = QueryDef(
    "q109_chunking",
    (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(1),
            greatest(size(col("w")) - 8, lit(1)),
            lit(ChunkStride))).as("i"))
        .select(col("doc_id"),
          expr(s"(i - 1) div $ChunkStride").as("chunk_id"),
          concat_ws(" ", slice(col("w"), col("i"), lit(ChunkLen)))
            .as("chunk"),
          least(size(col("w")) - col("i") + 1, lit(ChunkLen))
            .as("n_tokens"))
        .orderBy("doc_id", "chunk_id")
    },
    Some(s"""WITH w AS (
            |  SELECT doc_id, string_split(lower(text), ' ') AS toks
            |  FROM documents),
            |c AS (
            |  SELECT doc_id, (i - 1) // $ChunkStride AS chunk_id,
            |    array_to_string(toks[i : i + ${ChunkLen - 1}], ' ')
            |      AS chunk,
            |    LEAST(len(toks) - i + 1, $ChunkLen) AS n_tokens
            |  FROM (SELECT doc_id, toks,
            |          unnest(range(1, GREATEST(len(toks) - 7, 2),
            |            $ChunkStride)) AS i
            |        FROM w) u)
            |SELECT doc_id, chunk_id, chunk, n_tokens FROM c
            |ORDER BY doc_id, chunk_id""".stripMargin))

  // Scrubbing/redaction (training-data cleaning): numeric literals in
  // the events props JSON replaced by a placeholder; counts verify how
  // many values were touched. Pattern stays in the Java∩RE2 subset.
  val q56Redact: QueryDef = QueryDef(
    "q56_redact",
    (s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("event_id"),
          regexp_replace(col("props"), "[0-9]+", "<NUM>").as("scrubbed"),
          size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
            .as("n_redacted"))
        .orderBy("event_id"),
    Some("""SELECT event_id,
           |  regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed,
           |  len(regexp_extract_all(props, '[0-9]+')) AS n_redacted
           |FROM events ORDER BY event_id""".stripMargin))

  /** The three PII shapes q149 scrubs, ONE definition each reaching
    * both engines (interpolated into the oracle SQL verbatim) — kept
    * in the Java∩RE2 subset (no lookaround, no backreferences) so the
    * JVM and DuckDB regex engines match identically. The shapes follow
    * the C4/Dolma cleaning passes: RFC-loose emails, NANP-style phone
    * layouts, dotted-quad IPv4.
    */
  private[operators] val EmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val Ipv4Re =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** q149's staged match counts over an arbitrary (lang, text)
    * relation, as per-lang totals — every stage is batch-legal column
    * arithmetic + one keyed agg, which is what lets q156 run the SAME
    * pipeline inside streaming micro-batches (the q141 discipline) and
    * still share q149's oracle semantics. Counts only: the per-doc
    * digest q149 adds would hold one hash per document in streaming
    * state — unbounded; the monitor keeps per-lang counters, O(langs).
    */
  private[graft] def piiScrubCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .as("n_emails"),
        regexp_replace(col("text"), EmailRe, "<EMAIL>").as("t1"))
      .select(col("lang"), col("n_emails"),
        size(regexp_extract_all(col("t1"), lit(Ipv4Re), lit(0)))
          .as("n_ips"),
        regexp_replace(col("t1"), Ipv4Re, "<IP>").as("t2"))
      .select(col("lang"), col("n_emails"), col("n_ips"),
        size(regexp_extract_all(col("t2"), lit(PhoneRe), lit(0)))
          .as("n_phones"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_emails")).cast("long").as("n_emails"),
        sum(col("n_ips")).cast("long").as("n_ips"),
        sum(col("n_phones")).cast("long").as("n_phones"))
  // Boundary guards are zero-width (\b — identical Java/RE2), via an
  // alternation over the three ways a phone can open (+cc separator,
  // literal paren, bare digits at a word boundary) because a single
  // leading \b fails on the non-word "+"/"(" openers; the trailing \b
  // stops the {4} group mid-digit-run. Guarded shapes that must NOT
  // match: serials like 12345-678-9012, 13-digit hyphenated IDs,
  // and phones with trailing digit overrun (555-123-45678).
  private[operators] val PhoneRe =
    "(?:\\+[0-9]{1,2}[ -]\\(?|\\(|\\b)[0-9]{3}\\)?[ -][0-9]{3}[ -][0-9]{4}\\b"

  // PII redaction — the standard pre-training cleaning pass (C4 / Dolma
  // discipline) as a first-class oracle-checked operator, extending
  // q56's numeric scrub to the three shapes real pipelines remove:
  // emails, phone numbers, IPv4 addresses, over the planted-PII fixture
  // corpus (the driver documents contain no PII — see GenPiiFixture,
  // which also plants NEGATIVE decoys the regexes must not touch).
  // Stages apply in a FIXED order (email → ip → phone), each counting
  // its matches on the previous stage's output, so a phone pattern can
  // never double-count digits inside an already-redacted IP; the same
  // three-stage spelling runs verbatim in the oracle. Output is the
  // per-lang cleaning report: doc/match counts plus an order-stable
  // corpus digest (md5 over per-doc redacted-text md5s, doc_id order)
  // — the hash match proves every redacted BYTE identical across
  // engines, not just the counts. Map-only scalar work fused with the
  // scan into one keyed aggregation: at 100 TB this is a single
  // corpus pass with a |langs|-row result, no joins, no wide state.
  val q149PiiRedact: QueryDef = QueryDef(
    "q149_pii_redact",
    (s, dir) => {
      val s1 = graft.Fixtures.read(s, graft.Fixtures.piiDocsPath)
        .select(col("doc_id"), col("lang"),
          size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
            .as("n_emails"),
          regexp_replace(col("text"), EmailRe, "<EMAIL>").as("t1"))
      val s2 = s1.select(col("doc_id"), col("lang"), col("n_emails"),
        size(regexp_extract_all(col("t1"), lit(Ipv4Re), lit(0)))
          .as("n_ips"),
        regexp_replace(col("t1"), Ipv4Re, "<IP>").as("t2"))
      val s3 = s2.select(col("doc_id"), col("lang"), col("n_emails"),
        col("n_ips"),
        size(regexp_extract_all(col("t2"), lit(PhoneRe), lit(0)))
          .as("n_phones"),
        md5(regexp_replace(col("t2"), PhoneRe, "<PHONE>")
          .cast("binary")).as("h"))
      s3.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_emails")).cast("long").as("n_emails"),
          sum(col("n_ips")).cast("long").as("n_ips"),
          sum(col("n_phones")).cast("long").as("n_phones"),
          md5(concat_ws("", transform(
            array_sort(collect_list(struct(col("doc_id"), col("h")))),
            x => x.getField("h"))).cast("binary")).as("fp"))
        .orderBy("lang")
    },
    Some(s"""WITH s1 AS (
            |  SELECT doc_id, lang,
            |    len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
            |    regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS t1
            |  FROM read_parquet('${graft.Fixtures.piiDocsPath}')),
            |s2 AS (
            |  SELECT doc_id, lang, n_emails,
            |    len(regexp_extract_all(t1, '$Ipv4Re')) AS n_ips,
            |    regexp_replace(t1, '$Ipv4Re', '<IP>', 'g') AS t2
            |  FROM s1),
            |s3 AS (
            |  SELECT doc_id, lang, n_emails, n_ips,
            |    len(regexp_extract_all(t2, '$PhoneRe')) AS n_phones,
            |    md5(regexp_replace(t2, '$PhoneRe', '<PHONE>', 'g')) AS h
            |  FROM s2)
            |SELECT lang, COUNT(*) AS docs,
            |  CAST(SUM(n_emails) AS BIGINT) AS n_emails,
            |  CAST(SUM(n_ips) AS BIGINT) AS n_ips,
            |  CAST(SUM(n_phones) AS BIGINT) AS n_phones,
            |  md5(string_agg(h, '' ORDER BY doc_id)) AS fp
            |FROM s3 GROUP BY lang ORDER BY lang""".stripMargin))

  /** q181's three corruption detectors — ONE Java∩RE2 pattern each
    * (the q149 regex discipline), shared verbatim with the oracle.
    * Unicode via `\\x{..}` escapes so neither source file nor SQL
    * text carries raw control bytes.
    */
  private[graft] val ReplRe = "\\x{FFFD}"
  private[graft] val CtrlRe =
    "[\\x{1}-\\x{8}\\x{B}\\x{C}\\x{E}-\\x{1F}]"
  private[graft] val MojiRe =
    "Ã[\\x{80}-\\x{BF}]|â€™|â€œ"

  // Encoding-corruption (mojibake) quality signal — the detection half
  // of the ftfy-class cleaning stage every web pipeline runs (fix or
  // drop; cf. the "fixes text for you" heuristics, Speer 2019, and
  // C4/Dolma's invalid-unicode drops): per document, counts of (a)
  // U+FFFD replacement characters (a decoder already gave up), (b) C0
  // control characters outside \t\n\r (binary contamination), (c) the
  // classic UTF-8-read-as-Latin-1/cp1252 sequences ("Ã" + continuation
  // range, "â€™"/"â€œ" — double-encoding artifacts). Detection over a
  // planted fixture with no ground-truth columns; per-lang rollup with
  // dirty-doc counts. Map-only + one keyed agg — at 100 TB this fuses
  // with the scan like every gate metric, and the DROP arm is the same
  // filter the rollup's dirty flag already computes.
  val q181EncodingQuality: QueryDef = QueryDef(
    "q181_encoding_quality",
    (s, dir) =>
      graft.Fixtures.read(s, graft.Fixtures.mojiDocsPath)
        .select(col("lang"),
          size(regexp_extract_all(col("text"), lit(ReplRe), lit(0)))
            .as("n_repl"),
          size(regexp_extract_all(col("text"), lit(CtrlRe), lit(0)))
            .as("n_ctrl"),
          size(regexp_extract_all(col("text"), lit(MojiRe), lit(0)))
            .as("n_moji"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(when(col("n_repl") + col("n_ctrl") + col("n_moji") > 0,
            1L).otherwise(0L)).as("dirty_docs"),
          sum(col("n_repl")).cast("long").as("n_repl"),
          sum(col("n_ctrl")).cast("long").as("n_ctrl"),
          sum(col("n_moji")).cast("long").as("n_moji"))
        .orderBy("lang"),
    Some(s"""WITH d AS (
            |  SELECT lang,
            |    len(regexp_extract_all(text, '$ReplRe')) AS n_repl,
            |    len(regexp_extract_all(text, '$CtrlRe')) AS n_ctrl,
            |    len(regexp_extract_all(text, '$MojiRe')) AS n_moji
            |  FROM read_parquet('${graft.Fixtures.mojiDocsPath}'))
            |SELECT lang, COUNT(*) AS docs,
            |  CAST(SUM(CASE WHEN n_repl + n_ctrl + n_moji > 0
            |           THEN 1 ELSE 0 END) AS BIGINT) AS dirty_docs,
            |  CAST(SUM(n_repl) AS BIGINT) AS n_repl,
            |  CAST(SUM(n_ctrl) AS BIGINT) AS n_ctrl,
            |  CAST(SUM(n_moji) AS BIGINT) AS n_moji
            |FROM d GROUP BY lang ORDER BY lang""".stripMargin))

  // Unicode NFC normalization pass — the canonicalization every text
  // pipeline runs BEFORE hashing or dedup (Dolma/CCNet normalize
  // early: "café" spelled precomposed and decomposed are byte-distinct
  // strings that split exact-dedup classes and skew char metrics until
  // composed). The codegen'd in-row [[graft.plans.NfcNormalize]]
  // (isNormalized quick-check fast path — the common already-NFC row
  // costs one scan, zero copies) against DuckDB's nfc_normalize — both
  // implement the Unicode-standard composition, and the per-lang
  // ordered digest over NORMALIZED text proves byte-for-byte agreement
  // on every document, not just the counters. Map-only + one keyed
  // agg; non_nfc_docs / chars_folded are the audit a relayout job
  // reads before swapping the normalized copy in.
  val q183NfcNormalize: QueryDef = QueryDef(
    "q183_nfc_normalize",
    (s, dir) => {
      val n = graft.Fixtures.read(s, graft.Fixtures.nfcDocsPath)
        .select(col("doc_id"), col("lang"), col("text"),
          graft.functions.VectorOps.nfc(col("text")).as("norm"))
        .select(col("lang"), col("doc_id"),
          when(col("text") =!= col("norm"), 1L).otherwise(0L)
            .as("non_nfc"),
          (length(col("text")) - length(col("norm"))).cast(LongType)
            .as("delta"),
          md5(col("norm").cast(BinaryType)).as("h"))
      n.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("non_nfc")).as("non_nfc_docs"),
          sum(col("delta")).as("chars_folded"),
          md5(concat_ws("", transform(
            array_sort(collect_list(struct(col("doc_id"), col("h")))),
            x => x.getField("h"))).cast(BinaryType)).as("fp"))
        .orderBy("lang")
    },
    Some(s"""WITH d AS (
            |  SELECT doc_id, lang,
            |    CASE WHEN text <> nfc_normalize(text) THEN 1 ELSE 0
            |      END AS non_nfc,
            |    len(text) - len(nfc_normalize(text)) AS delta,
            |    md5(nfc_normalize(text)) AS h
            |  FROM read_parquet('${graft.Fixtures.nfcDocsPath}'))
            |SELECT lang, COUNT(*) AS docs,
            |  CAST(SUM(non_nfc) AS BIGINT) AS non_nfc_docs,
            |  CAST(SUM(delta) AS BIGINT) AS chars_folded,
            |  md5(string_agg(h, '' ORDER BY doc_id)) AS fp
            |FROM d GROUP BY lang ORDER BY lang""".stripMargin))

  // Normalization-aware exact dedup (q183 ∘ q21) — WHY the NFC pass
  // runs before hashing: the fixture's planted NFD twins are
  // byte-distinct from their precomposed originals, so raw md5 dedup
  // keeps both copies; keying on md5(NFC(text)) folds each twin onto
  // its original. The per-lang audit reports both distinct counts —
  // folded_dups is exactly the duplicate volume a pipeline that skips
  // normalization silently ships. Same one-scan keyed-agg shape as
  // q21; the nfc kernel fuses in-row.
  val q184NfcDedup: QueryDef = QueryDef(
    "q184_nfc_dedup",
    (s, dir) => {
      graft.Fixtures.read(s, graft.Fixtures.nfcDocsPath)
        .select(col("lang"),
          md5(col("text").cast(BinaryType)).as("hr"),
          md5(graft.functions.VectorOps.nfc(col("text"))
            .cast(BinaryType)).as("hn"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          countDistinct(col("hr")).as("distinct_raw"),
          countDistinct(col("hn")).as("distinct_norm"),
          (countDistinct(col("hr")) - countDistinct(col("hn")))
            .as("folded_dups"))
        .orderBy("lang")
    },
    Some(s"""SELECT lang, COUNT(*) AS docs,
            |  COUNT(DISTINCT md5(text)) AS distinct_raw,
            |  COUNT(DISTINCT md5(nfc_normalize(text)))
            |    AS distinct_norm,
            |  COUNT(DISTINCT md5(text)) -
            |    COUNT(DISTINCT md5(nfc_normalize(text)))
            |    AS folded_dups
            |FROM read_parquet('${graft.Fixtures.nfcDocsPath}')
            |GROUP BY lang ORDER BY lang""".stripMargin))

  // Vocabulary pruning / rare-token suppression — the classic LM
  // vocab-truncation step (keep the top-V vocabulary, rewrite every
  // out-of-vocabulary token to `<unk>` — the construction every
  // count-based LM and the CCNet-class cleaning stacks apply before
  // modeling; also the k-anonymity-flavored suppression that keeps
  // rare, possibly-identifying strings out of a release). Vocabulary
  // = top-V by (count DESC, token ASC) — a deterministic truncation,
  // collected once as the frozen artifact a production run ships
  // (cutpoint/classifier-weight class). The rewrite is ENTIRELY
  // in-row (filter + transform + the broadcast
  // Membership.contains probe — no explode, no join, no per-doc
  // reassembly exchange);
  // cost is the information-theoretic two passes (one tokenize to
  // build the vocab, one re-scan to rewrite). The per-lang ordered
  // digest over rewritten text proves every substitution
  // byte-for-byte.
  /** q186's vocabulary budget — small enough that every fixture
    * language carries genuine OOV mass at all three scales (TopV=40
    * kept the whole 61-token synthetic vocabulary and made the
    * operator vacuous).
    */
  private[graft] val VocabPruneTopV = 25

  val q186VocabPrune: QueryDef = QueryDef(
    "q186_vocab_prune",
    (s, dir) => {
      val TopV = VocabPruneTopV
      val toks = unigramToks(s, dir)
      val kept = toks.groupBy(col("t")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t")).limit(TopV)
        .collect().map(_.getString(0)).toSeq
      // exact broadcast binary-search membership
      // (Membership.contains): a production vocabulary (10⁵–10⁶
      // tokens) costs no per-token linear scan and no vocabulary copy
      // per task binary
      def inVocab(x: Column): Column =
        graft.functions.Membership.contains(x, kept)
      val words = filter(split(lower(col("text")), " "),
        x => x =!= "")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(words).cast(LongType).as("nt"),
          size(filter(words, x => !inVocab(x)))
            .cast(LongType).as("nrep"),
          md5(array_join(transform(words, x =>
            when(inVocab(x), x)
              .otherwise(lit("<unk>"))), " ")
            .cast(BinaryType)).as("h"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("nt")).as("tokens"),
          sum(col("nrep")).as("replaced"),
          floor(sum(col("nrep")).cast(DoubleType) / sum(col("nt"))
            * 1e6 + 0.5d).cast(LongType).as("replaced_rate_mu"),
          md5(concat_ws("", transform(
            array_sort(collect_list(struct(col("doc_id"), col("h")))),
            x => x.getField("h"))).cast(BinaryType)).as("fp"))
        .orderBy("lang")
    },
    Some(s"""WITH $unigramOracleCtes,
            |kl AS (SELECT list(t) AS kept
            |       FROM (SELECT t FROM uni
            |             ORDER BY c DESC, t LIMIT $VocabPruneTopV) k),
            |rew AS (
            |  SELECT doc_id, lang, len(w) AS nt,
            |    len(list_filter(w,
            |      x -> NOT list_contains(kl.kept, x))) AS nrep,
            |    md5(array_to_string(list_transform(w,
            |      x -> CASE WHEN list_contains(kl.kept, x) THEN x
            |           ELSE '<unk>' END), ' ')) AS h
            |  FROM (SELECT doc_id, lang,
            |          list_filter(string_split(lower(text), ' '),
            |            x -> x <> '') AS w
            |        FROM documents) d
            |  CROSS JOIN kl)
            |SELECT lang, COUNT(*) AS docs,
            |  CAST(SUM(nt) AS BIGINT) AS tokens,
            |  CAST(SUM(nrep) AS BIGINT) AS replaced,
            |  CAST(FLOOR(CAST(SUM(nrep) AS DOUBLE) / SUM(nt)
            |    * 1000000 + 0.5) AS BIGINT) AS replaced_rate_mu,
            |  md5(string_agg(h, '' ORDER BY doc_id)) AS fp
            |FROM rew GROUP BY lang ORDER BY lang""".stripMargin))

  // Corpus datasheet capstone — the "data card" table every released
  // dataset ships (Datasheets for Datasets, Gebru et al. CACM'21;
  // Dolma/FineWeb release reports): one long-format (metric, value)
  // relation composing the proven stage aggregates — volume (docs /
  // tokens / chars / langs / sources), redundancy (exact-dup docs),
  // quality (Gopher pass count + µunit rate from the SHARED gopherDoc
  // helper — no rule drift vs q117/q166), split accounting (q57's
  // pure-function rule), and the median document length through the
  // size-guarded cutpoint dispatcher (exact arm here, sketch arm at
  // 100 TB). Every value is BIGINT — rates ride as µunit integers, so
  // the whole card hash-compares exactly. Shape: ONE dressed corpus
  // scan persisted for the count metrics + the gopher pass (its own
  // shingle pass, the q117 cost) + a union of 1-row aggregates — at
  // 100 TB this is the report job a release pipeline runs nightly.
  val q185CorpusDatasheet: QueryDef = QueryDef(
    "q185_corpus_datasheet",
    (s, dir) => {
      val base = graft.Caches.persist(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"),
            size(split(lower(col("text")), " ")).cast(LongType)
              .as("nt"),
            md5(col("text").cast(BinaryType)).as("h")))
      val gd = graft.Caches.persist(gopherDoc(s, dir)
        .select(col("doc_id"), col("pass")))
      def one(name: String, agg: DataFrame): DataFrame =
        agg.toDF("v").select(lit(name).as("metric"),
          col("v").cast(LongType).as("value"))
      val counts = base.agg(
        count(lit(1)).as("docs"),
        countDistinct(col("lang")).as("langs"),
        countDistinct(col("source")).as("sources"),
        sum(col("nt")).as("tokens"),
        sum(col("n_chars")).cast(LongType).as("chars"),
        (count(lit(1)) - countDistinct(col("h"))).as("dups"))
        .transform(graft.Caches.persist)
      val passes = gd.agg(
        sum(when(col("pass"), 1L).otherwise(0L)).as("p"),
        count(lit(1)).as("n"))
      val p50 = Cutpoints.cutpointOf(base, Nil, "nt", Seq(0.5))
      Seq(
        one("chars_total", counts.select(col("chars"))),
        one("docs_total", counts.select(col("docs"))),
        one("exact_dup_docs", counts.select(col("dups"))),
        one("gopher_pass_docs", passes.select(col("p"))),
        one("gopher_pass_rate_mu", passes.select(
          floor(col("p").cast(DoubleType) / col("n") * 1e6 + 0.5d))),
        one("langs_distinct", counts.select(col("langs"))),
        one("sources_distinct", counts.select(col("sources"))),
        one("split_test_docs", base
          .filter(col("doc_id") % 100 >= 90).agg(count(lit(1)))),
        one("split_train_docs", base
          .filter(col("doc_id") % 100 < 80).agg(count(lit(1)))),
        one("split_val_docs", base
          .filter(col("doc_id") % 100 >= 80 && col("doc_id") % 100 < 90)
          .agg(count(lit(1)))),
        one("token_p50_mu", p50.select(
          floor(col("cut0") * 1e6 + 0.5d))),
        one("tokens_total", counts.select(col("tokens"))))
        .reduce(_.unionByName(_))
        .orderBy("metric")
    },
    Some(s"""WITH $GopherDocSql,
            |base AS (
            |  SELECT doc_id, lang, source, n_chars,
            |    CAST(len(string_split(lower(text), ' ')) AS BIGINT)
            |      AS nt,
            |    md5(text) AS h
            |  FROM documents)
            |SELECT 'chars_total' AS metric,
            |  CAST(SUM(n_chars) AS BIGINT) AS value FROM base
            |UNION ALL SELECT 'docs_total', COUNT(*) FROM base
            |UNION ALL SELECT 'exact_dup_docs',
            |  COUNT(*) - COUNT(DISTINCT h) FROM base
            |UNION ALL SELECT 'gopher_pass_docs',
            |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
            |  FROM gd
            |UNION ALL SELECT 'gopher_pass_rate_mu',
            |  CAST(FLOOR(CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END)
            |    AS DOUBLE) / COUNT(*) * 1000000 + 0.5) AS BIGINT)
            |  FROM gd
            |UNION ALL SELECT 'langs_distinct',
            |  COUNT(DISTINCT lang) FROM base
            |UNION ALL SELECT 'sources_distinct',
            |  COUNT(DISTINCT source) FROM base
            |UNION ALL SELECT 'split_test_docs', COUNT(*) FROM base
            |  WHERE doc_id % 100 >= 90
            |UNION ALL SELECT 'split_train_docs', COUNT(*) FROM base
            |  WHERE doc_id % 100 < 80
            |UNION ALL SELECT 'split_val_docs', COUNT(*) FROM base
            |  WHERE doc_id % 100 >= 80 AND doc_id % 100 < 90
            |UNION ALL SELECT 'token_p50_mu',
            |  CAST(FLOOR(quantile_cont(CAST(nt AS DOUBLE), 0.5)
            |    * 1000000 + 0.5) AS BIGINT) FROM base
            |UNION ALL SELECT 'tokens_total',
            |  CAST(SUM(nt) AS BIGINT) FROM base
            |ORDER BY metric""".stripMargin))

  // Deterministic train/val/test split — the reproducible alternative
  // to rand()-based sampling: assignment is a pure function of the key
  // (doc_id mod 100 → 80/10/10), so every engine and every rerun agrees,
  // and the split survives repartitioning. Reported as per-(lang, split)
  // counts.
  val q57Split: QueryDef = QueryDef(
    "q57_split",
    (s, dir) =>
      Tables.load(s, dir, "documents")
        .withColumn("split",
          when(col("doc_id") % 100 < 80, "train")
            .when(col("doc_id") % 100 < 90, "val")
            .otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .select(col("lang"), col("split"), col("docs"),
          col("chars").cast("long").as("chars"))
        .orderBy("lang", "split"),
    Some("""SELECT lang,
           |  CASE WHEN doc_id % 100 < 80 THEN 'train'
           |       WHEN doc_id % 100 < 90 THEN 'val'
           |       ELSE 'test' END AS split,
           |  COUNT(*) AS docs,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin))

  // Deterministic CONTENT-hash sampling — the key-based split above
  // (q57) follows ids; this follows bytes, so exact duplicates land in
  // or out of the sample TOGETHER regardless of id, and the subset is
  // stable across reruns, engines, and repartitioning (no rand()).
  // Selection compares an md5-prefix lexicographically ('1a'/'100' hex
  // buckets ≈ 10.16%), which both engines compute identically. Per-row
  // hash inside the partial aggregate → one keyed exchange. (A pipeline
  // that only needs the SAMPLE — not this query's per-source rates over
  // the full corpus — applies the same predicate as a plain filter and
  // never materializes the unsampled rows.)
  val q60SampleHash: QueryDef = QueryDef(
    "q60_sample_hash",
    (s, dir) =>
      Tables.load(s, dir, "documents")
        .withColumn("in_sample",
          substring(md5(col("text").cast("binary")), 1, 2) < "1a")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("total"),
          sum(when(col("in_sample"), 1L).otherwise(0L)).as("sampled"))
        .select(col("source"), col("total"), col("sampled"),
          graft.Round4(col("sampled").cast("double") / col("total"))
            .as("rate"))
        .orderBy("source"),
    Some("""SELECT source, COUNT(*) AS total,
           |  CAST(SUM(CASE WHEN substr(md5(text), 1, 2) < '1a'
           |           THEN 1 ELSE 0 END) AS BIGINT) AS sampled,
           |  floor((CAST(SUM(CASE WHEN substr(md5(text), 1, 2) < '1a'
           |              THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*))
           |        * 10000 + 0.5) / 10000 AS rate
           |FROM documents GROUP BY source ORDER BY source""".stripMargin))

  /** q157's manifest pipeline, parameterized by the epoch seed — the
    * spec re-runs it at a different seed to prove the epoch-reshuffle
    * contract (shard populations stable, only intra-shard order moves).
    */
  private[graft] def shardManifest(s: SparkSession, dir: String,
      seed: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val NShards = 8
    val base = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        md5(col("text").cast(BinaryType)).as("fp"))
      .withColumn("ord",
        md5(concat(lit(seed + "|"), col("fp")).cast(BinaryType)))
      .withColumn("shard",
        expr(s"CAST(conv(substring(fp, 1, 2), 16, 10) AS BIGINT)")
          % NShards)
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("ord"), col("doc_id"))
    base
      .withColumn("rk", row_number().over(w))
      .withColumn("ph",
        expr("CAST(conv(substring(md5(CAST(concat(CAST(rk AS STRING), " +
          "':', fp) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_chars")).cast("long").as("chars"),
        bit_xor(col("ph")).as("order_digest"))
      .orderBy("shard")
  }

  // Deterministic training-order shuffle + shard manifest — the
  // pipeline-FINAL step between selection/packing (q71/q147/q148) and
  // a training run: every document gets a stable content-addressed
  // shard and a seeded pseudo-random position inside it, and the
  // manifest proves the ORDER, not just the membership. Mechanics, all
  // engine-identical hex (the q60 contract — no rand(), no engine
  // hash): shard = first md5(text) byte mod 8, so placement follows
  // BYTES (exact duplicates co-locate; reruns, repartitioning, and
  // epoch changes never move a document); intra-shard order =
  // md5(seed | fp) — a new seed string is a fresh uniform permutation
  // of each shard with ZERO data movement, exactly how an epoch
  // reshuffle should work at 100 TB (cf. the global-shuffle discipline
  // of the C4 build, Raffel et al. JMLR'20; shard-manifest layouts as
  // in the public WebDataset design). The per-shard rank window IS the
  // sort the sharded write performs anyway (repartition by shard +
  // sortWithinPartitions(ord) — at cluster scale a range partition on
  // (shard, ord)); the order digest embeds each rank into a per-row
  // hash and folds with bit_xor — order-SENSITIVE yet commutative, so
  // it map-side-combines and never overflows, unlike a sum or a
  // sequential hash chain. Reference analog: the ordered deterministic
  // reads of SURVEY §2 O1/O2, carried through to training-data layout.
  val q157TrainShards: QueryDef = QueryDef(
    "q157_train_shards",
    (s, dir) => shardManifest(s, dir, "epoch0"),
    Some("""WITH base AS (
           |  SELECT doc_id, n_chars, md5(text) AS fp,
           |    md5('epoch0|' || md5(text)) AS ord,
           |    CAST('0x' || substr(md5(text), 1, 2) AS BIGINT) % 8
           |      AS shard
           |  FROM documents),
           |rk AS (
           |  SELECT shard, n_chars,
           |    ROW_NUMBER() OVER (PARTITION BY shard
           |      ORDER BY ord, doc_id) AS rk, fp
           |  FROM base),
           |ph AS (
           |  SELECT shard, n_chars,
           |    CAST('0x' || substr(md5(CAST(rk AS VARCHAR) || ':' || fp),
           |      1, 15) AS BIGINT) AS ph
           |  FROM rk)
           |SELECT shard, COUNT(*) AS docs,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars,
           |  bit_xor(ph) AS order_digest
           |FROM ph GROUP BY shard ORDER BY shard""".stripMargin))

  /** q175's manifest pipeline, parameterized by the epoch seed (the
    * spec's epoch-reshuffle contract, as for [[shardManifest]]).
    */
  private[graft] def tokenShardManifest(s: SparkSession,
      seed: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val NShards = 8
    val merges = graft.Fixtures.bpeMerges(s)
    val base = graft.Fixtures.read(s, graft.Fixtures.bpeCorpusPath)
      .select(col("doc_id"),
        graft.functions.VectorOps.bpeIds(col("text"), merges).as("ids"),
        md5(col("text").cast(BinaryType)).as("fp"))
      .withColumn("ord",
        md5(concat(lit(seed + "|"), col("fp")).cast(BinaryType)))
      .withColumn("shard",
        expr(s"CAST(conv(substring(fp, 1, 2), 16, 10) AS BIGINT)")
          % NShards)
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("ord"), col("doc_id"))
    base
      .withColumn("rk", row_number().over(w))
      .withColumn("idstr",
        array_join(transform(col("ids"), _.cast("string")), ":"))
      .withColumn("ph",
        expr("CAST(conv(substring(md5(CAST(concat(CAST(rk AS STRING), " +
          "':', idstr) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("docs"),
        sum(size(col("ids"))).cast("long").as("tokens"),
        bit_xor(col("ph")).as("ids_digest"))
      .orderBy("shard")
  }

  // Token-ID shard emission — q157's manifest with the BYTES a
  // training run actually consumes: every document's REAL byte-level
  // BPE token-id sequence, computed in-plan by the codegen'd
  // [[graft.plans.BpeEncodeIds]] merge loop, sharded and ordered by
  // q157's content-addressed rules, with the per-shard digest folding
  // each document's (rank, full id sequence). The oracle renders the
  // fixture's COMMITTED reference ids (`bpe_ids`, the trainer's own
  // encoder — the q148 contract one level stronger): a hash match
  // proves the in-row encoder reproduces the reference SEQUENCE
  // id-for-id per document, not merely its length (two wrong merges
  // that cancel in count cannot cancel in the digest). Same plan
  // shape as q157 — one shard-keyed exchange + per-shard rank window
  // (= the sort the sharded write performs anyway) + keyed agg; the
  // id arrays never shuffle more than once, and at 100 TB the same
  // plan writes the shards themselves (repartition(shard) +
  // sortWithinPartitions(ord) through LakehouseSink) with the
  // manifest as its audit.
  val q175TokenShards: QueryDef = QueryDef(
    "q175_token_shards",
    (s, dir) => tokenShardManifest(s, "epoch0"),
    Some(s"""WITH base AS (
           |  SELECT doc_id, bpe_ids, md5(text) AS fp,
           |    md5('epoch0|' || md5(text)) AS ord,
           |    CAST('0x' || substr(md5(text), 1, 2) AS BIGINT) % 8
           |      AS shard
           |  FROM read_parquet('${graft.Fixtures.bpeCorpusPath}')),
           |rk AS (
           |  SELECT shard, bpe_ids,
           |    ROW_NUMBER() OVER (PARTITION BY shard
           |      ORDER BY ord, doc_id) AS rk
           |  FROM base),
           |ph AS (
           |  SELECT shard, len(bpe_ids) AS nt,
           |    CAST('0x' || substr(md5(CAST(rk AS VARCHAR) || ':' ||
           |      array_to_string(bpe_ids, ':')), 1, 15) AS BIGINT)
           |      AS ph
           |  FROM rk)
           |SELECT shard, COUNT(*) AS docs,
           |  CAST(SUM(nt) AS BIGINT) AS tokens,
           |  bit_xor(ph) AS ids_digest
           |FROM ph GROUP BY shard ORDER BY shard""".stripMargin))

  // Packed-sequence emission — the step AFTER q148's packing ledger:
  // the actual fixed-length training rows. q148 assigns whole
  // documents to bins by starting offset (bins overflow at
  // boundaries); real sequence packing SPLITS at the boundary so
  // every emitted row is exactly SeqLen tokens (GPT-style
  // concatenate-and-chunk; the T5/GPT-3 "packing" recipe): each
  // token's global per-lang offset (doc cum_excl + position) div
  // 2048 is its sequence, and the per-sequence digest folds the ids
  // IN OFFSET ORDER, so a hash match proves every sequence's exact
  // token content and order against the committed reference ids.
  // Plan: per-lang doc window (q148's) → posexplode to token rows →
  // ONE (lang, bin)-keyed agg whose collect_list state is bounded by
  // SeqLen (never corpus-sized). Token-level rows are the honest
  // cost: this is the job that WRITES the training file, linear in
  // corpus tokens, keyed exchanges only. n_docs per sequence is the
  // attention-boundary metadata a packed-sequence loader needs
  // (document-causal masking).
  val q178PackedSequences: QueryDef = QueryDef(
    "q178_packed_sequences",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val SeqLen = 2048
      val merges = graft.Fixtures.bpeMerges(s)
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val d = graft.Fixtures.read(s, graft.Fixtures.bpeCorpusPath)
        .select(col("lang"), col("doc_id"),
          graft.functions.VectorOps.bpeIds(col("text"), merges)
            .as("ids"))
        .withColumn("nt", size(col("ids")).cast(LongType))
        .withColumn("cum_excl",
          coalesce(sum(col("nt")).over(w), lit(0L)))
      d.select(col("lang"), col("doc_id"), col("cum_excl"),
          posexplode(col("ids")).as(Seq("pos", "id")))
        .withColumn("off", col("cum_excl") + col("pos"))
        .withColumn("bin", expr(s"off div $SeqLen"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("doc_id")).as("n_docs"),
          md5(array_join(
            transform(array_sort(collect_list(
              struct(col("off"), col("id")))), x =>
              x.getField("id").cast("string")), ":")
            .cast(BinaryType)).as("seq_digest"))
        .orderBy("lang", "bin")
    },
    Some(s"""WITH d AS (
           |  SELECT lang, doc_id, bpe_ids AS ids,
           |    CAST(len(bpe_ids) AS BIGINT) AS nt
           |  FROM read_parquet('${graft.Fixtures.bpeCorpusPath}')),
           |c AS (
           |  SELECT lang, doc_id, ids,
           |    COALESCE(SUM(nt) OVER (PARTITION BY lang ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS cum_excl
           |  FROM d),
           |tok AS (
           |  SELECT lang, doc_id, cum_excl + i - 1 AS off, ids[i] AS id
           |  FROM c, unnest(range(1, len(ids) + 1)) AS u(i))
           |SELECT lang, CAST(off // 2048 AS BIGINT) AS bin,
           |  COUNT(*) AS n_tokens,
           |  COUNT(DISTINCT doc_id) AS n_docs,
           |  md5(string_agg(CAST(id AS VARCHAR), ':' ORDER BY off))
           |    AS seq_digest
           |FROM tok GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin))

  // Exact distribution quantiles of per-document token counts by
  // language — the corpus-length profile every data-mix decision reads
  // (truncation budget, packing efficiency, outlier cut). Spark's
  // `percentile` is the EXACT interpolated quantile (rank p·(n−1),
  // linear between neighbors) — the same definition as the oracle's
  // quantile_cont — not the approximate KLL/GK sketch
  // (`percentile_approx`), which is the right tool at 100 TB but has
  // engine-specific results that can't hash-match an oracle. Exact
  // percentile sorts within each group after one keyed exchange; the
  // sketch swap-in is a one-line change at the agg.
  val q67TokenQuantiles: QueryDef = QueryDef(
    "q67_token_quantiles",
    (s, dir) => {
      val q = expr(
        "percentile(nt, array(0.5D, 0.9D, 0.99D))")
      Tables.load(s, dir, "documents")
        .select(col("lang"),
          size(split(col("text"), " ")).cast(DoubleType).as("nt"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), q.as("q"))
        .select(col("lang"), col("docs"),
          graft.Round4(element_at(col("q"), 1)).as("p50"),
          graft.Round4(element_at(col("q"), 2)).as("p90"),
          graft.Round4(element_at(col("q"), 3)).as("p99"))
        .orderBy("lang")
    },
    Some(s"""SELECT lang, COUNT(*) AS docs,
            |  ${graft.Round4.sql(
               "quantile_cont(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.5)")} AS p50,
            |  ${graft.Round4.sql(
               "quantile_cont(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.9)")} AS p90,
            |  ${graft.Round4.sql(
               "quantile_cont(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.99)")} AS p99
            |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  // Per-document TF-IDF keyword extraction: top-3 terms per document by
  // tf·ln(N/df), deterministic tie-break on the term itself AFTER
  // 4-dp rounding so a sub-1e-4 score difference can never let the two
  // engines disagree on rank order. Plan (the r8 shape): tf is computed
  // entirely IN-ROW by the codegen'd TermCounts expression — the
  // explode → GROUP BY (doc, term) formulation made the engine's
  // largest exchange carry one row per token OCCURRENCE; in-row tf
  // removes that exchange altogether. df is a term-keyed aggregate over
  // the (doc, term) explode of the tf arrays (map-side combined — one
  // row per distinct term) and joins back by BROADCAST, so the big
  // relation never shuffles for the join; corpus N is the usual 1-row
  // broadcast scalar. The only doc-keyed exchange left is the top-3
  // rank window. At 100 TB the df broadcast bounds at vocabulary size —
  // ~10⁷ after the min-df prune every production TF-IDF applies (rare
  // terms can't reach any top-k, so pruning is lossless for this
  // query); if vocabulary must stay unpruned, the join reverts to a
  // term-keyed shuffle join — a config swap, not a shape change.
  val q68Tfidf: QueryDef = QueryDef(
    "q68_tfidf",
    (s, dir) => {
      // pairs feeds three consumers (df, N, the score pass); persist is
      // the Spark spelling of the oracle's materialized tf CTE (a
      // no-persist recompute measured ~20% slower at sf0.1 — the in-row
      // tf is cheap but not 3×-free), and the per-doc term-count arrays
      // are the artifact every TF-IDF pipeline materializes anyway
      // (disk-backed at 100 TB).
      val pairs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.VectorOps.termCounts(lower(col("text")))
            .as("pairs"))
        .transform(graft.Caches.persist)
      val tf = pairs
        .select(col("doc_id"), explode(col("pairs")).as("e"))
        .select(col("doc_id"), col("e.t").as("t"), col("e.tf").as("tf"))
      // df = docs per term: the tf arrays are distinct per doc, so a
      // plain count per term — no DISTINCT aggregation anywhere.
      val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val n = pairs.filter(size(col("pairs")) > 0)
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("s4").desc, col("t"))
      tf.join(broadcast(df), "t").join(broadcast(n))
        .select(col("doc_id"), col("t"),
          graft.Round4(col("tf") *
            log(col("n").cast(DoubleType) / col("df"))).as("s4"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("t").as("term"), col("s4"))
        .orderBy("doc_id", "rk")
    },
    Some("""WITH tk AS (
           |  SELECT doc_id, t FROM (
           |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
           |    FROM documents) u
           |  WHERE t <> ''),
           |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
           |df AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
           |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tk),
           |sc AS (
           |  SELECT tf.doc_id, tf.t,
           |    floor(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) * 10000 + 0.5)
           |      / 10000 AS s4
           |  FROM tf JOIN df ON tf.t = df.t CROSS JOIN n),
           |rk AS (
           |  SELECT doc_id, t, s4,
           |    ROW_NUMBER() OVER (PARTITION BY doc_id
           |                       ORDER BY s4 DESC, t) AS rk
           |  FROM sc)
           |SELECT doc_id, rk, t AS term, s4 FROM rk
           |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),
    bench = true, lowLatency = true)

  // Repetition ratio — the duplicate-n-gram quality rule (the Gopher
  // rules family): fraction of a document's 3-gram occurrences that
  // are repeats, 1 − distinct/total. Distinct counts come FREE from
  // the same in-row native ShingleSet expression the dedup tier uses
  // (no per-doc aggregation, no shuffle at all before the final sort);
  // total is arithmetic on the token count. Embarrassingly parallel —
  // the shape that matters when this gate runs over every crawl dump.
  val q70Repetition: QueryDef = QueryDef(
    "q70_repetition",
    (s, dir) => {
      val w = split(lower(col("text")), " ")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          (size(w) - 2).as("total"),
          size(graft.functions.VectorOps.shingles(lower(col("text")), 3))
            .as("uniq"))
        .filter(col("total") > 0)
        .select(col("doc_id"), col("total"), col("uniq"),
          graft.Round4(lit(1.0) -
            col("uniq").cast(DoubleType) / col("total")).as("rep_ratio"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS w
           |  FROM documents
           |  WHERE len(string_split(lower(text), ' ')) >= 3),
           |sh AS (
           |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
           |  FROM (SELECT doc_id, w, unnest(range(1, len(w)-1)) AS i
           |        FROM tok) u),
           |d AS (SELECT doc_id, COUNT(*) AS uniq FROM sh GROUP BY doc_id)
           |SELECT t.doc_id, len(t.w) - 2 AS total, d.uniq,
           |  floor((1.0 - CAST(d.uniq AS DOUBLE) / (len(t.w) - 2))
           |        * 10000 + 0.5) / 10000 AS rep_ratio
           |FROM tok t JOIN d ON t.doc_id = d.doc_id
           |ORDER BY t.doc_id""".stripMargin))

  /** Per-document Gopher-rule signal frame shared by the q117 gate,
    * the distilled-classifier trainer
    * ([[graft.tools.TrainQualityClassifier]] — the teacher labels),
    * and q166's agreement report: doc_id, lang, source, ltext
    * (lowercased text), nt, stops, uniq, awl, the four rule booleans
    * and their conjunction `pass`. ONE Spark helper + ONE oracle CTE
    * chain ([[GopherDocSql]]) so the gate and every consumer of its
    * labels cannot drift. Rule math is engine-exact by construction:
    * counts and boolean sums are integers; the repetition bound is
    * cross-multiplied into integer space (1 − uniq/total ≤ 0.2 ⇔
    * 5·uniq ≥ 4·total — no float at the decision boundary); the only
    * float compare (mean word length) is one IEEE division computed
    * identically in both engines. Per-doc work is in-row (codegen'd
    * ShingleSet for uniq) — unused columns prune at the consumer.
    */
  private[graft] def gopherDoc(s: SparkSession, dir: String): DataFrame =
    gopherCols(s, Tables.load(s, dir, "documents"))

  /** [[gopherDoc]] over ANY documents-shaped relation (needs doc_id,
    * lang, source, n_chars, text) — the streaming gate (q172) applies
    * the same rule columns to a micro-batch plan.
    */
  private[graft] def gopherCols(s: SparkSession, d: DataFrame): DataFrame = {
    val w = split(lower(col("text")), " ")
    d
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        lower(col("text")).as("ltext"),
        size(w).as("nt"),
        (array_contains(w, "the").cast(IntegerType) +
          array_contains(w, "a").cast(IntegerType) +
          array_contains(w, "of").cast(IntegerType)).as("stops"),
        size(graft.functions.VectorOps.shingles(lower(col("text")), 3))
          .as("uniq"))
      .withColumn("r_len", col("nt") >= 20 && col("nt") <= 80)
      .withColumn("awl", col("n_chars").cast(DoubleType) / col("nt"))
      .withColumn("r_awl", col("awl") >= 3.0 && col("awl") <= 10.0)
      .withColumn("r_stop", col("stops") >= 2)
      .withColumn("r_rep", col("nt") > 2 &&
        lit(5) * col("uniq") >= lit(4) * (col("nt") - 2))
      .withColumn("pass", col("r_len") && col("r_awl") &&
        col("r_stop") && col("r_rep"))
  }

  /** [[gopherDoc]]'s oracle half: CTE chain ending in `gd` with the
    * same per-doc columns (booleans included). Interpolate after WITH.
    */
  private[graft] lazy val GopherDocSql: String =
    """tok AS (
      |  SELECT doc_id, lang, source, n_chars,
      |    string_split(lower(text), ' ') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |  FROM (SELECT doc_id, w, unnest(range(1, len(w)-1)) AS i
      |        FROM tok WHERE len(w) >= 3) u),
      |u AS (SELECT doc_id, COUNT(*) AS uniq FROM sh GROUP BY doc_id),
      |gd AS (
      |  SELECT doc_id, lang, source, n_chars, nt, stops, uniq, awl,
      |    r_len, r_awl, r_stop, r_rep,
      |    (r_len AND r_awl AND r_stop AND r_rep) AS pass
      |  FROM (
      |    SELECT t.doc_id, t.lang, t.source, t.n_chars,
      |      len(t.w) AS nt,
      |      (CASE WHEN list_contains(t.w, 'the') THEN 1 ELSE 0 END +
      |       CASE WHEN list_contains(t.w, 'a') THEN 1 ELSE 0 END +
      |       CASE WHEN list_contains(t.w, 'of') THEN 1 ELSE 0 END)
      |        AS stops,
      |      COALESCE(u.uniq, 0) AS uniq,
      |      CAST(t.n_chars AS DOUBLE) / len(t.w) AS awl,
      |      (len(t.w) BETWEEN 20 AND 80) AS r_len,
      |      (CAST(t.n_chars AS DOUBLE) / len(t.w) >= 3.0 AND
      |       CAST(t.n_chars AS DOUBLE) / len(t.w) <= 10.0) AS r_awl,
      |      (CASE WHEN list_contains(t.w, 'the') THEN 1 ELSE 0 END +
      |       CASE WHEN list_contains(t.w, 'a') THEN 1 ELSE 0 END +
      |       CASE WHEN list_contains(t.w, 'of') THEN 1 ELSE 0 END) >= 2
      |        AS r_stop,
      |      (len(t.w) > 2 AND
      |       5 * COALESCE(u.uniq, 0) >= 4 * (len(t.w) - 2)) AS r_rep
      |    FROM tok t LEFT JOIN u ON t.doc_id = u.doc_id) q)""".stripMargin

  // Composite quality gate — the Gopher-rules family AS A GATE (the
  // filter a curation pipeline actually applies before training),
  // composing the individually-proven signals: token-count window,
  // mean-word-length window, stopword presence, duplicate-3-gram
  // repetition. Per-(lang, source) accounting of every rule plus the
  // conjunction, so a mix owner sees WHICH rule bites where. Per-doc
  // signals come from the shared [[gopherDoc]] helper (one keyed agg
  // on top); determinism rationale lives on the helper.
  val q117GopherGate: QueryDef = QueryDef(
    "q117_gopher_gate",
    (s, dir) => {
      def cnt(c: Column, name: String) =
        sum(when(c, 1L).otherwise(0L)).as(name)
      gopherDoc(s, dir).groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("docs"),
          cnt(col("r_len"), "pass_len"),
          cnt(col("r_awl"), "pass_awl"),
          cnt(col("r_stop"), "pass_stop"),
          cnt(col("r_rep"), "pass_rep"),
          cnt(col("pass"), "pass_all"))
        .orderBy("lang", "source")
    },
    Some(s"""WITH $GopherDocSql
           |SELECT lang, source, COUNT(*) AS docs,
           |  CAST(SUM(CASE WHEN r_len THEN 1 ELSE 0 END) AS BIGINT)
           |    AS pass_len,
           |  CAST(SUM(CASE WHEN r_awl THEN 1 ELSE 0 END) AS BIGINT)
           |    AS pass_awl,
           |  CAST(SUM(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT)
           |    AS pass_stop,
           |  CAST(SUM(CASE WHEN r_rep THEN 1 ELSE 0 END) AS BIGINT)
           |    AS pass_rep,
           |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
           |    AS pass_all
           |FROM gd GROUP BY lang, source ORDER BY lang, source""".stripMargin))

  // Sequence packing — assign documents to fixed-token-budget context
  // bins (the pretraining "packing" step that turns a corpus into
  // near-full training sequences). Greedy in doc_id order per
  // language: a doc goes in the bin its EXCLUSIVE running token sum
  // falls in, so bin boundaries are a pure function of the ordered
  // prefix sums — deterministic in both engines, no serial packer
  // loop. Per-(lang, bin) fill accounting closes the loop (the metric
  // a packing run is judged by). The per-lang running sum is a single
  // ordered window — at 100 TB the same query runs per (lang, shard)
  // so no one reducer sees a whole language; the bin math is
  // shard-local either way (documented serial→parallel tradeoff).
  val q71PackBins: QueryDef = QueryDef(
    "q71_pack_bins",
    (s, dir) => {
      val BinTokens = 2048
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      Tables.load(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("nt"))
        .withColumn("cum_excl",
          coalesce(sum(col("nt")).over(w), lit(0L)))
        // integer division on BOTH sides: DuckDB's CAST(x AS BIGINT)
        // rounds-half-away while Spark's cast truncates, so a float
        // divide + cast would disagree on exact-boundary prefix sums
        .withColumn("bin", expr(s"cum_excl div $BinTokens"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("docs"), sum(col("nt")).as("tokens"),
          graft.Round4(sum(col("nt")).cast(DoubleType) / BinTokens)
            .as("fill"))
        .orderBy("lang", "bin")
    },
    Some("""WITH d AS (
           |  SELECT lang, doc_id,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
           |  FROM documents),
           |c AS (
           |  SELECT lang, doc_id, nt,
           |    COALESCE(SUM(nt) OVER (PARTITION BY lang ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS cum_excl
           |  FROM d)
           |SELECT lang, CAST(cum_excl // 2048 AS BIGINT) AS bin,
           |  COUNT(*) AS docs, CAST(SUM(nt) AS BIGINT) AS tokens,
           |  floor((CAST(SUM(nt) AS DOUBLE) / 2048) * 10000 + 0.5)
           |    / 10000 AS fill
           |FROM c GROUP BY lang, CAST(cum_excl // 2048 AS BIGINT)
           |ORDER BY lang, bin""".stripMargin),
    bench = true, lowLatency = true)

  // Data-mix rebalancing — downsample every source to the size of the
  // smallest one (a balanced mix), selecting WHICH documents survive
  // content-addressed: per source, the docs with the lexicographically
  // lowest md5(text) win (ties by doc_id). Pure function of the data —
  // reproducible across engines, reruns and repartitioning, and exact
  // duplicates keep identical sampling fate (the q60 property, now
  // with a data-dependent per-group budget). The budget (min source
  // count) is an aggregate joined on as a broadcast 1-row relation.
  // Per-source selection is a keyed window sort here (exact); at
  // 100 TB the same semantics run as threshold selection — approximate
  // the per-source md5 cutoff from a sample, filter, then trim — so no
  // reducer ever sorts a whole source.
  val q75MixRebalance: QueryDef = QueryDef(
    "q75_mix_rebalance",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          md5(col("text").cast(BinaryType)).as("h"))
      val counts = d.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
      val target = counts.agg(min(col("cnt")).as("tgt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      d.withColumn("rn", row_number().over(w))
        .join(broadcast(target))
        .filter(col("rn") <= col("tgt"))
        .select(col("source"), col("rn"), col("doc_id"))
        .orderBy("source", "rn")
    },
    Some("""WITH h AS (
           |  SELECT source, doc_id, md5(text) AS h FROM documents),
           |c AS (SELECT source, COUNT(*) AS cnt FROM documents
           |      GROUP BY source),
           |t AS (SELECT MIN(cnt) AS tgt FROM c),
           |r AS (
           |  SELECT source, doc_id,
           |    ROW_NUMBER() OVER (PARTITION BY source
           |                       ORDER BY h, doc_id) AS rn
           |  FROM h)
           |SELECT source, rn, doc_id FROM r CROSS JOIN t
           |WHERE rn <= tgt ORDER BY source, rn""".stripMargin))

  // Temperature-weighted corpus mixing — the pretraining-mix sampler
  // (p_i ∝ n_i^α): upweight small sources relative to their raw share
  // so a dominant crawl doesn't drown the curated tail. α = 0.5
  // (square-root smoothing, the multilingual-mix standard) is chosen
  // deliberately over 0.7: IEEE `sqrt` is correctly rounded in BOTH
  // engines while `pow(x, 0.7)` is not, so the floor() at the take
  // boundary can never flip on a last-ulp difference — the
  // hash-stability requirement every cross-engine float expression
  // here obeys. Selection is q75's content-addressed determinism: the
  // lowest (md5(text), doc_id) ranks win, so re-runs and engines agree
  // row for row. Plan: source-count agg (tiny) → 1-row broadcast
  // consts (Σ√n, total, budget) → per-source take → broadcast join →
  // ONE source-keyed rank window over the corpus → filter. At 100 TB
  // the window swaps for [[thresholdSelect]]'s sampled-threshold arm
  // (the executable form of the swap q75 documents — q147 runs it);
  // q115 keeps the window because its OUTPUT includes each survivor's
  // rank, which inherently orders the selected set. The weights math
  // is already scale-free.
  val q115MixTemperature: QueryDef = QueryDef(
    "q115_mix_temperature",
    (s, dir) => {
      // the hashed projection feeds both the counts agg and the rank
      // window — persist so the corpus md5 pass runs once (the 100 TB
      // materialization every sampler run writes anyway)
      val d = graft.Caches.persist(Tables.load(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          md5(col("text").cast(BinaryType)).as("h")))
      // ONE shared µunit budget spelling — see [[alphaBudget]]. The
      // old double spelling (floor(budget·√n/Σ√n)) sat EXACTLY on an
      // integer boundary whenever per-source counts tie — this
      // fixture's uniform generator makes that the common case, and
      // an r12 sf0.1 sweep caught Spark's order-sensitive Σ√cnt
      // flooring to 125 where DuckDB's floored to 124.
      val counts = d.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
      val takes = alphaBudget(counts, "cnt", "take")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      d.withColumn("rn", row_number().over(w))
        .join(broadcast(takes), Seq("source"))
        .filter(col("rn") <= col("take"))
        .select(col("source"), col("rn"), col("doc_id"))
        .orderBy("source", "rn")
    },
    Some(s"""WITH h AS (
            |  SELECT source, doc_id, md5(text) AS h FROM documents),
            |c AS (SELECT source, COUNT(*) AS cnt,
            |        ${alphaWuSql("COUNT(*)")} AS wu
            |      FROM documents GROUP BY source),
            |${alphaKCte("cnt")},
            |t AS (
            |  SELECT source, cnt, ${alphaTakeSql("cnt")} AS take
            |  FROM c CROSS JOIN k),
           |r AS (
           |  SELECT source, doc_id,
           |    ROW_NUMBER() OVER (PARTITION BY source
           |                       ORDER BY h, doc_id) AS rn
           |  FROM h)
           |SELECT r.source AS source, rn, doc_id FROM r
           |JOIN t ON r.source = t.source
           |WHERE rn <= t.take ORDER BY r.source, rn""".stripMargin))

  // DoReMi-style domain reweighting — the loss-aware mix update that
  // static temperature mixes (q108/q115) cannot express: domains whose
  // text the reference model finds HARDER than the corpus average get
  // up-weighted (Xie et al., DoReMi, NeurIPS'23: α_i ∝ α_ref,i ·
  // exp(η · excess_loss_i), here η = 1, α_ref = the domain's token
  // share). The proxy-model per-domain loss is stood in for by the
  // corpus's own unigram cross-entropy (q99's bits-per-token, here
  // token-weighted per source) — honestly a stand-in: a production run
  // plugs per-domain held-out losses from the proxy model into the
  // SAME relational update, which is the part an engine owns. Cost:
  // one corpus token pass joined against the broadcast unigram model,
  // ONE keyed agg to |sources| rows, then pure arithmetic on that tiny
  // relation (self-agg cross joins, never a corpus-sized exchange).
  // The token allocation derives from the ROUNDED weight so the floor
  // at the budget boundary cannot diverge on an engine's last ulp.
  val q161DomainReweight: QueryDef = QueryDef(
    "q161_domain_reweight",
    (s, dir) => {
      val toks = unigramToks(s, dir)
      val uniN = unigramModel(toks)
      val per = toks.join(uniN, Seq("t"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("toks"),
          sum(-log2(col("c").cast(DoubleType) / col("n"))).as("sb"))
        .transform(graft.Caches.persist) // tiny; self-agg consumers
      val tot = broadcast(per.agg(sum(col("toks")).as("tt"),
        sum(col("sb")).as("tsb")))
      val w = per.crossJoin(tot)
        .withColumn("share", col("toks").cast(DoubleType) / col("tt"))
        .withColumn("bits", col("sb") / col("toks"))
        .withColumn("excess",
          greatest(lit(0d), col("bits") - col("tsb") / col("tt")))
        .withColumn("wr", col("share") * exp(col("excess")))
        .transform(graft.Caches.persist)
      val z = broadcast(w.agg(sum(col("wr")).as("z")))
      w.crossJoin(z)
        .withColumn("weight4", graft.Round4(col("wr") / col("z")))
        .select(col("source"), col("toks"),
          graft.Round4(col("share")).as("share4"),
          graft.Round4(col("bits")).as("bits4"),
          graft.Round4(col("excess")).as("excess4"),
          col("weight4"),
          floor(lit(MixBudget) * col("weight4") + 0.5d).cast("long")
            .as("alloc_tokens"))
        .orderBy("source")
    },
    Some(s"""WITH $unigramOracleCtes,
            |per AS (
            |  SELECT source, COUNT(*) AS toks,
            |    SUM(-LOG2(CAST(uni.c AS DOUBLE) / n.n)) AS sb
            |  FROM toks JOIN uni USING (t) CROSS JOIN n
            |  GROUP BY source),
            |tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS tt,
            |               SUM(sb) AS tsb FROM per),
            |w AS (
            |  SELECT source, toks,
            |    CAST(toks AS DOUBLE) / tt AS share,
            |    sb / toks AS bits,
            |    GREATEST(0, sb / toks - tsb / tt) AS excess,
            |    CAST(toks AS DOUBLE) / tt
            |      * EXP(GREATEST(0, sb / toks - tsb / tt)) AS wr
            |  FROM per CROSS JOIN tot),
            |z AS (SELECT SUM(wr) AS z FROM w)
            |SELECT source, CAST(toks AS BIGINT) AS toks,
            |  ${graft.Round4.sql("share")} AS share4,
            |  ${graft.Round4.sql("bits")} AS bits4,
            |  ${graft.Round4.sql("excess")} AS excess4,
            |  ${graft.Round4.sql("wr / z.z")} AS weight4,
            |  CAST(FLOOR(${MixBudget.toLong}
            |    * (${graft.Round4.sql("wr / z.z")}) + 0.5) AS BIGINT)
            |    AS alloc_tokens
            |FROM w CROSS JOIN z ORDER BY source""".stripMargin))

  // CCNet-style language-model perplexity buckets — the famous
  // head/middle/tail split (Wenzek et al., CCNet, LREC'20): within
  // each language, documents are bucketed by LM perplexity tertiles;
  // "head" (lowest perplexity = most Wikipedia-like) feeds the
  // highest-quality tier, and many pipelines train only on head +
  // middle. The LM is stood in by the corpus's own unigram model
  // (q99's bits-per-token) — the same train-offline/apply-in-plan
  // contract as TrainCentroids/TrainBpe would carry a real KenLM.
  // Shape: one corpus token pass → per-doc bits → per-lang EXACT
  // interpolated tertile cutpoints (Spark `percentile` ≡ oracle
  // quantile_cont, q67's precedent) broadcast back over the per-doc
  // relation → stateless CASE bucketing + one keyed agg. The
  // cutpoints run through [[Cutpoints.cutpointOf]], the size-guarded
  // dispatcher: the fixture corpus plans the exact percentile arm, a
  // 100 TB corpus plans the sketch-banded arm whose only corpus-wide
  // aggregate is a mergeable GK sketch (no per-group value buffer) —
  // both arms bit-equal (CutpointSpec), and downstream is unchanged
  // either way: cutpoints are a langs×2-value broadcast.
  val q162CcnetBuckets: QueryDef = QueryDef(
    "q162_ccnet_buckets",
    (s, dir) => {
      val toks = unigramToks(s, dir)
      val uniN = unigramModel(toks)
      // per-doc bits floor to integer µbits BEFORE the cutpoint /
      // bucket comparisons — q137's µunit discipline: the ONE
      // remaining float surface is this per-doc floor (the AVG inside
      // is still an order-sensitive double sum, so a doc whose
      // avg·1e6+0.5 sits within an ulp of an integer can still round
      // differently — a ~1e-10-wide window per doc); every compare
      // AFTER it (cutpoint interpolation inputs, bucket boundaries)
      // runs on integers, which is where the old spelling exposed
      // every doc to every cut on raw doubles
      val perDoc = toks.join(uniN, Seq("t"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(floor(avg(-log2(col("c").cast(DoubleType) / col("n")))
          * 1e6 + 0.5d).as("bu"))
        .transform(graft.Caches.persist) // cutpoint + bucket consumers
      val cuts = Cutpoints.cutpointOf(
        perDoc, Seq("lang"), "bu", Seq(1.0 / 3, 2.0 / 3))
      perDoc.join(broadcast(cuts), Seq("lang"))
        .withColumn("bucket",
          when(col("bu") <= col("cut0"), "head")
            .when(col("bu") <= col("cut1"), "middle")
            .otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("docs"),
          graft.Round4(min(col("bu")).cast(DoubleType) / 1e6)
            .as("min_bits"),
          graft.Round4(max(col("bu")).cast(DoubleType) / 1e6)
            .as("max_bits"))
        .orderBy("lang", "bucket")
    },
    Some(s"""WITH $unigramOracleCtes,
            |pd AS (
            |  SELECT toks.doc_id, toks.lang,
            |    CAST(FLOOR(AVG(-LOG2(CAST(uni.c AS DOUBLE) / n.n))
            |      * 1000000 + 0.5) AS BIGINT) AS bu
            |  FROM toks JOIN uni USING (t) CROSS JOIN n
            |  GROUP BY 1, 2),
            |cu AS (
            |  SELECT lang, quantile_cont(bu, 1.0 / 3) AS c1,
            |         quantile_cont(bu, 2.0 / 3) AS c2
            |  FROM pd GROUP BY lang)
            |SELECT pd.lang,
            |  CASE WHEN bu <= c1 THEN 'head'
            |       WHEN bu <= c2 THEN 'middle'
            |       ELSE 'tail' END AS bucket,
            |  COUNT(*) AS docs,
            |  ${graft.Round4.sql("CAST(MIN(bu) AS DOUBLE) / 1000000")}
            |    AS min_bits,
            |  ${graft.Round4.sql("CAST(MAX(bu) AS DOUBLE) / 1000000")}
            |    AS max_bits
            |FROM pd JOIN cu ON pd.lang = cu.lang
            |GROUP BY 1, 2 ORDER BY pd.lang, bucket""".stripMargin))

  // DSIR-style importance-weighted selection (Xie et al., "Data
  // Selection for Language Models via Importance Resampling",
  // NeurIPS'23): score every raw document by how much more likely a
  // TARGET-domain language model finds its tokens than the raw-corpus
  // model — w(x) = p_target(x)/p_raw(x), here the per-token average
  // log2 ratio under unigram models (DSIR's hashed-ngram features at
  // their n=1 point; the target slice is the src0 sub-corpus, the
  // "give me more like THIS" reference a real run points at
  // Wikipedia). Target counts are Laplace-smoothed over the raw
  // vocabulary (raw-only tokens would otherwise hit log 0); raw
  // counts need no smoothing (every corpus token has c ≥ 1).
  // Selection = score above the corpus's 80th percentile — the q111
  // broadcast-cutpoint discipline, so the at-scale swap is the same
  // approx-sketch one-liner. Output is the per-source acceptance
  // audit: the target source must dominate its own reference
  // distribution (pinned in DsirSelectSpec) — if it doesn't, the
  // ratio is inverted or a model is misnormalized. Cost: one corpus
  // token pass against ONE broadcast unigram relation carrying both
  // models' counts, one doc-sized agg, tiny-relation cutpoint.
  val q163DsirSelect: QueryDef = QueryDef(
    "q163_dsir_select",
    (s, dir) => {
      val TargetSrc = "src0"
      // toks persists here (unlike q99/q161/q162): THREE consumers —
      // raw counts, target counts, scoring — would otherwise be three
      // corpus tokenize passes; at 100 TB this persist trades a
      // corpus-sized disk-backed cache for one scan, a documented
      // judgment call (the alternative: re-scan, keep only the two
      // vocab-sized count relations cached)
      val toks = graft.Caches.persist(unigramToks(s, dir))
      val model = dsirModel(toks, TargetSrc)
      // µunit importance weights (q137 discipline): one floor per doc,
      // then the cutpoint and the selection compare integers
      val perDoc = toks.join(model, Seq("t"))
        .groupBy(col("doc_id"), col("source"))
        .agg(floor(avg(
          log2((col("ct") + 1L).cast(DoubleType) /
            (col("ntt") + col("v")).cast(DoubleType)) -
            log2(col("cr").cast(DoubleType) / col("nr").cast(DoubleType)))
          * 1e6 + 0.5d).as("iwu"))
        .transform(graft.Caches.persist) // cutpoint + audit consumers
      // global 80th-pct cutpoint through the size-guarded dispatcher
      // (exact arm at fixture scale, sketch-banded exact arm at 100 TB)
      val cut = broadcast(Cutpoints.cutpointOf(
        perDoc, Nil, "iwu", Seq(0.8))
        .withColumnRenamed("cut0", "c80"))
      perDoc.crossJoin(cut)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          graft.Round4(avg(col("iwu").cast(DoubleType) / 1e6))
            .as("avg_iw"),
          sum(when(col("iwu") > col("c80"), 1L).otherwise(0L))
            .as("selected"))
        .select(col("source"), col("docs"), col("avg_iw"),
          col("selected"),
          graft.Round4(col("selected").cast(DoubleType) / col("docs"))
            .as("sel_rate"))
        .orderBy("source")
    },
    Some(s"""WITH $unigramOracleCtes,
            |$dsirModelOracleCtes,
            |pd AS (
            |  SELECT toks.doc_id, toks.source,
            |    CAST(FLOOR(AVG(LOG2(CAST(ct + 1 AS DOUBLE) / (ntt + v))
            |        - LOG2(CAST(cr AS DOUBLE) / nr))
            |      * 1000000 + 0.5) AS BIGINT) AS iwu
            |  FROM toks JOIN model ON toks.t = model.t
            |  GROUP BY 1, 2),
            |cu AS (SELECT quantile_cont(iwu, 0.8) AS c80 FROM pd)
            |SELECT source, COUNT(*) AS docs,
            |  ${graft.Round4.sql("AVG(CAST(iwu AS DOUBLE) / 1000000)")}
            |    AS avg_iw,
            |  CAST(SUM(CASE WHEN iwu > cu.c80 THEN 1 ELSE 0 END)
            |    AS BIGINT) AS selected,
            |  ${graft.Round4.sql(
              "CAST(SUM(CASE WHEN iwu > cu.c80 THEN 1 ELSE 0 END) " +
                "AS DOUBLE) / COUNT(*)")} AS sel_rate
            |FROM pd CROSS JOIN cu
            |GROUP BY source ORDER BY source""".stripMargin))

  // Modern selection-pipeline capstone — the 2023-era data-curation
  // stack composed as ONE Catalyst plan, complementing q147's classic
  // build (gate → dedup → decontam → budget → pack): CCNet perplexity
  // gate (q162: drop each language's hardest tertile) → DSIR
  // importance selection (q163: keep survivors above the 80th-pct
  // log-ratio vs the src0 reference) → α=0.5 TOKEN budget per
  // language (q115/q153's µunit integer arithmetic) →
  // content-addressed greedy token-prefix selection (q153's cum_excl
  // semantics on md5 order) → 2048-token packing ledger. The
  // composition discipline that makes it one plan and not five jobs:
  // BOTH per-doc metrics (µbits for the gate, µunit log-ratio for
  // DSIR) fold in a SINGLE corpus token pass against ONE combined
  // broadcast model relation (raw counts + smoothed target counts +
  // constants) — the second metric costs zero extra scans or
  // exchanges; every cutpoint is a broadcast scalar/langs-sized
  // relation; every comparison after the per-doc µunit floors is
  // integer (the floors themselves are the only residual float
  // rounding — see q162's note on the narrowed-but-nonzero window).
  val q165ModernPipeline: QueryDef = QueryDef(
    "q165_modern_pipeline",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val TargetSrc = "src0"
      val toks = graft.Caches.persist(unigramToks(s, dir))
      val model = dsirModel(toks, TargetSrc)
      // ONE pass: µbits (gate metric), µunit log-ratio (DSIR metric),
      // and the whitespace token count (budget denomination)
      val perDoc = graft.Caches.persist(toks.join(model, Seq("t"))
        .groupBy(col("doc_id"), col("lang"), col("source"))
        .agg(
          floor(avg(-log2(col("cr").cast(DoubleType) / col("nr")))
            * 1e6 + 0.5d).as("bu"),
          floor(avg(
            log2((col("ct") + 1L).cast(DoubleType) /
              (col("ntt") + col("v")).cast(DoubleType)) -
              log2(col("cr").cast(DoubleType) /
                col("nr").cast(DoubleType)))
            * 1e6 + 0.5d).as("iwu"),
          count(lit(1)).as("nt")))
      // CCNet gate: keep head+middle of each language — cutpoints
      // through the size-guarded dispatcher (exact arm here, sketch-
      // banded exact arm at 100 TB; CutpointSpec pins bit-equality)
      val cuts = Cutpoints.cutpointOf(
        perDoc, Seq("lang"), "bu", Seq(2.0 / 3))
        .withColumnRenamed("cut0", "c2")
      val gated = perDoc.join(broadcast(cuts), Seq("lang"))
        .filter(col("bu") <= col("c2"))
        .transform(graft.Caches.persist) // dsir cut + keep + counts
      // DSIR selection over the gated survivors
      val c80 = broadcast(Cutpoints.cutpointOf(
        gated, Nil, "iwu", Seq(0.8))
        .withColumnRenamed("cut0", "c80"))
      val kept = gated.crossJoin(c80).filter(col("iwu") > col("c80"))
        .join(Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            md5(col("text").cast(BinaryType)).as("hh")), Seq("doc_id"))
        .transform(graft.Caches.persist) // budget counts + selection
      // α=0.5 token budget — the ONE shared µunit spelling
      val counts = kept.groupBy(col("lang"))
        .agg(count(lit(1)).as("dsir_kept"),
          sum(col("nt")).as("lang_tokens"))
      val takes = alphaBudget(counts, "lang_tokens", "tok_budget")
      // content-addressed greedy token prefix — through the
      // size-guarded dispatcher (q153's discipline): the fixture
      // corpus plans the exact window arm, a 100 TB lang plans the
      // sampled-threshold arm with no per-lang full sort
      val sel = thresholdSelectTokens(kept, "lang", "hh", "doc_id",
        "nt", takes.select(col("lang"), col("tok_budget").as("budget")))
      val packed = sel.groupBy(col("lang"))
        .agg(count(lit(1)).as("selected"),
          sum(col("nt")).as("sel_tokens"),
          expr("CAST((sum(nt) + 2047) div 2048 AS BIGINT)").as("bins"))
      val gatedC = gated.groupBy(col("lang"))
        .agg(count(lit(1)).as("gated"))
      val totalC = perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"))
      // LEFT joins from the full per-lang universe: a language whose
      // gated docs all fall below the global DSIR cutpoint (or whose
      // budget floors to 0) must still report its funnel counts with
      // zeros, not vanish from the audit
      totalC.join(gatedC, Seq("lang"), "left")
        .join(takes, Seq("lang"), "left")
        .join(packed, Seq("lang"), "left")
        .select(col("lang"), col("docs"),
          coalesce(col("gated"), lit(0L)).as("gated"),
          coalesce(col("dsir_kept"), lit(0L)).as("dsir_kept"),
          coalesce(col("lang_tokens"), lit(0L)).as("lang_tokens"),
          coalesce(col("tok_budget"), lit(0L)).as("tok_budget"),
          coalesce(col("selected"), lit(0L)).as("selected"),
          coalesce(col("sel_tokens"), lit(0L)).as("sel_tokens"),
          coalesce(col("bins"), lit(0L)).as("bins"))
        .orderBy("lang")
    },
    Some(s"""WITH $unigramOracleCtes,
            |$dsirModelOracleCtes,
            |pd AS (
            |  SELECT toks.doc_id, toks.lang, toks.source,
            |    CAST(FLOOR(AVG(-LOG2(CAST(cr AS DOUBLE) / nr))
            |      * 1000000 + 0.5) AS BIGINT) AS bu,
            |    CAST(FLOOR(AVG(LOG2(CAST(ct + 1 AS DOUBLE) / (ntt + v))
            |        - LOG2(CAST(cr AS DOUBLE) / nr))
            |      * 1000000 + 0.5) AS BIGINT) AS iwu,
            |    COUNT(*) AS nt
            |  FROM toks JOIN model ON toks.t = model.t
            |  GROUP BY 1, 2, 3),
            |cu AS (SELECT lang, quantile_cont(bu, 2.0 / 3) AS c2
            |       FROM pd GROUP BY lang),
            |gated AS (
            |  SELECT pd.* FROM pd JOIN cu ON pd.lang = cu.lang
            |  WHERE bu <= c2),
            |c80 AS (SELECT quantile_cont(iwu, 0.8) AS c80 FROM gated),
            |kept AS (
            |  SELECT g.*, md5(d.text) AS hh
            |  FROM gated g CROSS JOIN c80
            |  JOIN documents d ON g.doc_id = d.doc_id
            |  WHERE g.iwu > c80.c80),
            |c AS (
            |  SELECT lang, COUNT(*) AS dsir_kept,
            |    CAST(SUM(nt) AS BIGINT) AS lang_tokens,
            |    ${alphaWuSql("SUM(nt)")} AS wu
            |  FROM kept GROUP BY lang),
            |${alphaKCte("lang_tokens")},
            |t AS (
            |  SELECT lang, dsir_kept, lang_tokens,
            |    ${alphaTakeSql("lang_tokens")} AS tok_budget
            |  FROM c CROSS JOIN k),
            |r AS (
            |  SELECT lang, doc_id, nt, hh,
            |    COALESCE(SUM(nt) OVER (PARTITION BY lang
            |      ORDER BY hh, doc_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |      AS cum_excl
            |  FROM kept),
            |sel AS (SELECT r.* FROM r JOIN t ON r.lang = t.lang
            |        WHERE cum_excl < t.tok_budget),
            |p AS (
            |  SELECT lang, COUNT(*) AS selected,
            |    CAST(SUM(nt) AS BIGINT) AS sel_tokens,
            |    CAST((CAST(SUM(nt) AS BIGINT) + 2047) // 2048
            |      AS BIGINT) AS bins
            |  FROM sel GROUP BY lang),
            |gc AS (SELECT lang, COUNT(*) AS gated FROM gated
            |       GROUP BY lang),
            |tc AS (SELECT lang, COUNT(*) AS docs FROM pd GROUP BY lang)
            |SELECT tc.lang, tc.docs,
            |  CAST(COALESCE(gc.gated, 0) AS BIGINT) AS gated,
            |  CAST(COALESCE(t.dsir_kept, 0) AS BIGINT) AS dsir_kept,
            |  CAST(COALESCE(t.lang_tokens, 0) AS BIGINT) AS lang_tokens,
            |  CAST(COALESCE(t.tok_budget, 0) AS BIGINT) AS tok_budget,
            |  CAST(COALESCE(p.selected, 0) AS BIGINT) AS selected,
            |  CAST(COALESCE(p.sel_tokens, 0) AS BIGINT) AS sel_tokens,
            |  CAST(COALESCE(p.bins, 0) AS BIGINT) AS bins
            |FROM tc LEFT JOIN gc ON tc.lang = gc.lang
            |LEFT JOIN t ON tc.lang = t.lang
            |LEFT JOIN p ON tc.lang = p.lang
            |ORDER BY tc.lang""".stripMargin))

  // Column profiling — the ANALYZE-style statistics pass every engine
  // ships (null rate, distinct count, min/max per column), computed in
  // ONE scan: all per-column aggregates run in a single agg (Catalyst
  // plans the multi-distinct via one Expand — rows × #distinct-cols —
  // still one pass over storage), then the single wide row unpivots to
  // one row per column via stack(). Values serialize as strings so one
  // result schema profiles any table. At 100 TB the exact
  // count_distinct swaps to approx_count_distinct (HLL, no Expand) —
  // same one-liner swap as q67's sketch note.
  val q77Profile: QueryDef = QueryDef(
    "q77_profile",
    (s, dir) => {
      val cols = Seq("doc_id", "lang", "source", "n_chars", "text")
      val aggs = cols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          countDistinct(col(c)).as(s"${c}_nd"),
          min(col(c)).cast(StringType).as(s"${c}_min"),
          max(col(c)).cast(StringType).as(s"${c}_max"))
      }
      val wide = Tables.load(s, dir, "documents")
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
      val stackExpr = cols.map(c =>
        s"'$c', n_rows, ${c}_nulls, ${c}_nd, ${c}_min, ${c}_max")
        .mkString(s"stack(${cols.size}, ", ", ",
          ") AS (col_name, n_rows, n_nulls, n_distinct, min_s, max_s)")
      wide.select(expr(stackExpr)).orderBy("col_name")
    },
    Some {
      val cols = Seq("doc_id", "lang", "source", "n_chars", "text")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_s,
           |  CAST(MAX($c) AS VARCHAR) AS max_s
           |FROM documents""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    })

  // Bigram collocation mining by PMI — the corpus-statistics op behind
  // tokenizer vocab curation and boilerplate phrase detection. One
  // tokenize pass feeds both relations (unigram counts from the token
  // stream, bigram counts from an in-row index transform — no
  // self-join to form pairs); corpus totals ride in as broadcast 1-row
  // relations (the copy-safe scalar-total idiom), and the unigram
  // relation is vocabulary-sized, so both PMI joins broadcast. The only
  // corpus-sized exchanges are the two keyed counting aggs. PMI is
  // computed with an identical IEEE expression tree in both engines and
  // 4-dp-rounded before the (pmi, bigram) rank so no sub-1e-4
  // difference can reorder the top-50 cutoff.
  val q79BigramPmi: QueryDef = QueryDef(
    "q79_bigram_pmi",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // uni feeds ux/uy/n1 and bgAll feeds the PMI chain + n2; without
      // materialization every consumer re-derives the corpus pass
      // (measured: 5 corpus scans in the executed plan). Both
      // relations are VOCABULARY-sized — persisting them is free at
      // any corpus scale and leaves exactly two corpus passes (one per
      // n-gram order), the minimum this statistic needs. r11: both
      // passes aggregate the in-row COUNTED maps (TermCounts /
      // BigramCounts — same tokenize semantics as the explode
      // spelling, integer-exact since Σ per-doc tf = global count), so
      // the agg input shrinks from Σ tokens to Σ distinct-ngrams-per-
      // doc rows and the honest unprepared column re-materializes a
      // cheaper pass.
      val uni = docs.select(explode(graft.functions.VectorOps
          .termCounts(lower(col("text")))).as("e"))
        .groupBy(col("e.t").as("t"))
        .agg(sum(col("e.tf")).as("c"))
        .transform(graft.Caches.persist)
      val bgAll = docs.select(explode(graft.functions.VectorOps
          .bigramCounts(lower(col("text")))).as("e"))
        .groupBy(col("e.t").as("bigram"))
        .agg(sum(col("e.tf")).as("n"))
        .transform(graft.Caches.persist)
      // corpus totals as ONE broadcast (the 1-row crossJoin runs
      // inside a single broadcast-build job, not two), and ONE shared
      // unigram broadcast for both PMI lookups: both joins key the
      // build side on t, so the HashedRelation broadcast modes are
      // identical and ReuseExchange dedups the build — r11: 4
      // broadcast-build jobs → 2, each a ~bare-job floor saved in both
      // bench columns
      val totals = uni.agg(sum(col("c")).as("n1"))
        .crossJoin(bgAll.agg(sum(col("n")).as("n2")))
      val u = broadcast(uni)
      bgAll.filter(col("n") >= 10)
        .select(col("bigram"), col("n"),
          split(col("bigram"), " ").getItem(0).as("x"),
          split(col("bigram"), " ").getItem(1).as("y"))
        .join(u.as("ux"), col("x") === col("ux.t"))
        .join(u.as("uy"), col("y") === col("uy.t"))
        .select(col("bigram"), col("n"), col("ux.c").as("cx"),
          col("uy.c").as("cy"))
        .join(broadcast(totals))
        .select(col("bigram"), col("n"),
          graft.Round4(log(
            (col("n").cast(DoubleType) / col("n2")) /
              ((col("cx").cast(DoubleType) / col("n1")) *
                (col("cy").cast(DoubleType) / col("n1"))))).as("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
        .limit(50)
    },
    Some(s"""WITH toks AS (
            |  SELECT doc_id,
            |    list_filter(string_split(lower(text), ' '), x -> x <> '')
            |      AS w
            |  FROM documents),
            |uni AS (
            |  SELECT t, COUNT(*) AS c
            |  FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1),
            |bg_all AS (
            |  SELECT bigram, COUNT(*) AS n
            |  FROM (
            |    SELECT unnest(list_transform(range(1, len(w)),
            |      i -> w[i] || ' ' || w[i + 1])) AS bigram
            |    FROM toks WHERE len(w) >= 2) u
            |  GROUP BY 1),
            |n1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n1 FROM uni),
            |n2 AS (SELECT CAST(SUM(n) AS BIGINT) AS n2 FROM bg_all)
            |SELECT b.bigram, b.n,
            |  ${graft.Round4.sql(
              "ln((CAST(b.n AS DOUBLE) / n2.n2) /" +
                " ((CAST(cx.c AS DOUBLE) / n1.n1) *" +
                " (CAST(cy.c AS DOUBLE) / n1.n1)))")} AS pmi
            |FROM bg_all b
            |JOIN uni cx ON cx.t = string_split(b.bigram, ' ')[1]
            |JOIN uni cy ON cy.t = string_split(b.bigram, ' ')[2]
            |CROSS JOIN n1 CROSS JOIN n2
            |WHERE b.n >= 10
            |ORDER BY pmi DESC, b.bigram LIMIT 50""".stripMargin),
    bench = true, lowLatency = true)

  // Winnowing substring provenance (Schleimer/Wilkerson/Aiken SIGMOD'03
  // — the MOSS scheme; reference analog: pgferry's content-fingerprint
  // dedup tier). Per-document fingerprints come from the native
  // codegen'd [[graft.plans.Winnow]] expression (k-gram polynomial
  // hashes, rightmost-min per w-window, distinct + sorted); pairs
  // sharing ≥ WinShared fingerprints are substring-level duplicate
  // candidates (guarantee: any shared run of ≥ w+k−1 codepoints shares
  // a fingerprint). Scale posture is the q22/q63 inverted-index shape:
  // fingerprints in > WinDfCap docs are boilerplate and carry no
  // provenance signal — they're removed by a broadcast anti-join
  // BEFORE the self-join, bounding any fingerprint's pair contribution
  // at WinDfCap²; the capped index is hash-partitioned once, persisted,
  // and both self-join sides read it co-partitioned (shuffle_hash
  // pinned — broadcasting a corpus-sized index would OOM at scale).
  // The oracle recomputes the identical fingerprints relationally:
  // selected DISTINCT hashes = distinct per-window minima (rightmost
  // tie-breaking affects selected POSITIONS, never the value set), so
  // list_min per window reproduces Winnow's output exactly.
  private val WinK = 12; private val WinW = 24
  private val WinDfCap = 16; private val WinShared = 2

  val q129WinnowProvenance: QueryDef = QueryDef(
    "q129_winnow_provenance",
    (s, dir) => {
      val fps = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.VectorOps.winnow(col("text"), WinK, WinW))
            .as("fp"))
      val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") > WinDfCap).select("fp")
      val capped = graft.Caches.persist(
        fps.join(broadcast(hot), Seq("fp"), "left_anti")
          .repartition(col("fp"))).hint("shuffle_hash")
      val a = capped.select(col("doc_id").as("d1"), col("fp"))
      val b = capped.select(col("doc_id").as("d2"), col("fp"))
      a.join(b, Seq("fp")).filter(col("d1") < col("d2"))
        .groupBy(col("d1"), col("d2"))
        .agg(count(lit(1)).as("shared_fp"))
        .filter(col("shared_fp") >= WinShared)
        .orderBy("d1", "d2")
    },
    Some(s"""WITH cps AS (
            |  SELECT doc_id, list_transform(
            |    list_filter(regexp_split_to_array(text, ''), c -> c <> ''),
            |    c -> CAST(unicode(c) AS BIGINT)) AS cp
            |  FROM documents),
            |g AS (SELECT doc_id, cp, len(cp) AS n FROM cps
            |      WHERE len(cp) >= ${WinK + WinW - 1}),
            |gh AS (
            |  SELECT doc_id,
            |    list_transform(range(1, n - $WinK + 2),
            |      i -> list_reduce(
            |        list_prepend(CAST(0 AS BIGINT), cp[i:i+${WinK - 1}]),
            |        (h, c) -> (h * 31 + c) % 1000000007)) AS hs,
            |    n - $WinK + 1 AS ng
            |  FROM g),
            |sel AS (
            |  SELECT doc_id, unnest(list_distinct(
            |      list_transform(range(1, ng - $WinW + 2),
            |        j -> list_min(hs[j:j+${WinW - 1}])))) AS fp
            |  FROM gh),
            |hot AS (SELECT fp FROM sel GROUP BY fp
            |        HAVING COUNT(*) > $WinDfCap),
            |c AS (SELECT s.doc_id, s.fp FROM sel s ANTI JOIN hot h USING (fp))
            |SELECT d1, d2, shared_fp FROM (
            |  SELECT a.doc_id AS d1, b.doc_id AS d2,
            |    COUNT(*) AS shared_fp
            |  FROM c a JOIN c b ON a.fp = b.fp AND a.doc_id < b.doc_id
            |  GROUP BY 1, 2) p
            |WHERE shared_fp >= $WinShared ORDER BY d1, d2""".stripMargin))

  /** Exact per-key top-`take` selection by (ord, id) WITHOUT a full
    * per-key sort — the executable form of the 100 TB swap q75/q115
    * document ("sample-estimated threshold selection"). Two arms,
    * dispatched at PLAN TIME on Catalyst's size statistics for `d`
    * (the broadcast-planning signal; the `oneShotNeardup` size-guard
    * discipline at corpus granularity — exactly one arm is planned):
    *
    *  - a corpus at or below `smallBytesBound` takes the exact rank
    *    window (a per-key sort is cheap there, and lang/source
    *    cardinality is tiny so every key lands in one reducer
    *    regardless);
    *  - a larger corpus takes the threshold arm: a deterministic
    *    content-addressed 1/`sampleMod` sample (`xxhash64(ord) % S =
    *    0` — engine-reproducible, no RNG) is rank-windowed (1/S of the
    *    data) to estimate the cutoff ord at rank `take`, widened by
    *    ±`margin` sample positions into [t_lo, t_hi]. Rows strictly
    *    below t_lo are accepted with NO sort; only the narrow
    *    boundary band [t_lo, t_hi] is exactly ranked to fill the
    *    remaining seats. Per-key counting then PROVES the estimate
    *    valid (accepted ≤ take AND accepted + band ≥ take); a key
    *    whose sample misestimated falls back to the exact window for
    *    that key alone — so the result is the exact top-take set
    *    ALWAYS, not with high probability, and the fallback cost is
    *    confined to the failing key.
    *
    * The selection itself is a pure function of the data (lowest
    * (ord, id) wins), so both arms return identical row sets —
    * ThresholdSelectSpec pins arm-equality, the fallback path, and
    * that the threshold arm's only sorts sit above the sample / band
    * filters. Returns `d`'s columns, unranked.
    */
  private[graft] def thresholdSelect(
      d: DataFrame, key: String, ord: String, id: String,
      takes: DataFrame, // (key, take)
      sampleMod: Int = 16, margin: Long = 8L,
      smallBytesBound: Long = 256L << 20,
      forceArm: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val outCols = d.columns.toSeq.map(col)
    val wKey = Window.partitionBy(col(key)).orderBy(col(ord), col(id))
    // Arm dispatch is a PLAN-TIME decision on the sum of the plan's
    // REAL leaf input sizes ([[graft.PlanSize.leafInputBytes]] —
    // propagated Catalyst estimates multiply garbage through
    // join/explode chains and mis-dispatch fixture-scale inputs to the
    // threshold arm) — exactly one arm is planned, so the
    // fixture-scale plan carries none of the threshold machinery and
    // the 100 TB plan carries no full-corpus window. (A per-key mixed
    // dispatch would plan BOTH subtrees for every caller; with key
    // cardinality this small — languages, sources — the corpus-level
    // switch is the right granularity.)
    val arm = forceArm.getOrElse {
      if (graft.PlanSize.leafInputBytes(d) <=
        BigInt(smallBytesBound)) "window"
      else "threshold"
    }
    if (arm == "window") {
      val dd = d.join(broadcast(takes), Seq(key)).filter(col("take") > 0)
      dd.withColumn("rn__", row_number().over(wKey))
        .filter(col("rn__") <= col("take"))
        .select(outCols: _*)
    } else {
      // threshold arm — every count/threshold side relation here is
      // key-cardinality: broadcast-sized by construction. The joined
      // corpus persists ONCE: the sample, accept, band, fallback and
      // validity subtrees all read it from cache instead of
      // re-deriving the scan+join per consumer (this arm exists for
      // the >256 MB case, where 5 re-scans are the dominant cost).
      val dd = graft.Caches.persist(
        d.join(broadcast(takes), Seq(key)).filter(col("take") > 0))
      val thr = broadcast(dd
        .filter(pmod(xxhash64(col(ord)), lit(sampleMod)) === 0)
        .withColumn("srk__", row_number().over(wKey))
        .withColumn("lo_pos__",
          greatest(expr(s"take div $sampleMod") - margin, lit(1L)))
        .withColumn("hi_pos__", expr(s"take div $sampleMod") + margin)
        .groupBy(col(key)).agg(
          min(when(col("srk__") === col("lo_pos__"), col(ord)))
            .as("t_lo__"),
          min(when(col("srk__") === col("hi_pos__"), col(ord)))
            .as("t_hi__")))
      // LEFT join: a key whose sample came up empty still flows
      // through (null thresholds → no free-accept, band = everything
      // → exact window over the whole key, the correct degenerate
      // case). Null tests are EXPLICIT (isNull/isNotNull), never a
      // coalesce-to-sentinel — a sentinel assumes ord's type and a
      // non-string ord would silently drop the whole key.
      val classed = dd.join(thr, Seq(key), "left")
      // strict <: equal-ord rows go to the band, where ties rank
      // exactly
      val accept = classed.filter(
        col("t_lo__").isNotNull && col(ord) < col("t_lo__"))
      val band = classed.filter(
        (col("t_lo__").isNull || col(ord) >= col("t_lo__")) &&
          (col("t_hi__").isNull || col(ord) <= col("t_hi__")))
      // valid when the take boundary provably lies inside accept∪band:
      // acc ≤ take AND (acc+band reach the take OR accept∪band is the
      // WHOLE key — the take-≥-population case, where rows beyond t_hi
      // don't exist and the prefix is everything)
      val validity = broadcast(
        accept.groupBy(col(key)).agg(count(lit(1)).as("n_acc__"))
          .join(band.groupBy(col(key)).agg(count(lit(1)).as("n_band__")),
            Seq(key), "full")
          .join(dd.groupBy(col(key)).agg(count(lit(1)).as("n_tot__")),
            Seq(key))
          .join(takes, Seq(key))
          .select(col(key),
            coalesce(col("n_acc__"), lit(0L)).as("n_acc__"),
            (coalesce(col("n_acc__"), lit(0L)) <= col("take") &&
              (coalesce(col("n_acc__"), lit(0L)) +
                coalesce(col("n_band__"), lit(0L)) >= col("take") ||
                coalesce(col("n_acc__"), lit(0L)) +
                  coalesce(col("n_band__"), lit(0L)) === col("n_tot__")))
              .as("valid__")))
      val acceptSel = accept.join(validity, Seq(key))
        .filter(col("valid__")).select(outCols: _*)
      val bandSel = band.join(validity, Seq(key)).filter(col("valid__"))
        .withColumn("brn__", row_number().over(wKey))
        .filter(col("brn__") <= col("take") - col("n_acc__"))
        .select(outCols: _*)
      // per-key exact fallback: fires only for a key whose sample
      // misestimated — the result is exact ALWAYS, not w.h.p.
      val fallback = classed.join(validity, Seq(key))
        .filter(!col("valid__"))
        .withColumn("rn__", row_number().over(wKey))
        .filter(col("rn__") <= col("take"))
        .select(outCols: _*)
      acceptSel.unionByName(bandSel).unionByName(fallback)
    }
  }

  /** Token-WEIGHTED generalization of [[thresholdSelect]] — selects,
    * per key, the (ord, id)-ordered PREFIX whose EXCLUSIVE cumulative
    * `weight` stays strictly below the key's `budget` (greedy prefix:
    * the boundary row may overshoot by < 1 row — q153's selection
    * semantics). Same two-arm structure:
    *
    *  - window arm (small relations): per-key exclusive running sum +
    *    filter — one ordered window per key;
    *  - threshold arm (the 100 TB shape): a deterministic 1/S sample's
    *    scaled running mass estimates the ord-cutoff where cumulative
    *    weight reaches the budget, widened to [t_lo, t_hi] by
    *    ±`marginFrac` of the budget. Rows strictly below t_lo are
    *    accepted with NO sort (their exact mass comes from a plain
    *    agg); only the boundary band is exactly ranked to extend the
    *    prefix to the budget. Validity is PROVEN per key
    *    (acceptMass < budget — STRICT, see below — AND
    *    (acceptMass + bandMass ≥ budget OR accept∪band is the whole
    *    key)); a misestimating key falls back to its exact window —
    *    the result equals the window arm ALWAYS, for any weights ≥ 0.
    *
    * Exactness argument: accepted rows all precede band rows in
    * (ord, id) order, so a selected row's true exclusive prefix mass
    * is acceptMass + its exclusive mass WITHIN the band; rows beyond
    * t_hi have prefix mass ≥ acceptMass + bandMass ≥ budget under the
    * validity condition, so the window arm would reject them too.
    * The strict acceptMass < budget bound is what covers weight-0
    * rows: an accept row's exclusive prefix mass is ≤ acceptMass with
    * equality possible only at weight 0, and the window arm's strict
    * `cum < budget` must still keep it — at acceptMass == budget it
    * wouldn't, so that boundary goes to the exact fallback.
    */
  private[graft] def thresholdSelectTokens(
      d: DataFrame, key: String, ord: String, id: String,
      weight: String,
      budgets: DataFrame, // (key, budget) — budget in weight units
      sampleMod: Int = 16, marginFrac: Double = 0.25,
      smallBytesBound: Long = 256L << 20,
      forceArm: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val outCols = d.columns.toSeq.map(col)
    val wKey = Window.partitionBy(col(key)).orderBy(col(ord), col(id))
      .rowsBetween(Window.unboundedPreceding, -1)
    val arm = forceArm.getOrElse {
      if (graft.PlanSize.leafInputBytes(d) <=
        BigInt(smallBytesBound)) "window"
      else "threshold"
    }
    if (arm == "window") {
      val dd = d.join(broadcast(budgets), Seq(key))
        .filter(col("budget") > 0)
      dd.withColumn("cum__",
          coalesce(sum(col(weight)).over(wKey), lit(0L)))
        .filter(col("cum__") < col("budget"))
        .select(outCols: _*)
    } else {
      // the joined corpus persists ONCE — sample, accept, band,
      // fallback and validity all read the cache (see thresholdSelect)
      val dd = graft.Caches.persist(
        d.join(broadcast(budgets), Seq(key)).filter(col("budget") > 0))
      // scaled sample mass: E[S · sampleCum(ord)] = true mass below
      // ord — the estimate only steers the band; validity + fallback
      // make the result exact regardless of its quality
      val thr = broadcast(dd
        .filter(pmod(xxhash64(col(ord)), lit(sampleMod)) === 0)
        .withColumn("scum__",
          coalesce(sum(col(weight)).over(wKey), lit(0L)) * sampleMod)
        .groupBy(col(key)).agg(
          min(when(col("scum__") >=
            col("budget") * (1.0 - marginFrac), col(ord))).as("t_lo__"),
          min(when(col("scum__") >=
            col("budget") * (1.0 + marginFrac), col(ord))).as("t_hi__")))
      val classed = dd.join(thr, Seq(key), "left")
      // null t_lo (sample never reached the lower mark) → accept
      // nothing, band = everything: the correct degenerate exact case.
      // Null tests are explicit isNull/isNotNull, never a
      // coalesce-to-sentinel (type-generic in ord).
      val accept = classed.filter(
        col("t_lo__").isNotNull && col(ord) < col("t_lo__"))
      val band = classed.filter(
        (col("t_lo__").isNull || col(ord) >= col("t_lo__")) &&
          (col("t_hi__").isNull || col(ord) <= col("t_hi__")))
      // the whole-key disjunct compares ROW COUNTS, not masses: a
      // zero-weight row beyond t_hi would make the mass equality hold
      // while accept∪band is NOT the whole key — the window arm would
      // select that row (its exclusive cum < budget) and the arms
      // would diverge.
      // acc_mass must be STRICTLY below the budget: an accept row's
      // exclusive prefix mass can EQUAL acc_mass when its own weight
      // is 0 (the window arm's strict `cum < budget` drops it while
      // accept rows pass unconditionally) — the acc_mass == budget
      // boundary therefore goes to the exact per-key fallback, which
      // is what makes the arm-equality claim hold for ANY weights ≥ 0,
      // not just weights ≥ 1 (ThresholdSelectTokensSpec plants the
      // zero-weight divergence case).
      val masses = broadcast(
        accept.groupBy(col(key))
          .agg(sum(col(weight)).as("acc_mass__"),
            count(lit(1)).as("n_acc__"))
          .join(band.groupBy(col(key))
            .agg(sum(col(weight)).as("band_mass__"),
              count(lit(1)).as("n_band__")), Seq(key), "full")
          .join(dd.groupBy(col(key))
            .agg(count(lit(1)).as("n_tot__")), Seq(key))
          .join(budgets, Seq(key))
          .select(col(key),
            coalesce(col("acc_mass__"), lit(0L)).as("acc_mass__"),
            (coalesce(col("acc_mass__"), lit(0L)) < col("budget") &&
              (coalesce(col("acc_mass__"), lit(0L)) +
                coalesce(col("band_mass__"), lit(0L)) >= col("budget") ||
                coalesce(col("n_acc__"), lit(0L)) +
                  coalesce(col("n_band__"), lit(0L)) === col("n_tot__")))
              .as("valid__")))
      val acceptSel = accept.join(masses, Seq(key))
        .filter(col("valid__")).select(outCols: _*)
      val bandSel = band.join(masses, Seq(key)).filter(col("valid__"))
        .withColumn("bcum__",
          coalesce(sum(col(weight)).over(wKey), lit(0L)))
        .filter(col("acc_mass__") + col("bcum__") < col("budget"))
        .select(outCols: _*)
      val fallback = classed.join(masses, Seq(key))
        .filter(!col("valid__"))
        .withColumn("cum__",
          coalesce(sum(col(weight)).over(wKey), lit(0L)))
        .filter(col("cum__") < col("budget"))
        .select(outCols: _*)
      acceptSel.unionByName(bandSel).unionByName(fallback)
    }
  }

  // The capstone composition: the full training-data build as ONE
  // Catalyst plan — quality gate → exact content dedup →
  // Bloom-pruned decontamination against the eval split → α=0.5
  // temperature budget per language → content-addressed selection →
  // packing accounting. Every stage reuses semantics an isolated
  // catalog query already proves (q107's gate, q21's keyed dedup,
  // q138's bloom + exact-verify decontamination, q115's sqrt budget
  // and lowest-(md5, doc_id) selection, q71's integer-exact packing),
  // so the composed oracle is assembled from the same proven SQL
  // pieces; what THIS entry adds is the evidence that the engine runs
  // the entire pipeline as one declarative plan — the "switch your
  // pipeline to this library" claim, executable. Stage relations with
  // multiple consumers (the deduped set feeds the leak check, the
  // anti-join and the ledger; the survivor set feeds counts, ranks and
  // selection) persist once — at 100 TB those are the
  // materialization points a production run writes anyway.
  val q147TrainingPipeline: QueryDef = QueryDef(
    "q147_training_pipeline",
    (s, dir) => {
      // train candidates with token counts
      val tr = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 100 < 80)
        .withColumn("nt", size(split(lower(col("text")), " ")))
      val gated = tr.filter(col("nt") >= 20 && col("nt") <= 80)
      // exact dedup as ONE hash-aggregable pair (r21-opt) — the shared
      // [[contentKeyedDedup]] spelling; text stays in the survivor set
      // because the decontamination shingles below read it
      val ded = graft.Caches.persist(
        contentKeyedDedup(gated, keepText = true))
      // decontamination: q138's bloom prune + exact semi verify
      val (testG, bits) = StreamingQueries.decontamStatics(s, dir)
      val leak = ded.select(col("doc_id"),
          explode(graft.functions.VectorOps.shingleHashes(
            lower(col("text")), 5)).as("g"))
        .filter(graft.functions.VectorOps.bloomContains(col("g"), bits,
          graft.functions.BloomDefaults.NumHashes))
        .join(testG, Seq("g"), "left_semi")
        .select(col("doc_id")).distinct()
      val surv = graft.Caches.persist(
        ded.join(leak, Seq("doc_id"), "left_anti"))
      // α = 0.5 temperature budget per language — the ONE shared
      // µunit spelling ([[alphaBudget]]; q115's flake note)
      val counts = surv.groupBy(col("lang"))
        .agg(count(lit(1)).as("survivors"))
      val takes = alphaBudget(counts, "survivors", "budget")
      // content-addressed selection + integer-exact packing ledger —
      // through the size-guarded thresholdSelect dispatcher: the
      // fixture corpus takes the exact window arm, a 100 TB lang takes
      // the sampled-threshold arm with no per-lang sort
      val sel = thresholdSelect(surv, "lang", "hh", "doc_id",
        takes.select(col("lang"), col("budget").as("take")))
      val packed = sel.groupBy(col("lang"))
        .agg(count(lit(1)).as("selected"), sum(col("nt")).as("tokens"))
        .withColumn("bins",
          expr("(tokens + 2047) div 2048").cast(LongType))
        .withColumn("fill", graft.Round4(col("tokens").cast(DoubleType)
          / (col("bins").cast(DoubleType) * 2048)))
      val gatedC = gated.groupBy(col("lang"))
        .agg(count(lit(1)).as("gated"))
      val dedC = ded.groupBy(col("lang"))
        .agg(count(lit(1)).as("deduped"))
      gatedC.join(dedC, "lang").join(takes, "lang").join(packed, "lang")
        .select(col("lang"), col("gated"), col("deduped"),
          col("survivors"), col("budget"), col("selected"),
          col("tokens"), col("bins"), col("fill"))
        .orderBy("lang")
    },
    Some(s"""WITH tr AS (
            |  SELECT doc_id, lang, text,
           |    len(string_split(lower(text), ' ')) AS nt
           |  FROM documents WHERE doc_id % 100 < 80),
           |gated AS (SELECT * FROM tr WHERE nt BETWEEN 20 AND 80),
           |ded AS (
           |  SELECT doc_id, lang, text, nt, hh FROM (
           |    SELECT *, md5(text) AS hh,
           |      ROW_NUMBER() OVER (PARTITION BY md5(text)
           |                         ORDER BY doc_id) AS rn
           |    FROM gated) x WHERE rn = 1),
           |tokq AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS w
           |  FROM documents
           |  WHERE len(string_split(lower(text), ' ')) >= 5),
           |sh AS (
           |  SELECT DISTINCT doc_id,
           |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
           |      w[i+3] || ' ' || w[i+4] AS g
           |  FROM (SELECT doc_id, w,
           |        unnest(range(1, len(w)-3)) AS i FROM tokq) u),
           |testg AS (SELECT DISTINCT g FROM sh
           |          WHERE doc_id % 100 >= 90),
           |leak AS (
           |  SELECT DISTINCT s.doc_id FROM sh s
           |  JOIN ded d ON s.doc_id = d.doc_id
           |  WHERE s.g IN (SELECT g FROM testg)),
           |surv AS (SELECT * FROM ded
           |         WHERE doc_id NOT IN (SELECT doc_id FROM leak)),
           |c AS (SELECT lang, COUNT(*) AS survivors,
           |        ${alphaWuSql("COUNT(*)")} AS wu
           |      FROM surv GROUP BY lang),
           |${alphaKCte("survivors")},
           |t AS (
           |  SELECT lang, survivors,
           |    ${alphaTakeSql("survivors")} AS budget
           |  FROM c CROSS JOIN k),
           |r AS (
           |  SELECT lang, doc_id, nt,
           |    ROW_NUMBER() OVER (PARTITION BY lang
           |                       ORDER BY hh, doc_id) AS rk
           |  FROM surv),
           |sel AS (SELECT r.lang, r.doc_id, r.nt FROM r
           |        JOIN t ON r.lang = t.lang WHERE rk <= t.budget),
           |p AS (
           |  SELECT lang, COUNT(*) AS selected,
           |    CAST(SUM(nt) AS BIGINT) AS tokens,
           |    CAST((CAST(SUM(nt) AS BIGINT) + 2047) // 2048 AS BIGINT)
           |      AS bins
           |  FROM sel GROUP BY lang),
           |gc AS (SELECT lang, COUNT(*) AS gated FROM gated
           |       GROUP BY lang),
           |dc AS (SELECT lang, COUNT(*) AS deduped FROM ded
           |       GROUP BY lang)
           |SELECT gc.lang AS lang, gc.gated, dc.deduped,
           |  CAST(t.survivors AS BIGINT) AS survivors, t.budget,
           |  p.selected, p.tokens, p.bins,
           |  floor(CAST(p.tokens AS DOUBLE)
           |        / (CAST(p.bins AS DOUBLE) * 2048)
           |        * 10000 + 0.5) / 10000 AS fill
           |FROM gc JOIN dc ON gc.lang = dc.lang
           |JOIN t ON gc.lang = t.lang
           |JOIN p ON gc.lang = p.lang
           |ORDER BY gc.lang""".stripMargin),
    // interactive tier (r20-opt): the capstone's joins are ALL
    // broadcast (tiny aggregates against the persisted corpus
    // relations), its corpus exchanges are keyed on the dedup's
    // (text, nt) content key (r21 rekey — was md5(text); the groups
    // are identical, and the partial HashAggregate collapses each key
    // map-side so the exchange carries ≤ one row per group per task:
    // a heavily duplicated text is ONE row per task, never a hot
    // shuffle key — and skew-join handling applies only to joins
    // anyway) or on lang (output-bounded aggs); AQE's remaining
    // lever, post-shuffle coalescing, is production shuffle-width
    // sizing that never fires at bench scale. Its 16
    // stage-materialization barriers were the largest single floor in
    // the catalog (floor_share 0.76 of the heaviest headline wall).
    // The q225/q61/q72 precedent, applied with the skew analysis
    // written down.
    //
    // SCALE RECEIPT (r21, the r20 VERDICT ask #3 — is the flip a
    // local[32] floor artifact?): graft.tools.Q147ScaleReceipt runs
    // THIS builder on synthetic corpora 100×/500×/2000× sf0.1 (200k /
    // 1M / 4M docs, caches dropped per sample, interleaved):
    // interactive vs adaptive wall medians 2.48 vs 2.78 s, 13.3 vs
    // 15.2 s, 41.3 vs 41.5 s — the flip wins or ties at every scale
    // where the corpus exchanges carry real bytes, and does strictly
    // LESS task work (169 vs 275 task-sec at 1M, 492 vs 862 at 4M:
    // AQE's per-stage materialization re-executes work around the
    // persisted stage relations). Domain of the flag: this entry's
    // exchanges stay md5-uniform/output-bounded at ANY corpus size, so
    // the no-skew argument is size-independent; correctness runs keep
    // the adaptive default regardless (the flag only selects Bench's
    // timing profile).
    bench = true, lowLatency = true)

  /** Tokenizer-exact sequence packing — q71's fixed-budget bin
    * assignment re-based on REAL byte-level BPE token counts (Sennrich
    * ACL'16; trained merge fixture from [[graft.tools.TrainBpe]]).
    * The Spark side recomputes every document's count IN-PLAN with the
    * codegen'd [[graft.plans.BpeTokenCount]] merge loop over the raw
    * text; the oracle packs from the fixture's committed reference
    * counts (`n_bpe`, produced offline by the trainer's encoder). A
    * hash match therefore proves the in-row tokenizer reproduces the
    * reference count for every document — any single-doc deviation
    * shifts the exclusive prefix sums and moves bin boundaries. The
    * corpus is trained BELOW merge saturation (64 merges), so counts
    * genuinely differ from whitespace splits (672 380 vs 270 704
    * tokens at sf0.1) — this oracle cannot be satisfied by word
    * counting. Plan shape is q71's: one per-lang ordered window (at
    * 100 TB the same query runs per (lang, shard)), then a keyed agg.
    */
  /** Epoch-repetition schedule (q202) — the data-constrained planning
    * stage (Muennighoff et al. NeurIPS'23 "Scaling Data-Constrained
    * Language Models": repeating data is ~as good as fresh data up to
    * ~4 epochs, then returns decay fast): given a compute budget of
    * [[EpochBudgetMult]]× the corpus's total tokens and per-LANG
    * shares flattened by a square-root temperature (the q108/q115
    * mixing move — small languages get MORE than proportional budget,
    * which is what creates the repetition question; lang is the
    * fixture's grouping key — a production run swaps in any source
    * taxonomy column), report per lang the allocated budget, the
    * epoch count under the 4-epoch cap, and the budget STRANDED by
    * the cap (the tokens a real schedule redistributes). Everything
    * integer after ONE correctly-rounded sqrt per lang (the repo's
    * single-floor discipline):
    * weight_mu = ⌊√U·10³⌋-shares, epochs_milli = min(4·10³,
    * B·10³ div U). Epochs and the waste rate quantize in MILLI-units
    * deliberately: with per-lang token counts at the 100 TB scale
    * (~10¹⁴), a µunit spelling's B·10⁶ intermediate overflows BIGINT
    * (~4·10²⁰ > 2⁶³), while every milli intermediate stays ≤ ~10¹⁷ —
    * and 10⁻³ epochs is far below any schedule's actionable
    * granularity. One corpus agg + broadcast 1-row totals — the q99
    * shape.
    */
  val EpochBudgetMult = 4
  val EpochCapMilli = 4000L

  val q202EpochSchedule: QueryDef = QueryDef(
    "q202_epoch_schedule",
    (s, dir) => {
      val counts = Tables.load(s, dir, "documents")
        .select(col("lang"),
          size(split(lower(col("text")), " ")).cast(LongType).as("nt"))
        .groupBy("lang").agg(sum("nt").as("u"))
        .withColumn("r", floor(sqrt(col("u").cast(DoubleType))
          * lit(1000.0)).cast(LongType))
        .transform(graft.Caches.persist)
      val tot = broadcast(counts.agg(
        sum(col("u")).as("utot"), sum(col("r")).as("rtot")))
      counts.crossJoin(tot)
        .withColumn("weight_mu", expr("(r * 1000000) div rtot"))
        // ⌊M·utot·w/10⁶⌋ via the exact base-split of the division
        // (N div 10⁶ = (N div 10³) div 10³; the first step separates
        // the multiple-of-10³ term exactly), so no intermediate
        // exceeds ~4·10¹⁷ at 100 TB token counts — the direct
        // M·utot·w product is the ~4·10²⁰ overflow the milli-unit
        // note above rules out
        .withColumn("budget_tokens", expr(
          s"(($EpochBudgetMult * utot) * (weight_mu div 1000) + " +
            s"(($EpochBudgetMult * utot) * (weight_mu % 1000)) div 1000)" +
            " div 1000"))
        .withColumn("epochs_milli", least(lit(EpochCapMilli),
          expr("(budget_tokens * 1000) div u")))
        .withColumn("served_tokens", expr("(u * epochs_milli) div 1000"))
        .withColumn("stranded_tokens",
          col("budget_tokens") - col("served_tokens"))
        .select(col("lang"), col("u").as("unique_tokens"),
          col("weight_mu"), col("budget_tokens"), col("epochs_milli"),
          col("served_tokens"), col("stranded_tokens"))
        .orderBy("lang")
    },
    Some(s"""WITH c AS (
           |  SELECT lang,
           |    CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT)
           |      AS u
           |  FROM documents GROUP BY lang),
           |r AS (
           |  SELECT lang, u,
           |    CAST(floor(sqrt(CAST(u AS DOUBLE)) * 1000.0) AS BIGINT)
           |      AS r
           |  FROM c),
           |t AS (SELECT CAST(SUM(u) AS BIGINT) AS utot,
           |             CAST(SUM(r) AS BIGINT) AS rtot FROM r),
           |w0 AS (
           |  SELECT lang, u, (r * 1000000) // t.rtot AS weight_mu,
           |    $EpochBudgetMult * t.utot AS a
           |  FROM r, t),
           |w AS (
           |  SELECT lang, u, weight_mu,
           |    (a * (weight_mu // 1000) +
           |      (a * (weight_mu % 1000)) // 1000) // 1000
           |      AS budget_tokens
           |  FROM w0),
           |e AS (
           |  SELECT lang, u, weight_mu, budget_tokens,
           |    LEAST($EpochCapMilli,
           |      (budget_tokens * 1000) // u) AS epochs_milli
           |  FROM w)
           |SELECT lang, u AS unique_tokens, weight_mu, budget_tokens,
           |  epochs_milli, (u * epochs_milli) // 1000 AS served_tokens,
           |  budget_tokens - (u * epochs_milli) // 1000
           |    AS stranded_tokens
           |FROM e ORDER BY lang""".stripMargin))

  /** Padding-waste report (q197) — the measurement that motivates
    * sequence packing (q71/q148/q178): batch documents naively
    * (doc_id order, fixed batch size B=16 per lang), pad each batch
    * to its longest member, and report per lang how many token slots
    * the padding burns. This is the table every efficient-training
    * writeup opens with (padding fractions of 30–60% under naive
    * batching are why packed/sorted batching exists — e.g. Krell et
    * al.'21 "Efficient sequence packing"). Token counts come from the
    * in-plan BPE merge loop; the oracle re-derives the identical
    * report from the committed `n_bpe` reference counts, so the hash
    * match re-proves the encoder AND the batching arithmetic. All
    * integer: waste_milli = ⌊10³·(padded − real)/padded⌋ — milli, not
    * µ, so the (padded−real)·multiplier intermediate cannot overflow
    * BIGINT at 100 TB per-lang token counts. Plan shape is
    * q148's (one per-lang ordered window → two keyed aggs); at 100 TB
    * the same report runs per (lang, shard) with shard-local windows.
    */
  val q197PaddingWaste: QueryDef = QueryDef(
    "q197_padding_waste",
    (s, dir) => {
      val B = 16
      val merges = graft.Fixtures.bpeMerges(s)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
      graft.Fixtures.read(s, graft.Fixtures.bpeCorpusPath)
        .select(col("lang"), col("doc_id"),
          graft.functions.VectorOps.bpeCount(col("text"), merges)
            .cast(LongType).as("nt"))
        .withColumn("batch",
          expr(s"(row_number() OVER (PARTITION BY lang ORDER BY doc_id)"
            + s" - 1) div $B"))
        .groupBy(col("lang"), col("batch"))
        .agg(count(lit(1)).as("n_docs"), max(col("nt")).as("max_nt"),
          sum(col("nt")).as("real_tokens"))
        .withColumn("padded", col("n_docs") * col("max_nt"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("batches"),
          sum(col("real_tokens")).as("real_tokens"),
          sum(col("padded")).as("padded_tokens"))
        .withColumn("waste_milli", expr(
          "((padded_tokens - real_tokens) * 1000) div padded_tokens"))
        .orderBy("lang")
      // (the per-lang window is the q148 contract: fixture-scale
      // convenience; production partitions by (lang, shard))
    },
    Some(s"""WITH d AS (
           |  SELECT lang, doc_id, CAST(n_bpe AS BIGINT) AS nt,
           |    (ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id)
           |      - 1) // 16 AS batch
           |  FROM read_parquet('${graft.Fixtures.bpeCorpusPath}')),
           |b AS (
           |  SELECT lang, batch, COUNT(*) AS n_docs, MAX(nt) AS max_nt,
           |    CAST(SUM(nt) AS BIGINT) AS real_tokens
           |  FROM d GROUP BY lang, batch),
           |l AS (
           |  SELECT lang, COUNT(*) AS batches,
           |    CAST(SUM(real_tokens) AS BIGINT) AS real_tokens,
           |    CAST(SUM(n_docs * max_nt) AS BIGINT) AS padded_tokens
           |  FROM b GROUP BY lang)
           |SELECT lang, batches, real_tokens, padded_tokens,
           |  ((padded_tokens - real_tokens) * 1000) // padded_tokens
           |    AS waste_milli
           |FROM l ORDER BY lang""".stripMargin))

  val q148BpePack: QueryDef = QueryDef(
    "q148_bpe_pack",
    (s, dir) => {
      val BinTokens = 2048
      val merges = graft.Fixtures.bpeMerges(s)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      graft.Fixtures.read(s, graft.Fixtures.bpeCorpusPath)
        .select(col("lang"), col("doc_id"),
          graft.functions.VectorOps.bpeCount(col("text"), merges)
            .cast(LongType).as("nt"))
        .withColumn("cum_excl",
          coalesce(sum(col("nt")).over(w), lit(0L)))
        .withColumn("bin", expr(s"cum_excl div $BinTokens"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("docs"), sum(col("nt")).as("tokens"),
          graft.Round4(sum(col("nt")).cast(DoubleType) / BinTokens)
            .as("fill"))
        .orderBy("lang", "bin")
    },
    Some(s"""WITH d AS (
           |  SELECT lang, doc_id, CAST(n_bpe AS BIGINT) AS nt
           |  FROM read_parquet('${graft.Fixtures.bpeCorpusPath}')),
           |c AS (
           |  SELECT lang, doc_id, nt,
           |    COALESCE(SUM(nt) OVER (PARTITION BY lang ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS cum_excl
           |  FROM d)
           |SELECT lang, CAST(cum_excl // 2048 AS BIGINT) AS bin,
           |  COUNT(*) AS docs, CAST(SUM(nt) AS BIGINT) AS tokens,
           |  floor((CAST(SUM(nt) AS DOUBLE) / 2048) * 10000 + 0.5)
           |    / 10000 AS fill
           |FROM c GROUP BY lang, CAST(cum_excl // 2048 AS BIGINT)
           |ORDER BY lang, bin""".stripMargin),
    bench = true, lowLatency = true)

  // Tokenizer fertility / compression report — the standard
  // tokenizer-quality eval (Rust et al., "How Good is Your
  // Tokenizer?", ACL'21): per language, chars-per-token (compression)
  // and tokens-per-word (fertility). High fertility on a language
  // means the vocabulary under-serves it — its documents cost more
  // sequence length per word, which skews every token-denominated
  // budget (q148/q153) against it; this report is how that gets
  // caught before training. Token counts run the REAL in-plan
  // byte-level BPE encoder (the q148 contract) while the oracle reads
  // the fixture's committed reference counts — so the hash match
  // re-proves encoder fidelity through a second aggregate shape.
  // Map-only per-doc work + one keyed agg to |langs| rows.
  val q164TokenizerFertility: QueryDef = QueryDef(
    "q164_tokenizer_fertility",
    (s, dir) => {
      val merges = graft.Fixtures.bpeMerges(s)
      graft.Fixtures.read(s, graft.Fixtures.bpeCorpusPath)
        .select(col("lang"),
          graft.functions.VectorOps.bpeCount(col("text"), merges)
            .cast(LongType).as("nt"),
          length(col("text")).cast(LongType).as("nb"),
          size(filter(split(col("text"), " "), t => t =!= ""))
            .cast(LongType).as("nw"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("nt")).as("tokens"),
          sum(col("nb")).as("chars"),
          sum(col("nw")).as("words"))
        .select(col("lang"), col("docs"), col("tokens"),
          graft.Round4(col("chars").cast(DoubleType) / col("tokens"))
            .as("chars_per_tok"),
          graft.Round4(col("tokens").cast(DoubleType) / col("words"))
            .as("fertility"))
        .orderBy("lang")
    },
    Some(s"""WITH d AS (
            |  SELECT lang, CAST(n_bpe AS BIGINT) AS nt,
            |    CAST(length(text) AS BIGINT) AS nb,
            |    CAST(len(list_filter(string_split(text, ' '),
            |      x -> x <> '')) AS BIGINT) AS nw
            |  FROM read_parquet('${graft.Fixtures.bpeCorpusPath}'))
            |SELECT lang, COUNT(*) AS docs,
            |  CAST(SUM(nt) AS BIGINT) AS tokens,
            |  ${graft.Round4.sql(
              "CAST(SUM(nb) AS DOUBLE) / SUM(nt)")} AS chars_per_tok,
            |  ${graft.Round4.sql(
              "CAST(SUM(nt) AS DOUBLE) / SUM(nw)")} AS fertility
            |FROM d GROUP BY lang ORDER BY lang""".stripMargin))

  // Token-exact curation composition — the q147 capstone's BUDGET
  // CONSUMERS re-based on real byte-level BPE token counts (closing
  // the r11 finding that every downstream budget counted whitespace
  // splits): gate window, α=0.5 temperature budget, selection prefix,
  // and packing ledger all denominated in tokenizer tokens, computed
  // IN-PLAN by the codegen'd merge loop while the oracle reads the
  // fixture's committed reference counts — the q148 proof obligation
  // (any single-doc count deviation shifts a budget, moves a selection
  // boundary, or splits a bin) carried through a full multi-stage
  // composition. The budget itself upgrades q147's: shares are
  // computed over TOKEN mass per language (sqrt-flattened), not doc
  // counts — the actual multilingual-mix math (Conneau et al.
  // XLM-R-style α-sampling), and selection takes the content-addressed
  // (hh, doc_id) prefix until the token budget is reached (greedy
  // prefix: the boundary doc may overshoot by < 1 doc — deterministic
  // in both engines). Decontamination is deliberately absent: q147
  // proves that stage's composition; this entry isolates the
  // token-denomination claim. Selection runs through
  // [[thresholdSelectTokens]] — the token-WEIGHTED generalization of
  // thresholdSelect: the fixture corpus plans the exact per-lang
  // window arm, a 100 TB lang plans the sampled-threshold arm
  // (sample-estimated hh cutoff where cumulative token mass reaches
  // the budget, exact ranking only over the boundary band, per-key
  // validity proof + exact fallback) — both arms provably return the
  // same prefix.
  val q153PipelineBpe: QueryDef = QueryDef(
    "q153_pipeline_bpe",
    (s, dir) => {
      val merges = graft.Fixtures.bpeMerges(s)
      val tr = graft.Fixtures.read(s, graft.Fixtures.bpeCorpusPath)
        .select(col("doc_id"), col("lang"), col("text"),
          graft.functions.VectorOps.bpeCount(col("text"), merges)
            .cast(LongType).as("nt"))
      val gated = tr.filter(col("nt") >= 40 && col("nt") <= 240)
      // q21's min_by keep-first, hash-aggregable — the shared
      // [[contentKeyedDedup]] spelling; text is DROPPED from the
      // persisted relation here (unlike q147, no downstream stage of
      // this entry reads it), so the resident survivor set carries
      // only (doc_id, lang, nt, hh)
      val ded = graft.Caches.persist(
        contentKeyedDedup(gated, keepText = false))
      // the ONE shared µunit budget spelling ([[alphaBudget]])
      val counts = ded.groupBy(col("lang"))
        .agg(count(lit(1)).as("deduped"),
          sum(col("nt")).as("lang_tokens"))
      val takes = alphaBudget(counts, "lang_tokens", "tok_budget")
      // token-budget prefix through the size-guarded weighted
      // dispatcher: the fixture corpus plans the exact window arm, a
      // 100 TB lang plans the sampled-threshold arm with no per-lang
      // full sort (ThresholdSelectTokensSpec pins arm equality)
      val sel = thresholdSelectTokens(ded, "lang", "hh", "doc_id", "nt",
        takes.select(col("lang"), col("tok_budget").as("budget")))
      val packed = sel.groupBy(col("lang"))
        .agg(count(lit(1)).as("selected"), sum(col("nt")).as("tokens"))
        .withColumn("bins",
          expr("(tokens + 2047) div 2048").cast(LongType))
        .withColumn("fill", graft.Round4(col("tokens").cast(DoubleType)
          / (col("bins").cast(DoubleType) * 2048)))
      val gatedC = gated.groupBy(col("lang"))
        .agg(count(lit(1)).as("gated"))
      gatedC.join(takes, "lang").join(packed, "lang")
        .select(col("lang"), col("gated"), col("deduped"),
          col("lang_tokens"), col("tok_budget"), col("selected"),
          col("tokens"), col("bins"), col("fill"))
        .orderBy("lang")
    },
    Some(s"""WITH d AS (
            |  SELECT doc_id, lang, text, CAST(n_bpe AS BIGINT) AS nt
            |  FROM read_parquet('${graft.Fixtures.bpeCorpusPath}')),
            |gated AS (SELECT * FROM d WHERE nt BETWEEN 40 AND 240),
            |ded AS (
            |  SELECT doc_id, lang, nt, hh FROM (
            |    SELECT *, md5(text) AS hh,
            |      ROW_NUMBER() OVER (PARTITION BY md5(text)
            |                         ORDER BY doc_id) AS rn
            |    FROM gated) x WHERE rn = 1),
            |c AS (
            |  SELECT lang, COUNT(*) AS deduped,
            |    CAST(SUM(nt) AS BIGINT) AS lang_tokens,
            |    ${alphaWuSql("SUM(nt)")} AS wu
            |  FROM ded GROUP BY lang),
            |${alphaKCte("lang_tokens")},
            |t AS (
            |  SELECT lang, deduped, lang_tokens,
            |    ${alphaTakeSql("lang_tokens")} AS tok_budget
            |  FROM c CROSS JOIN k),
            |r AS (
            |  SELECT lang, doc_id, nt, hh,
            |    COALESCE(SUM(nt) OVER (PARTITION BY lang
            |      ORDER BY hh, doc_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |      AS cum_excl
            |  FROM ded),
            |sel AS (SELECT r.* FROM r JOIN t USING (lang)
            |        WHERE cum_excl < tok_budget),
            |p AS (
            |  SELECT lang, COUNT(*) AS selected,
            |    CAST(SUM(nt) AS BIGINT) AS tokens,
            |    CAST((CAST(SUM(nt) AS BIGINT) + 2047) // 2048 AS BIGINT)
            |      AS bins
            |  FROM sel GROUP BY lang),
            |g AS (SELECT lang, COUNT(*) AS gated FROM gated
            |      GROUP BY lang)
            |SELECT g.lang, g.gated, t.deduped, t.lang_tokens,
            |  t.tok_budget, p.selected, p.tokens, p.bins,
            |  floor(CAST(p.tokens AS DOUBLE)
            |        / (CAST(p.bins AS DOUBLE) * 2048)
            |        * 10000 + 0.5) / 10000 AS fill
            |FROM g JOIN t ON g.lang = t.lang JOIN p ON g.lang = p.lang
            |ORDER BY g.lang""".stripMargin))

  // Zipf-law fit of the per-language vocabulary head — the corpus
  // health check a data report leads with (a crawl slice whose token
  // distribution stops looking Zipfian is boilerplate- or
  // spam-dominated; Zipf 1949, Piantadosi PBR'14 review): least-
  // squares slope of ln(freq) on ln(rank) over each language's top-200
  // terms. Engine determinism is the µunit discipline applied to a
  // REGRESSION: ln(rank) and ln(freq) floor to integer µunits once
  // per term (the only floats; one narrow rounding window per floor,
  // the documented q162-class residual), every regression sum
  // (Σx, Σy, Σxy, Σx²) is then EXACT integer arithmetic in any
  // aggregation order, and slope/intercept are one identical double
  // division at the end. Magnitudes: x ≤ ln(200)·10⁶, y ≤ ln(N)·10⁶
  // — k·Σxy stays ~2.4·10¹⁸ < 2⁶³ at any corpus size because k is
  // capped at 200. Shape: one token-keyed agg (map-side combined,
  // vocab-sized output), a per-lang top-k head (rank window over the
  // vocab relation locally; TakeOrdered per lang at 100 TB), one tiny
  // keyed agg.
  val q169ZipfFit: QueryDef = QueryDef(
    "q169_zipf_fit",
    (s, dir) => {
      val K = 200
      val freq = Tables.load(s, dir, "documents")
        .select(col("lang"),
          explode(split(lower(col("text")), " ")).as("t"))
        .groupBy(col("lang"), col("t")).agg(count(lit(1)).as("f"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("f").desc, col("t"))
      val mu = freq.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("lang"),
          floor(log(col("rk").cast(DoubleType)) * 1e6 + 0.5)
            .cast(LongType).as("x"),
          floor(log(col("f").cast(DoubleType)) * 1e6 + 0.5)
            .cast(LongType).as("y"))
      mu.groupBy(col("lang"))
        .agg(count(lit(1)).as("k"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .filter(col("k") >= 2)
        .select(col("lang"), col("k"),
          graft.Round4(
            (col("k") * col("sxy") - col("sx") * col("sy"))
              .cast(DoubleType) /
              (col("k") * col("sxx") - col("sx") * col("sx"))
                .cast(DoubleType)).as("slope"),
          graft.Round4(
            ((col("sy").cast(DoubleType) -
              (col("k") * col("sxy") - col("sx") * col("sy"))
                .cast(DoubleType) /
                (col("k") * col("sxx") - col("sx") * col("sx"))
                  .cast(DoubleType) * col("sx").cast(DoubleType)) /
              col("k").cast(DoubleType)) / 1e6).as("intercept"))
        .orderBy("lang")
    },
    Some("""WITH tok AS (
           |  SELECT lang, unnest(string_split(lower(text), ' ')) AS t
           |  FROM documents),
           |freq AS (
           |  SELECT lang, t, COUNT(*) AS f FROM tok GROUP BY 1, 2),
           |rk AS (
           |  SELECT lang, f,
           |    ROW_NUMBER() OVER (PARTITION BY lang
           |                       ORDER BY f DESC, t) AS rk
           |  FROM freq),
           |mu AS (
           |  SELECT lang,
           |    CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000000 + 0.5)
           |         AS BIGINT) AS x,
           |    CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000 + 0.5)
           |         AS BIGINT) AS y
           |  FROM rk WHERE rk <= 200),
           |ag AS (
           |  SELECT lang, COUNT(*) AS k,
           |    SUM(x) AS sx, SUM(y) AS sy,
           |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
           |  FROM mu GROUP BY lang)
           |SELECT lang, k,
           |  floor((CAST(k * sxy - sx * sy AS DOUBLE) /
           |         CAST(k * sxx - sx * sx AS DOUBLE))
           |        * 10000 + 0.5) / 10000 AS slope,
           |  floor((((CAST(sy AS DOUBLE) -
           |           CAST(k * sxy - sx * sy AS DOUBLE) /
           |           CAST(k * sxx - sx * sx AS DOUBLE) *
           |           CAST(sx AS DOUBLE)) / CAST(k AS DOUBLE))
           |         / 1000000.0) * 10000 + 0.5) / 10000 AS intercept
           |FROM ag WHERE k >= 2 ORDER BY lang""".stripMargin),
    bench = true, lowLatency = true)

  // Population-stability-index drift monitor — the metric a dataset
  // owner watches between two corpus versions / splits (standard in
  // production ML monitoring; PSI = the symmetrized discrete KL
  // J-divergence, Jeffreys 1946): per language, the token-count
  // distribution of the q57 train split vs the validation split over
  // 10 fixed-width integer bins, PSI = Σ_bins (pa−pb)·ln(pa/pb) with
  // Laplace smoothing so empty bins are defined. Determinism: bin
  // assignment is integer (`nt div 10`, capped), the per-bin
  // contribution takes ONE µunit floor from exact integer counts
  // (identical double op order both engines), and the 10-bin sum is
  // integer. A full lang×bin spine (generated relation) makes the
  // smoothing terms of EMPTY bins explicit — PSI over only-observed
  // bins understates drift. Shape: one (lang,bin)-keyed histogram agg
  // (map-side combined to ¦langs¦×10 rows), everything after runs on
  // the tiny spine.
  val q170PsiDrift: QueryDef = QueryDef(
    "q170_psi_drift",
    (s, dir) => {
      val counts = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 100 < 90)
        .select(col("lang"),
          (col("doc_id") % 100 < 80).as("isA"),
          least(expr("size(split(text, ' ')) div 10"), lit(9L))
            .as("bin"))
        .groupBy(col("lang"), col("bin"))
        .agg(sum(when(col("isA"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("isA"), 1L).otherwise(0L)).as("cb"))
      val spine = counts.select("lang").distinct()
        .crossJoin(s.range(0, 10).select(col("id").as("bin")))
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
      val f = spine.join(counts, Seq("lang", "bin"), "left")
        .select(col("lang"), col("bin"),
          coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
        .withColumn("na", sum(col("ca")).over(wl))
        .withColumn("nb", sum(col("cb")).over(wl))
      val pa = (col("ca") + lit(1.0)) / (col("na") + lit(10))
      val pb = (col("cb") + lit(1.0)) / (col("nb") + lit(10))
      f.withColumn("cmu",
          floor((pa - pb) * log(pa / pb) * 1e6 + 0.5).cast(LongType))
        .groupBy(col("lang"))
        .agg(max(col("na")).as("n_train"), max(col("nb")).as("n_val"),
          sum(col("cmu")).as("psi_mu"))
        .select(col("lang"), col("n_train"), col("n_val"),
          graft.Round4(col("psi_mu") / lit(1e6)).as("psi"))
        .orderBy("lang")
    },
    Some("""WITH d AS (
           |  SELECT lang,
           |    (doc_id % 100 < 80) AS isa,
           |    LEAST(len(string_split(text, ' ')) // 10, 9) AS bin
           |  FROM documents WHERE doc_id % 100 < 90),
           |c AS (
           |  SELECT lang, bin,
           |    SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS ca,
           |    SUM(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS cb
           |  FROM d GROUP BY 1, 2),
           |sp AS (
           |  SELECT l.lang, b.bin
           |  FROM (SELECT DISTINCT lang FROM d) l
           |  CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) b),
           |f AS (
           |  SELECT sp.lang, sp.bin,
           |    CAST(COALESCE(c.ca, 0) AS BIGINT) AS ca,
           |    CAST(COALESCE(c.cb, 0) AS BIGINT) AS cb
           |  FROM sp LEFT JOIN c ON sp.lang = c.lang AND sp.bin = c.bin),
           |t AS (
           |  SELECT lang, bin, ca, cb,
           |    CAST(SUM(ca) OVER (PARTITION BY lang) AS BIGINT) AS na,
           |    CAST(SUM(cb) OVER (PARTITION BY lang) AS BIGINT) AS nb
           |  FROM f),
           |m AS (
           |  SELECT lang, na, nb,
           |    CAST(floor((((ca + 1.0) / (na + 10) -
           |                 (cb + 1.0) / (nb + 10)) *
           |                ln(((ca + 1.0) / (na + 10)) /
           |                   ((cb + 1.0) / (nb + 10))))
           |               * 1000000 + 0.5) AS BIGINT) AS cmu
           |  FROM t)
           |SELECT lang, MAX(na) AS n_train, MAX(nb) AS n_val,
           |  floor((SUM(cmu) / 1000000.0) * 10000 + 0.5) / 10000 AS psi
           |FROM m GROUP BY lang ORDER BY lang""".stripMargin),
    bench = true, lowLatency = true)

  val all: Seq[QueryDef] = Seq(
    q169ZipfFit, q170PsiDrift,
    q28LangId, q29Quality, q30TokenStats, q31Fingerprint, q32UuidFormat,
    q47BpeTokens, q48RollingHash, q56Redact, q57Split, q60SampleHash,
    q67TokenQuantiles, q68Tfidf, q70Repetition, q71PackBins,
    q75MixRebalance, q77Profile, q79BigramPmi, q87CharEntropy,
    q115MixTemperature, q116LangIdProfile, q117GopherGate,
    q92QualityTiers, q93TokenQuantilesApprox, q99UnigramXent,
    q108MixTemperature, q109Chunking, q111GlobalTiers,
    q129WinnowProvenance, q132DistinctApproxGate, q147TrainingPipeline,
    q148BpePack, q197PaddingWaste, q202EpochSchedule, q149PiiRedact, q153PipelineBpe, q157TrainShards,
    q161DomainReweight, q162CcnetBuckets, q163DsirSelect,
    q164TokenizerFertility, q165ModernPipeline, q175TokenShards,
    q178PackedSequences, q181EncodingQuality, q183NfcNormalize, q184NfcDedup,
    q185CorpusDatasheet, q186VocabPrune)
}
