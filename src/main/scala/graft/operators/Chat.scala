package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.QueryDef

/** Instruction-data (chat) curation — the stage ShareGPT/LMSYS-class
  * fine-tuning corpora run before any pretraining-style dedup applies:
  * conversations arrive as a messages-array JSON document, and the
  * pipeline must (a) parse + validate the ROLE SCHEMA (an optional
  * leading system message, then strict user/assistant alternation
  * ending on an assistant reply — turns that violate it break chat
  * templates at training time), (b) report per-conversation turn/
  * volume stats, and (c) dedup at PROMPT level: the same opening user
  * prompt with different completions still over-weights popular
  * questions and leaks eval prompts, so dedup keys on the normalized
  * first user message, not the whole document (Longpre et al.'23 data
  * measurements; the practice in OpenAssistant/LMSYS releases).
  *
  * The reference engine has no document-structure tier at all (its
  * JSON surface is scalar extraction, `/root/reference` pgferry maps
  * JSON columns 1:1) — this is part of the training-data layer the
  * survey adds. Everything is in-row array work over the parsed
  * struct (no explode — a conversation's turns never cross rows), so
  * both queries are map-only + one keyed exchange at 100 TB.
  *
  * Validation logic, shared by both queries and mirrored verbatim in
  * the oracle CTE: roles all in {system,user,assistant}; system
  * allowed at index 1 only; after stripping it, length ≥ 2, first =
  * user, last = assistant, and NO equal adjacent pair — over the
  * two-symbol alphabet that remains, adjacent-distinct IS alternation.
  */
object Chat {

  private val MsgSchema: StructType = StructType.fromDDL(
    "messages ARRAY<STRUCT<role: STRING, content: STRING>>")

  /** Parse + validate any relation carrying a `convo` JSON column —
    * stateless in-row work, so the SAME definition dresses the batch
    * fixture read (q190–q192) and each streaming micro-batch (q194).
    * Adds `m` (messages), `roles`, `s` (system-stripped roles), one
    * 0/1 flag per failure mode, and their conjunction `valid`.
    */
  private[graft] def dress(df: DataFrame): DataFrame = {
    val m = from_json(col("convo"), MsgSchema).getField("messages")
    val roles = transform(col("m"), x => x.getField("role"))
    val stripLen = greatest(size(col("roles")) - 1, lit(0))
    val stripped = when(get(col("roles"), lit(0)) === "system",
      slice(col("roles"), lit(2), stripLen)).otherwise(col("roles"))
    val adjLen = greatest(size(col("s")) - 1, lit(0))
    val sameAdj = size(filter(
      zip_with(slice(col("s"), lit(1), adjLen),
        slice(col("s"), lit(2), adjLen), (a, b) => a === b),
      x => x))
    df.withColumn("m", m)
      .withColumn("roles", roles)
      .withColumn("s", stripped)
      .withColumn("bad_role", when(
        size(filter(col("roles"), r =>
          !(r === "system" || r === "user" || r === "assistant"))) > 0,
        lit(1)).otherwise(lit(0)))
      .withColumn("misplaced_system", when(
        size(filter(slice(col("roles"), lit(2),
          greatest(size(col("roles")) - 1, lit(0))),
          r => r === "system")) > 0, lit(1)).otherwise(lit(0)))
      .withColumn("bad_ends", when(
        size(col("s")) >= 2 &&
          get(col("s"), lit(0)) === "user" &&
          get(col("s"), size(col("s")) - 1) === "assistant",
        lit(0)).otherwise(lit(1)))
      .withColumn("non_alt",
        when(sameAdj > 0, lit(1)).otherwise(lit(0)))
      .withColumn("valid", when(
        col("bad_role") + col("misplaced_system") + col("bad_ends") +
          col("non_alt") === 0, lit(1)).otherwise(lit(0)))
  }

  /** The dressed batch fixture relation (q190–q192). */
  private[graft] def dressed(s: SparkSession): DataFrame =
    dress(graft.Fixtures.read(s, graft.Fixtures.chatConvosPath))

  /** Per-source gate counters over any conversation relation — ONE
    * definition for q194's streaming aggregation, its batch oracle
    * shape, and the restart spec (the piiScrubCounts contract).
    */
  private[graft] def gateCounts(df: DataFrame): DataFrame =
    dress(df).groupBy(col("source"))
      .agg(count(lit(1)).as("convos"),
        sum(col("valid")).as("valid"),
        sum(col("bad_role")).as("bad_role"),
        sum(col("misplaced_system")).as("misplaced_system"),
        sum(col("bad_ends")).as("bad_ends"),
        sum(col("non_alt")).as("non_alt"))

  private def roleChars(role: String): Column =
    aggregate(
      transform(filter(col("m"), x => x.getField("role") === role),
        x => length(x.getField("content")).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Shared oracle CTE: the same parse + validation in DuckDB's
    * JSON→STRUCT cast + list ops (lazy: interpolated into both
    * oracles — see the verify-skill init-order note).
    */
  private[graft] lazy val dressedSql: String =
    s"""c AS (
       |  SELECT conv_id, source, rating,
       |    CAST(convo AS STRUCT(
       |      messages STRUCT(role VARCHAR, content VARCHAR)[])).messages
       |      AS m
       |  FROM read_parquet('${graft.Fixtures.chatConvosPath}')),
       |r AS (
       |  SELECT conv_id, source, rating, m,
       |    list_transform(m, x -> x.role) AS roles
       |  FROM c),
       |st AS (
       |  SELECT conv_id, source, rating, m, roles,
       |    CASE WHEN roles[1] = 'system' THEN roles[2:] ELSE roles END AS s
       |  FROM r),
       |fl AS (
       |  SELECT conv_id, source, rating, m, roles, s,
       |    CASE WHEN len(list_filter(roles,
       |        x -> x NOT IN ('system','user','assistant'))) > 0
       |      THEN 1 ELSE 0 END AS bad_role,
       |    CASE WHEN len(list_filter(roles[2:], x -> x = 'system')) > 0
       |      THEN 1 ELSE 0 END AS misplaced_system,
       |    CASE WHEN len(s) >= 2 AND s[1] = 'user'
       |        AND s[-1] = 'assistant'
       |      THEN 0 ELSE 1 END AS bad_ends,
       |    CASE WHEN len(list_filter(list_zip(s[:-2], s[2:]),
       |        p -> p[1] = p[2])) > 0
       |      THEN 1 ELSE 0 END AS non_alt
       |  FROM st),
       |d AS (
       |  SELECT *, CASE WHEN bad_role + misplaced_system + bad_ends +
       |      non_alt = 0 THEN 1 ELSE 0 END AS valid
       |  FROM fl)""".stripMargin

  // Per-conversation parse/validate/stats relation — the audit the
  // curation run reports before dropping anything.
  val q190ChatStats: QueryDef = QueryDef(
    "q190_chat_stats",
    (s, dir) =>
      dressed(s).select(
        col("conv_id"), col("source"),
        size(col("m")).as("n_msgs"),
        size(filter(col("m"), x => x.getField("role") === "user"))
          .as("n_user"),
        size(filter(col("m"), x => x.getField("role") === "assistant"))
          .as("n_assistant"),
        when(get(col("roles"), lit(0)) === "system", lit(1))
          .otherwise(lit(0)).as("has_system"),
        roleChars("user").as("user_chars"),
        roleChars("assistant").as("assistant_chars"),
        col("valid"))
        .orderBy("conv_id"),
    Some(s"""WITH $dressedSql
            |SELECT conv_id, source,
            |  CAST(len(m) AS INTEGER) AS n_msgs,
            |  CAST(len(list_filter(m, x -> x.role = 'user'))
            |    AS INTEGER) AS n_user,
            |  CAST(len(list_filter(m, x -> x.role = 'assistant'))
            |    AS INTEGER) AS n_assistant,
            |  CASE WHEN roles[1] = 'system' THEN 1 ELSE 0 END
            |    AS has_system,
            |  CAST(coalesce(list_aggregate(
            |    list_transform(list_filter(m, x -> x.role = 'user'),
            |      x -> len(x.content)), 'sum'), 0) AS BIGINT)
            |    AS user_chars,
            |  CAST(coalesce(list_aggregate(
            |    list_transform(list_filter(m, x -> x.role = 'assistant'),
            |      x -> len(x.content)), 'sum'), 0) AS BIGINT)
            |    AS assistant_chars,
            |  valid
            |FROM d ORDER BY conv_id""".stripMargin))

  /** Normalized (lower, trim, whitespace-collapsed) first user
    * message — ONE definition for the dedup key (q191/q196/q200/q203
    * via [[promptKey]]) and the decontam compares (q199/q200).
    */
  private[graft] def normFirstUserPrompt: Column = {
    val firstUser = get(
      transform(filter(col("m"), x => x.getField("role") === "user"),
        x => x.getField("content")), lit(0))
    lower(trim(regexp_replace(firstUser, "\\s+", " ")))
  }

  /** md5 of [[normFirstUserPrompt]]. */
  private[graft] def promptKey: Column = md5(normFirstUserPrompt)

  /** The oracle spelling of [[promptKey]], applied to the `d` CTE. */
  private[graft] val PromptKeySql: String =
    """md5(lower(trim(regexp_replace(
      |      list_transform(list_filter(m, x -> x.role = 'user'),
      |        x -> x.content)[1], '\s+', ' ', 'g'))))""".stripMargin

  // Prompt-level dedup among VALID conversations: key = md5 of the
  // normalized (lower, trim, whitespace-collapsed) first user message;
  // keep = earliest conv_id per key (min-agg + join back — the q20
  // min_by discipline, NOT a window over a ~unique key).
  val q191ChatDedup: QueryDef = QueryDef(
    "q191_chat_dedup",
    (s, dir) => {
      val base = dressed(s).filter(col("valid") === 1)
        .withColumn("prompt_key", promptKey)
        .select("conv_id", "source", "prompt_key")
        .transform(graft.Caches.persist)
      val keepers = base.groupBy("prompt_key")
        .agg(min("conv_id").as("keeper"))
      base.join(keepers, "prompt_key")
        .select(col("conv_id"), col("source"), col("prompt_key"),
          when(col("conv_id") === col("keeper"), lit(1)).otherwise(lit(0))
            .as("keep"))
        .orderBy("conv_id")
    },
    Some(s"""WITH $dressedSql,
            |k AS (
            |  SELECT conv_id, source,
            |    $PromptKeySql AS prompt_key
            |  FROM d WHERE valid = 1)
            |SELECT conv_id, source, prompt_key,
            |  CASE WHEN conv_id = MIN(conv_id)
            |    OVER (PARTITION BY prompt_key) THEN 1 ELSE 0 END AS keep
            |FROM k ORDER BY conv_id""".stripMargin))

  // DPO preference-pair construction (Rafailov et al. NeurIPS'23; the
  // data-prep step behind every DPO/RLHF-lite run): within each
  // prompt group of VALID conversations, pair the highest-rated
  // completion (chosen) with the lowest-rated (rejected). Groups
  // whose ratings all tie carry no preference signal and emit
  // nothing — the standard rule. Deterministic argmax/argmin without
  // floats or structs: the selection key is rating·10⁶ ∓ conv_id
  // (conv_id < 10⁶ by construction), so ties break toward the
  // smaller conv_id on both sides — one integer expression both
  // engines evaluate identically. One prompt-keyed agg; output
  // bounded by the prompt-pool size.
  val q196DpoPairs: QueryDef = QueryDef(
    "q196_dpo_pairs",
    (s, dir) =>
      dressed(s).filter(col("valid") === 1)
        .withColumn("prompt_key", promptKey)
        .select("conv_id", "rating", "prompt_key")
        .groupBy("prompt_key")
        .agg(count(lit(1)).as("n_candidates"),
          expr("max_by(conv_id, rating * 1000000 - conv_id)")
            .as("chosen_conv"),
          max("rating").as("chosen_rating"),
          expr("min_by(conv_id, rating * 1000000 + conv_id)")
            .as("rejected_conv"),
          min("rating").as("rejected_rating"))
        .filter(col("chosen_rating") > col("rejected_rating"))
        .orderBy("prompt_key"),
    Some(s"""WITH $dressedSql,
            |k AS (
            |  SELECT conv_id, rating,
            |    $PromptKeySql AS prompt_key
            |  FROM d WHERE valid = 1)
            |SELECT prompt_key, COUNT(*) AS n_candidates,
            |  arg_max(conv_id, rating * 1000000 - conv_id)
            |    AS chosen_conv,
            |  MAX(rating) AS chosen_rating,
            |  arg_min(conv_id, rating * 1000000 + conv_id)
            |    AS rejected_conv,
            |  MIN(rating) AS rejected_rating
            |FROM k GROUP BY prompt_key
            |HAVING MAX(rating) > MIN(rating)
            |ORDER BY prompt_key""".stripMargin))

  // SFT prompt decontamination — the instruction-tier twin of q65:
  // pretraining decontam matches n-grams, but SFT releases screen
  // PROMPTS against benchmark prompt sets (the normalized opening
  // user message IS the unit of leakage — a training prompt equal to
  // an eval prompt leaks the benchmark even under a different
  // completion). The eval set here is the first [[NumEvalPrompts]]
  // prompt-pool entries, probed through
  // [[graft.functions.Membership.contains]] — an exact broadcast
  // binary search, so a production benchmark set (10³–10⁵ prompts)
  // needs no change at this call site. One in-row normalized-prompt
  // membership probe + one source-keyed agg.
  val NumEvalPrompts = 10

  val q199ChatDecontam: QueryDef = QueryDef(
    "q199_chat_decontam",
    (s, dir) => {
      val evalTexts = (0 until NumEvalPrompts)
        .map(graft.tools.GenChatFixture.promptText)
      dressed(s).filter(col("valid") === 1)
        .withColumn("contaminated",
          when(graft.functions.Membership.contains(
            normFirstUserPrompt, evalTexts), lit(1))
            .otherwise(lit(0)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("convos"),
          sum(col("contaminated")).as("contaminated"),
          sum(lit(1L) - col("contaminated")).as("kept"))
        .orderBy("source")
    },
    Some({
      val evalList = (0 until NumEvalPrompts)
        .map(p => s"'${graft.tools.GenChatFixture.promptText(p)}'")
        .mkString(", ")
      s"""WITH $dressedSql,
         |k AS (
         |  SELECT source,
         |    CASE WHEN lower(trim(regexp_replace(
         |      list_transform(list_filter(m, x -> x.role = 'user'),
         |        x -> x.content)[1], '\\s+', ' ', 'g')))
         |      IN ($evalList) THEN 1 ELSE 0 END AS contaminated
         |  FROM d WHERE valid = 1)
         |SELECT source, COUNT(*) AS convos,
         |  CAST(SUM(contaminated) AS BIGINT) AS contaminated,
         |  CAST(SUM(1 - contaminated) AS BIGINT) AS kept
         |FROM k GROUP BY source ORDER BY source""".stripMargin
    }))

  // Chat-template rendering + tokenizer-exact accounting: turn each
  // VALID conversation into the training string (role-tagged turns,
  // the ChatML-shaped assembly every SFT pipeline runs) and count its
  // tokens with the real in-plan BPE merge loop. Oracle = the same
  // rendering re-assembled in SQL (md5 proves byte-identical strings)
  // joined to the fixture's generator-side reference counts — the
  // q148 pattern: a hash match proves the in-plan render AND the
  // merge loop conversation-for-conversation.
  val q192ChatRender: QueryDef = QueryDef(
    "q192_chat_render",
    (s, dir) => {
      val merges = graft.Fixtures.bpeMerges(s)
      val rendered = array_join(
        transform(col("m"), x => concat(lit("<|"),
          x.getField("role"), lit("|>"), x.getField("content"))), "")
      dressed(s).filter(col("valid") === 1)
        .withColumn("rendered", rendered)
        .select(col("conv_id"), col("source"),
          md5(col("rendered")).as("render_md5"),
          graft.functions.VectorOps.bpeCount(col("rendered"), merges)
            .cast("long").as("n_tokens"))
        .orderBy("conv_id")
    },
    Some(s"""WITH $dressedSql,
            |ren AS (
            |  SELECT conv_id, source,
            |    array_to_string(list_transform(m,
            |      x -> '<|' || x.role || '|>' || x.content), '')
            |      AS rendered
            |  FROM d WHERE valid = 1)
            |SELECT r.conv_id, r.source, md5(r.rendered) AS render_md5,
            |  CAST(f.ref_tokens AS BIGINT) AS n_tokens
            |FROM ren r JOIN read_parquet(
            |  '${graft.Fixtures.chatConvosPath}') f
            |  ON r.conv_id = f.conv_id
            |ORDER BY r.conv_id""".stripMargin))

  // Context-window truncation (q204) — the fitting policy every SFT
  // trainer applies when a conversation outgrows the training context:
  // KEEP the system message, then the LONGEST SUFFIX of turns whose
  // tokens (with system) fit the budget, never dropping the FINAL
  // TURN (drop-oldest-first — chat models are trained and served with
  // recency-keeping truncation; when even the final user+assistant
  // pair overflows, only the final turn survives — the fallback the
  // spec pins). Token counts come from the
  // in-plan BPE merge loop applied PER TURN inside a higher-order
  // transform; the oracle runs the identical suffix arithmetic over
  // the fixture's committed per-turn reference counts, so the hash
  // match proves per-turn encode AND the policy. The suffix search is
  // in-row prefix sums over ≤13-element arrays (monotone, so the cut
  // index is just a count of prefixes below the required drop) — no
  // explode, no join; map-only at 100 TB.
  val TruncateBudget = 128L

  val q204ChatTruncate: QueryDef = QueryDef(
    "q204_chat_truncate",
    (s, dir) => {
      val merges = graft.Fixtures.bpeMerges(s)
      val turnNt = transform(col("m"), x =>
        graft.functions.VectorOps.bpeCount(
          concat(lit("<|"), x.getField("role"), lit("|>"),
            x.getField("content")), merges).cast("long"))
      dressed(s).filter(col("valid") === 1)
        .withColumn("tnt", turnNt)
        .withColumn("has_sys",
          when(get(col("roles"), lit(0)) === "system", 1).otherwise(0))
        .withColumn("sys_nt",
          when(col("has_sys") === 1, get(col("tnt"), lit(0)))
            .otherwise(lit(0L)))
        .withColumn("rest", when(col("has_sys") === 1,
          slice(col("tnt"), lit(2), greatest(size(col("tnt")) - 1,
            lit(0)))).otherwise(col("tnt")))
        .withColumn("total_rest",
          aggregate(col("rest"), lit(0L), (a, x) => a + x))
        // pre(i) = tokens of the FIRST i rest-turns, i = 0..n
        .withColumn("pre", transform(
          sequence(lit(0), size(col("rest"))),
          i => aggregate(slice(col("rest"), lit(1), i), lit(0L),
            (a, x) => a + x)))
        .withColumn("needed",
          greatest(col("sys_nt") + col("total_rest") - TruncateBudget,
            lit(0L)))
        // smallest i with pre(i) >= needed, capped to keep the final turn
        .withColumn("cut", least(
          size(filter(col("pre"), p => p < col("needed"))),
          greatest(size(col("rest")) - 1, lit(0))))
        .select(col("conv_id"), col("source"),
          size(col("m")).as("n_turns"),
          (size(col("rest")) - col("cut") + col("has_sys"))
            .as("n_kept"),
          (col("sys_nt") + col("total_rest") -
            get(col("pre"), col("cut"))).as("tokens_kept"),
          get(col("pre"), col("cut")).as("tokens_dropped"),
          when(col("cut") > 0, 1).otherwise(0).as("truncated"))
        .orderBy("conv_id")
    },
    Some(s"""WITH $dressedSql,
            |f AS (
            |  SELECT d.conv_id, d.source, d.roles, len(d.m) AS n_turns,
            |    CAST(fx.ref_turn_tokens AS BIGINT[]) AS tnt
            |  FROM d JOIN read_parquet(
            |    '${graft.Fixtures.chatConvosPath}') fx
            |    ON d.conv_id = fx.conv_id
            |  WHERE d.valid = 1),
            |g AS (
            |  SELECT conv_id, source, n_turns,
            |    CASE WHEN roles[1] = 'system' THEN 1 ELSE 0 END
            |      AS has_sys,
            |    CASE WHEN roles[1] = 'system' THEN tnt[1] ELSE 0 END
            |      AS sys_nt,
            |    CASE WHEN roles[1] = 'system' THEN tnt[2:] ELSE tnt END
            |      AS rest
            |  FROM f),
            |h AS (
            |  SELECT *,
            |    coalesce(list_aggregate(rest, 'sum'), 0) AS total_rest,
            |    list_transform(range(0, len(rest) + 1), i ->
            |      coalesce(list_aggregate(rest[:i], 'sum'), 0)) AS pre
            |  FROM g),
            |x AS (
            |  SELECT *,
            |    GREATEST(sys_nt + total_rest - $TruncateBudget, 0)
            |      AS needed
            |  FROM h),
            |y AS (
            |  SELECT *,
            |    LEAST(len(list_filter(pre, p -> p < needed)),
            |      GREATEST(len(rest) - 1, 0)) AS cut
            |  FROM x)
            |SELECT conv_id, source,
            |  CAST(n_turns AS INTEGER) AS n_turns,
            |  CAST(len(rest) - cut + has_sys AS INTEGER) AS n_kept,
            |  CAST(sys_nt + total_rest - pre[cut + 1] AS BIGINT)
            |    AS tokens_kept,
            |  CAST(pre[cut + 1] AS BIGINT) AS tokens_dropped,
            |  CASE WHEN cut > 0 THEN 1 ELSE 0 END AS truncated
            |FROM y ORDER BY conv_id""".stripMargin))

  // SFT data-build capstone — the whole instruction tier as ONE
  // composed Catalyst plan (the q147/q165 capstone discipline applied
  // to fine-tuning data): role-schema gate → prompt-level dedup
  // (earliest keeper) → eval-prompt decontamination → chat-template
  // render → in-plan BPE token count → greedy sequential packing into
  // 2048-token bins per source, with a per-bin content digest so the
  // output is a shippable shard manifest, not a report. The oracle
  // recomposes every stage in SQL, reading the committed reference
  // counts for the tokenizer stage (the q148/q192 contract) — a hash
  // match proves gate ∘ dedup ∘ decontam ∘ render ∘ encode ∘ pack
  // end-to-end, conversation-for-conversation.
  val q200SftPipeline: QueryDef = QueryDef(
    "q200_sft_pipeline",
    (s, dir) => {
      val BinTokens = 2048
      val merges = graft.Fixtures.bpeMerges(s)
      val evalTexts = (0 until NumEvalPrompts)
        .map(graft.tools.GenChatFixture.promptText)
      val rendered = array_join(
        transform(col("m"), x => concat(lit("<|"),
          x.getField("role"), lit("|>"), x.getField("content"))), "")
      val base = dressed(s).filter(col("valid") === 1)
        .withColumn("pnorm", normFirstUserPrompt)
        .withColumn("prompt_key", md5(col("pnorm")))
        .select("conv_id", "source", "prompt_key", "pnorm", "m")
        .transform(graft.Caches.persist)
      val keepers = base.groupBy("prompt_key")
        .agg(min("conv_id").as("keeper"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("conv_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      base.join(keepers, "prompt_key")
        .filter(col("conv_id") === col("keeper") &&
          !graft.functions.Membership.contains(col("pnorm"), evalTexts))
        .withColumn("nt", graft.functions.VectorOps
          .bpeCount(rendered, merges).cast("long"))
        .withColumn("cum_excl",
          coalesce(sum(col("nt")).over(w), lit(0L)))
        .withColumn("bin", expr(s"cum_excl div $BinTokens"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("convos"), sum(col("nt")).as("tokens"),
          md5(array_join(transform(sort_array(collect_list(
            col("conv_id"))), _.cast("string")), ",")).as("digest"))
        .orderBy("source", "bin")
    },
    Some({
      val evalList = (0 until NumEvalPrompts)
        .map(p => s"'${graft.tools.GenChatFixture.promptText(p)}'")
        .mkString(", ")
      s"""WITH $dressedSql,
         |k AS (
         |  SELECT conv_id, source, m,
         |    $PromptKeySql AS prompt_key,
         |    lower(trim(regexp_replace(
         |      list_transform(list_filter(m, x -> x.role = 'user'),
         |        x -> x.content)[1], '\\s+', ' ', 'g'))) AS pnorm
         |  FROM d WHERE valid = 1),
         |kp AS (
         |  SELECT *, MIN(conv_id) OVER (PARTITION BY prompt_key)
         |    AS keeper FROM k),
         |kept AS (
         |  SELECT kp.conv_id, kp.source,
         |    CAST(f.ref_tokens AS BIGINT) AS nt
         |  FROM kp JOIN read_parquet(
         |    '${graft.Fixtures.chatConvosPath}') f
         |    ON kp.conv_id = f.conv_id
         |  WHERE kp.conv_id = kp.keeper AND kp.pnorm NOT IN ($evalList)),
         |c2 AS (
         |  SELECT conv_id, source, nt,
         |    COALESCE(SUM(nt) OVER (PARTITION BY source ORDER BY conv_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_excl
         |  FROM kept)
         |SELECT source, CAST(cum_excl // 2048 AS BIGINT) AS bin,
         |  COUNT(*) AS convos, CAST(SUM(nt) AS BIGINT) AS tokens,
         |  md5(string_agg(CAST(conv_id AS VARCHAR), ','
         |    ORDER BY conv_id)) AS digest
         |FROM c2 GROUP BY source, CAST(cum_excl // 2048 AS BIGINT)
         |ORDER BY source, bin""".stripMargin
    }),
    bench = true, lowLatency = true)

  val all: Seq[QueryDef] = Seq(q190ChatStats, q191ChatDedup, q192ChatRender,
    q196DpoPairs, q199ChatDecontam, q200SftPipeline, q204ChatTruncate)
}
