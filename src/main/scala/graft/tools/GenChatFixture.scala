package graft.tools

import graft.{Fixtures, Sessions}

/** Writes `fixtures/chat_convos.parquet` (conv_id, source, convo): a
  * deterministic multi-turn chat corpus in the standard messages-array
  * JSON shape (`{"messages":[{"role":...,"content":...},...]}` — the
  * ShareGPT/OpenAI chat format instruction-tuning pipelines ingest),
  * with two kinds of plants the chat-curation queries need:
  *
  *  - PROMPT-LEVEL DUPLICATES: each conversation's first user message
  *    is drawn from a pool of [[NumPrompts]] prompts keyed by
  *    `promptIdx(c)`, so ~3 conversations share each opening prompt
  *    verbatim while every later turn is conversation-unique — the
  *    redundancy instruct-data dedup keys on (duplicate prompts with
  *    different completions still leak eval prompts and over-weight
  *    popular questions).
  *  - ROLE-SCHEMA VIOLATIONS (~20% of conversations, `violation(c)`):
  *    0 = two consecutive user messages, 1 = dangling user (no final
  *    assistant reply), 2 = unknown role "tool", 3 = system message
  *    mid-conversation. Everything else is a well-formed
  *    [system?] (user assistant)+ alternation.
  *
  * Content is word-salad over a closed `wNN` vocabulary — plain ASCII,
  * no JSON escapes — so the Spark `from_json` parse and the DuckDB
  * JSON→STRUCT cast see byte-identical strings.
  */
object GenChatFixture {
  val NumConvos = 360
  val NumPrompts = 120
  private val SourceNames = Array("sharegpt", "synth", "forum")

  private def mix64(z0: Long): Long = Mix64(z0)

  def source(c: Long): String = SourceNames((c % 3).toInt)
  def hasSystem(c: Long): Boolean = math.floorMod(mix64(c * 5 + 1), 3) == 0
  def nPairs(c: Long): Int = 1 + math.floorMod(mix64(c * 5 + 2), 4).toInt
  def promptIdx(c: Long): Int =
    math.floorMod(mix64(c * 5 + 3), NumPrompts.toLong).toInt

  /** Violation type in 0..3, or -1 for a well-formed conversation. */
  def violation(c: Long): Int = {
    val v = math.floorMod(mix64(c * 5 + 4), 20L).toInt
    if (v < 4) v else -1
  }

  /** Annotator preference rating in 0..9 — the per-completion quality
    * signal DPO pair construction (q196) ranks within a prompt group.
    */
  def rating(c: Long): Int = math.floorMod(mix64(c * 5 + 6), 10L).toInt

  def words(seed: Long, n: Int): String =
    (0 until n).map(i =>
      f"w${math.floorMod(mix64(seed * 31 + i), 64L)}%02d").mkString(" ")

  /** Shared opening prompt for prompt-pool index p. */
  def promptText(p: Int): String = words(0x9000L + p, 6)

  /** (role, content) turns of conversation c, violations applied. */
  def turns(c: Long): Seq[(String, String)] = {
    val base = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    if (hasSystem(c)) base += (("system", words(c * 401 + 7, 4)))
    (0 until nPairs(c)).foreach { t =>
      val u =
        if (t == 0) promptText(promptIdx(c))
        else words(c * 977 + t, 5 + math.floorMod(mix64(c * 13 + t), 4).toInt)
      base += (("user", u))
      base += (("assistant",
        words(c * 1229 + t, 8 + math.floorMod(mix64(c * 17 + t), 5).toInt)))
    }
    violation(c) match {
      case 0 => // consecutive same role: extra user right after the first
        val at = if (hasSystem(c)) 2 else 1
        base.insert(at, ("user", words(c * 771 + 9, 5)))
      case 1 => // dangling user: drop the final assistant reply
        base.remove(base.length - 1)
      case 2 => // unknown role on the final reply
        val (_, content) = base.last
        base(base.length - 1) = ("tool", content)
      case 3 => // system message mid-conversation: index 1 is past the
        // head for every base shape (≥ 2 messages), so the plant can
        // never degenerate into a legal leading system
        base.insert(1, ("system", words(c * 881 + 3, 4)))
      case _ => ()
    }
    base.toSeq
  }

  def json(c: Long): String =
    turns(c).map { case (r, t) => s"""{"role":"$r","content":"$t"}""" }
      .mkString("""{"messages":[""", ",", "]}")

  /** Chat-template rendering of conversation c — the exact string
    * q192 assembles in-plan (and the oracle re-assembles in SQL).
    */
  def rendered(c: Long): String =
    turns(c).map { case (r, t) => s"<|$r|>$t" }.mkString

  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("graft-gen-chat", Some("4"))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // reference token counts of the rendered template under the
    // committed BPE merges — the q148 oracle pattern: the q192 hash
    // match proves the in-plan render + merge loop per conversation
    val table = Fixtures.bpeMerges(spark).value
    val rows = (0L until NumConvos.toLong).map { c =>
      // per-turn reference counts: the BPE pre-token regex cannot form
      // a run spanning a turn joint (content ends alphanumeric, every
      // turn render starts with '<' — different classes), so these sum
      // EXACTLY to the whole-render count; ChatSpec pins the identity
      (c, source(c), json(c),
        graft.functions.Bpe.countTokens(rendered(c), table).toLong,
        rating(c),
        turns(c).map { case (r, t) =>
          graft.functions.Bpe.countTokens(s"<|$r|>$t", table).toLong })
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-chat")
    rows.toDF("conv_id", "source", "convo", "ref_tokens", "rating",
      "ref_turn_tokens")
      .coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .map(_.getPath)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      .head
    java.nio.file.Files.move(java.nio.file.Paths.get(part),
      java.nio.file.Paths.get(Fixtures.chatConvosPath),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    println(s"wrote ${rows.size} conversations to " +
      Fixtures.chatConvosPath)
    spark.stop()
  }
}
