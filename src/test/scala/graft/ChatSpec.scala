package graft

import graft.tools.GenChatFixture
import org.scalatest.funsuite.AnyFunSuite

/** q190/q191 instruction-data curation: validation and dedup semantics
  * recomputed from the fixture generator's emission rules.
  */
class ChatSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001" // unused by the fixture read

  private lazy val stats =
    SparkEntry.queries("q190_chat_stats")(spark, dir).collect()
      .map(r => r.getAs[Long]("conv_id") -> r).toMap

  test("committed fixture matches the generator rules (no stale parquet)") {
    val table = Fixtures.bpeMerges(spark).value
    val committed = Fixtures.read(spark, Fixtures.chatConvosPath)
      .collect()
      .map(r => (r.getAs[Long]("conv_id"), r.getAs[String]("source"),
        r.getAs[String]("convo"), r.getAs[Long]("ref_tokens")))
      .sortBy(_._1)
    assert(committed.length == GenChatFixture.NumConvos)
    committed.foreach { case (c, src, j, ref) =>
      assert(src == GenChatFixture.source(c))
      assert(j == GenChatFixture.json(c),
        s"conv $c: committed JSON drifted from generator rules")
      assert(ref == graft.functions.Bpe.countTokens(
        GenChatFixture.rendered(c), table).toLong,
        s"conv $c: committed ref_tokens drifted")
    }
    // per-turn counts reproduce AND sum exactly to the whole-render
    // count — the additivity identity q204's truncation arithmetic
    // rests on (pre-token runs cannot span turn joints)
    val turnTok = Fixtures.read(spark, Fixtures.chatConvosPath)
      .select("conv_id", "ref_tokens", "ref_turn_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Long](2)))
    turnTok.foreach { case (c, whole, per) =>
      assert(per == GenChatFixture.turns(c).map { case (r, t) =>
        graft.functions.Bpe.countTokens(s"<|$r|>$t", table).toLong },
        s"conv $c: committed per-turn counts drifted")
      assert(per.sum == whole,
        s"conv $c: per-turn counts don't sum to the render count")
    }
  }

  test("q204 keeps the recency suffix within budget (or the final turn " +
      "when even that overflows) and conserves tokens") {
    val out = SparkEntry.queries("q204_chat_truncate")(spark, dir)
      .collect()
    val refTurns = Fixtures.read(spark, Fixtures.chatConvosPath)
      .select("conv_id", "ref_turn_tokens").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out.nonEmpty)
    var truncated = 0
    out.foreach { r =>
      val c = r.getAs[Long]("conv_id")
      val kept = r.getAs[Long]("tokens_kept")
      val dropped = r.getAs[Long]("tokens_dropped")
      assert(kept + dropped == refTurns(c).sum,
        s"conv $c: token conservation broke")
      if (r.getAs[Int]("truncated") == 1) {
        truncated += 1
        // maximality: keeping ONE more turn would overflow the budget
        assert(kept <= operators.Chat.TruncateBudget ||
          r.getAs[Int]("n_kept") <=
            (if (GenChatFixture.hasSystem(c)) 2 else 1),
          s"conv $c: over budget without the final-turn fallback")
      } else {
        assert(kept <= operators.Chat.TruncateBudget)
        assert(dropped == 0L)
      }
    }
    assert(truncated > 0, "budget never binds — test is vacuous")
  }

  test("q196 pairs the highest- and lowest-rated valid completions per " +
      "prompt group, skipping all-tied groups") {
    val out = SparkEntry.queries("q196_dpo_pairs")(spark, dir).collect()
      .map(r => r.getAs[String]("prompt_key") ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("chosen_conv"),
          r.getAs[Int]("chosen_rating"), r.getAs[Long]("rejected_conv"),
          r.getAs[Int]("rejected_rating"))).toMap
    val validIds = (0L until GenChatFixture.NumConvos.toLong)
      .filter(GenChatFixture.violation(_) == -1)
    val byPrompt = validIds.groupBy(GenChatFixture.promptIdx)
    // recompute keys via q191's output (shared definition)
    val keyOf = SparkEntry.queries("q191_chat_dedup")(spark, dir)
      .collect().map(r => r.getAs[Long]("conv_id") ->
        r.getAs[String]("prompt_key")).toMap
    var pairs = 0
    byPrompt.foreach { case (p, ids) =>
      val rs = ids.map(c => c -> GenChatFixture.rating(c))
      val key = keyOf(ids.head)
      if (rs.map(_._2).distinct.size <= 1) {
        assert(!out.contains(key), s"prompt $p: all-tied group emitted")
      } else {
        pairs += 1
        val (n, cc, cr, rc, rr) = out(key)
        assert(n == ids.size)
        val maxR = rs.map(_._2).max
        val minR = rs.map(_._2).min
        assert(cr == maxR && rr == minR)
        assert(cc == rs.filter(_._2 == maxR).map(_._1).min,
          s"prompt $p: chosen tie-break wrong")
        assert(rc == rs.filter(_._2 == minR).map(_._1).min,
          s"prompt $p: rejected tie-break wrong")
        assert(cc != rc)
      }
    }
    assert(pairs > 0 && out.size == pairs)
  }

  test("q199 flags exactly the valid conversations whose prompt index " +
      "falls in the eval pool") {
    val out = SparkEntry.queries("q199_chat_decontam")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("convos"), r.getAs[Long]("contaminated"),
          r.getAs[Long]("kept"))).toMap
    val expected = (0L until GenChatFixture.NumConvos.toLong)
      .filter(GenChatFixture.violation(_) == -1)
      .groupBy(GenChatFixture.source)
      .map { case (src, ids) =>
        val contam = ids.count(c => GenChatFixture.promptIdx(c) <
          operators.Chat.NumEvalPrompts)
        src -> (ids.size.toLong, contam.toLong,
          (ids.size - contam).toLong)
      }
    assert(out == expected)
    assert(out.values.map(_._2).sum > 0, "no contamination planted")
  }

  test("q200 capstone funnel: packed conversations are exactly the " +
      "deduped, decontaminated valid set; token totals conserve") {
    val out = SparkEntry.queries("q200_sft_pipeline")(spark, dir)
      .collect()
    val validIds = (0L until GenChatFixture.NumConvos.toLong)
      .filter(GenChatFixture.violation(_) == -1)
    val kept = validIds.groupBy(GenChatFixture.promptIdx)
      .filter { case (p, _) => p >= operators.Chat.NumEvalPrompts }
      .values.map(_.min).toSeq
    assert(out.map(_.getAs[Long]("convos")).sum == kept.size)
    val refTokens = Fixtures.read(spark, Fixtures.chatConvosPath)
      .select("conv_id", "ref_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(_.getAs[Long]("tokens")).sum ==
      kept.map(refTokens).sum, "token conservation broke in the funnel")
    // bins are dense per source starting at 0
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val bins = rows.map(_.getAs[Long]("bin")).sorted
      assert(bins.toSeq == (0L until bins.length.toLong).toSeq,
        s"$src bins: ${bins.toSeq}")
    }
  }

  test("q192 renders exactly the valid conversations with distinct " +
      "templates and positive token counts") {
    val out = SparkEntry.queries("q192_chat_render")(spark, dir).collect()
    val validIds = (0L until GenChatFixture.NumConvos.toLong)
      .filter(GenChatFixture.violation(_) == -1)
    assert(out.map(_.getAs[Long]("conv_id")).sorted.toSeq == validIds)
    // completions are conversation-unique, so full renders never
    // collide even when opening prompts are planted duplicates
    assert(out.map(_.getAs[String]("render_md5")).distinct.length ==
      out.length)
    assert(out.forall(_.getAs[Long]("n_tokens") > 0))
  }

  test("validity matches the planted violation map exactly") {
    (0L until GenChatFixture.NumConvos.toLong).foreach { c =>
      val expected = if (GenChatFixture.violation(c) == -1) 1 else 0
      val got = stats(c).getAs[Int]("valid")
      assert(got == expected,
        s"conv $c (violation ${GenChatFixture.violation(c)}): valid=$got")
    }
    // every violation type actually occurs in the fixture
    val types = (0L until GenChatFixture.NumConvos.toLong)
      .map(GenChatFixture.violation).toSet
    assert(types == Set(-1, 0, 1, 2, 3))
  }

  test("turn stats recompute from the generator's turn lists") {
    (0L until GenChatFixture.NumConvos.toLong).foreach { c =>
      val ts = GenChatFixture.turns(c)
      val r = stats(c)
      assert(r.getAs[Int]("n_msgs") == ts.length)
      assert(r.getAs[Int]("n_user") == ts.count(_._1 == "user"))
      assert(r.getAs[Int]("n_assistant") == ts.count(_._1 == "assistant"))
      assert(r.getAs[Int]("has_system") ==
        (if (ts.head._1 == "system") 1 else 0))
      assert(r.getAs[Long]("user_chars") ==
        ts.filter(_._1 == "user").map(_._2.length.toLong).sum)
      assert(r.getAs[Long]("assistant_chars") ==
        ts.filter(_._1 == "assistant").map(_._2.length.toLong).sum)
    }
  }

  test("prompt dedup keeps exactly the earliest valid conversation " +
      "per planted prompt group") {
    val out = SparkEntry.queries("q191_chat_dedup")(spark, dir).collect()
      .map(r => (r.getAs[Long]("conv_id"), r.getAs[String]("prompt_key"),
        r.getAs[Int]("keep")))
    val validIds = (0L until GenChatFixture.NumConvos.toLong)
      .filter(GenChatFixture.violation(_) == -1)
    assert(out.map(_._1).sorted.toSeq == validIds)
    // group by the PLANTED prompt index and check keep flags + keys
    val byPrompt = validIds.groupBy(GenChatFixture.promptIdx)
    val keyOf = out.map(r => r._1 -> r._2).toMap
    val keepOf = out.map(r => r._1 -> r._3).toMap
    byPrompt.foreach { case (p, ids) =>
      assert(ids.map(keyOf).toSet.size == 1,
        s"prompt $p: members disagree on the key")
      ids.foreach { id =>
        assert(keepOf(id) == (if (id == ids.min) 1 else 0),
          s"prompt $p conv $id: wrong keep flag")
      }
    }
    // distinct prompts have distinct keys (no md5 folding across plants)
    assert(byPrompt.keys.map(p => keyOf(byPrompt(p).head)).toSet.size ==
      byPrompt.size)
    // the fixture actually plants duplicates
    assert(byPrompt.values.exists(_.size >= 2))
  }
}
