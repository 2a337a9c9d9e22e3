package graft

import graft.functions.Membership
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Frozen-list membership ([[Membership.contains]] /
  * [[Membership.overlaps]]) is an exact broadcast binary search: every
  * answer must equal Scala `Set` membership over the same list, at
  * fixture size and past it, with duplicates, and with NULL keys.
  */
class MembershipSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"

  private def probeOf(c: org.apache.spark.sql.Column)
      : Option[graft.plans.SetContainsBcast] = {
    import org.apache.spark.sql.GraftShims
    GraftShims.expression(c).collectFirst {
      case b: graft.plans.SetContainsBcast => b
    }
  }

  test("contains and overlaps equal Scala Set membership on small and " +
      "large lists, and the plan carries the broadcast probe") {
    spark // the probe broadcasts via the active session
    Seq(8, 200).foreach { size =>
      val keys = (0 until size).map(i => s"tok$i")
      val set = keys.toSet
      assert(probeOf(Membership.contains(lit("tok3"), keys)).nonEmpty)
      // the overlaps probe sits inside the unresolved exists-lambda
      // body, which collectFirst cannot descend before resolution —
      // the string form shows it
      import org.apache.spark.sql.GraftShims
      assert(GraftShims.expression(Membership.overlaps(array(lit("x")),
        keys)).toString.contains("setcontainsbcast"))
      val probes = Seq("tok0", "tok7", s"tok${size - 1}", s"tok$size",
        "zz", "", "TOK1")
      val got = spark.range(1).select(probes.map(p =>
        Membership.contains(lit(p), keys)): _*).head
      probes.zipWithIndex.foreach { case (p, i) =>
        assert(got.getBoolean(i) == set(p), s"contains($p), $size keys")
      }
      val arrs = Seq(Seq("tok7", "zz"), Seq("zz"), Seq.empty[String])
      val gotO = spark.range(1).select(arrs.map(a =>
        Membership.overlaps(typedLit(a), keys)): _*).head
      arrs.zipWithIndex.foreach { case (a, i) =>
        assert(gotO.getBoolean(i) == a.exists(set), s"overlaps($a)")
      }
      val nul = spark.range(1).select(
        Membership.contains(lit(null).cast("string"), keys)).head
      assert(nul.isNullAt(0), "a NULL key must probe NULL")
    }
  }

  test("a duplicate-heavy list broadcasts only its distinct keys and " +
      "answers like its Set") {
    spark
    // 640 raw entries, 8 distinct
    val dupHeavy = Seq.fill(80)((0 until 8).map(i => s"k$i")).flatten
    val probe = probeOf(Membership.contains(lit("k3"), dupHeavy))
    assert(probe.map(_.table.value.length).contains(8),
      "the broadcast table carries duplicates")
    val set = dupHeavy.toSet
    val probes = Seq("k0", "k5", "k7", "k8", "zz")
    val got = spark.range(1).select(probes.map(p =>
      Membership.contains(lit(p), dupHeavy)): _*).head
    probes.zipWithIndex.foreach { case (p, i) =>
      assert(got.getBoolean(i) == set(p), s"contains($p)")
    }
  }

  test("contains: the q186 vocabulary rewrite equals a Scala Set " +
      "rewrite token-for-token") {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), x => x =!= "")
          .as("words"))
    val vocab = docs.select(explode(col("words")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(25)
      .collect().map(_.getString(0)).toSeq
    val set = vocab.toSet
    val got = docs.select(col("words"),
      transform(col("words"), x =>
        when(Membership.contains(x, vocab), x)
          .otherwise(lit("<unk>"))).as("rw"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val want = r.getSeq[String](0).map(w => if (set(w)) w else "<unk>")
      assert(r.getSeq[String](1) == want)
    }
  }

  test("overlaps: the q179 suffix-blocklist relation equals Scala Set " +
      "membership, including a row with a NULL element") {
    val domains = Fixtures.read(spark, Fixtures.domainBlocklistPath)
      .collect().map(_.getString(0)).toSeq
    val set = domains.toSet
    val sufs = Fixtures.read(spark, Fixtures.urlCorpusPath)
      .withColumn("host",
        regexp_replace(regexp_replace(
          lower(split_part(regexp_replace(regexp_replace(col("url"),
            "#.*$", ""), "(?i)^https?://", ""), lit("/"), lit(1))),
          "^www\\.", ""), ":(80|443)$", ""))
      .withColumn("labels", split(col("host"), "\\."))
      .withColumn("sufs",
        transform(sequence(lit(1), size(col("labels"))), i =>
          array_join(slice(col("labels"), i,
            size(col("labels")) - i + 1), ".")))
      .select(col("doc_id"), col("sufs"))
      .unionByName(spark.range(1).select(
        lit(-1L).as("doc_id"),
        array(lit("no-match"), lit(null).cast("string")).as("sufs")))
    val got = sufs.select(col("sufs"),
      Membership.overlaps(col("sufs"), domains).as("b")).collect()
    assert(got.exists(r => !r.isNullAt(1) && r.getBoolean(1)),
      "no URL matched the blocklist — the comparison would be vacuous")
    got.foreach { r =>
      val xs = r.getSeq[String](0)
      // exists' three-valued logic: a hit is true; no hit with a NULL
      // element is NULL; otherwise false
      val want: Option[Boolean] =
        if (xs.exists(x => x != null && set(x))) Some(true)
        else if (xs.contains(null)) None
        else Some(false)
      assert((if (r.isNullAt(1)) None else Some(r.getBoolean(1))) == want,
        s"overlaps($xs)")
    }
  }
}
