package graft

import graft.functions.VectorOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native DotProduct/L2Norm: value parity with the lambda formulation
  * (bit-identical sequential accumulation), null propagation, codegen and
  * interpreted paths agreeing.
  */
class VectorExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("dot and norm match the higher-order-function formulation exactly") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2, 0.3), Seq(-0.7, 0.11, 13.0))).toDF("a", "b")
    val rows = df.select(
      VectorOps.dot(col("a"), col("b")).as("d1"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0),
        (acc, x) => acc + x).as("d2"),
      VectorOps.l2norm(col("a")).as("n1"),
      sqrt(aggregate(col("a"), lit(0.0), (acc, x) => acc + x * x)).as("n2"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // bit-identical
      assert(r.getDouble(2) == r.getDouble(3))
    }
  }

  test("null propagation") {
    val df = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]]))
      .toDF("a", "b")
    val r = df.select(VectorOps.dot(col("a"), col("b"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("rolling hash: fold parity, codepoints, null, empty") {
    def ref(s: String): Long = {
      var h = 0L
      s.codePoints().toArray.foreach(cp => h = (h * 31 + cp) % 1000000007L)
      h
    }
    val inputs = Seq("", "a", "hello world", "it's ~ §ümlaut",
      "astral 😀 pair") // 😀 = U+1F600
    val df = inputs.toDF("s")
    val got = df.select(VectorOps.rollingHash(col("s")).as("rh"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == inputs.map(ref))
    val n = Seq(Option.empty[String]).toDF("s")
      .select(VectorOps.rollingHash(col("s"))).collect()(0)
    assert(n.isNullAt(0))
  }

  test("shingle set: parity with the split+transform+array_distinct " +
      "formulation on seeded random texts and edge cases") {
    // reference = the HOF pipeline ShingleSet replaced (len = 3)
    def ref(s: String): Seq[String] = {
      val w = s.split(" ", -1).toSeq
      if (w.length < 3) Seq.empty
      else (0 to w.length - 3)
        .map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").distinct
    }
    val rnd = new scala.util.Random(42)
    val words = Seq("the", "quick", "brown", "fox", "", "a", "über",
      "数据", "x'y", "z\"w")
    val randomTexts = (1 to 200).map { _ =>
      (0 until rnd.nextInt(12)).map(_ => words(rnd.nextInt(words.size)))
        .mkString(" ")
    }
    val edge = Seq("", " ", "  ", "a b c", "a  b  c", "a b c d e",
      "same same same same", " leading", "trailing ", "one two")
    val inputs = (randomTexts ++ edge).distinct
    val got = inputs.toDF("s")
      .select(col("s"), VectorOps.shingles(col("s"), 3).as("g"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    inputs.foreach { s =>
      assert(got(s).sorted == ref(s).sorted, s"text='$s'")
    }
    // len parameter: 5-gram count on a known text
    val five = Seq("a b c d e f g").toDF("s")
      .select(VectorOps.shingles(col("s"), 5)).collect()(0)
      .getSeq[String](0)
    assert(five == Seq("a b c d e", "b c d e f", "c d e f g"))
    val nul = Seq(Option.empty[String]).toDF("s")
      .select(VectorOps.shingles(col("s"), 3)).collect()(0)
    assert(nul.isNullAt(0))
  }

  test("sorted intersect count: parity with array_intersect on seeded " +
      "random duplicate-free sorted arrays; empty and disjoint edges") {
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 60).map(i => s"tok$i")
    val cases = (1 to 150).map { _ =>
      val a = rnd.shuffle(vocab).take(rnd.nextInt(20)).sorted
      val b = rnd.shuffle(vocab).take(rnd.nextInt(20)).sorted
      (a, b)
    } ++ Seq((Seq.empty[String], Seq("x")), (Seq("x"), Seq.empty[String]),
      (Seq("a", "b"), Seq("c", "d")), (Seq("a", "b"), Seq("a", "b")))
    val got = cases.toDF("a", "b")
      .select(col("a"), col("b"),
        VectorOps.sortedIntersectCount(col("a"), col("b")).as("c"),
        size(array_intersect(col("a"), col("b"))).as("expect"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(2) == r.getInt(3),
        s"a=${r.getSeq[String](0)} b=${r.getSeq[String](1)}")
    }
    val nul = Seq((Some(Seq("a")), Option.empty[Seq[String]]))
      .toDF("a", "b")
      .select(VectorOps.sortedIntersectCount(col("a"), col("b")))
      .collect()(0)
    assert(nul.isNullAt(0))
  }

  test("shingle hash set: per-element xxhash64 parity with the string " +
      "shingle set, sortedness, dedup, null/short-text edges") {
    val rnd = new scala.util.Random(7)
    val words = Seq("the", "quick", "brown", "fox", "", "a", "über",
      "数据", "x'y", "z\"w")
    val randomTexts = (1 to 200).map { _ =>
      (0 until rnd.nextInt(12)).map(_ => words(rnd.nextInt(words.size)))
        .mkString(" ")
    }
    val edge = Seq("", " ", "  ", "a b c", "a  b  c", "a b c d e",
      "same same same same", " leading", "trailing ", "one two")
    val inputs = (randomTexts ++ edge).distinct
    // reference: xxhash64(seed 0) of every STRING shingle, sorted set —
    // Spark's xxhash64() function uses seed 42, so hash via the same
    // catalyst helper the expression uses
    def refHash(s: String): Long =
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType, 0L)
    val got = inputs.toDF("s")
      .select(col("s"),
        VectorOps.shingleHashes(col("s"), 3).as("h"),
        VectorOps.shingles(col("s"), 3).as("g"))
      .collect()
    got.foreach { r =>
      val h = r.getSeq[Long](1)
      val expect = r.getSeq[String](2).map(refHash).distinct.sorted
      assert(h == expect, s"text='${r.getString(0)}'")
      assert(h == h.distinct.sorted)
    }
    val nul = Seq(Option.empty[String]).toDF("s")
      .select(VectorOps.shingleHashes(col("s"), 3)).collect()(0)
    assert(nul.isNullAt(0))
  }

  test("sorted long intersect count: parity with array_intersect on " +
      "seeded random sorted long arrays; empty/disjoint/null edges") {
    val rnd = new scala.util.Random(13)
    val vocab = (1 to 60).map(i => rnd.nextLong())
    val cases = (1 to 150).map { _ =>
      val a = rnd.shuffle(vocab).take(rnd.nextInt(20)).sorted
      val b = rnd.shuffle(vocab).take(rnd.nextInt(20)).sorted
      (a, b)
    } ++ Seq((Seq.empty[Long], Seq(1L)), (Seq(1L), Seq.empty[Long]),
      (Seq(Long.MinValue, 0L), Seq(Long.MaxValue)),
      (Seq(-5L, 3L), Seq(-5L, 3L)))
    val got = cases.toDF("a", "b")
      .select(col("a"), col("b"),
        VectorOps.sortedLongIntersectCount(col("a"), col("b")).as("c"),
        size(array_intersect(col("a"), col("b"))).as("expect"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(2) == r.getInt(3),
        s"a=${r.getSeq[Long](0)} b=${r.getSeq[Long](1)}")
    }
    val nul = Seq((Some(Seq(1L)), Option.empty[Seq[Long]]))
      .toDF("a", "b")
      .select(VectorOps.sortedLongIntersectCount(col("a"), col("b")))
      .collect()(0)
    assert(nul.isNullAt(0))
  }

  test("byte entropy: reference parity, closed forms, null, empty") {
    def ref(s: String): Double = {
      val bs = s.getBytes("UTF-8")
      if (bs.isEmpty) 0d
      else bs.groupBy(identity).values.map(_.length.toDouble / bs.length)
        .map(p => -p * math.log(p) / math.log(2d)).sum
    }
    val rnd = new scala.util.Random(7)
    val inputs = (Seq("", "a", "aaaa", "ab", "abab", "abcd",
      "the quick brown fox", "über §ümlaut 数据") ++
      (1 to 100).map(_ => rnd.alphanumeric.take(rnd.nextInt(40)).mkString))
      .distinct
    val got = inputs.toDF("s")
      .select(col("s"), VectorOps.byteEntropy(col("s")).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    inputs.foreach { s =>
      assert(math.abs(got(s) - ref(s)) < 1e-12, s"text='$s'")
    }
    // closed forms: single symbol = 0 bits; two equiprobable = 1 bit;
    // four equiprobable = 2 bits
    assert(got("aaaa") == 0d)
    assert(math.abs(got("abab") - 1d) < 1e-12)
    assert(math.abs(got("abcd") - 2d) < 1e-12)
    val nul = Seq(Option.empty[String]).toDF("s")
      .select(VectorOps.byteEntropy(col("s"))).collect()(0)
    assert(nul.isNullAt(0))
  }

  test("bigram counts: parity with the filter-split-transform " +
      "relational spelling on seeded random texts and edge cases") {
    val rnd = new scala.util.Random(13)
    val words = Vector("a", "bb", "ccc", "dd", "e")
    val inputs = (Seq("", "a", "a b", "a  b", " a b ", "a a a",
      "x y x y x") ++
      (1 to 60).map(_ => (0 to rnd.nextInt(25))
        .map(_ => if (rnd.nextInt(6) == 0) "" else words(rnd.nextInt(5)))
        .mkString(" "))).distinct
    val df = inputs.toDF("s")
    val inRow = df.select(col("s"),
        explode(VectorOps.bigramCounts(col("s"))).as("e"))
      .select(col("s"), col("e.t"), col("e.tf"))
    val relational = df
      .withColumn("w", expr("filter(split(s, ' '), x -> x <> '')"))
      .filter(size(col("w")) >= 2)
      .select(col("s"), explode(expr(
        "transform(sequence(1, size(w) - 1)," +
          " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
        .as("t"))
      .groupBy("s", "t").agg(count(lit(1)).as("tf"))
    assert(inRow.exceptAll(relational).isEmpty &&
      relational.exceptAll(inRow).isEmpty,
      "in-row bigram counts diverge from the relational spelling")
    val nul = Seq(Option.empty[String]).toDF("s")
      .select(VectorOps.bigramCounts(col("s"))).collect()(0)
    assert(nul.isNullAt(0))
  }

  test("sign band codes: bit-parity with the relational dot-threshold " +
      "bit-sum over seeded random vectors and planes") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val bBits = 5
    val lTables = 7
    // planes packed ((t*bBits)+b)*dim + d — the Fixtures layout
    val planes = Array.fill(lTables, bBits, dim)(rnd.nextGaussian())
    val packed = (for { t <- 0 until lTables; b <- 0 until bBits;
      d <- 0 until dim } yield planes(t)(b)(d)).toArray
    def ref(v: Seq[Double]): Seq[Long] =
      (0 until lTables).map { t =>
        (0 until bBits).map { b =>
          // same sequential accumulation as DotProduct
          var dot = 0.0
          var d = 0
          while (d < dim) { dot += v(d) * planes(t)(b)(d); d += 1 }
          if (dot > 0) 1L << b else 0L
        }.sum
      }
    val vecs = (1 to 50).map(_ => Seq.fill(dim)(rnd.nextGaussian()))
    val planesBc = graft.plans.FrozenTable.ofDoubles(spark, packed, lTables)
    val got = vecs.toDF("v")
      .select(col("v"),
        VectorOps.signBandCodesBcast(col("v"), planesBc).as("codes"))
      .as[(Seq[Double], Seq[Long])].collect().toMap
    vecs.foreach { v =>
      assert(got(v) == ref(v), s"codes diverged for $v")
    }
    // and the exploded (tbl, code) relation matches the crossJoin +
    // groupBy spelling wideBandNeardup uses (the q135 oracle's shape)
    val planesDf = (for { t <- 0 until lTables; b <- 0 until bBits }
      yield (t, b, planes(t)(b).toSeq)).toDF("tbl", "bit", "plane")
    val e = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "v")
    val relational = e.crossJoin(broadcast(planesDf))
      .withColumn("proj", VectorOps.dot(col("v"), col("plane")))
      .groupBy(col("vec_id"), col("tbl"))
      .agg(sum(when(col("proj") > 0, expr("shiftleft(1, bit)"))
        .otherwise(0)).cast("long").as("code"))
    val inRow = e.select(col("vec_id"),
      posexplode(VectorOps.signBandCodesBcast(col("v"), planesBc))
        .as(Seq("tbl", "code")))
    assert(inRow.exceptAll(relational).isEmpty &&
      relational.exceptAll(inRow).isEmpty,
      "in-row codes diverge from the relational spelling")
    val nul = Seq(Option.empty[Seq[Double]]).toDF("v")
      .select(VectorOps.signBandCodesBcast(col("v"), planesBc))
      .collect()(0)
    assert(nul.isNullAt(0))
  }

  test("bloom contains: codegen path agrees with the kernel probe, " +
      "null propagates") {
    val rnd = new scala.util.Random(23)
    val bits = new Array[Long]((1 << 12) >>> 6)
    val members = Array.fill(200)(rnd.nextLong())
    members.foreach(graft.plans.BloomContains.set(bits, 7, _))
    val keys = (members.toSeq ++ Seq.fill(800)(rnd.nextLong())).distinct
    val table = graft.plans.FrozenTable.ofLongs(spark, bits, bits.length)
    val got = keys.toDF("k")
      .select(col("k"),
        VectorOps.bloomContains(col("k"), table, 7).as("hit"))
      .as[(Long, Boolean)].collect().toMap
    keys.foreach { k =>
      assert(got(k) == graft.plans.BloomContains.probe(bits, 7, k),
        s"codegen/interpretted divergence for $k")
    }
    assert(members.forall(got(_)), "member keys must always probe true")
    val nul = Seq(Option.empty[java.lang.Long]).toDF("k")
      .select(VectorOps.bloomContains(col("k"), table, 7)).collect()(0)
    assert(nul.isNullAt(0))
  }

  test("dot and l2norm: interpreted and generated paths agree bit for " +
      "bit on nulls, empty and ragged arrays, NaN, ±0.0 and ±Infinity") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // a child session: the codegen switches below stay off the shared
    // session's conf
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    val inf = Double.PositiveInfinity
    val arrays: Seq[Seq[Double]] = Seq(null, Nil, Seq(1.0, 1.0, 1.0),
      Seq(0.1, 0.2, 0.3), Seq(0.1, -0.2), Seq(Double.NaN, 1.0),
      Seq(-0.0, 0.0, -0.0), Seq(-0.0), Seq(inf, -inf), Seq(inf, 2.0),
      Seq(-inf), Seq(1e308, 1e308, -1e308), Seq(4.9e-324, 3.0))
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType, containsNull = false)),
      StructField("b", ArrayType(DoubleType, containsNull = false))))
    // an RDD source, not a local relation: the optimizer would evaluate
    // a projection over local rows itself, interpreted, in both modes
    val pairs = for (a <- arrays; b <- arrays) yield Row(a, b)
    val df = s.createDataFrame(s.sparkContext.parallelize(pairs, 3), schema)
    def eval(mode: String): Seq[Seq[Option[Long]]] = {
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      val out = df.select(col("a"), col("b"),
        VectorOps.dot(col("a"), col("b")), VectorOps.l2norm(col("a")))
      assert(out.queryExecution.executedPlan.collectFirst {
        case p: org.apache.spark.sql.execution.ProjectExec => p }.isDefined)
      out.collect().toSeq.map(r => (2 to 3).map(i =>
        if (r.isNullAt(i)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))))
    }
    val interpreted = eval("NO_CODEGEN")
    val generated = eval("CODEGEN_ONLY")
    assert(interpreted.size == pairs.size)
    interpreted.zip(generated).zip(pairs).foreach { case ((i, g), p) =>
      assert(i == g, s"paths disagree on $p: interpreted $i, generated $g")
    }
    // null in, null out; an empty or absent overlap sums to +0.0
    assert(interpreted.head == Seq(None, None))
    assert(interpreted(arrays.size + 1) ==
      Seq(Some(0L), Some(0L))) // (Nil, Nil)
  }

  test("broadcast-table kernels: interpreted and generated paths agree " +
      "on null rows, NaN and ±0.0 components, a sparse-cid book, and " +
      "non-ASCII and empty keys") {
    import org.apache.spark.sql.{GraftShims, Row}
    import org.apache.spark.sql.types._
    // a child session: the codegen switches below stay off the shared
    // session's conf
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    val nan = Double.NaN
    // the last vector ties: equal cosine to three centroids of
    // `dense`, equal distance to two codewords of `pq`
    val vecs: Seq[Seq[Double]] = Seq(null, Seq(1.0, 2.0, 3.0, 4.0),
      Seq(-0.0, 0.0, -0.0, 0.0), Seq(nan, 1.0, -1.0, 2.0),
      Seq(-3.0, 0.5, 7.0, -0.0), Seq(1e6, -1e6, 2e6, 0.0),
      Seq(2.0, 2.0, 2.0, 2.0))
    val nrms: Seq[java.lang.Double] =
      Seq(null, 5.477, 0.0, nan, -0.0, 1.0, 4.0)
    val keys = Seq(null, "", "über", "uber", "数据", "😀", "a", "zz",
      "the quick 😀 fox über alles")
    val rows = for {
      (v, i) <- vecs.zipWithIndex
      sub <- Seq(0, 1)
      k <- keys
    } yield Row(v, nrms(i), sub, k)
    val schema = StructType(Seq(
      StructField("v", ArrayType(DoubleType, containsNull = false)),
      StructField("nrm", DoubleType),
      StructField("sub", IntegerType, nullable = false),
      StructField("key", StringType)))
    // an RDD source, not a local relation: the optimizer would evaluate
    // a projection over local rows itself, interpreted, in both modes
    val df = s.createDataFrame(s.sparkContext.parallelize(rows, 3), schema)
    // sparse cids (0, 2, 5), `[cid, cn, cv…]` entries
    val cents = Array(
      Array(0.0, 2.0, 1.0, 1.0, 1.0, 1.0),
      Array(2.0, 1.0, -1.0, 0.0, 0.0, 0.0),
      Array(5.0, 0.0, -0.0, 0.0, nan, 0.0)).flatten
    // sparse (sub, cid) entries: sub 0 → cids 0, 3; sub 1 → cid 1
    val book = Array(
      Array(0.0, 0.0, 1.0, 1.0, 1.0, 1.0),
      Array(0.0, 3.0, -2.0, 0.0, 4.0, -0.0),
      Array(1.0, 1.0, nan, 0.5, 0.0, 1.0)).flatten
    // 2 tables × 3 bits × dim 4
    val planes = Array.tabulate(24)(i => if (i % 5 == 0) -0.0
      else math.sin(i.toDouble))
    // dense `[cn, cv…]` entries: three unit axes, then a zero
    // centroid (cn 0)
    val dense = Array(
      Array(1.0, 1.0, 0.0, 0.0, 0.0),
      Array(1.0, 0.0, 1.0, 0.0, 0.0),
      Array(1.0, 0.0, 0.0, 1.0, -0.0),
      Array(0.0, -0.0, 0.0, 0.0, 0.0)).flatten
    // PQ book, 2 subspaces × K=3 × subDim 2: a NaN and a -0.0
    // component in subspace 1
    val pq = Array(3.0, 1.0, 1.0, 3.0, -2.0, 0.5,
      2.0, 2.0, nan, 1.0, -0.0, 3.0)
    // merges t+h → 256, 256+e → 257, and the first two bytes of a
    // 4-byte (astral) UTF-8 sequence → 258
    val bpe = graft.functions.Bpe.frozen(s, new graft.functions.Bpe.Table(
      Array(116, 256, 0xf0), Array(104, 101, 0x9f)))
    // packed [thr, bias, w…], 7 buckets
    val logit = graft.plans.FrozenTable.ofLongs(s,
      graft.plans.HashedLogit.pack(Array(3L, -2L, 7L, 11L, -13L, 17L, 19L),
        -5L, 0L), 9)
    val dsir = graft.plans.DsirModelTable.frozen(s,
      graft.plans.DsirModelTable.build(Seq(("über", 3L, 1L),
        ("😀", 1L, 0L), ("a", 5L, 2L), ("the", 2L, 2L)), 11L, 4L, 5L))
    // Bloom members: key lengths 0 and 2 ("", "数据", "zz")
    val bloomBits = new Array[Long](4)
    Seq(0L, 2L).foreach(graft.plans.BloomContains.set(bloomBits, 3, _))
    val bloom = graft.plans.FrozenTable.ofLongs(s, bloomBits, 4)
    val text = col("key")
    def col2(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      GraftShims.column(e)
    def ex(c: org.apache.spark.sql.Column) = GraftShims.expression(c)
    val kernels = Seq(
      col2(graft.plans.CentroidMuAssignBcast(ex(col("v")), ex(col("nrm")),
        graft.plans.FrozenTable.ofDoubles(s, cents, 3))).as("mu"),
      col2(graft.plans.SubL2ArgminBcast(ex(col("v")), ex(col("sub")),
        graft.plans.FrozenTable.ofDoubles(s, book, 3))).as("l2"),
      VectorOps.signBandCodesBcast(col("v"),
        graft.plans.FrozenTable.ofDoubles(s, planes, 2)).as("sb"),
      graft.functions.Membership.contains(col("key"),
        keys.filter(k => k != null && k != "uber")).as("in"),
      VectorOps.centroidTopK(col("v"), col("nrm"),
        graft.plans.FrozenTable.ofDoubles(s, dense, 4), 3).as("topk"),
      VectorOps.pqCodes(col("v"),
        graft.plans.FrozenTable.ofDoubles(s, pq, 6), 3, 2).as("codes"),
      VectorOps.pqLut(col("v"),
        graft.plans.FrozenTable.ofDoubles(s, pq, 6), 3, 2).as("lut"),
      VectorOps.hashedLogit(text, logit).as("logit"),
      VectorOps.bpeCount(text, bpe).as("bpe_n"),
      VectorOps.bpeIds(text, bpe).as("bpe_ids"),
      VectorOps.unigramDsirScore(text, dsir).as("dsir"),
      VectorOps.bloomContains(length(col("key")).cast("long"), bloom, 3)
        .as("bloom"))
    def eval(mode: String): Seq[Row] = {
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      val out = df.select(kernels: _*)
      assert(out.queryExecution.executedPlan.collectFirst {
        case p: org.apache.spark.sql.execution.ProjectExec => p }.isDefined)
      out.collect().toSeq
    }
    val interpreted = eval("NO_CODEGEN")
    val generated = eval("CODEGEN_ONLY")
    assert(interpreted.size == rows.size)
    interpreted.zip(generated).zip(rows).foreach { case ((i, g), r) =>
      assert(i == g, s"paths disagree on $r: interpreted $i, generated $g")
    }
    // null in, null out; the probes answer exact membership, and the
    // Bloom probe never misses a member
    val nullRow = interpreted.head
    assert((0 until nullRow.size).forall(nullRow.isNullAt))
    assert(interpreted.take(keys.size).map(r =>
      if (r.isNullAt(3)) None else Some(r.getBoolean(3))) ==
      Seq(None, Some(true), Some(true), Some(false), Some(true),
        Some(true), Some(true), Some(true), Some(true)))
    assert(interpreted.take(keys.size).zip(keys).forall { case (r, k) =>
      !Set("", "数据", "zz").contains(k) || r.getBoolean(11) })
  }
}
