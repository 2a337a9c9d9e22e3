package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver-side bench contract: the metric line must fit the
  * driver's ~2 KB stdout tail window AT WORST-CASE WIDTH for the
  * CURRENT headline catalog, stay a single line, and lead with the
  * `"metric"` key the driver greps for. BENCH_r9–r14 were silently
  * unparseable ("parsed": null) because the line outgrew the window
  * as the catalog grew — this spec makes that regression a build
  * failure instead of five blind rounds.
  */
class BenchContractSpec extends AnyFunSuite {

  // worst realistic per-query width: a 4-digit-second wall with the
  // full 3-decimal precision (9999.999 — nothing headline runs for
  // 2.7 h, and a wider value means the bench is broken anyway)
  private def worstLine: String = Bench.metricLine(
    SparkEntry.benchDefs.map(_.name -> 9999.999),
    unpreparedTotal = 99999.999, coldTotal = 99999.999, cores = 32,
    sf = "/root/testdata/sf0.1", fixture = "multi_row_group_rewrite")

  test("metric line fits the driver tail window at worst-case width " +
      "for every current headline query") {
    val line = worstLine
    assert(line.getBytes("UTF-8").length <= Bench.MetricLineBudgetBytes,
      s"metric line is ${line.getBytes("UTF-8").length} B for " +
        s"${SparkEntry.benchDefs.size} headline queries — over the " +
        s"${Bench.MetricLineBudgetBytes} B tail-window budget; move " +
        "fields to the diag line or trim the headline set")
  }

  test("metric line is one line, leads with the grepped key, and is " +
      "structurally closed JSON") {
    val line = worstLine
    assert(!line.contains("\n"))
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.endsWith("}"))
    // brace balance — a stray quote/brace in a query name would break
    // the driver's json.loads
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(line.count(_ == '"') % 2 == 0)
  }

  test("headline names are JSON-safe (no quotes/backslashes/control " +
      "chars that would escape the hand-rolled map)") {
    SparkEntry.benchDefs.map(_.name).foreach { n =>
      assert(n.matches("[A-Za-z0-9_]+"), s"unsafe bench name: $n")
    }
  }

  test("r16 headline swap: the dispatcher entry q207 is benched, " +
      "q58's fixed-geometry spelling is catalog-only") {
    val benched = SparkEntry.benchDefs.map(_.name).toSet
    assert(benched.contains("q207_oneshot_neardup"))
    assert(!benched.contains("q58_embed_neardup_lsh"))
    // q58 stays in the CATALOG (correctness + spec gates)
    assert(SparkEntry.defs.exists(_.name == "q58_embed_neardup_lsh"))
  }

  test("a failed query's exception text stays one JSON string on the " +
      "diag line") {
    val msg = "bad \"quote\" \\ path\nsecond line\ttab"
    val js = Bench.jsonStr(msg)
    assert(!js.contains("\n") && !js.contains("\t"))
    assert(js == "\"bad \\\"quote\\\" \\\\ path\\nsecond " +
      "line\\ttab\"")
    assert(Bench.jsonStr("\u0001") == "\"\\u0001\"")
  }

  test("the diag line carries classes compiled and compile seconds for " +
      "the cold, prepared and unprepared columns") {
    import Bench.CodegenCost
    val line = Bench.diagLine(Seq("q01" -> 0.5), Seq("q01" -> 1.25), Nil,
      Seq("q04" -> "boom"), Seq("cold" -> CodegenCost(148, 0.98765),
        "prepared" -> CodegenCost(0, 0.0),
        "unprepared" -> CodegenCost(0, 0.0)), 31.5)
    assert(!line.contains("\n"))
    assert(line.startsWith("""{"diag":"bench_detail","""))
    assert(line.contains(""""codegen":{""" +
      """"cold":{"classes":148,"compile_sec":0.988},""" +
      """"prepared":{"classes":0,"compile_sec":0.0},""" +
      """"unprepared":{"classes":0,"compile_sec":0.0}}"""))
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(line.count(_ == '"') % 2 == 0)
  }

  test("the diag line's per-query records parse as JSON and hold every " +
      "field for every query in both columns") {
    val spark = SparkTestSession.spark.newSession()
    val defs = tools.Profile.resolve(Seq("q07_group_agg", "q37_asof_join"))
    val measure = new Measure(spark, "/root/testdata/sf0.001")
    val (prepared, unprepared) = try {
      val cold = defs.map(d => measure.run(d))
      (defs.zip(cold).map { case (d, c) => d.name -> Bench.record(
        measure.run(d, Some(c)), 4) },
        defs.map(d => d.name -> Bench.record(measure.run(d), 4)))
    } finally {
      measure.close()
      Caches.unpersistAll(spark)
    }
    val line = Bench.diagLine(defs.map(_.name -> 0.5),
      defs.map(_.name -> 1.25),
      Seq("prepared" -> prepared, "unprepared" -> unprepared),
      Seq("q04" -> "boom"), Nil, 31.5)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)
    val fields = Seq("rows", "build_ms", "build_jobs", "build_task_sec",
      "optimize_ms", "plan_ms", "execute_ms", "wall_ms", "jobs", "stages",
      "task_sec", "cpu_sec", "shuffle_write_bytes",
      "max_task_shuffle_read", "floor_sec", "floor_share")
    for (column <- Seq("prepared", "unprepared"); d <- defs) {
      val rec = json.path("runs").path(column).path(d.name)
      fields.foreach(f =>
        assert(rec.path(f).isNumber, s"$column/${d.name}/$f: $line"))
      assert(rec.size == fields.size, s"$column/${d.name}: $rec")
      assert(rec.path("rows").asLong > 0)
    }
    assert(json.path("failures").path("q04").asText == "boom")
  }

  test("codegenNow counts a class compiled between two readings") {
    val before = Bench.codegenNow()
    // a literal no earlier plan embedded: its generated source is new
    SparkTestSession.spark.range(4)
      .selectExpr(s"id * ${System.nanoTime()}L AS x").collect()
    val d = Bench.codegenNow() - before
    assert(d.classes >= 1 && d.compileSec > 0)
  }
}
