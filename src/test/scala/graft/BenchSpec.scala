package graft

/** Bench's registry and output contract: the skip list names real queries,
  * the set keeps its size, the stdout line stays short, and each standing
  * fixture is built once and never shared.
  */
class BenchSpec extends SparkSpec {

  /** `Bench.skip` stays a private field readable by reflection — the
    * benchmark's query mix reads it that way.
    */
  private val skip: Set[String] = {
    val f = Bench.getClass.getDeclaredField("skip")
    f.setAccessible(true)
    f.get(Bench).asInstanceOf[Set[String]]
  }

  test("every skipped name is a registry query (a stale name benches nothing)") {
    assert(skip.size == 26)
    assert(skip -- SparkEntry.queries.keySet == Set.empty)
  }

  test("fast variants never shadow a registry query; the set has 140 names") {
    assert(Bench.fastVariants.keySet.intersect(SparkEntry.queries.keySet) == Set.empty)
    assert(Bench.benchSet.size == 140)
    assert(Bench.benchSet.keySet ==
      (SparkEntry.queries.keySet -- skip) ++ Bench.fastVariants.keySet)
  }

  test("the stdout contract line stays within 200 bytes; the full line keeps the detail") {
    val names = Bench.benchSet.keys.toSeq.sorted
    val failed = names.take(16)
    val results = names.drop(16).map(_ -> BigDecimal("999.999"))
    val (full, contract) = Bench.report(results, failed, "sf0.1")
    assert(contract.getBytes("UTF-8").length <= 200, contract)
    val total = BigDecimal("999.999") * 124
    assert(contract ==
      s"""{"metric":"total","value":$total,"unit":"sec","n":124,"failed":16,"detail":"BENCH_SELF.json"}""")
    assert(full.startsWith(s"""{"metric":"total","value":$total,"unit":"sec","queries":{"""))
    names.drop(16).foreach(n => assert(full.contains("\"" + n + "\":999.999")))
    assert(full.contains(failed.map("\"" + _ + "\"").mkString("\"failed\":[", ",", "]")))
  }

  test("standing tables build once and b54's table is not b57's") {
    val dml = Bench.dmlTable(spark, sf)
    assert(Bench.dmlTable(spark, sf) == dml)
    val dv = Bench.dvTable(spark, sf)
    assert(dv != dml)
    assert(Bench.dvTable(spark, sf) == dv)
  }

  test("SparkEntry.entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
