package graft.io

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {

  private def freshDir(): String = tmp("graft-compact") + "/t"

  test("compact rewrites a many-small-files table to the computed file count, data intact") {
    val dir = freshDir()
    val src = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity", "l_extendedprice")
    src.repartition(64).write.parquet(dir)
    assert(Compaction.dataFileCount(spark, dir) == 64)

    val total = Compaction.dataBytes(spark, dir)
    val n = Compaction.compact(spark, dir, targetFileBytes = total / 2)
    assert(n <= 4, s"expected ~2-3 files, got $n") // 64-file overhead inflates `total`
    val after = spark.read.parquet(dir)
    assert(after.count() == src.count())
    val sa = after.agg(sum("l_extendedprice")).head().getDouble(0)
    val sb = src.agg(sum("l_extendedprice")).head().getDouble(0)
    assert(math.abs(sa - sb) / math.abs(sb) < 1e-12) // addition order differs post-rewrite
  }

  test("clustered compaction keeps file-level key ranges disjoint (min/max skipping survives)") {
    val dir = freshDir()
    Tables.events(spark, sf).select("event_id", "user_id", "value")
      .repartition(32).write.parquet(dir)
    Compaction.compact(spark, dir, targetFileBytes = Compaction.dataBytes(spark, dir) / 3,
      clusterBy = Seq("user_id"))
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("lo"), max("user_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length >= 2, "expected multiple output files")
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlap: $hi > $lo2")
      case _ =>
    }
  }
}
