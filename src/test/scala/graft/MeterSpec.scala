package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

class MeterSpec extends SparkSpec {

  test("a parquet read reports the exact records of the file it reads") {
    val p = tmp("graft_meter_read") + "/t"
    spark.range(0, 1234).repartition(1).write.parquet(p)
    val (total, cost) = meter(spark.read.parquet(p).agg(sum(col("id"))).head().getLong(0))
    assert(total == 1234L * 1233L / 2)
    assert(cost.inputRecords == 1234L && cost.inputBytes > 0L, cost)
  }

  test("a repartition reports the bytes its shuffle wrote") {
    val (n, cost) = meter(spark.range(0, 1000).repartition(3).agg(count(lit(1))).head().getLong(0))
    assert(n == 1000L)
    assert(cost.shuffleBytes > 0L && cost.jobs >= 1 && cost.tasks >= 3L, cost)
  }

  test("a job that throws counts as one failed job") {
    val (_, cost) = meter(intercept[SparkException] {
      spark.sparkContext.parallelize(Seq(1), 1)
        .map(i => if (i > 0) throw new IllegalStateException("meter probe") else i).count()
    })
    assert(cost.jobs == 1 && cost.failedJobs == 1, cost)
  }

  test("a job another thread starts during the block is not counted") {
    val go = new CountDownLatch(1)
    val other = new Thread(() => { go.await(); spark.range(0, 10).collect(); () })
    other.start()
    val (_, cost) = meter {
      go.countDown()
      other.join()
      spark.range(0, 10).collect()
    }
    assert(cost.jobs == 1, cost)
  }
}
