package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** [[Bench.timedCount]] releases a query's tracked caches even when the
  * query throws, so a failed run cannot leak persisted blocks into the
  * next timed run. */
class BenchTimedCountSpec extends SparkSuite {

  test("a query that throws after persisting a tracked frame leaves it unpersisted") {
    var persisted: DataFrame = null
    val failing: (SparkSession, String) => DataFrame = { (s, _) =>
      persisted = graft.ops.QueryCaches.track(s.range(1000).toDF("id").persist())
      persisted.count()
      throw new IllegalStateException("query failed after caching")
    }
    intercept[IllegalStateException](Bench.timedCount(spark, sf(), failing))
    assert(persisted != null)
    assert(persisted.storageLevel === StorageLevel.NONE)
  }
}
