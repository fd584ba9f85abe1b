package graft

import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.functions._

/** The pin-lifetime rule of [[Pins]]: a scope releases what its result does
  * not read, keeps (without recomputing) what a lazy result does read, and
  * releases everything when its body throws. */
class PinsSpec extends GraftSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a scope releases every pin its result does not read") {
    val before = persisted
    val n = Pins.scope {
      val ck = Pins.checkpoint(spark.range(100).toDF("id"))
      val cached = Pins.cache(spark.range(50).toDF("id"))
      cached.count() + ck.count()
    }
    assert(n == 150)
    assert(persisted -- before == Set.empty)
  }

  test("a lazy result keeps the pins it reads, and nothing is recomputed") {
    val evals = spark.sparkContext.longAccumulator("pins-spec-evals")
    val tick = udf { (x: Long) => evals.add(1); x }
    var unread: org.apache.spark.rdd.RDD[_] = null
    val out = Pins.scope {
      val ck = Pins.checkpoint(spark.range(0, 100, 1, 2).toDF("id")
        .select(tick(col("id")).as("id")))
      val cached = Pins.cache(spark.range(0, 10).toDF("id")
        .select(tick(col("id")).as("id")))
      unread = GraftShims.checkpointRdd(Pins.checkpoint(spark.range(5).toDF("x")))
      ck.join(cached, "id")
    }
    assert(evals.value == 100, "the checkpoint is eager, the cache lazy")
    assert(!persisted.contains(unread.id), "a pin the result does not read is released")
    assert(out.count() == 10 && out.count() == 10)
    assert(evals.value == 110, "the checkpoint was recomputed or the cache filled twice")
    // escaped to the session ledger (no enclosing scope)
    val live = persisted
    Pins.releaseAll()
    assert((live -- persisted).size >= 2)
  }

  test("an inner scope's escaping pins move to the enclosing scope, not the session") {
    val before = persisted
    Pins.scope {
      val inner = Pins.scope(Pins.checkpoint(Seq(1L, 2L, 3L).toDF("id")))
      Pins.releaseAll() // must not touch the enclosing scope's pins
      assert(inner.count() == 3)
    }
    assert(persisted -- before == Set.empty)
  }

  test("a scope releases its pins when its body throws; release drops one pin early") {
    val before = persisted
    intercept[IllegalStateException] {
      Pins.scope {
        Pins.checkpoint(spark.range(10).toDF("id"))
        throw new IllegalStateException("boom")
      }
    }
    assert(persisted -- before == Set.empty)
    Pins.scope {
      val a = Pins.checkpoint(spark.range(10).toDF("id"))
      val b = Pins.checkpoint(spark.range(20).toDF("id"))
      Pins.release(a)
      assert(!persisted.contains(GraftShims.checkpointRdd(a).id))
      assert(persisted.contains(GraftShims.checkpointRdd(b).id))
    }
    intercept[IllegalArgumentException](Pins.release(spark.range(3).toDF("id")))
  }
}
