package org.apache.spark {

  /** How many listeners the context's bus holds; the bus is package-private. */
  object ListenerCount {
    def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size
  }
}

package graft {

  import org.apache.spark.ListenerCount
  import org.scalatest.funsuite.AnyFunSuite

  /** `QueryProfile`: one listener per profiled block, drained by a marker
    * job that is never counted, and removed however the block ends.
    */
  class QueryProfileSpec extends AnyFunSuite {
    import TestSpark._

    private def sc = spark.sparkContext

    test("a three-partition count is one job of three tasks") {
      val (n, p) = QueryProfile(spark)(sc.parallelize(1 to 10, 3).count())
      assert(n == 10)
      assert(p.jobs == 1 && p.tasks == 3 && p.taskFail == 0, p.toString)
      assert(p.wall > 0.0 && p.taskSec >= 0.0 && p.gc >= 0.0, p.toString)
    }

    test("the marker job is never counted") {
      // the marker is itself a one-partition count
      val (_, same) = QueryProfile(spark)(sc.parallelize(Seq(1), 1).count())
      assert(same.jobs == 1 && same.tasks == 1, same.toString)
      (1 to 5).foreach { _ =>
        val (_, idle) = QueryProfile(spark)(())
        assert(idle.jobs == 0 && idle.tasks == 0 && idle.taskSec == 0.0, idle.toString)
      }
    }

    test("two consecutive profiles do not share events") {
      val (_, busy) = QueryProfile(spark)(sc.parallelize(1 to 1000, 4).map(_ * 2).count())
      val (_, idle) = QueryProfile(spark)(())
      assert(busy.jobs == 1 && busy.tasks == 4, busy.toString)
      assert(idle.jobs == 0 && idle.tasks == 0, idle.toString)
    }

    test("a body that throws rethrows and leaves the listener count unchanged") {
      val before = ListenerCount(sc)
      val e = intercept[IllegalStateException] {
        QueryProfile(spark) {
          sc.parallelize(1 to 3, 1).count()
          throw new IllegalStateException("planted")
        }
      }
      assert(e.getMessage == "planted")
      assert(ListenerCount(sc) == before)
      QueryProfile(spark)(())
      assert(ListenerCount(sc) == before)
    }
  }
}
