package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Pin

/** The round loop's exit contract: whatever way a loop ends, it leaves
  * behind at most the pin that backs its result. */
class PinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("rounds: a round that throws on round 2 leaves no new persistent " +
    "RDDs — not the scoped cache, the first frame or the in-flight round") {
    val sc = spark.sparkContext
    def leakedBy(eager: Boolean, failInStep: Boolean): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet
      val training = Pin.cache(spark.range(100).toDF("id"), eager = true)
      val first = Pin.checkpoint(spark.range(10).toDF("id"), eager = true)
      var round = 0
      def failHere(here: Boolean): Unit =
        if (here && round == 2) throw new IllegalStateException("round 2 fails")
      intercept[IllegalStateException] {
        Pin.rounds(first, maxRounds = 5, eager = eager, scoped = Seq(training),
          until = { next => failHere(!failInStep); next.count() == 0 }) { cur =>
          round += 1
          failHere(failInStep)
          Some(cur.join(training, "id").select((col("id") + 1).as("id")))
        }
      }
      (sc.getPersistentRDDs.keySet -- before).toSet
    }
    // the round body throws before its plan is pinned
    val inBody = leakedBy(eager = true, failInStep = true)
    assert(inBody.isEmpty, s"a failed round body left RDDs pinned: $inBody")
    // a lazy round is pinned, then its first action throws
    val inFlight = leakedBy(eager = false, failInStep = false)
    assert(inFlight.isEmpty, s"a failed lazy round left RDDs pinned: $inFlight")
  }
}
