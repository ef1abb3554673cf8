package graft.events

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.DoubleType
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** E10's running sum, without Spark: as doubles of every magnitude enter
  * and leave the frame, the sum must read as the double nearest the exact
  * sum of the values in the frame. */
class TrailingSumSpec extends AnyFlatSpec with Matchers {

  "the trailing frame's sum" should "equal the exact sum of its values, rounded once" in {
    val rnd = new scala.util.Random(20261019L)
    def value(): Double = rnd.nextInt(4) match {
      case 0 => rnd.nextInt(200001) / 100.0 - 1000.0
      case 1 => rnd.nextGaussian() * math.pow(10, rnd.nextInt(40) - 20)
      case 2 => if (rnd.nextBoolean()) 1e16 else -1e16
      case _ =>
        val d = java.lang.Double.longBitsToDouble(rnd.nextLong())
        if (d.isNaN || d.isInfinite) 0.5 else d
    }
    for (window <- Seq(0L, 1L, 3L, 8L)) {
      val frame = new SlidingFrame.Trailing(0, DoubleType)
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      for (sec <- 0L until 2000L) {
        val v = value()
        frame.evictBefore(sec - window)
        frame.enter(sec, Row(v))
        seen += sec -> v
        val exact = seen.filter(_._1 >= sec - window)
          .map(x => new java.math.BigDecimal(x._2))
          .reduce(_ add _).doubleValue
        val got = frame.emit(Row(v))
        got.getLong(1) shouldBe math.min(sec, window) + 1
        withClue(s"window $window, second $sec: ") {
          got.getDouble(2) shouldBe exact
        }
      }
    }
  }
}
