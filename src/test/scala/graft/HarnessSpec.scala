package graft

import graft.tools.Harness
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class HarnessSpec extends SparkSpec {

  "Harness.timed" should "give -1 for a thunk that throws" in {
    Harness.timed(spark, "[harness-spec] throws")(sys.error("boom")) shouldBe
      -1.0
  }

  "Harness.median" should "be -1 when any one of its timed repeats fails" in {
    var calls = 0
    // call 1 is the untimed warm-up; only the second timed repeat throws
    val t = Harness.median(spark, "[harness-spec] flaky") {
      calls += 1
      if (calls == 3) sys.error("flake")
    }
    calls shouldBe 1 + Harness.Repeats
    t shouldBe -1.0
    Harness.median(spark, "[harness-spec] steady")(()) should be >= 0.0
  }

  "Harness.release" should
      "unpersist a frame registered with Caches.persistTracked" in {
    val df = graft.util.Caches.persistTracked(spark.range(100).toDF("id"))
    df.count()
    df.storageLevel should not be StorageLevel.NONE
    Harness.release(spark)
    df.storageLevel shouldBe StorageLevel.NONE
  }

  "src/main/scala" should "build a SparkSession only in the harness" in {
    val root = Paths.get("src/main/scala")
    Files.isDirectory(root) shouldBe true
    val builders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder("))
      .map(p => root.relativize(p).toString).toList
    builders shouldBe List("graft/tools/Harness.scala")
  }

  "Profile.covered" should "count time shared by concurrent jobs once" in {
    // two overlapping jobs and one disjoint: 0–10 ∪ 5–12 ∪ 20–21
    Profile.covered(Seq((5L, 12L), (0L, 10L), (20L, 21L))) shouldBe 13L
    Profile.covered(Seq((0L, 10L), (2L, 3L))) shouldBe 10L
    Profile.covered(Nil) shouldBe 0L
  }
}
