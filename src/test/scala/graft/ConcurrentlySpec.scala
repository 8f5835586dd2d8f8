package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `graft.concurrently`: the second side runs on a thread started per call
  * (so it carries the caller's job group), and it is always joined.
  */
class ConcurrentlySpec extends SparkSpec {

  test("q210's parallel chains carry the job group of the run that started them") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    def runUnder(group: String): Unit = {
      sc.setJobGroup(group, "graft spec")
      try SparkEntry.queries("q210_scc_classes")(spark, freshInput()).collect()
      finally sc.clearJobGroup()
    }
    runUnder("graft-spec-g1")
    org.apache.spark.graftspec.Bus.drain(sc)
    sc.addSparkListener(listener)
    try runUnder("graft-spec-g2")
    finally {
      org.apache.spark.graftspec.Bus.drain(sc)
      sc.removeSparkListener(listener)
    }
    val seen = groups.asScala.toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_ == "graft-spec-g2"), seen.groupBy(identity).map { case (g, v) => g -> v.size })
  }

  test("when the first side throws, concurrently returns only after the second has finished") {
    @volatile var finished = false
    val e = intercept[IllegalStateException] {
      concurrently(throw new IllegalStateException("first side"), {
        Thread.sleep(300); finished = true
      })
    }
    assert(e.getMessage === "first side")
    assert(finished)
  }
}
