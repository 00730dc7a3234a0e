package graft.core

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

class OutputGraphSpec extends SparkSpec {

  private def poolThreads(name: String): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith(s"$name-")).toSet

  "OutputGraph.run" should "start each task after the tasks it names, and return after the last" in {
    val events = new ConcurrentLinkedQueue[String]
    OutputGraph.run(4, "graph-order") { g =>
      val a = g.task() { events.add("a"); 1 }
      val b = g.task() { events.add("b"); 2 }
      val sum = g.task(a, b) { events.add("sum"); a.join() + b.join() }
      g.task(sum) { Thread.sleep(50); events.add(s"last ${sum.join()}") }
    }
    val seen = events.asScala.toSeq
    seen should have size 4
    seen.indexOf("sum") should be > math.max(seen.indexOf("a"), seen.indexOf("b"))
    seen.last shouldBe "last 3"
    poolThreads("graph-order") shouldBe empty
  }

  it should "run tasks whose inputs are ready at the same time" in {
    // both tasks wait for each other: they finish only if they run at once
    val both = new CountDownLatch(2)
    OutputGraph.run(2, "graph-overlap") { g =>
      Seq.fill(2)(g.task() {
        both.countDown()
        both.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      })
    }
  }

  it should "give its threads the caller's Spark local properties" in {
    val sc = spark.sparkContext
    sc.setJobGroup("graph-caller-group", "graph caller")
    val seen = new ConcurrentLinkedQueue[String]
    try OutputGraph.run(2, "graph-props") { g =>
      Seq.fill(2)(g.task()(seen.add(sc.getLocalProperty("spark.jobGroup.id"))))
    } finally sc.clearJobGroup()
    seen.asScala.toSeq shouldBe Seq.fill(2)("graph-caller-group")
  }

  it should "skip what has not started after a failure, wait for what has, run the cleanups, " +
    "and rethrow the first exception unwrapped with later ones suppressed" in {
    val events = new ConcurrentLinkedQueue[String]
    val first = new IllegalStateException("first")
    val slowStarted = new CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      OutputGraph.run(4, "graph-fail") { g =>
        val slow = g.task() {
          slowStarted.countDown()
          Thread.sleep(200)
          events.add("slow done")
          throw new IllegalArgumentException("second")
        }
        val failing = g.task() {
          slowStarted.await()
          throw first
        }
        g.task(failing)(events.add("dependent of the failure"))
        g.task(slow)(events.add("dependent of the slow task"))
        g.always(slow, failing)(events.add("cleanup"))
      }
    }
    e should be theSameInstanceAs first
    e.getSuppressed.map(_.getMessage).toSeq shouldBe Seq("second")
    events.asScala.toSeq shouldBe Seq("slow done", "cleanup")
    poolThreads("graph-fail") shouldBe empty
  }

  it should "wait for started tasks when the building thread throws" in {
    val events = new ConcurrentLinkedQueue[String]
    val e = intercept[UnsupportedOperationException] {
      OutputGraph.run(2, "graph-build") { g =>
        val started = new CountDownLatch(1)
        val slow = g.task() { started.countDown(); Thread.sleep(100); events.add("slow done") }
        g.always(slow)(events.add("cleanup"))
        started.await()
        throw new UnsupportedOperationException("build")
      }
    }
    e.getMessage shouldBe "build"
    events.asScala.toSeq shouldBe Seq("slow done", "cleanup")
    poolThreads("graph-build") shouldBe empty
  }
}
