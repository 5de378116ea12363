package graft.ops

import java.util.concurrent.CountDownLatch

import graft.SparkSpec

class LevelWriterSpec extends SparkSpec {

  private def writerThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSeq
      .filter(t => t.getName == LevelWriter.ThreadName && t.isAlive)

  private def waitUntil(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!cond) {
      assert(System.nanoTime() < deadline, s"timed out waiting until $what")
      Thread.sleep(5)
    }
  }

  test("writes run one at a time, in hand-over order, on one thread that has ended when run returns") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    val out = LevelWriter.run(spark) { w =>
      (1 to 5).foreach(i => w.submit(seen += i -> Thread.currentThread.getName))
      "walked"
    }
    assert(out == "walked")
    assert(seen.toSeq == (1 to 5).map(_ -> LevelWriter.ThreadName))
    assert(writerThreads.isEmpty)
  }

  test("a failed write surfaces at the next hand-over, which it never runs") {
    val boom = new IllegalStateException("write 1")
    var ran = false
    val e = intercept[IllegalStateException](LevelWriter.run(spark) { w =>
      w.submit(throw boom)
      w.submit { ran = true }
    })
    assert(e eq boom)
    assert(e.getSuppressed.isEmpty)
    assert(!ran)
    assert(writerThreads.isEmpty)
  }

  test("a write that fails first is rethrown, the walk's later failure suppressed") {
    val write = new IllegalStateException("write")
    val walk = new IllegalArgumentException("walk")
    val e = intercept[IllegalStateException](LevelWriter.run(spark) { w =>
      w.submit(throw write)
      // the writer thread is idle once its one write has failed
      waitUntil("the write failed")(writerThreads.forall(_.getState == Thread.State.WAITING))
      throw walk
    })
    assert(e eq write)
    assert(e.getSuppressed.toSeq == Seq(walk))
    assert(writerThreads.isEmpty)
  }

  test("a walk that fails first drains the write in flight; its failure is suppressed") {
    val write = new IllegalStateException("write")
    val walk = new IllegalArgumentException("walk")
    val release = new CountDownLatch(1)
    val caller = Thread.currentThread
    // the write fails only once the failed walk is waiting for it
    val releaser = new Thread(() => {
      waitUntil("the walk drains the write")(caller.getState == Thread.State.WAITING)
      release.countDown()
    })
    val e = intercept[IllegalArgumentException](LevelWriter.run(spark) { w =>
      w.submit { release.await(); throw write }
      releaser.start()
      throw walk
    })
    releaser.join()
    assert(e eq walk)
    assert(e.getSuppressed.toSeq == Seq(write))
    assert(writerThreads.isEmpty)
  }
}
