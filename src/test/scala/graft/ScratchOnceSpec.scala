package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Contract of the write-once fixture scratch ([[Scratch.once]]): `build`
  * runs only while the `_SUCCESS` marker is missing, the marker is written
  * only after `build` returns, and concurrent callers build once. */
class ScratchOnceSpec extends AnyFunSuite {

  /** A fresh dataset dir (so a fresh scratch path) per test; the scratch
    * dir is removed afterwards. */
  private def withDir(body: String => Unit): Unit = {
    val dir = s"/scratch-once-spec/${java.util.UUID.randomUUID()}"
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(
      new File(Scratch.path(dir, "oncespec")))
  }

  private def counting(n: AtomicInteger): String => Unit = { out =>
    n.incrementAndGet()
    assert(new File(out).mkdirs())
  }

  test("once: a second call with the same dir and name does not build again") {
    withDir { dir =>
      val n = new AtomicInteger()
      val a = Scratch.once(dir, "oncespec")(counting(n))
      val b = Scratch.once(dir, "oncespec")(counting(n))
      assert(n.get == 1)
      assert(a == b)
      assert(new File(a, "_SUCCESS").isFile)
    }
  }

  test("once: a build that throws leaves no marker, and the next call builds") {
    withDir { dir =>
      val boom = intercept[IllegalStateException] {
        Scratch.once(dir, "oncespec") { out =>
          assert(new File(out).mkdirs())
          throw new IllegalStateException("partial write")
        }
      }
      assert(boom.getMessage == "partial write")
      val out = new File(Scratch.path(dir, "oncespec"))
      assert(out.isDirectory && !new File(out, "_SUCCESS").exists())
      val n = new AtomicInteger()
      Scratch.once(dir, "oncespec") { o =>
        n.incrementAndGet()
        assert(new File(o).isDirectory)
      }
      assert(n.get == 1)
      assert(new File(out, "_SUCCESS").isFile)
    }
  }

  test("once: two threads calling at once build once") {
    withDir { dir =>
      val n = new AtomicInteger()
      val start = new java.util.concurrent.CountDownLatch(1)
      val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = Seq.fill(2)(new Thread(() => {
        start.await()
        paths.add(Scratch.once(dir, "oncespec") { out =>
          n.incrementAndGet()
          Thread.sleep(200) // hold the build open while the other caller arrives
          assert(new File(out).mkdirs())
        })
      }))
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join(30000))
      assert(paths.size == 2 && paths.toArray.distinct.length == 1)
      assert(n.get == 1)
    }
  }
}
