package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Scratch

/** Where scratch data goes and who removes it: [[Scratch]] paths, the
  * build-once publish, and the shutdown cleanup.
  */
class ScratchSpec extends AnyFunSuite {

  private def unique(name: String): String = s"$name${System.nanoTime}"

  private def dataFiles(dir: String): Seq[String] =
    Option(new File(dir).list).toSeq.flatten.filterNot(_.startsWith("_"))
      .sorted

  test("dir is stable per sf dir and distinct across sf dirs; fresh " +
      "never repeats; all of them sit under the per-JVM root") {
    val a = Scratch.dir("/data/sf0.1", "q")
    assert(a === Scratch.dir("/data/sf0.1", "q"))
    assert(a !== Scratch.dir("/data/sf1", "q"))
    val f = Scratch.fresh("sink")
    assert(f !== Scratch.fresh("sink"))
    Seq(a, f).foreach(p =>
      assert(new File(p).getParentFile === Scratch.root.getAbsoluteFile))
    assert(Scratch.root.getName.startsWith("graft-"))
  }

  test("once from 8 threads builds exactly once and every caller sees " +
      "the complete directory") {
    val target = Scratch.dir(unique("race"), "once")
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(new Callable[Seq[String]] {
        def call(): Seq[String] = {
          go.await()
          val p = Scratch.once(target) { tmp =>
            builds.incrementAndGet()
            (1 to 5).foreach { i =>
              Thread.sleep(10)
              Files.writeString(Paths.get(tmp, s"f$i"), i.toString)
            }
          }
          dataFiles(p)
        }
      }))
      go.countDown()
      val seen = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get === 1)
      seen.foreach(s => assert(s === (1 to 5).map(i => s"f$i")))
    } finally pool.shutdownNow()
  }

  test("a build that throws publishes nothing, and the next call " +
      "rebuilds") {
    val target = Scratch.dir(unique("fail"), "once")
    val name = new File(target).getName
    val e = intercept[IllegalStateException] {
      Scratch.once(target) { tmp =>
        Files.writeString(Paths.get(tmp, "half"), "x")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(!new File(target).exists)
    assert(Scratch.root.list.filter(_.startsWith(name)).isEmpty,
      "the failed build's temp directory was left behind")
    Scratch.once(target)(tmp => Files.writeString(Paths.get(tmp, "ok"), "y"))
    assert(dataFiles(target) === Seq("ok"))
  }

  test("the shutdown hook's cleanup removes the root and leaves " +
      "graft-shared alone") {
    val kept = Paths.get(Scratch.shared(unique("scratchspec")), "keep")
    Files.createDirectories(kept.getParent)
    Files.writeString(kept, "k")
    try {
      Scratch.once(Scratch.dir(unique("hook"), "once"))(tmp =>
        Files.writeString(Paths.get(tmp, "x"), "x"))
      assert(Scratch.root.exists)
      Scratch.cleanup()
      assert(!Scratch.root.exists)
      assert(Files.readString(kept) === "k")
    } finally {
      Files.deleteIfExists(kept)
      Files.deleteIfExists(kept.getParent)
    }
  }
}
