package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import graft.util.Scratch
import org.scalatest.funsuite.AnyFunSuite

/** [[Scratch]]'s lifecycle contract, on private instances (no Spark). */
class ScratchSpec extends AnyFunSuite {

  private def exists(dir: String) = Files.isDirectory(Paths.get(dir))

  test("once builds once per key and hands every caller the same dir") {
    val s = new Scratch
    val builds = new AtomicInteger
    val a = s.once("idx|a") { d => builds.incrementAndGet(); Files.writeString(Paths.get(d, "f"), "x") }
    assert(s.once("idx|a")(_ => builds.incrementAndGet()) == a)
    assert(builds.get == 1 && Files.exists(Paths.get(a, "f")))
    val b = s.once("idx|b")(_ => builds.incrementAndGet())
    assert(b != a && builds.get == 2)
    s.sweep()
  }

  test("once builds once under 8 concurrent callers") {
    val s = new Scratch
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val dirs = (1 to 8).map { _ =>
        pool.submit((() => {
          start.await()
          s.once("race|k") { _ => builds.incrementAndGet(); Thread.sleep(50) }
        }): Callable[String])
      }
      start.countDown()
      assert(dirs.map(_.get).distinct.size == 1)
      assert(builds.get == 1)
    } finally pool.shutdown()
    s.sweep()
  }

  test("fresh deletes the previous dir under the same key only") {
    val s = new Scratch
    val a1 = s.fresh("out|a")
    Files.writeString(Paths.get(a1, "part"), "x")
    val b1 = s.fresh("out|b")
    val a2 = s.fresh("out|a")
    assert(a2 != a1 && exists(a2))
    assert(!Files.exists(Paths.get(a1)), s"$a1 survived its rotation")
    assert(exists(b1))
    s.sweep()
  }

  test("a throwing build leaves no dir and the next call builds again") {
    val s = new Scratch
    var failed: String = null
    intercept[IllegalStateException] {
      s.once("bad|k") { d =>
        failed = d
        Files.writeString(Paths.get(d, "half"), "x")
        throw new IllegalStateException("build failed")
      }
    }
    assert(failed != null && !Files.exists(Paths.get(failed)))
    val ok = s.once("bad|k")(d => Files.writeString(Paths.get(d, "whole"), "x"))
    assert(ok != failed && Files.exists(Paths.get(ok, "whole")))
    s.sweep()
  }

  test("a build may take other keys' dirs") {
    val s = new Scratch
    var inner: (String, String) = null
    val outer = s.once("outer|k") { _ =>
      inner = (s.once("inner|k")(_ => ()), s.fresh("part|k"))
    }
    assert(exists(outer) && exists(inner._1) && exists(inner._2))
    assert(s.once("inner|k")(_ => fail("rebuilt")) == inner._1)
    s.sweep()
  }

  test("sweep deletes every dir handed out and only those") {
    val s = new Scratch
    val other = new Scratch
    val kept = other.fresh("other|k")
    val dirs = Seq(s.once("idx|k")(d => Files.createDirectories(Paths.get(d, "a", "b"))),
      s.fresh("out|k"), s.fresh("out|k"), s.fresh("out|j"), s.dir("tmp"))
    s.sweep()
    dirs.foreach(d => assert(!Files.exists(Paths.get(d)), s"$d survived the sweep"))
    assert(exists(kept))
    other.sweep()
    assert(!Files.exists(Paths.get(kept)))
  }
}
