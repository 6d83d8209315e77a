package graft.engine

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The scratch lifecycle: one build per fixture key under concurrent
  * callers, builds that call `once` themselves, failed builds that
  * leave nothing behind, and exit-time deletion in a real child JVM.
  */
class ScratchSpec extends AnyFunSuite {

  private def exists(dir: String): Boolean = Files.exists(Paths.get(dir))

  test("concurrent callers of one key run the build once and share its dir") {
    val kind = s"spec-conc-${System.nanoTime()}"
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map { _ =>
        pool.submit(new Callable[String] {
          def call(): String = {
            start.await()
            Scratch.once(kind, "sfA") { d =>
              builds.incrementAndGet()
              Thread.sleep(200) // keep the build open while the others arrive
              Files.writeString(Paths.get(d, "part"), "x")
            }
          }
        })
      }
      start.countDown()
      val dirs = calls.map(_.get(60, TimeUnit.SECONDS)).distinct
      assert(builds.get == 1)
      assert(dirs.size == 1)
      assert(Files.exists(Paths.get(dirs.head, "part")))
      assert(Paths.get(dirs.head).getParent == Scratch.root)
      assert(Paths.get(dirs.head).getFileName.toString.startsWith(s"graft-$kind-"))
      val other = Scratch.once(kind, "sfB")(_ => builds.incrementAndGet())
      assert(other != dirs.head && exists(other))
      assert(builds.get == 2)
      assert(Scratch.once(kind, "sfA")(_ => builds.incrementAndGet()) == dirs.head)
      assert(builds.get == 2)
    } finally pool.shutdownNow()
  }

  test("a build that calls once for other kinds completes") {
    // Enough inner keys that a single shared map, filled from inside
    // its own computeIfAbsent, must resize or share a bin with the
    // outer key (IllegalStateException: Recursive update); a helper
    // that held one lock across builds would hang, hence the timeout.
    val tag = s"spec-nest-${System.nanoTime()}"
    val inner = (0 until 256).map(i => s"$tag-in$i")
    implicit val ec: ExecutionContext = ExecutionContext.global
    val outer = Future {
      var seen = Seq.empty[String]
      val dir = Scratch.once(s"$tag-out", "sf") { _ =>
        seen = inner.map(k => Scratch.once(k, "sf")(_ => ()))
      }
      (dir, seen)
    }
    val (dir, seen) = Await.result(outer, 60.seconds)
    assert(exists(dir))
    assert(seen.distinct.size == inner.size && seen.forall(exists))
    assert(inner.map(k => Scratch.once(k, "sf")(_ => fail("rebuilt"))) == seen)
  }

  test("a failed build leaves no dir and the next call builds again") {
    val kind = s"spec-fail-${System.nanoTime()}"
    var failedDir = ""
    val err = intercept[IllegalStateException] {
      Scratch.once(kind, "sf") { d =>
        failedDir = d
        Files.createDirectories(Paths.get(d, "half", "written"))
        throw new IllegalStateException("injected build failure")
      }
    }
    assert(err.getMessage == "injected build failure")
    assert(failedDir.nonEmpty && !exists(failedDir))
    val builds = new AtomicInteger()
    val dir = Scratch.once(kind, "sf")(_ => builds.incrementAndGet())
    assert(builds.get == 1 && dir != failedDir && exists(dir))
  }

  test("a JVM deletes its scratch dirs and fixtures at exit") {
    val root = Files.createTempDirectory("scratch-exit-spec")
    try {
      val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val proc = new ProcessBuilder(java,
          "-cp", System.getProperty("java.class.path"),
          s"-Djava.io.tmpdir=$root", "graft.engine.ScratchExitMain")
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      assert(proc.waitFor(60, TimeUnit.SECONDS), out)
      assert(proc.exitValue() == 0, out)
      val paths = out.linesIterator.filter(_.startsWith("dir ")).map(_.drop(4)).toList
      assert(paths.size == 2, out)
      paths.foreach { p =>
        assert(Paths.get(p).getParent == root, s"$p is not under $root")
        assert(!exists(p), s"$p survived the exit")
      }
      assert(Files.list(root).iterator().asScala.isEmpty)
    } finally Scratch.delete(root.toString)
  }
}

/** The child JVM of ScratchSpec's exit case: makes one scratch dir and
  * one fixture, each with content, prints their paths and exits.
  */
object ScratchExitMain {
  def main(args: Array[String]): Unit = {
    val dir = Scratch.dir("exit")
    Files.createDirectories(Paths.get(dir, "nested"))
    Files.writeString(Paths.get(dir, "nested", "file"), "x")
    val fixture = Scratch.once("exit-fixture", "sf") { d =>
      Files.writeString(Paths.get(d, "part"), "x")
    }
    Seq(dir, fixture).foreach(p => println(s"dir $p"))
  }
}
