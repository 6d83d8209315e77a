package graft.engine

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}

import scala.jdk.CollectionConverters._

/** The one home of the engine's scratch dirs: stream checkpoints and
  * stores, the per-JVM query fixtures, the CLI's default checkpoint.
  *
  * Every dir is a fresh `graft-<tag>-*` under `java.io.tmpdir` (read
  * once, at first use), deleted recursively at JVM exit. Where scratch
  * I/O should land on tmpfs, point `-Djava.io.tmpdir` there; the code
  * has no second root.
  *
  * Fixtures ([[once]]) are deleted only at exit, never earlier: the
  * DataFrames the queries return read them lazily, and every later
  * call in the JVM is served from the same dir. A scope that owns its
  * dir outright (one drain's checkpoint) deletes it eagerly with
  * [[delete]].
  */
object Scratch {
  /** The parent of every scratch dir. */
  val root: Path = Paths.get(System.getProperty("java.io.tmpdir"))

  private val live = ConcurrentHashMap.newKeySet[String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    live.forEach(d => delete(d))))

  /** A fresh `graft-<tag>-*` dir under [[root]], deleted at JVM exit. */
  def dir(tag: String): String = {
    val d = Files.createTempDirectory(root, s"graft-$tag-").toString
    live.add(d)
    d
  }

  /** Deletes `dir` and everything under it now (a no-op when absent). */
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
    live.remove(dir)
  }

  private val fixtures =
    new ConcurrentHashMap[(String, String), FutureTask[String]]()

  /** The `kind` fixture of `sfDir`: the first call makes a [[dir]]
    * (`kind` is its tag), runs `build` on it and returns it; every
    * later call in the JVM returns the same dir. Concurrent first
    * callers wait for the one build. The build runs outside the map's
    * lock, so it may itself call `once` for another kind, and a slow
    * build blocks only the callers of its own key. A build that throws
    * rethrows to every waiter, its dir is deleted at once, and the
    * next call builds again.
    */
  def once(kind: String, sfDir: String)(build: String => Unit): String = {
    val key = (kind, sfDir)
    val fresh = new FutureTask[String](() => {
      val d = dir(kind)
      try { build(d); d }
      catch { case e: Throwable => delete(d); throw e }
    })
    val task = fixtures.putIfAbsent(key, fresh) match {
      case null  => fresh.run(); fresh
      case other => other
    }
    try task.get()
    catch {
      case e: ExecutionException =>
        fixtures.remove(key, task)
        throw e.getCause
    }
  }
}
