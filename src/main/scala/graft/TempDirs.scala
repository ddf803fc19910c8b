package graft

import java.nio.file.{Files, Path}
import scala.util.control.NonFatal

/** Artifacts built once per JVM (a trained index, a prior clustering, a
  * tile set) that later reads share: each lives in its own temp dir,
  * deleted when the JVM exits.
  */
object TempDirs {
  private val dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The temp dir built for (`prefix`, `key`), created on first use:
    * `build` fills a fresh dir named after `prefix`; later calls with the
    * same pair return that dir without building again.
    */
  def onceDir(prefix: String, key: String = "")(build: String => Unit): String =
    dirs.computeIfAbsent(s"$prefix#$key", _ => {
      val p = Files.createTempDirectory(prefix)
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p)))
      build(p.toString)
      p.toString
    })

  private def deleteTree(p: Path): Unit =
    try Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(q => { Files.deleteIfExists(q); () })
    catch { case NonFatal(_) => () }
}
