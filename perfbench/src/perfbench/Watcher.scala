package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Observes a crawl catalog from outside while the crawl runs: the time each
  * round's snapshot manifest first appears (the round's commit point), and,
  * when `countFiles`, every file the catalog writes. Polls the manifests
  * every `Watcher.PollMs` and walks the state directory every tenth poll; `stop()`
  * ends the thread and waits for it. */
final class Watcher(stateDir: String, countFiles: Boolean) {

  private val snapDir = Paths.get(stateDir, "snapshots")
  private val commits = mutable.HashMap[Int, Long]()
  private val files = mutable.HashMap[String, Long]()
  @volatile private var running = true

  private var polls = 0L

  private def poll(): Unit = {
    polls += 1
    val now = System.nanoTime()
    if (Files.isDirectory(snapDir)) {
      val s = Files.list(snapDir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("snapshot-") && n.endsWith(".json"))
        .foreach { n =>
          val r = n.stripPrefix("snapshot-").stripSuffix(".json").toInt
          commits.synchronized { if (!commits.contains(r)) commits(r) = now }
        }
      finally s.close()
    }
    if (countFiles && polls % 10 == 1) Watcher.dataFiles(Paths.get(stateDir)).foreach { case (p, size) =>
      files.synchronized { if (!files.contains(p)) files(p) = size }
    }
  }

  private val thread = new Thread("catalog-watcher") {
    override def run(): Unit =
      while (running) {
        try poll() catch { case _: java.io.IOException | _: java.io.UncheckedIOException => }
        Thread.sleep(Watcher.PollMs)
      }
  }
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = {
    running = false
    thread.join()
    polls = 0 // the last poll also walks the state directory
    try poll() catch { case _: java.io.IOException | _: java.io.UncheckedIOException => }
  }

  /** Round → nanoTime at which its manifest was first seen. */
  def commitTimes: Map[Int, Long] = commits.synchronized(commits.toMap)
  def filesWritten: Int = files.synchronized(files.size)
  def bytesWritten: Long = files.synchronized(files.values.sum)
}

object Watcher {
  val PollMs = 5L

  /** Regular files under `root` that hold data or metadata (Spark's
    * `_SUCCESS` markers and `.crc` checksums excluded), with their sizes. */
  def dataFiles(root: Path): Seq[(String, Long)] = {
    if (!Files.isDirectory(root)) return Nil
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter { p =>
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }
      .flatMap(p => try Some(p.toString -> Files.size(p)) catch { case _: java.io.IOException => None })
      .toVector
    finally s.close()
  }
}
