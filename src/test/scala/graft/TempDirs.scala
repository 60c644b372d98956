package graft

import java.nio.file.{Files, Path}

/** Temp directories (stores, checkpoints, other output) that are
  * deleted with everything under them once the suite that made them
  * ends, after any streams the suite left running have stopped. */
trait TempDirs extends org.scalatest.BeforeAndAfterAll {
  this: org.scalatest.Suite =>

  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = keep(Files.createTempDirectory(prefix))

  def tempDir(parent: Path, prefix: String): Path =
    keep(Files.createTempDirectory(parent, prefix))

  private def keep(dir: Path): Path = { made.add(dir); dir }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(TempDirs.deleteTree)
}

object TempDirs {
  /** Best effort: a file that cannot be deleted is left behind. */
  def deleteTree(root: Path): Unit = try {
    val paths = Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { p =>
      try Files.deleteIfExists(p) catch { case _: java.io.IOException => () }
    } finally paths.close()
  } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
}
