package graft

import java.io.File
import java.nio.file.Files

/** Scratch directories that do not outlive their use. */
private[graft] object Scratch {

  /** Run `body` over a fresh temp directory named after `prefix`, then
    * delete the directory — whether `body` returns or throws. A value
    * `body` returns must not read from the directory lazily. */
  def during[A](prefix: String)(body: String => A): A = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally deleteTree(dir)
  }

  /** Delete `f` and everything under it, best effort: a file that will
    * not delete is left in place, and nothing is thrown. */
  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}
