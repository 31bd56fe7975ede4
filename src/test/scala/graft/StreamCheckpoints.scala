package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** A checkpoint directory for every streaming query a spec starts. A
  * query started without a `checkpointLocation` makes Spark create a
  * temporary one and log a WARN for it; these directories live under
  * one root per spec, removed after the spec's last test. */
trait StreamCheckpoints extends BeforeAndAfterAll { this: Suite =>
  private lazy val checkpointRoot: Path = Files.createTempDirectory("graft-checkpoints")
  private var issued = 0

  /** A fresh, empty checkpoint directory. */
  def checkpoint(): String = {
    issued += 1
    checkpointRoot.resolve(s"query-$issued").toString
  }

  override def afterAll(): Unit =
    try if (issued > 0) deleteTree(checkpointRoot) finally super.afterAll()

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.forEach(c => deleteTree(c)) finally children.close()
    }
    Files.deleteIfExists(p)
  }
}
