package graft.etl

import java.nio.file.{Files, Path}

/** The one per-JVM root of graft's scratch dirs (path memos, the
  * spilled drop list, the specs' dirs): made on first use under `java.io.tmpdir` and
  * deleted when the JVM exits, so a run that never releases its memos
  * (a main that just exits, a test suite) leaves nothing behind. */
private[graft] object Scratch {
  lazy val root: Path = {
    val r = Files.createTempDirectory("graft_")
    org.apache.spark.util.ShutdownBridge.deleteOnExit(r.toFile)
    r
  }

  /** A fresh dir under [[root]] whose name starts with `prefix`. */
  def dir(prefix: String): String = Files.createTempDirectory(root, prefix).toString
}
