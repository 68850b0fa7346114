package graft

import java.io.File
import java.nio.file.Files

/** Where the registry gates write their files: one root per JVM under
  * `java.io.tmpdir`, created on first use, so a Verify run and a test
  * run on one host never rewrite each other's lakes, fixture logs or
  * oracle dumps. The root is not deleted when the JVM exits: the oracle
  * check reads the dumps after Verify is gone.
  */
object Scratch {

  /** A fresh root. */
  private[graft] def newRoot(): File =
    Files.createTempDirectory(new File(sys.props("java.io.tmpdir")).toPath, "graft_scratch")
      .toFile

  /** This JVM's root. */
  lazy val root: File = newRoot()

  /** Path of `name` under this JVM's root. */
  def path(name: String): String = new File(root, name).getPath
}
