package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Gate files: one scratch root per JVM. */
class ScratchSpec extends AnyFunSuite {

  test("two scratch roots differ, and a gate file under one stays intact " +
    "while the other root's copy is rewritten") {
    // `mine` and `theirs` stand for the roots of two JVMs
    val mine = Scratch.newRoot()
    val theirs = Scratch.newRoot()
    assert(Set(Scratch.root, mine, theirs).size == 3)
    assert(Scratch.path("lake") == new File(Scratch.root, "lake").getPath)
    def write(root: File, text: String) =
      Files.write(new File(root, "gate.txt").toPath, text.getBytes(UTF_8))
    write(mine, "mine")
    write(theirs, "theirs")
    write(theirs, "theirs again")
    assert(new String(Files.readAllBytes(new File(mine, "gate.txt").toPath), UTF_8) == "mine")
  }
}
