package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class TempDirsSpec extends AnyFunSuite {

  test("deleteNow removes a registered tree and drops it from the exit set") {
    val dir = TempDirs.create("graft_tempdirs_")
    assert(Files.isDirectory(dir) && TempDirs.isPending(dir))
    Files.createDirectories(dir.resolve("a/b"))
    Files.write(dir.resolve("a/b/part-0.parquet"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("top.txt"), Array[Byte](4))
    TempDirs.deleteNow(dir)
    assert(!Files.exists(dir), s"tree left behind: $dir")
    assert(!TempDirs.isPending(dir))
  }
}
