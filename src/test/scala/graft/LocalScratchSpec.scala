package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Scratch-dir selection: a usable default is a per-user directory; an
  * unusable one falls back to the JVM temp dir at selection time. */
class LocalScratchSpec extends AnyFunSuite {
  private val user = System.getProperty("user.name")
  private val tmp = System.getProperty("java.io.tmpdir", "/tmp")

  test("the default is a per-user directory under the base, created on demand") {
    val base = Files.createTempDirectory("scratch_base").toFile
    val got = LocalScratch.under(base, user)
    assert(got === new java.io.File(base, s"graft_spark_local_$user").getAbsolutePath)
    assert(new java.io.File(got).isDirectory)
    assert(LocalScratch.under(base, user) === got, "an existing dir is reused")
  }

  test("an unwritable default falls back to the JVM temp dir") {
    // the base is not a directory: nothing can be created under it
    val file = Files.createTempFile("scratch_file", "").toFile
    assert(LocalScratch.under(file, user) === tmp)
    // the per-user name is taken by a plain file: mkdirs fails
    val blocked = Files.createTempDirectory("scratch_blocked").toFile
    assert(new java.io.File(blocked, s"graft_spark_local_$user").createNewFile())
    assert(LocalScratch.under(blocked, user) === tmp)
    // the per-user name is a symlink (it could point anywhere)
    val linked = Files.createTempDirectory("scratch_linked").toFile
    Files.createSymbolicLink(new java.io.File(linked, s"graft_spark_local_$user").toPath,
      Files.createTempDirectory("scratch_target"))
    assert(LocalScratch.under(linked, user) === tmp)
    // the directory exists but belongs to another user than the one asking
    val other = Files.createTempDirectory("scratch_other").toFile
    assert(new java.io.File(other, "graft_spark_local_someone_else").mkdir())
    assert(LocalScratch.under(other, "someone_else") === tmp)
  }
}
