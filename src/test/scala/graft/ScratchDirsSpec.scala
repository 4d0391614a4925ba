package graft

import java.io.File
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** `ScratchDirs.built` owns the `_DONE` rule: one build per (data dir,
  * tag) and JVM, and a build that throws leaves no marker, so the next
  * call rebuilds from empty. Spark-free.
  */
class ScratchDirsSpec extends AnyFunSuite {

  private val data = "data/a"

  test("built runs its build once per (dir, tag)") {
    var builds = 0
    def build(d: String): Unit = {
      builds += 1
      Files.createDirectories(Path.of(d))
      Files.writeString(Path.of(d, "artifact"), "x")
    }
    val a = ScratchDirs.built(data, "spec_built_once")(build)
    assert(ScratchDirs.built(data, "spec_built_once")(build) == a)
    assert(builds == 1)
    assert(new File(a, "artifact").exists() && new File(a, "_DONE").exists())
    assert(a.startsWith(ScratchDirs.root.getPath + "/"))
    ScratchDirs.built(data, "spec_built_other")(build)
    ScratchDirs.built("data/b", "spec_built_once")(build)
    assert(builds == 3)
  }

  test("a build that throws leaves no _DONE and the next call rebuilds from empty") {
    val ex = intercept[IllegalStateException] {
      ScratchDirs.built(data, "spec_built_throws") { d =>
        Files.createDirectories(Path.of(d))
        Files.writeString(Path.of(d, "partial"), "x")
        throw new IllegalStateException("build failed")
      }
    }
    assert(ex.getMessage == "build failed")
    var seen: Seq[String] = null
    val d = ScratchDirs.built(data, "spec_built_throws") { d =>
      seen = Option(new File(d).list()).toSeq.flatten
    }
    assert(seen == Nil, s"rebuild saw leftovers: $seen")
    assert(new File(d).list().toSeq == Seq("_DONE"))
  }

  test("fresh empties its dir on every call") {
    val d = Path.of(ScratchDirs.fresh(data, "spec_fresh"))
    Files.createDirectories(d)
    Files.writeString(d.resolve("old"), "x")
    assert(ScratchDirs.fresh(data, "spec_fresh") == d.toString)
    assert(!Files.exists(d))
  }
}
